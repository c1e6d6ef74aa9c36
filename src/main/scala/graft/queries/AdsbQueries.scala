package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.adsb.{AdsbPipeline, Meta, Sbs}
import graft.adsb.FlightStateMachine.Out
import org.apache.spark.sql.Dataset
import graft.functions.{PortableHash, Riff}
import graft.operators.{Histogram, Multimodal}

/** The ADS-B domain pipeline replayed over the reference's own 2,069
  * message capture (bundled fixture).
  *
  * Oracle strategy (round-6): the stateful sessionizer stays pinned by
  * ScalaTest, but everything relational around it IS oracle-checked.
  * [[writeOracleBase]] dumps the sessionizer output (and the raw
  * fixture lines + metadata dims) as parquet under the Verify out dir,
  * and [[oracles]] carries DuckDB SQL over those dumps (`__BASE__` is
  * substituted with the absolute dump dir by Verify):
  *  - `adsb_parse` is INDEPENDENTLY re-parsed in DuckDB from the raw
  *    lines (string_split + the same anchored regex + try_casts);
  *  - census/histogram/details/paths re-derive their aggregation and
  *    join logic in SQL from the dumped base rows.
  * Surrogate ids are md5-derived ([[PortableHash.phashStr]]) so the
  * oracle recomputes them bit-for-bit.
  */
object AdsbQueries {

  // One analyzed replay per session and fixture, never cached:
  // reused without re-reading the fixture, and no SQL-cache entry.
  private def replay(s: SparkSession, fixture: String): Dataset[Out] =
    graft.Memo(s, s"adsb|$fixture")(AdsbPipeline.replayFixture(s, fixture))

  private def out(s: SparkSession) = replay(s, "adsb_message_stream.txt")

  // The reference capture spans 1.65 s with zero onground flips, so
  // its events output is structurally empty (correct, oracle-pinned).
  // The golden fixture replays the reference's own landing sequences
  // (src/tests/__init__.py:19-30) plus a takeoff so the event path is
  // exercised end-to-end with non-empty output in the driver gate.
  private def goldenOut(s: SparkSession) = replay(s, "adsb_golden_landings.txt")

  // memory-sink names must be fresh per adsb_stream_parity run (Bench
  // and Verify may invoke the query more than once per session)
  private val parityId = new java.util.concurrent.atomic.AtomicLong(0)

  /** Declared MJPEG pixel-twin pins: each MJPG-routed model and the
    * raw-frame bundled fixture whose derived hashes serve as its
    * oracle expectation (DuckDB cannot decode JPEG, so the oracle
    * pins the Spark decode against the twin's byte-derived lattice).
    * ONE home (ADVICE r14): [[frameHashCtes]] derives its twin-union
    * CTE from this table, and MediaFixtureSpec asserts every
    * MJPG-routed bundled model appears here (and every raw twin is
    * bundled), so an unpinned future MJPG fixture fails with a clear
    * missing-pin message, never a silent zero-oracle-rows diff. */
  private[graft] val MjpegTwinPins: Seq[(String, String)] =
    Seq("vid_mj" -> "vid_mj_raw")

  /** Instant → wall-clock cast for driver-facing outputs: the DuckDB
    * oracle reads the parquet dumps as naive timestamps, and the
    * session runs in UTC, so the cast is the identity on wall time. */
  private def ntz(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("timestamp_ntz")))

  /** RIFF/WAVE parse — a REAL public container format, now through
    * the CHUNK WALK ([[graft.functions.Riff]], round-11): `fmt ` and
    * `data` are located by walking the top-level chunk sequence, so
    * a WAV carrying LIST/INFO or fact chunks parses instead of
    * vanishing, while a malformed container (missing chunks, sizes
    * off the end) still excludes itself visibly — never a mis-parse.
    * One row per valid file with every header field decoded
    * (little-endian, exact integers) plus the 0-based payload
    * locator (`data_off`, `data_bytes`). */
  private[graft] def wavParsed(s: SparkSession,
      dir: String = Meta.mediaDir()): DataFrame =
    graft.functions.Riff.withWavColumns(Meta.loadMediaFiles(s, dir, "wav"))
      .where(col("wav_ok") && col("wav_fits"))
      .select(col("model"), col("content"),
        col("riff_bytes"), col("fmt_bytes"), col("audio_format"),
        col("n_channels"), col("sample_rate"), col("byte_rate"),
        col("block_align"), col("bits_per_sample"),
        col("data_bytes"), col("data_off"), col("fmt_off"))

  /** RIFF/AVI main-header parse — the video twin of [[wavParsed]]
    * (same public RIFF idiom, same gated-narrowing policy), through
    * the shared CHUNK-WALK gate ([[graft.functions.Riff
    * .withAviColumns]], round-12): `hdrl` is located by the
    * top-level walk and `avih` by a walk INSIDE `hdrl`, so a JUNK
    * chunk before `hdrl` or a padded `hdrl` (strl headers before
    * avih) parses instead of vanishing, while a malformed container
    * still excludes itself visibly. One row per valid file with the
    * avih fields decoded (little-endian, exact integers). */
  private[graft] def aviParsed(s: SparkSession,
      dir: String = Meta.mediaDir()): DataFrame =
    Riff.withAviColumns(Meta.loadMediaFiles(s, dir, "avi"))
      .where(col("avi_ok"))
      .select(col("model"), col("riff_bytes"), col("us_per_frame"),
        col("total_frames"), col("n_streams"), col("width"),
        col("height"))

  /** The ADMITTED AVI base shared by the frame lattice and mm19: the
    * walked-gate columns ([[graft.functions.Riff.withAviColumns]])
    * plus `dbs` — the declared-count-bounded demuxed `00db` list —
    * with the completeness gate applied. Header counts stay LONG
    * until bounded (round-11 review): a hostile dwTotalFrames ≥ 2³¹
    * would wrap through an early int cast, slip past the gate, and
    * throw in slice() — the exact hostile-header task-crash the
    * kernel contract forbids. The nf-bound rides a when() (CASE
    * branches are contractually lazy, while WHERE conjunct order is
    * an optimizer freedom): nf ≤ found-chunk-count (≤ 4096 by the
    * walk bound) makes the slice int cast safe, a failing bound
    * yields NULL (excluded), and the ONE sliced `dbs` feeds gate and
    * every consumer alike. Then every declared frame's payload must
    * fit in the blob. */
  private def aviAdmitted(s: SparkSession): DataFrame =
    aviAdmittedOf(Meta.loadMediaFiles(s, Meta.mediaDir(), "avi"))

  /** [[aviAdmitted]] over an arbitrary (model, content) blob frame. */
  private def aviAdmittedOf(blobs: DataFrame): DataFrame =
    Riff.withAviColumns(blobs)
      .where(col("avi_ok"))
      // codec-routed frames (round-14): MJPG videos carry their
      // JPEG frames in 00dc sub-chunks (`avi_frames` routes on the
      // vids strh fccHandler); the raw path is avi_dbs unchanged
      .withColumn("dbs", when(
        col("total_frames") >= 0 &&
          col("total_frames") <= size(col("avi_frames")),
        slice(col("avi_frames"), lit(1), col("total_frames").cast("int"))))
      .where(col("dbs").isNotNull &&
        Riff.packsFit(col("dbs"), col("content")))

  /** The shared VIDEO frame lattice for mm8/mm10/mm12/mm15 (round
    * 10, demux-generalized round 12): one row per admitted video with
    * `n_frames` plus PER-FRAME arrays `offs`/`szs`/`sums` (0-based
    * payload offset, declared size, byte sum of frame i) — toy GVID
    * blobs UNION demuxed RIFF/AVI blobs. The AVI side is the real
    * demux now (round-12 verdict ask #3): [[graft.functions.Riff
    * .withAviColumns]] walks the `movi` LIST's sub-chunks and keeps
    * ONLY the `00db` video chunks, each at its own offset/size — so
    * interleaved `01wb` audio chunks and per-frame size variation
    * parse instead of excluding the file, and the uniform-stride
    * fixtures produce the identICAL lattice they did under the old
    * strided walk (spec-pinned). A non-canonical container still
    * excludes itself visibly, never mis-summed.
    *
    * Frames are BOUNDED by the header-declared count (round-11,
    * ADVICE r10 #1) and the completeness gate requires every
    * declared frame to be present and fit in the blob — a truncated
    * movi is excluded visibly, never partially summed. The gvid
    * branch additionally requires `frame_size > 0` (round-12, ADVICE
    * r11 #2): a zero-size frame declaration made the Spark kernel
    * emit an empty lattice while the oracle built nf empty sums —
    * the gate now excludes it identically on both engines. */
  private[graft] def videoFrameSums(s: SparkSession): DataFrame = {
    val gv = Meta.loadMediaFiles(s, Meta.mediaDir(), "gvid")
      .withColumn("hdr", hex(substring(col("content"), 1, 8)))
      .where(expr("substr(hdr, 1, 8) = '47564944'"))
      .withColumn("frame_size", expr(
        "cast(conv(substr(hdr, 11, 2) || substr(hdr, 9, 2), 16, 10) AS int)"))
      .withColumn("n_frames", expr(
        "cast(conv(substr(hdr, 15, 2) || substr(hdr, 13, 2), 16, 10) AS int)"))
      // completeness gate: every DECLARED frame must fit in the blob
      // (round-11) — a truncated container is excluded visibly, never
      // partially summed — and the frame size must be positive
      // (round-12, ADVICE r11 #2)
      .where(col("n_frames") === 0 || (col("frame_size") > 0 &&
        length(col("content")) >=
          col("frame_size").cast("long") * col("n_frames") + 8))
      .select(col("model"), col("n_frames"),
        expr("""IF(n_frames = 0, CAST(array() AS array<bigint>),
          |  transform(sequence(0, n_frames - 1),
          |    f -> CAST(8 + f * frame_size AS BIGINT)))"""
          .stripMargin).as("offs"),
        array_repeat(col("frame_size").cast("long"),
          col("n_frames")).as("szs"),
        slice(graft.functions.FrameSums.frameByteSums(
            col("content"), lit(8), col("frame_size")),
          lit(1), col("n_frames")).as("sums"))
    val avi = aviAdmitted(s)
      .select(col("model"), col("total_frames").cast("int").as("n_frames"),
        expr("transform(dbs, x -> shiftrightunsigned(x, 32))").as("offs"),
        expr("transform(dbs, x -> x & 4294967295)").as("szs"),
        graft.functions.FrameSums.packedByteSums(col("content"),
          col("dbs")).as("sums"))
    gv.unionByName(avi)
  }

  /** The shared audio input for mm7/mm11/mm13 (round 10): headerless
    * .pcm blobs UNION the PCM payloads of real .wav containers UNION
    * the demuxed `01wb` audio streams of real .avi containers
    * (round-12 — the third container through the same chunk walk:
    * an interleaved AVI's audio is the ordered concatenation of its
    * 01wb sub-chunk payloads, exactly as its video is the ordered
    * 00db set) — container-independent audio analysis, the mm5
    * cross-format story for the audio leg. (model, content, length)
    * all three ways.
    *
    * Round-13 (VERDICT r12 ask #1): container payloads CANONICALIZE
    * before analysis — 16-bit and stereo PCM decode onto the
    * unsigned-8-mono sample stream via [[graft.functions.Pcm
    * .pcmCanonical]] (8-bit mono is the identity, so every prior
    * blob's bytes — and hash — are unchanged), and the wav leg now
    * carries the SAME declared-format gate the AVI leg enforces
    * (PCM format 1, bits ∈ {8,16}, channels ∈ {1,2}): a
    * 24-bit or compressed WAV is REJECTED visibly instead of having
    * its raw bytes mis-read as 8-bit samples. Headerless .pcm blobs
    * are 8-bit mono BY the input contract (no header to declare
    * otherwise). `length` is the canonical (= sample) count. */
  private def audioPcmBlobs(s: SparkSession): DataFrame =
    Meta.loadMediaFiles(s, Meta.mediaDir(), "pcm")
      .unionByName(wavParsed(s)
        .where(graft.functions.Riff.sampleFormatOk(col("content"),
          col("fmt_off"), col("fmt_bytes"), col("audio_format"),
          col("bits_per_sample"), col("n_channels")))
        .select(col("model"),
          graft.functions.Pcm.pcmCanonical(graft.functions.Riff.wavPayload,
            col("audio_format"), col("bits_per_sample"),
            col("n_channels")).as("content"))
        .select(col("model"), col("content"),
          length(col("content")).cast("long").as("length")))
      .unionByName(aviAudioPcm(s))

  /** The demuxed audio stream of every valid AVI with ≥ 1 `01wb`
    * chunk whose payloads all fit (and a COMPLETE movi walk —
    * round-13, ADVICE r12 #1) — the audio twin of the 00db video
    * demux, via the shared gate ([[graft.functions.Riff
    * .withAviAudio]]), canonicalized onto the
    * unsigned-8-mono sample stream. */
  private def aviAudioPcm(s: SparkSession): DataFrame =
    Riff.withAviAudio(Meta.loadMediaFiles(s, Meta.mediaDir(), "avi"))
      .where(col("avi_audio_ok"))
      .select(col("model"),
        graft.functions.Pcm.pcmCanonical(col("avi_audio"),
          col("avi_audio_format"), col("avi_audio_bits"),
          col("avi_audio_channels")).as("content"))
      .select(col("model"), col("content"),
        length(col("content")).cast("long").as("length"))

  /** The per-(blob, VAD-segment) energy-contour fingerprints mm21
    * matches on — extracted round-14 so mm22's container-pair
    * verdict table composes the SAME fingerprints (one definition of
    * the segment grain). share()d: the frame feeds the mm21
    * dictionary, the NN construction and the readout join — and
    * mm22's pair legs — without re-running the blob-walk + energy +
    * window pipeline per consumer (the scan-budget rule; rows are
    * (model, seg, longs), never blob bytes). fp_lo = sign-of-delta
    * contour bits over the first ≤ 33 frames; fp_hi = the capped
    * length class (a flat contour of any span is all-zero bits, so
    * without the length word every flat burst would collide at
    * hamming 0). */
  private[graft] def audioSegFingerprints(s: SparkSession): DataFrame =
    graft.operators.Dedup.share(
      segFingerprintsOfCanonical(audioPcmBlobs(s)))

  /** The segment-fingerprint derivation over an arbitrary CANONICAL
    * (model, content, length) blob frame (unsigned-8 mono samples —
    * [[graft.functions.Pcm]]'s canonical stream). */
  private def segFingerprintsOfCanonical(
      canon: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fx = canon
      .withColumn("n_frames", floor(col("length") / 64).cast("int"))
      .where(col("n_frames") >= 1)
      .withColumn("energies", graft.functions.FrameSums.frameEnergies(
        col("content"), lit(0), lit(64)))
      .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
      .select(col("model"), col("frame_idx").cast("long").as("frame_idx"),
        expr("element_at(energies, frame_idx + 1)").as("energy"))
      .withColumn("is_silent", col("energy") < 4096L)
    val byFrame = Window.partitionBy(col("model"))
      .orderBy(col("frame_idx"))
    (fx
      .withColumn("sil_prefix",
        sum(when(col("is_silent"), 1L).otherwise(0L)).over(byFrame))
      .where(!col("is_silent"))
      .withColumn("seg_id",
        dense_rank().over(Window.partitionBy(col("model"))
          .orderBy(col("sil_prefix"))).cast("long"))
      .groupBy(col("model"), col("seg_id"))
      .agg(count(lit(1)).as("n_frames_seg"),
        sort_array(collect_list(struct(col("frame_idx"),
          col("energy")))).as("fe"))
      .where(col("n_frames_seg") >= 8)
      .withColumn("es", expr("transform(fe, x -> x.energy)"))
      .withColumn("fp_lo", expr(
        """aggregate(sequence(0, least(size(es) - 2, 31)), 0L,
          |  (acc, f) ->
          |  acc + IF(element_at(es, f + 2) > element_at(es, f + 1),
          |           shiftleft(1L, f), 0L))""".stripMargin))
      .withColumn("fp_hi", least(col("n_frames_seg") - 1, lit(32L)))
      .select(col("model"), col("seg_id"), col("n_frames_seg"),
        col("fp_lo"), col("fp_hi")))
  }

  /** The memoized at-rest [[graft.operators.MediaSignals]] store
    * (round-15, VERDICT r14 ask #2): built ONCE per session from the
    * raw derivation pipelines — and deliberately through the
    * build-then-append lifecycle (models split by name length, a
    * deterministic partition of both tables), so the store every
    * consumer serves from IS an appended store: the gate rows that
    * read it replay against blob-derived oracles, proving
    * append ≡ rebuild bit-for-bit (the d10a discipline, applied to
    * media signals). Production shape: ingest computes each
    * container's signals once and appends them here; mm22 never
    * re-walks containers. */
  private[graft] def mediaSignalsPath(s: SparkSession): String =
    DocQueries.persistedIndex(s, "msig|bundled") { p =>
      import graft.operators.MediaSignals
      // share()d: each pipeline feeds both lifecycle halves — the
      // build and the append must not each re-walk the containers
      val fr = graft.operators.Dedup.share(mm19FrameHashes(s))
      val sg = audioSegFingerprints(s)
      def half(df: DataFrame, even: Boolean) =
        df.where((length(col("model")) % 2 === 0) === lit(even))
      MediaSignals.build(s, p, half(fr, even = true),
        half(sg, even = true))
      MediaSignals.append(s, p, half(fr, even = false),
        half(sg, even = false))
    }

  /** mm15's whole-video near-dup readout over a frame lattice —
    * extracted (round-13, VERDICT r12 ask #4) so mm17 can feed the
    * SAME [[Dedup.share]]d lattice to this and to its video audit
    * leg instead of re-deriving the container parses per leg.
    * gvid ∪ demuxed avi: the planted AVI twin of vid_scene must
    * surface at containment 10⁶ — cross-container video dedup. */
  private def videoNearDup(lattice: DataFrame): DataFrame = {
    import graft.operators.HotKeys
    // share()d: sizes + both self-join sides would otherwise
    // re-decode every blob per consumer (the sk10 scan-budget
    // lesson; the cached frame is (model, long) — never bytes).
    val sigs = graft.operators.Dedup.share(lattice
      .select(col("model"), explode(col("sums")).as("sig"))
      .distinct())
    // hot-signature cap (round-11, HotKeys scaladoc): a degenerate
    // frame signature shared by > 64 videos (black frames, test
    // cards) would fan in quadratically through the inverted-index
    // join; it identifies nothing, so it is dropped from BOTH the
    // intersection and the set sizes (jaccard over the informative
    // signature space), and each video's dropped count is the
    // n_capped_* audit column. Mirrored in the oracle.
    val hot = HotKeys.hot(sigs, cap = 64, "sig")
    val capped = sigs.join(broadcast(hot.select(col("sig"))), Seq("sig"))
      .groupBy(col("model")).agg(count(lit(1)).as("n_capped"))
    val kept = HotKeys.drop(sigs, hot, "sig")
    val sizes = kept.groupBy(col("model"))
      .agg(count(lit(1)).as("n_sigs"))
      .join(capped, Seq("model"), "left")
      .select(col("model"), col("n_sigs"),
        coalesce(col("n_capped"), lit(0L)).as("n_capped"))
    val shared = kept.as("a").join(kept.as("b"),
        col("a.sig") === col("b.sig") && col("a.model") < col("b.model"))
      .groupBy(col("a.model").as("model"), col("b.model").as("other"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.select(col("model"), col("n_sigs").as("n_a"),
        col("n_capped").as("n_capped_a")), Seq("model"))
      .join(sizes.select(col("model").as("other"),
        col("n_sigs").as("n_b"), col("n_capped").as("n_capped_b")),
        Seq("other"))
      .select(col("model"), col("other"), col("n_a"), col("n_b"),
        col("shared"),
        expr("(1000000L * shared) div (n_a + n_b - shared)")
          .as("jaccard_ppm"),
        expr("(1000000L * shared) div least(n_a, n_b)")
          .as("containment_ppm"),
        col("n_capped_a"), col("n_capped_b"))
      .orderBy(col("model"), col("other"))
  }

  // Catalog-id dictionaries (mm19's videos, mm21's audio blobs) are
  // dense LEXICOGRAPHIC model ranks — the NN tie-break ("smallest
  // packed key") must agree with the oracles' ORDER BY hamming,
  // model, idx, so id order is semantically visible and must stay
  // lexicographic. Ranked via [[graft.operators.Rank.globalRowNumber]]
  // instead of `row_number() OVER (ORDER BY model)` (VERDICT r14 #3:
  // that window plans an Exchange SinglePartition — metadata-sized
  // today, the one serialization point at billions of containers):
  // the bucket key is the code-point-packed 3-char model prefix
  // (order-consistent with UTF8 binary string order, since UTF-8
  // preserves code-point order), the model itself finishes the order
  // within a bucket, so ranks are the exact lexicographic ranks while
  // every data-scaled stage stays partitioned. Computed ONCE per
  // session ([[graft.Memo]]) and localCheckpointed (the boundary pass
  // is an eager job; Bench runs the whole media family in one JVM) —
  // consumer plans then broadcast a checkpointed metadata frame with
  // no window at all.
  private def catalogIds(s: SparkSession, key: String, idName: String)(
      models: => DataFrame): DataFrame =
    graft.Memo(s, s"dict|$key") {
      val prefixKey = (0 until 3).map(i =>
          ascii(substring(col("model"), i + 1, 1)).cast("long") *
            lit(1L << (21 * (2 - i))))
        .reduce(_ + _)
      graft.operators.Rank.globalRowNumber(
          models, prefixKey, col("model"), nBuckets = 32)
        .withColumnRenamed("rank", idName)
        .localCheckpoint(true)
    }

  /** mm19's video-catalog dictionary: one row per admitted video with
    * a dense numeric id (lexicographic model rank, distributed — see
    * [[catalogIds]]); every consumer join broadcasts it. */
  private[graft] def mm19Dict(s: SparkSession): DataFrame =
    catalogIds(s, "mm19", "mid")(
      aviAdmitted(s).select(col("model")).distinct())

  /** mm19's per-frame hash frame with the PACKED band-join key
    * (round-13, VERDICT r12 ask #5): key = mid·2³² + frame_idx, a
    * LongType — the band exchange shuffles 8-byte keys, never
    * model#frame strings ([[graft.operators.PlanSpec]] pins both the
    * key type and the banded-path exchange keys). */
  private[graft] def mm19Hashed(s: SparkSession): DataFrame =
    mm19FrameHashes(s).join(broadcast(mm19Dict(s)), Seq("model"))
      .withColumn("key", shiftleft(col("mid"), 32) + col("frame_idx"))

  /** The RAW per-frame perceptual-hash lattice (model, frame_idx,
    * ahash_hi, ahash_lo) — extracted round-15 as the BUILD path of
    * the at-rest [[graft.operators.MediaSignals]] store: ingest
    * derives these once, every composite consumer (mm22) serves
    * from the persisted table. */
  private def mm19FrameHashes(s: SparkSession): DataFrame =
    frameHashesOf(Meta.loadMediaFiles(s, Meta.mediaDir(), "avi"))

  /** The frame-hash derivation over an arbitrary (model, content)
    * blob frame: admission, decode, grid hash. */
  private def frameHashesOf(blobs: DataFrame): DataFrame = {
    import graft.functions.BmpAHash
    val hashed0 = aviAdmittedOf(blobs)
      .select(col("model"), transform(col("dbs"), pk => {
        val off = shiftrightunsigned(pk, 32)
        val sz = pk.bitwiseAND(lit(4294967295L))
        // MJPG frames (round-14): each 00dc payload is a whole JPEG,
        // decoded onto the SAME 8×8 point-sample aHash by the
        // ImageIo path the image family proves (mm5's cross-format
        // discipline at the frame grain: the planted fixture's
        // frames are encodes of a raw pixel-twin, and the oracle
        // pins hash equality to the twin's derived hashes). An
        // undecodable frame yields NULL and drops VISIBLY below,
        // exactly like an off-dims raw frame. The int casts are safe
        // under the admission fits gate (off + sz ≤ blob < 2³¹).
        when(col("avi_is_mjpg"),
          graft.functions.ImageIo.imageAHash(
            col("content").substr((off + 1).cast("int"), sz.cast("int"))))
          // conforming ⇒ w·h = sz ≤ blob < 2³¹, so the int casts
          // inside frameAHash cannot overflow (when() is lazy)
          .otherwise(when(sz.cast("decimal(20,0)") ===
              col("width").cast("decimal(20,0)") * col("height"),
            BmpAHash.frameAHash(col("content"), off, col("width"),
              col("height"))))
      }).as("fhs"))
      .select(col("model"), posexplode(col("fhs")).as(Seq("fi", "hh")))
      .where(col("hh").isNotNull)
      .select(col("model"), col("fi").cast("long").as("frame_idx"),
        expr("element_at(hh, 1)").as("ahash_hi"),
        expr("element_at(hh, 2)").as("ahash_lo"))
    hashed0
  }

  /** Shared harness for the stream ≡ batch parity rows: replay the
    * reference capture through a streaming sessionizer
    * (MemoryStream + flatMapGroupsWithState + event-time watermark)
    * in micro-batches, push the watermark past every 300 s timeout
    * with a sentinel aircraft so open sessions CLOSE and emit, and
    * return the non-sentinel rows ordered for the oracle diff
    * (DuckDB reads the BATCH sessionizer's dump — the row turns red
    * the day the incremental fold and the batch fold diverge).
    *
    * `reorder = false`: messages in arrival (seq) order through the
    * in-order sessionizer, two data batches (state carry-over across
    * a boundary). `reorder = true` (round-12): a DETERMINISTIC
    * bounded shuffle — messages sort by (8-second event-time window,
    * scrambled seq), displacing them within windows strictly under
    * the 10 s watermark delay but across three micro-batch
    * boundaries — through the watermark-BUFFERED sessionizer
    * ([[graft.streaming.AdsbStream.sessionizeReordered]]), which
    * must reproduce the same batch-equal output. */
  private def streamParity(s: SparkSession, reorder: Boolean): DataFrame = {
    import graft.adsb.{AdsbMsg, FlightStateMachine}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val inOrder = Sbs.messages(
      Sbs.fixtureLines(s, "adsb_message_stream.txt"))
      .collect().sortBy(_.seq)
    val msgs = if (!reorder) inOrder
    else inOrder.sortBy { m =>
      (FlightStateMachine.micros(m.gen_date_time) / 8000000L,
        m.seq * 0x9E3779B97F4A7C15L, m.seq)
    }
    val stream = org.apache.spark.sql.execution.streaming
      .runtime.MemoryStream[AdsbMsg]
    val name = s"graft_stream_parity_${parityId.incrementAndGet()}"
    // tmpfs checkpoint when available: this gate row pays ~1 fsync
    // per micro-batch per state partition — real deployments
    // checkpoint durably, the gate only needs determinism
    val ckptBase = java.nio.file.Paths.get("/dev/shm")
    val ckpt = (if (java.nio.file.Files.isDirectory(ckptBase))
      java.nio.file.Files.createTempDirectory(ckptBase, "graft-parity")
    else java.nio.file.Files.createTempDirectory("graft-parity"))
      .toString
    // 4 state partitions for ~54 aircraft (round-16; was 8): each
    // micro-batch commits one state-store delta PER partition, so
    // the session's 32 shuffle partitions would 8x the commit
    // overhead of this fixture-sized stream for nothing (scoped to
    // the stream: the partition count is captured when the query
    // STARTS; restored immediately after). The count is an
    // execution detail — output parity is ordered and
    // partition-invariant (the _ooo row exists to prove exactly
    // that under reordering).
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val sessionized =
      if (reorder) graft.streaming.AdsbStream.sessionizeReordered(
        stream.toDS())
      else graft.streaming.AdsbStream.sessionize(stream.toDS())
    val q =
      try graft.streaming.AdsbStream.startQuery(s, sessionized
        .writeStream.format("memory").queryName(name)
        .outputMode("append").option("checkpointLocation", ckpt))
      finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    try {
      // in-order: two data micro-batches (the 3-batch grain is
      // AdsbStreamSpec's); reorder: three, so shuffled windows
      // straddle more boundaries
      msgs.grouped(if (reorder) 700 else 1100).foreach { b =>
        stream.addData(b.toSeq); q.processAllAvailable()
      }
      val tMaxUs = msgs.map(m =>
        FlightStateMachine.micros(m.gen_date_time)).max
      def sentinel(sec: Long, seq: Long) = AdsbMsg(seq, 2, "ZZZZZZ",
        new java.sql.Timestamp(tMaxUs / 1000 + sec * 1000),
        None, None, None, None, Some(47.1), Some(-1.6), None,
        Some(false))
      // batch n+1 pushes the watermark past every timeout (and past
      // every buffered row in reorder mode); batch n+2 lets the
      // timeouts fire in their own trigger
      stream.addData(sentinel(1200, 1000000L)); q.processAllAvailable()
      stream.addData(sentinel(1300, 1000001L)); q.processAllAvailable()
    } finally q.stop()
    val cols = Seq("kind", "hexident", "session_start", "time",
      "first_seen", "last_seen", "callsign", "n_positions", "lon",
      "lat", "alt_m", "onground", "runway")
    // materialize off the memory sink so the per-run driver state
    // can drop NOW (a bench session invokes this query repeatedly:
    // without the cleanup each run would leave a full result copy
    // in the sink table and a checkpoint dir in tmpfs). Cleanup
    // rides a finally — a failed materialization must not leak the
    // very state this block exists to reclaim. The localCheckpoint
    // blocks are the usual self-reclaiming kind.
    try {
      ntz(s.table(name).where(col("hexident") =!= "ZZZZZZ"),
        "session_start", "time", "first_seen", "last_seen")
        .select(cols.map(col): _*)
        .orderBy(cols.map(col): _*)
        .localCheckpoint(true)
    } finally {
      scala.util.Try(s.catalog.dropTempView(name))
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(
          java.nio.file.Paths.get(ckpt))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala
          .foreach(p => java.nio.file.Files.delete(p))
        finally walk.close()
      }
    }
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "adsb_parse" -> ((s, _) =>
      ntz(Sbs.parse(Sbs.fixtureLines(s, "adsb_message_stream.txt")),
        "gen_date_time", "log_date_time")
        .orderBy(col("seq"))),

    "adsb_flights" -> ((s, _) =>
      ntz(AdsbPipeline.flights(out(s)),
        "session_start", "first_seen", "last_seen")
        .orderBy(col("hexident"), col("session_start"))),

    "adsb_positions" -> ((s, _) =>
      ntz(AdsbPipeline.positions(out(s)), "session_start", "time")
        .orderBy(col("hexident"), col("time"), col("session_start"),
          col("lon"), col("lat"))),

    // STREAM ≡ BATCH, oracle-visible (round-11 verdict ask #4): the
    // full reference capture replayed through the STREAMING stateful
    // sessionizer (flatMapGroupsWithState + event-time timeouts, 3
    // micro-batches), while the oracle reads the BATCH sessionizer's
    // parquet dump — so DuckDB literally diffs stream against batch,
    // and this row turns red the day the incremental fold and the
    // batch fold ever diverge. A sentinel aircraft 20+ min past the
    // capture pushes the watermark over every real session's 300 s
    // timeout, so the open sessions CLOSE and emit their flight rows
    // (without it, end-of-stream flights stay open and the parity is
    // spec-only, as in rounds ≤ 10). Sentinel rows are excluded from
    // both sides (the batch replay never saw it).
    "adsb_stream_parity" -> ((s, _) => streamParity(s, reorder = false)),

    // STREAM ≡ BATCH under BOUNDED DISORDER (round-12 verdict ask
    // #5): the same capture with a deterministic shuffle that
    // displaces messages WITHIN 8-second event-time windows — under
    // the 10 s watermark delay, but across micro-batch boundaries,
    // which the in-order path's per-batch sort cannot repair. The
    // watermark-buffered sessionizer must still emit byte-identical
    // rows to the batch sessionizer's global sort; the oracle is the
    // SAME batch dump diff as adsb_stream_parity.
    "adsb_stream_parity_ooo" -> ((s, _) => streamParity(s, reorder = true)),

    "adsb_events" -> ((s, _) =>
      ntz(AdsbPipeline.events(out(s)), "session_start", "time")
        .orderBy(col("time"), col("hexident"), col("kind"))),

    "adsb_events_golden" -> ((s, _) =>
      ntz(AdsbPipeline.events(goldenOut(s)), "session_start", "time")
        .orderBy(col("time"), col("hexident"), col("kind"))),

    "adsb_event_details_golden" -> ((s, _) =>
      eventDetails(goldenOut(s), Meta.loadAirlines(s), Meta.loadCountries(s))),

    // Q2 over the pipeline's own output: landings histogram binned in
    // Europe/Paris — the reference's flagship analytics shape fed by
    // its own ingest (SURVEY.md §7.2 end-to-end slice). The call is
    // the reference idiom landings_histogram(date, date, 'hour'):
    // a day-granularity `ends` whose final day the +23 h spine
    // extension covers (create_public_schema.sql:189).
    "adsb_landings_histogram" -> ((s, _) => {
      val landings = AdsbPipeline.events(out(s))
        .where(col("kind") === "landing")
      Histogram.eventsHistogram(landings, col("time"),
        unix_micros(col("time").cast("timestamp")),
        "2019-10-20 00:00:00", "2019-10-20 00:00:00", "hour",
        Some("Europe/Paris"))
    }),

    // The golden replay exercises the same histogram with NON-empty
    // bins (the reference capture has zero landings, so the main-
    // fixture histogram checks only spine + gap fill).
    "adsb_landings_histogram_golden" -> ((s, _) => {
      val landings = AdsbPipeline.events(goldenOut(s))
        .where(col("kind") === "landing")
      Histogram.eventsHistogram(landings, col("time"),
        unix_micros(col("time").cast("timestamp")),
        "2019-10-20 00:00:00", "2019-10-20 00:00:00", "hour",
        Some("Europe/Paris"))
    }),

    // T7: per-flight transmission-type census (pivot 1..8).
    "adsb_type_census" -> ((s, _) =>
      Sbs.parse(Sbs.fixtureLines(s, "adsb_message_stream.txt"))
        .groupBy(col("hexident"))
        .pivot("transmission_type", (1 to 8).map(Int.box).toSeq)
        .count()
        .orderBy(col("hexident"))),

    // Q11: flights ⟕ airlines (expression equi-join on
    // substring(callsign,1,3) = icao) ⟕ countries — the
    // landings_on_details shape with the real openflights dims.
    "adsb_flight_details" -> ((s, _) => {
      val flights = AdsbPipeline.flights(out(s))
      val airlines = Meta.loadAirlines(s)
      val countries = Meta.loadCountries(s)
      // openflights has duplicate icao keys (35 of them), so the join
      // can fan out: the dim columns join the sort key to keep the
      // row order total for the order-sensitive driver compare.
      ntz(flights
        .join(broadcast(airlines),
          substring(flights("callsign"), 1, 3) === airlines("icao"), "left")
        .join(broadcast(countries),
          airlines("country") === countries("name"), "left")
        .select(flights("hexident"), flights("session_start"),
          flights("callsign"),
          airlines("name").as("airline"), airlines("country"),
          countries("code").as("country_code"),
          flights("first_seen"), flights("last_seen")),
        "session_start", "first_seen", "last_seen")
        .orderBy(col("hexident"), col("session_start"),
          col("airline").asc_nulls_first, col("country_code").asc_nulls_first)
    }),

    // Q8 on the domain's own data: the reference's flight_path(id) —
    // ST_MakeLine(ST_Force2D(coordinates) ORDER BY time) per flight
    // session (create_public_schema.sql:207-218), emitted as GeoJSON.
    // Key = hexident/epoch-micros and tiebreak = (lon, lat) struct:
    // both totally ordered identically by Spark and the SQL oracle
    // (a timestamp-cast-to-string key would diverge on fraction
    // formatting; a stringified-double tiebreak on float rendering).
    "adsb_flight_paths" -> ((s, _) =>
      graft.operators.Paths.pathGeoJson(
        AdsbPipeline.positions(out(s)),
        concat_ws("/", col("hexident"),
          unix_micros(col("session_start").cast("timestamp"))),
        col("time"), struct(col("lon"), col("lat")),
        col("lon"), col("lat"), precision = 6)
        .orderBy(col("key"))),

    // Q11 event-side composite: the reference's GraphQL workhorse
    // landings_on_details/takeoffs_on_details event type.
    "adsb_event_details" -> ((s, _) =>
      eventDetails(out(s), Meta.loadAirlines(s), Meta.loadCountries(s))),

    // Q14: GeoJSON metadata views over the seed airport/runway geometry
    // and the WKB-seeded range rings. Oracle-checked since round 6:
    // the seed tables dump as parquet and the oracle SQL recomputes
    // the GeoJSON emission (6-decimal printf, ring closing, PostGIS
    // option bits) in DuckDB — the WKB parse stays spec-pinned.
    "meta_airports_geojson" -> ((s, _) =>
      Meta.airportsGeoJson(s).orderBy(col("icao"))),
    "meta_runways_geojson" -> ((s, _) =>
      Meta.runwaysGeoJson(s).orderBy(col("airport"), col("name"))),
    "meta_range_rings_geojson" -> ((s, _) =>
      Meta.rangeRingsGeoJson(s).orderBy(col("id"))),

    // S5 + multimodal: silhouette BMP blobs → typed metadata (REAL
    // header parse — width/height/bpp from the BMP header via pure
    // codegen expressions; only the pixel-level decode stays stubbed)
    // + stubbed feature vector. The embedding is emitted as a
    // fixed-precision comma-joined string: the driver's rows-only
    // check sorts result columns with pandas, which cannot hash array
    // cells (observed TypeError in round 1).
    "mm_media_features" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
      Multimodal.withMetadata(bin, col("silhouette"))
        .withColumn("embedding", Multimodal.fakeEmbedding(col("silhouette")))
        .select(col("model"), col("length"), col("media_type"),
          col("width"), col("height"), col("bpp"),
          array_join(transform(col("embedding"),
            e => format_string("%.6f", e)), ",").as("embedding"))
        .orderBy(col("model"))
    }),

    // mm2: the full multimodal retrieval composition — media blobs →
    // batched per-partition decode (the mapInPandas-analog with a
    // deterministic stub decoder) → embedding column → cosine top-k
    // among the media themselves. This is the pipeline shape a real
    // image-dedup / visual-search run has; only the decoder body is
    // stubbed (no media libs in the sandbox), every Spark stage —
    // batch boundaries, schema contract, null-blob tolerance, the
    // similarity join — is real. Rows-only (stub-derived scores).
    "mm2_media_similarity" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
      val emb = Multimodal.decodeEmbedBatched(bin, col("model"),
          col("silhouette"), dim = 8, batchSize = 4)
        .select(col("key"),
          col("embedding").cast("array<float>").as("embedding"))
      val q = emb.select(col("key").as("qid"),
        col("embedding").as("qvec"))
      graft.operators.Similarity.bruteForceTopK(
          q, emb.withColumnRenamed("key", "vec_id"), k = 3)
        .orderBy(col("qid"), col("rank"))
    }),

    // mm3: REAL pixel-level image fingerprinting, zero libraries —
    // perceptual average-hash over the 24-bpp BMP pixel arrays (8×8
    // integer-grid sample, exact R+G+B grayscale, mean threshold,
    // bits packed as two 32-bit halves per the d4 SimHash bit-
    // arithmetic convention) plus each image's hamming-nearest
    // neighbor. The hash is pure integer byte arithmetic end to end,
    // so the oracle re-derives it from the same blobs with
    // substr(hex(...)) byte reads — the one media pipeline stage that
    // was still stubbed (pixel decode) is real for this container.
    "mm3_image_ahash" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
      val hashed = Multimodal.withMetadata(bin, col("silhouette"))
        .where(Multimodal.isBmp(col("silhouette")))
        .withColumn("ah", graft.functions.BmpAHash.aHash(col("silhouette")))
        .where(col("ah").isNotNull)
        .select(col("model"), col("width"), col("height"),
          col("ah")(0).as("ahash_hi"), col("ah")(1).as("ahash_lo"))
      // NN via the shared routed readout (HammingNN): exact pairwise
      // at fixture size, mm4's band-bucket candidates beyond the
      // threshold — no unconditional self-cross-join remains here
      val nn = graft.operators.HammingNN.nearest(
        hashed, "model", "ahash_hi", "ahash_lo")
      // LEFT join (HammingNN caller contract): above pairwiseLimit a
      // band-isolated key keeps its row with NULL nn_ columns instead
      // of silently dropping from the result
      hashed.join(nn, Seq("model"), "left").orderBy(col("model"))
    }),

    // mm4: near-dup IMAGE detection at scale — d4's SimHash banding
    // applied to mm3's perceptual hash: the 64-bit aHash splits into
    // four 16-bit bands, images sharing any band bucket become
    // candidates, and only candidates pay the hamming verify (never
    // all-pairs — at corpus scale the band join IS the index). By
    // pigeonhole, hamming ≤ 3 over 4 bands leaves at least one band
    // identical, so recall at the τ=3 cut is EXACT. The fixture's
    // distinct silhouettes sit ≥ 6 bits apart, so near-dup pairs are
    // injected by construction (exact re-keyed copies — the d11
    // convention; a 0-hit green proves nothing).
    // mm5: CROSS-FORMAT hash parity — the round-8 ImageIO promotion
    // made gate-visible. Each BMP silhouette is losslessly transcoded
    // to PNG IN-ENGINE (`ImageIo.imageToPng`, the JDK's own codecs)
    // and hashed through the ImageIO full-decode path
    // (`ImageIo.imageAHash`), beside the byte-level BMP codegen
    // kernel's hash. The DuckDB oracle re-derives the hash from the
    // BMP BYTES alone and asserts both Spark columns equal it — so a
    // single diverging pixel anywhere in the decode→re-encode→decode
    // chain (or a sampling/threshold drift between the two kernels)
    // turns the gate red. This is the normalize-then-fingerprint
    // shape a mixed-container media pipeline runs at ingest: hash
    // stability across transcodes is what makes the near-dup index
    // (mm4) format-independent.
    "mm5_crossformat_parity" -> ((s, _) => {
      import graft.functions.{BmpAHash, ImageIo}
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
        .where(Multimodal.isBmp(col("silhouette")))
      bin.select(col("model"),
          BmpAHash.aHash(col("silhouette")).as("hb"),
          ImageIo.imageAHash(ImageIo.imageToPng(col("silhouette")))
            .as("hp"))
        .where(col("hb").isNotNull && col("hp").isNotNull)
        .select(col("model"),
          col("hb")(0).as("bmp_hi"), col("hb")(1).as("bmp_lo"),
          col("hp")(0).as("png_hi"), col("hp")(1).as("png_lo"),
          (col("hb")(0) === col("hp")(0) &&
            col("hb")(1) === col("hp")(1)).as("parity"))
        .orderBy(col("model"))
    }),

    // mm6: perceptual difference-hash (dHash) — the GRADIENT
    // fingerprint beside mm3's mean-threshold aHash: bit (r,c) =
    // gray(r,c) > gray(r,c+1) over an 8×9 sample grid. The two
    // hashes fail differently (aHash's global mean moves under
    // brightness/contrast shifts; dHash's local comparisons don't),
    // which is why production near-dup pipelines carry both and
    // AND/OR their band candidates. Same byte-exact integer
    // arithmetic, same codegen-kernel shape, same oracle style: the
    // SQL re-derives every sampled byte with substr(hex(...)) reads
    // and replays the adjacent-pixel comparisons via a self-join on
    // the sample index.
    "mm6_image_dhash" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
      val hashed = bin.where(Multimodal.isBmp(col("silhouette")))
        .withColumn("dh", graft.functions.BmpAHash.dHash(col("silhouette")))
        .where(col("dh").isNotNull)
        .select(col("model"),
          col("dh")(0).as("dhash_hi"), col("dh")(1).as("dhash_lo"))
      // routed NN readout — see mm3
      val nn = graft.operators.HammingNN.nearest(
        hashed, "model", "dhash_hi", "dhash_lo")
      // LEFT join — see mm3 (band-isolated keys stay visible)
      hashed.join(nn, Seq("model"), "left").orderBy(col("model"))
    }),

    // mm9: per-image QUALITY statistics — the pixel-level admission
    // gate a multimodal curation pipeline runs before an image enters
    // training data (too-dark / too-bright / flat screenshots and
    // solid-color placeholder images are the classic crawl junk).
    // Exact integer grays over the SAME 8×8 sample grid as mm3's
    // aHash (one kernel family, one oracle CTE chain): mean, min,
    // max, and population variance (64·Σg² − (Σg)² over 64², always
    // ≥ 0 by Cauchy–Schwarz so floor-div and trunc-div agree), plus
    // the three derived gate flags at documented thresholds on the
    // 0..765 gray scale (dark < 25%, bright > 75%, variance < 20000
    // ≈ std 18%). Scale shape: one codegen projection per blob — no
    // joins, no shuffle beyond the final sort; at 100 TB this is a
    // pure map over the binary column, and the flags prune the
    // expensive decode stages downstream of it.
    "mm9_image_stats" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
      Multimodal.withMetadata(bin, col("silhouette"))
        .where(Multimodal.isBmp(col("silhouette")))
        .withColumn("st", graft.functions.BmpAHash.grayStats(col("silhouette")))
        .where(col("st").isNotNull)
        .select(col("model"), col("width"), col("height"),
          expr("st[0] div 64").as("gray_mean"),
          col("st")(2).as("gray_min"), col("st")(3).as("gray_max"),
          expr("(64 * st[1] - st[0] * st[0]) div 4096").as("contrast_var"),
          (col("st")(0) < lit(192L * 64)).as("is_dark"),
          (col("st")(0) > lit(573L * 64)).as("is_bright"),
          (lit(64L) * col("st")(1) - col("st")(0) * col("st")(0) <
            lit(20000L * 4096)).as("low_contrast"))
        .orderBy(col("model"))
    }),

    "mm4_image_neardup" -> ((s, _) => {
      val bin = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
        .select(col("model"), col("silhouette"))
      val all = bin.unionByName(bin.select(
        concat(col("model"), lit("_copy")).as("model"), col("silhouette")))
      val hashed = all.where(Multimodal.isBmp(col("silhouette")))
        .withColumn("ah", graft.functions.BmpAHash.aHash(col("silhouette")))
        .where(col("ah").isNotNull)
        .select(col("model"), col("ah")(0).as("hi"), col("ah")(1).as("lo"))
      val bands = hashed.select(col("model"), col("hi"), col("lo"),
        posexplode(array(
          col("lo").bitwiseAND(lit(0xFFFFL)),
          shiftrightunsigned(col("lo"), 16).bitwiseAND(lit(0xFFFFL)),
          col("hi").bitwiseAND(lit(0xFFFFL)),
          shiftrightunsigned(col("hi"), 16).bitwiseAND(lit(0xFFFFL)))))
        .select(col("model"), col("hi"), col("lo"),
          col("pos").as("band"), col("col").as("bv"))
      val cands = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
            col("a.model") < col("b.model"))
        .select(col("a.model").as("model"), col("b.model").as("other"),
          col("a.hi").as("ahi"), col("a.lo").as("alo"),
          col("b.hi").as("bhi"), col("b.lo").as("blo"))
        .distinct()
      cands
        .select(col("model"), col("other"),
          (bit_count(col("ahi").bitwiseXOR(col("bhi"))) +
            bit_count(col("alo").bitwiseXOR(col("blo"))))
            .cast("long").as("hamming"))
        .where(col("hamming") <= 3)
        .orderBy(col("model"), col("other"))
    }),

    // mm7: acoustic fingerprint over opaque 8-bit PCM blobs — the
    // audio leg of the multimodal contract. 64 frames × 64 samples;
    // per-frame energy Σ(b−128)²; fingerprint bit f = 1 iff
    // energy(f+1) > energy(f) (the sign-of-delta discipline audio
    // fingerprinting families build on — Haitsma-Kalker 2002 —
    // collapsed to one energy band since no DSP library exists
    // here), packed into two 32-bit halves per the mm3 convention,
    // then the same hamming NN readout. Everything is exact integer
    // byte arithmetic — the energy lattice is one codegen byte walk
    // ([[graft.functions.FrameSums]], round-10; no hex blow-up, no
    // per-byte conv, no UDF) — and the oracle still re-derives every
    // bit from the dumped blobs with its own hex reads. The
    // fixtures plant two perturbed near-dup pairs; their NN hamming
    // ≈ 0 while unrelated signals sit tens of bits apart — the
    // audio-dedup signal this op exists to feed. Scale: per-blob
    // O(bytes) map work, NN on sketch-sized hashes via the routed
    // [[graft.operators.HammingNN]] readout (mm4's banding beyond
    // the pairwise threshold — no unconditional all-pairs join).
    "mm7_audio_fingerprint" -> ((s, _) => {
      // pcm ∪ wav ∪ avi audio: the dialog_h_w RIFF twin must land at
      // hamming 0 from dialog_h — format-independent fingerprinting.
      // The fingerprint is a DECLARED fixed 64-frame (4096-byte)
      // window: clips shorter than the window carry no fingerprint
      // and are excluded (round-12 — the avi leg admits variable
      // clip lengths, and a short clip would otherwise index past
      // its energy lattice)
      val bin = audioPcmBlobs(s).where(col("length") >= 64L * 64L)
      // round-10: the hex/conv per-byte detour is gone — one codegen
      // byte walk emits the 64-frame energy lattice (FrameSums); the
      // slice pins the declared fixed-64-frame fingerprint window
      val hashed = bin.withColumn("energies",
          slice(graft.functions.FrameSums.frameEnergies(
            col("content"), lit(0), lit(64)), 1, 64))
        .withColumn("fp_lo", expr(
          """aggregate(sequence(0, 31), 0L, (acc, f) ->
            |  acc + IF(element_at(energies, f+2) > element_at(energies, f+1),
            |           shiftleft(1L, f), 0L))""".stripMargin))
        .withColumn("fp_hi", expr(
          """aggregate(sequence(32, 62), 0L, (acc, f) ->
            |  acc + IF(element_at(energies, f+2) > element_at(energies, f+1),
            |           shiftleft(1L, f - 32), 0L))""".stripMargin))
        .select(col("model"), col("length").as("n_bytes"),
          col("fp_hi"), col("fp_lo"))
      // routed NN readout — see mm3
      val nn = graft.operators.HammingNN.nearest(
        hashed, "model", "fp_hi", "fp_lo")
      // LEFT join — see mm3 (band-isolated keys stay visible)
      hashed.join(nn, Seq("model"), "left").orderBy(col("model"))
    }),

    // mm11: audio SILENCE gate — the voice-activity-shaped admission
    // check an audio curation pipeline runs before paying for
    // transcription/embedding (mostly-silent recordings are the
    // audio analog of mm9's flat images). Frames of 64 samples over
    // the whole blob, exact integer energy Σ(b−128)² per frame, a
    // frame is silent below the fixed threshold 4096 (mean squared
    // deviation 64 ≈ |dev| 8 — the fixture profile separates cleanly:
    // quiet_f's loudest frame is 2304, every active signal's
    // quietest is ≥ 8564), and the per-blob silent-frame share in
    // exact ppm. The speech_g fixture plants 16+16 silent frames
    // around 32 active ones (exactly 500000 ppm, sitting ON the
    // mostly-silent boundary) so both the ratio arithmetic and the
    // >= cut are load-bearing. Scale: per-blob O(bytes) map work,
    // no join, row count = blob count.
    "mm11_audio_silence" -> ((s, _) => {
      val bin = audioPcmBlobs(s) // pcm ∪ wav payloads — see mm7
      bin.withColumn("n_frames", floor(col("length") / 64).cast("int"))
        .where(col("n_frames") >= 1)
        // one codegen byte walk per blob (FrameSums) — size(energies)
        // = floor(length/64) = n_frames by the kernel's complete-frame
        // contract
        .withColumn("energies", graft.functions.FrameSums.frameEnergies(
          col("content"), lit(0), lit(64)))
        .withColumn("n_silent", expr(
          "aggregate(energies, 0L, (acc, e) -> acc + IF(e < 4096, 1L, 0L))"))
        .withColumn("silence_ppm",
          expr("(1000000L * n_silent) div cast(n_frames AS bigint)"))
        .select(col("model"), col("n_frames").cast("long").as("n_frames"),
          col("n_silent"), col("silence_ppm"),
          (col("silence_ppm") >= 500000L).as("mostly_silent"))
        .orderBy(col("model"))
    }),

    // mm13: speech-SEGMENT extraction — mm11's silence lattice
    // consumed as segments (the audio twin of mm12's shots, and the
    // VAD-segmentation step an audio pipeline runs before paying for
    // per-segment transcription/embedding): a segment is a maximal
    // run of non-silent frames (mm11's exact integer energy ≥ 4096
    // rule, same threshold constant), keyed by the silent-PREFIX
    // trick (running count of silent frames — t28's stopword
    // phrase-id convention: active frames sharing a silent prefix
    // are contiguous by construction), re-ranked to a dense 1-based
    // seg_id. Per segment: frame bounds, length, and peak energy —
    // all exact integers, so the oracle re-derives every segment
    // from the dumped blobs. Scale shape: per-blob O(bytes) energy
    // parse, two per-model windows (running silent count, dense
    // rank) — a blob's frames are one key group by construction —
    // and a map-side-combinable per-(model, segment) aggregate.
    // Row count = Σ segments ≤ Σ n_frames.
    "mm13_speech_segments" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val bin = audioPcmBlobs(s) // pcm ∪ wav payloads — see mm7
      val fx = bin.withColumn("n_frames", floor(col("length") / 64).cast("int"))
        .where(col("n_frames") >= 1)
        .withColumn("energies", graft.functions.FrameSums.frameEnergies(
          col("content"), lit(0), lit(64))) // codegen byte walk — see mm11
        .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
        .select(col("model"), col("frame_idx").cast("long").as("frame_idx"),
          expr("element_at(energies, frame_idx + 1)").as("energy"))
        .withColumn("is_silent", col("energy") < 4096L)
      val byFrame = Window.partitionBy(col("model")).orderBy(col("frame_idx"))
      val active = fx.withColumn("sil_prefix",
          sum(when(col("is_silent"), 1L).otherwise(0L)).over(byFrame))
        .where(!col("is_silent"))
      active
        .withColumn("seg_id",
          dense_rank().over(Window.partitionBy(col("model"))
            .orderBy(col("sil_prefix"))).cast("long"))
        .groupBy(col("model"), col("seg_id"))
        .agg(min(col("frame_idx")).as("start_frame"),
          max(col("frame_idx")).as("end_frame"),
          count(lit(1)).as("n_frames_seg"),
          max(col("energy")).as("peak_energy"))
        .orderBy(col("model"), col("seg_id"))
    }),

    // mm21: SEGMENT-level audio near-dup (round-13) — mm13's VAD
    // segments fingerprinted and matched ACROSS blobs: the dedup
    // grain an audio curation pipeline actually wants (a speech
    // burst re-recorded inside a different program is invisible to
    // whole-blob fingerprints — mm7 sees two unrelated files — but
    // its SEGMENT energy contour is intact). Fingerprint = mm7's
    // sign-of-delta discipline over the segment's own frame
    // energies (first ≤ 33 frames → ≤ 32 bits; segments under 8
    // frames carry too little signal and are excluded), then the
    // shared cross-group HammingNN readout restricted to OTHER
    // blobs. The canonicalization story compounds here: dialog_h's
    // three bursts must land at hamming 0 from dialog_h_w's AND
    // dialog_h_16's — same segments through three containers and
    // two bit depths. Scale shape: per-blob O(bytes) energy parse,
    // the mm13 windows, one (model, seg) aggregate; keys pack as
    // aid·2³² + seg_id against the broadcast blob catalog (the mm19
    // idiom); NN is the routed band join, never all-pairs.
    "mm21_segment_neardup" -> ((s, _) => {
      val segs = audioSegFingerprints(s)
      // the blob catalog comes off the SHARED segment frame (only
      // fingerprinted blobs can be or have neighbors); distributed
      // lexicographic ranks — see [[catalogIds]]
      val dict = catalogIds(s, "mm21", "aid")(
        segs.select(col("model")).distinct())
      val hashed = segs.join(broadcast(dict), Seq("model"))
        .withColumn("key", shiftleft(col("aid"), 32) + col("seg_id"))
      val nn = graft.operators.HammingNN.nearest(hashed, "key",
        "fp_hi", "fp_lo", crossGroup = Some("aid"))
      hashed.join(nn, Seq("key"), "left")
        .join(broadcast(dict.select(col("aid").as("__nid"),
            col("model").as("__nmodel"))),
          shiftrightunsigned(col("nn_key"), 32) === col("__nid"), "left")
        .select(col("model"), col("seg_id"), col("n_frames_seg"),
          col("fp_lo"),
          when(col("nn_key").isNotNull, concat(col("__nmodel"), lit("#"),
            col("nn_key").bitwiseAND(lit(4294967295L)))).as("nn_key"),
          col("nn_hamming"))
        .orderBy(col("model"), col("seg_id"))
    }),

    // mm22: CONTAINER-level dup classification (round-14, VERDICT r13
    // stretch #7) — the verdict table the per-modality signals feed:
    // mm19's perceptual frame hashes and mm21's segment fingerprints
    // composed into one row per related container pair, classed
    // full_dup / video_only_dup / audio_only_dup / related. This is
    // the actual curation decision: a re-crawl that duplicates BOTH
    // modalities is a drop; a video re-score (same frames, new
    // audio) or a re-used soundtrack is an edit decision, not a
    // dedup one. Legs, both set-containment at the 10⁶ ppm cut:
    //  video: distinct frame-hash sets (hot hashes shared by > 64
    //    containers dropped — the black-frame mega-bucket rule from
    //    mm15, replayed in the oracle); full containment of the
    //    smaller set = dup;
    //  audio: distinct (length-class, contour) segment fingerprints,
    //    same hot rule, same cut.
    // Scale shape: both legs are inverted-index equi-joins (pairs
    // exist only through shared signatures, never all-pairs), sizes
    // and verdicts are metadata-grade aggregates; the full-outer
    // merge ships only pair rows. Round-15 (VERDICT r14 #3/mm22): the
    // legs serve from the at-rest [[graft.operators.MediaSignals]]
    // store — signals computed once at ingest (build+append
    // lifecycle), so this query reads two (model, long, long) parquet
    // tables instead of re-walking containers and re-decoding JPEGs;
    // the oracle still re-derives EVERYTHING from the blobs, which is
    // what proves the stored signals equal fresh derivation. Fixtures
    // pin every class: (vid_duet, vid_duet_c) full_dup,
    // (vid_mj, vid_mj_raw) video_only_dup, the dialog trio
    // audio_only_dup.
    "mm22_container_dup" -> ((s, _) => {
      import graft.operators.MediaSignals
      val store = mediaSignalsPath(s)
      MediaSignals.verdictMerge(
        MediaSignals.containmentLeg(MediaSignals.frames(s, store)
          .select(col("model"), col("ahash_hi").as("h1"),
            col("ahash_lo").as("h2")).distinct(),
          "v_shared", "v_cont_ppm"),
        MediaSignals.containmentLeg(MediaSignals.segs(s, store)
          .select(col("model"), col("fp_hi").as("h1"),
            col("fp_lo").as("h2")).distinct(),
          "a_shared", "a_cont_ppm"))
        .orderBy(col("model_a"), col("model_b"))
    }),

    // mm23: the at-rest signal-store INVENTORY (round-15, VERDICT r14
    // ask #2's proof row): one row per container with its persisted
    // signal counts and additive checksums, read from the
    // [[graft.operators.MediaSignals]] store — which the session
    // builds through the build-then-append lifecycle — while the
    // oracle re-derives every number from the raw blobs. Green means
    // the appended store is bit-identical to fresh derivation (the
    // d10a append ≡ rebuild discipline) AND localizes any mm22
    // divergence to a single container's signals. Scale shape: two
    // pruned-column scans + per-model aggregates; no joins beyond
    // the metadata-grade full-outer merge.
    "mm23_signal_inventory" -> ((s, _) => {
      val store = mediaSignalsPath(s)
      val fi = graft.operators.MediaSignals.frames(s, store)
        .groupBy(col("model"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("ahash_hi")).as("sum_hash_hi"),
          sum(col("ahash_lo")).as("sum_hash_lo"))
      val si = graft.operators.MediaSignals.segs(s, store)
        .groupBy(col("model"))
        .agg(count(lit(1)).as("n_segs"),
          sum(col("fp_lo")).as("sum_fp_lo"),
          sum(col("n_frames_seg")).as("n_voiced_frames"))
      fi.join(si, Seq("model"), "full_outer")
        .select(col("model"),
          coalesce(col("n_frames"), lit(0L)).as("n_frames"),
          coalesce(col("sum_hash_hi"), lit(0L)).as("sum_hash_hi"),
          coalesce(col("sum_hash_lo"), lit(0L)).as("sum_hash_lo"),
          coalesce(col("n_segs"), lit(0L)).as("n_segs"),
          coalesce(col("sum_fp_lo"), lit(0L)).as("sum_fp_lo"),
          coalesce(col("n_voiced_frames"), lit(0L)).as("n_voiced_frames"))
        .orderBy(col("model"))
    }),

    // mm14: RIFF/WAVE header extraction — the real-container metadata
    // readout (sample rate, channels, bit depth, payload size,
    // duration) an audio ingest pipeline materializes before any
    // decode is paid for. Canonical-PCM layout, GATED on all four
    // chunk ids (see [[wavParsed]]); every field is an exact
    // little-endian integer, so the oracle re-parses the dumped blob
    // bytes independently. duration_ms = 1000·data_bytes div
    // byte_rate — exact fixed-point, engine-identical. Scale shape:
    // header-only hex (44 bytes) per blob, no join, row count =
    // valid wav count.
    "mm14_wav_header" -> ((s, _) =>
      wavParsed(s).select(col("model"), col("riff_bytes"),
        col("fmt_bytes"), col("audio_format"), col("n_channels"),
        col("sample_rate"), col("byte_rate"), col("block_align"),
        col("bits_per_sample"), col("data_bytes"),
        expr("(1000L * data_bytes) div byte_rate").as("duration_ms"))
        .orderBy(col("model"))),

    // mm15: whole-VIDEO near-dup via frame-signature containment —
    // the cut/re-edit detector above mm10/mm12's within-video grain
    // (a re-upload that trims an intro or re-cuts an ending shares
    // most of its FRAMES with the original even when per-video
    // adaptive thresholds re-draw the shot boundaries — which is why
    // the signature is the frame, not the shot). Each video's
    // distinct per-frame byte-sum signatures (mm8's exact checksum
    // lattice, one FrameSums byte walk) form its set; for every
    // intersecting ordered pair: |∩|, Jaccard, and containment
    // |∩| / min(|A|,|B|) — containment is the cut detector (a strict
    // prefix copy scores 10⁶ exactly; the planted vid_a / vid_a_cut
    // pair pins it). Scale shape: the inverted-index join — pairs
    // materialize ONLY through shared signatures (equi-join on the
    // signature value, never all-pairs), then a map-side-combinable
    // per-pair count; non-intersecting pairs never exist as rows, at
    // any corpus size.
    "mm15_video_neardup" -> ((s, _) =>
      videoNearDup(videoFrameSums(s))),

    // mm17: the CURATION AUDIT TABLE — one row per media asset with
    // the admission decision and its reason, the d18-lineage shape
    // for the multimodal family (at 100 TB the decision table IS the
    // curation product: what got dropped, and why, is what a data
    // audit reads — not the survivor set). Gates per modality, all
    // exact-integer and already oracle-proven elsewhere: images
    // reject on the flat-placeholder variance (< 1000 on the 0..765
    // gray scale — stricter than mm9's advisory flag); audio rejects
    // on mm11's mostly-silent share
    // (≥ 50% frames under energy 4096); video rejects exact/contained
    // duplicates from mm15's containment readout (the SMALLER frame
    // set is the redundant one; ties reject the lexicographically
    // later name) and degenerate sub-2-frame clips. Scale shape: the
    // three gate branches are the proven per-blob projections; the
    // only join is video's victim lookup against mm15's
    // metadata-sized pair frame.
    "mm17_curation_audit" -> ((s, dir) => {
      import graft.operators.Multimodal
      val st = graft.functions.BmpAHash.grayStats(col("silhouette"))
      val img = Meta.loadAircraftSilhouettes(s, Meta.silhouettesDir())
        .where(Multimodal.isBmp(col("silhouette")))
        .withColumn("st", st)
        .where(col("st").isNotNull)
        .select(lit("image").as("kind"), col("model"),
          col("length").as("n_bytes"),
          when(lit(64L) * col("st")(1) - col("st")(0) * col("st")(0) <
            lit(1000L * 4096), "flat_image").otherwise("ok").as("reason"))
      val aud = audioPcmBlobs(s)
        .withColumn("n_frames", floor(col("length") / 64).cast("int"))
        .withColumn("energies", graft.functions.FrameSums.frameEnergies(
          col("content"), lit(0), lit(64)))
        .select(lit("audio").as("kind"), col("model"),
          col("length").as("n_bytes"),
          when(col("n_frames") < 1, "too_short")
            .when(expr("""(1000000L * aggregate(energies, 0L,
              |  (acc, e) -> acc + IF(e < 4096, 1L, 0L)))
              |  div cast(n_frames AS bigint)""".stripMargin) >= 500000L,
              "mostly_silent")
            .otherwise("ok").as("reason"))
      // ONE shared frame lattice for BOTH video legs (round-13,
      // VERDICT r12 ask #4 — the scan-budget rule): the near-dup
      // victim lookup and the audit projection below used to each
      // re-derive videoFrameSums (two full container walks +
      // byte-sum lattices); the share()d frame is (model, ints +
      // long arrays) — never blob bytes.
      val lattice = graft.operators.Dedup.share(videoFrameSums(s))
      // one row per victim (ADVICE r10 #4): a video contained in 2+
      // others (or both an exact and a contained dup) would otherwise
      // fan out duplicate audit rows through the left join below;
      // min(vreason) is the deterministic one-reason pick
      // ('contained_dup' < 'exact_dup'), mirrored in the oracle.
      val nd = videoNearDup(lattice)
        .where(col("containment_ppm") === 1000000L)
        .select(
          when(col("n_b") < col("n_a"), col("other"))
            .when(col("n_a") < col("n_b"), col("model"))
            .otherwise(col("other")).as("model"),
          when(col("jaccard_ppm") === 1000000L, "exact_dup")
            .otherwise("contained_dup").as("vreason"))
        .groupBy(col("model")).agg(min(col("vreason")).as("vreason"))
      val vid = lattice
        .select(col("model"),
          // payload bytes = Σ demuxed frame sizes (round-12: frames
          // may vary per chunk; equals frame_size·n_frames when
          // uniform)
          expr("aggregate(szs, 0L, (acc, x) -> acc + x)").as("n_bytes"),
          col("n_frames"))
        .join(nd, Seq("model"), "left")
        .select(lit("video").as("kind"), col("model"), col("n_bytes"),
          when(col("n_frames") < 2, "too_short")
            .otherwise(coalesce(col("vreason"), lit("ok"))).as("reason"))
      img.unionByName(aud).unionByName(vid)
        .select(col("kind"), col("model"), col("n_bytes"),
          (col("reason") === "ok").as("admitted"), col("reason"))
        .orderBy(col("kind"), col("model"))
    }),

    // mm16: RIFF/AVI header extraction — the real-container metadata
    // readout for the VIDEO leg (mm14's story for video): frame
    // cadence, stream count, declared dimensions and exact
    // fixed-point rate/duration (fps_milli = 10⁹ div us_per_frame;
    // duration_ms = us·frames div 1000) from the avih chunk of a
    // canonical minimal AVI, gated on all five magics (see
    // [[aviParsed]]). Scale shape: header-only hex (72 bytes) per
    // blob, no join, row count = valid avi count.
    "mm16_avi_header" -> ((s, _) =>
      aviParsed(s).select(col("model"), col("riff_bytes"),
        col("us_per_frame"), col("total_frames"), col("n_streams"),
        col("width"), col("height"),
        expr("1000000000L div us_per_frame").as("fps_milli"),
        expr("(us_per_frame * total_frames) div 1000").as("duration_ms"))
        .orderBy(col("model"))),

    // mm18: CONTAINER CONSISTENCY AUDIT — declared-vs-derived header
    // validation over every RIFF blob (wav ∪ avi), the intake check a
    // curation pipeline runs BEFORE trusting container metadata (a
    // header that lies about its byte rate poisons every duration /
    // bitrate readout downstream; a declared size that disagrees with
    // the file length marks truncation or trailing junk). One row per
    // blob — including the ones the structural gate REJECTS (an audit
    // that hides its failures is not an audit; mm17's principle at the
    // container grain). Checks, all exact-integer:
    //  wav: structure (walked fmt+data), riff_size == length-8,
    //       byte_rate == sample_rate·block_align AND block_align ==
    //       n_channels·(bits div 8), payload fits in the blob;
    //  avi: structure (five magics + walked movi + '00db'),
    //       riff_size == length-8, us_per_frame > 0 AND frame_size ==
    //       width·height, all declared frames fit (completeness).
    // Scale shape: header-only per blob, joinless; row count = blob
    // count. The planted claim_j (lying byte_rate) fails EXACTLY the
    // rate check.
    "mm18_container_audit" -> ((s, _) => {
      def ok(structOk: Column, c: Column) =
        when(structOk, c).otherwise(lit(false))
      val wav = Riff.withWavColumns(
        Meta.loadMediaFiles(s, Meta.mediaDir(), "wav"))
        .select(lit("wav").as("container"), col("model"),
          col("length").as("n_bytes"),
          col("wav_ok").as("structure_ok"),
          ok(col("wav_ok"),
            col("riff_bytes") === col("length") - 8).as("riff_size_ok"),
          ok(col("wav_ok"),
            col("byte_rate") === col("sample_rate") * col("block_align")
              && col("block_align") === col("n_channels") *
                expr("bits_per_sample div 8")).as("rate_ok"),
          // the SHARED fits column (drift-proof with admission):
          // both chunk bodies must fit in the blob
          ok(col("wav_ok"), col("wav_fits")).as("payload_ok"),
          // wav locates chunks, it demuxes nothing — the column
          // exists so the avi walk-cap audit (round-13) has one
          // schema across containers
          ok(col("wav_ok"), lit(true)).as("demux_complete"),
          // round-15 (VERDICT r14 ask #4): the codec verdict beside
          // the structural one — a structurally-perfect MP3-in-WAV is
          // `consistent` yet undecodable here, and it must say WHY
          // instead of silently vanishing from the audio corpus
          when(!col("wav_ok"), lit("unparsed"))
            .otherwise(Riff.audioCodecReason(col("content"),
              col("fmt_off"), col("fmt_bytes"), col("audio_format"),
              col("bits_per_sample"), col("n_channels")))
            .as("codec_reason"))
      val avi = Riff.withAviColumns(Meta.loadMediaFiles(s, Meta.mediaDir(),
          "avi"))
        // structure = the shared walk gate (form + walked hdrl +
        // avih) + a walked movi LIST (round-12: the first-sub-chunk-
        // is-00db requirement is gone — an interleaved audio-first
        // movi is structurally fine, the demux keys on chunk ids)
        .withColumn("structure_ok", col("avi_ok") && col("movi_off") >= 0)
        .select(lit("avi").as("container"), col("model"),
          col("length").as("n_bytes"),
          col("structure_ok"),
          ok(col("structure_ok"),
            col("riff_bytes") === col("length") - 8).as("riff_size_ok"),
          // declared counts stay LONG (round-11 review): an int cast
          // would WRAP exactly the lying headers this audit exists to
          // flag; width·height rides decimal so a hostile 2³¹-scale
          // pair cannot throw under ANSI overflow. Every demuxed
          // frame must match the declared dimensions (round-12: the
          // check covers ALL frame chunks, not just the first — a
          // variable-size frame stream flags rather than hides).
          // MJPG (round-14): compressed frame sizes are decoupled
          // from w·h by definition — the per-frame check degrades to
          // non-emptiness, honest for a codec whose conformance is
          // only decidable by decoding (which mm19 does and pins)
          ok(col("structure_ok"),
            col("us_per_frame") > 0 && when(col("avi_is_mjpg"), expr(
              """aggregate(avi_frames, true, (acc, x) -> acc AND
                |  (x & 4294967295) > 0)""".stripMargin))
              .otherwise(expr(
                """aggregate(avi_frames, true, (acc, x) -> acc AND
                  |  CAST(x & 4294967295 AS DECIMAL(20,0)) =
                  |    CAST(width AS DECIMAL(20,0)) * height)"""
                  .stripMargin))).as("rate_ok"),
          // completeness: the declared frame count is DEMUXED and
          // every declared frame's payload fits. nf ≤ found-count
          // (≤ 4096 by the walk bound) keeps the slice int cast
          // safe; when()-guarded (CASE branches are lazy by
          // contract) — an insane declared count is by itself a
          // payload inconsistency
          when(col("structure_ok") &&
              col("total_frames") <= size(col("avi_frames")),
            col("total_frames") === 0 || Riff.packsFit(
              slice(col("avi_frames"), lit(1),
                col("total_frames").cast("int")),
              col("content")))
            .otherwise(lit(false)).as("payload_ok"),
          // round-13 (ADVICE r12 #1): the movi walk must ATTEST it
          // consumed the whole LIST — a > 4096-sub-chunk movi
          // truncates the demux lists at the walk cap, and an audit
          // that reads a truncated list as "the chunks" would hide
          // exactly the incompleteness it exists to surface
          ok(col("structure_ok"),
            col("avi_walk_complete")).as("demux_complete"),
          // round-15 (VERDICT r14 ask #4): name the codec that made
          // the frame families exclude this container — 'h264' is
          // its own code (the highest-hit-rate reject class on a
          // real crawl); raw and MJPG are 'ok'
          when(!col("structure_ok"), lit("unparsed"))
            .otherwise(Riff.videoCodecReason(col("avi_vcodec_hex")))
            .as("codec_reason"))
      wav.unionByName(avi)
        .withColumn("consistent", col("structure_ok") &&
          col("riff_size_ok") && col("rate_ok") && col("payload_ok") &&
          col("demux_complete"))
        .orderBy(col("container"), col("model"))
    }),

    // mm19: FRAME-LEVEL perceptual near-dup across videos — the
    // re-encode detector byte-exact dedup cannot be (round-12): a
    // video re-saved with tiny pixel deltas shares NO frame byte
    // sums with its source (mm15 sees two unrelated videos; the
    // planted vid_scene_b twin proves it), but its 8×8 point-sample
    // aHash is unchanged, so frame-granular hamming-NN finds every
    // twin at distance 0. Per demuxed CONFORMING frame (declared
    // size = width·height — the raw-gray contract; off-dims frames
    // are excluded visibly, the vid_mix case): hash through the
    // BmpAHash grid convention (a frame and a BMP of the same
    // content hash comparably), then the shared HammingNN readout
    // restricted to CROSS-VIDEO neighbors (an adjacent same-video
    // frame is trivially near and carries no dedup signal). Scale
    // shape: the hash is a per-blob transform (joinless, one scan),
    // NN is the routed band join; row count = Σ conforming frames.
    // Keys are PACKED LONGS (round-13, VERDICT r12 ask #5 — the d19
    // idiom): models dictionary-encode against the video-catalog
    // dimension (metadata-sized relative to frames — one row per
    // admitted video, broadcast both ways), key = mid·2³² +
    // frame_idx, so the band exchange shuffles 8-byte keys, never
    // model#frame strings; the presentation `nn_key` string is
    // rebuilt from the broadcast dictionary AFTER the NN readout.
    // Equal-hamming ties now break on (mid, frame_idx) — numeric
    // frame order, mirrored in the oracle's ORDER BY (the retired
    // string key ordered "#10" before "#2").
    "mm19_frame_phash" -> ((s, _) => {
      val hashed = mm19Hashed(s)
      val nn = graft.operators.HammingNN.nearest(hashed, "key",
        "ahash_hi", "ahash_lo", crossGroup = Some("mid"))
      // LEFT join — the HammingNN caller contract (band-isolated
      // keys surface as NULL-NN rows, never vanish); the NN's packed
      // key decodes arithmetically, the model name comes back from
      // the broadcast dictionary
      hashed.join(nn, Seq("key"), "left")
        .join(broadcast(mm19Dict(s).select(col("mid").as("__nmid"),
            col("model").as("__nmodel"))),
          shiftrightunsigned(col("nn_key"), 32) === col("__nmid"), "left")
        .select(col("model"), col("frame_idx"), col("ahash_hi"),
          col("ahash_lo"),
          when(col("nn_key").isNotNull, concat(col("__nmodel"), lit("#"),
            col("nn_key").bitwiseAND(lit(4294967295L)))).as("nn_key"),
          col("nn_hamming"))
        .orderBy(col("model"), col("frame_idx"))
    }),

    // mm8: frame sampling from a video container — the "every k-th
    // frame" primitive a multimodal training pipeline runs before
    // any per-frame model. The toy GVID container ("GVID" + u16le
    // frame_size + u16le n_frames + frames) stands in for a real
    // demuxer, but every Spark-side stage is the real shape: magic
    // gate, little-endian header parse (the mm_media_features hex
    // trick), per-row explode of the sampled frame index sequence,
    // and an O(frame) byte-sum checksum per sampled frame — all
    // built-in codegen'd expressions, row count = Σ⌈n_frames/k⌉
    // never Σ n_frames. The oracle re-parses header and frames from
    // the dumped blobs and replays the k=4 sampling lattice.
    "mm8_frame_sample" -> ((s, _) =>
      // gvid ∪ demuxed avi (see videoFrameSums): the sampled frame's
      // byte offset honors each container's own layout — for gvid
      // 8 + idx·frame_size, for avi the demuxed 00db chunk's own
      // payload position (interleaved audio chunks shift it, so a
      // uniform stride no longer exists; round-12)
      videoFrameSums(s)
        // nf = 0 is ADMITTED by the lattice gates (empty arrays) but
        // sequence(0, -1, 4) throws — filter, matching the oracle's
        // empty range(0, 0, 4) (round-12 review)
        .where(col("n_frames") > 0)
        .withColumn("frame_idx",
          explode(expr("sequence(0, n_frames - 1, 4)")))
        .select(col("model"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"),
          expr("element_at(offs, frame_idx + 1)").as("offset"),
          expr("element_at(sums, frame_idx + 1)").as("bytesum"))
        .orderBy(col("model"), col("frame_idx"))),

    // mm10: shot-boundary detection — the scene segmentation
    // primitive a video curation pipeline runs before per-shot
    // sampling/dedup (a cut is where consecutive-frame content
    // jumps). Signal: per-frame byte-sum energies over the GVID
    // lattice (mm8's parse), adjacent absolute deltas, and a
    // per-video adaptive threshold of 2× the mean absolute delta —
    // all exact integers (positive floor-div = trunc-div on both
    // engines), so the oracle re-derives every flag from the dumped
    // blobs. The vid_scene fixture plants one hard cut (dark→bright
    // at frame 8, Δ ≈ 54k vs threshold ≈ 7k) so a 0-boundary green
    // proves nothing. Scale shape: per-blob O(bytes) map work in
    // built-in codegen'd expressions, row count Σ(n_frames−1), no
    // join anywhere.
    "mm10_shot_boundaries" -> ((s, _) => {
      // gvid ∪ demuxed avi — the same content must segment
      // identically from either container (see videoFrameSums)
      videoFrameSums(s)
        .where(col("n_frames") >= 2)
        .withColumn("deltas", expr(
          """transform(sequence(1, n_frames - 1), f ->
            |  abs(element_at(sums, f + 1) - element_at(sums, f)))"""
            .stripMargin))
        .withColumn("thr", expr(
          """2L * (aggregate(deltas, 0L, (acc, d) -> acc + d)
            |  div cast(n_frames - 1 AS bigint))""".stripMargin))
        .withColumn("frame_idx", explode(expr("sequence(1, n_frames - 1)")))
        .select(col("model"), col("frame_idx").cast("long").as("frame_idx"),
          expr("element_at(sums, frame_idx + 1)").as("energy"),
          expr("element_at(deltas, frame_idx)").as("delta_abs"),
          col("thr"),
          expr("element_at(deltas, frame_idx) > thr").as("is_boundary"))
        .orderBy(col("model"), col("frame_idx"))
    }),

    // mm12: per-shot KEYFRAME selection — the representative-frame
    // primitive a video pipeline runs between mm10's segmentation
    // and any per-frame embedding/dedup (one frame per shot is what
    // gets paid for downstream, not Σ n_frames). Shots are mm10's
    // boundary lattice consumed as segments (shot id = running
    // boundary count, the t28 phrase-id convention); the keyframe is
    // the shot's max-energy frame, ties to the EARLIEST frame — all
    // exact integers on mm10's byte-sum energies, so the oracle
    // re-derives every pick from the dumped blobs. Scale shape: the
    // same per-blob O(bytes) parse as mm10, one per-video window for
    // the running shot id (a video's frames are one key group by
    // construction), then a map-side-combinable per-(video, shot)
    // aggregate via min(struct(-energy, frame)) — no row_number sort,
    // row count Σ shots ≤ Σ n_frames.
    "mm12_keyframes" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val fx = videoFrameSums(s) // gvid ∪ demuxed avi — see mm10
        .where(col("n_frames") >= 2)
        .withColumn("deltas", expr(
          """transform(sequence(1, n_frames - 1), f ->
            |  abs(element_at(sums, f + 1) - element_at(sums, f)))"""
            .stripMargin))
        .withColumn("thr", expr(
          """2L * (aggregate(deltas, 0L, (acc, d) -> acc + d)
            |  div cast(n_frames - 1 AS bigint))""".stripMargin))
        .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
        .select(col("model"), col("frame_idx").cast("long").as("frame_idx"),
          expr("element_at(sums, frame_idx + 1)").as("energy"),
          expr("""IF(frame_idx = 0, 0L,
            |  IF(element_at(deltas, frame_idx) > thr, 1L, 0L))"""
            .stripMargin).as("isb"))
      fx.withColumn("shot_id",
          sum(col("isb")).over(Window.partitionBy(col("model"))
            .orderBy(col("frame_idx"))))
        .groupBy(col("model"), col("shot_id"))
        .agg(min(col("frame_idx")).as("start_frame"),
          max(col("frame_idx")).as("end_frame"),
          count(lit(1)).as("n_frames_shot"),
          min(struct((-col("energy")).as("ne"),
            col("frame_idx").as("fi"))).as("kf"))
        .select(col("model"), col("shot_id"), col("start_frame"),
          col("end_frame"), col("n_frames_shot"),
          col("kf.fi").as("keyframe_idx"),
          (-col("kf.ne")).as("keyframe_energy"))
        .orderBy(col("model"), col("shot_id"))
    }),

    // mm20: per-shot MEDOID keyframes (round-13, VERDICT r12 stretch
    // #7) — mm12 picks the max-ENERGY frame per shot; the standard
    // video-curation step picks the most REPRESENTATIVE one: the
    // shot member minimizing total perceptual (hamming) distance to
    // its fellow members — the medoid over mm19's 8×8 point-sample
    // aHash. Composes two oracle-proven lattices: mm10's shot
    // segmentation (running boundary count over byte-sum deltas)
    // and mm19's per-frame hash; membership is CONFORMING frames
    // only (a hash-less off-dims frame — the vid_mix case — neither
    // votes nor wins; a shot with no hashed frame emits no row).
    // Ties break to the earliest frame. Scale shape: the per-blob
    // lattices are joinless scans; the medoid pays one equi-join on
    // (model, shot) — Σ shot_size² pairs, bounded by shot length
    // (shots are short by construction; a pathological single-shot
    // video is the caller's segmentation problem, not a join
    // explosion: the join stays keyed, never cross-video) — then a
    // map-side-combinable min(struct) argmin, row count = Σ shots.
    "mm20_shot_medoids" -> ((s, _) => {
      import org.apache.spark.sql.expressions.Window
      val shots = videoFrameSums(s)
        .where(col("n_frames") >= 2)
        .withColumn("deltas", expr(
          """transform(sequence(1, n_frames - 1), f ->
            |  abs(element_at(sums, f + 1) - element_at(sums, f)))"""
            .stripMargin))
        .withColumn("thr", expr(
          """2L * (aggregate(deltas, 0L, (acc, d) -> acc + d)
            |  div cast(n_frames - 1 AS bigint))""".stripMargin))
        .withColumn("frame_idx", explode(expr("sequence(0, n_frames - 1)")))
        .select(col("model"), col("frame_idx").cast("long").as("frame_idx"),
          expr("""IF(frame_idx = 0, 0L,
            |  IF(element_at(deltas, frame_idx) > thr, 1L, 0L))"""
            .stripMargin).as("isb"))
        .withColumn("shot_id",
          sum(col("isb")).over(Window.partitionBy(col("model"))
            .orderBy(col("frame_idx"))))
        .select(col("model"), col("frame_idx"), col("shot_id"))
      // share(): the member frame feeds BOTH sides of the medoid
      // join — without it the whole demux + hash pipeline runs twice
      val members = graft.operators.Dedup.share(
        mm19Hashed(s).select(col("model"), col("frame_idx"),
            col("ahash_hi"), col("ahash_lo"))
          .join(shots, Seq("model", "frame_idx")))
      members.as("a").join(members.as("b"),
          col("a.model") === col("b.model") &&
            col("a.shot_id") === col("b.shot_id"))
        .groupBy(col("a.model").as("model"),
          col("a.shot_id").as("shot_id"),
          col("a.frame_idx").as("frame_idx"))
        .agg((sum(bit_count(col("a.ahash_hi").bitwiseXOR(col("b.ahash_hi"))) +
            bit_count(col("a.ahash_lo").bitwiseXOR(col("b.ahash_lo")))))
          .cast("long").as("th"),
          count(lit(1)).as("nm"))
        .groupBy(col("model"), col("shot_id"))
        .agg(min(struct(col("th"), col("frame_idx").as("fi"))).as("m"),
          max(col("nm")).as("n_hashed"))
        .select(col("model"), col("shot_id"),
          col("m.fi").as("medoid_idx"),
          col("m.th").as("total_hamming"), col("n_hashed"))
        .orderBy(col("model"), col("shot_id"))
    })
  )

  /** Dump the oracle base tables (raw fixture lines, sessionizer
    * output for both fixtures, metadata dims) as parquet under `dir`.
    * Called by Verify before the query loop; the oracle SQL below
    * reads these via `read_parquet` after `__BASE__` substitution.
    * Timestamps are dumped as wall-clock (ntz) so DuckDB reads them
    * as naive TIMESTAMP — the same convention the queries emit. */
  def writeOracleBase(spark: SparkSession, dir: String): Unit = {
    def w(df: DataFrame, n: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
    val outCols = Seq("session_start", "time", "first_seen", "last_seen")
    w(Sbs.fixtureLines(spark, "adsb_message_stream.txt"), "adsb_raw")
    w(ntz(out(spark).toDF, outCols: _*), "adsb_out")
    w(ntz(goldenOut(spark).toDF, outCols: _*), "adsb_out_golden")
    w(Meta.loadAirlines(spark).select(col("icao"), col("name"),
      col("country")), "airlines")
    w(Meta.loadCountries(spark).select(col("name"), col("code")),
      "countries")
    w(Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir()),
      "mm_blobs")
    w(Meta.loadMediaFiles(spark, Meta.mediaDir(), "pcm"), "audio_blobs")
    w(Meta.loadMediaFiles(spark, Meta.mediaDir(), "wav"), "wav_blobs")
    w(Meta.loadMediaFiles(spark, Meta.mediaDir(), "avi"), "avi_blobs")
    w(Meta.loadMediaFiles(spark, Meta.mediaDir(), "gvid"), "video_blobs")
    w(Meta.airportsTable(spark), "meta_airports")
    w(Meta.runwaysTable(spark), "meta_runways")
    w(Meta.rangeRingsTable(spark), "meta_range_rings")
  }

  /** `[x,y]` pair list SQL over an array<struct<x,y>> lambda var. */
  private def sqlRing(pts: String): String =
    s"""'[' || array_to_string(list_transform($pts,
       | p -> printf('[%.6f,%.6f]', p.x, p.y)), ',') || ']'""".stripMargin

  private def tbl(n: String) = s"read_parquet('__BASE__/$n/*.parquet')"

  /** The batch sessionizer's dump, whole-row ordered — the oracle
    * BOTH stream-parity rows diff against (in-order and bounded-
    * disorder replays must land on the identical row set). */
  private def streamParitySql: String =
    s"""SELECT kind, hexident, session_start, time, first_seen,
       |  last_seen, callsign, n_positions, lon, lat, alt_m, onground,
       |  runway
       |FROM ${tbl("adsb_out")}
       |ORDER BY kind, hexident, session_start, time,
       |  first_seen NULLS FIRST, last_seen NULLS FIRST,
       |  callsign NULLS FIRST, n_positions NULLS FIRST,
       |  lon NULLS FIRST, lat NULLS FIRST, alt_m NULLS FIRST,
       |  onground NULLS FIRST, runway NULLS FIRST""".stripMargin

  /** DuckDB little-endian integer read over a hex'd blob: `n` bytes
    * from 1-based byte `pos` (fixed-offset twin of [[dkLeAt]]). */
  private def dkLe(hx: String, pos: Int, n: Int): String =
    "('0x' || " + (0 until n).reverse
      .map(i => s"substr($hx, ${(pos - 1 + i) * 2 + 1}, 2)")
      .mkString(" || ") + ")::BIGINT"

  /** [[dkLe]] at a VARIABLE 0-based byte offset (`off` is a SQL
    * expression) — the oracle twin of `Riff.leIntAt`. */
  private def dkLeAt(hx: String, off: String, n: Int): String =
    "('0x' || " + (0 until n).reverse
      .map(i => s"substr($hx, (($off) + $i) * 2 + 1, 2)")
      .mkString(" || ") + ")::BIGINT"

  /** The DuckDB replay of [[graft.functions.Pcm.canonical]] over a
    * payload HEX column: canonical unsigned-8-mono sample hex from
    * (`ph` hex, `fmt` — NORMALIZED: callers map 65534 → 1 exactly as
    * [[graft.functions.Pcm.canonFormat]] does — `bits`, `ch`; all
    * pre-gated by the caller's [[graft.functions.Riff
    * .sampleFormatOk]] twin). Same rule, independently expressed:
    * unsigned space first (16-bit LE signed + 32768 = `xor(le16,
    * 32768)`; G.711 µ-law/A-law decode by the same ITU formulas the
    * kernel uses, + 32768), stereo collapses to `(L + R) // 2`,
    * 16-bit-space values keep the top byte (`// 256`), a trailing
    * partial sample frame drops via the floor-division sample
    * count. Linear 8-bit mono is the identity (the pre-round-13
    * hex, so prior oracle replays are byte-identical). */
  private def pcmCanonHexSql(ph: String, fmt: String, bits: String,
      ch: String): String = {
    def b(off: String) = s"('0x' || substr($ph, ($off) * 2 + 1, 2))::BIGINT"
    def u16(off: String) =
      s"xor(${b(off)} + 256 * ${b(s"($off) + 1")}, 32768)"
    // G.711 byte at byte-offset `off` -> unsigned-16 (linear + 32768)
    def g711(off: String) =
      s"""(CASE WHEN $fmt = 7 THEN
         |    (CASE WHEN (255 - ${b(off)}) >= 128 THEN -1 ELSE 1 END) *
         |      ((((255 - ${b(off)}) % 16) * 8 + 132) *
         |        (1::BIGINT << CAST(((255 - ${b(off)}) // 16) % 8
         |          AS INTEGER)) - 132)
         |  ELSE
         |    (CASE WHEN xor(${b(off)}, 85) >= 128 THEN 1 ELSE -1 END) *
         |      (CASE WHEN ((xor(${b(off)}, 85) // 16) % 8) = 0
         |        THEN (xor(${b(off)}, 85) % 16) * 16 + 8
         |        ELSE ((xor(${b(off)}, 85) % 16) * 16 + 264) *
         |          (1::BIGINT << CAST((((xor(${b(off)}, 85) // 16) % 8)
         |            - 1) AS INTEGER))
         |        END)
         |  END + 32768)""".stripMargin
    // IEEE binary32 at byte offset `off` -> unsigned-16 sample
    // (floor(clamp·32767) + 32768) — the exact integer-from-raw-bits
    // replay of [[graft.functions.Pcm.f32ToV16]] (round-14): same
    // exponent cases, same sign-aware ceiling shift, no float op
    // anywhere, so the two engines cannot diverge by an ulp.
    def f32(off: String) = {
      val u = s"(${b(off)} + 256 * ${b(s"($off) + 1")} + " +
        s"65536 * ${b(s"($off) + 2")} + 16777216 * ${b(s"($off) + 3")})"
      val e = s"(($u // 8388608) % 256)"
      val m = s"($u % 8388608)"
      val sg = s"($u >= 2147483648)"
      s"""(CASE WHEN $e = 255 THEN
         |    (CASE WHEN $m <> 0 THEN 0
         |          WHEN $sg THEN -32767 ELSE 32767 END)
         |  WHEN $e >= 127 THEN (CASE WHEN $sg THEN -32767 ELSE 32767 END)
         |  WHEN $e <= 87 THEN
         |    (CASE WHEN $sg AND ($m > 0 OR $e > 0) THEN -1 ELSE 0 END)
         |  WHEN $sg THEN -((($m + 8388608) * 32767
         |    + (1::BIGINT << CAST(150 - $e AS INTEGER)) - 1)
         |    >> CAST(150 - $e AS INTEGER))
         |  ELSE (($m + 8388608) * 32767) >> CAST(150 - $e AS INTEGER)
         |  END + 32768)""".stripMargin
    }
    s"""CASE WHEN $fmt = 1 AND $bits = 8 AND $ch = 1 THEN $ph
       |    ELSE array_to_string(list_transform(
       |      range(0, (length($ph) // 2) //
       |        (CASE WHEN $fmt = 1 THEN ($bits // 8) * $ch
       |              WHEN $fmt = 3 THEN 4 * $ch
       |              ELSE $ch END)),
       |      i -> printf('%02X',
       |        CASE WHEN $fmt = 1 AND $bits = 8
       |          THEN (${b("i * 2")} + ${b("i * 2 + 1")}) // 2
       |          WHEN $fmt = 1 AND $ch = 1 THEN ${u16("i * 2")} // 256
       |          WHEN $fmt = 1
       |          THEN ((${u16("i * 4")} + ${u16("i * 4 + 2")}) // 2) // 256
       |          WHEN $fmt = 3 AND $ch = 1 THEN ${f32("i * 4")} // 256
       |          WHEN $fmt = 3
       |          THEN ((${f32("i * 8")} + ${f32("i * 8 + 4")}) // 2) // 256
       |          WHEN $ch = 1 THEN ${g711("i")} // 256
       |          ELSE ((${g711("i * 2")} + ${g711("i * 2 + 1")}) // 2)
       |            // 256
       |        END)), '')
       |    END""".stripMargin
  }

  /** Bounded RIFF chunk walk over the (model, hx, st, en0) rows of
    * CTE `src` — the DuckDB replay of [[graft.functions.Riff]]'s
    * kernel over an ARBITRARY byte range (st = 0-based start, en0 =
    * exclusive stop, both already clamped by the caller): emits
    * `<pre>wk` (the recursion: p = each chunk's 0-based offset) and
    * `<pre>ck` (one row per chunk: cid/ctype hex, sz = declared
    * size; ctype is the form word of LIST chunks, garbage hex
    * otherwise — callers pair it with cid = 'LIST'). Same advance
    * rule (8 + size + even pad), same 4096-chunk bound as the
    * kernel. Sub-walks (inside an `hdrl` or `movi` LIST) feed this
    * directly; the top-level convenience below fixes (12, blob
    * length). The enclosing WITH must be RECURSIVE. */
  private def riffSubWalkCte(src: String, pre: String): String =
    riffSubWalkKeyedCte(
      s"(SELECT model, CAST(0 AS BIGINT) AS kp, hx, st, en0 FROM $src)",
      pre)

  /** The ONE walk template (round-12 second-pass review: every other
    * walk grain derives from this so the advance rule cannot drift):
    * an extra per-row key `kp` scopes one walk per (model, kp)
    * region, for ranges that occur several times per blob (each
    * `strl` LIST inside `hdrl`); the unkeyed sub-walk pins kp = 0
    * and the top-level walk anchors (12, blob end) on top of that.
    * `src` must provide (model, kp, hx, st, en0). */
  private def riffSubWalkKeyedCte(src: String, pre: String): String = {
    def sz(p: String) = dkLeAt("hx", s"$p + 4", 4)
    s"""${pre}wk AS (
       |  SELECT model, kp, hx, CAST(st AS BIGINT) AS p, 0 AS i,
       |    CAST(en0 AS BIGINT) AS stp
       |  FROM $src
       |  UNION ALL
       |  SELECT model, kp, hx, p + 8 + ${sz("p")} + (${sz("p")} % 2) AS p,
       |    i + 1 AS i, stp
       |  FROM ${pre}wk
       |  WHERE p + 8 <= stp AND i < 4096),
       |${pre}ck AS (
       |  SELECT model, kp, p, substr(hx, p * 2 + 1, 8) AS cid,
       |    substr(hx, (p + 8) * 2 + 1, 8) AS ctype, ${sz("p")} AS sz,
       |    stp
       |  FROM ${pre}wk
       |  WHERE p + 8 <= stp AND i < 4096)""".stripMargin
  }

  /** [[riffSubWalkCte]] anchored at the top level: byte 12 (past the
    * RIFF header + form word) to the blob end — ONE definition of
    * the walk for both grains, so the advance rule cannot drift. */
  private def riffWalkCte(src: String, pre: String): String =
    riffSubWalkCte(
      s"(SELECT model, hx, 12 AS st, length(hx) // 2 AS en0 FROM $src)",
      pre)

  /** Shared WAV header CTE chain — the DuckDB replay of
    * [[graft.functions.Riff.withWavColumns]] under prefix `pre`
    * (round-14: mm14, mm18 and the audio-corpus CTE each carried a
    * hand copy of the fmt/data lookups, and RF64 support would have
    * tripled that drift surface — one template now, the
    * riffSubWalkKeyedCte discipline at the header grain). Emits
    * `${pre}hdrx`: ONE row per dumped wav blob, REJECTS INCLUDED
    * (consumers gate on the boolean columns): (model, n_bytes, hx,
    * structure_ok, fits, riff_bytes, fmt_off, fmt_sz, data_off,
    * data_bytes, audio_format, n_channels, sample_rate, byte_rate,
    * block_align, bits). `riff_bytes`/`data_bytes` are the EFFECTIVE
    * sizes: where an `rf64_ok` header (RF64/WAVE form + a ds64 chunk
    * of ≥ 28 fitting bytes whose u64 sizes' top two bytes are zero)
    * holds the 0xFFFFFFFF placeholder, the ds64 values replace the
    * 32-bit reads — the exact withWavColumns rule. Requires WITH
    * RECURSIVE. */
  private def wavHdrCtes(pre: String): String =
    s"""${pre}wv AS (
       |  SELECT model, length, hex(content) AS hx FROM ${tbl("wav_blobs")}),
       |${riffWalkCte(s"${pre}wv", s"${pre}w")},
       |${pre}fc AS (
       |  SELECT model, min_by(sz, p) AS sz, min(p) + 8 AS o
       |  FROM ${pre}wck WHERE cid = '666D7420' GROUP BY model),
       |${pre}dc AS (
       |  SELECT model, min_by(sz, p) AS sz, min(p) + 8 AS o
       |  FROM ${pre}wck WHERE cid = '64617461' GROUP BY model),
       |${pre}d64 AS (
       |  SELECT model, min_by(sz, p) AS sz, min(p) + 8 AS o
       |  FROM ${pre}wck WHERE cid = '64733634' GROUP BY model),
       |${pre}r64 AS (
       |  SELECT w.model, s.o,
       |    coalesce(substr(w.hx, 1, 8) = '52463634'
       |      AND substr(w.hx, 17, 8) = '57415645'
       |      AND s.sz >= 28 AND s.o + 28 <= length(w.hx) // 2
       |      AND ${dkLeAt("w.hx", "s.o + 6", 2)} = 0
       |      AND ${dkLeAt("w.hx", "s.o + 14", 2)} = 0, false) AS ok
       |  FROM ${pre}wv w LEFT JOIN ${pre}d64 s USING (model)),
       |${pre}hdr0 AS (
       |  SELECT w.model, CAST(w.length AS BIGINT) AS n_bytes, w.hx,
       |    coalesce(((substr(w.hx, 1, 8) = '52494646'
       |        AND substr(w.hx, 17, 8) = '57415645') OR r.ok)
       |      AND f.o IS NOT NULL AND d.o IS NOT NULL
       |      AND f.sz >= 16, false) AS structure_ok,
       |    CASE WHEN r.ok AND ${dkLe("w.hx", 5, 4)} = 4294967295
       |      THEN ${dkLeAt("w.hx", "r.o", 6)}
       |      ELSE ${dkLe("w.hx", 5, 4)} END AS riff_bytes,
       |    f.o AS fmt_off, f.sz AS fmt_sz, d.o AS data_off,
       |    CASE WHEN r.ok AND d.sz = 4294967295
       |      THEN ${dkLeAt("w.hx", "r.o + 8", 6)}
       |      ELSE d.sz END AS data_bytes,
       |    ${dkLeAt("w.hx", "f.o", 2)} AS audio_format,
       |    ${dkLeAt("w.hx", "f.o + 2", 2)} AS n_channels,
       |    ${dkLeAt("w.hx", "f.o + 4", 4)} AS sample_rate,
       |    ${dkLeAt("w.hx", "f.o + 8", 4)} AS byte_rate,
       |    ${dkLeAt("w.hx", "f.o + 12", 2)} AS block_align,
       |    ${dkLeAt("w.hx", "f.o + 14", 2)} AS bits
       |  FROM ${pre}wv w
       |  LEFT JOIN ${pre}fc f USING (model)
       |  LEFT JOIN ${pre}dc d USING (model)
       |  LEFT JOIN ${pre}r64 r USING (model)),
       |${pre}hdrx AS (
       |  SELECT *,
       |    coalesce(data_off + data_bytes <= n_bytes
       |      AND fmt_off + fmt_sz <= n_bytes, false) AS fits
       |  FROM ${pre}hdr0)""".stripMargin

  /** Shared AVI walk/demux CTE chain — the DuckDB replay of
    * [[graft.functions.Riff.withAviColumns]] (round-12): over ALL
    * dumped avi blobs, walk the top level for the `hdrl` LIST, walk
    * INSIDE `hdrl` for `avih`, decode the header fields, walk the
    * top level for `movi` and walk INSIDE it for the ordered `00db`
    * video chunks (interleaved `01wb` audio chunks skipped by id,
    * per-chunk sizes kept). Emits:
    *  - `avsrc (model, hx)`: every blob (walks run on garbage too —
    *    bounded, harmless; gates are conditions, not inputs);
    *  - `avhdr (model, hx, uspf, nf, nstreams, wd, ht)`: blobs
    *    passing the Spark-side `avi_ok` gate (RIFF('AVI ') form +
    *    walked hdrl + walked avih of ≥ 40 declared bytes that fit);
    *  - `avmv (model, movi0, msz)`: the movi LIST where present;
    *  - `avdb (model, off, sz, rn)`: the demuxed 00db chunks in walk
    *    order (rn = 1-based frame index).
    * Requires WITH RECURSIVE. */
  private def aviDemuxCtes: String = aviDemuxCtes("av")

  /** The same chain under an arbitrary CTE-name prefix, so a query
    * whose WITH already embeds the video chain (mm17) can ALSO embed
    * the audio leg's copy without name collisions. The externally
    * consumed names are `${pre}src`, `${pre}hdr`, `${pre}mv`,
    * `${pre}db` (the CODEC-ROUTED frame chunks — round-14: 00dc for
    * models whose first 'vids' strl declares fccHandler MJPG
    * (`${pre}mj`, via the keyed strl sub-walk `${pre}vs*` — the
    * replay of `Riff.findStreamChunk`), 00db for everything else,
    * so every frame consumer sees one list), `${pre}wb` (01wb audio
    * chunks, round-12) and `${pre}mcap` (models whose movi walk HIT
    * the
    * 4096-chunk cap — round-13, the truncated-demux audit: a wk row
    * at i = 4096 with another header still in range is exactly the
    * kernel's cap-stop condition). */
  private def aviDemuxCtes(pre: String): String =
    s"""${pre}src AS (
       |  SELECT model, hex(content) AS hx FROM ${tbl("avi_blobs")}),
       |${riffWalkCte(s"${pre}src", pre)},
       |${pre}hd AS (
       |  SELECT model, min(p) + 8 AS hoff, min_by(sz, p) AS hsz
       |  FROM ${pre}ck WHERE cid = '4C495354' AND ctype = '6864726C'
       |    AND sz >= 4
       |  GROUP BY model),
       |${pre}hsrc AS (
       |  SELECT s.model, s.hx, h.hoff + 4 AS st,
       |    least(h.hoff + h.hsz, length(s.hx) // 2) AS en0
       |  FROM ${pre}src s JOIN ${pre}hd h USING (model)),
       |${riffSubWalkCte(s"${pre}hsrc", s"${pre}h")},
       |${pre}ih AS (
       |  SELECT model, min(p) + 8 AS aoff, min_by(sz, p) AS asz
       |  FROM ${pre}hck WHERE cid = '61766968' GROUP BY model),
       |${pre}hdr AS (
       |  SELECT s.model, s.hx,
       |    ${dkLeAt("s.hx", "a.aoff", 4)} AS uspf,
       |    ${dkLeAt("s.hx", "a.aoff + 16", 4)} AS nf,
       |    ${dkLeAt("s.hx", "a.aoff + 24", 4)} AS nstreams,
       |    ${dkLeAt("s.hx", "a.aoff + 32", 4)} AS wd,
       |    ${dkLeAt("s.hx", "a.aoff + 36", 4)} AS ht
       |  FROM ${pre}src s JOIN ${pre}ih a USING (model)
       |  WHERE substr(s.hx, 1, 8) = '52494646'
       |    AND substr(s.hx, 17, 8) = '41564920'
       |    AND a.asz >= 40 AND a.aoff + 40 <= length(s.hx) // 2),
       |${pre}mv AS (
       |  SELECT model, min(p) + 8 AS movi0, min_by(sz, p) AS msz
       |  FROM ${pre}ck WHERE cid = '4C495354' AND ctype = '6D6F7669'
       |    AND sz >= 4
       |  GROUP BY model),
       |${pre}msrc AS (
       |  SELECT s.model, s.hx, m.movi0 + 4 AS st,
       |    least(m.movi0 + m.msz, length(s.hx) // 2) AS en0
       |  FROM ${pre}src s JOIN ${pre}mv m USING (model)),
       |${riffSubWalkCte(s"${pre}msrc", s"${pre}m")},
       |${pre}vsl AS (
       |  SELECT s.model, c.p AS kp, s.hx, c.p + 12 AS st,
       |    least(c.p + 8 + c.sz, length(s.hx) // 2) AS en0
       |  FROM ${pre}src s JOIN ${pre}hck c USING (model)
       |  WHERE c.cid = '4C495354' AND c.ctype = '7374726C'
       |    AND c.sz >= 4 AND c.p + 12 <= c.stp),
       |${riffSubWalkKeyedCte(s"${pre}vsl", s"${pre}vs")},
       |${pre}vsh AS (
       |  SELECT model, kp, min(p) + 8 AS o, min_by(sz, p) AS ssz,
       |    min_by(stp, p) AS sstp
       |  FROM ${pre}vsck WHERE cid = '73747268' GROUP BY model, kp),
       |${pre}vst AS (
       |  SELECT h.model, min(h.kp) AS kp
       |  FROM ${pre}vsh h JOIN ${pre}src s USING (model)
       |  WHERE h.ssz >= 4 AND h.o + 4 <= h.sstp
       |    AND substr(s.hx, CAST(h.o * 2 + 1 AS BIGINT), 8) = '76696473'
       |  GROUP BY h.model),
       |${pre}vh AS (
       |  SELECT h.model,
       |    CASE WHEN h.ssz >= 8
       |      THEN substr(s.hx, CAST((h.o + 4) * 2 + 1 AS BIGINT), 8)
       |      END AS vcodec
       |  FROM ${pre}vsh h
       |  JOIN ${pre}vst t ON h.model = t.model AND h.kp = t.kp
       |  JOIN ${pre}src s ON h.model = s.model),
       |${pre}mj AS (
       |  SELECT model FROM ${pre}vh WHERE vcodec = '4D4A5047'),
       |${pre}db0 AS (
       |  SELECT model, p + 8 AS off, sz,
       |    row_number() OVER (PARTITION BY model ORDER BY p) AS rn
       |  FROM ${pre}mck WHERE cid = '30306462'),
       |${pre}dc AS (
       |  SELECT model, p + 8 AS off, sz,
       |    row_number() OVER (PARTITION BY model ORDER BY p) AS rn
       |  FROM ${pre}mck WHERE cid = '30306463'),
       |${pre}db AS (
       |  SELECT d.model, d.off, d.sz, d.rn FROM ${pre}db0 d
       |  WHERE d.model NOT IN (SELECT model FROM ${pre}mj)
       |  UNION ALL
       |  SELECT d.model, d.off, d.sz, d.rn FROM ${pre}dc d
       |  WHERE d.model IN (SELECT model FROM ${pre}mj)),
       |${pre}wb AS (
       |  SELECT model, p, p + 8 AS off, sz
       |  FROM ${pre}mck WHERE cid = '30317762'),
       |${pre}mcap AS (
       |  SELECT DISTINCT model FROM ${pre}mwk
       |  WHERE i = 4096 AND p + 8 <= stp)""".stripMargin

  /** Shared VIDEO oracle CTE chain ending in `en (model, nf, offs,
    * szs, sums)` — GVID blobs UNION demuxed RIFF/AVI blobs, the
    * independent DuckDB replay of [[videoFrameSums]] over
    * [[aviDemuxCtes]]: per-frame offsets/sizes/byte-sums honor each
    * container's own layout (round-12 — interleaved audio chunks
    * and per-frame size variation demux instead of excluding the
    * file), frames bounded by the declared count, the completeness
    * gate requires every declared frame present and fitting, and
    * the gvid branch requires frame_size > 0 (ADVICE r11 #2).
    * Requires WITH RECURSIVE. */
  private def videoSumsCte: String =
    s"""$aviDemuxCtes,
       |avfit AS (
       |  SELECT g.model, g.hx, g.nf,
       |    coalesce(sum(CASE WHEN d.off + d.sz <= length(g.hx) // 2
       |      THEN 1 ELSE 0 END) FILTER (WHERE d.rn <= g.nf), 0) AS n_fit
       |  FROM avhdr g LEFT JOIN avdb d USING (model)
       |  GROUP BY g.model, g.hx, g.nf),
       |avfs AS (
       |  SELECT a.model, d.rn, d.off, d.sz,
       |    coalesce(list_sum(list_transform(range(0, d.sz), i ->
       |      ('0x' || substr(a.hx, CAST((d.off + i) * 2 + 1 AS BIGINT), 2))
       |        ::BIGINT)), 0) AS fsum
       |  FROM (SELECT model, hx, nf FROM avfit
       |        WHERE nf = 0 OR n_fit = nf) a
       |  JOIN avdb d USING (model)
       |  WHERE d.rn <= a.nf),
       |aven AS (
       |  SELECT a.model, CAST(a.nf AS INT) AS nf,
       |    coalesce(list(CAST(f.off AS BIGINT) ORDER BY f.rn)
       |      FILTER (WHERE f.rn IS NOT NULL), []) AS offs,
       |    coalesce(list(CAST(f.sz AS BIGINT) ORDER BY f.rn)
       |      FILTER (WHERE f.rn IS NOT NULL), []) AS szs,
       |    coalesce(list(f.fsum ORDER BY f.rn)
       |      FILTER (WHERE f.rn IS NOT NULL), []) AS sums
       |  FROM (SELECT model, nf FROM avfit WHERE nf = 0 OR n_fit = nf) a
       |  LEFT JOIN avfs f USING (model)
       |  GROUP BY a.model, a.nf),
       |vb AS (
       |  SELECT model, hx, fs, nf
       |  FROM (
       |    SELECT model, hx,
       |      ('0x' || substr(hx, 11, 2) || substr(hx, 9, 2))::INTEGER AS fs,
       |      ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::INTEGER AS nf
       |    FROM (SELECT model, hex(content) AS hx FROM ${tbl("video_blobs")})
       |    WHERE substr(hx, 1, 8) = '47564944')
       |  WHERE nf = 0 OR (fs > 0 AND length(hx) >= (8 + fs * nf) * 2)),
       |en AS (
       |  SELECT model, nf,
       |    list_transform(range(0, nf), f -> CAST(8 + f * fs AS BIGINT))
       |      AS offs,
       |    list_transform(range(0, nf), f -> CAST(fs AS BIGINT)) AS szs,
       |    list_transform(range(0, nf), f ->
       |      list_sum(list_transform(range(0, fs), i ->
       |        ('0x' || substr(hx, (8 + f*fs + i)*2 + 1, 2))
       |          ::BIGINT))) AS sums
       |  FROM vb
       |  UNION ALL
       |  SELECT model, nf, offs, szs, sums FROM aven)""".stripMargin

  /** Shared audio oracle CTE `b (model, length, hx)`: the headerless
    * .pcm dumps UNION the data payloads of valid RIFF/WAVE dumps
    * UNION the concatenated `01wb` audio chunks of valid RIFF/AVI
    * dumps (round-12 — the third container through the same chunk
    * walk) — the independent DuckDB replay of [[audioPcmBlobs]].
    * Round-13: container legs carry the declared-format gate (PCM
    * format 1, bits ∈ {8,16}, channels ∈ {1,2}), the avi leg
    * additionally requires a non-capped movi walk (`amcap` empty for
    * the model), and both CANONICALIZE onto unsigned-8 mono via
    * [[pcmCanonHexSql]]. Requires WITH RECURSIVE. */
  private def audioHexCte: String = audioHexCte("b")
  private def audioHexCte(name: String): String =
    s"""${wavHdrCtes(name)},
       |${aviDemuxCtes(s"${name}a")},
       |${name}sl AS (
       |  SELECT s.model, c.p AS kp, s.hx, c.p + 12 AS st,
       |    least(c.p + 8 + c.sz, length(s.hx) // 2) AS en0
       |  FROM ${name}asrc s JOIN ${name}ahck c USING (model)
       |  WHERE c.cid = '4C495354' AND c.ctype = '7374726C'
       |    AND c.sz >= 4 AND c.p + 12 <= c.stp),
       |${riffSubWalkKeyedCte(s"${name}sl", s"${name}sw")},
       |${name}sh AS (
       |  SELECT model, kp, min(p) + 8 AS o, min_by(sz, p) AS ssz,
       |    min_by(stp, p) AS sstp
       |  FROM ${name}swck WHERE cid = '73747268' GROUP BY model, kp),
       |${name}au AS (
       |  SELECT h.model, min(h.kp) AS kp
       |  FROM ${name}sh h JOIN ${name}asrc s USING (model)
       |  WHERE h.ssz >= 4 AND h.o + 4 <= h.sstp
       |    AND substr(s.hx, CAST(h.o * 2 + 1 AS BIGINT), 8) = '61756473'
       |  GROUP BY h.model),
       |${name}sf AS (
       |  SELECT c.model, min(c.p) + 8 AS fo, min_by(c.sz, c.p) AS fsz
       |  FROM ${name}swck c JOIN ${name}au a
       |    ON c.model = a.model AND c.kp = a.kp
       |  WHERE c.cid = '73747266' GROUP BY c.model),
       |${name}ax AS (
       |  SELECT h.model,
       |    string_agg(substr(h.hx, CAST(d.off * 2 + 1 AS BIGINT),
       |      CAST(d.sz * 2 AS BIGINT)), '' ORDER BY d.p) AS ph,
       |    CAST(sum(d.sz) AS BIGINT) AS raw_len,
       |    bool_and(d.off + d.sz <= length(h.hx) // 2
       |      AND f.fsz >= 16 AND f.fo + 16 <= length(h.hx) // 2
       |      AND (((${dkLeAt("h.hx", "f.fo", 2)} = 1 OR
       |        (${dkLeAt("h.hx", "f.fo", 2)} = 65534 AND f.fsz >= 40
       |         AND f.fo + 40 <= length(h.hx) // 2
       |         AND substr(h.hx, CAST((f.fo + 24) * 2 + 1 AS BIGINT), 32)
       |           = '${graft.functions.Riff.SubformatPcmHex}'))
       |        AND ${dkLeAt("h.hx", "f.fo + 14", 2)} IN (8, 16))
       |       OR (${dkLeAt("h.hx", "f.fo", 2)} = 3
       |        AND ${dkLeAt("h.hx", "f.fo + 14", 2)} = 32)
       |       OR (${dkLeAt("h.hx", "f.fo", 2)} IN (6, 7)
       |        AND ${dkLeAt("h.hx", "f.fo + 14", 2)} = 8))
       |      AND ${dkLeAt("h.hx", "f.fo + 2", 2)} IN (1, 2)
       |      AND c.model IS NULL) AS fits,
       |    min(${dkLeAt("h.hx", "f.fo", 2)}) AS fmt,
       |    min(${dkLeAt("h.hx", "f.fo + 14", 2)}) AS bits,
       |    min(${dkLeAt("h.hx", "f.fo + 2", 2)}) AS nch
       |  FROM ${name}ahdr h
       |  JOIN ${name}awb d USING (model)
       |  JOIN ${name}sf f USING (model)
       |  LEFT JOIN ${name}amcap c USING (model)
       |  GROUP BY h.model),
       |${name}wx AS (
       |  SELECT model, data_bytes AS raw_len,
       |    substr(hx, CAST(data_off * 2 + 1 AS BIGINT),
       |      CAST(data_bytes * 2 AS BIGINT)) AS ph,
       |    (audio_format = 1 OR
       |     (audio_format = 65534 AND fmt_sz >= 40
       |      AND fmt_off + 40 <= n_bytes
       |      AND substr(hx, CAST((fmt_off + 24) * 2 + 1 AS BIGINT), 32)
       |        = '${graft.functions.Riff.SubformatPcmHex}')) AS is_pcm,
       |    audio_format AS fmt, n_channels AS nch, bits
       |  FROM ${name}hdrx
       |  WHERE structure_ok AND fits),
       |$name AS (
       |  SELECT model, length, hex(content) AS hx FROM ${tbl("audio_blobs")}
       |  UNION ALL
       |  SELECT model,
       |    raw_len // (CASE WHEN fmt IN (6, 7) THEN nch
       |                     ELSE (bits // 8) * nch END) AS length,
       |    ${pcmCanonHexSql("ph",
             "(CASE WHEN fmt = 65534 THEN 1 ELSE fmt END)", "bits",
             "nch")} AS hx
       |  FROM ${name}wx
       |  WHERE ((is_pcm AND bits IN (8, 16))
       |      OR (fmt = 3 AND bits = 32)
       |      OR (fmt IN (6, 7) AND bits = 8))
       |    AND nch IN (1, 2)
       |  UNION ALL
       |  SELECT model,
       |    raw_len // (CASE WHEN fmt IN (6, 7) THEN nch
       |                     ELSE (bits // 8) * nch END) AS length,
       |    ${pcmCanonHexSql("ph",
             "(CASE WHEN fmt = 65534 THEN 1 ELSE fmt END)", "bits",
             "nch")} AS hx
       |  FROM ${name}ax WHERE fits)""".stripMargin

  /** The mm21 segment-fingerprint CTE chain under prefix `pre`
    * (round-14 — shared with mm22's audio leg so the segment grain
    * cannot drift): from the audio corpus CTE `b` ([[audioHexCte]])
    * to `${pre}fp (model, seg_id, n_frames_seg, fp_lo, fp_hi)` —
    * VAD segments via the silent-prefix grouping, sign-of-delta
    * contour bits, capped length class. The prefix exists because
    * mm22 embeds this beside [[videoSumsCte]]/[[frameHashCtes]],
    * whose `en`/`fr` names would otherwise collide. */
  private def segFpCtes(pre: String): String =
    s"""${pre}fr AS (
       |  SELECT model, CAST(length // 64 AS BIGINT) AS n_frames, hx
       |  FROM b WHERE length // 64 >= 1),
       |${pre}en AS (
       |  SELECT model, n_frames,
       |    list_transform(range(0, n_frames), f ->
       |      list_sum(list_transform(range(0, 64), i ->
       |        (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128)
       |        * (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT
       |           - 128)))) AS energies
       |  FROM ${pre}fr),
       |${pre}fx AS (
       |  SELECT model, CAST(u.f AS BIGINT) AS frame_idx,
       |    CAST(energies[u.f + 1] AS BIGINT) AS energy,
       |    (energies[u.f + 1] < 4096) AS is_silent
       |  FROM ${pre}en, UNNEST(range(0, n_frames)) AS u(f)),
       |${pre}sp AS (
       |  SELECT model, frame_idx, energy, is_silent,
       |    sum(CASE WHEN is_silent THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY model ORDER BY frame_idx)
       |      AS sil_prefix
       |  FROM ${pre}fx),
       |${pre}act AS (
       |  SELECT model, frame_idx, energy, sil_prefix,
       |    CAST(dense_rank() OVER (PARTITION BY model
       |      ORDER BY sil_prefix) AS BIGINT) AS seg_id
       |  FROM ${pre}sp WHERE NOT is_silent),
       |${pre}seg AS (
       |  SELECT model, seg_id, CAST(count(*) AS BIGINT) AS n_frames_seg,
       |    list(energy ORDER BY frame_idx) AS es
       |  FROM ${pre}act GROUP BY 1, 2 HAVING count(*) >= 8),
       |${pre}fp AS (
       |  SELECT model, seg_id, n_frames_seg,
       |    CAST(coalesce(list_sum(list_transform(
       |      range(0, least(len(es) - 1, 32)),
       |      f -> CASE WHEN es[f + 2] > es[f + 1]
       |        THEN (1::BIGINT << f) ELSE 0 END)), 0) AS BIGINT)
       |      AS fp_lo,
       |    CAST(least(len(es) - 1, 32) AS BIGINT) AS fp_hi
       |  FROM ${pre}seg)""".stripMargin

  /** Shared frame-hash CTE chain for mm19/mm20 (round-14: one home —
    * the two hand copies of the grid/mean/packing CTEs could drift,
    * and the MJPEG arm must exist exactly once): from the
    * [[videoSumsCte]] context (`en`, `avhdr`, `avsrc`, `avmj`) to
    * `hh (model, frame_idx, ahash_hi, ahash_lo)`. Raw frames hash
    * from their bytes (the BmpAHash grid convention on w×h gray
    * frames); MJPEG models are excluded from the byte arm — DuckDB
    * cannot decode JPEG — and instead the planted fixture's EXPECTED
    * hashes are its raw pixel-twin's derived hashes (`vid_mj` is the
    * frame-for-frame JPEG encode of `vid_mj_raw`; the mm5
    * cross-format-parity discipline at the frame grain: the Spark
    * side hashes the actual in-engine decode, so any decode or grid
    * divergence turns the gate red). The twin mapping derives from
    * [[MjpegTwinPins]] — ONE declared home (ADVICE r14: the mapping
    * was hardcoded inline, so a future unpinned MJPG fixture would
    * go red with a confusing missing-rows diff; now
    * MediaFixtureSpec asserts every MJPG-routed bundled model has a
    * pin, failing with a clear missing-pin message instead). */
  private def frameHashCtes: String =
    s"""fr AS (
       |  SELECT e.model, u.i AS fi, offs[u.i + 1] AS off,
       |    h.wd, h.ht, s.hx
       |  FROM en e
       |  JOIN avhdr h USING (model)
       |  JOIN avsrc s USING (model),
       |  UNNEST(range(0, e.nf)) AS u(i)
       |  WHERE szs[u.i + 1]::HUGEINT = h.wd::HUGEINT * h.ht
       |    AND szs[u.i + 1] > 0
       |    AND e.model NOT IN (SELECT model FROM avmj)),
       |gr AS (
       |  SELECT model, fi, g.i AS i,
       |    ('0x' || substr(hx, CAST((off + ((g.i // 8) * ht) // 8 * wd
       |      + ((g.i % 8) * wd) // 8) * 2 + 1 AS BIGINT), 2))::BIGINT
       |      AS gray
       |  FROM fr, UNNEST(range(0, 64)) AS g(i)),
       |mn AS (
       |  SELECT model, fi, sum(gray) // 64 AS mean
       |  FROM gr GROUP BY 1, 2),
       |hh0 AS (
       |  SELECT g.model, CAST(g.fi AS BIGINT) AS frame_idx,
       |    CAST(sum(CASE WHEN gray > mean AND i >= 32
       |      THEN (1::BIGINT << (i - 32)) ELSE 0 END) AS BIGINT)
       |      AS ahash_hi,
       |    CAST(sum(CASE WHEN gray > mean AND i < 32
       |      THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT) AS ahash_lo
       |  FROM gr g JOIN mn m ON g.model = m.model AND g.fi = m.fi
       |  GROUP BY 1, 2),
       |mjt(model, raw) AS (VALUES ${MjpegTwinPins.map {
             case (m, r) => s"('$m', '$r')" }.mkString(", ")}),
       |hh AS (
       |  SELECT * FROM hh0
       |  UNION ALL
       |  SELECT t.model, h.frame_idx, h.ahash_hi, h.ahash_lo
       |  FROM mjt t JOIN hh0 h ON h.model = t.raw)""".stripMargin

  /** Shared mm3/mm4 oracle CTE chain (one definition so the two
    * hash re-derivations can never drift): from `blobSql` (any
    * SELECT producing (model, hx)) to `hh` = (model, width, height,
    * ahash_hi, ahash_lo) — LE header fields, integer grid mapping
    * honoring BMP bottom-up vs top-down row order, exact R+G+B
    * grays, integer mean, bits packed into two 32-bit BIGINT halves
    * (so `1::BIGINT << i` never overflows). Returned UNSTRIPPED (the
    * `|` margins intact) for interpolation into a margin string whose
    * own `.stripMargin` strips once — stripping here too would eat
    * the leading `|` of the SQL `||` concatenations on continuation
    * lines. Multi-line `blobSql` must come in pre-stripped (its lines
    * start with SQL keywords, which stripMargin leaves alone). */
  private def ahashCtes(blobSql: String): String =
    s"""b AS ($blobSql),
       |hdr AS (
       |  SELECT model, hx,
       |    ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
       |           || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT AS w0,
       |    ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
       |           || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT AS h0,
       |    ('0x' || substr(hx, 59, 2) || substr(hx, 57, 2))::BIGINT AS bpp,
       |    ('0x' || substr(hx, 67, 2) || substr(hx, 65, 2)
       |           || substr(hx, 63, 2) || substr(hx, 61, 2))::BIGINT AS comp,
       |    ('0x' || substr(hx, 27, 2) || substr(hx, 25, 2)
       |           || substr(hx, 23, 2) || substr(hx, 21, 2))::BIGINT AS off
       |  FROM b WHERE substr(hx, 1, 4) = '424D' AND length(hx) >= 108),
       |dims AS (
       |  SELECT model, hx, off, bpp, comp, bpp // 8 AS bpx,
       |    CASE WHEN w0 >= 2147483648 THEN w0 - 4294967296 ELSE w0 END AS w,
       |    CASE WHEN h0 >= 2147483648 THEN h0 - 4294967296 ELSE h0 END AS hraw
       |  FROM hdr),
       |d2 AS (
       |  SELECT model, hx, off, w, hraw, abs(hraw) AS h, bpx,
       |    (w * bpx + 3) // 4 * 4 AS stride
       |  FROM dims
       |  WHERE (bpp = 24 OR (bpp = 32 AND comp = 0))
       |    AND w > 0 AND hraw <> 0
       |    AND off + abs(hraw) * ((w * bpx + 3) // 4 * 4)
       |      <= length(hx) // 2),
       |px AS (
       |  SELECT model, hx, u.i AS i,
       |    (off + (CASE WHEN hraw < 0 THEN (u.i // 8) * h // 8
       |                 ELSE h - 1 - ((u.i // 8) * h // 8) END) * stride
       |         + ((u.i % 8) * w // 8) * bpx) AS p
       |  FROM d2, UNNEST(range(0, 64)) AS u(i)),
       |g AS (
       |  SELECT model, i,
       |    ('0x' || substr(hx, CAST(p * 2 + 1 AS BIGINT), 2))::BIGINT +
       |    ('0x' || substr(hx, CAST(p * 2 + 3 AS BIGINT), 2))::BIGINT +
       |    ('0x' || substr(hx, CAST(p * 2 + 5 AS BIGINT), 2))::BIGINT AS gray
       |  FROM px),
       |m AS (SELECT model, CAST(sum(gray) // 64 AS BIGINT) AS mean
       |  FROM g GROUP BY 1),
       |bits AS (
       |  SELECT g.model,
       |    CAST(sum(CASE WHEN gray > mean AND i >= 32
       |      THEN (1::BIGINT << CAST(i - 32 AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS ahash_hi,
       |    CAST(sum(CASE WHEN gray > mean AND i < 32
       |      THEN (1::BIGINT << CAST(i AS INTEGER)) ELSE 0 END)
       |      AS BIGINT) AS ahash_lo
       |  FROM g JOIN m USING (model) GROUP BY 1),
       |hh AS (
       |  SELECT d2.model, CAST(d2.w AS INTEGER) AS width,
       |    CAST(d2.h AS INTEGER) AS height, bits.ahash_hi, bits.ahash_lo
       |  FROM d2 JOIN bits USING (model))"""

  /** The dHash analog of [[ahashCtes]]: same header parse, an 8-row ×
    * 9-column sample grid, and the adjacent-pixel comparisons replayed
    * via a self-join on the sample index. Ends in
    * `hh(model, dhash_hi, dhash_lo)`. */
  private def dhashCtes(blobSql: String): String =
    s"""b AS ($blobSql),
       |hdr AS (
       |  SELECT model, hx,
       |    ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
       |           || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT AS w0,
       |    ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
       |           || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT AS h0,
       |    ('0x' || substr(hx, 59, 2) || substr(hx, 57, 2))::BIGINT AS bpp,
       |    ('0x' || substr(hx, 67, 2) || substr(hx, 65, 2)
       |           || substr(hx, 63, 2) || substr(hx, 61, 2))::BIGINT AS comp,
       |    ('0x' || substr(hx, 27, 2) || substr(hx, 25, 2)
       |           || substr(hx, 23, 2) || substr(hx, 21, 2))::BIGINT AS off
       |  FROM b WHERE substr(hx, 1, 4) = '424D' AND length(hx) >= 108),
       |dims AS (
       |  SELECT model, hx, off, bpp, comp, bpp // 8 AS bpx,
       |    CASE WHEN w0 >= 2147483648 THEN w0 - 4294967296 ELSE w0 END AS w,
       |    CASE WHEN h0 >= 2147483648 THEN h0 - 4294967296 ELSE h0 END AS hraw
       |  FROM hdr),
       |d2 AS (
       |  SELECT model, hx, off, w, hraw, abs(hraw) AS h, bpx,
       |    (w * bpx + 3) // 4 * 4 AS stride
       |  FROM dims
       |  WHERE (bpp = 24 OR (bpp = 32 AND comp = 0))
       |    AND w > 0 AND hraw <> 0
       |    AND off + abs(hraw) * ((w * bpx + 3) // 4 * 4)
       |      <= length(hx) // 2),
       |px AS (
       |  SELECT model, hx, u.i AS i,
       |    (off + (CASE WHEN hraw < 0 THEN (u.i // 9) * h // 8
       |                 ELSE h - 1 - ((u.i // 9) * h // 8) END) * stride
       |         + ((u.i % 9) * w // 9) * bpx) AS p
       |  FROM d2, UNNEST(range(0, 72)) AS u(i)),
       |g AS (
       |  SELECT model, i,
       |    ('0x' || substr(hx, CAST(p * 2 + 1 AS BIGINT), 2))::BIGINT +
       |    ('0x' || substr(hx, CAST(p * 2 + 3 AS BIGINT), 2))::BIGINT +
       |    ('0x' || substr(hx, CAST(p * 2 + 5 AS BIGINT), 2))::BIGINT AS gray
       |  FROM px),
       |bits AS (
       |  SELECT a.model,
       |    CAST(sum(CASE WHEN a.gray > n.gray
       |      AND (a.i // 9) * 8 + (a.i % 9) >= 32
       |      THEN (1::BIGINT <<
       |        CAST((a.i // 9) * 8 + (a.i % 9) - 32 AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS dhash_hi,
       |    CAST(sum(CASE WHEN a.gray > n.gray
       |      AND (a.i // 9) * 8 + (a.i % 9) < 32
       |      THEN (1::BIGINT << CAST((a.i // 9) * 8 + (a.i % 9) AS INTEGER))
       |      ELSE 0 END) AS BIGINT) AS dhash_lo
       |  FROM g a JOIN g n ON a.model = n.model AND n.i = a.i + 1
       |  WHERE a.i % 9 < 8
       |  GROUP BY 1),
       |hh AS (
       |  SELECT model, dhash_hi, dhash_lo FROM bits)"""

  /** DuckDB re-parse of the raw SBS lines: the same 22-field length
    * check, anchored regex, timestamp formats and cast rules as
    * `Sbs.parse`, but implemented independently with string_split —
    * a genuine second implementation of P1/P2/P3. */
  private val parsedCte: String =
    s"""r AS (SELECT seq, value, string_split(value, ',') AS f
       |     FROM ${tbl("adsb_raw")}),
       |mm AS (
       |  SELECT * FROM r
       |  WHERE len(f) = 22 AND regexp_matches(value,
       |    '^MSG,(\\d),(\\d+),(\\d+),([0-9A-F]+),(\\d+),([0-9/]+,[0-9:\\.]+),([0-9/]+,[0-9:\\.]+),([\\w\\s]*),([\\d\\-]*),(\\d*),([\\d\\-]*),([\\d\\-\\.]*),([\\d\\-\\.]*),([\\d\\-]*),(\\d*),([\\d\\-]*),([\\d\\-]*),([\\d\\-]*),([\\d\\-]*)$$')
       |    AND coalesce(
       |      try_strptime(f[7] || ' ' || f[8], '%Y/%m/%d %H:%M:%S.%g'),
       |      try_strptime(f[7] || ' ' || f[8], '%Y/%m/%d %H:%M:%S'))
       |      IS NOT NULL),
       |parsed AS (
       |  SELECT seq,
       |    TRY_CAST(f[2] AS INTEGER) AS transmission_type,
       |    TRY_CAST(f[3] AS INTEGER) AS "session",
       |    TRY_CAST(f[4] AS INTEGER) AS aircraft,
       |    f[5] AS hexident,
       |    TRY_CAST(f[6] AS INTEGER) AS flight,
       |    coalesce(
       |      try_strptime(f[7] || ' ' || f[8], '%Y/%m/%d %H:%M:%S.%g'),
       |      try_strptime(f[7] || ' ' || f[8], '%Y/%m/%d %H:%M:%S'))
       |      AS gen_date_time,
       |    coalesce(
       |      try_strptime(f[9] || ' ' || f[10], '%Y/%m/%d %H:%M:%S.%g'),
       |      try_strptime(f[9] || ' ' || f[10], '%Y/%m/%d %H:%M:%S'))
       |      AS log_date_time,
       |    NULLIF(TRIM(f[11]), '') AS callsign,
       |    TRY_CAST(f[12] AS INTEGER) AS altitude,
       |    TRY_CAST(f[13] AS INTEGER) AS speed,
       |    TRY_CAST(f[14] AS INTEGER) AS track,
       |    TRY_CAST(f[15] AS DOUBLE) AS latitude,
       |    TRY_CAST(f[16] AS DOUBLE) AS longitude,
       |    TRY_CAST(f[17] AS INTEGER) AS verticalrate,
       |    TRY_CAST(f[18] AS INTEGER) AS squawk,
       |    f[19] = '-1' AS alert,
       |    f[20] = '-1' AS emergency,
       |    f[21] = '-1' AS spi,
       |    f[22] = '-1' AS onground
       |  FROM mm)""".stripMargin

  /** Portable 60-bit surrogate id — the SQL twin of
    * [[PortableHash.phashStr]]. */
  private def sqlId(parts: String*): String =
    s"('0x' || substr(md5(${parts.mkString(" || '#' || ")}), 1, 15))::BIGINT"

  private def histogramSql(outTbl: String): String =
    s"""WITH spine AS (
       |  SELECT unnest(generate_series(TIMESTAMP '2019-10-20 00:00:00',
       |    TIMESTAMP '2019-10-20 23:00:00', INTERVAL 1 HOUR)) AS ldt),
       |agg AS (
       |  SELECT date_trunc('hour',
       |           timezone('Europe/Paris', timezone('UTC', time))) AS bin_time,
       |         count(*) AS events,
       |         string_agg(CAST(epoch_us(time) AS VARCHAR), ','
       |           ORDER BY epoch_us(time)) AS ids
       |  FROM ${tbl(outTbl)} WHERE kind = 'landing'
       |    AND date_trunc('hour', timezone('Europe/Paris', timezone('UTC', time)))
       |      BETWEEN TIMESTAMP '2019-10-20 00:00:00'
       |      AND TIMESTAMP '2019-10-20 23:00:00'
       |  GROUP BY 1)
       |SELECT timezone('UTC', timezone('Europe/Paris', s.ldt)) AS datetime,
       |       a.events AS events, a.ids AS ids
       |FROM spine s LEFT JOIN agg a ON s.ldt = a.bin_time
       |ORDER BY datetime""".stripMargin

  private def eventDetailsSql(outTbl: String): String =
    s"""WITH f AS (
       |  SELECT hexident, session_start, first_seen, last_seen, callsign,
       |    ${sqlId("hexident", "CAST(epoch_us(session_start) AS VARCHAR)")}
       |      AS flight_id
       |  FROM ${tbl(outTbl)} WHERE kind = 'flight'),
       |e AS (
       |  SELECT hexident, session_start, time, kind, runway,
       |    ${sqlId("hexident", "CAST(epoch_us(session_start) AS VARCHAR)",
                    "CAST(epoch_us(time) AS VARCHAR)", "kind")} AS id
       |  FROM ${tbl(outTbl)} WHERE kind IN ('landing', 'takeoff'))
       |SELECT e.id, f.flight_id, f.callsign, a.name AS airline,
       |  a.country AS country, c.code AS country_code,
       |  f.first_seen, f.last_seen, e.time, e.runway
       |FROM e JOIN f ON e.hexident = f.hexident
       |  AND e.session_start = f.session_start
       |LEFT JOIN ${tbl("airlines")} a ON substring(f.callsign, 1, 3) = a.icao
       |LEFT JOIN ${tbl("countries")} c ON a.country = c.name
       |ORDER BY e.time, e.id, airline NULLS FIRST,
       |  country_code NULLS FIRST""".stripMargin

  val oracles: Map[String, String] = Map(
    "adsb_parse" ->
      s"WITH $parsedCte SELECT * FROM parsed ORDER BY seq",

    "adsb_type_census" ->
      s"""WITH $parsedCte
         |SELECT hexident,
         |${(1 to 8).map(t =>
            s"""  NULLIF(count(*) FILTER (WHERE transmission_type = $t), 0) AS "$t"""")
            .mkString(",\n")}
         |FROM parsed GROUP BY hexident ORDER BY hexident""".stripMargin,

    "adsb_flights" ->
      s"""SELECT hexident, session_start, first_seen, last_seen, callsign,
         |  n_positions, 'unknown' AS intention
         |FROM ${tbl("adsb_out")} WHERE kind = 'flight'
         |ORDER BY hexident, session_start""".stripMargin,

    "adsb_positions" ->
      s"""SELECT hexident, session_start, time, lon, lat, alt_m, onground,
         |  CAST(NULL AS INTEGER) AS verticalrate,
         |  CAST(NULL AS INTEGER) AS track
         |FROM ${tbl("adsb_out")} WHERE kind = 'position'
         |ORDER BY hexident, time, session_start, lon, lat""".stripMargin,

    // stream parity: the oracle side is the BATCH sessionizer's own
    // dump, whole rows — the Spark side ran the STREAMING operator,
    // so this compare IS the stream-vs-batch diff, run by DuckDB
    "adsb_stream_parity" -> streamParitySql,

    // the out-of-order replay must produce the SAME batch dump —
    // one oracle, two input orders (round-12)
    "adsb_stream_parity_ooo" -> streamParitySql,

    "adsb_events" ->
      s"""SELECT kind, hexident, session_start, time, runway
         |FROM ${tbl("adsb_out")} WHERE kind IN ('landing', 'takeoff')
         |ORDER BY time, hexident, kind""".stripMargin,

    "adsb_events_golden" ->
      s"""SELECT kind, hexident, session_start, time, runway
         |FROM ${tbl("adsb_out_golden")} WHERE kind IN ('landing', 'takeoff')
         |ORDER BY time, hexident, kind""".stripMargin,

    "adsb_landings_histogram" -> histogramSql("adsb_out"),
    "adsb_landings_histogram_golden" -> histogramSql("adsb_out_golden"),

    "adsb_flight_details" ->
      s"""SELECT f.hexident, f.session_start, f.callsign, a.name AS airline,
         |  a.country AS country, c.code AS country_code,
         |  f.first_seen, f.last_seen
         |FROM (SELECT * FROM ${tbl("adsb_out")} WHERE kind = 'flight') f
         |LEFT JOIN ${tbl("airlines")} a ON substring(f.callsign, 1, 3) = a.icao
         |LEFT JOIN ${tbl("countries")} c ON a.country = c.name
         |ORDER BY f.hexident, f.session_start, airline NULLS FIRST,
         |  country_code NULLS FIRST""".stripMargin,

    "adsb_flight_paths" ->
      s"""SELECT hexident || '/' || CAST(epoch_us(session_start) AS VARCHAR)
         |    AS key,
         |  '{"type":"LineString","coordinates":[' ||
         |  string_agg(printf('[%.6f,%.6f]', lon, lat), ','
         |    ORDER BY time, lon, lat) || ']}' AS path
         |FROM ${tbl("adsb_out")} WHERE kind = 'position'
         |GROUP BY hexident, session_start ORDER BY key""".stripMargin,

    "adsb_event_details" -> eventDetailsSql("adsb_out"),
    "adsb_event_details_golden" -> eventDetailsSql("adsb_out_golden"),

    // GeoJSON emission recomputed in SQL from the dumped seed tables:
    // Point/Polygon with ring closing (airports/runways) and the
    // MultiLineString with PostGIS option bit 2 (short CRS member).
    "meta_airports_geojson" ->
      s"""WITH c AS (
         |  SELECT icao, iata, lon, lat,
         |    CASE WHEN bbox[1] = bbox[len(bbox)] THEN bbox
         |         ELSE list_append(bbox, bbox[1]) END AS ring
         |  FROM ${tbl("meta_airports")})
         |SELECT icao, iata,
         |  printf('{"type":"Point","coordinates":[%.6f,%.6f]}', lon, lat)
         |    AS location,
         |  '{"type":"Polygon","coordinates":[' || ${sqlRing("ring")} ||
         |    ']}' AS boundary
         |FROM c ORDER BY icao""".stripMargin,

    "meta_runways_geojson" ->
      s"""WITH c AS (
         |  SELECT airport, name, direction, ref_lon, ref_lat,
         |    CASE WHEN bbox[1] = bbox[len(bbox)] THEN bbox
         |         ELSE list_append(bbox, bbox[1]) END AS ring
         |  FROM ${tbl("meta_runways")})
         |SELECT airport, name, direction,
         |  printf('{"type":"Point","coordinates":[%.6f,%.6f]}',
         |    ref_lon, ref_lat) AS location,
         |  '{"type":"Polygon","coordinates":[' || ${sqlRing("ring")} ||
         |    ']}' AS boundary
         |FROM c ORDER BY airport, name""".stripMargin,

    "meta_range_rings_geojson" ->
      s"""SELECT id, radius, icao,
         |  '{"type":"MultiLineString","crs":{"type":"name","properties":{"name":"EPSG:4326"}},"coordinates":['
         |  || array_to_string(list_transform(geom, ls ->
         |       ${sqlRing("ls")}), ',')
         |  || ']}' AS geom
         |FROM ${tbl("meta_range_rings")} ORDER BY id""".stripMargin,

    // The multimodal metadata query, fully recomputed in SQL from the
    // dumped blobs: BMP header fields via the same little-endian
    // hex-pair trick the Spark expressions use, the stub embedding
    // via the portable md5 hash. (All six fixtures are 'BM' bitmaps,
    // which the magic predicate asserts rather than assumes.)
    "mm_media_features" ->
      s"""WITH b AS (SELECT model, length, hex(silhouette) AS hx
         |  FROM ${tbl("mm_blobs")}),
         |bmp AS (
         |  SELECT b.*,
         |    ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
         |           || substr(hx, 39, 2) || substr(hx, 37, 2)
         |     )::BIGINT AS w0,
         |    ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
         |           || substr(hx, 47, 2) || substr(hx, 45, 2)
         |     )::BIGINT AS h0
         |  FROM b WHERE substr(hx, 1, 4) = '424D'),
         |meta AS (
         |  SELECT model, length, 'image' AS media_type,
         |    (CASE WHEN w0 >= 2147483648 THEN w0 - 4294967296 ELSE w0 END)
         |      ::INTEGER AS width,
         |    abs(CASE WHEN h0 >= 2147483648 THEN h0 - 4294967296 ELSE h0 END)
         |      ::INTEGER AS height,
         |    ('0x' || substr(hx, 59, 2) || substr(hx, 57, 2)
         |     )::INTEGER AS bpp,
         |    array_to_string(list_transform(range(0, 8), i ->
         |      printf('%.6f',
         |        (('0x' || substr(md5(hx || '#' || CAST(i AS VARCHAR)),
         |          1, 15))::BIGINT % 1000000) / 1000000.0)), ',')
         |      AS embedding
         |  FROM bmp)
         |SELECT model, length, media_type, width, height, bpp, embedding
         |FROM meta ORDER BY model""".stripMargin,

    // The FULL multimodal retrieval composition, recomputed in SQL:
    // the portable stub decode (md5 over the blob hex, per dimension,
    // double-divide-then-REAL — bit-matching the JVM stub), then the
    // 8-dim cosine top-3 among the media themselves (s1 arithmetic,
    // string keys).
    "mm2_media_similarity" ->
      s"""WITH b AS (SELECT model, hex(silhouette) AS hx
         |  FROM ${tbl("mm_blobs")}),
         |e AS (SELECT model AS key,
         |  list_transform(range(0, 8), i ->
         |    CAST((('0x' || substr(md5(hx || '#' || CAST(i AS VARCHAR)),
         |      1, 15))::BIGINT % 1000000) / 1000000.0 AS REAL)) AS emb
         |  FROM b),
         |pairs AS (
         |  SELECT q.key AS qid, c.key AS vec_id, q.emb AS qe, c.emb AS ve
         |  FROM e q, e c WHERE q.key <> c.key),
         |comp AS (
         |  SELECT qid, vec_id,
         |    list_sum(list_transform(range(1, 9),
         |      i -> CAST(qe[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE))) AS dot,
         |    list_sum(list_transform(range(1, 9),
         |      i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) AS nq,
         |    list_sum(list_transform(range(1, 9),
         |      i -> CAST(ve[i] AS DOUBLE) * CAST(ve[i] AS DOUBLE))) AS nv
         |  FROM pairs),
         |sims AS (SELECT qid, vec_id,
         |  round(dot / (sqrt(nq) * sqrt(nv)), 5) AS sim FROM comp),
         |ranked AS (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id)
         |      AS rank
         |  FROM sims)
         |SELECT qid, vec_id, sim, rank FROM ranked
         |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    // The aHash re-derived byte-for-byte from the blob hex: LE header
    // fields, integer grid mapping with BMP bottom-up row order (the
    // CASE honors a negative top-down height), exact R+G+B grays,
    // integer mean, bits packed into two 32-bit BIGINT halves (so
    // 1::BIGINT << i never overflows), hamming NN over xor+bit_count.
    "mm3_image_ahash" ->
      s"""WITH ${ahashCtes(s"SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}")},
         |pr AS (
         |  SELECT a.model, b.model AS other,
         |    CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |         bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT) AS hamming
         |  FROM hh a JOIN hh b ON a.model <> b.model),
         |nn AS (
         |  SELECT model, other AS nn_model, hamming AS nn_hamming FROM (
         |    SELECT model, other, hamming,
         |      row_number() OVER (PARTITION BY model ORDER BY hamming, other)
         |        AS rn
         |    FROM pr) WHERE rn = 1)
         |SELECT hh.model, width, height, ahash_hi, ahash_lo,
         |  nn_model, nn_hamming
         |FROM hh JOIN nn USING (model) ORDER BY model""".stripMargin,

    "mm6_image_dhash" ->
      s"""WITH ${dhashCtes(s"SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}")},
         |pr AS (
         |  SELECT a.model, b.model AS other,
         |    CAST(bit_count(xor(a.dhash_hi, b.dhash_hi)) +
         |         bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT) AS hamming
         |  FROM hh a JOIN hh b ON a.model <> b.model),
         |nn AS (
         |  SELECT model, other AS nn_model, hamming AS nn_hamming FROM (
         |    SELECT model, other, hamming,
         |      row_number() OVER (PARTITION BY model ORDER BY hamming, other)
         |        AS rn
         |    FROM pr) WHERE rn = 1)
         |SELECT hh.model, dhash_hi, dhash_lo, nn_model, nn_hamming
         |FROM hh JOIN nn USING (model) ORDER BY model""".stripMargin,

    // mm5: the oracle re-derives the hash from the BMP bytes ONLY and
    // pins BOTH engine columns (byte-kernel AND the PNG-transcode
    // ImageIO path) to it — DuckDB cannot decode PNG, and doesn't
    // need to: lossless transcode means the pixel-true hash is the
    // BMP-derived one, so Spark's ImageIO value hash-checks against
    // an independent engine.
    "mm5_crossformat_parity" ->
      s"""WITH ${ahashCtes(s"SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}")}
         |SELECT model, ahash_hi AS bmp_hi, ahash_lo AS bmp_lo,
         |  ahash_hi AS png_hi, ahash_lo AS png_lo, TRUE AS parity
         |FROM hh ORDER BY model""".stripMargin,

    // mm9: the stats re-derived from the SAME sampled grays as the
    // aHash oracle (the `g` CTE of the shared chain — the hash CTEs
    // ride along unused), with the variance/flag arithmetic replayed
    // in exact integer SQL.
    "mm9_image_stats" ->
      s"""WITH ${ahashCtes(s"SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}")},
         |st AS (
         |  SELECT model, sum(gray) AS sg, sum(gray * gray) AS sq,
         |    min(gray) AS mn, max(gray) AS mx
         |  FROM g GROUP BY 1)
         |SELECT hh.model, width, height,
         |  CAST(sg // 64 AS BIGINT) AS gray_mean,
         |  CAST(mn AS BIGINT) AS gray_min,
         |  CAST(mx AS BIGINT) AS gray_max,
         |  CAST((64 * sq - sg * sg) // 4096 AS BIGINT) AS contrast_var,
         |  sg < 12288 AS is_dark,
         |  sg > 36672 AS is_bright,
         |  (64 * sq - sg * sg) < 81920000 AS low_contrast
         |FROM hh JOIN st USING (model) ORDER BY model""".stripMargin,

    // mm4: the same hash chain over the copy-injected blob set, then
    // 16-bit banding, band-bucket candidate join, hamming verify.
    "mm4_image_neardup" ->
      s"""WITH ${ahashCtes(
             s"""SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}
                |  UNION ALL
                |  SELECT model || '_copy', hex(silhouette) FROM ${tbl("mm_blobs")}"""
               .stripMargin)},
         |bands AS (
         |  SELECT model, ahash_hi AS hi, ahash_lo AS lo, u.band,
         |    CASE u.band
         |      WHEN 0 THEN ahash_lo & 65535
         |      WHEN 1 THEN (ahash_lo >> 16) & 65535
         |      WHEN 2 THEN ahash_hi & 65535
         |      ELSE (ahash_hi >> 16) & 65535 END AS bv
         |  FROM hh, UNNEST(range(0, 4)) AS u(band)),
         |cands AS (
         |  SELECT DISTINCT a.model, b.model AS other,
         |    a.hi AS ahi, a.lo AS alo, b.hi AS bhi, b.lo AS blo
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bv = b.bv AND a.model < b.model)
         |SELECT model, other,
         |  CAST(bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo))
         |    AS BIGINT) AS hamming
         |FROM cands WHERE bit_count(xor(ahi, bhi)) + bit_count(xor(alo, blo)) <= 3
         |ORDER BY model, other""".stripMargin,

    // mm7 re-derived byte-for-byte from the dumped PCM blobs: 64×64
    // frame energies as exact integer sums over hex-pair byte reads,
    // the sign-of-delta bit packing into two 32-bit halves, and the
    // xor/bit_count hamming NN.
    "mm7_audio_fingerprint" ->
      s"""WITH RECURSIVE $audioHexCte,
         |en AS (
         |  SELECT model, length,
         |    list_transform(range(0, 64), f ->
         |      list_sum(list_transform(range(0, 64), i ->
         |        (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128)
         |        * (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128))))
         |      AS energies
         |  FROM b WHERE length >= 4096),
         |hh AS (
         |  SELECT model, length AS n_bytes,
         |    CAST(list_sum(list_transform(range(32, 63), f ->
         |      CASE WHEN energies[f+2] > energies[f+1]
         |        THEN (1::BIGINT << (f - 32)) ELSE 0 END)) AS BIGINT)
         |      AS fp_hi,
         |    CAST(list_sum(list_transform(range(0, 32), f ->
         |      CASE WHEN energies[f+2] > energies[f+1]
         |        THEN (1::BIGINT << f) ELSE 0 END)) AS BIGINT) AS fp_lo
         |  FROM en),
         |pr AS (
         |  SELECT a.model, b.model AS other,
         |    CAST(bit_count(xor(a.fp_hi, b.fp_hi)) +
         |         bit_count(xor(a.fp_lo, b.fp_lo)) AS BIGINT) AS hamming
         |  FROM hh a JOIN hh b ON a.model <> b.model),
         |nn AS (
         |  SELECT model, other AS nn_model, hamming AS nn_hamming FROM (
         |    SELECT model, other, hamming,
         |      row_number() OVER (PARTITION BY model ORDER BY hamming, other)
         |        AS rn
         |    FROM pr) WHERE rn = 1)
         |SELECT hh.model, n_bytes, fp_hi, fp_lo, nn_model, nn_hamming
         |FROM hh JOIN nn USING (model) ORDER BY model""".stripMargin,

    // mm8 re-parsed from the dumped GVID blobs: magic gate, LE
    // header fields, the k=4 sampling lattice via range(), and the
    // per-frame byte-sum checksum over hex-pair reads.
    "mm8_frame_sample" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |f AS (
         |  SELECT model, nf, offs, sums,
         |    unnest(range(0, nf, 4)) AS frame_idx
         |  FROM en)
         |SELECT model, CAST(nf AS BIGINT) AS n_frames,
         |  CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(offs[frame_idx + 1] AS BIGINT) AS offset,
         |  CAST(sums[frame_idx + 1] AS BIGINT) AS bytesum
         |FROM f ORDER BY model, frame_idx""".stripMargin,

    // mm11: the frame energies, silence threshold and ppm share
    // re-derived byte-for-byte from the dumped PCM blobs.
    "mm11_audio_silence" ->
      s"""WITH RECURSIVE $audioHexCte,
         |fr AS (
         |  SELECT model, CAST(length // 64 AS BIGINT) AS n_frames, hx
         |  FROM b WHERE length // 64 >= 1),
         |en AS (
         |  SELECT model, n_frames,
         |    list_transform(range(0, n_frames), f ->
         |      list_sum(list_transform(range(0, 64), i ->
         |        (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128)
         |        * (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT
         |           - 128)))) AS energies
         |  FROM fr),
         |ag AS (
         |  SELECT model, n_frames,
         |    CAST(len(list_filter(energies, e -> e < 4096)) AS BIGINT)
         |      AS n_silent
         |  FROM en)
         |SELECT model, n_frames, n_silent,
         |  CAST((1000000 * n_silent) // n_frames AS BIGINT)
         |    AS silence_ppm,
         |  (1000000 * n_silent) // n_frames >= 500000 AS mostly_silent
         |FROM ag ORDER BY model""".stripMargin,

    // mm10: per-frame energies, adjacent deltas, the 2×-mean-delta
    // adaptive threshold and every boundary flag re-derived from the
    // dumped blobs (1-based DuckDB list indexing mirrors Spark's
    // element_at convention).
    "mm10_shot_boundaries" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |dl AS (
         |  SELECT model, nf, sums,
         |    list_transform(range(1, nf), f -> abs(sums[f+1] - sums[f]))
         |      AS deltas
         |  FROM en WHERE nf >= 2),
         |th AS (
         |  SELECT model, nf, sums, deltas,
         |    2 * (list_sum(deltas) // (nf - 1)) AS thr
         |  FROM dl)
         |SELECT model, CAST(u.f AS BIGINT) AS frame_idx,
         |  CAST(sums[u.f + 1] AS BIGINT) AS energy,
         |  CAST(deltas[u.f] AS BIGINT) AS delta_abs,
         |  CAST(thr AS BIGINT) AS thr,
         |  deltas[u.f] > thr AS is_boundary
         |FROM th, UNNEST(range(1, nf)) AS u(f)
         |ORDER BY model, frame_idx""".stripMargin,

    // mm12: mm10's parse chain consumed as segments — running
    // boundary count = shot id, per-shot bounds/size, and the
    // (energy DESC, frame ASC) keyframe pick replayed via a window.
    "mm12_keyframes" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |dl AS (
         |  SELECT model, nf, sums,
         |    list_transform(range(1, nf), f -> abs(sums[f+1] - sums[f]))
         |  AS deltas
         |  FROM en WHERE nf >= 2),
         |th AS (
         |  SELECT model, nf, sums, deltas,
         |    2 * (list_sum(deltas) // (nf - 1)) AS thr
         |  FROM dl),
         |fx AS (
         |  SELECT model, CAST(u.f AS BIGINT) AS frame_idx,
         |    CAST(sums[u.f + 1] AS BIGINT) AS energy,
         |    CASE WHEN u.f = 0 THEN 0
         |         WHEN deltas[u.f] > thr THEN 1 ELSE 0 END AS isb
         |  FROM th, UNNEST(range(0, nf)) AS u(f)),
         |sh AS (
         |  SELECT model, frame_idx, energy,
         |    CAST(sum(isb) OVER (PARTITION BY model ORDER BY frame_idx)
         |      AS BIGINT) AS shot_id
         |  FROM fx),
         |ag AS (
         |  SELECT model, shot_id,
         |    CAST(min(frame_idx) AS BIGINT) AS start_frame,
         |    CAST(max(frame_idx) AS BIGINT) AS end_frame,
         |    CAST(count(*) AS BIGINT) AS n_frames_shot
         |  FROM sh GROUP BY 1, 2),
         |kf AS (
         |  SELECT model, shot_id, frame_idx AS keyframe_idx,
         |    energy AS keyframe_energy
         |  FROM (
         |    SELECT model, shot_id, frame_idx, energy,
         |      row_number() OVER (PARTITION BY model, shot_id
         |        ORDER BY energy DESC, frame_idx) AS rn
         |    FROM sh) WHERE rn = 1)
         |SELECT a.model, a.shot_id, a.start_frame, a.end_frame,
         |  a.n_frames_shot, k.keyframe_idx, k.keyframe_energy
         |FROM ag a JOIN kf k USING (model, shot_id)
         |ORDER BY a.model, a.shot_id""".stripMargin,

    // mm20: the shot lattice (mm12's running-boundary rule) joined
    // to the re-derived frame hashes (mm19's grid), then the medoid
    // argmin replayed as an all-member pair sum + row_number — same
    // (total hamming, frame) tie-break as the Spark min(struct).
    "mm20_shot_medoids" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |dl AS (
         |  SELECT model, nf, sums,
         |    list_transform(range(1, nf), f -> abs(sums[f+1] - sums[f]))
         |  AS deltas
         |  FROM en WHERE nf >= 2),
         |thv AS (
         |  SELECT model, nf, deltas,
         |    2 * (list_sum(deltas) // (nf - 1)) AS thr
         |  FROM dl),
         |shx AS (
         |  SELECT model, frame_idx,
         |    CAST(sum(isb) OVER (PARTITION BY model ORDER BY frame_idx)
         |      AS BIGINT) AS shot_id
         |  FROM (
         |    SELECT model, CAST(u.f AS BIGINT) AS frame_idx,
         |      CASE WHEN u.f = 0 THEN 0
         |           WHEN deltas[u.f] > thr THEN 1 ELSE 0 END AS isb
         |    FROM thv, UNNEST(range(0, nf)) AS u(f))),
         |$frameHashCtes,
         |mem AS (
         |  SELECT x.model, x.shot_id, h.frame_idx,
         |    h.ahash_hi, h.ahash_lo
         |  FROM shx x JOIN hh h USING (model, frame_idx)),
         |tot AS (
         |  SELECT a.model, a.shot_id, a.frame_idx,
         |    CAST(sum(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |             bit_count(xor(a.ahash_lo, b.ahash_lo)))
         |      AS BIGINT) AS th,
         |    CAST(count(*) AS BIGINT) AS nm
         |  FROM mem a JOIN mem b
         |    ON a.model = b.model AND a.shot_id = b.shot_id
         |  GROUP BY 1, 2, 3)
         |SELECT model, shot_id, frame_idx AS medoid_idx,
         |  th AS total_hamming, nm AS n_hashed
         |FROM (
         |  SELECT model, shot_id, frame_idx, th, nm,
         |    row_number() OVER (PARTITION BY model, shot_id
         |      ORDER BY th, frame_idx) AS rn
         |  FROM tot) WHERE rn = 1
         |ORDER BY model, shot_id""".stripMargin,

    // mm13: mm11's frame energies replayed, silent-prefix segment
    // keys via the same running-sum window, dense-ranked seg ids,
    // per-segment bounds/peak.
    "mm13_speech_segments" ->
      s"""WITH RECURSIVE $audioHexCte,
         |fr AS (
         |  SELECT model, CAST(length // 64 AS BIGINT) AS n_frames, hx
         |  FROM b WHERE length // 64 >= 1),
         |en AS (
         |  SELECT model, n_frames,
         |    list_transform(range(0, n_frames), f ->
         |      list_sum(list_transform(range(0, 64), i ->
         |        (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128)
         |        * (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT
         |           - 128)))) AS energies
         |  FROM fr),
         |fx AS (
         |  SELECT model, CAST(u.f AS BIGINT) AS frame_idx,
         |    CAST(energies[u.f + 1] AS BIGINT) AS energy,
         |    (energies[u.f + 1] < 4096) AS is_silent
         |  FROM en, UNNEST(range(0, n_frames)) AS u(f)),
         |sp AS (
         |  SELECT model, frame_idx, energy, is_silent,
         |    sum(CASE WHEN is_silent THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY model ORDER BY frame_idx)
         |      AS sil_prefix
         |  FROM fx),
         |act AS (
         |  SELECT model, frame_idx, energy, sil_prefix,
         |    CAST(dense_rank() OVER (PARTITION BY model
         |      ORDER BY sil_prefix) AS BIGINT) AS seg_id
         |  FROM sp WHERE NOT is_silent)
         |SELECT model, seg_id,
         |  CAST(min(frame_idx) AS BIGINT) AS start_frame,
         |  CAST(max(frame_idx) AS BIGINT) AS end_frame,
         |  CAST(count(*) AS BIGINT) AS n_frames_seg,
         |  CAST(max(energy) AS BIGINT) AS peak_energy
         |FROM act GROUP BY 1, 2
         |ORDER BY model, seg_id""".stripMargin,

    // mm21: mm13's segment lattice replayed, per-segment
    // sign-of-delta fingerprints over the segment's own energy
    // contour, cross-blob NN as all-pairs + row_number — same
    // (hamming, model, seg) tie-break as the Spark min(struct) vote
    // over the packed (aid·2³² + seg_id) key (the dictionary ranks
    // models lexicographically).
    "mm21_segment_neardup" ->
      s"""WITH RECURSIVE $audioHexCte,
         |${segFpCtes("")},
         |pr AS (
         |  SELECT a.model, a.seg_id,
         |    b.model AS om, b.seg_id AS os,
         |    b.model || '#' || b.seg_id AS okey,
         |    CAST(bit_count(xor(a.fp_lo, b.fp_lo)) +
         |         bit_count(xor(a.fp_hi, b.fp_hi)) AS BIGINT) AS hamming
         |  FROM fp a JOIN fp b ON a.model <> b.model),
         |nn AS (
         |  SELECT model, seg_id, okey AS nn_key, hamming AS nn_hamming
         |  FROM (
         |    SELECT model, seg_id, okey, hamming,
         |      row_number() OVER (PARTITION BY model, seg_id
         |        ORDER BY hamming, om, os) AS rn
         |    FROM pr) WHERE rn = 1)
         |SELECT f.model, f.seg_id, f.n_frames_seg, f.fp_lo,
         |  n.nn_key, n.nn_hamming
         |FROM fp f LEFT JOIN nn n USING (model, seg_id)
         |ORDER BY f.model, f.seg_id""".stripMargin,

    // mm22: both modality legs re-derived from the dumped blobs (the
    // frame-hash chain incl. the MJPEG twin arm; the segment
    // fingerprints under the q prefix), the same hot-signature drop,
    // set containments and the 10^6-cut verdict CASE.
    "mm22_container_dup" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |$frameHashCtes,
         |$audioHexCte,
         |${segFpCtes("q")},
         |vh AS (
         |  SELECT DISTINCT model, ahash_hi AS h1, ahash_lo AS h2
         |  FROM hh),
         |vhot AS (
         |  SELECT h1, h2 FROM vh GROUP BY h1, h2 HAVING count(*) > 64),
         |vk AS (SELECT * FROM vh ANTI JOIN vhot USING (h1, h2)),
         |vsz AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS ns
         |  FROM vk GROUP BY 1),
         |vp AS (
         |  SELECT a.model AS model_a, b.model AS model_b,
         |    CAST(count(*) AS BIGINT) AS v_shared
         |  FROM vk a JOIN vk b ON a.h1 = b.h1 AND a.h2 = b.h2
         |    AND a.model < b.model
         |  GROUP BY 1, 2),
         |vpc AS (
         |  SELECT model_a, model_b, v_shared,
         |    CAST((1000000 * v_shared) // least(x.ns, y.ns) AS BIGINT)
         |      AS v_cont_ppm
         |  FROM vp
         |  JOIN vsz x ON vp.model_a = x.model
         |  JOIN vsz y ON vp.model_b = y.model),
         |ah AS (
         |  SELECT DISTINCT model, fp_hi AS h1, fp_lo AS h2 FROM qfp),
         |ahot AS (
         |  SELECT h1, h2 FROM ah GROUP BY h1, h2 HAVING count(*) > 64),
         |ak AS (SELECT * FROM ah ANTI JOIN ahot USING (h1, h2)),
         |asz AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS ns
         |  FROM ak GROUP BY 1),
         |ap AS (
         |  SELECT a.model AS model_a, b.model AS model_b,
         |    CAST(count(*) AS BIGINT) AS a_shared
         |  FROM ak a JOIN ak b ON a.h1 = b.h1 AND a.h2 = b.h2
         |    AND a.model < b.model
         |  GROUP BY 1, 2),
         |apc AS (
         |  SELECT model_a, model_b, a_shared,
         |    CAST((1000000 * a_shared) // least(x.ns, y.ns) AS BIGINT)
         |      AS a_cont_ppm
         |  FROM ap
         |  JOIN asz x ON ap.model_a = x.model
         |  JOIN asz y ON ap.model_b = y.model),
         |mg AS (
         |  SELECT model_a, model_b,
         |    coalesce(v_shared, 0) AS v_shared,
         |    coalesce(v_cont_ppm, 0) AS v_cont_ppm,
         |    coalesce(a_shared, 0) AS a_shared,
         |    coalesce(a_cont_ppm, 0) AS a_cont_ppm
         |  FROM vpc FULL OUTER JOIN apc USING (model_a, model_b))
         |SELECT model_a, model_b, v_shared, v_cont_ppm, a_shared,
         |  a_cont_ppm,
         |  CASE WHEN v_cont_ppm = 1000000 AND a_cont_ppm = 1000000
         |      THEN 'full_dup'
         |    WHEN v_cont_ppm = 1000000 THEN 'video_only_dup'
         |    WHEN a_cont_ppm = 1000000 THEN 'audio_only_dup'
         |    ELSE 'related' END AS verdict
         |FROM mg ORDER BY model_a, model_b""".stripMargin,

    // mm23: both signal families re-derived from the dumped blobs
    // (the same chains mm22's oracle composes), reduced to per-model
    // counts + additive checksums — the independent replay of what
    // the at-rest store claims to hold for each container.
    "mm23_signal_inventory" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |$frameHashCtes,
         |$audioHexCte,
         |${segFpCtes("q")},
         |fi AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(sum(ahash_hi) AS BIGINT) AS sum_hash_hi,
         |    CAST(sum(ahash_lo) AS BIGINT) AS sum_hash_lo
         |  FROM hh GROUP BY 1),
         |si AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS n_segs,
         |    CAST(sum(fp_lo) AS BIGINT) AS sum_fp_lo,
         |    CAST(sum(n_frames_seg) AS BIGINT) AS n_voiced_frames
         |  FROM qfp GROUP BY 1)
         |SELECT model,
         |  coalesce(fi.n_frames, 0) AS n_frames,
         |  coalesce(fi.sum_hash_hi, 0) AS sum_hash_hi,
         |  coalesce(fi.sum_hash_lo, 0) AS sum_hash_lo,
         |  coalesce(si.n_segs, 0) AS n_segs,
         |  coalesce(si.sum_fp_lo, 0) AS sum_fp_lo,
         |  coalesce(si.n_voiced_frames, 0) AS n_voiced_frames
         |FROM fi FULL OUTER JOIN si USING (model)
         |ORDER BY model""".stripMargin,

    // mm14: the RIFF/WAVE header re-parsed independently from the
    // dumped blob bytes — same chunk WALK (recursive CTE), same
    // little-endian reads, exact fixed-point duration.
    "mm14_wav_header" ->
      s"""WITH RECURSIVE ${wavHdrCtes("")},
         |p AS (
         |  SELECT model, riff_bytes, fmt_sz AS fmt_bytes, audio_format,
         |    n_channels, sample_rate, byte_rate, block_align,
         |    bits AS bits_per_sample, data_bytes
         |  FROM hdrx
         |  WHERE structure_ok AND fits)
         |SELECT model, riff_bytes, fmt_bytes, audio_format, n_channels,
         |  sample_rate, byte_rate, block_align, bits_per_sample,
         |  data_bytes,
         |  CAST((1000 * data_bytes) // byte_rate AS BIGINT) AS duration_ms
         |FROM p ORDER BY model""".stripMargin,

    // mm15: distinct frame byte-sum sets per video re-derived from the
    // dumped blobs, pair overlap through the shared-signature join.
    "mm15_video_neardup" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |sigs AS (
         |  SELECT DISTINCT model, CAST(u.sg AS BIGINT) AS sig
         |  FROM en, UNNEST(sums) AS u(sg)),
         |hot AS (
         |  SELECT sig FROM sigs GROUP BY sig HAVING count(*) > 64),
         |kept AS (
         |  SELECT * FROM sigs ANTI JOIN hot USING (sig)),
         |capn AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS n_capped
         |  FROM sigs SEMI JOIN hot USING (sig) GROUP BY model),
         |sizes AS (
         |  SELECT k.model, CAST(count(*) AS BIGINT) AS n_sigs,
         |    coalesce(any_value(c.n_capped), 0) AS n_capped
         |  FROM kept k LEFT JOIN capn c ON k.model = c.model
         |  GROUP BY 1),
         |sh AS (
         |  SELECT a.model AS model, b.model AS other,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM kept a JOIN kept b
         |    ON a.sig = b.sig AND a.model < b.model
         |  GROUP BY 1, 2)
         |SELECT sh.model, sh.other, sa.n_sigs AS n_a, sb.n_sigs AS n_b,
         |  sh.shared,
         |  CAST((1000000 * sh.shared) // (sa.n_sigs + sb.n_sigs - sh.shared)
         |    AS BIGINT) AS jaccard_ppm,
         |  CAST((1000000 * sh.shared) // least(sa.n_sigs, sb.n_sigs)
         |    AS BIGINT) AS containment_ppm,
         |  sa.n_capped AS n_capped_a, sb.n_capped AS n_capped_b
         |FROM sh
         |JOIN sizes sa ON sh.model = sa.model
         |JOIN sizes sb ON sh.other = sb.model
         |ORDER BY sh.model, sh.other""".stripMargin,

    // mm18: every declared-vs-derived check replayed from the dumped
    // blob bytes — the same chunk walks, the same exact-integer
    // comparisons, INCLUDING the structurally-rejected rows.
    "mm18_container_audit" ->
      s"""WITH RECURSIVE ${wavHdrCtes("")},
         |wrows AS (
         |  SELECT 'wav' AS container, model, n_bytes, structure_ok,
         |    CASE WHEN structure_ok THEN riff_bytes = n_bytes - 8
         |      ELSE false END AS riff_size_ok,
         |    CASE WHEN structure_ok THEN
         |      byte_rate = sample_rate * block_align
         |      AND block_align = n_channels * (bits // 8)
         |      ELSE false END AS rate_ok,
         |    CASE WHEN structure_ok THEN fits
         |      ELSE false END AS payload_ok,
         |    structure_ok AS demux_complete,
         |    CASE WHEN NOT structure_ok THEN 'unparsed'
         |      WHEN (((audio_format = 1 OR (audio_format = 65534
         |          AND fmt_sz >= 40 AND fmt_off + 40 <= n_bytes
         |          AND substr(hx, CAST((fmt_off + 24) * 2 + 1 AS BIGINT),
         |            32) = '${graft.functions.Riff.SubformatPcmHex}'))
         |          AND bits IN (8, 16))
         |        OR (audio_format = 3 AND bits = 32)
         |        OR (audio_format IN (6, 7) AND bits = 8))
         |        AND n_channels IN (1, 2) THEN 'ok'
         |      WHEN audio_format = 85 THEN 'mp3_layer3'
         |      WHEN audio_format = 1 OR (audio_format = 65534
         |          AND fmt_sz >= 40 AND fmt_off + 40 <= n_bytes
         |          AND substr(hx, CAST((fmt_off + 24) * 2 + 1 AS BIGINT),
         |            32) = '${graft.functions.Riff.SubformatPcmHex}')
         |        OR audio_format IN (3, 6, 7) THEN 'unsupported_layout'
         |      ELSE 'unsupported_codec' END AS codec_reason
         |  FROM hdrx),
         |$aviDemuxCtes,
         |avlen AS (
         |  SELECT model, CAST(length AS BIGINT) AS n_bytes
         |  FROM ${tbl("avi_blobs")}),
         |avagg AS (
         |  SELECT h.model,
         |    coalesce(sum(CASE WHEN d.off + d.sz <= length(h.hx) // 2
         |      THEN 1 ELSE 0 END) FILTER (WHERE d.rn <= h.nf), 0)
         |      AS n_fit,
         |    coalesce(count(d.rn), 0) AS n_found,
         |    coalesce(bool_and(CASE WHEN mj.model IS NOT NULL
         |      THEN d.sz > 0
         |      ELSE d.sz::HUGEINT = h.wd::HUGEINT * h.ht END),
         |      true) AS dims_ok
         |  FROM avhdr h
         |  LEFT JOIN avdb d USING (model)
         |  LEFT JOIN avmj mj USING (model)
         |  GROUP BY h.model),
         |avp AS (
         |  SELECT l.model, l.n_bytes,
         |    coalesce(h.model IS NOT NULL AND m.movi0 IS NOT NULL, false)
         |      AS structure_ok,
         |    ${dkLe("h.hx", 5, 4)} AS riff_bytes,
         |    h.uspf AS uspf, h.nf AS nf,
         |    g.n_fit, g.n_found, g.dims_ok,
         |    c.model IS NULL AS walk_done
         |  FROM avlen l
         |  LEFT JOIN avhdr h USING (model)
         |  LEFT JOIN avmv m USING (model)
         |  LEFT JOIN avagg g USING (model)
         |  LEFT JOIN avmcap c USING (model)),
         |arows AS (
         |  SELECT 'avi' AS container, p.model, n_bytes, structure_ok,
         |    CASE WHEN structure_ok THEN riff_bytes = n_bytes - 8
         |      ELSE false END AS riff_size_ok,
         |    CASE WHEN structure_ok THEN uspf > 0 AND dims_ok
         |      ELSE false END AS rate_ok,
         |    CASE WHEN structure_ok AND nf <= n_found
         |      THEN nf = 0 OR n_fit = nf
         |      ELSE false END AS payload_ok,
         |    CASE WHEN structure_ok THEN walk_done
         |      ELSE false END AS demux_complete,
         |    CASE WHEN NOT structure_ok THEN 'unparsed'
         |      WHEN v.vcodec IS NULL OR v.vcodec = '00000000'
         |        OR v.vcodec = '${graft.functions.Riff.MjpgFourccHex}'
         |        THEN 'ok'
         |      WHEN v.vcodec IN (${graft.functions.Riff.H264FourccsHex
               .map(h => s"'$h'").mkString(", ")}) THEN 'h264'
         |      ELSE 'unsupported_codec' END AS codec_reason
         |  FROM avp p LEFT JOIN avvh v USING (model)),
         |allrows AS (
         |  SELECT * FROM wrows UNION ALL SELECT * FROM arows)
         |SELECT container, model, n_bytes, structure_ok, riff_size_ok,
         |  rate_ok, payload_ok, demux_complete, codec_reason,
         |  structure_ok AND riff_size_ok AND rate_ok AND payload_ok
         |    AND demux_complete AS consistent
         |FROM allrows ORDER BY container, model""".stripMargin,

    // mm16: the avih fields re-parsed independently from the dumped
    // blob bytes — the same chunk WALK (top-level for hdrl, inside
    // it for avih; round-12), same little-endian reads.
    "mm16_avi_header" ->
      s"""WITH RECURSIVE $aviDemuxCtes,
         |p AS (
         |  SELECT model,
         |    ${dkLe("hx", 5, 4)} AS riff_bytes,
         |    uspf AS us_per_frame,
         |    nf AS total_frames,
         |    nstreams AS n_streams,
         |    wd AS width,
         |    ht AS height
         |  FROM avhdr)
         |SELECT model, riff_bytes, us_per_frame, total_frames, n_streams,
         |  width, height,
         |  CAST(1000000000 // us_per_frame AS BIGINT) AS fps_milli,
         |  CAST((us_per_frame * total_frames) // 1000 AS BIGINT)
         |    AS duration_ms
         |FROM p ORDER BY model""".stripMargin,

    // mm19: every conforming frame's 8×8 point-sample aHash
    // re-derived from the dumped blobs (the BmpAHash grid convention
    // on raw w×h gray frames), then the cross-video hamming-NN
    // replayed as all-pairs + row_number — same (distance, model,
    // frame_idx) tie-break as the Spark min(struct) vote over the
    // packed (mid·2³² + frame_idx) key (round-13: numeric frame
    // order; the dictionary ranks models lexicographically, so
    // ordering by model string ≡ ordering by mid).
    "mm19_frame_phash" ->
      s"""WITH RECURSIVE $videoSumsCte,
         |$frameHashCtes,
         |pr AS (
         |  SELECT a.model, a.frame_idx,
         |    b.model AS omodel, b.frame_idx AS ofi,
         |    b.model || '#' || b.frame_idx AS okey,
         |    CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
         |         bit_count(xor(a.ahash_lo, b.ahash_lo)) AS BIGINT)
         |      AS hamming
         |  FROM hh a JOIN hh b ON a.model <> b.model),
         |nn AS (
         |  SELECT model, frame_idx, okey AS nn_key,
         |    hamming AS nn_hamming
         |  FROM (
         |    SELECT model, frame_idx, okey, hamming,
         |      row_number() OVER (PARTITION BY model, frame_idx
         |        ORDER BY hamming, omodel, ofi) AS rn
         |    FROM pr) WHERE rn = 1)
         |SELECT h.model, h.frame_idx, h.ahash_hi, h.ahash_lo,
         |  n.nn_key, n.nn_hamming
         |FROM hh h LEFT JOIN nn n USING (model, frame_idx)
         |ORDER BY h.model, h.frame_idx""".stripMargin,

    // mm17: the three gate branches replayed from the dumped blobs —
    // BMP variance via the shared aHash gray CTEs, audio silence via
    // the pcm∪wav byte table, video duplicates via the demuxed
    // signature sets — then one admission row per asset.
    "mm17_curation_audit" ->
      s"""WITH RECURSIVE ${ahashCtes(
             s"SELECT model, hex(silhouette) AS hx FROM ${tbl("mm_blobs")}")},
         |ist AS (
         |  SELECT model, sum(gray) AS sg, sum(gray * gray) AS sq
         |  FROM g GROUP BY 1),
         |img AS (
         |  SELECT 'image' AS kind, i.model,
         |    CAST(m.length AS BIGINT) AS n_bytes,
         |    CASE WHEN (64 * sq - sg * sg) < 4096000 THEN 'flat_image'
         |      ELSE 'ok' END AS reason
         |  FROM ist i JOIN ${tbl("mm_blobs")} m ON i.model = m.model),
         |${audioHexCte("ab")},
         |aen AS (
         |  SELECT model, CAST(length AS BIGINT) AS n_bytes,
         |    length // 64 AS nfr,
         |    list_transform(range(0, length // 64), f ->
         |      list_sum(list_transform(range(0, 64), i ->
         |        (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT - 128)
         |        * (('0x' || substr(hx, (f*64 + i)*2 + 1, 2))::BIGINT
         |           - 128)))) AS energies
         |  FROM ab),
         |aud AS (
         |  SELECT 'audio' AS kind, model, n_bytes,
         |    CASE WHEN nfr < 1 THEN 'too_short'
         |      WHEN (1000000 * list_sum(list_transform(energies,
         |          e -> CASE WHEN e < 4096 THEN 1 ELSE 0 END))) // nfr
         |        >= 500000 THEN 'mostly_silent'
         |      ELSE 'ok' END AS reason
         |  FROM aen),
         |$videoSumsCte,
         |sigs AS (
         |  SELECT DISTINCT model, CAST(u.sg AS BIGINT) AS sig
         |  FROM en, UNNEST(sums) AS u(sg)),
         |hot AS (
         |  SELECT sig FROM sigs GROUP BY sig HAVING count(*) > 64),
         |kept AS (
         |  SELECT * FROM sigs ANTI JOIN hot USING (sig)),
         |sizes AS (
         |  SELECT model, CAST(count(*) AS BIGINT) AS n FROM kept GROUP BY 1),
         |prs AS (
         |  SELECT a.model AS ma, b.model AS mb,
         |    CAST(count(*) AS BIGINT) AS shared
         |  FROM kept a JOIN kept b ON a.sig = b.sig AND a.model < b.model
         |  GROUP BY 1, 2),
         |vict AS (
         |  SELECT model, min(vreason) AS vreason FROM (
         |    SELECT CASE WHEN y.n < x.n THEN p.mb
         |                WHEN x.n < y.n THEN p.ma
         |                ELSE p.mb END AS model,
         |      CASE WHEN (1000000 * p.shared) // (x.n + y.n - p.shared)
         |          = 1000000 THEN 'exact_dup' ELSE 'contained_dup' END
         |        AS vreason
         |    FROM prs p
         |    JOIN sizes x ON p.ma = x.model
         |    JOIN sizes y ON p.mb = y.model
         |    WHERE (1000000 * p.shared) // least(x.n, y.n) = 1000000)
         |  GROUP BY model),
         |vid AS (
         |  SELECT 'video' AS kind, e.model,
         |    CAST(coalesce(list_sum(e.szs), 0) AS BIGINT) AS n_bytes,
         |    CASE WHEN e.nf < 2 THEN 'too_short'
         |      ELSE coalesce(v.vreason, 'ok') END AS reason
         |  FROM en e LEFT JOIN vict v ON e.model = v.model),
         |allrows AS (
         |  SELECT * FROM img UNION ALL SELECT * FROM aud
         |  UNION ALL SELECT * FROM vid)
         |SELECT kind, model, n_bytes, reason = 'ok' AS admitted, reason
         |FROM allrows ORDER BY kind, model""".stripMargin
  )

  /** The reference's `event` composite type
    * (`create_graphql_functions.sql:3-15`): landing/takeoff events
    * joined to their flight (inner) then airlines ⟕ countries,
    * producing (id, flight_id, callsign, airline, country,
    * country_code, first_seen, last_seen, time, runway) exactly as
    * `landings_on_details`/`takeoffs_on_details` (`:30-95`) do.
    *
    * The reference's serial ids are surrogate join keys, not
    * semantics (SURVEY §1.3) — here they are derived DETERMINISTICALLY
    * from the natural keys (a portable md5-derived 60-bit hash of
    * (hexident, session_start) for flights, plus (time, kind) for
    * events — [[PortableHash.phashStr]], so the DuckDB oracle
    * recomputes the ids): no global no-partition window assigning
    * row_numbers, so the id assignment is embarrassingly parallel at
    * any scale. The only total order is the final presentation sort by
    * event time. */
  def eventDetails(out: Dataset[Out], airlines: DataFrame,
      countries: DataFrame): DataFrame = {
    // events and flights share the `out` lineage — alias both sides so
    // Spark's ambiguous-self-join detection sees qualified columns.
    val flights = AdsbPipeline.flights(out)
      .withColumn("flight_id", PortableHash.phashStr(concat_ws("#",
        col("hexident"),
        unix_micros(col("session_start").cast("timestamp"))))).as("f")
    val events = AdsbPipeline.events(out)
      .withColumn("id", PortableHash.phashStr(concat_ws("#",
        col("hexident"),
        unix_micros(col("session_start").cast("timestamp")),
        unix_micros(col("time").cast("timestamp")), col("kind")))).as("e")
    ntz(events
      .join(flights, col("e.hexident") === col("f.hexident") &&
        col("e.session_start") === col("f.session_start"))
      .join(broadcast(airlines.as("a")),
        substring(col("f.callsign"), 1, 3) === col("a.icao"), "left")
      .join(broadcast(countries.as("c")),
        col("a.country") === col("c.name"), "left")
      .select(col("e.id"), col("f.flight_id"), col("f.callsign"),
        col("a.name").as("airline"), col("a.country"),
        col("c.code").as("country_code"),
        col("f.first_seen"), col("f.last_seen"),
        col("e.time"), col("e.runway")),
      "first_seen", "last_seen", "time")
      .orderBy(col("time"), col("id"),
        col("airline").asc_nulls_first, col("country_code").asc_nulls_first)
  }
}
