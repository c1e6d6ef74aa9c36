package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The RIFF chunk-walk kernel (round-11): find semantics, malformed
  * bounds, and the planted NON-CANONICAL fixtures demuxing through
  * it — vid_junk (strl + JUNK + odd-frame-size pad + idx1) and
  * chant_i (LIST/INFO between fmt and data). */
class RiffWalkSpec extends SparkSpec {

  private def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/meta/media/$name")
    require(in != null)
    val b = in.readAllBytes(); in.close(); b
  }

  private val t = Riff.pack4cc _

  test("find: ids, LIST types, even-pad advance, first-match wins") {
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes ++ Array[Byte]((data.length & 0xFF).toByte,
        ((data.length >> 8) & 0xFF).toByte, 0, 0) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    val body = chunk("odd ", Array[Byte](1, 2, 3)) ++ // odd size: padded
      chunk("LIST", "INFO".getBytes ++ Array[Byte](9)) ++
      chunk("fmt ", Array[Byte](7, 7)) ++
      chunk("fmt ", Array[Byte](8, 8, 8, 8)) // second fmt: must NOT win
    val b = "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++
      "WAVE".getBytes ++ body
    // plain chunk by id: data offset skips the 8-byte header
    val f = Riff.find(b, 12, b.length, t("fmt "), forms = false)
    assert(f >= 0)
    val (off, sz) = ((f >>> 32).toInt, (f & 0xFFFFFFFFL).toInt)
    // odd chunk (8+3+1=12) then LIST (8+9... 'INFO'+1 byte=5, padded
    // to 6 → 14) then fmt header → data
    assert(off === 12 + 12 + 14 + 8 && sz === 2)
    // LIST matched by its form type (forms = true); data INCLUDES
    // the type word
    val l = Riff.find(b, 12, b.length, t("INFO"), forms = true)
    assert((l >>> 32).toInt === 12 + 12 + 8 && (l & 0xFFFFFFFFL) === 5)
    // absent fourcc
    assert(Riff.find(b, 12, b.length, t("data"), forms = false) === -1L)
    // mode split (round-11 review): an id search never matches a LIST
    // form word, and a form search never matches a plain id — a LIST
    // whose form spells 'fmt ' cannot shadow the real fmt chunk
    assert(Riff.find(b, 12, b.length, t("INFO"), forms = false) === -1L)
    assert(Riff.find(b, 12, b.length, t("fmt "), forms = true) === -1L)
    // a declared size running off the end: walk stops, returns -1
    val trunc = b.take(12) ++ "fmt ".getBytes ++
      Array[Byte](-1, -1, -1, 127) ++ Array[Byte](1, 2)
    assert(Riff.find(trunc, 12, trunc.length, t("data"),
      forms = false) === -1L)
    // start past the end / negative: -1, never a throw
    assert(Riff.find(b, b.length + 4, b.length, t("fmt "),
      forms = false) === -1L)
    assert(Riff.find(b, -3, b.length, t("fmt "), forms = false) === -1L)
  }

  test("vid_junk demuxes: walk past strl+JUNK, padded stride, nf-bounded") {
    val rows = graft.queries.AdsbQueries.videoFrameSums(spark)
      .where(col("model") === "vid_junk")
      .select("n_frames", "offs", "szs", "sums")
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert(r.getInt(0) === 9)
    // RIFF(12) + hdrl(8+184) + JUNK(8+12) + LIST hdr(8) + 'movi'(4)
    // + chunk hdr(8) = 244; odd 33-byte frames pad each chunk to a
    // 42-byte stride
    assert(r.getSeq[Long](1) === (0 until 9).map(f => 244L + f * 42L))
    assert(r.getSeq[Long](2) === Seq.fill(9)(33L))
    val sums = r.getSeq[Long](3)
    // bounded by the declared frame count — the trailing idx1 bytes
    // must never appear as extra "frames"
    assert(sums.length === 9)
    val expected = (0 until 9).map(f =>
      (0 until 33).map(i => (f * 37 + i * 11 + 7) % 251).sum.toLong)
    assert(sums === expected)
  }

  test("vid_pre parses: a JUNK chunk before hdrl no longer excludes") {
    // round-12 verdict ask #2: the old gate pinned hdrl at byte 12
    val hdr = graft.queries.AdsbQueries.defs("mm16_avi_header")(spark, "")
      .where(col("model") === "vid_pre").collect()
    assert(hdr.length === 1)
    assert(hdr.head.getLong(2) === 40000L) // us_per_frame
    assert(hdr.head.getLong(3) === 6L) // total_frames
    assert(hdr.head.getLong(5) === 5L) // width
    assert(hdr.head.getLong(6) === 4L) // height
    val r = graft.queries.AdsbQueries.videoFrameSums(spark)
      .where(col("model") === "vid_pre")
      .select("n_frames", "offs", "szs", "sums").collect().head
    assert(r.getInt(0) === 6)
    // RIFF(12) + JUNK(8+18) + LIST hdrl(8+68) + LIST hdr(8) +
    // 'movi'(4) + chunk hdr(8) = 134; even 20-byte frames, stride 28
    assert(r.getSeq[Long](1) === (0 until 6).map(f => 134L + f * 28L))
    assert(r.getSeq[Long](3) ===
      Seq(1390L, 2010L, 2630L, 3250L, 3614L, 2954L))
  }

  test("vid_mix demuxes: interleaved 01wb skipped, per-chunk sizes kept") {
    // round-12 verdict ask #3: three audio chunks interleave the five
    // video frames, two frames are off the uniform size (17 B odd ->
    // RIFF pad, 11 B short) — the id-keyed sub-chunk walk must keep
    // exactly the 00db chunks at their container-true offsets
    val r = graft.queries.AdsbQueries.videoFrameSums(spark)
      .where(col("model") === "vid_mix")
      .select("n_frames", "offs", "szs", "sums").collect().head
    assert(r.getInt(0) === 5)
    assert(r.getSeq[Long](1) === Seq(244L, 290L, 316L, 362L, 388L))
    assert(r.getSeq[Long](2) === Seq(18L, 18L, 17L, 18L, 11L))
    assert(r.getSeq[Long](3) === Seq(1773L, 2727L, 2615L, 2331L, 1200L))
    // and mm8 samples at those offsets, not a uniform stride
    val mm8 = graft.queries.AdsbQueries.defs("mm8_frame_sample")(spark, "")
      .where(col("model") === "vid_mix").collect()
      .map(x => x.getLong(2) -> x.getLong(3)).toMap
    assert(mm8 === Map(0L -> 244L, 4L -> 388L))
  }

  test("mm16 decodes vid_junk's avih exactly") {
    val r = graft.queries.AdsbQueries.defs("mm16_avi_header")(spark, "")
      .where(col("model") === "vid_junk").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getLong(2) === 66666L) // us_per_frame
    assert(row.getLong(3) === 9L) // total_frames
    assert(row.getLong(4) === 1L) // n_streams
    assert(row.getLong(5) === 11L) // width
    assert(row.getLong(6) === 3L) // height
    assert(row.getLong(7) === 1000000000L / 66666L) // fps_milli
    assert(row.getLong(8) === 66666L * 9L / 1000L) // duration_ms
  }

  test("mm8 samples vid_junk at container-true byte offsets") {
    val rows = graft.queries.AdsbQueries.defs("mm8_frame_sample")(spark, "")
      .where(col("model") === "vid_junk").collect()
      .map(r => r.getLong(2) -> r.getLong(3)).toMap
    // k=4 sampling of 9 frames: indices 0, 4, 8
    assert(rows.keySet === Set(0L, 4L, 8L))
    rows.foreach { case (idx, off) => assert(off === 244L + idx * 42L) }
  }

  test("vid_talk's 01wb audio joins the corpus through the demux") {
    // round-12: the THIRD container — an interleaved AVI's audio is
    // the ordered concat of its 01wb payloads (4096 bytes across
    // three chunks), analyzed identically to pcm/wav: 64 frames,
    // 24 silent (planted 16+8 around a 40-frame burst), admitted
    val r = graft.queries.AdsbQueries.defs("mm11_audio_silence")(
      spark, "").where(col("model") === "vid_talk").collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_frames") === 64L)
    assert(r.head.getAs[Long]("n_silent") === 24L)
    assert(r.head.getAs[Long]("silence_ppm") === 375000L)
    assert(!r.head.getAs[Boolean]("mostly_silent"))
    // segment structure: ONE active run spanning frames 16-55
    val seg = graft.queries.AdsbQueries.defs("mm13_speech_segments")(
      spark, "").where(col("model") === "vid_talk").collect()
    assert(seg.length === 1)
    assert(seg.head.getAs[Long]("start_frame") === 16L)
    assert(seg.head.getAs[Long]("end_frame") === 55L)
    assert(seg.head.getAs[Long]("n_frames_seg") === 40L)
    // and the too-short audio stream (vid_mix, 30 bytes) never
    // reaches the frame lattice
    val mix = graft.queries.AdsbQueries.defs("mm11_audio_silence")(
      spark, "").where(col("model") === "vid_mix").collect()
    assert(mix.isEmpty)
  }

  test("the AVI audio gate: vid_talk and vid_duet admit, the rest fail closed") {
    // the demuxed 01wb stream canonicalizes onto unsigned-8 mono with
    // exact byte, frame and silent-frame counts: vid_talk's 4096
    // planted bytes (24 of 64 frames silent) and vid_duet's 16-bit
    // stereo 16640 bytes collapsed to 4160 channel-mean samples (its
    // planted 4-frame silent rim in 65). Rejected: a video-only movi
    // (vid_pre), a movi past the 4096-chunk walk cap (vid_wall) and
    // an auds strf declaring 24-bit samples, outside the canonical
    // contract
    import spark.implicits._
    val wide = fixture("vid_talk.avi").clone()
    assert(wide(310) === 8.toByte, "auds strf layout moved — repin")
    wide(310) = 24.toByte
    val blobs = Seq("vid_talk", "vid_pre", "vid_duet", "vid_wall")
      .map(m => m -> fixture(s"$m.avi")) :+ ("vid_talk_24" -> wide)
    val audio = Riff.withAviAudio(blobs.toDF("model", "content"))
    val admitted = audio.where(col("avi_audio_ok"))
      .select(col("model"), Pcm.pcmCanonical(col("avi_audio"),
        col("avi_audio_format"), col("avi_audio_bits"),
        col("avi_audio_channels")).as("pcm"))
      .select(col("model"), length(col("pcm")).cast("long"),
        FrameSums.frameEnergies(col("pcm"), lit(0), lit(64)))
      .collect().map { r =>
        val e = r.getSeq[Long](2)
        val silent = e.count(_ < 4096L).toLong
        r.getString(0) ->
          ((r.getLong(1), e.length.toLong, 1000000L * silent / e.length))
      }.toMap
    assert(admitted === Map(
      "vid_talk" -> ((4096L, 64L, 375000L)),
      "vid_duet" -> ((4160L, 65L, 61538L))))
    val rejected = audio.where(!col("avi_audio_ok"))
      .select("model").as[String].collect().toSet
    assert(rejected === Set("vid_pre", "vid_wall", "vid_talk_24"))
  }

  test("the shared gates never throw on garbage blobs, even unguarded") {
    // round-12 regression: a not-found chunk's packed sentinel
    // decodes to offset 2³²−1; selecting the field columns OUTSIDE
    // their ok-guards (which local-relation constant evaluation does
    // for whole projections) previously hit an ANSI int-cast
    // overflow and crashed the task. Fields must come back NULL with
    // the gates false — for raw noise, a bare RIFF header, and an
    // empty blob.
    import spark.implicits._
    val blobs = Seq(
      1L -> Array.fill[Byte](10)(1),
      2L -> "RIFF    WAVE".getBytes("ISO-8859-1"),
      3L -> Array.emptyByteArray)
    val df = blobs.toDF("media_id", "content")
    val w = Riff.withWavColumns(df)
      .select(col("media_id"), col("wav_ok"), col("audio_format"),
        col("sample_rate")).collect()
    w.foreach { r =>
      assert(!r.getBoolean(1), s"wav_ok for ${r.getLong(0)}")
      assert(r.isNullAt(2) && r.isNullAt(3), s"fields for ${r.getLong(0)}")
    }
    val a = Riff.withAviAudio(df)
      .select(col("media_id"), col("avi_ok"), col("us_per_frame"),
        col("width"), col("avi_audio_ok"), col("avi_audio")).collect()
    a.foreach { r =>
      assert(!r.getBoolean(1) && !r.getBoolean(4), s"ok ${r.getLong(0)}")
      assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(5),
        s"fields for ${r.getLong(0)}")
    }
  }

  test("RF64 admits through ds64; lying or missing ds64 fails closed") {
    import spark.implicits._
    def le(n: Long, w: Int): Array[Byte] =
      (0 until w).map(i => ((n >> (8 * i)) & 0xFF).toByte).toArray
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("ISO-8859-1") ++ le(data.length.toLong, 4) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0)
         else Array.emptyByteArray)
    val fmt = le(1, 2) ++ le(1, 2) ++ le(8000, 4) ++ le(16000, 4) ++
      le(2, 2) ++ le(16, 2)
    val pay = Array.tabulate[Byte](128)(i => i.toByte)
    def build(ds: Option[Array[Byte]], dataSz: Long): Array[Byte] =
      "RF64".getBytes("ISO-8859-1") ++ le(0xFFFFFFFFL, 4) ++
        "WAVE".getBytes("ISO-8859-1") ++
        ds.map(d => chunk("ds64", d)).getOrElse(Array.emptyByteArray) ++
        chunk("fmt ", fmt) ++
        "data".getBytes("ISO-8859-1") ++ le(dataSz, 4) ++ pay
    def ds64(riffSz: Long, dataSz: Long) =
      le(riffSz, 8) ++ le(dataSz, 8) ++ le(64L, 8) ++ le(0L, 4)
    val blobs = Seq(
      1L -> build(Some(ds64(9000L, 128L)), 0xFFFFFFFFL), // honest RF64
      2L -> build(None, 0xFFFFFFFFL), // no ds64
      3L -> build(Some(le(0L, 8) ++ le(128L, 4)), 0xFFFFFFFFL), // short
      // u64 dataSize with a nonzero top-two-byte region: could not
      // fit any readable blob and would overflow the long read —
      // rejected at rf64_ok, before any size math
      4L -> build(Some(ds64(9000L, 1L << 48)), 0xFFFFFFFFL),
      // ds64 declares more payload than the blob carries: admits
      // structurally, fails the fits gate VISIBLY
      5L -> build(Some(ds64(9000L, 256L)), 0xFFFFFFFFL))
    val w = Riff.withWavColumns(blobs.toDF("media_id", "content"))
      .select(col("media_id"), col("wav_ok"), col("wav_fits"),
        col("data_bytes"), col("riff_bytes"), col("bits_per_sample"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(w(1L).getBoolean(1) && w(1L).getBoolean(2))
    assert(w(1L).getLong(3) === 128L) // ds64 dataSize, not 0xFFFFFFFF
    assert(w(1L).getLong(4) === 9000L) // ds64 riffSize
    assert(w(1L).getLong(5) === 16L)
    Seq(2L, 3L, 4L).foreach(id =>
      assert(!w(id).getBoolean(1), s"wav_ok for $id"))
    assert(w(5L).getBoolean(1) && !w(5L).getBoolean(2))
    // a plain-RIFF wav is untouched by the RF64 path: raw 32-bit
    // sizes stay authoritative even if a stray ds64 chunk appears
    val riff = "RIFF".getBytes("ISO-8859-1") ++ le(12345L, 4) ++
      "WAVE".getBytes("ISO-8859-1") ++
      chunk("ds64", ds64(7L, 7L)) ++ chunk("fmt ", fmt) ++
      chunk("data", pay)
    val r = Riff.withWavColumns(Seq(6L -> riff).toDF("media_id", "content"))
      .select(col("wav_ok"), col("data_bytes"), col("riff_bytes")).head()
    assert(r.getBoolean(0))
    assert(r.getLong(1) === 128L)
    assert(r.getLong(2) === 12345L)
  }

  test("chant_i joins the audio corpus through the walked payload") {
    // the non-canonical wav's payload participates in the pcm∪wav
    // audio family exactly like a headerless blob
    val b = fixture("chant_i.wav")
    val rows = graft.queries.AdsbQueries.defs("mm11_audio_silence")(
      spark, "").where(col("model") === "chant_i").collect()
    assert(rows.length === 1)
    // 24 of 64 frames are near-silent by construction (37.5% —
    // admitted by the 50% gate)
    assert(rows.head.getAs[Long]("n_frames") === 64L)
    assert(rows.head.getAs[Long]("silence_ppm") === 375000L)
    assert(b.length === 4166) // container: header + LIST/INFO + data
  }
}
