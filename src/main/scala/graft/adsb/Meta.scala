package graft.adsb

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Metadata dimension loaders + GeoJSON metadata views.
  *
  * S4 — the `\copy` CSV ingest (`database/csv2db.sh:13-17`,
  * `read_csv_data.sql:1-10`): openflights `airlines.csv` (nulls as
  * `\N`, quoted) and ourairports `countries.csv`. These are small
  * broadcast dims.
  *
  * S5 — `meta.load_aircraft` (`read_csv_data.sql:12-38`): silhouette
  * `.bmp` blobs keyed by filename stem, rebuilt on the `binaryFile`
  * source + `input_file_name()` instead of a plpgsql directory loop.
  *
  * Q14 — `airports_geojson` / `runways_geojson` / `range_rings_geojson`
  * (`create_meta_schema.sql:108-119,159-167,191-201`): projections of
  * the seed geometry emitted as 6-decimal GeoJSON.
  */
object Meta {

  /** Bundled resource → temp file path (metadata ships with the jar). */
  // one extraction per resource per JVM: the default-argument sites
  // (loadAirlines/loadCountries inside query closures) re-evaluate on
  // EVERY call — uncached, each bench iteration would copy two more
  // never-deleted temp files
  private val extracted =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def resourcePath(name: String): String =
    extracted.computeIfAbsent(name, { n =>
      val in = getClass.getResourceAsStream(s"/meta/$n")
      require(in != null, s"missing resource $n")
      val tmp = java.nio.file.Files.createTempFile("graft-meta-",
        n.replace('/', '_'))
      java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.toFile.deleteOnExit()
      tmp.toString
    })

  private val bundledSilhouettes =
    Seq("A1.bmp", "A10.bmp", "A109.bmp", "A119.bmp", "A122.bmp", "A124.bmp",
      // X32: a 32-bpp BI_RGB bitmap (round-13 — the ubiquitous BGRX
      // screenshot/render layout; synthetic, unlike the six
      // reference silhouettes): exercises the widened image sample
      // contract end to end (aHash/dHash/grayStats + every image
      // gate row), generated by tools/fixtures/gen_r13_media.py
      "X32.bmp")

  /** Copy the bundled `/meta/<sub>/` files `names` into a fresh temp
    * directory; every file and the directory are deleted on exit. */
  private def extractBundle(prefix: String, sub: String,
      names: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    names.foreach { n =>
      val in = getClass.getResourceAsStream(s"/meta/$sub/$n")
      require(in != null, s"missing $n")
      java.nio.file.Files.copy(in, dir.resolve(n))
      dir.resolve(n).toFile.deleteOnExit()
    }
    dir.toFile.deleteOnExit()
    dir.toString
  }

  /** Extract the bundled sample silhouettes to a temp dir (for S5). */
  // same once-per-JVM rationale as resourcePath
  private lazy val extractedSilhouettes: String =
    extractBundle("graft-sil", "silhouettes", bundledSilhouettes)

  def silhouettesDir(): String = extractedSilhouettes

  private val bundledMedia = Seq(
    "tone_a.pcm", "tone_a_dup.pcm", "tone_b.pcm", "noise_c.pcm",
    "sweep_d.pcm", "sweep_d_dup.pcm", "mix_e.pcm", "quiet_f.pcm",
    "speech_g.pcm",
    // dialog_h: THREE bursts (amp 30/50/20) between four silent gaps
    // (8|12|10|16|6|10|2 frames) — the multi-segment case that makes
    // mm13's silent-prefix segment keying load-bearing (every other
    // signal is a single run, where any grouping bug would pass)
    "dialog_h.pcm",
    // dialog_h_w: dialog_h's SAMPLES inside a real RIFF/WAVE container
    // (canonical 44-byte PCM header: mono, 8 kHz, 8-bit) — the
    // real-format twin mm14 parses and mm13 must segment identically
    "dialog_h_w.wav",
    // chant_i: a NON-CANONICAL wav — a LIST/INFO chunk sits between
    // 'fmt ' and 'data' (the common tagging layout), so it parses
    // ONLY through the round-11 chunk walk; two bursts between
    // near-silent runs (12/32 silent frames — admitted)
    "chant_i.wav",
    // claim_j: a structurally VALID canonical wav whose declared
    // byte_rate lies (16000 vs sample_rate·block_align = 8000) — the
    // encoder-bug case mm18's declared-vs-derived rate check flags;
    // parsers must still admit it (structure is fine)
    "claim_j.wav",
    "vid_a.gvid", "vid_a_cut.gvid", "vid_b.gvid", "vid_c.gvid",
    "vid_scene.gvid",
    // vid_scene_a: vid_scene's FRAMES inside a real RIFF/AVI container
    // (canonical minimal layout: RIFF('AVI ') → LIST('hdrl' avih) →
    // LIST('movi' 00db…)) — the video-side real-format twin mm16
    // header-parses, the mm14 story for video
    "vid_scene_a.avi",
    // vid_junk: a NON-CANONICAL avi — a strl LIST inside hdrl, a JUNK
    // alignment chunk before movi, an ODD frame size (33 B — RIFF
    // even-byte pad in the chunk stride) and a trailing idx1 index:
    // demuxes ONLY through the round-11 chunk walk + padded stride +
    // frame-count-bounded sums
    "vid_junk.avi",
    // vid_pre: a JUNK alignment chunk BEFORE the hdrl LIST (spec-
    // legal; common in remuxed files) — parses ONLY through the
    // round-12 walked header (the old gate pinned hdrl at byte 12)
    "vid_pre.avi",
    // vid_mix: an INTERLEAVED movi — 01wb audio chunks between the
    // 00db video frames, per-frame size variation (two frames off
    // the declared 6x3 dims; mm18 flags rate_ok=false), a strl LIST
    // padding hdrl after avih: demuxes ONLY through the round-12
    // movi sub-chunk walk keyed on chunk ids
    "vid_mix.avi",
    // vid_talk: an interleaved AVI whose 01wb AUDIO stream is real —
    // 4096 bytes (64 pcm frames: 16 silent, 40 burst, 8 silent)
    // split across three chunks between four video frames. Feeds the
    // round-12 audio demux leg: the SAME signal analysis over pcm ∪
    // wav ∪ avi (admitted by mm11's 50% gate at 375000 ppm silent,
    // fingerprinted by mm7 at exactly its 64-frame window)
    "vid_talk.avi",
    // vid_scene_b: vid_scene_a with EVERY frame perturbed at two
    // off-sample-grid pixels — every frame byte-SUM changes (the
    // mm15 sum-signature dedup sees two unrelated videos) while the
    // 8×8 aHash point samples are untouched (mm19's perceptual
    // frame hash sees 16 hamming-0 twins): the re-encode case that
    // motivates frame-level perceptual dedup
    "vid_scene_b.avi",
    // dialog_h_16: dialog_h's SIGNAL as 16-bit little-endian mono
    // (sample i = dialog_h[i]·256 + junk low byte) — round-13:
    // canonicalizes to dialog_h's EXACT bytes, so mm13 segments
    // identically and mm7 lands a third hamming-0 twin:
    // bit-depth-independent audio analysis, proven end to end
    "dialog_h_16.wav",
    // duet_s8: 8-bit STEREO (L = c+5, R = c−5 around a fresh
    // 2048-sample signal) — the channel-mean canonicalization case;
    // 12/32 silent frames (admitted), one speech segment (8..27)
    "duet_s8.wav",
    // organ_24: a structurally VALID, internally consistent wav
    // declaring 24-bit samples — OUTSIDE the canonicalization
    // contract, so the analysis family must REJECT it visibly
    // (mm14/mm18 still parse the header; fail-closed, never a
    // mis-read of 3-byte samples as 8-bit)
    "organ_24.wav",
    // hymn_x: WAVE_FORMAT_EXTENSIBLE (0xFFFE) 16-bit stereo — the
    // layout most real-world multi-channel/high-bit-depth WAVs ship
    // as; admits ONLY through the SubFormat-GUID PCM check
    // (Riff.fmtIsPcm), then canonicalizes like any 16/2 payload
    "hymn_x.wav",
    // phone_u / fax_a: G.711 µ-law (format 7) and A-law (format 6)
    // telephony captures — decode through the ITU table formulas in
    // Pcm.canonical (spec-pinned against the published values), the
    // real-world 8 kHz call-audio case
    "phone_u.wav", "fax_a.wav",
    // bell_r64: RF64/BWF (EBU Tech 3306) 16-bit mono — the 64-bit
    // WAV a > 4 GiB capture ships as: 32-bit size fields hold the
    // 0xFFFFFFFF placeholder, real sizes come from the ds64 chunk
    // through the same walk (round-14)
    "bell_r64.wav",
    // flute_f32: IEEE float PCM (format 3, 32-bit mono) — decodes
    // through the engine-exact integer floor(clamp·32767) rule in
    // Pcm.f32ToV16 (round-14), never a libm float op
    "flute_f32.wav",
    // vid_duet: an interleaved AVI carrying 16-bit STEREO audio
    // (65 canonical frames, 2/63-frame silent rim) behind the auds
    // strf — the both-widenings-at-once case for the shared gate
    "vid_duet.avi",
    // vid_wall: a movi LIST with 4102 sub-chunks — MORE than the
    // 4096-chunk walk cap (round-13, ADVICE r12 #1): the video leg
    // still admits (its 2 declared frames demux early), but the
    // audio demux would be TRUNCATED, so avi_audio_ok must reject
    // and mm18's demux_complete column must flag it
    "vid_wall.avi",
    // vid_mj / vid_mj_raw: frame-for-frame PIXEL TWINS (round-14) —
    // vid_mj carries its 8 frames as whole JPEGs in 00dc chunks
    // behind an MJPG vids handler (the one compressed codec the
    // engine decodes, via the ImageIo path); vid_mj_raw is the same
    // 8 frames raw in 00db. mm19 pins the decoded hashes EQUAL to
    // the raw twin's derived hashes — the mm5 cross-format-parity
    // discipline at the frame grain
    "vid_mj.avi", "vid_mj_raw.avi",
    // vid_duet_c: a byte-identical re-upload of vid_duet — the
    // FULL-DUP case for mm22's container-pair verdict table (both
    // modality legs must agree on the pair)
    "vid_duet_c.avi",
    // talk_mp3 / vid_h264 (round-15, VERDICT r14 ask #4): the
    // VISIBLE-REJECT pair — a structurally-consistent WAV wrapping
    // MPEG Layer 3 (fmt tag 0x0055) and a well-formed AVI whose vids
    // strh declares fccHandler 'H264'. Neither is decodable here
    // (fail-closed stands), but mm18's codec_reason must NAME them
    // instead of letting them vanish from the families silently
    "talk_mp3.wav", "vid_h264.avi")

  /** Extract the bundled synthetic audio/video blobs (mm7/mm8): .pcm
    * is headerless 8-bit PCM; .gvid is the toy frame container
    * `"GVID" + u16le frame_size + u16le n_frames + frames`; .wav is
    * a REAL RIFF/WAVE container (public spec — canonical PCM layout)
    * wrapping the same 8-bit samples. The synthetic signals are
    * deterministic stand-ins for codec payloads, carrying the
    * byte-level structure the frame/energy plumbing needs (the
    * decode seam policy of `Multimodal`). */
  private lazy val extractedMedia: String =
    extractBundle("graft-media", "media", bundledMedia)

  def mediaDir(): String = extractedMedia

  /** Binary media files of one extension as `(model, content,
    * length)` — the S5 loader generalized beyond `.bmp` (the
    * "opaque binary column + typed metadata" multimodal contract). */
  def loadMediaFiles(spark: SparkSession, dir: String,
      ext: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$ext")
      .load(dir)
      .select(
        regexp_extract(input_file_name(), s"([^/]+)\\.$ext$$", 1)
          .as("model"),
        col("content"),
        col("length"))

  /** openflights airlines: join key `icao` = first 3 chars of a flight
    * callsign (`create_graphql_functions.sql:53`). */
  def loadAirlines(spark: SparkSession,
      path: String = resourcePath("airlines.csv")): DataFrame =
    metaCsv(spark, path,
      "id", "name", "alias", "iata", "icao", "callsign", "country", "active")

  def loadCountries(spark: SparkSession,
      path: String = resourcePath("countries.csv")): DataFrame =
    metaCsv(spark, path,
      "id", "code", "name", "continent", "wikipedia_link", "keywords")

  /** A metadata CSV as all-string columns named as in its header row,
    * which is skipped: a declared schema needs no header-scan job when
    * the frame is defined. `\N` is NULL. */
  private def metaCsv(spark: SparkSession, path: String,
      columns: String*): DataFrame =
    spark.read
      .schema(StructType(columns.map(StructField(_, StringType))))
      .option("header", true).option("quote", "\"")
      .option("nullValue", "\\N")
      .csv(path)

  /** S5: silhouette BMPs as (model, silhouette) binary rows. */
  def loadAircraftSilhouettes(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.bmp")
      .load(dir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)\\.bmp$", 1).as("model"),
        col("content").as("silhouette"),
        col("length"))

  // ---- GeoJSON emitters (Q17 scalar surface) ----

  private def fmt(precision: Int) = s"%.${precision}f"

  /** [x,y] pair list from an array<struct<x,y>> column. */
  private def ring(pts: Column, precision: Int): Column =
    concat(lit("["), array_join(transform(pts,
      p => format_string(s"[${fmt(precision)},${fmt(precision)}]",
        p("x"), p("y"))), ","), lit("]"))

  def pointGeoJson(x: Column, y: Column, precision: Int = 6): Column =
    format_string(
      s"""{"type":"Point","coordinates":[${fmt(precision)},${fmt(precision)}]}""",
      x, y)

  /** Polygon GeoJSON from a closed-or-open ring (closes it if open,
    * like ST_AsGeoJSON of a valid polygon). */
  def polygonGeoJson(pts: Column, precision: Int = 6): Column = {
    val closed = when(
      element_at(pts, 1) === element_at(pts, -1), pts)
      .otherwise(concat(pts, array(element_at(pts, 1))))
    concat(lit("{\"type\":\"Polygon\",\"coordinates\":["),
      ring(closed, precision), lit("]}"))
  }

  private def xy(df: DataFrame): DataFrame =
    df.withColumn("bbox", transform(col("bbox"),
      p => struct(p("_1").as("x"), p("_2").as("y"))))

  /** Seed geometry tables from the hardcoded NTE instances. */
  def airportsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    xy(Airports.Known.map(a =>
      (a.icao, a.iata, a.lon, a.lat, a.altitudeM,
        a.bbox.map(p => (p.x, p.y))))
      .toDF("icao", "iata", "lon", "lat", "altitude", "bbox"))
  }

  def runwaysTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    xy(Airports.Known.flatMap(a => a.runways.map(r =>
      (a.icao, r.name, r.refLon, r.refLat, r.refAltitudeM, r.direction,
        r.lengthM, r.bbox.map(p => (p.x, p.y)))))
      .toDF("airport", "name", "ref_lon", "ref_lat", "ref_altitude",
        "direction", "length_m", "bbox"))
  }

  /** Q14: `airports_geojson` view analog. */
  def airportsGeoJson(spark: SparkSession): DataFrame =
    airportsTable(spark).select(
      col("icao"), col("iata"),
      pointGeoJson(col("lon"), col("lat")).as("location"),
      polygonGeoJson(col("bbox")).as("boundary"))

  /** Q14: `runways_geojson` view analog. */
  def runwaysGeoJson(spark: SparkSession): DataFrame =
    runwaysTable(spark).select(
      col("airport"), col("name"), col("direction"),
      pointGeoJson(col("ref_lon"), col("ref_lat")).as("location"),
      polygonGeoJson(col("bbox")).as("boundary"))

  // ---- range_rings (the third Q14 metadata view) ----

  /** Minimal EWKB MultiLineString reader for the `meta.range_rings`
    * seed rows (`create_meta_schema.sql:144-152`, data `:250-257` —
    * pg_dump hex EWKB, little-endian, SRID flag set). Pure data port,
    * parsed once at table construction (3 rows). */
  private[adsb] def parseWkbMultiLineString(hex: String): Seq[Seq[(Double, Double)]] = {
    val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val buf = java.nio.ByteBuffer.wrap(bytes)
    def setOrder(): Unit = buf.order(
      if (buf.get() == 1.toByte) java.nio.ByteOrder.LITTLE_ENDIAN
      else java.nio.ByteOrder.BIG_ENDIAN)
    setOrder()
    val t = buf.getInt()
    require((t & 0xffff) == 5, s"not a MultiLineString: $t")
    if ((t & 0x20000000) != 0) {
      // the reference's enforce_srid CHECK (create_meta_schema.sql)
      // becomes a load-time assertion
      val srid = buf.getInt()
      require(srid == 4326, s"unexpected SRID $srid")
    }
    Seq.fill(buf.getInt()) {
      setOrder()
      val lt = buf.getInt()
      require((lt & 0xffff) == 2, s"not a LineString: $lt")
      Seq.fill(buf.getInt())((buf.getDouble(), buf.getDouble()))
    }
  }

  /** `meta.range_rings` seed table: (id, radius, icao, geom) with geom
    * an array of rings, each an array of (x, y) points. */
  def rangeRingsTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val in = getClass.getResourceAsStream("/meta/range_rings.tsv")
    require(in != null, "missing range_rings.tsv")
    val rows = scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { line =>
        val f = line.split('\t')
        (f(1).toInt, f(2).toDouble, f(3), parseWkbMultiLineString(f(0)))
      }.toSeq
    rows.toDF("id", "radius", "icao", "geom")
      .withColumn("geom", transform(col("geom"), ls =>
        transform(ls, p => struct(p("_1").as("x"), p("_2").as("y")))))
  }

  /** MultiLineString GeoJSON from an array-of-rings column, with the
    * PostGIS `ST_AsGeoJSON(geom, precision, options)` option bits:
    * 1 = bbox member, 2 = short CRS member. The reference view uses
    * options=2 (`create_meta_schema.sql:159-164`) — note option 2 is
    * the short-CRS flag in PostGIS, not bbox. Member order matches
    * PostGIS output: type, crs, bbox, coordinates. */
  def multiLineStringGeoJson(lines: Column, precision: Int = 6,
      options: Int = 0): Column = {
    val body = concat(lit("["),
      array_join(transform(lines, ls => ring(ls, precision)), ","),
      lit("]"))
    val crsPart =
      if ((options & 2) != 0)
        lit("\"crs\":{\"type\":\"name\",\"properties\":{\"name\":\"EPSG:4326\"}},")
      else lit("")
    val bboxPart =
      if ((options & 1) != 0) {
        val flat = flatten(lines)
        concat(lit("\"bbox\":["),
          format_string(
            s"${fmt(precision)},${fmt(precision)},${fmt(precision)},${fmt(precision)}",
            array_min(transform(flat, p => p("x"))),
            array_min(transform(flat, p => p("y"))),
            array_max(transform(flat, p => p("x"))),
            array_max(transform(flat, p => p("y")))),
          lit("],"))
      } else lit("")
    concat(lit("{\"type\":\"MultiLineString\","), crsPart, bboxPart,
      lit("\"coordinates\":"), body, lit("}"))
  }

  /** Q14: `range_rings_geojson` view analog
    * (`create_meta_schema.sql:159-164`). */
  def rangeRingsGeoJson(spark: SparkSession): DataFrame =
    rangeRingsTable(spark).select(
      col("id"), col("radius"), col("icao"),
      multiLineStringGeoJson(col("geom"), 6, 2).as("geom"))

  /** Register the `meta.*` surface as Spark SQL temp views — the
    * reference's `SELECT * FROM meta.airports_geojson` experience
    * (dots aren't legal in temp view names; underscores stand in). */
  def registerMetaViews(spark: SparkSession): Unit = {
    loadAirlines(spark).createOrReplaceTempView("meta_airlines")
    loadCountries(spark).createOrReplaceTempView("meta_countries")
    airportsTable(spark).createOrReplaceTempView("meta_airports")
    runwaysTable(spark).createOrReplaceTempView("meta_runways")
    rangeRingsTable(spark).createOrReplaceTempView("meta_range_rings")
    airportsGeoJson(spark).createOrReplaceTempView("meta_airports_geojson")
    runwaysGeoJson(spark).createOrReplaceTempView("meta_runways_geojson")
    rangeRingsGeoJson(spark).createOrReplaceTempView("meta_range_rings_geojson")
  }
}
