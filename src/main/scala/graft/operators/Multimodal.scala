package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) columns for training-data pipelines.
  *
  * Media travel as opaque `binary` columns next to a typed metadata
  * struct; transforms are per-partition batch functions so a real
  * decoder drops in without changing the plan shape. Image decode is
  * REAL for every container this JVM reads: 24-bpp BMP via pure
  * codegen byte arithmetic ([[withMetadata]] header parse,
  * [[graft.functions.BmpAHash]] pixel-level 8×8 average-hash — the
  * oracle-checkable path), and PNG/JPEG/GIF via the JDK's own
  * `javax.imageio` readers ([[graft.functions.ImageIo]] — header
  * probe for metadata, full decode for the perceptual hash; no
  * external media library). Formats beyond ImageIO's set
  * (audio/video codecs) keep a deterministic STUB decode behind the
  * same Spark-side contract (schema, partitioning, batch shape,
  * null handling).
  *
  * Scale notes: blobs never enter a shuffle key; metadata-only plans
  * prune the binary column at the parquet scan (check ReadSchema), and
  * repartitioning for decode parallelism uses the row count not byte
  * size — pair with `maxRecordsPerFile` when writing.
  */
object Multimodal {

  /** Typed media metadata carried beside the blob. */
  val metadataCols: Seq[String] =
    Seq("media_type", "width", "height", "duration_ms", "sample_rate")

  /** Little-endian integer read from a binary column as a pure
    * codegen expression chain: `substring` slices the bytes, `hex`
    * renders them in storage order, the per-byte hex pairs re-concat
    * reversed, and `conv` parses the result — no UDF, no library. */
  private def leUint(bin: Column, offset1Based: Int, nBytes: Int): Column =
    conv(concat((nBytes to 1 by -1).map(i =>
      substring(hex(substring(bin, offset1Based, nBytes)),
        (i - 1) * 2 + 1, 2)): _*), 16, 10).cast("long")

  /** Signed LE int32 (BMP height is negative for top-down row order). */
  private def leInt32(bin: Column, offset1Based: Int): Column = {
    val u = leUint(bin, offset1Based, 4)
    when(u > Int.MaxValue.toLong, u - 4294967296L).otherwise(u)
  }

  /** Is this blob a BITMAPINFOHEADER-style BMP? ('BM' magic + a full
    * 54-byte header to read). */
  def isBmp(bin: Column): Column =
    bin.isNotNull && length(bin) >= 54 &&
      substring(bin, 1, 2).cast("string") === "BM"

  /** REAL header metadata for every container this JVM reads.
    *
    *  - BMP: width/height (LE int32 at byte offsets 18/22; a negative
    *    stored height means top-down row order, the pixel height is
    *    its magnitude) and bits-per-pixel (LE uint16 at offset 28),
    *    parsed with pure codegen expressions — zero decode cost.
    *    The reference's silhouette fixtures
    *    (`database/data/silhouettes.zip`, loaded by
    *    `read_csv_data.sql:12-38`) are exactly this format.
    *  - PNG / JPEG / GIF (anything `javax.imageio` recognizes):
    *    header-ONLY dimension probe via [[graft.functions.ImageIo]]
    *    (java.desktop ships the readers — no external media library;
    *    pixel data is never touched for metadata).
    *  - Formats beyond ImageIO's set (audio/video containers): the
    *    documented deterministic stub of [[withFakeMetadata]], so
    *    mixed-media pipelines keep the same schema and the remaining
    *    formats stay honestly stubbed.
    *
    * The probe is materialized into a helper column first so the
    * per-row ImageIO call runs ONCE, not once per referencing output
    * column; BMP rows short-circuit it entirely (NULL guard) and keep
    * the pure-codegen path. */
  def withMetadata(df: DataFrame, bin: Column): DataFrame = {
    val h = abs(xxhash64(bin))
    val bmp = isBmp(bin)
    val probed = col("_img_dims")
    val realImg = probed.isNotNull
    df.withColumn("_img_dims",
        when(bmp, lit(null).cast("array<int>"))
          .otherwise(graft.functions.ImageIo.imageDims(bin)))
      .withColumn("media_type",
        when(bmp || realImg, lit("image"))
          .otherwise(element_at(
            array(lit("image"), lit("audio"), lit("video")),
            (h % 3 + 1).cast("int"))))
      .withColumn("width",
        when(bmp, leInt32(bin, 19).cast("int"))
          .when(realImg, probed(0))
          .otherwise((h % 1920 + 1).cast("int")))
      .withColumn("height",
        when(bmp, abs(leInt32(bin, 23)).cast("int"))
          .when(realImg, probed(1))
          .otherwise((h % 1080 + 1).cast("int")))
      .withColumn("bpp",
        when(bmp, leUint(bin, 29, 2).cast("int"))
          .otherwise(lit(null).cast("int")))
      .withColumn("duration_ms",
        when(bmp || realImg, lit(null).cast("long"))
          .otherwise((h % 60000).cast("long")))
      .withColumn("sample_rate",
        when(bmp || realImg, lit(null).cast("int"))
          .otherwise(lit(16000)))
      .drop("_img_dims")
  }

  /** Wrap a raw binary column with parsed header metadata.
    * STUB: the fake derives deterministic dimensions from the content
    * hash so tests are stable. [[withMetadata]] is the real-parse
    * entry point (BMP + everything ImageIO reads parsed for real;
    * only formats beyond ImageIO's set fall back here). */
  def withFakeMetadata(df: DataFrame, bin: Column): DataFrame = {
    val h = abs(xxhash64(bin))
    df.withColumn("media_type",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (h % 3 + 1).cast("int")))
      .withColumn("width", (h % 1920 + 1).cast("int"))
      .withColumn("height", (h % 1080 + 1).cast("int"))
      .withColumn("duration_ms", (h % 60000).cast("long"))
      .withColumn("sample_rate", lit(16000))
  }

  /** Feature extraction: binary → fixed-size float vector.
    * STUB: deterministic pseudo-features from content hashes (a real
    * impl runs a model over decoded frames — same signature). Pure
    * column expressions, stays in codegen, no driver involvement.
    * Hashing is the engine-portable md5 derivation
    * ([[graft.functions.PortableHash]] convention, over the blob's
    * hex rendering) so the mm gate query has a bit-exact DuckDB
    * oracle: `('0x'||substr(md5(hex(blob)||'#'||i),1,15))::BIGINT`. */
  def fakeEmbedding(bin: Column, dim: Int = 8): Column =
    array((0 until dim).map { i =>
      (pmod(
        conv(substring(md5(concat(hex(bin), lit("#"), lit(i.toString))),
          1, 15), 16, 10).cast("long"),
        lit(1000000L)).cast("double") / 1e6)
    }: _*)

  /** Resize: REAL for every container ImageIO reads — decode,
    * bit-deterministic nearest-neighbor sample to (w, hgt), re-encode
    * PNG ([[graft.functions.ImageIo.resize]]); bytes no reader
    * recognizes pass through unchanged (the prior stub behavior, now
    * the explicit non-image fallback so mixed-media frames keep the
    * schema). Plan shape unchanged: a projection, no shuffle. */
  def resize(df: DataFrame, bin: Column, w: Int, hgt: Int): DataFrame =
    df.withColumn("resized",
        coalesce(graft.functions.ImageIo.imageResize(bin, w, hgt), bin))
      .withColumn("width", lit(w))
      .withColumn("height", lit(hgt))

  /** STUB decoder: deterministic, ENGINE-PORTABLE pseudo-features —
    * dimension i is the md5-derived 60-bit hash of (hex(bytes), i)
    * scaled to [0,1) (the [[graft.functions.PortableHash]]
    * convention, computed JVM-side because a real decoder is an
    * arbitrary JVM function), so even the full decode→embed→search
    * composition (mm2) has a bit-exact DuckDB oracle:
    * `('0x'||substr(md5(hex(blob)||'#'||i),1,15))::BIGINT % 1000000`.
    * The double-divide-then-float rounding matches DuckDB's
    * `CAST(x/1000000.0 AS REAL)`. A real decoder (JNI codec / ONNX
    * session) has this signature. */
  def stubDecode(bytes: Array[Byte], dim: Int): Array[Float] = {
    val hx = bytes.map("%02X".format(_)).mkString
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val h = java.lang.Long.parseLong(
        md.digest((hx + "#" + i).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15), 16)
      ((h % 1000000L).toDouble / 1e6).toFloat
    }
  }

  /** REAL image decoder with the [[decodeEmbedBatched]] signature:
    * ImageIO-decoded pixels → L1-normalized `dim`-bin grayscale
    * histogram over an 8×8 sample grid (a real, deterministic,
    * decode-backed feature — production swaps in a model session with
    * the same signature). Bytes no installed reader recognizes fall
    * back to [[stubDecode]], so mixed media batches keep the schema
    * contract; decode failures never throw ([[graft.functions.ImageIo]]
    * NULL contract → stub fallback). */
  def imageIoDecode(bytes: Array[Byte], dim: Int): Array[Float] = {
    // header-probe BEFORE the full decode: a decompression-bomb check
    // that runs after ImageIO.read has already allocated the raster
    // guards nothing (review finding, round 8) — refuse on the
    // claimed dims first, exactly as ImageIo.aHash/toPng/resize do
    val d = graft.functions.ImageIo.dims(bytes)
    if (d == null || d(0) <= 0 || d(1) <= 0 ||
      d(0).toLong * d(1) > graft.functions.ImageIo.MaxPixels)
      return stubDecode(bytes, dim)
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null || img.getWidth <= 0 || img.getHeight <= 0)
      return stubDecode(bytes, dim)
    val grid = 8
    val counts = new Array[Int](dim)
    var i = 0
    while (i < grid * grid) {
      val rgb = img.getRGB((i % grid) * img.getWidth / grid,
        (i / grid) * img.getHeight / grid)
      val gray = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
      counts(gray * dim / 766) += 1
      i += 1
    }
    counts.map(c => c.toFloat / (grid * grid))
  }

  /** Batched per-partition decode → embedding — the Scala analog of
    * `mapInPandas`: the partition's rows stream through in
    * `batchSize`-row groups, which is where a real implementation
    * amortizes model load / JNI session setup across a whole batch
    * rather than paying it per row. The decoder is pluggable (default
    * = the deterministic stub); plan shape, schema contract, and batch
    * boundaries are real regardless. Blobs stay in their partitions —
    * no shuffle. */
  def decodeEmbedBatched(
      df: DataFrame,
      keyCol: Column,
      binCol: Column,
      dim: Int = 8,
      batchSize: Int = 32,
      decoder: (Array[Byte], Int) => Array[Float] = stubDecode): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(keyCol.cast("string").as("key"), binCol.as("bin"))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          // one "model invocation" per batch in a real decoder;
          // a NULL blob (failed media fetch) yields a NULL embedding
          // instead of an NPE that kills the whole decode stage
          batch.iterator.map { case (k, b) =>
            (k, if (b == null) null else decoder(b, dim))
          }
        }
      }
      .toDF("key", "embedding")
  }
}
