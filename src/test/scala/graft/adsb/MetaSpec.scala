package graft.adsb

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** Metadata loaders (S4/S5) and the Column-level GeoJSON emitters
  * (Q17). Point-in-polygon is `Geometry.contains`, pinned in
  * `GeometrySpec`. */
class MetaSpec extends SparkSpec {

  import spark.implicits._

  test("airlines CSV: \\N nulls, trimmed headers, icao join key") {
    val a = Meta.loadAirlines(spark)
    assert(a.columns.toSeq.contains("icao"))
    assert(a.where(col("icao") === "IBE").count() >= 1)
    assert(a.where(col("alias").isNull).count() > 0)
  }

  test("defining the airlines and countries frames runs no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "meta-definition"
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group)) jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val (a, c) = try {
      spark.sparkContext.setJobGroup(group, group)
      try (Meta.loadAirlines(spark), Meta.loadCountries(spark))
      finally spark.sparkContext.clearJobGroup()
    } finally {
      org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs === 0)
    assert(a.columns.toSeq === Seq("id", "name", "alias", "iata", "icao",
      "callsign", "country", "active"))
    assert(c.columns.toSeq ===
      Seq("id", "code", "name", "continent", "wikipedia_link", "keywords"))
    assert((a.schema ++ c.schema).forall(_.dataType == StringType))
    // the header rows are skipped, not read as data
    assert(a.where(col("id") === "id").isEmpty)
    assert(c.where(col("id") === "id").isEmpty)
  }

  test("silhouette binary loader keys by filename stem") {
    val s = Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir())
    val models = s.select("model").collect().map(_.getString(0)).toSet
    assert(models ===
      Set("A1", "A10", "A109", "A119", "A122", "A124", "X32"))
    assert(s.where(length(col("silhouette")) > 0).count() === 7)
  }

  test("range_rings WKB seed parses: 3 LFRS rings of 161 points") {
    val t = Meta.rangeRingsTable(spark).orderBy(col("id")).collect()
    assert(t.map(r => (r.getInt(0), r.getDouble(1), r.getString(2))).toSeq ===
      Seq((1, 50000.0, "LFRS"), (2, 100000.0, "LFRS"), (3, 150000.0, "LFRS")))
    val geom = t(0).getSeq[Seq[org.apache.spark.sql.Row]](3)
    assert(geom.length === 1)
    assert(geom.head.length === 161)
    // ring 1 (50 km) stays within ~0.8° of NTE (-1.608, 47.157)
    val p0 = geom.head.head
    assert(math.abs(p0.getDouble(0) - (-1.608)) < 1.0)
    assert(math.abs(p0.getDouble(1) - 47.157) < 1.0)
  }

  test("MultiLineString GeoJSON: exact emission incl. crs/bbox options") {
    val df = Seq(Tuple1(Seq(Seq((0.0, 0.0), (1.5, 2.25)), Seq((3.0, 4.0), (5.0, 6.0)))))
      .toDF("g")
      .withColumn("g", transform(col("g"), ls =>
        transform(ls, p => struct(p("_1").as("x"), p("_2").as("y")))))
    def emit(opts: Int) = df.select(
      Meta.multiLineStringGeoJson(col("g"), 2, opts)).head.getString(0)
    assert(emit(0) ===
      """{"type":"MultiLineString","coordinates":[[[0.00,0.00],[1.50,2.25]],[[3.00,4.00],[5.00,6.00]]]}""")
    assert(emit(2) ===
      """{"type":"MultiLineString","crs":{"type":"name","properties":{"name":"EPSG:4326"}},"coordinates":[[[0.00,0.00],[1.50,2.25]],[[3.00,4.00],[5.00,6.00]]]}""")
    assert(emit(1) ===
      """{"type":"MultiLineString","bbox":[0.00,0.00,5.00,6.00],"coordinates":[[[0.00,0.00],[1.50,2.25]],[[3.00,4.00],[5.00,6.00]]]}""")
  }

  test("range_rings_geojson view: 3 rows, short-CRS members, 6-decimal") {
    val v = Meta.rangeRingsGeoJson(spark).orderBy(col("id")).collect()
    assert(v.length === 3)
    val g = v(0).getString(3)
    assert(g.startsWith(
      """{"type":"MultiLineString","crs":{"type":"name","properties":{"name":"EPSG:4326"}},"coordinates":[[["""))
    assert(g.count(_ == '[') === 1 + 1 + 161) // coords + 1 ring + 161 points
  }

  test("multimodal stubs are deterministic and schema-stable") {
    import graft.operators.Multimodal
    val bin = Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir())
    val a = Multimodal.withMetadata(bin, col("silhouette"))
      .withColumn("e", Multimodal.fakeEmbedding(col("silhouette")))
    val b = Multimodal.withMetadata(bin, col("silhouette"))
      .withColumn("e", Multimodal.fakeEmbedding(col("silhouette")))
    assert(a.select("model", "width", "height", "e").exceptAll(
      b.select("model", "width", "height", "e")).count() === 0)
  }

  test("BMP headers parse for real: 85x20 silhouettes, 24- and 32-bpp") {
    import graft.operators.Multimodal
    // ground truth from the fixtures' own 54-byte headers (verified
    // with an independent struct.unpack read): all six reference
    // silhouettes are 85x20 pixel, 24-bit 'BM' bitmaps
    val bin = Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir())
    val meta = Multimodal.withMetadata(bin, col("silhouette"))
      .select("model", "media_type", "width", "height", "bpp")
      .collect()
    assert(meta.length === 7)
    meta.foreach { r =>
      assert(r.getString(1) === "image", r.getString(0))
      assert(r.getInt(2) === 85, s"${r.getString(0)} width")
      assert(r.getInt(3) === 20, s"${r.getString(0)} height")
      // the six reference silhouettes are 24-bpp; the planted X32 is
      // the 32-bpp BI_RGB case the round-13 widening admits
      assert(r.getInt(4) === (if (r.getString(0) == "X32") 32 else 24),
        s"${r.getString(0)} bpp")
    }
  }

  test("BMP parse: top-down height, non-BMP fallback to the stub") {
    import graft.operators.Multimodal
    import spark.implicits._
    // hand-built 54-byte header: 'BM', width=7, height=-5 (top-down
    // row order → pixel height 5), bpp=32; plus a non-BMP blob that
    // must fall back to the deterministic stub metadata
    val hdr = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.put('B'.toByte).put('M'.toByte)
    hdr.position(18); hdr.putInt(7); hdr.putInt(-5)
    hdr.position(28); hdr.putShort(32)
    val rows = Seq(
      ("bmp", hdr.array()),
      ("not", "just some text bytes".getBytes("UTF-8")))
      .toDF("name", "blob")
    val out = Multimodal.withMetadata(rows, col("blob"))
      .select("name", "media_type", "width", "height", "bpp")
      .collect().sortBy(_.getString(0))
    val bmp = out.head
    assert(bmp.getString(1) === "image")
    assert(bmp.getInt(2) === 7)
    assert(bmp.getInt(3) === 5)
    assert(bmp.getInt(4) === 32)
    val stub = out(1)
    assert(stub.isNullAt(4)) // no bpp from the stub
    assert(stub.getInt(2) >= 1 && stub.getInt(2) <= 1920)
  }

  test("metadata-only queries prune the blob from the parquet scan") {
    import graft.operators.Multimodal
    val bin = Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir())
    val dir = java.nio.file.Files.createTempDirectory("mm-prune").toString
    Multimodal.withMetadata(bin, col("silhouette"))
      .write.mode("overwrite").parquet(dir)
    // a census over metadata must not read the binary column: at
    // 100 TB the blobs ARE the table, and reading them for a count
    // by media_type turns a metadata query into a full-corpus scan
    val census = spark.read.parquet(dir)
      .groupBy("media_type").count()
    val scan = census.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: ([^\\n]*)".r
      .findFirstMatchIn(scan).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("media_type"), scan)
    assert(!readSchema.contains("silhouette"), readSchema)
    assert(census.count() > 0)
  }

  test("batched decode: schema contract, determinism, batch-size invariance") {
    import graft.operators.Multimodal
    val bin = Meta.loadAircraftSilhouettes(spark, Meta.silhouettesDir())
    def run(bs: Int) = Multimodal.decodeEmbedBatched(bin,
      col("model"), col("silhouette"), dim = 8, batchSize = bs)
    val a = run(2).collect().map(r =>
      r.getString(0) -> r.getSeq[Float](1).toSeq).toMap
    val b = run(32).collect().map(r =>
      r.getString(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(a.keySet ===
      Set("A1", "A10", "A109", "A119", "A122", "A124", "X32"))
    assert(a === b) // batch boundaries must not change results
    assert(a.values.forall(_.length === 8))
  }
}
