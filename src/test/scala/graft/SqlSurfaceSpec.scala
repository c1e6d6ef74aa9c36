package graft

import org.apache.spark.sql.functions._

/** The analytics surface is also reachable through plain Spark SQL over
  * registered views (SURVEY §7: "each also registered for Spark SQL
  * use") — same engine, so results must agree with the DataFrame API. */
class SqlSurfaceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("registerAll exposes every table to spark.sql") {
    Tables.registerAll(spark, dir)
    assert(spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM documents").collect()(0).getLong(0) > 0)
  }

  test("SQL histogram equals DataFrame histogram") {
    Tables.registerAll(spark, dir)
    val sql = spark.sql(
      """SELECT date_trunc('hour', ts) AS datetime, count(*) AS events
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
    val df = graft.operators.Histogram.simpleHistogram(
      Tables.load(spark, dir, "events").where(col("event_type") === "purchase"),
      col("ts"), "hour")
    assert(sql.count() === df.count())
    assert(df.selectExpr("cast(datetime as string)", "events")
      .exceptAll(sql.selectExpr("cast(datetime as string)", "events"))
      .count() === 0)
  }

  test("public-schema tables are SQL-queryable over replay output") {
    val out = graft.adsb.AdsbPipeline.replayFixture(spark,
      "adsb_message_stream.txt")
    graft.adsb.AdsbPipeline.registerViews(out)
    val f = spark.sql(
      """SELECT hexident, count(*) AS n FROM positions
        |GROUP BY hexident ORDER BY n DESC LIMIT 1""".stripMargin).collect()
    assert(f.length === 1 && f(0).getLong(1) > 0)
    assert(spark.sql("SELECT count(*) FROM flights").collect()(0).getLong(0) > 0)
    assert(spark.sql("SELECT count(*) FROM landings").collect()(0).getLong(0) === 0)
  }

  test("meta.* views are SQL-queryable like the reference schema") {
    graft.adsb.Meta.registerMetaViews(spark)
    val ring = spark.sql(
      "SELECT geom FROM meta_range_rings_geojson WHERE radius = 50000")
      .collect()
    assert(ring.length === 1)
    assert(ring(0).getString(0).startsWith("{\"type\":\"MultiLineString\""))
    val join = spark.sql(
      """SELECT a.name, c.code FROM meta_airlines a
        |JOIN meta_countries c ON a.country = c.name
        |WHERE a.icao = 'AFR'""".stripMargin).collect()
    assert(join.length === 1)
    assert(join(0).getString(1) === "FR")
  }
}
