package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.adsb.AdsbPipeline

/** Sink-side physical design: small-file compaction and its crash
  * recovery, the S6 JDBC sink and the S9 cross-store session copy. */
class SinksSpec extends SparkSpec {

  import spark.implicits._

  test("compact rewrites a fragmented sink into right-sized files") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val df = spark.range(100).toDF("id")
    df.repartition(20).write.mode("overwrite").parquet(dir) // 20 tiny files
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() === 20)
    Sinks.compact(spark, dir, rowsPerFile = 50L)
    assert(files() === 2)
    val back = spark.read.parquet(dir)
    assert(back.count() === 100)
    assert(back.agg(sum(col("id"))).collect()(0).getLong(0) === 4950L)
    assert(!new java.io.File(dir + "__compacting").exists())
  }

  test("recoverCompact restores data from every documented crash state") {
    import java.nio.file.Paths
    def sumAt(dir: String): Long = spark.read.parquet(dir)
      .agg(sum(col("id"))).collect()(0).getLong(0)

    // crash BETWEEN the two renames: live is gone, the complete
    // rewrite sits in __compacting, the original in __precompact —
    // the instant compact()'s scaladoc documents as recoverable
    val dir1 = Files.createTempDirectory("graft-rec1").toString + "/part"
    spark.range(100).toDF("id").write.parquet(dir1)
    spark.read.parquet(dir1).repartition(2).write
      .parquet(dir1 + "__compacting") // the finished rewrite, staged
    java.nio.file.Files.move(Paths.get(dir1), Paths.get(dir1 + "__precompact"))
    assert(!new java.io.File(dir1).exists()) // reader would see nothing
    assert(Sinks.recoverCompact(spark, dir1) === "promoted_staged")
    assert(sumAt(dir1) === 4950L)
    assert(!new java.io.File(dir1 + "__compacting").exists())
    assert(!new java.io.File(dir1 + "__precompact").exists())

    // crash DURING the staging write: live intact, staging partial —
    // recovery must keep live and drop the junk
    val dir2 = Files.createTempDirectory("graft-rec2").toString + "/part"
    spark.range(50).toDF("id").write.parquet(dir2)
    new java.io.File(dir2 + "__compacting").mkdirs()
    java.nio.file.Files.writeString(
      Paths.get(dir2 + "__compacting", "partial.parquet"), "torn write")
    assert(Sinks.recoverCompact(spark, dir2) === "dropped_leftovers")
    assert(sumAt(dir2) === 1225L)
    assert(!new java.io.File(dir2 + "__compacting").exists())

    // crash AFTER the swap, before the backup delete: live is the new
    // data, __precompact the stale original — drop the backup
    spark.read.parquet(dir2).write.parquet(dir2 + "__precompact")
    assert(Sinks.recoverCompact(spark, dir2) === "dropped_leftovers")
    assert(!new java.io.File(dir2 + "__precompact").exists())

    // recovery is idempotent
    assert(Sinks.recoverCompact(spark, dir2) === "clean")
    assert(sumAt(dir2) === 1225L)
  }

  test("writeJdbc round-trips through a real JDBC database (S6)") {
    // Embedded Derby (bundled with Spark) stands in for the
    // reference's Postgres: same Spark JDBC write path, real SQL DB.
    val db = Files.createTempDirectory("graft-derby").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val df = Seq(
      ("ABC123", java.sql.Timestamp.valueOf("2019-10-20 11:00:00"), 2L),
      ("DEF456", java.sql.Timestamp.valueOf("2019-10-20 11:01:00"), 5L))
      .toDF("hexident", "first_seen", "n_positions")
    Sinks.writeJdbc(df, url, "flights", user = "app", password = "app")
    // append mode: a second batch lands alongside the first
    Sinks.writeJdbc(df.limit(1), url, "flights", user = "app", password = "app")
    val back = spark.read.jdbc(url, "flights", new java.util.Properties())
    assert(back.schema.fieldNames.toSet ===
      Set("hexident", "first_seen", "n_positions"))
    // Derby stores Spark strings as CLOB — equality pushdown on it is
    // unsupported, so assert on collected rows.
    val rows = back.collect()
    assert(rows.length === 3)
    assert(rows.count(_.getString(0) == "ABC123") === 2)
  }

  test("deleteBatch makes a replayed epoch idempotent") {
    // foreachBatch is at-least-once: delete-before-insert keyed on
    // batch_id must converge a replay to one copy, not two
    val db = Files.createTempDirectory("graft-derby-idem").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val batch = Seq(("ABC123", 7L)).toDF("hexident", "batch_id")
    def writeEpoch(): Unit = {
      Sinks.deleteBatch(url, "flights_live", "app", "app", 7L)
      Sinks.writeJdbc(batch, url, "flights_live", "app", "app")
    }
    writeEpoch() // first attempt (deleteBatch on a missing table: no-op)
    writeEpoch() // crash-replay of the same epoch
    val back = spark.read.jdbc(url, "flights_live",
      new java.util.Properties())
    assert(back.count() === 1)
  }

  test("copySession clones one session with a remapped key (S9)") {
    implicit val s = spark
    val from = Files.createTempDirectory("graft-from").toString
    val to = Files.createTempDirectory("graft-to").toString
    val out = AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt")
    AdsbPipeline.flights(out).write.parquet(s"$from/flights")
    AdsbPipeline.positions(out).write.parquet(s"$from/positions")

    val f0 = spark.read.parquet(s"$from/flights")
      .orderBy("hexident").limit(1).collect()(0)
    val hex = f0.getString(0)
    val ss = f0.getTimestamp(1)
    val newSs = java.sql.Timestamp.valueOf("2030-01-01 00:00:00")
    Sinks.copySession(from, to, hex, ss, newSs,
      tables = Seq("flights", "positions"))

    val copied = spark.read.parquet(s"$to/flights")
    assert(copied.count() === 1)
    assert(copied.collect()(0).getTimestamp(1) === newSs)
    val pos = spark.read.parquet(s"$to/positions")
    assert(pos.where(col("session_start") === newSs).count() === pos.count())
  }
}
