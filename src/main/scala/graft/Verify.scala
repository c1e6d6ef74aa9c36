package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark =
      Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // ADS-B oracle base: the sessionizer output + raw fixture + dims,
    // dumped as parquet so the adsb_* oracle SQL (which reads them via
    // read_parquet after __BASE__ substitution below) can re-derive
    // the relational layer in DuckDB. The stateful sessionizer itself
    // stays pinned by ScalaTest (VERDICT r5 ask #1).
    val oracleBase =
      Paths.get(outDir).toAbsolutePath.toString + "/_oracle_base"
    try {
      queries.AdsbQueries.writeOracleBase(spark, oracleBase)
      queries.DocQueries.writeOracleBase(spark, oracleBase, sfDir)
    } catch { case NonFatal(e) =>
      System.err.println(s"[verify] oracle base dump failed: ${e.getMessage}")
    }
    // Optional extra args: run only these query names (iteration aid;
    // the driver passes none and gets the full dump).
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        // coalesce(1) on purpose, NOT repartition(1): the driver's
        // compare is row-order-sensitive (each query ends in the same
        // ORDER BY as its oracle), and coalesce preserves the sorted
        // partition order into the single file while repartition's
        // round-robin shuffle would scramble it. The single-task tail
        // is acceptable at the sf0.01 gate scale.
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        timings(name) = (System.nanoTime() - t0) / 1e9
        System.err.println(
          f"[verify] $name ok in ${timings(name)}%.1fs")
      } catch { case NonFatal(e) =>
        // A throwing query must stay VISIBLE in the round artifact: a
        // skipped dump would silently vanish from the driver's compare
        // (round 6 read "82/82 pass" while 25 queries errored). Write a
        // one-row `_error` result — guaranteed schema+row mismatch, so
        // the query shows up RED instead of absent — plus a sidecar.
        val msg = (e.getClass.getSimpleName + ": " +
          Option(e.getMessage).getOrElse("")).take(500)
        System.err.println(s"[verify] $name FAILED: $msg")
        errors(name) = msg
        try {
          import spark.implicits._
          Seq(msg).toDF("_error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name marker write failed: ${e2.getMessage}")
        }
      } finally spark.catalog.clearCache() // per-query caches don't leak
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__BASE__", oracleBase))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Machine-readable failure sidecar ({} on a clean run) — the belt
    // to the `_error` markers' suspenders.
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    // Per-query wall seconds (round-15, VERDICT r14 #5): the raw half
    // of the round's verify manifest — tools/check.py merges its
    // ok/rows verdicts with these into verify_manifest.json, so the
    // round's hard correctness signal survives a driver artifact
    // hiccup (CORRECTNESS_r14.json landed empty).
    Files.writeString(Paths.get(s"$outDir/verify_timings.json"),
      timings.map { case (k, v) => s"${q(k)}: ${"%.2f".format(v)}" }
        .mkString("{", ",", "}"))
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    System.err.println(s"[verify] ${Memo.report}")
    spark.stop()
  }
}
