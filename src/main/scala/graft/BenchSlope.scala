package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Scale-slope check (round-8 verdict ask #6): run every headline
  * query at BOTH sf0.01 and sf0.1 and report per-query time ratios.
  * Row counts grow ~10× between the two, so a healthy distributed
  * plan's wall-clock ratio sits well under 10 (fixed job overhead
  * dominates the small scale); anything super-linear beyond the row
  * growth is the cheap local detector for an accidental quadratic
  * join / unpruned scan before it meets real data.
  *
  * Flag rule: ratio > [[BenchSlope.FlagRatio]] AND big-scale time >
  * [[BenchSlope.FlagMinSec]] — the time floor keeps sub-second
  * queries (whose "ratio" is scheduler noise over fixed overhead)
  * out of the flag list. Flagged names demand either a fix or a
  * written adjudication in ARCHITECTURE.md.
  *
  * Artifact: `bench_slope.json` in cwd — per-query small/big/ratio
  * plus the flagged list; a compact summary line on stdout (same
  * tail-window discipline as [[Bench]]).
  */
object BenchSlope {

  val FlagRatio = 12.0
  val FlagMinSec = 1.0

  def main(args: Array[String]): Unit = {
    val smallDir = "/root/testdata/sf0.01"
    val bigDir = "/root/testdata/sf0.1"
    val spark =
      Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    def runFully(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    val only = args.toSet
    val benched = (SparkEntry.queries - "d3_ngram_jaccard") // see Bench
      .filter { case (name, _) => only.isEmpty || only(name) }

    // one warm pass at sf0.001 (JIT/codegen), as Bench does
    benched.foreach { case (_, fn) =>
      try runFully(fn(spark, "/root/testdata/sf0.001"))
      catch { case NonFatal(_) => () }
      finally spark.catalog.clearCache()
    }

    def minOf2(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String): Double = {
      def once(): Double = {
        val t0 = System.nanoTime()
        try { runFully(fn(spark, dir)); (System.nanoTime() - t0) / 1e9 }
        catch { case NonFatal(_) => -1.0 }
      }
      val (a, b) = (once(), once())
      spark.catalog.clearCache()
      if (a < 0 || b < 0) -1.0 else math.min(a, b)
    }

    val rows = benched.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s = minOf2(fn, smallDir)
      val b = minOf2(fn, bigDir)
      // floor the denominator at 150 ms: below that the "small" time
      // is pure job-scheduling overhead and any ratio is noise
      val ratio = if (s < 0 || b < 0) -1.0 else b / math.max(s, 0.15)
      System.err.println(
        s"[slope] $name small=${s}s big=${b}s ratio=$ratio")
      (name, s, b, ratio)
    }
    def dec(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val flagged = rows.collect {
      case (n, _, b, r) if r > FlagRatio && b > FlagMinSec => n
    }
    val qJson = rows.map { case (n, s, b, r) =>
      s""""$n":{"small":${dec(s)},"big":${dec(b)},"ratio":${dec(r)}}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"slope","sf_small":"$smallDir","sf_big":"$bigDir"""" +
        s""","flag_ratio":$FlagRatio,"flag_min_sec":$FlagMinSec""" +
        s""","flagged":${flagged.map("\"" + _ + "\"").mkString("[", ",", "]")}""" +
        s""","queries":$qJson}"""
    // subset runs (query-name args) must not clobber the full-surface
    // artifact with a partial one — the Bench outFile rule
    val outFile =
      if (only.isEmpty) "bench_slope.json" else "bench_slope_partial.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outFile), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[slope] write failed: ${e.getMessage}")
    }
    val worst = rows.filter(_._4 > 0).sortBy(-_._4).take(10)
      .map { case (n, _, _, r) => s""""$n":${dec(r)}""" }
      .mkString("{", ",", "}")
    spark.stop()
    println("GRAFT_SLOPE_RESULT")
    println(s"""{"metric":"slope","n_queries":${rows.size},"flagged":${
      flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
      },"worst_ratios":$worst,"detail":"$outFile"}""")
    System.out.flush()
  }
}
