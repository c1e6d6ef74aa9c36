package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `analytics`: a closed loop with one client over the reference's query
  * families through `SparkEntry.queries`. Each result is materialized
  * fully with `queryExecution.toRdd` and the cache is cleared after each
  * query, as `graft.Bench` does. */
object Analytics {

  val Queries: Seq[String] = Seq(
    "q1_events_histogram", "q2_histogram_tz", "q3_hourly_hist",
    "q4_day_slice", "q5_range_tz", "q6_peak_hour", "q9_peak_hour_all",
    "q7_union_distinct", "q8_user_paths", "q10_path_fanout",
    "q11_expr_enrich", "q12_dedup_latest", "q15_matview_paths",
    "adsb_flight_details", "adsb_event_details_golden", "adsb_flight_paths",
    "adsb_landings_histogram_golden", "meta_runways_geojson")

  /** Runs `f` on every query, `threads` at a time, and waits for all. */
  def parallel(threads: Int, qs: Seq[String])(f: String => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try qs.map(q => pool.submit(new Runnable { def run(): Unit = f(q) }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  final case class Run(name: String, ms: Double, planMs: Double, rows: Long,
      task: Totals)

  /** One query: build, plan, execute; `Left` carries the error. */
  def once(spark: SparkSession, dir: String, name: String,
      snap: () => Totals, tr: Tracer = new Tracer(false), parent: Int = 0,
      req: String = ""): Either[String, Run] = {
    val s0 = snap()
    val t0 = System.nanoTime()
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      val rows = df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      tr.record(parent, "query.plan", req, t0, t1)
      tr.record(parent, "query.exec", req, t1, t2)
      Right(Run(name, (t2 - t0) / 1e6, (t1 - t0) / 1e6, rows, snap() - s0))
    } catch {
      case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally spark.catalog.clearCache()
  }

  def run(c: Config): Result = {
    val data = c.input + "/tables"
    val tr = c.tracer
    val results = s"${c.work}/results"
    val errors = mutable.LinkedHashMap.empty[String, String]
    // Warm-up, spread over the cores: the first, cold pass over the run's
    // tables, whose results, written as parquet, are what the DuckDB
    // oracle diff checks; then one more pass, since the pass after the
    // cold one still runs about 15 % slower than the ones after it.
    def fail(k: String, e: String): Unit = errors.synchronized(errors(k) = e)
    val warmPassS = mutable.ArrayBuffer.empty[Double]
    val (spark, setupS, setupDetail) = Session.setup(c.cores, c.work) { s =>
      for (w <- 0 until 2) {
        val p0 = System.nanoTime()
        parallel(c.cores, Queries) { q =>
          if (w == 0) try {
            SparkEntry.queries(q)(s, data).coalesce(1).write
              .parquet(s"$results/$q")
          } catch { case NonFatal(e) => fail(s"$q#warm$w", e.toString) }
          else once(s, data, q, () => Totals()).left
            .foreach(e => fail(s"$q#warm$w", e))
        }
        s.catalog.clearCache()
        warmPassS += (System.nanoTime() - p0) / 1e9
      }
    }
    val sc = spark.sparkContext
    val meter = new Meter
    val runs = mutable.ArrayBuffer.empty[(Int, Boolean, Run)]
    var attempted = 0L
    var pass = 0
    var tracedS, plainS = 0.0
    var tracedN, plainN = 0
    val t0 = System.nanoTime()
    // A traced run needs the untraced first pass, which the overhead
    // comparison leaves out, plus one traced and one untraced after it.
    val minPasses = if (tr.on) 3 else 1
    val passS = mutable.ArrayBuffer.empty[Double]
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < c.seconds) {
      // In a traced run every other pass is traced, so the untraced
      // ones give the same run's overhead baseline.
      val traced = tr.on && pass % 2 == 1
      if (traced) sc.addSparkListener(meter)
      val snap = if (traced) () => meter.snapshot(sc) else () => Totals()
      val p0 = System.nanoTime()
      for (q <- Queries) {
        attempted += 1
        val t = if (traced) tr else new Tracer(false)
        val (r, _) = t.span("query", s"$q#$pass") { id =>
          once(spark, data, q, snap, t, id, s"$q#$pass")
        }
        r match {
          case Right(x) => runs += ((pass, traced, x))
          case Left(e) => errors(s"$q#$pass") = e
        }
      }
      val ps = (System.nanoTime() - p0) / 1e9
      passS += ps
      if (traced) { tracedS += ps; tracedN += 1; sc.removeSparkListener(meter) }
      else if (pass > 0) { plainS += ps; plainN += 1 }
      pass += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    val plain = runs.filterNot(_._2).map(_._3).toSeq
    val lat = plain.map(_.ms)

    // Untimed: the base tables the oracle SQL of the adsb_* and meta_*
    // queries reads.
    val oracleBase = s"${c.work}/oracle_base"
    val b0 = System.nanoTime()
    graft.queries.AdsbQueries.writeOracleBase(spark, oracleBase)
    val baseS = (System.nanoTime() - b0) / 1e9
    Files.writeString(Paths.get(c.work, "oracle_sql.json"), Json(
      Queries.map(q => q -> SparkEntry.oracleSql(q)
        .replace("__BASE__", oracleBase)).toMap))

    val rowsByQuery = runs.map(_._3).groupBy(_.name)
    val unstable = rowsByQuery.filter(_._2.map(_.rows).distinct.size > 1).keys
    val checks = Seq(
      ("no_query_errors", errors.isEmpty, errors.take(3).mkString("; ")),
      ("stable_row_counts", unstable.isEmpty,
        s"row count changed between passes: ${unstable.mkString(",")}"))
    val m = mutable.Map[String, Double](
      "setup_s" -> setupS,
      "throughput" -> plain.size / (if (tr.on) passS.zipWithIndex
        .collect { case (t, i) if i % 2 == 0 => t }.sum else loopS),
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.pct(lat, 0.9))
    if (tr.on) {
      val traced = runs.filter(_._2).map(_._3).toSeq
      for ((q, rs) <- traced.groupBy(_.name)) {
        m(s"query.$q.p50_ms") = Stats.median(rs.map(_.ms))
        m(s"query.$q.plan_ms") = Stats.median(rs.map(_.planMs))
        m(s"query.$q.jobs") = Stats.median(rs.map(_.task.jobs.toDouble))
        m(s"query.$q.shuffle_bytes") =
          Stats.median(rs.map(_.task.shuffleWriteBytes.toDouble))
      }
      val cpu = traced.map(_.task.cpuNs).sum / 1e9
      m ++= Map(
        "spark.task_cpu_s" -> cpu / math.max(1, tracedN),
        "spark.task_gc_s" -> traced.map(_.task.gcMs).sum / 1e3 /
          math.max(1, tracedN),
        "spark.cpu_util" -> cpu / (tracedS * c.cores),
        // Both sides equally warm: the first pass is left out.
        "trace.overhead_pct" ->
          ((tracedS / tracedN) / (plainS / plainN) - 1) * 100)
    }
    Result(m.toMap, attempted, errors.count(!_._1.contains("#warm")).toLong,
      checks, extra = Map("setup" -> setupDetail, "loop_s" -> loopS,
        "passes" -> pass, "warm_pass_s" -> warmPassS.toSeq,
        "pass_s" -> passS.toSeq,
        "oracle_base_s" -> baseS,
        "rows" -> rowsByQuery.map { case (k, v) => k -> v.head.rows },
        "results" -> results))
  }
}
