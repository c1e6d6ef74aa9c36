package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.adsb.{AdsbPipeline, Sbs}
import graft.adsb.FlightStateMachine.Out

/** `ingest_batch`: files → `Sbs.messages` → `AdsbPipeline.process` →
  * flights/positions/landings/takeoffs as parquet, repeated on the same
  * capture until the run's seconds are used. */
object BatchIngest {

  val Kinds: Seq[String] = Seq("flight", "position", "landing", "takeoff")

  /** Untimed chains before the measured ones, the first of them cold. */
  val WarmChains = 3

  /** One call chain; returns output rows per kind and, when `snap` is
    * given, the task totals of the process and sink parts. */
  def chain(spark: SparkSession, in: String, out: String, tr: Tracer,
      req: String, root: Int, snap: () => Totals = () => Totals())
      : (Map[String, Long], Totals, Totals) = {
    val s0 = snap()
    val ((o, counts), _) = tr.span("pipeline.process", req, root) { _ =>
      val o = AdsbPipeline.process(Sbs.messages(spark.read.text(in)))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val counts = o.groupBy(col("kind")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      (o, counts)
    }
    val s1 = snap()
    tr.span("sink.write", req, root) { _ => write(o, out) }
    val s2 = snap()
    o.unpersist()
    (Kinds.map(k => k -> counts.getOrElse(k, 0L)).toMap, s1 - s0, s2 - s1)
  }

  def write(o: Dataset[Out], out: String): Unit = {
    AdsbPipeline.flights(o).write.parquet(s"$out/flights")
    AdsbPipeline.positions(o).write.parquet(s"$out/positions")
    val ev = AdsbPipeline.events(o)
    ev.where(col("kind") === "landing").write.parquet(s"$out/landings")
    ev.where(col("kind") === "takeoff").write.parquet(s"$out/takeoffs")
  }

  def run(c: Config): Result = {
    val lines = c.input + "/lines"
    val tr = c.tracer
    val off = new Tracer(false)
    // Warm-up: WarmChains chains over the run's own capture, the first
    // one cold; after them the chain time has settled.
    val warmS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val (spark0, setupS, setupDetail) = Session.setup(c.cores, c.work) { s =>
      for (w <- 0 until WarmChains) {
        val (_, ns) = off.span("chain", s"warm-$w") { _ =>
          chain(s, lines, s"${c.work}/warm-$w", off, s"warm-$w", 0)
        }
        warmS += ns / 1e9
        Session.deleteRecursively(s"${c.work}/warm-$w")
      }
    }
    var spark = spark0
    val sc = spark.sparkContext
    val meter = new Meter
    case class Iter(traced: Boolean, secs: Double, rows: Map[String, Long],
        proc: Totals, sink: Totals, parseS: Double, sinkS: Double,
        procS: Double)
    val iters = scala.collection.mutable.ArrayBuffer.empty[Iter]
    val t0 = System.nanoTime()
    var i = 0
    // At least three chains; a traced run needs them as the untraced
    // first one, which the overhead comparison leaves out, plus one traced
    // and one untraced after it.
    val minIters = 3
    while (iters.size < minIters ||
        (System.nanoTime() - t0) / 1e9 < c.seconds) {
      // In a traced run every other iteration is traced, so the
      // untraced ones give the same run's overhead baseline.
      val traced = tr.on && i % 2 == 1
      val t = if (traced) tr else off
      if (traced) sc.addSparkListener(meter)
      val out = s"${c.work}/out-$i"
      val snap = if (traced) () => meter.snapshot(sc) else () => Totals()
      val ((rows, proc, sink), secs) = t.span("chain", s"iter-$i") { root =>
        chain(spark, lines, out, t, s"iter-$i", root, snap)
      }
      var parseS, sinkS, procS = 0.0
      if (traced) {
        val byName = tr.spans.filter(_.req == s"iter-$i")
          .map(s => s.name -> s.durNs / 1e9).toMap
        procS = byName("pipeline.process")
        sinkS = byName("sink.write")
        sc.removeSparkListener(meter)
        // Parse alone, as its own root span: process minus this is the
        // sessionizer's self time.
        val (_, pNs) = tr.span("sbs.parse", s"iter-$i") { _ =>
          Sbs.messages(spark.read.text(lines)).write.format("noop")
            .mode("overwrite").save()
        }
        parseS = pNs / 1e9
      }
      iters += Iter(traced, secs / 1e9, rows, proc, sink, parseS, sinkS, procS)
      if (i > 0) Session.deleteRecursively(s"${c.work}/out-${i - 1}")
      i += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    // Untimed output checks on the last iteration's tables.
    val lastOut = s"${c.work}/out-${i - 1}"
    val rows = iters.last.rows
    val linesIn = spark.read.text(lines).count()
    val parsed = Sbs.messages(spark.read.text(lines)).count()
    val rejected = linesIn - parsed
    val written = Kinds.map { k =>
      val t = Map("flight" -> "flights", "position" -> "positions",
        "landing" -> "landings", "takeoff" -> "takeoffs")(k)
      k -> spark.read.parquet(s"$lastOut/$t").count()
    }.toMap
    val files = Session.partFiles(lastOut)
    val expRejected = c.long("expect-rejected")
    val checks = Seq(
      ("lines_in", linesIn == c.long("expect-lines"),
        s"read $linesIn, generated ${c.long("expect-lines")}"),
      ("rows_rejected", rejected == expRejected,
        s"rejected $rejected, injected $expRejected"),
      ("landings", rows("landing") == c.long("expect-landings"),
        s"${rows("landing")} vs golden ${c.long("expect-landings")}"),
      ("takeoffs", rows("takeoff") == c.long("expect-takeoffs"),
        s"${rows("takeoff")} vs golden ${c.long("expect-takeoffs")}"),
      ("committed_rows", written == rows,
        s"tables $written vs pipeline $rows"),
      ("stable_rows", iters.forall(_.rows == rows),
        "every iteration produced the same rows per kind"),
      ("positions_nonempty", rows("position") > 0 && rows("flight") > 0,
        s"$rows"))
    val secs = iters.filterNot(_.traced).map(_.secs).toSeq
    val allSecs = iters.map(_.secs).toSeq
    val m = scala.collection.mutable.Map[String, Double](
      "setup_s" -> setupS,
      "throughput" -> linesIn / Stats.median(secs),
      "latency_p50_ms" -> Stats.median(secs) * 1000,
      "latency_p90_ms" -> Stats.pct(secs, 0.9) * 1000)
    if (tr.on) {
      val t = iters.filter(_.traced).toSeq
      def med(f: Iter => Double) = Stats.median(t.map(f))
      val parseS = med(_.parseS)
      val tSecs = t.map(_.secs)
      m ++= Map(
        "sbs.parse_s" -> parseS,
        "sbs.parse_lines_per_s" -> linesIn / parseS,
        "sbs.lines_in" -> linesIn.toDouble,
        "sbs.rows_parsed" -> parsed.toDouble,
        "sbs.rows_rejected" -> rejected.toDouble,
        "pipeline.sessionize_self_s" -> (med(_.procS) - parseS),
        "pipeline.shuffle_write_bytes" -> med(_.proc.shuffleWriteBytes.toDouble),
        "pipeline.spill_bytes" -> med(_.proc.spillBytes.toDouble),
        "pipeline.task_cpu_s" -> med(_.proc.cpuNs / 1e9),
        "pipeline.task_gc_s" -> med(_.proc.gcMs / 1e3),
        "sink.write_s" -> med(_.sinkS),
        "sink.files_written" -> files.size.toDouble,
        "sink.bytes_written" -> files.map(_.length).sum.toDouble,
        "spark.task_cpu_s" -> med(x => (x.proc.cpuNs + x.sink.cpuNs) / 1e9),
        "spark.task_gc_s" -> med(x => (x.proc.gcMs + x.sink.gcMs) / 1e3),
        "spark.cpu_util" -> med(x =>
          (x.proc.cpuNs + x.sink.cpuNs) / 1e9 / (x.secs * c.cores)),
        // Both sides equally warm: the first iteration is left out.
        "trace.overhead_pct" ->
          (Stats.median(tSecs) / Stats.median(secs.drop(1)) - 1) * 100)
      Kinds.foreach(k => m(s"pipeline.rows_out.$k") = rows(k).toDouble)
      // Same chain on one core, for the parallel speed-up.
      spark.stop()
      spark = Session.start(1, c.work)
      val (_, oneNs) = off.span("chain", "one-core") { _ =>
        chain(spark, lines, s"${c.work}/one-core", off, "one-core", 0)
      }
      m("pipeline.speedup_vs_1core") = oneNs / 1e9 / Stats.median(secs)
    }
    Result(m.toMap, attempted = iters.size.toLong * linesIn,
      failed = iters.size.toLong * math.max(0L, rejected - expRejected),
      checks = checks,
      extra = Map("iteration_s" -> allSecs, "setup" -> setupDetail,
        "warm_chain_s" -> warmS.toSeq,
        "measured_s" -> measuredS, "rows_out" -> rows))
  }
}
