package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.adsb.{AdsbPipeline, Sbs}
import graft.adsb.FlightStateMachine.Out
import graft.streaming.AdsbStream

/** One trigger as reported by `StreamingQueryProgress`. */
final case class Progress(batchId: Long, startMs: Long,
    durations: Map[String, Long], inputRows: Long, stateRows: Long,
    stateMemBytes: Long, stateCommitMs: Long, droppedByWatermark: Long) {
  def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

final class ProgressLog extends StreamingQueryListener {
  val all = new ConcurrentLinkedQueue[Progress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.headOption
    all.add(Progress(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows, st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L),
      st.map(_.commitTimeMs).getOrElse(0L),
      st.map(_.numRowsDroppedByWatermark).getOrElse(0L)))
  }
}

/** `ingest_stream`: an open loop. A generator thread moves pre-generated
  * chunk files (each `chunk_ms` of event time) into the drop directory
  * that `AdsbStream.fileLines` watches, every `period-ms` of wall time,
  * while `AdsbStream.start` runs with its default 1 s trigger. Then the
  * query stops, a backlog of chunks is dropped at once, and `start`
  * resumes from the same checkpoint. */
object StreamIngest {

  private val Phases = Seq("latestOffset", "walCommit", "getBatch",
    "queryPlanning", "addBatch", "commitOffsets")

  private def chunkName(k: Int) = f"chunk-$k%05d.txt"

  private def move(from: String, to: String, k: Int): Unit =
    Files.move(Paths.get(from, chunkName(k)), Paths.get(to, chunkName(k)),
      StandardCopyOption.ATOMIC_MOVE)

  private def startQuery(spark: SparkSession, drop: String, out: String,
      ckpt: String): StreamingQuery =
    AdsbStream.start(AdsbStream.fileLines(spark, drop), out, ckpt)

  /** chunk file name → id of the micro-batch that read it. The file
    * source numbers its own log (it advances only when new files
    * arrive), so its entries are mapped to query batches through the
    * offsets log, which records the source offset each batch ran to. */
  private def batchOfChunk(ckpt: String): Map[String, Long] = {
    def lines(dir: String) =
      Option(new java.io.File(dir).listFiles).toSeq.flatten
        .filterNot(f => f.getName.startsWith(".") || f.getName.endsWith(".tmp"))
        .map(f => f.getName -> Files.readAllLines(f.toPath).asScala.toSeq)
    val Entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    val LogOffset = "\"logOffset\":(\\d+)".r
    val queryBatch = lines(s"$ckpt/offsets")
      .flatMap { case (name, ls) => ls.flatMap(LogOffset.findFirstMatchIn)
        .headOption.map(_.group(1).toLong -> name.toLong) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
    lines(s"$ckpt/sources/0").flatMap(_._2)
      .flatMap(l => Entry.findFirstMatchIn(l))
      .flatMap(m => queryBatch.get(m.group(2).toLong)
        .map(m.group(1).split('/').last -> _))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).min }
  }

  def run(c: Config): Result = {
    val warm = c.long("warm-chunks").toInt
    val first = warm + c.long("setup-triggers").toInt
    val ramp = c.long("ramp-chunks").toInt
    val live = c.long("live-chunks").toInt
    val backlog = c.long("backlog-chunks").toInt
    val periodMs = c.opts("period-ms").toDouble
    val chunkLines = c.opts("chunk-lines").split(',').map(_.toLong)
    val pool = c.input + "/pool"
    val drop = s"${c.work}/drop"
    val out = s"${c.work}/out"
    val ckpt = s"${c.work}/ckpt"
    val tr = c.tracer
    val log = new ProgressLog
    val dueMs, movedMs = new Array[Long](live)
    new java.io.File(drop).mkdirs()
    var q1: StreamingQuery = null
    // Set-up: the query's first, cold trigger over the first chunks, then
    // one trigger per chunk until `first`, which compiles the trigger's
    // driver-side code; the query then keeps running into the open loop.
    val (spark, setupS, setupDetail) = Session.setup(c.cores, c.work) { s =>
      s.streams.addListener(log)
      for (k <- 0 until warm) {
        move(pool, drop, k)
        dueMs(k) = System.currentTimeMillis()
        movedMs(k) = dueMs(k)
      }
      q1 = startQuery(s, drop, out, ckpt)
      q1.processAllAvailable()
      for (k <- warm until first) {
        move(pool, drop, k)
        dueMs(k) = System.currentTimeMillis()
        movedMs(k) = dueMs(k)
        q1.processAllAvailable()
      }
    }
    val sc = spark.sparkContext
    val meter = new Meter

    // Phase 1: open loop at a fixed drop period.
    val startMs = System.currentTimeMillis() + 100
    for (k <- first until live)
      dueMs(k) = startMs + math.round((k - first) * periodMs)
    val half = ramp + (live - ramp) / 2
    @volatile var tracedFromMs = Long.MaxValue
    val gen = new Thread(() => {
      for (k <- first until live) {
        var wait = dueMs(k) - System.currentTimeMillis()
        while (wait > 0) { Thread.sleep(wait); wait = dueMs(k) - System.currentTimeMillis() }
        if (tr.on && k == half) {
          sc.addSparkListener(meter)
          tracedFromMs = System.currentTimeMillis()
        }
        move(pool, drop, k)
        movedMs(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    q1.processAllAvailable()
    val liveDoneMs = System.currentTimeMillis()
    q1.stop()
    val liveTask = if (tr.on) meter.snapshot(sc) else Totals()

    // Phase 2: restart over a backlog.
    (live until live + backlog).foreach(k => move(pool, drop, k))
    val restartMs = System.currentTimeMillis()
    val q2 = startQuery(spark, drop, out, ckpt)
    q2.processAllAvailable()
    val backlogDoneMs = System.currentTimeMillis()
    q2.stop()
    org.apache.spark.perfbench.Bus.drain(sc)
    if (tr.on) sc.removeSparkListener(meter)

    val progs = log.all.asScala.toSeq.groupBy(_.batchId)
      .map { case (b, ps) => b -> ps.maxBy(_.inputRows) }
    val batchOf = batchOfChunk(ckpt)
    def committedAt(k: Int): Option[Long] =
      batchOf.get(chunkName(k)).flatMap(progs.get).map(_.endMs)
    val allLag = (0 until live).map(k =>
      (committedAt(k).getOrElse(liveDoneMs) - dueMs(k)).toDouble)
    val liveLag = allLag.drop(ramp)
    val liveMissing = (0 until live).count(committedAt(_).isEmpty)
    val backlogEnds = (live until live + backlog).map(committedAt)
    val backlogMissing = backlogEnds.count(_.isEmpty)
    val catchupEnd = backlogEnds.map(_.getOrElse(backlogDoneMs)).max
    val backlogLines = chunkLines.slice(live, live + backlog).sum
    val catchup = backlogLines * 1000.0 / (catchupEnd - restartMs)

    // Untimed output checks.
    val checks0 = System.nanoTime()
    val linesIn = spark.read.text(drop).count()
    val parsed = Sbs.messages(spark.read.text(drop)).count()
    val rejected = linesIn - parsed
    val expRejected = c.long("expect-rejected")
    import spark.implicits._
    def table(names: String*): org.apache.spark.sql.Dataset[Out] =
      names.map(n => spark.read.parquet(s"$out/$n").drop("batch_id"))
        .reduce(_ unionByName _).as[Out]
    val batch = AdsbPipeline.process(Sbs.messages(spark.read.text(drop)))
      .persist()
    // Multiset equality in one job: count each distinct row per side.
    def same(a: DataFrame, b: DataFrame): (Boolean, String) = {
      import org.apache.spark.sql.functions.{col, lit, sum, when}
      val cols = a.columns.map(col).toSeq
      val r = a.withColumn("_s", lit(1)).unionByName(b.withColumn("_s", lit(-1)))
        .groupBy(cols: _*).agg(sum(col("_s")).as("d"))
        .agg(sum(when(col("d") > 0, col("d")).otherwise(0)),
          sum(when(col("d") < 0, -col("d")).otherwise(0)))
        .first()
      val (x, y) = (Option(r.get(0)).fold(0L)(_.toString.toLong),
        Option(r.get(1)).fold(0L)(_.toString.toLong))
      (x == 0 && y == 0, s"$x rows only in stream, $y only in batch")
    }
    val (posOk, posMsg) = same(AdsbPipeline.positions(table("positions")),
      AdsbPipeline.positions(batch))
    val (evOk, evMsg) = same(AdsbPipeline.events(table("landings", "takeoffs")),
      AdsbPipeline.events(batch))
    val checks = Seq(
      ("lines_in", linesIn == chunkLines.sum,
        s"read $linesIn, generated ${chunkLines.sum}"),
      ("rows_rejected", rejected == expRejected,
        s"rejected $rejected, injected $expRejected"),
      ("live_chunks_committed", liveMissing == 0, s"$liveMissing of $live missing"),
      ("backlog_chunks_committed", backlogMissing == 0,
        s"$backlogMissing of $backlog missing"),
      ("positions_equal_batch", posOk, posMsg),
      ("events_equal_batch", evOk, evMsg))
    val checksS = (System.nanoTime() - checks0) / 1e9

    val data = progs.values.filter(_.inputRows > 0).toSeq.sortBy(_.batchId)
    val liveProgs = data.filter(p => p.startMs >= dueMs(ramp) && p.startMs < liveDoneMs)
    val m = scala.collection.mutable.Map[String, Double](
      "setup_s" -> setupS,
      "throughput" -> catchup,
      "latency_p50_ms" -> Stats.median(liveLag),
      "latency_p90_ms" -> Stats.pct(liveLag, 0.9),
      "commit_lag_p95_ms" -> Stats.pct(liveLag, 0.95))
    if (tr.on) {
      def phase(k: String) = liveProgs.map(_.durations.getOrElse(k, 0L).toDouble)
      for ((name, key) <- Seq("trigger_ms" -> "triggerExecution",
          "add_batch_ms" -> "addBatch", "query_planning_ms" -> "queryPlanning",
          "latest_offset_ms" -> "latestOffset", "wal_commit_ms" -> "walCommit",
          "commit_offsets_ms" -> "commitOffsets")) {
        m(s"stream.$name.p50") = Stats.median(phase(key))
        m(s"stream.$name.p95") = Stats.pct(phase(key), 0.95)
      }
      val jobs = meter.batchJobs(sc)
      val tracedBatches = liveProgs.filter(_.startMs >= tracedFromMs)
        .flatMap(p => jobs.get(p.batchId))
      def per(f: BatchJobs => Double) = Stats.median(tracedBatches.map(f))
      val files = Session.partFiles(out).groupBy(f =>
        "batch_id=(\\d+)".r.findFirstMatchIn(f.getPath).map(_.group(1).toLong))
      val liveIds = liveProgs.map(_.batchId).toSet
      val lastLive = liveProgs.lastOption
      val restarted = data.filter(_.startMs >= restartMs)
      val tracedLag = (ramp until live).filter(movedMs(_) >= tracedFromMs)
        .map(allLag)
      val plainLag = (ramp until live).filter(movedMs(_) < tracedFromMs)
        .map(allLag)
      val tracedWallS = (liveDoneMs - tracedFromMs) / 1e3
      m ++= Map(
        "sbs.lines_in" -> linesIn.toDouble,
        "sbs.rows_parsed" -> parsed.toDouble,
        "sbs.rows_rejected" -> rejected.toDouble,
        "stream.jobs_per_trigger" -> per(_.jobs.toDouble),
        "stream.tasks_per_trigger" -> per(_.tasks.toDouble),
        "stream.sink_jobs_per_trigger" -> per(_.sinkJobs.toDouble),
        "stream.sink_job_ms.p50" ->
          Stats.median(tracedBatches.flatMap(_.sinkJobMs)),
        "stream.files_written_per_trigger" -> Stats.median(files.toSeq
          .collect { case (Some(b), fs) if liveIds(b) => fs.size.toDouble }),
        "stream.state_rows" -> lastLive.map(_.stateRows.toDouble).getOrElse(0.0),
        "stream.state_memory_bytes" ->
          lastLive.map(_.stateMemBytes.toDouble).getOrElse(0.0),
        "stream.state_commit_ms.p50" ->
          Stats.median(liveProgs.map(_.stateCommitMs.toDouble)),
        "stream.rows_dropped_by_watermark" ->
          data.map(_.droppedByWatermark).sum.toDouble,
        "stream.restart_ms" ->
          restarted.headOption.map(p => (p.startMs - restartMs).toDouble)
            .getOrElse(0.0),
        "stream.rows_per_trigger.p50" ->
          Stats.median(data.map(_.inputRows.toDouble)),
        "generator.late_ms.p99" ->
          Stats.pct((0 until live).map(k => (movedMs(k) - dueMs(k)).toDouble),
            0.99),
        "spark.task_cpu_s" -> liveTask.cpuNs / 1e9 / math.max(1, tracedBatches.size),
        "spark.task_gc_s" -> liveTask.gcMs / 1e3 / math.max(1, tracedBatches.size),
        "spark.cpu_util" -> liveTask.cpuNs / 1e9 / (tracedWallS * c.cores),
        "trace.overhead_pct" ->
          (Stats.median(tracedLag) / Stats.median(plainLag) - 1) * 100)
      // Spans: each trigger with its phases laid end to end in the order
      // MicroBatchExecution runs them, and each chunk from its due time
      // to the end of the trigger that committed it.
      val ms = 1000000L
      for (p <- data) {
        val id = tr.record(0, "trigger", s"trigger-${p.batchId}",
          p.startMs * ms, p.endMs * ms)
        var at = p.startMs
        for (ph <- Phases; d <- p.durations.get(ph)) {
          tr.record(id, s"trigger.$ph", s"trigger-${p.batchId}", at * ms,
            (at + d) * ms)
          at += d
        }
      }
      for (k <- 0 until live) {
        val id = tr.record(0, "chunk", s"chunk-$k", dueMs(k) * ms,
          (dueMs(k) + allLag(k).toLong) * ms)
        tr.record(id, "generator.drop", s"chunk-$k", dueMs(k) * ms,
          movedMs(k) * ms)
      }
    }
    val attempted = live + backlog
    Result(m.toMap, attempted = attempted.toLong,
      failed = (liveMissing + backlogMissing).toLong +
        math.abs(rejected - expRejected),
      checks = checks,
      extra = Map("setup" -> setupDetail, "lag_ms" -> liveLag,
        "triggers" -> progs.values.toSeq.sortBy(_.batchId).map(p =>
          Seq(p.batchId, p.startMs, p.endMs, p.inputRows)),
        "restart_ms" -> restartMs, "catchup_end_ms" -> catchupEnd,
        "backlog_batches" -> (live until live + backlog)
          .flatMap(k => batchOf.get(chunkName(k))).distinct,
        "catchup_s" -> (catchupEnd - restartMs) / 1e3,
        "backlog_lines" -> backlogLines, "checks_s" -> checksS,
        "live_loop_s" -> (liveDoneMs - startMs) / 1e3))
  }
}
