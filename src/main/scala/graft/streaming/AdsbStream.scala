package graft.streaming

import org.apache.commons.lang3.exception.ExceptionUtils
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, StreamingQueryException, Trigger}

import graft.adsb.{AdsbMsg, AdsbPipeline, FlightStateMachine, Sbs}
import graft.adsb.FlightStateMachine.{Out, State}

/** Structured Streaming twin of the batch pipeline (SURVEY.md §2.3).
  *
  * Replaces the reference's socket/thread/queue machinery
  * (`adsb_parser.py:94-145`, `adsb_logger.py:25-88`): Spark's
  * micro-batch scheduler owns backpressure; resilience is checkpoint +
  * query restart rather than 5×5 s socket retries. The stateful
  * operator is `flatMapGroupsWithState` over hexident, folding each
  * micro-batch through the SAME [[FlightStateMachine]] the batch path
  * uses, with an event-time timeout standing in for the 300 s
  * wall-clock prune (`flights.py:111-117`; see T2/T12 parity notes).
  *
  * Scale: state is shuffled by hexident (the natural key, ~thousands of
  * live aircraft per receiver — tiny state), and every downstream sink
  * write is an append of the micro-batch only.
  */
object AdsbStream {

  val WatermarkDelay = "10 seconds"

  private def updateGroup(
      hexident: String,
      msgs: Iterator[AdsbMsg],
      state: GroupState[State]): Iterator[Out] = {
    import scala.collection.mutable.ArrayBuffer
    val outs = ArrayBuffer.empty[Out]
    if (msgs.isEmpty && state.hasTimedOut) {
      // 300 s of event-time silence: close the session (T2)
      state.getOption.foreach(outs += FlightStateMachine.flightRow(_))
      state.remove()
    } else {
      val sorted = msgs.toArray.sortBy(AdsbPipeline.orderKey)
      val st = FlightStateMachine.fold(state.getOption, sorted.iterator, outs)
      st match {
        case Some(s) =>
          state.update(s)
          // never at/behind the current watermark: a re-delivered old
          // capture tail (group event time ≫ MaxAgeSec behind the
          // watermark) would otherwise make setTimeoutTimestamp throw
          // and crash-loop the query through every restart
          state.setTimeoutTimestamp(math.max(
            s.lastSeenUs / 1000 + FlightStateMachine.MaxAgeSec * 1000,
            state.getCurrentWatermarkMs() + 1))
        case None => if (state.exists) state.remove()
      }
    }
    outs.iterator
  }

  /** Stateful sessionization of a (possibly streaming) message set.
    * `watermarked` = the input already carries its event-time
    * watermark (Spark forbids redefining one). */
  def sessionize(msgs: Dataset[AdsbMsg],
      watermarked: Boolean = false): Dataset[Out] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    (if (watermarked) msgs
     else msgs.withWatermark("gen_date_time", WatermarkDelay))
      .groupByKey(_.hexident)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(updateGroup)
  }

  /** Per-aircraft reorder buffer + session state for
    * [[sessionizeReordered]]: `pending` holds messages still above
    * the watermark (not yet safe to fold), `session` the open flight
    * session if any. */
  final case class ReorderState(pending: Seq[AdsbMsg],
      session: Option[State])

  private def updateGroupReordered(
      hexident: String,
      msgs: Iterator[AdsbMsg],
      state: GroupState[ReorderState]): Iterator[Out] = {
    import scala.collection.mutable.ArrayBuffer
    val prev = state.getOption.getOrElse(ReorderState(Nil, None))
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    // ripe = event time STRICTLY below the watermark instant: late
    // events are only guaranteed absent strictly below it (an event
    // AT the watermark can still legally arrive, and the watermark
    // has ms grain while events carry µs), so finality — folding the
    // ripe set in event order as the batch sessionizer's global sort
    // would — is claimed only where the contract actually gives it.
    // Strictness costs one extra trigger of buffering at the exact
    // boundary, never correctness (round-12 review).
    val (ripe, hold) = (prev.pending ++ msgs).partition(m =>
      FlightStateMachine.micros(m.gen_date_time) < wmUs)
    val outs = ArrayBuffer.empty[Out]
    var st = FlightStateMachine.fold(prev.session,
      ripe.sortBy(AdsbPipeline.orderKey).iterator, outs)
    // event-time expiry once the buffer is drained: close only when
    // the watermark is STRICTLY past last_seen + 300 s — a message
    // landing at exactly the 300 s boundary (gap == MaxAge, which
    // the fold KEEPS: its split rule is gap > MaxAge) can still
    // arrive at the watermark instant, and closing early would split
    // a session the batch fold keeps whole
    if (hold.isEmpty) st match {
      case Some(s)
          if wmUs > s.lastSeenUs +
            FlightStateMachine.MaxAgeSec * 1000000L =>
        outs += FlightStateMachine.flightRow(s)
        st = None
      case _ => ()
    }
    if (hold.isEmpty && st.isEmpty) {
      if (state.exists) state.remove()
    } else {
      state.update(ReorderState(hold, st))
      // wake exactly when something can HAPPEN (second-pass review:
      // wm+1 re-fired every buffered group on every watermark
      // advance — O(groups) state churn per trigger at fleet scale):
      // a buffered group at its OLDEST pending row's ripen point, a
      // bare session at its expiry point (the +1 ms makes the
      // ms-grain timeout STRICTLY past the µs-exact threshold
      // either way). Never at/behind the current watermark (the
      // setTimeoutTimestamp contract)
      val wmMs = wmUs / 1000
      val next =
        if (hold.nonEmpty)
          hold.map(m => FlightStateMachine.micros(m.gen_date_time))
            .min / 1000 + 1
        else st.map(s => (s.lastSeenUs +
          FlightStateMachine.MaxAgeSec * 1000000L) / 1000 + 1)
          .getOrElse(wmMs + 1)
      state.setTimeoutTimestamp(math.max(next, wmMs + 1))
    }
    outs.iterator
  }

  /** [[sessionize]] with a WATERMARK-BUFFERED reorder stage (round-12
    * verdict ask #5): messages are held in per-aircraft state until
    * the event-time watermark passes them, then folded in event
    * order — so input disorder BOUNDED BY THE WATERMARK DELAY
    * (including across micro-batch boundaries, which the per-batch
    * sort of [[sessionize]] cannot repair) yields byte-identical
    * output to the batch sessionizer's global sort. The trade is
    * latency: rows emit one watermark delay late. The in-order path
    * stays the default — the reference processes in arrival order
    * (T12), and this variant is the event-time upgrade for feeds
    * that genuinely interleave (multi-receiver aggregation at
    * scale). Gate: `adsb_stream_parity_ooo` replays the reference
    * capture with a deterministic bounded shuffle and DuckDB-diffs
    * the output against the batch dump. */
  def sessionizeReordered(msgs: Dataset[AdsbMsg],
      watermarked: Boolean = false): Dataset[Out] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    (if (watermarked) msgs
     else msgs.withWatermark("gen_date_time", WatermarkDelay))
      .groupByKey(_.hexident)
      .flatMapGroupsWithState(
        OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(updateGroupReordered)
  }

  /** Raw lines from a dump1090 TCP port (S1). */
  def socketLines(spark: SparkSession, host: String, port: Int): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Raw lines from a drop directory (S2 replay, streaming). */
  def fileLines(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)

  /** Wire the full ingest: lines → parse → sessionize → multi-sink.
    *
    * foreachBatch splits the tagged union into the four tables and
    * writes parquet; positions are committed once, partitioned by
    * (`day` = `to_date(time)`, `batch_id`), and S7's `positions_live`
    * is the slice [[positionsLive]] reads from them. Trigger matches
    * the reference's 1 s commit cadence (T11).
    *
    * Per trigger the `positions` write runs first: it materializes the
    * cached micro-batch and observes one row count per kind on the
    * same job. Every other table is written only when its kind has
    * rows ([[writeKinds]]), so a micro-batch of positions alone costs
    * one job, not four. A table's directory therefore appears with
    * its first row.
    *
    * An `outDir` whose `positions` is partitioned by `batch_id` alone
    * (the older layout) is not migrated: start a fresh one, and a
    * fresh checkpoint, when upgrading. Restart a query in the session
    * time zone it ran in: a replayed epoch names its `day` in it.
    *
    * `dedupReplays`: a reconnecting socket re-delivers the tail of the
    * previous capture (the reference re-processes it, duplicating
    * rows). Exact re-deliveries carry identical columns — streaming
    * `seq` is a content hash, not an arrival counter — so
    * `dropDuplicatesWithinWatermark` collapses them with state bounded
    * by the watermark delay. Off by default: batch/stream parity specs
    * compare against the reference's duplicate-keeping behavior.
    *
    * The checkpoint's files (offsets, commits, the file source's log,
    * state-store deltas) go through [[NioCheckpointFileManager]]
    * ([[startQuery]]), so a trigger's commit forks no `chmod` or
    * `readlink` and leaves no Hadoop `.crc` side files. A checkpoint
    * Spark's default manager wrote restarts unchanged.
    */
  def start(lines: DataFrame, outDir: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      dedupReplays: Boolean = false): StreamingQuery = {
    val parsed = Sbs.messages(lines)
    val msgs = if (dedupReplays)
      parsed.withWatermark("gen_date_time", WatermarkDelay)
        .dropDuplicatesWithinWatermark()
    else parsed
    // IDEMPOTENT epoch protocol: every table is partitioned by
    // batch_id and each epoch dynamically OVERWRITES only its own
    // partition — a crash-replayed epoch (foreachBatch is
    // at-least-once) rewrites the same deterministic rows instead of
    // appending duplicates. The parquet analog of startJdbc's
    // delete-then-insert; without it, supervise()'s restarts would be
    // exactly what duplicates the tables.
    def w(parts: String*)(path: String)(d: DataFrame): Unit =
      d.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(parts: _*).parquet(s"$outDir/$path")
    startQuery(lines.sparkSession, sessionize(msgs,
        watermarked = dedupReplays).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Out], batchId: Long) =>
        writeKinds(batch, batchId)(
          // day first: positionsLive prunes whole day directories
          Seq("position") -> (p => w("day", "batch_id")("positions")(
            p.withColumn("day", to_date(col("time"))))),
          Seq("flight") -> w("batch_id")("flights"),
          Seq("landing") -> w("batch_id")("landings"),
          Seq("takeoff") -> w("batch_id")("takeoffs"))
      })
  }

  /** S6+T11 together: the reference's LIVE path — sessionized output
    * committed to a relational store once per micro-batch on the 1 s
    * trigger (`flights.py:119-131` commits its session each loop;
    * `db.py:24-38` holds the connection). Each batch appends only its
    * own rows, stamped with the micro-batch id, so the commit cadence
    * is auditable from the store itself: one distinct `batch_id` per
    * trigger that had data. Tables: `flights_live`, `positions_live`,
    * `events_live` (landing ∪ takeoff, tagged by `kind`). Same sink
    * rule as [[start]]: positions first, then only the tables the
    * micro-batch has rows for; a table is created with its first row.
    *
    * Idempotent under replay: `foreachBatch` is at-least-once (a crash
    * between the JDBC commit and the checkpoint commit re-runs the
    * epoch), so each table is first purged of the incoming `batch_id`
    * — the standard delete-before-insert keyed on the epoch. A retry
    * then converges to exactly-once instead of duplicating the
    * batch. Checkpoint files are written as in [[start]]. */
  def startJdbc(lines: DataFrame, url: String, user: String,
      password: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery = {
    def w(table: String, cols: String*)(d: DataFrame): Unit =
      graft.sources.Sinks.writeJdbc(d.select(cols.map(col): _*), url,
        table, user, password)
    startQuery(lines.sparkSession, sessionize(Sbs.messages(lines))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Out], batchId: Long) =>
        Seq("flights_live", "positions_live", "events_live").foreach(t =>
          graft.sources.Sinks.deleteBatch(url, t, user, password, batchId))
        writeKinds(batch, batchId)(
          Seq("position") -> w("positions_live", "hexident",
            "session_start", "time", "lon", "lat", "alt_m", "onground",
            "batch_id"),
          Seq("flight") -> w("flights_live", "hexident", "session_start",
            "first_seen", "last_seen", "callsign", "n_positions",
            "batch_id"),
          Seq("landing", "takeoff") -> w("events_live", "kind", "hexident",
            "session_start", "time", "runway", "batch_id"))
      })
  }

  /** `w.start()` with the query's checkpoint files written through
    * [[NioCheckpointFileManager]]. Spark builds a query's checkpoint
    * managers from the session conf's [[NioCheckpointFileManager.Key]],
    * so it is set around the start, and the caller's value is restored
    * once the query has built its sources. The query keeps the
    * setting: its offsets and commits logs and its state stores are
    * built on the session clone `StreamExecution` makes when it is
    * constructed. A source, though, is built from the session that
    * read it (the caller's), on the query's thread after `start`
    * returns; a file source's log is among them, hence the wait. A
    * query that fails while it starts is returned as it is: its
    * failure surfaces where it would have, in `awaitTermination`. */
  private[graft] def startQuery(spark: SparkSession,
      w: DataStreamWriter[_]): StreamingQuery = {
    val key = NioCheckpointFileManager.Key
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, classOf[NioCheckpointFileManager].getName)
    try {
      val q = w.start()
      q match {
        case r: StreamingQueryWrapper =>
          try r.streamingQuery.awaitInitialization(Long.MaxValue)
          catch { case _: StreamingQueryException => () }
        case _ => ()
      }
      q
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The one sink rule of [[start]] and [[startJdbc]]. Each `(kinds,
    * write)` pair gets the micro-batch's rows of those kinds, stamped
    * with `batch_id`. The first pair always runs: its job materializes
    * the cached batch and observes the batch's row count for every
    * kind named in `writes`. Each later pair runs only when one of its
    * kinds has rows, so an empty kind costs no job. An empty write
    * produced no data file, so skipping it leaves every partition a
    * reader sees, and a replayed epoch's overwrite, as they were. */
  private def writeKinds(batch: Dataset[Out], batchId: Long)(
      writes: (Seq[String], DataFrame => Unit)*): Unit = {
    val b = batch.cache()
    try {
      val df = b.toDF().withColumn("batch_id", lit(batchId))
      def rows(d: DataFrame, kinds: Seq[String]) =
        d.where(col("kind").isin(kinds: _*))
      val counts = Observation()
      val perKind = writes.flatMap(_._1).distinct
        .map(k => count_if(col("kind") === k).as(k))
      val (firstKinds, first) = writes.head
      first(rows(df.observe(counts, perKind.head, perKind.tail: _*),
        firstKinds))
      val n = counts.get
      for ((kinds, write) <- writes.tail
           if kinds.exists(k => n(k).asInstanceOf[Long] > 0))
        write(rows(df, kinds))
    } finally b.unpersist()
  }

  /** S1 resilience analog (`adsb_parser.py:120-137`): the reference
    * retries its TCP connect 5× with 1 s backoff; the Spark
    * equivalent is restarting the failed streaming query from its
    * checkpoint (exactly-once sinks make the restart transparent).
    * Runs `start` and, on query failure, restarts it up to
    * `attempts − 1` more times with `backoffMs` pause, logging a WARN
    * line with each failure's root cause; rethrows once the budget is
    * exhausted. Returns those causes once the query ends cleanly. */
  def supervise(attempts: Int = 5, backoffMs: Long = 1000)(
      start: () => StreamingQuery): Seq[Throwable] = {
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val causes = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var done = false
    while (!done) {
      val q = start()
      try { q.awaitTermination(); done = true }
      catch {
        case e: org.apache.spark.sql.streaming.StreamingQueryException =>
          if (causes.size + 1 >= attempts) throw e
          val root = ExceptionUtils.getRootCause(e)
          causes += root
          log.warn(s"stream restart ${causes.size} of ${attempts - 1}: " +
            s"${root.getClass.getName}: ${root.getMessage}")
          Thread.sleep(backoffMs)
      }
    }
    causes.toSeq
  }

  /** S7's `positions_live`: [[start]]'s `positions` rows with `time >=
    * now − retention`, the reference's delete of rows older than
    * `now() − 1 day` (`create_public_schema.sql:819-854`) exact to the
    * row. Pruning starts at the cutoff's date at UTC−18: no writer's
    * zone dates a kept row earlier, so a reader in any zone loses none. */
  def positionsLive(spark: SparkSession, outDir: String,
      retention: java.time.Duration = java.time.Duration.ofDays(1),
      now: java.time.Instant = java.time.Instant.now()): DataFrame = {
    val cutoff = now.minus(retention)
    spark.read.parquet(s"$outDir/positions").where(
      col("day") >= lit(cutoff.atOffset(java.time.ZoneOffset.MIN)
        .toLocalDate) && col("time") >= lit(cutoff))
  }
}
