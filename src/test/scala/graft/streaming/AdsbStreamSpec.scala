package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, min}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkSpec
import graft.adsb.{AdsbPipeline, Sbs}

/** Streaming/batch agreement: replaying the reference capture through
  * the `flatMapGroupsWithState` operator must produce the same rows as
  * the batch fold (they share the state machine; this pins the
  * micro-batch plumbing — incremental folds, state carry-over,
  * event-time timeouts). */
class AdsbStreamSpec extends SparkSpec {

  import spark.implicits._

  test("start() runs the multi-sink pipeline end-to-end (T10/T11/S7)") {
    implicit val sqlCtx = spark.sqlContext
    val lines = MemoryStream[String]
    val outDir = Files.createTempDirectory("graft-sink-e2e").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-e2e").toString
    val raw = Sbs.fixtureLines(spark, "adsb_message_stream.txt")
      .select("value").as[String].collect()
    lines.addData(raw.toSeq)
    val q = AdsbStream.start(lines.toDF(), outDir, ckpt)
    q.processAllAvailable()
    q.stop()

    val batch = AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt")
    val pos = spark.read.parquet(s"$outDir/positions")
    assert(pos.count() ===
      batch.toDF().where("kind = 'position'").count())
    // epoch-idempotent layout: every table is batch_id-partitioned so
    // a replayed epoch OVERWRITES its own partition (at-least-once
    // foreachBatch can never duplicate rows)
    assert(pos.columns.contains("batch_id"))
    // positions is written once, day first: positions/day=*/batch_id=*
    val days = new java.io.File(s"$outDir/positions").listFiles()
      .filter(_.getName.startsWith("day="))
    assert(days.map(_.getName).toSeq === Seq("day=2019-10-20"))
    assert(days.head.listFiles().exists(_.getName.startsWith("batch_id=")))
    assert(!new java.io.File(s"$outDir/positions_live").exists())
    // S7 live table: positions read back as their rolling 24 h slice
    def live(now: String) = AdsbStream.positionsLive(spark, outDir,
      now = java.time.Instant.parse(now)).count()
    assert(live("2019-10-20T12:00:00Z") === pos.count())
    assert(live("2019-10-22T12:00:00Z") === 0)
    // the cutoff is inclusive, exact to the row: a row at exactly
    // now − 24 h stays, and goes one microsecond later
    val first = pos.agg(min("time")).as[java.sql.Timestamp].head().toInstant
    val atFirst = pos.where(col("time") === lit(first)).count()
    assert(atFirst > 0)
    val day = java.time.Duration.ofDays(1)
    assert(AdsbStream.positionsLive(spark, outDir,
      now = first.plus(day)).count() === pos.count())
    assert(AdsbStream.positionsLive(spark, outDir,
      now = first.plus(day).plusNanos(1000)).count() ===
      pos.count() - atFirst)
  }

  test("positionsLive loses no row written near midnight in another zone") {
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("graft-sink-tz").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-tz").toString
    val tz = "spark.sql.session.timeZone"
    val prev = spark.conf.get(tz)
    // written in the westernmost zone, from 23:59:50 to 00:00:09:
    // its midnight splits the rows over two days, both earlier than
    // the day the reader's zone gives them
    val pos = try {
      spark.conf.set(tz, "Etc/GMT+12")
      val lines = MemoryStream[String]
      val q = AdsbStream.start(lines.toDF(), outDir, ckpt)
      lines.addData((0 until 20).map(i => sbsPosition("AAAAAA", 46790 + i)))
      q.processAllAvailable()
      q.stop()
      spark.read.parquet(s"$outDir/positions").collect()
    } finally spark.conf.set(tz, prev)
    assert(pos.length === 20)
    assert(pos.map(_.getAs[java.sql.Date]("day").toLocalDate.toString)
      .toSet === Set("2019-10-20", "2019-10-21"))
    // read at the easternmost zone, with the first row exactly at the
    // cutoff: every row is inside the window
    val first = pos.map(_.getAs[java.sql.Timestamp]("time").toInstant).min
    try {
      spark.conf.set(tz, "Pacific/Kiritimati")
      assert(AdsbStream.positionsLive(spark, outDir,
        now = first.plus(java.time.Duration.ofDays(1))).count() === 20)
    } finally spark.conf.set(tz, prev)
  }

  test("startJdbc commits each micro-batch to the store (S6+T11)") {
    implicit val sqlCtx = spark.sqlContext
    val lines = MemoryStream[String]
    val ckpt = Files.createTempDirectory("graft-jdbc-ckpt").toString
    val db = Files.createTempDirectory("graft-jdbc-live").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val raw = Sbs.fixtureLines(spark, "adsb_golden_landings.txt")
      .select("value").as[String].collect()
    // two deliveries → two micro-batches, each committed on its own
    val (chunk1, chunk2) = raw.partition(l =>
      l.contains("AAA111") || l.contains("BBB222"))
    val q = AdsbStream.startJdbc(lines.toDF(), url, "app", "app", ckpt)
    lines.addData(chunk1.toSeq)
    q.processAllAvailable()
    lines.addData(chunk2.toSeq)
    q.processAllAvailable()
    q.stop()

    def table(name: String) = {
      val props = new java.util.Properties()
      props.setProperty("user", "app"); props.setProperty("password", "app")
      spark.read.jdbc(url, name, props)
    }
    val pos = table("positions_live").collect()
    val batchTotal = AdsbPipeline
      .replayFixture(spark, "adsb_golden_landings.txt")
      .toDF().where("kind = 'position'").count()
    assert(pos.length.toLong === batchTotal)
    // commit cadence: each delivery landed under its OWN batch_id,
    // appended per-trigger (not one bulk write at shutdown)
    val perBatch = pos.groupBy(_.getAs[Long]("batch_id")).view
      .mapValues(_.length).toMap
    assert(perBatch.size === 2, s"expected 2 micro-batch commits: $perBatch")
    assert(perBatch.values.forall(_ > 0))
    // events ride the same cadence: goldens split 2 (AAA+BBB landings)
    // then 3 (CCC takeoff + DDD debounced double landing)
    val ev = table("events_live").collect()
    assert(ev.length === 5)
    assert(ev.map(_.getAs[Long]("batch_id")).distinct.length === 2)
  }

  /** An airborne MSG3 position line for `hex`, `sec` seconds after
    * 2019-10-20 11:00:00. */
  private def sbsPosition(hex: String, sec: Long): String = {
    val t = java.time.LocalDateTime.of(2019, 10, 20, 11, 0).plusSeconds(sec)
    val d = t.format(java.time.format.DateTimeFormatter.ofPattern(
      "yyyy/MM/dd,HH:mm:ss.SSS"))
    s"MSG,3,1,1,$hex,1,$d,$d,,5000,,,47.1,-1.6,,,0,,0,0"
  }

  /** The `batch_id=` partitions of `table`, under its `day=` level
    * where it has one (positions). */
  private def partitions(outDir: String, table: String): Set[String] = {
    def dirs(f: java.io.File) = Option(f.listFiles).toSeq.flatten
    dirs(new java.io.File(s"$outDir/$table"))
      .flatMap(d => if (d.getName.startsWith("day=")) dirs(d) else Seq(d))
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet
  }

  test("start(): a positions-only micro-batch runs 1 job, no event tables") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val lines = MemoryStream[String]
    val outDir = Files.createTempDirectory("graft-sink-jobs").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-jobs").toString
    // (query id, micro-batch id) of every job, from the job properties
    // the stream execution sets; listener events arrive on one thread
    val jobs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        for (p <- Option(e.properties);
             b <- Option(p.getProperty("streaming.sql.batchId")))
          jobs += p.getProperty("sql.streaming.queryId") -> b
    }
    spark.sparkContext.addSparkListener(listener)
    val q = try {
      val q = AdsbStream.start(lines.toDF(), outDir, ckpt)
      lines.addData((0 until 20).map(i => sbsPosition("AAAAAA", i)))
      q.processAllAvailable()
      q.stop()
      org.apache.spark.sql.graftbridge.Bridge
        .drainListenerBus(spark.sparkContext)
      q
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(spark.read.parquet(s"$outDir/positions").count() === 20)
    assert(!new java.io.File(s"$outDir/positions_live").exists())
    val batch0 = jobs.count(_ == (q.id.toString -> "0"))
    assert(batch0 === 1, s"jobs of micro-batch 0: $batch0")
    assert(partitions(outDir, "positions") === Set("batch_id=0"))
    assert(Seq("flights", "landings", "takeoffs")
      .forall(partitions(outDir, _).isEmpty))
  }

  /** The timeout test's pattern on raw lines: A transmits, B 20 min
    * later pushes the watermark past A's 300 s timeout, and the
    * micro-batch after B's, which has no input rows, closes A's
    * session. Stops `q` once `written` holds. */
  private def timeOutSession(lines: MemoryStream[String], q: StreamingQuery)(
      written: => Boolean): Unit = {
    for (d <- Seq(sbsPosition("AAAAAA", 0), sbsPosition("BBBBBB", 1200))) {
      lines.addData(d)
      q.processAllAvailable()
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!written) {
      assert(System.nanoTime() < deadline, "A's session never closed")
      Thread.sleep(50)
    }
    q.stop()
  }

  test("start(): the micro-batch that times a session out writes flights") {
    implicit val sqlCtx = spark.sqlContext
    val lines = MemoryStream[String]
    val outDir = Files.createTempDirectory("graft-sink-flight").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-flight").toString
    timeOutSession(lines, AdsbStream.start(lines.toDF(), outDir, ckpt))(
      partitions(outDir, "flights").nonEmpty)
    val flights = spark.read.parquet(s"$outDir/flights").collect()
    assert(flights.map(_.getAs[String]("hexident")).toSeq === Seq("AAAAAA"))
    val n = s"batch_id=${flights.head.getAs[Any]("batch_id")}"
    assert(partitions(outDir, "flights") === Set(n))
    // that batch had the flight and nothing else to write
    val positions = partitions(outDir, "positions")
    assert(positions.size === 2 && !positions(n))
    assert(partitions(outDir, "landings").isEmpty)
    assert(partitions(outDir, "takeoffs").isEmpty)
  }

  test("startJdbc(): a batch without positions still writes its flight") {
    implicit val sqlCtx = spark.sqlContext
    val lines = MemoryStream[String]
    val ckpt = Files.createTempDirectory("graft-jdbc-flight-ckpt").toString
    val db = Files.createTempDirectory("graft-jdbc-flight").resolve("db")
    val url = s"jdbc:derby:$db;create=true"
    val props = new java.util.Properties()
    props.setProperty("user", "app"); props.setProperty("password", "app")
    def table(name: String) = spark.read.jdbc(url, name, props)
    timeOutSession(lines,
      AdsbStream.startJdbc(lines.toDF(), url, "app", "app", ckpt))(
      scala.util.Try(table("flights_live").count() > 0).getOrElse(false))
    val flights = table("flights_live").select("hexident", "batch_id")
      .as[(String, Long)].collect()
    assert(flights.map(_._1).toSeq === Seq("AAAAAA"))
    val positions = table("positions_live").select("batch_id").as[Long]
      .collect()
    assert(positions.length === 2 && !positions.contains(flights.head._2))
  }

  test("start(): replaying the last epoch from its checkpoint changes no table") {
    val drop = Files.createTempDirectory("graft-replay-in")
    val outDir = Files.createTempDirectory("graft-replay-out").toString
    val ckpt = Files.createTempDirectory("graft-replay-ckpt").toString
    val raw = Sbs.fixtureLines(spark, "adsb_golden_landings.txt")
      .select("value").as[String].collect()
    val (chunk1, chunk2) = raw.partition(l =>
      l.contains("AAA111") || l.contains("BBB222"))
    val tables = Seq("positions", "flights", "landings", "takeoffs")
    def snapshot() = tables.map { t =>
      // a table with no partition directory has no rows to read
      t -> (if (!Option(new java.io.File(s"$outDir/$t").listFiles)
          .exists(_.exists(_.isDirectory))) Seq.empty
        else spark.read.parquet(s"$outDir/$t").collect().toSeq)
    }.toMap
    // no-data micro-batches off: the last epoch is the one with events
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val q1 = AdsbStream.start(
        AdsbStream.fileLines(spark, drop.toString), outDir, ckpt)
      for ((c, i) <- Seq(chunk1, chunk2).zipWithIndex) {
        // written aside, then moved in whole: the source never lists
        // a half-written chunk
        val f = Files.write(Files.createTempFile("graft-replay", ".txt"),
          c.mkString("\n").getBytes("UTF-8"))
        Files.move(f, drop.resolve(s"chunk-$i.txt"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        q1.processAllAvailable()
      }
      q1.stop()
      val before = snapshot()
      assert(Seq("positions", "landings", "takeoffs")
        .forall(before(_).nonEmpty))
      val commits = new java.io.File(ckpt, "commits")
      val last = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
      assert(last === 1L)
      Seq(s"$last", s".$last.crc").foreach(f =>
        new java.io.File(commits, f).delete())
      val q2 = AdsbStream.start(
        AdsbStream.fileLines(spark, drop.toString), outDir, ckpt)
      q2.processAllAvailable()
      q2.stop()
      assert(new java.io.File(commits, s"$last").exists)
      val after = snapshot()
      for (t <- tables) {
        assert(after(t).size === before(t).size, t)
        assert(after(t).diff(before(t)).isEmpty, t)
        assert(after(t).distinct.size === after(t).size, s"$t duplicates")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("supervise restarts a failed query from checkpoint (S1 resilience)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    val stream = MemoryStream[Int]
    stream.addData(1 to 10)
    val ckpt = Files.createTempDirectory("graft-supervise").toString
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val causes = AdsbStream.supervise(attempts = 5, backoffMs = 10) { () =>
      stream.toDS().writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Int], _: Long) =>
          if (failures.getAndDecrement() > 0)
            throw new RuntimeException("injected sink failure")
          seen.addAndGet(b.collect().sum)
          ()
        }
        .start()
    }
    assert(failures.get() <= 0)     // both injected failures consumed
    assert(seen.get() === 55)       // the batch landed exactly once
    // each restart's root cause, in order
    assert(causes.size === 2)
    assert(causes.forall(_.getMessage.contains("injected sink failure")),
      causes)
  }

  test("supervise gives up after `attempts` starts and rethrows the failure") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val stream = MemoryStream[Int]
    stream.addData(1 to 10)
    val ckpt = Files.createTempDirectory("graft-supervise-out").toString
    val starts = new java.util.concurrent.atomic.AtomicInteger(0)
    val fail: (org.apache.spark.sql.Dataset[Int], Long) => Unit =
      (_, _) => throw new IllegalStateException("injected permanent failure")
    val e = intercept[StreamingQueryException] {
      AdsbStream.supervise(attempts = 3, backoffMs = 10) { () =>
        starts.incrementAndGet()
        stream.toDS().writeStream
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch(fail)
          .start()
      }
    }
    assert(starts.get() === 3)
    val root =
      org.apache.commons.lang3.exception.ExceptionUtils.getRootCause(e)
    assert(root.isInstanceOf[IllegalStateException], root)
    assert(root.getMessage === "injected permanent failure")
  }

  test("ingest with dedupReplays collapses a full socket re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    val lines = MemoryStream[String]
    val outDir = Files.createTempDirectory("graft-dedup-e2e").toString
    val ckpt = Files.createTempDirectory("graft-dedup-e2e-ckpt").toString
    val raw = graft.adsb.Sbs.fixtureLines(spark, "adsb_message_stream.txt")
      .select("value").as[String].collect().toSeq
    val q = AdsbStream.start(lines.toDF(), outDir, ckpt,
      dedupReplays = true)
    lines.addData(raw)
    q.processAllAvailable()
    lines.addData(raw) // reconnect replays the whole capture
    q.processAllAvailable()
    q.stop()

    // the capture spans <2 s, far inside the watermark delay, so every
    // re-delivered row is still in dedup state → output equals the
    // single-delivery batch replay
    val batchPositions = graft.adsb.AdsbPipeline
      .replayFixture(spark, "adsb_message_stream.txt")
      .toDF().where("kind = 'position'").count()
    val got = spark.read.parquet(s"$outDir/positions").count()
    assert(got === batchPositions)
  }

  test("event-time timeout closes a silent session (T2, streaming)") {
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2019-10-20 11:00:00")
    def at(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    def msg(hex: String, sec: Long, seq: Long) =
      graft.adsb.AdsbMsg(seq, 2, hex, at(sec), None, None, None, None,
        Some(47.1), Some(-1.6), None, Some(false))
    val stream = MemoryStream[graft.adsb.AdsbMsg]
    val ckpt = Files.createTempDirectory("graft-ckpt-to").toString
    val q = AdsbStream.sessionize(stream.toDS()).writeStream
      .format("memory").queryName("adsb_timeout_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    // batch 1: aircraft A transmits, then goes silent
    stream.addData(msg("AAAAAA", 0, 0))
    q.processAllAvailable()
    // batch 2: aircraft B 20 min later pushes the watermark far past
    // A's 300 s timeout → A's session must close with a flight row
    stream.addData(msg("BBBBBB", 1200, 1))
    q.processAllAvailable()
    // batch 3: one more advance so the timeout fires in its own batch
    stream.addData(msg("BBBBBB", 1300, 2))
    q.processAllAvailable()
    q.stop()
    val flights = spark.table("adsb_timeout_out")
      .where("kind = 'flight' AND hexident = 'AAAAAA'")
    assert(flights.count() === 1)
    // the timeout evicts A's state: both aircraft are resident at the
    // peak, only B once A's session has closed
    val stateRows = q.recentProgress.toSeq.flatMap(_.stateOperators
      .filter(_.operatorName == "flatMapGroupsWithState")
      .map(_.numRowsTotal))
    assert(stateRows.max === 2L, s"state rows per trigger: $stateRows")
    assert(stateRows.last === 1L, s"state rows per trigger: $stateRows")
  }

  test("streaming replay equals batch replay (3 micro-batches)") {
    val msgs = Sbs.messages(
      Sbs.fixtureLines(spark, "adsb_message_stream.txt"))
      .collect().sortBy(_.seq)

    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[graft.adsb.AdsbMsg]
    val out = AdsbStream.sessionize(stream.toDS())
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = out.writeStream
      .format("memory").queryName("adsb_stream_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    msgs.grouped(700).foreach(b => stream.addData(b.toSeq))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("adsb_stream_out")
    val batch = AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt")

    // Open sessions at end-of-stream have no flight row in streaming
    // (the watermark never passes their timeout), so compare positions
    // and events exactly, and flights as a subset.
    def key(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "kind", "hexident", "cast(session_start as string)",
      "cast(time as string)", "lon", "lat", "alt_m", "runway")

    val sPos = key(streamed.where("kind != 'flight'").toDF())
    val bPos = key(batch.toDF().where("kind != 'flight'"))
    assert(sPos.exceptAll(bPos).count() === 0)
    assert(bPos.exceptAll(sPos).count() === 0)

    val sFl = key(streamed.where("kind = 'flight'").toDF())
    val bFl = key(batch.toDF().where("kind = 'flight'"))
    assert(sFl.exceptAll(bFl).count() === 0)
  }

  test("reorder buffer repairs CROSS-BATCH disorder under the watermark") {
    // the case the in-order path cannot fix (round-12): a message
    // older than already-folded ones arrives in a LATER micro-batch
    // (above the watermark, so the contract admits it). The batch
    // fold sorts globally -> session_start = the true first message;
    // the watermark-buffered sessionizer must land on the same rows.
    implicit val sqlCtx = spark.sqlContext
    import java.sql.Timestamp
    val t0 = Timestamp.valueOf("2019-10-20 11:00:00")
    def at(sec: Long) = new Timestamp(t0.getTime + sec * 1000)
    def msg(hex: String, sec: Long, seq: Long) =
      graft.adsb.AdsbMsg(seq, 2, hex, at(sec), None, None, None, None,
        Some(47.1), Some(-1.6), None, Some(false))
    val delivered = Seq(
      Seq(msg("AAAAAA", 5, 1), msg("AAAAAA", 8, 2), msg("BBBBBB", 12, 3)),
      Seq(msg("AAAAAA", 4, 0)), // late arrival: wm = 12-10 = 2 < 4
      Seq(msg("CCCCCC", 1200, 4)), // sentinel: close everything
      Seq(msg("CCCCCC", 1300, 5)))
    val stream = MemoryStream[graft.adsb.AdsbMsg]
    val ckpt = Files.createTempDirectory("graft-ckpt-ooo").toString
    val q = AdsbStream.sessionizeReordered(stream.toDS()).writeStream
      .format("memory").queryName("adsb_ooo_out")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()
    delivered.foreach { b => stream.addData(b); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("adsb_ooo_out")
      .where("hexident IN ('AAAAAA', 'BBBBBB')")
    val batch = {
      import org.apache.spark.sql.functions.col
      val msgs = delivered.flatten
        .filter(m => m.hexident != "CCCCCC")
      AdsbPipeline.process(spark.createDataset(msgs))
    }
    def key(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "kind", "hexident", "cast(session_start as string)",
      "cast(time as string)", "n_positions", "lon", "lat")
    assert(key(streamed.toDF()).exceptAll(key(batch.toDF())).count() === 0)
    assert(key(batch.toDF()).exceptAll(key(streamed.toDF())).count() === 0)
    // and the repaired session really starts at the LATE message
    assert(streamed.where("kind = 'flight' AND hexident = 'AAAAAA'")
      .selectExpr("cast(session_start as string)").head().getString(0)
      === "2019-10-20 11:00:04")
  }

  test("parity-ooo shuffle: real disorder, bounded by the watermark") {
    // the adsb_stream_parity_ooo gate is only as strong as its input
    // disorder: pin that the deterministic shuffle (8 s event-time
    // windows, scrambled within) produces inversions ACROSS the
    // 700-message micro-batch grain, while no message is displaced
    // below the watermark its predecessors imply (max-seen - 10 s)
    val inOrder = Sbs.messages(
      Sbs.fixtureLines(spark, "adsb_message_stream.txt"))
      .collect().sortBy(_.seq)
    def us(m: graft.adsb.AdsbMsg) =
      graft.adsb.FlightStateMachine.micros(m.gen_date_time)
    val shuffled = inOrder.sortBy { m =>
      (us(m) / 8000000L, m.seq * 0x9E3779B97F4A7C15L, m.seq)
    }
    assert(shuffled.map(_.seq).toSeq != inOrder.map(_.seq).toSeq)
    // cross-batch inversion: some message lands in a LATER batch than
    // a strictly newer (by event time) message
    val batchOf = shuffled.zipWithIndex.map { case (m, i) => m -> i / 700 }
    val crossInversions = batchOf.sliding(2).count {
      case Array((a, ba), (b, bb)) => ba < bb && us(a) > us(b)
    }
    val anyCross = batchOf.indices.exists { i =>
      batchOf.drop(i + 1).exists { case (b, bb) =>
        bb > batchOf(i)._2 && us(batchOf(i)._1) > us(b)
      }
    }
    assert(anyCross, s"no cross-batch disorder (adjacent: $crossInversions)")
    // bounded: never below the running watermark
    var maxUs = Long.MinValue / 2 // /2: the -10 s slack must not wrap
    shuffled.foreach { m =>
      assert(us(m) > maxUs - 10000000L,
        s"seq ${m.seq} displaced below the watermark")
      maxUs = math.max(maxUs, us(m))
    }
  }

  test("sessionizer state survives on the RocksDB state store") {
    // Spark's RocksDB provider, set on the session's conf: the same
    // batch ≡ stream replay, with the sessionizer's keyed state in
    // RocksDB instead of the executor heap
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption(
      "spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val msgs = Sbs.messages(
        Sbs.fixtureLines(spark, "adsb_message_stream.txt"))
        .collect().sortBy(_.seq)
      val stream = MemoryStream[graft.adsb.AdsbMsg]
      val ckpt = Files.createTempDirectory("graft-ckpt-rocks").toString
      val q = AdsbStream.sessionize(stream.toDS()).writeStream
        .format("memory").queryName("adsb_rocks_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      msgs.grouped(700).foreach(b => stream.addData(b.toSeq))
      q.processAllAvailable()
      q.stop()
      // the provider actually engaged: RocksDB checkpoints zip
      // snapshots + SST files under state/, where the default heap
      // provider writes .delta/.snapshot files
      def rocksArtifacts(f: java.io.File): Boolean =
        Option(f.listFiles()).exists(_.exists(c =>
          (c.isFile && (c.getName.endsWith(".zip") ||
            c.getName == "SSTs")) ||
            c.getName == "SSTs" || (c.isDirectory && rocksArtifacts(c))))
      val stateDir = new java.io.File(ckpt, "state")
      assert(rocksArtifacts(stateDir),
        "no RocksDB zip/SST artifacts under the checkpoint state dir " +
          "— provider not engaged")
      val streamed = spark.table("adsb_rocks_out")
      val batch = AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt")
      def key(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
        "kind", "hexident", "cast(session_start as string)",
        "cast(time as string)", "lon", "lat", "alt_m", "runway")
      val sPos = key(streamed.where("kind != 'flight'").toDF())
      val bPos = key(batch.toDF().where("kind != 'flight'"))
      assert(sPos.exceptAll(bPos).count() === 0)
      assert(bPos.exceptAll(sPos).count() === 0)
      val sFl = key(streamed.where("kind = 'flight'").toDF())
      val bFl = key(batch.toDF().where("kind = 'flight'"))
      assert(sFl.exceptAll(bFl).count() === 0)
    } finally prev match {
      case Some(v) => spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset(
        "spark.sql.streaming.stateStore.providerClass")
    }
  }
}
