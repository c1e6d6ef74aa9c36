package graft.adsb

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end replay of the reference's 2,069-line real capture
  * (`src/tests/adsb_message_stream.txt`) through parse → sessionize →
  * event detection — SURVEY.md §7.2's minimum slice. */
class ReplaySpec extends SparkSpec {

  private lazy val out =
    AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt").cache()

  test("replay yields flights, positions and no orphan kinds") {
    val kinds = out.groupBy("kind").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kinds.getOrElse("flight", 0L) > 0)
    assert(kinds.getOrElse("position", 0L) > 0)
    assert(kinds.keySet.subsetOf(Set("flight", "position", "landing", "takeoff")))
  }

  test("every position belongs to an emitted flight session") {
    val f = AdsbPipeline.flights(out).select("hexident", "session_start")
    val p = AdsbPipeline.positions(out).select("hexident", "session_start")
    assert(p.join(f, Seq("hexident", "session_start"), "left_anti").count() === 0)
  }

  test("flight first_seen <= last_seen and session keys unique") {
    val f = AdsbPipeline.flights(out)
    assert(f.where(col("first_seen") > col("last_seen")).count() === 0)
    assert(f.groupBy("hexident", "session_start").count()
      .where(col("count") > 1).count() === 0)
  }

  test("positions carry reference schema incl. always-null verticalrate/track") {
    // models.py:52-60 declares them; Flight.update never assigns them.
    val p = AdsbPipeline.positions(out)
    assert(p.columns.toSeq === Seq("hexident", "session_start", "time",
      "lon", "lat", "alt_m", "onground", "verticalrate", "track"))
    assert(p.where(col("verticalrate").isNotNull ||
      col("track").isNotNull).count() === 0)
  }

  test("deterministic across runs (same counts)") {
    val again = AdsbPipeline.replayFixture(spark, "adsb_message_stream.txt")
    assert(again.count() === out.count())
  }

  test("foldRuns: run boundaries respected, partial consumption drained") {
    // strict f that reads only the first element of each run: the
    // helper must drain the rest so the next run starts clean.
    val rows = Seq("a" -> 1, "a" -> 2, "b" -> 3, "c" -> 4, "c" -> 5)
    val heads = AdsbPipeline.foldRuns(rows.iterator, (r: (String, Int)) => r._1) {
      run => Iterator.single(run.next())
    }.toList
    assert(heads === List("a" -> 1, "b" -> 3, "c" -> 4))
    // and a fully-consuming f sees every element of its run
    val sums = AdsbPipeline.foldRuns(rows.iterator, (r: (String, Int)) => r._1) {
      run => Iterator.single(run.map(_._2).sum)
    }.toList
    assert(sums === List(3, 3, 9))
  }

  test("foldRuns: a lazy f streams — outputs before its run is drained") {
    // f echoes its run lazily; if foldRuns drained the run eagerly
    // (the old strict contract) the echo would see an exhausted
    // iterator and emit nothing.
    val rows = Seq("a" -> 1, "a" -> 2, "b" -> 3, "c" -> 4, "c" -> 5)
    val echoed = AdsbPipeline.foldRuns(rows.iterator, (r: (String, Int)) => r._1) {
      run => run.map(_._2)
    }.toList
    assert(echoed === List(1, 2, 3, 4, 5))
  }

  test("processSorted streams: first rows yielded before input is drained") {
    // 100 TB contract: one aircraft's history must not materialize on
    // the output side. Feed a long run through a consumption-counting
    // iterator and check the first position arrives after O(1) pulls.
    import java.sql.Timestamp
    val t0us = FlightStateMachine.micros(
      Timestamp.valueOf("2019-10-20 11:00:00"))
    val msgs = (0 until 10000).map { i =>
      graft.adsb.AdsbMsg(
        seq = i.toLong, transmission_type = 3, hexident = "ABC123",
        gen_date_time = FlightStateMachine.toTs(t0us + i * 1000000L),
        callsign = None, altitude = Some(1000), speed = None,
        track = None, latitude = Some(47.15), longitude = Some(-1.6),
        verticalrate = None, onground = Some(false))
    }
    var consumed = 0
    val counting = msgs.iterator.map { m => consumed += 1; m }
    val out = FlightStateMachine.processSorted(counting)
    assert(out.hasNext)
    val first = out.next()
    assert(first.kind === "position")
    assert(consumed <= 2, s"processSorted buffered $consumed inputs")
    // ... and full consumption still closes the session with a flight
    val rest = out.toList
    assert(consumed === 10000)
    assert(rest.last.kind === "flight")
    assert(rest.count(_.kind == "position") === 9999)
  }

  test("flight paths: one LineString per session over its positions") {
    val paths = graft.queries.AdsbQueries.defs("adsb_flight_paths")(spark, "")
      .collect()
    val posKeys = AdsbPipeline.positions(out)
      .select(concat_ws("/", col("hexident"), col("session_start")))
      .distinct().count()
    assert(paths.length === posKeys)
    assert(paths.forall(_.getString(1).startsWith("{\"type\":\"LineString\"")))
  }

  test("event details composite: the reference's 10-column event type") {
    import spark.implicits._
    import java.sql.Timestamp
    val t0us = FlightStateMachine.micros(
      Timestamp.valueOf("2019-10-20 11:00:00"))
    def at(sec: Double) = FlightStateMachine.toTs(t0us + (sec * 1e6).toLong)
    // golden R21 landing (FlightStateMachineSpec) + an AFR callsign
    val msgs = Seq(
      AdsbMsg(0, 3, "ABC123", at(0), None, Some(900), None, None,
        Some(47.170), Some(-1.598), None, Some(false)),
      AdsbMsg(1, 1, "ABC123", at(5), Some("AFR1234"), None, None, None,
        None, None, None, Some(false)),
      AdsbMsg(2, 3, "ABC123", at(10), None, Some(300), None, None,
        Some(47.1630), Some(-1.6035), None, Some(false)),
      AdsbMsg(3, 3, "ABC123", at(20), None, Some(0), None, None,
        Some(47.15356), Some(-1.61046), None, Some(true)))
    val out = AdsbPipeline.process(msgs.toDS())
    val d = graft.queries.AdsbQueries.eventDetails(out,
      Meta.loadAirlines(spark), Meta.loadCountries(spark)).collect()
    assert(d.length === 1)
    val r = d.head
    // ids are deterministic natural-key hashes (join keys, not
    // semantics), md5-derived so the DuckDB oracle reproduces them:
    // pin them against an independent pure-JVM computation
    def phash(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    val us0 = FlightStateMachine.micros(at(0))
    val us20 = FlightStateMachine.micros(at(20))
    assert(r.getLong(0) === phash(s"ABC123#$us0#$us20#landing")) // id
    assert(r.getLong(1) === phash(s"ABC123#$us0"))       // flight_id
    assert(r.getString(2) === "AFR1234")         // callsign
    assert(r.getString(3) === "Air France")      // airline
    assert(r.getString(4) === "France")          // country
    assert(r.getString(5) === "FR")              // country_code
    // timestamps are emitted as wall-clock (ntz); session tz is UTC
    def ldt(t: java.sql.Timestamp) =
      t.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime
    assert(r.getAs[java.time.LocalDateTime](6) === ldt(at(0)))  // first_seen
    assert(r.getAs[java.time.LocalDateTime](7) === ldt(at(20))) // last_seen
    assert(r.getAs[java.time.LocalDateTime](8) === ldt(at(20))) // time
    assert(r.getString(9) === "21")              // runway
  }

  test("golden fixture replay: both reference landings + takeoff attributed") {
    // adsb_golden_landings.txt = the reference's golden sequences
    // (src/tests/__init__.py:19-30) as real SBS lines, so the event
    // path runs end-to-end from text parse, not just from AdsbMsg.
    val g = AdsbPipeline.replayFixture(spark, "adsb_golden_landings.txt")
    val ev = AdsbPipeline.events(g).orderBy("time").collect()
      .map(r => (r.getAs[String]("hexident"), r.getAs[String]("kind"),
        r.getAs[String]("runway")))
    // DDD444 is the bounce train (models.py:256-270): landing at
    // :20 (valid), bounce up :21 / down :22.5 / up :23.5 all
    // suppressed — the :22.5 candidate is 2.5 s after the last VALID
    // event, so it only stays suppressed because the SUPPRESSED :21
    // candidate reset the debounce clock — then touchdown :26 valid
    // (2.5 s after :23.5). Exactly two landings survive.
    assert(ev.toSeq === Seq(
      ("AAA111", "landing", "21"),
      ("BBB222", "landing", "03"),
      ("CCC333", "takeoff", "03"),
      ("DDD444", "landing", "21"),
      ("DDD444", "landing", "21")))
    val d = graft.queries.AdsbQueries.eventDetails(g,
      Meta.loadAirlines(spark), Meta.loadCountries(spark))
      .orderBy("time").collect()
      .map(r => (r.getString(2), r.getString(3), r.getString(5)))
    assert(d.toSeq === Seq(
      ("AFR1234", "Air France", "FR"),
      ("BAW55", "British Airways", "GB"),
      ("DLH9E", "Lufthansa", "DE"),
      ("KLM77", "KLM Royal Dutch Airlines", "NL"),
      ("KLM77", "KLM Royal Dutch Airlines", "NL")))
  }
}
