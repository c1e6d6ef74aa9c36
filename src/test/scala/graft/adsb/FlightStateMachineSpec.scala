package graft.adsb

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.adsb.FlightStateMachine._

/** State-machine semantics pinned to the reference
  * (`models.py:142-270`, `flights.py:61-117`) including the golden
  * landing sequences from `src/tests/__init__.py:19-30`. */
class FlightStateMachineSpec extends AnyFunSuite {

  private val t0us = micros(Timestamp.valueOf("2019-10-20 11:00:00"))
  private def at(sec: Double): Timestamp = toTs(t0us + (sec * 1e6).toLong)

  private def msg(
      tpe: Int, sec: Double, hex: String = "ABC123",
      alt: Option[Int] = None, lat: Option[Double] = None,
      lon: Option[Double] = None, og: Option[Boolean] = Some(false),
      cs: Option[String] = None, seq: Long = 0): AdsbMsg =
    AdsbMsg(seq, tpe, hex, at(sec), cs, alt,
      None, None, lat, lon, None, og)

  private def run(ms: AdsbMsg*): Seq[Out] =
    processSorted(ms.iterator).toSeq

  test("admission: unknown aircraft with MSG1 is dropped; MSG2 admits") {
    assert(run(msg(1, 0, cs = Some("X"))).isEmpty)
    val r = run(msg(2, 0))
    assert(r.map(_.kind) === Seq("flight"))
  }

  test("MSG3 admission honors the altitude filter") {
    assert(run(msg(3, 0, alt = None)).isEmpty)            // strict null
    assert(run(msg(3, 0, alt = Some(200000))).isEmpty)    // above 'below'
    // both edges are open: AltitudeAbove < altitude < AltitudeBelow
    assert(run(msg(3, 0, alt = Some(99999))).map(_.kind) === Seq("flight"))
    assert(run(msg(3, 0, alt = Some(100000))).isEmpty)
    assert(run(msg(3, 0, alt = Some(-999))).map(_.kind) === Seq("flight"))
    assert(run(msg(3, 0, alt = Some(-1000))).isEmpty)     // faulty corpus
    assert(run(msg(3, 0, alt = Some(5000),
      lat = Some(47.0), lon = Some(-1.6))).map(_.kind) ===
      Seq("position", "flight"))
  }

  test("session expiry: gap > 300 s splits flights") {
    val r = run(msg(2, 0), msg(2, 100), msg(2, 500))
    assert(r.count(_.kind == "flight") === 2)
    val Seq(f1, f2) = r.filter(_.kind == "flight")
    assert(f1.last_seen.contains(at(100)))
    assert(f2.first_seen.contains(at(500)))
  }

  test("position append: MSG3 needs lon∧lat∧alt, MSG2 forces 0 m") {
    val r = run(
      msg(2, 0, lat = Some(47.1), lon = Some(-1.6)),
      msg(3, 1, alt = Some(1000), lat = Some(47.2), lon = Some(-1.7)),
      msg(3, 2, alt = None, lat = Some(47.3), lon = Some(-1.8))) // no alt → no pos
    val pos = r.filter(_.kind == "position")
    assert(pos.length === 2)
    assert(pos(0).alt_m.contains(0.0))
    assert(pos(1).alt_m.contains(304.8))
  }

  test("landing on runway 21: on-axis approach from the northeast") {
    val r = run(
      msg(3, 0, alt = Some(900), lat = Some(47.170), lon = Some(-1.598), og = Some(false)),
      msg(3, 10, alt = Some(300), lat = Some(47.1630), lon = Some(-1.6035), og = Some(false)),
      msg(3, 20, alt = Some(0), lat = Some(47.15356), lon = Some(-1.61046), og = Some(true)))
    val ev = r.filter(_.kind == "landing")
    assert(ev.length === 1)
    assert(ev.head.runway.contains("21"))
  }

  test("off-axis touchdown heading attributes no runway (¬±20°)") {
    // the reference's R21 fixture comment spans two different flights;
    // a literal replay heads ~272° — outside both runways' tolerance.
    val r = run(
      msg(3, 0, alt = Some(6900), lat = Some(47.13684), lon = Some(-1.23695), og = Some(false)),
      msg(3, 10, alt = Some(6875), lat = Some(47.13731), lon = Some(-1.23723), og = Some(false)),
      msg(3, 20, alt = Some(0), lat = Some(47.15356), lon = Some(-1.61046), og = Some(true)))
    assert(!r.exists(_.kind == "landing"))
  }

  test("golden landing runway 03 (tests/__init__.py:26-30)") {
    val r = run(
      msg(3, 0, alt = Some(100), lat = Some(47.15095), lon = Some(-1.61238), og = Some(false)),
      msg(3, 10, alt = Some(0), lat = Some(47.15177), lon = Some(-1.61177), og = Some(true)))
    val ev = r.filter(_.kind == "landing")
    assert(ev.length === 1)
    assert(ev.head.runway.contains("03"))
  }

  test("takeoff detected on true→false flip") {
    val r = run(
      msg(2, 0, lat = Some(47.15095), lon = Some(-1.61238), og = Some(true)),
      msg(3, 10, alt = Some(100), lat = Some(47.15177), lon = Some(-1.61177), og = Some(false)))
    assert(r.count(_.kind == "takeoff") === 1)
  }

  test("debounce: bounce train within 2 s suppressed, clock resets") {
    // t=10 landing (valid, >2s from session start at t=0), bounce at
    // t=11 (suppressed, resets clock), flip at t=12.5 — 1.5 s after the
    // *suppressed* candidate ⇒ still suppressed (models.py:268-270).
    val r = run(
      msg(2, 0, lat = Some(47.15095), lon = Some(-1.61238), og = Some(false)),
      msg(2, 10, lat = Some(47.15177), lon = Some(-1.61177), og = Some(true)),
      msg(2, 11, lat = Some(47.15095), lon = Some(-1.61238), og = Some(false)),
      msg(2, 12.5, lat = Some(47.15177), lon = Some(-1.61177), og = Some(true)))
    assert(r.count(_.kind == "landing") === 1)
    assert(r.count(_.kind == "takeoff") === 0)
  }

  test("first candidate within 2 s of session start is suppressed") {
    val r = run(
      msg(2, 0, lat = Some(47.15095), lon = Some(-1.61238), og = Some(false)),
      msg(2, 1, lat = Some(47.15177), lon = Some(-1.61177), og = Some(true)))
    assert(r.count(_.kind == "landing") === 0)
  }

  test("events outside any airport produce no rows") {
    val r = run(
      msg(2, 0, lat = Some(48.0), lon = Some(-1.8), og = Some(false)),
      msg(2, 10, lat = Some(48.01), lon = Some(-1.81), og = Some(true)))
    assert(!r.exists(_.kind == "landing"))
  }

  test("MSG1 updates callsign; empty MSG1 callsign nulls it") {
    val r = run(
      msg(2, 0),
      msg(1, 1, cs = Some("AFR123")),
      msg(1, 2, cs = None))
    assert(r.find(_.kind == "flight").get.callsign.isEmpty)
  }

  test("out-of-band MSG3 on an OPEN session refreshes last_seen (CASE A)") {
    // flights.py:85-92: the altitude band gates only ADMISSION; for a
    // known hexident update() runs for ANY message, so a null-altitude
    // MSG3 keeps the session alive (models.py:179-181) even though it
    // appends no position. Without the refresh the t=400 message would
    // land 400 s after last_seen and spuriously split the flight.
    val r = run(msg(2, 0), msg(3, 200, alt = None), msg(2, 400))
    assert(r.count(_.kind == "flight") === 1)
    assert(r.find(_.kind == "flight").get.last_seen.contains(at(400)))
  }

  test("last_seen updates from any message type (6/7 included)") {
    val r = run(msg(2, 0), msg(6, 50), msg(7, 99))
    assert(r.find(_.kind == "flight").get.last_seen.contains(at(99)))
  }

  test("micros inverts toTs on both sides of the epoch") {
    import org.scalacheck.{Gen, Prop, Test}
    // floor, not truncation: 0.5 ms before the epoch is -500 µs
    assert(micros(new Timestamp(-500)) === -500000L)
    val us = Gen.oneOf(
      Gen.choose(-2000000L, 2000000L),                   // around 1970
      Gen.choose(-62167219200000000L, 253402300799999999L)) // years 0-9999
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(20000),
      Prop.forAll(us)(u => micros(toTs(u)) == u))
    assert(result.passed, result.status)
  }
}

