package graft.adsb

import java.sql.Timestamp

import scala.collection.mutable
import scala.collection.mutable.Growable

/** The per-aircraft flight state machine — the one genuinely bespoke
  * piece of the rebuild (SURVEY.md §7.3). Encodes, in event time:
  *
  *  - admission: a new session opens only on MSG type 2, or type 3
  *    passing the altitude filter (`flights.py:92-93`); other message
  *    types for unknown aircraft are dropped;
  *  - session expiry: a gap > `maxAgeSec` since `last_seen` closes the
  *    session (`flights.py:18,111-117` — the reference prunes on wall
  *    clock; replay here uses the event-time equivalent);
  *  - per-type field projection `MSG_FIELDS` (`models.py:161-190`);
  *    `last_seen` updates from ANY message type;
  *  - position append: MSG3 with lon∧lat∧alt (altitude feet→m), MSG2
  *    with lon∧lat at GND altitude 0 m (`models.py:194-214`);
  *  - onground edge detection (`models.py:218-228`) with the 2 s
  *    debounce where every candidate — suppressed or not — resets the
  *    clock (`models.py:256-270`). The reference initializes the
  *    debounce clock with wall-clock `now()` at flight creation
  *    (`models.py:121`); replay uses the session's first message time
  *    (event-time determinism, noted divergence);
  *  - runway attribution from the interpolated track of the last two
  *    positions (`models.py:134-140`, `airports.py:90-125`); events
  *    with no runway match are dropped (`flights.py:155-187`).
  *
  * Times are epoch micros internally (encoder-friendly state for the
  * streaming operator). Used by both the batch sessionizer (sort +
  * fold per hexident) and the Structured Streaming
  * `flatMapGroupsWithState` operator, so batch and streaming agree by
  * construction.
  */
object FlightStateMachine {

  val MaxAgeSec = 300L
  val DebounceSec = 2.0
  val AltitudeBelow = 100000
  val AltitudeAbove = -1000

  def micros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000

  def toTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Serializable per-session state (encoder-friendly for streaming). */
  final case class State(
      hexident: String,
      firstSeenUs: Long,
      var lastSeenUs: Long,
      var callsign: Option[String],
      var onground: Option[Boolean],
      var lastEventUs: Long,
      // last two positions for track interpolation: (lon, lat)
      var prevLon: Option[Double], var prevLat: Option[Double],
      var lastLon: Option[Double], var lastLat: Option[Double],
      var nPositions: Long)

  /** Tagged union output row. kind ∈ flight | position | landing | takeoff. */
  final case class Out(
      kind: String,
      hexident: String,
      session_start: Timestamp,
      time: Timestamp,
      first_seen: Option[Timestamp],
      last_seen: Option[Timestamp],
      callsign: Option[String],
      n_positions: Option[Long],
      lon: Option[Double],
      lat: Option[Double],
      alt_m: Option[Double],
      onground: Option[Boolean],
      runway: Option[String])

  /** P4: may `m` open a session? MSG2 always; MSG3 iff
    * `AltitudeAbove < altitude < AltitudeBelow`, a NULL altitude
    * rejected (`flights.py:85-92`, `adsb_parser.py:294-357`). The one
    * place the altitude band is applied. */
  def admissible(m: AdsbMsg): Boolean =
    m.transmission_type == 2 ||
      (m.transmission_type == 3 &&
        m.altitude.exists(a => a < AltitudeBelow && a > AltitudeAbove))

  def newState(m: AdsbMsg): State = {
    val us = micros(m.gen_date_time)
    State(m.hexident, us, us, None, None, us,
      None, None, None, None, 0L)
  }

  /** Close a session → flight summary row (`models.py:176-181`). */
  def flightRow(st: State): Out =
    Out("flight", st.hexident, toTs(st.firstSeenUs), toTs(st.lastSeenUs),
      Some(toTs(st.firstSeenUs)), Some(toTs(st.lastSeenUs)), st.callsign,
      Some(st.nPositions), None, None, None, None, None)

  /** Apply one admitted message; appends emitted positions/events. */
  def update(st: State, m: AdsbMsg, outs: Growable[Out]): Unit = {
    val mUs = micros(m.gen_date_time)
    st.lastSeenUs = mUs
    // MSG1 sets callsign unconditionally (an empty one nulls it out,
    // matching setattr of None in models.py:186-188).
    if (m.transmission_type == 1) st.callsign = m.callsign

    val coords: Option[(Double, Double, Double, Option[Boolean])] =
      m.transmission_type match {
        case 3 if m.longitude.isDefined && m.latitude.isDefined &&
          m.altitude.isDefined =>
          Some((m.longitude.get, m.latitude.get,
            Geometry.feet2m(m.altitude.get.toDouble), m.onground))
        case 2 if m.longitude.isDefined && m.latitude.isDefined =>
          Some((m.longitude.get, m.latitude.get, Geometry.GndAltitudeM,
            m.onground))
        case _ => None
      }

    coords.foreach { case (lon, lat, altM, og) =>
      st.prevLon = st.lastLon; st.prevLat = st.lastLat
      st.lastLon = Some(lon); st.lastLat = Some(lat)
      st.nPositions += 1
      outs += Out("position", st.hexident, toTs(st.firstSeenUs),
        m.gen_date_time, None, None, None, None, Some(lon), Some(lat),
        Some(altM), og, None)

      // update_onground (models.py:218-228): only position appends flip.
      // A message CARRYING NO onground info (og = None) is a no-op,
      // not a flip: `!v.contains(prev)` would treat None as a state
      // change, reset the debounce clock and emit a phantom event.
      // Unreachable via Sbs.parse (onground is never NULL) but this
      // is the shared public transition for any message source.
      (st.onground, og) match {
        case (None, v) => st.onground = v
        case (Some(prev), v) if v.exists(_ != prev) =>
          st.onground = v
          val kind = if (prev) "takeoff" else "landing"
          // debounce (models.py:256-270): every candidate resets clock
          val valid = mUs - st.lastEventUs > (DebounceSec * 1e6).toLong
          st.lastEventUs = mUs
          if (valid) {
            val heading = for {
              px <- st.prevLon; py <- st.prevLat
              lx <- st.lastLon; ly <- st.lastLat
            } yield Geometry.interpolateTrack(px, py, lx, ly)
            val runway = heading.flatMap(h => Airports.attribute(lon, lat, h))
            runway.foreach { rw =>
              outs += Out(kind, st.hexident, toTs(st.firstSeenUs),
                m.gen_date_time, None, None, None, None, Some(lon),
                Some(lat), Some(altM), og, Some(rw))
            }
          }
        case _ => ()
      }
    }
  }

  /** Apply ONE message to an optional carried state (null = no open
    * session): close on gap, admit, update. Appends 0–3 rows (an
    * expiry flight row, a position, an event) and returns the new
    * state. The single shared transition for batch and streaming. */
  def step(st: State, m: AdsbMsg, outs: Growable[Out]): State = {
    var s = st
    // P4 gates ADMISSION ONLY (`flights.py:85-92` CASE B): for a known
    // hexident (CASE A), the reference's manager calls update() for ANY
    // message — last_seen refreshes and MSG3 positions append with no
    // band check (`models.py:179-181,194-205`); nothing filters between
    // parser and manager (`adsb_logger.py:52-55`). An out-of-band MSG3
    // must therefore keep an OPEN session alive, not expire-split it.
    if (s != null &&
        micros(m.gen_date_time) - s.lastSeenUs > MaxAgeSec * 1000000L) {
      outs += flightRow(s)
      s = null
    }
    if (s == null) {
      if (admissible(m)) {
        s = newState(m)
        update(s, m, outs)
      } // else: dropped — unknown aircraft, inadmissible type
    } else {
      update(s, m, outs)
    }
    s
  }

  /** Fold messages (chronologically sorted) into an optional carried
    * state, emitting outputs and closing sessions on gaps. Used by the
    * streaming operator's per-batch step (a micro-batch's group is
    * bounded, so a buffered `outs` is fine there). */
  def fold(initial: Option[State], msgs: Iterator[AdsbMsg],
      outs: Growable[Out]): Option[State] = {
    var st: State = initial.orNull
    msgs.foreach { m => st = step(st, m, outs) }
    Option(st)
  }

  /** Batch path: INCREMENTAL fold — one message consumed per pull,
    * emitted rows yielded as produced. Neither the input nor the
    * output of one hexident's run ever materializes in memory: at
    * 100 TB an aircraft's months-long history (positions ≈ messages)
    * flows through a ≤3-row pending queue instead of an ArrayBuffer.
    * The final session closes when the input is exhausted. */
  def processSorted(
      msgs: Iterator[AdsbMsg]): Iterator[Out] = new Iterator[Out] {
    private val pending = mutable.Queue.empty[Out]
    private var st: State = null
    private var closed = false
    private def advance(): Unit = {
      while (pending.isEmpty && msgs.hasNext)
        st = step(st, msgs.next(), pending)
      if (pending.isEmpty && !closed && !msgs.hasNext) {
        closed = true
        if (st != null) { pending += flightRow(st); st = null }
      }
    }
    def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
    def next(): Out =
      if (hasNext) pending.dequeue()
      else throw new NoSuchElementException("processSorted: empty")
  }
}
