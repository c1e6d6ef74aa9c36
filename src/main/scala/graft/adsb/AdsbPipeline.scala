package graft.adsb

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.adsb.FlightStateMachine.Out

/** Batch replay of the reference's streaming ingest (SURVEY.md §3.1):
  * parse → filter/admission → per-hexident event-time sessionization →
  * positions + flights + runway-attributed landing/takeoff events.
  *
  * Spark shape: one hash repartition on hexident, then a
  * `sortWithinPartitions` (Tungsten external sort — spillable, never
  * materializes a key group in memory) and a streaming `mapPartitions`
  * fold over consecutive same-key runs through [[FlightStateMachine]]
  * — the same transition function the streaming operator uses, so
  * batch and streaming agree by construction. Unlike a
  * `groupByKey(...).flatMapGroups` + in-memory sort, one aircraft's
  * entire history (months of it at 100 TB) never has to fit in an
  * array on EITHER side: input streams from the spillable sort, and
  * the fold yields each emitted row as it is produced (a ≤3-row
  * pending queue), so per-run memory is the state machine's O(1)
  * state — full stop.
  */
object AdsbPipeline {

  private[graft] def orderKey(m: AdsbMsg): (Long, Long) =
    (FlightStateMachine.micros(m.gen_date_time), m.seq)

  /** Fold `f` over consecutive runs of equal `key` in `it` (which must
    * be key-clustered, e.g. sorted). `f` may be LAZY — outputs stream:
    * pulling from the result pulls from `f`'s iterator, which pulls
    * messages from the run on demand, so one run's rows never
    * materialize here. Only once `f`'s output is exhausted is the
    * run's unread tail drained and the next run started. */
  private[graft] def foldRuns[A, B, K](it: Iterator[A], key: A => K)(
      f: Iterator[A] => Iterator[B]): Iterator[B] = {
    val buf = it.buffered
    new Iterator[B] {
      private var cur: Iterator[B] = Iterator.empty
      private var run: Iterator[A] = Iterator.empty
      def hasNext: Boolean = {
        while (!cur.hasNext && { while (run.hasNext) run.next(); buf.hasNext }) {
          val k = key(buf.head)
          run = new Iterator[A] {
            def hasNext: Boolean = buf.hasNext && key(buf.head) == k
            def next(): A = buf.next()
          }
          cur = f(run)
        }
        cur.hasNext
      }
      def next(): B = { hasNext; cur.next() }
    }
  }

  /** Full tagged output of the pipeline: each aircraft's messages fold
    * in event-time order, the deterministic replay semantics (the
    * reference folds in arrival order, `adsb_logger.py:40-66`, T12;
    * the two agree when the input is time-monotone, as real captures
    * are). */
  def process(msgs: Dataset[AdsbMsg]): Dataset[Out] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs
      .repartition(col("hexident"))
      .sortWithinPartitions(col("hexident"), col("gen_date_time"), col("seq"))
      .mapPartitions { it =>
        foldRuns(it, (m: AdsbMsg) => m.hexident)(
          FlightStateMachine.processSorted)
      }
  }

  /** `flights` table (`create_public_schema.sql:539-549` analog). */
  def flights(out: Dataset[Out]): DataFrame =
    out.where(col("kind") === "flight")
      .select(col("hexident"), col("session_start"),
        col("first_seen"), col("last_seen"), col("callsign"),
        col("n_positions"), lit("unknown").as("intention"))

  /** `positions` table (`create_public_schema.sql:606-617` analog);
    * the PointZ geometry is the (lon, lat, alt_m) triple.
    * `verticalrate`/`track` exist in the reference schema
    * (`models.py:52-60`) but `Flight.update` never assigns them, so
    * they are always NULL in practice — carried here for schema
    * parity. */
  def positions(out: Dataset[Out]): DataFrame =
    out.where(col("kind") === "position")
      .select(col("hexident"), col("session_start"), col("time"),
        col("lon"), col("lat"), col("alt_m"), col("onground"),
        lit(null).cast("int").as("verticalrate"),
        lit(null).cast("int").as("track"))

  /** `landings` ∪ `takeoffs` rows with attributed runway. */
  def events(out: Dataset[Out]): DataFrame =
    out.where(col("kind") === "landing" || col("kind") === "takeoff")
      .select(col("kind"), col("hexident"), col("session_start"),
        col("time"), col("runway"))

  /** End-to-end replay of a fixture corpus. */
  def replayFixture(spark: SparkSession, name: String): Dataset[Out] =
    process(Sbs.messages(Sbs.fixtureLines(spark, name)))

  /** Register the public-schema table surface as SQL temp views —
    * the reference's `SELECT * FROM flights` experience over a
    * processed output set. */
  def registerViews(out: Dataset[Out]): Unit = {
    flights(out).createOrReplaceTempView("flights")
    positions(out).createOrReplaceTempView("positions")
    events(out).where(col("kind") === "landing")
      .createOrReplaceTempView("landings")
    events(out).where(col("kind") === "takeoff")
      .createOrReplaceTempView("takeoffs")
  }
}
