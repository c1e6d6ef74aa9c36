package graft.adsb

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.internal.SQLConf

/** SBS-1 / BaseStation CSV message parsing.
  *
  * Mirrors the reference's regex + cast pipeline
  * (dump1090-postgis `src/dump1090_postgis/adsb_parser.py:176-291`):
  * 22-comma-field length check, anchored full-line regex (non-match ⇒
  * message dropped), per-field casts where an empty string becomes
  * NULL, `-1` becomes boolean true, and the two date,time field pairs
  * parse as timestamps in the session time zone.
  *
  * All of it is one Catalyst generator, [[ParseSbsLine]], that scans
  * each line's bytes once: total (a malformed line yields no row, a
  * bad field NULL), safe under ANSI mode and parallel over input
  * partitions; no driver-side loop.
  */
object Sbs {

  /** Parse a DataFrame with a `value` string column of raw message
    * lines into typed messages. Unparseable lines are dropped (P1/P2),
    * and so is a line whose generation date,time is no valid
    * timestamp (an invalid calendar date such as 2019/02/30, or a
    * fraction of 4 or more digits): a NULL `gen_date_time` would NPE
    * the state machine. A 1-3 digit fraction parses as a fraction of a
    * second: `…:10.45` is 450 ms. Empty fields become NULL (P3). A
    * `seq` column preserves arrival order for the sessionizer. */
  def parse(lines: DataFrame): DataFrame = {
    val withSeq =
      if (lines.columns.contains("seq")) lines.select(col("value"), col("seq"))
      else if (lines.isStreaming)
        // monotonically_increasing_id is unsupported on streams; the
        // seq only tie-breaks identical timestamps, so a content hash
        // gives a deterministic (if arbitrary) total order.
        lines.select(col("value"), xxhash64(col("value")).as("seq"))
      else lines.select(col("value"), monotonically_increasing_id().as("seq"))
    val timeZone = lines.sparkSession.conf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key)
    withSeq.select(col("seq"),
      Bridge.column(ParseSbsLine(Bridge.expression(col("value")), timeZone)))
  }

  /** Read one of the bundled fixture corpora (reference `src/tests`
    * txt files, pure data) as a lines DataFrame. */
  def fixtureLines(spark: SparkSession, name: String): DataFrame = {
    val in = getClass.getResourceAsStream(s"/adsb/$name")
    require(in != null, s"missing fixture $name")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val lines = try src.getLines().toSeq finally src.close()
    import spark.implicits._
    // seq = file line number: keeps arrival order total after the
    // repartition scrambles physical row order.
    lines.zipWithIndex.map { case (l, i) => (l, i.toLong) }
      .toDF("value", "seq")
      .repartition(spark.sparkContext.defaultParallelism min 8)
  }

  /** Typed view used by the sessionizer. */
  def messages(lines: DataFrame): Dataset[AdsbMsg] = {
    val spark = lines.sparkSession
    import spark.implicits._
    parse(lines).select(
      col("seq"), col("transmission_type"), col("hexident"),
      col("gen_date_time"),
      col("callsign"), col("altitude"), col("speed"), col("track"),
      col("latitude"), col("longitude"), col("verticalrate"),
      col("onground")).as[AdsbMsg]
  }
}

/** One parsed SBS-1 message (fields used by the flight state machine). */
final case class AdsbMsg(
    seq: Long,
    transmission_type: Int,
    hexident: String,
    gen_date_time: java.sql.Timestamp,
    callsign: Option[String],
    altitude: Option[Int],
    speed: Option[Int],
    track: Option[Int],
    latitude: Option[Double],
    longitude: Option[Double],
    verticalrate: Option[Int],
    onground: Option[Boolean])
