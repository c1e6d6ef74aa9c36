package graft.adsb

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SBS-1 / BaseStation CSV message parsing as a declarative plan.
  *
  * Mirrors the reference's regex + cast pipeline
  * (dump1090-postgis `src/dump1090_postgis/adsb_parser.py:176-291`):
  * 22-comma-field length check, anchored full-line regex (non-match ⇒
  * message dropped), per-field casts where an empty string becomes
  * NULL, `-1` becomes boolean true, and the two date,time field pairs
  * parse as UTC timestamps.
  *
  * Everything is built-in expressions (`from_csv`, `try_cast`,
  * `try_to_timestamp`) — total functions, safe under ANSI mode, fully
  * codegen'd and parallel over input partitions; no driver-side loop.
  */
object Sbs {

  /** The reference's anchored message regex, `adsb_parser.py:176-195`
    * (Java and Python regex agree on every construct used). */
  val MessageRegex: String =
    "^MSG," +
      "(\\d)," +
      "(\\d+)," +
      "(\\d+)," +
      "([0-9A-F]+)," +
      "(\\d+)," +
      "([0-9/]+,[0-9:\\.]+)," +
      "([0-9/]+,[0-9:\\.]+)," +
      "([\\w\\s]*)," +
      "([\\d\\-]*)," +
      "(\\d*)," +
      "([\\d\\-]*)," +
      "([\\d\\-\\.]*)," +
      "([\\d\\-\\.]*)," +
      "([\\d\\-]*)," +
      "(\\d*)," +
      "([\\d\\-]*)," +
      "([\\d\\-]*)," +
      "([\\d\\-]*)," +
      "([\\d\\-]*)$"

  /** Raw 22-column split schema (the date,time pairs are two CSV fields
    * each — FIXTURES.md §1). */
  private val rawSchema = StructType(
    Seq("msg", "transmission_type", "session", "aircraft", "hexident",
      "flight", "gen_date", "gen_time", "log_date", "log_time", "callsign",
      "altitude", "speed", "track", "latitude", "longitude", "verticalrate",
      "squawk", "alert", "emergency", "spi", "onground")
      .map(StructField(_, StringType, nullable = true)))

  private def ts(dateCol: Column, timeCol: Column): Column =
    coalesce(
      try_to_timestamp(concat_ws(" ", dateCol, timeCol),
        lit("yyyy/MM/dd HH:mm:ss.SSS")),
      try_to_timestamp(concat_ws(" ", dateCol, timeCol),
        lit("yyyy/MM/dd HH:mm:ss")))

  // '-1' ⇒ true, anything else (incl. empty/missing) ⇒ false — the
  // reference's boolean lambda never raises, so '' is false, not NULL.
  private def asBool(c: Column): Column = coalesce(c === "-1", lit(false))

  /** Parse a DataFrame with a `value` string column of raw message
    * lines into typed messages. Unparseable lines are dropped (P1/P2);
    * empty fields become NULL (P3). A `seq` column preserves arrival
    * order for the sessionizer. */
  def parse(lines: DataFrame): DataFrame = {
    val f = from_csv(col("value"), rawSchema, Map.empty[String, String])
    val withSeq =
      if (lines.columns.contains("seq")) lines.select(col("value"), col("seq"))
      else if (lines.isStreaming)
        // monotonically_increasing_id is unsupported on streams; the
        // seq only tie-breaks identical timestamps, so a content hash
        // gives a deterministic (if arbitrary) total order.
        lines.select(col("value"), xxhash64(col("value")).as("seq"))
      else lines.select(col("value"), monotonically_increasing_id().as("seq"))
    withSeq
      // P1: 22 comma-separated fields; P2: strict anchored regex.
      .where(size(split(col("value"), ",", -1)) === 22 &&
        col("value").rlike(MessageRegex))
      .withColumn("m", f)
      // P1/P2 analog for the timestamp: a line whose date/time fields
      // match the regex but parse to no valid timestamp (an invalid
      // calendar date such as 2019/02/30, or a fraction of 4 or more
      // digits) is DROPPED, not admitted with a NULL gen_date_time
      // that would NPE the state machine. A 1-3 digit fraction parses
      // as a fraction of a second: `…:10.45` is 450 ms.
      .where(ts(col("m.gen_date"), col("m.gen_time")).isNotNull)
      .select(
        col("seq"),
        expr("try_cast(m.transmission_type as int)").as("transmission_type"),
        expr("try_cast(m.session as int)").as("session"),
        expr("try_cast(m.aircraft as int)").as("aircraft"),
        col("m.hexident").as("hexident"),
        expr("try_cast(m.flight as int)").as("flight"),
        ts(col("m.gen_date"), col("m.gen_time")).as("gen_date_time"),
        ts(col("m.log_date"), col("m.log_time")).as("log_date_time"),
        when(trim(col("m.callsign")) === "", lit(null: String))
          .otherwise(trim(col("m.callsign"))).as("callsign"),
        expr("try_cast(m.altitude as int)").as("altitude"),
        expr("try_cast(m.speed as int)").as("speed"),
        expr("try_cast(m.track as int)").as("track"),
        expr("try_cast(m.latitude as double)").as("latitude"),
        expr("try_cast(m.longitude as double)").as("longitude"),
        expr("try_cast(m.verticalrate as int)").as("verticalrate"),
        expr("try_cast(m.squawk as int)").as("squawk"),
        asBool(col("m.alert")).as("alert"),
        asBool(col("m.emergency")).as("emergency"),
        asBool(col("m.spi")).as("spi"),
        asBool(col("m.onground")).as("onground"))
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
