package graft.adsb

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Parser behavior pinned against the reference's fixture corpora
  * (`src/tests/adsb_messages_ok.txt` / `_faulty.txt`) and cast rules
  * (`adsb_parser.py:176-291`). */
class SbsParserSpec extends SparkSpec {

  private lazy val ok =
    Sbs.parse(Sbs.fixtureLines(spark, "adsb_messages_ok.txt"))
      .orderBy("seq").collect()

  test("ok corpus: 18-field MSG6 lines fail the 22-length check") {
    // 5 lines, 2 are short MSG6 → 3 parse
    assert(ok.length === 3)
    assert(ok.map(_.getInt(1)).toSeq === Seq(3, 1, 2))
  }

  test("MSG3 fields cast correctly, empty → null") {
    val m = ok(0)
    assert(m.getString(4) === "40757F")
    assert(m.getTimestamp(6) ===
      java.sql.Timestamp.valueOf("2019-10-20 11:33:40.311"))
    assert(m.isNullAt(8))                         // callsign empty → null
    assert(m.getInt(9) === 5000)                  // altitude
    assert(m.isNullAt(10))                        // speed empty → null
    assert(m.getDouble(12) === 46.65470)          // latitude
    assert(m.getDouble(13) === -2.77776)          // longitude
    assert(m.getBoolean(19) === false)            // onground '0' → false
  }

  test("MSG1 carries callsign; MSG2 onground -1 → true") {
    assert(ok(1).getString(8) === "TEST123")
    assert(ok(2).getBoolean(19) === true)
  }

  test("faulty corpus: negative altitudes accepted, short lines dropped") {
    val f = Sbs.parse(Sbs.fixtureLines(spark, "adsb_messages_faulty.txt"))
      .orderBy("seq").collect()
    // All 3 lines have 22 fields? Only those that do survive; negative
    // altitudes parse (T12: the reference accepts them).
    assert(f.forall(r => !r.isNullAt(9)))
    assert(f.map(_.getInt(9)).toSet.subsetOf(Set(-25, -1000)))
  }

  test("full stream corpus parses every line (2070, no trailing newline)") {
    val n = Sbs.parse(Sbs.fixtureLines(spark, "adsb_message_stream.txt")).count()
    assert(n === 2070)
  }

  test("timestamps: short fractions parse, bad dates and long fractions drop") {
    import spark.implicits._
    def line(date: String, time: String) =
      s"MSG,3,1,1,40757F,1,$date,$time,2019/10/20,11:33:40.311," +
        ",5000,,,46.65470,-2.77776,,,0,,0,0"
    val parsed = Sbs.parse(Seq(
      line("2019/10/20", "11:33:10.45"),   // 2 digits: 450 ms
      line("2019/10/20", "11:33:10.4"),    // 1 digit: 400 ms
      line("2019/02/30", "11:33:10.450"),  // invalid calendar date
      line("2019/10/20", "11:33:10.4500")  // 4-digit fraction
    ).toDF("value")).orderBy("seq").collect()
    assert(parsed.map(_.getTimestamp(6)).toSeq === Seq(
      java.sql.Timestamp.valueOf("2019-10-20 11:33:10.45"),
      java.sql.Timestamp.valueOf("2019-10-20 11:33:10.4")))
  }

  // ---- the kernel against the plan it replaced ----------------------

  private def fixture(name: String): Seq[String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream(s"/adsb/$name"), "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private lazy val corpora = Seq("adsb_messages_ok.txt",
    "adsb_messages_faulty.txt", "adsb_message_stream.txt",
    "adsb_golden_landings.txt").flatMap(fixture)

  private lazy val inputs: Seq[String] =
    corpora ++ SbsMutations.lines(corpora, n = 24000, seed = 20191020L)

  private def printable(s: String): String = s.flatMap { c =>
    if (c >= ' ' && c <= '~') c.toString else f"\\u${c.toInt}%04x"
  }

  /** Each output row as text keyed by `seq`: timestamps as epoch
    * micros, doubles by `Double.toString` (so -0.0 ≠ 0.0). */
  private def rows(df: DataFrame): Map[Long, String] =
    df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType == TimestampType) unix_micros(col(f.name)).as(f.name)
      else col(f.name)
    }: _*).collect().map(r => r.getLong(0) -> r.toString).toMap

  private def assertSame(reference: DataFrame, kernel: DataFrame,
      lineOf: Long => String): Int = {
    assert(kernel.schema === reference.schema)
    val want = rows(reference)
    val got = rows(kernel)
    val diffs = (want.keySet ++ got.keySet).toSeq.sorted
      .filter(k => want.get(k) != got.get(k))
    assert(diffs.isEmpty, diffs.take(10).map { k =>
      s"\n  line ${printable(lineOf(k))}\n    reference ${want.get(k)}" +
        s"\n    kernel    ${got.get(k)}"
    }.mkString(s"${diffs.size} rows differ:", "", ""))
    want.size
  }

  private def withTimeZone[T](tz: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, before)
  }

  for (tz <- Seq("UTC", "Europe/Paris")) {
    test(s"kernel ≡ split/rlike/from_csv plan, local-relation input, $tz") {
      import spark.implicits._
      withTimeZone(tz) {
        val lines = inputs.zipWithIndex.map { case (l, i) => (l, i.toLong) }
          .toDF("value", "seq")
        val kept = assertSame(SbsReference.parse(lines), Sbs.parse(lines),
          k => inputs(k.toInt))
        // the mutations must leave both outcomes common
        assert(kept > inputs.size / 5 && kept < inputs.size * 4 / 5, kept)
      }
    }

    test(s"kernel ≡ split/rlike/from_csv plan, text-file input, $tz") {
      val dir = Files.createTempDirectory("sbs-diff")
      Files.write(dir.resolve("lines.txt"), inputs.mkString("\n").getBytes(UTF_8))
      withTimeZone(tz) {
        val lines = spark.read.text(dir.toString)
        val byId = lines.select(monotonically_increasing_id(), col("value"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assertSame(SbsReference.parse(lines), Sbs.parse(lines), byId)
      }
    }
  }

  test("plan guard: the kernel runs once per line; no from_csv, rlike or gettimestamp") {
    val dir = Files.createTempDirectory("sbs-plan")
    Files.write(dir.resolve("lines.txt"),
      fixture("adsb_message_stream.txt").mkString("\n").getBytes(UTF_8))
    // per expression name: how many operators of the executed plan
    // evaluate it, and how often it occurs in all of them
    def census(df: DataFrame): Map[String, (Int, Int)] = {
      def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect {
        case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
        case n => Seq(n)
      }.flatten
      nodes(df.queryExecution.executedPlan)
        .flatMap(_.expressions.flatMap(_.collect { case e => e.prettyName })
          .groupBy(identity).map { case (k, v) => k -> v.size })
        .groupBy(_._1).map { case (k, v) => k -> (v.size, v.map(_._2).sum) }
        .withDefaultValue((0, 0))
    }
    val kernel = census(Sbs.messages(spark.read.text(dir.toString)).toDF())
    assert(kernel("parse_sbs_line") === ((1, 1)))
    for (gone <- Seq("from_csv", "rlike", "gettimestamp", "split"))
      assert(kernel(gone) === ((0, 0)), gone)
    // the census sees the duplicate the kernel removed: predicate
    // pushdown copies from_csv into the Filter below the Project
    val reference = census(SbsReference.parse(spark.read.text(dir.toString)))
    assert(reference("from_csv")._1 === 2)
  }
}

/** The parse plan `Sbs.parse` ran before the byte-scanning kernel
  * replaced it, kept verbatim as the reference the kernel must equal. */
private object SbsReference {

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

  private def asBool(c: Column): Column = coalesce(c === "-1", lit(false))

  def parse(lines: DataFrame): DataFrame = {
    val f = from_csv(col("value"), rawSchema, Map.empty[String, String])
    val withSeq =
      if (lines.columns.contains("seq")) lines.select(col("value"), col("seq"))
      else if (lines.isStreaming)
        lines.select(col("value"), xxhash64(col("value")).as("seq"))
      else lines.select(col("value"), monotonically_increasing_id().as("seq"))
    withSeq
      .where(size(split(col("value"), ",", -1)) === 22 &&
        col("value").rlike(MessageRegex))
      .withColumn("m", f)
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
}

/** Seeded mutations of SBS lines aimed at the edges of each field's
  * acceptance and conversion rules. */
private object SbsMutations {
  private val Boundary = Seq("G", "F", "A", "a", "f", "Z", "z", "_", "\t",
    " ", "\u000b", "\f", ".", "-", "/", ":", "@", "[", "`", "{", "0", "9",
    "+", "e", "E", "\"", ",")
  private val NonAscii = Seq("\u00e9", "\u0663", "\u00a0", "\uff21",
    "\u00b2", "\u0085", "\u2028", "\ud83d\ude80")
  private val Terminators = Seq("\r", "\n", "\r\n", "\u0085", "\u2028",
    "\u2029", "\n\n", "\r\r", "\n\r", " ", "\u000b", "\u2028\n")
  private val Ints = Seq("2147483647", "2147483648", "-2147483648",
    "-2147483649", "99999999999", "0", "00042", "-0", "-", "--1", "1-2", "")
  private val Doubles = Seq("1.2.3", "-", ".", "-.", "-.5", "5.", "-0",
    "-0.0", "0.30000000000000004", "123456789012345678",
    "1234567890.12345", "12345678901234.5678", "00000000000000000001.5",
    "46.65470", "-2.77776", "9007199254740993", "1e5", "")
  private val Dates = Seq("2019/02/30", "2019/02/29", "2020/02/29",
    "2100/02/29", "2000/02/29", "0000/01/01", "0000/02/29", "10000/01/01",
    "9999/12/31", "1969/12/31", "1900/01/01", "2019/13/01", "2019/00/10",
    "2019/10/00", "2019/1/20", "19/10/20", "2019/10/20/", "2019//10/20",
    "2019/03/31", "2019/10/27", "2019/10/20")
  private val Times = Seq("11:33:40", "11:33:40.", "24:00:00", "23:59:60",
    "23:59:59.999", "00:00:00", "1:33:40", "11:3:40", "11:33:4",
    "11::33:40", "11:33:40:00", "11.33.40", "02:30:00", "02:30:00.5",
    "02:59:59.999", "03:00:00")
  private val Bools = Seq("-1", "1", "0", "-1-", "--1", "-", "-10", "")
  private val Callsigns = Seq("", " ", "   ", "AB C", " AB ", "\tAB\t",
    "A_B", "AB\u000bC", "ab12", "\u00c4B", "AB-1", "AB.1", "\fAB")

  def lines(base: Seq[String], n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val full = base.filter(_.split(",", -1).length == 22).toIndexedSeq
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))
    def fraction: String = {
      val d = rnd.nextInt(5)
      if (d == 0) "" else "." + Seq.fill(d)(rnd.nextInt(10)).mkString
    }
    def mutate(line: String): String = {
      val f = line.split(",", -1)
      def set(i: Int, v: String): String = { f(i) = v; f.mkString(",") }
      def insert(s: String, c: String): String = {
        val at = rnd.nextInt(s.length + 1)
        s.take(at) + c + s.drop(at)
      }
      // a line already cut to 21 or 23 fields only takes line edits
      (if (f.length == 22) rnd.nextInt(11) else 2 + rnd.nextInt(2)) match {
        case 0 => set(1 + rnd.nextInt(21), "")
        case 1 =>
          val i = 1 + rnd.nextInt(21)
          set(i, if (rnd.nextBoolean()) insert(f(i), pick(Boundary)) else pick(Boundary))
        case 2 => insert(line, pick(NonAscii))
        case 3 => line + pick(Terminators)
        case 4 =>
          val i = 1 + rnd.nextInt(21)
          val g = f.toBuffer
          if (rnd.nextBoolean()) g.remove(i) else g.insert(i, f(i))
          g.mkString(",")
        case 5 => set(pick(Seq(2, 3, 5, 11, 12, 13, 16, 17)), pick(Ints))
        case 6 => set(14 + rnd.nextInt(2), pick(Doubles))
        case 7 =>
          val i = pick(Seq(7, 9))
          set(i, f(i).takeWhile(_ != '.') + fraction)
        case 8 =>
          val i = pick(Seq(6, 8))
          f(i) = pick(Dates)
          set(i + 1, pick(Times) + (if (rnd.nextBoolean()) fraction else ""))
        case 9 => set(18 + rnd.nextInt(4), pick(Bools))
        case _ => set(10, pick(Callsigns))
      }
    }
    Seq.fill(n) {
      val once = mutate(pick(full))
      if (rnd.nextInt(10) < 3) mutate(once) else once
    }
  }
}
