package graft.adsb

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
}
