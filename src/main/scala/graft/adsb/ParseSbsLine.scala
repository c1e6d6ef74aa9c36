package graft.adsb

import java.text.ParseException
import java.time.{DateTimeException, ZoneId, ZonedDateTime}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, SpecificInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The SBS-1 line kernel behind [[Sbs.parse]]: a 0-or-1-row generator
  * that makes one pass over a line's UTF-8 bytes and emits its typed
  * message, or nothing when the line is malformed.
  *
  * Acceptance is the reference's anchored regex (`adsb_parser.py:176-195`)
  * checked field by field: 22 comma fields, `MSG` first, each other
  * field inside its character class (`\d`, `[0-9A-F]`, `[0-9/]`,
  * `[0-9:.]`, `[\w\s]`, `[\d\-]`, `[\d\-.]`, ASCII only), the fields up
  * to `log_time` non-empty, and — like Java's `$` — one final line
  * terminator (`\n`, `\r\n`, `\r`, U+0085, U+2028, U+2029) allowed after
  * the last field. The fields themselves are the raw text between the
  * commas (a terminator stays part of `onground`), and the columns are
  * built from their offsets:
  *  - an empty field is NULL;
  *  - ints use `UTF8String.toInt`, the parse of a TRY cast (NULL on
  *    overflow or a stray `-`);
  *  - doubles use `java.lang.Double.parseDouble`, the TRY cast's rule
  *    (the field's class admits no `inf`/`nan` text), NULL when it
  *    throws;
  *  - the callsign is trimmed of spaces only (Spark's `trim`), and
  *    blank becomes NULL;
  *  - a boolean is `field == "-1"`, so empty is false, not NULL;
  *  - a date,time pair of the canonical shape `yyyy/MM/dd` +
  *    `HH:mm:ss[.f{1,3}]` is computed from its digits with
  *    `ZonedDateTime.of` in the session time zone, whose range checks
  *    make the calendar strict; any other text, or digits it rejects,
  *    go to Spark's `TimestampFormatter` with the patterns
  *    `yyyy/MM/dd HH:mm:ss.SSS` and then `yyyy/MM/dd HH:mm:ss`, which
  *    is `try_to_timestamp`. A line whose generation time is NULL is
  *    dropped.
  *
  * `eval` is the only implementation (`CodegenFallback`), so
  * `GenerateExec` always runs it on its interpreted path, whether the
  * input is a local relation or a file scan. As a `Generate` node the
  * kernel runs once per line: a struct-valued expression under a
  * Filter and a Project would be copied into both by predicate
  * pushdown. The emitted row is reused and points into the
  * input line, so it is valid until the next call, which is how
  * `GenerateExec` consumes it.
  */
case class ParseSbsLine(child: Expression, timeZoneId: String)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = ParseSbsLine.schema
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a string line, got ${t.simpleString}")
  }
  override def prettyName: String = "parse_sbs_line"

  @transient private lazy val scanner =
    new SbsLineScanner(DateTimeUtils.getZoneId(timeZoneId))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val line = child.eval(input).asInstanceOf[UTF8String]
    if (line != null && scanner.scan(line)) scanner.one else Nil
  }

  override protected def withNewChildInternal(c: Expression): ParseSbsLine =
    copy(child = c)
}

object ParseSbsLine {

  /** `Sbs.parse`'s columns after `seq`, in order. Only the booleans
    * are non-nullable. */
  val schema: StructType = StructType(Seq(
    "transmission_type" -> IntegerType, "session" -> IntegerType,
    "aircraft" -> IntegerType, "hexident" -> StringType,
    "flight" -> IntegerType, "gen_date_time" -> TimestampType,
    "log_date_time" -> TimestampType, "callsign" -> StringType,
    "altitude" -> IntegerType, "speed" -> IntegerType,
    "track" -> IntegerType, "latitude" -> DoubleType,
    "longitude" -> DoubleType, "verticalrate" -> IntegerType,
    "squawk" -> IntegerType, "alert" -> BooleanType,
    "emergency" -> BooleanType, "spi" -> BooleanType,
    "onground" -> BooleanType
  ).map { case (n, t) => StructField(n, t, nullable = t != BooleanType) })
}

/** Per-task state of [[ParseSbsLine]]: field offsets, the reused output
  * row and the time-zone rules. Not thread-safe. */
private[adsb] final class SbsLineScanner(zone: ZoneId) {
  import SbsLineScanner._

  private val row = new SpecificInternalRow(ParseSbsLine.schema.map(_.dataType))
  val one: List[InternalRow] = List(row)

  // field f is bytes [starts(f), ends(f)) of the line; ends(21) includes
  // a final line terminator, so `-1\r` is not `-1`
  private val starts = new Array[Int](Fields)
  private val ends = new Array[Int](Fields)
  private val intOut = new UTF8String.IntWrapper
  private var base: AnyRef = _
  private var off = 0L
  private var micros = 0L
  private lazy val formatters = Seq("yyyy/MM/dd HH:mm:ss.SSS", "yyyy/MM/dd HH:mm:ss")
    .map(p => TimestampFormatter(p, zone, LegacyDateFormats.SIMPLE_DATE_FORMAT,
      isParsing = true, forTimestampNTZ = false))

  private def byte(i: Int): Int = Platform.getByte(base, off + i)
  private def str(f: Int): UTF8String =
    UTF8String.fromAddress(base, off + starts(f), ends(f) - starts(f))

  /** Fill the output row from `line`; false when the line is rejected. */
  def scan(line: UTF8String): Boolean = {
    base = line.getBaseObject
    off = line.getBaseOffset
    val n = line.numBytes
    val end = n - terminatorLength(n)
    if (end < 4 || byte(0) != 'M' || byte(1) != 'S' || byte(2) != 'G' ||
        byte(3) != ',') return false
    var f = 1
    starts(1) = 4
    var mask = FieldClass(1)
    var i = 4
    while (i < end) {
      val c = byte(i)
      if (c == ',') {
        if (f == Fields - 1) return false
        ends(f) = i
        f += 1
        starts(f) = i + 1
        mask = FieldClass(f)
      } else if (c < 0 || (CharClass(c) & mask) == 0) return false
      i += 1
    }
    if (f != Fields - 1) return false
    ends(f) = n
    if (ends(1) - starts(1) != 1) return false
    f = 2
    while (f <= LogTime) {
      if (ends(f) == starts(f)) return false
      f += 1
    }
    if (!timestamp(GenDate)) return false

    row.setInt(0, byte(starts(1)) - '0')
    int(1, 2)
    int(2, 3)
    row.update(3, str(4))
    int(4, 5)
    row.setLong(5, micros)
    if (timestamp(LogDate)) row.setLong(6, micros) else row.setNullAt(6)
    val callsign = str(10).trim()
    if (callsign.numBytes == 0) row.setNullAt(7) else row.update(7, callsign)
    int(8, 11)
    int(9, 12)
    int(10, 13)
    double(11, 14)
    double(12, 15)
    int(13, 16)
    int(14, 17)
    f = 18
    while (f < Fields) {
      row.setBoolean(f - 3, ends(f) - starts(f) == 2 &&
        byte(starts(f)) == '-' && byte(starts(f) + 1) == '1')
      f += 1
    }
    true
  }

  /** Bytes of one final line terminator at the end of `n` bytes. */
  private def terminatorLength(n: Int): Int =
    if (n >= 2 && byte(n - 2) == '\r' && byte(n - 1) == '\n') 2
    else if (n >= 1 && (byte(n - 1) == '\n' || byte(n - 1) == '\r')) 1
    else if (n >= 2 && byte(n - 2) == 0xc2.toByte && byte(n - 1) == 0x85.toByte) 2
    else if (n >= 3 && byte(n - 3) == 0xe2.toByte && byte(n - 2) == 0x80.toByte &&
        (byte(n - 1) == 0xa8.toByte || byte(n - 1) == 0xa9.toByte)) 3
    else 0

  private def int(ordinal: Int, f: Int): Unit =
    if (ends(f) > starts(f) && str(f).toInt(intOut)) row.setInt(ordinal, intOut.value)
    else row.setNullAt(ordinal)

  private def double(ordinal: Int, f: Int): Unit =
    if (ends(f) > starts(f)) {
      try row.setDouble(ordinal, java.lang.Double.parseDouble(str(f).toString))
      catch { case _: NumberFormatException => row.setNullAt(ordinal) }
    } else row.setNullAt(ordinal)

  /** Two digits at `i` as a number, -1 if either is not a digit. */
  private def digits2(i: Int): Int = {
    val a = byte(i) - '0'
    val b = byte(i + 1) - '0'
    if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
  }

  /** Fill `micros` from the date field `f` and the time field `f + 1`;
    * false for NULL. */
  private def timestamp(f: Int): Boolean = {
    val d = starts(f)
    val t = starts(f + 1)
    val tLen = ends(f + 1) - t
    if (ends(f) - d == 10 && byte(d + 4) == '/' && byte(d + 7) == '/' &&
        tLen >= 8 && tLen != 9 && tLen <= 12 && byte(t + 2) == ':' &&
        byte(t + 5) == ':' && (tLen == 8 || byte(t + 8) == '.')) {
      val hi = digits2(d)
      val lo = digits2(d + 2)
      val month = digits2(d + 5)
      val day = digits2(d + 8)
      val hour = digits2(t)
      val minute = digits2(t + 3)
      val second = digits2(t + 6)
      var fraction = 0
      var i = t + 9
      while (i < t + tLen && fraction >= 0) {
        val c = byte(i) - '0'
        fraction = if (c < 0 || c > 9) -1 else fraction * 10 + c
        i += 1
      }
      if (hi >= 0 && lo >= 0 && fraction >= 0) {
        // a -1 from `digits2` is out of every range `of` checks
        try {
          micros = ZonedDateTime.of(hi * 100 + lo, month, day, hour, minute,
            second, 0, zone).toEpochSecond * 1000000L +
            (if (tLen == 8) 0 else fraction * FracScale(tLen - 10))
          return true
        } catch { case _: DateTimeException => }
      }
    }
    val text = str(f).toString + " " + str(f + 1).toString
    formatters.exists { fmt =>
      try { micros = fmt.parse(text); true }
      catch { case _: DateTimeException | _: ParseException => false }
    }
  }
}

private object SbsLineScanner {
  val Fields = 22
  val GenDate = 6
  val LogDate = 8
  val LogTime = 9

  private val Digit = 1
  private val Hex = 2
  private val Date = 4
  private val Time = 8
  private val Word = 16
  private val Signed = 32
  private val Decimal = 64

  /** Character classes per ASCII byte, as bit flags. */
  val CharClass: Array[Int] = Array.tabulate(128) { i =>
    val c = i.toChar
    val digit = c >= '0' && c <= '9'
    (if (digit) Digit | Hex | Date | Time | Word | Signed | Decimal else 0) |
      (if (c >= 'A' && c <= 'F') Hex else 0) |
      (if (c == '/') Date else 0) |
      (if (c == ':' || c == '.') Time else 0) |
      (if (c.isLetter || c == '_' || " \t\n\u000b\f\r".contains(c)) Word else 0) |
      (if (c == '-') Signed | Decimal else 0) |
      (if (c == '.') Decimal else 0)
  }

  /** The class each field's bytes must belong to (field 0 is `MSG`). */
  val FieldClass: Array[Int] = Array(0, Digit, Digit, Digit, Hex, Digit,
    Date, Time, Date, Time, Word, Signed, Digit, Signed, Decimal, Decimal,
    Signed, Digit, Signed, Signed, Signed, Signed)

  /** Micros per unit of a 1-, 2- or 3-digit fraction. */
  val FracScale: Array[Int] = Array(100000, 10000, 1000)
}
