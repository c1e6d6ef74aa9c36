package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.functions.{lit, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** PCM sample-format canonicalization — `pcm_canonical(payload, fmt,
  * bits, channels)` maps a declared-format audio payload onto the
  * CANONICAL unsigned-8-bit MONO sample stream every audio analysis
  * in this engine runs on (the mm7 fingerprint, the mm11/mm13 energy
  * lattice).
  *
  * Round-13 (VERDICT r12 ask #1, then widened): until now the audio
  * family admitted only PCM format 1 at 8-bit mono — fail-closed and
  * correct, but nearly every real-world WAV/AVI is 16-bit PCM (and
  * telephony captures are G.711). This kernel is the decode step
  * that widens admission WITHOUT touching any downstream math:
  * consumers keep their exact-integer 8-bit contract, and existing
  * 8-bit-mono blobs canonicalize to themselves (identity — prior
  * hashes unchanged by construction).
  *
  * The documented rule (replayed bit-exactly by the DuckDB oracles):
  *  - sample values move to UNSIGNED space first — an 8-bit linear
  *    sample is its byte; a 16-bit linear sample is the signed
  *    little-endian value + 32768 (`le16 XOR 0x8000`); a G.711
  *    µ-law (format 7) or A-law (format 6) byte decodes to its
  *    16-bit linear value by the public ITU formulas (µ: complement,
  *    `((man·8 + 132) << exp) − 132`, sign bit negative; A:
  *    `XOR 0x55`, `man·16 + 8` at exp 0 else
  *    `(man·16 + 264) << (exp−1)`, sign bit POSITIVE — both pinned
  *    against the published table values in `PcmCanonSpec`), then
  *    + 32768; an IEEE float PCM (format 3, 32-bit) sample decodes
  *    to floor(clamp(x, −1, 1)·32767) + 32768 via the exact
  *    integer-from-raw-bits rule in [[Pcm.f32ToV16]] (round-14);
  *  - stereo collapses per sample frame to `(L + R) div 2` — floor
  *    division of non-negative operands, so Spark's and DuckDB's
  *    integer division agree by construction;
  *  - 16-bit-space values scale to 8-bit by keeping the top byte
  *    (`div 256`);
  *  - a trailing PARTIAL sample frame (payload length not a multiple
  *    of channels · bytes/sample) is dropped, matching the
  *    floor-division frame counts every consumer derives.
  *
  * Aliasing note (ADVICE r13): the linear-8-bit-mono identity path
  * returns the INPUT ARRAY ITSELF as the expression result — no
  * defensive copy, which is what guarantees prior 8-bit-mono hashes
  * (and the blobs' identity) are unchanged by construction. Safe
  * under Spark's binary-column semantics (row buffers are immutable
  * downstream of an expression); if a mutable/reused-buffer source
  * is ever added upstream of this expression, the identity path must
  * grow a copy.
  *
  * Contract: (fmt, bits) ∈ {(1, 8), (1, 16), (3, 32), (6, 8), (7, 8)}
  * and
  * channels ∈ {1, 2} — the admission gates ([[Riff.sampleFormatOk]]
  * at the batch wav leg and the AVI auds gate)
  * enforce this BEFORE the kernel runs; callers normalize
  * WAVE_FORMAT_EXTENSIBLE-wrapping-PCM to fmt 1 via
  * [[Pcm.canonFormat]] (the GUID check lives in the gate). Any other
  * declared format yields an EMPTY stream, never a throw and never a
  * silent mis-read of unknown-format bytes as samples (the failure
  * mode the gates exist to prevent — an empty canonical stream is
  * shorter than one analysis frame and excludes itself downstream).
  */
case class PcmCanonExpr(payload: Expression, fmt: Expression,
    bits: Expression, channels: Expression)
    extends QuaternaryExpression {

  override def first: Expression = payload
  override def second: Expression = fmt
  override def third: Expression = bits
  override def fourth: Expression = channels

  override def dataType: DataType = BinaryType
  override def prettyName: String = "pcm_canonical"

  override def checkInputDataTypes(): TypeCheckResult =
    (payload.dataType, fmt.dataType, bits.dataType,
      channels.dataType) match {
      case (BinaryType, IntegerType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (p, f, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs (binary, int, int, int), got " +
          s"(${p.simpleString}, ${f.simpleString}, ${b.simpleString}, " +
          s"${c.simpleString})")
    }

  override def nullSafeEval(p: Any, f: Any, b: Any, c: Any): Any =
    Pcm.canonical(p.asInstanceOf[Array[Byte]], f.asInstanceOf[Int],
      b.asInstanceOf[Int], c.asInstanceOf[Int])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (p, f, b, c) =>
      s"${ev.value} = graft.functions.Pcm.canonical($p, $f, $b, $c);")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression,
      newFourth: Expression): PcmCanonExpr =
    copy(payload = newFirst, fmt = newSecond, bits = newThird,
      channels = newFourth)
}

object Pcm {

  /** G.711 µ-law byte → 16-bit linear (ITU formula; spec-pinned
    * against the published table: 0x00 → −32124, 0xFF → 0). */
  def ulaw(u: Int): Int = {
    val v = ~u & 0xFF
    val mag = ((((v & 0xF) << 3) + 0x84) << ((v >> 4) & 7)) - 0x84
    if ((v & 0x80) != 0) -mag else mag
  }

  /** G.711 A-law byte → 16-bit linear (ITU formula; sign bit 1 =
    * POSITIVE; spec-pinned: 0x55 → −8, 0xD5 → +8, 0x2A → −32256). */
  def alaw(a: Int): Int = {
    val v = (a ^ 0x55) & 0xFF
    val exp = (v >> 4) & 7
    val man = v & 0xF
    val mag = if (exp == 0) (man << 4) + 8 else ((man << 4) + 0x108) << (exp - 1)
    if ((v & 0x80) != 0) mag else -mag
  }

  /** IEEE-754 binary32 bits → the engine's 16-bit sample value
    * floor(clamp(x, −1, 1) · 32767), computed in EXACT integer
    * arithmetic from the RAW BITS — never a libm/float operation —
    * so the DuckDB oracle replays it bit-identically (round-14,
    * VERDICT r13 ask #4: the engine-exact float→int policy float
    * PCM needed before honest admission). The decode rule, casewise
    * on exponent e and mantissa m:
    *  - e = 255: NaN (m ≠ 0) → 0; ±Inf clamps to ±32767;
    *  - e ≥ 127: |x| ≥ 1, clamps to ±32767 (x = ±1.0 exactly lands
    *    on the same values through floor);
    *  - e ≤ 87 (including denormals): |x|·32767 < 1 — 0 for
    *    non-negative x, −1 for negative nonzero (floor of a negative
    *    fraction), 0 for ±0;
    *  - otherwise x = ±(m + 2²³)·2^(e−150), and floor(x·32767) is
    *    an exact shift: `(mant·32767) >> (150−e)` for positive,
    *    sign-aware ceiling for negative. mant·32767 < 2³⁹ and
    *    150−e ≤ 62, so the long arithmetic is exact. */
  def f32ToV16(u32: Int): Int = {
    val neg = (u32 >>> 31) != 0
    val e = (u32 >>> 23) & 0xFF
    val m = u32 & 0x7FFFFF
    if (e == 255) { if (m != 0) 0 else if (neg) -32767 else 32767 }
    else if (e >= 127) { if (neg) -32767 else 32767 }
    else if (e <= 87) { if (neg && (m > 0 || e > 0)) -1 else 0 }
    else {
      val num = (m | 0x800000).toLong * 32767L
      val k = 150 - e
      if (neg) (-((num + ((1L << k) - 1)) >> k)).toInt
      else (num >> k).toInt
    }
  }

  /** Shared interpreted/codegen kernel — see [[PcmCanonExpr]] for the
    * canonicalization rule. O(bytes), one output array, no throw on
    * any input. Linear 8-bit mono returns the input array ITSELF
    * (identity — no copy; rows are immutable downstream). */
  def canonical(b: Array[Byte], fmt: Int, bits: Int, ch: Int): Array[Byte] = {
    if (fmt == 1 && bits == 8 && ch == 1) return b
    val g711 = fmt == 6 || fmt == 7
    val ok = (ch == 1 || ch == 2) &&
      ((fmt == 1 && (bits == 8 || bits == 16)) || (g711 && bits == 8) ||
        (fmt == 3 && bits == 32))
    if (!ok) return Array.emptyByteArray
    val bpsB = if (fmt == 1 || fmt == 3) bits / 8 else 1
    val bpf = bpsB * ch
    val n = b.length / bpf
    val out = new Array[Byte](n)
    // one unsigned-16 read per channel sample for every non-trivial
    // format; linear 8-bit rides its own byte-space mean (the
    // pre-round-13 arithmetic, kept byte-identical)
    def u16(off: Int): Int = fmt match {
      case 1 => (((b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)) ^ 0x8000)
      case 3 => f32ToV16((b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
        ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)) + 32768
      case 7 => ulaw(b(off) & 0xFF) + 32768
      case _ => alaw(b(off) & 0xFF) + 32768
    }
    var i = 0
    while (i < n) {
      val base = i * bpf
      val v =
        if (fmt == 1 && bits == 8)
          ((b(base) & 0xFF) + (b(base + 1) & 0xFF)) / 2
        else {
          val l = u16(base)
          val u = if (ch == 1) l else (l + u16(base + bpsB)) / 2
          u >> 8
        }
      out(i) = v.toByte
      i += 1
    }
    out
  }

  /** The kernel-facing format id: WAVE_FORMAT_EXTENSIBLE wrapping the
    * PCM SubFormat GUID decodes as plain integer PCM — the GUID check
    * itself lives in the admission gate ([[Riff.fmtIsPcm]]), which
    * runs BEFORE any payload reaches the kernel. */
  def canonFormat(format: Column): Column =
    when(format === 65534, lit(1L)).otherwise(format)

  /** `pcm_canonical` as a Column. */
  def pcmCanonical(payload: Column, format: Column, bits: Column,
      channels: Column): Column =
    Bridge.column(PcmCanonExpr(Bridge.expression(payload),
      Bridge.expression(canonFormat(format).cast("int")),
      Bridge.expression(bits.cast("int")),
      Bridge.expression(channels.cast("int"))))
}
