package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Deterministic fuzz for the chunk-walk kernel's hostile-input
  * contract (round-11): for ANY bytes and ANY start/end, `Riff.find`
  * must return without throwing, terminate, and — when it claims a
  * match — point inside the blob at bytes that actually spell the
  * target. FrameSums gets the same no-throw sweep (its guards are the
  * other half of the "a malformed header must not throw a task"
  * contract). Seeded PRNG: failures reproduce exactly. */
class RiffFuzzSpec extends AnyFunSuite {

  private val fourccs =
    Seq("fmt ", "data", "movi", "hdrl", "WAVE", "avih")
      .map(Riff.pack4cc)

  test("find never throws, always terminates, matches are in-bounds") {
    val rnd = new scala.util.Random(0x5217)
    val adversarial = Seq[Array[Byte]](
      // huge/negative-ish declared LE sizes
      "RIFF".getBytes ++ Array[Byte](-1, -1, -1, -1) ++
        "WAVEfmt ".getBytes ++ Array[Byte](-1, -1, -1, -1) ++
        Array.fill[Byte](16)(7),
      "RIFF".getBytes ++ Array[Byte](-1, -1, -1, 127) ++
        "WAVEdata".getBytes ++ Array[Byte](0, 0, 0, -128) ++
        Array.fill[Byte](8)(1),
      // zero-size chunks: the walk must still advance (8 + 0 + pad)
      "RIFF".getBytes ++ Array[Byte](0, 0, 0, 0) ++ "WAVE".getBytes ++
        Array.fill[Byte](64)(0),
      Array.fill[Byte](24)(0),
      Array.emptyByteArray)
    val cases = adversarial ++ (0 until 4000).map { i =>
      val n = rnd.nextInt(300)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      if (i % 3 == 0 && n >= 4) "RIFF".getBytes ++ b.drop(4) else b
    }
    cases.foreach { b =>
      Seq((-64, 64), (0, Int.MaxValue), (12, b.length),
          (rnd.nextInt(400) - 50, rnd.nextInt(400) - 50)).foreach {
        case (start, end) =>
          fourccs.foreach { t =>
            Seq(false, true).foreach { forms =>
              val r = Riff.find(b, start, end, t, forms)
              if (r != -1L) {
                val off = (r >>> 32).toInt
                assert(off >= 0 && off <= b.length,
                  s"off $off len ${b.length}")
                def word(p: Int): Int =
                  if (p >= 0 && p + 4 <= b.length)
                    ((b(p) & 0xFF) << 24) | ((b(p + 1) & 0xFF) << 16) |
                      ((b(p + 2) & 0xFF) << 8) | (b(p + 3) & 0xFF)
                  else -1
                // forms=false: id is 8 bytes before the data offset;
                // forms=true: the form word sits AT the data offset
                assert(if (forms) word(off) == t else word(off - 8) == t,
                  s"match at $off (forms=$forms) spells wrong target")
              }
            }
          }
      }
    }
  }

  test("findChunks never throws, agrees with find, packs in-bounds ids") {
    // the demux walk (round-12) shares find's advance rule: its FIRST
    // element must equal find(forms=false)'s packed result on every
    // input, every match must spell the target, and list order must
    // be strictly increasing offsets
    val rnd = new scala.util.Random(0xC21C)
    val cases = (0 until 3000).map { i =>
      val n = rnd.nextInt(300)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      // seed real chunk ids so matches actually occur
      if (i % 2 == 0 && n >= 20) {
        val ids = Seq("00db", "01wb", "fmt ", "LIST")
        (0 until 2).foreach { _ =>
          val p = rnd.nextInt(n - 8)
          ids(rnd.nextInt(ids.size)).getBytes.copyToArray(b, p)
        }
      }
      b
    }
    val targets = fourccs ++ Seq(Riff.pack4cc("00db"), Riff.pack4cc("01wb"))
    cases.foreach { b =>
      Seq((-64, 64), (0, Int.MaxValue), (12, b.length),
          (rnd.nextInt(400) - 50, rnd.nextInt(400) - 50)).foreach {
        case (start, end) =>
          targets.foreach { t =>
            val all = Riff.findChunks(b, start, end, t)
            val first = Riff.find(b, start, end, t, forms = false)
            assert((if (all.isEmpty) -1L else all.head) === first)
            var prev = -1L
            all.foreach { r =>
              val off = (r >>> 32).toInt
              assert(off > prev, "offsets must strictly increase")
              prev = off
              assert(off - 8 >= 0 && off <= b.length)
              val id = ((b(off - 8) & 0xFF) << 24) |
                ((b(off - 7) & 0xFF) << 16) |
                ((b(off - 6) & 0xFF) << 8) | (b(off - 5) & 0xFF)
              assert(id === t, s"match at $off spells wrong id")
            }
          }
      }
    }
  }

  test("findAudsStrf never throws, matches spell strf inside the blob") {
    // the nested walk (strl inside hdrl, strh/strf inside strl) gets
    // the same hostile-input sweep as the flat walks: any bytes, any
    // bounds -> terminate without throwing; a claimed strf locator
    // must point at bytes spelling 'strf' 8 before the data offset
    val rnd = new scala.util.Random(0xAD51)
    val cases = (0 until 3000).map { i =>
      val n = rnd.nextInt(400)
      val b = new Array[Byte](n); rnd.nextBytes(b)
      if (i % 2 == 0 && n >= 30) {
        val ids = Seq("LIST", "strl", "strh", "strf", "auds", "vids")
        (0 until 3).foreach { _ =>
          val p = rnd.nextInt(n - 8)
          ids(rnd.nextInt(ids.size)).getBytes.copyToArray(b, p)
        }
      }
      b
    }
    cases.foreach { b =>
      Seq((-64, 64), (0, Int.MaxValue), (12, b.length),
          (rnd.nextInt(500) - 60, rnd.nextInt(500) - 60)).foreach {
        case (start, end) =>
          // the audio stream-format lookup the AVI audio gate runs
          val r = Riff.findStreamChunk(b, start, end,
            Riff.pack4cc("auds"), Riff.pack4cc("strf"))
          if (r != -1L) {
            val off = (r >>> 32).toInt
            assert(off - 8 >= 0 && off <= b.length, s"off $off")
            val id = ((b(off - 8) & 0xFF) << 24) |
              ((b(off - 7) & 0xFF) << 16) |
              ((b(off - 6) & 0xFF) << 8) | (b(off - 5) & 0xFF)
            assert(id === Riff.pack4cc("strf"),
              s"match at $off spells wrong id")
          }
      }
    }
  }

  test("FrameSums.computePacked never throws, clamps at the blob end") {
    val rnd = new scala.util.Random(0x9ACC)
    (0 until 2000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b)
      val packs = Array.fill(rnd.nextInt(6)) {
        val off = (rnd.nextInt(400) - 50).toLong
        val sz = rnd.nextInt(3) match {
          case 0 => 0xFFFFFFFFL // hostile declared size
          case 1 => 0L
          case _ => rnd.nextInt(300).toLong
        }
        ((off & 0xFFFFFFFFL) << 32) | sz
      }
      val r = FrameSums.computePacked(b, packs)
      assert(r.length === packs.length)
      // each sum is bounded by what the blob can physically hold
      r.foreach(s => assert(s >= 0 && s <= 255L * b.length))
    }
  }

  test("FrameSums.compute never throws on hostile geometry") {
    val rnd = new scala.util.Random(0xF5A3)
    val edges = Seq(Int.MinValue, -1, 0, 1, 7, Int.MaxValue - 3,
      Int.MaxValue)
    (0 until 2000).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(256)); rnd.nextBytes(b)
      def pick() = if (rnd.nextBoolean()) edges(rnd.nextInt(edges.size))
        else rnd.nextInt(600) - 100
      val (off, fs, st) = (pick(), pick(), pick())
      val r = FrameSums.compute(b, off, fs, st, energy = false)
      val e = FrameSums.compute(b, off, fs, st, energy = true)
      assert(r != null && e.length == r.length)
      // every emitted frame must have fit entirely inside the blob
      if (r.nonEmpty)
        assert(off >= 0 && fs > 0 && st > 0 &&
          off.toLong + (r.length - 1).toLong * st + fs <= b.length)
    }
  }

  test("round-13 kernels never throw: walkComplete, Pcm.canonical, " +
      "BmpAHash.header") {
    // the same hostile-input contract for the walk-cap attestation,
    // the PCM canonicalizer (any declared bits/channels on any
    // bytes) and the widened BMP header parse
    val rnd = new scala.util.Random(0xD13C)
    val edges = Seq(Int.MinValue, -1, 0, 1, 8, 16, 24, 32, 65534,
      Int.MaxValue)
    (0 until 3000).foreach { i =>
      val b = new Array[Byte](rnd.nextInt(300)); rnd.nextBytes(b)
      if (i % 4 == 0 && b.length >= 2) { b(0) = 'B'; b(1) = 'M' }
      def pick() = if (rnd.nextBoolean()) edges(rnd.nextInt(edges.size))
        else rnd.nextInt(600) - 100
      val wc = Riff.walkComplete(b, pick(), pick())
      assert(wc || !wc) // terminated without throwing
      val fmt = Seq(1, 1, 3, 6, 7, 65534, pick())(rnd.nextInt(7))
      val bits = pick(); val ch = pick()
      val canon = Pcm.canonical(b, fmt, bits, ch)
      assert(canon != null)
      // canonical length honors the floor sample count for supported
      // formats and is empty otherwise
      if (ch == 1 || ch == 2) {
        if (fmt == 1 && (bits == 8 || bits == 16))
          assert(canon.length == b.length / ((bits / 8) * ch) ||
            (bits == 8 && ch == 1 && (canon eq b)))
        else if ((fmt == 6 || fmt == 7) && bits == 8)
          assert(canon.length == b.length / ch)
        else if (fmt == 3 && bits == 32) // round-14: float PCM admits
          assert(canon.length == b.length / (4 * ch))
        else assert(canon.length == 0)
      } else assert(canon.length == 0)
      val hd = BmpAHash.header(b)
      if (hd != null) {
        val Array(w, h, _, stride, off, bpx) = hd
        assert(w > 0 && h > 0 && (bpx == 3 || bpx == 4))
        assert(off + h * stride <= b.length)
      }
      // the hash/stats kernels inherit the guard
      assert(BmpAHash.compute(b, 8) == null ||
        BmpAHash.compute(b, 8).length == 2)
      assert(BmpAHash.computeGrayStats(b) == null ||
        BmpAHash.computeGrayStats(b).length == 4)
    }
  }

  test("walkComplete attests exactly findChunks' consumption") {
    // ADVICE r13: walkComplete is a fourth hand copy of the
    // chunk-advance loop; a future edit to findChunks' advance/cap
    // could silently decouple the completeness attestation from the
    // demux it attests. This property pins them together: over
    // random well-formed chunk trains (every chunk matching the
    // target, lengths straddling the 4096 cap, optional trailing
    // partial header), findChunks must return min(n, 4096) matches
    // and walkComplete must be TRUE exactly when findChunks saw
    // every chunk.
    val rnd = new scala.util.Random(0xA14)
    (0 until 60).foreach { _ =>
      val n = Seq(0, 1, 3, 17, 4095, 4096, 4097, 4200)(rnd.nextInt(8))
      val bld = new scala.collection.mutable.ArrayBuffer[Byte]()
      (0 until n).foreach { _ =>
        val sz = rnd.nextInt(3)
        bld ++= "tttt".getBytes("ISO-8859-1")
        bld ++= Array[Byte]((sz & 0xFF).toByte, 0, 0, 0)
        bld ++= Array.fill[Byte](sz + (sz & 1))(5)
      }
      // < 8 trailing bytes: not another header, range still consumed
      if (rnd.nextBoolean()) bld ++= Array.fill[Byte](rnd.nextInt(7))(9)
      val b = bld.toArray
      val found = Riff.findChunks(b, 0, b.length, Riff.pack4cc("tttt"))
      assert(found.length === math.min(n, 4096))
      assert(Riff.walkComplete(b, 0, b.length) === (found.length == n))
    }
  }
}
