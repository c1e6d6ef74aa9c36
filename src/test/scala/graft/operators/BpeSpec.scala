package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Pins for the in-engine BPE trainer: the training argmax
  * (count, then (a,b)-ascending tie-break), one-pass non-overlapping
  * merge application and early stop. The gate oracle re-applies the dumped merges
  * independently; these specs pin the TRAINING side in closed form. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def model(texts: String*) =
    Bpe.train(texts.toDF("text"), col("text"), nMerges = 10)

  private def mergeRows(m: Bpe.BpeModel): Seq[(Int, String, String, Long)] =
    m.merges.orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  private def vocabMap(m: Bpe.BpeModel): Map[String, Seq[String]] =
    m.vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap

  test("merge order follows weighted pair counts; training stops dry") {
    // (a,b) occurs 3×, (c,d) 2×; after both merges no pair repeats
    val m = model("ab ab cd", "ab cd")
    assert(mergeRows(m) === Seq((1, "a", "b", 3L), (2, "c", "d", 2L)))
    assert(vocabMap(m) === Map("ab" -> Seq("ab"), "cd" -> Seq("cd")))
  }

  test("count ties break on (a,b) ascending") {
    val m = model("ab cd", "ab cd")
    assert(mergeRows(m).head === ((1, "a", "b", 2L)))
  }

  test("merged symbols pair up in later rounds (hierarchical merges)") {
    // round 1: (a,b)→ab (n=6); round 2: (ab,ab)→abab (n=2, one per
    // word — non-overlapping single pass inside 'ababab'... no:
    // 'ababab' = [ab,ab,ab] pairs (ab,ab)×2 + 'abab' = [ab,ab] ×1 →
    // weighted 2+1=3... both words count once (freq 1 each)
    val m = model("ababab abab")
    val rows = mergeRows(m)
    assert(rows.head === ((1, "a", "b", 5L)))
    assert(rows(1) === ((2, "ab", "ab", 3L)))
    val v = vocabMap(m)
    assert(v("ababab") === Seq("abab", "ab"))
    assert(v("abab") === Seq("abab"))
  }

  test("repeated-symbol runs merge one-pass, non-overlapping") {
    // 'aaa' twice, ONE round: (a,a) weighted 4 → [aa, a], never
    // [aa, aa] (the second 'a a' shares its left symbol with the
    // first merge — a single pass must skip it)
    val m = Bpe.train(Seq("aaa aaa").toDF("text"), col("text"), nMerges = 1)
    assert(mergeRows(m) === Seq((1, "a", "a", 4L)))
    assert(vocabMap(m)("aaa") === Seq("aa", "a"))
  }

  test("train matches a local reference BPE trainer on random corpora") {
    val rnd = new scala.util.Random(4321)
    // random corpus over a 3-letter alphabet: dense pair collisions
    val texts = (1 to 40).map { _ =>
      (1 to rnd.nextInt(6) + 1).map { _ =>
        (1 to rnd.nextInt(6) + 1).map(_ => ('a' + rnd.nextInt(3)).toChar)
          .mkString
      }.mkString(" ")
    }

    // local reference: textbook greedy trainer over the word-freq map
    def applyLocal(toks: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < toks.length) {
        if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
          out += a + b; i += 2
        } else { out += toks(i); i += 1 }
      }
      out.toList
    }
    var seg: Map[List[String], Long] = texts.flatMap(_.split(" "))
      .filter(_.nonEmpty).groupBy(identity)
      .map { case (w, g) => w.map(_.toString).toList -> g.size.toLong }
    val expect = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var done = false
    while (expect.size < 12 && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((toks, f) <- seg; i <- 0 until toks.length - 1)
        counts((toks(i), toks(i + 1))) =
          counts.getOrElse((toks(i), toks(i + 1)), 0L) + f
      val eligible = counts.filter(_._2 >= 2)
      if (eligible.isEmpty) done = true
      else {
        val ((a, b), n) = eligible.minBy { case ((a, b), n) => (-n, a, b) }
        expect += ((a, b, n))
        seg = seg.groupMapReduce { case (toks, _) => applyLocal(toks, a, b) }(
          _._2)(_ + _)
      }
    }

    val m = Bpe.train(texts.toDF("text"), col("text"), nMerges = 12)
    val got = m.merges.orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expect.toSeq)
    // and the final segmentation agrees word-for-word
    val vGot = m.vocab.collect()
      .map(r => r.getString(0) -> r.getSeq[String](2).toList).toMap
    val vExp = seg.map { case (toks, _) => toks.mkString -> toks }
    assert(vGot === vExp)
  }

  test("training is invariant under input repartitioning") {
    val d = Seq("ab ab cd abcd ef", "ab cd ef ef ab").toDF("text")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val m = Bpe.train(df, col("text"), nMerges = 4)
      (mergeRows(m), vocabMap(m))
    }
    assert(run(d) === run(d.repartition(7)))
  }
}
