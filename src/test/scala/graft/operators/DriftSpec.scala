package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Behavior pins for the KL drift monitor beyond its oracle. */
class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("a slice distributed like the corpus scores ~0") {
    // two slices with IDENTICAL text → each slice's unigram
    // distribution equals the corpus distribution → KL = 0 exactly
    // (every per-token ratio is 1, ln 1 = 0, fixed-point floor of 0)
    val d = Seq(("a", "x y y z"), ("b", "x y y z")).toDF("src", "text")
    val out = Drift.unigramKl(d, col("src"), col("text"))
      .select(col("slice"), col("kl_nats")).as[(String, Double)]
      .collect().toMap
    assert(out === Map("a" -> 0.0, "b" -> 0.0))
  }

  test("disjoint-vocabulary slices diverge; overlap lowers the score") {
    val d = Seq(
      ("dis", "aa bb cc dd"), // no token shared with the rest
      ("ovl", "x y z w"), // fully inside the majority vocabulary
      ("maj", "x y z w"), ("maj2", "x y z w")).toDF("src", "text")
    val out = Drift.unigramKl(d, col("src"), col("text"))
      .select(col("slice"), col("kl_nats")).as[(String, Double)]
      .collect().toMap
    // disjoint slice: p/q = 4 for each of its tokens → KL = ln 4
    assert(math.abs(out("dis") - math.log(4.0)) < 1e-5)
    // overlapping slice: p/q = 4/3 → KL = ln(4/3), strictly smaller
    assert(math.abs(out("ovl") - math.log(4.0 / 3.0)) < 1e-5)
    assert(out("dis") > out("ovl"))
  }

  test("scores are invariant under repartitioning (fixed-point sums)") {
    val d = Seq(
      ("a", "p q r s p q"), ("b", "p p q t"), ("c", "u v w p q r"),
      ("a", "r s t u"), ("b", "w w w p")).toDF("src", "text")
    def run(df: org.apache.spark.sql.DataFrame) =
      Drift.unigramKl(df, col("src"), col("text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .toSet
    assert(run(d) === run(d.repartition(7)))
  }

  test("matches a local fixed-point KL reference on random corpora") {
    val rnd = new scala.util.Random(7777)
    val rows = (1 to 120).map { _ =>
      val src = s"s${rnd.nextInt(5)}"
      val text = (1 to rnd.nextInt(12) + 1)
        .map(_ => s"w${rnd.nextInt(9)}").mkString(" ")
      (src, text)
    }
    // local reference: the same fixed-point term sum, sequentially
    val st = rows.flatMap { case (s, t) => t.split(" ").map((s, _)) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sTot = st.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val gTok = st.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val gTot = sTot.values.sum
    val expect = sTot.keys.map { s =>
      val sum = st.collect { case ((`s`, tok), cnt) =>
        cnt * math.floor(math.log(
          (cnt.toDouble * gTot) / (gTok(tok).toDouble * sTot(s))) *
          1e6).toLong
      }.sum
      val kl = BigDecimal(sum.toDouble / 1e6 / sTot(s))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (s, sTot(s), kl)
    }.toSet
    val got = Drift.unigramKl(rows.toDF("src", "text"),
        col("src"), col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got === expect)
  }

  test("n_tokens counts every occurrence in the slice") {
    val d = Seq(("a", "x x y"), ("b", "z")).toDF("src", "text")
    val out = Drift.unigramKl(d, col("src"), col("text"))
      .select(col("slice"), col("n_tokens")).as[(String, Long)]
      .collect().toMap
    assert(out === Map("a" -> 3L, "b" -> 1L))
  }
}
