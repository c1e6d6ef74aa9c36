package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.operators.Pq

/** Pins for the codebook-loop expressions that replaced the O(k)
  * literal chains (VERDICT r6 #2: greatest/array chains over k codeword
  * literals blew janino's 64 KB method limit at k≥16-per-projection and
  * silently dropped the quantization hot loops to interpreted eval).
  */
class CodebookSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int) =
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d =>
        (math.sin(i * 37 + d) * 0.1).toFloat).toSeq)
    }.toDF("id", "vec")

  private def halfNormSq(v: Array[Float]): Double =
    v.map(x => x.toDouble * x.toDouble).sum / 2.0
  private def vnorm(v: Array[Float]): Double =
    math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)

  test("argmax/dots match the declarative literal-chain semantics") {
    val dim = 16
    val cb: Array[(Int, Array[Float], Double)] = Array.tabulate(5) { c =>
      val cv = Array.tabulate(dim)(d => (math.cos(c * 11 + d) * 0.1).toFloat)
      (c, cv, halfNormSq(cv))
    }
    val cos = cb.map { case (c, cv, _) => (c + 1, cv, vnorm(cv)) }
    val df = vecs(50, dim)
    // oracle: the OLD expression shapes, small enough to codegen
    val oldArgmin = (-greatest(cb.map { case (code, cv, hn2) =>
      struct((graft.functions.DotProduct.dotF(col("vec"), typedlit(cv)) -
        lit(hn2)).as("score"), lit(-code).as("ncode"))
    }.toSeq: _*).getField("ncode")).cast("int")
    val oldArgmaxCos = {
      val vn = sqrt(graft.functions.DotProduct.dotF(col("vec"), col("vec")))
      (-greatest(cos.map { case (cid, cv, nrm) =>
        struct((graft.functions.DotProduct.dotF(col("vec"), typedlit(cv)) /
          (vn * lit(nrm))).as("csim"), lit(-cid).as("ncid"))
      }.toSeq: _*).getField("ncid")).cast("int")
    }
    val oldDots = array(cb.map { case (_, cv, _) =>
      graft.functions.DotProduct.dotF(col("vec"), typedlit(cv))
    }.toSeq: _*)
    val got = df.select(
      Codebook.argMinL2(col("vec"), cb).as("a"),
      oldArgmin.as("ea"),
      Codebook.argMaxCosine(col("vec"), cos).as("c"),
      oldArgmaxCos.as("ec"),
      Codebook.dots(col("vec"), cb.map(_._2)).as("d"),
      oldDots.as("ed")).collect()
    got.foreach { r =>
      assert(r.getInt(0) === r.getInt(1), "argMinL2 diverges")
      assert(r.getInt(2) === r.getInt(3), "argMaxCosine diverges")
      assert(r.getSeq[Double](4) === r.getSeq[Double](5), "dots diverge")
    }
  }

  test("null input and null elements null the result") {
    val cb: Array[(Int, Array[Float], Double)] =
      Array((0, Array(1f, 2f), 2.5), (1, Array(3f, 4f), 12.5))
    val df = Seq(
      (1L, Some(Seq(Some(1f), Some(2f)))),
      (2L, Some(Seq(Some(1f), None))),
      (3L, None)).toDF("id", "vec")
    val r = df.select(col("id"),
      Codebook.argMinL2(col("vec"), cb).as("a"),
      Codebook.dots(col("vec"), cb.map(_._2)).as("d"))
      .orderBy("id").collect()
    assert(!r(0).isNullAt(1) && !r(0).isNullAt(2))
    assert(r(1).isNullAt(1) && r(1).isNullAt(2))
    assert(r(2).isNullAt(1) && r(2).isNullAt(2))
  }

  test("ties break to the smallest code; NaN scores win as greatest() did") {
    // two identical codewords → identical scores → smallest code
    val cb: Array[(Int, Array[Float], Double)] =
      Array((3, Array(1f, 0f), 0.5), (7, Array(1f, 0f), 0.5))
    val df = Seq((1L, Seq(1f, 1f))).toDF("id", "vec")
    assert(df.select(Codebook.argMinL2(col("vec"), cb))
      .head().getInt(0) === 3)
    // zero-norm codeword in cosine mode → NaN csim → treated as max
    // (the greatest() NaN rule), smallest cid among NaN
    val cos: Array[(Int, Array[Float], Double)] =
      Array((1, Array(1f, 0f), 1.0), (2, Array(0f, 0f), 0.0),
        (4, Array(0f, 0f), 0.0))
    assert(df.select(Codebook.argMaxCosine(col("vec"), cos))
      .head().getInt(0) === 2)
  }

  test("k=256 m=8 PQ encode + ADC compile under codegen (no 64KB fallback)") {
    // with codegen fallback DISABLED a janino "Code grows beyond 64 KB"
    // failure throws instead of silently running interpreted — this is
    // the regression pin for VERDICT r6 #2 (the old literal chains fail
    // this exact test)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val corpus = vecs(400, 64)
      val idx = Pq.build(corpus, col("id"), col("vec"),
        dim = 64, m = 8, k = 256, iters = 1)
      val queries = vecs(3, 64).select(col("id").as("qid"),
        col("vec").as("qvec"))
      val out = Pq.search(idx, queries, topK = 5)
      assert(out.count() === 15)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.catalog.clearCache()
    }
  }

  test("k=256 IVF assign + probe compile under codegen (no 64KB fallback)") {
    // same pin for the coarse-quantizer side: the assign argmax and
    // the probeRows dots/sort query-side projection must stay O(1) in
    // generated code at a 256-centroid codebook
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val corpus = vecs(400, 64)
      val idx = graft.operators.Ivf.build(corpus, col("id"), col("vec"),
        k = 256, iters = 1)
      val queries = vecs(3, 64).select(col("id").as("qid"),
        col("vec").as("qvec"))
      val out = graft.operators.Ivf.search(idx, queries, topK = 5,
        nProbe = 8)
      assert(out.groupBy(col("qid")).count().count() === 3)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.catalog.clearCache()
    }
  }
}
