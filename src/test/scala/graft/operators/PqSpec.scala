package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Product-quantization ANN: deterministic encoding, exactness when
  * the codebook covers the corpus, and useful recall vs brute force. */
class PqSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queries = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("build is deterministic and invariant under partitioning") {
    val i1 = Pq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      m = 16, k = 16, iters = 3)
    val i2 = Pq.build(emb.repartition(7), col("vec_id"), col("embedding"),
      dim = 64, m = 16, k = 16, iters = 3)
    assert(i1.coded.count() === emb.count())
    assert(i1.coded.exceptAll(i2.coded).count() === 0)
    assert(i1.codebooks.length === 16)
    i1.codebooks.foreach(cb => assert(cb.length === 16))
  }

  test("ADC is exact when every subvector is a codeword") {
    // 8 vectors, k = 8 codewords per subspace seeded from ALL of them:
    // each subvector quantizes to itself, so the ADC score equals the
    // true dot product bit-for-bit (same left-to-right accumulation).
    val vecs = (0 until 8).map { i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 8 + d) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    val q = vecs.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val index = Pq.build(vecs, col("vec_id"), col("embedding"),
      dim = 8, m = 2, k = 8, iters = 1)
    val adc = Pq.search(index, q, topK = 7, roundDigits = 5)
    val exact = vecs.crossJoin(q).where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(Similarity.dotFixed(col("qvec"), col("embedding"), 8), 5)
          .as("score"))
    val diff = adc.select("qid", "vec_id", "score")
      .exceptAll(exact).count()
    assert(diff === 0)
  }

  test("vector magnitudes beyond the decimal mean range fail loudly") {
    // decimal(27,12) holds 15 integer digits; 2e15-scale components
    // must error at build (ANSI: Spark overflow; non-ANSI: the null-
    // codeword guard) — never silently yield null codewords.
    val vecs = (0 until 4).map { i =>
      (i.toLong, Array.fill(8)(2.0e15f * (i + 1)))
    }.toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Pq.build(vecs, col("vec_id"), col("embedding"),
        dim = 8, m = 2, k = 2, iters = 1)
    }
    assert(e.isInstanceOf[org.apache.spark.SparkException] ||
      e.isInstanceOf[ArithmeticException] ||
      e.isInstanceOf[IllegalStateException], s"unexpected: $e")
  }

  test("empty corpus builds an empty index and searches to no rows") {
    val none = emb.where(col("vec_id") < 0)
    val index = Pq.build(none, col("vec_id"), col("embedding"), dim = 64)
    assert(index.coded.count() === 0)
    val q = emb.where(col("vec_id") < 2)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    assert(Pq.search(index, q, topK = 5).count() === 0)
  }

  test("bounded training sample still yields a deterministic, usable index") {
    // cap below the corpus size forces the hash-stride sampling path
    val i1 = Pq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      m = 16, k = 16, iters = 3, trainSampleCap = 100)
    val i2 = Pq.build(emb.repartition(5), col("vec_id"), col("embedding"),
      dim = 64, m = 16, k = 16, iters = 3, trainSampleCap = 100)
    assert(i1.coded.count() === emb.count()) // full corpus still encoded
    assert(i1.coded.exceptAll(i2.coded).count() === 0)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("qid", "vec_id")
    val hit = Pq.searchRerank(i1, emb, queries, topK = 5, candK = 50)
      .select("qid", "vec_id").intersect(exact).count()
    assert(hit / 50.0 >= 0.5, s"sampled-train rerank recall ${hit / 50.0}")
  }

  test("exact re-rank of PQ candidates beats single-stage PQ recall") {
    val index = Pq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      m = 16, k = 16, iters = 3)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("qid", "vec_id").cache()
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      df.select("qid", "vec_id").intersect(exact).count() / 50.0
    val single = recall(Pq.search(index, queries, topK = 5))
    val reranked = recall(Pq.searchRerank(index, emb, queries,
      topK = 5, candK = 50))
    assert(reranked > single, s"rerank $reranked <= single $single")
    assert(reranked >= 0.7, s"rerank recall $reranked too low")
  }

  test("search recall against brute force is substantial") {
    val index = Pq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      m = 16, k = 16, iters = 3)
    val pq = Pq.search(index, queries, topK = 5)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
    val hit = pq.select("qid", "vec_id")
      .intersect(exact.select("qid", "vec_id")).count()
    val total = exact.count()
    assert(total === 50)
    val recall = hit.toDouble / total
    assert(recall >= 0.4, s"recall $recall too low")
  }

  test("persist/loadIndex round-trip: searchAt equals the in-memory search") {
    val index = Pq.build(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 16, k = 16, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("pq-persist")
      .resolve("index").toString
    Pq.persist(index, dir)
    val mem = Pq.search(index, queries, topK = 5).collect().toSeq
    val at = Pq.searchAt(spark, dir, queries, topK = 5).collect().toSeq
    assert(at === mem)
  }
}
