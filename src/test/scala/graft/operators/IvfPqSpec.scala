package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** IVF-PQ composition: coarse pruning over compressed codes. Pins
  * (a) equivalence with standalone PQ when nothing is pruned,
  * (b) two-stage recall at the Pq.searchRerank level,
  * (c) the persisted pruned-scan plan shape (static `cid IN`), and
  * (d) persisted ≡ in-memory parity (loadIndex, radius search). */
class IvfPqSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queries = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def buildIndex(kCoarse: Int = 8): IvfPq.Index =
    IvfPq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      kCoarse = kCoarse, m = 16, k = 16, iters = 3)

  test("probing every cluster reproduces standalone PQ search exactly") {
    // raw-vector (non-residual) codes: with nProbe = kCoarse nothing
    // is pruned, so scores AND ranks must match Pq.search bit-for-bit
    // — the composition adds pruning, not a different scorer.
    val ivfpq = buildIndex()
    val pq = Pq.build(emb, col("vec_id"), col("embedding"), dim = 64,
      m = 16, k = 16, iters = 3)
    val a = IvfPq.search(ivfpq, queries, topK = 5, nProbe = 8)
    val b = Pq.search(pq, queries, topK = 5)
    assert(a.collect().toSeq === b.collect().toSeq)
  }

  test("pruned two-stage rerank keeps the Pq.searchRerank recall level") {
    val index = buildIndex()
    val exact = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("qid", "vec_id")
    val hit = IvfPq.searchRerank(index, emb, queries,
        topK = 5, candK = 50, nProbe = 4)
      .select("qid", "vec_id").intersect(exact).count()
    assert(hit / 50.0 >= 0.7, s"ivfpq rerank recall ${hit / 50.0}")
  }

  test("searchAt serves the index from the path alone (sidecar quantizers)") {
    val index = buildIndex()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-persist3")
      .resolve("index").toString
    IvfPq.persist(index, dir)
    val loaded = IvfPq.loadIndex(spark, dir)
    assert(loaded.m === index.m && loaded.dsub === index.dsub)
    val mem = IvfPq.search(index, queries, topK = 5, nProbe = 3)
    val at = IvfPq.search(loaded, queries, topK = 5, nProbe = 3)
    assert(at.collect().toSeq === mem.collect().toSeq)
  }

  test("ADC radius = unbounded ADC top-k cut at tau; no ranking window") {
    val index = buildIndex()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-radius")
      .resolve("index").toString
    IvfPq.persist(index, dir)
    val tau = 0.2d
    val radius = IvfPq.searchRadiusAt(spark, dir, queries,
      minScore = tau, nProbe = 3)
    val all = IvfPq.search(index, queries,
        topK = emb.count().toInt, nProbe = 3)
      .where(col("score") >= tau)
      .select(col("qid"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("score").desc, col("vec_id"))
    assert(radius.collect().toSeq === all.collect().toSeq)
    assert(radius.count() > 0L)
    assert(!radius.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("probe filter prunes the partitioned code scan to probed clusters") {
    val index = buildIndex()
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-persist2")
      .resolve("index").toString
    IvfPq.persist(index, dir)
    // one query, nProbe=2: at most 2 of the 8 cluster directories scan
    val q1 = queries.where(col("qid") === 0)
    val disk = IvfPq.searchRadiusAt(spark, dir, q1, minScore = 0.0,
      nProbe = 2)
    val plan = disk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    val inList = "PartitionFilters: \\[cid#\\d+ IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan)
    assert(inList.exists(_.group(1).split(",").length <= 2),
      s"partition filter not pruned to probes:\n$plan")
  }

  test("empty corpus builds an empty index and searches to no rows") {
    val none = emb.where(col("vec_id") < 0)
    val index = IvfPq.build(none, col("vec_id"), col("embedding"), dim = 64)
    assert(index.coded.count() === 0)
    assert(IvfPq.search(index, queries, topK = 5).count() === 0)
  }
}
