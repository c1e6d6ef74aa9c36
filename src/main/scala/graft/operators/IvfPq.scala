package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed production ANN shape — [[Ivf]]'s coarse
  * pruning over [[Pq]]'s compressed scoring. The corpus is assigned
  * to a coarse cluster AND PQ-encoded in ONE full scan; codes live
  * partitioned by cluster id; a query probes its `nProbe` nearest
  * clusters and runs Asymmetric Distance Computation over ONLY those
  * clusters' codes.
  *
  * This closes the scale gap each half has alone: standalone [[Pq]]
  * ADC is a full coded-corpus scan per query batch (compression
  * without pruning), standalone [[Ivf]] reads full float vectors in
  * the probed clusters (pruning without compression). Composed, a
  * query touches `nProbe/kCoarse` of the corpus at ~16× fewer bytes
  * — at 100 TB that's the difference between scanning terabytes and
  * scanning a few gigabytes per query batch.
  *
  * Codes quantize the RAW vectors, not the per-cluster residuals
  * (FAISS's `by_residual=false` flavor): scores stay bit-comparable
  * with [[Pq.search]] (spec-pinned — probing every cluster reproduces
  * it exactly), and the encode needs no per-row centroid lookup in
  * the hot path. Residual encoding is the next refinement if recall
  * at fixed m/k ever needs it; the two-stage exact re-rank
  * ([[searchRerank]]) already recovers it cheaper here.
  *
  * All index metadata (coarse centroids + m sub-codebooks, both
  * k ≪ corpus) is driver-held, as in the component operators;
  * determinism is inherited from them (seeded from first-k ids,
  * fixed-count Lloyd on a deterministic hash-stride sample, decimal
  * means — partition-invariant end to end).
  */
object IvfPq {

  /** `coarse` is the coarse quantizer (cid, centroid, norm);
    * `codebooks(j)` the residual-free PQ codewords of subspace j;
    * `coded` = (id, cid, codes) — the inverted lists, cached. */
  final case class Index(
      coarse: Array[(Int, Array[Float], Double)],
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      coded: DataFrame,
      m: Int,
      dsub: Int)

  /** Build coarse quantizer + PQ codebooks, then assign AND encode the
    * full corpus in a single map-side projection over [[Ivf.build]]'s
    * cached assignment (which itself is one scan). Both trainings run
    * on bounded deterministic samples — no full-corpus scan in either
    * Lloyd loop. */
  def build(corpus: DataFrame, idCol: Column, vecCol: Column,
      dim: Int, kCoarse: Int = 16, m: Int = 8, k: Int = 16,
      iters: Int = 2, trainSampleCap: Int = 4096): Index = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val dsub = dim / m
    val ivf = Ivf.build(corpus, idCol, vecCol, kCoarse, iters, trainSampleCap)
    val vectors = corpus.select(idCol.cast("long").as("id"), vecCol.as("vec"))
    val codebooks = Pq.trainCodebooks(vectors, dim, m, k, iters, trainSampleCap)
    val coded =
      if (codebooks.head.isEmpty)
        ivf.assigned.where(lit(false)).select(col("id"), col("cid"),
          array().cast("array<int>").as("codes"))
      else ivf.assigned.select(col("id"), col("cid"),
        Pq.encodeExpr(col("vec"), codebooks, dsub))
    val cached = coded.cache()
    // materialize the codes, then drop the full float-vector
    // assignment cache Ivf.build left behind: IvfPq only ever needs
    // `coded`, and the assignment entry (id + full vectors) would
    // otherwise stay pinned for the session with no handle to
    // release it
    cached.count()
    ivf.assigned.unpersist(blocking = false)
    Index(ivf.codebook, codebooks, cached, m, dsub)
  }

  private def emptyResult(queries: DataFrame): DataFrame =
    queries.where(lit(false)).select(col("qid"),
      col("qid").as("vec_id"), lit(0.0d).as("score"), lit(0L).as("rank"))

  /** ADC over probed clusters only: probes carry their per-query LUTs
    * (computed once on the tiny broadcast side), the `cid` equi-join
    * is the pruning — a coded row only ever meets the queries probing
    * its cluster — and scoring is m `element_at` picks per candidate.
    * Output (qid, vec_id, score, rank), ranks tie to the smaller id,
    * exactly as [[Pq.search]]. */
  private def scoreProbedAdc(
      coded: DataFrame,
      probes: DataFrame,
      codebooks: IndexedSeq[Array[(Int, Array[Float], Double)]],
      m: Int, dsub: Int, topK: Int, roundDigits: Int): DataFrame = {
    val q = probes.select(
      col("qid") +: col("cid") +: Pq.lutCols(col("qvec"), codebooks, dsub): _*)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    coded.join(broadcast(q), Seq("cid"))
      .where(col("qid") =!= col("id"))
      .withColumn("score", round(Pq.adcScore(m), roundDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("id").as("vec_id"), col("score"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Pruned ADC top-k: probe `nProbe` clusters, score only their
    * codes. queries: (qid, qvec). */
  def search(index: Index, queries: DataFrame, topK: Int,
      nProbe: Int = 2, roundDigits: Int = 5): DataFrame = {
    if (index.coarse.isEmpty || index.codebooks.head.isEmpty)
      return emptyResult(queries)
    scoreProbedAdc(index.coded,
      Ivf.probeRows(queries, index.coarse, nProbe),
      index.codebooks, index.m, index.dsub, topK, roundDigits)
  }

  /** Two-stage IVF-PQ retrieval: pruned ADC selects `candK`
    * candidates, exact float cosine re-ranks to the final top-k —
    * the full production shape (prune → compress → re-rank). The
    * exact stage touches candK·|queries| vectors. Output matches
    * [[Similarity.bruteForceTopK]]. */
  def searchRerank(index: Index, corpus: DataFrame, queries: DataFrame,
      topK: Int, candK: Int = 50, nProbe: Int = 4, roundDigits: Int = 5,
      idCol: Column = col("vec_id"),
      vecCol: Column = col("embedding")): DataFrame =
    Similarity.rerankExact(search(index, queries, candK, nProbe),
      corpus, queries, topK, roundDigits, idCol, vecCol)

  /** Write the coded corpus PARTITIONED BY cluster id — the at-rest
    * IVF-PQ layout: each cluster's CODES (8–16 bytes each, not float
    * vectors) are their own partition directory, so a probe-filtered
    * read prunes to nProbe/kCoarse of an already-16×-compressed
    * table. The quantizers (coarse centroids + the m sub-codebooks —
    * index metadata, d·(kCoarse+k) floats total) land in a
    * `__quantizer` sidecar, so the persisted index is self-contained:
    * [[loadIndex]]/[[searchRadiusAt]] serve it in a fresh session with
    * no driver-held handle. */
  def persist(index: Index, path: String): Unit = {
    index.coded.write.mode("overwrite").partitionBy("cid").parquet(path)
    writeQuantizers(index, path)
  }

  private def writeQuantizers(index: Index, path: String): Unit = {
    val spark = index.coded.sparkSession
    import spark.implicits._
    val rows =
      index.coarse.toSeq.map { case (cid, v, _) =>
        ("coarse", cid, 0, v.toSeq)
      } ++
        index.codebooks.zipWithIndex.flatMap { case (cb, j) =>
          cb.map { case (code, cv, _) => ("pq", j, code, cv.toSeq) }
        }
    rows.toDF("kind", "a", "b", "vec")
      .coalesce(1) // metadata-sized: one small file
      .write.mode("overwrite").parquet(Ivf.quantizerPath(path))
  }

  /** Rebuild a full [[Index]] from a [[persist]]ed path: quantizers
    * from the sidecar (norms/half-norms recomputed — derived data),
    * `coded` read straight from the partitioned parquet (uncached; a
    * [[search]] over it gets dynamic partition pruning from the cid
    * join, [[searchRadiusAt]]'s static `cid IN` filter is stronger). */
  def loadIndex(spark: SparkSession, path: String): Index = {
    val rows = spark.read.parquet(Ivf.quantizerPath(path))
      .select(col("kind"), col("a"), col("b"), col("vec")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2),
        r.getSeq[Float](3).toArray))
    val coarse = rows.filter(_._1 == "coarse")
      .map { case (_, cid, _, v) => (cid, v, Ivf.vnorm(v)) }
      .sortBy(_._1)
    val pq = rows.filter(_._1 == "pq")
    require(pq.nonEmpty, s"no PQ codebooks in ${Ivf.quantizerPath(path)}")
    val m = pq.map(_._2).max + 1
    val codebooks = (0 until m).map { j =>
      pq.filter(_._2 == j)
        .map { case (_, _, code, cv) => (code, cv, Pq.halfNormSq(cv)) }
        .sortBy(_._1)
    }
    val dsub = codebooks.head.head._2.length
    val coded = spark.read.parquet(path)
      .select(col("id"), col("cid"), col("codes"))
    Index(coarse, codebooks, coded, m, dsub)
  }

  /** Radius search on the COMPRESSED tier: every eligible code with
    * ADC score ≥ `minScore` in the probed clusters — [[Ivf
    * .searchRadiusAt]]'s range_search over 8–16-byte codes instead of
    * float vectors. The ADC score is the quantized inner-product
    * ESTIMATE, so the τ-cut is approximate in exactly the way the
    * FAISS IVFPQ range_search is: a coarse sweep whose survivors an
    * exact re-rank confirms (compose with `Similarity.rerankExact` as
    * [[searchRerank]] does). The probed cluster ids become a static
    * `cid IN (...)` partition filter, so the scan reads only the
    * probed clusters' codes; no ranking window — the cut fuses into
    * the ADC projection. Output (qid, vec_id, score). */
  def searchRadiusAt(spark: SparkSession, path: String,
      queries: DataFrame, minScore: Double, nProbe: Int = 2,
      roundDigits: Int = 5): DataFrame = {
    val index = loadIndex(spark, path)
    if (index.coarse.isEmpty || index.codebooks.head.isEmpty)
      return emptyResult(queries).select(col("qid"), col("vec_id"),
        col("score"))
    val probes = Ivf.probeRows(queries, index.coarse, nProbe)
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0))
    val coded = spark.read.parquet(path)
      .where(col("cid").isin(probedCids.map(Int.box): _*))
      .select(col("id"), col("cid"), col("codes"))
    val q = probes.select(
      col("qid") +: col("cid") +:
        Pq.lutCols(col("qvec"), index.codebooks, index.dsub): _*)
    coded.join(broadcast(q), Seq("cid"))
      .where(col("qid") =!= col("id"))
      .withColumn("score", round(Pq.adcScore(index.m), roundDigits))
      .where(col("score") >= minScore)
      .select(col("qid"), col("id").as("vec_id"), col("score"))
      .orderBy(col("qid"), col("score").desc, col("vec_id"))
  }
}
