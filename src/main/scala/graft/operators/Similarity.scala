package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dotF
import graft.functions.PortableHash.phash

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Brute-force cosine top-k is the correctness baseline (and exactly
  * what the DuckDB oracle reproduces); random-hyperplane LSH bucketing
  * is the 100 TB path: queries only compare against their bucket,
  * turning an O(N·Q) cross join into a bucket-partitioned join.
  *
  * Dot products are unrolled to a static sum of `element_at` products:
  * higher-order functions (`zip_with`/`aggregate`) run interpreted
  * with per-row allocations (measured ~10× slower), while the unrolled
  * form stays in whole-stage codegen. float×float is exact in double,
  * and the left-to-right add order matches the oracle's `list_sum`.
  * Norms are computed once per vector, not once per pair.
  */
object Similarity {

  /** Codegen-friendly dot product for a known dimension. */
  def dotFixed(a: Column, b: Column, dim: Int): Column =
    (1 to dim).map(i =>
      element_at(a, i).cast("double") * element_at(b, i).cast("double"))
      .reduce(_ + _)

  /** Generic-dimension dot product (interpreted; prefer [[dotFixed]]). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  /** Norm via the native dot-product expression (any dimension). */
  def norm(v: Column): Column = sqrt(dotF(v, v))

  /** cosine via precomputed norms: dot / (normA·normB). */
  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dotF(a, b) / (normA * normB)

  /** Exact top-k neighbors for each query vector.
    * queries: (qid, qvec), corpus: (vec_id, embedding). The query side
    * is broadcast (small by construction) with its norms precomputed,
    * so the corpus scan is a single pass with no shuffle until the
    * per-qid top-k window (which WindowGroupLimit prunes).
    * Similarity is rounded to `roundDigits` to make cross-engine
    * ordering deterministic.
    *
    * `pairFilter` restricts which (query, corpus) pairs are eligible —
    * e.g. hard-negative mining keeps only pairs whose metadata
    * differs (`q.source =!= c.source`). It is evaluated inside the
    * broadcast join, so ineligible pairs never reach the similarity
    * math or the window. */
  def bruteForceTopK(
      queries: DataFrame,
      corpus: DataFrame,
      k: Int,
      roundDigits: Int = 5,
      excludeSelf: Boolean = true,
      pairFilter: Column = lit(true)): DataFrame = {
    val q = queries.withColumn("qnorm", norm(col("qvec")))
    val c = corpus.withColumn("vnorm", norm(col("embedding")))
    val joined = c.join(broadcast(q),
      (if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
        && pairFilter)
    val sims = joined.select(
      col("qid"), col("vec_id"),
      round(cosineWithNorms(col("qvec"), col("embedding"),
        col("qnorm"), col("vnorm")), roundDigits).as("sim"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Per-dimension symmetric max-abs scales of a vector corpus, as a
    * ONE-ROW DataFrame holding the scale array (no driver collect:
    * posexplode → per-dim max → re-assembled via a sorted
    * collect_list, then broadcast into consumers). Dims are tiny
    * (64–4096) so the aggregate output is index metadata. */
  def maxAbsScales(corpus: DataFrame, vecCol: Column): DataFrame =
    corpus
      .select(posexplode(vecCol).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(max(abs(col("v"))).as("mx"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mx"))))
        .as("dm"))
      .select(transform(col("dm"), e => e.getField("mx").cast("double"))
        .as("scales"))

  /** Int8 scalar quantization of `v` against per-dim `scales`:
    * qᵢ = ⌊vᵢ/sᵢ·127⌋ ∈ [−127,127]. Floor on IEEE doubles — exactly
    * reproducible by any engine, unlike a float sum. */
  def quantize(v: Column, scales: Column): Column =
    zip_with(v, scales,
      // an all-zero dimension has scale 0: quantize it to 0 instead of
      // floor(NaN), which engines disagree on (Spark yields 0, DuckDB
      // errors on the BIGINT cast)
      (x, s) => when(s === 0.0d, lit(0L))
        .otherwise(floor(x.cast("double") / s * lit(127.0d)).cast("long")))

  /** Top-k by INTEGER dot product over int8-quantized vectors — the
    * memory-bandwidth-bound scale path for brute-force search: 4×
    * smaller vectors than float32 and an exact integer accumulator
    * (≤127²·dim ≪ 2⁶³), so scores are bit-identical on every engine
    * and SIMD-friendly on real hardware. Same broadcast-query +
    * WindowGroupLimit shape as [[bruteForceTopK]]; recall vs the
    * exact float path is pinned in `SimilaritySpec`. */
  def quantizedTopK(
      queries: DataFrame,
      corpus: DataFrame,
      scales: DataFrame,
      k: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val sc = broadcast(scales)
    val q = queries.crossJoin(sc)
      .select(col("qid"), quantize(col("qvec"), col("scales")).as("qq"))
    val c = corpus.crossJoin(sc)
      .select(col("vec_id"), quantize(col("embedding"), col("scales")).as("qv"))
    val joined = c.join(broadcast(q),
      if (excludeSelf) col("qid") =!= col("vec_id") else lit(true))
    val sims = joined.select(
      col("qid"), col("vec_id"),
      aggregate(zip_with(col("qq"), col("qv"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("qdot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("qdot").desc, col("vec_id"))
    sims.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .orderBy(col("qid"), col("rank"))
  }

  /** Exact-cosine re-rank of an ANN candidate list — the second stage
    * of every two-stage retrieval here ([[Pq.searchRerank]],
    * [[IvfPq.searchRerank]]): join the (qid, vec_id) candidates back
    * to their float vectors, score with the exact cosine, keep the
    * per-query top-k. Touches candK·|queries| vectors only; output
    * matches [[bruteForceTopK]]. */
  private[operators] def rerankExact(
      cands: DataFrame,
      corpus: DataFrame,
      queries: DataFrame,
      topK: Int,
      roundDigits: Int,
      idCol: Column,
      vecCol: Column): DataFrame = {
    val c = corpus
      .select(idCol.cast("long").as("vec_id"), vecCol.as("embedding"))
      .withColumn("vnorm", norm(col("embedding")))
      .join(cands.select(col("qid"), col("vec_id")), Seq("vec_id"))
    val q = queries.withColumn("qnorm", norm(col("qvec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("vec_id"))
    c.join(broadcast(q), Seq("qid"))
      .withColumn("sim", round(cosineWithNorms(col("qvec"), col("embedding"),
        col("qnorm"), col("vnorm")), roundDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("vec_id"), col("sim"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  private def normOf(v: Array[Float]): Double = {
    var s = 0.0d; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Raw-double lower bound below which no value can round up to
    * `threshold` at `roundDigits` — gates the exact BigDecimal
    * rounding to the rare near-threshold pairs. */
  private def preBoundOf(threshold: Double, roundDigits: Int): Double =
    threshold - 0.5 * math.pow(10, -roundDigits) - 1e-12

  /** Dense pair kernel: emit (min, max, sim) for one (a, b) pair if
    * the rounded cosine clears the threshold. Ascending-index
    * left-to-right accumulation matches the SQL oracle's list_sum.
    * Equal ids never pair (the oracle's `a.id < b.id`), so duplicate
    * ids in the corpus cannot emit self-pairs. */
  private def emitPair(
      ida: Long, va: Array[Float], na: Double,
      idb: Long, vb: Array[Float], nb: Double,
      threshold: Double, preBound: Double, roundDigits: Int,
      hits: scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]): Unit = {
    if (ida == idb) return
    var dot = 0.0d; var k = 0
    while (k < va.length) { dot += va(k).toDouble * vb(k).toDouble; k += 1 }
    val raw = dot / (na * nb)
    if (raw >= preBound) {
      val sim = BigDecimal(raw)
        .setScale(roundDigits, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      if (sim >= threshold)
        hits += ((math.min(ida, idb), math.max(ida, idb), sim))
    }
  }

  /** All (a < b) pairs within one row set clearing the threshold. */
  private def pairsWithin(rows: Array[(Long, Array[Float], Double)],
      threshold: Double, roundDigits: Int): Iterator[(Long, Long, Double)] = {
    val preBound = preBoundOf(threshold, roundDigits)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var a = 0
    while (a < rows.length) {
      val (ida, va, na) = rows(a)
      var b = a + 1
      while (b < rows.length) {
        val (idb, vb, nb) = rows(b)
        emitPair(ida, va, na, idb, vb, nb, threshold, preBound, roundDigits, hits)
        b += 1
      }
      a += 1
    }
    hits.iterator
  }

  /** Every (left, right) cross pair clearing the threshold. */
  private def pairsAcross(
      left: Array[(Long, Array[Float], Double)],
      right: Array[(Long, Array[Float], Double)],
      threshold: Double, roundDigits: Int): Iterator[(Long, Long, Double)] = {
    val preBound = preBoundOf(threshold, roundDigits)
    val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var a = 0
    while (a < left.length) {
      val (ida, va, na) = left(a)
      var b = 0
      while (b < right.length) {
        val (idb, vb, nb) = right(b)
        emitPair(ida, va, na, idb, vb, nb, threshold, preBound, roundDigits, hits)
        b += 1
      }
      a += 1
    }
    hits.iterator
  }

  /** Embedding-cosine near-duplicate pairs: all (a < b) pairs with
    * cosine ≥ threshold — EXACT (no candidate filter), computed
    * distributed via triangle block partitioning.
    *
    * Each vector lands in block `id % nBlocks`; every unordered block
    * pair (i ≤ j) becomes one task that runs a dense O(|i|·|j|)
    * double-accumulation kernel over just those two blocks. The
    * join-based plan spends ~95% of its time copying the two float
    * arrays into every joined row (measured 25 µs/pair); here each
    * vector is shuffled `nBlocks` times total and the kernel does the
    * math at memory bandwidth. Per-task memory is 2·n/nBlocks vectors
    * — `nBlocks` is the scale knob (grow it ∝ √corpus to hold
    * per-task memory constant; work stays n²/2 overall but spread
    * over nBlocks·(nBlocks+1)/2 parallel tasks). No driver collect,
    * no broadcast of the corpus.
    *
    * At 100 TB pre-filter with [[hyperplaneSignatureFixed]] buckets or
    * [[graft.operators.Dedup.minhashCandidates]] and verify only
    * candidates; this operator is the exact ground truth. The
    * threshold applies to the rounded value so the cut is
    * reproducible across engines. */
  def embeddingNearDupPairs(
      corpus: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      roundDigits: Int = 5,
      nBlocks: Int = 8): DataFrame =
    embeddingNearDupPairsByKey(corpus, lit(0L), idCol, vecCol,
      threshold, roundDigits, nBlocks)
      .select(col("id_a"), col("id_b"), col("sim"))

  /** [[embeddingNearDupPairs]] restricted to pairs WITHIN each group
    * of `keyCol`: each (key, block-pair) is one dense task, so one job
    * covers every group without ever comparing across groups. This is
    * [[SemDedup]]'s mega-cluster fallback kernel (key = cluster id);
    * with a constant key it IS the whole-corpus operator above. Returns
    * (key, id_a, id_b, sim). */
  def embeddingNearDupPairsByKey(
      corpus: DataFrame,
      keyCol: Column,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      roundDigits: Int = 5,
      nBlocks: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nB = nBlocks
    val vecs = corpus.select(keyCol.cast("long").as("key"),
      idCol.cast("long").as("id"), vecCol.as("vec"))
      .as[(Long, Long, Array[Float])]
    // Replicate each vector to every block pair containing its block.
    val replicated = vecs.flatMap { case (key, id, v) =>
      val b = ((id % nB) + nB).toInt % nB
      val pids = (b until nB).map(j => b * nB + j) ++
        (0 until b).map(i => i * nB + b)
      pids.map(pid => (key, pid, id, v))
    }
    replicated.groupByKey(r => (r._1, r._2)).flatMapGroups {
      (kp: (Long, Int), it: Iterator[(Long, Int, Long, Array[Float])]) =>
        val (key, pid) = kp
        val i = pid / nB; val j = pid % nB
        val rows = it.map { case (_, _, id, v) => (id, v, normOf(v)) }.toArray
        val ps =
          if (i == j) pairsWithin(rows, threshold, roundDigits)
          else pairsAcross(
            rows.filter { case (id, _, _) => ((id % nB) + nB) % nB == i },
            rows.filter { case (id, _, _) => ((id % nB) + nB) % nB == j },
            threshold, roundDigits)
        ps.map { case (a, b, s) => (key, a, b, s) }
    }.toDF("key", "id_a", "id_b", "sim")
  }

  /** Approximate near-dup pairs — the 100 TB pre-filter path: bucket
    * by `nBits` hyperplane signature, then run the exact dense kernel
    * within each bucket only. Cross-bucket pairs are missed by
    * construction (recall < 1; identical vectors always share a
    * bucket) — [[embeddingNearDupPairs]] is the exact counterpart and
    * ground truth. Per-bucket memory is the bucket's vectors; at scale
    * raise `nBits` to shrink buckets. */
  def lshNearDupPairs(
      corpus: DataFrame,
      idCol: Column,
      vecCol: Column,
      threshold: Double,
      dim: Int,
      nBits: Int = 8,
      roundDigits: Int = 5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(idCol.cast("long").as("id"), vecCol.as("vec"),
        hyperplaneSignatureFixed(vecCol, nBits, dim).as("bucket"))
      .as[(Long, Array[Float], Long)]
      .groupByKey(_._3)
      .flatMapGroups { (_, it) =>
        val rows = it.map { case (id, v, _) => (id, v, normOf(v)) }.toArray
        pairsWithin(rows, threshold, roundDigits)
      }
      .toDF("id_a", "id_b", "sim")
  }

  /** Driver-side replica of [[graft.functions.PortableHash.phash]]
    * (60-bit from the leading 15 hex of MD5) — spec-pinned to stay
    * bit-identical with the Column expression. */
  private[operators] def phashLocal(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }

  /** `nBits`-bit random-hyperplane signature of a `dim`-dimensional
    * vector: bit i = sign of the dot product with a deterministic
    * pseudo-random ±1 hyperplane derived from portable hashes of
    * (d, i). The ±1 matrix is data-independent, so it is built once
    * on the driver and the per-row work becomes `nBits` codegen'd
    * native dot products against sign-vector literals. */
  def hyperplaneSignatureFixed(vec: Column, nBits: Int, dim: Int): Column = {
    val bits = (0 until nBits).map { i =>
      val signs = Array.tabulate(dim)(d =>
        if (phashLocal(s"$d#$i") % 2 == 0) 1.0f else -1.0f)
      when(dotF(vec, typedlit(signs)) >= 0, shiftleft(lit(1L), i))
        .otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019): for every
    * `left` vector, its best `right` match scored by the RATIO margin
    * — cosine divided by the mean of the k-NN average cosines in BOTH
    * directions — which cancels the hubness that makes raw cosine
    * thresholds unusable across corpora. Emits one row per left
    * vector: `(qid, vec_id, sim, margin, accepted)` with
    * `accepted = margin >= threshold`.
    *
    * Determinism across engines: cosines go fixed-point
    * (`floor(cos·1e6)` — left-to-right [[graft.functions.DotProduct]]
    * order matches the oracle's `list_sum`) BEFORE the top-k windows,
    * so the directional sums are exact integer sums and the margin is
    * one double division of identical integers. Rows whose
    * denominator is ≤ 0 (pathological all-negative neighborhoods)
    * are dropped rather than emitting engine-dependent ±Inf.
    *
    * Scale shape: the pair generation here is the brute-force kernel
    * (`left` broadcast — the query side is small by construction);
    * at corpus scale the SAME margin arithmetic consumes any
    * candidate generator ([[Ivf.search]]) since it only
    * needs each pair's fixed-point cosine and the per-side top-k
    * sums. Both windows partition on ONE key each and
    * WindowGroupLimit prunes them. */
  def bitextMarginPairs(left: DataFrame, right: DataFrame, k: Int,
      threshold: Double): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    val q = left.withColumn("qnorm", norm(col("qvec")))
    val c = right.withColumn("vnorm", norm(col("embedding")))
    val sims = c.join(broadcast(q), lit(true))
      .select(col("qid"), col("vec_id"),
        floor(cosineWithNorms(col("qvec"), col("embedding"),
          col("qnorm"), col("vnorm")) * 1000000.0d).cast("long").as("s6"))
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("s6").desc, col("vec_id"))
    val wb = Window.partitionBy(col("vec_id"))
      .orderBy(col("s6").desc, col("qid"))
    val ranked = sims
      .withColumn("rf", row_number().over(wf))
      .withColumn("rb", row_number().over(wb))
    val fwd = ranked.where(col("rf") <= k)
      .groupBy(col("qid")).agg(sum(col("s6")).as("sf"))
    val bwd = ranked.where(col("rb") <= k)
      .groupBy(col("vec_id")).agg(sum(col("s6")).as("sb"))
    ranked.where(col("rf") === 1)
      .join(fwd, "qid").join(bwd, "vec_id")
      .where(col("sf") + col("sb") > 0)
      .select(col("qid"), col("vec_id"),
        round(col("s6") / 1000000.0d, 6).as("sim"),
        round((col("s6") * (2L * k)).cast("double") /
          (col("sf") + col("sb")), 6).as("margin"))
      .withColumn("accepted", col("margin") >= threshold)
  }
}
