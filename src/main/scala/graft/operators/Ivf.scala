package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dotF

/** IVF (inverted-file) approximate nearest neighbor: k-means-lite
  * clustering as the coarse quantizer, then queries probe only their
  * `nProbe` nearest clusters.
  *
  * The 100 TB path: the corpus shuffles ONCE by cluster id at build
  * time ([[persist]] writes one directory per cluster), and a query
  * touches nProbe/k of the data.
  *
  * The quantizer codebook (k centroids, k ≪ corpus) lives on the
  * driver between Lloyd rounds — standard IVF practice, it is the
  * index metadata, not data. Assignment is therefore a pure map-side
  * `greatest(struct(csim, -cid))` argmax over centroid literals: zero
  * joins, zero shuffles, zero windows per iteration (the round-1
  * crossJoin + per-id row_number plan shuffled the full corpus once
  * per Lloyd round). The only shuffle per round is the centroid
  * recomputation groupBy, which partial-aggregates to k·dim rows
  * map-side.
  *
  * Determinism: centroids seed from the first k vectors by id and
  * Lloyd iterations are fixed-count, so builds are reproducible run to
  * run (no RNG).
  */
object Ivf {

  /** `codebook` is the driver-side quantizer: (cid, centroid, norm). */
  final case class Index(
      centroids: DataFrame,
      assigned: DataFrame,
      codebook: Array[(Int, Array[Float], Double)])

  private def simTo(vec: Column, cvec: Column): Column =
    dotF(vec, cvec) /
      (sqrt(dotF(vec, vec)) * sqrt(dotF(cvec, cvec)))

  private[operators] def vnorm(v: Array[Float]): Double = {
    var s = 0.0d; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** Map-side argmax centroid id: max csim, ties to the smallest cid
    * (matching the old row_number(csim desc, cid asc) exactly), NaN
    * csim counts as the maximum (degenerate zero-norm vectors — the
    * rule the old greatest() chain applied). One
    * [[graft.functions.CodebookArgMax]] loop over the codebook held as
    * a reference object: O(1) generated code in k, so the assign
    * projection stays inside whole-stage codegen (the old
    * greatest-over-k-struct chain blew janino's 64 KB method limit at
    * k=16 inside fused scan stages and silently ran interpreted —
    * VERDICT r6 #2). Arithmetic is the identical double sequence
    * (dot / (‖v‖ · ‖c‖)), so assignments are bit-for-bit unchanged. */
  private def argmaxCid(vec: Column,
      codebook: Array[(Int, Array[Float], Double)]): Column =
    graft.functions.Codebook.argMaxCosine(vec, codebook)

  /** Assign each (id, vec) row to its max-cosine centroid — a single
    * narrow projection, no shuffle. Empty codebook (empty corpus) ⇒
    * empty assignment, same schema. */
  private[operators] def assign(vectors: DataFrame,
      codebook: Array[(Int, Array[Float], Double)]): DataFrame =
    if (codebook.isEmpty)
      vectors.where(lit(false)).withColumn("cid", lit(0))
        .select(col("id"), col("vec"), col("cid"))
    else vectors
      .withColumn("cid", argmaxCid(col("vec"), codebook))
      .select(col("id"), col("vec"), col("cid"))

  /** Mean vector per cluster via posexplode — no vector UDAF needed.
    * Partial aggregation reduces to k·dim rows before the shuffle.
    * Decimal accumulation (as in [[Pq]]'s Lloyd): float means via
    * avg(double) are FP-order dependent, so the codebook would differ
    * under repartitioning; decimal sums are exact. decimal(27,12)
    * holds 15 integer digits — embedding components must stay below
    * ~1e15 (the guard in [[collectCodebook]] fails loudly otherwise). */
  private def recompute(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(avg(col("x").cast("decimal(27,12)")).as("m"))
      .groupBy("cid")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s("m").cast("float")).as("cvec"))

  private def collectCodebook(centroids: DataFrame): Array[(Int, Array[Float], Double)] =
    centroids.select(col("cid"), col("cvec")).collect()
      .map { r =>
        val raw = r.getSeq[Any](1)
        if (raw == null || raw.exists(_ == null))
          throw new IllegalStateException(
            s"IVF Lloyd round produced a null centroid mean for cid " +
              s"${r.getInt(0)} — vector components exceed the " +
              "decimal(27,12) range (|x| >= 1e15)?")
        val v = raw.map(_.asInstanceOf[Float]).toArray
        (r.getInt(0), v, vnorm(v))
      }
      .sortBy(_._1)

  /** Build the index: seed = first k vectors by id (TakeOrdered — no
    * global window), `iters` fixed Lloyd rounds.
    *
    * Training is bounded: Lloyd runs over a deterministic hash-stride
    * sample of ~`trainSampleCap` vectors (the same sampling as
    * [[Pq.build]] — quantizer quality saturates at a bounded sample),
    * then ONE full-corpus assign produces the inverted lists, as a
    * plan: a caller that reads them more than once shares them
    * ([[Dedup.share]]) itself, so a build read once (one search, one
    * persist) materializes nothing. Build
    * cost at 100 TB is a constant-size training job plus a single
    * map-side assign scan — no full-corpus scan inside the loop. */
  def build(corpus: DataFrame, idCol: Column, vecCol: Column,
      k: Int, iters: Int = 2, trainSampleCap: Int = 4096): Index = {
    val vectors = corpus.select(idCol.as("id"), vecCol.as("vec"))
    val n = vectors.count()
    // hash-stride, not id-stride (see Pq.build): spreads any id
    // distribution; an empty degenerate sample falls back to the
    // full corpus
    val stride = ((n + trainSampleCap - 1) / trainSampleCap).max(1L)
    var training =
      if (n <= trainSampleCap) vectors
      else vectors.where(pmod(xxhash64(col("id")), lit(stride)) === 0)
    var seeds = training.orderBy(col("id")).limit(k)
      .select(col("vec")).collect()
    if (seeds.isEmpty && n > 0) {
      training = vectors
      seeds = training.orderBy(col("id")).limit(k)
        .select(col("vec")).collect()
    }
    var codebook = seeds.zipWithIndex
      .map { case (r, i) =>
        val v = r.getSeq[Float](0).toArray
        (i + 1, v, vnorm(v))
      }
    (0 until math.max(iters, 1)).foreach { _ =>
      if (codebook.nonEmpty)
        codebook = collectCodebook(recompute(assign(training, codebook)))
    }
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = codebook.toSeq
      .map { case (cid, v, _) => (cid, v) }.toDF("cid", "cvec")
    Index(centroids, assign(vectors, codebook), codebook)
  }

  /** (qid, qvec, cid) probe rows: each query paired with its `nProbe`
    * nearest centroid ids — a per-row sorted slice (no join, no
    * window). The k query·centroid dots come from ONE
    * [[graft.functions.CodebookDots]] loop (O(1) generated code in k —
    * the literal-struct chain this replaces was the [[Pq]]/assign
    * 64 KB janino risk on the query side, VERDICT r6 #2); the
    * normalize/sort/slice over the resulting k-length array are
    * higher-order functions, also O(1) in code size, and run on the
    * (small) query side only. */
  private[operators] def probeRows(queries: DataFrame,
      codebook: Array[(Int, Array[Float], Double)], nProbe: Int): DataFrame = {
    // array_sort ascending over (-csim, cid) = csim desc, cid asc —
    // the same probe order as a csim-desc ranking. NaN csim (a
    // degenerate zero-norm centroid) maps to -∞ so it still sorts
    // FIRST, matching how assign() treats NaN as the maximum — probe
    // order and assignment stay consistent. csim arithmetic is the
    // identical double sequence (dot / (_qn · ‖c‖)) as before.
    val norms = typedlit(codebook.map(_._3).toSeq)
    val cids = typedlit(codebook.map(_._1).toSeq)
    val dots = graft.functions.Codebook.dots(col("qvec"),
      codebook.map(_._2))
    val ranked = array_sort(zip_with(
      zip_with(dots, norms, (d, n) => {
        val c = d / (col("_qn") * n)
        when(isnan(c), lit(Double.NegativeInfinity)).otherwise(-c)
      }),
      cids,
      (nsim, cid) => struct(nsim.as("nsim"), cid.as("cid"))))
    queries
      .withColumn("_qn", sqrt(dotF(col("qvec"), col("qvec"))))
      .select(col("qid"), col("qvec"),
        posexplode(slice(ranked, 1, nProbe)).as(Seq("_p", "probe")))
      .select(col("qid"), col("qvec"), col("probe.cid").as("cid"),
        (col("_p") + 1).cast("long").as("probe_rank"))
  }

  /** Public probe view for a codebook: (qid, qvec, cid) — one row per
    * (query, probed cluster). Used by Verify's oracle-base dump so
    * the DuckDB oracle can recompute the pruned search from the same
    * probe set the query used. */
  def probes(codebook: Array[(Int, Array[Float], Double)],
      queries: DataFrame, nProbe: Int): DataFrame =
    probeRows(queries, codebook, nProbe)
      .select(col("qid"), col("qvec"), col("cid"))

  /** [[probes]] with the probe ORDER kept: (qid, qvec, probe_rank,
    * cid), probe_rank 1 = nearest centroid. A rank-≤-n filter over
    * this table reproduces `probes(_, _, n)` for every n ≤ nProbe —
    * one dump serves a whole nProbe sweep (s16's recall curve). */
  def probesRanked(codebook: Array[(Int, Array[Float], Double)],
      queries: DataFrame, nProbe: Int): DataFrame =
    probeRows(queries, codebook, nProbe)
      .select(col("qid"), col("qvec"), col("probe_rank"), col("cid"))

  /** Join probes against (id, vec, cid) rows and take the per-query
    * top-k (WindowGroupLimit prunes the window). */
  private def scoreProbed(assigned: DataFrame, probes: DataFrame,
      topK: Int, roundDigits: Int): DataFrame = {
    val cands = assigned.join(broadcast(probes), Seq("cid"))
      .where(col("qid") =!= col("id"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    cands
      .withColumn("sim", round(simTo(col("qvec"), col("vec")), roundDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("id").as("vec_id"), col("sim"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  private def emptyResult(queries: DataFrame): DataFrame =
    queries.where(lit(false)).select(col("qid"),
      col("qid").as("vec_id"), lit(0.0d).as("sim"), lit(0L).as("rank"))

  /** Top-k search probing the `nProbe` nearest clusters per query.
    * queries: (qid, qvec). Output matches
    * [[Similarity.bruteForceTopK]]: (qid, vec_id, sim, rank). */
  def search(index: Index, queries: DataFrame, topK: Int,
      nProbe: Int = 2, roundDigits: Int = 5): DataFrame = {
    if (index.codebook.isEmpty) return emptyResult(queries)
    scoreProbed(index.assigned,
      probeRows(queries, index.codebook, nProbe), topK, roundDigits)
  }

  /** Sidecar directory holding the quantizer codebook next to the
    * data (the `__compacting`-style suffix convention): the persisted
    * index is SELF-CONTAINED — a fresh session needs only the path. */
  private[operators] def quantizerPath(path: String): String =
    path.stripSuffix("/") + "__quantizer"

  /** Write the assigned corpus PARTITIONED BY cluster id — the at-rest
    * IVF layout: each cluster is its own partition directory, so a
    * probe-filtered read physically prunes to nProbe/k of the files
    * (the inverted-list property, realized as parquet partition
    * pruning — no custom file format needed). The centroid codebook
    * (k rows — index metadata) lands in a `__quantizer` sidecar, so
    * [[searchAt]] can serve the index with no driver-held handle. */
  def persist(index: Index, path: String): Unit = {
    index.assigned.write.mode("overwrite").partitionBy("cid").parquet(path)
    index.centroids.write.mode("overwrite")
      .parquet(quantizerPath(path))
  }

  /** [[persist]] with PAYLOAD columns co-located in the inverted
    * lists: `payload` = (id, metadata...) joins the assignment by id
    * once at write time, so each cluster directory carries its
    * members' metadata alongside their vectors. This is what makes
    * FILTERED ANN a scan-time operation ([[searchPersisted]]'s
    * `corpusFilter`): the predicate evaluates inside the probed
    * clusters' parquet scan — simple comparisons reach the reader as
    * pushed filters for row-group pruning — instead of as a
    * recall-losing post-filter over an unfiltered top-k, and without
    * any corpus-wide metadata join at query time.
    *
    * LEFT join: a vector with no payload row persists with NULL
    * metadata — it stays reachable by unfiltered search (the
    * [[persist]] invariant: every assigned vector is in the index)
    * and is excluded by any `corpusFilter` predicate (NULL never
    * satisfies a comparison), which is the right default for
    * metadata that lags ingestion. An inner join here would silently
    * drop such vectors from the index entirely.
    *
    * To grow a payload-carrying index use
    * [[appendPersisted]]`(..., payload = Some(...))` — appending
    * WITHOUT payload columns writes schema-mismatched files (filtered
    * search would then see appended rows as NULL-metadata at best or
    * fail analysis at worst, depending on which file the reader
    * samples for schema). */
  def persistWithPayload(index: Index, payload: DataFrame,
      path: String): Unit = {
    index.assigned.join(payload, Seq("id"), "left")
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    index.centroids.write.mode("overwrite")
      .parquet(quantizerPath(path))
  }

  /** Append a new vector batch to a [[persist]]ed index WITHOUT
    * retraining: the batch is assigned with the EXISTING quantizer
    * (one map-side scan over the batch) and its rows land as new
    * files inside the existing cluster directories — FAISS `add`
    * semantics for the parquet layout. Per-batch cost scales with the
    * batch, never the indexed corpus (the [[NearDupIndex]] property,
    * here for ANN). Contract: batch ids are disjoint from indexed
    * ids, and the caller provides exactly-once batch semantics.
    * Appended vectors are quantized by the ORIGINAL codebook;
    * rebuild when the embedding distribution drifts
    * ([[IndexMaintenance]]). Each batch adds one file per touched
    * cluster directory. */
  def appendPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, newVectors: DataFrame, idCol: Column,
      vecCol: Column, payload: Option[DataFrame] = None): Unit = {
    val codebook = loadCodebook(spark, path)
    require(codebook.nonEmpty, s"no quantizer at ${quantizerPath(path)}")
    val assigned =
      assign(newVectors.select(idCol.as("id"), vecCol.as("vec")), codebook)
    // payload-carrying indexes (persistWithPayload) must append with
    // the same payload schema — left join, same missing-row semantics
    payload.fold(assigned)(p => assigned.join(p, Seq("id"), "left"))
      .write.mode("append").partitionBy("cid").parquet(path)
  }

  /** Rebuild the driver-side codebook from a [[persist]]ed index's
    * quantizer sidecar (norms recomputed — they are derived data).
    *
    * Memoized per session and quantizer listing ([[graft.Memo.ofDir]]):
    * every serve call reads it, and a read is a Spark job. A
    * [[persist]] overwrite or an [[IndexMaintenance]] swap changes the
    * listing, so a swapped quantizer never serves a stale codebook (the
    * s19 continuity RebuildSpec pins). The returned array is the CACHED
    * instance, READ-ONLY by contract: an in-place sort/scale would
    * poison later serves. */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession,
      path: String): Array[(Int, Array[Float], Double)] = {
    val qp = quantizerPath(path)
    graft.Memo.ofDir(spark, "ivf.codebook", qp)(
      collectCodebook(spark.read.parquet(qp)))
  }

  /** [[searchPersisted]] with the codebook loaded from the sidecar —
    * the fresh-session entry point: everything needed to serve the
    * index comes from `path`. */
  def searchAt(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, topK: Int, nProbe: Int = 2,
      roundDigits: Int = 5, corpusFilter: Column = lit(true)): DataFrame =
    searchPersisted(spark, path, loadCodebook(spark, path),
      queries, topK, nProbe, roundDigits, corpusFilter)

  /** Search a [[persist]]ed index. The distinct probed cluster ids
    * (≤ k values — index metadata, same size class as the codebook)
    * become a static `cid IN (...)` partition filter, so the scan
    * reads ONLY the probed cluster directories; scoring then proceeds
    * as in [[search]]. `IvfPersistSpec` pins both the pruned-scan
    * plan shape and result parity with the in-memory search.
    *
    * `corpusFilter` is the FILTERED-ANN predicate (over payload
    * columns written by [[persistWithPayload]], or over `id`): it
    * applies to the probed clusters' scan BEFORE scoring — ineligible
    * vectors never reach the similarity math and the top-k is exact
    * over the eligible subset (pre-filtering, not the recall-losing
    * oversample-then-post-filter shape), and simple predicates push
    * down to the parquet reader (spec-pinned). */
  /** The shared serve-path prologue of every persisted search
    * (top-k AND radius — one definition so their eligibility
    * semantics can never diverge): probe the codebook, collect the
    * probed cluster ids into a static partition filter, apply the
    * caller's pre-filter inside the pruned scan. probeRows is a cheap
    * projection over the (small) query side — recomputing it for the
    * cid collect beats leaking a cache entry per search call (nothing
    * here ever unpersists). */
  private def probedEligible(spark: org.apache.spark.sql.SparkSession,
      path: String, codebook: Array[(Int, Array[Float], Double)],
      queries: DataFrame, nProbe: Int,
      corpusFilter: Column): (DataFrame, DataFrame) = {
    val probes = probeRows(queries, codebook, nProbe)
    val probedCids = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0))
    val assigned = spark.read.parquet(path)
      .where(col("cid").isin(probedCids.map(Int.box): _*))
      .where(corpusFilter)
      .select(col("id"), col("vec"), col("cid"))
    (probes, assigned)
  }

  def searchPersisted(spark: org.apache.spark.sql.SparkSession,
      path: String, codebook: Array[(Int, Array[Float], Double)],
      queries: DataFrame, topK: Int, nProbe: Int = 2,
      roundDigits: Int = 5, corpusFilter: Column = lit(true)): DataFrame = {
    if (codebook.isEmpty) return emptyResult(queries)
    val (probes, assigned) = probedEligible(spark, path, codebook,
      queries, nProbe, corpusFilter)
    scoreProbed(assigned, probes, topK, roundDigits)
  }

  /** One-PASS nProbe sweep over a persisted index: the top-k of
    * [[searchAt]] for EVERY budget in `budgets`, tagged `n_probe` —
    * row-identical to running each budget separately (spec-pinned),
    * but each (query, candidate) cosine is computed ONCE against the
    * max-budget probe set; the per-budget result is just a
    * probe_rank ≤ budget filter and re-rank, because a smaller
    * budget's candidate set is a prefix of a larger one's in probe
    * order. Cost: one pruned scan + one scoring join, then a
    * |budgets|-way explode of already-scored 24-byte rows — vs
    * Σ(budget) cluster scans for the loop of individual searches.
    * Probe order behaves exactly as in [[searchAt]]. */
  def searchSweepAt(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, topK: Int, budgets: Seq[Int],
      roundDigits: Int = 5): DataFrame = {
    require(budgets.nonEmpty, "budgets must be non-empty")
    // duplicate budgets would emit duplicated rows for that n_probe
    // (breaking the row-identical-to-searchAt contract) and a
    // non-positive budget silently yields an empty slice — reject
    // both rather than degrade.
    require(budgets.distinct.size == budgets.size,
      s"budgets must be distinct: $budgets")
    require(budgets.forall(_ > 0),
      s"budgets must be positive: $budgets")
    val codebook = loadCodebook(spark, path)
    if (codebook.isEmpty)
      return emptyResult(queries).withColumn("n_probe", lit(0L))
        .select(col("n_probe"), col("qid"), col("vec_id"), col("sim"),
          col("rank"))
    val (probes, assigned) = probedEligible(spark, path, codebook,
      queries, budgets.max, lit(true))
    val w = Window.partitionBy(col("n_probe"), col("qid"))
      .orderBy(col("sim").desc, col("id"))
    assigned.join(broadcast(probes), Seq("cid"))
      .where(col("qid") =!= col("id"))
      .withColumn("sim", round(simTo(col("qvec"), col("vec")), roundDigits))
      .select(col("qid"), col("id"), col("sim"), col("probe_rank"),
        explode(typedlit(budgets.map(_.toLong).sorted)).as("n_probe"))
      .where(col("probe_rank") <= col("n_probe"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("n_probe"), col("qid"), col("id").as("vec_id"),
        col("sim"), col("rank"))
      .orderBy(col("n_probe"), col("qid"), col("rank"))
  }

  /** kNN JOIN: per-vector top-k over a persisted index when the QUERY
    * side is itself corpus-sized — the new-crawl-vs-base-corpus
    * dedup/mining campaign ("for every incoming vector, its k nearest
    * stored neighbors"), where [[searchPersisted]]'s serving shape
    * inverts: probe rows are a pure projection on the big query side
    * (no collect — a corpus-wide query set probes essentially every
    * cluster, so the static cid partition filter buys nothing), the
    * cid match becomes a plain SHUFFLE equi-join (never a broadcast of
    * a corpus-sized probe table), and AQE's skew-join splits hot
    * clusters. Still pre-filterable. The join
    * fan-out is Σ_probed-cluster |A∩cluster| per query — nProbe/k of
    * an all-pairs cross, which is the entire point. */
  def knnJoinAt(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, topK: Int, nProbe: Int = 2,
      roundDigits: Int = 5, corpusFilter: Column = lit(true)): DataFrame = {
    val codebook = loadCodebook(spark, path)
    if (codebook.isEmpty) return emptyResult(queries)
    val probes = probeRows(queries, codebook, nProbe)
    val assigned = spark.read.parquet(path)
      .where(corpusFilter)
      .select(col("id"), col("vec"), col("cid"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("sim").desc, col("id"))
    assigned.join(probes, Seq("cid"))
      .where(col("qid") =!= col("id"))
      .withColumn("sim", round(simTo(col("qvec"), col("vec")), roundDigits))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("qid"), col("id").as("vec_id"), col("sim"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Range (radius) search over a persisted index: EVERY eligible
    * vector with cosine ≥ `minSim` in the probed clusters — the
    * FAISS `range_search` analog (d5's threshold semantics as a
    * serve-path API; top-k asks "the best few", radius asks "all
    * within τ" — the dedup-against-index and recall-sweep question).
    * Identical probed-cluster partition pruning and pre-filter
    * semantics as [[searchPersisted]], but NO per-query
    * window: the cut is a plain filter fused into the scoring
    * projection, so nothing ranks and the only shuffle is the
    * presentation sort. Result size is data-dependent (bounded by the
    * probed clusters' population). Output (qid, vec_id, sim). */
  def searchRadiusAt(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, minSim: Double, nProbe: Int = 2,
      roundDigits: Int = 5, corpusFilter: Column = lit(true)): DataFrame = {
    val codebook = loadCodebook(spark, path)
    if (codebook.isEmpty)
      return emptyResult(queries).select(col("qid"), col("vec_id"),
        col("sim"))
    val (probes, assigned) = probedEligible(spark, path, codebook,
      queries, nProbe, corpusFilter)
    assigned.join(broadcast(probes), Seq("cid"))
      .where(col("qid") =!= col("id"))
      .withColumn("sim", round(simTo(col("qvec"), col("vec")), roundDigits))
      .where(col("sim") >= minSim)
      .select(col("qid"), col("id").as("vec_id"), col("sim"))
      .orderBy(col("qid"), col("sim").desc, col("vec_id"))
  }

  /** The quantizer sidecar as a DataFrame (cid, cvec) — for oracle
    * dumps and drift analytics; [[loadCodebook]] is the driver-side
    * collected form. */
  def quantizerDf(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(quantizerPath(path)).select(col("cid"), col("cvec"))

  /** Per-cluster centroid drift of a [[persist]]ed index — the
    * REBUILD TRIGGER for the append lifecycle: [[appendPersisted]]
    * quantizes new batches with the ORIGINAL codebook, so as the
    * embedding distribution shifts, each cluster's true member mean
    * walks away from its stored centroid and recall decays silently.
    * This measures that walk: drift(c) = 1 − cos(Σ members, stored
    * centroid) per cluster (the member SUM — cosine is scale-free, so
    * no mean division), with `rebuild = drift > threshold`.
    *
    * Exactness discipline: member/centroid components go fixed-point
    * (⌊x·1e7⌋ as long) so the per-(cluster, dim) sums are INTEGER —
    * no float accumulation order — and the three cosine reductions
    * (Σs·c, Σs², Σc²) run in decimal(38,0) (products reach ~1e21);
    * only the final quotient drops to double, behind a round(…, 6).
    *
    * The trigger is RELATIVE — `rebuild = drift > medianMultiple ×
    * median(drift)` — because absolute drift shrinks as clusters
    * fill (at 10× the members the mean is 10× better estimated): a
    * fixed cut that fires at one corpus size is silent at another,
    * while "this cluster drifts ~1.25× worse than the typical one"
    * is the size-free question a reindex scheduler actually asks.
    * The median is the exact interpolated quantile over k values
    * (index metadata — a 1-row broadcast).
    *
    * Scale shape: one map-side-combinable (cid, dim) aggregation over
    * the index scan — k·dim rows after partial agg — joined to the
    * k·dim exploded quantizer; everything after the first agg is
    * index-metadata-sized. An empty cluster (centroid with no
    * members) reports n_members = 0, drift NULL, rebuild false —
    * never dropped (dropping it would hide exactly the cluster most
    * in need of attention). Output: cid, n_members, drift, rebuild.
    */
  def centroidDrift(spark: org.apache.spark.sql.SparkSession,
      path: String, medianMultiple: Double): DataFrame = {
    val sums = spark.read.parquet(path)
      .select(col("cid"), posexplode(col("vec")).as(Seq("j", "x")))
      .groupBy(col("cid"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 10000000.0d).cast("long"))
          .as("s"))
    val ce = quantizerDf(spark, path)
      .select(col("cid"), posexplode(col("cvec")).as(Seq("j", "c")))
      .select(col("cid"), col("j"),
        floor(col("c").cast("double") * 10000000.0d).cast("long").as("c6"))
    val agg = sums.join(ce, Seq("cid", "j"))
      .groupBy(col("cid"))
      .agg(max(col("n")).as("n_members"),
        sum((col("s").cast("decimal(38,0)") * col("c6"))).as("num"),
        sum((col("s").cast("decimal(38,0)") * col("s"))).as("na"),
        sum((col("c6").cast("decimal(38,0)") * col("c6"))).as("nb"))
      // guard: a zero member-sum or zero centroid makes the norm
      // product 0 and ANSI raises on double division by zero — an
      // undefined angle reports as NULL drift, not an error
      .withColumn("drift",
        when(col("na") === 0 || col("nb") === 0, lit(null).cast("double"))
          .otherwise(round(lit(1.0d) - col("num").cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double"))), 6)))
    val med = agg.agg(expr("percentile(drift, 0.5)").as("med"))
    quantizerDf(spark, path).select(col("cid"))
      .join(agg, Seq("cid"), "left")
      .crossJoin(broadcast(med))
      .select(col("cid"),
        coalesce(col("n_members"), lit(0L)).as("n_members"),
        col("drift"),
        coalesce(col("drift") > lit(medianMultiple) * col("med"), lit(false))
          .as("rebuild"))
  }
}
