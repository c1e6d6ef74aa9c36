package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Distributed BM25 lexical retrieval — the term-frequency half of a
  * retrieval stack, complementing the embedding family
  * ([[Similarity]], [[Ivf]], [[Pq]], [[IvfPq]]). Okapi BM25 with the
  * Lucene idf variant: for query term t and document D,
  *
  * {{{
  *   idf(t)      = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))
  *   score(t, D) = idf(t) * tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
  * }}}
  *
  * summed over the DISTINCT query terms (documented divergence from
  * engines that weight repeated query terms; deterministic and the
  * common default).
  *
  * Scale design (100 TB corpus):
  *  - [[build]] tokenizes the corpus ONCE: per-(term, doc) counts are
  *    the only aggregation over the token stream; document lengths
  *    derive from those counts (sum of tf per doc) and are
  *    DENORMALIZED INTO the postings rows, so serving never joins a
  *    per-document table.
  *  - corpus-global scalars (N, avgdl) ride a 1-row broadcast
  *    cross-join — never a driver collect.
  *  - [[search]] broadcast-joins the (small) query-term set against
  *    postings, aggregates per (qid, doc_id) with map-side partial
  *    combine, and takes top-k per query through the same
  *    WindowGroupLimit rank shape the ANN family uses. One exchange
  *    on (qid, doc_id), one on qid.
  *  - at rest, postings shard into [[Strides]] `stride=` partition
  *    directories by term hash; [[searchAt]] turns the query terms'
  *    strides into a static partition filter, so serving scans only
  *    the shards that can contain a match (plan shape spec-pinned) —
  *    and loads only the metadata sidecar, never the full postings
  *    plan.
  *  - scores round to `roundDigits` BEFORE ranking (ties broken by
  *    doc_id), so results are reproducible across partitionings and
  *    summation orders.
  *
  * Persist/load mirror the ANN sidecar convention: the postings table
  * is the index, idf and the scalar stats live in a `__quantizer`
  * sidecar. The sidecar REPLACES through a staged rename-aside swap
  * (never delete-then-write), and the read path self-recovers from
  * every crash state of that swap, so a serving tier racing a
  * re-persist never fails on a half-written sidecar.
  *
  * Reference scope: the reference engine has no lexical retrieval;
  * this is part of the beyond-reference training-data layer (SURVEY
  * §2.5) motivated by retrieval-based curation pipelines.
  */
object Bm25 {

  /** `postings`: (term, doc_id, tf, dl); `idf`: (term, idf);
    * `stats`: 1 row (n_docs, avgdl). */
  final case class Index(
      postings: DataFrame,
      idf: DataFrame,
      stats: DataFrame,
      k1: Double,
      b: Double)

  /** Whitespace tokens with empties dropped — the t-family
    * convention ([[TextFunctions.tokens]]). */
  private def termsOf(textCol: Column): Column =
    filter(TextFunctions.tokens(textCol), t => length(t) > 0)

  /** At-rest postings shard count: terms hash into this many
    * `stride=` partition directories (the [[NearDupIndex]] layout),
    * so serving reads only the strides the query terms land in. */
  val Strides = 64

  private def strideOf(term: Column): Column =
    pmod(xxhash64(term), lit(Strides.toLong))

  /** The distinct (qid, term) pairs of a query set. */
  private def qtermsOf(queries: DataFrame): DataFrame =
    queries.select(col("qid"),
      explode(termsOf(col("qtext"))).as("term")).distinct()

  /** (stats, idf) from a postings frame: the corpus-statistics
    * formulas of [[build]]. */
  private def statsIdfOf(postings: DataFrame): (DataFrame, DataFrame) = {
    val docLens = postings.select(col("doc_id"), col("dl")).distinct()
    val stats = docLens.agg(
      count(lit(1)).as("n_docs"),
      coalesce(avg(col("dl")), lit(0.0)).as("avgdl"))
    val idf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df")) // one posting row per (term, doc)
      .crossJoin(broadcast(stats.select(col("n_docs"))))
      .select(col("term"),
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))).as("idf"))
    (stats, idf)
  }

  /** Index `docs`. Zero-token documents are excluded from the corpus
    * statistics (N, avgdl) as well as the postings — they can never
    * match a term. */
  def build(docs: DataFrame, idCol: Column, textCol: Column,
      k1: Double = 1.2, b: Double = 0.75): Index = {
    val perDocTf = docs.select(idCol.as("doc_id"),
        explode(termsOf(textCol)).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val docLens = perDocTf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("dl"))
    val postings = perDocTf.join(docLens, Seq("doc_id"))
    val (stats, idf) = statsIdfOf(postings)
    Index(postings, idf, stats, k1, b)
  }

  /** Top-k documents per query: (qid, doc_id, score, rank), ordered.
    * `queries` must carry `qid` and `qtext`. */
  def search(index: Index, queries: DataFrame, topK: Int,
      roundDigits: Int = 5): DataFrame =
    scoreRank(index, qtermsOf(queries), topK, roundDigits)

  private def scoreRank(index: Index, qterms: DataFrame, topK: Int,
      roundDigits: Int): DataFrame = {
    val contrib = broadcast(qterms)
      .join(index.postings, Seq("term"))
      .join(broadcast(index.idf), Seq("term"))
      .crossJoin(broadcast(index.stats.select(col("avgdl"))))
      .select(col("qid"), col("doc_id"),
        (col("idf") * (col("tf") * (index.k1 + 1)) /
          (col("tf") + lit(index.k1) *
            (lit(1.0 - index.b) + lit(index.b) * col("dl") / col("avgdl"))))
          .as("c"))
    val scored = contrib.groupBy(col("qid"), col("doc_id"))
      .agg(round(sum(col("c")), roundDigits).as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= topK)
      .withColumn("rank", col("rank").cast("long"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Write the at-rest index: postings as the data table (identity
    * column stored as `id` — the at-rest convention every persisted
    * index shares), idf + stats in a metadata sidecar (staged swap —
    * [[writeMeta]]). */
  def persist(index: Index, path: String): Unit = {
    index.postings.withColumnRenamed("doc_id", "id")
      .withColumn("stride", strideOf(col("term")))
      // co-locate each stride before partitionBy: one file per stride
      // per batch, not one per task per stride
      .repartition(col("stride"))
      .write.mode("overwrite").partitionBy("stride").parquet(path)
    writeMeta(index.postings.sparkSession, path, index)
  }

  /** The at-rest postings of `strides` (a static partition filter),
    * layout column `stride` dropped. */
  private def atRestPostings(spark: SparkSession, path: String,
      strides: Seq[Long]): DataFrame =
    spark.read.parquet(path)
      .where(col("stride").isInCollection(strides))
      .drop("stride")
      .withColumnRenamed("id", "doc_id")

  /** Serve a [[persist]]ed index from the path alone, reading ONLY
    * the stride directories the query terms hash into: the distinct
    * query-term strides (≤ [[Strides]] values — bounded index
    * metadata) become a static partition filter, so the scan skips
    * every shard no query term lands in. The [[Ivf.searchPersisted]]
    * pattern applied to lexical retrieval. Only the metadata sidecar
    * loads eagerly — the unpruned postings plan is never built. */
  def searchAt(spark: SparkSession, path: String, queries: DataFrame,
      topK: Int, roundDigits: Int = 5): DataFrame = {
    val (meta, k1, b) = loadSidecar(spark, path)
    val qterms = qtermsOf(queries)
    val strides = qterms
      .select(strideOf(col("term")).as("s")).distinct()
      .collect().map(_.getLong(0))
    scoreRank(Index(
      atRestPostings(spark, path, strides.toSeq),
      meta.select(col("term"), col("idf")),
      meta.select(col("n_docs"), col("avgdl")).limit(1), k1, b),
      qterms, topK, roundDigits)
  }

  // ---- metadata sidecar: staged swap + self-recovering reads ------

  private def fsOf(spark: SparkSession, p: String): FileSystem =
    FileSystem.get(new java.net.URI(p),
      spark.sparkContext.hadoopConfiguration)

  /** Replace the sidecar via rename-aside: write staged, move live to
    * `__old`, promote staged, drop `__old`. Every crash state leaves
    * either the live directory or a recoverable breadcrumb that
    * [[recoverMeta]] (invoked lazily by the read path) promotes — a
    * reader never permanently observes a missing or half-written
    * sidecar. */
  private def writeMeta(spark: SparkSession, path: String,
      index: Index): Unit = {
    val mp = Ivf.quantizerPath(path)
    val staged = mp + "__staging"
    index.idf
      .crossJoin(broadcast(index.stats))
      .select(col("term"), col("idf"), col("n_docs"), col("avgdl"),
        lit(index.k1).as("k1"), lit(index.b).as("b"))
      .coalesce(1) // vocabulary-sized metadata: one small file
      .write.mode("overwrite").parquet(staged)
    val fs = fsOf(spark, mp)
    val live = new HPath(mp)
    val old = new HPath(mp + "__old")
    fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"cannot move aside BM25 metadata $mp")
    if (!fs.rename(new HPath(staged), live)) {
      if (fs.exists(old)) fs.rename(old, live) // roll back
      throw new java.io.IOException(s"cannot swap BM25 metadata at $mp")
    }
    fs.delete(old, true)
  }

  /** Restore a readable sidecar after a [[writeMeta]] crash: a
    * COMPLETE staged copy (staging is fully written before any
    * rename) is promoted; otherwise the moved-aside previous sidecar
    * is restored. No-op when the live sidecar exists. */
  private def recoverMeta(spark: SparkSession, path: String): Unit = {
    val mp = Ivf.quantizerPath(path)
    val fs = fsOf(spark, mp)
    val live = new HPath(mp)
    if (fs.exists(live)) return
    val staged = new HPath(mp + "__staging")
    val old = new HPath(mp + "__old")
    if (fs.exists(staged)) { fs.rename(staged, live); fs.delete(old, true) }
    else if (fs.exists(old)) fs.rename(old, live)
  }

  /** Load the metadata sidecar (idf rows + stats + k1/b), recovering
    * from an interrupted swap if needed. */
  private def loadSidecar(spark: SparkSession,
      path: String): (DataFrame, Double, Double) = {
    val mp = Ivf.quantizerPath(path)
    if (!fsOf(spark, mp).exists(new HPath(mp))) recoverMeta(spark, path)
    val meta = spark.read.parquet(mp)
    val kb = meta.select(col("k1"), col("b")).limit(1).collect()
    require(kb.nonEmpty, s"no BM25 metadata at $mp")
    (meta, kb.head.getDouble(0), kb.head.getDouble(1))
  }
}
