package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DotProduct.dotF

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication by clustering embeddings with k-means, then dropping
  * every document whose cosine similarity to an EARLIER document in
  * the same cluster meets the threshold. "Earlier" is the document id
  * order — the parallel variant the released SemDeDup implementation
  * uses (each point compares against all cluster peers of lower
  * index), which needs no sequential greedy pass: a point is dropped
  * iff ANY lower-id τ-neighbor exists, kept otherwise. Two kept
  * points in one cluster are therefore never τ-similar (the earlier
  * would have dominated the later), i.e. the kept set is an
  * independent set under within-cluster τ-similarity.
  *
  * Scale shape: the coarse quantizer trains on [[Ivf.build]]'s
  * bounded hash-stride sample (constant-size job), one map-side scan
  * assigns every vector, and the dense cosine kernel runs only WITHIN
  * clusters — one shuffle keyed by cluster id, each task a
  * |cluster|² codegen'd dot-product block. SemDeDup's own premise is
  * k ∝ corpus size so clusters stay bounded; a degenerate
  * mega-cluster (above `maxClusterSize`) is routed through the
  * [[Similarity.embeddingNearDupPairsByKey]] triangle-blocked kernel
  * instead — per-task memory stays 2·|cluster|/nBlocks vectors, so
  * semantic dedup still happens exactly where the quadratic
  * self-join would have blown up. Norms are computed per row on each
  * side BEFORE the self-join, not once per pair.
  */
object SemDedup {

  /** Per-document report: (vec_id, cid, kept). Deterministic — the
    * quantizer is [[Ivf.build]]'s (seeded from first-k ids, fixed
    * Lloyd rounds, decimal means), and the keep rule is pure id
    * arithmetic.
    *
    * The corpus assignment materializes once, through
    * [[Ivf.build]]'s [[Dedup.share]], for its four consumers: the
    * cluster sizes, both self-join sides and the output spine.
    *
    * `maxClusterSize` is the d4v mega-bucket guard with a working
    * fallback (round-5 verdict ask #3): a degenerate quantizer (or
    * pathological data) collapsing most vectors into one cluster
    * would make the flat self-join kernel quadratic in the corpus, so
    * clusters above the cap run the triangle-blocked dense kernel
    * ([[Similarity.embeddingNearDupPairsByKey]]; `megaBlocks` is the
    * per-cluster block knob — grow it ∝ √|cluster| to hold task
    * memory constant) instead of being silently skipped. The fallback
    * rounds cosines at 9 decimals before the τ cut (the kernel's
    * reproducible-cut convention) where the self-join compares raw
    * doubles — a divergence window of 5e-10 around τ. */
  def report(corpus: DataFrame, idCol: Column, vecCol: Column,
      kClusters: Int = 16, tau: Double = 0.7,
      iters: Int = 2, trainSampleCap: Int = 4096,
      maxClusterSize: Long = 1L << 20, megaBlocks: Int = 16): DataFrame = {
    val ivf = Ivf.build(corpus, idCol.cast("long"), vecCol,
      kClusters, iters, trainSampleCap)
    val rows = ivf.assigned
      .withColumn("nv", sqrt(dotF(col("vec"), col("vec"))))
    val sizes = rows.groupBy(col("cid"))
      .agg(count(lit(1)).as("_sz"))
    val small = sizes.where(col("_sz") <= maxClusterSize).select(col("cid"))
    val pairable = rows.join(small, Seq("cid"))
    val left = pairable.select(col("cid"), col("id").as("id_a"),
      col("vec").as("va"), col("nv").as("na"))
    val right = pairable.select(col("cid"), col("id").as("id_b"),
      col("vec").as("vb"), col("nv").as("nb"))
    val smallDominated = left.join(right, Seq("cid"))
      .where(col("id_a") < col("id_b"))
      // zero-norm guard: 0/0 = NaN, and Spark orders NaN ABOVE every
      // value, so `NaN >= tau` would mark every pair touching a
      // zero vector (empty/padded doc) as dominated — a zero vector
      // is similar to nothing, never a duplicate
      .where(col("na") > 0 && col("nb") > 0)
      .where(dotF(col("va"), col("vb")) / (col("na") * col("nb")) >= tau)
      .select(col("cid"), col("id_b").as("id"))
    // Mega-cluster fallback: the triangle-blocked kernel within each
    // oversized cluster (its pair kernel NaN-skips zero norms — the
    // same guard as above). id_b of any (a < b, sim ≥ τ) pair is
    // dominated, exactly the rule the self-join applies.
    val big = sizes.where(col("_sz") > maxClusterSize).select(col("cid"))
    val megaDominated = Similarity.embeddingNearDupPairsByKey(
        rows.join(big, Seq("cid")), col("cid"), col("id"), col("vec"),
        tau, roundDigits = 9, nBlocks = megaBlocks)
      .select(col("key").cast("int").as("cid"), col("id_b").as("id"))
    val dominated = smallDominated.unionByName(megaDominated)
      .distinct()
      .withColumn("dom", lit(true))
    rows.select(col("id"), col("cid"))
      .join(dominated, Seq("cid", "id"), "left")
      .select(col("id").as("vec_id"), col("cid"),
        col("dom").isNull.as("kept"))
  }
}
