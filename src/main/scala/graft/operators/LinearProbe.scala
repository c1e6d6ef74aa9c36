package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.functions.DotProduct.dotF

/** In-engine trained logistic-regression probe over an embedding
  * column — the "train a linear probe on the corpus's own vectors"
  * loop a curation pipeline runs for domain/quality gating (t13's
  * Naive Bayes is the token-space twin; this is the embedding-space
  * one), with no ML runtime: each full-batch gradient-descent step is
  * ONE distributed aggregation, the weight vector is driver-held
  * bounded metadata (dim+1 doubles — the PQ-codebook convention), and
  * scoring is a codegen'd dot product against a literal weight array.
  *
  * Arithmetic discipline: per-example gradient contributions go
  * FIXED-POINT — `floor(1e6 · (y−σ(z))·x_i)`, the log-likelihood
  * ASCENT direction exactly as summed (floor is not sign-symmetric,
  * so the sign inside the floor is part of the contract) — before
  * the BIGINT sum,
  * so every step's gradient is partition-order-invariant and training
  * is bit-reproducible run to run (the t9/t11/t13 convention applied
  * to SGD). Scoring emits `floor(1e6·z)` with z accumulated in
  * ascending index order — multiply/add only, no transcendentals —
  * so a SQL oracle reproduces scores bit-for-bit from the dumped
  * weights.
  *
  * Scale shape per step: one scan of the (localCheckpointed) feature
  * frame, a `(dim+1)`-row gradient explode per example collapsing in
  * a map-side-combinable groupBy(i) — shuffle volume is `dim+1` longs
  * per partition, never per row; the weight broadcast is a literal in
  * the plan. Steps are sequential by nature (SGD); `iters` bounds the
  * job count.
  */
object LinearProbe {

  /** `iters` full-batch GD steps from w = 0, learning rate `step`,
    * binary target in {0,1}. Returns dim weights + trailing bias. */
  def train(vecs: DataFrame, vecCol: Column, targetCol: Column,
      dim: Int, iters: Int, step: Double): Array[Double] = {
    require(dim > 0 && iters > 0, s"need dim, iters > 0")
    val base = vecs.select(vecCol.as("x"),
      targetCol.cast("double").as("y")).localCheckpoint()
    val n = base.count().toDouble
    require(n > 0, "empty training input (0/0 would NaN every weight)")
    var w = Array.fill(dim + 1)(0.0d)
    for (_ <- 1 to iters) {
      val wl = typedlit(w.take(dim).toSeq)
      val z = dotF(col("x"), wl) + lit(w(dim))
      val sig = lit(1.0d) / (lit(1.0d) + exp(-z))
      val grads = base
        .select((col("y") - sig).as("d"), col("x"))
        .select(posexplode(concat(
          transform(col("x"), xi => floor(col("d") * xi * 1000000.0d)
            .cast("long")),
          array(floor(col("d") * 1000000.0d).cast("long")))))
        .groupBy(col("pos")).agg(sum(col("col")).as("g_fp"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      w = w.indices.map { i =>
        w(i) + step * grads.getOrElse(i, 0L) / 1000000.0d / n
      }.toArray
    }
    Bridge.unpersistCheckpoint(base)
    w
  }

  /** Score every row with driver-held weights: (id, target, score_fp,
    * pred, correct) where score_fp = floor(1e6·z), pred = z ≥ 0.
    * Pure projection — no shuffle, no join; the caller sorts. */
  def score(vecs: DataFrame, idCol: Column, vecCol: Column,
      targetCol: Column, w: Array[Double]): DataFrame = {
    val dim = w.length - 1
    val z = dotF(vecCol, typedlit(w.take(dim).toSeq)) + lit(w(dim))
    vecs.select(idCol.as("id"), targetCol.cast("long").as("target"),
        floor(z * 1000000.0d).cast("long").as("score_fp"))
      .withColumn("pred", (col("score_fp") >= 0L).cast("long"))
      .withColumn("correct", col("pred") === col("target"))
  }
}
