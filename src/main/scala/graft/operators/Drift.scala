package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus drift monitoring: per-slice KL divergence of the unigram
  * distribution against the whole-corpus reference — the "did this
  * source / this ingest day / this crawl snapshot shift vocabulary?"
  * check a continuously-fed training pipeline runs before admitting a
  * new batch into the mix (the observability twin of p6's mixture
  * *control*: p6 changes the weights, t14 tells you when you need to).
  *
  * KL(P_slice ‖ P_corpus) = Σ_tok p·ln(p/q) needs NO smoothing by
  * construction: the reference aggregates over all slices, so any
  * token seen in a slice has corpus count ≥ its slice count, and
  * tokens absent from the slice contribute exactly 0.
  *
  * Arithmetic discipline (the t9/t11/t13 convention): each per-token
  * term goes FIXED-POINT — `cnt · floor(1e6 · ln((cnt·gtot)/(gcnt·tot)))`
  * — before summation, so per-slice totals are exact BIGINT sums,
  * partition-order-invariant and bit-reproducible by a SQL oracle.
  *
  * Scale shape: ONE shuffle builds per-(slice,tok) counts; the corpus
  * reference is a map-side-combinable re-aggregation of that table
  * (never a second pass over raw occurrences — a Zipf-hot token
  * collapses once per slice before the global sum); the tok-keyed
  * join of slice counts against corpus counts is the only other
  * shuffle; per-slice totals and the 1-row corpus total ride
  * broadcasts. Cardinality after the first shuffle is bounded by
  * |slices| × |vocab|, never by corpus size. Where vocabulary itself
  * is unbounded (100 TB web text), swap `tok` for a hashed bucket
  * (`pmod(hash(tok), 4096)` — p13's technique) and the same plan
  * computes a bucketed-KL lower bound with fixed cardinality; the
  * exact-token form here is what a SQL oracle can replay portably.
  */
object Drift {

  /** One row per slice: (slice, n_tokens, kl_nats) where kl_nats is
    * the fixed-point KL sum divided back into nats, rounded to 6
    * places. Slices with a distribution identical to the corpus score
    * ~0; higher = more divergent. */
  def unigramKl(docs: DataFrame, sliceCol: Column, textCol: Column): DataFrame = {
    // materialized once (Dedup.share): four consumers
    // (scoring join, slice totals, corpus counts, corpus total) would
    // otherwise each replay the scan + token explode + first shuffle —
    // AQE's exchange reuse only catches the bit-identical subtrees
    val st = Dedup.share(docs.select(sliceCol.as("slice"),
        explode(split(textCol, " ")).as("tok"))
      .groupBy(col("slice"), col("tok"))
      .agg(count(lit(1)).as("cnt")))
    val sTot = st.groupBy(col("slice")).agg(sum(col("cnt")).as("tot"))
    val gTok = st.groupBy(col("tok")).agg(sum(col("cnt")).as("gcnt"))
    val gTot = sTot.agg(sum(col("tot")).as("gtot"))
    st.join(gTok, Seq("tok"))
      .join(broadcast(sTot), Seq("slice"))
      .crossJoin(broadcast(gTot))
      .select(col("slice"), col("tot"),
        (col("cnt") * floor(log(
          (col("cnt").cast("double") * col("gtot").cast("double")) /
            (col("gcnt").cast("double") * col("tot").cast("double"))) *
          1000000.0d).cast("long")).as("term_fp"))
      .groupBy(col("slice"), col("tot"))
      .agg(sum(col("term_fp")).as("_s"))
      .select(col("slice"), col("tot").as("n_tokens"),
        round(col("_s").cast("double") / 1000000.0d / col("tot"), 6)
          .as("kl_nats"))
  }
}
