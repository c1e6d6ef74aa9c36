package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BPE tokenizer training (Sennrich et al. 2016): count every
  * adjacent symbol pair across the corpus weighted by word frequency,
  * merge the top pair into a new symbol, recount.
  *
  * Scale design (100 TB corpus): occurrences collapse to the DISTINCT
  * word vocabulary first (one map-side-combinable groupBy — Zipf
  * makes the vocabulary tiny relative to the token stream), then
  * pairs explode from the VOCABULARY, never from raw occurrences: a
  * word seen a billion times contributes its pairs once, carried by
  * an integer weight. Pair rows are 2-char strings + longs — no text
  * amplification past the word collapse. The iterative trainer
  * ([[train]]) keeps the same shape per round: every count step runs
  * over the vocabulary segmentation, the argmax collects ONE row to
  * the driver (bounded metadata, the PQ-codebook convention), and the
  * merge application is a per-row array fold — no shuffle at all.
  * Loop state is `localCheckpoint`ed per round (the
  * connectedComponents convention) so the plan stays O(1) deep.
  */
object Bpe {

  /** A trained tokenizer: `merges` = (rank, a, b, n) in training
    * order; `vocab` = (word, freq, toks) — every corpus word with its
    * final segmentation after all merges. Encoding corpus text is a
    * word-level join against `vocab`. */
  final case class BpeModel(merges: DataFrame, vocab: DataFrame)

  /** One-pass, left-to-right, non-overlapping application of merge
    * (a,b) → ab to a token array, as a fold: append each token unless
    * it is `b` and the accumulator's last token is an unconsumed `a`.
    * The fold's "last token just became ab" state makes it exactly
    * the textbook single pass — a freshly merged `ab` can never be
    * re-consumed as the `a` of the same pass. */
  private def applyMerge(toks: Column, a: String, b: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, x) => when((size(acc) > 0)
          .and(element_at(acc, -1) === lit(a)).and(x === lit(b)),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Train `nMerges` BPE merges on the corpus (character-level start,
    * no end-of-word marker — the in-engine demonstration keeps the
    * symbol alphabet printable so the SQL oracle can replay it).
    * Deterministic: the argmax breaks ties on highest count, then
    * (a, b) ascending; training stops early when no pair occurs
    * twice. */
  def train(docs: DataFrame, textCol: Column, nMerges: Int): BpeModel = {
    require(nMerges > 0, s"need nMerges > 0, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(split(textCol, " ")).as("word"))
      .where(length(col("word")) >= 1)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    var seg = wc.select(col("word"), col("freq"),
      transform(sequence(lit(1), length(col("word"))),
        i => col("word").substr(i, lit(1))).as("toks"))
      .localCheckpoint()
    val learned = scala.collection.mutable.ArrayBuffer.empty[
      (Int, String, String, Long)]
    var done = false
    while (learned.size < nMerges && !done) {
      val top = seg.where(size(col("toks")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .where(col("n") >= 2)
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        learned += ((learned.size + 1, a, b, n))
        val next = seg.select(col("word"), col("freq"),
          applyMerge(col("toks"), a, b).as("toks")).localCheckpoint()
        seg.unpersist(blocking = false)
        seg = next
      }
    }
    BpeModel(learned.toSeq.toDF("rank", "a", "b", "n"), seg)
  }

  /** Top `topK` adjacent character pairs: `pair`, `n` (occurrences
    * across the corpus, weighted by word frequency — a pair occurring
    * twice in one word counts twice), `n_words` (distinct words
    * containing the pair). Ties break on `pair` ascending, so the
    * cut at `topK` is deterministic. Words shorter than 2 characters
    * have no pairs and drop out naturally. */
  def mergePairs(docs: DataFrame, textCol: Column, topK: Int): DataFrame = {
    require(topK > 0, s"need topK > 0, got $topK")
    val wc = docs
      .select(explode(split(textCol, " ")).as("word"))
      .where(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    wc
      .select(col("word"), col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("n"),
        count_distinct(col("word")).as("n_words"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }
}
