package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** BM25 lexical retrieval: scoring sanity against a hand-computed
  * fixture, self-retrieval, and the persisted index served from its
  * path (equal to the in-memory search, stride-pruned scan). */
class Bm25Spec extends SparkSpec {

  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def queriesFrom(d: org.apache.spark.sql.DataFrame, n: Int) =
    d.where(col("doc_id") < n).select(col("doc_id").as("qid"),
      array_join(slice(split(col("text"), " "), 1, 8), " ").as("qtext"))

  test("hand-computed fixture: tf saturation, idf, length normalization") {
    val d = Seq(
      (0L, "apple apple banana"),
      (1L, "apple cherry"),
      (2L, "banana cherry cherry date date date")).toDF("doc_id", "text")
    val index = Bm25.build(d, col("doc_id"), col("text"))
    val q = Seq((100L, "apple date")).toDF("qid", "qtext")
    val rows = Bm25.search(index, q, topK = 3).collect()
    // manual Okapi/Lucene BM25: N=3, avgdl=11/3, k1=1.2, b=0.75
    def idf(df: Int) = math.log(1.0 + (3 - df + 0.5) / (df + 0.5))
    def tfn(tf: Long, dl: Long) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / (11.0 / 3)))
    val exp = Map(
      0L -> idf(2) * tfn(2, 3),              // apple×2 in len-3 doc
      1L -> idf(2) * tfn(1, 2),              // apple×1 in len-2 doc
      2L -> idf(1) * tfn(3, 6))              // date×3 in len-6 doc
    rows.foreach { r =>
      val (doc, score) = (r.getLong(1), r.getDouble(2))
      assert(math.abs(score - exp(doc)) < 1e-5,
        s"doc $doc: got $score expected ${exp(doc)}")
    }
    // rarer term (date, df=1) in the long doc outranks common terms
    assert(rows.head.getLong(1) === 2L)
  }

  test("a unique marker term retrieves its document first; " +
      "results are deterministic") {
    // common filler everywhere + one rare marker per doc: idf must
    // make the marker dominate regardless of the filler overlap
    val d = (0L until 40L).map { i =>
      (i, s"the quick brown fox marker$i " +
        ("filler " * (i.toInt % 7 + 1)).trim)
    }.toDF("doc_id", "text")
    val index = Bm25.build(d, col("doc_id"), col("text"))
    val q = (0L until 40L).map(i => (i, s"marker$i fox")).toDF("qid", "qtext")
    val top1 = Bm25.search(index, q, topK = 1).collect().toSeq
    assert(top1.count(r => r.getLong(0) == r.getLong(1)) === 40)
    assert(Bm25.search(index, q, topK = 1).collect().toSeq === top1)
  }

  test("persist/loadIndex/searchAt round-trip equals in-memory search") {
    val index = Bm25.build(docs, col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("bm25").resolve("index").toString
    Bm25.persist(index, dir)
    val q = queriesFrom(docs, 10)
    val mem = Bm25.search(index, q, topK = 5).collect().toSeq
    assert(Bm25.searchAt(spark, dir, q, topK = 5).collect().toSeq === mem)
  }

  test("searchAt scans only the strides the query terms hash into " +
      "(static partition filter, plan-pinned)") {
    val dir = Files.createTempDirectory("bm25-prune").resolve("index").toString
    Bm25.persist(Bm25.build(docs, col("doc_id"), col("text")), dir)
    val plan = Bm25.searchAt(spark, dir, queriesFrom(docs, 5), topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    // small sets render as IN (...), larger ones as INSET v, v, ...
    val inList = "stride#\\d+ (?:IN \\(([^)]*)\\)|INSET ([^\\]]*))".r
    val hits = inList.findFirstMatchIn(plan)
    assert(hits.nonEmpty, s"no static stride IN-list:\n$plan")
    val n = Option(hits.get.group(1)).getOrElse(hits.get.group(2))
      .split(",").length
    assert(n < Bm25.Strides,
      s"expected a pruned stride set, got all $n of ${Bm25.Strides}")
  }
}
