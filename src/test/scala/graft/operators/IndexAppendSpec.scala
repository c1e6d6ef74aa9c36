package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins incremental append to a persisted IVF index: after
  * appendPersisted, the index serves the UNION — probing every
  * cluster recovers exact brute force over old+new — and append cost
  * never touches the already-indexed rows (the new files hold only
  * the batch). */
class IndexAppendSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def half(parity: Int) = emb.where(col("vec_id") % 2 === parity)

  test("IVF: append then probe-all search equals brute force over the union") {
    val path = java.nio.file.Files.createTempDirectory("ivf-append")
      .resolve("idx").toString
    val index = Ivf.build(half(0), col("vec_id"), col("embedding"), k = 8)
    Ivf.persist(index, path)
    Ivf.appendPersisted(spark, path, half(1), col("vec_id"),
      col("embedding"))
    assert(spark.read.parquet(path).count() === emb.count())
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Ivf.searchAt(spark, path, queries, topK = 10, nProbe = 8)
    val exact = Similarity.bruteForceTopK(queries, emb, k = 10)
    assert(got.select("qid", "vec_id")
      .exceptAll(exact.select("qid", "vec_id")).count() === 0)
    spark.catalog.clearCache()
  }

  test("IVF: appended files hold only the batch (old files untouched)") {
    val path = java.nio.file.Files.createTempDirectory("ivf-append")
      .resolve("idx").toString
    val index = Ivf.build(half(0), col("vec_id"), col("embedding"), k = 8)
    Ivf.persist(index, path)
    val before = spark.read.parquet(path)
      .select(input_file_name()).distinct().collect().map(_.getString(0))
      .toSet
    Ivf.appendPersisted(spark, path, half(1), col("vec_id"),
      col("embedding"))
    val after = spark.read.parquet(path)
      .select(col("id"), input_file_name().as("f"))
    // every pre-append file survives byte-identical membership-wise:
    // the old half still reads from the old files only
    assert(before.subsetOf(
      after.select(col("f")).distinct().collect().map(_.getString(0)).toSet))
    val oldRowsInNewFiles = after
      .where(col("id") % 2 === 0 && !col("f").isin(before.toSeq: _*))
      .count()
    assert(oldRowsInNewFiles === 0L)
    spark.catalog.clearCache()
  }
}
