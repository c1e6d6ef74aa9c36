package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-index lifecycle: a crash at any point of a
  * per-directory compact swap recovers, for the partitioned and the
  * flat layout. */
class IndexMaintenanceSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queries = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("index").toString

  private def cidDirs(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cid="))

  /** Persist an IVF index over the even half, append the odd half in
    * three batches — the tiny-file growth regime. */
  private def grownIvf(): (String, Array[(Int, Array[Float], Double)]) = {
    val base = emb.where(col("vec_id") % 2 === 0)
    val index = Ivf.build(base, col("vec_id"), col("embedding"), k = 8)
    val dir = tmp("ivf-maint")
    Ivf.persist(index, dir)
    Seq(1, 3, 5).foreach { r =>
      Ivf.appendPersisted(spark, dir,
        emb.where(col("vec_id") % 6 === r), col("vec_id"), col("embedding"))
    }
    (dir, index.codebook)
  }

  test("recoverPersisted restores every mid-swap crash state") {
    val (dir, codebook) = grownIvf()
    val expected = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    val ds = cidDirs(dir)
    assert(ds.length >= 2)
    // state A (crash between the two renames): live gone, staged
    // complete — recovery must promote the staged rewrite
    val a = ds.head
    val aStaged = new java.io.File(a.getParent, a.getName + "__compacting")
    assert(a.renameTo(aStaged))
    // state B (crash right after staging): live still present plus a
    // half-written staged copy — recovery must drop the leftovers
    val b = ds(1)
    val bStaged = new java.io.File(b.getParent, b.getName + "__compacting")
    assert(bStaged.mkdir())
    val actions = IndexMaintenance.recoverPersisted(spark, dir)
    assert(actions(a.getName) === "promoted_staged")
    assert(actions(b.getName) === "dropped_leftovers")
    assert(!aStaged.exists() && a.exists())
    assert(!bStaged.exists() && b.exists())
    val after = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    assert(after === expected)
  }

  test("recoverPersisted handles a flat-layout crash (base renamed away)") {
    val index = Pq.build(emb, col("vec_id"), col("embedding"),
      dim = 64, m = 16, k = 16, iters = 3)
    val dir = tmp("pq-recover")
    Pq.persist(index, dir)
    val expected = Pq.searchAt(spark, dir, queries, topK = 5)
      .collect().toSeq
    // crash between the flat compact's two renames: the base itself is
    // gone and the completed rewrite sits in a SIBLING __compacting dir
    val live = new java.io.File(dir)
    val staged = new java.io.File(dir + "__compacting")
    assert(live.renameTo(staged))
    val actions = IndexMaintenance.recoverPersisted(spark, dir)
    assert(actions(".") === "promoted_staged")
    assert(live.exists() && !staged.exists())
    assert(Pq.searchAt(spark, dir, queries, topK = 5)
      .collect().toSeq === expected)
  }
}
