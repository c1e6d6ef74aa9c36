package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted-index lifecycle: per-cluster compaction collapses
  * append-driven file growth without changing results, tombstone
  * deletes never return from ANY search path (direct IVF, IVF-PQ ADC,
  * streamed serving), compaction physically purges them, and a crash
  * at any point of a per-directory swap recovers. */
class IndexMaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queries = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  private def tmp(name: String): String =
    Files.createTempDirectory(name).resolve("index").toString

  private def dataFiles(dir: String): Seq[java.io.File] = {
    val d = new java.io.File(dir)
    if (!d.isDirectory) Seq.empty
    else d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) dataFiles(f.toString)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    }
  }

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

  test("compaction: results identical, per-cluster file count collapsed") {
    val (dir, codebook) = grownIvf()
    val before = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    // 1 persist + 3 appends: clusters hold several small files each
    assert(dataFiles(dir).length > cidDirs(dir).length,
      "append regime should have produced multi-file clusters")
    val compacted = IndexMaintenance.compactPersisted(
      spark, dir, rowsPerFile = 1000000L)
    assert(compacted.nonEmpty)
    // every cluster directory collapsed to a single right-sized file
    cidDirs(dir).foreach { d =>
      assert(dataFiles(d.toString).length === 1,
        s"${d.getName} not collapsed")
    }
    val after = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    assert(after === before)
  }

  test("flat PQ layout: append grows files, compact collapses them, " +
      "results identical, tombstones purged") {
    val base = emb.where(col("vec_id") % 2 === 0)
    val index = Pq.build(base, col("vec_id"), col("embedding"),
      dim = 64, m = 16, k = 16, iters = 3)
    val dir = tmp("pq-maint")
    Pq.persist(index, dir)
    index.coded.unpersist(blocking = false)
    Seq(1, 3, 5).foreach { r =>
      Pq.appendPersisted(spark, dir,
        emb.where(col("vec_id") % 6 === r), col("vec_id"), col("embedding"))
    }
    assert(spark.read.parquet(dir).count() === emb.count(),
      "appended batches should cover the full corpus")
    val before = Pq.searchAt(spark, dir, queries, topK = 5).collect().toSeq
    assert(dataFiles(dir).length > 3,
      "append regime should have produced a multi-file flat table")
    val victim = before.head.getLong(1)
    IndexMaintenance.deletePersisted(spark, dir, Seq(victim).toDF("id"))
    // logical view: tombstone filter takes effect before any rewrite
    val logical = Pq.searchAt(spark, dir, queries, topK = 5).collect().toSeq
    assert(!logical.exists(_.getLong(1) == victim))
    val compacted = IndexMaintenance.compactPersisted(
      spark, dir, rowsPerFile = 1000000L)
    assert(compacted === Seq(dir), "flat layout compacts the base dir")
    assert(dataFiles(dir).length === 1, "flat table not collapsed")
    assert(!new java.io.File(
      IndexMaintenance.tombstonePath(dir)).exists(),
      "tombstone sidecar should clear after compaction")
    // physical purge serves exactly what the logical filter served
    val after = Pq.searchAt(spark, dir, queries, topK = 5).collect().toSeq
    assert(after === logical)
  }

  test("deleted ids never return: direct IVF search") {
    val (dir, codebook) = grownIvf()
    val hits = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3)
    val victims = hits.select(col("vec_id")).distinct()
      .limit(3).as[Long].collect().toSeq
    assert(victims.nonEmpty)
    IndexMaintenance.deletePersisted(spark, dir,
      victims.toDF("id"))
    val after = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3)
    assert(after.where(col("vec_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    // searchAt (sidecar codebook) goes through the same filter
    val at = Ivf.searchAt(spark, dir, queries, topK = 5, nProbe = 3)
    assert(at.where(col("vec_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
  }

  test("deleted ids never return: IVF-PQ ADC, loaded and persisted") {
    val index = IvfPq.build(emb, col("vec_id"), col("embedding"),
      dim = 64, kCoarse = 8, m = 16, k = 16, iters = 3)
    val dir = tmp("ivfpq-maint")
    IvfPq.persist(index, dir)
    val victims = IvfPq.searchPersisted(spark, dir, index, queries,
        topK = 5, nProbe = 3)
      .select(col("vec_id")).distinct().limit(3).as[Long].collect().toSeq
    IndexMaintenance.deletePersisted(spark, dir, victims.toDF("id"))
    // persisted ADC path
    val persisted = IvfPq.searchPersisted(spark, dir, index, queries,
      topK = 5, nProbe = 3)
    assert(persisted.where(col("vec_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    // in-memory ADC over a loadIndex'd coded frame
    val loaded = IvfPq.loadIndex(spark, dir)
    val mem = IvfPq.search(loaded, queries, topK = 5, nProbe = 3)
    assert(mem.where(col("vec_id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    index.coded.unpersist(blocking = false)
  }

  test("compaction physically purges tombstones and clears the sidecar") {
    val (dir, codebook) = grownIvf()
    val victims = Ivf.searchPersisted(spark, dir, codebook,
        queries, topK = 5, nProbe = 3)
      .select(col("vec_id")).distinct().limit(3).as[Long].collect().toSeq
    IndexMaintenance.deletePersisted(spark, dir, victims.toDF("id"))
    val expected = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    IndexMaintenance.compactPersisted(spark, dir, rowsPerFile = 1000000L)
    // sidecar gone, rows physically gone, results unchanged
    assert(!new java.io.File(
      IndexMaintenance.tombstonePath(dir)).exists())
    val raw = spark.read.parquet(dir)
    assert(raw.where(col("id").isin(victims.map(Long.box): _*))
      .count() === 0L)
    val after = Ivf.searchPersisted(spark, dir, codebook,
      queries, topK = 5, nProbe = 3).collect().toSeq
    assert(after === expected)
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
    index.coded.unpersist(blocking = false)
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
