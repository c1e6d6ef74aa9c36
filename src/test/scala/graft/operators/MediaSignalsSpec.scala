package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Lifecycle pins for the at-rest media signal store (round-15): the
  * oracle proves stored signals equal fresh derivation (mm22/mm23);
  * these prove the store's CONTRACT — append ≡ rebuild bit-for-bit
  * and loud validation. */
class MediaSignalsSpec extends SparkSpec {
  import spark.implicits._

  // signal values derive from the MODEL NAME (not the argument
  // position), so a split corpus derives the same rows as a whole one
  private def frames(models: String*) =
    models.flatMap { m =>
      val i = (m.head - 'a').toLong
      (0 until 3).map(f => (m, f.toLong, i * 100 + f, i * 7 + f))
    }.toDF("model", "frame_idx", "ahash_hi", "ahash_lo")

  private def segs(models: String*) =
    models.map { m =>
      (m, 1L, 9L, (m.head - 'a').toLong * 13, 8L)
    }.toDF("model", "seg_id", "n_frames_seg", "fp_lo", "fp_hi")

  private def tmp() = java.nio.file.Files
    .createTempDirectory("msig-spec").resolve("store").toString

  private def slurp(p: String) =
    (MediaSignals.frames(spark, p).collect().map(_.toSeq).toSet,
      MediaSignals.segs(spark, p).collect().map(_.toSeq).toSet)

  test("append equals rebuild bit-for-bit") {
    val all = tmp()
    MediaSignals.build(spark, all, frames("a", "b", "c", "d"),
      segs("a", "c"))
    val appended = tmp()
    MediaSignals.build(spark, appended, frames("a", "b"), segs("a"))
    MediaSignals.append(spark, appended, frames("c", "d"), segs("c"))
    assert(slurp(all) === slurp(appended))
  }

  test("a container with only one signal kind still appends and reads") {
    val p = tmp()
    MediaSignals.build(spark, p, frames("v1"),
      segs().where(lit(false)))
    MediaSignals.append(spark, p, frames().where(lit(false)), segs("a1"))
    val (f, s0) = slurp(p)
    assert(f.map(_.head) === Set("v1"))
    assert(s0.map(_.head) === Set("a1"))
  }

  test("validation is loud: no meta, model overlap") {
    val bare = tmp()
    frames("x").withColumn("pb", lit(0L))
      .write.partitionBy("pb").parquet(s"$bare/frames")
    val e1 = intercept[IllegalStateException] {
      MediaSignals.frames(spark, bare)
    }
    assert(e1.getMessage.contains("no meta"))
    val p = tmp()
    MediaSignals.build(spark, p, frames("a", "b"), segs("a"))
    // overlap via EITHER table counts (a container ingests once)
    val e2 = intercept[IllegalArgumentException] {
      MediaSignals.append(spark, p, frames("b"), segs())
    }
    assert(e2.getMessage.contains("overlap"))
    val e3 = intercept[IllegalArgumentException] {
      MediaSignals.append(spark, p, frames("z"), segs("a"))
    }
    assert(e3.getMessage.contains("overlap"))
    // the failed appends must not have written anything
    assert(slurp(p)._1.map(_.head) === Set("a", "b"))
  }
}
