package graft.operators

import graft.SparkSpec
import graft.queries.{AdsbQueries, DocQueries}

/** Round-11 (verdict ask #1): every pin the ENGINE creates must be
  * released by the engine — a resident-service caller inherits no
  * cache-catalog entry from running a query. Every way a query holds
  * a frame is an RDD-scoped local checkpoint: [[HammingNN.nearest]]'s
  * eager one over its hash base, and [[Dedup.share]]'s lazy one
  * (index builds included). The ContextCleaner reclaims those blocks
  * when the frame is dropped; none is a cache-catalog entry.
  *
  * Pin: after each query's action completes, the SQL cache catalog is
  * EMPTY and at most a handful of RDD-scoped checkpoint block sets
  * (the results' own, self-reclaiming) survive.
  */
class PinReclaimSpec extends SparkSpec {

  private def run(name: String,
      defs: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame],
      dir: String, maxRddPins: Int): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    defs(name)(spark, dir).queryExecution.toRdd.count()
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$name left a SQL-cache entry a resident service would never reclaim")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= maxRddPins,
      s"$name left ${leaked.size} persistent-RDD block sets (> $maxRddPins)")
  }

  test("mm3 image aHash NN releases its pins") {
    run("mm3_image_ahash", AdsbQueries.defs, "unused", maxRddPins = 2)
  }

  test("mm6 image dHash NN releases its pins") {
    run("mm6_image_dhash", AdsbQueries.defs, "unused", maxRddPins = 2)
  }

  test("mm7 audio fingerprint NN releases its pins") {
    run("mm7_audio_fingerprint", AdsbQueries.defs, "unused", maxRddPins = 2)
  }

  test("mm15 video near-dup releases its pins") {
    run("mm15_video_neardup", AdsbQueries.defs, "unused", maxRddPins = 2)
  }

  test("mm17 curation audit releases its pins") {
    // consumes mm15 internally → its share plus mm15's
    run("mm17_curation_audit", AdsbQueries.defs, "unused", maxRddPins = 4)
  }

  test("d19 chunk NN (banded branch) releases its pins") {
    run("d19_chunk_nn", DocQueries.defs, "/root/testdata/sf0.001",
      maxRddPins = 2)
  }

  test("mm19/mm20/mm21 (round-13 NN composites) release their pins") {
    // mm19: dictionary + NN checkpoint; mm20: shared lattice + NN
    // members share + mm19's hash chain; mm21: shared segment frame
    // + NN checkpoint — all RDD-scoped
    run("mm19_frame_phash", AdsbQueries.defs, "unused", maxRddPins = 2)
    run("mm20_shot_medoids", AdsbQueries.defs, "unused", maxRddPins = 3)
    run("mm21_segment_neardup", AdsbQueries.defs, "unused",
      maxRddPins = 3)
  }

  test("the ADS-B fixture replays leave no SQL-cache entry in a new session") {
    spark.catalog.clearCache()
    val s = spark.newSession()
    Seq("adsb_flight_details", "adsb_event_details_golden",
      "adsb_flight_paths", "adsb_landings_histogram_golden").foreach(q =>
      AdsbQueries.defs(q)(s, "unused").queryExecution.toRdd.count())
    assert(spark.sharedState.cacheManager.isEmpty,
      "an ADS-B query left a SQL-cache entry a resident service never reclaims")
  }

  test("d10c capped index match releases its pins") {
    run("d10c_index_match_capped", DocQueries.defs,
      "/root/testdata/sf0.001", maxRddPins = 3)
  }

  test("s2 in-memory IVF search releases its index build") {
    run("s2_ivf_topk", DocQueries.defs, "/root/testdata/sf0.001",
      maxRddPins = 2)
  }

  test("s7 SemDeDup releases its index build") {
    run("s7_semdedup", DocQueries.defs, "/root/testdata/sf0.001",
      maxRddPins = 2)
  }
}
