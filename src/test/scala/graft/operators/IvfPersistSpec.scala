package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** At-rest IVF: cluster-partitioned persistence with probe-pruned
  * reads — the scan must touch only the probed cluster directories. */
class IvfPersistSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private lazy val queries = emb.where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  test("persisted search returns exactly the in-memory results") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-persist")
      .resolve("index").toString
    Ivf.persist(index, dir)
    val mem = Ivf.search(index, queries, topK = 5, nProbe = 3)
    val disk = Ivf.searchPersisted(spark, dir, index.codebook,
      queries, topK = 5, nProbe = 3)
    assert(disk.collect().toSeq === mem.collect().toSeq)
  }

  test("searchAt serves the index from the path alone (sidecar codebook)") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-persist3")
      .resolve("index").toString
    Ivf.persist(index, dir)
    // no driver-held handle: codebook comes back from the sidecar,
    // norms recomputed — results must match the in-memory search
    val mem = Ivf.search(index, queries, topK = 5, nProbe = 3)
    val at = Ivf.searchAt(spark, dir, queries, topK = 5, nProbe = 3)
    assert(at.collect().toSeq === mem.collect().toSeq)
  }

  test("filtered search: predicate respected, pushed to the scan, payload inert") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-filtered")
      .resolve("index").toString
    Ivf.persistWithPayload(index,
      emb.select(col("vec_id").as("id"), col("label")), dir)
    val filtered = Ivf.searchAt(spark, dir, queries, topK = 5, nProbe = 3,
      corpusFilter = col("label") < 3)
    // 1. every hit satisfies the predicate (pre-filter, so no
    //    ineligible vector can outrank an eligible one either)
    val labels = emb.select(col("vec_id"), col("label"))
    val bad = filtered.join(labels, Seq("vec_id"))
      .where(col("label") >= 3).count()
    assert(bad === 0L)
    assert(filtered.count() > 0L)
    // 2. the predicate reaches the parquet reader as a pushed filter
    val plan = Ivf.searchPersisted(spark, dir, index.codebook,
      queries.where(col("qid") === 0), topK = 5, nProbe = 2,
      corpusFilter = col("label") < 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(label,3)"),
      s"label predicate not pushed:\n$plan")
    // 3. the payload column is inert: an unfiltered search over the
    //    payload-carrying index equals the plain persisted search
    val unfiltered = Ivf.searchAt(spark, dir, queries, topK = 5, nProbe = 3)
    val mem = Ivf.search(index, queries, topK = 5, nProbe = 3)
    assert(unfiltered.collect().toSeq === mem.collect().toSeq)
  }

  test("radius search = unbounded top-k cut at tau; filters respected") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-radius")
      .resolve("index").toString
    Ivf.persistWithPayload(index,
      emb.select(col("vec_id").as("id"), col("label")), dir)
    val tau = 0.25d
    val radius = Ivf.searchRadiusAt(spark, dir, queries, minSim = tau,
      nProbe = 3)
    // reference: the ranked search with topK = corpus size, cut at tau
    val all = Ivf.searchAt(spark, dir, queries,
        topK = emb.count().toInt, nProbe = 3)
      .where(col("sim") >= tau)
      .select(col("qid"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    assert(radius.collect().toSeq === all.collect().toSeq)
    assert(radius.count() > 0L)
    // corpusFilter pre-filters eligibility exactly as in top-k search
    val filtered = Ivf.searchRadiusAt(spark, dir, queries, minSim = tau,
      nProbe = 3, corpusFilter = col("label") < 3)
    val bad = filtered.join(emb.select(col("vec_id"), col("label")),
      Seq("vec_id")).where(col("label") >= 3).count()
    assert(bad === 0L)
    // no ranking window anywhere in the radius plan
    assert(!radius.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("kNN join equals the broadcast-probes serve on the same queries") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-knn")
      .resolve("index").toString
    Ivf.persist(index, dir)
    // query side = the WHOLE corpus: the shuffle-join plan must
    // return exactly what the serving path returns per query
    val allQ = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qvec"))
    val joined = Ivf.knnJoinAt(spark, dir, allQ, topK = 3, nProbe = 2)
    val served = Ivf.searchAt(spark, dir, allQ, topK = 3, nProbe = 2)
    assert(joined.collect().toSeq === served.collect().toSeq)
    assert(joined.count() > 0L)
  }

  test("probe filter prunes the partitioned scan to probed clusters") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivf-persist2")
      .resolve("index").toString
    Ivf.persist(index, dir)
    // one query, nProbe=2: at most 2 of the 8 cluster directories scan
    val q1 = queries.where(col("qid") === 0)
    val disk = Ivf.searchPersisted(spark, dir, index.codebook,
      q1, topK = 5, nProbe = 2)
    val plan = disk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition filter:\n$plan")
    // the static IN-list prunes the scan to at most the 2 probed cids
    val inList = "PartitionFilters: \\[cid#\\d+ IN \\(([^)]*)\\)".r
      .findFirstMatchIn(plan)
    assert(inList.exists(_.group(1).split(",").length <= 2),
      s"partition filter not pruned to probes:\n$plan")
  }

  test("centroidDrift singles out the cluster whose appends drifted") {
    import spark.implicits._
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-drift")
      .resolve("index").toString
    Ivf.persist(index, dir)
    // baseline: freshly built — member means ARE near the centroids,
    // no cluster should be a >1.25×-median outlier by a wide margin
    val base = Ivf.centroidDrift(spark, dir, medianMultiple = 1.25)
    assert(base.count() === 4L)
    // append a batch that lands in ONE cluster but is strongly
    // shifted off its centroid: take that centroid's members,
    // negate a few tail components (stays closest to the same
    // centroid, but the mean walks)
    val cb = Ivf.loadCodebook(spark, dir)
    val target = cb.head._1
    val members = spark.read.parquet(dir).where(col("cid") === target)
      .select(col("id"), col("vec"))
    val before = spark.read.parquet(dir).groupBy(col("cid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val shifted = members.select((col("id") + 1000000L).as("id"),
      transform(col("vec"),
        (x, i) => when(i >= 48, -x * 3.0f).otherwise(x)).as("vec"))
    Ivf.appendPersisted(spark, dir, shifted, col("id"), col("vec"))
    // the frozen quantizer re-assigns the shifted batch wherever the
    // geometry says — the receiving cluster(s), NOT necessarily the
    // donor, are the ones whose member mean walked
    val receivers = spark.read.parquet(dir).groupBy(col("cid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .filter { case (cid, n) => n > before.getOrElse(cid, 0L) }
      .map(_._1).toSet
    assert(receivers.nonEmpty)
    val drifted = Ivf.centroidDrift(spark, dir, medianMultiple = 1.25)
      .collect().map(r => (r.getInt(0), r.getBoolean(3),
        Option(r.get(2)).map(_.asInstanceOf[Double]).getOrElse(0.0))).toSeq
    val maxDrift = drifted.maxBy(_._3)
    assert(receivers.contains(maxDrift._1),
      s"max-drift cluster ${maxDrift._1} received no appends " +
        s"(receivers $receivers): $drifted")
    assert(maxDrift._2,
      s"the worst-drifted (poisoned) cluster is unflagged: $drifted")
  }

  test("codebook memo: serves the cached instance, bounded at the cap") {
    val index = Ivf.build(emb, col("vec_id"), col("embedding"), k = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivf-memo")
      .resolve("index").toString
    Ivf.persist(index, dir)
    // two loads of an unchanged sidecar serve the SAME cached array
    // (the read-only-by-contract instance — see loadCodebook scaladoc)
    val a = Ivf.loadCodebook(spark, dir)
    val b = Ivf.loadCodebook(spark, dir)
    assert(a eq b, "unchanged sidecar must serve the memoized instance")
    // the memo is bounded: flooding the session with ephemeral keys
    // (the staged-index-path lifecycle of a resident service) evicts
    // the eldest entry and never grows past the cap (ADVICE r15 —
    // unbounded growth leaked k×dim floats per dead path)
    val ns = spark.newSession()
    val held = Ivf.loadCodebook(ns, dir)
    (0 until graft.Memo.Cap).foreach(i =>
      graft.Memo(ns, s"/ephemeral/staged-$i")(Array.empty[Int]))
    // a fresh load after eviction still works (re-reads the sidecar)
    val c = Ivf.loadCodebook(ns, dir)
    assert(!(c eq held),
      "the eldest entry survived a full cap of newer entries")
    assert(c.map(_._1).toSeq === a.map(_._1).toSeq)
  }
}
