package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OperatorSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("histogram gap-fill: empty bins surface as NULL rows") {
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 00:20:00")),
      (3L, ts("2024-01-01 02:05:00")))
      .toDF("event_id", "ts")
    val h = Histogram.eventsHistogram(ev, col("ts"), col("event_id"),
      "2024-01-01 00:00:00", "2024-01-01 03:00:00", "hour",
      endExtensionHours = 0).collect()
    assert(h.length === 4)
    assert(h(0).getLong(1) === 2 && h(0).getString(2) === "1,2")
    assert(h(1).isNullAt(1) && h(1).isNullAt(2)) // gap bin: NULL not 0
    assert(h(2).getLong(1) === 1)
    assert(h(3).isNullAt(1))
  }

  test("histogram +23h end extension: date-typed ends covers its full day") {
    // Reference parity (create_public_schema.sql:189): ends passed at
    // day granularity still yields every hour bin of that final day.
    val ev = Seq(
      (1L, ts("2024-01-01 00:10:00")),
      (2L, ts("2024-01-01 23:40:00")))
      .toDF("event_id", "ts")
    val h = Histogram.eventsHistogram(ev, col("ts"), col("event_id"),
      "2024-01-01 00:00:00", "2024-01-01 00:00:00", "hour").collect()
    assert(h.length === 24)
    assert(h(0).getLong(1) === 1)
    assert(h(23).getLong(1) === 1) // 23:00 bin exists and counts
  }

  test("histogram maxIdsPerBin caps ids to the k smallest, counts intact") {
    val ev = Seq(
      (5L, ts("2024-01-01 00:10:00")),
      (1L, ts("2024-01-01 00:20:00")),
      (3L, ts("2024-01-01 00:40:00")),
      (2L, ts("2024-01-01 01:05:00")))
      .toDF("event_id", "ts")
    val h = Histogram.eventsHistogram(ev, col("ts"), col("event_id"),
      "2024-01-01 00:00:00", "2024-01-01 01:00:00", "hour",
      endExtensionHours = 0, maxIdsPerBin = Some(2)).collect()
    assert(h.length === 2)
    assert(h(0).getLong(1) === 3)          // events counts ALL rows
    assert(h(0).getString(2) === "1,3")    // ids capped to 2 smallest
    assert(h(1).getLong(1) === 1 && h(1).getString(2) === "2")
  }

  test("tz histogram bins on Paris wall-clock") {
    // 23:30 UTC on Jan 1 is 00:30 Paris on Jan 2.
    val ev = Seq((1L, ts("2024-01-01 23:30:00"))).toDF("event_id", "ts")
    val h = Histogram.eventsHistogram(ev, col("ts"), col("event_id"),
      "2024-01-02 00:00:00", "2024-01-02 00:00:00", "day",
      Some("Europe/Paris")).collect()
    assert(h.length === 1)
    assert(h(0).getLong(1) === 1)
    // bin labelled at Paris midnight expressed in UTC
    assert(h(0).get(0).toString.startsWith("2024-01-01T23:00"))
  }

  test("peak hour: trailing 60-min frame, latest peak wins ties") {
    val ev = (0 until 5).map(i => Tuple1(ts(f"2024-01-01 10:0$i:00"))).toDF("t")
    val p = PeakHour.peakHours(ev, col("t")).collect()
    assert(p.length === 1)
    assert(p(0).getLong(1) === 5)     // all five within the trailing hour
    // labelled at window midpoint minute of the *last* event: 09:34
    assert(p(0).get(0).toString.startsWith("2024-01-01T09:34"))
  }

  test("peak_hour_all: union is DISTINCT and date bounds are local-day") {
    // The reference's `select * from landings union select * from
    // takeoffs` dedups identical rows — an event present in both
    // streams counts once. Bounds: [Paris day start + 30min, ...).
    val landings = Seq(
      (1L, ts("2024-01-10 10:00:00")),
      (2L, ts("2024-01-10 10:01:00"))).toDF("user_id", "t")
    val takeoffs = Seq(
      (1L, ts("2024-01-10 10:00:00")), // exact duplicate of a landing
      (3L, ts("2024-01-10 10:02:00")),
      (4L, ts("2024-01-07 12:00:00")), // before startdate bound
      (5L, ts("2024-01-22 12:00:00"))) // after enddate bound
      .toDF("user_id", "t")
    val p = PeakHour.peakHoursAll(landings, takeoffs, col("t"),
      "2024-01-08 00:00:00", "2024-01-22 00:00:00").collect()
    assert(p.length === 1)
    // 3 distinct in-bounds events, NOT 4: the duplicate collapsed
    assert(p(0).getLong(1) === 3)
    // boundary: day-start+30min Paris = 23:30 UTC the previous day is
    // INCLUDED, so an event right at the bound counts
    val atBound = Seq((9L, ts("2024-01-07 23:30:00"))).toDF("user_id", "t")
    val pb = PeakHour.peakHoursAll(atBound, atBound.limit(0), col("t"),
      "2024-01-08 00:00:00", "2024-01-22 00:00:00").collect()
    assert(pb.length === 1 && pb(0).getLong(1) === 1)
  }

  test("peak hour day-partitioned frame sees across midnight") {
    val ev = Seq(
      Tuple1(ts("2024-01-01 23:40:00")),
      Tuple1(ts("2024-01-01 23:50:00")),
      Tuple1(ts("2024-01-02 00:10:00"))).toDF("t")
    val p = PeakHour.peakHours(ev, col("t"), tz = "UTC").collect()
    // day 2's peak must count the two borrowed rows from day 1's tail
    val day2 = p.find(_.get(0).toString.startsWith("2024-01-01T23:40")).get
    assert(day2.getLong(1) === 3)
  }

  test("sessionize: gap splits, summary aggregates") {
    val ev = Seq(
      (7L, ts("2024-01-01 10:00:00"), 1L),
      (7L, ts("2024-01-01 10:10:00"), 2L),
      (7L, ts("2024-01-01 11:00:00"), 3L))
      .toDF("user_id", "ts", "event_id")
    val s = Sessionize.sessionSummary(ev, col("user_id"), col("ts"),
      1800L, col("event_id")).orderBy("session_seq").collect()
    assert(s.length === 2)
    assert(s(0).getLong(4) === 2 && s(1).getLong(4) === 1)
  }

  test("transitions: candidate updates the debounce clock even when suppressed") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "a"),
      (1L, ts("2024-01-01 10:10:00"), 2L, "b"), // candidate 1: valid
      (1L, ts("2024-01-01 10:10:30"), 3L, "a"), // cand 2: 30 s after 1 → suppressed
      (1L, ts("2024-01-01 10:11:00"), 4L, "b")) // cand 3: 30 s after 2 → suppressed
      .toDF("user_id", "ts", "event_id", "tp")
    val t = Sessionize.detectTransitions(ev, col("user_id"), col("ts"),
      col("tp") === "b", 60.0, col("event_id")).collect()
    assert(t.length === 1)
  }

  test("jaccard: identical docs similarity 1, hash-join exactness") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w q r"))
      .toDF("doc_id", "text")
    val p = Dedup.jaccardPairs(docs, col("doc_id"), col("text"), 3, 0.5)
      .collect()
    assert(p.length === 1)
    assert(p(0).getLong(0) === 1 && p(0).getLong(1) === 2)
    assert(p(0).getDouble(2) === 1.0)
  }

  test("minhash LSH: exact duplicates always collide in every band") {
    val docs = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "q w e r t y u i"))
      .toDF("doc_id", "text")
    val c = Dedup.minhashCandidates(docs, col("doc_id"), col("text"), 3, 16, 4)
      .collect()
    assert(c.length === 1)
    assert(c(0).getLong(0) === 1 && c(0).getLong(1) === 2)
  }

  test("minhash LSH: bucket-size cap drops mega-buckets") {
    val clones = (1L to 8L).map(i => (i, "a b c d e f g h"))
    val docs = (clones :+ (9L, "q w e r t y u i")).toDF("doc_id", "text")
    val sh = Dedup.shingleRows(docs, col("doc_id"), col("text"), 3)
    val all = Dedup.minhashCandidatesFromShingles(sh, 16, 4).count()
    assert(all === 28) // 8 identical docs → full pair set
    val capped = Dedup.minhashCandidatesFromShingles(sh, 16, 4,
      maxBucketSize = 4).count()
    assert(capped === 0) // the 8-clone bucket exceeds the cap
  }

  test("simhash: identical docs get identical fingerprints") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c d"), (3L, "p q r s"))
      .toDF("doc_id", "text")
    val s = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s(1L) === s(2L))
    assert(s(1L) !== s(3L))
  }

  test("cosine top-k: exact duplicate vector ranks first with sim 1") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.9f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = corpus.where($"vec_id" === 1)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val top = Similarity.bruteForceTopK(q, corpus, k = 2).collect()
    assert(top(0).getLong(1) === 2 && top(0).getDouble(2) === 1.0)
    assert(top(1).getLong(1) === 4)
  }

  test("quantized top-k tracks exact cosine top-k (recall@5 >= 0.8)") {
    // int8 scalar quantization distorts scores but should preserve the
    // neighborhood: recall of s3 vs the float ground truth over the
    // real sf0.001 corpus — whose vectors are unit-norm (checked), so
    // cosine ordering ≡ dot ordering and the two rankings compare.
    import org.apache.spark.sql.functions._
    val nrm = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val norms = nrm.select(Similarity.norm(col("embedding")).as("n"))
      .agg(min("n"), max("n")).collect().head
    assert(math.abs(norms.getDouble(0) - 1) < 1e-5 &&
      math.abs(norms.getDouble(1) - 1) < 1e-5)
    val q = nrm.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(q, nrm, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(q, nrm,
        Similarity.maxAbsScales(nrm, col("embedding")), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall@5 = $recall")
    // determinism: integer scores are exactly reproducible
    val again = Similarity.quantizedTopK(q, nrm,
        Similarity.maxAbsScales(nrm, col("embedding")), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val first = Similarity.quantizedTopK(q, nrm,
        Similarity.maxAbsScales(nrm, col("embedding")), k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(again.toSeq === first.toSeq)
  }

  test("boilerplate report flags docs dominated by corpus-hot grams") {
    // 6 docs share the gram "x y z" (df=6 ≥ 3); doc 10 is ONLY that
    // gram (hot_frac 1.0 → dropped), doc 20 has it amid fresh text
    // (hot_frac < 0.5 → kept), doc 30 shares nothing (0.0). Docs
    // shorter than n tokens emit no grams and are absent.
    val docs = (
      (1L to 5L).map(i => (i, s"x y z filler$i one two three")) ++
        Seq((10L, "x y z"), (20L, "x y z a b c d e f g"),
          (30L, "p q r s t u"), (40L, "too short")))
      .toDF("doc_id", "text")
    val rep = Dedup.boilerplateReport(docs, $"doc_id", $"text",
        n = 3, minDf = 3L, maxHotFrac = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(rep(10L) === ((1L, 1.0, false)))
    assert(rep(20L)._3 === true && rep(20L)._1 === 1L)
    assert(rep(30L) === ((0L, 0.0, true)))
    assert(!rep.contains(40L)) // < n tokens → no grams
    // sharers carry BOTH corpus-hot grams: "x y z" (df 7) and the
    // tail "one two three" (df 5)
    assert(rep(1L)._1 === 2L)
  }

  test("LSH near-dup: subset of exact pairs; identical vectors found") {
    val corpus = Seq(
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.fill(8)(1.0f)),            // exact duplicate of 1
      (3L, Array.tabulate(8)(i => if (i == 0) -1.0f else 1.0f)),
      (4L, Array.fill(8)(-1.0f)))
      .toDF("vec_id", "embedding")
    val lsh = Similarity.lshNearDupPairs(corpus, col("vec_id"),
      col("embedding"), threshold = 0.7, dim = 8, nBits = 6)
    val exact = Similarity.embeddingNearDupPairs(corpus, col("vec_id"),
      col("embedding"), threshold = 0.7)
    assert(lsh.exceptAll(exact).count() === 0) // never invents pairs
    val dup = lsh.where(col("id_a") === 1 && col("id_b") === 2).collect()
    assert(dup.length === 1 && dup(0).getDouble(2) === 1.0)
  }

  test("near-dup never emits self-pairs for duplicated corpus ids") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), // duplicated id
      (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val p = Similarity.embeddingNearDupPairs(corpus, col("vec_id"),
      col("embedding"), threshold = 0.5, nBlocks = 3)
    assert(p.where(col("id_a") === col("id_b")).count() === 0)
  }

  test("jaccard verify is robust to duplicated candidate rows") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"))
      .toDF("doc_id", "text")
    val dupCands = Seq((1L, 2L), (1L, 2L)).toDF("id_a", "id_b")
    val v = Dedup.jaccardVerifyFromShingles(
      Dedup.shingleRows(docs, col("doc_id"), col("text"), n = 3),
      dupCands, threshold = 0.5).collect()
    assert(v.length === 1)
    assert(v(0).getDouble(2) === 1.0) // not inflated past 1 by the dup
  }

  test("exact near-dup block partitioning is block-count invariant") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.01f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.1f, 1.0f)),
      (5L, Array(1.0f, 0.1f)), (6L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    def run(nb: Int) = Similarity.embeddingNearDupPairs(corpus,
      col("vec_id"), col("embedding"), threshold = 0.9, nBlocks = nb)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(run(1) === run(3))
    assert(run(1) === run(8)) // more blocks than rows still exact
    assert(run(1).nonEmpty)
  }

  test("keepOnePerGroup keeps exactly the ordered head") {
    val ev = Seq((1L, "a", 1L), (1L, "a", 9L), (2L, "a", 4L))
      .toDF("k", "t", "id")
    val kept = Dedup.keepOnePerGroup(ev, Seq(col("k"), col("t")),
      Seq(col("id").desc)).orderBy("k").collect()
    assert(kept.map(_.getLong(2)).toSeq === Seq(9L, 4L))
  }

  test("Percentiles API: sketch path tracks the exact path, same schema") {
    // ql's exact percentile sorts each group; the 100 TB caller flips
    // exact=false on the SAME API for the mergeable sketch. Pin the
    // two paths close and the column surface identical.
    val li = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    def run(exact: Boolean) = Percentiles.perGroup(li,
      col("l_returnflag"), col("l_extendedprice"),
      Seq(0.5, 0.95), exact = exact, accuracy = 1000)
    val e = run(exact = true)
    val a = run(exact = false)
    assert(e.columns.toSeq === Seq("l_returnflag", "p50", "p95", "n"))
    assert(a.columns.toSeq === e.columns.toSeq)
    val rows = e.collect().zip(a.collect())
    assert(rows.nonEmpty)
    rows.foreach { case (re, ra) =>
      assert(re.getString(0) === ra.getString(0))
      assert(re.getLong(3) === ra.getLong(3))
      Seq(1, 2).foreach { i =>
        val (ev, av) = (re.getDouble(i), ra.getDouble(i))
        assert(math.abs(av - ev) / ev < 0.02,
          s"${re.getString(0)} col $i: $ev vs $av")
      }
    }
  }

  test("contamination report catches duplicate text across id-split") {
    // the driver corpus has unique texts (p4 is correctly empty
    // there); on a corpus WITH copies, the naive id-hash split must
    // leak and p4 must report the leaked test docs
    val dir = java.nio.file.Files.createTempDirectory("graft-contam").toString
    val rows = (1 to 400).map { i =>
      // 40 distinct texts × 10 copies each → copies spread across the
      // id-hash split buckets
      (i.toLong, s"copy of text number ${i % 40}", "en")
    }
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val report = graft.SparkEntry.queries("p4_contamination")(spark, dir)
    val n = report.count()
    assert(n > 0) // leakage found
    // every reported doc is genuinely in 'test' with a train twin —
    // over the SAME augmented corpus p4 builds (documents ∪ re-idified
    // every-5th copy offset past max(doc_id), modeling mirrors)
    val bucket = graft.functions.PortableHash
      .phash(col("doc_id").cast("string"), 7) % 100
    val base = rows.toDF("doc_id", "text", "lang")
      .select(col("doc_id"), col("text"))
    val corpus = base.unionByName(
      base.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 401).as("doc_id"), col("text")))
    val withSplit = corpus
      .select(col("doc_id"), col("text"),
        when(bucket < 80, "train").when(bucket < 90, "val")
          .otherwise("test").as("split"))
    val testDocs = withSplit.where(col("split") === "test")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val reported = report.select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    assert(reported.subsetOf(testDocs))
  }

  test("HLL sketch vocabulary tracks the exact distinct count") {
    // t5's exact two-stage distinct is the oracle; at 100 TB the
    // drop-in is approx_count_distinct — an HLL sketch whose partials
    // merge map-side with NO distinct shuffle. Pin the sketch within
    // its error bound so the swap stays safe.
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tok = d.select(col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("tok"))
    val both = tok.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("exact"),
        approx_count_distinct(col("tok"), rsd = 0.02).as("approx"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      val (e, a) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - e) / e < 0.1,
        s"lang=${r.getString(0)} exact=$e approx=$a")
    }
  }

  test("Count-Min-Sketch heavy-hitter counts bound the exact counts") {
    // t10's exact token counts are the oracle; the streaming/merge-
    // friendly drop-in is a CMS (one pass, mergeable partials, fixed
    // memory). CMS never under-counts and over-counts by < eps·N with
    // the configured confidence — pin both sides of that bound so the
    // swap stays safe.
    val d = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tok = d.select(explode(split(col("text"), " ")).as("tok"))
    val total = tok.count()
    val eps = 0.005
    val cms = tok.stat.countMinSketch(col("tok"), eps = eps,
      confidence = 0.99, seed = 42)
    val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(20).collect()
    exact.foreach { r =>
      val (t, n) = (r.getString(0), r.getLong(1))
      val est = cms.estimateCount(t)
      assert(est >= n, s"CMS under-counted $t: $est < $n")
      assert(est <= n + (eps * total).toLong + 1,
        s"CMS over-counted $t beyond eps*N: $est vs $n (N=$total)")
    }
  }
}
