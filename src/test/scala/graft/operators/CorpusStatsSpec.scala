package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the round-7 corpus-statistics additions on hand-built inputs
  * with known closed-form answers: t18 PMI collocations, t19 Zipf
  * slope, qq integer-exact outlier detection, s15 recall@k.
  */
class CorpusStatsSpec extends SparkSpec {
  import spark.implicits._

  private def docsDir(texts: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cstats").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en") }
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("t18: a pair that always co-occurs tops the PMI ranking") {
    // "alpha beta" always adjacent (40 occurrences); the filler words
    // pair up near-independently, so PMI(alpha,beta)=ln(N_big/n_pair
    // -ish) dominates every filler pair.
    val fill = (0 until 8).map(i => s"w$i")
    val texts = (0 until 40).map { d =>
      val pad = (0 until 12).map(j => fill((d * 7 + j * 3) % 8))
      (pad.take(6) ++ Seq("alpha", "beta") ++ pad.drop(6)).mkString(" ")
    }
    val out = graft.SparkEntry.queries("t18_pmi_collocations")(
      spark, docsDir(texts)).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getAs[String]("w1") == "alpha" &&
      top.getAs[String]("w2") == "beta",
      s"expected (alpha,beta) on top, got $top")
    assert(top.getAs[Long]("n_pair") == 40L)
    assert(top.getAs[Long]("pmi_fx") > 0L)
    // min-support: no reported pair below 5 occurrences
    assert(out.forall(_.getAs[Long]("n_pair") >= 5L))
  }

  test("t19: an exact power-law corpus fits slope ~ -1 with high r2") {
    // token r appears floor(2000/r) times, r = 1..40 → ln f = ln 2000
    // − ln r up to floor discretization; slope must sit near −1 and
    // the fit must be near-perfect.
    val words = (1 to 40).flatMap { r =>
      Seq.fill(2000 / r)(f"tok$r%02d")
    }
    // spread over docs so tokenization, not layout, is what's tested
    val texts = words.grouped(97).map(_.mkString(" ")).toSeq
    val row = graft.SparkEntry.queries("t19_zipf_slope")(
      spark, docsDir(texts)).collect().head
    assert(row.getAs[Long]("n_ranks") == 40L)
    val slope = row.getAs[Double]("slope")
    val r2 = row.getAs[Double]("r2")
    assert(slope > -1.05 && slope < -0.95, s"slope $slope")
    assert(r2 > 0.999, s"r2 $r2")
  }

  test("qq: flags the constructed outlier, never the 2-sigma boundary") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qq").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // type a: 100 points at 10.00 + one at 1000.00 → only the spike
    //   is past 2σ of the population;
    // type b: constant series → σ=0, dev=0, strict > keeps it clean;
    // type c: {0,0,0,0,5} → the 5 sits EXACTLY at z=2 (dev²=400 =
    //   4·(nQ−S²)) and the strict inequality must NOT flag it.
    val rows =
      (1 to 100).map(i => (i.toLong, t0, 1L, "a", 10.0, "")) ++
        Seq((101L, t0, 1L, "a", 1000.0, "")) ++
        (1 to 20).map(i => (200L + i, t0, 1L, "b", 7.5, "")) ++
        Seq((301L, t0, 1L, "c", 0.0, ""), (302L, t0, 1L, "c", 0.0, ""),
          (303L, t0, 1L, "c", 0.0, ""), (304L, t0, 1L, "c", 0.0, ""),
          (305L, t0, 1L, "c", 5.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("qq_value_anomaly")(spark, dir)
      .collect().map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_events"), r.getAs[Long]("n_anomalies"),
          r.getAs[Long]("anomaly_cents")))).toMap
    assert(out("a") == ((101L, 1L, 100000L)), s"a: ${out("a")}")
    assert(out("b") == ((20L, 0L, 0L)), s"b: ${out("b")}")
    assert(out("c") == ((5L, 0L, 0L)), s"c: ${out("c")}")
  }

  test("t20: clumped tokens out-rank evenly spread ones, Poisson sits near 1") {
    // 'burst' clumps: 20 copies in each of docs 0–2 plus one copy in
    // docs 3–12 (df = 13 ≥ the df≥10 floor); 'flat' puts exactly 2 in
    // every doc (VMR = (D·Σc²−tf²)/(D·tf) = (30·120−3600)/(30·60) = 0
    // — constant-per-doc is SUB-Poisson).
    val texts = (0 until 30).map { d =>
      val burst =
        if (d < 3) Seq.fill(20)("burst")
        else if (d < 13) Seq("burst")
        else Seq.empty
      (Seq.fill(2)("flat") ++ burst ++ Seq.fill(5)("pad")).mkString(" ")
    }
    val out = graft.SparkEntry.queries("t20_burstiness")(
      spark, docsDir(texts)).collect()
      .map(r => r.getAs[String]("tok") ->
        ((r.getAs[Long]("df"), r.getAs[Long]("tf"),
          r.getAs[Double]("burstiness")))).toMap
    assert(out("burst")._1 == 13L && out("burst")._2 == 70L)
    assert(out("flat") == ((30L, 60L, 0.0)))
    // exact closed form: D=30, q=3·400+10=1210, tf=70 →
    // (30·1210 − 4900)/(30·70) = 31400/2100 ≈ 14.952381
    assert(math.abs(out("burst")._3 - 14.952381) < 1e-6)
    // pad is 5-per-doc everywhere — constant too, so also VMR 0
    assert(out("pad") == ((30L, 150L, 0.0)))
  }

  test("qr: trailing-7-day WAU counts each user once across the window") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qr").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // u1 active on d1 and d3 (two visits on d3 — dedup to one),
    // u2 active on d1 only, u3 appears on d9 (outside d1's window,
    // inside d3's +6 reach? d3+6 = d9 → yes for day d9's own window)
    val rows = Seq(
      (1L, ts("2024-02-01 10:00:00"), 1L, "view", 1.0, ""),
      (2L, ts("2024-02-01 11:00:00"), 2L, "view", 1.0, ""),
      (3L, ts("2024-02-03 09:00:00"), 1L, "view", 1.0, ""),
      (4L, ts("2024-02-03 21:00:00"), 1L, "click", 1.0, ""),
      (5L, ts("2024-02-09 08:00:00"), 3L, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("qr_active_users")(spark, dir)
      .collect().map(r => r.getAs[java.time.LocalDateTime]("day")
        .toLocalDate.toString ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau")))).toMap
    // active days only: 02-01, 02-03, 02-09
    assert(out.keySet === Set("2024-02-01", "2024-02-03", "2024-02-09"))
    assert(out("2024-02-01") == ((2L, 2L))) // u1,u2 that day and window
    assert(out("2024-02-03") == ((1L, 2L))) // u1 active; window holds u1,u2
    // 02-09 window = [02-03, 02-09]: u1 (02-03) + u3 (02-09), u2 aged out
    assert(out("2024-02-09") == ((1L, 2L)))
  }

  test("d15: exact dups profile error-free; near-dups stay inside the 16-hash band") {
    // 20 base docs of 30 distinct tokens each; a near-dup copy with 3
    // tokens swapped (shingle jaccard ≈ 0.66–0.8 → reliable LSH
    // candidates at 4×4 banding) and 3 EXACT copies. Exact copies
    // have identical signatures: their bucket-10 row must report
    // mean_est exactly 1 and error exactly 0.
    val base = (0 until 20).map { d =>
      (0 until 30).map(j => s"tok${d}_$j").mkString(" ")
    }
    val nearDups = base.map { t =>
      val toks = t.split(" "); toks(5) = "x"; toks(15) = "y"; toks(25) = "z"
      toks.mkString(" ")
    }
    val exactDups = base.take(3)
    val out = graft.SparkEntry.queries("d15_minhash_error")(
      spark, docsDir(base ++ nearDups ++ exactDups)).collect()
    assert(out.nonEmpty)
    val byBucket = out.map(r => r.getAs[Long]("j_bucket") ->
      ((r.getAs[Long]("n_pairs"), r.getAs[Double]("mean_est"),
        r.getAs[Double]("mean_abs_err")))).toMap
    assert(byBucket.contains(10L))
    assert(byBucket(10L)._1 == 3L)
    assert(byBucket(10L)._2 == 1.0 && byBucket(10L)._3 == 0.0)
    // every estimate is a valid fraction; 16-hash MinHash keeps the
    // mean absolute error well inside one standard deviation (~0.125)
    out.foreach { r =>
      val est = r.getAs[Double]("mean_est")
      assert(est >= 0.0 && est <= 1.0)
      assert(r.getAs[Double]("mean_abs_err") <= 0.15,
        s"error too large in bucket ${r.getAs[Long]("j_bucket")}: $r")
    }
  }

  test("p23: snapshot diff classifies by content hash with exact token deltas") {
    // 12 docs of 3 tokens each, ids 0..11. The derived snapshot:
    // removed = ids ≡ 3 (mod 7) → {3, 10};
    // changed = surviving ids ≡ 0 (mod 5) → {0, 5} (+1 token each);
    // added   = ids ≡ 0 (mod 11) re-crawled past max+1=12 → {12, 23}
    //           with their ORIGINAL 3-token texts;
    // unchanged = the remaining 8.
    val texts = (0 until 12).map(i => s"w$i w$i w$i")
    val out = graft.SparkEntry.queries("p23_snapshot_diff")(
      spark, docsDir(texts)).collect()
      .map(r => r.getAs[String]("status") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("token_delta")))).toMap
    assert(out("removed") == ((2L, -6L)))
    assert(out("changed") == ((2L, 2L)))
    assert(out("added") == ((2L, 6L)))
    assert(out("unchanged") == ((8L, 0L)))
  }

  test("d16: threshold sweep is monotone non-increasing with a real knee") {
    // two bands with exactly computable jaccards: 4 extra copies of
    // doc 0 (j = 1.0 → C(5,2) = 10 pairs) and a 1-token-changed twin
    // of docs 1–6 (25 shared of 31 shingles → j ≈ 0.806: inside the
    // 0.8 cut, outside 0.9)
    val base = (0 until 10).map { d =>
      (0 until 30).map(j => s"w${d}_$j").mkString(" ")
    }
    val copies = Seq.fill(4)(base(0))
    val near = (1 to 6).map { d =>
      val toks = base(d).split(" "); toks(10) = "x"; toks.mkString(" ")
    }
    val out = graft.SparkEntry.queries("d16_threshold_sweep")(
      spark, docsDir(base ++ copies ++ near)).collect()
      .map(r => r.getAs[Long]("threshold_x10") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))).toMap
    assert(out.keySet == (2L to 9L).toSet)
    val counts = (2L to 9L).map(out(_)._1)
    assert(counts == counts.sortBy(-_), s"not non-increasing: $counts")
    // loose cuts keep both bands; LSH candidate recall at j ≈ 0.81
    // is < 1 by design (1−(1−j⁴)⁴ ≈ 0.89 per pair), so the near band
    // may miss a pair — but the curve must still show the knee, and
    // identical docs (identical signatures) can never be missed:
    // the 0.9 cut is exactly the 5-copy clique
    assert(out(8L)._1 >= 14L && out(8L)._1 <= 16L, s"at 0.8: ${out(8L)}")
    assert(out(8L)._1 > out(9L)._1)
    assert(out(9L) == ((10L, 5L)), s"at 0.9: ${out(9L)}")
  }

  test("qu: cohort LTV accumulates integer cents per signup week") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qu").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2024-01-01 is a Monday. User 1 signs up week 0, buys 1000.00
    // in week 0 and 500.005 (rounds to 50001) in week 2; user 2
    // signs up week 1, buys 200.00 that week.
    val rows = Seq(
      (1L, ts("2024-01-01 09:00:00"), 1L, "signup", 0.0, ""),
      (2L, ts("2024-01-02 10:00:00"), 1L, "purchase", 1000.0, ""),
      (3L, ts("2024-01-16 10:00:00"), 1L, "purchase", 500.005, ""),
      (4L, ts("2024-01-08 09:00:00"), 2L, "signup", 0.0, ""),
      (5L, ts("2024-01-09 10:00:00"), 2L, "purchase", 200.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("qu_cohort_ltv")(spark, dir)
      .collect().map(r => (r.getAs[java.time.LocalDateTime]("cohort_week")
        .toLocalDate.toString, r.getAs[Long]("weeks_since")) ->
        ((r.getAs[Long]("n_purchases"), r.getAs[Long]("revenue_cents"),
          r.getAs[Long]("cum_revenue_cents")))).toMap
    assert(out(("2024-01-01", 0L)) == ((1L, 100000L, 100000L)))
    assert(out(("2024-01-01", 2L)) == ((1L, 50001L, 150001L)))
    assert(out(("2024-01-08", 0L)) == ((1L, 20000L, 20000L)))
    assert(out.size == 3)
  }

  test("t23: confusion matrix nails marker-pure corpora and shares sum to 1") {
    val dir = java.nio.file.Files.createTempDirectory("graft-t23").toString
    // 10 marker-pure English, 10 marker-pure German, 5 markerless
    // docs declared 'fr' (guess must be 'und')
    val rows =
      (0 until 10).map(i => (i.toLong, "the and of to is word" + i, "en")) ++
        (0 until 10).map(i => (10L + i, "der und die das ist wort" + i, "de")) ++
        (0 until 5).map(i => (20L + i, s"zzz qqq xxx$i", "fr"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.SparkEntry.queries("t23_langid_confusion")(spark, dir)
      .collect().map(r => (r.getAs[String]("lang"), r.getAs[String]("guess")) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("share")))).toMap
    assert(out(("en", "en")) == ((10L, 1.0)))
    assert(out(("de", "de")) == ((10L, 1.0)))
    assert(out(("fr", "und")) == ((5L, 1.0)))
    assert(out.size == 3)
  }

  test("t22: calibration separates dup-ridden high-quality from clean junk") {
    // 5 identical copies of a long stopword-rich text land in ONE
    // high bucket with dup_rate 4/5; 20 distinct one-word docs land
    // in bucket 0 with dup_rate 0
    val good = ("the quick brown fox jumps over the lazy dog and " * 12).trim
    val texts = Seq.fill(5)(good) ++ (0 until 20).map(i => s"junk$i")
    val out = graft.SparkEntry.queries("t22_quality_calibration")(
      spark, docsDir(texts)).collect()
      .map(r => r.getAs[Long]("q_bucket") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Double]("dup_rate")))).toMap
    assert(out(0L) == ((20L, 0.0)))
    val Seq(goodBucket) = out.keySet.filter(_ > 0L).toSeq
    assert(out(goodBucket) == ((5L, 0.8)))
  }

  test("qt: decay weights halve every 7 days and exclude post-cutoff rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qt").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // cutoff 2024-01-31 00:00:00: events exactly 7 and 14 days prior
    // weigh 500000 and 250000 fixed-point; a post-cutoff event is out
    val rows = Seq(
      (1L, ts("2024-01-24 00:00:00"), 1L, "view", 1.0, ""),
      (2L, ts("2024-01-17 00:00:00"), 1L, "purchase", 1.0, ""),
      (3L, ts("2024-02-01 00:00:00"), 1L, "view", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = graft.SparkEntry.queries("qt_decay_features")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_events") == 2L)
    assert(r.getAs[Long]("decay_fx") == 750000L)
    assert(r.getAs[Long]("purchase_decay_fx") == 250000L)
  }

  test("qs: gap percentiles interpolate the hand-computed distribution") {
    val dir = java.nio.file.Files.createTempDirectory("graft-qs").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1 gaps: 10 s, 10 s, 20 s; user 2 gap: 5 s → sorted
    // [5, 10, 10, 20]: p50 = 10, p95 = 10 + 0.85·10 = 18.5, n = 4
    val rows = Seq(
      (1L, ts("2024-02-01 10:00:00"), 1L, "a", 1.0, ""),
      (2L, ts("2024-02-01 10:00:10"), 1L, "a", 1.0, ""),
      (3L, ts("2024-02-01 10:00:20"), 1L, "a", 1.0, ""),
      (4L, ts("2024-02-01 10:00:40"), 1L, "a", 1.0, ""),
      (5L, ts("2024-02-01 11:00:00"), 2L, "a", 1.0, ""),
      (6L, ts("2024-02-01 11:00:05"), 2L, "a", 1.0, ""))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = graft.SparkEntry.queries("qs_event_gaps")(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("event_type") == "a")
    assert(r.getAs[Double]("p50") == 10.0)
    assert(r.getAs[Double]("p95") == 18.5)
    assert(r.getAs[Long]("n") == 4L)
  }

  test("s16: one-pass sweep is row-identical to per-budget searches") {
    // the sweep's claim is exact equivalence, not approximation:
    // every budget's slice must equal the corresponding searchAt
    val dir = "/root/testdata/sf0.001"
    val e = graft.Tables.load(spark, dir, "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val idx = java.nio.file.Files.createTempDirectory("s16-parity").toString
    val built = Ivf.build(e, col("vec_id"), col("embedding"), k = 8)
    Ivf.persist(built, idx)
    val sweep = Ivf.searchSweepAt(spark, idx, q, topK = 3,
      budgets = Seq(1, 3, 8))
    Seq(1, 3, 8).foreach { np =>
      val solo = Ivf.searchAt(spark, idx, q, topK = 3, nProbe = np)
      val slice = sweep.where(col("n_probe") === np.toLong)
        .drop("n_probe")
      assert(slice.except(solo).isEmpty && solo.except(slice).isEmpty,
        s"sweep slice nProbe=$np diverges from searchAt")
    }
  }

  test("s16: recall curve is monotone in nProbe and exhaustive at k") {
    val out = graft.SparkEntry.queries("s16_nprobe_curve")(
      spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.getAs[Long]("n_probe")).toSeq == Seq(1L, 2L, 4L, 16L))
    val recalls = out.map(_.getAs[Double]("mean_recall")).toSeq
    assert(recalls == recalls.sorted, s"not monotone: $recalls")
    // nProbe = k = 16 probes every cluster — exhaustive, recall 1.0
    assert(recalls.last == 1.0)
    assert(out.forall(_.getAs[Long]("n_queries") == 10L))
  }

  test("s15: recall is a valid fraction per probe and 1.0 when probing all") {
    val dir = "/root/testdata/sf0.001"
    val out = graft.SparkEntry.queries("s15_recall_eval")(spark, dir)
      .collect()
    assert(out.length == 10)
    out.foreach { r =>
      assert(r.getAs[Long]("n_exact") == 5L)
      val hit = r.getAs[Long]("n_hit")
      assert(hit >= 0L && hit <= 5L)
      assert(math.abs(r.getAs[Double]("recall") - hit / 5.0) < 1e-9)
    }
    // probe-ALL IVF search is exhaustive → recall exactly 1 for every
    // query (the eval harness itself is what's being pinned here)
    val e = graft.Tables.load(spark, dir, "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val index = Ivf.build(e, col("vec_id"), col("embedding"), k = 4)
    val exact = Similarity.bruteForceTopK(q, e, k = 5)
      .select(col("qid"), col("vec_id"))
    val all = Ivf.search(index, q, topK = 5, nProbe = 4)
      .select(col("qid"), col("vec_id"))
    assert(exact.except(all).isEmpty,
      "probe-all IVF must reproduce the exact top-k")
  }
}
