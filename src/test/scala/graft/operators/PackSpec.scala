package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextFunctions

class PackSpec extends SparkSpec {

  import spark.implicits._

  test("packReport offsets tile the concatenated stream exactly") {
    val docs = (1L to 40L).map(i => (i, (i % 7 + 1).toInt)).toDF("id", "n")
    val r = Pack.packReport(docs, col("id"), col("n"), budget = 10L)
      .collect().sortBy(_.getLong(2))
    // contiguous: each offset = previous offset + previous n_tokens
    assert(r.head.getLong(2) === 0L)
    r.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(2) === a.getLong(2) + a.getLong(1))
    }
    val total = r.map(_.getLong(1)).sum
    assert(r.last.getLong(2) + r.last.getLong(1) === total)
  }

  test("zero-token docs occupy no sequence, regardless of offset") {
    // Spark `div` truncates toward zero, so the degenerate doc at
    // offset 0 used to claim sequence 0 while later ones did not
    val docs = Seq((1L, 0), (2L, 5), (3L, 0), (4L, 7), (5L, 0))
      .toDF("id", "n")
    val r = Pack.packReport(docs, col("id"), col("n"), budget = 4L)
      .collect()
    r.filter(_.getLong(1) === 0L).foreach { row =>
      assert(row.getLong(5) === 0L,
        s"zero-token doc ${row.getLong(0)} reports n_seqs ${row.getLong(5)}")
      assert(row.getLong(4) === row.getLong(3) - 1) // seq_last < seq_first
    }
    r.filter(_.getLong(1) > 0L).foreach { row =>
      assert(row.getLong(5) >= 1L)
    }
  }

  test("packReport sequence spans honor the token budget") {
    val docs = (1L to 20L).map(i => (i, 300)).toDF("id", "n")
    val r = Pack.packReport(docs, col("id"), col("n"), budget = 512L)
      .collect()
    r.foreach { row =>
      val (off, n) = (row.getLong(2), row.getLong(1))
      assert(row.getLong(3) === off / 512)
      assert(row.getLong(4) === (off + n - 1) / 512)
      assert(row.getLong(5) === row.getLong(4) - row.getLong(3) + 1)
    }
    // 300-token docs against a 512 budget: some docs must straddle
    assert(r.exists(_.getLong(5) === 2))
  }

  test("packReport is invariant under input partitioning") {
    val docs = (1L to 100L).map(i => (i, (i % 13 + 1).toInt)).toDF("id", "n")
    val a = Pack.packReport(docs, col("id"), col("n"), budget = 64L)
      .orderBy(col("id")).collect()
    val b = Pack.packReport(docs.repartition(7), col("id"), col("n"),
      budget = 64L).orderBy(col("id")).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("pii scrub counts and redacts emails and ipv4s") {
    val d = Seq(
      (1L, "write to alice.b@mail.example.org or ping 192.168.0.1 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.co c.d@e.io one ip 10.0.0.255"),
      (4L, "reach John.Doe@Example.COM via 172.16.0.1 ok"))
      .toDF("doc_id", "text")
    val r = d.select(col("doc_id"),
      TextFunctions.emailCount(col("text")).as("ne"),
      TextFunctions.ipCount(col("text")).as("ni"),
      TextFunctions.scrubPii(col("text")).as("clean"))
      .orderBy(col("doc_id")).collect()
    assert(r(0).getLong(1) === 1 && r(0).getLong(2) === 1)
    assert(r(0).getString(3) === "write to <EMAIL> or ping <IP> now")
    assert(r(1).getLong(1) === 0 && r(1).getLong(2) === 0)
    assert(r(1).getString(3) === "no pii here at all")
    assert(r(2).getLong(1) === 2 && r(2).getLong(2) === 1)
    assert(r(2).getString(3) === "two mails <EMAIL> <EMAIL> one ip <IP>")
    // mixed case must still match — the (?i) under-redaction fix
    assert(r(3).getLong(1) === 1 && r(3).getLong(2) === 1)
    assert(r(3).getString(3) === "reach <EMAIL> via <IP> ok")
  }

  test("quality and language gate: prose passes, junk and a wrong tag fail") {
    val good =
      "the quick brown fox jumps over the lazy dog and runs far into " +
        "the quiet green hills of the old countryside before the sun " +
        "is down and the long warm evening settles in over the wide " +
        "river valley with a slow golden light on the water"
    val d = Seq(
      (1L, good, "en"),
      (2L, "x", "en"),
      (3L, good + " mail me a.b@c.org today ok", "en"),
      (4L, good, "de"))
      .toDF("doc_id", "text", "lang")
    val kept = d.where(TextFunctions.qualityScore(col("text")) >= 0.3 &&
        TextFunctions.langGuess(col("text")) === col("lang"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("repetition report flags degenerate docs, keeps varied ones") {
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "a quick brown fox jumps over the lazy dog today ok fine sure yes"),
      (3L, "go go stop stop stop"))
      .toDF("doc_id", "text")
    val r = TextFunctions.repetitionReport(d, col("doc_id"), col("text"))
      .orderBy(col("doc_id")).collect()
    // doc 1: one token repeated 8x
    assert(r(0).getLong(1) === 8 && r(0).getLong(2) === 1)
    assert(r(0).getDouble(3) === 0.875)
    assert(r(0).getString(4) === "spam" && r(0).getDouble(5) === 1.0)
    assert(!r(0).getBoolean(7))
    // doc 2: all distinct -> keep
    assert(r(1).getDouble(3) === 0.0 && r(1).getBoolean(7))
    // doc 3: "stop" wins the top-token pick (3 > 2)
    assert(r(2).getString(4) === "stop")
  }

  test("repetition top-token tie breaks to the smaller token") {
    val d = Seq((1L, "b a b a")).toDF("doc_id", "text")
    val r = TextFunctions.repetitionReport(d, col("doc_id"), col("text"))
      .collect()
    assert(r(0).getString(4) === "a")
  }

  test("mixture sample hits the 4:3:2:1 target and drops off-target langs") {
    val fn = graft.SparkEntry.queries("p6_mixture_sample")
    val kept = fn(spark, "/root/testdata/sf0.001")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!kept.contains("zh"))
    val total = kept.values.sum.toDouble
    val target = Map("en" -> 0.4, "de" -> 0.3, "fr" -> 0.2, "es" -> 0.1)
    target.foreach { case (l, p) =>
      assert(math.abs(kept(l) / total - p) < 0.06,
        s"$l: ${kept(l)} / $total vs $p")
    }
    // deterministic: a second evaluation returns the identical id set
    val a = fn(spark, "/root/testdata/sf0.001").collect().toSeq
    val b = fn(spark, "/root/testdata/sf0.001").collect().toSeq
    assert(a === b)
  }
}
