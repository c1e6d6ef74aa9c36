package org.apache.spark {

  /** Posts an event on a context's listener bus (`private[spark]`) and
    * waits until every listener has seen it. */
  object MemoSpecBus {
    def post(sc: SparkContext, e: scheduler.SparkListenerEvent): Unit = {
      sc.listenerBus.post(e)
      sc.listenerBus.waitUntilEmpty()
    }
  }
}

package graft {

  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.functions.{array, col, concat_ws, sin}

  import graft.operators.{Ivf, NearDupIndex}

  class MemoSpec extends SparkSpec {

    private def fresh() = new Object

    test("each session gets its own entries") {
      val (a, b) = (spark.newSession(), spark.newSession())
      val va = Memo(a, "k")(fresh())
      val vb = Memo(b, "k")(fresh())
      assert(!(va eq vb))
      assert(Memo(a, "k")(fresh()) eq va)
      assert(Memo(b, "k")(fresh()) eq vb)
    }

    test("a session holds at most Cap entries and evicts its eldest") {
      val s = spark.newSession()
      val vs = (0 to Memo.Cap).map(i => Memo(s, s"$i")(fresh()))
      (1 to Memo.Cap).foreach(i =>
        assert(Memo(s, s"$i")(fresh()) eq vs(i), s"entry $i was evicted"))
      assert(!(Memo(s, "0")(fresh()) eq vs(0)), "the eldest entry stayed")
    }

    test("a build may run Spark jobs that reach Memo themselves") {
      val s = spark.newSession()
      val v = Memo(s, "outer") {
        Memo(s, "inner")(java.lang.Long.valueOf(s.range(10).count()))
        Memo(s, "inner-2")(Memo(s, "inner")(fresh()))
      }
      assert(v === java.lang.Long.valueOf(10L))
      assert(Memo(s, "outer")(fresh()) eq v)
    }

    test("a build that throws leaves the key to the next caller") {
      val s = spark.newSession()
      intercept[IllegalStateException](
        Memo[AnyRef](s, "k")(throw new IllegalStateException("boom")))
      assert(Memo(s, "k")("built") === "built")
    }

    test("a session's entries go when its SparkContext ends") {
      val s = spark.newSession()
      val v = Memo(s, "k")(fresh())
      org.apache.spark.MemoSpecBus.post(spark.sparkContext,
        org.apache.spark.scheduler.SparkListenerApplicationEnd(
          System.currentTimeMillis()))
      assert(!(Memo(s, "k")(fresh()) eq v))
    }

    test("a rebuild at the same path by another session is read again") {
      val (a, b) = (spark.newSession(), spark.newSession())
      def docs(s: SparkSession) = s.range(40).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 6).map(j =>
          (col("id") % 5 + j).cast("string")): _*).as("text"))
      val dir = java.nio.file.Files.createTempDirectory("memo-spec")
      // near-dup sidecar parameters
      val ndi = dir.resolve("ndi").toString
      def persist(s: SparkSession, bands: Int): Unit =
        NearDupIndex.persist(docs(s).where(col("doc_id") % 2 === 0),
          col("doc_id"), col("text"), n = 3, numHashes = 16, bands = bands,
          path = ndi)
      def matchIn(bands: Int) = NearDupIndex.matchNew(a, ndi,
        docs(a).where(col("doc_id") % 2 === 1), col("doc_id"), col("text"),
        n = 3, numHashes = 16, bands = bands, threshold = 0.2)
      persist(a, bands = 4)
      matchIn(bands = 4)
      persist(b, bands = 8)
      matchIn(bands = 8)
      val e = intercept[IllegalArgumentException](matchIn(bands = 4))
      assert(e.getMessage.contains("parameter mismatch"))
      // IVF codebooks
      val ivf = dir.resolve("ivf").toString
      def build(s: SparkSession, k: Int) = Ivf.build(
        s.range(64).select(col("id").as("vec_id"), array((0 until 8).map(j =>
          sin((col("id") + 1) * (j + 1)).cast("float")): _*).as("embedding")),
        col("vec_id"), col("embedding"), k = k)
      val (ia, ib) = (build(a, 2), build(b, 6))
      assert(ia.codebook.length != ib.codebook.length)
      Ivf.persist(ia, ivf)
      assert(Ivf.loadCodebook(a, ivf).length === ia.codebook.length)
      Ivf.persist(ib, ivf)
      assert(Ivf.loadCodebook(a, ivf).length === ib.codebook.length)
      spark.catalog.clearCache()
    }
  }
}
