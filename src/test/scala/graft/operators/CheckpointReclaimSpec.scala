package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Round-10 (ADVICE r9): iterative operators must reclaim superseded
  * localCheckpoint rounds deterministically — without the explicit
  * unpersist, every round's state survived until a driver GC happened
  * to collect its weak reference, and a long-lived session (the
  * resident-service mode) accumulated storage/tmpfs debris linearly
  * in queries run. Pin: after materializing each loop's result, at
  * most the RESULT's own checkpoint (plus the one frame its lazy plan
  * still reads) remains persisted. */
class CheckpointReclaimSpec extends SparkSpec {

  import spark.implicits._

  private def ring(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("id_a", "id_b")

  private def leakedAfter(body: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body.queryExecution.toRdd.count()
    (sc.getPersistentRDDs.keySet -- before).size
  }

  test("connectedComponents keeps only the final labels checkpoint") {
    // ring of 40: diameter forces many propagation rounds — the case
    // that used to leave one block set per round
    assert(leakedAfter(Dedup.connectedComponents(ring(40))) <= 1)
  }

  test("communities keeps only the final round") {
    val nodes = (0L until 30L).toDF("id")
    val edges = ring(30).select(col("id_a").as("src"), col("id_b").as("dst"))
    assert(leakedAfter(
      LabelProp.communities(nodes, edges, iterations = 5)) <= 1)
  }

  test("kCore keeps only the final edge set") {
    val nodes = (0L until 30L).toDF("id")
    val edges = ring(30).select(col("id_a").as("src"), col("id_b").as("dst"))
    assert(leakedAfter(LabelProp.kCore(nodes, edges, k = 2)) <= 1)
  }

  test("pageRank keeps only the final ranks checkpoint") {
    val nodes = (0L until 30L).toDF("id")
    val edges = ring(30).select(col("id_a").as("src"), col("id_b").as("dst"))
    assert(leakedAfter(PageRank.ranksPpm(nodes, edges, 5)) <= 1)
  }

  test("Bpe.train leaves blocks only for the returned vocab") {
    // Dataset.unpersist drops SQL-cache entries only: each superseded
    // segmentation round must go through Bridge.unpersistCheckpoint
    val sc = spark.sparkContext
    val before = sc.getRDDStorageInfo.map(_.id).toSet
    val docs = Seq("abcdef abcdef abcdef", "abcdef abcd abcd ab ab")
      .toDF("text")
    val m = Bpe.train(docs, col("text"), nMerges = 5)
    assert(m.merges.count() === 5)
    val vocab = m.vocab.queryExecution.analyzed.collect {
      case l: LogicalRDD => l.rdd.id
    }.toSet
    assert(vocab.nonEmpty)
    assert(sc.getRDDStorageInfo.map(_.id).toSet -- before === vocab)
  }
}
