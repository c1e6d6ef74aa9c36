package graft.operators

import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSpec

/** A frame whose checkpoint blocks cannot be measured never collapses
  * to one loop partition. */
class PartsSpec extends SparkSpec {

  test("evicted blocks (0 measured bytes) fall back to shuffle partitions") {
    val df = spark.range(0, 1000, 1, 8).toDF("id").localCheckpoint(true)
    Bridge.unpersistCheckpoint(df)
    assert(Bridge.checkpointedBytes(df) === 0L)
    assert(Parts.forCheckpointed(df) ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }
}
