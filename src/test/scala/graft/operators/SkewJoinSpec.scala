package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Salting must be invisible in results: salted join ≡ plain join on
  * a deliberately skewed key distribution (one key holds ~90% of the
  * rows). */
class SkewJoinSpec extends SparkSpec {

  import spark.implicits._

  private lazy val big = (1 to 1000).map { i =>
    val k = if (i <= 900) 1L else (i % 17).toLong // hot key 1
    (k, i)
  }.toDF("k", "v")

  private lazy val dim = (0L to 20L).map(k => (k, s"name$k")).toDF("dk", "name")

  test("salted inner join equals the plain join") {
    val plain = big.join(dim, big("k") === dim("dk")).drop("dk")
    val salted = SkewJoin.saltedJoin(big, dim, "k", "dk", salts = 8)
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted left join preserves unmatched big-side rows") {
    val dimMissing = dim.where(col("dk") =!= 1L) // drop the hot key
    val plain = big.join(dimMissing, big("k") === dimMissing("dk"), "left")
      .drop("dk")
    val salted = SkewJoin.saltedJoin(big, dimMissing, "k", "dk",
      salts = 8, joinType = "left")
    assert(salted.count() === 1000)
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("salted join spreads the hot key over several buckets") {
    // the partial (key, salt) stage must see >1 distinct salt for the
    // hot key — otherwise nothing was spread
    val saltsSeen = big
      .withColumn("__salt",
        pmod(xxhash64(monotonically_increasing_id()), lit(8L)))
      .where(col("k") === 1L)
      .select(countDistinct(col("__salt")))
      .collect()(0).getLong(0)
    assert(saltsSeen > 1)
  }
}
