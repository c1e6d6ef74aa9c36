package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle equi-joins.
  *
  * A hot join key (one mega-aircraft's hexident, a boilerplate
  * document hash, a sentinel id) funnels its entire partition into a
  * single reducer task at 100 TB. Salting spreads each key over
  * `salts` reducer partitions: the big side gets a deterministic
  * per-row salt, the other side is replicated once per salt value,
  * and the join key becomes (key, salt). Output equals the plain
  * equi-join exactly.
  *
  * AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`)
  * handles moderate runtime skew on its own; explicit salting is for
  * the pathological keys known in advance, and for aggregations-after-
  * join where AQE's split does not reach.
  */
object SkewJoin {

  /** `big ⋈ other` on `bigKey = otherKey` with the big side salted
    * over `salts` buckets. `joinType` supports "inner" and "left"
    * (big side preserved); the replicated side must stay the lookup
    * side. */
  def saltedJoin(
      big: DataFrame,
      other: DataFrame,
      bigKey: String,
      otherKey: String,
      salts: Int,
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"salted join preserves the big side only (got $joinType)")
    // Content hash spreads a hot key's rows evenly; the salt value is
    // irrelevant to the result, only its distribution matters. It must
    // be DETERMINISTIC per row (not row-position based): on a shuffle
    // fetch failure Spark recomputes upstream partitions, and a
    // position-derived salt could land recomputed rows in different
    // buckets than the copies already fetched — duplicating or
    // dropping rows. Hashing the full row content reproduces identical
    // salts on recompute. (Fully identical rows share a bucket; that
    // only matters if one key's rows are mostly verbatim copies.)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toSeq: _*), lit(salts.toLong)))
    val replicated = other.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    saltedBig
      .join(replicated,
        saltedBig(bigKey) === replicated(otherKey) &&
          saltedBig("__salt") === replicated("__salt"),
        joinType)
      .drop(replicated(otherKey)).drop(replicated("__salt")).drop("__salt")
  }
}
