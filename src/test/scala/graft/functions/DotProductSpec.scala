package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.DotProduct.dotF

/** Native Catalyst dot-product expression: interpreted eval, codegen
  * path, null handling, and the SQL registration. */
class DotProductSpec extends SparkSpec {

  import spark.implicits._

  test("matches hand-computed dot product; handles nulls") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, 0.0f), Array(2.0f, 9.0f)))
      .toDF("id", "a", "b")
    val r = df.select(col("id"), dotF(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(r(0).getDouble(1) === 32.0)
    assert(r(1).getDouble(1) === 1.0)
    val withNull = df.withColumn("c", when(col("id") === 1, col("a")))
    val n = withNull.select(dotF(col("c"), col("b")).as("d")).collect()
    assert(n.exists(_.isNullAt(0)))
  }

  test("a null ELEMENT nulls the result (oracle NULL-propagation parity)") {
    // reading a null slot as 0.0 would return a finite wrong score;
    // the DuckDB list_sum(list_transform(...)) oracle yields NULL
    val df = Seq(
      (1L, Array[java.lang.Float](1.0f, null, 3.0f),
        Array[java.lang.Float](4.0f, 5.0f, 6.0f)),
      (2L, Array[java.lang.Float](1.0f, 2.0f),
        Array[java.lang.Float](3.0f, 4.0f)))
      .toDF("id", "a", "b")
    // codegen path (parquet-free projection still compiles the expr)
    val r = df.select(col("id"), dotF(col("a"), col("b")).as("d"))
      .orderBy("id").collect()
    assert(r(0).isNullAt(1), "null element must null the dot product")
    assert(r(1).getDouble(1) === 11.0)
    // interpreted path
    val exprOnly = DotProductF(
      org.apache.spark.sql.graftbridge.Bridge.expression(col("a")),
      org.apache.spark.sql.graftbridge.Bridge.expression(col("b")))
    assert(exprOnly.nullable)
  }

  test("agrees with the interpreted higher-order-function formula") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val both = e.select(
      dotF(col("embedding"), col("embedding")).as("native"),
      graft.operators.Similarity.dot(col("embedding"), col("embedding")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() === 0)
  }
}
