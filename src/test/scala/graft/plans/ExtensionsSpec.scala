package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The Catalyst extension tier end-to-end: a session created with
  * `withExtensions(new GraftExtensions)` exposes the native SQL
  * functions — no Scala registration calls. */
class ExtensionsSpec extends AnyFunSuite {

  private lazy val ext: SparkSession = ExtensionsSpec.session

  test("injected SQL function dot_product_f works with zero registration") {
    val r = ext.sql(
      """SELECT dot_product_f(
        |  array(cast(1.5 as float), cast(2.0 as float)),
        |  array(cast(2.0 as float), cast(0.5 as float))) AS d""".stripMargin)
      .collect()
    assert(r === Array(Row(4.0)))
  }
}

object ExtensionsSpec {
  /** Extensions-loaded session on the shared SparkContext. getOrCreate
    * only applies extensions when it actually creates a session, so the
    * shared default is cleared for the build and restored after. */
  lazy val session: SparkSession = {
    val base = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(base)
    SparkSession.setActiveSession(base)
    s
  }
}
