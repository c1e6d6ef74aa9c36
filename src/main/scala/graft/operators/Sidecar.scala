package graft.operators

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

/** The one-row `meta` table a persisted store ([[NearDupIndex]],
  * [[MediaSignals]]) writes beside its data at build time: the
  * parameters it was built under. Appending or matching under other
  * parameters silently corrupts results, so every append and match
  * checks them, reading the table once per session and listing. */
private[operators] object Sidecar {

  def write(spark: SparkSession, path: String,
      params: Seq[(String, Any)]): Unit =
    spark.range(1).select(params.map { case (k, v) => lit(v).as(k) }: _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")

  /** Throws `IllegalStateException` when `path` has no meta table (it
    * was not built by `builtBy`), `IllegalArgumentException` when a
    * stored value differs from `params`. */
  def check(spark: SparkSession, path: String, what: String,
      builtBy: String, op: String, params: Seq[(String, Any)]): Unit = {
    val stored = graft.Memo.ofDir(spark, "meta", s"$path/meta") {
      try spark.read.parquet(s"$path/meta")
        .select(params.map(p => col(p._1)): _*).head().toSeq
      catch { case e: AnalysisException => throw new IllegalStateException(
        s"$what at $path has no meta/ — not built by $builtBy " +
          s"(cannot $op safely)", e)
      }
    }
    def show(vs: Seq[Any]) = params.map(_._1).zip(vs)
      .map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")")
    require(stored == params.map(_._2),
      s"$what parameter mismatch on $op at $path: stored ${show(stored)}, " +
        s"expected ${show(params.map(_._2))}")
  }
}
