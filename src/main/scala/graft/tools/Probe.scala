package graft.tools

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val names = args.toSeq
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
    qs.foreach { case (n, f) =>
      val t0 = System.nanoTime()
      try {
        val c = f(spark, dir).count()
        println(f"[probe] $n rows=$c in ${(System.nanoTime()-t0)/1e9}%.1fs")
      } catch { case NonFatal(e) =>
        println(s"[probe] $n FAILED: ${e.toString.take(500)}")
      }
    }
    spark.stop()
  }
}
