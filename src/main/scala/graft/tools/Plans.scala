package graft.tools
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(8)
    val dir = "/root/testdata/sf0.01"
    args.foreach { n =>
      println(s"######## $n")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
