package graft.tools
import java.nio.file.Files
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.streaming.AdsbStream
object ProbeStream {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val in = Files.createTempDirectory("adsb-in").toString
    val outDir = Files.createTempDirectory("adsb-out").toString
    val ckpt = Files.createTempDirectory("adsb-ckpt").toString
    // drop the capture into the watched dir, then start the query
    val src = getClass.getResourceAsStream("/adsb/adsb_message_stream.txt")
    require(src != null, "missing resource /adsb/adsb_message_stream.txt")
    try Files.copy(src, java.nio.file.Paths.get(in, "capture.txt"))
    finally src.close()
    val q = AdsbStream.start(AdsbStream.fileLines(spark, in), outDir, ckpt)
    q.processAllAvailable()
    q.stop()
    Seq("flights", "positions", "positions_live").foreach { t =>
      val n = spark.read.parquet(s"$outDir/$t").count()
      println(s"[ps] $t rows=$n")
    }
    AdsbStream.prunePositionsLive(spark, outDir, retentionDays = 1)
    val live = spark.read.parquet(s"$outDir/positions_live")
    println("[ps] positions_live after prune (2019 partitions dropped): " +
      (try live.count() catch { case NonFatal(_) => 0L }))
    spark.stop()
  }
}
