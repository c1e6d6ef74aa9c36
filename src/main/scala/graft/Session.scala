package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the driver mains and tools (Verify,
  * BenchSlope, `tools.Jobs`, `tools.Plans`). `Bench` keeps its own so
  * its harness contract stays frozen. */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC session time,
    * no UI, shuffle/spill under `SPARK_LOCAL_DIRS` (default
    * `/dev/shm/graft-spark`), WARN logging plus [[QuietLogs]]. AQE is
    * on by default in Spark 4, so it is not set here. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // shuffle/spill on tmpfs: local-disk writeback from earlier runs
      // otherwise intermittently slows fresh JVMs 3-10x
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // log scoping: see QuietLogs (tail-window protection)
    QuietLogs()
    spark
  }
}
