package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Outcome of one workload run: every metric it measured, the operation
  * counts behind `failed_ratio`, and the output checks. */
final case class Result(
    metrics: Map[String, Double],
    attempted: Long,
    failed: Long,
    checks: Seq[(String, Boolean, String)],
    extra: Map[String, Any] = Map.empty)

/** Entry point of the measuring JVM. `run.py` generates the inputs,
  * starts this with them, and turns `result.json` into the final line.
  *
  * Arguments (all `--key value`): workload, input, work, seconds,
  * trace (0|1), plus the workload's expected counts. */
object Main {
  /** Spark runs `local[3]` on every host, so the workload is the same
    * whatever the machine's core count. On the 4-vCPU machines the
    * baseline was taken on, this leaves a core for the driver thread,
    * the JIT compilers and GC, which otherwise contend with the tasks:
    * at `local[4]` the analytics times spread about twice as wide
    * between runs (0.12–0.13 against 0.04–0.09 over five seeds). */
  val Cores = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    if (o("workload") == "classes") return loadClasses(work)
    val tracer = new Tracer(o("trace") == "1")
    val cfg = Config(o("input"), work, o("seconds").toDouble, Cores, tracer, o)
    val res = o("workload") match {
      case "ingest_batch" => BatchIngest.run(cfg)
      case "ingest_stream" => StreamIngest.run(cfg)
      case "analytics" => Analytics.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val self = tracer.selfSeconds.map { case (k, v) => s"self.$k" -> v }
    Files.writeString(Paths.get(work, "trace.json"), tracer.json)
    Files.writeString(Paths.get(work, "result.json"), Json(Map(
      "metrics" -> (res.metrics ++ (if (tracer.on) self else Map.empty)),
      "attempted" -> res.attempted, "failed" -> res.failed,
      "checks" -> res.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> res.extra)))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Loads the classes the workloads share, for the class-data sharing
    * archive that `run.py` writes when it builds: a session, text and
    * parquet I/O, an aggregation, a join, a window and a file stream. */
  def loadClasses(work: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val s = Session.start(Cores, work)
    s.range(10000).select(col("id"), (col("id") % 7).as("k"),
      current_timestamp().as("t")).write.parquet(s"$work/p")
    val p = s.read.parquet(s"$work/p")
    p.groupBy("k").agg(count(lit(1)).as("n"), max("t").as("m")).join(p, "k")
      .withColumn("r", row_number().over(Window.partitionBy("k").orderBy("id")))
      .select(concat_ws(",", col("id"), col("r"))).write.text(s"$work/q")
    s.readStream.text(s"$work/q").writeStream.format("parquet")
      .option("checkpointLocation", s"$work/ckpt")
      .trigger(Trigger.AvailableNow()).start(s"$work/r").awaitTermination()
    s.stop()
  }
}

final case class Config(input: String, work: String, seconds: Double,
    cores: Int, tracer: Tracer, opts: Map[String, String]) {
  def long(k: String): Long = opts(k).toLong
}

object Session {
  def start(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-up: start the session three times (stopping the first two)
    * and take the median start time, then run `warm` once on the live
    * session. Returns the session, set-up seconds (median start + warm)
    * and the individual times. */
  def setup(cores: Int, work: String)(warm: SparkSession => Unit)
      : (SparkSession, Double, Map[String, Any]) = {
    var spark: SparkSession = null
    val starts = (0 until 3).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = start(cores, work)
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    warm(spark)
    val warmS = (System.nanoTime() - t0) / 1e9
    (spark, Stats.median(starts) + warmS,
      Map("session_start_s" -> starts, "warm_s" -> warmS))
  }

  def deleteRecursively(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .foreach(c => deleteRecursively(c.getPath))
    f.delete()
  }

  /** Every parquet part file under `dir`. */
  def partFiles(dir: String): Seq[java.io.File] = {
    val f = new java.io.File(dir)
    if (!f.exists) Nil
    else if (f.isDirectory) Option(f.listFiles).toSeq.flatten
      .flatMap(c => partFiles(c.getPath))
    else if (f.getName.startsWith("part-")) Seq(f) else Nil
  }
}
