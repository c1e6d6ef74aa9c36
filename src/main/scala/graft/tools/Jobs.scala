package graft.tools

import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.graftbridge.Bridge

/** Deterministic cost probe: per query, the result ROWS, the number of
  * Spark JOBS, STAGES and TASKS plus summed task run/CPU time — the
  * scheduling-overhead mechanism measurement that survives host noise
  * (wall seconds at this SF swing ±40% run to run; task counts are
  * exact). `cached` and `pins` are what the measured run left behind,
  * read before the harness's `clearCache()`: SQL-cache entries (a
  * resident session would keep them) and new persistent RDDs (local
  * checkpoints the ContextCleaner has not yet reclaimed). Reads SPARK_GRAFT_CPUS / SPARK_GRAFT_SF_DIR like Bench;
  * query names as args run a subset. Pointing SPARK_GRAFT_SF_DIR at
  * the sf0.001 tables gives a quick rows-and-failures smoke pass over
  * every query:
  * `SPARK_GRAFT_SF_DIR=<testdata>/sf0.001 sbt "runMain graft.tools.Jobs"`. */
object Jobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      graft.Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong; val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val verbose = sys.env.contains("JOBS_VERBOSE")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (verbose) {
          val names = e.stageInfos.map(_.name.takeWhile(_ != '\n').take(60))
            .mkString(" | ")
          val n = e.stageInfos.map(_.numTasks).sum
          println(s"[job] tasks=$n :: $names")
        }
        ()
      }
      override def onStageCompleted(
          e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          runMs.addAndGet(m.executorRunTime)
          cpuNs.addAndGet(m.executorCpuTime)
        }
        ()
      }
    })
    def drain(): Unit = Bridge.drainListenerBus(spark.sparkContext)
    val names = args.toSeq
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => names.isEmpty || names.contains(q._1))
      .foreach { case (n, f) =>
        // one unmeasured warm run (memoized indexes/dicts build here)
        try f(spark, sfDir).queryExecution.toRdd.count()
        catch { case NonFatal(_) => () }
        spark.catalog.clearCache()
        drain()
        val (j0, s0, t0, r0, c0) = (jobs.get, stages.get, tasks.get,
          runMs.get, cpuNs.get)
        val pinned = spark.sparkContext.getPersistentRDDs.keySet
        val w0 = System.nanoTime()
        try {
          val rows = f(spark, sfDir).queryExecution.toRdd.count()
          val wall = (System.nanoTime() - w0) / 1e9
          drain()
          println(f"[jobs] $n rows=$rows jobs=${jobs.get - j0} " +
            f"stages=${stages.get - s0} tasks=${tasks.get - t0} " +
            f"taskRunSec=${(runMs.get - r0) / 1e3}%.2f " +
            f"taskCpuSec=${(cpuNs.get - c0) / 1e9}%.2f wall=$wall%.2f " +
            s"cached=${Bridge.cachedEntries(spark)} " +
            s"pins=${(spark.sparkContext.getPersistentRDDs.keySet -- pinned).size}")
        } catch { case NonFatal(e) =>
          println(s"[jobs] $n FAILED: ${e.toString.take(300)}")
        }
        spark.catalog.clearCache()
      }
    println(s"[jobs] ${graft.Memo.report}")
    spark.stop()
  }
}
