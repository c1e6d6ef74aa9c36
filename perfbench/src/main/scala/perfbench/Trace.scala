package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Task-level totals; differences of two snapshots give one span's work. */
final case class Totals(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    gcMs: Long = 0, shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes)
}

/** Per streaming micro-batch job counts (jobs carry the batch id as
  * the `streaming.sql.batchId` local property). */
final class BatchJobs {
  var jobs = 0
  var tasks = 0
  var sinkJobs = 0
  val sinkJobMs = ArrayBuffer.empty[Double]
}

/** The benchmark's SparkListener: task totals for every job, and per
  * streaming micro-batch the jobs, tasks and parquet-write jobs. */
final class Meter extends SparkListener {
  private var t = Totals()
  private val batches = mutable.Map.empty[Long, BatchJobs]
  private val jobBatch = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobWrite = mutable.Set.empty[Int]
  private val writeExecs = mutable.Set.empty[Long]
  private val stageBatch = mutable.Map.empty[Int, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelation") =>
      synchronized(writeExecs += s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .foreach { b =>
        val id = b.toLong
        jobBatch(e.jobId) = id
        jobStartMs(e.jobId) = e.time
        val s = batches.getOrElseUpdate(id, new BatchJobs)
        s.jobs += 1
        e.stageIds.foreach(stageBatch(_) = id)
        val exec = props.flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        if (exec.exists(writeExecs)) { s.sinkJobs += 1; jobWrite += e.jobId }
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (jobWrite.remove(e.jobId))
      for (b <- jobBatch.get(e.jobId); st <- jobStartMs.get(e.jobId))
        batches(b).sinkJobMs += (e.time - st).toDouble
    jobStartMs.remove(e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    t = t.copy(tasks = t.tasks + 1)
    stageBatch.get(e.stageId).foreach(batches(_).tasks += 1)
    val m = e.taskMetrics
    if (m != null)
      t = t.copy(
        cpuNs = t.cpuNs + m.executorCpuTime,
        gcMs = t.gcMs + m.jvmGCTime,
        shuffleWriteBytes = t.shuffleWriteBytes +
          m.shuffleWriteMetrics.bytesWritten,
        spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  def snapshot(sc: SparkContext): Totals = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(t)
  }

  def batchJobs(sc: SparkContext): Map[Long, BatchJobs] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized(batches.toMap)
  }
}

/** One timed interval. `req` is the request it belongs to (an
  * iteration, a chunk, a trigger or a query); `parent` is 0 for a root. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory and written when the run ends. With `on` false
  * nothing is recorded and `span` only runs its body. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1

  def record(parent: Int, name: String, req: String, startNs: Long,
      endNs: Long): Int = synchronized {
    if (!on) 0
    else {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, req, startNs, endNs)
      id
    }
  }

  def span[T](name: String, req: String, parent: Int = 0)(
      body: Int => T): (T, Long) = {
    // reserve the id first so children can point at it
    val id = if (on) synchronized { val i = nextId; nextId += 1; i } else 0
    val t0 = System.nanoTime()
    val r = body(id)
    val t1 = System.nanoTime()
    if (on) synchronized(spans += Span(id, parent, name, req, t0, t1))
    (r, t1 - t0)
  }

  /** Mean self time per span name, seconds: a span's duration minus the
    * part of it its children cover. */
  def selfSeconds: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).toSeq
          .map(c => (math.max(c.startNs, s.startNs),
            math.min(c.endNs, s.endNs))).filter(p => p._2 > p._1))
        (s.durNs - covered).toDouble / 1e9
      }.sum / ss.size
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def json: String = Json(spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "req" -> s.req,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
}

object Stats {
  /** Linear-interpolated percentile, q in [0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
