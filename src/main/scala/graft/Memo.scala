package graft

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one owner of memoized values (persisted index directories,
  * catalog dictionaries, sidecar parameters, IVF codebooks), keyed by
  * (session, key). A session holds at most [[Cap]] entries; evicting
  * its eldest drops only the reference (an index directory stays on
  * disk). A session's entries go when its `SparkContext` ends, through
  * one `onApplicationEnd` listener per context.
  *
  * Builds run outside the map's lock, so a build may run Spark jobs
  * that reach Memo themselves; concurrent callers of one key wait for
  * its one build, and a build that throws is run again by the next. */
object Memo {

  /** Entries per session: above twice a `graft.Verify` run's peak (26),
    * since `graft.Bench` keys the indexes of two sf dirs. */
  val Cap = 128

  private final class Cell { var value: AnyRef = _ }

  // guarded by itself; each session's entries in insertion order
  private val bySession =
    mutable.HashMap.empty[SparkSession, mutable.LinkedHashMap[String, Cell]]
  private var peak, evicted = 0

  /** Builds completed in this JVM; a run during which it moved built. */
  val builds = new java.util.concurrent.atomic.AtomicLong

  /** The value under (`s`, `key`), built by `build` on first use. */
  def apply[A <: AnyRef](s: SparkSession, key: String)(build: => A): A = {
    val cell = bySession.synchronized {
      val sc = s.sparkContext
      if (!bySession.keysIterator.exists(_.sparkContext eq sc))
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd)
              : Unit = bySession.synchronized {
            bySession.filterInPlace((k, _) => !(k.sparkContext eq sc))
          }
        })
      val m = bySession.getOrElseUpdate(s, mutable.LinkedHashMap.empty)
      m.getOrElseUpdate(key, {
        if (m.size >= Cap) { m.remove(m.head._1); evicted += 1 }
        peak = peak.max(m.size + 1)
        new Cell
      })
    }
    cell.synchronized {
      if (cell.value == null) { cell.value = build; builds.incrementAndGet() }
      cell.value.asInstanceOf[A]
    }
  }

  /** The most entries one session has held, and the entries evicted. */
  def report: String = bySession.synchronized(
    s"memo: peak $peak entries in one session (cap $Cap), $evicted evicted")

  /** [[apply]] for a value read from `dir`, keyed by the directory's
    * file listing (sorted name:length:mtime). Parquet part files take
    * fresh names on every rewrite, so a rewrite at the same path, by
    * any session, changes the key and the value is read again. A
    * directory that cannot be listed is read unmemoized, so the read
    * reports the real error. */
  def ofDir[A <: AnyRef](s: SparkSession, kind: String, dir: String)(
      read: => A): A = {
    val listing =
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        Some(p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .listStatus(p).map(f =>
            s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
          .sorted.mkString("|"))
      } catch { case NonFatal(_) => None }
    listing.fold(read)(l => apply(s, s"$kind|$dir|$l")(read))
  }
}
