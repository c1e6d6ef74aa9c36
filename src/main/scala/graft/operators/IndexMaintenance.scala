package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Sinks

/** Lifecycle maintenance for the persisted `cid=` partition-directory
  * IVF layout ([[Ivf.persist]]): build → reindex | rebuild → serve,
  * with recovery.
  *
  *  - [[reindexFlagged]] repairs the clusters [[Ivf.centroidDrift]]
  *    flags in place; [[rebuildPersisted]] retrains the whole
  *    quantizer in a shadow index and swaps it in while the live one
  *    keeps serving.
  *  - Both rewrite directories through [[Sinks.compact]]'s
  *    staged-rename swap, and [[recoverReindex]]/[[recoverRebuild]]
  *    roll an interrupted run forward (or discard it) from any crash
  *    point. [[recoverPersisted]] extends [[Sinks.recoverCompact]]'s
  *    case analysis over every partition directory (a leftover
  *    `cid=N__compacting` directory would otherwise pollute partition
  *    discovery).
  */
object IndexMaintenance {

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)

  /** Repair the clusters [[Ivf.centroidDrift]] FLAGS, without a full
    * rebuild (round-14, VERDICT r13 ask #5 — the missing step of the
    * index lifecycle: build → append → drift-flag → THIS → serve):
    *
    *  1. flag clusters whose drift exceeds `medianMultiple` × the
    *     cluster-median (the s17 trigger, re-evaluated here);
    *  2. RE-TRAIN each flagged cluster's centroid as its current
    *     member mean — in EXACT fixed-point (per-dimension
    *     `floor(Σ⌊x·1e7⌋ / n)`, then `float(c7/1e7)`), so the DuckDB
    *     oracle replays the repaired codebook bit-for-bit (a
    *     decimal-avg float cast would be engine-rounding-dependent);
    *  3. REASSIGN only the flagged clusters' members across the full
    *     updated codebook (the standard [[Ivf.assign]] argmax — a
    *     member may leave for an unflagged cluster whose centroid now
    *     fits it better);
    *  4. persist: reassigned rows stage to `__reindex_stage`, the
    *     flagged `cid=` directories are replaced, the quantizer
    *     sidecar is overwritten with the updated centroids, and the
    *     audit lands in `__reindex_audit`.
    *
    * Cost scales with the FLAGGED membership (plus one (id, cid)
    * column scan for the audit counts), never the corpus — the
    * append-lifecycle property, extended to repair. Everything
    * driver-held is index metadata (k centroids, k² moved-count
    * cells).
    *
    * Idempotent per index: an existing `__reindex_audit` short-
    * circuits to the stored audit (the gate/bench steady state).
    * CRASH-SAFE: the complete repair plan (reassigned rows, updated
    * quantizer, audit, `_COMMIT` marker) stages BEFORE any live
    * mutation, and the apply step ([[applyReindexStage]]) rewrites
    * each affected directory through [[Sinks.compact]]'s
    * staged-rename swap with an idempotent transform — so
    * [[recoverReindex]] rolls a committed stage forward (or
    * discards an uncommitted one, live index untouched) after a
    * crash at any point. Payload-carrying
    * indexes ([[Ivf.persistWithPayload]]) are out of scope: the
    * stage write would drop their metadata columns.
    *
    * Returns the audit: one row per cluster — (cid, flagged,
    * n_before, n_after, n_moved_out, n_moved_in, sum_ids_after);
    * `sum_ids_after` is the membership checksum the oracle replays
    * (any single vector landing in the wrong cluster changes it). */
  def reindexFlagged(spark: SparkSession, path: String,
      medianMultiple: Double): DataFrame = {
    import spark.implicits._
    val base = path.stripSuffix("/")
    val auditPath = base + "__reindex_audit"
    val fs = fsOf(spark, base)
    // A leftover stage means a crash mid-apply: applyReindexStage's
    // audit overwrite is not atomic, so an audit that coexists with a
    // committed stage may be PARTIAL — heal first, and only then let
    // the idempotency short-circuit trust what it reads (ADVICE r14).
    if (fs.exists(new Path(stagePath(base))))
      recoverReindex(spark, base)
    if (fs.exists(new Path(auditPath)))
      return spark.read.parquet(auditPath)
    // Payload-carrying indexes (Ivf.persistWithPayload) are out of
    // scope — enforced here, not just in scaladoc (ADVICE r14): the
    // (id, vec, cid) stage would drop the payload columns, and
    // applyReindexStage's unionByName would then throw on the wider
    // live schema AFTER _COMMIT, leaving a stage recoverReindex can
    // neither roll forward nor discard. Fail loudly BEFORE staging.
    val liveCols = spark.read.parquet(base).schema.fieldNames.toSet
    val extra = liveCols -- Set("id", "vec", "cid")
    if (extra.nonEmpty) throw new IllegalStateException(
      s"reindexFlagged: index at $base carries payload columns " +
        s"(${extra.toSeq.sorted.mkString(", ")}) — local repair " +
        "supports only (id, vec, cid) layouts; rebuild payload " +
        "indexes via the full rebuild path instead")
    val flagged = Ivf.centroidDrift(spark, path, medianMultiple)
      .where(col("rebuild")).select(col("cid"))
      .collect().map(_.getInt(0)).sorted
    val pre = spark.read.parquet(base)
      .select(col("id"), col("vec"), col("cid"))
    // k-bounded driver state: per-cluster count + id sum before
    val preAgg = pre.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sid"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def auditFrame(moved: Map[(Int, Int), (Long, Long)]): DataFrame = {
      val flaggedSet = flagged.toSet
      val allCids = Ivf.loadCodebook(spark, base).map(_._1)
      allCids.toSeq.sorted.map { c =>
        val (nb, sb) = preAgg.getOrElse(c, (0L, 0L))
        // .toSeq first: collecting (Long, Long) values straight off
        // the Map would rebuild a Map keyed by the COUNT (deduping
        // every same-count pair — the bug that under-reported
        // multi-target moves until the oracle caught it)
        val outPairs = moved.toSeq.collect {
          case ((o, n), v) if o == c && n != c => v }
        val inPairs = moved.toSeq.collect {
          case ((o, n), v) if n == c && o != c => v }
        val (no, so) = (outPairs.map(_._1).sum, outPairs.map(_._2).sum)
        val (ni, si) = (inPairs.map(_._1).sum, inPairs.map(_._2).sum)
        (c.toLong, flaggedSet.contains(c), nb, nb - no + ni, no, ni,
          sb - so + si)
      }.toDF("cid", "flagged", "n_before", "n_after", "n_moved_out",
        "n_moved_in", "sum_ids_after")
    }
    if (flagged.isEmpty) {
      auditFrame(Map.empty).coalesce(1).write.mode("overwrite")
        .parquet(auditPath)
      return spark.read.parquet(auditPath)
    }
    val members = pre
      .where(col("cid").isin(flagged.map(Int.box): _*))
      .select(col("id"), col("vec"), col("cid").as("old_cid"))
    val rep = members
      .select(col("old_cid").as("cid"),
        posexplode(col("vec")).as(Seq("j", "x")))
      .groupBy(col("cid"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("x").cast("double") * 10000000.0d).cast("long"))
          .as("sfp"))
      .select(col("cid"), col("j"),
        floor(col("sfp").cast("double") / col("n")).cast("long")
          .as("c7"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("c7")))),
        e => (e("c7").cast("double") / lit(10000000.0d)).cast("float"))
        .as("cvec"))
    val repMap = rep.collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    val codebook = Ivf.loadCodebook(spark, base).map {
      case (cid, v, nrm) => repMap.get(cid)
        .map(rv => (cid, rv, Ivf.vnorm(rv)))
        .getOrElse((cid, v, nrm))
    }
    // materialized: the audit aggregate below and the stage write
    // must see ONE assignment, and the apply step rewrites the very
    // files this plan scans
    val reassigned = Ivf.assign(
        members.select(col("id"), col("vec")), codebook)
      .join(members.select(col("id"), col("old_cid")), Seq("id"))
      .localCheckpoint(true)
    val moved = reassigned.groupBy(col("old_cid"), col("cid"))
      .agg(count(lit(1)).as("n"), sum(col("id")).as("sid"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // STAGE the COMPLETE repair plan before ANY live mutation
    // (round-14 hardening of the original delete-then-append
    // surgery, whose crash window lost flagged members): reassigned
    // rows, the updated quantizer, the audit, the flagged list, and
    // a _COMMIT marker written LAST. Until _COMMIT exists the live
    // index is untouched; after it, [[applyReindexStage]] is
    // idempotent, so [[recoverReindex]] can always roll the repair
    // forward (or discard an uncommitted stage) after a crash.
    val stage = stagePath(base)
    fs.delete(new Path(stage), true)
    reassigned.select(col("id"), col("vec"), col("cid"))
      .write.partitionBy("cid").parquet(s"$stage/rows")
    codebook.toSeq.map { case (c, v, _) => (c, v.toSeq) }
      .toDF("cid", "cvec")
      .coalesce(1).write.parquet(s"$stage/quantizer")
    auditFrame(moved).coalesce(1).write.parquet(s"$stage/audit")
    fs.create(new Path(s"$stage/_COMMIT")).close()
    applyReindexStage(spark, base)
    spark.read.parquet(auditPath)
  }

  private def stagePath(base: String): String =
    base.stripSuffix("/") + "__reindex_stage"

  /** Roll a COMMITTED reindex stage forward onto the live index —
    * IDEMPOTENT, so it doubles as the crash-recovery path: every
    * affected cluster directory (flagged sources ∪ move targets)
    * rewrites through [[Sinks.compact]]'s staged-rename swap with
    * the transform "drop any staged id, add this directory's staged
    * rows" (re-applying to an already-repaired directory reproduces
    * the same content); the quantizer and audit sidecars overwrite
    * from the stage; the stage deletes LAST (the done marker). A
    * crash inside any single directory swap heals via
    * [[recoverPersisted]] before re-applying. Write amplification:
    * affected directories rewrite wholly — the price of exactly-once
    * repair without a transaction log; affected = drift-flagged
    * clusters plus their move targets, few by construction, and each
    * directory swap is independent (shardable at fleet scale). */
  private[operators] def applyReindexStage(spark: SparkSession,
      path: String): Unit = {
    val base = path.stripSuffix("/")
    val stage = stagePath(base)
    val fs = fsOf(spark, base)
    require(fs.exists(new Path(s"$stage/_COMMIT")),
      s"applyReindexStage: no committed stage at $stage")
    val rows = spark.read.parquet(s"$stage/rows")
      .select(col("id"), col("vec"), col("cid"))
    val stagedIds = rows.select(col("id")).distinct()
    val flagged = spark.read.parquet(s"$stage/audit")
      .where(col("flagged")).select(col("cid"))
      .collect().map(_.getLong(0).toInt)
    val targets = rows.select(col("cid")).distinct()
      .collect().map(_.getInt(0))
    (flagged ++ targets).distinct.sorted.foreach { c =>
      val dir = s"$base/cid=$c"
      val dirP = new Path(dir)
      val add = rows.where(col("cid") === c).select(col("id"), col("vec"))
      // A directory holding committed part- files is live; one with
      // only _temporary/ (a crashed first write) must be treated as
      // ABSENT — otherwise recovery routes it to Sinks.compact, whose
      // read fails schema inference and wedges recoverReindex
      // (ADVICE r14).
      val hasData = fs.exists(dirP) && fs.listStatus(dirP)
        .exists(st => st.isFile && st.getPath.getName.startsWith("part-"))
      if (hasData)
        Sinks.compact(spark, dir, rowsPerFile = 1L << 20, transform = df =>
          df.join(stagedIds, Seq("id"), "left_anti").unionByName(add))
      else {
        // fresh move-target: stage to a `_`-prefixed sibling (Spark's
        // partition discovery and recoverPersisted both skip it), then
        // rename into place — the rename is the commit point, so a
        // crash at any step just re-runs this branch idempotently
        fs.delete(dirP, true)
        val tmp = new Path(s"$base/_reindex_new_cid_$c")
        fs.delete(tmp, true)
        add.write.parquet(tmp.toString)
        require(fs.rename(tmp, dirP),
          s"applyReindexStage: rename $tmp -> $dirP failed")
      }
    }
    spark.read.parquet(s"$stage/quantizer").localCheckpoint(true)
      .coalesce(1).write.mode("overwrite")
      .parquet(Ivf.quantizerPath(base))
    spark.read.parquet(s"$stage/audit").localCheckpoint(true)
      .coalesce(1).write.mode("overwrite")
      .parquet(base + "__reindex_audit")
    fs.delete(new Path(stage), true)
  }

  /** Recover a [[reindexFlagged]] interrupted at ANY point: heal any
    * mid-swap directory first, then roll a committed stage forward
    * (idempotent) or discard an uncommitted one (the live index was
    * never touched before _COMMIT). Returns the action taken. */
  def recoverReindex(spark: SparkSession, path: String): String = {
    val base = path.stripSuffix("/")
    val stage = stagePath(base)
    val fs = fsOf(spark, base)
    recoverPersisted(spark, base)
    if (!fs.exists(new Path(stage))) "clean"
    else if (fs.exists(new Path(s"$stage/_COMMIT"))) {
      applyReindexStage(spark, base)
      "resumed"
    } else {
      fs.delete(new Path(stage), true)
      "discarded_uncommitted_stage"
    }
  }

  // ---------------------------------------------------------------
  // s19: FULL quantizer rebuild with serving continuity (round-15,
  // VERDICT r14 ask #1) — the lifecycle step s18 deliberately left
  // open: local repair recovers drift, but the fresh-build recall
  // floor is QUANTIZER CAPACITY (measured in ReindexSpec r14:
  // repair 0.60→0.68 vs 0.92 fresh), and regaining it requires
  // retraining the quantizer — a full rebuild, which must not stop
  // the index from serving or from ingesting appends.
  // ---------------------------------------------------------------

  private[operators] def rebuildShadowPath(base: String): String =
    base.stripSuffix("/") + "__rebuild"

  /** Every committed data file under `dir`'s partition tree —
    * fully-qualified paths; `_`/`.`-prefixed names skipped at every
    * level (in-flight write attempts, markers, sidecars). Parquet
    * files are immutable once committed, so two listings bracket a
    * set of appends exactly: the difference IS the appended rows. */
  private[operators] def dataFilesUnder(fs: FileSystem, dir: String): Set[String] = {
    def walk(p: Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty
        else if (st.isDirectory) walk(st.getPath)
        else if (n.startsWith("part-")) Seq(st.getPath.toString)
        else Seq.empty
      }
    if (!fs.exists(new Path(dir))) Set.empty else walk(new Path(dir)).toSet
  }

  /** base-relative names of `files` (qualified path strings). */
  private[operators] def relativize(fs: FileSystem, base: String,
      files: Set[String]): Set[String] = {
    val q = fs.makeQualified(new Path(base)).toString.stripSuffix("/") + "/"
    files.map(f => fs.makeQualified(new Path(f)).toString.stripPrefix(q))
  }

  /** The snapshot manifest travels INSIDE the shadow data directory
    * (so the s2 rename carries it to the live path): the set of live
    * data files whose rows the shadow has incorporated. The swap
    * diffs the displaced live copy against it and replays any
    * STRAGGLER files (appends that landed after the last catch-up
    * round) into the new index — losslessness without quiescing
    * writers. */
  private[operators] def writeManifest(fs: FileSystem, shadow: String, base: String,
      seen: Set[String]): Unit = {
    val out = fs.create(new Path(s"$shadow/_SNAPSHOT"), true)
    out.write(relativize(fs, base, seen).toSeq.sorted
      .mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  private[operators] def readManifest(fs: FileSystem, dir: String): Option[Set[String]] = {
    val p = new Path(s"$dir/_SNAPSHOT")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val bytes = try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](8192)
        Iterator.continually(in.read(tmp)).takeWhile(_ >= 0)
          .foreach(n => buf.write(tmp, 0, n))
        buf.toByteArray
      } finally in.close()
      Some(new String(bytes, "UTF-8").split("\n").filter(_.nonEmpty).toSet)
    }
  }

  /** REBUILD a persisted (id, vec, cid) IVF index from scratch —
    * retrained quantizer, full reassignment — while the live index
    * keeps serving and ingesting:
    *
    *  1. SNAPSHOT: list the live data files (parquet immutability
    *     makes the listing a consistent snapshot — appends only add
    *     files) and train a fresh [[Ivf.build]] on the snapshot rows,
    *     persisting the shadow index + quantizer
    *     beside the live one (`__rebuild`). The live index is not
    *     touched; reads and [[Ivf.appendPersisted]] writes continue.
    *  2. CATCH-UP: re-list; files that appeared since the snapshot
    *     are appends that landed during the build — their rows are
    *     assigned with the NEW quantizer and appended to the shadow.
    *     Loops until a listing shows nothing new (or `maxCatchUp`
    *     rounds — anything later is absorbed by step 3's straggler
    *     replay, never lost).
    *  3. SWAP: a `_READY` marker commits the shadow, then the
    *     [[Sinks.compact]] staged-rename discipline swaps data and
    *     quantizer (live → `__prerebuild`, shadow → live); before the
    *     displaced copy is deleted, its files are diffed against the
    *     shadow's snapshot manifest and any straggler appends replay
    *     into the new index through an id anti-join (idempotent, so
    *     a crash mid-replay re-runs safely). [[recoverRebuild]] rolls
    *     a READY shadow forward from ANY crash point and discards an
    *     unready one (live untouched until `_READY` exists).
    *
    * Serving continuity: the only reader-visible gap is the instant
    * between the two data renames (the compact-swap caveat); at every
    * other moment a complete index serves at `path`.
    *
    * `onShadowBuilt` runs after the shadow persists and before the
    * first catch-up listing — the coordination seam an orchestrator
    * (or spec/gate) uses to interleave a concurrent append
    * deterministically.
    *
    * Returns (and persists at `path__rebuild_audit`) the audit: one
    * row per new cluster — (cid, n_members, sum_ids,
    * n_from_snapshot, n_from_replay); `sum_ids` is the membership
    * checksum the oracle replays. The audit covers the snapshot and
    * catch-up phases (straggler rows absorbed at swap time keep the
    * index lossless but are bookkept only on disk); it is written
    * after the swap commits — the index, not the audit, is the
    * crash-safe artifact. Payload-carrying indexes are rejected
    * loudly, as in [[reindexFlagged]]. */
  def rebuildPersisted(spark: SparkSession, path: String, k: Int,
      iters: Int = 2, trainSampleCap: Int = 4096, maxCatchUp: Int = 5,
      onShadowBuilt: () => Unit = () => ()): DataFrame = {
    import spark.implicits._
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    // never two rebuilds in flight: heal (or discard) any prior one
    recoverRebuild(spark, base)
    val shadow = rebuildShadowPath(base)
    val shadowQ = Ivf.quantizerPath(shadow)
    fs.delete(new Path(shadow), true)
    fs.delete(new Path(shadowQ), true)
    val liveCols = spark.read.parquet(base).schema.fieldNames.toSet
    val extra = liveCols -- Set("id", "vec", "cid")
    if (extra.nonEmpty) throw new IllegalStateException(
      s"rebuildPersisted: index at $base carries payload columns " +
        s"(${extra.toSeq.sorted.mkString(", ")}) — the rebuilt layout " +
        "would drop them; rebuild payload indexes with their payload " +
        "source at hand instead")
    def readRows(files: Iterable[String]): DataFrame =
      spark.read.parquet(files.toSeq.sorted: _*)
        .select(col("id"), col("vec"))
    var seen = dataFilesUnder(fs, base)
    require(seen.nonEmpty, s"rebuildPersisted: no data files at $base")
    val built = Ivf.build(readRows(seen), col("id"), col("vec"), k, iters,
      trainSampleCap)
    // read twice: the shadow write and its stats below
    val idx = built.copy(assigned = Dedup.share(built.assigned))
    Ivf.persist(idx, shadow)
    def statsOf(df: DataFrame): Map[Int, (Long, Long)] =
      df.groupBy(col("cid"))
        .agg(count(lit(1)).as("n"), sum(col("id")).as("sid")).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val snapStats = statsOf(idx.assigned)
    onShadowBuilt()
    // catch-up: appends that landed during the build, assigned with
    // the NEW quantizer; per-round stats stay k-bounded driver state
    val codebook = Ivf.loadCodebook(spark, shadow)
    var repStats = Map.empty[Int, (Long, Long)]
    var rounds = 0
    var cur = dataFilesUnder(fs, base)
    while ((cur -- seen).nonEmpty && rounds < maxCatchUp) {
      val batch = Ivf.assign(readRows(cur -- seen), codebook)
        .localCheckpoint(true)
      batch.write.mode("append").partitionBy("cid").parquet(shadow)
      statsOf(batch).foreach { case (c, (n, s0)) =>
        val (pn, ps) = repStats.getOrElse(c, (0L, 0L))
        repStats += c -> (pn + n, ps + s0)
      }
      seen = cur; rounds += 1; cur = dataFilesUnder(fs, base)
    }
    writeManifest(fs, shadow, base, seen)
    fs.create(new Path(s"$shadow/_READY"), true).close()
    completeRebuildSwap(spark, base)
    val audit = codebook.map(_._1).toSeq.sorted.map { c =>
      val (sn, ss) = snapStats.getOrElse(c, (0L, 0L))
      val (rn, rs) = repStats.getOrElse(c, (0L, 0L))
      (c.toLong, sn + rn, ss + rs, sn, rn)
    }.toDF("cid", "n_members", "sum_ids", "n_from_snapshot",
      "n_from_replay")
    audit.coalesce(1).write.mode("overwrite")
      .parquet(base + "__rebuild_audit")
    spark.read.parquet(base + "__rebuild_audit")
  }

  /** Roll a READY rebuild swap forward — IDEMPOTENT (every step is
    * guarded by what still exists, and the straggler replay
    * anti-joins ids already present), so it doubles as the
    * crash-recovery path. Step order: data rename pair, quantizer
    * rename pair, straggler replay from the displaced copy, cleanup
    * (backups deleted before the manifest, so a missing manifest
    * never hides an undeleted backup's stragglers). */
  private[operators] def completeRebuildSwap(spark: SparkSession,
      path: String): Unit = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    val shadow = rebuildShadowPath(base)
    val shadowQ = Ivf.quantizerPath(shadow)
    val liveQ = Ivf.quantizerPath(base)
    val pre = base + "__prerebuild"
    val preQ = liveQ + "__prerebuild"
    if (fs.exists(new Path(shadow))) {
      require(fs.exists(new Path(s"$shadow/_READY")),
        s"completeRebuildSwap: shadow at $shadow is not READY")
      if (fs.exists(new Path(base))) {
        // a pre that coexists with live is a stale backup from an
        // older completed swap — disposable; but when live is MISSING
        // (crash between the two renames), pre IS this swap's
        // displaced copy and must survive to the straggler check
        fs.delete(new Path(pre), true)
        require(fs.rename(new Path(base), new Path(pre)),
          s"completeRebuildSwap: cannot move $base aside")
      }
      require(fs.rename(new Path(shadow), new Path(base)),
        s"completeRebuildSwap: cannot promote $shadow")
    }
    if (fs.exists(new Path(shadowQ))) {
      if (fs.exists(new Path(liveQ))) {
        fs.delete(new Path(preQ), true)
        require(fs.rename(new Path(liveQ), new Path(preQ)),
          s"completeRebuildSwap: cannot move $liveQ aside")
      }
      require(fs.rename(new Path(shadowQ), new Path(liveQ)),
        s"completeRebuildSwap: cannot promote $shadowQ")
    }
    // straggler replay: files in the displaced copy that the shadow
    // never saw are appends that landed after the last catch-up —
    // assign them with the NEW quantizer and fold them in. The id
    // anti-join (one pruned id-column scan) makes re-running after a
    // crash mid-append safe.
    (readManifest(fs, base), fs.exists(new Path(pre))) match {
      case (Some(manifest), true) =>
        val stragglers = (relativize(fs, pre, dataFilesUnder(fs, pre)) --
          manifest).toSeq.sorted.map(r => s"$pre/$r")
        if (stragglers.nonEmpty) {
          val rows = spark.read.parquet(stragglers: _*)
            .select(col("id"), col("vec"))
            .join(spark.read.parquet(base).select(col("id")),
              Seq("id"), "left_anti")
          Ivf.assign(rows, Ivf.loadCodebook(spark, base))
            .write.mode("append").partitionBy("cid").parquet(base)
        }
      case _ => ()
    }
    fs.delete(new Path(pre), true)
    fs.delete(new Path(preQ), true)
    fs.delete(new Path(s"$base/_SNAPSHOT"), false)
    fs.delete(new Path(s"$base/_READY"), false)
  }

  /** Recover a [[rebuildPersisted]] interrupted at ANY point: a
    * shadow without `_READY` is an incomplete build — discarded, the
    * live index was never touched; anything after `_READY` rolls
    * forward through [[completeRebuildSwap]]'s guarded steps.
    * Idempotent. Returns the action taken. */
  def recoverRebuild(spark: SparkSession, path: String): String = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    val shadow = rebuildShadowPath(base)
    val shadowQ = Ivf.quantizerPath(shadow)
    val pre = base + "__prerebuild"
    val preQ = Ivf.quantizerPath(base) + "__prerebuild"
    if (fs.exists(new Path(shadow)) &&
        !fs.exists(new Path(s"$shadow/_READY"))) {
      fs.delete(new Path(shadow), true)
      fs.delete(new Path(shadowQ), true)
      "discarded_unready_shadow"
    } else if (fs.exists(new Path(shadow)) || fs.exists(new Path(shadowQ)) ||
        fs.exists(new Path(s"$base/_READY")) || fs.exists(new Path(pre)) ||
        fs.exists(new Path(preQ))) {
      completeRebuildSwap(spark, base)
      "resumed"
    } else "clean"
  }

  /** Run [[Sinks.recoverCompact]]'s case analysis over every partition
    * directory that shows a crash state (live missing, or leftover
    * `__compacting`/`__precompact` siblings). Idempotent; returns the
    * action taken per recovered directory. */
  def recoverPersisted(spark: SparkSession,
      path: String): Map[String, String] = {
    val base = path.stripSuffix("/")
    val fs = fsOf(spark, base)
    // A flat-layout compact stages SIBLINGS of base (and a crash
    // between its two renames leaves base itself missing) — recover
    // the base as a whole before looking inside it.
    val flatCrash = !fs.exists(new Path(base)) ||
      fs.exists(new Path(base + "__compacting")) ||
      fs.exists(new Path(base + "__precompact"))
    val baseAction: Map[String, String] =
      if (flatCrash) Map("." -> Sinks.recoverCompact(spark, base))
      else Map.empty
    // walk the whole partition tree (a nested layout crashes at leaf
    // level) for swap leftovers
    def stems(dir: String): Seq[(String, String)] = {
      val children = fs.listStatus(new Path(dir)).toSeq
        .filter(_.isDirectory).map(_.getPath.getName)
      val here = children.collect {
        case n if n.endsWith("__compacting") => n.stripSuffix("__compacting")
        case n if n.endsWith("__precompact") => n.stripSuffix("__precompact")
      }.distinct.map(stem => (s"$dir/$stem", s"$dir/$stem"))
      here ++ children
        .filter(n => n.contains("=") && !n.endsWith("__compacting") &&
          !n.endsWith("__precompact") && !n.startsWith("_"))
        .flatMap(n => stems(s"$dir/$n"))
    }
    baseAction ++ stems(base).map { case (key, p) =>
      key.stripPrefix(base + "/") -> Sinks.recoverCompact(spark, p)
    }.toMap
  }
}
