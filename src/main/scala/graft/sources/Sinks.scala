package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Sink-side physical design (SURVEY.md §4 + S6/S7/S9).
  *
  * The reference's write path is SQLAlchemy `add()` + 1 s commits into
  * Postgres with btree-DESC indexes and `CLUSTER ... ON flight_id`
  * (`create_public_schema.sql:759-811`). The live parquet writer,
  * `AdsbStream.start`, partitions `positions` by (`day`, `batch_id`)
  * and the other tables by `batch_id`; indexes = parquet min/max
  * row-group statistics that Catalyst prunes on; no clustering,
  * bucketing or Z-order writer exists. The JDBC sink stays available
  * for drop-in parity.
  */
object Sinks {

  /** Small-file compaction: rewrite one directory into
    * `ceil(rows/rowsPerFile)` right-sized files. A 1 s-trigger
    * micro-batch sink (the reference's commit cadence, S6/T11) writes
    * one file per partition per batch — ~86k tiny files/day/partition
    * at scale, which degrades scans (footer reads dominate) and
    * listing.
    *
    * Swap protocol: the full rewrite lands in a staging dir first, then
    * two directory renames (metadata-only ops) swap it in — the data is
    * complete in either the staging or the live path at every instant,
    * and a mid-swap crash loses nothing (recover from `__compacting` /
    * `__precompact`). The target partition must still be QUIESCED for
    * the instant between the two renames: a reader listing files right
    * then sees a missing directory. (The earlier Overwrite-in-place
    * swap instead deleted the live dir before rewriting it — a
    * mid-rewrite failure left only the staging copy.) */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      rowsPerFile: Long,
      transform: DataFrame => DataFrame = identity): Unit = {
    // `transform` rewrites the directory's contents during compaction
    // (graft.operators.IndexMaintenance applying a reindex stage);
    // an all-rows-dropped result still writes one empty schema-bearing
    // file, so the directory never disappears from partition discovery
    val df = transform(spark.read.parquet(path))
    val n = math.max(1L, (df.count() + rowsPerFile - 1) / rowsPerFile).toInt
    val tmp = path.stripSuffix("/") + "__compacting"
    df.repartition(n).write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path.stripSuffix("/"))
    val staged = new org.apache.hadoop.fs.Path(tmp)
    val old = new org.apache.hadoop.fs.Path(path.stripSuffix("/") + "__precompact")
    fs.delete(old, true)
    if (!fs.rename(live, old))
      throw new java.io.IOException(s"compact: cannot move $live aside")
    if (!fs.rename(staged, live)) {
      fs.rename(old, live) // roll back: restore the original
      throw new java.io.IOException(s"compact: cannot swap $staged in")
    }
    fs.delete(old, true)
  }

  /** Recover a partition directory from a [[compact]] interrupted at
    * ANY point of the swap protocol — run before reopening the sink.
    * Case analysis over the protocol's states (each transition is a
    * single metadata op, so exactly one case holds):
    *  - live present: it is authoritative — a leftover `__compacting`
    *    is an incomplete (or never-swapped) rewrite and a leftover
    *    `__precompact` a completed swap's backup; both are disposable;
    *  - live missing, `__compacting` present: the crash hit between
    *    the two renames — the rewrite is COMPLETE (it is only ever
    *    renamed after its write finishes), promote it;
    *  - live missing, only `__precompact`: rename the original back
    *    (defensive; unreachable if staging survives rename 1).
    * Idempotent. Returns the action taken, for ops logs and the spec. */
  def recoverCompact(
      spark: org.apache.spark.sql.SparkSession,
      path: String): String = {
    val base = path.stripSuffix("/")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(base)
    val staged = new org.apache.hadoop.fs.Path(base + "__compacting")
    val old = new org.apache.hadoop.fs.Path(base + "__precompact")
    if (fs.exists(live)) {
      val leftovers = fs.exists(staged) || fs.exists(old)
      fs.delete(staged, true)
      fs.delete(old, true)
      if (leftovers) "dropped_leftovers" else "clean"
    } else if (fs.exists(staged)) {
      if (!fs.rename(staged, live))
        throw new java.io.IOException(
          s"recoverCompact: cannot promote $staged to $live")
      fs.delete(old, true)
      "promoted_staged"
    } else if (fs.exists(old)) {
      if (!fs.rename(old, live))
        throw new java.io.IOException(
          s"recoverCompact: cannot restore $old to $live")
      "restored_precompact"
    } else
      throw new java.io.IOException(
        s"recoverCompact: nothing to recover at $base")
  }

  /** S6: JDBC sink (`db.py:24-38`, `flights.py:119-131`). In streaming,
    * call from `foreachBatch` for the 1 s commit cadence; `batchsize`
    * plays the role of the reference's session batching. */
  def writeJdbc(df: DataFrame, url: String, table: String,
      user: String, password: String,
      batchSize: Int = 1000,
      mode: SaveMode = SaveMode.Append): Unit = {
    val props = new Properties()
    props.setProperty("user", user)
    props.setProperty("password", password)
    props.setProperty("batchsize", batchSize.toString)
    df.write.mode(mode).jdbc(url, table, props)
  }

  /** Purge one micro-batch's rows before re-inserting them — the
    * delete-before-insert half of idempotent `foreachBatch` JDBC
    * writes (at-least-once epochs replay; keyed on `batch_id` the
    * replay converges to exactly-once). A missing table is fine: the
    * first epoch runs before the sink auto-creates it. */
  def deleteBatch(url: String, table: String, user: String,
      password: String, batchId: Long): Unit = {
    // identifier quoting must match how Spark's writer CREATEs: the
    // table name passes through VERBATIM (the engine case-folds it),
    // but column names are dialect-quoted, i.e. case-sensitive — so
    // quote the column, not the table
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"DELETE FROM $table " +
          s"WHERE ${dialect.quoteIdentifier("batch_id")} = $batchId")
      finally st.close()
    } catch {
      // ONLY undefined table/column (first epoch runs before the sink
      // auto-creates the table): Derby 42X05/42X04, Postgres
      // 42P01/42703, MySQL/SQLServer 42S02. A privilege or syntax
      // error is a real failure and must abort the epoch - swallowing
      // it would silently reintroduce the duplicate-on-replay bug.
      case e: java.sql.SQLException
          if Option(e.getSQLState).exists(
            Set("42X05", "42X04", "42P01", "42703", "42S02")) => ()
    } finally conn.close()
  }

  /** S9: `d1090_copy_flight` analog — copy one flight session and its
    * child rows from one store to another, remapping the session key.
    * The reference does four INSERT…SELECTs in a CTE
    * (`create_public_schema.sql:149-172`); here each child table is a
    * filtered append with the new key stamped on. */
  def copySession(
      from: String, to: String,
      hexident: String, sessionStart: java.sql.Timestamp,
      newSessionStart: java.sql.Timestamp,
      tables: Seq[String] = Seq("flights", "positions", "landings", "takeoffs"))(
      implicit spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    tables.foreach { t =>
      val src = spark.read.parquet(s"$from/$t")
      src.where(col("hexident") === hexident &&
          col("session_start") === sessionStart)
        .withColumn("session_start", lit(newSessionStart))
        .write.mode(SaveMode.Append).parquet(s"$to/$t")
    }
  }
}
