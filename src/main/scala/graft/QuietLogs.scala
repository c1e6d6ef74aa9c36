package graft

/** One home for the driver-main log scoping (round-11 review: the
  * same stanza was pasted into Bench, BenchSlope AND Verify — a
  * missed copy on the next logger reintroduces the captured-log-tail
  * truncation these suppressions exist to prevent).
  *
  * The driver parses the LAST line of the captured sbt output, so
  * anything that WARNs per query × per run threatens the JSON tail
  * window. Four known offenders, each scoped (never a global level
  * change):
  *  - window: "No Partition Defined" — every global window in the
  *    repo is provably bounded (metadata-sized inputs);
  *  - CacheManager: "already cached" — benign re-registration when a
  *    bench pair re-runs the same plan;
  *  - rdd.MapPartitionsRDD: "locally checkpointed … cannot be
  *    recomputed after unpersisting" — the reclamation of every
  *    `localCheckpoint`ed frame is exactly that unpersist, by design.
  *    `RDD` logs it under the runtime class of the RDD, and
  *    `Dataset.localCheckpoint` always checkpoints the
  *    `MapPartitionsRDD` of its row copy, so that one class is raised:
  *    neither the abstract `rdd.RDD` (no instance logs under it) nor
  *    the whole rdd package, whose other warnings (block
  *    replication/eviction) stay visible;
  *  - CSVHeaderChecker: "CSV header does not conform to the schema" —
  *    `Meta.loadAirlines` declares the names of a header row written
  *    with a space after each comma, so every scan of it would log
  *    the multi-line warning; the header row is skipped, never read
  *    as names.
  */
object QuietLogs {
  def apply(): Unit = {
    Seq("org.apache.spark.sql.execution.window",
      "org.apache.spark.sql.execution.CacheManager",
      "org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.catalyst.csv.CSVHeaderChecker").foreach(
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
  }
}
