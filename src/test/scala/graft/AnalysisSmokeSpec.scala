package graft

/** Schema-drift tripwire: every registered query must ANALYZE against
  * the CURRENT on-disk testdata schema. Round 6 lost 25 gate queries
  * to a driver-side regeneration that flipped `events.ts` from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS) after the builder's last
  * commit — this sweep catches that class of break locally before a
  * round's gate does.
  *
  * Honesty note on "analysis": most queries only plan here, but the
  * index-backed ones (s2p/s2a/s4-s6/s8/s11/d10) build-and-persist
  * their memoized index at CONSTRUCTION time, and the iterative ones
  * (p17/s10, via eager checkpoints; d7/d8's CC loop) execute their
  * driver loops — so this spec runs at sf0.001 minutes-scale, not
  * seconds, and a runtime failure inside those builders surfaces here
  * as a query failure (still the right tripwire, just not pure
  * analysis for them).
  *
  * (PlanSpec's cartesian sweep also plans every query, but this spec
  * names the broken query AND its error directly, and stays green/red
  * independently of any plan-shape assertion.)
  */
class AnalysisSmokeSpec extends SparkSpec {

  test("all registered queries analyze against current testdata schema") {
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          fn(spark, dir).queryExecution.analyzed
          None
        } catch {
          case e: Throwable =>
            Some(s"$name: ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").linesIterator
                .take(2).mkString(" "))
        } finally spark.catalog.clearCache()
    }
    assert(bad.isEmpty, s"${bad.size} queries fail analysis:\n" +
      bad.mkString("\n"))
  }

  test("scan budget: no query's plan reads one table more than 8 times") {
    // The structural guard for the round-8 recompute class: a frame
    // feeding multiple branches through a join re-executes its whole
    // upstream per branch unless share()d (AQE exchange reuse does
    // not cover the shape — ARCHITECTURE "share-vs-exchange-reuse").
    // p13 planned 14 parquet scans before the fix; the post-campaign
    // maximum is 8 (d12's synthetic union fixture). A query whose
    // STATIC plan re-reads a table >8× has almost certainly lost a
    // share() or grown a new multi-consumer branch — fix the plan or
    // consciously raise the bound with a comment. Counted on the
    // pre-AQE physical plan (AQE's runtime dedup is partial, which
    // is the point); shared subtrees are excluded because a local
    // checkpoint plans as an RDD scan, which has no scan children.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = "/root/testdata/sf0.001"
    def scans(p: SparkPlan): Seq[String] = {
      val self = p match {
        case f: FileSourceScanExec =>
          Seq(f.relation.location.rootPaths.headOption
            .map(_.getName).getOrElse("?"))
        case _ => Nil
      }
      val kids = p match {
        // AQE's wrapper is a leaf — descend into the current plan
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case other => other.children
      }
      self ++ kids.flatMap(scans) ++ p.subqueries.flatMap(scans)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val perTable = scans(fn(spark, dir).queryExecution.executedPlan)
            .groupBy(identity).view.mapValues(_.size)
          perTable.collect {
            case (t, n) if n > 8 => s"$name: $t scanned $n times"
          }
        } catch { case _: Throwable => Nil } // analysis spec covers errors
        finally spark.catalog.clearCache()
    }
    assert(offenders.isEmpty,
      s"scan-budget violations (see ARCHITECTURE share rule):\n" +
        offenders.mkString("\n"))
  }

  test("oracleSql covers every query (and nothing else)") {
    // the driver's gate only checks queries that appear in BOTH maps;
    // a queries entry without oracle SQL silently downgrades to a
    // rows-only check, and a dangling oracle entry FAILs as missing.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle entries without queries: ${o -- q}")
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${q -- o}")
  }
}
