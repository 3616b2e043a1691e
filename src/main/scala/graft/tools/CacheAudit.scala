package graft.tools

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Dev-only audit for the silent cache-miss class found in q_pmi
  * (round 9): a PipelineCaches-tracked frame consumed through a
  * SELF-JOIN of derived views can lose the CacheManager plan-match on
  * one side (the analyzer's attribute dedup rewrites expression ids;
  * grouping-sets aggregates canonicalize unequal) — and the query then
  * silently re-runs a corpus-scale subtree from the file scan while
  * still returning correct results. treeString counts are ambiguous
  * (every InMemoryTableScan prints its cachedPlan, file scan included),
  * so this walks the EXECUTED plan object: any FileSourceScanExec
  * reachable without crossing an InMemoryTableScanExec is a genuine
  * external scan. Reports per query: external scan count + distinct
  * paths, and the per-path expected count from the query's own source
  * tables (a query is flagged only when one PATH is scanned from more
  * than one node — the recompute signature; multi-table queries
  * legitimately have several distinct paths).
  *
  * Usage: runMain graft.tools.CacheAudit [q_name ...]   (default: all)
  */
object CacheAudit {
  /** FileScans reachable without crossing an IMR scan; descends into
    * materialized AQE subtrees and reused exchanges. */
  def externalScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case _: InMemoryTableScanExec => Nil
    case a: AdaptiveSparkPlanExec => externalScans(a.executedPlan)
    case r: ReusedExchangeExec => externalScans(r.child)
    case f: FileSourceScanExec => Seq(f)
    case other =>
      other.children.flatMap(externalScans) ++
        other.subqueries.flatMap(externalScans)
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Engine.session()
    val sfDir = graft.Bench.sfDir
    val names =
      if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    var flagged = 0
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val scans = externalScans(df.queryExecution.executedPlan)
      val byPath = scans
        .groupBy(_.relation.location.rootPaths.mkString(","))
        .view.mapValues(_.size).toMap
      val dup = byPath.filter(_._2 > 1)
      if (dup.nonEmpty) {
        flagged += 1
        println(s"[cacheaudit] FLAG $name: same path scanned from multiple nodes: " +
          dup.map { case (p, n) => s"${p.split('/').last}x$n" }.mkString(", "))
      } else {
        println(s"[cacheaudit] ok   $name (${scans.size} external scans, " +
          s"${byPath.size} paths)")
      }
      graft.ops.PipelineCaches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    println(s"[cacheaudit] done: $flagged flagged of ${names.size}")
    spark.stop()
  }
}
