package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Results are materialized
  * through the `noop` sink — a full execution of every operator including
  * result-column computation — rather than `count()`, which lets Catalyst
  * prune the compute down to a row count and would overstate throughput.
  */
object Bench {
  /** The dataset the timing mains (Bench, Profile, CacheAudit) read. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** One run of a declared query: materialize it through the noop sink,
    * then release its caches. False (and a stderr line) on failure. */
  def runOne(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean = {
    val ok =
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
      }
    // the dedup pipelines register their cache blocks with
    // PipelineCaches — release them via the documented lifetime API
    // (CacheLifetimeSpec pins that this leaves no stale blocks), so a
    // second timed run is never served from the CacheManager. The
    // clearCache sweep stays as a guard for anything cached outside
    // the pipelines' registry (e.g. cross-session cached-plan matches).
    graft.ops.PipelineCaches.release(spark)
    spark.sharedState.cacheManager.clearCache()
    ok
  }

  /** Machine-day calibration (round-16): a FIXED Spark job-floor probe
    * (dispatch + codegen-cached in-memory agg, zero IO) recorded with
    * every run, so cross-round ratio moves can be normalized
    * arithmetically against its drift instead of adjudicated by
    * worktree A/B prose. min of 6 — the first run pays codegen. */
  def calibSparkFloor(spark: SparkSession): Double =
    (1 to 6).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 22).selectExpr("sum(id * 31) as s")
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Write a one-line JSON record; never fail a minutes-long run on the
    * file write — stdout already carries the record. */
  def writeRecord(out: String, json: String): Unit =
    try {
      val p = java.nio.file.Paths.get(out)
      Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    } catch {
      case e: java.io.IOException =>
        System.err.println(s"[bench] could not write $out: $e")
    }

  def main(args: Array[String]): Unit = {
    val spark = Engine.session()
    // JVM/codegen warmup: one FULL untimed pass, so every timed sample
    // measures steady state. Three light warmup queries were not
    // enough: the md5-heavy dedup pipelines take ~2 executions before
    // C2 finishes tiering their generated loops (measured: q_dedup_near
    // runs 8 s, 5 s, then 2.8 s converged on a fresh JVM — the first
    // protocol's min-of-3 landed entirely on that ramp and recorded 2×
    // the reproducible cost). A deployment reuses the JVM across
    // thousands of queries; the ramp is a per-JVM constant, not query
    // cost.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    for ((name, fn) <- ordered) runOne(spark, sfDir, name, fn)
    // INTERLEAVED passes: run the FULL query list twice (a third pass
    // only for queries whose 2-pass min exceeds 1 s — exactly where a GC
    // pause or load spike distorts a 2-sample min), report the per-query
    // min ACROSS passes. Consecutive per-query repeats put both samples
    // of one query under the same transient machine-load window, so a
    // spike that spans a few seconds fatally contaminates that query's
    // min (round 3: two queries recorded 3-7× their reproducible cost);
    // interleaving separates a query's samples by a full list pass, so a
    // spike touches many queries' single samples — each of which the
    // min over the other pass discards. The queries are deterministic
    // and caches are cleared between runs, so the spread is scheduler
    // noise — min is the steady-state cost. A failed query is reported
    // as -1, never as a fast-fail "success" time.
    def timedRun(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Boolean, Double) = {
      val t0 = System.nanoTime()
      val ok = runOne(spark, sfDir, name, fn)
      (ok, (System.nanoTime() - t0) / 1e9)
    }
    val samples = scala.collection.mutable.Map.empty[String, Vector[(Boolean, Double)]]
    for (_ <- 1 to 2; (name, fn) <- ordered)
      samples(name) = samples.getOrElse(name, Vector.empty) :+ timedRun(name, fn)
    for ((name, fn) <- ordered) {
      val runs = samples(name)
      if (runs.forall(_._1) && runs.map(_._2).min > 1.0)
        samples(name) = runs :+ timedRun(name, fn)
    }
    val results = ordered.map { case (name, _) =>
      val runs = samples(name)
      name -> (if (runs.forall(_._1)) runs.map(_._2).min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val calibSparkFloor = Bench.calibSparkFloor(spark)
    val json = s"""{"metric":"total","value":$total,"unit":"sec","calib_spark_floor":$calibSparkFloor,"queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // ALSO write the record to a file: the driver captures a stdout
    // TAIL, and with ~100 queries the one-line JSON blob can straddle
    // the cut (round 7 lost 23 of 95 per-query entries that way). The
    // file is the durable, parseable record.
    writeRecord(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"), json)
    spark.stop()
  }
}
