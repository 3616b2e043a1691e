package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory with the engine's scale-oriented defaults — the
  * ONE place a session is built (ToolingSpec pins it; ExtensionsSmoke is
  * the lone exemption, it must inject GraftExtensions at build time).
  *
  * Design stance (SURVEY.md §7.0): one SparkSession-centric engine where
  * batch and streaming share the same DataFrame operator definitions. The
  * conf below is what we would ship to a 1000-executor cluster, minus the
  * cluster-manager specifics:
  *   - AQE on: runtime partition coalescing + skew-join splitting mean the
  *     static `shuffle.partitions` only needs to be an upper bound.
  *   - UTC session time zone: deterministic window/date semantics across
  *     engines (matches the DuckDB oracle).
  *   - Broadcast threshold left at default (10 MB) — dims like region/
  *     nation/supplier broadcast automatically; we additionally hint
  *     `broadcast()` where we know the dimension is small at any SF.
  */
object Engine {
  /** Local cores the mains run on: SPARK_GRAFT_CPUS, else the machine's
    * cores. Never a fixed number — a forgotten override must not
    * silently produce 4-core numbers that read as query regressions
    * (round-5 lesson), nor oversubscribe a small box with 32 threads. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.ui.enabled", "false")
      // STATIC conf (builder-only): the generated-class cache defaults
      // to 100 entries, but one interleaved pass over all declared
      // queries compiles several codegen units each — by the time pass
      // 2 reaches a query, pass 1's classes are evicted and EVERY timed
      // sample re-pays Janino compilation (~40% uniform inflation,
      // round-4 finding). A deployment reuses compiled plans.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** The engine's runtime SQL confs, listed once: [[session]] applies
    * them, and so can a session created elsewhere (the test suite's
    * shared session, SparkEntry.entry's caller). Safe to call on a
    * running session: all of these are runtime-mutable. */
  def tune(spark: SparkSession): SparkSession = {
    // ANSI on is the Spark 4 default; pinned so the engine's declared
    // error semantics (fail loudly on bad casts/overflow; operators
    // that must be total guard explicitly — see TextOps/SimSearch/
    // parseCsv) don't drift with deployment defaults.
    spark.conf.set("spark.sql.ansi.enabled", "true")
    // TIMESTAMP(NANOS) parquet columns (events table) read as raw longs
    // engine-wide; Tables.events owns the ns→µs conversion. Declared here
    // rather than mutated as a side effect of the first events() call.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // partitioned-index lookups (bands/fps/grams bucket dirs) list
    // their dirs at EVERY read; the default threshold (32) launches a
    // one-task-per-dir discovery JOB for any index over 32 buckets —
    // pure dispatch overhead at micro-batch cadence. Driver-side
    // listing is faster up to ~1k dirs on any filesystem with sane
    // metadata; the index layouts cap at 65536 buckets, where the
    // parallel job is again the right call.
    spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    spark
  }
}
