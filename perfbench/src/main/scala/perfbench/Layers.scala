package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, explode, expr, split}

import graft.SparkEntry
import graft.functions.{BoundedEdit, BpeSegment, MinHashSig}
import graft.ops.{Dedup, PipelineCaches}
import graft.sources.Tables

/** The traced run's per-layer metrics, each measured from outside the
  * layer: from micro-batch progress and listener counts, or by timing a
  * call into the layer's public functions. */
object Layers {
  import StreamBench.median

  /** Source, state, sink and micro-batch metrics of the measured query;
    * `phases` are the drain, open-loop and tail counts in that order. */
  def streaming(phases: Seq[Counts], log: SinkLog, sinkRows: Long): Seq[(String, Any)] = {
    val progress = phases.flatMap(_.progress)
    val batches = progress.size.toDouble
    def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def mean(f: org.apache.spark.sql.streaming.StreamingQueryProgress => Double) =
      progress.map(f).sum / batches
    val states = progress.map(_.stateOperators.toSeq)
    val commits = log.synchronized(log.commits.toSeq)
    Seq(
      "sources.list_ms" -> mean(p => phase(p, "latestOffset") + phase(p, "getBatch")),
      "state.rows" -> states.last.map(_.numRowsTotal).sum,
      "state.bytes" -> states.map(_.map(_.memoryUsedBytes).sum).max,
      "state.update_ms" -> mean(_.stateOperators.map(_.allUpdatesTimeMs).sum.toDouble),
      "state.commit_ms" -> mean(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      "sink.write_ms" -> commits.map { case (_, s, e) => e - s }.sum / commits.size,
      "sink.rows" -> sinkRows,
      "sink.replays" -> log.replays,
      "batch.count" -> progress.size,
      "batch.duration_p50_ms" -> median(progress.map(p => phase(p, "triggerExecution"))),
      "batch.planning_ms" -> mean(phase(_, "queryPlanning")),
      "batch.add_ms" -> mean(phase(_, "addBatch")),
      "batch.wal_ms" -> mean(phase(_, "walCommit")),
      "batch.jobs" -> phases.map(_.jobs).sum / batches,
      "batch.tasks" -> phases.map(_.tasks).sum / batches)
  }

  /** Parse, batch-query and native-function timings, taken after the
    * streaming phases on the same session. */
  def probes(spark: SparkSession, tr: Trace, job: Job, backlogFiles: Seq[String],
      dataDir: String): Seq[(String, Any)] =
    parse(spark, job, backlogFiles) ++
      Seq("q_win_tumble", "q_win_slide_topn").flatMap(ops(spark, tr, dataDir, _)) ++
      functions(spark, dataDir)

  /** The job's parse function over a static frame of the backlog files. */
  private def parse(spark: SparkSession, job: Job, files: Seq[String]): Seq[(String, Any)] = {
    val lines = spark.read.text(files: _*)
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val rowsIn = lines.count()
    val ms = timedMedian(5)(job.parse(lines).write.format("noop").mode("overwrite").save())
    val rowsOut = job.parse(lines).count()
    lines.unpersist()
    Seq("parse.ns_per_row" -> ms * 1e6 / rowsIn, "parse.keep_ratio" -> rowsOut.toDouble / rowsIn)
  }

  /** A declared batch query, by the counts of its last run and the
    * median execution time the QueryExecutionListener reported. */
  private def ops(spark: SparkSession, tr: Trace, dataDir: String, q: String): Seq[(String, Any)] = {
    val fn = SparkEntry.queries(q)
    def run(): Unit = {
      fn(spark, dataDir).write.format("noop").mode("overwrite").save()
      PipelineCaches.release(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    run()
    val reps = (1 to 3).map { r => tr.label(s"$q.$r"); run(); s"$q.$r" }
    tr.label("idle")
    val c = tr(reps.last)
    Seq(
      s"ops.$q.s" -> median(reps.map(tr(_).executionNs.sum / 1e9)),
      s"ops.$q.jobs" -> c.jobs,
      s"ops.$q.tasks" -> c.tasks,
      s"ops.$q.shuffle_bytes" -> c.shuffleBytes,
      s"ops.$q.spill_bytes" -> c.spillBytes,
      s"ops.$q.busy_ms" -> c.busyMs)
  }

  /** ns per row of three native expressions, called through their SQL
    * registrations over the generated documents. */
  private def functions(spark: SparkSession, dataDir: String): Seq[(String, Any)] = {
    BoundedEdit.register(spark)
    MinHashSig.register(spark)
    BpeSegment.register(spark)
    val docs = Tables.documents(spark, dataDir).select("doc_id", "text")
    val pairs = docs.as("a").join(docs.as("b"),
        expr("b.doc_id BETWEEN a.doc_id + 1 AND a.doc_id + 20"))
      .select(col("a.text").as("x"), col("b.text").as("y"))
    val toks = docs.crossJoin(spark.range(20))
      .select(expr("array_distinct(split(text, ' '))").as("toks"))
    val words = docs.select(explode(split(col("text"), " ")).as("w"))
    val vocab = words.distinct().collect().map(_.getString(0)).sorted
    val rules = BpeSegment.encodeRules(vocab.toSeq.flatMap(w =>
      (2 to w.length).map(i => (w.take(i - 1), w.substring(i - 1, i)))).distinct)
    Seq(
      "bounded_edit" -> (pairs, "sum(bounded_edit(x, y, 32))"),
      "minhash_sig" -> (toks, s"sum(size(minhash_sig(toks, ${Dedup.NumHashes})))"),
      "bpe_segment" -> (words, s"sum(size(bpe_segment(w, '$rules')))")
    ).map { case (name, (frame, agg)) =>
      val cached = frame.repartition(spark.sparkContext.defaultParallelism).cache()
      val rows = cached.count()
      val ms = timedMedian(5)(cached.selectExpr(agg).collect())
      cached.unpersist()
      s"functions.$name.ns_per_row" -> ms * 1e6 / rows
    }
  }

  /** `Bench`'s calibration: min of 6 runs of a fixed Spark job. */
  def calibSparkFloor(spark: SparkSession): Double =
    (1 to 6).map { _ =>
      val t = Clock.ms
      spark.range(1L << 22).selectExpr("sum(id * 31) as s")
        .write.format("noop").mode("overwrite").save()
      (Clock.ms - t) / 1000
    }.min

  /** Median ms of `reps` runs after one warm-up run. */
  private def timedMedian(reps: Int)(body: => Any): Double = {
    body
    median((1 to reps).map { _ =>
      val t = Clock.ms
      body
      Clock.ms - t
    })
  }
}
