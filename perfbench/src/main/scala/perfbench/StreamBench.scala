package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.Engine
import graft.sources.Tables

/** One benchmark run of a reference streaming job, driven by
  * `perfbench/run.py` in two JVMs:
  *
  *   StreamBench phase=<prepare|run> workload=<media_jdbc|hot_items>
  *     work=<dir> seed=<n> seconds=<n> cores=<n> trace=<0|1>
  *
  * `prepare` encodes `<work>/data/events.parquet`, read through
  * `Tables.events`, into wire files and exits, so that the set-up `run`
  * measures is the first Spark work of its JVM. `run`
  *  1. sets up once, cold: a session from `Engine.session` plus a
  *     warm-up drain of [[WarmupFiles]] files on its own checkpoint and
  *     sink table, which is where the JIT warms up;
  *  2. drains a backlog sized to take [[DrainShare]] of `seconds` at the
  *     job's drain rate, in files of [[RowsPerFile]] rows, in a closed
  *     loop;
  *  3. keeps the same query running while one generator thread moves
  *     files of [[OpenRowsPerFile]] rows into the source directory on a
  *     wall-clock schedule that does not wait for the engine (open loop):
  *     file i is due at (i + j) * the job's open interval, with a seeded
  *     jitter j uniform in [-0.45, 0.45]. A fixed interval phase-locks
  *     with the batch cycle, and the phase a run locked into decided its
  *     p50; Poisson arrivals broke the lock but their bursts decided its
  *     p95.
  * It writes `<work>/out/`: result.json (timings, late rows and, traced,
  * per-layer metrics), files.csv (per file: due and written time),
  * commits.csv (per batch: sink entry and commit time) and sink.csv
  * (sink rows).
  */
object StreamBench {

  /** Rows per backlog file. */
  val RowsPerFile = 2500
  /** Rows per open-loop file: small files arriving often spread the wait
    * for the next batch over many files. */
  val OpenRowsPerFile = 1250
  /** maxFilesPerTrigger: must hold well over one batch's worth of
    * open-loop arrivals, or the trigger cap itself saturates the job. */
  val FilesPerTrigger = 8
  /** Share of the run spent draining the backlog; the open loop takes
    * the rest. */
  val DrainShare = 0.5
  /** Warm-up files (four batches). The JIT is not done with them: drain
    * batch times still fall by about a fifth over the drain, and more
    * warm-up would move that into set-up at a cost in run time. */
  val WarmupFiles = 32
  /** Backlog files the traced run's `local[1]` baseline drains. */
  val BaselineFiles = 16

  final class Conf(args: Map[String, String]) {
    val phase: String = args("phase")
    val workload: String = args("workload")
    val work: Path = Paths.get(args("work")).toAbsolutePath
    val seed: Long = args("seed").toLong
    val seconds: Int = args("seconds").toInt
    val cores: Int = args("cores").toInt
    val trace: Boolean = args("trace") == "1"
    def dir(parts: String*): Path = {
      val p = parts.foldLeft(work)(_.resolve(_))
      Files.createDirectories(p)
      p
    }
  }

  def main(argv: Array[String]): Unit = {
    val conf = new Conf(argv.map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap)
    val job: Job = conf.workload match {
      case "media_jdbc" => new MediaJob(conf.seed, conf.work.resolve("derby").toString)
      case "hot_items" => new HotItemsJob
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // the backlog takes DrainShare of the run at the job's drain rate,
    // the open loop offers a file per interval for the rest
    val drainFiles = math.max(WarmupFiles,
      math.round(job.drainRowsPerS * conf.seconds * DrainShare / RowsPerFile).toInt)
    val openFiles = math.max(1, (conf.seconds * 1000 * (1 - DrainShare) / job.openIntervalMs).toInt)
    conf.phase match {
      case "prepare" =>
        val spark = Engine.session(s"local[${conf.cores}]", conf.cores)
        try writeWireFiles(spark, conf, job, drainFiles, openFiles) finally spark.stop()
      case "run" => run(conf, job, drainFiles)
      case other => throw new IllegalArgumentException(s"unknown phase $other")
    }
  }

  private def run(conf: Conf, job: Job, drainFiles: Int): Unit = {
    val out = conf.dir("out")
    val result = mutable.LinkedHashMap.empty[String, Any]

    // 1. set-up, cold: nothing has run in this JVM before it
    val t0 = Clock.ms
    var spark = Engine.session(s"local[${conf.cores}]", conf.cores)
    drainFresh(spark, job, conf.dir("warm", "in").toString, conf.dir("warm", "ckpt").toString,
      "warm", sinkAlone = false)
    result("setup_s") = (Clock.ms - t0) / 1000

    val trace = if (conf.trace) Some(new Trace(spark)) else None
    val in = conf.dir("main", "in")
    val staged = Files.list(conf.dir("stage")).iterator().asScala.toIndexedSeq
      .sortBy(_.getFileName.toString)
    val (backlog, open) = staged.splitAt(drainFiles)
    val files = mutable.ArrayBuffer.empty[String]

    // 2. closed-loop drain of the backlog
    backlog.foreach(p => Files.move(p, in.resolve(p.getFileName)))
    trace.foreach(_.label("drain"))
    val log = new SinkLog
    val drainStart = Clock.ms
    backlog.indices.foreach(i => files += s"$i,drain,$drainStart,$drainStart")
    val query = job.start(spark, in.toString, conf.dir("main", "ckpt").toString, "sink_main", log,
      sinkAlone = conf.trace)
    query.processAllAvailable()
    val drainS = (log.lastCommitMs - drainStart) / 1000
    val drainProgress = query.recentProgress.toSeq
    result("drain_s") = drainS
    result("drain_rows_per_s") = backlog.size.toLong * RowsPerFile / drainS
    val heapAfterDrain = retainedHeapMb()

    // 3. open loop: a wall-clock schedule the engine cannot slow down
    trace.foreach(_.label("open"))
    val due = new Array[Double](open.size)
    val written = new Array[Double](open.size)
    val jitter = new java.util.Random(conf.seed)
    val offsets = open.indices.map(i => (i + 0.9 * (jitter.nextDouble() - 0.5)) * job.openIntervalMs)
    val generator = new Thread(() => {
      val start = Clock.ms
      for (i <- open.indices) {
        due(i) = start + offsets(i)
        val waitMs = due(i) - Clock.ms
        if (waitMs > 0) Thread.sleep(waitMs.toLong, ((waitMs % 1) * 1e6).toInt)
        Files.move(open(i), in.resolve(open(i).getFileName), StandardCopyOption.ATOMIC_MOVE)
        written(i) = Clock.ms
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()
    trace.foreach(_.label("tail"))
    open.indices.foreach(i => files += s"${backlog.size + i},open,${due(i)},${written(i)}")
    query.processAllAvailable()
    // measured while the query still holds its state, as after the
    // drain: once stopped, when its state stores are unloaded is a race
    val heapAfterOpen = retainedHeapMb()
    query.stop()
    result("retained_heap_mb") = math.max(heapAfterDrain, heapAfterOpen)
    result("heap_after_drain_mb") = heapAfterDrain
    result("heap_after_open_mb") = heapAfterOpen
    result("state.late_rows") = lateRows(drainProgress ++ query.recentProgress)

    writeLines(out.resolve("files.csv"), "file,phase,due_ms,written_ms", files.toSeq)
    writeLines(out.resolve("commits.csv"), "batch_id,start_ms,end_ms",
      log.synchronized(log.commits.toSeq).map { case (b, s, e) => s"$b,$s,$e" })
    val sinkRows = job.sinkRows("sink_main", log)
    writeLines(out.resolve("sink.csv"), "", sinkRows)

    trace.foreach { tr =>
      val streamed = Seq("drain", "open", "tail").map(tr(_))
      val openRowsAtGeneratorEnd =
        streamed(1).progress.map(_.numInputRows).sum
      val processedAtGeneratorEnd = backlog.size + openRowsAtGeneratorEnd / OpenRowsPerFile
      result ++= Layers.streaming(streamed, log, sinkRows.size)
      result("sources.backlog_files") = staged.size - processedAtGeneratorEnd
      // a file due before the schedule started (negative jitter) is late
      // only from the start on
      val scheduleStart = due(0) - offsets(0)
      result("sources.generator_lag_ms") =
        open.indices.map(i => written(i) - math.max(due(i), scheduleStart)).max
      result ++= Layers.probes(spark, tr, job, backlog.map(p => in.resolve(p.getFileName).toString),
        conf.dir("data").toString)
      tr.close()
      result("calib_spark_floor") = Layers.calibSparkFloor(spark)
      spark.stop()
      spark = Engine.session("local[1]", 1)
      result("baseline.local1_drain_rows_per_s") = baselineDrain(spark, conf, job, in)
    }
    spark.stop()
    writeLines(out.resolve("result.json"), "",
      Seq(org.json4s.jackson.Serialization.write(result)(org.json4s.DefaultFormats)))
  }

  /** Rows the query's stateful operators dropped as behind the
    * watermark, summed over every micro-batch. `progress` is the query's
    * recent progress read after the drain and again at the end; together
    * they must cover every batch, or late rows could go uncounted. */
  private def lateRows(progress: Seq[StreamingQueryProgress]): Long = {
    val byBatch = progress.groupBy(_.batchId)
    require(byBatch.keySet == (0L to byBatch.keys.max).toSet,
      s"progress of batches ${byBatch.keys.toSeq.sorted} does not cover every batch")
    byBatch.values.map(_.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).max).sum
  }

  /** Encode the generated events, read through `Tables.events`, into
    * `<work>/stage`: `drainFiles` files of [[RowsPerFile]] rows, then
    * `openFiles` of [[OpenRowsPerFile]], from time-shifted copies of the
    * table, each shifted by whole seconds past the previous copy's end so
    * event time never decreases. Files get strictly rising modification
    * times, which is the order the file source reads them in. The first
    * [[WarmupFiles]] are also copied to the warm-up source directory. */
  private def writeWireFiles(spark: SparkSession, conf: Conf, job: Job, drainFiles: Int,
      openFiles: Int): Unit = {
    val events = Tables.events(spark, conf.dir("data").toString)
      .select(unix_micros(col("ts")), col("user_id"), col("event_type"))
      .orderBy(col("ts")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val firstS = events.head._1 / 1000000
    val shiftMicros = (events.last._1 / 1000000 - firstS + 1) * 1000000
    val stage = conf.dir("stage")
    val warm = conf.dir("warm", "in")
    val mtime0 = System.currentTimeMillis() - 3600 * 1000L
    val sizes = Seq.fill(drainFiles)(RowsPerFile) ++ Seq.fill(openFiles)(OpenRowsPerFile)
    val firstRow = sizes.scanLeft(0)(_ + _)
    sizes.indices.foreach { f =>
      val lines = (firstRow(f) until firstRow(f + 1)).map { i =>
        val (ts, user, kind) = events(i % events.length)
        job.encode(ts + (i / events.length) * shiftMicros, user, kind)
      }
      val p = stage.resolve(f"f$f%06d.${job.ext}")
      writeLines(p, "", lines)
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime0 + f * 1000L))
      if (f < WarmupFiles)
        Files.copy(p, warm.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  /** Start the job on its own checkpoint and sink table, drain what the
    * source holds, stop; returns the sink log. */
  private def drainFresh(spark: SparkSession, job: Job, in: String, checkpoint: String,
      table: String, sinkAlone: Boolean): SinkLog = {
    val log = new SinkLog
    val q = job.start(spark, in, checkpoint, table, log, sinkAlone)
    try q.processAllAvailable() finally q.stop()
    log
  }

  /** The single-core baseline: the same job draining the first
    * [[BaselineFiles]] backlog files on a `local[1]` session. */
  private def baselineDrain(spark: SparkSession, conf: Conf, job: Job, mainIn: Path): Double = {
    val in = conf.dir("base", "in")
    Files.list(mainIn).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
      .take(BaselineFiles)
      .foreach(p => Files.copy(p, in.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES))
    val t0 = Clock.ms
    val log = drainFresh(spark, job, in.toString, conf.dir("base", "ckpt").toString, "base1",
      sinkAlone = false)
    BaselineFiles.toLong * RowsPerFile / ((log.lastCommitMs - t0) / 1000)
  }

  /** Heap in use just after a full collection, in MiB: the least of
    * three collections 200 ms apart, so that what a thread happens to
    * hold for a moment (about 5 MiB in one run out of three) is not
    * counted as retained. */
  private def retainedHeapMb(): Double =
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(200)
      System.gc()
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeLines(p: Path, header: String, lines: Seq[String]): Unit = {
    val body = (if (header.isEmpty) lines else header +: lines).mkString("", "\n", "\n")
    Files.write(p, body.getBytes(UTF_8))
  }
}
