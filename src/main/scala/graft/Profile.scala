package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-query execution shape: wall seconds plus the COUNTED work —
  * Spark jobs, stages, tasks, shuffle bytes written (total and the
  * largest single stage) and spilled — and one line per job (wall ms,
  * tasks, driver call site).
  *
  * The job count is the number to track: at the sf0.1 fixture a Spark
  * job costs ~70 ms of scheduler floor regardless of data, so a query's
  * fixed job count IS its fixture cost, and every driver round-trip it
  * names (eager count/collect, per-round train collects, index builds)
  * is also a full pass/barrier at 100 TB (Drizzle, PAPERS.md). Counts
  * carry across machines; wall seconds do not.
  *
  * Usage: sbt "runMain graft.Profile [q_name ...]"
  *   One warm pass over the selected queries (Bench's protocol: noop
  *   sink, caches released between runs), then the min of 3 timed runs
  *   per query, printed as a row with its per-job lines under it. With
  *   no names, every declared query runs and the record is written to
  *   PROFILE_LOCAL.json. SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as Bench.
  */
object Profile {
  final case class Job(id: Int, ms: Long, tasks: Int, site: String)

  final case class Tally(jobs: Int, stages: Int, tasks: Int,
      shuffleWrite: Long, shuffleWritePeakStage: Long, spill: Long,
      perJob: Seq[Job])

  /** The one SparkListener collector. Events arrive on the listener bus
    * after an action returns, so [[measure]] DRAINS the bus
    * (GraftListenerDrain) before resetting and before reading — a fixed
    * sleep let a prior probe's late events bleed into the next tally. */
  final class Collector extends SparkListener {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val tasks = new AtomicInteger
    private val shuffleWrite = new AtomicLong
    private val shuffleWritePeak = new AtomicLong
    private val spill = new AtomicLong
    // jobId -> (start ms, call site, task counter); a stage's tasks count
    // to the first job that names it (a later job only skips or waits)
    private val started = new ConcurrentHashMap[Int, (Long, String, AtomicInteger)]
    private val stageTasks = new ConcurrentHashMap[Int, AtomicInteger]
    private val ended = new ConcurrentHashMap[Int, Job]

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
      val n = new AtomicInteger
      started.put(j.jobId, (j.time, site, n))
      j.stageIds.foreach(stageTasks.putIfAbsent(_, n))
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(started.get(j.jobId)).foreach { case (t0, site, n) =>
        ended.put(j.jobId, Job(j.jobId, j.time - t0, n.get, site))
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        val w = m.shuffleWriteMetrics.bytesWritten
        shuffleWrite.addAndGet(w)
        shuffleWritePeak.getAndAccumulate(w, math.max(_, _))
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(stageTasks.get(t.stageId)).foreach(_.incrementAndGet())
    }

    def reset(): Unit = {
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(shuffleWrite, shuffleWritePeak, spill).foreach(_.set(0L))
      started.clear(); stageTasks.clear(); ended.clear()
    }

    def tally: Tally = Tally(jobs.get, stages.get, tasks.get,
      shuffleWrite.get, shuffleWritePeak.get, spill.get,
      ended.values.asScala.toSeq.sortBy(_.id))
  }

  def attach(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Run `body` alone on the collector: drain and reset before, drain
    * after. Returns the body's result, its wall seconds and the tally. */
  def measure[A](spark: SparkSession, c: Collector)(body: => A): (A, Double, Tally) = {
    GraftListenerDrain.drain(spark.sparkContext)
    c.reset()
    val t0 = System.nanoTime()
    val a = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftListenerDrain.drain(spark.sparkContext)
    (a, sec, c.tally)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = Bench.sfDir
    val spark = Engine.session()
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    fns.foreach { case (n, fn) => Bench.runOne(spark, sfDir, n, fn) } // warm pass
    val collector = attach(spark)
    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s ${"shufMB"}%8s ${"spillMB"}%8s")
    val rows = fns.flatMap { case (name, fn) =>
      val runs = (1 to 3).map(_ =>
        measure(spark, collector)(Bench.runOne(spark, sfDir, name, fn)))
      if (!runs.forall(_._1)) None
      else {
        val (_, sec, t) = runs.minBy(_._2)
        println(f"$name%-28s $sec%7.3f ${t.jobs}%5d ${t.stages}%7d ${t.tasks}%6d ${t.shuffleWrite / 1e6}%8.1f ${t.spill / 1e6}%8.1f")
        t.perJob.foreach(j =>
          println(f"  job ${j.id}%4d ${j.ms}%6d ms  tasks=${j.tasks}%4d  ${j.site}"))
        Some(name -> (sec, t))
      }
    }
    if (args.isEmpty) {
      val qs = rows.map { case (n, (sec, t)) =>
        s""""$n":{"sec":$sec,"jobs":${t.jobs},"stages":${t.stages},""" +
          s""""tasks":${t.tasks},"shuffle_bytes":${t.shuffleWrite},""" +
          s""""shuffle_peak_stage_bytes":${t.shuffleWritePeakStage},"spill_bytes":${t.spill}}"""
      }.mkString("{\n", ",\n", "\n}")
      val failed = names.filterNot(rows.map(_._1).toSet)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      Bench.writeRecord("PROFILE_LOCAL.json",
        s"""{"cpus":${Engine.cpus},"calib_spark_floor":${Bench.calibSparkFloor(spark)},""" +
          s""""sf":"$sfDir","failed":$failed,"queries":$qs}""")
    }
    spark.stop()
  }
}
