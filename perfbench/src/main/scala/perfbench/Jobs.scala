package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.RankedItem
import graft.streaming.{HotItemAnalysisJob, HotMediaTrackJob}

/** What one query's sink committed: per batch id, when the sink was
  * entered and when it returned (ms on [[Clock]]), and the rows the
  * sink holds as CSV lines ending in the batch id. */
final class SinkLog {
  val commits = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  val rows = mutable.ArrayBuffer.empty[String]
  private val seen = mutable.Set.empty[Long]
  var replays = 0L

  def commit(batchId: Long, startMs: Double, lines: Seq[String] = Nil): Unit = synchronized {
    if (!seen.add(batchId)) replays += 1
    commits += ((batchId, startMs, Clock.ms))
    rows ++= lines
  }

  def lastCommitMs: Double = synchronized(commits.last._3)
}

/** One reference job as the benchmark drives it: its wire encoding of
  * an `events` row, its parse function, and its shipped pipeline
  * started on a file source with a sink that records commit times.
  *
  * With `sinkAlone` the sink first materialises the micro-batch with
  * `localCheckpoint`, so the time [[SinkLog]] records is the sink's own
  * and not the whole lazy batch plan (parse, aggregation, state store)
  * that the sink call would otherwise run. Only traced runs do this. */
sealed trait Job {
  def ext: String
  /** Closed-loop drain rate expected on 4 cores, rows/s: sizes the
    * backlog to take about [[StreamBench.DrainShare]] of the run. */
  def drainRowsPerS: Int
  /** Open-loop interval between files, ms: about a third of the drain
    * rate. Open-loop batches are smaller than drain batches, so each row
    * carries more of the fixed per-batch cost, and near half the drain
    * rate a slower machine pushed the job to saturation. */
  def openIntervalMs: Int
  def encode(tsMicros: Long, userId: Long, eventType: String): String
  def parse(lines: DataFrame): DataFrame
  def start(spark: SparkSession, in: String, checkpoint: String, table: String, log: SinkLog,
      sinkAlone: Boolean): StreamingQuery
  /** Sink rows of `table` as CSV: the result key, count, batch id. */
  def sinkRows(table: String, log: SinkLog): Seq[String]

  protected def source(spark: SparkSession, in: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", StreamBench.FilesPerTrigger.toString).text(in)

  protected def materialised[T](batch: Dataset[T], sinkAlone: Boolean): Dataset[T] =
    if (sinkAlone) batch.localCheckpoint() else batch
}

/** HotMediaTrack: JSON lines through `HotMediaTrackJob.pipeline` into
  * embedded Derby through `HotMediaTrackJob.writeBatch`, the body of the
  * job's `jdbcSink`, called from a foreachBatch that also notes when
  * each batch was committed. */
final class MediaJob(seed: Long, derbyDir: String) extends Job {
  import MediaJob._
  val ext = "json"
  val drainRowsPerS = 20000
  val openIntervalMs = 250
  private val url = s"jdbc:derby:$derbyDir;create=true"
  private val props = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  def encode(tsMicros: Long, userId: Long, eventType: String): String = {
    val app = java.lang.Math.floorMod(userId * 1000003L + seed * 7919L, Apps)
    s"""{"appid":"app$app","event_type":${EventTypes.indexOf(eventType)},""" +
      s""""timestamp":${tsMicros / 1000000},"log_time":${tsMicros / 1000}}"""
  }

  def parse(lines: DataFrame): DataFrame = HotMediaTrackJob.parse(lines)

  def start(spark: SparkSession, in: String, checkpoint: String, table: String, log: SinkLog,
      sinkAlone: Boolean): StreamingQuery =
    HotMediaTrackJob.pipeline(source(spark, in))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = materialised(batch, sinkAlone)
        val t = Clock.ms
        HotMediaTrackJob.writeBatch(b, batchId, url, table, props)
        log.commit(batchId, t)
      }
      .start()

  def sinkRows(table: String, log: SinkLog): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.createStatement().executeQuery(
        s"""SELECT "time", "appid", "type", "count", "batch_id" FROM $table""")
      val out = mutable.ArrayBuffer.empty[String]
      while (rs.next()) out += Seq(rs.getTimestamp(1).getTime, rs.getString(2), rs.getInt(3),
        rs.getLong(4), rs.getLong(5)).mkString(",")
      out.toSeq
    } finally conn.close()
  }
}

object MediaJob {
  val Apps = 16
  val EventTypes = Seq("click", "error", "purchase", "signup", "view")
}

/** HotItemAnalysis: CSV lines through `HotItemAnalysisJob.pipeline`
  * (parseCsv, the pv filter, StatefulTopN.panes, StatefulTopN(_, 3)).
  * The reference job prints its result, so the sink only collects the
  * few ranked rows per window. */
final class HotItemsJob extends Job {
  val ext = "csv"
  val drainRowsPerS = 34000
  val openIntervalMs = 125

  def encode(tsMicros: Long, userId: Long, eventType: String): String = {
    val behavior = eventType match {
      case "purchase" | "view" => "pv"
      case "click" => "cart"
      case "signup" => "fav"
      case _ => "buy"
    }
    s"$userId,$userId,${userId % 37},$behavior,${tsMicros / 1000000}"
  }

  def parse(lines: DataFrame): DataFrame = HotItemAnalysisJob.parseCsv(lines)

  def start(spark: SparkSession, in: String, checkpoint: String, table: String, log: SinkLog,
      sinkAlone: Boolean): StreamingQuery =
    HotItemAnalysisJob.pipeline(source(spark, in), 3)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RankedItem], batchId: Long) =>
        val b = materialised(batch, sinkAlone)
        val t = Clock.ms
        val rows = b.collect()
        log.commit(batchId, t,
          rows.map(r => s"${r.windowEnd},${r.rank},${r.itemId},${r.count},$batchId").toSeq)
      }
      .start()

  def sinkRows(table: String, log: SinkLog): Seq[String] = log.synchronized(log.rows.toSeq)
}

/** One monotonic clock for due times and commit times, in ms. */
object Clock {
  private val origin = System.nanoTime()
  def ms: Double = (System.nanoTime() - origin) / 1e6
}
