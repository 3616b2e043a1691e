package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.functions.col

/** The job-shape collector behind graft.Profile and ScaleSmoke: counts
  * attribute to the measured action only (the listener bus is drained
  * before reset and before reading), and the per-job lines account for
  * every counted task. */
class ProfileSpec extends SparkSuite {

  private def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  test("collector: shuffle tally, per-job task sum, no bleed between probes") {
    val c = Profile.attach(spark)
    // a lagging listener behind the collector on the same bus queue:
    // stage and job-end events reach the collector well after the
    // action returns, so only the drains keep the tallies apart
    val lag = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Thread.sleep(100)
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(lag)
    try {
      val shuffled = spark.range(0L, 200000L, 1L, 4)
        .groupBy(col("id") % 7).count()
      val small = spark.range(0L, 1000L, 1L, 2).selectExpr("sum(id) AS s")

      val (_, _, first) = Profile.measure(spark, c)(noop(shuffled))
      assert(first.jobs >= 1 && first.stages >= 2, first)
      assert(first.tasks >= 4, first)
      assert(first.shuffleWrite > 0L, first)
      assert(first.shuffleWritePeakStage > 0L, first)
      assert(first.shuffleWritePeakStage <= first.shuffleWrite, first)
      assert(first.perJob.map(_.tasks).sum == first.tasks, first)
      assert(first.perJob.size == first.jobs, first)

      // a second, different query right after the first: its tally must
      // carry none of the first one's events — same counts as when it
      // follows itself, and only jobs that started after the first's
      val (_, _, second) = Profile.measure(spark, c)(noop(small))
      val (_, _, again) = Profile.measure(spark, c)(noop(small))
      assert(second.perJob.map(_.id).min > first.perJob.map(_.id).max, second)
      assert((second.jobs, second.stages, second.tasks) ==
        (again.jobs, again.stages, again.tasks), s"$second vs $again")
      assert(second.perJob.map(_.tasks).sum == second.tasks, second)
      assert(second.tasks < first.tasks, s"$second vs $first")
    } finally {
      spark.sparkContext.removeSparkListener(lag)
      spark.sparkContext.removeSparkListener(c)
    }
  }
}
