package graft.plans

import graft.SparkSpec
import graft.logs.{LogFixture, LogQueries}
import graft.sources.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.functions._

/** [[SmallFinalSort]]: the served per-endpoint rollup sorts its few
  * rows in one task — two jobs per request, the same rows in the same
  * order — while the broadcast threshold still governs it and ORDER BY
  * with LIMIT keeps its top-k plan.
  */
class SmallFinalSortSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val fct: (String, String) = {
    val dir = graft.TempDirs.create("graft-small-sort")
    Snapshots.commit(LogFixture.fct(spark), dir, "overwrite",
      partitionBy = Seq("date"))
    val date = LogFixture.fct(spark).select("date").orderBy("date")
      .head().get(0).toString
    (dir, date)
  }

  private def rangeExchanges(plan: SparkPlan) = collect(plan) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }

  /** Rows of `df` and the number of jobs its collect ran. */
  private def collected(df: DataFrame): (Seq[String], Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = df.collect().map(_.toSeq.mkString("|")).toSeq
      Thread.sleep(300) // let the job-start events drain
      (got, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def errorsByEndpoint(): DataFrame =
    LogQueries.errorsByEndpoint(spark.read.format("graft").load(fct._1), fct._2)

  test("errors_by_endpoint runs 2 jobs and returns the range-sorted order") {
    val small = errorsByEndpoint()
    val (got, jobs) = collected(small)
    assert(jobs === 2)
    val plan = small.queryExecution.executedPlan
    assert(rangeExchanges(plan).isEmpty, plan)
    assert(collect(plan) { case s: SortExec => s.global }.forall(!_), plan)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      val ranged = errorsByEndpoint()
      val (want, rangedJobs) = collected(ranged)
      assert(rangeExchanges(ranged.queryExecution.executedPlan).size === 1)
      assert(rangedJobs > jobs)
      assert(want.nonEmpty && got === want)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("an ORDER BY with LIMIT still plans as TakeOrderedAndProject") {
    val top = LogQueries.topEndpoints(spark.read.format("graft").load(fct._1),
      fct._2, 2)
    top.collect()
    val plan = top.queryExecution.executedPlan
    assert(collect(plan) { case t: TakeOrderedAndProjectExec => t }.size === 1, plan)
    assert(rangeExchanges(plan).isEmpty, plan)
  }

  test("a small sorted write lands as one file in sort order") {
    val out = graft.TempDirs.create("graft-small-sort-write")
    spark.range(0, 1000).repartition(4).groupBy((col("id") % 50).as("k"))
      .count().orderBy(desc("k")).write.mode("overwrite").parquet(out)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1)
    val ks = spark.read.parquet(files.head.getPath).collect().map(_.getLong(0))
    assert(ks.toSeq === (49L to 0L by -1L))
  }
}
