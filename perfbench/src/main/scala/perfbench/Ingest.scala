package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.logs.{LogLake, LogPipeline}

/** `ingest`: a multi-day backfill through `LogPipeline.run`, then one-day
  * nightly batches through it on the same warehouse. No warm-up: a
  * scheduled pipeline job pays JVM and codegen start-up on every run.
  *
  * After every run (untimed) the lake's per-date row counts and the
  * fact's per-date request and error sums are read back; the runner
  * compares them with the generator's tallies.
  */
object Ingest {
  def run(spark: SparkSession, spec: Spec, rec: Recorder): Map[String, Any] = {
    val raw = s"${spec.work}/raw"
    val wh = s"${spec.work}/warehouse"
    val nightlies = new java.io.File(raw).listFiles().map(_.getName)
      .filter(_.startsWith("nightly-")).sorted
    val states = Seq.newBuilder[Map[String, Any]]
    def state(after: String): Unit = states += rec.check(Map(
      "after" -> after,
      "lake" -> LogLake.readLake(spark, s"$wh/lake").groupBy("date").count()
        .collect().map(r => r.get(0).toString -> r.getLong(1)).toMap,
      "fct" -> spark.read.parquet(s"$wh/fct_requests_hourly").groupBy("date")
        .agg(sum("requests"), sum("errors")).collect()
        .map(r => r.get(0).toString -> Seq(r.getLong(1), r.getLong(2))).toMap))

    rec.startTimed()
    rec.op("backfill_ms", "logs.pipeline", "backfill") {
      LogPipeline.run(spark, s"$raw/backfill.log", wh)
    }.foreach(_ => state("backfill"))
    nightlies.foreach { f =>
      rec.op("nightly_ms", "logs.pipeline", f) {
        LogPipeline.run(spark, s"$raw/$f", wh)
      }.foreach(_ => state(f))
    }
    rec.endTimed()

    rec.check {
      val files = Files.walk(new java.io.File(s"$wh/lake")).filter(_.getName.endsWith(".parquet"))
      rec.put("logs.lake.files", files.size)
      rec.put("stored_bytes", files.map(_.length).sum)
      rec.put("stored_rows", LogLake.readLake(spark, s"$wh/lake").count())
    }
    Map("states" -> states.result())
  }
}
