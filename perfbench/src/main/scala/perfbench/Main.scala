package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => NioFiles, Paths}

/** One benchmark run in a fresh JVM:
  * `perfbench.Main workload=<name> seed=<n> seconds=<n> trace=<0|1>
  * work=<dir> cores=<n> [workload parameters as key=value]`.
  *
  * Inputs the runner generated are read from `work`; everything the
  * run writes stays under it. The result (samples, checks, and in a
  * traced run the spans and layer counters) goes to `work/result.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val spec = Spec.parse(args.toSeq)
    val t0 = System.nanoTime()
    val builder = graft.GraftSession.local(spec.cores)
      .config("spark.local.dir", s"${spec.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${spec.work}/spark-warehouse")
    if (spec.trace)
      builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, spec.trace)
    rec.put("setup.session_s", (System.nanoTime() - t0) / 1e9)
    val extra = spec.workload match {
      case "ingest" => Ingest.run(spark, spec, rec)
      case "serve" => Serve.run(spark, spec, rec)
      case "lake" => Lake.run(spark, spec, rec)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    rec.finish()
    NioFiles.write(Paths.get(spec.work, "result.json"),
      rec.resultJson(extra).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
