package graft.sources

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec, RowDataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources

/** The native manifest scan ([[graft.plans.GraftScanStrategy]] over
  * [[GraftRelation.scanPlan]]): a graft read plans as Spark's own
  * `FileSourceScanExec` over a [[ManifestFileIndex]], returns exactly
  * what the `readVersionFiltered` path returns under any filter, and
  * plans without touching the filesystem.
  */
class GraftScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def frame(ids: Range, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map(i => (i.toLong, s"$tag${i % 13}", i % 7,
        if (i % 5 == 0) None else Some(s"n$i")))
      .toDF("id", "tag", "grp", "note")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def scans(plan: SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }

  test("plan shape: FileScan parquet over the manifest index with pushed " +
    "filters and scan metrics, no row or RDD scan") {
    val dir = graft.TempDirs.create("graft-scan-shape")
    Snapshots.commit(frame(0 until 400, "a").repartition(4, col("id")), dir,
      "overwrite", statsColumns = Seq("id"))
    Snapshots.commit(frame(1000 until 1100, "b").coalesce(1), dir, "append",
      statsColumns = Seq("id"))
    val q = spark.read.format("graft").load(dir).filter(col("id") >= 1000L)
      .select("id", "tag")
    val explained = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    assert(explained.contains("FileScan parquet"), explained)
    assert(explained.contains("ManifestFileIndex"), explained)
    assert(q.collect().length === 100)
    val plan = q.queryExecution.executedPlan
    val Seq(scan) = scans(plan)
    assert(scan.relation.location.isInstanceOf[ManifestFileIndex])
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(id,1000)"),
      scan.metadata)
    assert(collect(plan) {
      case s: RowDataSourceScanExec => s
      case s: RDDScanExec => s
    }.isEmpty, plan)
    assert(!plan.treeString.contains("ExistingRDD"), plan)
    // SQLMetrics: the manifest pruned the 4 first-commit files away
    assert(scan.metrics("numFiles").value === 1L)
    assert(scan.metrics("numOutputRows").value === 100L)
  }

  /** One random prunable-or-not predicate over (id, tag, grp, note),
    * named `names`, with its V1 form when it has one.
    */
  private def predicate(rnd: scala.util.Random, names: Map[String, String])
      : (Column, Seq[sources.Filter]) = {
    val (id, tag, grp, note) =
      (names("id"), names("tag"), names("grp"), names("note"))
    def simple(): (Column, sources.Filter) = rnd.nextInt(9) match {
      case 0 => val v = rnd.nextInt(1300).toLong
        (col(id) === v, sources.EqualTo(id, v))
      case 1 => val v = rnd.nextInt(1300).toLong
        (col(id) > v, sources.GreaterThan(id, v))
      case 2 => val v = rnd.nextInt(1300).toLong
        (col(id) <= v, sources.LessThanOrEqual(id, v))
      case 3 => val v = rnd.nextInt(1300).toLong
        (col(id) < v, sources.LessThan(id, v))
      case 4 => val vs = Seq.fill(3)(rnd.nextInt(8))
        (col(grp).isin(vs: _*), sources.In(grp, vs.toArray[Any]))
      case 5 => val v = s"${if (rnd.nextBoolean()) "a" else "b"}${rnd.nextInt(14)}"
        (col(tag) === v, sources.EqualTo(tag, v))
      case 6 => (col(note).isNull, sources.IsNull(note))
      case 7 => (col(note).isNotNull, sources.IsNotNull(note))
      case _ => val v = rnd.nextInt(1300).toLong
        (col(id) >= v, sources.GreaterThanOrEqual(id, v))
    }
    val conjuncts = Seq.fill(1 + rnd.nextInt(3)) {
      rnd.nextInt(5) match {
        case 0 => val ((a, fa), (b, fb)) = (simple(), simple())
          (a || b, sources.Or(fa, fb))
        case 1 => val (a, fa) = simple(); (!a, sources.Not(fa))
        case _ => simple()
      }
    }
    (conjuncts.map(_._1).reduce(_ && _), conjuncts.map(_._2))
  }

  test("parity: random filters return readVersionFiltered's rows on masked, " +
    "mapped, partitioned+bucketed, pruned-out, time-travel and empty tables") {
    val plain = Map("id" -> "id", "tag" -> "tag", "grp" -> "grp", "note" -> "note")
    // DV-masked, three versions
    val masked = graft.TempDirs.create("graft-scan-masked")
    Snapshots.commit(frame(0 until 600, "a").repartition(3, col("id")), masked,
      "overwrite", statsColumns = Seq("id"))
    Snapshots.commit(frame(1000 until 1200, "b"), masked, "append",
      statsColumns = Seq("id"))
    Snapshots.deleteWhere(spark, masked, col("id") % 7 === 0)
    // column-mapped (renamed) and masked after the rename
    val mapped = graft.TempDirs.create("graft-scan-mapped")
    Snapshots.commit(frame(0 until 500, "a").repartition(2, col("id")), mapped,
      "overwrite", statsColumns = Seq("id", "grp"))
    Snapshots.renameColumn(spark, mapped, "grp", "group_no")
    Snapshots.deleteWhere(spark, mapped, col("group_no") === 3)
    // partitioned by grp, bucketed by id, bloomed on tag
    val layout = graft.TempDirs.create("graft-scan-layout")
    Snapshots.commit(frame(0 until 800, "a"), layout, "overwrite",
      partitionBy = Seq("grp"), bucketBy = Some(("id", 4)),
      statsColumns = Seq("id"), bloomColumns = Seq("tag"))
    // a zero-file snapshot with a declared schema
    val empty = graft.TempDirs.create("graft-scan-empty")
    Snapshots.createEmpty(spark, empty, frame(0 until 1, "a").schema)

    val cases = Seq(
      (masked, 0L, plain), (masked, 1L, plain), (masked, 2L, plain),
      (mapped, Snapshots.latestVersion(spark, mapped).get,
        plain + ("grp" -> "group_no")),
      (layout, 0L, plain), (empty, 0L, plain))
    val rnd = new scala.util.Random(20261017L)
    for ((dir, v, names) <- cases; _ <- 0 until 12) {
      val (pred, filters) = predicate(rnd, names)
      val native = spark.read.format("graft")
        .option("versionAsOf", v.toString).load(dir).filter(pred)
      val reference = Snapshots.readVersionFiltered(spark, dir, Some(v), filters)
        .filter(pred)
      assert(rows(native) === rows(reference), s"$dir v$v: $pred")
    }
    // every file pruned: no file is read, nothing is returned
    val none = spark.read.format("graft").load(masked)
      .filter(col("id") > 5000000L)
    assert(none.collect().isEmpty)
    val dataScan = scans(none.queryExecution.executedPlan)
      .filter(_.output.exists(_.name == "id"))
    assert(dataScan.map(_.metrics("numFiles").value) === Seq(0L))
  }

  test("a masked join under adaptive execution finishes, with or without " +
    "exchange reuse, and serves the masked rows") {
    val masked = graft.TempDirs.create("graft-scan-aqe")
    Snapshots.commit(frame(0 until 3000, "a").repartition(3, col("id")), masked,
      "overwrite")
    Snapshots.deleteWhere(spark, masked, col("id") % 7 === 0)
    val other = graft.TempDirs.create("graft-scan-aqe-other")
    Snapshots.commit(frame(0 until 3000, "b").repartition(3, col("id")), other,
      "overwrite")
    def joined(a: DataFrame, b: DataFrame) =
      a.join(b, Seq("id")).groupBy(a("grp")).agg(count(lit(1)), sum(b("id")))
    val want = rows(joined(Snapshots.readVersion(spark, masked),
      Snapshots.readVersion(spark, other)))
    val key = "spark.sql.exchange.reuse"
    for (reuse <- Seq("true", "false"); broadcast <- Seq("10485760", "-1")) {
      spark.conf.set(key, reuse)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcast)
      try {
        val q = joined(spark.read.format("graft").load(masked),
          spark.read.format("graft").load(other))
        // a mask stage that ran again on every re-optimization never ends
        val got = scala.concurrent.Await.result(
          scala.concurrent.Future(rows(q))(scala.concurrent.ExecutionContext.global),
          scala.concurrent.duration.Duration(120, "s"))
        assert(got === want, s"reuse=$reuse broadcast=$broadcast")
      } finally {
        spark.conf.unset(key)
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    }
  }

  test("planning makes no list or getFileStatus call") {
    val dir = graft.TempDirs.create("graft-scan-nolist")
    Snapshots.commit(frame(0 until 300, "a").repartition(3, col("id")), dir,
      "overwrite", statsColumns = Seq("id"), partitionBy = Seq("grp"))
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    try {
      // the counter sees a listing: reading a parquet directory lists it
      CountingFileSystem.calls.set(0)
      val m = Snapshots.readManifest(spark, dir, 0L)
      spark.read.parquet(new Path(dir, m.files.head).getParent.toString)
      assert(CountingFileSystem.calls.get > 0)
      val q = spark.read.format("graft").load(dir)
        .filter(col("id") < 100L).groupBy("grp").count()
      q.queryExecution.optimizedPlan
      CountingFileSystem.calls.set(0)
      val plan = q.queryExecution.executedPlan
      assert(CountingFileSystem.calls.get === 0)
      assert(collect(plan) { case s: FileSourceScanExec => s }.size === 1)
      assert(q.collect().map(_.getLong(1)).sum === 100L)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

/** The session's `file:` filesystem with its metadata reads counted. */
class CountingFileSystem extends FastLocalFileSystem {
  override def getFileStatus(f: Path): FileStatus = {
    CountingFileSystem.calls.incrementAndGet(); super.getFileStatus(f)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.calls.incrementAndGet(); super.listStatus(f)
  }
}

object CountingFileSystem {
  val calls = new AtomicInteger(0)
}
