package perfbench

import java.sql.{Date, Timestamp}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import graft.sources.Snapshots

/** `lake`: a seeded, single-threaded sequence of writes, reads and
  * periodic maintenance over more graft log tables than the driver's
  * checkpoint-row cache holds (8). Tables are at staging grain,
  * partitioned by date and bucketed by client_ip.
  *
  * The benchmark keeps its own model of every table (live request ids
  * with their client, day and timestamp, and the live count at every
  * committed version) and checks each answer against it: `fastCount`
  * after every write, each read's row total, and each time-travel count.
  */
object Lake {
  val Buckets = 8
  val Schema: StructType = StructType(Seq(
    StructField("request_id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("status", IntegerType),
    StructField("bytes_sent", LongType),
    StructField("endpoint", StringType),
    StructField("client_ip", StringType),
    StructField("user_agent", StringType),
    StructField("date", DateType),
    StructField("hour", StringType),
    StructField("is_error", IntegerType)))
  private val Endpoints = Array("/", "/health", "/login", "/api/v1/items",
    "/api/v1/items/search", "/api/v1/users", "/api/v1/orders", "/api/v1/cart",
    "/auth/login", "/static/app.js", "/metrics", "/admin")
  private val Agents = Array("Mozilla/5.0", "curl/8.1.2", "python-requests/2.32.3",
    "Googlebot/2.1")
  private val Statuses = Array(200, 200, 200, 200, 200, 304, 404, 500)
  private val Day0 = java.time.LocalDate.of(2025, 1, 1)
  private val DayMs = 86400000L
  private def dayMs(day: Int) = Day0.plusDays(day.toLong).toEpochDay * DayMs

  final case class Live(client: Int, day: Int, tsMs: Long)

  /** One table: its directory and the benchmark's model of it. */
  final class Table(val idx: Int, val dir: String) {
    val live = mutable.LongMap.empty[Live]
    val atVersion = mutable.LongMap.empty[Long]
    var nextId = 0L
    var lastDay = -1
    var floor = 0L
    var latest = -1L
    def count: Long = live.size.toLong
    def admit(rows: Seq[(Long, Live, Row)]): Unit = rows.foreach { case (id, l, _) => live(id) = l }
    def record(v: Long): Unit = { atVersion(v) = count; latest = math.max(latest, v) }
  }

  final class Gen(seed: Long, clients: Int) {
    val rng = new scala.util.Random(seed)
    /** Log-uniform client index: a few clients carry most rows. */
    def client(): Int = (math.pow(clients.toDouble, rng.nextDouble()) - 1).toInt.min(clients - 1)
    def ip(c: Int) = s"172.16.${c / 250}.${c % 250 + 1}"
    def row(id: Long, l: Live): Row = {
      val st = Statuses(rng.nextInt(Statuses.length))
      val ts = new Timestamp(l.tsMs)
      Row(id, ts, st, (rng.nextGaussian().abs * 4000).toLong,
        Endpoints(rng.nextInt(Endpoints.length)), ip(l.client), Agents(l.client % Agents.length),
        Date.valueOf(Day0.plusDays(l.day.toLong)), f"${(l.tsMs % DayMs) / 3600000L}%02d",
        if (st >= 400) 1 else 0)
    }
    /** `n` fresh rows on `day`; [[Table.admit]] adds them to the model
      * once the write that carries them has committed. */
    def dayRows(t: Table, day: Int, n: Int): Seq[(Long, Live, Row)] = (0 until n).map { _ =>
      val id = t.idx * 10000000000L + t.nextId
      t.nextId += 1
      val l = Live(client(), day, dayMs(day) + rng.nextInt(86400) * 1000L)
      (id, l, row(id, l))
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  def run(spark: SparkSession, spec: Spec, rec: Recorder): Map[String, Any] = {
    val nTables = spec.int("tables")
    val gen = new Gen(spec.seed, spec.int("clients"))
    val rng = gen.rng
    val rowsPerDay = spec.int("rows_per_day")
    val df = (rows: Seq[Row]) => spark.createDataFrame(java.util.Arrays.asList(rows: _*), Schema)
    // user bytes written in the timed region, as text: the base of write_amp
    var appendedBytes = 0L
    def addUserBytes(rows: Seq[Row]): Unit =
      if (rec.timedStartMs > 0) appendedBytes += rows.map(_.mkString(",").length + 1L).sum

    // set-up: the tables' first versions, generated in order and committed
    // three at a time
    val tables = rec.setupStep("tables") {
      val initial = (0 until nTables).map { i =>
        val t = new Table(i, s"${spec.work}/tables/t$i")
        t -> (0 until spec.int("initial_days")).flatMap { d => t.lastDay = d; gen.dayRows(t, d, rowsPerDay) }
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try initial.map { case (t, rows) =>
        pool.submit[Long](() => Snapshots.commit(df(rows.map(_._3)), t.dir, "overwrite",
          statsColumns = Seq("ts"), partitionBy = Seq("date"), bucketBy = Some(("client_ip", Buckets))))
      }.zip(initial).map { case (f, (t, rows)) =>
        val v = f.get()
        t.admit(rows)
        t.record(v)
        t
      } finally pool.shutdown()
    }

    def verifyCount(t: Table, what: String): Unit = rec.check {
      val n = Snapshots.fastCount(spark, t.dir)
      if (n != t.count) rec.fail(s"t${t.idx} after $what: fastCount $n, expected ${t.count}")
    }
    def pickLive(t: Table): Option[(Long, Live)] =
      if (t.live.isEmpty) None else {
        val k = rng.nextInt(t.live.size)
        t.live.iterator.drop(k).nextOption()
      }
    def recentDay(t: Table): Int = {
      val days = t.live.valuesIterator.map(_.day).toSet.toSeq.sorted
      days(math.min(days.size - 1, (days.size * math.sqrt(rng.nextDouble())).toInt))
    }
    def rows(q: DataFrame) = q.collect().map(_.getLong(1)).sum

    // one cycle of operation types, repeated: the mix is the same for
    // every seed, which picks the tables, clients, days and request ids
    val cycle = Seq("append", "read_day", "merge", "read_client", "append", "delete",
      "travel", "update", "append", "read_day", "merge", "count", "append",
      "read_client", "update", "delete", "append", "travel", "merge", "read_day")
    val nOps = spec.int("ops")
    val maintEvery = spec.int("maint_every")
    var alignedFired = 0
    val exchanges = mutable.ArrayBuffer.empty[Int]
    val filesRatio = mutable.ArrayBuffer.empty[Double]
    var bytesRewritten = 0.0
    var filesDeleted = 0L
    def fsBytes() = Counters.snapshot()("fs.bytes_written")

    // the first `warmup_ops` operations run and are checked, untimed: a
    // long-lived writer has compiled its commit and read paths
    val warm = spec.int("warmup_ops")
    (1 to warm + nOps).foreach { i =>
      if (i == warm + 1) rec.startTimed()
      val t = tables(rng.nextInt(nTables))
      val op = cycle((i - 1) % cycle.size)
      val id = s"t${t.idx}#$i"
      op match {
        case "append" =>
          t.lastDay += 1
          val batch = gen.dayRows(t, t.lastDay, rowsPerDay / 2)
          addUserBytes(batch.map(_._3))
          rec.op("write_ms", "sources.commit.append", id) {
            Snapshots.commit(df(batch.map(_._3)), t.dir, "append", statsColumns = Seq("ts"),
              partitionBy = Seq("date"), bucketBy = Some(("client_ip", Buckets)))
          }.foreach { v => t.admit(batch); t.record(v); verifyCount(t, op) }
        case "delete" => pickLive(t).foreach { case (_, l) =>
          val ip = gen.ip(l.client)
          rec.op("write_ms", "sources.commit.delete", id) {
            Snapshots.deleteWhere(spark, t.dir, col("client_ip") === ip)
          }.foreach { v =>
            t.live.filterInPlace { case (_, x) => x.client != l.client }
            t.record(v); verifyCount(t, op)
          }
        }
        case "merge" =>
          // late corrections: existing request ids with new byte counts,
          // plus a few late arrivals on a recent day
          val fixes = (0 until 40).flatMap(_ => pickLive(t)).toMap
          val fresh = gen.dayRows(t, recentDay(t), 5)
          val batch = fixes.toSeq.map { case (rid, l) => Row.fromSeq(gen.row(rid, l).toSeq :+ "U") } ++
            fresh.map(r => Row.fromSeq(r._3.toSeq :+ "I"))
          addUserBytes(batch)
          rec.op("write_ms", "sources.commit.merge", id) {
            Snapshots.mergeOnRead(spark, t.dir,
              spark.createDataFrame(java.util.Arrays.asList(batch: _*), Schema.add("op", StringType)),
              "request_id", statsColumns = Seq("ts"))
          }.foreach { v => t.admit(fresh); t.record(v); verifyCount(t, op) }
        case "update" => pickLive(t).foreach { case (_, l) =>
          val p = col("client_ip") === gen.ip(l.client) &&
            col("date") === lit(Date.valueOf(Day0.plusDays(l.day.toLong)))
          rec.op("write_ms", "sources.commit.update", id) {
            Snapshots.updateWhere(spark, t.dir, p, Map("bytes_sent" -> (col("bytes_sent") + 1)))
          }.foreach { v => t.record(v); verifyCount(t, op) }
        }
        case "read_day" =>
          val day = recentDay(t)
          val date = Date.valueOf(Day0.plusDays(day.toLong))
          val want = t.live.valuesIterator.count(_.day == day).toLong
          rec.op("read_ms", "sources.read.day", id) {
            val lazyDf = rec.span("sources.meta.resolve", "readVersionFiltered")(
              Snapshots.readVersionFiltered(spark, t.dir, None, Seq(EqualTo("date", date))))
            (lazyDf, rows(lazyDf.where(col("date") === lit(date)).groupBy("endpoint")
              .agg(count(lit(1)).as("n"))))
          }.foreach { case (lazyDf, n) =>
            if (n != want) rec.fail(s"$id read_day: $n rows, expected $want")
            if (rec.tracing) rec.check {
              val live = Snapshots.readManifest(spark, t.dir, t.latest).files.size
              filesRatio += lazyDf.inputFiles.length.toDouble / live.max(1)
            }
          }
        case "read_client" =>
          val day = recentDay(t)
          val lo = dayMs(day) + 6 * 3600000L
          val hi = lo + 18 * 3600000L
          val want = t.live.valuesIterator.count(l => l.tsMs >= lo && l.tsMs <= hi).toLong
          rec.op("read_ms", "sources.read.client", id) {
            val base = rec.span("sources.meta.resolve", "load")(
              spark.read.format("graft").load(t.dir))
            val q = base.where(col("ts") >= lit(new Timestamp(lo)) && col("ts") <= lit(new Timestamp(hi)))
              .groupBy("client_ip").agg(count(lit(1)).as("n"), sum("bytes_sent").as("b"))
            (q, rows(q))
          }.foreach { case (q, n) =>
            if (n != want) rec.fail(s"$id read_client: $n rows, expected $want")
            if (rec.tracing) rec.check {
              val plan = q.queryExecution.executedPlan
              exchanges += Plans.collect(plan) { case e: Exchange => e }.size
              if (Plans.collect(plan) { case s if s.nodeName.contains("ExistingRDD") => s }.nonEmpty)
                alignedFired += 1
            }
          }
        case "travel" =>
          val vs = t.atVersion.keys.filter(_ >= t.floor).toSeq.sorted
          val v = vs(rng.nextInt(vs.size))
          rec.op("read_ms", "sources.read.travel", id) {
            rec.span("sources.meta.resolve", "readVersion")(
              Snapshots.readVersion(spark, t.dir, Some(v))).count()
          }.foreach { n => if (n != t.atVersion(v)) rec.fail(s"$id travel v$v: $n rows, expected ${t.atVersion(v)}") }
        case "count" =>
          rec.op("read_ms", "sources.read.count", id)(Snapshots.fastCount(spark, t.dir))
            .foreach { n => if (n != t.count) rec.fail(s"$id fastCount $n, expected ${t.count}") }
      }
      if (i % maintEvery == 0) {
        val m = tables((i / maintEvery) % nTables)
        val mid = s"t${m.idx}#$i"
        rec.op("checkpoint_ms", "sources.maint.checkpoint", mid)(
          Snapshots.writeMetadataCheckpoint(spark, m.dir))
        val b0 = if (rec.tracing) fsBytes() else 0.0
        rec.op("compact_ms", "sources.maint.compact", mid)(
          Snapshots.compactSmall(spark, m.dir, minBytes = 1L << 20, statsColumns = Seq("ts")))
          .foreach { v => m.record(v); verifyCount(m, "compactSmall") }
        if (rec.tracing) bytesRewritten += fsBytes() - b0
        val keep = math.max(m.floor, m.latest - 1)
        rec.op("vacuum_ms", "sources.maint.vacuum", mid)(Snapshots.vacuum(spark, m.dir, keep))
          .foreach { n => filesDeleted += n; m.floor = keep }
      }
    }
    rec.endTimed()

    rec.check {
      tables.foreach(t => verifyCount(t, "the run"))
      val live = tables.map(_.count).sum
      rec.put("stored_rows", live)
      rec.put("stored_bytes", Files.bytes(s"${spec.work}/tables"))
      rec.put("appended_user_bytes", appendedBytes)
      rec.put("segments", tables.map(t =>
        Files.walk(new java.io.File(s"${t.dir}/_manifests/segments")).size).sum)
      if (rec.tracing) {
        rec.put("plans.aligned.fired", alignedFired)
        rec.put("plans.aligned.exchanges", if (exchanges.isEmpty) 0.0 else exchanges.sum.toDouble / exchanges.size)
        rec.put("sources.meta.files_read_ratio",
          if (filesRatio.isEmpty) 0.0 else filesRatio.sum / filesRatio.size)
        rec.put("sources.maint.bytes_rewritten", bytesRewritten)
        rec.put("sources.maint.files_deleted", filesDeleted)
      }
    }
    Map("tables" -> nTables)
  }
}
