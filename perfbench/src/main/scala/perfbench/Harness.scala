package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the result file the runner reads. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => apply(other.toString)
  }
}

/** One run's arguments, passed by the runner as `key=value` pairs. */
final case class Spec(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, cores: Int, params: Map[String, String]) {
  def int(k: String): Int = params(k).toInt
  def dbl(k: String): Double = params(k).toDouble
}

object Spec {
  def parse(args: Seq[String]): Spec = {
    val m = args.map { a => val Array(k, v) = a.split("=", 2); k -> v }.toMap
    Spec(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("cores").toInt, m)
  }
}

/** Samples, checks and (in a traced run) spans and counters of one run.
  *
  * Timing is always on; everything tracing adds is behind `tracing`:
  * spans, the Spark and query-execution listeners, and the counter
  * snapshots. Work done to check outputs runs inside [[check]], whose
  * jobs and queries the listeners leave out of every layer figure.
  */
final class Recorder(val spark: SparkSession, val tracing: Boolean) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Wall-clock milliseconds at sub-millisecond resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  private val failures = new ConcurrentLinkedQueue[String]()
  private val attempts = new AtomicLong(0)
  var timedStartMs = 0.0
  var timedEndMs = 0.0

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def put(name: String, v: Any): Unit = synchronized { values(name) = v }

  /** A failed check on an operation already counted as attempted. */
  def fail(why: String): Unit = failures.add(why)

  /** One attempted operation; `ok = false` counts it failed. */
  def attempt(ok: Boolean, why: => String = ""): Unit = {
    attempts.incrementAndGet()
    if (!ok) failures.add(why)
  }

  /** Runs `body` as one attempted operation, timed in ms under `sample`
    * and under the span name when it succeeds inside the timed region.
    * Returns None when it threw (counted failed). */
  def op[T](sample: String, span: String, id: String = "")(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = this.span(span, id)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      if (timedStartMs > 0) {
        this.sample(sample, ms)
        this.sample(span, ms)
      }
      attempts.incrementAndGet()
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        attempt(ok = false, s"$span $id: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  // ---- phases ----

  private val checkWindows = new ConcurrentLinkedQueue[(Double, Double)]()

  /** Output checking: untimed, and invisible to the layer counters. */
  def check[T](body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.PhaseProp)
    sc.setLocalProperty(Recorder.PhaseProp, "check")
    val t0 = nowMs
    try body finally {
      checkWindows.add((t0, nowMs))
      sc.setLocalProperty(Recorder.PhaseProp, prev)
    }
  }
  private[perfbench] def inCheck(ms: Double): Boolean =
    checkWindows.asScala.exists { case (a, b) => ms >= a && ms <= b }

  private var startCounters: Map[String, Double] = Map.empty

  /** A named part of set-up, timed into `setup.<name>_s`. */
  def setupStep[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally put(s"setup.${name}_s", (System.nanoTime() - t0) / 1e9)
  }

  /** End of set-up: the first timed operation starts now. */
  def startTimed(): Unit = {
    if (tracing) startCounters = Counters.snapshot()
    timedStartMs = nowMs
  }
  def endTimed(): Unit = {
    timedEndMs = nowMs
    if (tracing) {
      val end = Counters.snapshot()
      end.foreach { case (k, v) => put(k, v - startCounters.getOrElse(k, 0.0)) }
    }
  }

  // ---- spans ----

  val spans = new ConcurrentLinkedQueue[Recorder.Span]()
  private val spanIds = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long]

  /** A span around one call into a layer. Jobs that the call submits
    * name it as their parent through a Spark local property. */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!tracing) body
    else {
      val id = spanIds.incrementAndGet()
      val parent = Option(current.get).map(_.longValue).getOrElse(0L)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(Recorder.SpanProp)
      current.set(id)
      sc.setLocalProperty(Recorder.SpanProp, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans.add(Recorder.Span(id, parent, name, t0, nowMs, op))
        current.set(if (parent == 0L) null else parent)
        sc.setLocalProperty(Recorder.SpanProp, prevProp)
      }
    }

  lazy val jobs: JobListener = {
    val l = new JobListener(this)
    spark.sparkContext.addSparkListener(l)
    l
  }
  lazy val queries: QueryListener = {
    val l = new QueryListener(this)
    spark.listenerManager.register(l)
    l
  }
  if (tracing) { jobs; queries }

  /** Waits for the listener bus, then adds the layer figures. */
  def finish(): Unit = if (tracing) {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    jobs.report(timedStartMs, timedEndMs).foreach { case (k, v) => put(k, v) }
    queries.report().foreach { case (k, v) => put(k, v) }
    SpanReport(this).foreach { case (k, v) => put(k, v) }
  }

  def failureCount: Long = failures.size.toLong
  def attempted: Long = attempts.get
  def failureList: Seq[String] = failures.asScala.toSeq

  def resultJson(extra: Map[String, Any]): String = Json(Map(
    "timed_start_ms" -> timedStartMs, "timed_end_ms" -> timedEndMs,
    "attempted" -> attempted, "failed" -> failureCount,
    "failures" -> failureList.take(20),
    "rss_peak_mb" -> Counters.rssPeakMb,
    "heap_live_mb" -> Counters.liveHeapMb,
    "heap_committed_mb" -> Counters.heapCommittedMb,
    "samples" -> samples.map { case (k, v) => k -> v.toSeq },
    "values" -> values,
    "spans" -> (if (tracing) spans.asScala.toSeq.map(s =>
      Seq(s.id, s.parent, s.name, s.start, s.end, s.op)) else Nil)) ++ extra)
}

object Recorder {
  final case class Span(id: Long, parent: Long, name: String, start: Double,
                        end: Double, op: String)

  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"
  private val SiteRe = """at ([A-Za-z0-9_$]+\.(?:scala|java)):\d+""".r.unanchored

  def siteFile(callSite: String): String = callSite match {
    case SiteRe(f) => f
    case _ => "other"
  }
}

/** File trees on local disk, for the stored-bytes figures. */
object Files {
  def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def bytes(path: String): Long = walk(new java.io.File(path)).map(_.length).sum
}

/** Process-wide counters read at the start and end of the timed region. */
object Counters {
  def snapshot(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val jitMs = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    val fs = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def fsCount(k: String) = fs.flatMap(st => Option(st.getLong(k))).map(_.toDouble).getOrElse(0.0)
    Map(
      "jvm.gc_s" -> gcMs / 1e3,
      "jvm.jit_s" -> jitMs / 1e3,
      "jvm.codegen_compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "fs.namespace_ops" -> CountingLocalFileSystem.ops.sum.toDouble,
      "fs.bytes_written" -> fsCount("bytesWritten"))
  }

  private val MB = 1048576.0

  /** The heap the program still holds, in MB: heap used after a full
    * collection. Called once, after the timed region and its checks.
    * The second collection frees what the first one's reference
    * processing released (Spark's cleaner acts on collected references). */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }

  def heapCommittedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MB

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb: Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
    }
}

/** Jobs, stages and tasks, attributed by the call site that submitted
  * the job and by the harness span that was open on that thread. */
final class JobListener(rec: Recorder) extends SparkListener {
  import JobListener._
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    // the result stage is named after the job's call site
    val site = prop("callSite.short")
      .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Recorder.siteFile(site),
      prop("spark.sql.execution.id").map(_.toLong),
      prop(Recorder.SpanProp).map(_.toLong).getOrElse(0L),
      prop(Recorder.PhaseProp).contains("check"), e.stageIds))
  }
  /** SQL execution id -> the call-site file of the action that started it
    * (its description), or of the root execution for a nested one. */
  val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val own = Recorder.siteFile(Option(x.description).getOrElse(""))
      val site = x.rootExecutionId.filter(r => own == "other" && r != x.executionId)
        .flatMap(r => Option(executions.get(r))).getOrElse(own)
      executions.put(x.executionId, site)
    case _ =>
  }

  /** Jobs that adaptive execution submits from its own threads carry a
    * thread-pool call site; they take their SQL execution's instead. */
  def site(j: Job): String = j.execution.flatMap(id => Option(executions.get(id)))
    .filter(_ != "other").getOrElse(j.ownSite)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val text = i.rddInfos.exists(r => r.scope.exists(_.name.startsWith("Scan text")))
    if (m != null) stages.put(i.stageId, Stage(i.numTasks, m.executorRunTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten, text))
  }

  def measured(from: Double, to: Double): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => !j.check && j.start >= from && j.start <= to)

  def stagesOf(js: Seq[Job]): Seq[Stage] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))

  def wallS(js: Seq[Job]): Double = js.map(j => j.end - j.start).sum / 1e3

  def report(from: Double, to: Double): Map[String, Any] = {
    val js = measured(from, to)
    val ss = stagesOf(js)
    val bySite = js.groupBy(site).map { case (f, g) =>
      val gs = stagesOf(g)
      f -> Map("jobs" -> g.size, "wall_s" -> wallS(g),
        "task_s" -> gs.map(_.runMs).sum / 1e3,
        "shuffle_write_bytes" -> gs.map(_.shuffleWrite).sum,
        "output_bytes" -> gs.map(_.output).sum)
    }
    Map(
      "exec.jobs" -> js.size,
      "exec.stages" -> ss.size,
      "exec.tasks" -> ss.map(_.tasks).sum,
      "exec.task_s" -> ss.map(_.runMs).sum / 1e3,
      "exec.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum,
      "exec.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum,
      "exec.spill_bytes" -> ss.map(_.spill).sum,
      "exec.text_scan_task_s" -> ss.filter(_.textScan).map(_.runMs).sum / 1e3,
      "exec.by_site" -> bySite)
  }
}

object JobListener {
  final case class Job(id: Int, start: Double, ownSite: String, execution: Option[Long],
                       parent: Long, check: Boolean, stages: Seq[Int]) {
    @volatile var end: Double = start
  }
  final case class Stage(tasks: Int, runMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long, output: Long,
                         textScan: Boolean)
}

/** Catalyst phase times of every measured query (not the checks). */
final class QueryListener(rec: Recorder) extends QueryExecutionListener {
  private val phases = new ConcurrentLinkedQueue[(Double, Map[String, Long], Long)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    phases.add((start, ph.map { case (k, v) => k -> v.durationMs }, durationNs))
  }

  def measured(from: Double, to: Double): Seq[(Double, Map[String, Long], Long)] =
    phases.asScala.toSeq.filter { case (t, _, _) => t >= from && t <= to && !rec.inCheck(t) }

  def report(): Map[String, Any] = {
    val qs = measured(rec.timedStartMs, rec.timedEndMs)
    def sum(k: String) = qs.map(_._2.getOrElse(k, 0L)).sum.toDouble
    Map("catalyst.analysis_ms" -> sum("analysis"),
      "catalyst.optimization_ms" -> sum("optimization"),
      "catalyst.planning_ms" -> sum("planning"),
      "catalyst.queries" -> qs.size,
      "catalyst.exec_ms" -> qs.map(_._3).sum / 1e6)
  }
}

/** Self time per layer from the span tree, plus the part of the timed
  * region that no span covers. A span's layer is its name's first
  * dot-separated part; job spans belong to `exec`. */
object SpanReport {
  private final case class S(id: Long, parent: Long, layer: String, start: Double, end: Double)

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def apply(rec: Recorder): Map[String, Any] = {
    val from = rec.timedStartMs
    val to = rec.timedEndMs
    val harness = rec.spans.asScala.toSeq.filter(s => s.start >= from && s.end <= to)
      .map(s => S(s.id, s.parent, s.name.takeWhile(_ != '.'), s.start, s.end))
    val jobSpans = rec.jobs.measured(from, to).zipWithIndex.map { case (j, i) =>
      S(-1L - i, j.parent, "exec", j.start, j.end) }
    val all = harness ++ jobSpans
    val children = all.groupBy(_.parent)
    def clip(c: S, p: S) = (math.max(c.start, p.start), math.min(c.end, p.end))
    val self = all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(clip(_, s)).filter(x => x._2 > x._1)
      s.layer -> ((s.end - s.start) - union(kids))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    val ids = all.map(_.id).toSet
    val roots = all.filter(s => !ids.contains(s.parent))
    val covered = union(roots.map(s => (math.max(s.start, from), math.min(s.end, to))))
    Map("trace.self_s" -> self.map { case (k, v) => k -> v / 1e3 },
      "trace.wall_s" -> (to - from) / 1e3,
      "trace.uncovered_s" -> ((to - from) - covered).max(0.0) / 1e3,
      "trace.spans" -> all.size)
  }
}
