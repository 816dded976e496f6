package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.logs.{LogModels, LogParser, LogServer}
import graft.sources.Snapshots

/** `serve`: the hourly fact of a generated history (the pipeline's parse
  * and models), committed as a graft table partitioned by date, served by `LogServer` through the live-table
  * thunk `spark.read.format("graft").load(dir)` (LogServe's policy).
  *
  * Two timed phases from one process: a closed loop of `closed_clients`
  * callers (capacity), then an open loop at a fixed rate sent from
  * `clients` connections, each request timed from the moment it was due. Every distinct URL's answer is kept for the
  * runner to compare with the generator's tallies; a later answer that
  * differs from the first for the same URL counts as a failure here.
  */
object Serve {
  final class UrlResult(val status: Int, val body: String) {
    val count = new AtomicInteger(0)
    val mismatched = new AtomicInteger(0)
  }

  private def lines(path: String): IndexedSeq[String] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).toIndexedSeq

  def run(spark: SparkSession, spec: Spec, rec: Recorder): Map[String, Any] = {
    val table = s"${spec.work}/fct_graft"
    rec.setupStep("fact") {
      val history = LogParser.readLogs(spark, s"${spec.work}/raw/history.log")
      Snapshots.commit(LogModels.fctRequestsHourly(LogModels.stgLogs(history)), table,
        "overwrite", partitionBy = Seq("date"))
    }
    rec.check {
      rec.put("stored_bytes", Files.bytes(table))
      rec.put("stored_rows", Snapshots.fastCount(spark, table))
    }
    val srv = new LogServer(() =>
      rec.span("sources.meta.resolve", "load")(spark.read.format("graft").load(table))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    val closed = lines(s"${spec.work}/closed.txt")
    val open = lines(s"${spec.work}/open.txt")
    val clients = spec.int("clients")
    val rate = spec.dbl("rate")
    val results = new ConcurrentHashMap[String, UrlResult]()

    def get(url: String): (Int, String) = {
      val c = URI.create(base + url).toURL.openConnection().asInstanceOf[HttpURLConnection]
      try {
        val code = c.getResponseCode
        val in = if (code < 400) c.getInputStream else c.getErrorStream
        val body = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        (code, body)
      } finally c.disconnect()
    }
    def kind(url: String) = url.drop(1).takeWhile(_ != '?')

    /** One request; latency from `dueNs`. Failures: exceptions, and a
      * status or body that differs from this URL's first answer. */
    def request(url: String, dueNs: Long, sample: String): Unit = {
      val r = try Some(rec.span("serve.request", kind(url))(get(url)))
      catch { case scala.util.control.NonFatal(e) =>
        rec.attempt(ok = false, s"$url: $e"); None }
      r.foreach { case (code, body) =>
        val ms = (System.nanoTime() - dueNs) / 1e6
        rec.sample(sample, ms)
        // a rejected date is its own kind: it stops before any query runs
        rec.sample(s"$sample.${if (code == 400) "invalid" else kind(url)}", ms)
        val first = results.computeIfAbsent(url, _ => new UrlResult(code, body))
        first.count.incrementAndGet()
        val same = first.status == code && first.body == body
        if (!same) first.mismatched.incrementAndGet()
        rec.attempt(same, s"$url: answer changed between requests")
      }
    }

    def workers(n: Int)(body: Int => Unit): Unit = {
      val ts = (0 until n).map(i => new Thread(() => body(i), s"perfbench-client-$i"))
      ts.foreach(_.start())
      ts.foreach(_.join())
    }

    // untimed warm-up from the closed-loop stream: a long-running server
    // has compiled its query paths before the timed phases start
    rec.setupStep("warm-up")(closed.takeRight(spec.int("warmup")).foreach(u => get(u)))

    rec.startTimed()
    val closedNs = (spec.dbl("closed_s") * 1e9).toLong
    val next = new AtomicInteger(0)
    val lastDone = new java.util.concurrent.atomic.AtomicLong(0)
    val c0 = System.nanoTime()
    workers(spec.int("closed_clients")) { _ =>
      while (System.nanoTime() - c0 < closedNs) {
        val url = closed(next.getAndIncrement() % closed.size)
        request(url, System.nanoTime(), "closed_ms")
        lastDone.accumulateAndGet(System.nanoTime(), math.max)
      }
    }
    // capacity over the span in which requests completed
    rec.put("closed_wall_s", (lastDone.get - c0) / 1e9)

    val periodNs = 1e9 / rate
    val due0 = System.nanoTime() + 1000000L
    val nextOpen = new AtomicInteger(0)
    workers(clients) { _ =>
      var j = nextOpen.getAndIncrement()
      while (j < open.size) {
        val due = due0 + (j * periodNs).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        rec.sample("lateness_ms", (now - due) / 1e6)
        request(open(j), due, "open_ms")
        j = nextOpen.getAndIncrement()
      }
    }
    rec.put("open_wall_s", (System.nanoTime() - due0) / 1e9)
    rec.endTimed()
    srv.stop()
    Map("urls" -> results.asScala.map { case (u, r) =>
      u -> Map("status" -> r.status, "body" -> r.body, "count" -> r.count.get,
        "mismatched" -> r.mismatched.get) })
  }
}
