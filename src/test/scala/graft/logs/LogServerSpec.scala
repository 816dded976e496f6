package graft.logs

import graft.SparkSpec
import java.net.{HttpURLConnection, URI}
import scala.io.Source

/** End-to-end drive of the serving loop ([[LogServer]], the twin of
  * the reference's `serve/api.py`): real HTTP requests against an
  * ephemeral port, responses compared to the [[LogQueries]] results
  * they must serve verbatim, and the 400/404 error contract.
  */
class LogServerSpec extends SparkSpec {

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(60000)
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(in, "UTF-8").mkString
    in.close()
    (code, body)
  }

  test("health, errors_by_endpoint, top_endpoints serve LogQueries verbatim") {
    val fct = LogFixture.fct(spark).cache()
    val date = fct.select("date").orderBy("date").head().get(0).toString
    val srv = new LogServer(() => fct).start()
    try {
      val port = srv.boundPort
      val (hc, hb) = get(port, "/health")
      assert(hc === 200 && hb.contains("\"status\":\"ok\""))

      val (ec, eb) = get(port, s"/errors_by_endpoint?date=$date")
      assert(ec === 200)
      val expected = LogQueries.errorsByEndpoint(fct, date).collect()
      assert(expected.nonEmpty)
      // the JSON rows carry the query's exact values in its exact order
      val pat = """\{"endpoint":"([^"]*)","errors":(\d+),"requests":(\d+)\}""".r
      val got = pat.findAllMatchIn(eb)
        .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
      assert(got === expected.toSeq.map(r => (r.getAs[String]("endpoint"),
        r.getAs[Long]("errors"), r.getAs[Long]("requests"))))

      val (tc, tb) = get(port, s"/top_endpoints?date=$date&limit=2")
      assert(tc === 200)
      val patT = """\{"endpoint":"([^"]*)","requests":(\d+),"errors":(\d+)\}""".r
      val gotT = patT.findAllMatchIn(tb)
        .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong)).toSeq
      val expT = LogQueries.topEndpoints(fct, date, 2).collect().toSeq
        .map(r => (r.getAs[String]("endpoint"), r.getAs[Long]("requests"),
          r.getAs[Long]("errors")))
      assert(gotT === expT && gotT.size === 2)

      // the reference's validation contract: 400s, never stack traces
      assert(get(port, "/errors_by_endpoint?date=2024-13-77")._1 === 400)
      assert(get(port, "/errors_by_endpoint")._1 === 400)
      assert(get(port, s"/top_endpoints?date=$date&limit=0")._1 === 400)
      assert(get(port, s"/top_endpoints?date=$date&limit=x")._1 === 400)
      assert(get(port, "/no_such_endpoint")._1 === 404)
    } finally { srv.stop(); fct.unpersist() }
  }

  test("dashboard page renders the KPI, per-hour chart and breakdown " +
    "numbers the queries serve (the serve/app.py twin)") {
    val fct = LogFixture.fct(spark).cache()
    val date = fct.select("date").orderBy("date").head().get(0).toString
    val srv = new LogServer(() => fct).start()
    try {
      val port = srv.boundPort
      val (code, html) = get(port, s"/dashboard?date=$date")
      assert(code === 200, html)
      // KPI tiles carry kpiTotals' exact numbers
      val kpi = LogQueries.kpiTotals(fct, date).collect().head
      assert(html.contains(
        s"Requests: ${kpi.getAs[Long]("total_requests")}"))
      assert(html.contains(s"Errors: ${kpi.getAs[Long]("total_errors")}"))
      assert(html.contains(
        f"Error rate: ${kpi.getAs[Double]("error_rate_pct")}%.2f%%"))
      // one SVG bar group per perHourPivot hour, breakdown rows match
      val nHours = LogQueries.perHourPivot(fct, date).count()
      assert("<g>".r.findAllIn(html).size.toLong === nHours)
      val breakdown = LogQueries.hourlyBreakdown(fct, date).collect()
      assert("<tr><td>".r.findAllIn(html).size === breakdown.length)
      breakdown.foreach { r =>
        assert(html.contains(s"<td>${r.getAs[Long]("requests")}</td>"))
      }
      // default date = newest available (the selectbox default)
      val newest = LogQueries.availableDates(fct).collect()
        .last.getAs[java.sql.Date]("date").toString
      val (c2, html2) = get(port, "/dashboard")
      assert(c2 === 200 && html2.contains(
        s"""<option value="$newest" selected>"""))
      // validation contract holds on the HTML route too
      assert(get(port, "/dashboard?date=2024-13-77")._1 === 400)
      // a well-formed ABSENT date renders the empty page (the JSON
      // endpoints' empty-rows contract), never a 500
      val (cAbsent, hAbsent) = get(port, "/dashboard?date=2030-01-01")
      assert(cAbsent === 200, hAbsent)
      assert(hAbsent.contains("Requests: 0") && !hAbsent.contains("<g>"))
    } finally { srv.stop(); fct.unpersist() }
  }

  test("dashboard resolves the fact once: every number comes from one snapshot") {
    import org.apache.spark.sql.functions.{col, lit}
    val fct = LogFixture.fct(spark).cache()
    val date = fct.select("date").orderBy("date").head().get(0).toString
    // each call is a newer "version": request counts scaled by the call number
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new LogServer(() => {
      val n = calls.incrementAndGet()
      fct.withColumn("requests", col("requests") * lit(n.toLong))
    }).start()
    try {
      val (code, html) = get(srv.boundPort, s"/dashboard?date=$date")
      assert(code === 200, html)
      assert(calls.get === 1)
      val kpi = LogQueries.kpiTotals(fct, date).collect().head
      assert(html.contains(s"Requests: ${kpi.getAs[Long]("total_requests")}"))
      LogQueries.hourlyBreakdown(fct, date).collect().foreach { r =>
        assert(html.contains(s"<td>${r.getAs[Long]("requests")}</td>"))
      }
    } finally { srv.stop(); fct.unpersist() }
  }

  test("lineage page declares the dbt-docs DAG: staging → dimensions → " +
    "fact → serving, one node box per model") {
    val fct = LogFixture.fct(spark).cache()
    val srv = new LogServer(() => fct).start()
    try {
      val (code, html) = get(srv.boundPort, "/lineage")
      assert(code === 200, html)
      // the reference's ref() edges (models/marts/*.sql, staging) plus
      // source and serving — asserted on the machine-readable edge
      // list, not the SVG drawing
      val edges = Seq(
        "raw_logs" -> "stg_logs",
        "stg_logs" -> "dim_client",
        "stg_logs" -> "dim_endpoint",
        "stg_logs" -> "fct_requests_hourly",
        "fct_requests_hourly" -> "serve_api",
        "fct_requests_hourly" -> "dashboard")
      edges.foreach { case (a, b) =>
        assert(html.contains(s"""data-from="$a" data-to="$b""""),
          s"missing lineage edge $a -> $b")
      }
      assert("""class="edge"""".r.findAllIn(html).size === edges.size,
        "no undeclared edges")
      edges.flatMap(e => Seq(e._1, e._2)).distinct.foreach(n =>
        assert(html.contains(s"""id="node-$n""""), s"missing node $n"))
    } finally { srv.stop(); fct.unpersist() }
  }
}
