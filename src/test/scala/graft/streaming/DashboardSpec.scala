package graft.streaming

import java.net.InetSocketAddress
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import com.sun.net.httpserver.HttpServer

import graft.SparkSuite
import graft.reference.Events

/** S7 dashboard-parity: the REST report leg against an in-process HTTP
  * fixture, pinning the reference's send_to_dashboard error taxonomy
  * (airflow/tests/test_unit_report.py:33-139). */
class DashboardSpec extends SparkSuite {

  /** In-process dashboard API: records the last posted body, serves the
    * status `status(n)` for the n-th request (1-based). */
  private def withServer(status: Int => Int)(f: (String, AtomicReference[String], AtomicInteger) => Unit): Unit = {
    val received = new AtomicReference[String]("")
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dashboard", exchange => {
      val n = hits.incrementAndGet()
      received.set(new String(exchange.getRequestBody.readAllBytes(), "UTF-8"))
      exchange.sendResponseHeaders(status(n), -1)
      exchange.close()
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/dashboard", received, hits)
    finally server.stop(0)
  }

  test("path munge matches the reference (.parquet -> .json, else append)") {
    assert(Dashboard.jsonPathFor("/x/2025-08-10_12-00.parquet") == "/x/2025-08-10_12-00.json")
    assert(Dashboard.jsonPathFor("/x/2025-08-10_12-00") == "/x/2025-08-10_12-00.json")
  }

  private def readReport(dir: String): String =
    graft.sources.Warehouse.readReportJson(spark, dir)

  private def report(json: String) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(json).get("report")

  private def totalEvents(json: String): Long = report(json).get("total_events").asLong

  /** Stage 2000 events as a file-source "topic" and return a streaming
    * read of it. */
  private def stagedEvents(prefix: String): org.apache.spark.sql.DataFrame = {
    val stage = tmpDir(prefix)
    Events.generate(spark, 2000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)
    spark.readStream.schema(Events.schema).parquet(stage)
  }

  test("streaming leg posts each batch's minute report to the dashboard") {
    withServer(_ => 200) { (url, received, hits) =>
      val reports = tmpDir("dash-rep")
      val ckpt = tmpDir("dash-ckpt")
      Dashboard.startMinuteReportsToDashboard(stagedEvents("dash-stage"), reports, ckpt, url)
        .awaitTermination(120000)
      assert(hits.get() >= 1, "dashboard never received a report")
      val body = received.get()
      assert(body.nonEmpty)
      // posted body is the report object the JSON sink persisted
      assert(body == readReport(s"$reports/batch-0.json"))
      assert(body.contains("\"file_name\""), s"unexpected report shape: $body")
      assert(body.contains("\"latency_ms\""), s"no latency readout: $body")
      // the batch reports together cover every staged event
      val dirs = new java.io.File(reports).listFiles().filter(_.getName.startsWith("batch-"))
      val total = dirs.map(d => totalEvents(readReport(d.toString))).sum
      assert(total == 2000, s"reports cover $total of 2000 events")
    }
  }

  test("a crash between the report write and the POST re-writes and re-posts on restart") {
    // the first POST fails (HTTP 500), every later one succeeds
    withServer(n => if (n == 1) 500 else 200) { (url, received, hits) =>
      val events = stagedEvents("dash-crash-stage")
      val reports = tmpDir("dash-crash-rep")
      val ckpt = tmpDir("dash-crash-ckpt")
      def run() = Dashboard.startMinuteReportsToDashboard(events, reports, ckpt, url)
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        run().awaitTermination(120000))
      val causes = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(_.isInstanceOf[Dashboard.RequestFailed]), ex)
      // the report was written before the POST failed
      val written = readReport(s"$reports/batch-0.json")
      assert(totalEvents(written) == 2000, written)
      // restart on the same checkpoint: batch 0 was never committed, so it
      // is replayed — report re-written and re-posted (at-least-once)
      run().awaitTermination(120000)
      assert(hits.get() == 2)
      assert(report(received.get()).get("by_event_type") == report(written).get("by_event_type"))
      assert(received.get() == readReport(s"$reports/batch-0.json"))
    }
  }

  test("missing report -> ReportNotFound (reference S3Error case)") {
    withServer(_ => 200) { (url, _, hits) =>
      intercept[Dashboard.ReportNotFound](
        Dashboard.send(spark, tmpDir("dash-none") + "/nope.parquet", url))
      assert(hits.get() == 0, "must fail before any HTTP call")
    }
  }

  test("unparseable report -> ReportMalformed (reference JSONDecodeError case)") {
    withServer(_ => 200) { (url, _, hits) =>
      val dir = tmpDir("dash-bad")
      graft.sources.Warehouse.writeReportJson(spark, "not { json", s"$dir/r.json")
      intercept[Dashboard.ReportMalformed](Dashboard.send(spark, s"$dir/r.parquet", url))
      assert(hits.get() == 0, "must fail before any HTTP call")
    }
  }

  test("non-2xx response -> RequestFailed (reference raise_for_status case)") {
    withServer(_ => 500) { (url, _, _) =>
      val dir = tmpDir("dash-500")
      graft.sources.Warehouse.writeReportJson(spark, """{"ok":1}""", s"$dir/r.json")
      val ex = intercept[Dashboard.RequestFailed](
        Dashboard.send(spark, s"$dir/r.parquet", url))
      assert(ex.getMessage.contains("500"))
    }
  }

  test("connection failure -> RequestFailed (reference RequestException case)") {
    val dir = tmpDir("dash-conn")
    graft.sources.Warehouse.writeReportJson(spark, """{"ok":1}""", s"$dir/r.json")
    // nothing listens on this port
    intercept[Dashboard.RequestFailed](
      Dashboard.send(spark, s"$dir/r.parquet", "http://127.0.0.1:1/dashboard"))
  }
}
