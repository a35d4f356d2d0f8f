package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The dashboard REST leg (reference S7: airflow/dags/pipeline.py:205-245 —
  * `send_to_dashboard`): fetch the minute report JSON produced by the
  * analysis step, validate it, POST it to the dashboard API, and surface
  * the same error taxonomy the reference's unit tests pin down
  * (airflow/tests/test_unit_report.py:33-139):
  *
  *  - storage miss fetching the report  → [[Dashboard.ReportNotFound]]
  *    (reference: `S3Error` from MinIO);
  *  - unparseable report payload        → [[Dashboard.ReportMalformed]]
  *    (reference: `json.JSONDecodeError`);
  *  - connection failure OR non-2xx     → [[Dashboard.RequestFailed]]
  *    (reference: `requests.RequestException` incl. `raise_for_status`).
  *
  * The POST itself is a DRIVER-side action on a ≤5-row report object —
  * exactly where the reference runs it (an Airflow task, not the engine) —
  * so it lives behind foreachBatch, never inside a distributed operator.
  */
object Dashboard {

  sealed abstract class ReportError(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
  final class ReportNotFound(path: String, cause: Throwable)
    extends ReportError(s"report not found: $path", cause)
  final class ReportMalformed(path: String, cause: Throwable)
    extends ReportError(s"invalid JSON payload in: $path", cause)
  final class RequestFailed(detail: String, cause: Throwable)
    extends ReportError(s"dashboard API request failed: $detail", cause)

  /** Reference path munge (pipeline.py:216-219): the task receives the
    * PARQUET analysis path and derives the JSON report object from it. */
  def jsonPathFor(filePath: String): String =
    if (filePath.contains("parquet")) filePath.replace("parquet", "json")
    else filePath + ".json"

  /** Fetch → validate → POST → raise_for_status. Returns the HTTP status.
    * `filePath` is the analysis output path (parquet or bare), as in the
    * reference; the report itself is read from [[jsonPathFor]] of it. */
  def send(spark: SparkSession, filePath: String, apiUrl: String): Int = {
    val path = jsonPathFor(filePath)
    val body =
      try graft.sources.Warehouse.readReportJson(spark, path)
      catch { case e: Throwable => throw new ReportNotFound(path, e) }
    try new ObjectMapper().readTree(body)
    catch { case e: Throwable => throw new ReportMalformed(path, e) }
    val resp =
      try {
        val client = HttpClient.newBuilder()
          .connectTimeout(Duration.ofSeconds(5)).build()
        client.send(
          HttpRequest.newBuilder(URI.create(apiUrl))
            .timeout(Duration.ofSeconds(10))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body))
            .build(),
          HttpResponse.BodyHandlers.ofString())
      } catch { case e: Exception => throw new RequestFailed(apiUrl, e) }
    if (resp.statusCode() < 200 || resp.statusCode() >= 300)
      throw new RequestFailed(s"$apiUrl returned HTTP ${resp.statusCode()}", null)
    resp.statusCode()
  }

  /** The continuous report leg: foreachBatch assembles each micro-batch's
    * minute report ([[graft.reference.MinuteReport.reportJson]]), writes
    * the JSON object (S4), reads it back and posts it (S7) — the write and
    * the read are driver-side FileSystem calls, no Spark job. It is the
    * in-engine twin of the reference's spark_analysis >> send_to_dashboard
    * task chain. A failed POST fails the batch after the write, so a
    * restart on the same checkpoint re-writes and re-sends it:
    * at-least-once delivery to the dashboard, same as an Airflow task
    * retry. */
  def startMinuteReportsToDashboard(
      events: DataFrame,
      reportDir: String,
      checkpointDir: String,
      apiUrl: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val analysisPath = s"$reportDir/batch-$batchId.parquet"
        graft.sources.Warehouse.writeReportJson(
          batch.sparkSession,
          graft.reference.MinuteReport.reportJson(batch, s"batch-$batchId.parquet"),
          jsonPathFor(analysisPath))
        send(batch.sparkSession, analysisPath, apiUrl)
        ()
      }
      .start()
}
