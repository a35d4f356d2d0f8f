package graft

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.reference.{Events, MinuteReport}
import graft.sources.Warehouse
import graft.streaming.Ingest

/** User-facing facade: the reference's whole multi-service pipeline as
  * three library calls (a reference user switches by calling these instead
  * of operating Kafka/Connect/ClickHouse/Airflow — SURVEY.md TL;DR).
  *
  *   1. [[ingest]] — producer→Kafka→Connect→ClickHouse leg: any event
  *      stream (or [[Ingest.eventStream]]'s generator) checkpointed into
  *      the minute-partitioned warehouse, exactly-once.
  *   2. [[minutelyReport]] — Airflow-extract + Spark-job legs: pruned
  *      single-minute read, [[MinuteReport.reportJson]] to the report
  *      sink (a driver-side commit, no Spark job), with the reference's
  *      no-data sentinel and Tehran naming.
  *   3. Query surface — [[SparkEntry.queries]] for everything else.
  */
object Pipeline {

  /** Start the ingest leg into `warehouseDir` (exactly-once, partitioned
    * by event_minute). `availableNow = false` for continuous operation. */
  def ingest(
      events: DataFrame,
      warehouseDir: String,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery =
    Ingest.startIngest(Events.withEventMinute(events), warehouseDir,
      checkpointDir, availableNow)

  /** Run the minutely analysis for the minute preceding `triggerInstant`
    * (the reference's cron semantics, pipeline.py:130-131), write the JSON
    * report to `reportDir/<name>` (a re-run replaces it), and return the
    * JSON — the same document [[Scheduler.minutelySteps]] emits. Zero rows
    * for the minute produce the `No data for {name}.` sentinel (P6).
    *
    * The analysis runs to completion before the old report is touched:
    * [[Warehouse.writeReportJson]] replaces `reportDir/<name>` only after
    * the document exists, on the driver, with no Spark job. So a minute
    * whose files cannot be read (say a truncated parquet part) makes a
    * re-run throw and leaves the earlier report byte-identical. The two
    * Spark jobs of a report are the analysis's. */
  def minutelyReport(
      spark: SparkSession,
      warehouseDir: String,
      reportDir: String,
      triggerInstant: Instant): String = {
    val fileName = MinuteReport.tehranMinuteFileName(triggerInstant)
    val minute = java.sql.Timestamp.from(
      triggerInstant.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
        .minusSeconds(60))
    val json = MinuteReport.reportJson(
      Warehouse.readMinute(spark, warehouseDir, minute), fileName)
    Warehouse.writeReportJson(spark, json, s"$reportDir/${fileName.stripSuffix(".parquet")}")
    json
  }

  /** The drift-alerting health report over the maintained views
    * ([[graft.streaming.HealthReport.serve]]): latency quantile drift
    * (KLL cells), volume-mix shift + window χ² (exact counts), and
    * heavy-hitter churn (Misra–Gries cells), comparing everything after
    * `splitMinute` against everything before it — the page-on-this
    * readout of a continuously-ingesting deployment, served from
    * O(minutes × types) sketch cells without re-touching raw events.
    * `quantileRollupDir`/`heavyHitterRollupDir` are maintained by
    * [[graft.streaming.Ingest.upsertQuantileRollup]] /
    * [[graft.streaming.Ingest.upsertHeavyHitterRollup]] (foreachBatch).
    * Oracle-gated batch twin: `audit_health_report`. */
  def healthReport(
      spark: SparkSession,
      quantileRollupDir: String,
      heavyHitterRollupDir: String,
      splitMinute: java.sql.Timestamp,
      countRollupDir: Option[String] = None): DataFrame =
    graft.streaming.HealthReport.serve(
      spark, quantileRollupDir, heavyHitterRollupDir, splitMinute,
      countRollupDir = countRollupDir)

  /** Windowed producer-contract report served from the maintained
    * per-minute violation cells
    * ([[graft.streaming.Ingest.upsertContractMonitor]]) — the streaming
    * twin of the batch ingest gate (`audit_schema_contract`): per-rule
    * checked/violations/rate/pass over `[fromMs, toMs)` for the cost of
    * a cell scan, never a raw-event rescan. */
  def contractReport(
      spark: SparkSession,
      contractMonitorDir: String,
      fromMs: Long,
      toMs: Long): DataFrame =
    graft.streaming.Ingest.servedContractReport(
      spark, contractMonitorDir, fromMs, toMs)

  /** Dashboard-ready latency series per event_type at any minute-aligned
    * bucket width, served from the maintained M4 extremes cells
    * ([[graft.streaming.Ingest.upsertM4Rollup]], foreachBatch) — the
    * charting twin of the batch `ev_m4_downsample`: ≤4 points per bucket
    * (first/last/min/max, role-bitmasked), bit-exact vs a raw recompute,
    * for the cost of a cell scan. */
  def chartSeries(
      spark: SparkSession,
      m4RollupDir: String,
      bucketMinutes: Int): DataFrame =
    graft.streaming.Ingest.servedM4(spark, m4RollupDir, bucketMinutes)

  /** One-point-per-bucket LTTB twin of [[chartSeries]], served from the
    * same cells ([[graft.streaming.Ingest.servedLttb]]): exact
    * bucket-mean anchors, argmax over the per-minute M4 extremes, exact
    * series endpoints — the aggressive-zoom-out shape (M4 is the
    * pixel-exact shape at bucket-per-pixel widths). */
  def chartSeriesLttb(
      spark: SparkSession,
      m4RollupDir: String,
      bucketMinutes: Int): DataFrame =
    graft.streaming.Ingest.servedLttb(spark, m4RollupDir, bucketMinutes)
}
