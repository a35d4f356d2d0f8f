package graft.reference

import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship analysis (reference airflow/dags/spark.py:17-46,
  * 49-98): per-minute success/error report — event_type × status counts,
  * zero-filled, plus a latency readout — wrapped in a JSON report document
  * with the Tehran-timezone minute file name (reference
  * airflow/dags/pipeline.py:130-131). One analysis ([[analyze]]) and one
  * JSON assembly ([[reportJson]]) serve Pipeline, the Scheduler's analyze
  * step and the streaming dashboard leg.
  *
  * Differences from the reference, by design (SURVEY.md §7.4):
  *  - single pass: the reference runs 4 separate actions over a cached scan
  *    (count / pivot / sum / collect, spark.py:24-37); we collect the ≤10
  *    count+sketch cells once and derive total_events and total_errors from
  *    them (A1 = Σ cells, A5 = Σ ERROR column) — same numbers, one job;
  *  - in-JVM report assembly, no Py4J / S3A hop.
  */
object MinuteReport {

  /** Report document (shape: reference dashboard/dashboard_api.py:27-46,
    * airflow/tests/common.py:23-37). */
  final case class Report(
      totalEvents: Long,
      totalErrors: Long,
      byEventType: Map[String, (Long, Long)], // type -> (SUCCESS, ERROR)
      processTime: Double,
      fileName: String,
      latencyMs: Option[(Double, Double, Double)] = None) // (p50, p90, p99)

  /** The explicit status domain of the reference pivot (spark.py:27-32).
    * Shared by [[pivotCounts]] and [[analyze]] so the registered pivot
    * query and the report's cells cover the SAME rows. */
  val PivotStatuses: Seq[String] = Seq("ERROR", "SUCCESS")

  /** The pivot aggregation itself (reference spark.py:27-32): explicit
    * status value list, absent combos zero-filled, deterministic order.
    * The plan of the oracle-gated `ref_minute_report`; the report's own
    * counts come from [[latencyCells]] with the same semantics
    * (ReportPropertySpec pins the two equal). */
  def pivotCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .pivot("status", PivotStatuses)
      .count()
      .na.fill(0)
      .orderBy(col("event_type"))

  /** The report's one aggregate: per (event_type, status) cell, the
    * row count and a built-in KLL sketch of request_latency_ms (≤10
    * cells for the reference's 5 types × 2 statuses). */
  def latencyCells(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), col("status"))
      .agg(count(lit(1)).as("cnt"),
        kll_sketch_agg_double(col("request_latency_ms").cast("double"),
          graft.operators.Kll.K).as("sk"))

  /** The minute report: the reference's pivot counts plus the latency
    * readout a real SRE dashboard wants beside them (p50/p90/p99 of
    * request_latency_ms over the same rows), in ONE job — the pivot is
    * desugared to [[latencyCells]], the ≤10 cell rows are collected once,
    * and the counts (zero-filled, explicit-status-list semantics exactly
    * as [[pivotCounts]]) and the minute-level quantiles both come from
    * that single collect. The cell sketches are merged on the driver
    * with the DataSketches classes Spark's own `kll_merge_agg_double`
    * uses (KLL merge is associative, so cell→minute is the same
    * re-slice the warehouse rollup view serves) — no second Spark job.
    * The sketch is randomized: a re-run may return other stored values
    * within the rank bound, while the counts stay exact. The
    * oracle-gated twin of this grain pattern is `agg_kll_report_grain`
    * (operators/Kll.scala); sketch accuracy and tie-safe rank bounds are
    * pinned by KllSketchSpec/QuantileRollupSpec/MinuteReportSpec. */
  def analyze(events: DataFrame, fileName: String): Report = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    val rows = latencyCells(events).collect()
    // counts: mirror pivotCounts' explicit value list — only the listed
    // statuses fill cells, but every event_type present appears (zero-
    // filled), and totals derive from the cells
    val byType = rows.groupBy(_.getString(0)).map { case (t, rs) =>
      def cnt(st: String) =
        rs.find(_.getString(1) == st).map(_.getAs[Long]("cnt")).getOrElse(0L)
      t -> (cnt("SUCCESS"), cnt("ERROR"))
    }
    val totalErrors = byType.values.map(_._2).sum
    val totalEvents = byType.values.map { case (s, e) => s + e }.sum
    // latency merges ONLY the cells whose status the counts cover
    // (PivotStatuses): without this, a status outside the explicit list
    // would feed the quantiles while total_events/total_errors exclude
    // it — a silent divergence the moment the status domain grows
    // (generator and reference producer emit only SUCCESS/ERROR today;
    // MinuteReportSpec plants a third status to hold the guard)
    val merged = KllDoublesSketch.newHeapInstance(graft.operators.Kll.K)
    rows.filter(r => PivotStatuses.contains(r.getString(1))).foreach { r =>
      merged.merge(KllDoublesSketch.heapify(Memory.wrap(r.getAs[Array[Byte]]("sk"))))
    }
    val latency =
      if (merged.isEmpty) None
      else Some((merged.getQuantile(0.5), merged.getQuantile(0.9), merged.getQuantile(0.99)))
    Report(totalEvents, totalErrors, byType, 0.0, fileName, latency)
  }

  /** JSON serialization matching the reference report envelope
    * (spark.py:86-90: {"report": {...}}). Keys ordered deterministically. */
  def toJson(r: Report): String = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val types = r.byEventType.toSeq.sortBy(_._1).map { case (t, (s, e)) =>
      s""""${esc(t)}": {"SUCCESS": $s, "ERROR": $e}"""
    }.mkString("{", ", ", "}")
    // latency_ms is additive-only: the reference keys keep their exact
    // order and the block appears only when the minute had latency
    // cells, so reference-shape consumers are unaffected
    val latency = r.latencyMs.map { case (p50, p90, p99) =>
      s""""latency_ms": {"p50": $p50, "p90": $p90, "p99": $p99}, """
    }.getOrElse("")
    s"""{"report": {"total_events": ${r.totalEvents}, "total_errors": ${r.totalErrors}, """ +
      s""""by_event_type": $types, $latency"process_time": ${r.processTime}, """ +
      s""""file_name": "${esc(r.fileName)}"}}"""
  }

  /** No-data sentinel (reference spark.py:69-73; airflow pipeline.py:162-164
    * returns an extension-less path when the minute had zero rows). */
  def noDataJson(name: String): String =
    s"""{"report": "No data for $name."}"""

  /** The one report assembly: [[analyze]] `events`, timing the scan,
    * aggregate and collect as `process_time`, and return the JSON
    * document — or the no-data sentinel for the extension-less name when
    * the totals are zero (zero totals mean no rows, so there is no
    * separate isEmpty job). */
  def reportJson(events: DataFrame, fileName: String): String = {
    val t0 = System.nanoTime()
    val r = analyze(events, fileName)
    if (r.totalEvents == 0L) noDataJson(fileName.stripSuffix(".parquet"))
    else toJson(r.copy(processTime = (System.nanoTime() - t0) / 1e9))
  }

  /** Path-driven entry mirroring reference spark.py main(): a name without
    * "parquet" means "no data this minute" — skip analysis entirely;
    * otherwise report the landed file, read with the declared schema (no
    * inference job). */
  def reportForPath(spark: SparkSession, path: String): String = {
    val name = path.split("/").last
    if (!name.contains("parquet")) noDataJson(name)
    else reportJson(spark.read.schema(Events.schema).parquet(path), name)
  }

  /** The reference's minute file naming quirk (pipeline.py:130-131, golden
    * test airflow/tests/test_integration_stream.py:122-140): trigger instant
    * → Asia/Tehran → floor to minute → minus 1 minute → yyyy-MM-dd_HH-mm. */
  def tehranMinuteFileName(triggerInstant: Instant): String = {
    import java.time.{ZoneId, Duration}
    import java.time.format.DateTimeFormatter
    val tehran = triggerInstant.atZone(ZoneId.of("Asia/Tehran"))
      .withSecond(0).withNano(0).minus(Duration.ofMinutes(1))
    tehran.format(DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm")) + ".parquet"
  }
}
