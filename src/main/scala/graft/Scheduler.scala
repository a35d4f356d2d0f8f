package graft

import java.time.Instant
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.SparkSession

/** The reference's orchestration contract as an in-library scheduler.
  *
  * The reference runs its minutely analysis under Airflow
  * (airflow/dags/pipeline.py:81-103): `schedule='* * * * *'`,
  * `default_args = {retries: 1, retry_delay: 3s, on_success_callback,
  * on_failure_callback}`, `max_active_runs=2`, `catchup=False`,
  * `fail_fast=True`, over a three-task DAG (extract → analyze → report,
  * pipeline.py:110-167). [[Pipeline.minutelyReport]] is the fused task
  * body; this object models the CONTRACT around it — which intervals a
  * restarted scheduler owes, how a task retries, what fail-fast skips,
  * and how many runs may be in flight — so a reference user keeps their
  * operational semantics, not just their query results.
  *
  * Everything is injectable (clock via explicit instants, `sleep` via a
  * function) so SchedulerSpec drives the contract with scripted failures
  * and zero wall-clock waits.
  */
object Scheduler {

  /** `default_args` + DAG kwargs of the reference DAG, as data. */
  final case class Config(
      retries: Int = 1,
      retryDelayMs: Long = 3000L,
      maxActiveRuns: Int = 2,
      catchup: Boolean = false,
      failFast: Boolean = true)

  /** One DAG task: `body` receives the upstream task's return value
    * (None for the root task) — the same value-passing XCom gives the
    * reference's `stream → analyze → report` chain. */
  final case class Step(name: String, body: Option[Any] => Any)

  sealed trait StepStatus
  case object Succeeded extends StepStatus
  case object Failed extends StepStatus
  /** Upstream failed — never attempted. Airflow's default `all_success`
    * trigger rule skips downstream of a failed task regardless of
    * `fail_fast` (fail_fast additionally cancels parallel branches, which
    * a linear chain doesn't have). */
  case object Skipped extends StepStatus

  final case class StepReport(
      name: String, attempts: Int, status: StepStatus, error: Option[String])

  final case class RunReport(
      interval: Instant, steps: Seq[StepReport]) {
    def succeeded: Boolean = steps.forall(_.status == Succeeded)
  }

  /** Execute one DAG run: steps in order, each attempted `1 + retries`
    * times with `retryDelayMs` between attempts (the reference's
    * `retries: 1, retry_delay: 3s`); a step that exhausts its attempts
    * fails the run and SKIPS every downstream step (Airflow's default
    * `all_success` trigger rule — independent of `fail_fast`, which only
    * adds cross-branch cancellation a linear chain doesn't exercise).
    * `onSuccess`/`onFailure` fire per task, like Airflow's task-level
    * callbacks (pipeline.py:44-79 log dag_id/task_id/run_id). */
  def runOnce(
      interval: Instant,
      steps: Seq[Step],
      cfg: Config = Config(),
      sleep: Long => Unit = Thread.sleep,
      onSuccess: StepReport => Unit = _ => (),
      onFailure: StepReport => Unit = _ => ()): RunReport = {
    val reports = Seq.newBuilder[StepReport]
    var upstream: Option[Any] = None
    var failed = false
    steps.foreach { step =>
      if (failed) {
        reports += StepReport(step.name, 0, Skipped, None)
      } else {
        var attempt = 0
        var done = false
        var lastErr: Option[String] = None
        while (!done && attempt <= cfg.retries) {
          if (attempt > 0) sleep(cfg.retryDelayMs)
          attempt += 1
          try { upstream = Some(step.body(upstream)); done = true }
          catch { case e: Exception => lastErr = Some(e.toString) }
        }
        val rep =
          if (done) StepReport(step.name, attempt, Succeeded, None)
          else StepReport(step.name, attempt, Failed, lastErr)
        reports += rep
        if (done) onSuccess(rep) else { failed = true; onFailure(rep) }
      }
    }
    RunReport(interval, reports.result())
  }

  /** Which minute intervals does a (re)started scheduler owe, given the
    * last interval it completed? Airflow's rule: `catchup=False` skips
    * the backlog and schedules only the LATEST completed interval (a
    * scheduler down for an hour runs once, not 60×); `catchup=True`
    * backfills every missed minute. The interval for a tick at minute M
    * is M-1 → M, identified by its start M-1 (`data_interval_start`,
    * pipeline.py:110 — which is why [[Pipeline.minutelyReport]] reads
    * `trigger minus one minute`). Returns interval STARTS, ascending.
    * A completed interval is never owed again: late rows for a reported
    * minute reach its report only through an explicit re-run. */
  def dueIntervals(
      lastCompleted: Option[Instant], now: Instant,
      catchup: Boolean): Seq[Instant] = {
    val latest = now.truncatedTo(ChronoUnit.MINUTES).minus(1, ChronoUnit.MINUTES)
    val from = lastCompleted.map(_.plus(1, ChronoUnit.MINUTES))
    if (from.exists(_.isAfter(latest))) Seq.empty
    else if (!catchup) Seq(latest)
    else {
      val start = from.getOrElse(latest)
      Iterator.iterate(start)(_.plus(1, ChronoUnit.MINUTES))
        .takeWhile(!_.isAfter(latest)).toSeq
    }
  }

  /** Run the owed intervals with at most `cfg.maxActiveRuns` in flight
    * (Airflow's `max_active_runs=2`): a fixed pool of that many workers
    * drains the interval queue in order. Returns reports in interval
    * order. Visible for SchedulerSpec, which asserts the concurrency
    * ceiling with a gated task. */
  def runDue(
      intervals: Seq[Instant],
      steps: Instant => Seq[Step],
      cfg: Config = Config(),
      sleep: Long => Unit = Thread.sleep): Seq[RunReport] = {
    if (intervals.isEmpty) return Seq.empty
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(cfg.maxActiveRuns, intervals.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = intervals.map { iv =>
        new java.util.concurrent.Callable[RunReport] {
          def call(): RunReport = runOnce(iv, steps(iv), cfg, sleep)
        }
      }
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  /** The reference's three-task DAG over this library's legs
    * (pipeline.py:110-167), with its exact value-passing contract:
    *
    *  1. `extract` — land the interval's minute as parquet under
    *     `landingDir` (the MinIO leg) by copying its committed files:
    *     [[sources.Warehouse.minuteFiles]] names them from the warehouse's
    *     exactly-once view and [[sources.Warehouse.landFiles]] copies the
    *     bytes on the driver, `_SUCCESS` last. No row is decoded or
    *     encoded and no Spark job runs; the landed files keep their part
    *     names and, like any partition file, hold no `event_minute`
    *     column. Returns the landed path, or — the reference's no-data
    *     signal — the bare extension-less file name when the minute has no
    *     files (pipeline.py:131-140).
    *  2. `analyze` — [[reference.MinuteReport.reportForPath]]: a parquet
    *     path is read back and reported exactly as [[Pipeline.minutelyReport]]
    *     does; a bare name short-circuits to the `No data` sentinel
    *     report (pipeline.py:147-152). Returns JSON.
    *  3. `report` — commit the JSON to `reportDir` (the dashboard leg)
    *     with [[sources.Warehouse.writeReportJson]]: a driver-side write
    *     through the Hadoop FileSystem API, so this step runs no Spark job.
    */
  def minutelySteps(
      spark: SparkSession,
      warehouseDir: String,
      landingDir: String,
      reportDir: String,
      intervalStart: Instant): Seq[Step] = {
    // Same convention as [[Pipeline.minutelyReport]](intervalStart): the
    // reference's stream task reads and names data_interval_start − 1min
    // (pipeline.py timestamp = data_interval_start − timedelta(minutes=1);
    // test_integration_stream.py pins filename = data_interval_start − 1).
    val fileName = reference.MinuteReport.tehranMinuteFileName(intervalStart)
    Seq(
      Step("extract", { _ =>
        val minute = java.sql.Timestamp.from(
          intervalStart.truncatedTo(ChronoUnit.MINUTES)
            .minus(1, ChronoUnit.MINUTES))
        val files = sources.Warehouse.minuteFiles(spark, warehouseDir, minute)
        if (files.isEmpty) fileName.stripSuffix(".parquet")
        else {
          val path = s"$landingDir/$fileName"
          sources.Warehouse.landFiles(spark, files, path)
          path
        }
      }),
      Step("analyze", { up =>
        reference.MinuteReport.reportForPath(spark, up.get.asInstanceOf[String])
      }),
      Step("report", { up =>
        val json = up.get.asInstanceOf[String]
        sources.Warehouse.writeReportJson(
          spark, json, s"$reportDir/${fileName.stripSuffix(".parquet")}")
        json
      }))
  }
}
