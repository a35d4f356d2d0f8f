package graft

import java.io.File
import java.nio.file.Files
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.node.ObjectNode

import graft.reference.Events

/** The orchestration contract (reference airflow/dags/pipeline.py:81-103):
  * retry count and delay, fail-fast skip, success/failure callbacks,
  * catchup=False interval selection, and the max_active_runs ceiling —
  * all driven with scripted failures and an injected sleep (no wall-clock
  * waits). */
class SchedulerSpec extends SparkSuite {
  import Scheduler._

  private def at(s: String): Instant = Instant.parse(s)

  /** A minute document's `report` object without its two run-dependent
    * values: `process_time` is wall time and the KLL sketch is randomized. */
  private def doc(json: String): ObjectNode = {
    val r = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .get("report").asInstanceOf[ObjectNode]
    assert(r.has("latency_ms"), json)
    r.remove(java.util.List.of("process_time", "latency_ms"))
    r
  }

  test("runOnce: a transient failure is retried once after retry_delay and succeeds") {
    val calls = new AtomicInteger(0)
    val slept = Seq.newBuilder[Long]
    val flaky = Step("flaky", { _ =>
      if (calls.incrementAndGet() == 1) sys.error("transient"); "ok"
    })
    val rep = runOnce(at("2024-01-01T00:01:00Z"), Seq(flaky),
      sleep = slept += _)
    assert(rep.succeeded)
    assert(rep.steps == Seq(StepReport("flaky", 2, Succeeded, None)))
    // the reference's retry_delay: 3s, slept exactly once (before retry #1)
    assert(slept.result() == Seq(3000L))
  }

  test("runOnce: exhausted retries fail the run and fail-fast skips downstream tasks") {
    val downstream = new AtomicInteger(0)
    val failures = Seq.newBuilder[String]
    val rep = runOnce(
      at("2024-01-01T00:01:00Z"),
      Seq(Step("extract", _ => sys.error("boom")),
        Step("analyze", { _ => downstream.incrementAndGet(); "never" }),
        Step("report", { _ => downstream.incrementAndGet(); "never" })),
      sleep = _ => (),
      onFailure = r => failures += r.name)
    assert(!rep.succeeded)
    // retries=1 → exactly 2 attempts, then Failed with the error captured
    assert(rep.steps.head.attempts == 2)
    assert(rep.steps.head.status == Failed)
    assert(rep.steps.head.error.exists(_.contains("boom")))
    // Airflow's default all_success trigger rule: downstream tasks are
    // Skipped, never attempted
    assert(rep.steps.tail.map(_.status) == Seq(Skipped, Skipped))
    assert(downstream.get() == 0)
    // the failure callback fired for the failing task only
    assert(failures.result() == Seq("extract"))
  }

  test("runOnce: downstream skip does not depend on fail_fast (all_success trigger rule)") {
    val downstream = new AtomicInteger(0)
    val rep = runOnce(
      at("2024-01-01T00:01:00Z"),
      Seq(Step("extract", _ => sys.error("boom")),
        Step("analyze", { _ => downstream.incrementAndGet(); "never" })),
      cfg = Config(failFast = false),
      sleep = _ => ())
    assert(!rep.succeeded)
    assert(rep.steps.last.status == Skipped)
    assert(downstream.get() == 0,
      "a failed upstream must skip downstream even with fail_fast=False")
  }

  test("runOnce: success callback fires per task, in DAG order") {
    val order = Seq.newBuilder[String]
    val rep = runOnce(
      at("2024-01-01T00:01:00Z"),
      Seq(Step("a", _ => 1), Step("b", up => up.get.asInstanceOf[Int] + 1)),
      onSuccess = r => order += r.name)
    assert(rep.succeeded)
    assert(order.result() == Seq("a", "b"))
  }

  test("runOnce: upstream return value reaches the next task (XCom contract)") {
    val rep = runOnce(
      at("2024-01-01T00:01:00Z"),
      Seq(Step("produce", _ => "path/x.parquet"),
        Step("consume", up => "got:" + up.get)))
    assert(rep.succeeded)
  }

  test("dueIntervals: catchup=False schedules only the latest interval after downtime") {
    // last completed 00:01; scheduler wakes at 01:00:30 → 58 missed minutes
    val due = dueIntervals(
      Some(at("2024-01-01T00:01:00Z")), at("2024-01-01T01:00:30Z"),
      catchup = false)
    // only the latest completed interval (00:59 → 01:00) runs — no backfill
    assert(due == Seq(at("2024-01-01T00:59:00Z")))
  }

  test("dueIntervals: catchup=True backfills every missed minute") {
    val due = dueIntervals(
      Some(at("2024-01-01T00:56:00Z")), at("2024-01-01T01:00:30Z"),
      catchup = true)
    assert(due == Seq(at("2024-01-01T00:57:00Z"), at("2024-01-01T00:58:00Z"),
      at("2024-01-01T00:59:00Z")))
  }

  test("dueIntervals: nothing owed when the latest interval already ran") {
    assert(dueIntervals(Some(at("2024-01-01T00:59:00Z")),
      at("2024-01-01T01:00:30Z"), catchup = false).isEmpty)
    // first start (no history): the latest interval runs once
    assert(dueIntervals(None, at("2024-01-01T01:00:30Z"), catchup = false)
      == Seq(at("2024-01-01T00:59:00Z")))
  }

  test("runDue: at most max_active_runs runs are in flight") {
    val active = new AtomicInteger(0)
    val peak = new AtomicInteger(0)
    val intervals = (0 until 6).map(i => at(f"2024-01-01T00:0$i:00Z"))
    val reports = runDue(
      intervals,
      iv => Seq(Step("work", { _ =>
        val now = active.incrementAndGet()
        peak.updateAndGet(p => math.max(p, now))
        Thread.sleep(50)
        active.decrementAndGet()
        iv.toString
      })),
      cfg = Config(maxActiveRuns = 2))
    assert(reports.size == 6 && reports.forall(_.succeeded))
    assert(reports.map(_.interval) == intervals) // reports in interval order
    assert(peak.get() <= 2, s"peak concurrency ${peak.get()} > max_active_runs 2")
    assert(peak.get() == 2, "pool never reached the allowed concurrency")
  }

  test("minutelySteps: extract→analyze→report over a real warehouse, with the no-data path") {
    val wh = tmpDir("graft-sched-wh")
    val landing = tmpDir("graft-sched-landing")
    val reportsDir = tmpDir("graft-sched-reports")

    // 2 minutes of events from 2024-01-01T00:00:00Z
    sources.Warehouse.writeEvents(
      Events.generate(spark, 12000, 1704067200000L, intervalMs = 10), wh)

    // interval start 00:01 reads the COMPLETED minute 00:00 (6000 rows) and
    // names it tehran(00:01 − 1min) = 03:30+3:30 — the reference's
    // data_interval_start − 1min convention (pipeline.py; pinned by its
    // test_integration_stream.py filename golden)
    val ok = runOnce(at("2024-01-01T00:01:00Z"),
      minutelySteps(spark, wh, landing, reportsDir, at("2024-01-01T00:01:00Z")))
    assert(ok.succeeded, ok)
    assert(ok.steps.map(_.name) == Seq("extract", "analyze", "report"))
    val landed = new java.io.File(landing).listFiles().map(_.getName).toSeq
    assert(landed == Seq("2024-01-01_03-30.parquet"), landed)
    val reportJson = sources.Warehouse.readReportJson(
      spark, s"$reportsDir/2024-01-01_03-30")
    assert(reportJson.contains(""""total_events": 6000"""), reportJson)
    // process_time reflects the actual pivot+collect, not lazy plan
    // construction (it can legitimately be small, but never exactly 0.0)
    assert(!reportJson.contains(""""process_time": 0.0,"""), reportJson)

    // same convention as the fused Pipeline.minutelyReport entry point
    val viaPipeline = Pipeline.minutelyReport(
      spark, wh, tmpDir("graft-sched-pipe"), at("2024-01-01T00:01:00Z"))
    assert(viaPipeline.contains(""""file_name": "2024-01-01_03-30.parquet""""),
      viaPipeline)
    assert(viaPipeline.contains(""""total_events": 6000"""), viaPipeline)

    // an empty minute takes the extension-less no-data path: nothing is
    // landed, the sentinel JSON is still reported
    val empty = runOnce(at("2024-01-01T09:00:00Z"),
      minutelySteps(spark, wh, landing, reportsDir, at("2024-01-01T09:00:00Z")))
    assert(empty.succeeded, empty)
    val sentinel = sources.Warehouse.readReportJson(
      spark, s"$reportsDir/2024-01-01_12-29")
    assert(sentinel == """{"report": "No data for 2024-01-01_12-29."}""", sentinel)
    assert(new java.io.File(landing).listFiles().map(_.getName).toSeq
      == Seq("2024-01-01_03-30.parquet"))
  }

  test("Pipeline.minutelyReport and the Scheduler chain emit the same minute document") {
    val wh = tmpDir("graft-same-wh")
    val reportsDir = tmpDir("graft-same-reports")
    sources.Warehouse.writeEvents(
      Events.generate(spark, 12000, 1704067200000L, intervalMs = 10), wh)
    val iv = at("2024-01-01T00:01:00Z")
    assert(runOnce(iv, minutelySteps(spark, wh, tmpDir("graft-same-landing"),
      reportsDir, iv)).succeeded)
    val viaScheduler = sources.Warehouse.readReportJson(spark, s"$reportsDir/2024-01-01_03-30")
    val viaPipeline = Pipeline.minutelyReport(spark, wh, tmpDir("graft-same-pipe"), iv)
    val (a, b) = (doc(viaPipeline), doc(viaScheduler))
    assert(a.get("total_events").asLong == 6000, viaPipeline)
    assert(a == b, s"pipeline: $viaPipeline\nscheduler: $viaScheduler")
  }

  test("a restarted scheduler with catchup=False reports only the latest owed interval") {
    val wh = tmpDir("graft-restart-wh")
    val landing = tmpDir("graft-restart-landing")
    val reportsDir = tmpDir("graft-restart-reports")
    // 5 minutes of events, 00:00 through 00:04
    sources.Warehouse.writeEvents(
      Events.generate(spark, 30000, 1704067200000L, intervalMs = 10), wh)
    // the last completed interval started at 00:01; the scheduler comes
    // back at 00:06:30, owing the intervals 00:02 through 00:05
    val due = dueIntervals(Some(at("2024-01-01T00:01:00Z")), at("2024-01-01T00:06:30Z"),
      catchup = false)
    val runs = runDue(due, iv => minutelySteps(spark, wh, landing, reportsDir, iv))
    assert(runs.map(_.interval) == Seq(at("2024-01-01T00:05:00Z")))
    assert(runs.forall(_.succeeded), runs)
    // one report, for the latest interval (minute 00:04, Tehran 03:34);
    // nothing for the skipped minutes 00:01 through 00:03
    assert(new java.io.File(reportsDir).list().toSeq == Seq("2024-01-01_03-34"))
    assert(new java.io.File(landing).list().toSeq == Seq("2024-01-01_03-34.parquet"))
    val json = sources.Warehouse.readReportJson(spark, s"$reportsDir/2024-01-01_03-34")
    assert(json.contains(""""total_events": 6000"""), json)
  }

  /** The parquet part files of a directory, name → bytes. */
  private def parts(dir: File): Map[String, Seq[Byte]] =
    dir.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  test("extract lands the minute's committed files byte for byte, never an uncommitted one") {
    val wh = ingestMinute("graft-land")
    val minuteDir = new File(wh).listFiles().filter(_.getName.startsWith("event_minute=")).head
    val committed = parts(minuteDir)
    assert(committed.nonEmpty)
    // a failed batch's leftover: a readable part file staged for the
    // minute but never published
    val planted = "part-99999-00000000-0000-0000-0000-000000000000.c000.snappy.parquet"
    val staged = new File(wh, s"_staging/1/${minuteDir.getName}")
    assert(staged.mkdirs())
    Files.copy(new File(minuteDir, committed.keys.min).toPath, new File(staged, planted).toPath)

    val landing = tmpDir("graft-land-landing")
    val reportsDir = tmpDir("graft-land-reports")
    val iv = at("2024-01-01T00:01:00Z")
    val run = runOnce(iv, minutelySteps(spark, wh, landing, reportsDir, iv))
    assert(run.succeeded, run)
    val landedDir = new File(landing, "2024-01-01_03-30.parquet")
    val landed = parts(landedDir)
    // exactly the committed files: the planted one is not among them
    assert(landed.keySet == committed.keySet, s"landed ${landed.keySet}")
    assert(committed.forall { case (name, bytes) => landed(name) == bytes },
      "a landed file differs from its committed bytes")
    assert(new File(landedDir, "_SUCCESS").isFile)

    val viaScheduler = sources.Warehouse.readReportJson(spark, s"$reportsDir/2024-01-01_03-30")
    val viaPipeline = Pipeline.minutelyReport(spark, wh, tmpDir("graft-land-pipe"), iv)
    assert(doc(viaScheduler).get("total_events").asLong == 6000, viaScheduler)
    assert(doc(viaScheduler) == doc(viaPipeline),
      s"pipeline: $viaPipeline\nscheduler: $viaScheduler")
  }

  test("job count: extract and report run no Spark job, the whole chain at most 2") {
    val wh = ingestMinute("graft-sched-jobs")
    val landing = tmpDir("graft-sched-jobs-landing")
    val reportsDir = tmpDir("graft-sched-jobs-reports")
    /** Spark jobs per step of one chain run. */
    def stepJobs(iv: Instant): Map[String, Int] = {
      val counts = scala.collection.mutable.Map.empty[String, Int]
      val steps = minutelySteps(spark, wh, landing, reportsDir, iv).map { st =>
        st.copy(body = up => {
          val (out, n) = withJobCount(st.body(up))
          counts(st.name) = n
          out
        })
      }
      val run = runOnce(iv, steps)
      assert(run.succeeded, run)
      counts.toMap
    }
    // a landed minute (00:00): the analysis's jobs are all there are
    val landed = stepJobs(at("2024-01-01T00:01:00Z"))
    assert(landed("extract") == 0, landed)
    assert(landed("report") == 0, landed)
    assert(landed("analyze") >= 1 && landed.values.sum <= 2, landed)
    // an empty minute: the no-data signal costs no job anywhere
    val empty = stepJobs(at("2024-01-01T09:00:00Z"))
    assert(empty == Map("extract" -> 0, "analyze" -> 0, "report" -> 0), empty)
  }
}
