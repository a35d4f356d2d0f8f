package graft

import java.time.Instant

import graft.reference.Events

/** The facade: ingest + minutely report as a reference user would call it. */
class PipelineSpec extends SparkSuite {

  test("ingest then minutely report, including the no-data sentinel") {
    val wh = tmpDir("graft-pipe-wh")
    val ckpt = tmpDir("graft-pipe-ckpt")
    val reports = tmpDir("graft-pipe-reports")
    val stage = tmpDir("graft-pipe-stage")

    // 2 minutes of events starting 2024-01-01T00:00:00Z
    Events.generate(spark, 12000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)
    val src = spark.readStream.schema(Events.schema).parquet(stage)
    Pipeline.ingest(src, wh, ckpt).awaitTermination(120000)

    // trigger at 00:02Z analyzes minute 00:01 (previous minute rule)
    val json = Pipeline.minutelyReport(spark, wh, reports,
      Instant.parse("2024-01-01T00:02:30Z"))
    assert(json.contains(""""total_events": 6000"""), json)
    assert(json.contains(""""file_name": "2024-01-01_03-31.parquet""""), json)

    // the SRE readout rides beside the reference counts: p50/p90/p99 of
    // request_latency_ms over the analyzed minute, ordered and inside the
    // generator's latency range [50, 1500]
    val Lat = """"latency_ms": \{"p50": ([0-9.]+), "p90": ([0-9.]+), "p99": ([0-9.]+)\}""".r
    val m = Lat.findFirstMatchIn(json).getOrElse(fail(s"no latency_ms block in $json"))
    val (p50, p90, p99) =
      (m.group(1).toDouble, m.group(2).toDouble, m.group(3).toDouble)
    assert(p50 >= 50 && p99 <= 1500 && p50 <= p90 && p90 <= p99, json)

    // a minute with no data yields the sentinel
    val empty = Pipeline.minutelyReport(spark, wh, reports,
      Instant.parse("2024-01-01T09:00:00Z"))
    assert(empty == """{"report": "No data for 2024-01-01_12-29."}""", empty)
  }

  test("late rows after a minute's report: a re-run with the same trigger overwrites it") {
    val wh = tmpDir("graft-late-wh")
    val ckpt = tmpDir("graft-late-ckpt")
    val reports = tmpDir("graft-late-reports")
    val stage = tmpDir("graft-late-stage")
    def ingest(): Unit = Pipeline.ingest(
      spark.readStream.schema(Events.schema).parquet(stage), wh, ckpt)
      .awaitTermination(120000)
    val trigger = Instant.parse("2024-01-01T00:01:30Z") // reports minute 00:00
    Events.generate(spark, 6000, 1704067200000L, intervalMs = 10)
      .write.mode("append").parquet(stage)
    ingest()
    assert(Pipeline.minutelyReport(spark, wh, reports, trigger)
      .contains(""""total_events": 6000"""))

    // 600 late rows for the same minute arrive after its report was written
    Events.generate(spark, 600, 1704067200000L, intervalMs = 100, seed = 99L)
      .write.mode("append").parquet(stage)
    ingest()
    // the Scheduler never owes a completed interval again
    assert(Scheduler.dueIntervals(Some(Instant.parse("2024-01-01T00:00:00Z")),
      trigger, catchup = true).isEmpty)
    // an explicit re-run replaces the report: one part file, new totals
    val json = Pipeline.minutelyReport(spark, wh, reports, trigger)
    assert(json.contains(""""total_events": 6600"""), json)
    val dir = new java.io.File(s"$reports/2024-01-01_03-30")
    assert(dir.list().count(_.startsWith("part-")) == 1, dir.list().mkString(","))
    assert(sources.Warehouse.readReportJson(spark, dir.toString) == json)
  }

  test("report path job count: at most 2 jobs per minute report, none for report I/O") {
    val wh = ingestMinute("graft-jobs")
    val reports = tmpDir("graft-jobs-reports")
    val trigger = Instant.parse("2024-01-01T00:01:30Z") // reports minute 00:00
    val (json, reportJobs) = withJobCount(Pipeline.minutelyReport(spark, wh, reports, trigger))
    assert(json.contains(""""total_events": 6000"""), json)
    // the analysis is counted (the gate sees jobs) and is all there is
    assert(reportJobs >= 1 && reportJobs <= 2, s"minutelyReport ran $reportJobs jobs")

    val dir = s"$reports/io-only"
    val (back, ioJobs) = withJobCount {
      sources.Warehouse.writeReportJson(spark, json, dir)
      sources.Warehouse.readReportJson(spark, dir)
    }
    assert(back == json)
    assert(ioJobs == 0, s"report write + read ran $ioJobs jobs")
  }

  test("a truncated parquet part fails the re-run and leaves the earlier report intact") {
    val wh = ingestMinute("graft-trunc")
    val reports = tmpDir("graft-trunc-reports")
    val trigger = Instant.parse("2024-01-01T00:01:30Z") // reports minute 00:00
    assert(Pipeline.minutelyReport(spark, wh, reports, trigger)
      .contains(""""total_events": 6000"""))
    val dir = new java.io.File(s"$reports/2024-01-01_03-30")
    def snapshot(): Seq[(String, Seq[Byte])] =
      Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName)
        .map(f => f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq)
    val before = snapshot()

    // cut one of the minute's committed part files in half, in place; its
    // checksum file goes too, so the parquet reader (not the checksum
    // layer) meets the damage
    val minuteDir = new java.io.File(wh).listFiles()
      .filter(_.getName.startsWith("event_minute=")).toSeq
    assert(minuteDir.size == 1, minuteDir)
    val part = minuteDir.head.listFiles().filter(_.getName.endsWith(".parquet"))
      .minBy(_.getName)
    val raf = new java.io.RandomAccessFile(part, "rw")
    try raf.setLength(part.length / 2) finally raf.close()
    new java.io.File(part.getParentFile, s".${part.getName}.crc").delete()

    intercept[Exception](Pipeline.minutelyReport(spark, wh, reports, trigger))
    // the analysis failed before the report was replaced
    assert(snapshot() == before)
  }
}
