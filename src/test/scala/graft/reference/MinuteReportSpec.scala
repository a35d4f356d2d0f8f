package graft.reference

import java.time.Instant

import graft.SparkSuite

/** Golden tests mirroring the reference's own fixtures (FIXTURES.md §2;
  * reference spark/tests/test_spark.py:20-22,76-104,138-169,194-217 and
  * airflow/tests/test_integration_stream.py:122-140). */
class MinuteReportSpec extends SparkSuite {

  import org.apache.spark.sql.Row
  import scala.jdk.CollectionConverters._

  /** Deterministic counts fixture: per event type, 17 SUCCESS + 3 ERROR
    * (error_code=500), latency=50, product_id=1000 where applicable. */
  private def goldenFixture = {
    val rows = for {
      t <- Events.EventTypes
      i <- 1 to 20
    } yield {
      val isErr = i <= 3
      Row(
        s"e-$t-$i", s"u-$t-$i", s"s-$t-$i", t,
        java.sql.Timestamp.valueOf("2024-03-10 12:34:00"),
        50,
        if (isErr) "ERROR" else "SUCCESS",
        if (isErr) Integer.valueOf(500) else null,
        if (Events.ProductEventTypes.contains(t)) Integer.valueOf(1000) else null)
    }
    spark.createDataFrame(rows.asJava, Events.schema)
  }

  test("golden counts: 100 events -> totals 100/15, per-type 17/3") {
    val r = MinuteReport.analyze(goldenFixture, "2024-03-10_16-03.parquet")
    assert(r.totalEvents == 100)
    assert(r.totalErrors == 15)
    assert(r.byEventType.keySet == Events.EventTypes.toSet)
    Events.EventTypes.foreach { t =>
      assert(r.byEventType(t) == ((17L, 3L)), s"type $t")
    }
  }

  test("empty input -> totals 0 and empty by_event_type") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Events.schema)
    val r = MinuteReport.analyze(empty, "x.parquet")
    assert(r.totalEvents == 0)
    assert(r.totalErrors == 0)
    assert(r.byEventType.isEmpty)
  }

  test("no-file sentinel: path without .parquet -> 'No data for {name}.'") {
    val json = MinuteReport.reportForPath(spark, "/tmp/some/2024-03-10_16-03")
    assert(json == """{"report": "No data for 2024-03-10_16-03."}""")
  }

  test("report JSON envelope shape") {
    val r = MinuteReport.analyze(goldenFixture, "f.parquet").copy(processTime = 1.5)
    // every fixture row has latency 50 -> all three quantiles exactly 50
    assert(r.latencyMs.contains((50.0, 50.0, 50.0)))
    val json = MinuteReport.toJson(r)
    assert(json.startsWith("""{"report": {"total_events": 100, "total_errors": 15,"""))
    assert(json.contains(""""CHECKOUT": {"SUCCESS": 17, "ERROR": 3}"""))
    // reference keys keep their order around the additive latency block
    assert(json.contains(""""latency_ms": {"p50": 50.0, "p90": 50.0, "p99": 50.0}, "process_time": 1.5, """))
    assert(json.contains(""""file_name": "f.parquet""""))
  }

  test("Tehran minute file naming (UTC+3:30, previous minute)") {
    // 2024-03-10T12:34:56Z -> Tehran 16:04:56 -> floor -> minus 1 min
    val name = MinuteReport.tehranMinuteFileName(Instant.parse("2024-03-10T12:34:56Z"))
    assert(name == "2024-03-10_16-03.parquet")
    // midnight wrap: 2024-06-30T20:45:10Z -> Tehran 2024-07-01T00:15:10
    val wrap = MinuteReport.tehranMinuteFileName(Instant.parse("2024-06-30T20:45:10Z"))
    assert(wrap == "2024-07-01_00-14.parquet")
  }

  test("analyzeWithLatency: generated-minute quantiles stay within the tie-safe rank bound") {
    import org.apache.spark.sql.functions.col
    val ev = Events.generate(spark, 3000, 1704067200000L, intervalMs = 10)
    val r = MinuteReport.analyze(ev, "g.parquet")
    assert(r.totalEvents == 3000)
    val lats = ev.select(col("request_latency_ms").cast("double"))
      .collect().map(_.getDouble(0))
    val (p50, p90, p99) = r.latencyMs.get
    for ((q, est) <- Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99))
      assert(rankIntervalDist(lats, est, q) <= 0.02 + 1.0 / lats.length,
        s"q=$q est=$est")
  }

  test("analyzeWithLatency: a status outside PivotStatuses feeds neither counts nor latency") {
    import org.apache.spark.sql.functions.lit
    val ev = Events.generate(spark, 3000, 1704067200000L, intervalMs = 10)
    // far above the generator's 1500 ms ceiling, and 10% of the rows: if
    // these cells reached the merged sketch, p99 would land on them
    val outlierMs = 60000
    val timeouts = ev.limit(300)
      .withColumn("status", lit("TIMEOUT"))
      .withColumn("request_latency_ms", lit(outlierMs))
    val base = MinuteReport.analyze(ev, "g.parquet")
    val r = MinuteReport.analyze(ev.unionByName(timeouts), "g.parquet")
    assert(base.totalEvents == 3000)
    assert(r.totalEvents == base.totalEvents)
    assert(r.totalErrors == base.totalErrors)
    assert(r.byEventType == base.byEventType)
    val (_, _, p99) = r.latencyMs.get
    assert(p99 < outlierMs, s"p99=$p99 must not see the TIMEOUT cells")
  }

  test("analyzeWithLatency: empty input omits the latency block") {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), Events.schema)
    val r = MinuteReport.analyze(empty, "x.parquet")
    assert(r.totalEvents == 0 && r.latencyMs.isEmpty)
    assert(!MinuteReport.toJson(r).contains("latency_ms"))
    // the one assembly turns zero totals into the no-data sentinel
    assert(MinuteReport.reportJson(empty, "x.parquet") ==
      """{"report": "No data for x."}""")
  }
}
