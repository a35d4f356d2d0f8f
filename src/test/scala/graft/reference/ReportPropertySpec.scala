package graft.reference

import org.apache.spark.sql.Row
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSuite

/** Property-based invariants of the minute report (SURVEY.md §5: the
  * reference only spot-checks these; ScalaCheck generators cover the space
  * — sampled with fixed seeds, no scalatestplus bridge in this container). */
class ReportPropertySpec extends SparkSuite {

  import scala.jdk.CollectionConverters._

  private val eventGen: Gen[Row] = for {
    t <- Gen.oneOf(Events.EventTypes)
    err <- Gen.oneOf(true, false)
    lat <- Gen.choose(50, 1500)
    i <- Gen.choose(0, 1 << 20)
  } yield Row(
    s"e$i", s"u$i", s"s$i", t,
    java.sql.Timestamp.valueOf("2024-03-10 12:34:00"), lat,
    if (err) "ERROR" else "SUCCESS",
    if (err) Integer.valueOf(500) else null,
    if (Events.ProductEventTypes.contains(t)) Integer.valueOf(7) else null)

  test("report invariants hold for arbitrary event batches") {
    val batches = (1 to 8).flatMap { i =>
      Gen.choose(0, 80).flatMap(n => Gen.listOfN(n, eventGen))
        .apply(Gen.Parameters.default, Seed(i.toLong))
    }
    assert(batches.size == 8)
    batches.foreach { rows =>
      val df = spark.createDataFrame(rows.asJava, Events.schema)
      val r = MinuteReport.analyze(df, "x.parquet")
      // A1 ≡ Σ pivot cells, A5 ≡ Σ ERROR column (single-pass consistency)
      assert(r.totalEvents == rows.size)
      assert(r.totalErrors == rows.count(_.getString(6) == "ERROR"))
      assert(r.byEventType.values.map { case (s, e) => s + e }.sum == r.totalEvents)
      assert(r.byEventType.values.map(_._2).sum == r.totalErrors)
      // zero-fill: every present type reports both statuses (≥0)
      r.byEventType.values.foreach { case (s, e) => assert(s >= 0 && e >= 0) }
      // types absent from the input are absent from the report
      assert(r.byEventType.keySet == rows.map(_.getString(3)).toSet)
      // the report's cells equal the registered query's pivot rows: the
      // only two count paths over a minute agree
      val pivot = MinuteReport.pivotCounts(df).collect().map { p =>
        p.getString(0) -> ((p.getAs[Long]("SUCCESS"), p.getAs[Long]("ERROR")))
      }.toMap
      assert(r.byEventType == pivot)
    }
  }
}
