package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Kll
import graft.reference.Events

/** The quantile-bearing maintained view (Ingest.upsertQuantileRollup):
  * incrementally-built built-in KLL cells must serve latency percentiles within
  * the sketch's rank bound at EVERY grain — per-minute (cell as built),
  * per-type (cells merged across minutes), and global (all cells) — and
  * the counts must stay exact, all measured against the raw events the
  * view was built from.
  */
class QuantileRollupSpec extends SparkSuite {
  import spark.implicits._

  private def mkEvents(n: Long, startMs: Long) =
    Events.withEventMinute(
      Events.generate(spark, n, startMs, intervalMs = 1000))

  // tie-safe rank measurement: rankIntervalDist from SparkSuite

  test("incremental cells serve in-bound quantiles at minute, type, and global grain") {
    val dir = tmpDir("rollup-kll") + "/r"
    val t0 = 1704067200000L
    val b1 = mkEvents(300, t0)                    // minutes 0-4
    val b2 = mkEvents(300, t0 + 3 * 60 * 1000L)   // minutes 3-7: overlaps 3-4
    Ingest.upsertQuantileRollup(b1, dir)
    Ingest.upsertQuantileRollup(b2, dir)
    val all = b1.unionByName(b2)
    val view = spark.read.parquet(dir)

    // counts exact at the cell grain
    val gotCnt = view.groupBy($"event_minute", $"event_type")
      .agg(sum($"cnt").as("cnt"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val expCnt = all.filter($"request_latency_ms".isNotNull)
      .groupBy($"event_minute", $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(gotCnt == expCnt)

    // served-vs-exact at a grain defined by `keyCols`; tolerance 2% — the
    // oracle-guard bound — because cells here are tiny (≤ ~60 values), so
    // the coarse-grain merge bound, not the asymptotic 1%, is what applies
    def checkGrain(keyCols: Seq[String]): Unit = {
      val served = view.groupBy(keyCols.map(col): _*)
        .agg(kll_merge_agg_double($"latency_kll", Kll.K).as("sk"))
        .withColumn("qs", kll_sketch_get_quantile_double($"sk", typedlit(Seq(0.5, 0.9))))
        .collect()
        .map { r =>
          val key = keyCols.map(r.getAs[Any]).mkString("|")
          key -> r.getSeq[Double](r.fieldIndex("qs"))
        }.toMap
      val raw = all.filter($"request_latency_ms".isNotNull)
        .select(keyCols.map(col) :+ $"request_latency_ms".cast("double").as("v"): _*)
        .collect()
        .groupBy(r => keyCols.map(r.getAs[Any]).mkString("|"))
        .view.mapValues(_.map(_.getAs[Double]("v"))).toMap
      assert(served.keySet == raw.keySet)
      for ((key, qs) <- served; (q, est) <- Seq(0.5, 0.9).zip(qs)) {
        val xs = raw(key)
        assert(rankIntervalDist(xs, est, q) <= 0.02 + 1.0 / xs.length,
          s"grain=${keyCols.mkString(",")} key=$key q=$q est=$est")
      }
    }
    checkGrain(Seq("event_minute", "event_type")) // cell as built
    checkGrain(Seq("event_type"))                 // re-slice across minutes
    checkGrain(Seq.empty)                         // global: one merged sketch
  }

  test("overlapping-minute upsert merges cell sketches instead of replacing them") {
    val dir = tmpDir("rollup-kll2") + "/r"
    val t0 = 1704067200000L
    val b1 = mkEvents(120, t0) // minutes 0-1
    val b2 = mkEvents(120, t0) // SAME minutes: second batch must merge in
    Ingest.upsertQuantileRollup(b1, dir)
    Ingest.upsertQuantileRollup(b2, dir)
    val view = spark.read.parquet(dir)
    // the count n inside each cell sketch equals the cell's cnt — proof
    // the second batch merged (n is exact) rather than overwrote
    val cells = view.select(kll_sketch_get_n_double($"latency_kll"), $"cnt")
      .as[(Long, Long)].collect()
    assert(cells.nonEmpty)
    for ((n, cnt) <- cells)
      assert(n === cnt, "cell sketch n must equal the merged count")
    val totalCnt = view.agg(sum($"cnt")).head().getLong(0)
    val exact = b1.unionByName(b2).filter($"request_latency_ms".isNotNull).count()
    assert(totalCnt === exact)
  }
}
