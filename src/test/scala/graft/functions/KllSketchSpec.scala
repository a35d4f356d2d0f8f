package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Kll

/** Bounds for Spark's built-in KLL sketch at the engine's k
  * ([[graft.operators.Kll.K]]): rank error vs exact quantiles,
  * mergeability across partitionings and across serialized cells, exact
  * counts, and bounded state. The registered queries (agg_kll_check,
  * agg_kll_rollup_grains, agg_kll_report_grain) carry the 2%
  * realized-rank oracle guard; this spec pins the tighter 1% engineering
  * bound the guard is derived from. */
class KllSketchSpec extends SparkSuite {

  import spark.implicits._

  private val Probes = Seq(0.5, 0.9, 0.99)

  // tie-safe rank measurement: rankIntervalDist from SparkSuite (a
  // binarySearch point rank lands on an ARBITRARY index among tied
  // values, so it can drift by the tie multiplicity even for an exact
  // discrete quantile)

  private def valueFrame: DataFrame =
    graft.Tables.events(spark, Sf).select($"value").na.drop()

  private def values: Array[Double] =
    valueFrame.as[Double].collect().sorted

  private def sketch(v: Column): Column = kll_sketch_agg_double(v, Kll.K)

  /** The probes read off a one-row frame's sketch column `sk`. */
  private def quantiles(df: DataFrame): Seq[Double] =
    df.select(kll_sketch_get_quantile_double($"sk", typedlit(Probes)))
      .head().getSeq[Double](0)

  test("estimates land within 1% rank error of exact quantiles") {
    val sorted = values
    val qs = quantiles(valueFrame.agg(sketch($"value").as("sk")))
    for ((q, est) <- Probes.zip(qs)) {
      val e = rankIntervalDist(sorted, est, q)
      assert(e <= 0.01, s"q=$q rank-dist=$e")
    }
  }

  test("estimates are real stored input values (discrete, never interpolated)") {
    val set = values.toSet
    val qs = quantiles(valueFrame.agg(sketch($"value").as("sk")))
    for (est <- qs) assert(set.contains(est), s"est=$est")
  }

  test("distributed sketches agree across partitionings within the bound") {
    val sorted = values
    val qsByPartitioning = Seq(1, 13).map { p =>
      quantiles(valueFrame.repartition(p).agg(sketch($"value").as("sk")))
    }
    for (qs <- qsByPartitioning; (q, est) <- Probes.zip(qs))
      assert(rankIntervalDist(sorted, est, q) <= 0.01,
        s"q=$q est=$est rank-dist=${rankIntervalDist(sorted, est, q)}")
  }

  test("merge preserves total weight exactly and keeps the rank bound") {
    val sorted = values
    // uneven, disjoint value ranges: a worst-ish case for merge
    val cut = sorted(sorted.length / 3)
    val halves = valueFrame
      .groupBy(($"value" < cut).as("lo"))
      .agg(sketch($"value").as("sk"))
    val m = halves.agg(kll_merge_agg_double($"sk", Kll.K).as("sk"))
    assert(m.select(kll_sketch_get_n_double($"sk")).head().getLong(0) ===
      sorted.length.toLong, "merge must keep the exact count")
    for ((q, est) <- Probes.zip(quantiles(m)))
      assert(rankIntervalDist(sorted, est, q) <= 0.01, s"q=$q")
  }

  test("serialized cells merge to the same answers as live sketches") {
    val sorted = values
    // 7 round-robin cells — the maintained-view shape — collected as
    // bytes and merged on the driver, the minute report's merge path
    val cells = valueFrame
      .withColumn("cell", monotonically_increasing_id() % 7)
      .groupBy($"cell").agg(sketch($"value").as("sk"))
      .as[(Long, Array[Byte])].collect().map(_._2)
    assert(cells.length === 7)
    val merged = KllDoublesSketch.newHeapInstance(Kll.K)
    cells.foreach(c => merged.merge(KllDoublesSketch.heapify(Memory.wrap(c))))
    assert(merged.getN === sorted.length.toLong)
    for (q <- Probes)
      assert(rankIntervalDist(sorted, merged.getQuantile(q), q) <= 0.01, s"q=$q")
  }

  test("state stays bounded by k, independent of input size") {
    def bytesAt(n: Long): Int = {
      val r = spark.range(n).select(randn(7).as("v"))
        .agg(sketch($"v").as("sk"))
        .select(length($"sk"), kll_sketch_get_n_double($"sk")).head()
      assert(r.getLong(1) === n)
      r.getInt(0)
    }
    // ≤ 3k retained doubles (Σ k·(2/3)^d), plus the 8-item floor of
    // each of ≤ 30 levels, plus the preamble
    val bound = 8 * (3 * Kll.K + 8 * 30) + 64
    val at100k = bytesAt(100000)
    assert(at100k <= bound, s"$at100k bytes")
    assert(bytesAt(1000000) <= bound) // 10x the data, same bound
  }

  test("report-grain guard holds at every day×type cell") {
    val rows = graft.operators.Kll.kllReportGrain(spark, Sf).collect()
    assert(rows.nonEmpty)
    // tie-safe rank-interval flag true in every cell, exact quantiles
    // present and ordered (cells are small -> sketch serves the exact
    // discrete quantile, so the guard must hold with zero slack used)
    for (r <- rows) {
      assert(r.getAs[Int]("within_rank_bound") == 1, r.toString)
      val (p50, p90, p99) = (r.getAs[Double]("p50_exact"),
        r.getAs[Double]("p90_exact"), r.getAs[Double]("p99_exact"))
      assert(p50 <= p90 && p90 <= p99, r.toString)
    }
  }
}
