package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** KLL quantile-sketch queries over Spark's built-in DataSketches KLL
  * (`kll_sketch_agg_double` / `kll_merge_agg_double` /
  * `kll_sketch_get_quantile_double`) — the mergeable-quantile complement
  * to the `percentile_approx` surface (EventOps.tdigestCheck). What KLL
  * adds is not accuracy but LIFECYCLE: the sketch is a plain binary cell
  * that merges associatively with `kll_merge_agg_double`, so per-grain
  * sketches (minute cells) can be stored in a maintained view and
  * re-sliced to any coarser grain later — the quantile analog of the HLL
  * rollup ([[graft.streaming.Ingest.upsertSketchRollup]]); the streaming
  * maintained view is `Ingest.upsertQuantileRollup`, QuantileRollupSpec.
  *
  * All three queries are gated by the shared [[QuantileGuard]] harness
  * (exact discrete quantiles recomputed by DuckDB + a realized-rank ≤ 0.02
  * flag) because the sketch is randomized: its estimates vary between
  * runs within the rank bound — see QuantileGuard's Scaladoc.
  *
  * Scale shape: one hash shuffle on the grouping key; per-group state is
  * the O(k)-bounded sketch (~10 KB) with map-side partial merge, never
  * the group's raw values. The two-level query proves the 100 TB serving
  * pattern: build cells once at the fine grain, answer any coarser-grain
  * quantile question from the cells alone — the raw table is never
  * re-touched.
  */
object Kll {

  /** The `k` of every KLL sketch the engine builds or merges: rollup
    * cells, the minute report, the health report and the queries below.
    * DataSketches' single-rank error at k = 400 is ≈0.7% at 99%
    * confidence, inside the 1% bound KllSketchSpec pins (the library
    * default, 200, gives ≈1.3%). Cells merged at a smaller k would
    * silently coarsen to it, so every merge passes this value too. */
  val K = 400

  /** (e50, e90, e99) read off a KLL sketch column — stored input values,
    * the discrete ⌈q·n⌉ convention the rank guards use. */
  private def estimates(sk: Column): Seq[Column] =
    Seq(0.5 -> "e50", 0.9 -> "e90", 0.99 -> "e99").map { case (q, name) =>
      kll_sketch_get_quantile_double(sk, lit(q)).as(name)
    }

  /** Per-type KLL estimates (event_type, e50, e90, e99) — direct build. */
  private def kllEstimates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_type", $"value").na.drop()
      .groupBy($"event_type")
      .agg(kll_sketch_agg_double($"value", K).as("sk"))
      .select($"event_type" +: estimates($"sk"): _*)
  }

  /** Rank-guarded check of the directly-built per-type KLL sketch. */
  def kllCheck(s: SparkSession, d: String): DataFrame =
    QuantileGuard.check(s, d, kllEstimates(s, d))

  /** The mergeability proof, oracle-gated: build one serialized sketch
    * CELL per (event_type, minute) — the maintained-view grain — then
    * merge cells per type with `kll_merge_agg_double` and probe the
    * MERGED sketch. The guard passing certifies that quantiles served
    * from rolled-up cells are as good as a direct build, i.e. the
    * minute→total re-slice loses nothing beyond the sketch's own rank
    * bound. */
  def kllRollupGrains(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cells = Tables.events(s, d)
      .select($"event_type", date_trunc("minute", $"ts").as("m"), $"value")
      .na.drop()
      .groupBy($"event_type", $"m")
      .agg(kll_sketch_agg_double($"value", K).as("sk"))
    val est = cells
      .groupBy($"event_type")
      .agg(kll_merge_agg_double($"sk", K).as("sk"))
      .select($"event_type" +: estimates($"sk"): _*)
    QuantileGuard.check(s, d, est)
  }

  /** The report-grain readout (round-10 verdict #8): per (day ×
    * event_type) — the repo's flagship pivot grain (EventOps.pivotDayType)
    * — KLL latency-style quantiles of `value`, i.e. the p50/p90/p99 an
    * SRE dashboard wants BESIDE the count cells. Guarded per cell by
    * [[QuantileGuard.checkAt]]: exact discrete quantiles recomputed by
    * DuckDB + a tie-safe rank-interval flag with the 0.02 + 1/n bound
    * (day cells hold only tens-to-hundreds of values, where the sketch
    * serves the exact discrete quantile but a flat point-rank bound would
    * be tie-fragile). The facade twin over generated events is
    * [[graft.reference.MinuteReport.analyze]]. */
  def kllReportGrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        $"value".as("v"))
      .na.drop()
    val est = ev.groupBy($"day", $"event_type")
      .agg(kll_sketch_agg_double($"v", K).as("sk"))
      .select(Seq($"day", $"event_type") ++ estimates($"sk"): _*)
    QuantileGuard.checkAt(s, ev, Seq("day", "event_type"), est)
  }

  val reportGrainOracle: String =
    """WITH r AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, value,
      |         row_number() OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), event_type
      |                            ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), event_type) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT day, event_type,
      |  max(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * n) THEN value END) AS p50_exact,
      |  max(CASE WHEN rn = ceil(CAST(0.9 AS DOUBLE) * n) THEN value END) AS p90_exact,
      |  max(CASE WHEN rn = ceil(CAST(0.99 AS DOUBLE) * n) THEN value END) AS p99_exact,
      |  CAST(1 AS INT) AS within_rank_bound
      |FROM r GROUP BY day, event_type ORDER BY day, event_type""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("agg_kll_check", Some(QuantileGuard.oracleSql), kllCheck),
    Q("agg_kll_rollup_grains", Some(QuantileGuard.oracleSql), kllRollupGrains),
    Q("agg_kll_report_grain", Some(reportGrainOracle), kllReportGrain))
}
