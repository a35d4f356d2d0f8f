package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The rank-guard harness shared by every quantile-SKETCH query
  * (`percentile_approx`, the built-in KLL): sketch estimates depend on
  * merge order, and KLL's on its randomized compaction too — the one
  * thing no second engine can recompute bit-for-bit — but two derived
  * facts ARE deterministic and independently checkable:
  *
  *  1. the EXACT discrete per-type quantiles — the stored value at rank
  *     ⌈q·n⌉ — recomputed by DuckDB from the events table (discrete, not
  *     interpolated: an interpolated midpoint lands on .xx5 halves where
  *     the two engines' rounding disagrees, while a picked value is
  *     bit-identical with zero rounding);
  *  2. a boolean asserting each estimate's REALIZED rank
  *     |rank(est) − q| ≤ 0.02 — double the 1% bound the sketch specs pin
  *     across partitionings, so shuffle-order and compaction jitter
  *     cannot flip it while a broken sketch does (the oracle expects TRUE, so a
  *     violation hash-mismatches).
  *
  * Rank realization is one broadcast of the 3-value-per-type estimate row
  * back against the scan — no second shuffle of the events table.
  */
object QuantileGuard {

  /** Guard an estimates frame `(event_type, e50, e90, e99)` against the
    * exact discrete quantiles of `events.value`. */
  def check(s: SparkSession, d: String, estimates: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d).select($"event_type", $"value").na.drop()
    val ranks = ev.join(broadcast(estimates), "event_type")
      .groupBy($"event_type")
      .agg(
        (sum(when($"value" <= $"e50", 1L).otherwise(0L)) / count(lit(1))).as("r50"),
        (sum(when($"value" <= $"e90", 1L).otherwise(0L)) / count(lit(1))).as("r90"),
        (sum(when($"value" <= $"e99", 1L).otherwise(0L)) / count(lit(1))).as("r99"))
    val byType = Window.partitionBy($"event_type")
    val ranked = ev
      .withColumn("rn", row_number().over(byType.orderBy($"value")))
      .withColumn("n", count(lit(1)).over(byType))
    val exact = ranked.groupBy($"event_type")
      .agg(
        max(when($"rn" === ceil(lit(0.5) * $"n"), $"value")).as("p50_exact"),
        max(when($"rn" === ceil(lit(0.9) * $"n"), $"value")).as("p90_exact"),
        max(when($"rn" === ceil(lit(0.99) * $"n"), $"value")).as("p99_exact"))
    exact.join(ranks, "event_type")
      .select($"event_type", $"p50_exact", $"p90_exact", $"p99_exact",
        (abs($"r50" - 0.5) <= 0.02 && abs($"r90" - 0.9) <= 0.02 &&
          abs($"r99" - 0.99) <= 0.02).cast("int").as("within_rank_bound"))
      .orderBy($"event_type")
  }

  /** Generalized guard at an arbitrary grain: `estimates` carries the
    * grain key columns in `keys` plus (e50, e90, e99); `ev` carries the
    * same keys plus the probed values as column `v`. Differences from
    * [[check]], both forced by small report-grain cells:
    *
    *  - TIE-SAFE rank measurement: the realized rank of an estimate is
    *    the INTERVAL [count(v < est), count(v <= est)] / n and the flag
    *    asserts the interval's distance to q is within bound. A point
    *    rank (count(<=)/n alone) drifts by the tie multiplicity whenever
    *    values tie at the probed quantile — routine in small cells —
    *    even when the sketch returned the exact discrete quantile (the
    *    round-10 QuantileRollupSpec lesson, applied to the oracle side).
    *  - the bound is 0.02 + 1/n, not a flat 0.02: at cell sizes below
    *    the sketch's buffer the estimate IS the exact discrete quantile
    *    (interval distance 0), and the 1/n term keeps the guard
    *    meaningful rather than vacuously strict as n shrinks.
    *
    * One broadcast of the per-cell estimate rows back against the scan,
    * same as [[check]] — no second shuffle of the fact table. */
  def checkAt(s: SparkSession, ev: DataFrame, keys: Seq[String],
      estimates: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val keyCols = keys.map(col)
    val ranks = ev.join(broadcast(estimates), keys)
      .groupBy(keyCols: _*)
      .agg(
        count(lit(1)).as("n"),
        sum(when($"v" < $"e50", 1L).otherwise(0L)).as("lo50"),
        sum(when($"v" <= $"e50", 1L).otherwise(0L)).as("hi50"),
        sum(when($"v" < $"e90", 1L).otherwise(0L)).as("lo90"),
        sum(when($"v" <= $"e90", 1L).otherwise(0L)).as("hi90"),
        sum(when($"v" < $"e99", 1L).otherwise(0L)).as("lo99"),
        sum(when($"v" <= $"e99", 1L).otherwise(0L)).as("hi99"))
    def dist(q: Double, lo: String, hi: String) =
      greatest(col(lo) / $"n" - q, lit(q) - col(hi) / $"n", lit(0.0))
    val flagged = ranks.select(keyCols :+
      (greatest(dist(0.5, "lo50", "hi50"), dist(0.9, "lo90", "hi90"),
        dist(0.99, "lo99", "hi99")) <= lit(0.02) + lit(1.0) / $"n")
        .cast("int").as("within_rank_bound"): _*)
    val byKey = Window.partitionBy(keyCols: _*)
    val ranked = ev
      .withColumn("rn", row_number().over(byKey.orderBy($"v")))
      .withColumn("n", count(lit(1)).over(byKey))
    val exact = ranked.groupBy(keyCols: _*)
      .agg(
        max(when($"rn" === ceil(lit(0.5) * $"n"), $"v")).as("p50_exact"),
        max(when($"rn" === ceil(lit(0.9) * $"n"), $"v")).as("p90_exact"),
        max(when($"rn" === ceil(lit(0.99) * $"n"), $"v")).as("p99_exact"))
    exact.join(flagged, keys)
      .select(keyCols ++ Seq($"p50_exact", $"p90_exact", $"p99_exact",
        $"within_rank_bound"): _*)
      .orderBy(keyCols: _*)
  }

  // CAST(0.x AS DOUBLE): DuckDB parses bare 0.99 as DECIMAL whose exact
  // product can land one ulp away from Spark's IEEE double multiply at
  // the ceil boundary — force both engines through the same double path.
  val oracleSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type,
      |  max(CASE WHEN rn = ceil(CAST(0.5 AS DOUBLE) * n) THEN value END) AS p50_exact,
      |  max(CASE WHEN rn = ceil(CAST(0.9 AS DOUBLE) * n) THEN value END) AS p90_exact,
      |  max(CASE WHEN rn = ceil(CAST(0.99 AS DOUBLE) * n) THEN value END) AS p99_exact,
      |  CAST(1 AS INT) AS within_rank_bound
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin
}
