package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Declarative data-quality audit — the constraint-verification pass
  * (completeness / uniqueness / enum compliance / range checks) a
  * production pipeline runs on every ingested partition before letting it
  * into the warehouse. Same contract as the published Deequ/
  * great-expectations model: a constraint suite evaluates to one metric
  * row per constraint plus a pass/fail verdict.
  *
  * Scale shape: the whole suite is ONE aggregation pass over the table —
  * every metric is algebraic (count / conditional count / min / max /
  * approx-or-exact distinct), so it map-side combines and the driver
  * receives a single row which is then unpivoted to the per-constraint
  * report. Nothing here is per-constraint scans: adding a constraint adds
  * a column to the same agg, not a pass over 100 TB.
  */
object Audit {

  /** Constraint suite over `orders`: completeness, key uniqueness, value
    * compliance, enum containment, and a min-range check. Output is one
    * row per constraint: (constraint, metric 4-dp, passed). */
  def auditOrders(s: SparkSession, d: String): DataFrame =
    auditOf(Tables.orders(s, d))

  /** The suite against any orders-shaped relation (spec entry point for
    * violation fixtures). */
  def auditOf(orders: DataFrame): DataFrame = {
    val s = orders.sparkSession
    import s.implicits._
    val m = orders.agg(
      count(lit(1)).as("n"),
      count($"o_custkey").as("nonnull_cust"),
      countDistinct($"o_orderkey").as("dist_key"),
      sum(when($"o_totalprice" > 0, 1L).otherwise(0L)).as("pos_price"),
      sum(when($"o_orderstatus".isin("O", "F", "P"), 1L).otherwise(0L)).as("valid_status"),
      min($"o_totalprice").as("min_price"))
    // One driver row in, |constraints| rows out: stack() is the unpivot.
    // ("constraint" is a reserved word in ANSI/DuckDB — hence check_name.)
    m.select(expr(
      """stack(5,
        |  'completeness_o_custkey',      round(nonnull_cust / n, 4),  nonnull_cust = n,
        |  'uniqueness_o_orderkey',       round(dist_key / n, 4),      dist_key = n,
        |  'compliance_positive_price',   round(pos_price / n, 4),     pos_price = n,
        |  'compliance_status_enum',      round(valid_status / n, 4),  valid_status = n,
        |  'min_o_totalprice',            round(min_price, 4),         min_price > 0.0
        |) AS (check_name, metric, passed)""".stripMargin))
      .select($"check_name", $"metric".cast("double").as("metric"), $"passed")
      .orderBy($"check_name")
  }

  val auditOrdersOracle: String =
    """WITH m AS (
      |  SELECT count(*) AS n,
      |         count(o_custkey) AS nonnull_cust,
      |         count(DISTINCT o_orderkey) AS dist_key,
      |         sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS pos_price,
      |         sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS valid_status,
      |         min(o_totalprice) AS min_price
      |  FROM orders)
      |SELECT * FROM (
      |  SELECT 'completeness_o_custkey' AS check_name,
      |         CAST(round(nonnull_cust * 1.0 / n, 4) AS DOUBLE) AS metric,
      |         nonnull_cust = n AS passed FROM m
      |  UNION ALL SELECT 'uniqueness_o_orderkey',
      |         CAST(round(dist_key * 1.0 / n, 4) AS DOUBLE), dist_key = n FROM m
      |  UNION ALL SELECT 'compliance_positive_price',
      |         CAST(round(pos_price * 1.0 / n, 4) AS DOUBLE), pos_price = n FROM m
      |  UNION ALL SELECT 'compliance_status_enum',
      |         CAST(round(valid_status * 1.0 / n, 4) AS DOUBLE), valid_status = n FROM m
      |  UNION ALL SELECT 'min_o_totalprice',
      |         CAST(round(min_price, 4) AS DOUBLE), min_price > 0.0 FROM m)
      |ORDER BY check_name""".stripMargin

  /** Robust per-group outlier detection: median/MAD z-scores (the
    * outlier rule that survives the outliers themselves, unlike
    * mean/stddev) over event values per type. A value is an outlier when
    * |v − median| > 3 · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality — the standard robust-z construction).
    *
    * Cross-engine exactness: both medians are `percentile_disc` — an
    * ACTUAL order statistic, bit-identical in Spark and DuckDB (verified;
    * interpolated `percentile_cont` differs in arithmetic association
    * between engines), so the threshold comparison and the outlier
    * COUNTS are exact, no rounding idiom needed.
    *
    * Scale shape: three passes over the (filtered) table — median,
    * MAD-median of deviations, threshold count — each a groupBy on the
    * same key with the bounded per-group stats broadcast back. Robust
    * stats are not algebraic; two extra scans is the honest price, and
    * each pass is a plain shuffle-free-join + aggregation. */
  def robustOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d).select($"event_type", $"value")
    val med = ev.groupBy($"event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("dev", abs($"value" - $"med"))
    val mad = dev.groupBy($"event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type")
      .agg(
        first($"med").as("med"),
        first($"mad").as("mad"),
        // 4.4478 = 3 · 1.4826, written as ONE literal so both engines
        // parse the identical double (3.0*1.4826 rounds differently)
        sum(when($"dev" > lit(4.4478) * $"mad", 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_total"))
      .orderBy($"event_type")
  }

  val robustOutliersOracle: String =
    """WITH med AS (
      |  SELECT event_type, quantile_disc(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, quantile_disc(dev, 0.5) AS mad
      |  FROM dev GROUP BY 1)
      |SELECT d.event_type,
      |       min(d.med) AS med,
      |       min(a.mad) AS mad,
      |       CAST(sum(CASE WHEN d.dev > 4.4478 * a.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(count(*) AS BIGINT) AS n_total
      |FROM dev d JOIN mad a USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin

  // -------------------------------------------------------------------
  // ANALYZE-style per-column statistics
  // -------------------------------------------------------------------

  /** Column kinds for the stats pass: numeric (min/max as double),
    * timestamp (min/max as fractional epoch seconds — micros/1e6, exact
    * in double), string (min/max as strings). */
  private val StatCols: Seq[(String, String)] = Seq(
    "event_id" -> "num", "ts" -> "ts", "user_id" -> "num",
    "event_type" -> "str", "value" -> "num", "props" -> "str")

  /** Per-column table statistics over `events` — the ANALYZE TABLE
    * primitive every optimizer and data-quality gate feeds on: row count,
    * null count, exact NDV, and typed min/max per column.
    *
    * Scale shape (round-11 verdict "Next round" #3): one independent leg
    * per column — groupBy(column) value census, then a 1-row summary
    * over the ≤NDV census rows — all legs one union job. The previous
    * shape (9 exact `countDistinct`s in ONE aggregate) made Catalyst
    * plan the distincts via Expand, replicating EVERY input row ~10×
    * before the shuffle; at 100 TB that ×10 replication on a profiling
    * pass is real money. The census shape never replicates: each leg
    * prunes its scan to one column (columnar parquet ⇒ the six pruned
    * scans together read the same bytes as the old single wide scan),
    * combines map-side on the column's values, and every moment the
    * summary needs — n_rows = Σcnt, n_nulls = Σcnt over the null group,
    * ndv = count of non-null groups, min/max over group keys — falls out
    * of the census without touching raw rows again. The FD legs
    * ([[fdDiscovery]]) established the pattern ("no countDistinct
    * Expand"); DriftSpec asserts no Expand node survives in this plan.
    * At 100 TB the exact NDVs swap for `approx_count_distinct` (the
    * engine's HLL family) in a single pass; exact NDV is kept here
    * because it is what makes the query oracle-checkable.
    *
    * Representation choices for the cross-engine hash: numeric/timestamp
    * extremes travel as DOUBLE (timestamps as micros/1e6 — exact, both
    * engines compute the same division; Double→STRING formatting differs
    * between engines, so nothing numeric is ever stringified), string
    * extremes in their own columns. */
  def columnStats(s: SparkSession, d: String): DataFrame =
    columnStatsOf(Tables.events(s, d))

  /** The stats pass against any events-shaped relation (spec entry point
    * for planted-null fixtures). */
  def columnStatsOf(ev: DataFrame): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val legs = StatCols.map { case (c, kind) =>
      val census = ev.groupBy(col(c).as("k")).agg(count(lit(1)).as("cnt"))
      val (vmin, vmax, smin, smax) = kind match {
        case "str" =>
          (lit(null).cast("double"), lit(null).cast("double"),
            min($"k"), max($"k"))
        case _ => // num + ts: extremes as DOUBLE (ts ⇒ epoch seconds)
          (min($"k").cast("double"), max($"k").cast("double"),
            lit(null).cast("string"), lit(null).cast("string"))
      }
      census.agg(
        coalesce(sum($"cnt"), lit(0L)).as("n_rows"),
        coalesce(sum(when($"k".isNull, $"cnt")), lit(0L)).as("n_nulls"),
        count(when($"k".isNotNull, lit(1))).as("ndv"),
        vmin.as("vmin"), vmax.as("vmax"), smin.as("smin"), smax.as("smax"))
        .select(lit(c).as("col_name"), $"n_rows", $"n_nulls", $"ndv",
          $"vmin", $"vmax", $"smin", $"smax")
    }
    legs.reduce(_.unionByName(_)).orderBy($"col_name")
  }

  /** The 100 TB profiling twin of [[columnStatsOf]]: the SAME report
    * shape with exact NDVs swapped for `approx_count_distinct` (HLL++,
    * default rsd 1.5%), which — unlike exact multi-column DISTINCT —
    * is an ordinary algebraic sketch aggregate, so the WHOLE six-column
    * profile is ONE aggregation pass over one scan: no Expand, no
    * per-column census legs, bounded sketch state per column. This is
    * the pass a 100 TB profile actually runs; the exact census variant
    * stays the oracle-checkable gate. Deliberately NOT a registered
    * query (HLL++ estimates are engine-specific, so there is no DuckDB
    * oracle); DriftSpec pins every non-NDV column bit-equal to the
    * exact pass, the NDV estimates within the published error bound,
    * and the Expand-free single-aggregate plan. */
  def columnStatsApproxOf(ev: DataFrame, rsd: Double = 0.015): DataFrame = {
    val s = ev.sparkSession
    import s.implicits._
    val aggs = Seq(count(lit(1)).as("n_rows")) ++ StatCols.flatMap {
      case (c, kind) =>
        Seq(count(col(c)).as(s"cnt_$c"),
          approx_count_distinct(col(c), rsd).as(s"ndv_$c")) ++ (kind match {
          case "str" =>
            Seq(min(col(c)).as(s"smn_$c"), max(col(c)).as(s"smx_$c"))
          case _ =>
            Seq(min(col(c)).cast("double").as(s"mn_$c"),
              max(col(c)).cast("double").as(s"mx_$c"))
        })
    }
    val r = ev.agg(aggs.head, aggs.tail: _*).head()
    def d0(name: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(name))) None
      else Some(r.getDouble(r.fieldIndex(name)))
    def s0(name: String): Option[String] =
      Option(r.getString(r.fieldIndex(name)))
    val nRows = r.getLong(0)
    val rows = StatCols.map { case (c, kind) =>
      val (vmin, vmax, smin, smax) = kind match {
        case "str" => (None, None, s0(s"smn_$c"), s0(s"smx_$c"))
        case _     => (d0(s"mn_$c"), d0(s"mx_$c"), None, None)
      }
      (c, nRows, nRows - r.getLong(r.fieldIndex(s"cnt_$c")),
        r.getLong(r.fieldIndex(s"ndv_$c")),
        vmin, vmax, smin, smax)
    }
    rows.toDF("col_name", "n_rows", "n_nulls", "ndv",
        "vmin", "vmax", "smin", "smax")
      .orderBy($"col_name")
  }

  val columnStatsOracle: String = {
    val per = StatCols.map { case (c, kind) =>
      val (vmin, vmax, smin, smax) = kind match {
        case "num" =>
          (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "ts" =>
          (s"epoch(min($c))", s"epoch(max($c))",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case "str" =>
          ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)",
            s"min($c)", s"max($c)")
      }
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
         |       CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
         |       $vmin AS vmin, $vmax AS vmax, $smin AS smin, $smax AS smax
         |FROM events""".stripMargin
    }
    per.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Snapshot reconciliation (CDC-style diff audit): given two versions
    * of a keyed table, classify every key as added / removed / changed /
    * unchanged and report per-class counts + key ranges — the audit a
    * pipeline runs after a backfill, a re-ingest, or an upstream vendor
    * drop to answer "what actually moved". The whole-ROW generalization
    * of [[graft.operators.EntityRes.snapshotDiff]] (`dim_snapshot_diff`,
    * which diffs ONE dimension attribute over an identical key set):
    * here the key sets themselves differ — all four classes fire — and
    * arbitrarily many columns are compared at once through a single
    * digest. Rows are compared by a
    * FINGERPRINT (md5 over a '|'-joined rendering of the audited
    * columns) so the join carries two slim (key, fp) relations, never
    * the full row payloads — at 100 TB the diff reads the audited
    * columns only and ships 16-byte digests through the shuffle.
    * Doubles are deliberately excluded from the fingerprint (engine
    * string-rendering seam — the columnStats lesson); auditing a float
    * column means quantizing it first.
    *
    * The second snapshot is a deterministic mutation of `orders` both
    * engines construct identically (drop keys ≡0 mod 97, rewrite
    * priority on keys ≡0 mod 101, clone keys ≡0 mod 103 shifted past
    * the key domain), standing in for "yesterday's load vs today's".
    *
    * Scale shape: ONE full-outer shuffle join on the key (bucketed
    * snapshots make it co-partitioned and shuffle-free), a projected
    * class expression, and a 4-row map-side-combinable count — no
    * windows, no driver state. */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fp = md5(concat_ws("|", $"o_orderstatus", $"o_orderpriority",
      $"o_custkey".cast("string"),
      date_format($"o_orderdate", "yyyy-MM-dd")))
    val o = Tables.orders(s, d)
    val v1 = o.select($"o_orderkey", fp)
    val v2 = o.filter($"o_orderkey" % 97 =!= 0)
      .withColumn("o_orderpriority",
        when($"o_orderkey" % 101 === 0, lit("9-SYNTH"))
          .otherwise($"o_orderpriority"))
      .unionByName(o.filter($"o_orderkey" % 103 === 0)
        .withColumn("o_orderkey", $"o_orderkey" + lit(100000000L)))
      .select($"o_orderkey", fp)
    snapshotDiffOf(v1, v2)
  }

  /** The generic entry: diff any two (key, fingerprint) snapshot
    * relations (column names are positional — key first, digest
    * second). SnapshotDiffProbe drives this at 10M rows. */
  def snapshotDiffOf(v1: DataFrame, v2: DataFrame): DataFrame = {
    val s = v1.sparkSession
    import s.implicits._
    v1.toDF("key", "fp1").join(v2.toDF("key", "fp2"), Seq("key"), "full_outer")
      .select($"key",
        when($"fp1".isNull, "added")
          .when($"fp2".isNull, "removed")
          .when($"fp1" =!= $"fp2", "changed")
          .otherwise("unchanged").as("change_type"))
      .groupBy($"change_type")
      .agg(count(lit(1)).as("n"),
        min($"key").as("min_key"), max($"key").as("max_key"))
      .orderBy($"change_type")
  }

  val snapshotDiffOracle: String =
    """WITH v1 AS (
      |  SELECT o_orderkey,
      |         md5(concat_ws('|', o_orderstatus, o_orderpriority,
      |             CAST(o_custkey AS VARCHAR),
      |             strftime(o_orderdate, '%Y-%m-%d'))) AS fp1
      |  FROM orders),
      |v2 AS (
      |  SELECT o_orderkey,
      |         md5(concat_ws('|', o_orderstatus,
      |             CASE WHEN o_orderkey % 101 = 0 THEN '9-SYNTH'
      |                  ELSE o_orderpriority END,
      |             CAST(o_custkey AS VARCHAR),
      |             strftime(o_orderdate, '%Y-%m-%d'))) AS fp2
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 100000000,
      |         md5(concat_ws('|', o_orderstatus, o_orderpriority,
      |             CAST(o_custkey AS VARCHAR),
      |             strftime(o_orderdate, '%Y-%m-%d')))
      |  FROM orders WHERE o_orderkey % 103 = 0),
      |j AS (
      |  SELECT coalesce(v1.o_orderkey, v2.o_orderkey) AS k, fp1, fp2
      |  FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey)
      |SELECT CASE WHEN fp1 IS NULL THEN 'added'
      |            WHEN fp2 IS NULL THEN 'removed'
      |            WHEN fp1 <> fp2 THEN 'changed'
      |            ELSE 'unchanged' END AS change_type,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(min(k) AS BIGINT) AS min_key,
      |       CAST(max(k) AS BIGINT) AS max_key
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Ingest-continuity audit: over a fixed hourly grid (the January
    * stream window), report every hour that is MISSING (zero events) or
    * SHORT (under half the window's mean hourly volume — the threshold
    * is the integer inequality 1440·n < total, exact on both engines
    * with no float seam; mean, not median, deliberately: it needs no
    * order statistic over the grid and a coverage audit wants "below
    * half of expected throughput", not "below half of typical"). This
    * is the gap detector a continuously-ingesting warehouse pages on —
    * an upstream outage shows up as a run of missing/short hours long
    * before any distribution statistic moves.
    *
    * Scale shape: one map-side-combinable hour census over the scan
    * (720 output cells for the month — the grid is O(audit window),
    * independent of data volume), then a bounded driver pass to
    * zero-fill against the expected grid (the miOf idiom; a
    * generate_series + outer-join formulation would put a 720-row
    * broadcast join in the plan for the same result). At a year the
    * grid is 8 760 rows — still driver-trivial. */
  def hourCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val census = Tables.events(s, d)
      .filter($"ts" >= "2024-01-01" && $"ts" < "2024-01-31")
      .groupBy(date_trunc("hour", $"ts").as("h"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    hourCoverageOf(s, census, 1704067200000L /* 2024-01-01T00:00Z */, 30 * 24)
  }

  /** Grid assembly shared by the batch query and the maintained-view
    * serve path ([[graft.streaming.Ingest.servedHourCoverage]]): an
    * (epoch-ms → count) hour census against an `hours`-slot grid from
    * `startMs`. Driver-side by design — the grid is O(audit window). */
  private[graft] def hourCoverageOf(s: SparkSession, census: Map[Long, Long],
      startMs: Long, hours: Int): DataFrame = {
    import s.implicits._
    val total = census.values.sum
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:00:00")
      .withZone(java.time.ZoneOffset.UTC)
    val rows = (0 until hours).flatMap { i =>
      val ms = startMs + i * 3600000L
      val n = census.getOrElse(ms, 0L)
      if (n == 0L)
        Some((fmt.format(java.time.Instant.ofEpochMilli(ms)), 0L, "missing"))
      else if (2L * hours * n < total) // n < half the grid mean, exact ints
        Some((fmt.format(java.time.Instant.ofEpochMilli(ms)), n, "short"))
      else None
    }
    rows.toDF("hour", "n", "status").orderBy($"hour")
  }

  val hourCoverageOracle: String =
    """WITH grid AS (
      |  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
      |                                TIMESTAMP '2024-01-30 23:00:00',
      |                                INTERVAL 1 HOUR)) AS h),
      |obs AS (
      |  SELECT date_trunc('hour', ts) AS h, count(*) AS n
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-31'
      |  GROUP BY 1),
      |tot AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS total FROM obs),
      |g AS (
      |  SELECT grid.h, CAST(coalesce(obs.n, 0) AS BIGINT) AS n
      |  FROM grid LEFT JOIN obs ON grid.h = obs.h)
      |SELECT strftime(g.h, '%Y-%m-%d %H:00:00') AS hour, n,
      |       CASE WHEN n = 0 THEN 'missing' ELSE 'short' END AS status
      |FROM g CROSS JOIN tot
      |WHERE n = 0 OR 1440 * n < total
      |ORDER BY hour""".stripMargin

  /** Referential-integrity census: orphan counts across the star
    * schema's FK edges — the pre-join data-quality gate (an orphan FK is
    * a row a later inner join silently DROPS; at 100 TB a 0.1% orphan
    * rate is a million vanished rows nobody sees fail). One row per
    * edge: child rows, orphans (child keys with no parent), verdict.
    *
    * Scale shape, per edge: one left join keyed on the FK — the same
    * shuffle the production join would do anyway, so the audit costs one
    * pass of the joins it certifies; orphan detection is a null-check
    * aggregate on the join output, map-side combinable. The parent side
    * deduplicates to its key column first (projection-pruned scan; also
    * makes the census robust to a corrupted parent with duplicate keys).
    * No countDistinct, no windows. */
  def referentialIntegrity(s: SparkSession, d: String): DataFrame = {
    def edge(name: String, child: DataFrame, fk: String,
        parent: DataFrame, pk: String): DataFrame =
      referentialIntegrityEdge(s, name, child, fk, parent, pk)
    val edges = Seq(
      edge("customer.c_nationkey -> nation", Tables.customer(s, d),
        "c_nationkey", Tables.nation(s, d), "n_nationkey"),
      edge("events.user_id -> customer", Tables.events(s, d),
        "user_id", Tables.customer(s, d), "c_custkey"),
      edge("lineitem.l_orderkey -> orders", Tables.lineitem(s, d),
        "l_orderkey", Tables.orders(s, d), "o_orderkey"),
      edge("lineitem.l_partkey -> part", Tables.lineitem(s, d),
        "l_partkey", Tables.part(s, d), "p_partkey"),
      edge("lineitem.l_suppkey -> supplier", Tables.lineitem(s, d),
        "l_suppkey", Tables.supplier(s, d), "s_suppkey"),
      edge("orders.o_custkey -> customer", Tables.orders(s, d),
        "o_custkey", Tables.customer(s, d), "c_custkey"),
      edge("supplier.s_nationkey -> nation", Tables.supplier(s, d),
        "s_nationkey", Tables.nation(s, d), "n_nationkey"))
    edges.reduce(_.unionByName(_)).orderBy(col("edge"))
  }

  /** One FK edge of [[referentialIntegrity]] — exposed so specs can run
    * a single edge against a planted-orphan corpus. */
  private[operators] def referentialIntegrityEdge(s: SparkSession,
      name: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame = {
    val p = parent.select(col(pk).as("__k")).distinct()
      .withColumn("__hit", lit(1))
    child.select(col(fk).as("__k"))
      .join(p, Seq("__k"), "left")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("edge"), col("n_rows"), col("n_orphans"),
        (col("n_orphans") === 0L).as("ok"))
  }

  val referentialIntegrityOracle: String = {
    def e(name: String, child: String, fk: String,
        parent: String, pk: String): String =
      s"""SELECT '$name' AS edge, CAST(count(*) AS BIGINT) AS n_rows,
         |       CAST(sum(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_orphans,
         |       sum(CASE WHEN p.__k IS NULL THEN 1 ELSE 0 END) = 0 AS ok
         |FROM $child c
         |LEFT JOIN (SELECT DISTINCT $pk AS __k FROM $parent) p
         |  ON c.$fk = p.__k""".stripMargin
    Seq(
      e("customer.c_nationkey -> nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      e("events.user_id -> customer", "events", "user_id", "customer", "c_custkey"),
      e("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      e("lineitem.l_partkey -> part", "lineitem", "l_partkey", "part", "p_partkey"),
      e("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      e("orders.o_custkey -> customer", "orders", "o_custkey", "customer", "c_custkey"),
      e("supplier.s_nationkey -> nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY edge")
  }

  /** Primary-key uniqueness census — the constraint-side complement of
    * [[referentialIntegrity]] (that one asks "does every child point at a
    * parent"; this one asks "is each parent pointed AT unique"): for
    * every table's declared key, total rows vs distinct keys, how many
    * rows sit inside duplicated-key groups, and the worst multiplicity.
    * A duplicated PK silently FANS OUT every downstream join (n·m rows
    * where the pipeline assumed n) — at 100 TB the cheapest place to
    * catch that is this census, before any join runs.
    *
    * Scale shape, per table: groupBy(key) count — one keyed map-side-
    * combinable shuffle — then a scalar summary over the already-
    * aggregated groups; the two-level shape, never a countDistinct
    * Expand. Composite keys (lineitem) drop into the same plan as a
    * multi-column groupBy. */
  def primaryKeys(s: SparkSession, d: String): DataFrame = {
    def census(name: String, t: DataFrame, keyCols: Seq[String]): DataFrame =
      primaryKeyCensus(name, t, keyCols)
    Seq(
      census("customer(c_custkey)", Tables.customer(s, d), Seq("c_custkey")),
      census("documents(doc_id)", Tables.documents(s, d), Seq("doc_id")),
      census("embeddings(vec_id)", Tables.embeddings(s, d), Seq("vec_id")),
      census("events(event_id)", Tables.events(s, d), Seq("event_id")),
      census("lineitem(l_orderkey,l_linenumber)", Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber")),
      census("nation(n_nationkey)", Tables.nation(s, d), Seq("n_nationkey")),
      census("orders(o_orderkey)", Tables.orders(s, d), Seq("o_orderkey")),
      census("part(p_partkey)", Tables.part(s, d), Seq("p_partkey")),
      census("region(r_regionkey)", Tables.region(s, d), Seq("r_regionkey")),
      census("supplier(s_suppkey)", Tables.supplier(s, d), Seq("s_suppkey")))
      .reduce(_.unionByName(_)).orderBy(col("tbl"))
  }

  /** One table's key census — exposed so specs can run it against a
    * planted duplicate-key fixture. */
  private[operators] def primaryKeyCensus(name: String, t: DataFrame,
      keyCols: Seq[String]): DataFrame =
    t.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("n_dup_rows"),
        max(col("c")).as("max_multiplicity"))
      .select(lit(name).as("tbl"), col("n_rows"), col("n_keys"),
        col("n_dup_rows"), col("max_multiplicity"),
        (col("n_dup_rows") === 0L).as("ok"))

  val primaryKeysOracle: String = {
    def c(name: String, tbl: String, key: String): String =
      s"""SELECT '$name' AS tbl, CAST(sum(c) AS BIGINT) AS n_rows,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(COALESCE(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
         |         AS n_dup_rows,
         |       CAST(max(c) AS BIGINT) AS max_multiplicity,
         |       COALESCE(sum(CASE WHEN c > 1 THEN c END), 0) = 0 AS ok
         |FROM (SELECT count(*) AS c FROM $tbl GROUP BY $key)""".stripMargin
    Seq(
      c("customer(c_custkey)", "customer", "c_custkey"),
      c("documents(doc_id)", "documents", "doc_id"),
      c("embeddings(vec_id)", "embeddings", "vec_id"),
      c("events(event_id)", "events", "event_id"),
      c("lineitem(l_orderkey,l_linenumber)", "lineitem", "l_orderkey, l_linenumber"),
      c("nation(n_nationkey)", "nation", "n_nationkey"),
      c("orders(o_orderkey)", "orders", "o_orderkey"),
      c("part(p_partkey)", "part", "p_partkey"),
      c("region(r_regionkey)", "region", "r_regionkey"),
      c("supplier(s_suppkey)", "supplier", "s_suppkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY tbl")
  }

  /** k-anonymity audit over a quasi-identifier combination — the
    * pre-release privacy gate (Sweeney 2002): any (lang, source) class
    * with fewer than k members re-identifies its documents' provenance
    * too precisely to export. One map-side-combinable aggregation; the
    * class table is |lang|×|source|-bounded. The companion to
    * [[graft.operators.TextOps]]'s PII scrub: scrub removes identifiers
    * from VALUES, k-anonymity certifies the remaining ATTRIBUTE
    * combinations are crowd-sized. */
  def kAnonymity(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"))
      .select($"lang", $"source", $"n", ($"n" >= k).as("meets_k"))
      .orderBy($"lang", $"source")
  }

  val kAnonymityOracle: String =
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |       count(*) >= 10 AS meets_k
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Distinct l-diversity over the same (lang, source) quasi-identifier
    * classes as [[kAnonymity]]: k-anonymity alone still leaks when every
    * record in a class shares the sensitive value (the homogeneity
    * attack — Machanavajjhala et al. 2007), so the export gate also requires
    * ≥ l distinct sensitive values per class. The corpus has no real
    * sensitive field; the doc-length centile bucket stands in (any
    * column-valued sensitive attribute drops into the same plan). One
    * scan, one aggregate — same scale shape as every audit. */
  def lDiversity(s: SparkSession, d: String, l: Int = 3): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n"),
        countDistinct(floor($"n_chars" / lit(100)).cast("long")).as("n_sensitive"))
      .select($"lang", $"source", $"n", $"n_sensitive",
        ($"n_sensitive" >= l).as("meets_l"))
      .orderBy($"lang", $"source")
  }

  val lDiversityOracle: String =
    """SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(DISTINCT n_chars // 100) AS BIGINT) AS n_sensitive,
      |       count(DISTINCT n_chars // 100) >= 3 AS meets_l
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** t-closeness over the same (lang, source) classes and length-bucket
    * sensitive attribute as [[kAnonymity]]/[[lDiversity]] — the third
    * member of the privacy-audit triad (Li et al. 2007): l-diversity
    * still leaks when a class's sensitive DISTRIBUTION is skewed far
    * from the corpus-wide one, so the export gate also bounds the
    * ordered-EMD between them. For an ordered categorical with m
    * buckets, EMD = (1/(m−1))·Σ_i |P_cum(i) − Q_cum(i)| — computed here
    * ENTIRELY in exact integer arithmetic on the common denominator
    * n_class·N (cumulative count diffs, never float proportions), with
    * the readout as micro fixed point (both engines' integer division
    * truncates toward zero identically).
    *
    * Scale shape: one corpus scan for the (class × bucket) counts; the
    * cumulative walk runs on the classes×m grid (quasi-identifier-
    * bounded metadata, never row-scale), windowed PER CLASS. The exact
    * common-denominator form bounds |terms| by n_class·N — fine through
    * ~1e8-row classes; past that, swap the numerator for per-class
    * micro-lattice cumulative proportions (bounded by 1e6·m) at the cost
    * of one quantization, same plan shape. */
  def tCloseness(s: SparkSession, d: String, tMicro: Long = 150000L): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select($"lang", $"source", floor($"n_chars" / lit(100)).cast("long").as("b"))
    val cnts = docs.groupBy($"lang", $"source", $"b").agg(count(lit(1)).as("c"))
    val glob = docs.groupBy($"b").agg(count(lit(1)).as("g"))
    val nTot = docs.count()
    // the bucket list is bounded metadata (length centiles) — explode it
    // as a literal onto the class list rather than cross-joining relations
    val buckets = glob.select($"b").orderBy($"b").as[Long].collect().toSeq
    val m = buckets.size
    // m == 1 would put a literal 0 in the divisor: Spark yields null
    // emd_micro (and null meets_t) while the DuckDB oracle ERRORS on the
    // division — two different failure modes for one degenerate corpus.
    // EMD over a single bucket is identically 0 anyway, so fail loudly
    // rather than return an engine-dependent artifact.
    require(m >= 2, s"t-closeness needs >= 2 sensitive-attribute buckets " +
      s"to form an ordered EMD; corpus has $m — distribution distance is " +
      "undefined (trivially 0) on a single bucket")
    val grid = cnts.select($"lang", $"source").distinct()
      .withColumn("b", explode(typedlit(buckets)))
      .join(cnts, Seq("lang", "source", "b"), "left")
      .na.fill(0L, Seq("c"))
    val w = Window.partitionBy($"lang", $"source").orderBy($"b")
    val cum = grid.join(broadcast(glob), "b")
      .withColumn("cum_c", sum($"c").over(w))
      .withColumn("cum_g", sum($"g").over(w))
      .withColumn("n_class", sum($"c").over(
        Window.partitionBy($"lang", $"source")))
    cum
      .groupBy($"lang", $"source", $"n_class")
      .agg(sum(abs($"cum_c" * lit(nTot) - $"cum_g" * $"n_class")).as("emd_num"))
      .select($"lang", $"source", $"n_class".as("n"),
        expr(s"(1000000 * emd_num) div (n_class * cast($nTot as bigint) * cast(${m - 1} as bigint))")
          .as("emd_micro"))
      .withColumn("meets_t", $"emd_micro" <= tMicro)
      .orderBy($"lang", $"source")
  }

  val tClosenessOracle: String =
    """WITH docs AS (
      |  SELECT lang, source, n_chars // 100 AS b FROM documents),
      |cnts AS (
      |  SELECT lang, source, b, count(*) AS c FROM docs GROUP BY 1, 2, 3),
      |grid AS (
      |  SELECT cl.lang, cl.source, bk.b, COALESCE(cn.c, 0) AS c
      |  FROM (SELECT DISTINCT lang, source FROM cnts) cl
      |  CROSS JOIN (SELECT DISTINCT b FROM cnts) bk
      |  LEFT JOIN cnts cn USING (lang, source, b)),
      |gcnt AS (SELECT b, count(*) AS g FROM docs GROUP BY 1),
      |tot AS (SELECT count(*) AS n_tot, count(DISTINCT b) AS m FROM docs),
      |cum AS (
      |  SELECT gr.lang, gr.source, gr.b,
      |         sum(gr.c) OVER (PARTITION BY gr.lang, gr.source ORDER BY gr.b) AS cum_c,
      |         sum(gl.g) OVER (PARTITION BY gr.lang, gr.source ORDER BY gr.b) AS cum_g,
      |         sum(gr.c) OVER (PARTITION BY gr.lang, gr.source) AS n_class
      |  FROM grid gr JOIN gcnt gl USING (b))
      |SELECT lang, source, CAST(n_class AS BIGINT) AS n,
      |       CAST((1000000 * sum(abs(cum_c * t.n_tot - cum_g * n_class)))
      |            // (n_class * t.n_tot * (t.m - 1)) AS BIGINT) AS emd_micro,
      |       CAST((1000000 * sum(abs(cum_c * t.n_tot - cum_g * n_class)))
      |            // (n_class * t.n_tot * (t.m - 1)) AS BIGINT) <= 150000 AS meets_t
      |FROM cum CROSS JOIN tot t
      |GROUP BY lang, source, n_class, t.n_tot, t.m
      |ORDER BY lang, source""".stripMargin

  /** ε-differentially-private histogram release — the fourth member of
    * the privacy-export family after [[kAnonymity]]/[[lDiversity]]/
    * [[tCloseness]]: those three certify that attribute COMBINATIONS are
    * crowd-sized; the DP release protects the published COUNTS themselves
    * (Dwork et al. 2006's Laplace mechanism — a count query has L1
    * sensitivity 1, so noise ~ Laplace(1/ε) makes the histogram
    * ε-indistinguishable to any single row's presence).
    *
    * The noise draw is DETERMINISTIC and engine-portable — the same
    * md5-as-uniform trick the sampling family uses (Sampling.scala):
    * u = hex-prefix of md5(key‖seed) scaled into (0,1), then the inverse
    * Laplace CDF −b·sign(u−½)·ln(1−2|u−½|). Both engines hash the same
    * bytes, parse the same 15 hex digits (60 bits — correctly-rounded to
    * the identical double on both sides) and apply the same closed form,
    * so the oracle genuinely re-derives the noisy release rather than
    * comparing to a pinned golden. (A production release would draw real
    * randomness; the MECHANISM — per-cell independent Laplace at the
    * stated scale — is exactly this expression with the seed swapped.)
    *
    * Scale shape: one map-side-combinable count aggregate over the
    * domain-bounded group key; the noise is a scalar expression on the
    * |domain|-row result. Nothing here grows with row count. */
  def dpHistogram(s: SparkSession, d: String, epsilon: Double = 0.5,
      seed: String = "dp42"): DataFrame = {
    import s.implicits._
    val b = 1.0 / epsilon
    val u = (conv(substring(md5(concat($"event_type", lit(":" + seed))), 1, 15),
        16, 10).cast("double") + lit(0.5)) / lit(math.pow(16.0, 15))
    val noise = lit(-b) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"event_type",
        round($"n" + noise, 3).as("noisy_n"),
        lit(epsilon).as("epsilon"))
      .orderBy($"event_type")
  }

  val dpHistogramOracle: String =
    """WITH cnt AS (
      |  SELECT event_type, count(*) AS n,
      |         (('0x' || substr(md5(event_type || ':dp42'), 1, 15))::BIGINT
      |            + 0.5) / 1152921504606846976.0 AS u
      |  FROM events GROUP BY event_type)
      |SELECT event_type,
      |       round(n + (-2.0) * sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5)), 3)
      |         AS noisy_n,
      |       CAST(0.5 AS DOUBLE) AS epsilon
      |FROM cnt ORDER BY event_type""".stripMargin

  /** Exact functional-dependency audit: for each candidate FD `X → Y`,
    * how many LHS groups exist, how many carry more than one distinct
    * RHS value (the FD's violating groups), and the minimal number of
    * row repairs that would restore the dependency (rows outside each
    * group's plurality RHS — the standard g3-style error measure from
    * the FD-discovery literature, TANE/Deequ lineage). The candidate
    * set mixes dependencies that hold by construction (nation key →
    * region) with ones real data violates (a customer orders under many
    * priorities; a part ships from several suppliers), so both verdicts
    * are exercised non-vacuously.
    *
    * Scale shape, per FD: groupBy(X, Y) count — one keyed shuffle over
    * the table, map-side combinable — then groupBy(X) over the already-
    * aggregated pair counts (input is |distinct(X,Y)|, far smaller than
    * the table), then a scalar summary. No countDistinct (its Expand
    * doubles the shuffle), no windows, no joins; a skewed X key is one
    * hot reducer over pre-combined counts, not raw rows. */
  def fdViolations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cases = Seq(
      ("documents: lang -> source", Tables.documents(s, d), "lang", "source"),
      ("events: user_id -> event_type", Tables.events(s, d), "user_id", "event_type"),
      ("lineitem: l_partkey -> l_suppkey", Tables.lineitem(s, d), "l_partkey", "l_suppkey"),
      ("nation: n_nationkey -> n_regionkey", Tables.nation(s, d), "n_nationkey", "n_regionkey"),
      ("orders: o_custkey -> o_orderpriority", Tables.orders(s, d), "o_custkey", "o_orderpriority"))
    cases.map { case (fdName, t, x, y) => fdSummaryOf(t, fdName, x, y) }
      .reduce(_.union(_)).orderBy($"fd")
  }

  /** One-row g3 summary for a single candidate FD `x → y` over any
    * relation (spec entry point for hand-computed fixtures). */
  def fdSummaryOf(t: DataFrame, fdName: String, x: String, y: String): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    val pairs = t.groupBy(col(x).as("x"), col(y).as("y"))
      .agg(count(lit(1)).as("c"))
    val grp = pairs.groupBy($"x").agg(
      sum($"c").as("n_rows"), count(lit(1)).as("dy"), max($"c").as("plu"))
    grp.agg(
      count(lit(1)).as("lhs_groups"),
      sum(when($"dy" > 1, 1L).otherwise(0L)).as("violating_groups"),
      sum($"n_rows" - $"plu").as("violating_rows"))
      .select(lit(fdName).as("fd"), $"lhs_groups", $"violating_groups",
        $"violating_rows", ($"violating_groups" === 0L).as("holds"))
  }

  /** CONDITIONAL FD audit (the CFD family, Bohannon et al. ICDE'07,
    * level-1 pattern tableau): the dependency o_custkey → o_orderpriority
    * evaluated SEPARATELY within each o_orderstatus partition — a
    * dependency that fails globally often holds (or fails worse) under
    * specific conditions, and the per-condition g3 profile is what a
    * data-contract author needs to write the tableau ("holds where
    * status = 'F'") instead of discarding the rule outright.
    *
    * Scale shape: identical to [[fdDiscovery]] with the condition column
    * riding the grouping keys — pair census on (cond, x, y), per-(cond,
    * x) summary, per-cond rollup; three map-side-combinable hash-agg
    * levels, one job, no joins. */
  def fdConditional(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Tables.orders(s, d)
      .groupBy($"o_orderstatus".as("cond"), $"o_custkey".as("x"),
        $"o_orderpriority".as("y"))
      .agg(count(lit(1)).as("c"))
    pairs.groupBy($"cond", $"x")
      .agg(sum($"c").as("n_rows"), count(lit(1)).as("dy"), max($"c").as("plu"))
      .groupBy($"cond")
      .agg(count(lit(1)).as("lhs_groups"),
        sum(when($"dy" > 1, 1L).otherwise(0L)).as("violating_groups"),
        sum($"n_rows" - $"plu").as("violating_rows"),
        sum($"n_rows").as("n_rows"))
      .select($"cond", $"lhs_groups", $"violating_groups", $"violating_rows",
        $"n_rows",
        round(($"violating_rows".cast("double") / $"n_rows".cast("double"))
          .cast("decimal(28,8)"), 6).cast("double").as("g3"),
        ($"violating_groups" === 0L).as("holds"))
      .orderBy($"cond")
  }

  val fdConditionalOracle: String =
    """SELECT cond, CAST(count(*) AS BIGINT) AS lhs_groups,
      |       CAST(sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
      |       CAST(sum(n_rows - plu) AS BIGINT) AS violating_rows,
      |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
      |       CAST(round(CAST(CAST(sum(n_rows - plu) AS DOUBLE)
      |                       / CAST(sum(n_rows) AS DOUBLE)
      |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS g3,
      |       sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) = 0 AS holds
      |FROM (SELECT cond, x, sum(c) AS n_rows, count(*) AS dy, max(c) AS plu
      |      FROM (SELECT o_orderstatus AS cond, o_custkey AS x,
      |                   o_orderpriority AS y, count(*) AS c
      |            FROM orders GROUP BY 1, 2, 3) p
      |      GROUP BY cond, x) g
      |GROUP BY cond
      |ORDER BY cond""".stripMargin

  /** Join-key skew census — the readout that decides, BEFORE a big join
    * or aggregation ships, whether a key needs salting / AQE skew
    * handling: per monitored key column, the group-count distribution's
    * shape. `skew_max_over_avg` is the straggler multiplier a shuffle on
    * this key eats (the exact quantity SCALE_NOTES Leg 14 stress-tested
    * with a planted 181k-row hub); `cv` its spread; `hhi` the
    * Herfindahl concentration Σ share² — 1/n_keys for uniform keys,
    * →1 as one key swallows the table (hot-key detector that doesn't
    * need a top-k pass).
    *
    * Scale shape: per key ONE map-side-combinable count aggregate, then
    * a 1-row moment summary over the group-count relation — Σc, Σc²,
    * max as exact int64 (Σc² ≤ n² bounds it to ~3×10⁹ rows/key), HHI
    * through the decimal-quantization idiom. Four legs, one union job,
    * no joins, no windows, nothing driver-side. */
  /** The monitored join/aggregation keys for the skew family — shared by
    * the census ([[joinKeySkew]]) and the salting advisor ([[saltPlan]]).
    * Each leg is a 1-column projection keyed `key`. */
  private def skewKeyLegs(s: SparkSession, d: String): Seq[(String, DataFrame)] = {
    import s.implicits._
    Seq(
      "events.user_id" -> Tables.events(s, d).select($"user_id".as("key")),
      "lineitem.l_partkey" -> Tables.lineitem(s, d)
        .select($"l_partkey".cast("string").as("key")),
      "lineitem.l_suppkey" -> Tables.lineitem(s, d)
        .select($"l_suppkey".cast("string").as("key")),
      "orders.o_custkey" -> Tables.orders(s, d)
        .select($"o_custkey".cast("string").as("key")))
  }

  def joinKeySkew(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    skewKeyLegs(s, d).map { case (name, t) =>
      val counts = t.filter($"key".isNotNull)
        .groupBy($"key").agg(count(lit(1)).as("c"))
      val m = counts.agg(
        count(lit(1)).as("n_keys"), sum($"c").as("n_rows"),
        max($"c").as("max_cnt"), sum($"c" * $"c").as("sum_c2"))
      val nK = $"n_keys".cast("double")
      val nR = $"n_rows".cast("double")
      val avg = nR / nK
      // clamp before the root: on perfectly uniform counts the two-term
      // variance cancels to ±ε in floating point, and sqrt(−ε) is NaN on
      // Spark / out-of-range on DuckDB (the oracle clamps identically)
      val varC = greatest(
        $"sum_c2".cast("double") / nK - avg * avg, lit(0.0))
      // HHI = Σ share² = Σc² / n² — the numerator is already the exact
      // int64 sum_c2 moment, so no per-group float pass is needed
      m.select(lit(name).as("key_name"), $"n_keys", $"n_rows", $"max_cnt",
        round(($"max_cnt".cast("double") / avg).cast("decimal(28,8)"), 6)
          .cast("double").as("skew_max_over_avg"),
        round((sqrt(varC) / avg).cast("decimal(28,8)"), 6)
          .cast("double").as("cv"),
        round(($"sum_c2".cast("double") / (nR * nR)).cast("decimal(28,8)"), 8)
          .cast("double").as("hhi"))
    }.reduce(_.union(_)).orderBy($"key_name")
  }

  val joinKeySkewOracle: String = {
    def leg(name: String, table: String, key: String): String =
      s"""SELECT '$name' AS key_name,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(c) AS BIGINT) AS n_rows,
         |       CAST(max(c) AS BIGINT) AS max_cnt,
         |       CAST(round(CAST(CAST(max(c) AS DOUBLE)
         |                       / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS skew_max_over_avg,
         |       CAST(round(CAST(sqrt(greatest(CAST(sum(c * c) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |                            - (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |                              * (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE)), 0.0))
         |                       / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS cv,
         |       CAST(round(CAST(CAST(sum(c * c) AS DOUBLE)
         |                       / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE))
         |                  AS DECIMAL(28,8)), 8) AS DOUBLE) AS hhi
         |FROM (SELECT $key AS key, count(*) AS c FROM $table
         |      WHERE $key IS NOT NULL GROUP BY 1) g""".stripMargin
    Seq(
      leg("events.user_id", "events", "user_id"),
      leg("lineitem.l_partkey", "lineitem", "CAST(l_partkey AS VARCHAR)"),
      leg("lineitem.l_suppkey", "lineitem", "CAST(l_suppkey AS VARCHAR)"),
      leg("orders.o_custkey", "orders", "CAST(o_custkey AS VARCHAR)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_name")
  }

  /** Readout → remedy (round-11 verdict "Next round" #5): the skew
    * census measures the straggler; this maps it to the concrete salting
    * decision the engine's own salted-aggregation/AQE machinery consumes.
    *
    * The rule: a shuffle on this key at `parallelism`-way parallelism
    * gives each task an even share of n_rows/parallelism rows; a key is
    * a straggler iff its single group exceeds that share (max_cnt >
    * n_rows/parallelism — it cannot be split by adding partitions, only
    * by salting). The salt factor that restores balance splits the
    * hottest key into shards of ≤ one even share each:
    * ceil(max_cnt · parallelism / n_rows), clamped to [1, parallelism]
    * (more shards than tasks buys nothing). Computed in exact int64
    * ((max·P + n − 1) div n — no float seam between engines);
    * `needs_salt` ⇔ factor > 1. SCALE_NOTES Leg 14 is the measured
    * backdrop: a 30% hot key that byte-based AQE skew detection misses
    * entirely — this advisor flags it from the count census alone,
    * before the shuffle ever runs.
    *
    * `parallelism` defaults to 32 = the engine's
    * spark.sql.shuffle.partitions; on a real cluster pass the actual
    * shuffle parallelism (the decision scales with it: the same key
    * distribution that is fine at 32-way needs salt at 2000-way). */
  def saltPlanFor(t: DataFrame, name: String, parallelism: Int): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    val m = t.filter($"key".isNotNull)
      .groupBy($"key").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"),
        max($"c").as("max_cnt"))
    val avg = $"n_rows".cast("double") / $"n_keys".cast("double")
    val factor = least(greatest(
      expr(s"(max_cnt * CAST($parallelism AS BIGINT) + n_rows - 1) div n_rows"),
      lit(1L)), lit(parallelism.toLong))
    m.select(lit(name).as("key_name"), $"n_keys", $"n_rows", $"max_cnt",
      round(($"max_cnt".cast("double") / avg).cast("decimal(28,8)"), 6)
        .cast("double").as("skew_max_over_avg"),
      lit(parallelism.toLong).as("parallelism"),
      factor.as("recommended_salt_factor"),
      (factor > 1L).as("needs_salt"))
  }

  def saltPlan(s: SparkSession, d: String, parallelism: Int = 32): DataFrame = {
    import s.implicits._
    skewKeyLegs(s, d).map { case (name, t) =>
      saltPlanFor(t, name, parallelism)
    }.reduce(_.union(_)).orderBy($"key_name")
  }

  val saltPlanOracle: String = {
    val p = 32
    def leg(name: String, table: String, key: String): String =
      s"""SELECT '$name' AS key_name,
         |       CAST(count(*) AS BIGINT) AS n_keys,
         |       CAST(sum(c) AS BIGINT) AS n_rows,
         |       CAST(max(c) AS BIGINT) AS max_cnt,
         |       CAST(round(CAST(CAST(max(c) AS DOUBLE)
         |                       / (CAST(sum(c) AS DOUBLE) / CAST(count(*) AS DOUBLE))
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS skew_max_over_avg,
         |       CAST($p AS BIGINT) AS parallelism,
         |       CAST(least(greatest((max(c) * $p + sum(c) - 1) // sum(c), 1), $p) AS BIGINT)
         |         AS recommended_salt_factor,
         |       least(greatest((max(c) * $p + sum(c) - 1) // sum(c), 1), $p) > 1
         |         AS needs_salt
         |FROM (SELECT $key AS key, count(*) AS c FROM $table
         |      WHERE $key IS NOT NULL GROUP BY 1) g""".stripMargin
    Seq(
      leg("events.user_id", "events", "user_id"),
      leg("lineitem.l_partkey", "lineitem", "CAST(l_partkey AS VARCHAR)"),
      leg("lineitem.l_suppkey", "lineitem", "CAST(l_suppkey AS VARCHAR)"),
      leg("orders.o_custkey", "orders", "CAST(o_custkey AS VARCHAR)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY key_name")
  }

  /** Join-strategy advisor — the second readout→remedy pass next to
    * [[saltPlan]]: for each candidate join, compute the EXACT join output
    * cardinality and per-key hot spot from the two sides' key censuses
    * alone (never running the data join), then map them to the concrete
    * physical decision: broadcast which side, or shuffle, and if shuffle,
    * with what salt factor.
    *
    * Why this beats waiting for the optimizer: Catalyst's size estimate
    * for a join assumes uniform key frequency (NDV-based), so a
    * many-to-many hub key is invisible until AQE observes the skewed
    * shuffle blocks AT RUNTIME — after the map side already ran. The
    * censuses here give the exact answer for the price of two map-side-
    * combinable counts plus one full-outer join over DISTINCT keys (the
    * census relation, not the data): out_rows = Σ_k cL(k)·cR(k),
    * max_key_out = max_k cL(k)·cR(k). On 100 TB that census is the cheap
    * pre-pass that decides whether the real join is safe to ship.
    *
    * Decision rules (deterministic, both engines):
    *  - `strategy`: broadcast the right side iff its row count ≤
    *    `broadcastRows` (default 10,000 ≈ the 10 MB auto-broadcast
    *    threshold at ~1 KB/row — calibrate per schema on a real cluster),
    *    else broadcast the left iff it fits, else shuffle. A broadcast
    *    join has no shuffle, so skew is moot there.
    *  - `recommended_salt_factor` (shuffle only): the [[saltPlanFor]]
    *    rule applied to the join OUTPUT distribution — a key is a
    *    straggler iff its output exceeds one even task share
    *    (max_key_out > out_rows/parallelism); the factor
    *    ceil(max_key_out·P/out_rows) splits it back under the share,
    *    exact int64, clamped to [1, P].
    *  - `amplification` = out_rows / max(left_rows, right_rows) — the
    *    many-to-many blowup detector (≤1 for FK→PK joins; ≫1 means the
    *    join output dwarfs its inputs and needs rethinking, not salt).
    *
    * Overflow posture: the census products are exact int64. A key pair
    * whose product exceeds int64 (out_rows > 9.2×10^18 — three orders
    * beyond any executable join output) fails LOUDLY on both engines
    * rather than wrapping: Spark runs ANSI (overflow throws), DuckDB
    * widens to HUGEINT and throws on the BIGINT cast. If a census ever
    * dies here, the advisor has answered the question — do not run that
    * join. */
  def joinPlanFor(left: DataFrame, right: DataFrame, name: String,
      parallelism: Int = 32, broadcastRows: Long = 10000L): DataFrame = {
    val s = left.sparkSession
    import s.implicits._
    val cl = left.filter($"key".isNotNull)
      .groupBy($"key").agg(count(lit(1)).as("cl"))
    val cr = right.filter($"key".isNotNull)
      .groupBy($"key").agg(count(lit(1)).as("cr"))
    val m = cl.join(cr, Seq("key"), "full_outer").agg(
      sum(coalesce($"cl", lit(0L))).as("left_rows"),
      sum(coalesce($"cr", lit(0L))).as("right_rows"),
      count(when($"cl".isNotNull && $"cr".isNotNull, lit(1))).as("matched_keys"),
      sum(coalesce($"cl" * $"cr", lit(0L))).as("out_rows"),
      max(coalesce($"cl" * $"cr", lit(0L))).as("max_key_out"))
    val strategy = when($"right_rows" <= broadcastRows, lit("broadcast_right"))
      .when($"left_rows" <= broadcastRows, lit("broadcast_left"))
      .otherwise(lit("shuffle"))
    val factor = when(strategy === "shuffle" && $"out_rows" > 0L,
      least(greatest(
        expr(s"(max_key_out * CAST($parallelism AS BIGINT) + out_rows - 1) div out_rows"),
        lit(1L)), lit(parallelism.toLong))).otherwise(lit(1L))
    m.select(lit(name).as("join_name"),
        $"left_rows", $"right_rows", $"matched_keys", $"out_rows", $"max_key_out",
        round(($"out_rows".cast("double") /
            greatest($"left_rows", $"right_rows", lit(1L)).cast("double"))
          .cast("decimal(28,8)"), 6).cast("double").as("amplification"),
        strategy.as("strategy"),
        lit(parallelism.toLong).as("parallelism"),
        factor.as("recommended_salt_factor"))
      .withColumn("needs_salt", $"recommended_salt_factor" > 1L)
  }

  /** Sketch readout of [[joinPlanFor]] — the same advisor decision from
    * ONE shuffle-free pass per side with O(k) state, for the regime where
    * even the exact census is too expensive: the census's full-outer join
    * shuffles every DISTINCT key, which on a 100 TB fact with billions of
    * keys is itself a major job, while this probe is a single 1-row
    * aggregate per side (exact count + HLL++ NDV + a Misra–Gries summary
    * of the key column — all map-side combinable, nothing exchanged but
    * k counters per task). The serving mode is implemented: if the
    * ingest maintains the heavy-hitter rollup
    * ([[graft.streaming.Ingest.upsertHeavyHitterRollup]], whose cells
    * carry MG + HLL + exact counts), the advisor is free —
    * [[graft.streaming.Ingest.servedJoinPlanSketch]] merges the two
    * sides' cells into this same readout with zero raw scans.
    *
    * What survives the sketch, by theorem (Misra–Gries: for every key,
    * est ≤ true ≤ est + n/(k+1); any key with true > n/(k+1) is tracked):
    *  - `maxKeyOutLo ≤ true max_key_out ≤ maxKeyOutHi` — products of
    *    per-side underestimates, resp. of (est + err) with the
    *    untracked-key ceiling errL·errR folded in;
    *  - `outRowsLo ≤ true out_rows` — the tracked-pair product sum;
    *  - the broadcast decision is EXACT (row counts are exact);
    *  - a hot key whose per-side counts clear the n/(k+1) noise floor is
    *    guaranteed visible — the salt flag cannot miss a straggler that
    *    matters at k=256 unless its count is below n/257 ≈ 0.4% of the
    *    side, which by definition is not a straggler.
    * `outRowsEst` adds a uniform residual (rest-mass / max residual NDV)
    * on top of outRowsLo — an estimate, not a bound; bounds and estimate
    * are kept in separate fields so a consumer can choose its risk.
    * JoinPlanSketchSpec sandwiches every bound against exact recomputes
    * on planted skewed/uniform fixtures and real data. */
  final case class JoinPlanSketch(
      nLeft: Long, nRight: Long, ndvLeft: Long, ndvRight: Long,
      outRowsLo: Long, outRowsEst: Long,
      maxKeyOutLo: Long, maxKeyOutHi: Long,
      strategy: String, needsSalt: Boolean, saltFactor: Long)

  def joinPlanSketchFor(left: DataFrame, right: DataFrame,
      parallelism: Int = 32, broadcastRows: Long = 10000L,
      k: Int = 256): JoinPlanSketch = {
    import org.apache.spark.sql.Encoders
    import graft.functions.MisraGries
    def probe(df: DataFrame): (Long, Long, MisraGries.SummaryS) = {
      val mgAgg = org.apache.spark.sql.functions.udaf(
        new MisraGries.MgFromStrings(k), Encoders.STRING)
      val r = df.filter(col("key").isNotNull)
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(col("key")).as("ndv"),
          mgAgg(col("key").cast("string")).as("mg"))
        .collect().head
      (r.getLong(0), r.getLong(1),
        MisraGries.deserializeS(r.getAs[Array[Byte]](2)))
    }
    val (nL, ndvL, sL) = probe(left)
    val (nR, ndvR, sR) = probe(right)
    sketchPlanOf(nL, ndvL, sL, nR, ndvR, sR, parallelism, broadcastRows)
  }

  /** The advisor math over already-materialized side summaries — shared
    * by the one-pass probe above and the cell-served path
    * ([[graft.streaming.Ingest.servedJoinPlanSketch]]), where the
    * summaries come from merging a maintained rollup's MG/HLL cells
    * (the Mergeable-Summaries theorem keeps the n/(k+1) bound through
    * the merge, so every guarantee below survives serving). */
  def sketchPlanOf(nL: Long, ndvL: Long, sL: graft.functions.MisraGries.SummaryS,
      nR: Long, ndvR: Long, sR: graft.functions.MisraGries.SummaryS,
      parallelism: Int, broadcastRows: Long): JoinPlanSketch = {
    // Driver-side Scala: raw Long products of two ~1e9-row hot keys wrap
    // SILENTLY (no ANSI here), which would garbage the bounds and
    // un-flag the most extreme straggler possible — everything derived
    // from per-key products goes through BigInt and clamps at
    // Long.MaxValue (a clamped bound is still a bound the consumer
    // reads as "beyond any executable join").
    def clamp(b: BigInt): Long = if (b > Long.MaxValue) Long.MaxValue else b.toLong
    val (errL, errR) = (BigInt(sL.errorBound), BigInt(sR.errorBound))
    val keys = (sL.entries.map(_._1) ++ sR.entries.map(_._1)).distinct
    val prodLo = keys.map(x => BigInt(sL.estimate(x)) * BigInt(sR.estimate(x)))
    val maxLo = if (prodLo.isEmpty) BigInt(0) else prodLo.max
    val maxHi = (keys.map(x =>
      (BigInt(sL.estimate(x)) + errL) * (BigInt(sR.estimate(x)) + errR))
      :+ errL * errR).max
    val outLo = prodLo.sum
    val restL = math.max(nL - sL.entries.map(_._2).sum, 0L)
    val restR = math.max(nR - sR.entries.map(_._2).sum, 0L)
    val ndvRest = math.max(math.max(ndvL - sL.size, ndvR - sR.size), 1L)
    val outEst = outLo + BigInt(restL) * BigInt(restR) / BigInt(ndvRest)
    val strategy =
      if (nR <= broadcastRows) "broadcast_right"
      else if (nL <= broadcastRows) "broadcast_left"
      else "shuffle"
    // Salt decision divides the hot key's LOWER bound by outRowsLo — a
    // sound lower bound on the denominator too (maxLo <= outLo by
    // construction). Using outRowsEst here would let the uniform
    // residual INFLATE the denominator and silently un-flag a true
    // straggler whose share of the real output is dominant; with the
    // lower bound the flag can over-page (factor is an upper-ish
    // estimate) but cannot miss a tracked straggler.
    val rawF =
      if (outLo > 0) clamp((maxLo * parallelism + outLo - 1) / outLo) else 1L
    val f = if (strategy == "shuffle")
      math.min(math.max(rawF, 1L), parallelism.toLong) else 1L
    JoinPlanSketch(nL, nR, ndvL, ndvR, clamp(outLo), clamp(outEst),
      clamp(maxLo), clamp(maxHi),
      strategy, strategy == "shuffle" && f > 1L, f)
  }

  /** The monitored candidate joins: three warehouse FK joins plus the
    * behavioral view⋈purchase self-join on user — the one census where a
    * hot user turns a harmless-looking equi-join many-to-many. */
  private def joinPlanLegs(s: SparkSession, d: String): Seq[(String, DataFrame, DataFrame)] = {
    import s.implicits._
    val ev = Tables.events(s, d)
    Seq(
      ("events_view_purchase",
        ev.filter($"event_type" === "view").select($"user_id".cast("string").as("key")),
        ev.filter($"event_type" === "purchase").select($"user_id".cast("string").as("key"))),
      ("lineitem_orders",
        Tables.lineitem(s, d).select($"l_orderkey".cast("string").as("key")),
        Tables.orders(s, d).select($"o_orderkey".cast("string").as("key"))),
      ("lineitem_part",
        Tables.lineitem(s, d).select($"l_partkey".cast("string").as("key")),
        Tables.part(s, d).select($"p_partkey".cast("string").as("key"))),
      ("orders_customer",
        Tables.orders(s, d).select($"o_custkey".cast("string").as("key")),
        Tables.customer(s, d).select($"c_custkey".cast("string").as("key"))))
  }

  def joinPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    joinPlanLegs(s, d).map { case (name, l, r) => joinPlanFor(l, r, name) }
      .reduce(_.union(_)).orderBy($"join_name")
  }

  val joinPlanOracle: String = {
    val (p, b) = (32, 10000)
    def leg(name: String, lt: String, lk: String, rt: String, rk: String): String =
      s"""SELECT join_name, left_rows, right_rows, matched_keys, out_rows, max_key_out,
         |       amplification, strategy, parallelism,
         |       CASE WHEN strategy = 'shuffle' AND out_rows > 0
         |            THEN least(greatest((max_key_out * $p + out_rows - 1) // out_rows, 1), $p)
         |            ELSE 1 END AS recommended_salt_factor,
         |       (CASE WHEN strategy = 'shuffle' AND out_rows > 0
         |             THEN least(greatest((max_key_out * $p + out_rows - 1) // out_rows, 1), $p)
         |             ELSE 1 END) > 1 AS needs_salt
         |FROM (
         |  SELECT join_name, left_rows, right_rows, matched_keys, out_rows, max_key_out,
         |         CAST(round(CAST(CAST(out_rows AS DOUBLE)
         |                         / CAST(greatest(left_rows, right_rows, 1) AS DOUBLE)
         |                    AS DECIMAL(28,8)), 6) AS DOUBLE) AS amplification,
         |         CASE WHEN right_rows <= $b THEN 'broadcast_right'
         |              WHEN left_rows <= $b THEN 'broadcast_left'
         |              ELSE 'shuffle' END AS strategy,
         |         CAST($p AS BIGINT) AS parallelism
         |  FROM (
         |    SELECT '$name' AS join_name,
         |           CAST(sum(coalesce(cl, 0)) AS BIGINT) AS left_rows,
         |           CAST(sum(coalesce(cr, 0)) AS BIGINT) AS right_rows,
         |           CAST(count(CASE WHEN cl IS NOT NULL AND cr IS NOT NULL THEN 1 END) AS BIGINT)
         |             AS matched_keys,
         |           CAST(sum(coalesce(cl * cr, 0)) AS BIGINT) AS out_rows,
         |           CAST(max(coalesce(cl * cr, 0)) AS BIGINT) AS max_key_out
         |    FROM (SELECT $lk AS key, count(*) AS cl FROM $lt
         |          WHERE $lk IS NOT NULL GROUP BY 1) l
         |    FULL OUTER JOIN
         |         (SELECT $rk AS key, count(*) AS cr FROM $rt
         |          WHERE $rk IS NOT NULL GROUP BY 1) r
         |    USING (key)) m) sdef""".stripMargin
    Seq(
      leg("events_view_purchase",
        "(SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'view')", "k",
        "(SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'purchase')", "k"),
      leg("lineitem_orders",
        "lineitem", "CAST(l_orderkey AS VARCHAR)", "orders", "CAST(o_orderkey AS VARCHAR)"),
      leg("lineitem_part",
        "lineitem", "CAST(l_partkey AS VARCHAR)", "part", "CAST(p_partkey AS VARCHAR)"),
      leg("orders_customer",
        "orders", "CAST(o_custkey AS VARCHAR)", "customer", "CAST(c_custkey AS VARCHAR)"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY join_name")
  }

  /** Single-column FD DISCOVERY (the TANE/FDEP family's level-1 lattice,
    * run exhaustively): mine every ordered column pair X → Y over a
    * 5-attribute view of orders (three natural categoricals + two
    * derived bands: order year, 50k price band) and report each
    * candidate's g3 error — minimal fraction of rows to delete for the
    * FD to hold — so near-dependencies surface, ranked, not just
    * asserted ones. This is the profiling step a pipeline runs on an
    * UNKNOWN upstream before writing [[fdViolations]]-style contracts.
    *
    * Scale shape: one independent pre-aggregated leg per candidate —
    * groupBy(X,Y) pair census, then groupBy(X) over pair counts, then a
    * 1-row summary; all 20 legs are a single union job (Spark schedules
    * the scans in parallel, and each leg is two map-side-combinable hash
    * aggs, no windows, no joins). Single-column-LHS legs share nothing
    * with each other (distinct grouping keys), so the union IS the
    * minimal plan; multi-column-LHS discovery would add lattice pruning
    * (TANE), out of scope here. g3's numerator/denominator are exact
    * int64; the rate quantizes through the decimal idiom. */
  def fdDiscovery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = Tables.orders(s, d).select(
      $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      year($"o_orderdate").cast("long").as("o_year"),
      floor($"o_totalprice" / lit(50000.0)).cast("long").as("o_price_band"))
      .localCheckpoint() // 20 legs scan this; cut re-read of the parquet
    def leg(x: String, y: String): DataFrame = {
      val pairs = t.groupBy(col(x).as("x"), col(y).as("y"))
        .agg(count(lit(1)).as("c"))
      pairs.groupBy($"x")
        .agg(sum($"c").as("n_rows"), count(lit(1)).as("dy"), max($"c").as("plu"))
        .agg(count(lit(1)).as("lhs_groups"),
          sum(when($"dy" > 1, 1L).otherwise(0L)).as("violating_groups"),
          sum($"n_rows" - $"plu").as("violating_rows"),
          sum($"n_rows").as("n_total"))
        .select(lit(s"$x -> $y").as("fd"), $"lhs_groups", $"violating_groups",
          $"violating_rows", $"n_total",
          round(($"violating_rows".cast("double") / $"n_total".cast("double"))
            .cast("decimal(28,8)"), 6).cast("double").as("g3"),
          ($"violating_groups" === 0L).as("holds"))
    }
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "o_year", "o_price_band")
    (for { x <- cols; y <- cols if x != y } yield leg(x, y))
      .reduce(_.union(_)).orderBy($"fd")
  }

  val fdDiscoveryOracle: String = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "o_year", "o_price_band")
    def leg(x: String, y: String): String =
      s"""SELECT '$x -> $y' AS fd,
         |       CAST(count(*) AS BIGINT) AS lhs_groups,
         |       CAST(sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
         |       CAST(sum(n_rows - plu) AS BIGINT) AS violating_rows,
         |       CAST(sum(n_rows) AS BIGINT) AS n_total,
         |       CAST(round(CAST(CAST(sum(n_rows - plu) AS DOUBLE)
         |                       / CAST(sum(n_rows) AS DOUBLE)
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS g3,
         |       sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT x, sum(c) AS n_rows, count(*) AS dy, max(c) AS plu
         |      FROM (SELECT $x AS x, $y AS y, count(*) AS c FROM t GROUP BY 1, 2) p
         |      GROUP BY x) g""".stripMargin
    val legs = (for { x <- cols; y <- cols if x != y } yield leg(x, y))
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT o_custkey, o_orderstatus, o_orderpriority,
       |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |         CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS o_price_band
       |  FROM orders)
       |$legs
       |ORDER BY fd""".stripMargin
  }

  /** Entropy-based dependency matrix over the same 5-attribute orders
    * view as [[fdDiscovery]]: per ordered pair X → Y, the entropies
    * H(X), H(Y), H(X,Y), the mutual information, and Theil's
    * uncertainty coefficient U(Y|X) = I(X;Y)/H(Y) ∈ [0,1] — the
    * INFORMATION metric beside g3's DELETION metric. The two disagree
    * usefully: a near-FD with one giant clean group scores low g3 but
    * can carry little information; U tells you how much knowing X
    * actually narrows Y, which is what a feature-selection or
    * grid-collapse decision wants.
    *
    * Scale shape (reworked round 16, guide §2.4): ONE grouping-sets
    * pass computes every census the 20 legs need — the 10 unordered
    * pair cells plus the 5 single-column marginals (15 grouping sets,
    * one Expand + one hash aggregation over one orders scan) — and one
    * tiny per-grouping aggregation turns each census into its entropy.
    * The 15 entropies are a bounded driver value; the 20 (fd, h_x, h_y,
    * h_xy, mi, U) rows are assembled from them. The round-15 shape ran
    * the same censuses as 60 independent aggregation subtrees (each
    * leg's 3 union branches re-aggregated its census) in one 20-leg
    * union job — 3.1 s of stage latency at sf0.1 for identical numbers.
    * Determinism unchanged: identical cell counts → identical per-cell
    * double contributions, DECIMAL(28,8)-quantized, exactly summed
    * (decimal addition is order-free); the driver's mi/U arithmetic
    * replays the previous plan's IEEE double ops and its two-step
    * HALF_UP quantization (cast to DECIMAL(28,8), then round to 6)
    * bit-for-bit via BigDecimal. */
  def dependencyEntropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cols = EntropyCols
    // grouping_id bit i (from the LEFT of `cols`) is 0 iff that column
    // is grouped — the id is the census's identity, value-independent
    // (a real NULL cell value cannot be confused with an aggregated-away
    // column).
    def gidOf(idxs: Seq[Int]): Long =
      (1L << cols.length) - 1L - idxs.map(i => 1L << (cols.length - 1 - i)).sum
    val nD = Tables.orders(s, d).count().toDouble
    val ent = entropyCensus(s, d, nD).as[(Long, Double)].collect().toMap
    // Spark's `cast(decimal(28,8))` on a double goes through the
    // double's shortest decimal rep then HALF_UP to scale 8; `round(_,6)`
    // is HALF_UP again — replay both steps exactly.
    def q6(x: Double): Double = BigDecimal(x)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = for {
      (x, i) <- cols.zipWithIndex
      (y, j) <- cols.zipWithIndex if i != j
    } yield {
      val hx = ent(gidOf(Seq(i)))
      val hy = ent(gidOf(Seq(j)))
      val hxy = ent(gidOf(Seq(math.min(i, j), math.max(i, j))))
      (s"$x -> $y", hx, hy, hxy, q6(hx + hy - hxy), q6((hx + hy - hxy) / hy))
    }
    rows.toDF("fd", "h_x", "h_y", "h_xy", "mi", "u_y_given_x").orderBy($"fd")
  }

  private val EntropyCols = Seq("o_custkey", "o_orderstatus",
    "o_orderpriority", "o_year", "o_price_band")

  /** [[dependencyEntropy]]'s distributed job, lazy so its plan can be
    * inspected: the 15 grouping-sets censuses, each folded to its
    * entropy `(gid, h)` given the row count `nD`. */
  private[operators] def entropyCensus(s: SparkSession, d: String, nD: Double): DataFrame = {
    import s.implicits._
    val cols = EntropyCols
    val t = Tables.orders(s, d).select(
      $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      year($"o_orderdate").cast("long").as("o_year"),
      floor($"o_totalprice" / lit(50000.0)).cast("long").as("o_price_band"))
    val sets: Seq[Seq[Column]] =
      (for { i <- cols.indices; j <- cols.indices if i < j }
        yield Seq(col(cols(i)), col(cols(j)))) ++
        cols.indices.map(i => Seq(col(cols(i))))
    val p = $"c".cast("double") / lit(nD)
    t.groupingSets(sets, cols.map(col): _*)
      .agg(grouping_id().as("gid"), count(lit(1)).as("c"))
      .select($"gid", (p * log(p)).cast("decimal(28,8)").as("pl"))
      .groupBy($"gid").agg(round(-sum($"pl"), 6).cast("double").as("h"))
  }

  val dependencyEntropyOracle: String = {
    val cols = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
      "o_year", "o_price_band")
    def leg(x: String, y: String): String =
      s"""SELECT '$x -> $y' AS fd, h_x, h_y, h_xy,
         |       CAST(round(CAST(h_x + h_y - h_xy AS DECIMAL(28,8)), 6) AS DOUBLE) AS mi,
         |       CAST(round(CAST((h_x + h_y - h_xy) / h_y AS DECIMAL(28,8)), 6)
         |            AS DOUBLE) AS u_y_given_x
         |FROM (
         |  SELECT
         |    (SELECT CAST(round(-sum(CAST((cx / n.n) * ln(cx / n.n) AS DECIMAL(28,8))), 6) AS DOUBLE)
         |     FROM (SELECT sum(c) * 1.0 AS cx FROM (SELECT $x AS x, $y AS y, count(*) AS c FROM t GROUP BY 1, 2) q GROUP BY x) m) AS h_x,
         |    (SELECT CAST(round(-sum(CAST((cy / n.n) * ln(cy / n.n) AS DECIMAL(28,8))), 6) AS DOUBLE)
         |     FROM (SELECT sum(c) * 1.0 AS cy FROM (SELECT $x AS x, $y AS y, count(*) AS c FROM t GROUP BY 1, 2) q GROUP BY y) m) AS h_y,
         |    (SELECT CAST(round(-sum(CAST((c * 1.0 / n.n) * ln(c * 1.0 / n.n) AS DECIMAL(28,8))), 6) AS DOUBLE)
         |     FROM (SELECT $x AS x, $y AS y, count(*) AS c FROM t GROUP BY 1, 2) q) AS h_xy
         |  FROM n) e""".stripMargin
    val legs = (for { x <- cols; y <- cols if x != y } yield leg(x, y))
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (
       |  SELECT o_custkey, o_orderstatus, o_orderpriority,
       |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |         CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS o_price_band
       |  FROM orders),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM t)
       |$legs
       |ORDER BY fd""".stripMargin
  }

  /** Incremental FD monitor — the audit member of the ∝-delta family
    * (exact fp: [[Dedup.incrementalDedup]]; spans: [[CorpusDedup]];
    * semantic: [[Similarity]]): an incoming batch (l_orderkey % 10 == 7
    * slice, per the family's fixture convention) is audited against the
    * STANDING corpus for the `l_partkey → l_suppkey` dependency, and the
    * report covers ONLY the LHS groups the batch touches: distinct-RHS
    * count before/after, rows added, and whether the batch flipped the
    * group from clean to violating (the alert a production FD monitor
    * pages on).
    *
    * Scale shape: the batch's touched-key set gates the corpus via a
    * left-semi join BEFORE any aggregation, so per-batch work is
    * ∝ |rows of touched groups|, never ∝ |corpus|. In production the
    * corpus side is the materialized per-(x,y) pair-count index the full
    * audit already builds, maintained by append — the semi join then
    * prunes to its touched partitions and the before-counts come from
    * the index, not a rescan. */
  def fdIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
      .select($"l_orderkey".as("id"), $"l_partkey".as("x"), $"l_suppkey".as("y"))
    val batch = li.filter($"id" % 10 === 7).select($"x", $"y")
    val corpus = li.filter($"id" % 10 =!= 7).select($"x", $"y")
    val touched = batch.select($"x").distinct()
    val corpusTouched = corpus.join(touched, Seq("x"), "left_semi")
    def summarize(t: DataFrame, n: String, dy: String): DataFrame =
      t.groupBy($"x", $"y").agg(count(lit(1)).as("c"))
        .groupBy($"x").agg(sum($"c").as(n), count(lit(1)).as(dy))
    val before = summarize(corpusTouched, "n_before", "dy_before")
    val after = summarize(corpusTouched.union(batch), "n_after", "dy_after")
    after.join(before, Seq("x"), "left")
      .select($"x".as("l_partkey"),
        coalesce($"n_before", lit(0L)).as("n_before"),
        coalesce($"dy_before", lit(0L)).as("dy_before"),
        $"n_after", $"dy_after",
        ($"n_after" - coalesce($"n_before", lit(0L))).as("rows_added"),
        (coalesce($"dy_before", lit(0L)) <= 1 && $"dy_after" > 1).as("newly_violating"))
      .orderBy($"l_partkey")
  }

  val fdIncrementalOracle: String =
    """WITH li AS (
      |  SELECT l_orderkey AS id, l_partkey AS x, l_suppkey AS y FROM lineitem),
      |batch AS (SELECT x, y FROM li WHERE id % 10 = 7),
      |corpus AS (SELECT x, y FROM li WHERE id % 10 <> 7),
      |touched AS (SELECT DISTINCT x FROM batch),
      |ct AS (SELECT * FROM corpus WHERE x IN (SELECT x FROM touched)),
      |before AS (
      |  SELECT x, sum(c) AS n_before, count(*) AS dy_before
      |  FROM (SELECT x, count(*) AS c FROM ct GROUP BY x, y) p GROUP BY x),
      |after AS (
      |  SELECT x, sum(c) AS n_after, count(*) AS dy_after
      |  FROM (SELECT x, count(*) AS c
      |        FROM (SELECT * FROM ct UNION ALL SELECT * FROM batch) u
      |        GROUP BY x, y) p GROUP BY x)
      |SELECT a.x AS l_partkey,
      |       CAST(coalesce(b.n_before, 0) AS BIGINT) AS n_before,
      |       CAST(coalesce(b.dy_before, 0) AS BIGINT) AS dy_before,
      |       CAST(a.n_after AS BIGINT) AS n_after,
      |       CAST(a.dy_after AS BIGINT) AS dy_after,
      |       CAST(a.n_after - coalesce(b.n_before, 0) AS BIGINT) AS rows_added,
      |       coalesce(b.dy_before, 0) <= 1 AND a.dy_after > 1 AS newly_violating
      |FROM after a LEFT JOIN before b USING (x)
      |ORDER BY l_partkey""".stripMargin

  val fdViolationsOracle: String = {
    def leg(fd: String, table: String, x: String, y: String): String =
      s"""SELECT '$fd' AS fd,
         |       CAST(count(*) AS BIGINT) AS lhs_groups,
         |       CAST(sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_groups,
         |       CAST(sum(n_rows - plu) AS BIGINT) AS violating_rows,
         |       sum(CASE WHEN dy > 1 THEN 1 ELSE 0 END) = 0 AS holds
         |FROM (SELECT x, count(*) AS dy, sum(c) AS n_rows, max(c) AS plu
         |      FROM (SELECT $x AS x, count(*) AS c FROM $table GROUP BY $x, $y) p
         |      GROUP BY x) g""".stripMargin
    Seq(
      leg("documents: lang -> source", "documents", "lang", "source"),
      leg("events: user_id -> event_type", "events", "user_id", "event_type"),
      leg("lineitem: l_partkey -> l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
      leg("nation: n_nationkey -> n_regionkey", "nation", "n_nationkey", "n_regionkey"),
      leg("orders: o_custkey -> o_orderpriority", "orders", "o_custkey", "o_orderpriority"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY fd")
  }

  // ---------------------------------------------------------------------
  // Schema / data-contract validation
  // ---------------------------------------------------------------------

  /** Data-CONTRACT validation — the declarative ingest gate a pipeline
    * runs before letting a batch into the lake: every rule of the events
    * contract (non-null key, key uniqueness, id validity, enum domain,
    * numeric range, null-rate ceiling, event-time window, payload shape)
    * evaluated in ONE readout with per-rule violation counts, rates and a
    * pass/fail flag against the rule's tolerance (0 for hard rules, 1%
    * for the null-rate ceiling).
    *
    * Scale shape: rules 1 and 3–8 are conditional sums inside a SINGLE
    * full-scan aggregate (one map-side-combinable pass, no Expand — the
    * columnStats lesson), fanned to rows by `stack` AFTER aggregation
    * (8 tiny rows, not 8 scans). Uniqueness is the one rule that needs
    * key grouping and gets the two-level shape: groupBy(event_id) counts
    * then `Σc − #groups` — never a countDistinct next to other
    * aggregates. Total cost at 100 TB: one scan + one narrow shuffle on
    * the key column, independent of how many scalar rules the contract
    * carries. The deliberately tight `value ≤ 400` bound and the
    * generator's invalid user ids keep both verdicts live (FAIL rows
    * prove the gate actually fires; see the oracle). */
  def schemaContract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val domain = Seq("view", "click", "purchase", "signup", "error")
    val scalarLeg = ev.agg(
        count(lit(1)).as("checked"),
        sum(when($"event_id".isNull, 1L).otherwise(0L)).as("v1"),
        sum(when($"user_id".isNull || $"user_id" <= 0L, 1L).otherwise(0L)).as("v3"),
        sum(when($"event_type".isNull ||
          !$"event_type".isin(domain.map(x => x: Any): _*), 1L).otherwise(0L)).as("v4"),
        sum(when($"value" < 0d || $"value" > 400d, 1L).otherwise(0L)).as("v5"),
        sum(when($"value".isNull, 1L).otherwise(0L)).as("v6"),
        sum(when($"ts".isNull || $"ts" < lit("2024-01-01").cast("timestamp") ||
          $"ts" >= lit("2027-01-01").cast("timestamp"), 1L).otherwise(0L)).as("v7"),
        sum(when($"props".isNull ||
          !$"props".rlike("^\\{\"k\": -?[0-9]+\\}$"), 1L).otherwise(0L)).as("v8"))
      .selectExpr("checked",
        """stack(7,
          |  'r1_event_id_not_null', v1,
          |  'r3_user_id_valid',     v3,
          |  'r4_type_in_domain',    v4,
          |  'r5_value_in_range',    v5,
          |  'r6_value_null_rate',   v6,
          |  'r7_ts_in_window',      v7,
          |  'r8_props_json_shape',  v8) AS (rule, violations)""".stripMargin)
      .select($"rule", $"violations", $"checked")
    val uniqueLeg = ev.groupBy($"event_id").agg(count(lit(1)).as("c"))
      .agg(sum($"c").as("checked"),
        (sum($"c") - count(lit(1))).as("violations"))
      .select(lit("r2_event_id_unique").as("rule"), $"violations", $"checked")
    scalarLeg.union(uniqueLeg)
      .withColumn("max_rate",
        when($"rule" === "r6_value_null_rate", 0.01d).otherwise(0.0d))
      .withColumn("violation_rate",
        round(($"violations".cast("double") / $"checked".cast("double"))
          .cast("decimal(28,8)"), 6).cast("double"))
      .withColumn("pass", $"violation_rate" <= $"max_rate")
      .select($"rule", $"checked", $"violations", $"violation_rate",
        $"max_rate", $"pass")
      .orderBy($"rule")
  }

  val schemaContractOracle: String =
    """WITH base AS (
      |  SELECT count(*) AS checked,
      |    sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS v1,
      |    sum(CASE WHEN user_id IS NULL OR user_id <= 0 THEN 1 ELSE 0 END) AS v3,
      |    sum(CASE WHEN event_type IS NULL OR event_type NOT IN
      |             ('view','click','purchase','signup','error')
      |        THEN 1 ELSE 0 END) AS v4,
      |    sum(CASE WHEN value < 0 OR value > 400 THEN 1 ELSE 0 END) AS v5,
      |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS v6,
      |    sum(CASE WHEN ts IS NULL
      |             OR CAST(ts AS TIMESTAMP) <  TIMESTAMP '2024-01-01'
      |             OR CAST(ts AS TIMESTAMP) >= TIMESTAMP '2027-01-01'
      |        THEN 1 ELSE 0 END) AS v7,
      |    sum(CASE WHEN props IS NULL
      |             OR NOT regexp_matches(props, '^\{"k": -?[0-9]+\}$')
      |        THEN 1 ELSE 0 END) AS v8
      |  FROM events),
      |uniq AS (
      |  SELECT sum(c) AS checked, sum(c) - count(*) AS violations
      |  FROM (SELECT event_id, count(*) AS c FROM events GROUP BY 1) g),
      |rules AS (
      |  SELECT 'r1_event_id_not_null' AS rule, v1 AS violations, checked FROM base
      |  UNION ALL SELECT 'r2_event_id_unique', violations, checked FROM uniq
      |  UNION ALL SELECT 'r3_user_id_valid',    v3, checked FROM base
      |  UNION ALL SELECT 'r4_type_in_domain',   v4, checked FROM base
      |  UNION ALL SELECT 'r5_value_in_range',   v5, checked FROM base
      |  UNION ALL SELECT 'r6_value_null_rate',  v6, checked FROM base
      |  UNION ALL SELECT 'r7_ts_in_window',     v7, checked FROM base
      |  UNION ALL SELECT 'r8_props_json_shape', v8, checked FROM base)
      |SELECT rule, CAST(checked AS BIGINT) AS checked,
      |       CAST(violations AS BIGINT) AS violations,
      |       CAST(round(CAST(CAST(violations AS DOUBLE)
      |                       / CAST(checked AS DOUBLE) AS DECIMAL(28,8)), 6)
      |            AS DOUBLE) AS violation_rate,
      |       CAST(CASE WHEN rule = 'r6_value_null_rate' THEN 0.01 ELSE 0.0 END
      |            AS DOUBLE) AS max_rate,
      |       CAST(round(CAST(CAST(violations AS DOUBLE)
      |                       / CAST(checked AS DOUBLE) AS DECIMAL(28,8)), 6)
      |            AS DOUBLE)
      |         <= CASE WHEN rule = 'r6_value_null_rate' THEN 0.01 ELSE 0.0 END AS pass
      |FROM rules ORDER BY rule""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("audit_schema_contract", Some(schemaContractOracle), schemaContract),
    Q("audit_fd_violations", Some(fdViolationsOracle), fdViolations),
    Q("audit_fd_incremental", Some(fdIncrementalOracle), fdIncremental),
    Q("audit_fd_discovery", Some(fdDiscoveryOracle), fdDiscovery),
    Q("audit_dependency_entropy", Some(dependencyEntropyOracle), dependencyEntropy),
    Q("audit_join_key_skew", Some(joinKeySkewOracle), joinKeySkew),
    Q("audit_salt_plan", Some(saltPlanOracle), (s, d) => saltPlan(s, d)),
    Q("audit_join_plan", Some(joinPlanOracle), joinPlan),
    Q("audit_snapshot_diff", Some(snapshotDiffOracle), snapshotDiff),
    Q("audit_hour_coverage", Some(hourCoverageOracle), hourCoverage),
    Q("audit_fd_conditional", Some(fdConditionalOracle), fdConditional),
    Q("audit_orders_constraints", Some(auditOrdersOracle), auditOrders),
    Q("audit_robust_outliers", Some(robustOutliersOracle), robustOutliers),
    Q("audit_column_stats", Some(columnStatsOracle), columnStats),
    Q("audit_k_anonymity", Some(kAnonymityOracle), (s, d) => kAnonymity(s, d)),
    Q("audit_l_diversity", Some(lDiversityOracle), (s, d) => lDiversity(s, d)),
    Q("audit_t_closeness", Some(tClosenessOracle), (s, d) => tCloseness(s, d)),
    Q("audit_dp_histogram", Some(dpHistogramOracle), (s, d) => dpHistogram(s, d)),
    Q("audit_referential_integrity", Some(referentialIntegrityOracle), referentialIntegrity),
    Q("audit_primary_keys", Some(primaryKeysOracle), primaryKeys))
}
