package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The reference's own query surface (SURVEY.md §2), re-expressed over the
  * driver's `events` table: projection+filter pushdown (P1/P2), pivot
  * aggregation (A2-A5), minute tumbling windows (§2.5/T7), sorts (O1-O3),
  * scalar functions (F1-F3, F8-F10).
  *
  * Reference sites cited per query. Scale posture: every query is one scan +
  * one hash-aggregate exchange; filters/projections reach the parquet reader
  * (PushedFilters / 2-col ReadSchema), matching the reference's explicit
  * pushdown design (reference airflow/dags/pipeline.py:135).
  */
object EventOps {

  /** Minute tumbling window × type counts — the reference's core semantics:
    * ClickHouse `toStartOfMinute` materialized column + minute partition key
    * (reference db/clickhouse_table_schema.sql:15,19). Minute rendered as a
    * string so both engines hash identically. */
  def minuteTypeCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(
        date_format(date_trunc("minute", $"ts"), "yyyy-MM-dd HH:mm").as("minute"),
        $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"minute", $"event_type")
  }

  val minuteTypeCountsOracle: String =
    """SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M') AS minute,
      |       event_type, CAST(count(*) AS BIGINT) AS cnt
      |FROM events GROUP BY 1, 2 ORDER BY minute, event_type""".stripMargin

  /** The flagship pivot report (reference airflow/dags/spark.py:27-32):
    * groupBy + pivot with an explicit value list + zero-fill, here day ×
    * event_type. Desugars to conditional counts — exactly what the oracle
    * SQL spells out. */
  def pivotDayType(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0)
      .orderBy($"day")
  }

  val pivotDayTypeOracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |  CAST(count(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
      |  CAST(count(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error,
      |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
      |  CAST(count(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
      |  CAST(count(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Projection + predicate, both pushed to the scan (reference P1/P5). */
  def filterProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_type" === "purchase" && $"value" > 100.0)
      .select($"event_id", $"user_id", $"value")
      .orderBy($"event_id")
  }

  val filterProjectOracle: String =
    """SELECT event_id, user_id, value FROM events
      |WHERE event_type = 'purchase' AND value > 100.0
      |ORDER BY event_id""".stripMargin

  /** JSON field extraction from the props column (reference F8/F9 analog).
    * regexp-based so the oracle needs no JSON extension. */
  def jsonExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        regexp_extract($"props", "\"k\": *([0-9]+)", 1).cast("int").as("k"))
      .orderBy($"event_id")
  }

  val jsonExtractOracle: String =
    """SELECT event_id,
      |       CAST(NULLIF(regexp_extract(props, '"k": *([0-9]+)', 1), '') AS INT) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** Point lookup by id (reference P4, db/tests/test_clickhouse_schema.py:
    * 62-64). At scale: parquet row-group min/max statistics skip non-
    * matching groups; over the sorted warehouse it is near-index access. */
  def pointLookup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" === 500L)
      .select($"event_id", $"user_id", $"event_type", $"value")
  }

  val pointLookupOracle: String =
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id = 500""".stripMargin

  /** Per-user aggregate profile (A1/A2/A5 shapes + distinct). */
  def userStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // avg_value is computed in exact integer cents: the true average of
    // 2-decimal money values lands EXACTLY on the 4-dp rounding boundary
    // whenever the cent total is divisible just so (3118.29/56 = 55.68375),
    // and fp noise then flips the rounding direction differently per
    // engine. floor((cents*2*10^4 + n) / (2n)) is half-up in pure integer
    // arithmetic — bit-identical everywhere.
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(
        count(lit(1)).as("cnt"),
        round(sum($"value"), 2).as("total_value"),
        round(sum($"value") * 100).cast("long").as("cents"),
        countDistinct($"event_type").as("type_cnt"))
      // scaled4 = avg_dollars·10⁴ = cents·100/cnt → half-up via
      // floor((cents·200 + cnt) / (2·cnt)). (A first version used
      // cents·20000, which computes average CENTS — 100× off — and the
      // oracle replicated the same formula, so the differential check was
      // blind to it. Keep the two sides' formulas independently derived.)
      .withColumn("avg_value",
        expr("(cents * 200 + cnt) div (2 * cnt)").cast("double") / 10000)
      .select($"user_id", $"cnt", $"total_value", $"avg_value", $"type_cnt")
      .orderBy($"user_id")
  }

  val userStatsOracle: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(sum(value) AS DOUBLE), 2) AS total_value,
      |       CAST((CAST(round(sum(value) * 100) AS BIGINT) * 200 + count(*))
      |            // (2 * count(*)) AS DOUBLE) / 10000 AS avg_value,
      |       CAST(count(DISTINCT event_type) AS BIGINT) AS type_cnt
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** collect_set / array functions with a portable oracle: the distinct
    * event types per user, sorted and rendered as one string (array-typed
    * outputs compare unreliably across engines; strings always hash). */
  def typeSetPerUser(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(concat_ws(",", array_sort(collect_set($"event_type"))).as("types"))
      .orderBy($"user_id")
  }

  val typeSetPerUserOracle: String =
    """SELECT user_id,
      |  array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hour-of-day histogram (F1-style date part extraction). */
  def hourHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(hour($"ts").as("hour_of_day"))
      .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"hour_of_day")
  }

  val hourHistogramOracle: String =
    """SELECT CAST(hour(ts) AS INT) AS hour_of_day,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
      |FROM events GROUP BY 1 ORDER BY hour_of_day""".stripMargin

  /** Batch form of the streaming tumbling window: `window(ts, "1 hour")`
    * (SURVEY.md §2.5/T7) — the same operator Structured Streaming uses,
    * oracle-checked against date_trunc. */
  def tumblingHourly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("total_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm").as("hour_start"),
        $"event_type", $"cnt", $"total_value")
      .orderBy($"hour_start", $"event_type")
  }

  val tumblingHourlyOracle: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour_start,
      |       event_type, CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(sum(value) AS DOUBLE), 2) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin

  /** Funnel conversion — the reference's own e-commerce domain: users who
    * viewed, then clicked after their first view, then purchased after
    * their first post-view click. Each stage is a min-aggregation + equi-
    * join (no window over the whole history), so the funnel scales as
    * ordinary shuffles. */
  def funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("vt"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts" > $"vt")
      .groupBy($"user_id").agg(min($"ts").as("ct"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts" > $"ct")
      .select($"user_id").distinct()
      .withColumn("pf", lit(1))
    // stage flags joined per user, one conditional aggregate — no single-row
    // cross joins (which plan as nested loops and trip the plan audit)
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .agg(
        count($"vt").as("viewed"),
        count($"ct").as("clicked_after_view"),
        count($"pf").as("purchased_after_click"))
  }

  val funnelOracle: String =
    """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS vt
      |           FROM events WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS ct
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.vt
      |      GROUP BY e.user_id),
      |p AS (SELECT DISTINCT e.user_id
      |      FROM events e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.ct)
      |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS viewed,
      |       CAST((SELECT count(*) FROM c) AS BIGINT) AS clicked_after_view,
      |       CAST((SELECT count(*) FROM p) AS BIGINT) AS purchased_after_click"""
      .stripMargin

  /** Deterministic mode: each user's most frequent event type (ties broken
    * alphabetically — built-in mode() breaks ties arbitrarily per engine,
    * so it is expressed as count + ranked window instead). */
  def topTypePerUser(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val counts = Tables.events(s, d)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"cnt".desc, $"event_type")
    counts.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id", $"event_type".as("top_type"), $"cnt")
      .orderBy($"user_id")
  }

  val topTypePerUserOracle: String =
    """SELECT user_id, event_type AS top_type, cnt FROM (
      |  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY count(*) DESC, event_type) AS rn
      |  FROM events GROUP BY user_id, event_type) t
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Map-typed column construction: per user, a type→count map flattened
    * to its sorted key list + total — the relational form of the
    * reference's A7 driver-side dict build. The map itself is internal;
    * the OUTPUT is scalar, so this is oracle-checkable after all
    * (round-3: was rows-only). */
  def typeCountMap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id")
      .agg(map_from_entries(array_sort(collect_list(struct($"event_type", $"cnt"))))
        .as("type_counts"))
      .select($"user_id",
        concat_ws(",", map_keys($"type_counts")).as("types"),
        aggregate(map_values($"type_counts"), lit(0L), (a, x) => a + x).as("total"))
      .orderBy($"user_id")
  }

  val typeCountMapOracle: String =
    """SELECT user_id,
      |  string_agg(event_type, ',' ORDER BY event_type) AS types,
      |  CAST(sum(cnt) AS BIGINT) AS total
      |FROM (SELECT user_id, event_type, count(*) AS cnt
      |      FROM events GROUP BY user_id, event_type) t
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Daily active users + event volume. */
  def dailyActiveUsers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(countDistinct($"user_id").as("dau"), count(lit(1)).as("events"))
      .orderBy($"day")
  }

  val dailyActiveUsersOracle: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day,
      |       CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
      |       CAST(count(*) AS BIGINT) AS events
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Weekly cohort retention: users active k weeks after their first
    * event. Two aggregations + one equi-join — no per-user windows over
    * full history, so the shape holds at any scale. */
  def retention(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val first = ev.groupBy($"user_id").agg(min($"ts").as("ft"))
    ev.join(first, "user_id")
      .select($"user_id",
        floor(datediff(to_date($"ts"), to_date($"ft")) / 7).cast("int").as("week_offset"))
      .distinct()
      .groupBy($"week_offset")
      .agg(count(lit(1)).as("active_users"))
      .orderBy($"week_offset")
  }

  val retentionOracle: String =
    """WITH fst AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS ft
      |             FROM events GROUP BY user_id),
      |act AS (SELECT DISTINCT e.user_id,
      |          CAST(floor(datediff('day', CAST(f.ft AS DATE), CAST(e.ts AS DATE))
      |               / 7) AS INT) AS week_offset
      |        FROM events e JOIN fst f ON e.user_id = f.user_id)
      |SELECT week_offset, CAST(count(*) AS BIGINT) AS active_users
      |FROM act GROUP BY week_offset ORDER BY week_offset""".stripMargin

  /** Value histogram with fixed-width bins (floor division — portable,
    * unlike width_bucket). */
  def valueHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy((floor($"value" / 50) * 50).cast("int").as("bin_lo"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy($"bin_lo")
  }

  val valueHistogramOracle: String =
    """SELECT CAST(floor(value / 50) * 50 AS INT) AS bin_lo,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM events GROUP BY 1 ORDER BY bin_lo""".stripMargin

  /** Composite: top spender per hour — time bucketing + aggregation +
    * ranked window + filter in one plan. */
  def topUserPerHour(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val hourly = Tables.events(s, d)
      .groupBy(
        date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm").as("hr"),
        $"user_id")
      .agg(round(sum($"value"), 2).as("spend"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"hr").orderBy($"spend".desc, $"user_id")
    hourly.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"hr", $"user_id", $"spend")
      .orderBy($"hr")
  }

  val topUserPerHourOracle: String =
    """SELECT hr, user_id, spend FROM (
      |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
      |                  '%Y-%m-%d %H:%M') AS hr,
      |         user_id, round(CAST(sum(value) AS DOUBLE), 2) AS spend,
      |         row_number() OVER (
      |           PARTITION BY strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
      |                                 '%Y-%m-%d %H:%M')
      |           ORDER BY round(CAST(sum(value) AS DOUBLE), 2) DESC, user_id) AS rn
      |  FROM events
      |  GROUP BY 1, 2) t
      |WHERE rn = 1 ORDER BY hr""".stripMargin

  /** Sliding window (5-minute windows sliding by 1 minute): each event
    * lands in 5 overlapping windows — Spark's window() replicates rows to
    * their windows; the oracle does the same with an explicit unnest cross
    * join. The streaming twin is the same expression under readStream. */
  def slidingWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy(window($"ts", "5 minutes", "1 minute"), $"event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm").as("win_start"),
        $"event_type", $"cnt")
      .orderBy($"win_start", $"event_type")
  }

  val slidingWindowOracle: String =
    """SELECT strftime(date_trunc('minute', CAST(ts AS TIMESTAMP))
      |         - to_minutes(k), '%Y-%m-%d %H:%M') AS win_start,
      |       event_type, CAST(count(*) AS BIGINT) AS cnt
      |FROM events, (SELECT unnest([0, 1, 2, 3, 4]) AS k) ks
      |GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** The reference's Tehran-timezone minute file naming quirk (SURVEY.md F3,
    * reference airflow/dags/pipeline.py:130-131): previous minute rendered in
    * Asia/Tehran (UTC+3:30, no DST since 2022) as yyyy-MM-dd_HH-mm. The
    * oracle uses the fixed +03:30 offset — valid for the 2024 event range. */
  def tehranMinuteName(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        date_format(
          from_utc_timestamp($"ts", "Asia/Tehran") - expr("INTERVAL 1 MINUTE"),
          "yyyy-MM-dd_HH-mm").as("minute_file"))
      .orderBy($"event_id")
  }

  val tehranMinuteNameOracle: String =
    """SELECT event_id,
      |  strftime(ts + INTERVAL 210 MINUTE - INTERVAL 1 MINUTE,
      |           '%Y-%m-%d_%H-%M') AS minute_file
      |FROM events ORDER BY event_id""".stripMargin

  /** The reference's flagship workload at its published scale (BASELINE.md:
    * 5,805 events in the sample minute, analyzed in 22.16 s by the
    * reference's spark-submit job): seeded generation of one minute at that
    * rate + the pivot report, warm-session. The per-query bench time is the
    * direct baseline comparison. Oracle: the generator is seeded and
    * deterministic, so the pivoted report is a fixed 5-row table — pinned
    * as a VALUES golden (committed below), which hash-checks the whole
    * generate → pivot → zero-fill chain every round. */
  def refMinuteReport(s: SparkSession, d: String): DataFrame = {
    val events = graft.reference.Events.generate(
      s, 5805, 1704067200000L, intervalMs = 10, errorProb = 0.241)
    graft.reference.MinuteReport.pivotCounts(events)
  }

  /** The same pivot over the driver's `events` TABLE (any sf), with a
    * status derived from a value threshold so both pivot columns populate
    * per type — the flagship's A2/A3/A4 semantics (explicit pivot value
    * list, zero-fill, type ordering) against a true conditional-count
    * DuckDB oracle on real table data, which the seeded-generator twin
    * above cannot give (SURVEY §7.4 item 5's pivot→conditional-count
    * rewrite; round-6 verdict "Next round" #1). */
  def refMinuteReportSql(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val withStatus = Tables.events(s, d).withColumn("status",
      when($"value" < 25.0, lit("ERROR")).otherwise(lit("SUCCESS")))
    graft.reference.MinuteReport.pivotCounts(withStatus)
  }

  val refMinuteReportSqlOracle: String =
    """SELECT event_type,
      |  CAST(count(CASE WHEN value < 25.0 THEN 1 END) AS BIGINT) AS ERROR,
      |  CAST(count(CASE WHEN value >= 25.0 THEN 1 END) AS BIGINT) AS SUCCESS
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Hourly OHLC bars over the event value — the time-series shape every
    * metrics/market pipeline derives. Open/close are pinned by the TOTAL
    * order (ts, event_id) via per-hour window row numbers — deterministic
    * under ts ties, and both windows are PARTITIONED by the hour, so each
    * hour sorts independently in parallel (no global sort; at 100 TB the
    * hour is also the natural partition-pruning key). */
  def hourlyOhlc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val hr = date_format(date_trunc("hour", $"ts"), "yyyy-MM-dd HH:mm")
    val wAsc = Window.partitionBy($"hour_start").orderBy($"ts", $"event_id")
    val wDesc = Window.partitionBy($"hour_start").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d)
      .withColumn("hour_start", hr)
      .withColumn("rn_a", row_number().over(wAsc))
      .withColumn("rn_d", row_number().over(wDesc))
      .groupBy($"hour_start")
      .agg(
        round(max(when($"rn_a" === 1, $"value")), 2).as("open"),
        round(max($"value"), 2).as("high"),
        round(min($"value"), 2).as("low"),
        round(max(when($"rn_d" === 1, $"value")), 2).as("close"),
        count(lit(1)).as("n"))
      .orderBy($"hour_start")
  }

  val hourlyOhlcOracle: String =
    """WITH ranked AS (
      |  SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M') AS hour_start,
      |         value,
      |         row_number() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP))
      |                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn_a,
      |         row_number() OVER (PARTITION BY date_trunc('hour', CAST(ts AS TIMESTAMP))
      |                            ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn_d
      |  FROM events)
      |SELECT hour_start,
      |  round(CAST(max(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE), 2) AS open,
      |  round(CAST(max(value) AS DOUBLE), 2) AS high,
      |  round(CAST(min(value) AS DOUBLE), 2) AS low,
      |  round(CAST(max(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE), 2) AS close,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM ranked GROUP BY hour_start ORDER BY hour_start""".stripMargin

  /** Trailing 1-hour running sum per user — a RANGE window frame over
    * event TIME (not row count): every event sees the sum of its user's
    * values in the preceding hour. Frames keyed on the order VALUE mean
    * ties (same second) share a frame, so the result is deterministic
    * without a tiebreak. Partitioned by user — parallel per-user sorts,
    * no global window. */
  def trailing1hSum(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"sec")
      .rangeBetween(-3600, Window.currentRow)
    Tables.events(s, d)
      .withColumn("sec", unix_timestamp($"ts"))
      .select($"event_id", $"user_id",
        round(sum($"value").over(w), 2).as("trailing_1h_sum"))
      .orderBy($"event_id")
  }

  val trailing1hSumOracle: String =
    """SELECT event_id, user_id,
      |  round(CAST(sum(value) OVER (PARTITION BY user_id
      |    ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
      |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
      |    AS trailing_1h_sum
      |FROM events ORDER BY event_id""".stripMargin

  /** Heavy hitters via the count-min sketch aggregator: ONE pass builds a
    * constant-size (~22 KB) sketch of the user activity distribution; the
    * candidate keys (the distinct-user relation) are then scored
    * DISTRIBUTED against a broadcast of the sketch and the top k read out
    * via orderBy+limit — which plans as TakeOrderedAndProject, so the
    * driver only ever receives k rows plus the 22 KB sketch. At 100 TB the
    * sketch replaces a full per-key shuffle with an algebraic aggregate
    * whose partials are a fixed 22 KB per task, and the candidate sweep is
    * a narrow map over however many distinct keys exist — no driver-side
    * collect anywhere (CountMinSpec asserts the TakeOrderedAndProject plan).
    * Rows-only check (estimates are approximate by design; CountMinSpec
    * pins the ε-bound against exact counts). */
  def userCmsTopK(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    import s.implicits._
    import graft.functions.CountMinAggregator
    val users = Tables.events(s, d).select($"user_id".cast("string").as("u"))
    val sketch: Array[Byte] = users.as[String]
      .select(new CountMinAggregator.CountMin().toColumn).head()
    val bcSketch = s.sparkContext.broadcast(sketch)
    // @transient lazy: each task deserializes the 22 KB sketch ONCE from
    // the broadcast, then scores its rows against the decoded matrix —
    // per-row readFrom would re-parse the sketch N times.
    val scorer = new CountMinAggregator.BroadcastEstimator(bcSketch)
    val estUdf = udf((u: String) => scorer(u))
    users.distinct()
      .select($"u".cast("long").as("user_id"), estUdf($"u").as("est_cnt"))
      .orderBy($"est_cnt".desc, $"user_id")
      .limit(k)
  }

  /** Per-type value quantiles via Spark's built-in `percentile_approx`:
    * one pass, a bounded approximate-percentile summary per group instead
    * of a full per-group sort — the bounded-state quantile shape for a
    * 100 TB column (beside HLL for distinct counts and CMS for
    * frequencies; exact distributed ranks live in RankStats when the
    * error bound must be zero). The estimates depend on merge order
    * within the rank-error bound, so the registered query is the shared
    * [[QuantileGuard]] harness (exact discrete quantiles + realized-rank
    * ≤ 0.02 flag — see its Scaladoc for why this is hash-gateable while
    * the raw estimates are not); TDigestSpec pins the 1% bound. The
    * registry keeps its historical name, agg_tdigest_check. */
  def tdigestCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val est = Tables.events(s, d)
      .select($"event_type", $"value").na.drop()
      .groupBy($"event_type")
      .agg(percentile_approx($"value", typedlit(Seq(0.5, 0.9, 0.99)), lit(10000)).as("qs"))
      .select($"event_type", $"qs"(0).as("e50"), $"qs"(1).as("e90"), $"qs"(2).as("e99"))
    QuantileGuard.check(s, d, est)
  }

  val tdigestCheckOracle: String = QuantileGuard.oracleSql

  /** Clickstream path analysis: the top-k most common event-type
    * SEQUENCES per (user, day) session — the funnel-discovery readout
    * (which journeys actually happen) that sits one level above
    * [[markovTransitions]]' pairwise matrix: a path is an ordered k-gram
    * of the whole session, not a bigram.
    *
    * Scale shape: one shuffle on the session key. A path only reads the
    * FIRST `maxLen` events of a session, so the plan truncates BEFORE
    * aggregating: a per-session `row_number ≤ maxLen` window (same key as
    * the groupBy — Catalyst reuses the exchange) bounds both the rows
    * entering the aggregate and the per-group state at `maxLen` structs,
    * making a pathological always-on key cost the same as any other. The
    * order is total ((ts, event_id) — event_id breaks timestamp ties),
    * so both engines build identical paths; the final top-k is
    * `TakeOrdered` with the path string as tiebreak. */
  def topPaths(s: SparkSession, d: String,
      maxLen: Int = 8, k: Int = 20): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id", $"day")
      .orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", to_date($"ts").as("day"),
        $"ts", $"event_id", $"event_type")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= maxLen)
      .groupBy($"user_id", $"day")
      .agg(sort_array(collect_list(
        struct($"ts", $"event_id", $"event_type"))).as("seq"))
      .select(concat_ws(">",
        expr("transform(seq, x -> x.event_type)")).as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n_sessions"))
      .orderBy($"n_sessions".desc, $"path".asc).limit(k)
  }

  val topPathsOracle: String =
    """WITH p AS (
      |  SELECT array_to_string(
      |           list_slice(list(event_type ORDER BY ts, event_id), 1, 8),
      |           '>') AS path
      |  FROM events GROUP BY user_id, CAST(ts AS DATE))
      |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
      |FROM p GROUP BY path
      |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("ev_top_paths", Some(topPathsOracle), (s, d) => topPaths(s, d)),
    // approximate quantiles: the raw estimates are merge-order-sensitive
    // within the rank-error bound, so the REGISTERED entry is the
    // rank-guarded check, whose exact discrete quantiles +
    // |rank(est)−q| ≤ 0.02 flag ARE deterministic and DuckDB-replayable
    Q("agg_tdigest_check", Some(tdigestCheckOracle), tdigestCheck),
    Q("ref_minute_report", Some(Golden.refMinuteReportValues), refMinuteReport),
    Q("ref_minute_report_sql", Some(refMinuteReportSqlOracle), refMinuteReportSql),
    Q("ev_hourly_ohlc", Some(hourlyOhlcOracle), hourlyOhlc),
    Q("ev_trailing_1h_sum", Some(trailing1hSumOracle), trailing1hSum),
    // Invariant twin: the top-10 selection stays golden-pinned, but each
    // estimate is sandwiched against the EXACT per-user count recomputed
    // from the events table — the CMS guarantee (est ≥ exact, and within
    // the sketch's ε·N = 0.005·N slack on this pinned data). A violating
    // estimate collapses to -1 in the oracle and fails the hash compare.
    Q("ev_user_cms_topk", Some(
      s"""WITH ex AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
         |n AS (SELECT count(*) AS n FROM events),
         |g AS (${Golden.dispatch("ev_user_cms_topk")})
         |SELECT g.user_id,
         |       CASE WHEN g.est_cnt >= ex.c
         |             AND g.est_cnt <= ex.c + CAST(ceil(0.005 * n.n) AS BIGINT)
         |            THEN g.est_cnt ELSE -1 END AS est_cnt
         |FROM g JOIN ex USING (user_id) CROSS JOIN n ORDER BY g.__row""".stripMargin),
      (s, d) => userCmsTopK(s, d)),
    Q("ev_minute_type_counts", Some(minuteTypeCountsOracle), minuteTypeCounts),
    Q("ev_pivot_day_type", Some(pivotDayTypeOracle), pivotDayType),
    Q("ev_filter_project", Some(filterProjectOracle), filterProject),
    Q("ev_point_lookup", Some(pointLookupOracle), pointLookup),
    Q("ev_json_extract", Some(jsonExtractOracle), jsonExtract),
    Q("ev_user_stats", Some(userStatsOracle), userStats),
    Q("ev_type_set_per_user", Some(typeSetPerUserOracle), typeSetPerUser),
    Q("ev_hour_histogram", Some(hourHistogramOracle), hourHistogram),
    Q("ev_tumbling_hourly", Some(tumblingHourlyOracle), tumblingHourly),
    Q("ev_sliding_window", Some(slidingWindowOracle), slidingWindow),
    Q("ev_top_user_per_hour", Some(topUserPerHourOracle), topUserPerHour),
    Q("ev_funnel", Some(funnelOracle), funnel),
    Q("ev_retention", Some(retentionOracle), retention),
    Q("ev_daily_active_users", Some(dailyActiveUsersOracle), dailyActiveUsers),
    Q("ev_top_type_per_user", Some(topTypePerUserOracle), topTypePerUser),
    Q("ev_type_count_map", Some(typeCountMapOracle), typeCountMap),
    Q("ev_value_histogram", Some(valueHistogramOracle), valueHistogram),
    Q("ev_tehran_minute_name", Some(tehranMinuteNameOracle), tehranMinuteName),
    Q("ev_markov_transitions", Some(EventPathOps.markovTransitionsOracle),
      EventPathOps.markovTransitions),
    Q("ev_rfm_segments", Some(EventPathOps.rfmSegmentsOracle),
      EventPathOps.rfmSegments),
    Q("ev_pareto_profile", Some(EventPathOps.paretoProfileOracle),
      EventPathOps.paretoProfile))
}

/** Sequence/path analysis over per-user event histories. */
object EventPathOps {

  /** Next-event Markov transition matrix: for each (event_type →
    * next_type) pair, the transition count and row-conditional
    * probability P(next | current) over per-user event sequences — the
    * sequence/path-analysis primitive behind "what do users do after X"
    * questions and behavioral anomaly baselines.
    *
    * Scale shape: ONE shuffle keyed on user_id for the lead() window (the
    * sessionize partitioning — user histories are bounded), then the
    * pair aggregation map-side-combines to |types|² rows; the conditional
    * normalization is a window over those ≤|types|² rows, not the event
    * stream. Deterministic: (ts, event_id) total order within a user. */
  def markovTransitions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("next_type", lead($"event_type", 1).over(seq))
      .filter($"next_type".isNotNull)
      .groupBy($"event_type", $"next_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round($"n" / sum($"n").over(Window.partitionBy($"event_type")), 6))
      .orderBy($"event_type", $"next_type")
  }

  val markovTransitionsOracle: String =
    """WITH seq AS (SELECT user_id, event_type,
      |                    lead(event_type) OVER (PARTITION BY user_id
      |                                           ORDER BY ts, event_id) AS next_type
      |             FROM events),
      |t AS (SELECT event_type, next_type, count(*) AS n
      |      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, CAST(n AS BIGINT) AS n,
      |       CAST(round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6)
      |            AS DOUBLE) AS p
      |FROM t ORDER BY event_type, next_type""".stripMargin

  /** RFM user segmentation — the classic behavioral-value readout
    * (recency / frequency / monetary quintiles, segment = "RFM" digits).
    *
    * The quintiles come from [[RankStats]]' range-bucketed global row
    * numbers + the SQL-standard NTILE formula — the scalable total-order
    * machinery, never an unpartitioned window (an `ntile(5) OVER (ORDER
    * BY …)` on a raw 100 TB user table is the single-partition-sort
    * scale-killer; the oracle uses exactly that on DuckDB's side, which
    * is the point — same semantics, different physical plan).
    *
    * Cross-engine determinism: monetary sums quantize per-row to
    * DECIMAL(18,6) (exact, order-independent) and every ntile order
    * carries a user_id tiebreak, so tile boundaries cannot wobble. */
  def rfmSegments(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    // bounded driver scalar: the corpus's reference "now"
    val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
    val user = ev.groupBy($"user_id").agg(
      datediff(lit(maxTs).cast("date"), max($"ts").cast("date"))
        .cast("int").as("recency_days"),
      count(lit(1)).as("frequency"),
      sum($"value".cast("decimal(18,6)")).cast("double").as("mon_exact"))
    def tile(df: DataFrame, vCol: String, asc: Boolean, out: String) =
      RankStats.withGlobalRowNumber(df, vCol, asc, Seq("user_id"))
        .withColumn(out,
          RankStats.ntileFromRowNumber($"__rn", $"__n", 5).cast("int"))
        .drop("__rn", "__n")
    val scored = tile(tile(tile(user,
      "recency_days", asc = true, "r_tile"),
      "frequency", asc = false, "f_tile"),
      "mon_exact", asc = false, "m_tile")
    scored.select($"user_id", $"recency_days", $"frequency",
      round($"mon_exact", 2).as("monetary"),
      $"r_tile", $"f_tile", $"m_tile",
      concat($"r_tile".cast("string"), $"f_tile".cast("string"),
        $"m_tile".cast("string")).as("segment"))
      .orderBy($"user_id")
  }

  val rfmSegmentsOracle: String =
    """WITH mx AS (SELECT max(ts) AS mts FROM events),
      |u AS (SELECT user_id,
      |             CAST(date_diff('day', CAST(max(ts) AS DATE),
      |                  CAST((SELECT mts FROM mx) AS DATE)) AS INT) AS recency_days,
      |             count(*) AS frequency,
      |             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS mon_exact
      |      FROM events GROUP BY user_id),
      |t AS (SELECT *,
      |             ntile(5) OVER (ORDER BY recency_days, user_id) AS r_tile,
      |             ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_tile,
      |             ntile(5) OVER (ORDER BY mon_exact DESC, user_id) AS m_tile
      |      FROM u)
      |SELECT user_id, recency_days, CAST(frequency AS BIGINT) AS frequency,
      |       CAST(round(mon_exact, 2) AS DOUBLE) AS monetary,
      |       CAST(r_tile AS INT) AS r_tile, CAST(f_tile AS INT) AS f_tile,
      |       CAST(m_tile AS INT) AS m_tile,
      |       CAST(r_tile AS VARCHAR) || CAST(f_tile AS VARCHAR)
      |         || CAST(m_tile AS VARCHAR) AS segment
      |FROM t ORDER BY user_id""".stripMargin

  /** Activity-concentration (Pareto/Lorenz) profile: users bucketed into
    * activity deciles (most-active first, RankStats global tiles — no
    * single-partition sort over the user table), then each decile's event
    * share and the cumulative share — the "what fraction of users drives
    * 80% of traffic" readout, and for a corpus the long-tail evidence
    * behind source-cap / temperature-mixing decisions. The cumulative
    * window runs over the 10-row DECILE table, not the user table. */
  def paretoProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val user = Tables.events(s, d)
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val tiled = RankStats.withGlobalRowNumber(user, "n", asc = false, Seq("user_id"))
      .withColumn("decile",
        RankStats.ntileFromRowNumber($"__rn", $"__n", 10).cast("int"))
    // The 10-row decile census comes back to the driver (bounded by
    // construction — the psiValueDrift grid idiom) and the Lorenz shares
    // are plain Scala over it: a constant-partition window here would
    // constant-fold to an UNPARTITIONED WindowExec and run — harmlessly,
    // but indistinguishably in the logs from the real scale-killer that
    // plan hygiene forbids. round semantics mirror Spark's Round
    // (shortest-decimal BigDecimal, HALF_UP).
    val g = tiled.groupBy($"decile")
      .agg(count(lit(1)).as("n_users"), sum($"n").as("events"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = g.map(_._3).sum.toDouble
    def r4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val cum = g.scanLeft(0L)(_ + _._3).tail
    s.createDataFrame(g.zip(cum).map { case ((dec, nu, ev), c) =>
      (dec, nu, ev, r4(ev.toDouble / total), r4(c.toDouble / total))
    }.toSeq).toDF("decile", "n_users", "events", "share", "cum_share")
  }

  val paretoProfileOracle: String =
    """WITH u AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
      |t AS (SELECT n, ntile(10) OVER (ORDER BY n DESC, user_id) AS decile FROM u),
      |g AS (SELECT decile, count(*) AS n_users, sum(n) AS events
      |      FROM t GROUP BY 1)
      |SELECT decile, CAST(n_users AS BIGINT) AS n_users,
      |       CAST(events AS BIGINT) AS events,
      |       CAST(round(CAST(events AS DOUBLE) / sum(events) OVER (), 4)
      |            AS DOUBLE) AS share,
      |       CAST(round(CAST(sum(events) OVER (ORDER BY decile
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                    AS DOUBLE) / sum(events) OVER (), 4) AS DOUBLE) AS cum_share
      |FROM g ORDER BY decile""".stripMargin
}
