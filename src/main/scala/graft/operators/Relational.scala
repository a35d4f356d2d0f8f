package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational operator surface over the TPC-H-ish star schema: scans with
  * pushdown, multi-way joins (broadcast + shuffle), semi/anti joins, grouped /
  * rollup / cube / distinct aggregation, window functions, set ops, top-k.
  *
  * The reference pipeline itself has no joins (SURVEY.md §2.3) — this is the
  * M4 extension surface of SURVEY.md §7.2, built Spark-first.
  *
  * Scale notes (100 TB posture):
  *  - dimension tables (region/nation/supplier/part/customer) are explicitly
  *    `broadcast()` so the big fact scans never shuffle for them;
  *  - fact-fact joins (orders ⋈ lineitem) are plain equi-joins — Catalyst
  *    picks sort-merge with AQE skew handling; both sides shuffle on the join
  *    key once and the aggregation reuses that partitioning where possible;
  *  - filters are applied before joins so they push into the parquet scan
  *    (`PushedFilters` in explain output);
  *  - top-k uses orderBy+limit which Spark executes as TakeOrderedAndProject
  *    (per-partition heap, no global sort).
  */
object Relational {

  /** TPC-H Q1-style pricing summary: the flagship aggregation.
    * Single scan → partial/final hash aggregate; no shuffle besides the
    * 4-group exchange. (Reference's own flagship agg is spark.py:27-33.)
    */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_extendedprice"), 4).as("avg_price"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
      | round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
      | round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
      | round(CAST(sum(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)) AS DOUBLE), 2) AS sum_charge,
      | CAST(round(CAST(avg(l_quantity) AS DECIMAL(18,8)), 4) AS DOUBLE) AS avg_qty,
      | CAST(round(CAST(avg(l_extendedprice) AS DECIMAL(18,8)), 4) AS DOUBLE) AS avg_price,
      | CAST(round(CAST(avg(l_discount) AS DECIMAL(18,8)), 4) AS DOUBLE) AS avg_disc,
      | CAST(count(*) AS BIGINT) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** TPC-H Q3-style shipping-priority top-k: broadcast dim ⋈ fact ⋈ fact,
    * aggregate, top-10. Customer is broadcast; orders⋈lineitem sort-merges
    * on the order key.
    */
  def q3TopRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
    val ord  = Tables.orders(s, d).filter($"o_orderdate" < to_timestamp(lit("1998-01-01 00:00:00")))
    val li   = Tables.lineitem(s, d).filter($"l_shipdate" > to_timestamp(lit("1998-01-01 00:00:00")))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .select($"l_orderkey", $"revenue",
        date_format($"o_orderdate", "yyyy-MM-dd").as("orderdate"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT l_orderkey,
      | round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS revenue,
      | strftime(o_orderdate, '%Y-%m-%d') AS orderdate
      |FROM customer, orders, lineitem
      |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      |  AND l_orderkey = o_orderkey
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** TPC-H Q5-style local-supplier volume: 6-way join, every dimension
    * broadcast, facts sort-merge once on the order key.
    */
  def q5LocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val region = Tables.region(s, d).filter($"r_name" === "ASIA")
    val nation = Tables.nation(s, d)
    val cust   = Tables.customer(s, d)
    val supp   = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
      .filter($"o_orderdate" >= to_timestamp(lit("1996-01-01 00:00:00")) &&
              $"o_orderdate" <  to_timestamp(lit("1998-01-01 00:00:00")))
    val li = Tables.lineitem(s, d)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  val q5Oracle: String =
    """SELECT n_name,
      | round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS revenue
      |FROM customer, orders, lineitem, supplier, nation, region
      |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      |  AND r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q7-style bilateral volume: revenue between customer-nation and
    * supplier-nation pairs per year. Two independent nation lookups
    * (broadcast twice under different aliases) over one fact join. */
  def q7NationVolume(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val custNation = Tables.nation(s, d)
      .select($"n_nationkey".as("cn_key"), $"n_name".as("cust_nation"))
    val suppNation = Tables.nation(s, d)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("supp_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(Tables.customer(s, d)), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.supplier(s, d)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(custNation), $"c_nationkey" === $"cn_key")
      .join(broadcast(suppNation), $"s_nationkey" === $"sn_key")
      .filter($"cust_nation" =!= $"supp_nation")
      .groupBy($"cust_nation", $"supp_nation",
        year($"l_shipdate").cast("int").as("l_year"))
      // revenue in exact integer 1e-4-dollar units, then half-up to cents:
      // price×(1−disc) is an exact 4-decimal rational, and with ~1,400
      // small groups the group sums tie at the cent boundary routinely —
      // fp rounding would flip differently per engine (see userStats).
      .agg(sum(round($"l_extendedprice" * 100).cast("long") *
        round((lit(1.0) - $"l_discount") * 100).cast("long")).as("u"))
      .select($"cust_nation", $"supp_nation", $"l_year",
        (expr("(u + 50) div 100").cast("double") / 100).as("revenue"))
      .orderBy($"cust_nation", $"supp_nation", $"l_year")
  }

  val q7Oracle: String =
    """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
      |       CAST(year(l_shipdate) AS INT) AS l_year,
      |       CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |                 CAST(round((1.0 - l_discount) * 100) AS BIGINT)) + 50)
      |            // 100 AS DOUBLE) / 100 AS revenue
      |FROM lineitem, orders, customer, supplier, nation n1, nation n2
      |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      |  AND l_suppkey = s_suppkey
      |  AND c_nationkey = n1.n_nationkey AND s_nationkey = n2.n_nationkey
      |  AND n1.n_name <> n2.n_name
      |GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT)
      |ORDER BY cust_nation, supp_nation, l_year""".stripMargin

  /** TPC-H Q14-style promo revenue share: conditional aggregate over a
    * fact ⋈ broadcast-dim join. */
  def q14PromoShare(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)), $"l_partkey" === $"p_partkey")
      .agg(round(
        sum(when($"p_type".startsWith("PROMO"),
          $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)) * 100.0 /
          sum($"l_extendedprice" * (lit(1.0) - $"l_discount")),
        4).as("promo_revenue_pct"))
  }

  val q14Oracle: String =
    """SELECT round(CAST(
      |  100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
      |              THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END) /
      |  sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 4)
      |  AS promo_revenue_pct
      |FROM lineitem, part WHERE l_partkey = p_partkey""".stripMargin

  /** Explicit shuffle-hash join (strategy control surface): same semantics
    * as the sort-merge default, planned as ShuffledHashJoin via hint —
    * the right call when one side is too big to broadcast but small enough
    * to hash per partition (skips both sort passes). */
  def joinShuffleHash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).hint("shuffle_hash")
      .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("line_cnt"),
        round(sum($"l_quantity"), 2).as("total_qty"))
      .orderBy($"o_orderpriority")
  }

  val joinShuffleHashOracle: String =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS line_cnt,
      |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS total_qty
      |FROM orders, lineitem WHERE o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Left outer join preserving empty groups: order count per customer,
    * customers with no orders surface as 0. */
  def joinLeftOrderCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("order_cnt"))
      .orderBy($"c_custkey")
  }

  val joinLeftOracle: String =
    """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS order_cnt
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin

  /** Full outer join: nations by customer/supplier presence — rows survive
    * from either side (the one outer-join shape not covered elsewhere). */
  def joinFullOuterNations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c = Tables.customer(s, d).groupBy($"c_nationkey")
      .agg(count(lit(1)).as("customers"))
    val sup = Tables.supplier(s, d).groupBy($"s_nationkey")
      .agg(count(lit(1)).as("suppliers"))
    c.join(sup, $"c_nationkey" === $"s_nationkey", "full_outer")
      .select(
        coalesce($"c_nationkey", $"s_nationkey").as("nationkey"),
        coalesce($"customers", lit(0L)).as("customers"),
        coalesce($"suppliers", lit(0L)).as("suppliers"))
      .orderBy($"nationkey")
  }

  val joinFullOuterOracle: String =
    """SELECT coalesce(c.c_nationkey, s.s_nationkey) AS nationkey,
      |       CAST(coalesce(c.customers, 0) AS BIGINT) AS customers,
      |       CAST(coalesce(s.suppliers, 0) AS BIGINT) AS suppliers
      |FROM (SELECT c_nationkey, count(*) AS customers
      |      FROM customer GROUP BY c_nationkey) c
      |FULL OUTER JOIN (SELECT s_nationkey, count(*) AS suppliers
      |                 FROM supplier GROUP BY s_nationkey) s
      |  ON c.c_nationkey = s.s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Left-semi join (EXISTS): customers with ≥1 finished order. */
  def joinSemiFinished(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val finished = Tables.orders(s, d).filter($"o_orderstatus" === "F")
    Tables.customer(s, d)
      .join(finished, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  val joinSemiOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  def joinAntiNoOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_mktsegment")
      .orderBy($"c_custkey")
  }

  val joinAntiOracle: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** ROLLUP aggregation with subtotal rows pinned to 'ALL' (keeps the oracle
    * compare away from engine-specific NULL ordering). */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderpriority", $"o_orderstatus")
      .agg(count(lit(1)).as("cnt"), round(sum($"o_totalprice"), 2).as("total"))
      .select(
        coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
        $"cnt", $"total")
      .orderBy($"o_orderpriority", $"o_orderstatus")
  }

  val aggRollupOracle: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total
      |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  /** CUBE aggregation over returnflag × linestatus. */
  def aggCube(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("cnt"), round(sum($"l_quantity"), 2).as("qty"))
      .select(
        coalesce($"l_returnflag", lit("ALL")).as("l_returnflag"),
        coalesce($"l_linestatus", lit("ALL")).as("l_linestatus"),
        $"cnt", $"qty")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  val aggCubeOracle: String =
    """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
      |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Distinct aggregation: exact distinct part/supplier counts per flag.
    * (Two distinct aggs in one pass → Spark expands + reshuffles; at 100 TB
    * prefer approx_count_distinct — exposed separately, rows-only check.) */
  def aggDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("distinct_parts"),
        countDistinct($"l_suppkey").as("distinct_supps"))
      .orderBy($"l_returnflag")
  }

  val aggDistinctOracle: String =
    """SELECT l_returnflag,
      |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
      |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** approx_count_distinct (HLL++): the 100 TB-scale answer to aggDistinct.
    * Sketch internals differ per engine, so the oracle is an invariant twin
    * (estimate within rel-error band of the exact distinct count), fully
    * rows+schema+hash checked — not rows-only. */
  def aggApproxDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey", 0.02).as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** Statistical aggregates per order status. */
  def aggStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("cnt"),
        round(min($"o_totalprice"), 2).as("min_price"),
        round(max($"o_totalprice"), 2).as("max_price"),
        round(avg($"o_totalprice"), 4).as("avg_price"),
        round(stddev_samp($"o_totalprice"), 4).as("sd_price"))
      .orderBy($"o_orderstatus")
  }

  val aggStatsOracle: String =
    """SELECT o_orderstatus,
      |       CAST(count(*) AS BIGINT) AS cnt,
      |       round(CAST(min(o_totalprice) AS DOUBLE), 2) AS min_price,
      |       round(CAST(max(o_totalprice) AS DOUBLE), 2) AS max_price,
      |       CAST(round(CAST(avg(o_totalprice) AS DECIMAL(18,8)), 4) AS DOUBLE) AS avg_price,
      |       round(CAST(stddev_samp(o_totalprice) AS DOUBLE), 4) AS sd_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Correlation / covariance per group. */
  def aggCorr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("qty_price_corr"),
        round(covar_samp($"l_quantity", $"l_discount"), 6).as("qty_disc_covar"))
      .orderBy($"l_returnflag")
  }

  val aggCorrOracle: String =
    """SELECT l_returnflag,
      |  round(CAST(corr(l_quantity, l_extendedprice) AS DOUBLE), 6) AS qty_price_corr,
      |  round(CAST(covar_samp(l_quantity, l_discount) AS DOUBLE), 6) AS qty_disc_covar
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- windows

  import org.apache.spark.sql.expressions.Window

  /** row_number: single most-expensive order per customer. */
  def winTopOrderPerCustomer(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .orderBy($"o_custkey")
  }

  val winTopOrderOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  /** Running total per customer in order-date order (deterministic frame:
    * ties broken by the order key, so the fp accumulation order is fixed). */
  def winRunningTotal(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey",
        round(sum($"o_totalprice").over(w), 2).as("running_total"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val winRunningOracle: String =
    """SELECT o_custkey, o_orderkey,
      |  round(CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
      |    AS running_total
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag: spend delta versus the customer's previous order. */
  def winLagDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey",
        round($"o_totalprice" - lag($"o_totalprice", 1).over(w), 2).as("delta"))
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val winLagOracle: String =
    """SELECT o_custkey, o_orderkey,
      |  round(CAST(o_totalprice - lag(o_totalprice, 1) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE), 2)
      |    AS delta
      |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin

  /** Moving average over the supplier's last 3 shipments. */
  def winMovingAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // l_quantity is part of the window order: sf0.1 has duplicate
    // (suppkey, shipdate, orderkey, linenumber) rows with different
    // quantities, and without a total order the moving average is
    // run-dependent.
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .rowsBetween(-2, Window.currentRow)
    Tables.lineitem(s, d)
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber",
        round(avg($"l_quantity").over(w), 4).as("mov_avg_qty"))
      // (l_orderkey, l_linenumber) is not unique in the synthetic data, so
      // the value column is the final tiebreaker to pin output row order.
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber", $"mov_avg_qty")
  }

  val winMovingAvgOracle: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  round(CAST(avg(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
      |    AS mov_avg_qty
      |FROM lineitem
      |ORDER BY l_suppkey, l_orderkey, l_linenumber, mov_avg_qty""".stripMargin

  /** rank / dense_rank with genuine ties (p_size within brand). */
  def winRankDense(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_size".desc)
    Tables.part(s, d)
      .select($"p_partkey", $"p_brand", $"p_size",
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .orderBy($"p_partkey")
  }

  val winRankOracle: String =
    """SELECT p_partkey, p_brand, p_size,
      |  CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
      |    AS rnk,
      |  CAST(dense_rank() OVER (PARTITION BY p_brand ORDER BY p_size DESC) AS BIGINT)
      |    AS drnk
      |FROM part ORDER BY p_partkey""".stripMargin

  /** Per-group top-k through the bounded typed Aggregator: top-3 orders per
    * status in ONE aggregation pass with O(k) state per group — the window
    * (row_number ≤ 3) formulation, which the oracle uses, must sort every
    * partition; at 100 TB the aggregator shape is the one that scales.
    * Results are identical (the oracle proves it). */
  def topKPerGroup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TopKAggregator._
    Tables.orders(s, d)
      .select($"o_orderstatus", $"o_orderkey", $"o_totalprice")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .agg(new TopKBy[(String, Long, Double)](3, t => Scored(t._2, t._3))
        .toColumn.name("topk"))
      .select($"key".as("o_orderstatus"), explode($"topk.items").as("x"))
      .select($"o_orderstatus", $"x.id".as("o_orderkey"), $"x.score".as("o_totalprice"))
      .orderBy($"o_orderstatus", $"o_totalprice".desc, $"o_orderkey")
  }

  val topKPerGroupOracle: String =
    """SELECT o_orderstatus, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderstatus, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY o_orderstatus
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey""".stripMargin

  /** Data-quality profile — the pre-training corpus health check: one row
    * of null/distinct/dup/extent statistics in a single aggregation pass. */
  def qualityProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"text".isNull || length($"text") === 0, 1L).otherwise(0L)).as("empty_texts"),
        countDistinct($"lang").as("n_langs"),
        countDistinct($"source").as("n_sources"),
        (count(lit(1)) - countDistinct($"text")).as("dup_texts"),
        min($"n_chars").as("min_chars"),
        max($"n_chars").as("max_chars"))
  }

  val qualityProfileOracle: String =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS empty_texts,
      |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
      |  CAST(count(*) - count(DISTINCT text) AS BIGINT) AS dup_texts,
      |  CAST(min(n_chars) AS BIGINT) AS min_chars,
      |  CAST(max(n_chars) AS BIGINT) AS max_chars
      |FROM documents""".stripMargin

  /** Unpivot (wide → long): the reverse of the reference's pivot report —
    * per-part price/size attributes melted into (attribute, value) rows. */
  def unpivotPart(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .select($"p_partkey", $"p_retailprice", $"p_size".cast("double").as("p_size"))
      .unpivot(
        ids = Array($"p_partkey"),
        values = Array($"p_retailprice", $"p_size"),
        variableColumnName = "attr",
        valueColumnName = "val")
      .orderBy($"p_partkey", $"attr")
  }

  val unpivotOracle: String =
    """SELECT p_partkey, attr, val FROM (
      |  SELECT p_partkey, p_retailprice, CAST(p_size AS DOUBLE) AS p_size
      |  FROM part)
      |UNPIVOT (val FOR attr IN (p_retailprice, p_size))
      |ORDER BY p_partkey, attr""".stripMargin

  // ---------------------------------------------------------------- set ops

  /** UNION (distinct): nations that have a customer or a supplier. */
  def setUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_nationkey".as("nationkey"))
      .union(Tables.supplier(s, d).select($"s_nationkey".as("nationkey")))
      .distinct()
      .orderBy($"nationkey")
  }

  val setUnionOracle: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |UNION
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** INTERSECT: nations with both a customer and a supplier. */
  def setIntersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_nationkey".as("nationkey"))
      .intersect(Tables.supplier(s, d).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  val setIntersectOracle: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** EXCEPT: nations with a customer but no supplier. */
  def setExcept(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_nationkey".as("nationkey"))
      .except(Tables.supplier(s, d).select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  val setExceptOracle: String =
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey""".stripMargin

  /** Global top-k: Spark plans TakeOrderedAndProject (per-partition heaps,
    * no full sort) — the shape that survives 100 TB. */
  def topKOrders(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(20)
  }

  val topKOracle: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin

  /** Two-phase salted aggregation — the skew guard for hot grouping keys at
    * scale: phase 1 aggregates on (key, salt) spreading each hot key over 16
    * reducers, phase 2 merges the partials. Result is identical to the
    * direct groupBy (the oracle is the plain aggregation), cost is a second
    * tiny exchange. At 100 TB this is the difference between one straggler
    * task per hot key and even utilization. */
  def aggSalted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .withColumn("salt", pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(16)))
      .groupBy($"l_returnflag", $"salt")
      .agg(sum($"l_quantity").as("pq"), count(lit(1)).as("pc"))
      .groupBy($"l_returnflag")
      .agg(round(sum($"pq"), 2).as("total_qty"), sum($"pc").as("cnt"))
      .orderBy($"l_returnflag")
  }

  val aggSaltedOracle: String =
    """SELECT l_returnflag,
      |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS total_qty,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Salted SHUFFLE JOIN — the join-side companion of [[aggSalted]], for
    * the case AQE's byte-based skew split cannot fix (SCALE_NOTES Leg 14:
    * a 14.5× row skew hiding under 2.2× compression never trips the
    * byte threshold). One synthetic hot key concentrates ~⅓ of the fact
    * table on a single supplier — the "one mega-customer" shape that
    * turns a hash join into one straggler task at 100 TB.
    *
    * Mechanics: the fact side gets a uniform 16-way salt from a row-level
    * hash; the dimension side is REPLICATED 16× (explode over the salt
    * range) so every (key, salt) fact partition finds its dim row
    * locally; the join key becomes (key, salt), spreading the hot key
    * over 16 reducers. The result is provably identical to the unsalted
    * join (each fact row matches exactly the one replica carrying its own
    * salt), so the oracle is the PLAIN join — correctness never depends
    * on the salting. Cost: |dim|×16 replicated rows through the shuffle —
    * the standard trade, cheap precisely because dims are small. The
    * shuffle_hash hint keeps Catalyst from broadcasting the toy-sized dim
    * (a broadcast join needs no salting; the demonstration targets the
    * shuffle regime where both sides exchange). */
  def joinSkewSalted(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nSalt = 16
    val fact = Tables.lineitem(s, d)
      .select(
        when($"l_orderkey" % 3 === 0, lit(1L)).otherwise($"l_suppkey").as("sk"),
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("rev"),
        pmod(xxhash64($"l_orderkey", $"l_linenumber"), lit(nSalt)).as("salt"))
    val dim = Tables.supplier(s, d)
      .select($"s_suppkey".as("sk"), $"s_nationkey")
      .withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1))))
      .withColumn("salt", $"salt".cast("long"))
    fact.join(dim.hint("shuffle_hash"), Seq("sk", "salt"))
      .groupBy($"s_nationkey")
      .agg(
        round(sum($"rev".cast("decimal(28,8)")).cast("double"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
      .select($"s_nationkey".cast("long").as("nationkey"), $"revenue", $"cnt")
      .orderBy($"nationkey")
  }

  /** Advice → execution: run [[Audit.joinPlanFor]]'s census and then
    * EXECUTE the inner equi-join the advisor recommends — broadcast the
    * side that fits, else shuffle, salted by the recommended factor when
    * the hottest key exceeds one even task share. Closes the
    * readout→remedy loop the same way the minute report's latency
    * readout did: the census that told you the join was dangerous is the
    * same code that now makes it safe. Result is provably identical to the
    * plain inner join on `key` for every strategy (broadcast changes
    * only the exchange; each salted fact row matches exactly the one
    * replica carrying its own salt).
    *
    * Driver-side state: ONE advisor row (five int64s) — the census
    * aggregation runs distributed. Cost: one extra pass over both key
    * columns; Leg 25 measured it at 22% of the 100M-row join it advised
    * on, falling with fact size. Caller contract: non-key column names
    * must not collide (standard Spark join rule); the salt path
    * replicates the SMALLER side ×factor through the shuffle — the
    * standard trade, cheap because that side is the small one. */
  def planAwareJoin(left: DataFrame, right: DataFrame, key: String,
      parallelism: Int = 32, broadcastRows: Long = 10000L): DataFrame = {
    val s = left.sparkSession
    import s.implicits._
    val adv = Audit.joinPlanFor(
      left.select(col(key).as("key")), right.select(col(key).as("key")),
      "plan_aware", parallelism, broadcastRows).collect().head
    // Output shaping relies ONLY on the usingColumns join's column order
    // (key, left-others, right-others) — never on post-join left(_)/
    // right(_) attribute references, which share expression ids when
    // both inputs derive from the same DataFrame (the filtered SELF-join
    // is the advisor's own motivating hot-hub shape) and would either
    // throw failAmbiguousSelfJoin or silently resolve to the left copy.
    adv.getAs[String]("strategy") match {
      case "broadcast_right" =>
        left.join(broadcast(right), Seq(key))
      case "broadcast_left" =>
        broadcast(left).join(right, Seq(key))
      case _ if !adv.getAs[Boolean]("needs_salt") =>
        left.join(right.hint("shuffle_hash"), Seq(key))
      case _ =>
        val f = adv.getAs[Long]("recommended_salt_factor")
        val leftIsBig = adv.getAs[Long]("left_rows") >= adv.getAs[Long]("right_rows")
        def salted(df: DataFrame) = df.withColumn("__salt",
          pmod(xxhash64(monotonically_increasing_id()), lit(f)))
        def replicated(df: DataFrame) = df.withColumn("__salt",
          explode(sequence(lit(0L), lit(f - 1))))
        val j =
          if (leftIsBig)
            salted(left).join(replicated(right).hint("shuffle_hash"),
              Seq(key, "__salt"))
          else
            replicated(left).join(salted(right).hint("shuffle_hash"),
              Seq(key, "__salt"))
        j.drop("__salt")
    }
  }

  val joinSkewSaltedOracle: String =
    """WITH f AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_suppkey END AS sk,
      |                  CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,8)) AS rev
      |           FROM lineitem)
      |SELECT CAST(s.s_nationkey AS BIGINT) AS nationkey,
      |       CAST(round(CAST(sum(f.rev) AS DOUBLE), 2) AS DOUBLE) AS revenue,
      |       CAST(count(*) AS BIGINT) AS cnt
      |FROM f JOIN supplier s ON s.s_suppkey = f.sk
      |GROUP BY s.s_nationkey
      |ORDER BY nationkey""".stripMargin

  /** Runtime Bloom-filter join — Catalyst's `InjectRuntimeFilter`
    * (`spark.sql.optimizer.runtime.bloomFilter.*`): when a shuffle join's
    * small side carries a selective filter, the optimizer builds a Bloom
    * filter over its join keys as a scalar subquery and applies
    * `might_contain` to the BIG side's scan BEFORE the exchange — the
    * row-level analogue of dynamic partition pruning. At 100 TB this is
    * the difference between shuffling the whole fact table and shuffling
    * only the ~selectivity fraction that can possibly match: the filter
    * rides the scan, so non-matching rows never reach the exchange.
    *
    * The production thresholds (10 MB creation side / 10 GB application
    * scan) are sized for real clusters and would never trip at test SF,
    * so the plan is built under a conf window that lifts them (broadcast
    * disabled so the join actually shuffles — a broadcast join needs no
    * bloom). Confs must still be live when the plan OPTIMIZES (action
    * time, after this fn returns), so the grain-bounded result (one row
    * per priority×nation) is materialized inside the window and returned
    * as a local relation. JoinBloomSpec asserts `might_contain` is in the
    * executed plan; the oracle is the plain join — the bloom has no false
    * negatives, so injection never changes the result.
    *
    * The window opens on `s.newSession()` — an ISOLATED SQLConf over the
    * same SparkContext (newSession inherits the builder's
    * initialSessionOptions: UTC, AQE, shuffle partitions — but not the
    * caller's runtime conf.set state, and vice versa) — so a query
    * planned concurrently on the caller's session can never observe the
    * lifted bloom thresholds or the disabled broadcast. All reads here
    * are path-based, so the child session resolves the same tables. */
  def joinBloomRuntime(s: SparkSession, d: String): DataFrame = {
    val ns = s.newSession()
    Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "500MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    ).foreach { case (k, v) => ns.conf.set(k, v) }
    // bounded materialization (≤ |nation| rows) while the confs are live;
    // the returned local relation belongs to the CALLER's session
    val joined = bloomJoinPlan(ns, d)
    s.createDataFrame(
      s.sparkContext.parallelize(joined.collect().toSeq, 1), joined.schema)
  }

  /** The lazy inner plan of [[joinBloomRuntime]] — factored out so
    * RuntimeFilterSpec can assert `might_contain` on the SAME plan the
    * registered query materializes (under the same conf window). */
  private[operators] def bloomJoinPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(s, d).select($"c_custkey", $"c_nationkey")
    Tables.lineitem(s, d)
      // exact integer e4-cents revenue (the q7 pattern): a float sum of
      // ~5k doubles at 1e8 magnitude rounds differently across engines'
      // summation orders — 0.01 divergence observed at sf0.1
      .select($"l_orderkey",
        (expr("cast(round(l_extendedprice * 100) as bigint)") *
          expr("cast(round((1.0 - l_discount) * 100) as bigint)")).as("rev_e4"))
      .join(urgent, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("nationkey"))
      .agg(sum($"rev_e4").as("urgent_revenue_e4"),
        count(lit(1)).as("n_lines"))
      .orderBy($"nationkey")
  }

  val joinBloomOracle: String =
    """SELECT c.c_nationkey AS nationkey,
      |       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
      |                CAST(round((1 - l.l_discount) * 100) AS BIGINT))
      |            AS BIGINT) AS urgent_revenue_e4,
      |       CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderpriority = '1-URGENT'
      |GROUP BY c.c_nationkey ORDER BY nationkey""".stripMargin

  /** Exact WEIGHTED quantiles per group without a single-partition sort —
    * the weighted twin of the RankStats two-level pattern. The weighted
    * p-quantile (smallest v with Σ w[value ≤ v] ≥ p·W) needs a global
    * CUMULATIVE WEIGHT order per group; `percentile`/KLL don't take
    * weights, and the naive window (`ORDER BY v` over the whole group)
    * is the SinglePartition scale-killer the hygiene gate rejects. Shape:
    * range-bucket by value (strict bounds — ties share a bucket), sum
    * weights per (group, bucket) — a flags×buckets-row driver fold,
    * broadcast back as exclusive offsets — then a per-bucket ties-
    * inclusive RANGE window completes each row's exact global cumulative
    * weight in parallel. All weights are integer-valued, so every sum,
    * offset and p·W threshold is exact in double on both engines — the
    * oracle compares picked values bit-for-bit, no tolerance. */
  def aggWeightedQuantile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d).select($"l_returnflag".as("flag"),
      $"l_extendedprice".as("v"), $"l_quantity".as("w"))
    val bounds = RankStats.rangeBounds(li, "v", RankStats.DefaultBuckets)
    val bucketed = li.withColumn("__bucket", RankStats.bucketOf($"v", bounds))
    // per-(flag, bucket) weight cells: a bounded driver fold (≤ flags ×
    // buckets rows), turned into exclusive cumulative offsets per flag
    val cells = bucketed.groupBy($"flag", $"__bucket").agg(sum($"w").as("bw"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    val offs = cells.groupBy(_._1).toSeq.flatMap { case (f, cs) =>
      val sorted = cs.sortBy(_._2)
      sorted.map(_._2).zip(sorted.scanLeft(0.0)(_ + _._3).init)
        .map { case (b, o) => (f, b, o) }
    }
    val offDf = s.createDataFrame(offs).toDF("flag", "__bucket", "__off")
    val totDf = s.createDataFrame(
      cells.groupBy(_._1).map { case (f, cs) => (f, cs.map(_._3).sum) }.toSeq)
      .toDF("flag", "__w")
    val wWin = Window.partitionBy($"flag", $"__bucket").orderBy($"v")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(offDf), Seq("flag", "__bucket"))
      .join(broadcast(totDf), Seq("flag"))
      .withColumn("cw", $"__off" + sum($"w").over(wWin))
      .groupBy($"flag")
      .agg(max($"__w").as("w_total"),
        min(when($"cw" >= lit(0.25) * $"__w", $"v")).as("p25_w"),
        min(when($"cw" >= lit(0.50) * $"__w", $"v")).as("p50_w"),
        min(when($"cw" >= lit(0.75) * $"__w", $"v")).as("p75_w"))
      .orderBy($"flag")
  }

  val aggWeightedQuantileOracle: String =
    """WITH c AS (
      |  SELECT l_returnflag AS flag, l_extendedprice AS v,
      |         sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY
      |           l_extendedprice RANGE BETWEEN UNBOUNDED PRECEDING AND
      |           CURRENT ROW) AS cw,
      |         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      |  FROM lineitem)
      |SELECT flag, max(tw) AS w_total,
      |       min(CASE WHEN cw >= 0.25 * tw THEN v END) AS p25_w,
      |       min(CASE WHEN cw >= 0.50 * tw THEN v END) AS p50_w,
      |       min(CASE WHEN cw >= 0.75 * tw THEN v END) AS p75_w
      |FROM c GROUP BY flag ORDER BY flag""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("agg_salted", Some(aggSaltedOracle), aggSalted),
    Q("join_bloom_runtime", Some(joinBloomOracle), joinBloomRuntime),
    Q("agg_weighted_quantile", Some(aggWeightedQuantileOracle), aggWeightedQuantile),
    Q("q1_pricing_summary", Some(q1Oracle), q1PricingSummary),
    Q("q3_top_revenue", Some(q3Oracle), q3TopRevenue),
    Q("q5_local_supplier_volume", Some(q5Oracle), q5LocalSupplierVolume),
    Q("q7_nation_volume", Some(q7Oracle), q7NationVolume),
    Q("q14_promo_share", Some(q14Oracle), q14PromoShare),
    Q("join_shuffle_hash", Some(joinShuffleHashOracle), joinShuffleHash),
    Q("join_skew_salted", Some(joinSkewSaltedOracle), joinSkewSalted),
    Q("join_left_order_counts", Some(joinLeftOracle), joinLeftOrderCounts),
    Q("join_full_outer_nations", Some(joinFullOuterOracle), joinFullOuterNations),
    Q("join_semi_finished", Some(joinSemiOracle), joinSemiFinished),
    Q("join_anti_no_orders", Some(joinAntiOracle), joinAntiNoOrders),
    Q("agg_rollup", Some(aggRollupOracle), aggRollup),
    Q("agg_cube", Some(aggCubeOracle), aggCube),
    Q("agg_distinct", Some(aggDistinctOracle), aggDistinct),
    // Invariant twin: each HLL++ estimate is checked against the EXACT
    // distinct count recomputed in DuckDB, within 5× the configured rsd
    // (0.02) — an estimate drifting past 10% collapses to -1 in the
    // oracle and fails the hash compare. Sketch internals stay pinned by
    // the golden's exact values.
    Q("agg_approx_distinct", Some(
      s"""WITH ex AS (SELECT l_returnflag, count(DISTINCT l_partkey) AS c
         |           FROM lineitem GROUP BY l_returnflag),
         |g AS (${Golden.dispatch("agg_approx_distinct")})
         |SELECT g.l_returnflag,
         |       CASE WHEN abs(g.approx_parts - ex.c) <= 0.1 * ex.c
         |            THEN g.approx_parts ELSE -1 END AS approx_parts
         |FROM g JOIN ex USING (l_returnflag) ORDER BY g.__row""".stripMargin),
      aggApproxDistinct),
    Q("agg_stats", Some(aggStatsOracle), aggStats),
    Q("agg_corr", Some(aggCorrOracle), aggCorr),
    Q("win_top_order_per_customer", Some(winTopOrderOracle), winTopOrderPerCustomer),
    Q("win_running_total", Some(winRunningOracle), winRunningTotal),
    Q("win_lag_delta", Some(winLagOracle), winLagDelta),
    Q("win_moving_avg", Some(winMovingAvgOracle), winMovingAvg),
    Q("win_rank_dense", Some(winRankOracle), winRankDense),
    Q("set_union", Some(setUnionOracle), setUnion),
    Q("set_intersect", Some(setIntersectOracle), setIntersect),
    Q("set_except", Some(setExceptOracle), setExcept),
    Q("topk_orders", Some(topKOracle), topKOrders),
    Q("topk_per_group", Some(topKPerGroupOracle), topKPerGroup),
    Q("quality_profile", Some(qualityProfileOracle), qualityProfile),
    Q("unpivot_part", Some(unpivotOracle), unpivotPart))
}
