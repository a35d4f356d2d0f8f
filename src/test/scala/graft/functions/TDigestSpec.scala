package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Bounds for the built-in `percentile_approx` behind the registered
  * agg_tdigest_check (the name predates the move to the built-in):
  * rank error vs exact quantiles, agreement across partitionings, and
  * exact answers on tiny inputs. The registered query is the
  * QuantileGuard rank-guarded twin; this spec pins the tighter 1%
  * engineering bound the guard is derived from. */
class TDigestSpec extends SparkSuite {

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

  private def approx(df: DataFrame, probes: Seq[Double]): Seq[Double] =
    df.agg(percentile_approx(col(df.columns.head), typedlit(probes), lit(10000)))
      .head().getSeq[Double](0)

  test("estimates land within 1% rank error of exact quantiles") {
    val sorted = values
    for ((q, est) <- Probes.zip(approx(valueFrame, Probes))) {
      val e = rankIntervalDist(sorted, est, q)
      assert(e <= 0.01, s"q=$q rank-dist=$e")
    }
  }

  test("distributed digests agree across partitionings within the bound") {
    val sorted = values
    val qsByPartitioning = Seq(1, 13).map(p => approx(valueFrame.repartition(p), Probes))
    for (qs <- qsByPartitioning; (q, est) <- Probes.zip(qs))
      assert(rankIntervalDist(sorted, est, q) <= 0.01,
        s"q=$q est=$est rank-dist=${rankIntervalDist(sorted, est, q)}")
  }

  test("quantiles are monotone in q and exact on tiny inputs") {
    val tiny = Seq(3.0, 1.0, 2.0).toDF("v")
    assert(approx(tiny, Seq(0.0, 0.5, 1.0)) === Seq(1.0, 2.0, 3.0))
    val qs = approx(tiny, (0 to 20).map(_ / 20.0))
    assert(qs === qs.sorted)
  }

  test("registered per-type query emits one bounded row per event type") {
    val out = graft.operators.EventOps.tdigestCheck(spark, Sf).collect().toSeq
    val types = graft.Tables.events(spark, Sf)
      .select($"event_type").distinct().as[String].collect().toSet
    assert(out.map(_.getAs[String]("event_type")).toSet === types)
    assert(out.size === types.size)
    for (r <- out) {
      assert(r.getAs[Int]("within_rank_bound") == 1, r.toString)
      assert(r.getAs[Double]("p50_exact") <= r.getAs[Double]("p90_exact") &&
        r.getAs[Double]("p90_exact") <= r.getAs[Double]("p99_exact"), r.toString)
    }
  }
}
