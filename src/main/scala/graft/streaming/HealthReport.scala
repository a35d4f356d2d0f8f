package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.MisraGries
import graft.operators.Kll

/** The drift-ALERTING composite over the maintained-view family (round-11
  * verdict "Next round" #8): one streaming health report per event source,
  * served ENTIRELY from the incrementally-maintained rollups — the KLL
  * quantile cells ([[Ingest.upsertQuantileRollup]]) and the Misra–Gries
  * heavy-hitter cells ([[Ingest.upsertHeavyHitterRollup]]) — without ever
  * re-touching raw events. This is the readout a 100 TB ingest pipeline
  * actually pages on: "did latency move, did the type mix shift, did one
  * user start dominating" answered at alert time from O(minutes × types)
  * sketch cells, not O(events) raw rows.
  *
  * Windows: cells with event_minute < `splitMinute` form the REFERENCE,
  * the rest the CURRENT window. Because every cell is mergeable (KLL
  * merge keeps the exact count; MG merge keeps the n/(k+1) deterministic
  * bound per the mergeable-summaries theorem), window statistics are cell
  * merges — the same re-slice [[Ingest.upsertQuantileRollup]]'s spec pins
  * at every grain.
  *
  * Report rows (metric, key, ref_value, cur_value, stat, alert):
  *  - `latency_p50` / `latency_p99` per event_type: window quantiles from
  *    merged KLL cells; stat = cur − ref; alert when the current value
  *    leaves [ref/latencyRatio, ref·latencyRatio].
  *  - `volume_share` per event_type: each type's share of its window's
  *    events (counts are EXACT — the additive cnt column); stat = share
  *    delta; alert at |delta| > shareDelta.
  *  - `volume_chi2` (key "all"): the window×type independence χ² over the
  *    exact count grid; ref_value = dof, cur_value = χ²; alert when χ²
  *    exceeds the Wilson–Hilferty 99th-percentile approximation
  *    dof·(1 − 2/(9·dof) + z·√(2/(9·dof)))³, z = 2.3263 — the textbook
  *    cube-root normalization, good to a few % for dof ≥ 3.
  *  - `hh_topk_jaccard` (key "all"): Jaccard overlap of the two windows'
  *    top-k heavy-hitter SETS; alert when overlap < jaccardMin (churn).
  *  - `hh_max_share_delta` (key = the moving user): the top-k-union user
  *    whose share of window traffic moved most; alert at |delta| >
  *    shareDelta — "one user started dominating".
  *
  * Scale shape: two aggregations over the rollup parquet (each a hash
  * agg over O(minutes × types) cells, NOT raw events), each collapsing to
  * ≤ 2·|types| / 2 rows before a bounded driver collect; the report
  * assembles driver-side and returns a LocalRelation. Batch twin with a
  * DuckDB oracle: `audit_health_report`
  * ([[graft.operators.Drift.healthReportBatch]]). */
object HealthReport {

  /** 99th-percentile χ² critical value, Wilson–Hilferty approximation. */
  private[streaming] def chi2Crit99(dof: Long): Double = {
    if (dof <= 0) return 0.0
    val z = 2.3263478740408408 // Φ⁻¹(0.99)
    val a = 2.0 / (9.0 * dof)
    dof * math.pow(1.0 - a + z * math.sqrt(a), 3)
  }

  final case class Row(
      metric: String, key: String,
      ref_value: Option[Double], cur_value: Option[Double],
      stat: Option[Double], alert: Boolean)

  /** Serve the health report from the maintained views. Returns an
    * EMPTY report (zero rows, full schema) when either window has no
    * quantile cells — degenerate split, nothing to compare.
    * `countRollupDir` (optional): when the caller also maintains the
    * COUNT rollup ([[Ingest.upsertRollup]]'s (minute, type, status,
    * cnt) cells), the report additionally emits `error_rate` rows per
    * event_type — exact per-window ERROR share from the additive
    * counts; stat = rate delta; alert at |delta| > shareDelta. Error
    * rate is the canonical SRE page, and the cells already carry it. */
  def serve(s: SparkSession,
      quantileRollupDir: String, heavyHitterRollupDir: String,
      splitMinute: java.sql.Timestamp,
      hhTopK: Int = 10,
      latencyRatio: Double = 1.5,
      shareDelta: Double = 0.05,
      jaccardMin: Double = 0.5,
      countRollupDir: Option[String] = None,
      mgK: Int = 64): DataFrame = {
    import s.implicits._
    // mgK MUST equal the k the heavy-hitter rollup was built with
    // (Ingest.upsertHeavyHitterRollup's contract): merging k=256
    // summaries through a k=64 merge would silently coarsen the error
    // bound from n/257 to n/65
    val mgMerge = udaf(new MisraGries.MgMergeAggS(mgK), org.apache.spark.sql.Encoders.BINARY)
    def winOf = when(col("event_minute") < lit(splitMinute), "ref").otherwise("cur")

    // per-(window, type): merged latency sketch read out as (p50, p99)
    // in the same projection + exact count — ≤ 2·|types| rows
    val cells = s.read.parquet(quantileRollupDir)
      .withColumn("win", winOf)
      .groupBy($"win", $"event_type")
      .agg(kll_merge_agg_double($"latency_kll", Kll.K).as("sk"), sum($"cnt").as("n"))
      .select($"win", $"event_type",
        kll_sketch_get_quantile_double($"sk", lit(0.5)),
        kll_sketch_get_quantile_double($"sk", lit(0.99)), $"n")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        (r.getDouble(2), r.getDouble(3)), r.getLong(4)))
    val types = cells.map(_._2).distinct.sorted
    val winTotal = cells.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    if (!winTotal.contains("ref") || !winTotal.contains("cur"))
      return s.emptyDataset[Row].toDF()
    val cnt = cells.map(c => (c._1, c._2) -> c._4).toMap.withDefaultValue(0L)
    val quant = cells.map(c => (c._1, c._2) -> c._3).toMap

    val latencyRows = types.flatMap { t =>
      def row(metric: String, pick: ((Double, Double)) => Double) = {
        val r = quant.get(("ref", t)).map(pick)
        val c = quant.get(("cur", t)).map(pick)
        val alert = (for (rv <- r; cv <- c)
          yield cv > rv * latencyRatio || cv < rv / latencyRatio).getOrElse(false)
        Row(metric, t, r, c, for (rv <- r; cv <- c) yield cv - rv, alert)
      }
      Seq(row("latency_p50", _._1), row("latency_p99", _._2))
    }

    val shareRows = types.map { t =>
      val r = cnt(("ref", t)).toDouble / winTotal("ref")
      val c = cnt(("cur", t)).toDouble / winTotal("cur")
      Row("volume_share", t, Some(r), Some(c), Some(c - r),
        math.abs(c - r) > shareDelta)
    }

    // window×type independence χ² over the exact grid (2×T, unobserved
    // cells contribute their full expectation)
    val n = winTotal("ref") + winTotal("cur")
    val chi2 = (for (w <- Seq("ref", "cur"); t <- types) yield {
      val o = cnt((w, t)).toDouble
      val colTot = cnt(("ref", t)) + cnt(("cur", t))
      val e = winTotal(w).toDouble * colTot / n
      if (e > 0) (o - e) * (o - e) / e else 0.0
    }).sum
    val dof = math.max(types.size - 1, 0).toLong
    val crit = chi2Crit99(dof)
    val chi2Row = Row("volume_chi2", "all",
      Some(dof.toDouble), Some(chi2), Some(chi2 - crit), chi2 > crit)

    // heavy-hitter churn from the MG view — 2 merged summaries
    val hh = s.read.parquet(heavyHitterRollupDir)
      .withColumn("win", winOf)
      .groupBy($"win")
      .agg(mgMerge($"users_mg").as("sk"), sum($"cnt").as("n"))
      .collect()
      .map(r => r.getString(0) ->
        (MisraGries.deserializeS(r.getAs[Array[Byte]]("sk")), r.getAs[Long]("n")))
      .toMap
    val hhRows = (hh.get("ref"), hh.get("cur")) match {
      case (Some((sr, nr)), Some((sc, nc))) if nr > 0 && nc > 0 =>
        def topk(m: MisraGries.SummaryS): Seq[String] =
          m.entries.sortBy { case (id, est) => (-est, id) }.take(hhTopK).map(_._1)
        val (tr, tc) = (topk(sr).toSet, topk(sc).toSet)
        val union = tr ++ tc
        val jac = if (union.isEmpty) 1.0
          else (tr & tc).size.toDouble / union.size
        val jacRow = Row("hh_topk_jaccard", "all",
          Some(tr.size.toDouble), Some(tc.size.toDouble), Some(jac),
          jac < jaccardMin)
        val deltas = union.toSeq.map { id =>
          val r = sr.estimate(id).toDouble / nr
          val c = sc.estimate(id).toDouble / nc
          (id, r, c, c - r)
        }
        val moverRow = deltas.sortBy { case (id, _, _, d) => (-math.abs(d), id) }
          .headOption.map { case (id, r, c, d) =>
            Row("hh_max_share_delta", id, Some(r), Some(c), Some(d),
              math.abs(d) > shareDelta)
          }
        jacRow +: moverRow.toSeq
      case _ => Seq.empty
    }

    // error-rate drift from the count rollup's (type, status) cells —
    // exact additive counts, ≤ 2·|types|·|statuses| rows collected
    val errRows = countRollupDir.toSeq.flatMap { dir =>
      val byTypeWin = s.read.parquet(dir)
        .withColumn("win", winOf)
        .groupBy($"win", $"event_type")
        .agg(sum($"cnt").as("n"),
          sum(when($"status" === "ERROR", $"cnt").otherwise(0L)).as("err"))
        .collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getAs[Long]("n"), r.getAs[Long]("err"))).toMap
      byTypeWin.keys.map(_._2).toSeq.distinct.sorted.map { t =>
        def rateOf(w: String): Option[Double] =
          byTypeWin.get((w, t)).collect { case (n, e) if n > 0 => e.toDouble / n }
        val (r, c) = (rateOf("ref"), rateOf("cur"))
        val delta = for (rv <- r; cv <- c) yield cv - rv
        Row("error_rate", t, r, c, delta,
          delta.exists(d => math.abs(d) > shareDelta))
      }
    }

    (latencyRows.toSeq ++ shareRows.toSeq ++ Seq(chi2Row) ++ hhRows ++ errRows)
      .toDS().toDF().orderBy($"metric", $"key")
  }
}
