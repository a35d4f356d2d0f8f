package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distributed TRAINING of the linear quality classifier — the step
  * [[Classifier]] deliberately stops short of (its weight table is
  * hash-derived; this LEARNS one from labels), i.e. the published
  * "train a small classifier on seed labels, score the whole corpus"
  * stage of FineWeb-Edu / GPT-3-style quality filtering.
  *
  * Model: logistic regression with the HARD sigmoid
  * `σ(x) = clamp(1/2 + x/4, 0, 1)` (the piecewise-linear squashing used
  * in quantized inference, e.g. the hard-sigmoid of MobileNet/BinaryNet
  * lineage) over `D` hashed bag-of-words count features + bias, trained
  * by full-batch gradient descent on squared loss. The hard sigmoid is
  * the load-bearing choice: every forward/backward quantity is RATIONAL
  * with power-of-two denominators, so the whole training loop runs in
  * EXACT int64 fixed point — weights in units of 2^-20, activations in
  * units of 2^-22 — and the DuckDB oracle replays all `Iters` gradient
  * steps bit-for-bit (integer sums are order-independent; Scala's `/`
  * and DuckDB's `//` both truncate toward zero). No transcendental ever
  * enters, so cross-engine drift is impossible, not just unlikely.
  *
  * Scale shape (the part that matters at 100 TB):
  *  - feature extraction is a ZERO-shuffle narrow map — the token→bucket
  *    histogram of a document is computed INSIDE its row with
  *    higher-order array functions (no explode, no groupBy(doc_id));
  *  - each GD iteration is ONE map-side-combinable global aggregate
  *    (D+2 integer sums) over the cached feature matrix — the classic
  *    full-batch LR-on-Spark shape (MLlib's LBFGS does the same
  *    treeAggregate); driver traffic is D+2 longs per iteration;
  *  - the feature matrix is `n_docs × (D ints)` — thousands of times
  *    smaller than the text it summarizes — and is built once, cached,
  *    and reused across all iterations;
  *  - scoring with the learned weights is again a pure narrow map.
  *
  * Labels: y = 1 iff the document is "long" (`length(text) >= 200`,
  * the same seed signal [[Classifier]]'s calibration/AUC readouts use),
  * standing in for the human/LLM seed labels of a production run —
  * swapping the label column is the only change.
  */
object LrTrain {

  /** Hashed feature buckets (plus one bias term). */
  val D = 16

  /** Gradient-descent iterations. */
  val Iters = 8

  /** Weight fixed-point scale: w_int = w_real * 2^20. */
  val S: Long = 1L << 20

  /** Learning-rate shift: eta = 2^-E. */
  val E = 2

  /** h32 of a token, identical on both engines (md5 prefix). */
  private def bucketCol(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long") % D

  /** Per-doc feature row: doc_id, c (array of D bucket counts), y. Narrow. */
  private[operators] def featuresOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // The token→bucket hash array is PROJECTED first: inlining `bks`
    // inside the per-bucket lambda re-evaluated the md5-per-token
    // subtree for every one of the D buckets (lambda-bound subtrees sit
    // outside codegen subexpression elimination) — 16× the string-hash
    // work per document, the dominant cost of every lr-family query.
    // Pure hoisting: identical counts. widened: the hashing must not run
    // in the scan's single task on a one-row-group input (guide §2.5);
    // every downstream training sum is exact int64, order-independent.
    graft.Tables.widened(docs)
      .select($"doc_id",
        transform(split($"text", " "), t => bucketCol(t)).as("__bks"),
        when(length($"text") >= 200, 1L).otherwise(0L).as("y"))
      .select(
        $"doc_id",
        transform(sequence(lit(0), lit(D - 1)),
          j => size(filter($"__bks", b => b === j)).cast("long")).as("c"),
        $"y")
  }

  /** Full training loop; returns (weights[D], bias). Memoized per (session,
    * dir): the corpus is scanned once to build the cached feature matrix,
    * then each iteration is one D+2-column aggregate over it. */
  private[operators] def train(s: SparkSession, d: String): (Array[Long], Long) =
    SessionCaches.modelMemo(s, s"lr-train:$d") {
      trainOf(Tables.documents(s, d))
    }

  private[operators] def trainOf(docs: DataFrame): (Array[Long], Long) = {
      val feats = featuresOf(docs).localCheckpoint()
      val n = feats.count()
      val div = 16L * n * (1L << E)
      var w = Array.fill(D)(0L)
      var b = 0L
      for (_ <- 0 until Iters) {
        // raw = Σ w_j c_j + b in w-units (2^-20); pre = 2S + raw in
        // sigmoid units (2^-22); err4 = clamp(pre,0,4S) − 4S·y.
        // The weights ride ONE array literal (w :+ b): the earlier
        // per-weight lit(w(j)) inlined 17 primitive literals into the
        // generated code, so every iteration's source differed and
        // janino recompiled the aggregate 8 times (the
        // Similarity.kmeansCentroids lesson — the array literal is a
        // codegen reference object, so the source is value-independent
        // and the compile cache holds). Exact int64 sums in the same
        // order — bit-identical weights.
        val wb = typedlit((w :+ b).toSeq)
        // zip over the first D entries only (zip_with null-pads the
        // shorter side — zipping c(16) against wb(17) would poison the
        // sum with a null product); wb(D) is the bias (0-based apply)
        val raw = aggregate(zip_with(col("c"), slice(wb, 1, D), (ci, wi) => ci * wi),
          lit(0L), (acc, x) => acc + x) + wb(D)
        val pre = lit(2L * S) + raw
        val p4 = least(greatest(pre, lit(0L)), lit(4L * S))
        val err4 = p4 - lit(4L * S) * col("y")
        val active = when(pre > 0L && pre < 4L * S, lit(1L)).otherwise(lit(0L))
        val gCols = (0 until D).map(j =>
          coalesce(sum(active * err4 * col("c")(j)), lit(0L)).as(s"g$j")) :+
          coalesce(sum(active * err4), lit(0L)).as("gb")
        val g = feats.agg(gCols.head, gCols.tail: _*).head()
        for (j <- 0 until D) w(j) = w(j) - g.getLong(j) / div
        b = b - g.getLong(D) / div
      }
      (w, b)
    }

  /** Learned model as a table: (feature, weight_fp). 'b' + 'f00'..'f15',
    * weights in 2^-20 fixed point. */
  def lrTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, b) = train(s, d)
    val rows = ("b", b) +: (0 until D).map(j => (f"f$j%02d", w(j)))
    rows.toDF("feature", "weight_fp").orderBy($"feature")
  }

  /** Score the corpus with the learned weights: per-doc hard-sigmoid
    * activation (2^-22 fixed point), accept decision, seed label, and
    * whether the trained model agrees with the label. Pure narrow map. */
  def lrScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, b) = train(s, d)
    val feats = featuresOf(Tables.documents(s, d))
    val raw = (0 until D).map(j => col("c")(j) * lit(w(j))).reduce(_ + _) + lit(b)
    val p4 = least(greatest(lit(2L * S) + raw, lit(0L)), lit(4L * S))
    feats.select(
      $"doc_id",
      p4.as("p4"),
      (p4 > 2L * S).as("accepted"),
      $"y",
      ((p4 > 2L * S) === ($"y" === 1L)).as("correct"))
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracle: the ENTIRE training loop replayed as a generated CTE
  // chain — per-doc features, then Iters×(per-doc forward, gradient sums,
  // weight update) with 1-row weight CTEs — exact integer arithmetic
  // end-to-end, so the gate is bit-for-bit, golden-free, and genuinely
  // independent (DuckDB learns the same model from the parquet alone).
  // ---------------------------------------------------------------------

  private def h32Sql(t: String): String =
    s"CAST(('0x' || substr(md5($t), 1, 8)) AS BIGINT)"

  /** Shared CTE prefix: features + unrolled training to weights w{Iters}. */
  private def trainChainSql: String = {
    val sb = new StringBuilder
    sb ++= "WITH feat AS MATERIALIZED (\n"
    sb ++= "  SELECT doc_id,\n"
    sb ++= "         CAST(CASE WHEN length(text) >= 200 THEN 1 ELSE 0 END AS BIGINT) AS y,\n"
    sb ++= (0 until D).map { j =>
      s"         CAST(len(list_filter(string_split(text, ' '), t -> ${h32Sql("t")} % $D = $j)) AS BIGINT) AS c$j"
    }.mkString("", ",\n", "\n")
    sb ++= "  FROM documents),\n"
    sb ++= "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),\n"
    // w0: all-zero weights.
    sb ++= "w0 AS (SELECT " +
      (0 until D).map(j => s"CAST(0 AS BIGINT) AS w$j").mkString(", ") +
      ", CAST(0 AS BIGINT) AS b),\n"
    for (t <- 1 to Iters) {
      val p = t - 1
      val raw = (0 until D).map(j => s"w.w$j * f.c$j").mkString(" + ") + " + w.b"
      sb ++= s"d$t AS MATERIALIZED (\n"
      sb ++= s"  SELECT f.y, ${(0 until D).map(j => s"f.c$j").mkString(", ")},\n"
      sb ++= s"         ${2 * S} + ($raw) AS pre\n"
      sb ++= s"  FROM feat f CROSS JOIN w$p w),\n"
      sb ++= s"g$t AS MATERIALIZED (\n  SELECT\n"
      // CAST: sum(BIGINT) is HUGEINT in DuckDB; bring it back to BIGINT so
      // downstream arithmetic matches the engine's int64 exactly.
      sb ++= (0 until D).map { j =>
        s"    CAST(COALESCE(sum(CASE WHEN pre > 0 AND pre < ${4 * S} THEN (LEAST(GREATEST(pre, 0), ${4 * S}) - ${4 * S} * y) * c$j ELSE 0 END), 0) AS BIGINT) AS g$j"
      }.mkString("", ",\n", ",\n")
      sb ++= s"    CAST(COALESCE(sum(CASE WHEN pre > 0 AND pre < ${4 * S} THEN LEAST(GREATEST(pre, 0), ${4 * S}) - ${4 * S} * y ELSE 0 END), 0) AS BIGINT) AS gb\n"
      sb ++= s"  FROM d$t),\n"
      sb ++= s"w$t AS (\n  SELECT\n"
      // Gradients go NEGATIVE; Scala's `/` truncates toward zero while some
      // DuckDB builds floor `//`. tdiv() (SqlIdioms.tdivSql) is truncating
      // division under EITHER semantics, so the replay is build-portable.
      sb ++= (0 until D).map { j =>
        s"    w.w$j - ${SqlIdioms.tdivSql(s"g.g$j", s"(16 * nn.n * ${1L << E})")} AS w$j"
      }.mkString("", ",\n", ",\n")
      sb ++= s"    w.b - ${SqlIdioms.tdivSql("g.gb", s"(16 * nn.n * ${1L << E})")} AS b\n"
      sb ++= s"  FROM w$p w CROSS JOIN g$t g CROSS JOIN nn)"
      sb ++= (if (t < Iters) ",\n" else "\n")
    }
    sb.toString
  }

  val lrTrainOracle: String = {
    val unpivot =
      s"SELECT 'b' AS feature, b AS weight_fp FROM w$Iters\n" +
        (0 until D).map { j =>
          f"UNION ALL SELECT 'f$j%02d', w$j FROM w$Iters"
        }.mkString("\n")
    trainChainSql + unpivot + "\nORDER BY feature"
  }

  val lrScoreOracle: String = {
    val raw = (0 until D).map(j => s"w.w$j * f.c$j").mkString(" + ") + " + w.b"
    trainChainSql +
      s""", scored AS (
         |  SELECT f.doc_id, f.y,
         |         LEAST(GREATEST(${2 * S} + ($raw), 0), ${4 * S}) AS p4
         |  FROM feat f CROSS JOIN w$Iters w)
         |SELECT doc_id, p4, p4 > ${2 * S} AS accepted, y,
         |       (p4 > ${2 * S}) = (y = 1) AS correct
         |FROM scored ORDER BY doc_id""".stripMargin
  }

  /** Calibration audit for the trained quality gate — the reliability
    * diagram + expected calibration error (ECE, Naeini et al. 2015) a
    * pipeline checks before trusting the model's SCORES (not just its
    * accept/reject decisions) for weighting or curriculum decisions:
    * per predicted-probability decile, how does the mean predicted
    * probability compare to the empirical positive rate? The
    * PROBABILITY-scale companion of
    * [[Classifier.qualityCalibration]] (`quality_calibration`, which
    * tabulates the FIXED rule scorer's raw logit bins against positive
    * rates but compares nothing to a predicted probability): only a
    * trained model emits calibratable probabilities, and only this
    * query summarizes miscalibration into the single ECE number a
    * gate can alert on.
    *
    * Exactness: the prediction is the hard-sigmoid activation p4 ∈
    * [0, 4S] in 2⁻²² fixed point, so per bin the sums (Σp4, Σy, n) are
    * exact int64 (bound: Σp4 ≤ n·4S — int64-safe to ~2×10¹² docs;
    * beyond that, audit per shard) and every readout quantizes through
    * the decimal idiom from the same integers on both engines. The bin
    * id is floor(p4·10/4S) computed in double — exact, since
    * p4·10 ≤ 4×10⁷ ≪ 2⁵³. The ECE row (bin = −1) is the
    * bin-count-weighted sum of |mean_pred − frac_pos| via per-bin
    * DECIMAL(28,8) contributions (the [[Drift.psiValueDrift]] idiom).
    *
    * Scale shape: the scoring pass is the same narrow map as
    * [[lrScore]] (weights from the session-memoized trainer), then one
    * map-side-combinable aggregate to ≤10 bin cells, materialized on
    * the driver for the grand totals (the miOf idiom — no 1-row-join
    * constant-fold). The empty middle bins of a well-separated model
    * are simply absent on both engines. */
  def lrCalibration(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (w, b) = train(s, d)
    val feats = featuresOf(Tables.documents(s, d))
    val raw = (0 until D).map(j => col("c")(j) * lit(w(j))).reduce(_ + _) + lit(b)
    val p4 = least(greatest(lit(2L * S) + raw, lit(0L)), lit(4L * S))
    val cells = feats.select(
        least(floor((p4 * lit(10L)).cast("double") / lit((4L * S).toDouble)),
          lit(9.0)).cast("long").as("bin"),
        p4.as("p4"), $"y")
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"y").as("n_pos"), sum($"p4").as("sum_p4"))
      .collect() // ≤ 10 bin cells
    val totN = cells.map(_.getAs[Long]("n")).sum
    val totPos = cells.map(_.getAs[Long]("n_pos")).sum
    val totP4 = cells.map(_.getAs[Long]("sum_p4")).sum
    val base = s.createDataFrame(
      java.util.Arrays.asList(cells: _*),
      org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType) ::
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType) ::
        org.apache.spark.sql.types.StructField("n_pos",
          org.apache.spark.sql.types.LongType) ::
        org.apache.spark.sql.types.StructField("sum_p4",
          org.apache.spark.sql.types.LongType) :: Nil))
    val s4 = (4L * S).toDouble
    def meanPred(sumP4: Column, n: Column) =
      sumP4.cast("double") / (n.cast("double") * lit(s4))
    def fracPos(nPos: Column, n: Column) = nPos.cast("double") / n.cast("double")
    val perBin = base.select($"bin", $"n", $"n_pos", $"sum_p4",
      round(meanPred($"sum_p4", $"n").cast("decimal(28,8)"), 6)
        .cast("double").as("mean_pred"),
      round(fracPos($"n_pos", $"n").cast("decimal(28,8)"), 6)
        .cast("double").as("frac_pos"),
      round(abs(meanPred($"sum_p4", $"n") - fracPos($"n_pos", $"n"))
        .cast("decimal(28,8)"), 6).cast("double").as("gap"))
    val ece = base.select(
      (abs(meanPred($"sum_p4", $"n") - fracPos($"n_pos", $"n"))
        * $"n".cast("double") / lit(totN.toDouble))
        .cast("decimal(28,8)").as("contrib"))
      .agg(round(sum($"contrib"), 6).cast("double").as("ece"))
    val totalRow = ece.select(lit(-1L).as("bin"), lit(totN).as("n"),
      lit(totPos).as("n_pos"), lit(totP4).as("sum_p4"),
      round((lit(totP4.toDouble) / (lit(totN.toDouble) * lit(s4)))
        .cast("decimal(28,8)"), 6).cast("double").as("mean_pred"),
      round((lit(totPos.toDouble) / lit(totN.toDouble))
        .cast("decimal(28,8)"), 6).cast("double").as("frac_pos"),
      $"ece".as("gap"))
    perBin.unionByName(totalRow).orderBy($"bin")
  }

  val lrCalibrationOracle: String = {
    val raw = (0 until D).map(j => s"w.w$j * f.c$j").mkString(" + ") + " + w.b"
    trainChainSql +
      s""", scored AS (
         |  SELECT f.y,
         |         LEAST(GREATEST(${2 * S} + ($raw), 0), ${4 * S}) AS p4
         |  FROM feat f CROSS JOIN w$Iters w),
         |c AS (
         |  SELECT CAST(LEAST(floor(CAST(p4 * 10 AS DOUBLE) / ${4 * S}.0), 9.0) AS BIGINT) AS bin,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(y) AS BIGINT) AS n_pos,
         |         CAST(sum(p4) AS BIGINT) AS sum_p4
         |  FROM scored GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn, CAST(sum(n_pos) AS BIGINT) AS tp,
         |               CAST(sum(sum_p4) AS BIGINT) AS tsp FROM c)
         |SELECT bin, n, n_pos, sum_p4,
         |       CAST(round(CAST(CAST(sum_p4 AS DOUBLE) / (CAST(n AS DOUBLE) * ${4 * S}.0)
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS mean_pred,
         |       CAST(round(CAST(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE)
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS frac_pos,
         |       CAST(round(CAST(abs(CAST(sum_p4 AS DOUBLE) / (CAST(n AS DOUBLE) * ${4 * S}.0)
         |                           - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE) AS gap
         |FROM c
         |UNION ALL
         |SELECT -1, tn, tp, tsp,
         |       CAST(round(CAST(CAST(tsp AS DOUBLE) / (CAST(tn AS DOUBLE) * ${4 * S}.0)
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE),
         |       CAST(round(CAST(CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE)
         |                  AS DECIMAL(28,8)), 6) AS DOUBLE),
         |       CAST(round(sum(CAST(abs(CAST(sum_p4 AS DOUBLE) / (CAST(n AS DOUBLE) * ${4 * S}.0)
         |                               - CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE))
         |                           * CAST(n AS DOUBLE) / CAST(tn AS DOUBLE)
         |                      AS DECIMAL(28,8))), 6) AS DOUBLE)
         |FROM c CROSS JOIN tot
         |GROUP BY tn, tp, tsp
         |ORDER BY bin""".stripMargin
  }

  /** Cohen's kappa between the two quality raters the engine now has —
    * the fixed hash-weight rule scorer ([[Classifier.qualityClassifierOf]])
    * and this module's TRAINED model — the standard inter-rater agreement
    * readout (Cohen 1960) a labeling pipeline runs before trusting a new
    * classifier as a replacement gate. κ = (p_o − p_e)/(1 − p_e) is
    * computed from the 2×2 confusion counts in EXACT integer arithmetic
    * (κ_micro = 10⁶·(n·(a+d) − Σ marginals)/(n² − Σ marginals), both
    * engines' division truncating toward zero), so the readout is
    * bit-deterministic.
    *
    * Integer-range bound (cf. [[Audit]].tCloseness's documented bound):
    * the scaled numerator is `10⁶·(n·(a+d) − Σ marginal products)`, i.e.
    * O(10⁶·n²) — it stays inside int64 while n ≲ 3×10⁶ documents. Beyond
    * that, run κ per shard/stratum (the standard practice for agreement
    * audits anyway) or drop the 10⁶ micro-scaling; the confusion counts
    * themselves are exact at any n.
    *
    * Scale shape: both raters are narrow scoring passes; the join is
    * doc-keyed and the confusion matrix is ONE map-side-combinable
    * aggregate to a single driver row. */
  def agreementKappa(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // ONE widened scan rates every document with BOTH raters per row
    // (round 16, guide §2.4): the previous shape scanned + tokenized the
    // corpus twice (rule scorer: explode + groupBy shuffle; LR scorer:
    // feature fold) and joined the two on doc_id — two full md5-per-token
    // passes plus a doc-keyed exchange for a query whose output is one
    // confusion row. The rule logit folds per row via
    // [[Classifier.ruleLogitCol]] (the SAME shared tokenWeightMilli
    // term — exact int64, order-free, so fold ≡ explode+sum
    // bit-for-bit), the LR side is featuresOf's own hoisted-__bks
    // spelling with the registry-served weights, and the confusion
    // matrix is one map-side-combinable aggregate. No join, no shuffle
    // beyond the singleton agg.
    val (w, b) = train(s, d)
    val raw = (0 until D).map(j => col("c")(j) * lit(w(j))).reduce(_ + _) + lit(b)
    val p4 = least(greatest(lit(2L * S) + raw, lit(0L)), lit(4L * S))
    // a NULL-text document has no tokens, so it lands in no confusion
    // cell; it must not count in n either (the DuckDB oracle's
    // unnest(string_split(NULL, ' ')) drops it the same way)
    val conf = Tables.widened(Tables.documents(s, d).filter($"text".isNotNull))
      // __bks projected FIRST (the featuresOf lesson: lambda-bound
      // subtrees escape codegen subexpression elimination — inlining
      // re-hashes every token D times)
      .select(
        Classifier.ruleLogitCol($"text").as("rule_logit"),
        transform(split($"text", " "), t => bucketCol(t)).as("__bks"))
      .select(
        ($"rule_logit" > 0).as("rule_acc"),
        transform(sequence(lit(0), lit(D - 1)),
          j => size(filter($"__bks", bk => bk === j)).cast("long")).as("c"))
      .select($"rule_acc", (p4 > 2L * S).as("lr_acc"))
      .agg(
      count(lit(1)).as("n"),
      sum(when($"rule_acc" && $"lr_acc", 1L).otherwise(0L)).as("both_accept"),
      sum(when($"rule_acc" && !$"lr_acc", 1L).otherwise(0L)).as("rule_only"),
      sum(when(!$"rule_acc" && $"lr_acc", 1L).otherwise(0L)).as("lr_only"),
      sum(when(!$"rule_acc" && !$"lr_acc", 1L).otherwise(0L)).as("both_reject"))
    conf.select(
      $"n", $"both_accept", $"rule_only", $"lr_only", $"both_reject",
      expr("""1000000 * (n * (both_accept + both_reject)
             |  - ((both_accept + rule_only) * (both_accept + lr_only)
             |     + (lr_only + both_reject) * (rule_only + both_reject)))
             |div (n * n
             |  - ((both_accept + rule_only) * (both_accept + lr_only)
             |     + (lr_only + both_reject) * (rule_only + both_reject)))"""
        .stripMargin).as("kappa_micro"))
  }

  val agreementKappaOracle: String =
    trainChainSql +
      s""", rule AS (
         |  SELECT doc_id,
         |         sum((${h32Sql("t")} % 1000) - 500) > 0 AS rule_acc
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
         |        FROM documents)
         |  GROUP BY doc_id),
         |lrs AS (
         |  SELECT f.doc_id,
         |         LEAST(GREATEST(${2 * S} + (${(0 until D).map(j => s"w.w$j * f.c$j").mkString(" + ")} + w.b), 0), ${4 * S})
         |           > ${2 * S} AS lr_acc
         |  FROM feat f CROSS JOIN w$Iters w),
         |conf AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(CASE WHEN rule_acc AND lr_acc THEN 1 ELSE 0 END) AS BIGINT) AS both_accept,
         |         CAST(sum(CASE WHEN rule_acc AND NOT lr_acc THEN 1 ELSE 0 END) AS BIGINT) AS rule_only,
         |         CAST(sum(CASE WHEN NOT rule_acc AND lr_acc THEN 1 ELSE 0 END) AS BIGINT) AS lr_only,
         |         CAST(sum(CASE WHEN NOT rule_acc AND NOT lr_acc THEN 1 ELSE 0 END) AS BIGINT) AS both_reject
         |  FROM rule JOIN lrs USING (doc_id))
         |SELECT n, both_accept, rule_only, lr_only, both_reject,
         |       ${SqlIdioms.tdivSql(
               """(1000000 * (n * (both_accept + both_reject)
                 |          - ((both_accept + rule_only) * (both_accept + lr_only)
                 |             + (lr_only + both_reject) * (rule_only + both_reject))))""".stripMargin,
               """(n * n
                 |          - ((both_accept + rule_only) * (both_accept + lr_only)
                 |             + (lr_only + both_reject) * (rule_only + both_reject)))""".stripMargin)}
         |         AS kappa_micro
         |FROM conf""".stripMargin

  val defs: Seq[Q] = Seq(
    Q("quality_lr_train", Some(lrTrainOracle), lrTrain),
    Q("quality_lr_score", Some(lrScoreOracle), lrScore),
    Q("quality_lr_calibration", Some(lrCalibrationOracle), lrCalibration),
    Q("quality_agreement_kappa", Some(agreementKappaOracle), agreementKappa))
}
