package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

/** Ground truth for the fixed-point hard-sigmoid LR trainer.
  *
  * The oracle replays training independently in DuckDB; these specs pin
  * the pieces from first principles on the Scala side: the fixed-point
  * forward pass on a hand-computed fixture, learning actually happening
  * (loss/accuracy improve over the zero-weight init), and the exactness
  * contract (weights identical under different partitioning).
  */
class LrTrainSpec extends SparkSuite {
  import LrTrain.{D, S}

  test("features: in-row bucket histogram sums to token count, label matches length") {
    val feats = LrTrain.featuresOf(
      graft.Tables.documents(spark, Sf)).localCheckpoint()
    val bad = feats
      .join(graft.Tables.documents(spark, Sf).select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        (length(col("text")) >= 200).as("long_doc")), "doc_id")
      .where(
        aggregate(col("c"), lit(0L), (a, x) => a + x) =!= col("n_tok") ||
          (col("y") === 1L) =!= col("long_doc"))
      .count()
    assert(bad === 0L)
  }

  test("training learns: scored accuracy beats the all-accept baseline and loss-relevant weights are nonzero") {
    val scored = LrTrain.lrScore(spark, Sf).localCheckpoint()
    val n = scored.count()
    val acc = scored.where(col("correct")).count().toDouble / n
    val base = math.max(
      scored.where(col("y") === 1L).count(),
      scored.where(col("y") === 0L).count()).toDouble / n
    // The trained model must at least match the majority-class baseline
    // and must actually separate (both decisions present or perfectly
    // separable data).
    assert(acc >= base - 1e-9, s"acc=$acc base=$base")
    val (w, b) = LrTrain.train(spark, Sf)
    assert(w.exists(_ != 0L) || b != 0L, "training never moved a weight")
  }

  test("fixed-point forward pass matches a hand computation") {
    // One document, known tokens; recompute p4 by hand from the learned
    // weights and check lrScore agrees.
    val (w, b) = LrTrain.train(spark, Sf)
    val doc = graft.Tables.documents(spark, Sf)
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(1).head()
    val toks = doc.getString(1).split(" ")
    def h32(t: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map(bb => f"$bb%02x").mkString, 16)
    }
    val cnts = Array.fill(D)(0L)
    toks.foreach(t => cnts((h32(t) % D).toInt) += 1)
    val raw = (0 until D).map(j => w(j) * cnts(j)).sum + b
    val expectP4 = math.min(math.max(2 * S + raw, 0L), 4 * S)
    val got = LrTrain.lrScore(spark, Sf)
      .where(col("doc_id") === doc.getLong(0)).head()
    assert(got.getLong(1) === expectP4)
  }

  test("weights are exact: identical under 3-way vs 7-way repartitioning") {
    // Integer gradient sums are order-independent; the learned model must
    // be bit-identical however the feature matrix is partitioned.
    val docs = graft.Tables.documents(spark, Sf)
    def trainOn(parts: Int): (Seq[Long], Long) = {
      val feats = LrTrain.featuresOf(docs.repartition(parts)).localCheckpoint()
      val n = feats.count()
      val div = 16L * n * (1L << LrTrain.E)
      val w = Array.fill(D)(0L)
      var bias = 0L
      for (_ <- 0 until LrTrain.Iters) {
        val rawC = (0 until D).map(j => col("c")(j) * lit(w(j))).reduce(_ + _) + lit(bias)
        val pre = lit(2L * S) + rawC
        val p4 = least(greatest(pre, lit(0L)), lit(4L * S))
        val err4 = p4 - lit(4L * S) * col("y")
        val active = when(pre > 0L && pre < 4L * S, lit(1L)).otherwise(lit(0L))
        val gCols = (0 until D).map(j =>
          coalesce(sum(active * err4 * col("c")(j)), lit(0L)).as(s"g$j")) :+
          coalesce(sum(active * err4), lit(0L)).as("gb")
        val g = feats.agg(gCols.head, gCols.tail: _*).head()
        for (j <- 0 until D) w(j) = w(j) - g.getLong(j) / div
        bias = bias - g.getLong(D) / div
      }
      (w.toSeq, bias)
    }
    assert(trainOn(3) === trainOn(7))
  }

  test("cohen's kappa matches a plain-Scala recomputation from the two raters") {
    val rule = Classifier.qualityClassifierOf(graft.Tables.documents(spark, Sf))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val lr = LrTrain.lrScore(spark, Sf)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val ids = rule.keySet.intersect(lr.keySet)
    val n = ids.size.toLong
    val a = ids.count(i => rule(i) && lr(i)).toLong
    val b = ids.count(i => rule(i) && !lr(i)).toLong
    val c = ids.count(i => !rule(i) && lr(i)).toLong
    val dd = ids.count(i => !rule(i) && !lr(i)).toLong
    val pe = (a + b) * (a + c) + (c + dd) * (b + dd)
    val kappaMicro = 1000000L * (n * (a + dd) - pe) / (n * n - pe)
    val got = LrTrain.agreementKappa(spark, Sf).head()
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4), got.getLong(5)) ===
      ((n, a, b, c, dd, kappaMicro)))
  }

  test("kappa: a NULL-text document counts in no cell and not in n") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("lr-null-text")
    val long = Seq.tabulate(60)(i => s"w$i").mkString(" ") // >= 200 chars
    val texts = Seq("a b c", long, "the quick brown fox", null, long + " z", "x y")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, "en", "web", Option(t).map(_.length.toLong).getOrElse(0L))
    }
    val schema = org.apache.spark.sql.types.StructType(
      graft.Tables.documentsSchema.fields.map(_.copy(nullable = true)))
    spark.createDataFrame(rows.asJava, schema)
      .write.parquet(s"$dir/documents.parquet")
    val r = LrTrain.agreementKappa(spark, dir).head()
    val n = r.getAs[Long]("n")
    assert(n === texts.count(_ != null).toLong)
    assert(n === r.getAs[Long]("both_accept") + r.getAs[Long]("rule_only") +
      r.getAs[Long]("lr_only") + r.getAs[Long]("both_reject"))
  }

  test("calibration deciles + ECE match a plain-Scala recompute from the scores") {
    // per-doc (p4, y) from the scored output is ground truth; the
    // calibration table must be exactly the decile census over it
    val scored = LrTrain.lrScore(spark, Sf).collect()
      .map(r => (r.getLong(1), r.getLong(3))) // (p4, y)
    val s4 = (4L * S).toDouble
    val byBin = scored.groupBy { case (p4, _) =>
      math.min(math.floor(p4 * 10 / s4), 9.0).toLong
    }
    val got = LrTrain.lrCalibration(spark, Sf).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet === byBin.keySet + (-1L))
    var ece = BigDecimal(0)
    val totN = scored.length.toDouble
    for ((bin, xs) <- byBin) {
      val r = got(bin)
      assert(r.getLong(1) === xs.length.toLong)
      assert(r.getLong(2) === xs.map(_._2).sum)
      assert(r.getLong(3) === xs.map(_._1).sum)
      val meanPred = xs.map(_._1).sum / (xs.length * s4)
      val fracPos = xs.map(_._2).sum.toDouble / xs.length
      assert(math.abs(r.getDouble(4) - meanPred) < 5e-7, s"mean_pred bin $bin")
      assert(math.abs(r.getDouble(5) - fracPos) < 5e-7, s"frac_pos bin $bin")
      assert(math.abs(r.getDouble(6) - math.abs(meanPred - fracPos)) < 5e-7)
      ece += BigDecimal(math.abs(meanPred - fracPos) * xs.length / totN)
        .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    }
    val tot = got(-1L)
    assert(tot.getLong(1) === scored.length.toLong)
    assert(math.abs(tot.getDouble(6) -
      ece.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 5e-7,
      s"ece ${tot.getDouble(6)} vs $ece")
    // ECE is a weighted mean of per-bin gaps, so it lives in [0, 1] —
    // and at sf0.001 it comes out ≈0.245: the 8-round hard-sigmoid gate
    // is decision-accurate but NOT probability-calibrated, which is
    // precisely the fact this audit exists to surface (weight by rank,
    // don't trust the activations as probabilities)
    assert(tot.getDouble(6) >= 0.0 && tot.getDouble(6) <= 1.0)
  }

  test("train output shape: D+1 rows, deterministic order") {
    val out = LrTrain.lrTrain(spark, Sf).collect()
    assert(out.length === D + 1)
    assert(out.map(_.getString(0)).toSeq ===
      ("b" +: (0 until D).map(j => f"f$j%02d")))
  }

  test("model registry serves the SAME model a fresh training produces") {
    // the bench's cross-query model sharing (SessionCaches.modelMemo +
    // clearQueryState) must be result-invisible: a query scored off a
    // registry-served model and one scored off a fresh training are
    // byte-identical — training is deterministic fixed-point, so any
    // difference would mean the registry served a stale or corrupted
    // value. Pinned here because the bench's timings now depend on this
    // sharing being safe.
    SessionCaches.clear(spark)
    val fresh = LrTrain.lrScore(spark, Sf).collect().toSeq
    // simulate the bench reset between queries: models survive, the rest
    // drops; the next query must serve the SAME weights
    SessionCaches.clearQueryState(spark, SessionCaches.modelKeys(spark))
    assert(SessionCaches.modelKeys(spark).exists(_.contains("lr-train")),
      "the trained model must have survived the query-state reset")
    val served = LrTrain.lrScore(spark, Sf).collect().toSeq
    assert(served === fresh)
    // and after a FULL clear, retraining from scratch reproduces it too
    SessionCaches.clear(spark)
    assert(LrTrain.lrScore(spark, Sf).collect().toSeq === fresh)
  }
}
