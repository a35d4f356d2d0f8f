package graft.operators

import org.apache.spark.sql.functions._

/** SCALE_NOTES Leg 8 measurement (run manually, results recorded there):
  * the round-5 sketch/compression additions at scale.
  *
  *  - quantiles over 10M values: the exact full-sort percentile vs the
  *    built-in approx_percentile — wall-time plus worst rank error of
  *    the three probes.
  *  - SQ8 vs float embeddings at sf0.1: stored index bytes on disk
  *    (compression ratio) and the scored-scan wall-time vs the float
  *    brute-force scan.
  */
object SketchScaleTune {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(32)
    import spark.implicits._

    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    // ---- quantiles at 10M values (deterministic skewed distribution) ----
    val n = 10000000L
    val vals = spark.range(n)
      .select((pmod(xxhash64($"id"), lit(100000)).cast("double") / 100
        + when(pmod($"id", lit(997)) === 0, 5000.0).otherwise(0.0)).as("v"))
      .localCheckpoint()
    val probes = Seq(0.5, 0.9, 0.99)

    val (exactQs, exactT) = time {
      vals.select(expr(s"percentile(v, array(${probes.mkString(",")}))"))
        .head().getSeq[Double](0)
    }
    val (approxQs, approxT) = time {
      vals.select(expr(s"approx_percentile(v, array(${probes.mkString(",")}))"))
        .head().getSeq[Double](0)
    }
    // rank error of each estimate against the value distribution
    def rankErr(est: Seq[Double]): Double =
      probes.zip(est).map { case (q, e) =>
        val below = vals.filter($"v" <= e).count().toDouble / n
        math.abs(below - q)
      }.max
    println(f"[sketchscale] exact percentile 10M: ${exactT}%.2f s (rank err 0 by definition)")
    println(f"[sketchscale] approx_percentile 10M: ${approxT}%.2f s, worst rank err ${rankErr(approxQs)}%.5f")

    // ---- SQ8 vs float at sf0.1 ----
    val d = "/root/testdata/sf0.1"
    val emb = graft.Tables.embeddings(spark, d)
    val floatDir = java.nio.file.Files.createTempDirectory("graft-embf").toString
    val sq8Dir = java.nio.file.Files.createTempDirectory("graft-embq").toString
    emb.select($"vec_id", $"embedding").write.mode("overwrite").parquet(floatDir)
    Sq8.encodedOf(emb, d).select($"vec_id", $"sq8_code", $"sq8_norm")
      .write.mode("overwrite").parquet(sq8Dir)
    def dirBytes(p: String): Long =
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet"))
        .map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum
    val (fb, qb) = (dirBytes(floatDir), dirBytes(sq8Dir))
    println(f"[sketchscale] sf0.1 index bytes: float $fb%d, sq8 $qb%d (x${fb.toDouble / qb}%.2f smaller)")

    val (_, bruteT) = time(Similarity.knnBrute(spark, d).collect())
    val (_, sq8T) = time(Sq8.knnSq8(spark, d).collect())   // includes encode (first call)
    val (_, sq8Warm) = time(Sq8.knnSq8(spark, d).collect()) // params memoized
    println(f"[sketchscale] top-10 scan sf0.1: brute float ${bruteT}%.2f s, sq8 cold ${sq8T}%.2f s, sq8 warm ${sq8Warm}%.2f s")
    spark.stop()
  }
}
