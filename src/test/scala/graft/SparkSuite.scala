package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.reference.Events

/** Shared local session for all suites (one per JVM via getOrCreate). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** One minute (00:00, 6000 events) ingested through the streaming sink
    * into a fresh warehouse; returns the warehouse path. */
  def ingestMinute(prefix: String): String = {
    val wh = tmpDir(s"$prefix-wh")
    val stage = tmpDir(s"$prefix-stage")
    Events.generate(spark, 6000, 1704067200000L, intervalMs = 10)
      .write.mode("overwrite").parquet(stage)
    Pipeline.ingest(spark.readStream.schema(Events.schema).parquet(stage),
      wh, tmpDir(s"$prefix-ckpt")).awaitTermination(120000)
    wh
  }

  /** `f`'s result and the number of Spark jobs it started. A fresh job
    * group tags them, so a query running elsewhere in the JVM is not
    * counted; the listener bus is drained before the count is read. Not
    * nestable: the inner call clears the outer call's job group. */
  def withJobCount[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job-count gate")
    val result =
      try f
      finally {
        sc.clearJobGroup()
        TestListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, jobs.get)
  }

  /** Distance from probed rank `q` to the empirical rank INTERVAL of `x`
    * in `xs`: [count(_ < x), count(_ <= x)] / n. Tie-safe: a strict-<
    * point rank undercounts by the tie multiplicity whenever values tie
    * at the probed quantile (routine for integer-valued data in small
    * cells), failing specs even when the sketch under test returned the
    * exact discrete quantile. Distance is 0 whenever lo <= q <= hi.
    */
  def rankIntervalDist(xs: Array[Double], x: Double, q: Double): Double = {
    val n = xs.length.toDouble
    val lo = xs.count(_ < x) / n
    val hi = xs.count(_ <= x) / n
    if (q < lo) lo - q else if (q > hi) q - hi else 0.0
  }
}
