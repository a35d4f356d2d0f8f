package graft

import java.nio.file.{Files, Paths}

/** Optimization-iteration helper (test scope, never shipped to the driver):
  * time individual registered queries with Bench's cold-run methodology
  * (one warmup, then clearQueryState before each timed rep, model registry
  * semantics identical), then one warm serve, and optionally dump the
  * formatted plan. Every run fully materializes the result — every row
  * and column — through the `noop` sink, so Catalyst cannot prune the
  * projections and aggregates a `count()` would not need.
  *
  * Usage (from sbt):
  *   Test/runMain graft.QTime [-sf=<dir>] [-reps=N] [-plans=<dir>] q1 q2 …
  *
  * Env: SPARK_GRAFT_SF_DIR (corpus when no -sf is given, default sf0.1),
  * SPARK_GRAFT_CPUS (default 32 here — the gating bench shape). Each line
  * also carries the 1-minute load average (-1 where /proc/loadavg is
  * absent), so a contended sample is visible as such.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    var sfDir = "/root/testdata/sf0.1"
    sys.env.get("SPARK_GRAFT_SF_DIR").foreach(sfDir = _)
    var reps = 3
    var plansDir: Option[String] = None
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    args.foreach {
      case a if a.startsWith("-sf=")    => sfDir = a.drop(4)
      case a if a.startsWith("-reps=")  => reps = a.drop(6).toInt
      case a if a.startsWith("-plans=") => plansDir = Some(a.drop(7))
      case a                            => names += a
    }
    require(names.nonEmpty, "usage: QTime [-sf=<dir>] [-reps=N] [-plans=<dir>] q1 q2 …")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus)
    def loadavg(): Double = scala.util.Try(
      Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    ).getOrElse(-1.0)
    val out = new StringBuilder
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      def materialize(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val preModels = graft.operators.SessionCaches.modelKeys(spark)
      materialize() // warmup (codegen/JIT/listing)
      val samples = (1 to reps).map { _ =>
        graft.operators.SessionCaches.clearQueryState(spark, preModels)
        materialize()
      }
      val warm = materialize() // warm serve (artifacts now in place)
      val line = f"$name%-28s cold=${samples.sorted.apply(samples.size / 2)}%7.3f  min=${samples.min}%7.3f  max=${samples.max}%7.3f  warm=$warm%7.3f  load=${loadavg()}%.2f"
      println("QTIME " + line)
      out.append(line).append('\n')
      plansDir.foreach { pd =>
        Files.createDirectories(Paths.get(pd))
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(pd, s"$name.txt"), plan)
      }
    }
    println("QTIME ==== summary ====")
    print(out.toString.linesIterator.map("QTIME " + _ + "\n").mkString)
    spark.stop()
  }
}
