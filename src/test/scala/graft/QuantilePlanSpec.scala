package graft

import org.apache.spark.sql.DataFrame

/** Plan guard for the quantile paths: the minute report's aggregate and
  * the registered quantile queries plan Spark's built-in sketch
  * aggregates, and no typed or udaf `Aggregator` — whose kryo-serialized
  * buffer Spark can neither inspect nor plan around — can come back
  * quietly. */
class QuantilePlanSpec extends SparkSuite {

  /** Simple class names of every node and expression in the optimized
    * plan, subqueries included. */
  private def planClasses(df: DataFrame): Set[String] = {
    val names = Set.newBuilder[String]
    df.queryExecution.optimizedPlan.foreachWithSubqueries { node =>
      names += node.getClass.getSimpleName
      node.expressions.foreach(_.foreach(e => names += e.getClass.getSimpleName))
    }
    names.result()
  }

  private val Typed = Seq("ScalaAggregator", "TypedAggregateExpression",
    "ComplexTypedAggregateExpression", "AppendColumns", "MapGroups")

  private def assertPlans(what: String, df: DataFrame, sketch: String): Unit = {
    val names = planClasses(df)
    assert(names.contains(sketch), s"$what: no $sketch in ${names.toSeq.sorted}")
    val typed = Typed.filter(names.contains)
    assert(typed.isEmpty, s"$what plans ${typed.mkString(", ")}")
  }

  test("minute report aggregate plans the built-in KLL, no typed aggregate") {
    val ev = reference.Events.generate(spark, 3000, 1704067200000L, intervalMs = 10)
    assertPlans("report", reference.MinuteReport.latencyCells(ev), "KllSketchAggDouble")
  }

  test("registered quantile queries plan built-in sketches, no typed aggregate") {
    val byName = SparkEntry.allDefs.map(q => q.name -> q).toMap
    for ((name, sketch) <- Seq(
        "agg_kll_check" -> "KllSketchAggDouble",
        "agg_kll_rollup_grains" -> "KllMergeAggDouble",
        "agg_kll_report_grain" -> "KllSketchAggDouble",
        "agg_tdigest_check" -> "ApproximatePercentile"))
      assertPlans(name, byName(name).fn(spark, Sf), sketch)
  }
}
