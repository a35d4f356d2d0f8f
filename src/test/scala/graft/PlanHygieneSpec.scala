package graft

/** Structural plan audit over the ENTIRE registered query surface: no
  * query may plan a CartesianProduct or BroadcastNestedLoopJoin — the two
  * shapes that are always a scale accident (a missing equi-condition or a
  * non-pushable join predicate). OperatorSpec asserts this for headline
  * plans; this sweep pins every one of the ~106 registered queries so a
  * new operator can't regress quietly. (Queries that materialize eagerly
  * return LocalRelations — trivially clean — so the join/cartesian gate
  * also plans their internal jobs from [[operators.InternalPlans]]; the
  * lazy ones only get PLANNED here, not executed.) */
class PlanHygieneSpec extends SparkSuite {

  test("no registered query plans a cartesian or nested-loop join") {
    val offenders = (SparkEntry.allDefs ++ operators.InternalPlans.defs).flatMap { q =>
      val plan =
        try q.fn(spark, Sf).queryExecution.executedPlan.toString
        catch { case e: Throwable => s"PLANNING FAILED: ${e.getMessage}" }
      if (plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin") ||
          plan.startsWith("PLANNING FAILED"))
        Some(q.name -> plan.linesIterator.take(3).mkString(" | "))
      else None
    }
    assert(offenders.isEmpty,
      offenders.map { case (n, p) => s"$n: $p" }.mkString("\n"))
  }

  /** The OTHER always-an-accident shape (round-8 verdict "Next round"
    * #4): a window with an EMPTY partitionSpec plans as
    * `Exchange SinglePartition` + one executor sorting the whole relation
    * — the global-rank trap RankStats exists to avoid. r8 eliminated the
    * runtime `WindowExec: No Partition Defined` warnings query by query;
    * this pins the property for every registered query at once, with NO
    * exemptions: the two former bounded-grid exceptions
    * (ev_pareto_profile, text_heaps_law) now fold their ≤10-row census
    * on the driver instead of constant-folding to an unpartitioned
    * WindowExec, so the gate is universal. */
  test("no registered query plans an unpartitioned (single-partition) window") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p +: (p match {
        case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
        case _ => p.children.flatMap(flatten)
      })

    val offenders = SparkEntry.allDefs.flatMap { q =>
      val hits =
        try flatten(q.fn(spark, Sf).queryExecution.executedPlan).collect {
          case w: WindowExec if w.partitionSpec.isEmpty => w.nodeName
          case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.nodeName
        }
        catch { case e: Throwable => Seq(s"PLANNING FAILED: ${e.getMessage}") }
      if (hits.isEmpty) None else Some(q.name -> hits.distinct.mkString(", "))
    }
    assert(offenders.isEmpty,
      offenders.map { case (n, w) => s"$n: $w" }.mkString("\n"))
  }
}
