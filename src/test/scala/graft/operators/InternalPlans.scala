package graft.operators

/** Lazy builders of the distributed jobs that registered queries collect
  * while building their result (their own plans are LocalTableScans), so
  * PlanHygieneSpec's gates still see the plan that actually executes. Any
  * positive row count gives the census its real plan shape. */
object InternalPlans {
  val defs: Seq[Q] = Seq(
    Q("audit_dependency_entropy/census", None,
      (s, d) => Audit.entropyCensus(s, d, nD = 1.0)))
}
