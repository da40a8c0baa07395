package graft.tools

/** Plan auditor: flags entries whose optimized plan re-evaluates the
  * tokenizer inside a lambda body (see [[graft.plans.PlanHygiene]]).
  * Usage: `runMain graft.tools.PlanAudit <sfDir> [entry...]` — with no
  * entry names it audits every `SparkEntry.queries` entry; each NAMED
  * entry also gets its `explain("formatted")` printed after its audit
  * line, to eyeball scan pushdown (`PushedFilters` / `ReadSchema`),
  * broadcast joins and whole-stage codegen spans per change. (Calling
  * a stream_* entry runs its drain and shows the read-back's plan,
  * not the streaming topology; StreamSpec pins those shapes.)
  * PlanHygieneSpec runs the same check in CI over the tokenizing
  * entry families; this main is the interactive form with a verbose
  * mode (`PLAN_AUDIT_VERBOSE=1`) that prints the offending plan lines.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val explain = args.length > 1
    val names = if (explain) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.GraftSession.build("graft-planaudit",
      Map("spark.sql.debug.maxToStringFields" -> "10000"))
    names.foreach { n =>
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        val plan = df.queryExecution.optimizedPlan.toString
        if (graft.plans.PlanHygiene.lambdaReevaluatesSplit(plan)) {
          println(s"[audit] INLINE $n")
          if (sys.env.contains("PLAN_AUDIT_VERBOSE")) {
            plan.linesIterator
              .filter(graft.plans.PlanHygiene.lineHasSplitInLambda)
              .foreach(l => println(s"[audit]   LINE ${l.trim.take(400)}"))
          }
        } else if (explain) println(s"[audit] OK $n")
        if (explain) df.explain("formatted")
      } catch { case e: Throwable =>
        // e.getMessage is null for many throwables (e.g. NPE) — a null
        // here would NPE the handler itself and abort the audit loop
        println(s"[audit] ERROR $n: ${e.toString.take(140)}")
      }
    }
    println("[audit] done")
    spark.stop()
  }
}
