package graft.tools

/** Plan auditor: flags entries whose optimized plan re-evaluates the
  * tokenizer inside a lambda body (see [[graft.plans.PlanHygiene]]).
  * Usage: `runMain graft.tools.PlanAudit <sfDir> [entry...]` — with no
  * entry names it audits every `SparkEntry.queries` entry.
  * PlanHygieneSpec runs the same check in CI over the tokenizing
  * entry families; this main is the interactive form with a verbose
  * mode (`PLAN_AUDIT_VERBOSE=1`) that prints the offending plan lines.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
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
        }
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
