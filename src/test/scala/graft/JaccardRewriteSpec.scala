package graft

import org.apache.spark.sql.functions._

import graft.functions.RewriteJaccard

class JaccardRewriteSpec extends SparkSuite {

  /** A session of this spec's own with the rule installed: the shared
    * suite session, which every later spec uses, stays without it.
    */
  private lazy val js = {
    val s = spark.newSession()
    s.experimental.extraOptimizations = Seq(RewriteJaccard)
    s
  }
  import js.implicits._

  test("JaccardSim semantics: set jaccard incl. duplicate elements") {
    // literal inputs are fully constant-folded, which itself proves the
    // rewritten expression evaluates (folding runs the rewrite output)
    val df = Seq(
      (Seq("a", "b", "c", "d"), Seq("b", "c", "d", "e")),
      (Seq("x"), Seq("y")),
      (Seq("a", "a", "b"), Seq("a", "b", "b"))) // dup elements: set semantics
      .toDF("l", "r")
      .select((size(array_intersect(col("l"), col("r"))).cast("double") /
        size(array_union(col("l"), col("r")))).as("j"))
    val got = df.collect().map(_.getDouble(0))
    assert(got(0) == 3.0 / 5.0)
    assert(got(1) == 0.0)
    assert(got(2) == 1.0) // distinct sets both {a,b}
  }

  test("two empty arrays match Divide semantics: NULL (non-ANSI) / error (ANSI)") {
    def jac() = Seq((Seq.empty[String], Seq.empty[String])).toDF("l", "r")
      // non-literal path (repartition) so constant folding can't hide eval
      .repartition(1)
      .select((size(array_intersect(col("l"), col("r"))).cast("double") /
        size(array_union(col("l"), col("r")))).as("j"))
      .collect()
    val ansiKey = "spark.sql.ansi.enabled"
    val prev = js.conf.get(ansiKey)
    try {
      js.conf.set(ansiKey, "false")
      assert(jac().head.isNullAt(0), "0/0 must be NULL in non-ANSI mode")
      js.conf.set(ansiKey, "true")
      val err = intercept[Exception](jac())
      assert(err.getMessage.toLowerCase.contains("divide"), err.getMessage)
    } finally js.conf.set(ansiKey, prev)
  }

  test("optimizer rewrites size(intersect)/size(union) to graft_jaccard_sim") {
    val docs = Tables.t(js, sfDir, "documents")
      .withColumn("g", split(col("text"), " "))
    val df = docs.select(col("doc_id").as("a"), col("g").as("ga"))
      .crossJoin(docs.select(col("doc_id").as("b"), col("g").as("gb")))
      .filter(col("a") < col("b"))
      .select((size(array_intersect(col("ga"), col("gb"))).cast("double") /
        size(array_union(col("ga"), col("gb")))).as("j"))
    assert(df.queryExecution.optimizedPlan.toString
      .contains("graft_jaccard_sim"), "rewrite did not fire")
  }

  test("rewritten result is bit-identical to the unoptimized form") {
    // the same query on this spec's session and on the suite session,
    // which has no rule (splitting the sizes into their own columns
    // does not avoid it: CollapseProject inlines them into one Divide)
    def jaccards(s: org.apache.spark.sql.SparkSession) = {
      val docs = Tables.t(s, sfDir, "documents")
        .withColumn("g1", expr(
          "array_distinct(transform(sequence(1, greatest(length(text)-3,1)), i -> substring(text, i, 4)))"))
      val df = docs.select(col("doc_id").as("a"), col("g1").as("ga"))
        .crossJoin(docs.select(col("doc_id").as("b"), col("g1").as("gb")))
        .filter(col("a") < col("b") && col("b") < 20)
        .select(col("a"), col("b"),
          (size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb")))).as("j"))
        .orderBy(col("a"), col("b"))
      (df.queryExecution.optimizedPlan.toString.contains("graft_jaccard_sim"),
        df.collect())
    }
    val (rewritten, viaRule) = jaccards(js)
    val (plain, manual) = jaccards(spark)
    assert(rewritten && !plain)
    assert(viaRule.length == manual.length && viaRule.length > 0)
    viaRule.zip(manual).foreach { case (x, y) =>
      assert(x.getDouble(2) == y.getDouble(2), s"$x != $y")
    }
  }
}
