package graft

import org.apache.spark.sql.SparkSession

import graft.snort.SnortStar

/** Building and collecting an entry leaves its session as it found it:
  * no temporary function and no optimizer rule is added, so a later
  * query in the same session plans the same whatever ran before it.
  * Each case runs in its own `newSession()` of the suite session; the
  * entries are the ones that once registered functions or the Jaccard
  * rewrite on their session.
  */
class SessionIsolationSpec extends SparkSuite {

  private def state(s: SparkSession) =
    (s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet,
      s.experimental.extraOptimizations)

  private def leavesSessionAsFound(run: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    val (fns, rules) = state(s)
    try run(s)
    finally { Scratch.drain(s); IndexCache.evictCorpus(s, sfDir) }
    val (fnsAfter, rulesAfter) = state(s)
    assert(fnsAfter -- fns == Set.empty, "functions added")
    assert(fns -- fnsAfter == Set.empty, "functions dropped")
    assert(rulesAfter == rules, "optimizer rules changed")
  }

  Seq("dedup_minhash", "dedup_clusters", "dedup_containment",
    "dedup_threshold_report", "dedup_recall_report", "dedup_incremental",
    "dedup_simhash", "dedup_ngram_jaccard", "packet_decode",
    "star_normalize", "star_report", "u2_bulk_ingest").foreach { name =>
    test(s"$name adds no function or optimizer rule to its session") {
      leavesSessionAsFound { s =>
        SparkEntry.queries(name)(s, sfDir).collect()
      }
    }
  }

  test("SnortStar.normalize adds no function or optimizer rule to its session") {
    leavesSessionAsFound { s =>
      val star = SnortStar.normalize(SnortOps.fixtureAlerts(s))
      assert(star("event").collect().nonEmpty)
      assert(star("iphdr").collect().nonEmpty)
    }
  }
}
