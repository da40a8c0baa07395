package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r19 #6: pin `IndexCache.purgeStoppedLocked` — a session
  * whose SparkContext has STOPPED must have its registry entries
  * dropped on the next registry touch (any getOrBuild/sizeBytes/stats
  * from any live session), because the WeakHashMap's weak keys alone
  * can never release it: Ent values hold Datasets, which strongly
  * reference their SparkSession (a value→key strong path).
  *
  * This suite deliberately does NOT extend SparkSuite: it stops the
  * JVM's shared SparkContext to create a genuinely stopped session,
  * then rebuilds a fresh one with the exact SparkSuite config so
  * every later suite's lazy `getOrCreate` lands on an equivalent
  * session (suites run sequentially in the forked test JVM —
  * `Test/fork := true` with sbt's default non-parallel forked runner
  * — so no suite observes the gap).
  */
class IndexCachePurgeSpec extends AnyFunSuite {

  private def build(): SparkSession = SparkSuite.session()

  test("stopped session's registry entries drop on the next touch") {
    val s1 = build()
    // an index artifact on the soon-to-be-abandoned session — a plain
    // driver value is enough: the purge is keyed on context liveness,
    // not on what the entry holds
    IndexCache.getOrBuild(s1, "purgeSpecC", "weights")(Array(1L, 2L))
    assert(IndexCache.registryHas(s1))

    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    assert(IndexCache.registryHas(s1),
      "entries linger until the next touch (stop() does not call back)")

    val s2 = build()
    try {
      assert(s2 ne s1, "a fresh context must yield a fresh session")
      // ANY registry touch from a live session triggers the purge
      IndexCache.getOrBuild(s2, "purgeSpecOther", "w")(Array(3L))
      assert(!IndexCache.registryHas(s1),
        "stopped session's entries must drop on the next registry touch")
      assert(IndexCache.registryHas(s2))
      // same contract for Scratch (the precedent this purge mirrors):
      // registering on the live session must not resurrect the dead one
      assert(IndexCache.stats(s2).map(_.corpus) == Seq("purgeSpecOther"))
    } finally IndexCache.evictCorpus(s2, "purgeSpecOther")
  }
}
