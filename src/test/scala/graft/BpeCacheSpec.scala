package graft

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** `bpe_apply`'s trained merge table lives in [[IndexCache]] under its
  * session and corpus: a corpus regenerated in place and evicted with
  * `IndexCache.evictCorpus` is trained again instead of serving the old
  * merges, and a stopped session leaves no registry entry behind.
  *
  * Like IndexCachePurgeSpec this suite does NOT extend SparkSuite: it
  * stops the JVM's shared SparkContext, then rebuilds a session with the
  * SparkSuite config for the suites after it.
  */
class BpeCacheSpec extends AnyFunSuite {

  private def writeDocs(s: SparkSession, dir: String, text: String): Unit = {
    import s.implicits._
    (0L until 6L).map(i => (i, s"$text doc$i")).toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def bpeApply(s: SparkSession, dir: String): Seq[Row] =
    SparkEntry.queries("bpe_apply")(s, dir).collect().toSeq

  test("an evicted corpus rewritten in place is encoded with its new merges") {
    val s = SparkSuite.session()
    val dir = Files.createTempDirectory("graft_bpe_cache").toString
    try {
      writeDocs(s, dir, "abab abababab ab abba baab aabb " * 4)
      val before = bpeApply(s, dir)
      writeDocs(s, dir, "xyzzy zyxx xxyy yzyz zzxy xyxyxy " * 4)
      IndexCache.evictCorpus(s, dir)
      val after = bpeApply(s, dir)
      val fresh = bpeApply(s.newSession(), dir)
      assert(after != before, "the rewritten corpus encodes differently")
      assert(after == fresh,
        "an evicted corpus must be encoded with the merges of its new text")
    } finally SparkSuite.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("a stopped session leaves no merge-table registry entry") {
    val s1 = SparkSuite.session()
    val dir = Files.createTempDirectory("graft_bpe_stop").toString
    try {
      writeDocs(s1, dir, "abab abababab ab abba baab aabb " * 4)
      bpeApply(s1, dir)
      assert(IndexCache.stats(s1).exists(st =>
        st.corpus == dir && st.artifact.startsWith("bpe_merges_")))
      s1.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val s2 = SparkSuite.session()
      assert(s2 ne s1)
      IndexCache.stats(s2)
      assert(!IndexCache.registryHas(s1),
        "a stopped session's entries must drop on the next registry touch")
    } finally SparkSuite.deleteRecursively(java.nio.file.Paths.get(dir))
  }
}
