package graft

import java.nio.file.{FileSystems, Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Oracle dumps are written by [[Verify]]'s dump steps alone: the
  * steps write every path the bound oracle SQL reads, and entries
  * called outside Verify write nothing under [[OracleDumps.Base]].
  */
class OracleDumpSpec extends SparkSuite {

  private val ReadPath = raw"read_(parquet|text|blob)\(\s*'([^']*)'".r

  /** This app's dump dirs: every corpus's, and the snort fixture's. */
  private def appDirs(): Seq[Path] = {
    val app = spark.sparkContext.applicationId
    Option(new java.io.File(OracleDumps.Base).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(s"__$app")).map(_.toPath)
  }

  /** (path, size, mtime) of every file under this app's dump dirs. */
  private def snapshot(): Set[(String, Long, Long)] =
    appDirs().flatMap { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => (p.toString, Files.size(p),
          Files.getLastModifiedTime(p).toMillis)).toList
      finally walk.close()
    }.toSet

  /** Files matching an oracle's read path (a file or a glob). */
  private def matching(path: String): Seq[Path] = {
    val parent = Paths.get(path).getParent
    if (!Files.isDirectory(parent)) Nil
    else {
      val m = FileSystems.getDefault.getPathMatcher(s"glob:$path")
      val ls = Files.list(parent)
      try ls.iterator().asScala.filter(m.matches).toList finally ls.close()
    }
  }

  test("the dump steps write every dump the bound oracle SQL reads") {
    Verify.writeDumps(spark, sfDir)
    try {
      val reads = SparkEntry.oracleSql.values.toSeq.flatMap { sql =>
        ReadPath.findAllMatchIn(OracleDumps.bind(sql, spark, sfDir))
          .map(_.group(2))
      }.distinct
      // knn 7, multimodal 2, dedup 4, text 4, snort 11, q71 1
      assert(reads.size == 29, reads.mkString("\n"))
      val missing = reads.filter(matching(_).isEmpty)
      assert(missing.isEmpty, s"unwritten dumps:\n${missing.mkString("\n")}")
    } finally appDirs().foreach(SparkSuite.deleteRecursively)
  }

  test("formerly-dumping entries called outside Verify write no dump") {
    // a private copy of the corpus, so no dump of it can predate this
    // test in the session
    val src = Paths.get(sfDir)
    val dir = Paths.get(tempDir("graft_pure_corpus"))
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val to = dir.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    } finally walk.close()
    val before = snapshot()
    try Seq("text_entropy", "knn_pq_refresh", "mm_phash_real",
        "dedup_minhash", "q71_fuzzy_capped", "sig_enrich")
      .foreach(n => q(n, dir.toString).collect())
    finally IndexCache.evictCorpus(spark, dir.toString)
    val base = Paths.get(OracleDumps.Base)
    val written = (snapshot() diff before).map(f =>
      base.relativize(Paths.get(f._1).getParent).toString)
    assert(written.isEmpty,
      s"dumps written: ${written.toSeq.sorted.mkString(", ")}")
  }
}
