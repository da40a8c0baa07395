package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard on streaming queries: no `.writeStream` site in
  * `src/main/scala` that the allow-list below does not name, each entry
  * with its reason. A bounded stream drained to parquet and read back
  * goes through `StreamOps.drain` (one conf scope, one typed read-back,
  * an optional per-batch transform), not through a foreachBatch loop of
  * its own.
  */
class StreamQuerySiteSpec extends AnyFunSuite {
  import StreamQuerySiteSpec._

  /** (file under src/main/scala, the site's line with whitespace
    * collapsed, count, why the query is started there).
    */
  private val allowed: Seq[(String, String, Int, String)] = Seq(
    ("graft/StreamOps.scala",
      "val w = df.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())",
      1, "the drain helper itself"),
    ("graft/StreamOps.scala", "evs.writeStream", 1,
      "stream_upsert: each batch reads the store version the last one wrote"),
    ("graft/streaming/Spool.scala", ".writeStream", 2,
      "the follow sink's exactly-once append into the warehouse"),
    ("graft/Bench.scala", ".writeStream", 1,
      "untimed stream-infra warm-up; its root is deleted right after"))

  test("every streaming query started in src/main/scala is allow-listed") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally walk.close()
    assert(files.nonEmpty, "no sources under src/main/scala")
    val found = files.flatMap { f =>
      val rel = root.relativize(f).toString
      sites(new String(Files.readAllBytes(f), "UTF-8"))
        .map { case (line, text) => (rel, line, text) }
    }
    val counts = found.groupBy(s => (s._1, s._3))
    val want = allowed.map { case (f, t, n, _) => (f, t) -> n }.toMap
    val unlisted = counts.toSeq.collect {
      case ((f, t), at) if at.size > want.getOrElse((f, t), 0) =>
        s"$f:${at.map(_._2).mkString(",")}  $t"
    }
    assert(unlisted.isEmpty, "streaming queries outside StreamOps.drain; " +
      "drain through it (with a perBatch transform if each micro-batch " +
      "needs one), or allow-list the site with a reason:\n" +
      unlisted.sorted.mkString("\n"))
    val stale = want.toSeq.filter { case (k, n) =>
      counts.get(k).map(_.size).getOrElse(0) < n }
    assert(stale.isEmpty, s"allow-list entries with fewer sites than listed: " +
      stale.mkString(", "))
  }

  test("the scanner sees writeStream calls and skips comments, strings and other names") {
    val src =
      """val a = df.writeStream // x.writeStream
        |/* y.writeStream */ val b = df
        |  . writeStream.start()
        |val c = "s.writeStream"; val d = df.writeStreamX; val e = writeStream
        |val f = q.readStream; val g = df.writeStream.foreachBatch(h)
        |""".stripMargin
    assert(sites(src) == Seq(
      1 -> "val a = df.writeStream // x.writeStream",
      3 -> ". writeStream.start()",
      5 -> "val f = q.readStream; val g = df.writeStream.foreachBatch(h)"))
  }
}

object StreamQuerySiteSpec {
  private val Site = """\.\s*writeStream(?![\w$])""".r

  /** (line, that line with whitespace collapsed) of each line of Scala
    * source `src` holding a `.writeStream` call, comments and literals
    * skipped.
    */
  def sites(src: String): Seq[(Int, String)] = {
    val code = ParquetReadSiteSpec.blankCommentsAndStrings(src)
    val lines = src.split("\n", -1)
    Site.findAllMatchIn(code).map { m =>
      code.substring(0, m.end).count(_ == '\n') + 1
    }.toSeq.distinct.map(n => n -> lines(n - 1).trim.replaceAll("\\s+", " "))
  }
}
