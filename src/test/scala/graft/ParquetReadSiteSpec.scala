package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard on schema inference: every batch parquet read in
  * `src/main/scala` that sets no schema (`<x>.read[.option(…)|…]
  * .parquet(…)`) outside `Tables` must be on the allow-list below, each entry with
  * its reason. A read of a graft input belongs in `Tables.t` /
  * `Tables.parquet` (or `Tables.schema` for a stream), which infers a
  * table's schema once per session; a raw read re-runs the inference
  * job on every call.
  */
class ParquetReadSiteSpec extends AnyFunSuite {
  import ParquetReadSiteSpec._

  /** (file under src/main/scala, call with whitespace collapsed, count,
    * why it may re-infer its schema on every call).
    */
  private val allowed: Seq[(String, String, Int, String)] = Seq(
    ("graft/MakeScale.scala", """spark.read.parquet(s"$src/$n.parquet")""", 1,
      "one-shot scaling tool: each source table is read once per run"),
    ("graft/sources/Compact.scala",
      "spark.read.parquet(compactable.map(_.getPath.toString).toIndexedSeq: _*)",
      1, "warehouse files of many appends, whose schema may drift"),
    ("graft/DedupOps.scala", "s.read.parquet(store)", 2,
      "store read-back, once per IndexCache build of the store"),
    ("graft/PipelineOps.scala",
      """s.read.option("mergeSchema", "true").parquet(out)""", 1,
      "corpus_evolve merges the schemas its own execution just wrote"))

  test("every raw parquet read outside Tables is allow-listed") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toVector finally walk.close()
    val found = files.flatMap { f =>
      val rel = root.relativize(f).toString
      sites(new String(Files.readAllBytes(f), "UTF-8"))
        .map { case (line, call) => (rel, line, call) }
    }.filter(_._1 != "graft/Tables.scala")
    assert(found.nonEmpty, "the scanner found no read at all")
    val counts = found.groupBy(s => (s._1, s._3))
    val want = allowed.map { case (f, c, n, _) => (f, c) -> n }.toMap
    val unlisted = counts.toSeq.collect {
      case ((f, c), at) if at.size > want.getOrElse((f, c), 0) =>
        s"$f:${at.map(_._2).mkString(",")}  $c"
    }
    assert(unlisted.isEmpty, "parquet reads that re-infer their schema on " +
      "every call; read graft inputs through Tables.t / Tables.parquet / " +
      s"Tables.schema, or allow-list the site with a reason:\n" +
      unlisted.sorted.mkString("\n"))
    val stale = want.toSeq.filter { case (k, n) =>
      counts.get(k).map(_.size).getOrElse(0) < n }
    assert(stale.isEmpty, s"allow-list entries with fewer sites than listed: " +
      stale.mkString(", "))
  }

  test("the scanner sees chained, multi-line and commented reads") {
    val src =
      """val a = spark.read.parquet(p) // s.read.parquet(q)
        |/* x.read.parquet(r) */ val b = s.read
        |  .option("k", "v(")
        |  .format("parquet").parquet(s"$d/x")
        |val c = s.readStream.parquet(d); val e = s.read.json(j)
        |val f = "s.read.parquet(str)"; val g = s.read.schema(t).parquet(d)
        |""".stripMargin
    assert(sites(src) == Seq(1 -> "spark.read.parquet(p)",
      2 -> """s.read.option("k", "v(").format("parquet").parquet(s"$d/x")"""))
  }
}

object ParquetReadSiteSpec {
  private val Chainable = Set("option", "options", "format")

  /** (line, call) of each `<x>.read … .parquet(…)` chain in Scala source
    * `src` that sets no schema (so Spark infers one), comments and
    * string literals skipped, whitespace collapsed.
    */
  def sites(src: String): Seq[(Int, String)] = {
    val code = blankCommentsAndStrings(src)
    """(\w+)\s*\.\s*read(?!\w)""".r.findAllMatchIn(code).toSeq.flatMap { m =>
      parquetChainEnd(code, m.end).map { end =>
        val line = code.substring(0, m.start).count(_ == '\n') + 1
        line -> src.substring(m.start, end).replaceAll("\\s+", " ")
          .replaceAll(" ?\\. ?", ".")
      }
    }
  }

  /** End of `.a(…).b(…)….parquet(…)` starting at `i` if the chain is
    * only `Chainable` calls and then `parquet` (a `.schema(…)` call ends
    * it: that read infers nothing).
    */
  private def parquetChainEnd(code: String, i: Int): Option[Int] = {
    val call = """\s*\.\s*(\w+)\s*\(""".r
    call.findPrefixMatchOf(code.substring(i)).flatMap { m =>
      val close = matchingParen(code, i + m.end - 1)
      if (m.group(1) == "parquet") Some(close + 1)
      else if (Chainable(m.group(1))) parquetChainEnd(code, close + 1)
      else None
    }
  }

  private def matchingParen(code: String, open: Int): Int = {
    var depth = 0
    var j = open
    while ({
      if (code(j) == '(') depth += 1 else if (code(j) == ')') depth -= 1
      depth > 0
    }) j += 1
    j
  }

  /** `src` with each comment, string and char literal turned into
    * spaces (line breaks kept), so offsets and line numbers still match.
    */
  private[graft] def blankCommentsAndStrings(src: String): String = {
    val out = src.toCharArray
    def after(token: String, from: Int): Int = {
      val n = src.indexOf(token, from)
      if (n < 0) src.length else n + token.length
    }
    def stringEnd(from: Int): Int = {
      var n = from
      while (n < src.length && src(n) != '"' && src(n) != '\n')
        n += (if (src(n) == '\\') 2 else 1)
      math.min(n + 1, src.length)
    }
    var i = 0
    while (i < src.length) {
      val next =
        if (src.startsWith("//", i)) after("\n", i)
        else if (src.startsWith("/*", i)) after("*/", i + 2)
        else if (src.startsWith("\"\"\"", i)) after("\"\"\"", i + 3)
        else if (src(i) == '"') stringEnd(i + 1)
        else if (src.startsWith("'\\", i) && src.startsWith("'", i + 3)) i + 4
        else if (src(i) == '\'' && src.startsWith("'", i + 2)) i + 3
        else i + 1
      if (next > i + 1)
        (i until next).foreach(k => if (out(k) != '\n') out(k) = ' ')
      i = next
    }
    new String(out)
  }
}
