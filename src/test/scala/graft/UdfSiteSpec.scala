package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical guard on Scala UDFs: no `udf(` / `udf[` /
  * `functions.udf` site in `src/main/scala` that the allow-list below
  * does not name, each entry with its reason. A per-row function is a
  * native expression with a `column(...)` helper (`DecodePacket`,
  * `IpText`, `SigMsgLookup`): a ScalaUDF converts every row through
  * encoders and costs an analyzer pass over them in every plan.
  */
class UdfSiteSpec extends AnyFunSuite {
  import UdfSiteSpec._

  /** (file under src/main/scala, the site's line with whitespace
    * collapsed, count, why it must be a Scala UDF).
    */
  private val allowed: Seq[(String, String, Int, String)] = Seq.empty

  test("every Scala UDF site in src/main/scala is allow-listed") {
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
    assert(unlisted.isEmpty, "Scala UDF sites; write a native expression " +
      "with a column(...) helper, or allow-list the site with a reason:\n" +
      unlisted.sorted.mkString("\n"))
    val stale = want.toSeq.filter { case (k, n) =>
      counts.get(k).map(_.size).getOrElse(0) < n }
    assert(stale.isEmpty, s"allow-list entries with fewer sites than listed: " +
      stale.mkString(", "))
  }

  test("the scanner sees udf calls and skips comments, strings and other names") {
    val src =
      """val a = udf((x: Long) => x) // udf(y)
        |/* functions.udf(z) */ val b = functions . udf(f)
        |val c = "udf(s)"; val d = myudf(1); spark.udf.register("n", f)
        |val g = F.udf[Int, Int](h)
        |import org.apache.spark.sql.functions.udf
        |val u = udfs(1); val h = udf (k)
        |""".stripMargin
    assert(sites(src) == Seq(
      1 -> "val a = udf((x: Long) => x) // udf(y)",
      2 -> "/* functions.udf(z) */ val b = functions . udf(f)",
      4 -> "val g = F.udf[Int, Int](h)",
      5 -> "import org.apache.spark.sql.functions.udf",
      6 -> "val u = udfs(1); val h = udf (k)"))
  }
}

object UdfSiteSpec {
  private val Site = """\bfunctions\s*\.\s*udf\b|(?<![\w$])udf\s*[(\[]""".r

  /** (line, that line with whitespace collapsed) of each line of Scala
    * source `src` holding a UDF site, comments and literals skipped.
    */
  def sites(src: String): Seq[(Int, String)] = {
    val code = ParquetReadSiteSpec.blankCommentsAndStrings(src)
    val lines = src.split("\n", -1)
    Site.findAllMatchIn(code).map { m =>
      code.substring(0, m.start).count(_ == '\n') + 1
    }.toSeq.distinct.map(n => n -> lines(n - 1).trim.replaceAll("\\s+", " "))
  }
}
