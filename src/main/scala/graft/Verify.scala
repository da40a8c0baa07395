package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. The oracle
  * dumps that SQL reads are written here, once, before the entries
  * run — never by an entry. */
object Verify {
  /** One dump step per module whose oracle SQL reads dumps. */
  private val dumpSteps: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "SimilarityOps" -> SimilarityOps.oracleDumps _,
    "MultimodalOps" -> MultimodalOps.oracleDumps _,
    "DedupOps" -> DedupOps.oracleDumps _,
    "TextOps" -> TextOps.oracleDumps _,
    "SnortOps" -> SnortOps.oracleDumps _,
    "Analytics4" -> Analytics4.oracleDumps _)

  /** Write every oracle dump for corpus `sfDir` under this session's
    * app id. A failing step is reported and skipped: only the oracles
    * reading its dumps can fail then, not the whole run.
    */
  def writeDumps(spark: SparkSession, sfDir: String): Unit =
    dumpSteps.foreach { case (module, step) =>
      try step(spark, sfDir)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $module oracle dumps failed: ${e.getMessage}")
      }
    }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only = rest.toSet // optional query-name subset for local iteration
    val unknown = only.diff(SparkEntry.queries.keySet)
    // a typo'd subset name would otherwise "verify" nothing, silently
    if (unknown.nonEmpty)
      sys.error(s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = GraftSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    writeDumps(spark, sfDir)
    Scratch.drain(spark)
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release the query's registered scratch caches (see Scratch):
      // a 221-query dump run otherwise accretes every entry's scratch
      Scratch.drain(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // subset runs dump only their own oracles — a compare over this
    // outDir must not reference result dirs that were never written
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      // dump paths are corpus- AND applicationId-scoped; the static
      // SQL carries placeholders — bind them to THIS run here
      .map { case (k, v) => s"${q(k)}: ${q(
        OracleDumps.bind(v, spark, sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
