package graftbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft._

/** A closed loop over a fixed subset of `SparkEntry.queries`, one query
  * at a time, that covers every module of `Registry.all`.
  */
object Mix {
  /** Entries of the mix. None of them writes outside the session's
    * working directory: entries that dump oracle bases under the absolute
    * `OracleDumps.Base` are left out — `text_entropy`, `knn_pq_refresh`,
    * the snort fixture entries but `inet_funcs`, most `dedup_*`, `knn_*`.
    */
  val Entries: Seq[String] = Seq(
    "q07_window_rank", // Analytics
    "q36_grouping_sets", // Analytics2
    "q63_session_window", // Analytics3
    "q74_argmax_bool", // Analytics4
    "q91_decay_sum", // Analytics5
    "q28_approx_distinct", // SketchOps
    "bpe_train", // TextOps
    "dedup_exact", // DedupOps
    "sample_split", // PipelineOps
    "knn_brute", // SimilarityOps
    "mm_meta", // MultimodalOps
    "inet_funcs", // SnortOps
    "u2_stream") // StreamOps

  /** The entry whose result rows are unified2 records. */
  val Unified2Entry = "u2_stream"

  val modules: Map[String, String] = Seq(
    "Analytics" -> Analytics.entries, "Analytics2" -> Analytics2.entries,
    "Analytics3" -> Analytics3.entries, "Analytics4" -> Analytics4.entries,
    "Analytics5" -> Analytics5.entries, "SketchOps" -> SketchOps.entries,
    "TextOps" -> TextOps.entries, "DedupOps" -> DedupOps.entries,
    "PipelineOps" -> PipelineOps.entries, "SimilarityOps" -> SimilarityOps.entries,
    "MultimodalOps" -> MultimodalOps.entries, "SnortOps" -> SnortOps.entries,
    "StreamOps" -> StreamOps.entries
  ).flatMap { case (m, es) => es.map(_.name -> m) }.toMap

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Order-insensitive canonical form of a result: one string per row,
    * doubles to 9 significant digits, sorted.
    */
  def canon(rows: Seq[Row]): Seq[String] = rows.map(r => value(r)).sorted

  private def value(v: Any): String = v match {
    case null => "NULL"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.9g"
    case f: Float => value(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case o => o.toString
  }

  /** The entries whose `SparkEntry.oracleSql` Spark parses and runs over
    * the session's tables; they are checked against it. The other
    * entries' oracle SQL reads dumps or DuckDB-only functions, or is
    * absent, and they are checked by a property instead.
    */
  val OracleChecked: Set[String] =
    Set("q07_window_rank", "q36_grouping_sets", "q28_approx_distinct", "sample_split")

  /** Checks one entry's result; returns the failure, if any, and how it
    * was checked.
    */
  def check(spark: SparkSession, name: String, result: Seq[Row],
      passes: Seq[Seq[String]]): (Option[String], String) = {
    val mine = canon(result)
    if (OracleChecked(name))
      (checkOracle(spark, name, mine, SparkEntry.oracleSql.get(name)), "oracle")
    else
      (if (mine.nonEmpty && passes.forall(_ == mine)) None
       else Some(s"$name: result empty or not the same on every pass"), "property")
  }

  /** A result against its oracle SQL; an oracle that is missing or
    * fails is a failed check.
    */
  def checkOracle(spark: SparkSession, name: String, mine: Seq[String],
      sql: Option[String]): Option[String] = sql match {
    case None => Some(s"$name: no oracle SQL")
    case Some(q) =>
      Try(canon(spark.sql(q).collect().toSeq)) match {
        case Failure(e) => Some(s"$name: oracle SQL failed: ${e.getMessage}")
        case Success(want) =>
          if (want == mine) None
          else Some(s"$name: result differs from its oracle SQL " +
            s"(${mine.size} rows vs ${want.size})")
      }
  }
}

class EntryMix extends Workload {
  val MinPasses = 2

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val spark = ctx.spark
    val sf = a.inputs.resolve("sf").toString
    val fns = SparkEntry.queries
    var failed = 0L
    /** One execution: its collected result (None if it threw) and its
      * time.
      */
    def exec(name: String): (Option[Seq[Row]], Double) =
      try Clock.time(Some(fns(name)(spark, sf).collect().toSeq))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[graftbench] $name failed: $e")
          (None, 0.0)
      } finally Scratch.drain(spark) // each execution pays its own scratch build
    // set-up: one warm pass pays every entry's one-time builds and loads
    // and JITs its code path
    val warm = Mix.Entries.map(n => n -> exec(n)._2).toMap
    ctx.warmS = warm.values.sum
    failed = 0
    ctx.setupDone()

    val times = mutable.Map[String, Seq[Double]]().withDefaultValue(Nil)
    val results = mutable.Map[String, Seq[Seq[String]]]().withDefaultValue(Nil)
    val last = mutable.Map[String, Seq[Row]]()
    // time from a pass's start until each of its executions ends
    val ready = Seq.newBuilder[Double]
    val cpu0 = Clock.cpu()
    val (walls, eng) = EngineListener.measure(spark, ctx.engine, a.trace) {
      ctx.rounds(MinPasses) { p =>
        val k = p % Mix.Entries.size
        val order = Mix.Entries.drop(k) ++ Mix.Entries.take(k)
        val start = Clock.now()
        order.foreach { n =>
          val (r, t) = exec(n)
          r.foreach { rows =>
            ready += Clock.now() - start
            times(n) :+= t
            results(n) :+= Mix.canon(rows)
            last(n) = rows
          }
        }
        Clock.now() - start
      }
    }
    val cpu = Clock.cpu() - cpu0
    val passes = walls.size
    val ran = Mix.Entries.filter(last.contains)
    val med = ran.map(n => n -> Stats.median(times(n))).toMap
    ctx.indexS = ran.map(n => math.max(warm(n) - med(n), 0.0)).sum

    Mix.Tables.foreach(t => Tables.t(spark, sf, t).createOrReplaceTempView(t))
    val checked = ran.map(n => n -> Mix.check(spark, n, last(n), results(n)))
    // an entry that dumps under OracleDumps.Base writes outside the run
    val strayDumps = Disk.allFiles(java.nio.file.Paths.get(OracleDumps.Base))
      .map(_.toString).filter(_.contains(spark.sparkContext.applicationId))
    val failures = checked.flatMap(_._2._1) ++
      strayDumps.take(1).map(f => s"an entry wrote outside the working directory: $f")
    val readyS = ready.result()
    // what one pass hands back to its caller: the collected results,
    // as UTF-8 bytes of their canonical rendering
    val resultMb = ran.map(n => results(n).last.map(_.length.toLong).sum).sum / 1048576.0
    // whole-pass aggregates: every figure spans the executions of a pass
    val e2e = Map(
      "alerts_per_s" -> M(results(Mix.Unified2Entry).map(_.size).sum / walls.sum, "alerts/s"),
      "fresh_p50_ms" -> M(Stats.quantile(readyS, 0.5) * 1000, "ms"),
      "fresh_p90_ms" -> M(Stats.quantile(readyS, 0.9) * 1000, "ms"),
      "pass_s" -> M(Stats.median(walls), "s"),
      "cpu_s" -> M(cpu / passes, "s"),
      "warehouse_mb" -> M(resultMb, "MB"))
    val layers = if (!a.trace) Map.empty[String, M] else
      Main.Modules.map { m =>
        s"entries.${m}_s" -> M(ran.filter(Mix.modules(_) == m).map(med).sum, "s")
      }.toMap ++ EngineListener.Keys.map(k => s"spark.$k" ->
        M(eng.getOrElse(k, 0.0) / passes, Main.PerLayer.toMap.apply(s"spark.$k"))) ++
      Map("cache.index_mb" -> M(IndexCache.sizeBytes(spark) / 1048576.0, "MB"))
    val notes = checked.map { case (n, (_, how)) =>
      f"$n%-22s ${Mix.modules(n)}%-14s warm ${warm(n)}%.3f s  median ${med(n)}%.3f s  $how" } ++ failures
    Outcome(passes.toLong * Mix.Entries.size, failed, failures.isEmpty, e2e ++ layers, notes)
  }
}
