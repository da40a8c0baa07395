package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Charlotte, SparkEntry, Tables}

/** Each workload's check must pass on the program's real output and
  * fail on a copy with one planted error. Returns what went wrong.
  */
object SelfTest {
  private implicit val fmt: Formats = DefaultFormats

  def run(ctx: Ctx): Seq[String] = {
    val cases: Seq[(String, Seq[String])] = ctx.args.workload match {
      case "star_etl" => star(ctx)
      case "spool_follow" => follow(ctx)
      case "entry_mix" => mix(ctx)
    }
    cases.flatMap {
      case ("real output", fails) =>
        fails.map(f => s"check fails on the real output: $f")
      case (planted, fails) =>
        System.err.println(s"[selftest] $planted -> ${fails.mkString("; ")}")
        if (fails.isEmpty) Seq(s"check misses: $planted") else Nil
    }
  }

  private def star(ctx: Ctx): Seq[(String, Seq[String])] = {
    val a = ctx.args
    val p = new Star.Pipeline(ctx.spark, a.inputs.resolve("maps"))
    val out = a.work.resolve("selftest_star")
    p.etl(a.inputs.resolve("star/warm"), out)
    val t = Star.read(ctx.spark, out)
    val e = Star.loadExpect(a.inputs.resolve("star/expect.json")) \ "warm"
    val ev = t("event")
    val oneAlert = ev.filter(col("sid") === 1 && col("cid") === 1)
    val wrongMsg = t("signature").withColumn("s_msg",
      when(col("s_msg").startsWith("Unknown Alert "),
        regexp_replace(col("s_msg"), "Unknown Alert", "Unknown alert"))
        .otherwise(col("s_msg")))
    Seq(
      "real output" -> Star.check(t, e),
      "dropped alert" -> Star.check(t + ("event" -> ev.except(oneAlert)), e),
      "duplicated (sid, cid)" -> Star.check(t + ("event" -> ev.union(oneAlert)), e),
      "wrong fallback string" -> Star.check(t + ("signature" -> wrongMsg), e))
  }

  private def follow(ctx: Ctx): Seq[(String, Seq[String])] = {
    val a = ctx.args
    val spool = a.work.resolve("selftest_spool")
    Follow.copyTree(a.inputs.resolve("follow/warm"), spool)
    val cfg = Follow.writeConfig(spool, a.inputs.resolve("maps"),
      a.work.resolve("selftest.conf"))
    val out = a.work.resolve("selftest_follow")
    Charlotte.run(ctx.spark, cfg, "parquet", out.toString)
    val wh = ctx.spark.read.parquet(
      Follow.sensorDirs(spool).map(s => out.resolve(s._1).toString): _*)
    val e = JsonMethods.parse(java.nio.file.Files.readString(
      a.inputs.resolve("follow/expect.json"))) \ "warm"
    val (n, sum) = ((e \ "alerts").extract[Long], (e \ "checksum").extract[Long])
    val one = wh.orderBy(col("sensor"), col("event_id")).limit(1)
    val wrongMsg = wh.withColumn("sig_msg",
      when(col("sig_msg").startsWith("Unknown Alert "),
        regexp_replace(col("sig_msg"), "Unknown Alert", "Unknown alert"))
        .otherwise(col("sig_msg")))
    Seq(
      "real output" -> (Follow.check(wh, n, sum) ++ Follow.checkOffsets(out, spool)),
      "dropped alert" -> Follow.check(wh.except(one), n, sum),
      "duplicated alert" -> Follow.check(wh.union(one), n, sum),
      "wrong fallback string" -> Follow.check(wrongMsg, n, sum))
  }

  private def mix(ctx: Ctx): Seq[(String, Seq[String])] = {
    val spark = ctx.spark
    val sf = ctx.args.inputs.resolve("sf").toString
    Mix.Tables.foreach(t => Tables.t(spark, sf, t).createOrReplaceTempView(t))
    def rows(n: String): Seq[Row] = SparkEntry.queries(n)(spark, sf).collect().toSeq
    val oracle = "q36_grouping_sets"
    val prop = "knn_brute"
    val (o, q) = (rows(oracle), rows(prop))
    def altered(rs: Seq[Row]): Seq[Row] =
      Row.fromSeq(rs.head.toSeq.updated(rs.head.length - 1, null)) +: rs.tail
    def chk(n: String, r: Seq[Row], passes: Seq[Seq[Row]]) =
      Mix.check(spark, n, r, passes.map(Mix.canon))._1.toSeq
    // the oracle entry must be checked by its oracle SQL, not the property
    val (oFail, oHow) = Mix.check(spark, oracle, o, Seq(Mix.canon(o)))
    Seq(
      "real output" -> (oFail.toSeq ++ chk(prop, q, Seq(q, q)) ++
        (if (oHow == "oracle") Nil else Seq(s"$oracle checked by $oHow, not its oracle SQL"))),
      s"altered $oracle result (oracle check)" -> chk(oracle, altered(o), Seq(o)),
      s"dropped $oracle row (oracle check)" -> chk(oracle, o.tail, Seq(o)),
      s"$oracle against an oracle SQL that fails" -> Mix.checkOracle(spark, oracle,
        Mix.canon(o), Some("SELECT no_such_column FROM lineitem")).toSeq,
      s"altered $prop result (property check)" -> chk(prop, q, Seq(q, altered(q))))
  }
}
