package graft

/** Minimal-warmup solo timer for A/Bs of NON-INDEX entries: the full
  * Bench pays minutes of index/signature warmups per JVM at sf10,
  * which drowns an interleaved A/B of (say) a text entry in setup.
  * Same session confs and min-of-`SPARK_GRAFT_BENCH_REPS` count()
  * methodology as Bench; warmup is just JIT + the named tables'
  * parquet footers. NOT the driver metric — Bench remains the one
  * measurement of record (this main prints no metric JSON line).
  * Usage: runMain graft.SoloBench <query> [query ...]
  */
object SoloBench {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SoloBench <query> [query ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("graft-solobench")
    val reps = math.max(1,
      try sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
      catch { case _: NumberFormatException => 2 })
    spark.range(1000000).selectExpr("sum(id)").count()
    Seq("lineitem", "orders", "customer", "events", "documents",
      "embeddings").foreach(n =>
        try Tables.t(spark, sfDir, n).count()
        catch { case scala.util.control.NonFatal(_) => () })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      var best = Double.MaxValue
      var r = 0
      while (r < reps) {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        if (dt < best) best = dt
        r += 1
      }
      Scratch.drain(spark)
      println(f"SOLO $name%-28s $best%8.3f s")
    }
    spark.stop()
  }
}
