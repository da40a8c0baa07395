package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType}

/** `StreamOps.drain`, the one AvailableNow drain every streaming entry
  * runs through: its conf scope leaves the session as it found it, a
  * drain of no rows is typed, and a per-batch transform drained over
  * several micro-batches equals the transform in batch and is read back
  * without a schema-inference job.
  */
class StreamDrainSpec extends SparkSuite {

  private val schema = "id BIGINT, v STRING"

  /** A directory of `batches` one-file parquet appends of `rows` rows
    * each (ids continue across files).
    */
  private def source(batches: Int, rows: Int): String = {
    val dir = tempDir("graft_drain_src")
    (0 until batches).foreach { b =>
      spark.range(b * rows, (b + 1) * rows).select(col("id"),
          concat(lit("v"), (col("id") % 3).cast("string")).as("v"))
        .coalesce(1).write.mode("append").parquet(dir)
    }
    dir
  }

  private def stream(dir: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** `f`'s result and the number of Spark jobs this thread started
    * while it ran outside any streaming query (a query's own micro-batch
    * jobs carry its id). The jobs carry a scope property; a marker job
    * after `f` flushes the listener bus, so every earlier job is seen.
    */
  private def callerJobsDuring[T](f: => T): (T, Int) = {
    val scope, marker = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.test.marker") == marker) flushed.countDown()
          else if (p.getProperty("graft.test.scope") == scope &&
              p.getProperty("sql.streaming.queryId") == null)
            jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.scope", scope)
      val out = try f finally sc.setLocalProperty("graft.test.scope", null)
      sc.setLocalProperty("graft.test.marker", marker)
      try spark.range(1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(flushed.await(60, TimeUnit.SECONDS))
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("a drain leaves every session conf as it was, also when a batch throws") {
    import StreamOps.{NoTrailingBatch, RocksDbProvider, StatePartitions}
    val confs = Seq(StatePartitions, NoTrailingBatch, RocksDbProvider)
    spark.conf.unset(NoTrailingBatch._1)
    spark.conf.unset(RocksDbProvider._1)
    assert(spark.conf.getAll.get(StatePartitions._1).contains("4"))
    val before = spark.conf.getAll
    val src = source(1, 5)
    var during = Map.empty[String, String]
    val ok = StreamOps.drain(spark, stream(src), OutputMode.Append(), confs,
      perBatch = b => { during = spark.conf.getAll; b })
    assert(confs.forall { case (k, v) => during.get(k).contains(v) },
      s"the confs are set while the query runs: $during")
    assert(spark.conf.getAll == before)
    assert(ok.count() == 5)

    val err = intercept[Exception] {
      StreamOps.drain(spark, stream(src), OutputMode.Append(), confs,
        perBatch = _ => throw new IllegalStateException("planted"))
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "planted"))
    assert(spark.conf.getAll == before,
      "a failed drain must restore a set key and unset an unset one")
    assert(!spark.conf.getAll.contains(NoTrailingBatch._1))
    assert(!spark.conf.getAll.contains(RocksDbProvider._1))
  }

  private def names(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).toSet
    finally s.close()
  }

  test("a drain under a set scratchRoot checkpoints there, not in a temporary-* dir") {
    val scratch = tempDir("graft_drain_scratch")
    val tmp = System.getProperty("java.io.tmpdir")
    def temporaries() = names(tmp).filter(_.startsWith("temporary-"))
    val before = temporaries()
    val src = source(2, 5)
    var during = (Set.empty[String], Set.empty[String])
    val out = StreamOps.withConfs(spark, "graft.stream.scratchRoot" -> scratch)(
      StreamOps.drain(spark, stream(src), OutputMode.Append(),
        perBatch = b => { during = (temporaries(), names(scratch)); b }))
    assert(out.count() == 10)
    assert((during._1 -- before).isEmpty, "Spark made a temporary checkpoint")
    assert(during._2.exists(_.startsWith("graft_drain_ckpt_")))
    assert(!names(scratch).exists(_.startsWith("graft_drain_ckpt_")),
      "the drain's own checkpoint outlived it")
  }

  test("Append and Complete drains of no rows return typed empty frames") {
    val emptyFile = tempDir("graft_drain_empty")
    spark.range(0).select(col("id"), col("id").cast("string").as("v"))
      .coalesce(1).write.mode("overwrite").parquet(emptyFile)
    Seq(emptyFile, tempDir("graft_drain_nofile")).foreach { src =>
      val app = StreamOps.drain(spark, stream(src), OutputMode.Append())
      assert(app.schema.map(f => f.name -> f.dataType) ==
        Seq("id" -> LongType, "v" -> StringType))
      assert(app.count() == 0)
      val agg = stream(src).groupBy(col("v")).agg(count(lit(1)).as("n"))
      val comp = StreamOps.drain(spark, agg, OutputMode.Complete(),
        Seq(StreamOps.StatePartitions))
      assert(comp.schema.map(f => f.name -> f.dataType) ==
        Seq("v" -> StringType, "n" -> LongType))
      assert(comp.count() == 0)
    }
  }

  test("a per-batch transform over 3 micro-batches equals it in batch, " +
      "read back without a schema-inference job") {
    val src = source(3, 40)
    def f(b: DataFrame): DataFrame = b.filter(col("id") % 2 === 0)
      .select((col("id") * 10).as("x"), upper(col("v")).as("w"))
    val (out, jobs) = callerJobsDuring(
      StreamOps.drain(spark, stream(src), OutputMode.Append(), perBatch = f))
    assert(jobs == 0, "the read-back ran a job on the calling thread")
    assert(out.inputFiles.map(p => new org.apache.hadoop.fs.Path(p)
      .getParent.getName).distinct.sorted.toSeq == Seq("b0", "b1", "b2"))
    val want = f(spark.read.schema(schema).parquet(src)).collect()
    assert(want.length == 60)
    assert(out.collect().sortBy(_.getLong(0)).toSeq ==
      want.sortBy(_.getLong(0)).toSeq)
    // the counter sees an inferring read's job on this thread
    assert(callerJobsDuring(spark.read.parquet(src))._2 >= 1)
  }
}
