package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

/** `Tables.schema`: a table's parquet schema is inferred once per
  * session, so a repeated `Tables.t` of an unchanged table starts no
  * Spark job, while a rewritten path or a flipped inference conf is
  * inferred again.
  *
  * The last test stops the JVM's shared SparkContext (as
  * IndexCachePurgeSpec does) and leaves a fresh session with the
  * SparkSuite config for the suites after it.
  */
class TablesSchemaSpec extends SparkSuite {

  /** `f`'s result and the number of Spark jobs this thread started
    * while it ran. The jobs carry a scope property; a marker job after
    * `f` flushes the listener bus, so every earlier job has been seen.
    */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val scope, marker = UUID.randomUUID().toString
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.test.marker") == marker) flushed.countDown()
          else if (p.getProperty("graft.test.scope") == scope)
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

  private def columns(dir: String, name: String): Seq[String] =
    Tables.t(spark, dir, name).columns.toSeq

  test("a second Tables.t of an unchanged table launches no Spark job") {
    val dir = tempDir("graft_schema_memo")
    spark.range(10).toDF("id").write.parquet(s"$dir/t.parquet")
    val (_, first) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(first >= 1, "the first read infers the schema with a job")
    val (df, second) = jobsDuring(Tables.t(spark, dir, "t"))
    assert(second == 0)
    assert(df.count() == 10)
    Tables.t(spark, sfDir, "orders")
    assert(jobsDuring(Tables.t(spark, sfDir, "orders"))._2 == 0)
    Tables.t(spark, sfDir, "events")
    assert(jobsDuring(Tables.t(spark, sfDir, "events"))._2 == 0)
  }

  test("a table rewritten in place with an added column shows the column") {
    val dir = tempDir("graft_schema_rewrite")
    val path = s"$dir/t.parquet"
    spark.range(3).toDF("id").write.parquet(path)
    assert(columns(dir, "t") == Seq("id"))
    spark.range(5).toDF("id").withColumn("extra", col("id") * 2)
      .write.mode("overwrite").parquet(path)
    assert(columns(dir, "t") == Seq("id", "extra"))
    assert(Tables.t(spark, dir, "t").agg(sum(col("extra"))).head.getLong(0)
      == 20L)

    // a single-file table, replaced by a file of another length
    def partFile(p: String) = Files.list(Paths.get(p)).iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val small = s"$dir/small"
    spark.range(3).toDF("id").coalesce(1).write.parquet(small)
    val single = Paths.get(dir, "one.parquet")
    Files.copy(partFile(small), single)
    assert(columns(dir, "one") == Seq("id"))
    Files.copy(partFile(path), single, StandardCopyOption.REPLACE_EXISTING)
    assert(columns(dir, "one") == Seq("id", "extra"))
  }

  test("a flipped inference conf infers the schema again") {
    // a plain parquet BINARY column, written without the Spark schema
    // in the footer (which Spark's inference would follow instead)
    val dir = tempDir("graft_schema_conf")
    val pq = MessageTypeParser.parseMessageType("message t { required binary b; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), conf))
      .withConf(conf).withType(pq).build()
    try w.write(new SimpleGroupFactory(pq).newGroup().append("b", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    def bType = Tables.t(spark, dir, "t").schema("b").dataType
    assert(bType == BinaryType)
    spark.conf.set(key, "true")
    try assert(bType == StringType)
    finally spark.conf.unset(key)
    assert(bType == BinaryType)
  }

  test("a missing table fails with the error of a plain read") {
    val dir = tempDir("graft_schema_missing")
    val plain = intercept[AnalysisException](
      spark.read.parquet(s"$dir/nope.parquet"))
    val viaTables = intercept[AnalysisException](Tables.t(spark, dir, "nope"))
    assert(viaTables.getClass == plain.getClass)
    assert(viaTables.getCondition == plain.getCondition)
  }

  test("a self-join of two Tables.t reads keeps distinct attributes") {
    val a = Tables.t(spark, sfDir, "orders")
    val b = Tables.t(spark, sfDir, "orders")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    def pairs(l: org.apache.spark.sql.DataFrame,
        r: org.apache.spark.sql.DataFrame) =
      l.as("l").join(r.as("r"), col("l.o_custkey") === col("r.o_custkey"))
        .count()
    val plain = s"$sfDir/orders.parquet"
    val want = pairs(spark.read.parquet(plain), spark.read.parquet(plain))
    assert(want > a.count())
    assert(pairs(a, b) == want)
  }

  test("IndexCache.evictCorpus drops the memo of the corpus's tables") {
    val dir = tempDir("graft_schema_evict")
    spark.range(4).toDF("id").write.parquet(s"$dir/t.parquet")
    Tables.t(spark, dir, "t")
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 == 0)
    IndexCache.evictCorpus(spark, dir)
    assert(jobsDuring(Tables.t(spark, dir, "t"))._2 >= 1)
  }

  // keep last: it stops the suite's session
  test("a stopped session's schema memo drops on the next registry touch") {
    val s1 = spark
    Tables.t(s1, sfDir, "region")
    assert(IndexCache.stats(s1).exists(_.corpus == sfDir))
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    assert(IndexCache.registryHas(s1))
    val s2 = SparkSuite.session()
    assert(s2 ne s1)
    Tables.t(s2, sfDir, "region")
    assert(!IndexCache.registryHas(s1),
      "a stopped session's memo entries must drop on the next touch")
    assert(IndexCache.registryHas(s2))
  }
}
