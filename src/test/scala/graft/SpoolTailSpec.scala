package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.Unified2Fixture
import graft.streaming.SpoolTail

/** The tailing spool source must do what the built-in file source can't
  * (ADVICE r1): keep reading a file that grows between micro-batches,
  * never losing appended records, never double-reading, surviving a
  * checkpoint restart mid-file — the reference's record-level bookmark
  * semantics (/root/reference/charlotte/__init__.py:108-120).
  */
class SpoolTailSpec extends SparkSuite {

  private def ip4(a: Int, b: Int, c: Int, d: Int) =
    Array[Byte](a.toByte, b.toByte, c.toByte, d.toByte)

  private def alert(id: Int): Array[Byte] =
    Unified2Fixture.eventV2(1, id, 1800000000L + id, 1000001, 1, 3, 2, 1,
      ip4(10, 0, 0, id), ip4(192, 168, 1, id), 1000 + id, 80, 6)

  test("tail source follows a growing active file across batches and restarts") {
    val dir = tempDir("graft_tail")
    val file = Paths.get(dir, "snort.log.1800000000")
    val r3 = alert(3)

    // batch 1 input: two complete records + a TORN half of record 3
    Files.write(file, alert(1) ++ alert(2) ++ r3.take(r3.length / 2))

    val ckpt = tempDir("graft_tail_ckpt")
    val out = tempDir("graft_tail_out")
    // parquet sink: the memory sink can't recover from a checkpoint
    def start() = SpoolTail
      .streamRecords(spark, Seq(dir), "snort.log", "sensorT")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    def sunk() = spark.read.parquet(out).collect()

    val q1 = start()
    try {
      q1.processAllAvailable()
      val got1 = sunk()
      assert(got1.length == 2, "torn record must not be emitted")
      assert(got1.map(_.getAs[Int]("rec_index")).sorted.toSeq == Seq(0, 1))

      // the active file GROWS: rest of record 3 + record 4 appended
      Files.write(file, r3.drop(r3.length / 2) ++ alert(4),
        StandardOpenOption.APPEND)
      q1.processAllAvailable()
      val got2 = sunk()
      assert(got2.length == 4, "appended records were lost")
      assert(got2.map(_.getAs[Int]("rec_index")).sorted.toSeq ==
        Seq(0, 1, 2, 3), "rec_index must continue across batches")
      assert(got2.map(_.getAs[Long]("event_id")).sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L))
      assert(got2.forall(_.getAs[String]("sensor") == "sensorT"))
    } finally q1.stop()

    // restart from checkpoint: only the newly-appended record arrives
    Files.write(file, alert(5), StandardOpenOption.APPEND)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val got3 = sunk()
      assert(got3.length == 5, s"bookmark resume broke: ${got3.length} rows")
      assert(got3.map(_.getAs[Long]("event_id")).sorted.toSeq ==
        Seq(1L, 2L, 3L, 4L, 5L), "record lost or double-read on resume")
      assert(got3.map(_.getAs[Int]("rec_index")).sorted.toSeq ==
        Seq(0, 1, 2, 3, 4))
    } finally q2.stop()
  }

  test("tailIngest runs the full enrich loop over a growing file") {
    val dir = tempDir("graft_tailingest")
    val file = Paths.get(dir, "snort.log.1800000000")
    Files.write(file, alert(1) ++ alert(2))
    val (sid, gen, cls) = Unified2Fixture.writeMaps(
      tempDir("graft_tailingest_maps"))
    val out = tempDir("graft_tailingest_out")
    val ckpt = tempDir("graft_tailingest_ckpt")

    graft.streaming.Spool.tailIngest(spark, Seq(dir), "snort.log", "sT",
      sid, gen, cls, out, ckpt, availableNow = true)
    assert(spark.read.parquet(out).count() == 2)

    // active file grows; a second bounded drain ingests ONLY the tail
    Files.write(file, alert(3), StandardOpenOption.APPEND)
    graft.streaming.Spool.tailIngest(spark, Seq(dir), "snort.log", "sT",
      sid, gen, cls, out, ckpt, availableNow = true)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3)
    // enrichment applied: fixture sid 1000001 maps to the known msg
    assert(rows.filter(org.apache.spark.sql.functions.col("sig_msg") ===
      "WEB-MISC test http alert").count() == 3)
  }

  test("tailIngest warehouse equals the alerts()-based projection row for row") {
    import org.apache.spark.sql.functions.col
    import graft.functions.Net
    import graft.snort.Maps
    import graft.sources.Unified2
    // the fixture spool carries packets (one alert has two, one none)
    // and an extra-data record next to its events
    val root = tempDir("graft_tailrows")
    val spool = Unified2Fixture.writeSpool(s"$root/spool")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    // map edge cases: a repeated sid (its last line wins), a gen-msg hit
    // with gid != 1, a gen-msg gid 1 line (sid-msg owns gid 1), an
    // unmapped gid-1 sid and an unknown class id
    Files.writeString(Paths.get(sid), "1000002 || DNS suspicious query v2\n",
      StandardOpenOption.APPEND)
    def ev(id: Int, sig: Int, gen: Int, cls: Int) =
      Unified2Fixture.eventV2(1, id, 1700000100L + id, sig, gen, 4, cls, 2,
        ip4(10, 9, 0, id), ip4(192, 168, 9, id), 4000 + id, 443, 6)
    Files.write(Paths.get(spool, "snort.log.1700000100"),
      ev(101, 1000002, 1, 2) ++ ev(102, 1, 116, 1) ++ ev(103, 1, 1, 3) ++
        ev(104, 2000000, 1, 2) ++ ev(105, 1000001, 1, 99))
    val out = s"$root/out"
    graft.streaming.Spool.tailIngest(spark, Seq(spool), "snort.log", "s1",
      sid, gen, cls, out, s"$root/ckpt", availableNow = true)

    val records = Unified2.records(spark, Seq(spool), "snort.log", "s1")
    val assembled = Maps.enrichClassifications(
      Maps.enrichSignatures(Unified2.alerts(records),
        Maps.combinedSigMap(spark, sid, gen)),
      Maps.classMap(spark, cls))
    val want = assembled.select(col("sensor"), col("event_id"),
      col("event_second"), col("signature_id"), col("generator_id"),
      col("sig_msg"), col("sig_rev"), col("sig_priority"), col("class_name"),
      Net.ipToString(col("ip_source")).as("src_ip"),
      Net.ipToString(col("ip_destination")).as("dst_ip"),
      col("sport_itype"), col("dport_icode"), col("protocol"))
    val got = spark.read.parquet(out)
    assert(got.schema.map(f => f.name -> f.dataType) ==
      want.schema.map(f => f.name -> f.dataType))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_(1).asInstanceOf[Long]).toSeq
    assert(rows(want).length == 12)
    assert(rows(got) == rows(want))
    val msgs = rows(got).map(r => r(1) -> r(5)).toMap
    assert(msgs(101L) == "DNS suspicious query v2")
    assert(msgs(102L) == "snort decoder alert")
    assert(msgs(103L) == "Unknown Alert 1:1")
    assert(msgs(104L) == "Unknown Alert 1:2000000")
    assert(rows(got).find(_(1) == 105L).get(8) == "unknown-classification")

    // the sink's projection over broadcast lookups against the join API
    // on the same events, before parquet makes every column nullable:
    // equal rows, schema and nullability
    val sc = spark.sparkContext
    val events = Unified2.events(records)
    val lookedUp = graft.streaming.Spool.sinkRows(events,
      sc.broadcast(Maps.sigLookup(sid, gen)), sc.broadcast(Maps.classLookup(cls)))
    val joined = Maps.enrichClassifications(
      Maps.enrichSignatures(events, Maps.combinedSigMap(spark, sid, gen)),
      Maps.classMap(spark, cls)).select(graft.streaming.Spool.sinkColumns: _*)
    assert(lookedUp.schema == joined.schema)
    assert(rows(lookedUp) == rows(joined))
    assert(rows(lookedUp) == rows(want))
  }

  test("a non-empty follow micro-batch runs one Spark job with one task") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tempDir("graft_tailjobs")
    val spool = Unified2Fixture.writeSpool(s"$root/spool")
    val (sid, gen, cls) = Unified2Fixture.writeMaps(s"$root/maps")
    val out = s"$root/out"
    // (query id, batch id, tasks) of every job a streaming query starts
    val jobs = new ConcurrentLinkedQueue[(String, String, Int)]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("graft.test.marker") == root) drained.countDown()
          else Option(p.getProperty("sql.streaming.queryId")).foreach { q =>
            jobs.add((q, p.getProperty("streaming.sql.batchId"),
              e.stageInfos.map(_.numTasks).sum))
          }
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val q = graft.streaming.Spool.tailIngest(spark, Seq(spool), "snort.log",
        "s1", sid, gen, cls, out, s"$root/ckpt", availableNow = true)
      // listener events arrive in order: once the listener sees this
      // job, it has seen every job of the drain
      sc.setLocalProperty("graft.test.marker", root)
      try spark.range(1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(drained.await(60, TimeUnit.SECONDS))
      assert(spark.read.parquet(out).count() == 7)
      val perBatch = jobs.asScala.toSeq.filter(_._1 == q.id.toString)
        .groupBy(_._2)
      assert(perBatch.nonEmpty)
      assert(perBatch.values.forall(_.size == 1),
        s"jobs per batch: ${perBatch.map { case (b, js) => b -> js.size }}")
      assert(perBatch.values.flatten.forall(_._3 == 1),
        s"tasks per job: ${perBatch.values.flatten.map(_._3)}")
    } finally sc.removeSparkListener(listener)
  }

  test("purgeIngested deletes only fully-committed rolled-over files") {
    val dir = tempDir("graft_purge")
    val f1 = Paths.get(dir, "snort.log.1800000001")
    val f2 = Paths.get(dir, "snort.log.1800000002")
    Files.write(f1, alert(1) ++ alert(2))
    Files.write(f2, alert(3))
    val ckpt = tempDir("graft_purge_ckpt")
    val out = tempDir("graft_purge_out")

    // nothing committed yet -> nothing purged
    assert(graft.streaming.Spool.purgeIngested(ckpt).isEmpty)

    val q = SpoolTail.streamRecords(spark, Seq(dir), "snort.log", "sP")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(out).count() == 3)

    val purged = graft.streaming.Spool.purgeIngested(ckpt)
    assert(purged == Seq(f1.toString),
      s"only the rolled-over file may go: $purged")
    assert(!Files.exists(f1), "fully-ingested closed file deleted")
    assert(Files.exists(f2), "active file must survive")

    // stream keeps working after the purge: active file grows, resume
    Files.write(f2, alert(4), StandardOpenOption.APPEND)
    val q2 = SpoolTail.streamRecords(spark, Seq(dir), "snort.log", "sP")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(out).count() == 4,
      "purge must not disturb the bookmark of surviving files")
  }

  test("tail source drains a closed spool via AvailableNow") {
    val root = tempDir("graft_tail_closed")
    val dir = Unified2Fixture.writeSpool(root + "/spool")
    // executor-side parquet sink, like the engine's own drains — the
    // memory sink is the driver-collect path the r17 wave removed from
    // src/main, and this spec must not keep exercising it (ADVICE r17)
    val out = root + "/out"; val ckpt = root + "/ckpt"
    val q = SpoolTail.streamRecords(spark, Seq(dir), "snort.log", "s1")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // same record count as the batch binaryFile parser
    val batch = graft.sources.Unified2
      .records(spark, Seq(dir), "snort.log", "s1").count()
    assert(spark.read.parquet(out).count() == batch && batch > 0)
  }

  test("a spool file that vanishes after the listing is skipped, not fatal") {
    val dir = tempDir("graft_tail_gone")
    Files.write(Paths.get(dir, "snort.log.1800000001"), alert(1) ++ alert(2))
    // listed by the prefix scan, but Files.size / open find no file
    Files.createSymbolicLink(Paths.get(dir, "snort.log.1800000002"),
      Paths.get(dir, "snort.log.purged"))
    val st = new graft.streaming.SpoolTailStream(Seq(dir), "snort.log")
    assert(st.latestOffset() == graft.streaming.SpoolTailOffset(Map(
      Paths.get(dir, "snort.log.1800000001").toString ->
        Seq(2L * alert(1).length, 2L))))
    val out = tempDir("graft_tail_gone_out")
    val q = SpoolTail.streamRecords(spark, Seq(dir), "snort.log", "sG")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", tempDir("graft_tail_gone_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    assert(spark.read.parquet(out).count() == 2)
  }

  test("a purged spool file leaves the boundary cache at the next listing") {
    val dir = tempDir("graft_tail_cache")
    val rolled = Paths.get(dir, "snort.log.1800000001")
    val active = Paths.get(dir, "snort.log.1800000002")
    Files.write(rolled, alert(1) ++ alert(2))
    Files.write(active, alert(3))
    val st = new graft.streaming.SpoolTailStream(Seq(dir), "snort.log")
    def offsets() = st.latestOffset()
      .asInstanceOf[graft.streaming.SpoolTailOffset].files
    val before = offsets()
    assert(st.cachedPaths == Set(rolled.toString, active.toString))
    // what purgeIngested does to a fully committed rolled-over file
    Files.delete(rolled)
    assert(offsets() == before - rolled.toString)
    assert(st.cachedPaths == Set(active.toString))
  }

  test("the offset walk stops at a record length readRange refuses (sparse file)") {
    // one alert, then a header one byte past Unified2.MaxBodyLen whose
    // body is all present: a sparse ~2 GiB file on the temp filesystem
    val dir = tempDir("graft_tail_sparse")
    val file = Paths.get(dir, "snort.log.1800000001")
    val head = alert(1)
    val len = graft.sources.Unified2.MaxBodyLen + 1
    Files.write(file, head ++ java.nio.ByteBuffer.allocate(8)
      .putInt(104).putInt(len.toInt).array())
    val raf = new java.io.RandomAccessFile(file.toFile, "rw")
    try raf.setLength(head.length + 8 + len + head.length) finally raf.close()
    val st = new graft.streaming.SpoolTailStream(Seq(dir), "snort.log")
    val Seq(off, n) = st.latestOffset()
      .asInstanceOf[graft.streaming.SpoolTailOffset].files(file.toString)
    assert((off, n) == (head.length.toLong, 1L),
      "committed an offset past a record the reader refuses")
    val ch = java.nio.channels.FileChannel.open(file, StandardOpenOption.READ)
    try assert(graft.sources.Unified2.readRange(ch, file.toString, 0,
      Files.size(file), 0).size == 1)
    finally ch.close()
  }

  test("planner fails loud on a record index past Int range (ADVICE r4)") {
    val st = new graft.streaming.SpoolTailStream(Seq("/nonexistent"), "x")
    val start = graft.streaming.SpoolTailOffset(
      Map("/f" -> Seq(0L, Int.MaxValue.toLong + 1)))
    val end = graft.streaming.SpoolTailOffset(
      Map("/f" -> Seq(1024L, Int.MaxValue.toLong + 2)))
    val e = intercept[IllegalArgumentException] {
      st.planInputPartitions(start, end)
    }
    assert(e.getMessage.contains("exceeds Int range"),
      s"wrong failure: ${e.getMessage}")
  }

  private def planned(files: (String, Long, Long, Long)*) = {
    spark // the planner sizes partitions from the active session
    val st = new graft.streaming.SpoolTailStream(Seq("/nonexistent"), "x")
    val start = graft.streaming.SpoolTailOffset(files.map {
      case (f, startOff, startIdx, _) => f -> Seq(startOff, startIdx)
    }.toMap)
    val end = graft.streaming.SpoolTailOffset(files.map {
      case (f, _, startIdx, endOff) => f -> Seq(endOff, startIdx + 1)
    }.toMap)
    st.planInputPartitions(start, end).toSeq
      .map(_.asInstanceOf[graft.streaming.SpoolTailPartition].ranges)
  }

  test("planner packs small ranges of several files into one partition, in path order") {
    import graft.streaming.SpoolTailRange
    val parts = planned(("/d1/snort.log.2", 100L, 7L, 900L),
      ("/d0/snort.log.1", 0L, 0L, 4000L), ("/d2/snort.log.1", 50L, 3L, 60L),
      ("/d0/snort.log.9", 10L, 1L, 10L)) // did not grow: no range
    assert(parts == Seq(Seq(
      SpoolTailRange("/d0/snort.log.1", 0L, 0, 4000L),
      SpoolTailRange("/d1/snort.log.2", 100L, 7, 900L),
      SpoolTailRange("/d2/snort.log.1", 50L, 3, 60L))))
  }

  test("planner splits a batch above the target size, never a file's range") {
    import graft.streaming.{SpoolTail, SpoolTailRange}
    val mb = 1L << 20
    // 8.4 GB of growth caps the target at maxPartitionBytes (128 MB) for
    // any slot count up to 64
    assert(spark.sparkContext.defaultParallelism <= 64)
    val parts = planned(("/a", 0L, 0L, 150 * mb), ("/b", 0L, 5L, 30 * mb),
      ("/c", 0L, 9L, 60 * mb), ("/d", 0L, 2L, 160 * mb),
      ("/e", 100L, 4L, 8000 * mb))
    assert(parts == Seq(
      Seq(SpoolTailRange("/a", 0L, 0, 150 * mb)),
      Seq(SpoolTailRange("/b", 0L, 5, 30 * mb),
        SpoolTailRange("/c", 0L, 9, 60 * mb)),
      Seq(SpoolTailRange("/d", 0L, 2, 160 * mb)),
      Seq(SpoolTailRange("/e", 100L, 4, 8000 * mb))))
    assert(SpoolTail.partitionBytes(400 * mb, 4 * mb, 128 * mb, 4) == 100 * mb)
    assert(SpoolTail.partitionBytes(4000 * mb, 4 * mb, 128 * mb, 4) == 128 * mb)
    assert(SpoolTail.partitionBytes(mb, 4 * mb, 128 * mb, 4) == 4 * mb)
  }
}
