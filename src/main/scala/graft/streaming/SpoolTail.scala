package graft.streaming

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardOpenOption}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.json4s.{DefaultFormats, Formats}
import org.json4s.Extraction
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.Unified2
import graft.sources.Unified2.U2Record

/** Tailing unified2 spool source — a DataSource V2 micro-batch stream
  * with RECORD-LEVEL bookmarks, the Spark-native equivalent of the
  * reference's SpoolEventReader + bookmark files
  * (/root/reference/charlotte/__init__.py:108-120,213-283).
  *
  * Unlike the built-in file stream source (each file read exactly once
  * at discovery — appends after that are lost, ADVICE r1), this source
  * keeps a per-file BYTE OFFSET in the streaming offset log: each
  * micro-batch reads only the newly-appended complete records of every
  * `prefix*` file, so the ACTIVE file snort is still writing is safe to
  * follow. Torn trailing records are simply not yet past the committed
  * boundary — they are picked up whole in a later batch.
  *
  * Offsets advance only over COMPLETE records: the driver walks the
  * u32-type/u32-length framing headers from the previous boundary
  * (O(new records) 8-byte reads, no payload I/O) so a partition's byte
  * range always ends on a record boundary. The offset json doubles as
  * the record index base, keeping `rec_index` stable across resumed
  * mid-file reads — checkpoint restart = the reference's bookmark
  * resume, exactly once.
  *
  * Scale: the grown byte ranges of a batch are packed, in path order,
  * into input partitions sized like Spark's file scans (see
  * [[SpoolTail.partitionBytes]]), never splitting a file's range: a
  * steady tail batch of a few small appends is one task, a backlog
  * drain spreads over the slots. Parse happens executor-side; the
  * driver touches only framing headers. 1000 sensors × N spool dirs =
  * 1000s of independent ranges, no shuffle.
  */
object SpoolTail {

  /** The U2Record encoder, derived by reflection once per JVM; every
    * partition reader takes its own serializer from it.
    */
  private[streaming] lazy val encoder: ExpressionEncoder[U2Record] =
    ExpressionEncoder[U2Record]()

  /** U2Record row schema (shared by driver table + executor reader). */
  lazy val schema: StructType = encoder.schema

  /** Target input-partition size for a batch of `batchBytes`, the rule
    * of Spark's file scans: `batchBytes / parallelism`, at least
    * `openCostInBytes` (a small batch is one partition) and at most
    * `maxPartitionBytes` (`spark.sql.files.*`).
    */
  def partitionBytes(batchBytes: Long, openCostInBytes: Long,
      maxPartitionBytes: Long, parallelism: Int): Long =
    math.min(maxPartitionBytes,
      math.max(openCostInBytes, batchBytes / parallelism))

  /** Pack `ranges`, in order, into partitions of at most `target`
    * bytes. A range is never split: one larger than `target` is a
    * partition of its own.
    */
  def pack(ranges: Seq[SpoolTailRange], target: Long): Seq[Seq[SpoolTailRange]] = {
    val parts = Seq.newBuilder[Seq[SpoolTailRange]]
    var open = Vector.empty[SpoolTailRange]
    var bytes = 0L
    ranges.foreach { r =>
      if (open.nonEmpty && bytes + r.length > target) {
        parts += open
        open = Vector.empty
        bytes = 0L
      }
      open :+= r
      bytes += r.length
    }
    if (open.nonEmpty) parts += open
    parts.result()
  }

  /** Streaming tail-follow of spool `dirs` for one logical sensor. */
  def streamRecords(spark: SparkSession, dirs: Seq[String], prefix: String,
      sensor: String): DataFrame =
    spark.readStream
      .format(classOf[SpoolTailProvider].getName)
      .option("dirs", dirs.mkString(","))
      .option("prefix", prefix)
      .load()
      .withColumn("sensor", lit(sensor))
}

/** Streaming offset: path → [safe byte offset, record count]. */
case class SpoolTailOffset(files: Map[String, Seq[Long]]) extends Offset {
  override def json(): String = {
    implicit val fmt: Formats = DefaultFormats
    JsonMethods.compact(JsonMethods.render(Extraction.decompose(files)))
  }
}

object SpoolTailOffset {
  def parse(s: String): SpoolTailOffset = {
    implicit val fmt: Formats = DefaultFormats
    SpoolTailOffset(JsonMethods.parse(s).extract[Map[String, Seq[Long]]])
  }
}

class SpoolTailProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SpoolTail.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SpoolTailTable(
      properties.asScala.getOrElse("dirs", ""),
      properties.asScala.getOrElse("prefix", "snort.log"))
}

class SpoolTailTable(dirs: String, prefix: String)
    extends Table with SupportsRead {
  override def name(): String = s"spool_tail($dirs)"
  override def schema(): StructType = SpoolTail.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = SpoolTail.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new SpoolTailStream(dirs.split(",").filter(_.nonEmpty).toSeq, prefix)
    }
}

class SpoolTailStream(dirs: Seq[String], prefix: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // driver-side boundary cache so each latestOffset() walk resumes from
  // the last known record-complete offset instead of re-framing from 0;
  // holds the files of the last listing only
  private var known = Map.empty[String, (Long, Long)]
  private var availableEnd: Option[SpoolTailOffset] = None

  /** The paths whose boundaries the last listing cached. */
  private[graft] def cachedPaths: Set[String] = known.keySet

  /** Walk framing headers from the known boundary; return the greatest
    * record-complete (offset, count) not past the current file size.
    */
  private def boundary(p: Path): (Long, Long) = {
    val size = Files.size(p)
    var (off, n) = known.getOrElse(p.toString, (0L, 0L))
    if (size >= off + 8) {
      val ch = FileChannel.open(p, StandardOpenOption.READ)
      try {
        val hdr = ByteBuffer.allocate(8)
        var cont = true
        while (cont && off + 8 <= size) {
          hdr.clear()
          if (ch.read(hdr, off) < 8) cont = false
          else {
            hdr.flip()
            hdr.getInt() // type
            val len = Unified2.bodyLen(hdr.getInt())
            if (len >= 0 && off + 8 + len <= size) { off += 8 + len; n += 1 }
            else cont = false
          }
        }
      } finally ch.close()
    }
    (off, n)
  }

  /** The boundaries of every `prefix*` file listed now. A file gone
    * since an earlier listing (purged, or rotated away) leaves the
    * cache with it.
    */
  private def computeLatest(): SpoolTailOffset = {
    val m = Map.newBuilder[String, Seq[Long]]
    val listed = Map.newBuilder[String, (Long, Long)]
    dirs.foreach { d =>
      val dir = Paths.get(d)
      if (Files.isDirectory(dir)) {
        // close the DirectoryStream-backed java stream — this runs once
        // per dir per micro-batch on a long-lived driver (ADVICE r2)
        val listing = Files.list(dir)
        val files =
          try listing.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith(prefix))
            .toSeq.sortBy(_.toString)
          finally listing.close()
        files.foreach { p =>
          // a file gone since the listing (purged, rotated away, or a
          // dangling link) has nothing to read: skip it
          try {
            val (off, n) = boundary(p)
            listed += p.toString -> (off, n)
            if (off > 0) m += p.toString -> Seq(off, n)
          } catch { case _: NoSuchFileException => () }
        }
      }
    }
    known = listed.result()
    SpoolTailOffset(m.result())
  }

  override def prepareForTriggerAvailableNow(): Unit =
    availableEnd = Some(computeLatest())

  override def latestOffset(): Offset =
    availableEnd.getOrElse(computeLatest())

  // SupportsAdmissionControl (via SupportsTriggerAvailableNow): no read
  // limits — a spool batch is whatever grew since the last boundary.
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset =
    latestOffset()

  override def initialOffset(): Offset = SpoolTailOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    SpoolTailOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SpoolTailOffset].files
    val e = end.asInstanceOf[SpoolTailOffset].files
    val ranges = e.toSeq.sortBy(_._1).flatMap { case (path, endState) =>
      val Seq(endOff, _) = endState
      val (startOff, startIdx) = s.get(path) match {
        case Some(Seq(o, i)) => (o, i)
        case _ => (0L, 0L)
      }
      if (endOff > startOff) {
        // rec_idx is Int in the output schema; a checkpointed index past
        // Int.MaxValue (>2^31 records in ONE spool file — snort rotates
        // long before that) would wrap negative on the cast. Fail loud
        // at planning rather than emit corrupt indices.
        require(startIdx <= Int.MaxValue,
          s"record index $startIdx in $path exceeds Int range")
        Some(SpoolTailRange(path, startOff, startIdx.toInt, endOff))
      } else None
    }
    if (ranges.isEmpty) Array.empty
    else {
      val conf = SQLConf.get
      val target = SpoolTail.partitionBytes(ranges.map(_.length).sum,
        conf.filesOpenCostInBytes, conf.filesMaxPartitionBytes,
        SparkSession.active.sparkContext.defaultParallelism)
      SpoolTail.pack(ranges, target)
        .map(rs => SpoolTailPartition(rs): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SpoolTailReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The grown bytes `[startOff, endOff)` of one spool file; its first
  * record has index `startIdx`.
  */
case class SpoolTailRange(path: String, startOff: Long, startIdx: Int,
    endOff: Long) {
  def length: Long = endOff - startOff
}

/** One task's ranges, read in order. */
case class SpoolTailPartition(ranges: Seq[SpoolTailRange]) extends InputPartition

class SpoolTailReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ranges = partition.asInstanceOf[SpoolTailPartition].ranges.iterator
    new PartitionReader[InternalRow] {
      // Stream one record at a time off the channel — memory stays
      // O(max record) even if a file grew >2 GiB between micro-batches
      // (ADVICE r3: the old whole-span ByteBuffer silently truncated
      // the span length to Int). Short reads (file truncated after
      // offset planning) end that range's iterator early. One file is
      // open at a time.
      private var ch: FileChannel = _
      private var rows: Iterator[U2Record] = Iterator.empty
      private val ser = SpoolTail.encoder.createSerializer()
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (!rows.hasNext && ranges.hasNext) {
          close()
          val r = ranges.next()
          ch = FileChannel.open(Paths.get(r.path), StandardOpenOption.READ)
          rows = Unified2.readRange(ch, r.path, r.startOff, r.endOff,
            r.startIdx)
        }
        if (rows.hasNext) { current = ser(rows.next()).copy(); true }
        else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = if (ch != null) { ch.close(); ch = null }
    }
  }
}
