package graft

import org.apache.spark.sql.functions._

import graft.functions.ExprKernels
import graft.sources.ZOrder

/** Z-order layout proofs: the Morton kernel's locality property, and
  * the thing the layout exists for — a 2-D range predicate prunes most
  * z-clustered files by footer min/max, where a hash layout prunes
  * none.
  */
class ZOrderSpec extends SparkSuite {

  test("morton kernel interleaves and preserves locality") {
    assert(ExprKernels.zvalue(0L, 0L) == 0L)
    assert(ExprKernels.zvalue(0L, 1L) == 1L)
    assert(ExprKernels.zvalue(1L, 0L) == 2L)
    assert(ExprKernels.zvalue(0x7fffffffL, 0x7fffffffL) ==
      0x3fffffffffffffffL)
    // prefix property: both coords in [0, 2^k) => z < 4^k
    assert(ExprKernels.zvalue(255L, 255L) < (1L << 16))
    // out-of-domain keys fail loudly instead of silently colliding
    intercept[IllegalArgumentException](ExprKernels.zvalue(-1L, 0L))
    intercept[IllegalArgumentException](ExprKernels.zvalue(1L << 31, 0L))
  }

  private def filesTouched(path: String, lo: Long, hi: Long): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val touched = files.count { f =>
      // file-level min/max, exactly what a stats-based reader consults
      val r = spark.read.parquet(f)
        .agg(min(col("a")).as("la"), max(col("a")).as("ha"),
          min(col("b")).as("lb"), max(col("b")).as("hb"))
        .collect()(0)
      r.getLong(1) >= lo && r.getLong(0) <= hi &&
        r.getLong(3) >= lo && r.getLong(2) <= hi
    }
    (touched, files.length)
  }

  test("2-D range predicate prunes z-clustered files, not hash layout") {
    import spark.implicits._
    val root = tempDir("graft_zorder")
    // 64k points on a 256x256 grid, row-major (worst case for 1-D sort)
    val pts = spark.range(65536)
      .select((col("id") / 256).cast("long").as("a"),
        pmod(col("id"), lit(256)).cast("long").as("b"))
    // repartitionByRange SAMPLES its boundaries, seeded by rdd.id, so
    // they would shift with session history. A per-partition sample
    // size of at least the row count makes the sample every row, and
    // the boundaries the exact quantiles.
    val sampleConf = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    val prior = spark.conf.getOption(sampleConf)
    spark.conf.set(sampleConf, "65536")
    try ZOrder.writeClustered(pts, "a", "b", s"$root/z", nFiles = 16)
    finally prior match {
      case Some(v) => spark.conf.set(sampleConf, v)
      case None => spark.conf.unset(sampleConf)
    }
    pts.repartition(16).write.parquet(s"$root/h")

    val (zTouched, zTotal) = filesTouched(s"$root/z", 32, 63)
    val (hTouched, hTotal) = filesTouched(s"$root/h", 32, 63)
    assert(zTotal == 16 && hTotal >= 16)
    // the 32x32 query rectangle is 1/64 of the space: a z-layout keeps
    // it inside very few rectangles; a hash layout smears it everywhere.
    assert(zTouched <= 3, s"z-order touched $zTouched of $zTotal")
    assert(hTouched == hTotal, s"hash touched $hTouched of $hTotal")

    // layout changes bytes on disk, never the relation
    assert(spark.read.parquet(s"$root/z").orderBy("a", "b")
      .as[(Long, Long)].collect().toSeq ==
      pts.orderBy("a", "b").as[(Long, Long)].collect().toSeq)
  }
}
