package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see run.py). */
final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, inputs: Path, work: Path, slots: Int, selftest: Boolean)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", Paths.get(m("inputs")).toAbsolutePath,
      Paths.get(m("work")).toAbsolutePath, m("slots").toInt,
      m.getOrElse("selftest", "0") == "1")
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Clock {
  def now(): Double = System.nanoTime() / 1e9
  def time[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, now() - t0)
  }
  /** Process CPU time (user + system, every thread) in seconds. */
  def cpu(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Disk {
  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }
  def parquetFiles(p: Path): Seq[Path] =
    files(p).filter(_.getFileName.toString.endsWith(".parquet"))
  def bytes(ps: Seq[Path]): Long = ps.map(Files.size).sum
  def mb(ps: Seq[Path]): Double = bytes(ps) / 1048576.0
  def allFiles(p: Path): Seq[Path] = files(p)
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** Task-level engine counters, summed while `on` is set. */
class EngineListener extends SparkListener {
  @volatile var on = false
  private val c = mutable.Map[String, Double]().withDefaultValue(0.0)
  def reset(): Unit = synchronized(c.clear())
  def snapshot(): Map[String, Double] = synchronized(c.toMap)
  private def add(k: String, v: Double): Unit = synchronized(c(k) += v)
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (on) add("jobs", 1)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      add("tasks", 1)
      add("executor_cpu_s", m.executorCpuTime / 1e9)
      add("executor_run_s", m.executorRunTime / 1e3)
      add("gc_s", m.jvmGCTime / 1e3)
      add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
      add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
      add("spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
      val busy = m.executorRunTime + m.executorDeserializeTime +
        m.resultSerializationTime
      add("scheduler_delay_s", math.max(e.taskInfo.duration - busy, 0L) / 1e3)
    }
}

object EngineListener {
  val Keys = Seq("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "scheduler_delay_s")

  /** Run `f` with counting on; returns its result and the counters.
    * With `on` false (untraced runs) nothing is counted.
    */
  def measure[T](spark: SparkSession, l: EngineListener, on: Boolean = true)(f: => T)
      : (T, Map[String, Double]) = {
    if (!on) return (f, Map.empty)
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    l.reset(); l.on = true
    val r = try f finally {
      org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
      l.on = false
    }
    (r, l.snapshot())
  }
}

/** One metric value as printed: number and unit. */
final case class M(value: Double, unit: String)

/** What a workload hands back to Main. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    metrics: Map[String, M], notes: Seq[String] = Nil)
