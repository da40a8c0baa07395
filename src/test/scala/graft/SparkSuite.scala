package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session()

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh directory under `java.io.tmpdir`, deleted with everything
    * in it after the suite.
    */
  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  override def afterAll(): Unit =
    try tempDirs.forEach(d => SparkSuite.deleteRecursively(d))
    finally super.afterAll()

  def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  val sfDir = "/root/testdata/sf0.001"
}

object SparkSuite {
  /** The mains' session at a fixed 4 slots, whatever the host. */
  def session(): SparkSession = GraftSession.build("graft-test",
    Map("spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4"))

  /** Delete `root` and everything in it. A stopped streaming query's
    * state store can still be writing into its checkpoint for a moment,
    * so a walk that meets a directory refilled, or a file gone, under
    * it is run again.
    */
  def deleteRecursively(root: Path): Unit = {
    def attempt(left: Int): Unit =
      try if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch {
        case _: java.nio.file.DirectoryNotEmptyException |
            _: java.io.UncheckedIOException if left > 1 =>
          Thread.sleep(200)
          attempt(left - 1)
      }
    attempt(5)
  }
}

/** Planted-fixture tables written once per JVM under target/fixtures:
  * documents with exact + near duplicates, embeddings with a planted
  * near-identical pair — so dedup/similarity specs assert exact
  * expected pairs instead of only invariants.
  */
object Fixtures {
  val baseText: String =
    "the quick brown fox jumps over the lazy dog near the old river bank today " +
      "while birds sing softly above the tall green trees and wind moves slowly"

  lazy val dir: String = {
    val d = "target/fixtures"
    val spark = SparkSession.getActiveSession.getOrElse(
      SparkSuite.session())
    import spark.implicits._

    val base = baseText
    val near = baseText.replace("lazy dog", "lazy cat")
    val docs = Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base, "en", "src1", base.length.toLong), // exact dup of 0
      (2L, near, "en", "src2", near.length.toLong), // near dup of 0
      (3L, "completely different words about spark query planning and shuffles", "en", "src3", 66L),
      (4L, "der hund lief schnell durch den park und sprang ins wasser", "de", "src4", 58L),
      (5L, "numbers one two three four five six seven eight nine ten eleven", "en", "src5", 63L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")

    val rng = new scala.util.Random(7)
    def randVec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val v0 = randVec()
    val v1 = v0.map(x => x + 0.01f) // near-identical to v0
    val vecs = (Seq((0L, v0, 0), (1L, v1, 0)) ++
      (2L to 11L).map(i => (i, randVec(), i.toInt % 3)))
      .toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }
}
