package graft

import org.scalatest.funsuite.AnyFunSuite

/** The confs `GraftSession.build` computes. Tested as values: the test
  * JVM shares one SparkContext, so a second session could not show
  * its master or slot count.
  */
class GraftSessionSpec extends AnyFunSuite {

  private val nproc = Runtime.getRuntime.availableProcessors

  test("slots come from SPARK_GRAFT_CPUS, else from the processor count") {
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> " 12 ")) == 12)
    assert(GraftSession.cpus(Map.empty) == nproc)
    intercept[NumberFormatException](
      GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "many")))
  }

  test("master and shuffle partitions both follow the slot count") {
    val set = GraftSession.settings("app", env = Map("SPARK_GRAFT_CPUS" -> "6"))
    assert(set("spark.master") == "local[6]")
    assert(set("spark.sql.shuffle.partitions") == "6")
    val dflt = GraftSession.settings("app", env = Map.empty)
    assert(dflt("spark.master") == s"local[$nproc]")
    assert(dflt("spark.sql.shuffle.partitions") == nproc.toString)
  }

  test("shared defaults: app name, UTC, nanosAsLong, no UI") {
    val set = GraftSession.settings("graft-x", env = Map.empty)
    assert(set("spark.app.name") == "graft-x")
    assert(set("spark.sql.session.timeZone") == "UTC")
    assert(set("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(set("spark.ui.enabled") == "false")
    assert(set("spark.sql.codegen.cache.maxEntries") == "500")
  }

  test("overrides win over the defaults and may add keys") {
    val set = GraftSession.settings("app",
      Map("spark.master" -> "spark://h:7077",
        "spark.sql.shuffle.partitions" -> "4",
        "spark.sql.debug.maxToStringFields" -> "10000"),
      env = Map("SPARK_GRAFT_CPUS" -> "32"))
    assert(set("spark.master") == "spark://h:7077")
    assert(set("spark.sql.shuffle.partitions") == "4")
    assert(set("spark.sql.debug.maxToStringFields") == "10000")
    assert(set("spark.sql.session.timeZone") == "UTC")
  }

  test("the shared test session is built by the factory at 4 slots") {
    val spark = SparkSuite.session()
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "500")
  }
}
