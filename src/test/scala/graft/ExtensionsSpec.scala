package graft

import org.apache.spark.sql.SparkSession

import graft.plans.GraftExtensions

/** A session built with `withExtensions(new GraftExtensions)` exposes
  * the whole graft surface to plain SQL: native functions by name, the
  * Jaccard rewrite rule, and the as-of planner strategy.
  */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val spark: SparkSession = {
    // create(), unlike getOrCreate(), installs the extensions on the
    // running context; it also makes its session the default, so the
    // suite session is put back for the specs that follow
    val suite = SparkSuite.session()
    try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally {
      SparkSession.setDefaultSession(suite)
      SparkSession.setActiveSession(suite)
    }
  }

  test("native functions are SQL-callable after extension install") {
    val r = spark.sql("""
      SELECT graft_jaccard(array('a','b','c'), array('b','c','d')) AS j,
             graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
             graft_simhash(array('x','y')) AS s,
             size(graft_minhash(array('sh1','sh2'))) AS m,
             graft_zvalue(1L, 0L) AS z,
             graft_inet6(unhex('20010db8000000000000000000000001')) AS i6
    """).head()
    assert(r.getAs[Double]("j") == 0.5)
    assert(r.getAs[Double]("d") == 11.0)
    assert(r.getAs[Int]("m") == 64)
    assert(r.getAs[Long]("z") == 2L)
    assert(r.getAs[String]("i6") == "2001:db8::1")
  }

  test("packet decode is SQL-callable") {
    import graft.sources.Unified2Fixture
    val pkt = Unified2Fixture.ipv4Packet(6,
      Array[Byte](10, 0, 0, 1), Array[Byte](-64, -88, 1, 1), 1234, 80,
      "GET".getBytes)
    import spark.implicits._
    val df = Seq(Tuple1(pkt)).toDF("p")
    df.createOrReplaceTempView("pkts")
    val d = spark.sql(
      "SELECT graft_decode_packet(p).ip_src AS src FROM pkts").head()
    assert(d.getAs[String]("src") == "10.0.0.1")
  }
}
