package graft

import java.util.Properties

import org.apache.spark.sql.functions._

import graft.snort.SnortStar

/** Real JDBC round-trip for the star-schema sink (the reference's
  * MySQL writer): Spark ships embedded Derby, so the writer is driven
  * against an actual database — table creation, append semantics and
  * type mapping included — and read back through spark.read.jdbc.
  */
class JdbcSinkSpec extends SparkSuite {

  test("star tables survive a JDBC write + readback round-trip") {
    val db = tempDir("graft_jdbc") + "/star"
    val url = s"jdbc:derby:$db;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")

    val star = SnortStar.normalize(SnortOps.fixtureAlerts(spark))
    // Derby has no BLOB-literal-free append for empty frames; write the
    // fact + header tables with rows (payload binary included)
    val written = star.filter(_._2.count() > 0)
    SnortStar.writeJdbc(written, url, props)

    written.foreach { case (name, df) =>
      val back = spark.read.jdbc(url, name, props)
      assert(back.count() == df.count(), s"$name row count")
      assert(back.columns.sorted.toSeq ==
        df.columns.map(_.toLowerCase).sorted.toSeq ||
        back.columns.map(_.toLowerCase).sorted.toSeq ==
          df.columns.map(_.toLowerCase).sorted.toSeq,
        s"$name schema: ${back.columns.mkString(",")}")
    }

    // spot-check a value path: event rows keep their (sid, cid) keys
    val ev = spark.read.jdbc(url, "event", props)
    val expected = star("event")
      .select(col("sid").cast("long"), col("cid").cast("long"))
      .orderBy(col("sid"), col("cid")).collect().toSeq
    val got = ev.select(col("sid").cast("long"), col("cid").cast("long"))
      .orderBy(col("sid"), col("cid")).collect().toSeq
    assert(got == expected)
  }

  test("MySQL dialect maps every star column type to a snorby-compatible DDL type") {
    // No MySQL server exists in this sandbox (and no H2 jar to fake
    // one), so the MySQL-specific half of the reference's writer
    // (__init__.py:372-433) is proven at the DIALECT layer: the same
    // write path above, pointed at a jdbc:mysql: URL, resolves Spark's
    // MySQL dialect, and every column type the star tables contain
    // must map to the DDL type the snorby/base schema expects. This
    // pins the generated CREATE TABLE types without a live server —
    // the Derby round-trip above proves the write path itself.
    import org.apache.spark.sql.jdbc.JdbcDialects
    import org.apache.spark.sql.types._
    val dialect = JdbcDialects.get("jdbc:mysql://localhost:3306/snorby")
    assert(dialect.getClass.getName.toLowerCase.contains("mysql"),
      s"jdbc:mysql URL must resolve the MySQL dialect: ${dialect.getClass}")
    def ddl(dt: DataType): String =
      dialect.getJDBCType(dt).map(_.databaseTypeDefinition).getOrElse(
        org.apache.spark.sql.execution.datasources.jdbc.JdbcUtils
          .getCommonJDBCType(dt).map(_.databaseTypeDefinition)
          .getOrElse(fail(s"no JDBC mapping for $dt")))
    val star = SnortStar.normalize(SnortOps.fixtureAlerts(spark))
    val allTypes = star.values.flatMap(_.schema.fields.map(_.dataType)).toSet
    // every type present in the star schema must have a mapping
    allTypes.foreach(dt => assert(ddl(dt).nonEmpty, s"unmapped: $dt"))
    // and the load-bearing ones must be the snorby-compatible forms
    assert(ddl(BinaryType) == "BLOB")        // packet payloads
    assert(ddl(LongType) == "BIGINT")        // sid/cid keys
    assert(ddl(IntegerType) == "INTEGER")
    assert(ddl(StringType).contains("TEXT")) // sig_msg and friends
    assert(ddl(TimestampType).startsWith("TIMESTAMP"))
    // identifier quoting is backtick-style (MySQL), not ANSI quotes
    assert(dialect.quoteIdentifier("signature") == "`signature`")
  }

  test("failed append rolls back; a clean rerun lands exactly-once rows") {
    // The reference reconnects with a hand-rolled backoff loop and
    // resumes from its last-cid bookmark; the Spark sink's equivalent
    // contract is per-partition transactions + task retry. Prove the
    // two halves on a real database: (1) a write whose source iterator
    // throws mid-partition must leave ZERO rows (the partition
    // transaction rolls back — no torn state for a retry to double),
    // then (2) the retried clean write lands every row exactly once.
    val db = tempDir("graft_jdbc_rb") + "/rb"
    val url = s"jdbc:derby:$db;create=true"
    val props = new Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    import spark.implicits._
    val poison = udf { (id: Long) =>
      if (id == 7L) throw new RuntimeException("simulated connection drop")
      id
    }
    val df = spark.range(0, 10).toDF("id")
      .select(col("id"), col("id").cast("string").as("v"))
      .coalesce(1)
    intercept[Exception] {
      df.select(poison(col("id")).as("id"), col("v"))
        .write.mode("append").jdbc(url, "sig_test", props)
    }
    // table may exist (created before the insert) but must be EMPTY.
    // Only table-NOT-FOUND (Derby SQLState 42X05) counts as clean —
    // a catch-all here would turn any read failure (bad URL, driver
    // error) into "zero rows" and pass the torn-write check vacuously
    // (ADVICE r7).
    def isTableMissing(e: Throwable): Boolean = {
      var t = e
      while (t != null) {
        t match {
          case s: java.sql.SQLException if s.getSQLState == "42X05" =>
            return true
          case _ =>
        }
        t = t.getCause
      }
      false
    }
    val afterFail =
      try spark.read.jdbc(url, "sig_test", props).count()
      catch { case e: Throwable if isTableMissing(e) => 0L }
    assert(afterFail == 0L, s"torn partial write: $afterFail rows")
    df.write.mode("append").jdbc(url, "sig_test", props)
    assert(spark.read.jdbc(url, "sig_test", props).count() == 10L)
  }
}
