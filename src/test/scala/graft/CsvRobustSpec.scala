package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Malformed-input handling on the CSV interchange path: the three
  * parser modes an ingest pipeline chooses between — quarantine
  * (PERMISSIVE + corrupt-record column), silently drop, or abort.
  */
class CsvRobustSpec extends SparkSuite {

  private lazy val dir = {
    val d = tempDir("graft_csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d/in.csv"),
      "id,name\n1,alpha\n2,beta\nnot-a-number,gamma\n4,delta\n")
    d
  }

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("_bad", StringType)))

  test("PERMISSIVE quarantines the malformed row in the corrupt column") {
    val df = spark.read.option("header", "true").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .schema(schema).csv(s"$dir/in.csv").cache()
    assert(df.count() == 4)
    assert(df.filter(col("_bad").isNotNull).count() == 1)
    val bad = df.filter(col("_bad").isNotNull).collect()(0)
    assert(bad.isNullAt(0) && bad.getAs[String]("_bad")
      .startsWith("not-a-number"))
    assert(df.filter(col("_bad").isNull).agg(sum(col("id")))
      .collect()(0).getLong(0) == 7)
  }

  test("DROPMALFORMED drops structurally bad rows; FAILFAST aborts") {
    // a bad CAST is a null under PERMISSIVE semantics, not a malformed
    // record — only structural (arity) violations trip the mode, so
    // the fixture here has an over-arity row
    val d2 = tempDir("graft_csv2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$d2/in.csv"),
      "id,name\n1,alpha\n2,beta\n3,gamma,EXTRA\n4,delta\n")
    val dropped = spark.read.option("header", "true")
      .option("mode", "DROPMALFORMED")
      .schema(StructType(schema.dropRight(1))).csv(s"$d2/in.csv")
    // NOTE: count() on a DROPMALFORMED csv is a parse-free fast path
    // (column pruning) and reports ALL lines — malformed detection
    // only happens when columns are actually materialized. An ingest
    // pipeline must therefore never use bare count() to audit drops.
    assert(dropped.count() == 4)
    assert(dropped.collect().length == 3)
    val ex = intercept[SparkException] {
      spark.read.option("header", "true").option("mode", "FAILFAST")
        .schema(StructType(schema.dropRight(1))).csv(s"$d2/in.csv")
        .collect()
    }
    assert(ex.getMessage.contains("Malformed") || ex.getCause != null)
  }
}
