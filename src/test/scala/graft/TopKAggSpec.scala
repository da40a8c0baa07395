package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge

import graft.functions.TopKAgg

/** TopKAgg (typed imperative aggregate): equality with the ranked-
  * window formulation, tiebreak determinism, and the partial-merge
  * path (many input partitions force map-side buffers to merge).
  */
class TopKAggSpec extends SparkSuite {

  private def topk(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val agg = DatasetBridge.column(TopKAgg(
      DatasetBridge.expression(col("ord")),
      DatasetBridge.expression(col("key")), k).toAggregateExpression())
    df.groupBy(col("g")).agg(agg.as("top"))
      .select(col("g"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("g"), (col("pos") + 1).as("rnk"),
        col("e.key").as("key"), col("e.ord").as("ord"))
  }

  test("matches row_number window top-k incl. ties, across many partitions") {
    import spark.implicits._
    val rng = new scala.util.Random(3)
    // duplicate ord values on purpose: ties must break by smaller key
    val rows = (1L to 500L).map(i =>
      (s"g${i % 7}", (rng.nextInt(40) * 25).toDouble, i))
    val df = rows.toDF("g", "ord", "key").repartition(13).cache()

    val got = topk(df, 3).orderBy(col("g"), col("rnk")).collect()
    val w = Window.partitionBy(col("g"))
      .orderBy(col("ord").desc, col("key").asc)
    val want = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("g"), col("rnk"), col("key"), col("ord"))
      .orderBy(col("g"), col("rnk")).collect()

    assert(got.length == want.length)
    got.zip(want).foreach { case (a, b) => assert(a == b, s"$a vs $b") }
  }

  test("groups smaller than k return all rows; nulls are skipped") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(5.0), Some(1L)),
      ("a", None, Some(2L)),       // null ord skipped
      ("a", Some(7.0), None),      // null key skipped
      ("b", Some(1.0), Some(9L)))
      .toDF("g", "ord", "key")
    val got = topk(df, 3).orderBy(col("g"), col("rnk"))
      .as[(String, Int, Long, Double)].collect()
    assert(got.toSeq == Seq(("a", 1, 1L, 5.0), ("b", 1, 9L, 1.0)))
  }

  test("serialize/deserialize round-trips the buffer") {
    val agg = TopKAgg(DatasetBridge.expression(lit(0.0)),
      DatasetBridge.expression(lit(0L)), 2)
    val b = agg.createAggregationBuffer()
    b.insert(3.0, 30L); b.insert(9.0, 90L); b.insert(5.0, 50L)
    val rt = graft.functions.TopKBuffer.fromBytes(2, b.toBytes)
    assert(rt.sorted.toSeq == Seq((9.0, 90L), (5.0, 50L)))
    assert(b.sorted.toSeq == rt.sorted.toSeq)
  }
}
