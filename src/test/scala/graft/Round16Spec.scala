package graft

import org.apache.spark.sql.functions._

/** Round-16 wave (VERDICT r15): the corpus_overlap 128-bit key
  * escalation must be an invisible optimization (same template as the
  * r15 simhash depth pin — force both widths, assert bit-identical
  * output), the native CmsEstimate probe must match the sketch's own
  * estimateCount under codegen with fallback disabled, and SURVEY §5's
  * stream-session production remedy (RocksDB state-store provider for
  * session state) must be executed configuration, not prose.
  */
class Round16Spec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("corpus_overlap: narrow (64-bit) and wide (128-bit) keys yield identical output") {
    // a 64→128-bit key swap changes only collision probability — on
    // any corpus where the narrow key is collision-free (provably so
    // at fixture scale) the overlap matrix must be bit-identical
    val narrow = rows(PipelineOps.corpusOverlap(spark, sfDir, Some(false)))
    val wide = rows(PipelineOps.corpusOverlap(spark, sfDir, Some(true)))
    assert(narrow.nonEmpty, "gate corpus must surface source overlaps")
    assert(narrow == wide, "key width changed the overlap matrix")
  }

  test("corpus_overlap key-width gate: boundary arithmetic and the auto path") {
    // wide iff sum(n_chars)/2 >= 2^31 distinct-type bound — /2 is the
    // TRUE per-token floor (token + separator >= 2 chars), valid for
    // short-token corpora the prior /6 divisor missed (ADVICE r16)
    assert(!PipelineOps.overlapKeyWide(2L * (1L << 31) - 2))
    assert(PipelineOps.overlapKeyWide(2L * (1L << 31)))
    assert(!PipelineOps.overlapKeyWide(0L))
    // the gate corpus is far below the bound: the auto path must pick
    // the narrow key and match the forced-narrow run exactly
    val auto = rows(PipelineOps.corpusOverlap(spark, sfDir, None))
    assert(auto == rows(PipelineOps.corpusOverlap(spark, sfDir, Some(false))))
  }

  test("CmsEstimate: native probe matches estimateCount for string and long keys") {
    import spark.implicits._
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val df = (Seq.fill(5)("alpha") ++ Seq.fill(3)("beta") ++
        Seq("gamma", null)).toDF("s")
        .withColumn("k",
          when(col("s").isNotNull, length(col("s")).cast("long")))
      val sCms = df.filter(col("s").isNotNull)
        .stat.countMinSketch(col("s"), 0.001, 0.99, 42)
      val lCms = df.filter(col("k").isNotNull)
        .stat.countMinSketch(col("k"), 0.001, 0.99, 42)
      val got = df.select(col("s"),
          graft.functions.Sketches.cmsEstimate(sCms, col("s")).as("es"),
          graft.functions.Sketches.cmsEstimate(lCms, col("k")).as("ek"))
        .collect()
      got.foreach { r =>
        if (r.isNullAt(0)) {
          assert(r.isNullAt(1) && r.isNullAt(2), "null key must probe null")
        } else {
          assert(r.getLong(1) == sCms.estimateCount(r.getString(0)),
            s"string probe mismatch for ${r.getString(0)}")
          assert(r.getLong(2) ==
            lCms.estimateCount(r.getString(0).length.toLong),
            s"long probe mismatch for ${r.getString(0)}")
        }
      }
      // sanity: the sketch actually discriminates at these counts
      assert(sCms.estimateCount("alpha") >= 5L)
    } finally spark.conf.set(key, prev)
  }

  test("q43's CMS prefilter runs UDF-free (native probe in the plan)") {
    val df = q("q43_cms_heavy_hitters", sfDir)
    val plan = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(df).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"q43 plan still contains a UDF:\n$plan")
    assert(plan.contains("graft_cms_estimate"),
      "native CMS probe missing from q43's plan")
  }

  test("stream_session drains identically under the RocksDB state-store provider") {
    // SURVEY §5's production remedy for bounded-drain state growth:
    // the same session pipeline with per-partition state spilled to
    // RocksDB. The provider is an execution detail — the drained
    // session set must be bit-identical to the default-provider run.
    // (stream_timer_sessions already executes under RocksDB by
    // construction — transformWithState timers require the provider,
    // StreamOps.scala "stream_timer_sessions" entry — so this closes
    // the remaining half: GroupState session pipelines on the default
    // HDFS-backed store.)
    val default = rows(q("stream_session", sfDir))
    StreamOps.withConfs(spark, StreamOps.RocksDbProvider) {
      val rocks = rows(q("stream_session", sfDir))
      assert(rocks.nonEmpty)
      assert(rocks == default,
        "state-store provider changed the drained session set")
    }
  }

  test("q71_fuzzy_match: data-scaled self-join partitioning is an invisible optimization") {
    // the r16 sf30 probe showed a FIXED partition count stops fitting
    // the shuffle-hash build side as the corpus grows; the scaled
    // repartition must change only the partition count, never the
    // matched pairs. Force a count well off the session default and
    // off the auto-computed one.
    val auto = rows(Analytics4.q71FuzzyMatch(spark, sfDir))
    val forced = rows(Analytics4.q71FuzzyMatch(spark, sfDir, Some(7)))
    assert(auto.nonEmpty, "gate corpus must surface fuzzy pairs")
    assert(auto == forced, "partition count changed the matched pairs")
  }

  test("knn_graph: data-scaled cell-join partitioning is an invisible optimization") {
    // the sf30 per-stage split localized the entry's super-linear wall
    // growth to the partial TopKAgg map outgrowing cache at a fixed
    // partition count; the scaled repartition must change only task
    // granularity, never the mutual-kNN edges.
    val auto = rows(SimilarityOps.knnGraph(spark, sfDir))
    val forced = rows(SimilarityOps.knnGraph(spark, sfDir, Some(7)))
    assert(auto.nonEmpty, "gate corpus must surface mutual edges")
    assert(auto == forced, "partition count changed the kNN graph")
  }
}
