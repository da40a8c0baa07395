package graft

import org.apache.spark.sql.functions._

/** Round-13 wave: cross-engine edge guards for short/empty documents
  * (ADVICE r12). The sf corpora are all >= 3 words per doc, so the
  * driver's hash gate can't see these paths — this spec feeds a micro
  * corpus that exercises them directly and pins the agreed semantics:
  * docs under the window size contribute NOTHING (no partial shingle,
  * no empty line) on either engine.
  */
class Round13Spec extends SparkSuite {

  /** Write a documents table with the sf schema into a temp dir. */
  private def corpus(rows: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_r13")
    rows.map { case (id, text, source) =>
      (id, text, "en", source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("corpus_overlap: docs under 3 tokens yield no shingles, not a partial one") {
    // srcA and srcB share their only full 3-shingle; srcB's extra
    // 2-token and empty docs must contribute nothing (the unguarded
    // concat_ws emitted a partial 'a b' shingle, inflating n_b)
    val dir = corpus(Seq(
      (1L, "a b c", "srcA"),
      (2L, "a b c", "srcB"),
      (3L, "a b", "srcB"),
      (4L, "", "srcB"),
      (5L, "x", "srcB")))
    val rows = q("corpus_overlap", dir).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Long]("n_a") == 1L, s"srcA shingles: $r")
    assert(r.getAs[Long]("n_b") == 1L,
      s"short docs leaked partial shingles: $r")
    assert(r.getAs[Long]("n_shared") == 1L)
    assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("dedup_lines: empty docs emit zero lines and vanish; short docs keep one line") {
    val dir = corpus(Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11", "s"), // 2 lines
      (2L, "solo", "s"), // 1 line of 1 word
      (3L, "", "s"), // no tokens -> absent (DuckDB floor-division twin)
      (4L, "   ", "s"))) // whitespace-only -> absent
    val rows = q("dedup_lines", dir).collect()
    val byId = rows.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId.keySet == Set(1L, 2L),
      s"empty docs must be absent: ${byId.keySet}")
    assert(byId(1L).getAs[Long]("n_lines") == 2L)
    assert(byId(2L).getAs[Long]("n_lines") == 1L)
    // nothing is boiler in a df<3 micro corpus; kept text is intact
    assert(rows.forall(_.getAs[Long]("n_boiler") == 0L))
  }

  /** Write an embeddings table with the sf schema into a temp dir. */
  private def embCorpus(rows: Seq[(Long, Array[Float], Int)]): String = {
    import spark.implicits._
    val dir = tempDir("graft_r13e")
    rows.map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
      .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding",
        "CAST(label AS int) AS label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("TopCellsDot ranks by dot desc with earliest-entry ties, k-bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1.0, 0.0), 1)).toDF("v", "z")
      .withColumn("cen", expr(
        """array(struct(10L AS cell, array(0.5D, 0.0D) AS cvec),
                 struct(20L AS cell, array(0.9D, 0.0D) AS cvec),
                 struct(30L AS cell, array(0.5D, 0.0D) AS cvec),
                 struct(40L AS cell, array(-1.0D, 0.0D) AS cvec))"""))
    def top(k: Int): Seq[Long] = df.select(
      graft.functions.Vectors.topCellsDot(col("v"), col("cen"), k))
      .head().getSeq[Long](0)
    // dot: 10->0.5, 20->0.9, 30->0.5 (tie with 10), 40->-1.0
    assert(top(3) == Seq(20L, 10L, 30L), "tie must keep the earlier id")
    assert(top(2) == Seq(20L, 10L))
    assert(top(9) == Seq(20L, 10L, 30L, 40L), "k past len returns all")
  }

  test("knn_graph on planted clusters: mutual edges stay within clusters") {
    // 4 tight clusters of 10 around orthogonal axes (64-dim, unit-ish);
    // with 40 vectors the %37 seeding gives 2 cells and nProbe=4 covers
    // both, so the graph is the exact mutual 3-NN graph — every edge
    // must connect same-cluster vectors, and every vector participates
    val vecs = for (c <- 0 until 4; i <- 0 until 10) yield {
      val v = new Array[Float](64)
      v(c * 3) = 1.0f
      v(c * 3 + 1) = 0.01f * (i + 1) // tiny within-cluster spread
      ((c * 10 + i).toLong, v, c)
    }
    val dir = embCorpus(vecs)
    val rows = q("knn_graph", dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[Long]("src"), r.getAs[Long]("dst"))
      assert(a < b, s"edge not canonicalized: ($a,$b)")
      assert(a / 10 == b / 10, s"cross-cluster edge ($a,$b)")
      assert(r.getAs[Double]("sim") > 0.9)
    }
    // mutual 3-NN over a 10-clique keeps everyone connected
    val touched = rows.flatMap(r => Seq(r.getAs[Long]("src"),
      r.getAs[Long]("dst"))).toSet
    assert(touched.size == 40, s"isolated vectors: ${40 - touched.size}")
    // no duplicate undirected edges
    assert(rows.map(r => (r.getAs[Long]("src"),
      r.getAs[Long]("dst"))).distinct.length == rows.length)
  }

  test("knn_graph plan: codegen'd cell routing, no cartesian corpus pairing") {
    val plan = q("knn_graph", "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_top_cells"),
      "cell routing must be the TopCellsDot kernel")
    assert(!plan.contains("CartesianProduct"),
      "corpus pairing must be cell-keyed, never all-pairs")
  }

  test("emb_pca_power recovers a planted dominant direction") {
    // ids multiples of 10 (the entry's sample); axis 7 carries 10x the
    // energy of every other axis -> the top principal direction
    val vecs = (0 until 50).map { i =>
      val v = new Array[Float](64)
      v(7) = if (i % 2 == 0) 3.0f else -3.0f
      v((i * 13) % 64) = (v((i * 13) % 64) + 0.3f *
        (if (i % 3 == 0) 1 else -1)).toFloat
      (i.toLong * 10, v, 0)
    }
    val dir = embCorpus(vecs)
    val rows = q("emb_pca_power", dir).collect()
    assert(rows.length == 64)
    val load = rows.sortBy(_.getAs[Long]("dim")).map(_.getAs[Double]("loading"))
    val norm = math.sqrt(load.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-9, s"loading not unit: $norm")
    assert(math.abs(load(7)) > 0.95,
      s"dominant axis missed: |v7|=${load(7)}")
    val eig = rows.head.getAs[Double]("eigval")
    // Rayleigh quotient of the iterate ~ the planted axis-7 second
    // moment SUMMED over the 50 sampled vectors (50 x 3.0^2 = 450),
    // plus the small off-axis noise energy
    assert(eig > 445.0 && eig < 460.0, s"eigval off: $eig")
  }

  test("dq_outlier_mad flags planted length outliers, robustly to the outlier itself") {
    val docs =
      (1L to 9L).map(i => (i, "x" * 100, "sA")) ++ // med 100, mad 0
        Seq((10L, "y" * 1000, "sA")) ++ // the outlier
        (11L to 20L).map(i => (i, "z" * (90 + i.toInt), "sB")) // spread
    val dir = corpus(docs)
    val rows = q("dq_outlier_mad", dir).collect()
    val byId = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(byId.contains(10L), "planted outlier not flagged")
    val out = rows.find(_.getAs[Long]("doc_id") == 10L).get
    assert(out.getAs[Long]("med") == 100L,
      "median dragged by the outlier — not robust")
    // sB's mild linear spread has mad > 0 and no 3-mad breakers
    assert(rows.forall(_.getAs[String]("source") == "sA"))
  }

  test("UnitNorm is bit-identical to the transform+norm composition it replaces") {
    import org.apache.spark.sql.functions._
    val emb = spark.read
      .parquet("/root/testdata/sf0.01/embeddings.parquet")
    // the old declarative form, verbatim
    def composed(a: org.apache.spark.sql.Column) = {
      val n = sqrt(graft.functions.Vectors.dot(a, a))
      transform(a, x => x.cast("double") / n)
    }
    val both = emb.select(
      graft.functions.Vectors.normalized(col("embedding")).as("fast"),
      composed(col("embedding")).as("slow"))
    assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0,
      "kernel diverged from the composition")
    // edges: null element nulls every output element; null array stays
    // null — the composition's exact semantics
    val edges = spark.sql("""SELECT * FROM VALUES
        (array(CAST(3.0 AS FLOAT), CAST(NULL AS FLOAT))),
        (CAST(NULL AS ARRAY<FLOAT>)) AS t(v)""")
      .select(graft.functions.Vectors.normalized(col("v")).as("fast"),
        composed(col("v")).as("slow"))
    assert(edges.filter(not(col("fast") <=> col("slow"))).count() == 0)
    // zero vector = Divide's zero-divisor contract: ANSI error (like
    // the composition — Spark Divide raises even for doubles), NULL
    // elements in non-ANSI mode
    val zero = spark.sql(
      "SELECT array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)) AS v")
    val err = intercept[Exception] {
      zero.select(graft.functions.Vectors.normalized(col("v"))).collect()
    }
    assert(err.getMessage.contains("DIVIDE_BY_ZERO"), err.getMessage)
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    try {
      spark.conf.set("spark.sql.ansi.enabled", "false")
      val both = zero.select(
        graft.functions.Vectors.normalized(col("v")).as("fast"),
        composed(col("v")).as("slow"))
      assert(both.filter(not(col("fast") <=> col("slow"))).count() == 0)
      assert(both.head().getSeq[Any](0) == Seq(null, null))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("sample_reservoir: exact deterministic sample, TakeOrdered plan") {
    val dir = "/root/testdata/sf0.01"
    val got = q("sample_reservoir", dir)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "fixed-k sample must be a per-partition heap, not a full sort")
    val rows = got.collect()
    assert(rows.length == 100)
    // independent recompute of the k-smallest-hash set
    val all = Tables.t(spark, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id")).collect()
      .map(_.getLong(0))
    val p = 1000000007L
    val expect = all.map(id =>
      (((id % p) * 2654435761L + 7L * 998244353L) % p, id))
      .sorted.take(100).map(_._2).toSeq
    assert(rows.sortBy(_.getAs[Long]("pick"))
      .map(_.getAs[Long]("doc_id")).toSeq == expect)
  }
}
