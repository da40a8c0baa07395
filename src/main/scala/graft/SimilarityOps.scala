package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DatasetBridge

import Tables._
import graft.functions.Vectors

/** Similarity search + multimodal plumbing (SURVEY.md §2.C).
  *
  * Scale story: queries are the SMALL side and are broadcast, so the
  * corpus never shuffles for brute force; IVF prunes the corpus scan to
  * the probed cells (a broadcast-filterable cell id), which is the same
  * topology an IVF index gives a 1000-executor cluster.
  */
object SimilarityOps {

  /** Corpus with unit-normalized vectors (cosine → bare dot later). */
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), Vectors.normalized(col("embedding")).as("embedding"))

  /** Nearest-centroid cell per row as a PURE PROJECTION: the tiny
    * centroid relation folds into ONE broadcast array-of-structs
    * column (sorted by cell id) and each row computes its argmax with
    * one codegen'd [[graft.functions.NearestEntry]] kernel call.
    * Replaces the crossJoin-explode (n×k rows) + Window
    * .partitionBy(vec_id) formulation, which shuffled and sorted the
    * WHOLE corpus just to rank ~14 candidate rows per vector — at
    * 100 TB the difference between a map-only stage and the largest
    * shuffle in the plan. (An `aggregate`-fold argmax sat here
    * between: map-only but INTERPRETED — ArrayAggregate has no
    * codegen — which the sf10 decade measured at >7 min/partition of
    * single-core struct-alloc churn.) Ties keep the smaller cell
    * (strict-improvement over the cell-sorted array), matching the
    * window's (csim DESC, cell ASC) order.
    */
  private def withNearestCell(df: DataFrame, vec: Column,
      cen: DataFrame): DataFrame = {
    val cenArr = cen.agg(array_sort(collect_list(
      struct(col("cell"), col("cvec")))).as("cen_arr"))
    df.crossJoin(broadcast(cenArr))
      .withColumn("cell", Vectors.nearestDot(vec, col("cen_arr")))
      .drop("cen_arr")
  }

  /** Exact per-query top-k via the k-bounded [[graft.functions
    * .TopKAgg]] buffer: map-side partials shuffle ≤ tasks·queries·k
    * rows instead of every scored candidate (the row_number window
    * formulation sorts the entire candidate set in |queries|
    * partitions — with 10 queries, a 10-task sort of ~the corpus).
    * Identical output to the window form: (qid, rank, vec_id, simCol)
    * ranked by (sim DESC, vec_id ASC).
    */
  /** knn_graph body (entry scaladoc documents the route / candidate /
    * topk / mutualize stage shape). Factored out so Round16Spec can
    * pin the scaled cell-join partitioning against a forced value.
    *
    * DATA-SCALED cell-join partitioning (r16): the per-stage split at
    * the sf30 decade localized knn_graph's wall-clock super-linearity
    * to the map-side partial TopKAgg, not to flops — candidate volume
    * and routing both measured exactly n^1.5 (index_stats arithmetic,
    * SURVEY §18), yet the entry ran ~n^2.0. Cause: each cell-join task
    * holds a hash-agg map over the DISTINCT qids probing its cells
    * (~4n/P entries); at a fixed P=32 the map outgrows per-core cache
    * as n grows, so every candidate row pays a DRAM-latency probe.
    * Measured at sf30: scan+topk 127.4 s at P=32 vs 67.6 s at P=128,
    * identical output. P therefore scales as ceil(4n / 20k) — ~20k
    * entries ≈ 1 MB of TopK state per task stays cache-resident —
    * with floor = session default and cap 2048.
    *
    * GATE scales stay on the r15 plan (ADVICE r16): when the computed
    * P equals the session default the explicit repartition()s are
    * dropped entirely — the cell join's own exchange already shuffles
    * both sides at the session count, so the explicit ones only added
    * two extra exchanges (measured 0.51 → 1.21 s at sf0.1) — and the
    * gate count itself reads the memoized [[corpusCount]] (seeded
    * untimed by [[warmCaches]]) instead of running a fresh job per
    * invocation. On a real cluster the executor count supplies the
    * same headroom; only single-JVM local mode needs P computed.
    */
  private[graft] def knnGraph(s: SparkSession, dir: String,
      forceParts: Option[Int] = None): DataFrame =
    knnGraphPlan(s, dir, forceParts).mutual

  /** The four knn_graph stages as separate relations, so route /
    * cell-join scan / partial top-k / mutualize can be timed
    * independently (VERDICT r16 #1).
    * `mutual` is exactly the entry's result; the intermediate fields
    * share its plan prefixes. `selfJoinMutual` forces the pre-r17
    * reciprocation self-join, kept only so the spec can pin the two
    * mutualize formulations to identical output.
    */
  private[graft] case class KnnGraphStagePlans(probes: DataFrame,
      scored: DataFrame, top: DataFrame, mutual: DataFrame)

  private[graft] def knnGraphPlan(s: SparkSession, dir: String,
      forceParts: Option[Int] = None,
      selfJoinMutual: Boolean = false): KnnGraphStagePlans = {
    val asg = assignedCached(s, dir)
    val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val parts = forceParts.getOrElse {
      math.max(sessionParts,
        math.min(2048L, (4L * corpusCount(s, dir) + 19999L) / 20000L).toInt)
    }
    // forced values are honored literally (the spec pins forced ≡
    // auto); the auto path inserts the exchange only PAST the gate
    val explicitParts = forceParts.nonEmpty || parts != sessionParts
    def celled(df: DataFrame): DataFrame =
      if (explicitParts) df.repartition(parts, col("cell")) else df
    val cenArr = centroids(s, dir).agg(array_sort(collect_list(
      struct(col("cell"), col("cvec")))).as("cen_arr"))
    val probes = celled(asg
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .crossJoin(broadcast(cenArr))
      .select(col("qid"), col("qvec"),
        explode(Vectors.topCellsDot(col("qvec"), col("cen_arr"), 4))
          .as("cell")))
    val scored = celled(asg).join(probes, "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", Vectors.dot(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("sim"))
    val top = topkPerQuery(scored, "sim", 3)
      .select(col("qid"), col("vec_id"), col("sim"))
    // Mutualize WITHOUT a self-join (r17, found by the stage split):
    // the reciprocation self-join consumed `top` twice — only the
    // qid-shuffle exchange below it was reused, so the post-shuffle
    // TopKAgg merge + explode re-ran per join side (measured: 9.5 s
    // of the 21 s entry at sf10, 18 s of 101 s at sf30 — and the
    // reuse itself is fragile, r16 measured 183 s at sf30 when it
    // didn't hold). A directed edge list needs no join to find
    // reciprocal pairs: key each edge by its UNORDERED pair —
    // (qid, vec_id) appears at most once per direction since every
    // vector lives in exactly one cell — and a pair is mutual iff
    // both orientations arrive, i.e. count == 2. One map-side-
    // combined shuffle of ≤3n 24-byte rows replaces the join's two
    // exchanges AND halves the dominant scan+topk work; output
    // (src < dst, sim of the src→dst direction) is pinned identical
    // to the self-join form by Round17Spec.
    val mutual = (if (selfJoinMutual) {
      val rev = top.select(col("qid").as("r_src"),
        col("vec_id").as("r_dst"))
      top.join(rev,
          col("qid") === col("r_dst") && col("vec_id") === col("r_src"))
        .filter(col("qid") < col("vec_id"))
        .select(col("qid").as("src"), col("vec_id").as("dst"),
          col("sim"))
    } else {
      top.groupBy(least(col("qid"), col("vec_id")).as("src"),
          greatest(col("qid"), col("vec_id")).as("dst"))
        .agg(count(lit(1)).as("deg"),
          max(when(col("qid") < col("vec_id"), col("sim"))).as("sim"))
        .filter(col("deg") === 2)
        .select(col("src"), col("dst"), col("sim"))
    }).orderBy(col("src"), col("dst"))
    KnnGraphStagePlans(probes, scored, top, mutual)
  }

  /** knn_hybrid's (doc_id, term) rows: each document's distinct words. */
  private def hybridTerms(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(array_distinct(TextOps.words(lower(col("text"))))).as("term"))

  /** knn_hybrid's per-term idf as round(idf · 1e9) `idf_q` — the one
    * step of the entry behind a transcendental, so its oracle reads it
    * as a dump (bm25's contract).
    */
  private def hybridIdf(docs: DataFrame, tok: DataFrame): DataFrame = {
    val nD = docs.count().toDouble // bounded scalar (bm25's N pull)
    tok.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .withColumn("idf_q",
        round(log((lit(nD) - col("df") + 0.5) / (col("df") + 0.5)
          + 1.0) * 1e9).cast("long"))
      .select(col("term"), col("idf_q"))
  }

  /** knn_hybrid's JOIN-FREE lexical ranking (VERDICT r17 #4): top-50
    * (qid, vec_id, lex_rank) by idf-weighted term overlap, with the
    * per-query (term → idf_q) weight maps folded into PLAN LITERALS
    * (the text_classify zero-exchange trick) so every corpus doc
    * computes its ≤5 overlap scores in one codegen'd map-side
    * projection — no posting-list equi-join, no (qid, doc) groupBy
    * shuffle; the only exchange left is TopKAgg's ≤ tasks·queries·k
    * partials. Round18Spec pins output ≡ the posting-join
    * formulation it replaced.
    *
    * Truncation contract (VERDICT r18 #6): a query with MORE than
    * 1024 distinct in-vocabulary terms is scored against only its top
    * 1024 by (idf_q desc, term asc) — a deterministic, total order,
    * so the kept set never depends on partitioning or run. Recall
    * semantics under truncation: lexical scores become LOWER bounds
    * (dropped terms contribute 0), and a candidate sharing ONLY
    * dropped terms does not surface at all — the dropped terms are by
    * construction the query's lowest-idf (most common) ones, i.e. the
    * weakest evidence the ranking could have used. Round19Spec pins
    * the boundary: equal-idf terms split by the term tiebreak, kept
    * term scores, dropped term is invisible.
    */
  private[graft] def hybridLexTop(docs: DataFrame, tok: DataFrame,
      idfTbl: DataFrame): DataFrame = {
    import TextOps.words
    // query-term weight maps: ≤5 query docs × ≤1024 top-idf terms
    // each — a BOUNDED driver artifact (same class as text_classify's
    // ≤4096-bucket collect); the 1024 cap (top idf, term tiebreak) is
    // never binding on short queries and keeps a pathological
    // book-length query from bloating the plan
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("idf_q").desc, col("term"))
    val qrows = tok.filter(col("doc_id") < 5)
      .select(col("doc_id").as("qid"), col("term"))
      .join(idfTbl, Seq("term"))
      .withColumn("rn", row_number().over(wQ))
      .filter(col("rn") <= 1024)
      .select(col("qid"), col("term"), col("idf_q"))
      .collect()
    // per-doc map-side scoring through the CODEGEN'D HybridLexScores
    // kernel (one hash lookup per doc term against the combined model
    // — an interpreted higher-order filter/aggregate over map literals
    // measured 90 s solo sf10, ~2x the posting join it was replacing;
    // ArrayAggregate has no codegen): cnt = shared-term count (pairs
    // sharing NO term never surface, matching the old inner join, and
    // a shared all-corpus term with idf 0 still does via cnt > 0),
    // lexs = Σ idf over shared terms, exactly the posting join's
    // per-(qid, doc) sum. idf_q sums stay < 2^53 (≤ vocab · ln(N)·1e9)
    // — exact as the double TopKAgg orders by, cast back losslessly
    // after ranking.
    val qids = qrows.map(_.getLong(0)).distinct.sorted
    val qIdx = qids.zipWithIndex.toMap
    val model = new graft.functions.HybridLexModel(qids,
      qrows.map(_.getString(1)), qrows.map(r => qIdx(r.getLong(0))),
      qrows.map(_.getLong(2)))
    val lex = docs
      .select(col("doc_id"), DatasetBridge.column(
        graft.functions.HybridLexScores(DatasetBridge.expression(
          array_distinct(words(lower(col("text"))))), model)).as("ss"))
      .select(col("doc_id"), explode(col("ss")).as("e"))
      .filter(col("e.cnt") > 0 && col("doc_id") =!= col("e.qid"))
      .select(col("e.qid").as("qid"), col("doc_id"),
        col("e.lexs").as("lexs"))
    topkPerQuery(
        lex.select(col("qid"), col("doc_id").as("vec_id"),
          col("lexs").cast("double").as("lexs")), "lexs", 50)
      .select(col("qid"), col("vec_id"), col("rank").as("lex_rank"))
  }

  private def topkPerQuery(scored: DataFrame, simCol: String,
      k: Int): DataFrame = {
    val topk = DatasetBridge.column(graft.functions.TopKAgg(
      DatasetBridge.expression(col(simCol)),
      DatasetBridge.expression(col("vec_id")), k).toAggregateExpression())
    scored.groupBy(col("qid")).agg(topk.as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"),
        col("e.key").as("vec_id"), col("e.ord").as(simCol))
  }

  /** The query side of a probe: `emb`'s rows matching `pred` as
    * (qid, qvec). */
  private def queryVecs(emb: DataFrame, pred: Column): DataFrame =
    emb.filter(pred)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** knn_brute's scan: every corpus vector scored against each of the
    * broadcast queries, the query itself excluded (`pred` may tighten
    * the pair filter). The corpus never shuffles.
    */
  private def bruteScored(emb: DataFrame, q: DataFrame,
      pred: Column = col("vec_id") =!= col("qid")): DataFrame =
    emb.crossJoin(broadcast(q))
      .filter(pred)
      .withColumn("sim", Vectors.dot(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("sim"))

  /** IVF routing: each query's `nProbe` nearest cells by dot with the
    * centroid, ties to the lower cell id — (csim DESC, cell ASC), the
    * order every IVF oracle's `pr` CTE ranks by.
    */
  private[graft] def probeCells(queries: DataFrame, cen: DataFrame,
      nProbe: Int): DataFrame = {
    val wProbe = Window.partitionBy(col("qid"))
      .orderBy(col("csim").desc, col("cell"))
    queries.crossJoin(broadcast(cen))
      .withColumn("csim", Vectors.dot(col("qvec"), col("cvec")))
      .withColumn("crank", row_number().over(wProbe))
      .filter(col("crank") <= nProbe)
      .select(col("qid"), col("qvec"), col("cell"))
  }

  /** IVF top-k: probe each query's `nProbe` nearest cells, exact top-k
    * within them. */
  private def ivfTopK(cen: DataFrame, assigned: DataFrame,
      queries: DataFrame, nProbe: Int, k: Int): DataFrame = {
    val scored = assigned
      .join(broadcast(probeCells(queries, cen, nProbe)), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", Vectors.dot(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("sim"))
    topkPerQuery(scored, "sim", k)
  }

  /** Index-accelerated radius search: probe only the cells whose
    * centroid angle clears acos(τ) + the cell's max member angle
    * (`cenRadii` = centroids ⋈ radii, see [[cellRadii]]), exact τ
    * filter inside them. Lossless by the triangle inequality.
    */
  private def radiusProbe(q: DataFrame, cenRadii: DataFrame,
      assigned: DataFrame, tau: Double): DataFrame = {
    val clamp1 = (c: Column) => greatest(lit(-1.0), least(lit(1.0), c))
    val probes = q.crossJoin(broadcast(cenRadii))
      .withColumn("cdot", Vectors.dot(col("qvec"), col("cvec")))
      .filter(acos(clamp1(col("cdot"))) <=
        lit(math.acos(tau)) + acos(clamp1(col("min_cdot"))) + lit(1e-6))
      .select(col("qid"), col("qvec"), col("cell"))
    assigned.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", Vectors.dot(col("embedding"), col("qvec")))
      .filter(col("sim") >= tau)
      .select(col("qid"), col("vec_id"), col("sim"))
      .orderBy(col("qid"), col("vec_id"))
  }

  /** recall@5 per query of `approx` against `exact` (both (qid,
    * vec_id) top-5 lists); every query of `q` reports, 0-hit ones
    * included. */
  private def recallAt5(q: DataFrame, exact: DataFrame,
      approx: DataFrame): DataFrame = {
    val hits = exact.join(approx, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("hits"))
    q.select(col("qid")).join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)).cast("double") / 5.0)
          .as("recall"))
      .orderBy(col("qid"))
  }

  /** Each assigned vector's dot with its cell's centroid, as `d`. */
  private def centroidDots(asg: DataFrame, cen: DataFrame): DataFrame =
    asg.join(broadcast(cen), "cell")
      .withColumn("d", Vectors.dot(col("embedding"), col("cvec")))

  /** Per (label, dim): the sorted left-fold sum `ssum` of the values
    * and their count `n` — a reproducible float sum, since Spark's
    * aggregate() and DuckDB's list_reduce() add in the same order. */
  private def labelDimSums(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding"))
        .as(Seq("pos", "v")))
      .select(col("label"), col("pos"), col("v").cast("double").as("v"))
      .groupBy(col("label"), col("pos"))
      .agg(aggregate(array_sort(collect_list(col("v"))), lit(0.0),
          (a, x) => a + x).as("ssum"),
        count(lit(1)).as("n"))

  /** Per-cell smallest member-to-centroid dot, as `name`. */
  private def radiiOf(asg: DataFrame, cen: DataFrame,
      name: String = "min_cdot"): DataFrame =
    centroidDots(asg, cen).groupBy(col("cell")).agg(min(col("d")).as(name))

  /** IVF centroids: deterministic seeds (every 37th vector) refined by
    * two spherical k-means (Lloyd) iterations, entirely as DataFrame
    * ops — assign each vector to its nearest centroid (broadcast),
    * element-wise-mean per cell via posexplode + (cell, dim) aggregate,
    * re-normalize. Each iteration is one broadcast join + one shuffle
    * on (cell, dim); the same plan trains on a 1000-executor corpus.
    */
  // one training run per (session, corpus): knn_ivf and
  // knn_ivf_persist share the trained centroids like a real deployment
  // shares its index, instead of re-running Lloyd per query entry.
  // All standing index artifacts live in graft.IndexCache (weak
  // session keys + size accounting + optional LRU corpus eviction —
  // VERDICT r17 #5); regenerating the parquet under `dir` in place
  // needs a fresh session or IndexCache.evictCorpus, the same contract
  // as a versioned on-disk index.
  private def centroids(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "ivf_cen")(trainCentroids(s, dir))

  /** Cell assignments of the whole corpus — the OTHER half of the IVF
    * index, cached like the centroids. The argmax fold is O(cells ×
    * dims) per vector and cells grow ~n/37, so re-deriving it inside
    * every probe entry turned index build into a quadratic-ish per-
    * entry tax at the sf1 decade (knn_ivf 17 s, of which ~7 s was
    * re-assignment); a real deployment assigns once at index time.
    */
  private[graft] def assignedCached(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "ivf_assigned")(
      // repartition by CPU budget, not input bytes: the argmax kernel
      // is compute-bound (cells × dims per vector), so a 128 MB
      // single-split parquet would otherwise run the whole corpus
      // assignment on ONE core (measured at the sf10 decade)
      withNearestCell(embeddings(s, dir)
            .repartition(s.sparkContext.defaultParallelism),
          col("embedding"), centroids(s, dir))
        .select(col("cell"), col("vec_id"), col("embedding"))
        .persist())

  /** Per-cell angular radius — the third index artifact, alongside the
    * centroids and assignments: `min_cdot` = the smallest dot between a
    * cell member and its centroid, i.e. cos(max angle within the
    * cell). Lets radius search prune cells LOSSLESSLY: for x in cell
    * c, ang(q,x) ≥ ang(q,c) − maxang_c (spherical triangle
    * inequality), so a cell with ang(q,c) > acos(τ) + maxang_c cannot
    * contain a τ-match. One map-side-combined groupBy(cell) over the
    * cached assignments, computed once per (session, corpus).
    */
  private def cellRadii(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "ivf_radii")(
      radiiOf(assignedCached(s, dir), centroids(s, dir)).persist())

  /** Standing BASE index for the incremental-refresh lifecycle
    * (knn_ivf_refresh): centroids trained on the base corpus only
    * (vec_id % 7 != 3 — the remaining vectors arrive later as the
    * refresh batch), plus the base assignments and radii. Cached per
    * (session, corpus) like the full-corpus index: in a deployment
    * this is the standing serving index the refresh operates against,
    * so Bench warms it untimed and the entry times refresh + probe.
    */
  private[graft] def refreshBase(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // CPU-budget repartition before the compute-bound argmax, as in
    // assignedCached (a single-split parquet would single-core it)
    val base = embeddings(s, dir).filter(col("vec_id") % 7 =!= 3)
      .repartition(s.sparkContext.defaultParallelism)
    val cen = IndexCache.getOrBuild(s, dir, "ivf_refresh_cen")(
      trainCentroidsOn(base))
    val asg = IndexCache.getOrBuild(s, dir, "ivf_refresh_asg")(
      withNearestCell(base, col("embedding"), cen)
        .select(col("cell"), col("vec_id"), col("embedding"))
        .persist())
    val radii = IndexCache.getOrBuild(s, dir, "ivf_refresh_radii")(
      radiiOf(asg, cen).persist())
    (cen, asg, radii)
  }

  /** Incremental IVF refresh: assign a NEW vector batch to the
    * EXISTING cells (no centroid retrain — one broadcast projection
    * over the batch only, O(batch) work) and update the per-cell
    * radii MONOTONICALLY (min only ever shrinks min_cdot, i.e. grows
    * the cell's angular radius), so the triangle-inequality pruning
    * bound stays safe after any number of refreshes. Because cell
    * assignment is per-row against fixed centroids, the refreshed
    * index is IDENTICAL to a full re-assignment of base ∪ batch at
    * the same centroids — Round11Spec asserts the equivalence and the
    * post-refresh radii lower bound; the entry's oracle proves the
    * serving consequence (probe ≡ brute over the full corpus).
    */
  def refreshIndex(cen: DataFrame, asg: DataFrame, radii: DataFrame,
      batch: DataFrame): (DataFrame, DataFrame) = {
    val batchAsg = withNearestCell(batch, col("embedding"), cen)
      .select(col("cell"), col("vec_id"), col("embedding"))
    val batchRadii = radiiOf(batchAsg, cen, "bmin")
    val radii2 = radii.join(batchRadii, Seq("cell"), "full_outer")
      .select(col("cell"),
        least(coalesce(col("min_cdot"), lit(1.0)),
          coalesce(col("bmin"), lit(1.0))).as("min_cdot"))
    (asg.union(batchAsg), radii2)
  }

  /** Pre-train the session index caches (IVF centroids + PQ codebooks
    * and codes). Index BUILD is deployment setup shared by every query
    * against the corpus — exactly the cache contract above — so Bench
    * warms it untimed: entry timings then measure SERVING, stably,
    * instead of whichever knn entry runs first paying the training.
    */
  /** Memoized exact corpus row count per (session, corpus) — the
    * fourth index artifact, seeded untimed by [[warmCaches]]. The
    * knn_graph partition gate reads it, so the gate costs ZERO jobs
    * on a warmed session and one cached-relation pass otherwise
    * (ADVICE r16: the gate previously ran an unconditional count job
    * per invocation).
    */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long =
    IndexCache.getOrBuild(s, dir, "count")(assignedCached(s, dir).count())

  def warmCaches(s: SparkSession, dir: String): Unit = {
    val emb = embeddings(s, dir)
    centroids(s, dir).count()
    corpusCount(s, dir)
    val (rCen, rAsg, rRad) = refreshBase(s, dir)
    rCen.count(); rAsg.count(); rRad.count()
    val (cen, codes) = pqIndex(s, dir, emb)
    cen.count(); codes.count()
    val (prCen, prCodes) = pqRefreshBase(s, dir)
    prCen.count(); prCodes.count()
  }

  /** The oracle dumps of the knn index: the TRAINED IVF index
    * (centroids from the float k-means fixpoint, cell assignments), the
    * PQ codebooks + codes, the refreshed PQ index and knn_hybrid's idf
    * table are the pieces DuckDB can't re-derive, so [[Verify]] writes
    * them from the session's cached artifacts (never a retrain) and
    * the oracles re-run the entire SERVING path in SQL: query
    * normalization, centroid ranking, probe pruning, dot-product
    * scoring (the bit-exact list_reduce fold knn_brute proved) and the
    * top-k rank. Training determinism is spec'd directly (KnnSpec /
    * PQSpec).
    */
  def oracleDumps(s: SparkSession, dir: String): Unit = {
    val base = s"${OracleDumps.root(s, dir)}/knn"
    OracleDumps.write(centroids(s, dir), s"$base/centroids")
    OracleDumps.write(assignedCached(s, dir), s"$base/assignments")
    val (pqCen, pqCodes) = pqIndex(s, dir, embeddings(s, dir))
    OracleDumps.write(pqCen, s"$base/pq_codebooks")
    OracleDumps.write(pqCodes, s"$base/pq_codes")
    val (rCen, rCodes) = pqRefreshed(s, dir)
    OracleDumps.write(rCen, s"$base/pq_r_codebooks")
    OracleDumps.write(rCodes, s"$base/pq_r_codes")
    val docs = t(s, dir, "documents")
    OracleDumps.write(hybridIdf(docs, hybridTerms(docs)),
      s"$base/hybrid_idf")
  }
  // placeholder-form SQL path root: dump paths are corpus-scoped (see
  // OracleDumps) so interleaved runs against other dirs — fixture
  // specs, another SF's bench — can't clobber the gate's dumps
  private val dumpSql = s"${OracleDumps.SqlRoot}/knn"

  /** SQL twin of [[embeddings]]: each vector divided by √Σx², the same
    * left folds as Vectors.normalized; `cols` ride beside `e`.
    */
  private[graft] def normCte(cols: String = "vec_id"): String =
    s"""norm AS (SELECT $cols,
          list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(
            list_reduce(list_transform(embedding,
              y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
              (a,b) -> a+b))) AS e
        FROM embeddings)"""

  /** SQL twin of [[queryVecs]]: the `norm` rows matching `pred` as
    * (qid, qe). */
  private def qCte(pred: String, name: String = "q"): String =
    s"$name AS (SELECT vec_id AS qid, e AS qe FROM norm WHERE $pred)"

  /** SQL twin of [[bruteScored]]: `name` holds the in-order dot (the
    * fold knn_brute proves bit-exact) of every `norm` row with each
    * query of `q`, the query itself excluded; `cols` adds columns,
    * `pred` tightens the pair filter.
    */
  private def bruteSimCte(name: String = "s", q: String = "q",
      cols: String = "", pred: String = ""): String =
    s"""$name AS (SELECT $q.qid, n.vec_id$cols,
          list_reduce(list_transform(range(1, len(n.e)+1),
            i -> n.e[i]*$q.qe[i]), (a,b) -> a+b) AS sim
        FROM norm n, $q WHERE n.vec_id <> $q.qid$pred)"""

  /** The final top-5 per query of CTE `from`, ranked by (`score` DESC,
    * vec_id) — TopKAgg's order — as (qid, rank, vec_id, score). */
  private def top5Sql(from: String, score: String = "sim"): String =
    s"""r AS (SELECT qid, CAST(row_number() OVER (PARTITION BY qid
          ORDER BY $score DESC, vec_id) AS INT) AS rank, vec_id, $score
        FROM $from)
      SELECT qid, rank, vec_id, $score FROM r WHERE rank <= 5
      ORDER BY qid, rank"""

  /** `name` = the (qid, vec_id) of each query's top 5 in `from`, by
    * (`score` DESC, vec_id). */
  private def top5IdsCte(name: String, from: String,
      score: String = "sim"): String =
    s"""$name AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
          row_number() OVER (PARTITION BY qid
            ORDER BY $score DESC, vec_id) AS rnk FROM $from)
        WHERE rnk <= 5)"""

  /** knn_brute's oracle: exact top-5 of the query rows `qPred`;
    * `qCols` / `pred` carry a label filter. */
  private def bruteTop5Sql(qPred: String, normCols: String = "vec_id",
      qCols: String = "e AS qe", pred: String = ""): String =
    s"""WITH ${normCte(normCols)},
      q AS (SELECT vec_id AS qid, $qCols FROM norm WHERE $qPred),
      ${bruteSimCte(pred = pred)},
      ${top5Sql("s")}"""

  /** knn_range's oracle: every pair with cosine ≥ 0.25 for the query
    * rows `qPred` — also the oracle of the lossless IVF radius probes. */
  private def rangeSql(qPred: String): String =
    s"""WITH ${normCte()},
      ${qCte(qPred)},
      ${bruteSimCte()}
      SELECT qid, vec_id, sim FROM s
      WHERE sim >= 0.25 ORDER BY qid, vec_id"""

  /** The dumped IVF index: centroids and cell assignments. */
  private def cenCte: String =
    s"cen AS (SELECT cell, cvec FROM read_parquet('$dumpSql/centroids/*.parquet'))"
  private def asgCte: String =
    s"""asg AS (SELECT cell, vec_id, embedding
        FROM read_parquet('$dumpSql/assignments/*.parquet'))"""

  /** SQL twin of [[ivfTopK]]'s scan over `q` (qid, qe),
    * `cen` and `asg`: rank the centroids per query by (csim DESC, cell),
    * keep 4, score the probed cells' members as `sc`.
    */
  private def ivfScanCtes: String =
    """cs AS (SELECT q.qid, q.qe, c.cell,
          list_reduce(list_transform(range(1, len(c.cvec)+1),
            i -> q.qe[i]*c.cvec[i]), (a,b) -> a+b) AS csim
        FROM q CROSS JOIN cen c),
      pr AS (SELECT qid, qe, cell FROM (SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY csim DESC, cell) AS crank FROM cs)
        WHERE crank <= 4),
      sc AS (SELECT pr.qid, a.vec_id,
          list_reduce(list_transform(range(1, len(a.embedding)+1),
            i -> a.embedding[i]*pr.qe[i]), (x,y) -> x+y) AS sim
        FROM asg a JOIN pr ON a.cell = pr.cell
        WHERE a.vec_id <> pr.qid)"""

  /** The PQ/ADC serving path in SQL over the dumped codebooks+codes:
    * per-query lookup table from the bit-exact zip fold, per-vector
    * score = the 8 table entries folded IN SUBSPACE ORDER (matching
    * pqSearch's ordered aggregate), top-5 by (score DESC, vec_id).
    * `ivfPruned` restricts the scored corpus to each query's 4 probed
    * cells (knn_ivf_pq); false = exhaustive ADC scan (knn_pq).
    */
  def pqProbeSql(qidPred: String, ivfPruned: Boolean,
      cbDir: String = "pq_codebooks", cdDir: String = "pq_codes"): String = {
    val cand =
      if (!ivfPruned) "SELECT q.qid, ce.vec_id, ce.m, ce.code FROM q CROSS JOIN ce WHERE ce.vec_id <> q.qid"
      else s"""SELECT pr.qid, ce.vec_id, ce.m, ce.code
        FROM (SELECT qid, cell FROM (SELECT cs.qid, cs.cell,
            row_number() OVER (PARTITION BY cs.qid
              ORDER BY cs.csim DESC, cs.cell) AS crank
          FROM (SELECT q.qid, c.cell,
              list_reduce(list_transform(range(1, len(c.cvec)+1),
                i -> q.qe[i]*c.cvec[i]), (a,b) -> a+b) AS csim
            FROM q CROSS JOIN cen c) cs) WHERE crank <= 4) pr
        JOIN asg a ON a.cell = pr.cell AND a.vec_id <> pr.qid
        JOIN ce ON ce.vec_id = a.vec_id"""
    s"""WITH ${normCte()},
      ${qCte(qidPred)},
      $cenCte,
      asg AS (SELECT cell, vec_id
        FROM read_parquet('$dumpSql/assignments/*.parquet')),
      cb AS (SELECT m, code, cvec
        FROM read_parquet('$dumpSql/$cbDir/*.parquet')),
      ce AS (SELECT vec_id, mi - 1 AS m, codes[mi] AS code
        FROM read_parquet('$dumpSql/$cdDir/*.parquet')
        CROSS JOIN (SELECT unnest(range(1, 9)) AS mi) u),
      tab AS (SELECT q2.qid, cb.m, cb.code,
          list_reduce(list_transform(range(1, 9),
            i -> q2.qe[cb.m*8 + i] * cb.cvec[i]), (a,b) -> a+b) AS tdot
        FROM q q2 CROSS JOIN cb),
      cand AS ($cand),
      sc AS (SELECT c.qid, c.vec_id,
          list_reduce(list(t.tdot ORDER BY t.m), (a,b) -> a+b)
            AS approx_dot
        FROM cand c JOIN tab t ON t.qid = c.qid AND t.m = c.m
          AND t.code = c.code
        GROUP BY c.qid, c.vec_id HAVING COUNT(*) = 8),
      ${top5Sql("sc", "approx_dot")}"""
  }

  /** The IVF probe/serve path as a DuckDB query over the dumped index
    * — shared by knn_ivf, knn_ivf_persist (identical output, KnnSpec
    * pins it) and stream_knn (wider query set).
    */
  def ivfProbeSql(qidPred: String): String =
    s"""WITH ${normCte()},
      $cenCte,
      $asgCte,
      ${qCte(qidPred)},
      $ivfScanCtes,
      ${top5Sql("sc")}"""

  /** The knn_graph serving path in SQL over the dumped index: every
    * assigned vector routes to its 4 nearest cells (csim DESC, cell —
    * TopCellsDot's strict-improvement tie rule over the id-sorted
    * centroid array), scores only those cells' members, ranks top-3
    * (sim DESC, vec_id = TopKAgg's comparator), keeps reciprocated
    * pairs once (src < dst).
    */
  def knnGraphSql: String =
    s"""WITH $cenCte,
      $asgCte,
      q AS (SELECT vec_id AS qid, embedding AS qe FROM asg),
      $ivfScanCtes,
      t AS (SELECT qid, vec_id, sim FROM (SELECT qid, vec_id, sim,
          row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, vec_id) AS rank FROM sc) WHERE rank <= 3)
      SELECT t.qid AS src, t.vec_id AS dst, t.sim AS sim
      FROM t JOIN t t2 ON t2.qid = t.vec_id AND t2.vec_id = t.qid
      WHERE t.qid < t.vec_id
      ORDER BY src, dst"""

  private def trainCentroids(s: SparkSession, dir: String): DataFrame =
    trainCentroidsOn(embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism))

  /** Seed stride for ~√n cells. IVF cost balances at k = Θ(√n):
    * routing is k·d per vector, the probed scan is nProbe·(n/k)·d —
    * k ≫ √n (the old fixed every-37th seeding, k = n/37) makes
    * ROUTING the quadratic term (measured at the sf10 decade: 500 k
    * vectors × 13.5 k cells × 64 dims pegged the assignment pass), k
    * ≪ √n makes the probe scan quadratic. Floor of 37 keeps every
    * sf ≤ 0.01 corpus, the fixtures, and the driver's oracle gate
    * bit-identical to the pre-r13 index.
    */
  private def seedStride(n: Long): Long =
    math.max(37L, math.sqrt(n.toDouble).toLong)

  private def trainCentroidsOn(emb: DataFrame): DataFrame = {
    val stride = seedStride(emb.count())
    var cen = emb.filter(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"))
    for (_ <- 1 to 2) {
      val assigned = withNearestCell(emb, col("embedding"), cen)
        .select(col("cell"), col("embedding"))
      cen = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim")).agg(avg(col("x")).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("dm"))
        .select(col("cell"),
          Vectors.normalized(expr("transform(dm, e -> e.m)")).as("cvec"))
        // materialize per Lloyd round (same nested-broadcast lineage
        // replay as trainPq — round k+1's broadcast re-ran round k);
        // ~14 rows: one partition, one materialization task
        .coalesce(1)
        .localCheckpoint(true)
    }
    cen.persist()
  }

  /** Persist the IVF index (centroids + cell assignments) as parquet —
    * the build-once half of the index lifecycle. At cluster scale the
    * assignments table is written partitioned by cell so a probe reads
    * only its probed cells' files (partition pruning = the IVF posting
    * lists).
    */
  def writeIndex(s: SparkSession, dir: String, outPath: String): Unit = {
    val cen = centroids(s, dir)
    val assigned = assignedCached(s, dir)
    cen.write.mode("overwrite").parquet(s"$outPath/centroids")
    // repartition on the partition column first: one file per cell
    // instead of (tasks × cells) small files — the small-files guard
    // every partitioned write at scale needs
    assigned.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$outPath/assignments")
  }

  /** Standing serving-index path for `dir`: the persisted
    * cell-partitioned IVF store, built ONCE per (session, corpus) and
    * shared by repeated probes (stream_knn's per-micro-batch serving).
    * knn_ivf_persist deliberately rebuilds it — exercising the build
    * half of the lifecycle is that entry's point; serving paths use
    * this cached form.
    */
  def ensureIndex(s: SparkSession, dir: String): String =
    IndexCache.getOrBuild(s, dir, "ivf_path") {
      val idx = ivfStorePath(s, dir)
      writeIndex(s, dir, idx)
      idx
    }

  /** Corpus- AND applicationId-scoped store path: concurrent JVMs on
    * the same corpus (test suite + bench) must never overwrite each
    * other's standing index mid-probe — same scoping rationale as
    * minhashStoreHist and OracleDumps.root.
    */
  private def ivfStorePath(s: SparkSession, dir: String): String = {
    OracleDumps.housekeep(s)
    "target/graft_scratch/ivf_" +
      OracleDumps.scratchSlug(dir) + "_" +
      s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
  }

  /** Probe a persisted IVF index: nearest `nProbe` cells per query,
    * scan only those cells' assignment partitions, exact top-k within.
    */
  def probeIndex(s: SparkSession, indexPath: String, queries: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    ivfTopK(Tables.parquet(s, s"$indexPath/centroids"),
      Tables.parquet(s, s"$indexPath/assignments"), queries, nProbe, k)

  val entries: Seq[Entry] = Seq(
    Entry(
      "knn_ivf_persist",
      // index LIFECYCLE: build + write the IVF index (centroids and
      // cell-partitioned assignments), reopen it cold, probe — the
      // build-once/probe-many deployment. Cell partitioning makes the
      // probe's cell filter a partition-pruned read (the on-disk form
      // of IVF posting lists). KnnSpec pins persisted ≡ in-memory.
      (s, dir) => {
        val idx = ivfStorePath(s, dir)
        writeIndex(s, dir, idx)
        val q = queryVecs(embeddings(s, dir), col("vec_id") < 10)
        probeIndex(s, idx, q, nProbe = 4, k = 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfProbeSql("vec_id < 10"))),

    Entry(
      "knn_graph",
      // Corpus-wide MUTUAL k-NN graph — the all-vectors neighborhood
      // structure graph-based curation builds on (SemDeDup variants,
      // diversity pruning, label propagation over near-neighbors):
      // every vector finds its top-3 neighbors through the IVF index,
      // then only RECIPROCATED edges survive (mutual kNN is the
      // standard noise filter — a hub point's one-way edges drop out).
      // Scale shape, stage by stage: (1) cell routing is MAP-ONLY —
      // the corpus streams past the broadcast centroid array and the
      // codegen'd TopCellsDot kernel emits each vector's 4 probe cells
      // (no n×cells explode, no window sort); (2) candidate generation
      // is ONE shuffle join on the cell key, fan-out bounded by
      // nProbe × cell occupancy per vector — never n²; (3) per-vector
      // top-3 via the k-bounded TopKAgg (map-side partials, ≤ tasks·k
      // rows per vector shuffle); (4) mutualization groups the
      // k-bounded edge list (≤ 3n rows) by its UNORDERED pair key and
      // keeps pairs seen from both directions (count == 2) — one
      // map-side-combined shuffle, no self-join, `top` consumed once
      // (the r17 stage split measured the former self-join re-running
      // the whole scan+topk pipeline for its second side). Oracle:
      // the full route-probe-rank-reciprocate path in SQL over the
      // dumped index; sims hash-match because dot(a,b) and dot(b,a)
      // are the identical index-ordered product sum.
      (s, dir) => knnGraph(s, dir),
      Some(knnGraphSql)),

    Entry(
      "emb_pca_power",
      // Top principal direction of the embedding distribution — the
      // spectral summary behind whitening, drift detection and
      // dataset-cartography projections — via power iteration on the
      // UNCENTERED second-moment matrix of a deterministic 10% hash
      // sample (PCA-on-a-sample is the production norm; at 100 TB the
      // sample is a fixed count, the plan unchanged). Distribution of
      // labor: the d×d moment matrix is the DISTRIBUTED part — per-row
      // (i,j) products quantized to round(1e9·x)::long (emb_outliers'
      // order-free bit-exact aggregation; doubles would make the sum
      // partition-order-dependent) and map-side-combined into d² cells
      // — while the 3 fixed power-iteration steps run on the collected
      // 64×64 matrix (a ~32 KB bounded model artifact, like
      // bpe_train's merge table), each matvec/normalize a left-to-
      // right fold the oracle replays verbatim as ordered list_reduce.
      (s, dir) => {
        val ei = t(s, dir, "embeddings")
          .filter(col("vec_id") % 10 === 0)
          .select(col("embedding"),
            posexplode(col("embedding")).as(Seq("i", "x")))
        val eij = ei.select(col("i"), col("x"),
          posexplode(col("embedding")).as(Seq("j", "y")))
        val cells = eij.groupBy(col("i"), col("j"))
          .agg(sum(round(col("x").cast("double") * col("y").cast("double")
            * lit(1e9)).cast("long")).as("sq"))
          .select(col("i"), col("j"),
            (col("sq").cast("double") / lit(1e9)).as("cij"))
          .collect()
        // loud-failure guards (ADVICE r13): an empty 10% sample would
        // throw an opaque empty-max, and the DuckDB oracle hard-codes
        // range(0, 64) — a non-64-dim corpus must fail HERE, on both
        // engines' behalf, not silently hash-mismatch downstream
        require(cells.nonEmpty,
          "emb_pca_power: the vec_id % 10 == 0 sample selected no vectors")
        val d = cells.map(_.getInt(0)).max + 1
        require(d == 64,
          s"emb_pca_power: corpus has $d dims; the oracle contract is 64")
        val m = Array.ofDim[Double](d, d)
        cells.foreach(r => m(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
        def matvec(v: Array[Double]): Array[Double] =
          Array.tabulate(d) { i =>
            var acc = 0.0; var j = 0
            while (j < d) { acc += m(i)(j) * v(j); j += 1 }; acc
          }
        var v = Array.fill(d)(1.0)
        for (_ <- 1 to 3) {
          val w = matvec(v)
          var s2 = 0.0; var i = 0
          while (i < d) { s2 += w(i) * w(i); i += 1 }
          val nrm = math.sqrt(s2)
          v = w.map(_ / nrm)
        }
        val mv = matvec(v)
        var eig = 0.0; var i = 0
        while (i < d) { eig += v(i) * mv(i); i += 1 }
        import s.implicits._
        v.toIndexedSeq.zipWithIndex
          .map { case (x, dim) => (dim.toLong, x, eig) }
          .toDF("dim", "loading", "eigval")
          .orderBy(col("dim"))
      },
      Some("""WITH e AS (SELECT list_transform(embedding,
            x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE vec_id % 10 = 0),
        dd AS (SELECT unnest(range(0, 64)) AS i),
        pr AS (SELECT a.i AS i, b.i AS j, emb[a.i + 1] * emb[b.i + 1] AS p
          FROM e CROSS JOIN dd a CROSS JOIN dd b),
        c AS (SELECT i, j, SUM(CAST(round(p * 1e9) AS BIGINT)) AS sq
          FROM pr GROUP BY i, j),
        cr AS (SELECT i, list(CAST(sq AS DOUBLE) / 1e9 ORDER BY j) AS row
          FROM c GROUP BY i),
        v0 AS (SELECT list_transform(range(0, 64),
          t -> CAST(1.0 AS DOUBLE)) AS v),
        m1 AS (SELECT cr.i, list_reduce(list_transform(range(1, 65),
            t -> cr.row[t] * v0.v[t]), (a, b) -> a + b) AS w
          FROM cr CROSS JOIN v0),
        l1 AS (SELECT list(w ORDER BY i) AS lw FROM m1),
        v1 AS (SELECT list_transform(lw, x -> x / sqrt(list_reduce(
            list_transform(lw, y -> y * y), (a, b) -> a + b))) AS v
          FROM l1),
        m2 AS (SELECT cr.i, list_reduce(list_transform(range(1, 65),
            t -> cr.row[t] * v1.v[t]), (a, b) -> a + b) AS w
          FROM cr CROSS JOIN v1),
        l2 AS (SELECT list(w ORDER BY i) AS lw FROM m2),
        v2 AS (SELECT list_transform(lw, x -> x / sqrt(list_reduce(
            list_transform(lw, y -> y * y), (a, b) -> a + b))) AS v
          FROM l2),
        m3 AS (SELECT cr.i, list_reduce(list_transform(range(1, 65),
            t -> cr.row[t] * v2.v[t]), (a, b) -> a + b) AS w
          FROM cr CROSS JOIN v2),
        l3 AS (SELECT list(w ORDER BY i) AS lw FROM m3),
        v3 AS (SELECT list_transform(lw, x -> x / sqrt(list_reduce(
            list_transform(lw, y -> y * y), (a, b) -> a + b))) AS v
          FROM l3),
        mf AS (SELECT cr.i, list_reduce(list_transform(range(1, 65),
            t -> cr.row[t] * v3.v[t]), (a, b) -> a + b) AS w
          FROM cr CROSS JOIN v3),
        lf AS (SELECT list(w ORDER BY i) AS lw FROM mf),
        eg AS (SELECT list_reduce(list_transform(range(1, 65),
            t -> v3.v[t] * lf.lw[t]), (a, b) -> a + b) AS ev
          FROM v3 CROSS JOIN lf)
        SELECT CAST(a.i AS BIGINT) AS dim, v3.v[a.i + 1] AS loading,
          eg.ev AS eigval
        FROM dd a CROSS JOIN v3 CROSS JOIN eg
        ORDER BY dim""")),

    Entry(
      "knn_brute",
      // Brute-force cosine top-k: broadcast the 10 query vectors past
      // every corpus partition; per-query top-5 via window rank over
      // the similarity. No corpus shuffle until the tiny final top-k.
      (s, dir) => {
        val emb = embeddings(s, dir)
        topkPerQuery(bruteScored(emb, queryVecs(emb, col("vec_id") < 10)),
            "sim", 5)
          .orderBy(col("qid"), col("rank"))
      },
      // DuckDB-expressible because every float step is replicated in
      // the identical order: normalize (x/√Σx², left fold), dot (left
      // fold), rank (sim DESC, vec_id ASC = TopKAgg's tie-break).
      // list_reduce seeds with the first element vs our 0.0 — equal
      // for doubles (0.0 + x = x), so sims hash-match bit-for-bit.
      Some(bruteTop5Sql("vec_id < 10"))),

    Entry(
      "knn_range",
      // Radius (range) search — the OTHER similarity-serving API: all
      // corpus vectors with cosine ≥ τ per query, not a fixed top-k.
      // The retrieval shape for "everything semantically close enough"
      // (near-dup candidate pull, RAG recall floors) where result
      // cardinality must follow the data, not a k. Same broadcast-
      // queries/no-corpus-shuffle plan as knn_brute: the τ filter
      // evaluates inside the scan projection, so the only shuffled
      // rows are the matches themselves (linear scan per query at any
      // corpus size; the IVF variants bound it further when τ is
      // high). τ=0.25 genuinely splits these uniform-random vectors
      // (~1-3% pass per query; clustered real embeddings pass more).
      (s, dir) => {
        val emb = embeddings(s, dir)
        val q = queryVecs(emb, col("vec_id") < 5)
        emb.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("qid"))
          .withColumn("sim", Vectors.dot(col("embedding"), col("qvec")))
          .filter(col("sim") >= 0.25)
          .select(col("qid"), col("vec_id"), col("sim"))
          .orderBy(col("qid"), col("vec_id"))
      },
      // Bit-exact like knn_brute: identical normalize + in-order dot
      // folds, and the τ compare sees identical doubles on both sides.
      Some(rangeSql("vec_id < 5"))),

    Entry(
      "knn_ivf_range",
      // Index-accelerated radius search — knn_range with LOSSLESS IVF
      // cell pruning (VERDICT r9 follow-up): probe only cells whose
      // centroid angle clears acos(τ) + the cell's max member angle
      // (see cellRadii — triangle-inequality-safe, so the result set
      // is EXACTLY knn_range's and the same bit-exact oracle applies).
      // Exact re-scoring inside probed cells keeps the τ filter in the
      // scan projection. On these uniform-random test vectors cells
      // are wide (maxang ≈ 90°) and the bound keeps most cells — ANN's
      // documented worst case; on clustered real embeddings at high τ
      // the probe set collapses to the few cells near each query, and
      // with the cell-PARTITIONED on-disk index the pruned cells are
      // never read at all (same topology probeIndex plan-proves).
      // +1e-6 slack absorbs acos rounding at the bound. acos error
      // amplifies near |dot|≈1 (derivative → ∞): a tight/singleton
      // cell whose min_cdot rounds to 1.0 can have its max angle
      // underestimated by ~1e-7, which a 1e-9 slack would not cover —
      // and a pruned τ-boundary cell would break the bit-exact-equals-
      // knn_range contract (ADVICE r10). Extra kept cells only cost
      // scan; the exact τ re-filter discards them.
      (s, dir) => radiusProbe(
        queryVecs(embeddings(s, dir), col("vec_id") < 5),
        centroids(s, dir).join(cellRadii(s, dir), "cell"),
        assignedCached(s, dir), tau = 0.25),
      // Pruning is lossless, so the oracle is knn_range's verbatim:
      // same queries, same τ, same in-order normalize/dot folds.
      Some(rangeSql("vec_id < 5"))),

    Entry(
      "knn_ivf_refresh",
      // Incremental index maintenance — the dedup_incremental analog
      // for serving indexes (VERDICT r10 #6): the standing index was
      // built on the BASE corpus only (vec_id % 7 != 3); the remaining
      // vectors arrive as a new batch and are assigned to the EXISTING
      // cells without retraining centroids (O(batch) broadcast
      // projection — at 100 TB the refresh cost follows the batch, not
      // the corpus), with cell radii updated monotonically so the
      // lossless radius bound still holds. The refreshed index then
      // serves a radius probe over base ∪ batch that is bit-exact
      // equal to brute knn_range over the FULL corpus (same
      // triangle-inequality pruning as knn_ivf_range) — exactly what
      // the oracle checks. Round11Spec additionally pins refresh ≡
      // full rebuild at the same centroids and the radii safety bound.
      (s, dir) => {
        val (cen, asg, radii) = refreshBase(s, dir)
        val batch = embeddings(s, dir).filter(col("vec_id") % 7 === 3)
        val (asg2, radii2) = refreshIndex(cen, asg, radii, batch)
        val q = queryVecs(embeddings(s, dir),
          col("vec_id") >= 5 && col("vec_id") < 10)
        radiusProbe(q, cen.join(radii2, "cell"), asg2, tau = 0.25)
      },
      // Refresh + pruning are lossless, so the oracle is brute radius
      // search over the full corpus: same normalize/dot folds as
      // knn_range, query set [5,10).
      Some(rangeSql("vec_id >= 5 AND vec_id < 10"))),

    Entry(
      "knn_ivf",
      // IVF-style ANN: assign corpus vectors to nearest centroid cell
      // (broadcast centroids); each query probes its 4 nearest cells
      // only (~4/14 of the corpus scanned). KnnSpec checks recall vs
      // knn_brute; note the test embeddings are uniform-random — ANN's
      // worst case, where recall ~ fraction probed. On clustered real
      // embeddings the same plan recalls >0.9 at the same probe count.
      (s, dir) => {
        val q = queryVecs(embeddings(s, dir), col("vec_id") < 10)
        ivfTopK(centroids(s, dir), assignedCached(s, dir), q, 4, 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(ivfProbeSql("vec_id < 10"))),

    Entry(
      "knn_recall_report",
      // Index-quality monitoring — the report every ANN deployment
      // runs before trusting its index: recall@5 of the IVF probe
      // against the exact brute-force top-5, per query. Both sides
      // reuse the entries' own plans (broadcast queries / no corpus
      // shuffle; cached cell assignments), the comparison is a 50-row
      // join, and hits/recall are small-integer arithmetic — so the
      // whole report is hash-exact against the oracle, which recomputes
      // BOTH retrievals in SQL (the bit-identical dot folds knn_brute
      // and knn_ivf already prove) and diffs them the same way. At
      // 100 TB this runs on a sampled query set at index-build time —
      // the brute side is the expensive half, which is exactly why a
      // recall report samples queries instead of scoring all of them.
      (s, dir) => {
        val emb = embeddings(s, dir)
        val q = queryVecs(emb, col("vec_id") < 10)
        val brute = topkPerQuery(bruteScored(emb, q), "sim", 5)
          .select(col("qid"), col("vec_id"))
        val ivf = ivfTopK(centroids(s, dir), assignedCached(s, dir), q, 4, 5)
          .select(col("qid"), col("vec_id"))
        recallAt5(q, brute, ivf)
      },
      Some(s"""WITH ${normCte()},
        ${qCte("vec_id < 10")},
        ${bruteSimCte("bs")},
        ${top5IdsCte("br", "bs")},
        $cenCte,
        $asgCte,
        $ivfScanCtes,
        ${top5IdsCte("ir", "sc")},
        h AS (SELECT qid, COUNT(*) AS hits
          FROM br JOIN ir USING (qid, vec_id) GROUP BY qid)
        SELECT q.qid, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
          CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
        FROM q LEFT JOIN h USING (qid) ORDER BY qid""")),

    Entry(
      "knn_hybrid",
      // Hybrid retrieval — the RAG/retrieval fusion every modern
      // pipeline serves: a SPARSE lexical ranking (idf-weighted token
      // overlap — the BM25 family's scoring skeleton over the query
      // doc's term set) and a DENSE cosine ranking over embeddings,
      // fused per query by reciprocal-rank fusion
      // (rrf = Σ 1/(60+rank), Cormack et al., SIGIR'09). Queries are
      // the 5 docs with doc_id < 5 (vec_id aligns 1:1 with doc_id in
      // the corpus). Scale shape: the lexical side is JOIN-FREE
      // (VERDICT r17 #4) — the query side is ≤5 short docs, so their
      // (term → idf) weight maps fold into PLAN LITERALS (the
      // text_classify zero-exchange trick) and every corpus doc
      // computes its 5 overlap scores in one codegen'd map-side
      // projection; no posting-list equi-join, no (qid, doc) groupBy
      // shuffle — the only exchange left is TopKAgg's ≤
      // tasks·queries·k partials. (The r17 verdict suggested a
      // df ∈ [2, cap] stop-term band instead; measured on this corpus
      // the band is DEGENERATE — the vocab is 31 terms, every one at
      // df ≈ 0.78·N, so any fractional cap drops either nothing or
      // the entire lexical signal. The plan-literal rewrite removes
      // the stop-term JOIN COST bit-identically instead of changing
      // retrieval semantics; per-query literal maps are capped at
      // 1024 top-idf terms — never binding on short queries — so a
      // pathological book-length query cannot bloat the plan.) The
      // dense side is knn_brute's broadcast-queries scan. Fusion is a
      // ≤100-rows-per-query outer join. Ranks are integers and rrf is
      // two IEEE divisions added in fixed order, so the fused list
      // hash-matches; ln lives only in idf, which is dumped (bm25's
      // contract).
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val tok = hybridTerms(docs)
        val lexTop = hybridLexTop(docs, tok, hybridIdf(docs, tok))
        val emb = embeddings(s, dir)
        val qv = queryVecs(emb, col("vec_id") < 5)
        val vecTop = topkPerQuery(bruteScored(emb, qv), "sim", 50)
          .select(col("qid"), col("vec_id"), col("rank").as("vec_rank"))
        val fused = lexTop
          .join(vecTop, Seq("qid", "vec_id"), "full_outer")
          .withColumn("rrf",
            coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0)) +
              coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
        val wF = Window.partitionBy(col("qid"))
          .orderBy(col("rrf").desc, col("vec_id"))
        fused.withColumn("rank", row_number().over(wF))
          .filter(col("rank") <= 10)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("vec_id"), col("lex_rank").cast("long").as("lex_rank"),
            col("vec_rank").cast("long").as("vec_rank"), col("rrf"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH w AS (SELECT doc_id,
            list_distinct(list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0)) AS w
          FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS term FROM w),
        idf AS (SELECT term, idf_q
          FROM read_parquet('$dumpSql/hybrid_idf/*.parquet')),
        qt AS (SELECT doc_id AS qid, term FROM tok WHERE doc_id < 5),
        lex AS (SELECT qt.qid, t.doc_id AS vec_id,
            CAST(SUM(i.idf_q) AS BIGINT) AS lex_q
          FROM qt JOIN tok t USING (term) JOIN idf i USING (term)
          WHERE t.doc_id <> qt.qid GROUP BY qt.qid, t.doc_id),
        lex50 AS (SELECT qid, vec_id, lex_rank FROM (SELECT qid, vec_id,
            row_number() OVER (PARTITION BY qid
              ORDER BY lex_q DESC, vec_id) AS lex_rank FROM lex)
          WHERE lex_rank <= 50),
        ${normCte()},
        ${qCte("vec_id < 5", "qv")},
        ${bruteSimCte("vs", "qv")},
        v50 AS (SELECT qid, vec_id, vec_rank FROM (SELECT qid, vec_id,
            row_number() OVER (PARTITION BY qid
              ORDER BY sim DESC, vec_id) AS vec_rank FROM vs)
          WHERE vec_rank <= 50),
        fused AS (SELECT COALESCE(l.qid, v.qid) AS qid,
            COALESCE(l.vec_id, v.vec_id) AS vec_id,
            l.lex_rank, v.vec_rank,
            COALESCE(1.0 / (60 + l.lex_rank), 0.0) +
              COALESCE(1.0 / (60 + v.vec_rank), 0.0) AS rrf
          FROM lex50 l FULL OUTER JOIN v50 v
            ON l.qid = v.qid AND l.vec_id = v.vec_id),
        r AS (SELECT qid, vec_id, lex_rank, vec_rank, rrf,
            CAST(row_number() OVER (PARTITION BY qid
              ORDER BY rrf DESC, vec_id) AS BIGINT) AS rank
          FROM fused)
        SELECT qid, rank, vec_id, CAST(lex_rank AS BIGINT) AS lex_rank,
          CAST(vec_rank AS BIGINT) AS vec_rank, rrf
        FROM r WHERE rank <= 10 ORDER BY qid, rank""")),

    Entry(
      "knn_filtered",
      // Metadata-FILTERED vector search — the vector-store feature
      // every RAG deployment needs ("top-k but only docs matching
      // the predicate"): top-5 cosine per query among corpus vectors
      // whose label matches the query's label. The predicate composes
      // into the scan (label equality folds into the broadcast-join
      // condition BEFORE any similarity math — pre-filtering, the
      // shape that stays exact; post-filtering an unfiltered top-k
      // under-fills when the predicate is selective), so the plan is
      // knn_brute's broadcast scan with a tighter join. At 100 TB
      // with a partitioned/bucketed store the label predicate also
      // prunes files — the same DPP the IVF posting lists use.
      (s, dir) => {
        val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        val emb = embeddings(s, dir).join(lab, "vec_id")
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel"))
        val scored = bruteScored(emb, q, col("vec_id") =!= col("qid") &&
          col("label") === col("qlabel"))
        topkPerQuery(scored, "sim", 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(bruteTop5Sql("vec_id < 10", normCols = "vec_id, label",
        qCols = "label AS qlabel, e AS qe",
        pred = " AND n.label = q.qlabel"))),

    Entry(
      "knn_mmr",
      // MMR diversified re-ranking (Carbonell & Goldstein, SIGIR'98)
      // — the de-dup layer retrieval serves AFTER top-k: greedily
      // pick k=5 of the top-20 candidates maximizing
      // λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), λ=0.5, so near-
      // identical hits don't crowd the result page / RAG context.
      // Scale shape: candidate generation is knn_brute's broadcast
      // scan + TopKAgg (the only corpus-sized stage); everything
      // after is per-query BOUNDED — 20·19 pairwise dots per query,
      // five greedy rounds as dataframe joins over those pairs (the
      // unrolled-round topology q87_pagerank uses). Selection
      // compares doubles built from the same in-order folds both
      // engines share, penalties are order-free MAXes, ties break on
      // vec_id — so the 5-step greedy replays EXACTLY in the
      // oracle's unrolled SQL.
      (s, dir) => {
        val emb = embeddings(s, dir)
        val qv = queryVecs(emb, col("vec_id") < 5)
        // candidate generation unchanged: knn_brute's broadcast scan +
        // TopKAgg — the only corpus-sized stage
        val cand = topkPerQuery(bruteScored(emb, qv), "sim", 20)
          .select(col("qid"), col("vec_id"), col("sim"))
        // r20 SINGLE-PASS greedy (guide §1.2 step 1 — the 5-round
        // dataframe loop was ~10 micro-jobs: per-round pen groupBy,
        // window, anti-join, eager localCheckpoint; all of it over a
        // per-query-BOUNDED working set of 20 candidates). Collect the
        // 20 (vec_id, sim, embedding) per query into one sorted array
        // and replay the identical greedy as ONE codegen'd aggregate
        // expression: pen = order-free MAX of the same DotProd kernel
        // (ascending-index fold; x·y commutes bitwise per element, so
        // dot(e_c, e_s) ≡ the pair table's dot(e_s, e_c)), score =
        // 0.5·sim − 0.5·pen in the same op order, argmax by strict
        // (score desc, vec_id asc) — the same total order row_number
        // imposed, so the oracle's unrolled SQL replays EXACTLY.
        // Measured: sf0.1 solo 2.09 s → 0.69 s; sf10 3.26 s (pin) →
        // 1.74 s on a slower host; plan: ~10 stages → 3 (scan+TopKAgg,
        // emb lookup join, per-query fold). Output bit-identical
        // (row-exact vs the previous oracle-passing run at sf0.01).
        val perQ = cand.join(emb, "vec_id")
          .groupBy(col("qid"))
          .agg(sort_array(collect_list(struct(col("vec_id"), col("sim"),
            col("embedding")))).as("cands"))
        val c = col("cands")
        val idxs = sequence(lit(0), size(c) - 1)
        def cd(i: Column) = element_at(c, i + 1)
        def better(sc: Column, vid: Column, b: Column): Column =
          sc > b.getField("score") ||
            (sc === b.getField("score") && vid < b.getField("vec_id"))
        val noBest = struct(lit(-1).as("i"),
          lit(Double.NegativeInfinity).as("score"),
          lit(Long.MaxValue).as("vec_id"))
        val best1 = aggregate(idxs, noBest, (b, i) => {
          val sc = lit(0.5) * cd(i).getField("sim")
          val vid = cd(i).getField("vec_id")
          when(better(sc, vid, b),
            struct(i.as("i"), sc.as("score"), vid.as("vec_id")))
            .otherwise(b)
        })
        val init = struct(
          array(struct(lit(1L).as("step"),
            best1.getField("vec_id").as("vec_id"),
            best1.getField("score").as("score"))).as("steps"),
          array(best1.getField("i")).as("selIdx"))
        val greedy = aggregate(sequence(lit(2), lit(5)), init, (st, k) => {
          val selIdx = st.getField("selIdx")
          val best = aggregate(idxs, noBest, (b, i) => {
            val pen = aggregate(selIdx, lit(Double.NegativeInfinity),
              (p, j) => greatest(p,
                Vectors.dot(cd(i).getField("embedding"),
                  cd(j).getField("embedding"))))
            val sc = lit(0.5) * cd(i).getField("sim") - lit(0.5) * pen
            val vid = cd(i).getField("vec_id")
            when(!array_contains(selIdx, i) && better(sc, vid, b),
              struct(i.as("i"), sc.as("score"), vid.as("vec_id")))
              .otherwise(b)
          })
          when(best.getField("i") >= 0,
            struct(
              concat(st.getField("steps"), array(struct(
                k.cast("long").as("step"),
                best.getField("vec_id").as("vec_id"),
                best.getField("score").as("score")))).as("steps"),
              concat(st.getField("selIdx"),
                array(best.getField("i"))).as("selIdx")))
            .otherwise(st)
        })
        perQ.select(col("qid"), explode(greedy.getField("steps")).as("st"))
          .select(col("qid"), col("st.step").as("step"),
            col("st.vec_id").as("vec_id"), col("st.score").as("mmr"))
          .orderBy(col("qid"), col("step"))
      },
      Some(s"""WITH ${normCte()},
        ${qCte("vec_id < 5", "qv")},
        ${bruteSimCte("sims", "qv", cols = ", n.e")},
        c AS (SELECT qid, vec_id, e, sim FROM (SELECT *,
            row_number() OVER (PARTITION BY qid
              ORDER BY sim DESC, vec_id) AS rnk FROM sims)
          WHERE rnk <= 20),
        p AS (SELECT x.qid, x.vec_id AS a, y.vec_id AS b,
            list_reduce(list_transform(range(1, len(x.e)+1),
              i -> x.e[i]*y.e[i]), (u,v) -> u+v) AS d
          FROM c x JOIN c y ON x.qid = y.qid AND x.vec_id <> y.vec_id),
        pick1 AS (SELECT qid, vec_id, score FROM (SELECT qid, vec_id,
            0.5*sim AS score, row_number() OVER (PARTITION BY qid
              ORDER BY 0.5*sim DESC, vec_id) AS rn FROM c) WHERE rn = 1),
        sel1 AS (SELECT qid, vec_id FROM pick1),
        pen2 AS (SELECT p.qid, p.b AS vec_id, MAX(p.d) AS pen
          FROM p JOIN sel1 s ON p.qid = s.qid AND p.a = s.vec_id
          GROUP BY p.qid, p.b),
        pick2 AS (SELECT qid, vec_id, score FROM (SELECT c.qid, c.vec_id,
            0.5*c.sim - 0.5*pen2.pen AS score,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY 0.5*c.sim - 0.5*pen2.pen DESC, c.vec_id) AS rn
          FROM c JOIN pen2 ON c.qid = pen2.qid AND c.vec_id = pen2.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel1
            WHERE sel1.qid = c.qid AND sel1.vec_id = c.vec_id))
          WHERE rn = 1),
        sel2 AS (SELECT * FROM sel1
          UNION ALL SELECT qid, vec_id FROM pick2),
        pen3 AS (SELECT p.qid, p.b AS vec_id, MAX(p.d) AS pen
          FROM p JOIN sel2 s ON p.qid = s.qid AND p.a = s.vec_id
          GROUP BY p.qid, p.b),
        pick3 AS (SELECT qid, vec_id, score FROM (SELECT c.qid, c.vec_id,
            0.5*c.sim - 0.5*pen3.pen AS score,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY 0.5*c.sim - 0.5*pen3.pen DESC, c.vec_id) AS rn
          FROM c JOIN pen3 ON c.qid = pen3.qid AND c.vec_id = pen3.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel2
            WHERE sel2.qid = c.qid AND sel2.vec_id = c.vec_id))
          WHERE rn = 1),
        sel3 AS (SELECT * FROM sel2
          UNION ALL SELECT qid, vec_id FROM pick3),
        pen4 AS (SELECT p.qid, p.b AS vec_id, MAX(p.d) AS pen
          FROM p JOIN sel3 s ON p.qid = s.qid AND p.a = s.vec_id
          GROUP BY p.qid, p.b),
        pick4 AS (SELECT qid, vec_id, score FROM (SELECT c.qid, c.vec_id,
            0.5*c.sim - 0.5*pen4.pen AS score,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY 0.5*c.sim - 0.5*pen4.pen DESC, c.vec_id) AS rn
          FROM c JOIN pen4 ON c.qid = pen4.qid AND c.vec_id = pen4.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel3
            WHERE sel3.qid = c.qid AND sel3.vec_id = c.vec_id))
          WHERE rn = 1),
        sel4 AS (SELECT * FROM sel3
          UNION ALL SELECT qid, vec_id FROM pick4),
        pen5 AS (SELECT p.qid, p.b AS vec_id, MAX(p.d) AS pen
          FROM p JOIN sel4 s ON p.qid = s.qid AND p.a = s.vec_id
          GROUP BY p.qid, p.b),
        pick5 AS (SELECT qid, vec_id, score FROM (SELECT c.qid, c.vec_id,
            0.5*c.sim - 0.5*pen5.pen AS score,
            row_number() OVER (PARTITION BY c.qid
              ORDER BY 0.5*c.sim - 0.5*pen5.pen DESC, c.vec_id) AS rn
          FROM c JOIN pen5 ON c.qid = pen5.qid AND c.vec_id = pen5.vec_id
          WHERE NOT EXISTS (SELECT 1 FROM sel4
            WHERE sel4.qid = c.qid AND sel4.vec_id = c.vec_id))
          WHERE rn = 1)
        SELECT qid, CAST(step AS BIGINT) AS step, vec_id, mmr FROM (
          SELECT qid, 1 AS step, vec_id, score AS mmr FROM pick1
          UNION ALL SELECT qid, 2, vec_id, score FROM pick2
          UNION ALL SELECT qid, 3, vec_id, score FROM pick3
          UNION ALL SELECT qid, 4, vec_id, score FROM pick4
          UNION ALL SELECT qid, 5, vec_id, score FROM pick5)
        ORDER BY qid, step""")),

    Entry(
      "emb_kcenter",
      // Greedy farthest-point coreset (Gonzalez'85 k-center
      // 2-approximation — the diversity-exemplar selection a
      // data-pruning pipeline runs to pick maximally-spread
      // representatives, and the deterministic cousin of k-means++
      // seeding): seed = vec_id 0, then 4 rounds of "pick the vector
      // whose MAX cosine to the selected set is smallest". Scale
      // shape: each round is ONE corpus scan — the ≤k selected
      // vectors fold into a broadcast array literal, max-dot
      // evaluates inside the row projection (order-free MAX — no
      // float-sum drift), and the global argmin is a TakeOrdered
      // top-1 (per-partition heap, no sort shuffle). k scans total,
      // sel checkpointed per round (the knn_mmr lineage lesson).
      // Ties break on vec_id; every compared double comes from the
      // shared in-order fold — the unrolled SQL oracle replays the
      // traversal exactly.
      (s, dir) => {
        val emb = embeddings(s, dir)
        // (r20: a lazy-checkpoint variant was A/B'd and measured WORSE
        // — the 1-row picks re-materialize under each of their two
        // consumers; eager stays)
        var sel = emb.filter(col("vec_id") === 0)
          .select(lit(1L).as("step"), col("vec_id"),
            lit(null).cast("double").as("max_dot"), col("embedding"))
          .localCheckpoint(true)
        for (step <- 2 to 5) {
          val selArr = sel.agg(collect_list(
            struct(col("vec_id").as("id"), col("embedding").as("v")))
            .as("sel_arr"))
          val pick = emb
            .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .crossJoin(broadcast(selArr))
            .withColumn("max_dot", array_max(transform(col("sel_arr"),
              e => Vectors.dot(col("embedding"), e.getField("v")))))
            .orderBy(col("max_dot").asc, col("vec_id").asc)
            .limit(1)
            .select(lit(step.toLong).as("step"), col("vec_id"),
              col("max_dot"), col("embedding"))
            .localCheckpoint(true)
          sel = sel.unionByName(pick)
        }
        sel.select(col("step"), col("vec_id"), col("max_dot"))
          .orderBy(col("step"))
      },
      Some(s"""WITH ${normCte()},
        sel1 AS (SELECT vec_id, e FROM norm WHERE vec_id = 0),
        m2 AS (SELECT n.vec_id,
            MAX(list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*s.e[i]), (a,b) -> a+b)) AS md
          FROM norm n CROSS JOIN sel1 s
          WHERE n.vec_id NOT IN (SELECT vec_id FROM sel1)
          GROUP BY n.vec_id),
        p2 AS (SELECT vec_id, md FROM (SELECT vec_id, md,
            row_number() OVER (ORDER BY md, vec_id) AS rn FROM m2)
          WHERE rn = 1),
        sel2 AS (SELECT * FROM sel1 UNION ALL
          SELECT n.vec_id, n.e FROM norm n JOIN p2 USING (vec_id)),
        m3 AS (SELECT n.vec_id,
            MAX(list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*s.e[i]), (a,b) -> a+b)) AS md
          FROM norm n CROSS JOIN sel2 s
          WHERE n.vec_id NOT IN (SELECT vec_id FROM sel2)
          GROUP BY n.vec_id),
        p3 AS (SELECT vec_id, md FROM (SELECT vec_id, md,
            row_number() OVER (ORDER BY md, vec_id) AS rn FROM m3)
          WHERE rn = 1),
        sel3 AS (SELECT * FROM sel2 UNION ALL
          SELECT n.vec_id, n.e FROM norm n JOIN p3 USING (vec_id)),
        m4 AS (SELECT n.vec_id,
            MAX(list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*s.e[i]), (a,b) -> a+b)) AS md
          FROM norm n CROSS JOIN sel3 s
          WHERE n.vec_id NOT IN (SELECT vec_id FROM sel3)
          GROUP BY n.vec_id),
        p4 AS (SELECT vec_id, md FROM (SELECT vec_id, md,
            row_number() OVER (ORDER BY md, vec_id) AS rn FROM m4)
          WHERE rn = 1),
        sel4 AS (SELECT * FROM sel3 UNION ALL
          SELECT n.vec_id, n.e FROM norm n JOIN p4 USING (vec_id)),
        m5 AS (SELECT n.vec_id,
            MAX(list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*s.e[i]), (a,b) -> a+b)) AS md
          FROM norm n CROSS JOIN sel4 s
          WHERE n.vec_id NOT IN (SELECT vec_id FROM sel4)
          GROUP BY n.vec_id),
        p5 AS (SELECT vec_id, md FROM (SELECT vec_id, md,
            row_number() OVER (ORDER BY md, vec_id) AS rn FROM m5)
          WHERE rn = 1)
        SELECT CAST(step AS BIGINT) AS step, vec_id, max_dot FROM (
          SELECT 1 AS step, vec_id, CAST(NULL AS DOUBLE) AS max_dot
            FROM sel1
          UNION ALL SELECT 2, vec_id, md FROM p2
          UNION ALL SELECT 3, vec_id, md FROM p3
          UNION ALL SELECT 4, vec_id, md FROM p4
          UNION ALL SELECT 5, vec_id, md FROM p5)
        ORDER BY step""")),

    Entry(
      "emb_centroid",
      // Per-label embedding centroids with EXACTLY-reproducible float
      // reduction: a double Σ is order-dependent, so each (label, dim)
      // slot sorts its values and folds left — Spark's aggregate() and
      // DuckDB's list_reduce() then add in the identical sequence and
      // the means hash-match bit-for-bit. The reproducible-training-
      // statistics pattern: one shuffle on (label, dim), state bounded
      // by class count × dims. (float→double is exact; 0.0 + x = x, so
      // the differing fold seeds agree.)
      (s, dir) =>
        labelDimSums(s, dir)
          .select(col("label"), col("pos").cast("long").as("dim"),
            (col("ssum") / col("n")).as("mean"))
          .orderBy(col("label"), col("dim")),
      Some("""WITH e AS (SELECT label, i - 1 AS pos,
          CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
          unnest(generate_series(1, len(embedding))) AS t(i)),
        s AS (SELECT label, pos,
          list_reduce(list(v ORDER BY v), (a, x) -> a + x) AS ssum,
          COUNT(*) AS n FROM e GROUP BY 1, 2)
        SELECT label, CAST(pos AS BIGINT) AS dim, ssum / n AS mean
        FROM s ORDER BY label, dim""")),

    Entry(
      "emb_outliers",
      // Embedding outlier report — the data-QA pass a vector corpus
      // runs before training/indexing (noise, mislabels and encoder
      // failures sit far from the data's center): cosine of each
      // unit vector to the UNIT GLOBAL CENTROID, bottom-20. The
      // centroid is the QUANTIZED order-free form — per dim,
      // Σ round(1e9·v) as a map-side-combined BIGINT — because the
      // sorted-fold mean (emb_centroid's per-LABEL pattern) buffers
      // every corpus value in one collect_list per dim: fine for
      // class-sized groups, an OOM at corpus-sized ones. The
      // quantized sum keeps O(1) aggregation state per dim at any
      // corpus size, stays bit-exact cross-engine, and the 64-row
      // centroid rides into the scan as a broadcast 1-row array;
      // bottom-k is a TakeOrdered heap — no corpus shuffle.
      (s, dir) => {
        val cen = t(s, dir, "embeddings")
          .select(posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy(col("pos"))
          .agg(sum(round(col("v").cast("double") * 1e9).cast("long"))
              .as("mq"),
            count(lit(1)).as("n"))
          .select(col("pos"),
            (col("mq").cast("double") / 1e9 / col("n")).as("m"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .as("cen_arr"))
          // normalize the constant centroid ONCE in this 1-row relation
          // — inside the per-row projection it would re-normalize the
          // same vector for every corpus row
          .select(Vectors.normalized(
            transform(col("cen_arr"), e => e.getField("m"))).as("cu"))
        val scored = embeddings(s, dir)
          .crossJoin(broadcast(cen))
          .withColumn("cos_centroid",
            Vectors.dot(col("embedding"), col("cu")))
          .select(col("vec_id"), col("cos_centroid"))
          .orderBy(col("cos_centroid").asc, col("vec_id"))
          .limit(20)
        scored.withColumn("rank", row_number().over(
            Window.orderBy(col("cos_centroid").asc, col("vec_id")))
            .cast("long"))
          .select(col("rank"), col("vec_id"), col("cos_centroid"))
          .orderBy(col("rank"))
      },
      Some(s"""WITH e AS (SELECT i - 1 AS pos,
            CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings,
            unnest(generate_series(1, len(embedding))) AS t(i)),
        cd AS (SELECT pos,
            CAST(SUM(CAST(round(v * 1e9) AS BIGINT)) AS DOUBLE)
              / 1e9 / COUNT(*) AS m
          FROM e GROUP BY pos),
        ca AS (SELECT list(m ORDER BY pos) AS cv FROM cd),
        cu AS (SELECT list_transform(cv, x -> x / sqrt(
            list_reduce(list_transform(cv, y -> y*y), (a,b) -> a+b)))
            AS cu FROM ca),
        ${normCte()},
        sc AS (SELECT n.vec_id,
            list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*cu.cu[i]), (a,b) -> a+b) AS cos_centroid
          FROM norm n CROSS JOIN cu)
        SELECT CAST(row_number() OVER (ORDER BY cos_centroid, vec_id)
            AS BIGINT) AS rank, vec_id, cos_centroid
        FROM sc ORDER BY cos_centroid, vec_id LIMIT 20""")),

    Entry(
      "emb_dispersion",
      // Per-label cohesion report — the classifier-data QA twin of
      // emb_centroid (tight classes embed-train well; a label whose
      // members barely point at their own centroid is noisy or
      // mislabeled): mean cosine of each member to its label's unit
      // centroid. The per-member cosines are QUANTIZED to
      // round(·1e12) integers before summing (the lm/classify trick)
      // so the per-label mean is order-free and hash-exact. One
      // (label, dim) centroid shuffle + one label re-agg; centroids
      // ride broadcast.
      (s, dir) => {
        val cen = labelDimSums(s, dir)
          .select(col("label"), col("pos"), (col("ssum") / col("n")).as("m"))
          .groupBy(col("label"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .as("cen_arr"))
          .select(col("label"),
            transform(col("cen_arr"), e => e.getField("m")).as("cv"))
        val cu = cen.select(col("label"),
          Vectors.normalized(col("cv")).as("cu"))
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("label"),
            Vectors.normalized(col("embedding")).as("e"))
          .join(broadcast(cu), "label")
          .withColumn("cos_q",
            round(Vectors.dot(col("e"), col("cu")) * 1e12).cast("long"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("cos_q")).as("cohesion_q"))
          .withColumn("cohesion", col("cohesion_q").cast("double")
            / lit(1e12) / col("n"))
          .select(col("label"), col("n"), col("cohesion_q"),
            col("cohesion"))
          .orderBy(col("label"))
      },
      Some(s"""WITH e AS (SELECT label, i - 1 AS pos,
            CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings,
            unnest(generate_series(1, len(embedding))) AS t(i)),
        cd AS (SELECT label, pos,
            list_reduce(list(v ORDER BY v), (a, x) -> a + x)
              / COUNT(*) AS m
          FROM e GROUP BY label, pos),
        ca AS (SELECT label, list(m ORDER BY pos) AS cv
          FROM cd GROUP BY label),
        cu AS (SELECT label, list_transform(cv, x -> x / sqrt(
            list_reduce(list_transform(cv, y -> y*y), (a,b) -> a+b)))
            AS cu FROM ca),
        ${normCte("vec_id, label")},
        sc AS (SELECT n.label,
            CAST(round(list_reduce(list_transform(range(1, len(n.e)+1),
              i -> n.e[i]*cu.cu[i]), (a,b) -> a+b) * 1e12) AS BIGINT)
              AS cos_q
          FROM norm n JOIN cu USING (label))
        SELECT label, COUNT(*) AS n,
          CAST(SUM(cos_q) AS BIGINT) AS cohesion_q,
          CAST(CAST(SUM(cos_q) AS BIGINT) AS DOUBLE) / 1e12 / COUNT(*)
            AS cohesion
        FROM sc GROUP BY label ORDER BY label""")),

    Entry(
      "emb_quantize",
      // Symmetric int8 scalar quantization of the embedding store —
      // the 4× storage compressor a 100 TB vector corpus runs before
      // anything else (PQ's 32× is for SEARCH; int8 keeps per-dim
      // fidelity for re-ranking/training reads). Pure projection, no
      // shuffle: per vector, scale = 127/max|x|, q_i = floor(x_i·scale
      // + 0.5), plus the reconstruction-error audit (a quantizer
      // without its error report is unusable). Every float output is
      // an order-INDEPENDENT fold — max selects an exactly-computed
      // element, the checksum is integer — so the oracle hash-matches
      // bit-for-bit with no ordered-fold gymnastics.
      (s, dir) =>
        t(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding"))
          .withColumn("mx", array_max(transform(col("embedding"),
            x => abs(x.cast("double")))))
          .withColumn("scale",
            when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(1.0)))
          .withColumn("q", transform(col("embedding"),
            x => floor(x.cast("double") * col("scale") + lit(0.5))
              .cast("int")))
          .select(col("vec_id"), col("scale"),
            aggregate(col("q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max"),
            array_max(zip_with(col("embedding"), col("q"),
              (x, qi) => abs(x.cast("double") -
                qi.cast("double") / col("scale")))).as("max_err"))
          .orderBy(col("vec_id")),
      Some("""WITH b AS (SELECT vec_id, embedding,
            list_max(list_transform(embedding,
              x -> abs(CAST(x AS DOUBLE)))) AS mx
          FROM embeddings),
        sc AS (SELECT vec_id, embedding,
            CASE WHEN mx > 0 THEN 127.0 / mx ELSE 1.0 END AS scale
          FROM b),
        qq AS (SELECT vec_id, embedding, scale,
            list_transform(embedding, x -> CAST(floor(
              CAST(x AS DOUBLE) * scale + 0.5) AS INTEGER)) AS q
          FROM sc)
        SELECT vec_id, scale,
          -- len guard: list_reduce errors on an empty list where the
          -- Spark aggregate(..., 0L, ...) returns its 0 seed; a
          -- zero-length embedding must compare cleanly, not crash the
          -- oracle (the other folds agree already: list_min/list_max/
          -- list_max∘transform give NULL = Spark's array_min/max/
          -- zip_with on empty)
          CASE WHEN len(q) = 0 THEN 0
               ELSE CAST(list_reduce(q, (a, v) -> a + v) AS BIGINT)
          END AS q_sum,
          list_min(q) AS q_min, list_max(q) AS q_max,
          list_max(list_transform(range(1, len(q) + 1),
            i -> abs(CAST(embedding[i] AS DOUBLE)
              - CAST(q[i] AS DOUBLE) / scale))) AS max_err
        FROM qq ORDER BY vec_id""")),

    Entry(
      "knn_ivf_pq",
      // The production ANN composition: IVF cell PRUNING (probe the 4
      // nearest cells, skip the rest of the corpus) × PQ COMPRESSION
      // (candidates scored by 8 table adds against 8-byte codes, no
      // float vectors touched) — both index artifacts come from the
      // session caches the standalone entries train, exactly like a
      // deployment sharing one index. Scan cost: |probed cells| rows
      // of 8-byte codes instead of the full float corpus.
      (s, dir) => {
        val emb = embeddings(s, dir)
        val cen = centroids(s, dir)
        val (pqCen, codes) = pqIndex(s, dir, emb)
        val assigned = assignedCached(s, dir)
          .select(col("cell"), col("vec_id"))
        val q = queryVecs(emb, col("vec_id") < 10)
        val probes = probeCells(q, cen, 4).select(col("qid"), col("cell"))
        val table = pqTable(pqCen, q)
        val scored = assigned.join(broadcast(probes), "cell")
          .filter(col("vec_id") =!= col("qid"))
          .join(codes, "vec_id")
          .select(col("qid"), col("vec_id"),
            posexplode(col("codes")).as(Seq("m", "code")))
          .join(broadcast(table), Seq("qid", "m", "code"))
          // ordered fold, not SUM — see pqSearch: reproducible floats
          .groupBy(col("qid"), col("vec_id"))
          .agg(array_sort(collect_list(struct(col("m"), col("tdot")))).as("mt"))
          .filter(size(col("mt")) === PqM)
          .select(col("qid"), col("vec_id"),
            expr("aggregate(mt, 0D, (acc, e) -> acc + e.tdot)").as("approx_dot"))
        topkPerQuery(scored, "approx_dot", 5)
          .orderBy(col("qid"), col("rank"))
      },
      Some(pqProbeSql("vec_id < 10", ivfPruned = true))),

    Entry(
      "knn_pq",
      // Product-quantization ANN (the compressed-vector scale path):
      // 64-dim vectors → 8 subspaces × 16 codes = 8 bytes per vector
      // (32× smaller than float32), scored by asymmetric distance —
      // per-query lookup tables replace per-pair float dot products.
      // This is the exhaustive-but-cheap complement to knn_ivf's
      // pruning; production systems compose both (IVF-PQ). Recall on
      // the uniform-random test vectors is quantization-bound; PQSpec
      // proves exact retrieval on separable planted clusters.
      (s, dir) => {
        val emb = embeddings(s, dir)
        val (cen, codes) = pqIndex(s, dir, emb)
        pqSearch(cen, codes, queryVecs(emb, col("vec_id") < 10), 5)
      },
      Some(pqProbeSql("vec_id < 10", ivfPruned = false))),

    Entry(
      "knn_pq_refresh",
      // Incremental PQ maintenance — the compressed-index half of the
      // refresh lifecycle (knn_ivf_refresh is the pruning half): a new
      // vector batch is ENCODED with the existing codebooks (one
      // ~128-row codebook broadcast past the batch, O(batch) — no
      // Lloyd retrain, which at 100 TB is the difference between a
      // per-shard append and a full index rebuild), the code table
      // grows by union, and ADC serving runs against the refreshed
      // codes. Because assignment is per-row, the refreshed table is
      // bit-identical to a full re-encode at the same codebooks
      // (Round11Spec); the oracle replays the ADC path over the
      // dumped refreshed index.
      (s, dir) => {
        val (rcen, codes2) = pqRefreshed(s, dir)
        val q = queryVecs(embeddings(s, dir),
          col("vec_id") >= 10 && col("vec_id") < 15)
        pqSearch(rcen, codes2, q, 5)
      },
      Some(pqProbeSql("vec_id >= 10 AND vec_id < 15", ivfPruned = false,
        cbDir = "pq_r_codebooks", cdDir = "pq_r_codes"))),

    Entry(
      "index_stats",
      // ANN index health report — the monitoring every serving index
      // ships with (cell occupancy and angular radius drive probe
      // cost and recall; a skewed cell or a radius creeping toward
      // 90° is the signal to re-train): per-cell member count +
      // min-dot-to-centroid from the session index artifacts. One
      // map-side-combined groupBy over the cached assignments; the
      // centroid join broadcasts ~14 rows. The oracle recomputes both
      // from the dumped index with the same in-order dot fold, so the
      // report is hash-exact.
      (s, dir) => {
        centroidDots(assignedCached(s, dir), centroids(s, dir))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_vecs"), min(col("d")).as("min_cdot"))
          .orderBy(col("cell"))
      },
      Some(s"""WITH $cenCte,
        $asgCte,
        d AS (SELECT a.cell,
            list_reduce(list_transform(range(1, len(a.embedding)+1),
              i -> a.embedding[i]*c.cvec[i]), (x,y) -> x+y) AS d
          FROM asg a JOIN cen c ON a.cell = c.cell)
        SELECT cell, COUNT(*) AS n_vecs, MIN(d) AS min_cdot
        FROM d GROUP BY cell ORDER BY cell""")),

    Entry(
      "dedup_semantic",
      // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
      // at corpus scale WITHOUT the all-pairs O(n²) — pairwise cosine
      // runs only WITHIN k-means cells of the standing IVF index (the
      // paper's clustering step is exactly this Lloyd training, reused
      // here the way a deployment reuses its serving index). Keep-rank
      // inside a cell is (dot-to-centroid ASC, vec_id ASC): the paper
      // keeps LOW-centroid-similarity members to bias survivors toward
      // diversity. A vector is DROPPED iff some better-ranked cell-mate
      // is τ-similar; the report lists each dropped vector with its
      // cell and its count of better-ranked τ-neighbors. One shuffle on
      // cell for the self-join; each pairwise block is bounded by cell
      // occupancy (~37 members at n/37 cells), so a 100 TB embedding
      // store sweeps cell-parallel across executors with no global
      // pairwise stage. τ = 0.35 matches dedup_embedding's confirm
      // threshold on this corpus.
      (s, dir) => {
        val m = semanticRank(s, dir)
        val keep = m.select(col("cell"), col("vec_id").as("a"),
          col("embedding").as("e_a"), col("cdot").as("cdot_a"))
        val drop = m.select(col("cell"), col("vec_id").as("b"),
          col("embedding").as("e_b"), col("cdot").as("cdot_b"))
        keep.join(drop, "cell")
          .filter(col("cdot_a") < col("cdot_b") ||
            (col("cdot_a") === col("cdot_b") && col("a") < col("b")))
          .withColumn("cos", Vectors.dot(col("e_a"), col("e_b")))
          .filter(col("cos") >= 0.35)
          .groupBy(col("cell"), col("b").as("vec_id"))
          .agg(count(lit(1)).as("n_better"))
          .orderBy(col("cell"), col("vec_id"))
      },
      // The whole pipeline re-derived in SQL from the dumped index:
      // centroid-dot rank and pairwise cosine both use the bit-exact
      // in-order list_reduce fold the knn_brute oracle proved.
      Some(s"""WITH $cenCte,
        $asgCte,
        m AS (SELECT a.cell, a.vec_id, a.embedding,
            list_reduce(list_transform(range(1, len(a.embedding)+1),
              i -> a.embedding[i]*c.cvec[i]), (x,y) -> x+y) AS cdot
          FROM asg a JOIN cen c ON a.cell = c.cell)
        SELECT l.cell, r.vec_id, COUNT(*) AS n_better
        FROM m l JOIN m r ON l.cell = r.cell
          AND (l.cdot < r.cdot
            OR (l.cdot = r.cdot AND l.vec_id < r.vec_id))
        WHERE list_reduce(list_transform(range(1, len(l.embedding)+1),
            i -> l.embedding[i]*r.embedding[i]), (x,y) -> x+y) >= 0.35
        GROUP BY l.cell, r.vec_id ORDER BY l.cell, r.vec_id""")),

    Entry(
      "dedup_semantic_incremental",
      // Incremental SemDeDup — the ingest-side split of dedup_semantic,
      // mirroring dedup_incremental's history/probe contract: vectors
      // with vec_id % 10 == 0 arrive as the new batch and are checked
      // against the STANDING members (% 10 != 0) of their assigned
      // cell only. Assignment against fixed centroids is per-row, so a
      // new vector's cell is identical whether or not it was in
      // training (the refreshIndex property Round11Spec proves) — no
      // retrain on ingest, O(batch × cell-occupancy) work. Emits every
      // confirmed (new_id, dup_of, cos) pair, the shape a quarantine
      // queue consumes.
      (s, dir) => {
        val asg = assignedCached(s, dir)
        val hist = asg.filter(col("vec_id") % 10 =!= 0)
          .select(col("cell"), col("vec_id").as("dup_of"),
            col("embedding").as("e_h"))
        val probe = asg.filter(col("vec_id") % 10 === 0)
          .select(col("cell"), col("vec_id").as("new_id"),
            col("embedding").as("e_p"))
        probe.join(hist, "cell")
          .withColumn("cos", Vectors.dot(col("e_p"), col("e_h")))
          .filter(col("cos") >= 0.35)
          .select(col("new_id"), col("dup_of"), col("cos"))
          .orderBy(col("new_id"), col("dup_of"))
      },
      Some(semanticIncrementalSql)),

    Entry(
      "pq_recall_report",
      // PQ index-quality monitoring — knn_recall_report's twin for the
      // COMPRESSED index: recall@5 of exhaustive ADC retrieval (8-byte
      // codes, per-query lookup tables) against the exact float brute
      // force, per query. Quantization loss is the quantity a PQ
      // deployment must watch (it is recall-bound where IVF is
      // probe-bound): a code budget too small for the corpus shows up
      // here before it shows up in production relevance. Both sides
      // reuse the entries' own plans; the diff is a 50-row join and
      // hits/recall are small-integer arithmetic — hash-exact against
      // the oracle, which recomputes both retrievals in SQL (the
      // bit-identical folds knn_brute and knn_pq already prove). At
      // 100 TB this runs on a sampled query set at codebook-train
      // time, brute side being the expensive half.
      (s, dir) => {
        val emb = embeddings(s, dir)
        val (cen, codes) = pqIndex(s, dir, emb)
        val q = queryVecs(emb, col("vec_id") < 10)
        val brute = topkPerQuery(bruteScored(emb, q), "sim", 5)
          .select(col("qid"), col("vec_id"))
        val pq = pqSearch(cen, codes, q, 5)
          .select(col("qid"), col("vec_id"))
        recallAt5(q, brute, pq)
      },
      Some(s"""WITH ${normCte()},
        ${qCte("vec_id < 10")},
        ${bruteSimCte("bs")},
        ${top5IdsCte("br", "bs")},
        cb AS (SELECT m, code, cvec
          FROM read_parquet('$dumpSql/pq_codebooks/*.parquet')),
        ce AS (SELECT vec_id, mi - 1 AS m, codes[mi] AS code
          FROM read_parquet('$dumpSql/pq_codes/*.parquet')
          CROSS JOIN (SELECT unnest(range(1, 9)) AS mi) u),
        tab AS (SELECT q2.qid, cb.m, cb.code,
            list_reduce(list_transform(range(1, 9),
              i -> q2.qe[cb.m*8 + i] * cb.cvec[i]), (a,b) -> a+b) AS tdot
          FROM q q2 CROSS JOIN cb),
        sc AS (SELECT c.qid, c.vec_id,
            list_reduce(list(t.tdot ORDER BY t.m), (a,b) -> a+b)
              AS approx_dot
          FROM (SELECT q.qid, ce.vec_id, ce.m, ce.code
            FROM q CROSS JOIN ce WHERE ce.vec_id <> q.qid) c
          JOIN tab t ON t.qid = c.qid AND t.m = c.m AND t.code = c.code
          GROUP BY c.qid, c.vec_id HAVING COUNT(*) = 8),
        ${top5IdsCte("pr", "sc", "approx_dot")},
        hits AS (SELECT br.qid, COUNT(*) AS hits
          FROM br JOIN pr ON br.qid = pr.qid AND br.vec_id = pr.vec_id
          GROUP BY br.qid)
        SELECT q.qid, COALESCE(h.hits, 0) AS hits,
          CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS recall
        FROM q LEFT JOIN hits h ON q.qid = h.qid ORDER BY q.qid""")),

    Entry(
      "knn_hard_negatives",
      // Hard-negative mining — the contrastive-training data op (DPR,
      // Karpukhin et al. 2020 §4.2: negatives nearest the query are
      // the ones worth training against): per query, the top-5 most
      // cosine-similar vectors with a DIFFERENT label. Differs from
      // knn_filtered's static predicate — the filter here is PER-PAIR
      // (candidate label ≠ that query's label), composed into the
      // broadcast fan-out before ranking so each query ranks only its
      // own negative pool. Same scale shape as knn_brute: queries
      // broadcast, corpus never shuffles, TopKAgg bounds state at k;
      // a production miner swaps the brute scan for the IVF probe.
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
          .select(col("vec_id"),
            Vectors.normalized(col("embedding")).as("embedding"),
            col("label"))
        val q = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel"))
        val scored = bruteScored(emb, q, col("vec_id") =!= col("qid") &&
          col("label") =!= col("qlabel"))
        topkPerQuery(scored, "sim", 5)
          .orderBy(col("qid"), col("rank"))
      },
      // knn_brute's bit-exact SQL with the label cross-filter applied
      // before ranking.
      Some(bruteTop5Sql("vec_id < 10", normCols = "vec_id, label",
        qCols = "e AS qe, label AS qlabel",
        pred = " AND n.label <> q.qlabel"))),

    Entry(
      "emb_project",
      // Random-projection dimensionality reduction (Achlioptas'01 /
      // JL): 64-dim float embeddings down to 8 dims via a DETERMINISTIC
      // ±1 sign matrix — the cheap pre-clustering shrink every
      // embedding pipeline runs before k-means/IVF training at scale
      // (8× fewer bytes per vector into the iterative stage). The sign
      // s(i,j) is a pure integer hash (middle bit of the squared-key
      // Knuth multiply — parity-safe where a raw multiply's low bit is
      // not; max key² · C ≈ 7e14, no overflow), so the matrix never
      // materializes, reruns and engines agree, and the projection is
      // a PROJECTION: per-row expression, no shuffle, no UDF, fully
      // inside codegen. Doubles accumulate in index order on both
      // engines (the knn_brute left-fold contract) → bit-exact oracle.
      (s, dir) => {
        val proj = expr("""transform(sequence(0, 7), j ->
          aggregate(sequence(0, size(embedding) - 1), cast(0 as double),
            (acc, i) -> acc + cast(embedding[i] as double) *
              cast(1 - 2 * ((((cast(i as bigint) * 8 + j + 1)
                * (cast(i as bigint) * 8 + j + 1) * 2654435761)
                div 65536) % 2) as double)))""")
        t(s, dir, "embeddings")
          .select(col("vec_id") +: (0 until 8).map(j =>
            proj.getItem(j).as(s"p$j")): _*)
          .orderBy(col("vec_id"))
      },
      Some(s"""SELECT vec_id,
        ${(0 until 8).map(j =>
          s"""list_reduce(list_transform(range(0, len(embedding)),
            i -> CAST(embedding[i + 1] AS DOUBLE) *
              CAST(1 - 2 * ((((i * 8 + $j + 1) * (i * 8 + $j + 1)
                * 2654435761) // 65536) % 2) AS DOUBLE)),
            (a, b) -> a + b) AS p$j""").mkString(",\n        ")}
        FROM embeddings ORDER BY vec_id"""))
  )

  /** Oracle for the ingest-side SemDeDup probe, shared by the batch
    * entry (dedup_semantic_incremental) and its streaming twin
    * (stream_semantic_dedup): the history/probe split re-derived in
    * SQL over the dumped assignments with the bit-exact in-order dot
    * fold.
    */
  private[graft] def semanticIncrementalSql: String =
    s"""WITH $asgCte,
      hist AS (SELECT cell, vec_id AS dup_of, embedding AS e_h
        FROM asg WHERE vec_id % 10 <> 0),
      probe AS (SELECT cell, vec_id AS new_id, embedding AS e_p
        FROM asg WHERE vec_id % 10 = 0),
      v AS (SELECT p.new_id, h.dup_of,
          list_reduce(list_transform(range(1, len(p.e_p)+1),
            i -> p.e_p[i]*h.e_h[i]), (x,y) -> x+y) AS cos
        FROM probe p JOIN hist h ON p.cell = h.cell)
      SELECT new_id, dup_of, cos FROM v WHERE cos >= 0.35
      ORDER BY new_id, dup_of"""

  /** Ingest-side SemDeDup probe for a batch of (vec_id, embedding)
    * rows (unit-normalized): assign each to its cell against the
    * FIXED standing centroids (per-row, no retrain — identical to the
    * training-time assignment, the proven refreshIndex property) and
    * emit every (new_id, dup_of, cos ≥ τ) pair against the standing
    * %10≠0 members of that cell. Shared by the streaming twin
    * (stream_semantic_dedup) so drained-stream ≡ batch holds by
    * construction of the per-batch plan.
    */
  private[graft] def semanticProbe(s: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    val hist = assignedCached(s, dir).filter(col("vec_id") % 10 =!= 0)
      .select(col("cell"), col("vec_id").as("dup_of"),
        col("embedding").as("e_h"))
    val asg = withNearestCell(batch, col("embedding"), centroids(s, dir))
      .select(col("cell"), col("vec_id").as("new_id"),
        col("embedding").as("e_p"))
    asg.join(hist, "cell")
      .withColumn("cos", Vectors.dot(col("e_p"), col("e_h")))
      .filter(col("cos") >= 0.35)
      .select(col("new_id"), col("dup_of"), col("cos"))
  }

  /** The SemDeDup keep-rank relation: every indexed vector with its
    * cell and dot-to-centroid (the within-cell rank key). Shared by
    * the dedup_semantic entry and its spec's independent Scala replay.
    */
  private[graft] def semanticRank(s: SparkSession, dir: String): DataFrame =
    assignedCached(s, dir)
      .join(broadcast(centroids(s, dir)), "cell")
      .withColumn("cdot", Vectors.dot(col("embedding"), col("cvec")))
      .select(col("cell"), col("vec_id"), col("embedding"), col("cdot"))

  /** Number of PQ subspaces (64 dims / 8 = 8-dim sub-vectors). */
  private val PqM = 8
  /** Codebook size per subspace. */
  private val PqK = 16

  /** Train-or-reuse the PQ index for the session corpus (same caching
    * contract as the IVF centroids).
    */
  private def pqIndex(s: SparkSession, dir: String,
      emb: DataFrame): (DataFrame, DataFrame) =
    IndexCache.getOrBuild(s, dir, "pq")(trainPq(emb))

  /** Standing BASE PQ index for the incremental-refresh lifecycle
    * (knn_pq_refresh): codebooks + codes trained on the base corpus
    * only (vec_id % 7 != 3 — the same base/batch split as the IVF
    * refresh), cached per (session, corpus) like pqIndex.
    */
  private[graft] def pqRefreshBase(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    IndexCache.getOrBuild(s, dir, "pq_refresh")(
      trainPq(embeddings(s, dir).filter(col("vec_id") % 7 =!= 3)))

  /** Encode a NEW vector batch with the EXISTING codebooks — no
    * codebook retrain, O(batch) work (one broadcast of the ~128-row
    * codebook past the batch). Because nearest-codebook assignment is
    * per-row, union(baseCodes, encode(batch)) is IDENTICAL to a full
    * re-encode of base ∪ batch at the same codebooks — the property
    * Round11Spec asserts and the entry's dumped-index oracle consumes.
    */
  def encodeWithCodebooks(cen: DataFrame, batch: DataFrame): DataFrame =
    assign(subvecs(batch), cen)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code"))))
        .as("mc"))
      .select(col("vec_id"), expr("transform(mc, e -> e.code)").as("codes"))

  /** knn_pq_refresh's refreshed PQ index: the base codebooks and the
    * base codes unioned with the batch (vec_id % 7 == 3) encoded
    * against them — what the entry serves and its oracle reads.
    */
  private def pqRefreshed(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val (cen, codes) = pqRefreshBase(s, dir)
    val batch = embeddings(s, dir).filter(col("vec_id") % 7 === 3)
    (cen, codes.unionAll(encodeWithCodebooks(cen, batch)))
  }

  /** Per-(vec, subspace) rows: vec_id, m, sub (8-dim slice). */
  private def subvecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .select(col("vec_id"), col("m"),
        expr("transform(slice(embedding, m * 8 + 1, 8), " +
          "x -> CAST(x AS DOUBLE))").as("sub"))

  /** Train PQ codebooks (deterministic seeds + 2 Lloyd iterations, all
    * DataFrame ops like the IVF trainer) and encode the corpus.
    * Returns (codebooks: (m, code, cvec), codes: (vec_id, codes[8])).
    */
  def trainPq(emb: DataFrame): (DataFrame, DataFrame) = {
    val sv = subvecs(emb).persist()
    // seeds: the first PqK vectors' sub-vectors, code = seed ordinal
    var cen = sv.filter(col("vec_id") < PqK)
      .select(col("m"), col("vec_id").cast("int").as("code"),
        col("sub").as("cvec"))
    for (_ <- 1 to 2) {
      val assigned = assign(sv, cen)
      cen = assigned
        .select(col("m"), col("code"),
          posexplode(col("sub")).as(Seq("d", "x")))
        .groupBy(col("m"), col("code"), col("d"))
        .agg(avg(col("x")).as("cx"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("d"), col("cx")))).as("dm"))
        .select(col("m"), col("code"), expr("transform(dm, e -> e.cx)")
          .as("cvec"))
        // materialize per Lloyd round: the next round's broadcast must
        // not re-derive this round (nested-broadcast lineage replay);
        // 128 codebook rows: one partition, one materialization task
        .coalesce(1)
        .localCheckpoint(true)
    }
    cen = cen.persist()
    val codes = assign(sv, cen)
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code"))))
        .as("mc"))
      .select(col("vec_id"), expr("transform(mc, e -> e.code)").as("codes"))
      .persist()
    // materialize codes, then release the 8×-exploded training relation
    // — only (cen, codes) outlive training
    codes.count()
    sv.unpersist()
    (cen, codes)
  }

  /** Nearest codebook entry per (vec, subspace); ties → smaller code.
    * The codebook folds to ONE array row per subspace, so the 1:1
    * broadcast join adds no fanout and the argmin is one codegen'd
    * [[graft.functions.NearestEntry]] kernel call — no ×PqK row
    * explosion, no (vec_id, m) min-groupBy shuffle, and no interpreted
    * `aggregate`-fold (the sf10 lesson; see [[withNearestCell]]). Tie
    * semantics match min(struct(d2, code)): the array is code-sorted
    * and replacement needs a strictly smaller distance.
    */
  private def assign(sv: DataFrame, cen: DataFrame): DataFrame = {
    val cenArr = cen.groupBy(col("m"))
      .agg(array_sort(collect_list(struct(col("code"), col("cvec"))))
        .as("cb"))
    sv.join(broadcast(cenArr), "m")
      .withColumn("code", Vectors.nearestL2(col("sub"), col("cb")))
      .select(col("vec_id"), col("m"), col("code"), col("sub"))
  }

  /** ADC search: per-query lookup table tdot[m][code] = ⟨q_m, c_mc⟩
    * (so Σ_m tdot[m][code_m] = ⟨q, reconstruction⟩), then each corpus
    * vector is scored by 8 table lookups — the only float math per
    * (query, vector) pair is 8 adds. Scoring joins on the BROADCAST
    * table; one shuffle for the (qid, vec_id) sum.
    */
  /** Per-query ADC lookup table: tdot[qid][m][code] = ⟨q_m, c_mc⟩. */
  private def pqTable(cen: DataFrame, queries: DataFrame): DataFrame =
    subvecs(queries.select(col("qid").as("vec_id"),
        col("qvec").as("embedding")))
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
      .join(broadcast(cen), "m")
      .select(col("qid"), col("m"), col("code"),
        expr("aggregate(zip_with(qsub, cvec, (x, y) -> x * y), " +
          "0D, (acc, v) -> acc + v)").as("tdot"))

  def pqSearch(cen: DataFrame, codes: DataFrame, queries: DataFrame,
      k: Int): DataFrame = {
    val table = pqTable(cen, queries)
    // Σ_m folded in SUBSPACE ORDER (collect → sort by m → aggregate):
    // a bare SUM() adds the 8 doubles in shuffle-arrival order, which
    // is nondeterministic run-to-run for floats — the ordered fold is
    // reproducible and lets the DuckDB oracle replicate it bit-exactly.
    val scored = codes
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .join(broadcast(table), Seq("m", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("tdot")))).as("mt"))
      .filter(size(col("mt")) === PqM)
      .select(col("qid"), col("vec_id"),
        expr("aggregate(mt, 0D, (acc, e) -> acc + e.tdot)").as("approx_dot"))
    topkPerQuery(
      scored.filter(col("vec_id") =!= col("qid")),
      "approx_dot", k)
      .orderBy(col("qid"), col("rank"))
  }
}

/** Multimodal column plumbing (SURVEY.md §2.C `mm_meta`): media as an
  * opaque binary column plus typed metadata, batch-decoded inside
  * `mapPartitions` (the Scala analogue of `mapInPandas` batch UDFs).
  * The per-record kernels live behind the pluggable [[MediaCodec]]
  * seam (default [[StubMediaCodec]] — a clearly-marked deterministic
  * stub, since the real image/audio libraries are not in this
  * container; install a real codec via [[installCodec]]); the Spark
  * plumbing (schema, batch iterator shape, per-partition decode, no
  * driver involvement) is the real production topology either way.
  */
object MultimodalOps {
  import org.apache.spark.sql.Encoders

  case class MMIn(doc_id: Long, payload: Array[Byte], width: Int, height: Int)
  case class MMFeat(doc_id: Long, n_bytes: Long, checksum: Long,
      thumb_mean: Double)

  case class MMHash(doc_id: Long, sig: Long)
  case class MMResized(doc_id: Long, out_w: Int, out_h: Int,
      scale_x: Double, scale_y: Double, n_bytes: Long)
  case class MMFrame(doc_id: Long, frame_idx: Int, offset: Long,
      frame_checksum: Long)

  /** The installed [[MediaCodec]] (VERDICT r18 #8). Default is the
    * deterministic [[StubMediaCodec]] the oracle SQL re-derives; a
    * deployment with real codec libs installs its implementation once
    * at startup and every mm_* entry built AFTERWARDS routes through
    * it (the codec is captured into the task closure at plan build,
    * so an in-flight query never mixes codecs).
    */
  @volatile private var codecImpl: MediaCodec = StubMediaCodec

  /** Guards codec install/read so a SCOPED swap ([[withCodec]]) is
    * atomic w.r.t. every plan build: a concurrently-building mm_*
    * entry blocks on the read until the scope restores the previous
    * codec, so it can never capture a test codec into its closure
    * (ADVICE r19 — the seam test otherwise mutated process-global
    * state that a parallel suite's mm_* oracle would silently compute
    * against).
    */
  private[graft] val codecLock = new Object
  def installCodec(c: MediaCodec): Unit =
    codecLock.synchronized { codecImpl = c }
  def codec: MediaCodec = codecLock.synchronized(codecImpl)

  /** Run `f` with `c` installed, restoring the previous codec after —
    * the whole scope holds [[codecLock]], so plan builds elsewhere
    * serialize against it instead of racing the global.
    */
  private[graft] def withCodec[T](c: MediaCodec)(f: => T): T =
    codecLock.synchronized {
      val prev = codecImpl
      codecImpl = c
      try f finally codecImpl = prev
    }

  // batch adapters: capture the codec ONCE (serialized into the task
  // closure), keep the mapPartitions iterator shape — batched input,
  // no driver involvement, flatMap for the one-to-many frame case
  private def decodeBatch(c: MediaCodec)(it: Iterator[MMIn]): Iterator[MMFeat] =
    it.map(c.decode)
  private def phashBatch(c: MediaCodec)(it: Iterator[MMIn]): Iterator[MMHash] =
    it.map(c.phash)
  private def resizeBatch(c: MediaCodec)(it: Iterator[MMIn]): Iterator[MMResized] =
    it.map(c.resize)
  private def frameSampleBatch(c: MediaCodec)(it: Iterator[MMIn]): Iterator[MMFrame] =
    it.flatMap(c.frames)

  /** The phash LSH pairing topology (shared by mm_phash and
    * mm_phash_real — the real codec swaps signatures, never the
    * plumbing): 4×16-bit block-equality buckets (hamming ≤ 3 ⇒ some
    * block exact, by pigeonhole over the 64-bit sig), bucket
    * self-join, bit_count(xor) verify — one bucket shuffle, no n².
    *
    * r20: the self-join is hinted SHUFFLE_HASH so both sides carry an
    * IDENTICAL Exchange(hash(blk, bkey)) over the same sig subtree and
    * ReuseExchange computes it ONCE — under the default broadcast
    * plan the build side was a BroadcastExchange (no reuse possible)
    * and the whole upstream subtree (for mm_phash_real: PNG encode +
    * decode + pixel hash of every image, the entry's dominant cost)
    * executed TWICE, once per join side (guide §2.4 / §3.1; measured
    * on the before-plan: two MapPartitions codec chains, ops 1-8 and
    * 9-16 in plans/r20/mm_phash_real_before.txt).
    */
  private[graft] def phashPairs(sig: DataFrame): DataFrame = {
    val blocked = sig.select(col("doc_id"), col("sig"),
      posexplode(expr("transform(sequence(0, 3), " +
        "b -> (sig >> (b * 16)) & 65535)")).as(Seq("blk", "bkey")))
    val l = blocked.select(col("blk"), col("bkey"),
      col("doc_id").as("a"), col("sig").as("sig_a"))
    val r = blocked.select(col("blk"), col("bkey"),
      col("doc_id").as("b"), col("sig").as("sig_b"))
    l.hint("shuffle_hash").join(r.hint("shuffle_hash"), Seq("blk", "bkey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** SQL twin of [[phashPairs]] over a (doc_id, sig) CTE `s`: 4×16-bit
    * block buckets, bucket self-join, hamming ≤ 3 verify. */
  private val phashPairSql: String =
    """bk AS (SELECT doc_id, sig, blk,
            (sig >> CAST(blk*16 AS INT)) & 65535 AS bkey
          FROM (SELECT doc_id, sig, unnest(range(0, 4)) AS blk FROM s)),
        cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
            l.sig AS sa, r.sig AS sb
          FROM bk l JOIN bk r ON l.blk = r.blk AND l.bkey = r.bkey
            AND l.doc_id < r.doc_id)
        SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 3 ORDER BY a, b"""

  /** mm_phash_real's source: one REAL 32×32 PNG per document rendered
    * from its text bytes (row doc_id·2) plus the ±1-pixel near-dup
    * variant (doc_id·2+1) — see [[ImageGen]]. Executor-side encode in
    * the same mapPartitions batch shape the decode kernels use.
    */
  private[graft] def mmPngSource(s: SparkSession, dir: String)
      : Dataset[MMIn] =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      // CPU-heavy per-row stage (PNG encode here, decode downstream):
      // decouple parallelism from the parquet SPLIT count — a ~150 MB
      // documents file is 1-2 input splits, which would serialize the
      // codec work onto 1-2 cores (measured at sf10: the unrepartitioned
      // entry pegged 2 threads for 25+ min). One cheap shuffle of
      // (doc_id, text) buys full-width decode; at 100 TB the same rule
      // holds — partition count for a codec stage is sized to cores,
      // not to input bytes/128 MB.
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .as(Encoders.product[(Long, String)])
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          Iterator(
            MMIn(id * 2, ImageGen.renderPng(bytes, perturb = false), 32, 32),
            MMIn(id * 2 + 1, ImageGen.renderPng(bytes, perturb = true), 32, 32))
        }
      }(Encoders.product[MMIn])

  /** mm_phash_real's decoded pixel-hash signatures (doc_id, sig). */
  private def phashRealSig(s: SparkSession, dir: String): DataFrame =
    mmPngSource(s, dir)
      .mapPartitions(phashBatch(ImageIoCodec))(Encoders.product[MMHash])
      .toDF()

  /** mm_embed_knn's encoded unit vectors (doc_id, vec). */
  private def mmVecs(s: SparkSession, dir: String): DataFrame =
    mmSource(s, dir).as(Encoders.product[MMIn])
      .mapPartitions(embedBatch(codec))(Encoders.product[MMVec])
      .toDF()

  /** The oracle dumps of the multimodal entries: mm_phash_real's
    * signatures (the post-codec, pre-LSH relation) and mm_embed_knn's
    * encoded vectors (the wrapping-hash stub encoder is the one
    * inexpressible step; KnnSpec pins its determinism), so the oracles
    * re-run the pairing and the whole ANN in SQL.
    */
  def oracleDumps(s: SparkSession, dir: String): Unit = {
    val root = OracleDumps.root(s, dir)
    OracleDumps.write(phashRealSig(s, dir), s"$root/mm/phash_real_sig")
    OracleDumps.write(mmVecs(s, dir), s"$root/knn/mmvecs")
  }

  private def mmSource(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        (length(col("text")) % 1024).cast("int").as("width"),
        (crc32(col("text").cast("binary")) % 1024).cast("int").as("height"))

  val entries: Seq[Entry] = Seq(
    Entry(
      "mm_meta",
      (s, dir) =>
        mmSource(s, dir).as(Encoders.product[MMIn])
          .mapPartitions(decodeBatch(codec))(Encoders.product[MMFeat])
          .toDF()
          .orderBy(col("doc_id")),
      // the stub codec is deterministic byte arithmetic, so even this
      // is oracled: UTF-8 byte sums via a hex nibble-fold in SQL
      Some(s"""${OracleDumps.H2iMacro}
        ${OracleDumps.BytesOfMacro}
        ${OracleDumps.Crc32Macro}
        WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes,
            list_reduce(list_prepend(CAST(0 AS BIGINT), bytes_of(text)),
              (a, x) -> a + x) AS checksum
          FROM documents)
        SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, checksum,
          CASE WHEN n_bytes = 0 THEN 0.0
            ELSE CAST(checksum AS DOUBLE) / n_bytes END AS thumb_mean
        FROM b ORDER BY doc_id""")),

    Entry(
      "mm_resize",
      // stub resize: real geometry/scale math, per-partition batches
      (s, dir) =>
        mmSource(s, dir).as(Encoders.product[MMIn])
          .mapPartitions(resizeBatch(codec))(Encoders.product[MMResized])
          .toDF()
          .orderBy(col("doc_id")),
      // oracled incl. the crc32-derived height: zlib CRC32 as an
      // inline 256-entry table fold, scale doubles in the same
      // left-assoc multiply order, toLong = trunc
      Some(s"""${OracleDumps.H2iMacro}
        ${OracleDumps.BytesOfMacro}
        ${OracleDumps.Crc32Macro}
        WITH src AS (SELECT doc_id, octet_length(encode(text)) AS nb,
            len(text) % 1024 AS width, graft_crc32(text) % 1024 AS height
          FROM documents),
        sc AS (SELECT doc_id, nb,
            CASE WHEN width = 0 THEN 1.0 ELSE 256.0 / width END AS scale_x,
            CASE WHEN height = 0 THEN 1.0 ELSE 256.0 / height END AS scale_y
          FROM src)
        SELECT doc_id, CAST(256 AS INT) AS out_w, CAST(256 AS INT) AS out_h,
          scale_x, scale_y,
          GREATEST(1, CAST(trunc((nb * scale_x) * scale_y) AS BIGINT))
            AS n_bytes
        FROM sc ORDER BY doc_id""")),

    Entry(
      "mm_framesample",
      // stub frame sampling: one-to-many (flatMap) batch decode shape
      (s, dir) =>
        mmSource(s, dir).as(Encoders.product[MMIn])
          .mapPartitions(frameSampleBatch(codec))(Encoders.product[MMFrame])
          .toDF()
          .orderBy(col("doc_id"), col("frame_idx")),
      // every-4th-frame stride checksums re-derived over the same hex
      Some(s"""${OracleDumps.H2iMacro}
        ${OracleDumps.BytesOfMacro}
        ${OracleDumps.Crc32Macro}
        WITH src AS (SELECT doc_id, octet_length(encode(text)) AS nb,
            hex(encode(text)) AS h
          FROM documents),
        fr AS (SELECT doc_id, h, nb,
            unnest(range(0, GREATEST(nb // 32, 1), 4)) AS f
          FROM src)
        SELECT doc_id, CAST(f AS INT) AS frame_idx,
          CAST(f * 32 AS BIGINT) AS offset,
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(CAST(f*32 AS INT),
              CAST(LEAST(f*32+32, nb) AS INT)),
              i -> h2i(h, 2*i+1, 2))), (a, x) -> a + x) AS frame_checksum
        FROM fr ORDER BY doc_id, frame_idx""")),

    Entry(
      "mm_phash",
      // Perceptual-hash near-dup detection for media payloads — the
      // image-dedup stage a multimodal pipeline runs where text gets
      // MinHash (near-identical images differ in a few phash bits the
      // way near-dup docs differ in a few shingles). The hash is
      // aHash's structure over the payload (see phashBatch — a real
      // codec swaps byte blocks for decoded DCT coefficients; the
      // mapPartitions batch plumbing and everything downstream are
      // the production shape). Pairing is dedup_simhash's topology:
      // 4×16-bit block-equality buckets (hamming ≤ 3 ⇒ some block
      // exact, by pigeonhole over the 64-bit sig), bucket self-join,
      // bit_count(xor) verify — one bucket shuffle, no n²; the 65536-
      // value key space keeps bucket occupancy (and with it the join
      // fan-out) sub-quadratic 256× further than the 8-bit keys it
      // replaces. Bit rule is exact cross-multiplied integer compare,
      // so the whole pipeline is SQL-oracled from raw bytes.
      (s, dir) => {
        val sig = mmSource(s, dir).as(Encoders.product[MMIn])
          .mapPartitions(phashBatch(codec))(Encoders.product[MMHash])
          .toDF()
        phashPairs(sig).orderBy(col("a"), col("b"))
      },
      Some(s"""${OracleDumps.H2iMacro}
        ${OracleDumps.BytesOfMacro}
        WITH b AS (SELECT doc_id, bytes_of(text) AS by,
            CAST(octet_length(encode(text)) AS BIGINT) AS nb
          FROM documents),
        t AS (SELECT doc_id, by, nb, GREATEST(nb // 64, 1) AS stride,
            list_reduce(list_prepend(CAST(0 AS BIGINT), by),
              (a, x) -> a + x) AS tot
          FROM b),
        s AS (SELECT doc_id,
            list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(range(0, 64), blk ->
                CASE WHEN blk*stride < nb AND
                  list_reduce(list_prepend(CAST(0 AS BIGINT),
                    list_slice(by, CAST(blk*stride+1 AS INT),
                      CAST(LEAST(blk*stride+stride, nb) AS INT))),
                    (a, x) -> a + x) * nb
                  > tot * (LEAST(blk*stride+stride, nb) - blk*stride)
                THEN CASE WHEN blk = 63
                  THEN CAST('-9223372036854775808' AS BIGINT)
                  ELSE (CAST(1 AS BIGINT) << CAST(blk AS INT)) END
                ELSE CAST(0 AS BIGINT) END)),
              (a, x) -> a + x) AS sig
          FROM t),
        $phashPairSql""")),

    Entry(
      "mm_phash_real",
      // The REAL-DECODE twin of mm_phash (VERDICT r19 #1): genuine
      // PNGs (one per document + its ±1-pixel near-dup variant,
      // ImageGen), decoded by ImageIoCodec — JDK ImageIO, real
      // pixels — hashed by block-mean-over-decoded-pixels, and paired
      // by the UNCHANGED oracled LSH plumbing (phashPairs: 4×16-bit
      // block buckets → self-join → bit_count verify). Every variant
      // pair (2·id, 2·id+1) must surface at small hamming; distinct
      // documents' images are LCG-scrambled and stay far (Round20Spec
      // pins both plus exact-dup cross pairs at fixture scale). The
      // per-record work here is REAL codec work — PNG encode at the
      // source, PNG decode + pixel walk in the hash — so this entry
      // doubles as the decode-throughput measurement (SURVEY §22).
      // Oracled from the dumped signature table (VERDICT r20 #4, the
      // q71_fuzzy_capped pattern): the decoded pixel-hash signatures —
      // the post-codec, pre-LSH (doc_id, sig) relation — are dumped
      // by [[oracleDumps]], and DuckDB re-derives the bucket pairs and
      // hamming verify from them in SQL (the same bk/cand/verify the
      // mm_phash oracle runs). The DECODE itself stays JVM ground
      // truth (ImageIO pixels are not SQL-expressible) — Round20Spec's
      // golden-PNG fixtures pin it; determinism comes from PNG
      // losslessness + integer-exact kernels, and the ImageIoCodec is
      // passed EXPLICITLY (not via the installable global), so the
      // entry's output never depends on process state. The sig table
      // is entry-scratch persisted: codec runs ONCE for the pairing's
      // two sides.
      (s, dir) =>
        phashPairs(Scratch.reg(phashRealSig(s, dir)))
          .orderBy(col("a"), col("b")),
      Some(s"""WITH s AS (SELECT doc_id, sig FROM read_parquet(
            '${OracleDumps.SqlRoot}/mm/phash_real_sig/*.parquet')),
        $phashPairSql""")),

    Entry(
      "mm_embed_knn",
      // the full multimodal retrieval composition: binary payload →
      // batch STUB encoder (real encoders run the same mapPartitions
      // batch shape) → unit vectors → broadcast-query ANN top-3. One
      // corpus scan, no corpus shuffle; the encode step pipelines into
      // the similarity projection.
      (s, dir) => {
        val vecs = Scratch.reg(mmVecs(s, dir))
        val q = vecs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("qid"), col("vec").as("qvec"))
        val w = Window.partitionBy(col("qid"))
          .orderBy(col("sim").desc, col("doc_id"))
        vecs.crossJoin(broadcast(q))
          .filter(col("doc_id") =!= col("qid"))
          .withColumn("sim", Vectors.dot(col("vec"), col("qvec")))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("doc_id"), col("sim"))
          .orderBy(col("qid"), col("rank"))
      },
      Some(s"""WITH v AS (SELECT doc_id, vec
          FROM read_parquet('${OracleDumps.SqlRoot}/knn/mmvecs/*.parquet')),
        q AS (SELECT doc_id AS qid, vec AS qvec FROM v
          WHERE doc_id < 5),
        sc AS (SELECT q.qid, v.doc_id,
            list_reduce(list_transform(range(1, len(v.vec)+1),
              i -> v.vec[i]*q.qvec[i]), (a,b) -> a+b) AS sim
          FROM v CROSS JOIN q WHERE v.doc_id <> q.qid),
        r AS (SELECT qid, CAST(row_number() OVER (PARTITION BY qid
            ORDER BY sim DESC, doc_id) AS INT) AS rank, doc_id, sim
          FROM sc)
        SELECT qid, rank, doc_id, sim FROM r WHERE rank <= 3
        ORDER BY qid, rank"""))
  )

  case class MMVec(doc_id: Long, vec: Array[Double])

  private def embedBatch(c: MediaCodec)(it: Iterator[MMIn]): Iterator[MMVec] =
    it.map(c.embed)
}
