package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.C):
  * token counting, quality scoring, language ID, winnowing fingerprints.
  * Everything is built from codegen'd string/array functions and
  * higher-order lambdas — per-row, embarrassingly parallel, no shuffle
  * until the (optional) final ordering, so the same plan runs unchanged
  * over 100 TB of documents.
  */
object TextOps {

  private val StopWords = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Non-empty whitespace tokens. */
  private[graft] def words(c: Column): Column =
    filter(split(c, " "), x => length(x) > lit(0))

  /** Lowercased host of a URL, `www.` and any port stripped. */
  def urlHost(url: Column): Column = {
    val hostport = regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)
    regexp_replace(
      lower(regexp_replace(hostport, ":[0-9]+$", "")), "^www\\.", "")
  }

  /** Canonical form of a URL (the web-corpus dedup key — shared by
    * the `text_url_canon` entry and UrlCanonSpec): scheme and host
    * lowercased, `www.` stripped, default ports dropped (https:443 /
    * http:80; others kept), ONE level of `x/../` resolved, `utm_*`
    * params and the fragment removed, an emptied query's `?` dropped,
    * path case preserved. Extraction-and-rebuild — no blanket
    * lowercase, no regex group refs in replacements (Spark `$1` vs
    * DuckDB `\1` differ).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z]+)://", 1))
    val hostport = regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)
    val host = urlHost(url)
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val defaultPort = (scheme === "https" && port === "443") ||
      (scheme === "http" && port === "80")
    val path = regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1),
      "[^/]+/\\.\\./", "")
    val q0 = regexp_extract(url, "\\?([^#]*)", 1)
    // anchor the strip to a parameter BOUNDARY (start or '&'): a param
    // whose name merely contains "utm_" (e.g. myutm_x=1) must survive
    val q2 = regexp_replace(
      regexp_replace(q0, "(^|&)utm_[^&]*", ""), "^&", "")
    concat(scheme, lit("://"), host,
      when(defaultPort || port === "", lit(""))
        .otherwise(concat(lit(":"), port)),
      path,
      when(q2 === "", lit("")).otherwise(concat(lit("?"), q2)))
  }

  /** SQL twin of [[canonicalizeUrl]]'s parts over a CTE `u` holding
    * `url`: `p` splits scheme / hostport / path (dot-segments dropped)
    * / raw query `q0` and carries `carry`; `c` derives host, port and
    * the utm-stripped query `q2` and carries `cCarry` of p's columns.
    * Plain strings: the regexes hold backslashes.
    */
  def urlCanonCtes(carry: String, cCarry: String): String =
    "p AS (SELECT " + carry + """,
          lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
          regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1) AS hostport,
          regexp_replace(
            regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),
            '[^/]+/\.\./', '') AS path,
          regexp_extract(url, '\?([^#]*)', 1) AS q0 FROM u),
        c AS (SELECT """ + cCarry + """,
          regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
            '^www\.', '') AS host,
          regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
          regexp_replace(regexp_replace(q0, '(^|&)utm_[^&]*', '', 'g'),
            '^&', '') AS q2 FROM p)"""

  /** The canonical URL over [[urlCanonCtes]]' `c` columns. */
  val CanonUrlSql: String =
    """scheme || '://' || host
            || CASE WHEN (scheme = 'https' AND port = '443')
                 OR (scheme = 'http' AND port = '80') OR port = ''
              THEN '' ELSE ':' || port END
            || path
            || CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END"""

  // ---- bigram language model (shared by text_lm_score and the
  // streaming stream_lm_score — the same model and scoring expressions
  // run over a batch frame or a stream-static join) ----

  /** (doc_id, w1, w2) bigrams with a BOS context for the first word —
    * built inside the row so the exploded rows never carry the whole
    * token array. Stateless: works on batch and streaming frames
    * alike.
    *
    * The context array is built ONCE per row (`<s>` ++ all-but-last)
    * and zipped against the tokens — deliberately NO lambda that
    * references the token array: CollapseProject counts only the
    * references OUTSIDE lambda bodies when deciding whether an alias
    * is safe to inline, so a `transform(w, (x, i) ->
    * element_at(w, i))` form gets `w`'s defining `split` inlined and
    * re-tokenizes the document once per ELEMENT — O(tokens²) per doc,
    * measured 24 s -> 1.4 s at the sf1 decade (round 14; same
    * pathology class as the r13 UnitNorm fix).
    */
  private[graft] def lmBigrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), words(lower(col("text"))).as("w"))
      .filter(size(col("w")) > 0)
      .withColumn("ctx", concat(array(lit("<s>")),
        slice(col("w"), lit(1), greatest(size(col("w")) - 1, lit(0)))))
      .withColumn("bi", arrays_zip(col("ctx"), col("w")))
      .select(col("doc_id"), posexplode(col("bi")).as(Seq("pos", "b")))
      .select(col("doc_id"), col("b.ctx").as("w1"), col("b.w").as("w2"))

  // one training run per (session, corpus), like the IVF/PQ index
  // caches: the LM is an offline-trained artifact every scoring call
  // (batch entry, stream entry, bench reps) shares. Lives in
  // graft.IndexCache (weak session keys + size accounting + optional
  // LRU corpus eviction — VERDICT r17 #5).

  /** Add-0.5-smoothed bigram model trained on the batch documents
    * table. `lnp_q` = round(ln p · 1e12) as a LONG: scoring then sums
    * exact integers — order-independent with ordinary map-side-combined
    * hash aggregation (no per-doc ordered float fold), and the ln ulp
    * hazard disappears entirely because BOTH engines read the same
    * dumped integers (the dump is the oracle's model too, like bm25's
    * idf). Persisted once per (session, corpus).
    */
  private[graft] def lmModel(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "lm") {
      val bi = lmBigrams(
        t(s, dir, "documents").select(col("doc_id"), col("text")))
      val c2 = bi.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      val vocab = bi.select(countDistinct(col("w2"))).head().getLong(0)
      c2.join(c1, "w1")
        .withColumn("lnp_q",
          round(log((col("c2") + 0.5) / (col("c1") + lit(0.5) * vocab))
            * lit(1e12)).cast("long"))
        .select(col("w1"), col("w2"), col("lnp_q"))
        .persist()
    }

  /** Mean negative log-likelihood per doc (quantized at 1e-12
    * nats/bigram by the model — see lmModel): equi-join on the (w1,w2)
    * key (model never force-broadcast — at 100 TB it outgrows the
    * driver; AQE may still broadcast while genuinely small), then ONE
    * map-side-combined doc_id agg over exact integer lnp_q. The
    * long→double conversion and divisions are IEEE-identical in both
    * engines.
    */
  private[graft] def lmScore(bi: DataFrame, model: DataFrame): DataFrame =
    bi.join(model, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("lnp_q")).as("s"), count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("n_bigrams"),
        (-(col("s").cast("double") / lit(1e12)) / col("n_bigrams"))
          .as("nll"))

  /** The DuckDB twin over the dumped model — shared verbatim by the
    * batch and streaming entries (stream result == batch result after
    * the bounded drain).
    */
  private[graft] val lmOracleSql: String = lmOracleSqlFor("TRUE")

  /** Same twin with a document predicate — the serve-only batch entry
    * scores one incoming shard against the standing model.
    */
  private[graft] def lmOracleSqlFor(docPred: String): String =
    s"""WITH dd AS (SELECT doc_id,
        list_filter(string_split(lower(text), ' '),
          x -> len(x) > 0) AS w
      FROM documents
      WHERE ($docPred) AND len(list_filter(string_split(lower(text), ' '),
        x -> len(x) > 0)) > 0),
    bi AS (SELECT doc_id,
        CASE WHEN i = 1 THEN '<s>' ELSE w[i - 1] END AS w1,
        w[i] AS w2
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
        FROM dd)),
    m AS (SELECT w1, w2, lnp_q FROM read_parquet(
      '${OracleDumps.SqlRoot}/text/lm_bigrams/*.parquet')),
    j AS (SELECT bi.doc_id, m.lnp_q
      FROM bi JOIN m USING (w1, w2)),
    sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        -(CAST(CAST(SUM(lnp_q) AS BIGINT) AS DOUBLE) / 1e12)
          / COUNT(*) AS nll
      FROM j GROUP BY doc_id)
    SELECT doc_id, n_bigrams, nll FROM sc ORDER BY doc_id"""

  // ---- hashed-feature linear quality classifier (text_classify) ----

  /** Feature space: tokens hash into this many buckets (fasttext's
    * hashing trick — the model is a fixed-size vector no matter the
    * vocabulary, which is what lets 100 TB corpora share one tiny
    * broadcast model).
    */
  private[graft] val ClsBuckets = 4096

  /** fasttext-style linear quality model, trained deterministically
    * from corpus statistics (no RNG, no SGD): pseudo-labels come from
    * the rule gate (≥20 words AND stopword ratio ≥ 1/20 — the
    * bootstrap a real pipeline seeds a learned filter with), and each
    * hash bucket's weight is the add-0.5-smoothed naive-Bayes log-odds
    * pos/neg ratio, quantized to round(·1e9) LONGs so scoring is an
    * exact integer sum (order-free, like lmModel's lnp_q). The
    * ClsBuckets-sized weight vector is a bounded driver artifact
    * (32 KB — the documented exception to no-collect, same class as
    * the vocab/threshold head() pulls); the token-level (token, wq)
    * view is dumped for the oracle, which re-derives tokenization and
    * the per-doc sum but never the hash or the training (xxhash64 has
    * no DuckDB twin — the dump IS the model contract, like bm25's idf).
    * Cached per (session, corpus) like the IVF/LM artifacts.
    */
  private[graft] def classifyWeights(s: SparkSession, dir: String): Array[Long] =
    IndexCache.getOrBuild(s, dir, "cls") {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), words(lower(col("text"))).as("w"))
        .filter(size(col("w")) >= 1)
        .withColumn("y",
          (size(col("w")) >= 20 &&
            size(filter(col("w"), x => x.isInCollection(StopWords))) * 20
              >= size(col("w"))).cast("long"))
        .select(col("y"), explode(col("w")).as("token"))
        .withColumn("b",
          pmod(xxhash64(col("token")), lit(ClsBuckets.toLong)).cast("int"))
      // two map-side-combined count shuffles over bucket TYPES (≤4096
      // rows out) — training cost is one corpus scan regardless of size
      val agg = toks.groupBy(col("b"))
        .agg(sum(col("y")).as("pos"),
          sum(lit(1L) - col("y")).as("neg"))
        .collect()
      val posT = agg.map(_.getAs[Long]("pos")).sum.toDouble
      val negT = agg.map(_.getAs[Long]("neg")).sum.toDouble
      def lnq(c: Double, tot: Double): Double =
        math.log((c + 0.5) / (tot + 0.5 * ClsBuckets))
      val w = Array.fill(ClsBuckets)(
        math.round((lnq(0, posT) - lnq(0, negT)) * 1e9))
      agg.foreach { r =>
        w(r.getAs[Int]("b")) = math.round(
          (lnq(r.getAs[Long]("pos").toDouble, posT)
            - lnq(r.getAs[Long]("neg").toDouble, negT)) * 1e9)
      }
      w
    }

  /** The classifier's oracle contract: per-TOKEN quantized weights
    * (token → its bucket's weight), so DuckDB joins tokens to weights
    * without ever computing xxhash64.
    */
  private def classifyVocab(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wDf = classifyWeights(s, dir).toSeq.zipWithIndex
      .map { case (wq, b) => (b, wq) }.toDF("b", "wq")
    t(s, dir, "documents")
      .select(explode(words(lower(col("text")))).as("token"))
      .distinct()
      .withColumn("b",
        pmod(xxhash64(col("token")), lit(ClsBuckets.toLong)).cast("int"))
      .join(broadcast(wDf), "b")
      .select(col("token"), col("wq"))
  }

  /** Learned-filter inference as a PURE PROJECTION: the weight vector
    * rides into the plan as a 4096-long literal array (the broadcast-
    * model serving shape — every executor scores locally), each token
    * is hashed and looked up inside a higher-order transform, and the
    * doc score is an in-row integer fold. No join, no shuffle, no
    * state — Round11Spec pins zero Exchanges in this plan.
    */
  private[graft] def textClassify(s: SparkSession, dir: String): DataFrame =
    classifyProjection(t(s, dir, "documents"), classifyWeights(s, dir))

  /** The classifier's per-doc integer score over the dumped per-token
    * weights: `sc` = (doc_id, n_tok, score_q). Shared by every oracle
    * of a classify-scored entry.
    */
  private[graft] val classifyScoreCtes: String =
    s"""v AS (SELECT token, wq FROM read_parquet(
            '${OracleDumps.SqlRoot}/text/classify_vocab/*.parquet')),
          dd AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS w
            FROM documents),
          tok AS (SELECT doc_id, unnest(w) AS token
            FROM dd WHERE len(w) >= 1),
          sc AS (SELECT doc_id, COUNT(*) AS n_tok,
              CAST(SUM(v.wq) AS BIGINT) AS score_q
            FROM tok JOIN v USING (token) GROUP BY doc_id)"""

  /** Classifier oracle over the dumped per-token weights — shared by
    * text_classify and stream_classify (drained stream == batch for a
    * stateless projection, so the SAME SQL gates both).
    */
  private[graft] val classifyOracleSql: String =
    s"""WITH $classifyScoreCtes
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, score_q,
          CAST(score_q AS DOUBLE) / 1e9 / n_tok AS score,
          score_q > 0 AS pred_hq
        FROM sc ORDER BY doc_id"""

  /** The classifier projection over an arbitrary (doc_id, text) frame
    * — shared by the batch entry and stream_classify (the same plan
    * applied to a stream is what makes batch ≡ stream trivially true
    * for a stateless scorer).
    */
  private[graft] def classifyProjection(docs: DataFrame, w: Array[Long])
      : DataFrame = {
    docs
      .select(col("doc_id"), words(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= 1)
      .withColumn("n_tok", size(col("w")).cast("long"))
      .withColumn("score_q", aggregate(
        transform(col("w"), tkn => element_at(typedLit(w.toSeq),
          (pmod(xxhash64(tkn), lit(ClsBuckets.toLong)) + 1).cast("int"))),
        lit(0L), (acc, x) => acc + x))
      .withColumn("score",
        col("score_q").cast("double") / lit(1e9) / col("n_tok"))
      .withColumn("pred_hq", col("score_q") > 0)
      .select(col("doc_id"), col("n_tok"), col("score_q"),
        col("score"), col("pred_hq"))
  }

  /** Recommended `spark.graft.boiler.cmsMaxPairs` value when enabling
    * the CMS prefilter. A CMS est-df ≥ 3 prefilter can only
    * discriminate df < 3 from df ≥ 3 when its width is ~the number of
    * distinct (doc, gram) pairs (noise per counter ≈ pairs/width must
    * stay ≲ 1 — an absolute threshold of 3 is NOT a classic
    * heavy-hitter cut, which is relative to N). 2^21 pairs → width
    * 2^22 × depth 4 × 8 B = 128 MB of long counters at the limit, the
    * broadcast ceiling we accept; beyond it the sketch either stops
    * filtering (too narrow) or stops broadcasting (too wide), so
    * [[boilerNgrams]] falls back to the partitioned exact
    * aggregation, whose hash state is spillable and distributed
    * across executors — the honest 100 TB path for an
    * absolute-threshold df cut.
    */
  private[graft] val BoilerCmsMaxPairs = 1L << 21

  /** text_boiler_ngrams plan (shared with Round15Spec, which forces
    * both CMS settings and asserts identical output).
    *
    * Plan shape, r15 (in-row dedup + df≥3 head-set join + optional CMS
    * prefilter; the pre-r15 form shuffled every gram OCCURRENCE twice —
    * once for the (doc, gram) distinct, once for the full-df-table
    * equi-join):
    *  - df aggregation input is deduped IN-ROW (`array_distinct` per
    *    document before the explode), so the exact df count needs no
    *    distinct shuffle and its map-side partial agg sees one row per
    *    (doc, gram type);
    *  - `n_grams` is `size(grams)` per document — a pure projection,
    *    no join, no shuffle;
    *  - only the df ≥ 3 HEAD SET of grams (the boilerplate types —
    *    0.3-1.2% of types on singleton-dominated real corpora, though
    *    ~99% on the head-heavy synthetic gate corpus) joins back
    *    against occurrences, and that join is left to AQE: it
    *    broadcasts when the head set fits (bench scales) and degrades
    *    to a partitioned equi-join when it doesn't (100 TB) — never a
    *    hand-forced broadcast of an unbounded table;
    *  - CMS prefilter (q43's kernel: estimate ≥ truth, so est < 3
    *    provably implies df < 3 — one-sided, no false negatives):
    *    opt-in via `spark.graft.boiler.cmsMaxPairs`
    *    (= [[BoilerCmsMaxPairs]] recommended). When enabled and the
    *    distinct-pair count allows a discriminating width, candidate
    *    grams are CMS-filtered before the exact count, bounding the
    *    exact agg's hash state to CMS-heavy types. The pair count that
    *    sizes/gates the sketch is measured exactly by a one-scan
    *    no-shuffle aggregate (itself gated behind a column-pruned
    *    sum(n_chars) proxy so huge corpora never pay a tokenize pass
    *    just to learn "too big"), not guessed.
    *
    * Measured, not assumed:
    *  - round 14: an xxhash64 gram key was A/B'd at the sf10 decade
    *    and LOST (60.7 s strings vs 93.8 s hashed, min-of-3 solo) —
    *    the gram relation feeds two consumers uncached, so hashing
    *    re-pays 27 M string hashes per consumer while this profile's
    *    shuffles weren't byte-bound. corpus_overlap (single distinct +
    *    self-join profile) is the shape where the hash key wins.
    *  - round 15 restructure (solo min-of-3): sf0.1 1.671 → 0.305 s,
    *    sf1 12.7 → 0.66 s, sf10 63.2 → 3.98 s (vs in-suite r14
    *    baselines; decade factor now sub-linear because the only
    *    remaining occurrence-wide work is scan + broadcast-join +
    *    partial agg).
    *  - round 15 CMS A/B at sf0.1 (solo min-of-3): 1.586 s enabled vs
    *    0.305 s disabled — REJECTED as default. The gate corpus is
    *    head-heavy (98.8 % of gram types have df ≥ 3, measured), so
    *    the sketch filters < 2 % of types while paying a sizing scan,
    *    a sketch build and a per-type probe. On singleton-dominated
    *    real web text (typically ≳ half of gram types are hapax) the
    *    same pass cuts the exact-agg state several-fold — enable it
    *    there; Round15Spec keeps both settings bit-identical forever.
    */
  private[graft] def boilerNgrams(s: SparkSession, dir: String,
      forceCms: Option[Boolean] = None): DataFrame = {
    // Gram build = three shifted slices zipped, concat per ELEMENT
    // (the lmBigrams trick): the lambda touches only its own zip
    // element, never `w`. Both halves of that matter here, because
    // InferFiltersFromGenerate clones this expression into
    // IsNotNull/size>0 predicates that predicate pushdown rewrites in
    // terms of the raw `split(lower(text))` and FilterExec evaluates
    // BEFORE the size>=3 row guard:
    //  - a lambda that referenced `w` (e.g. slice(w, i, 3) over
    //    sequence(1, size-2)) gets the split substituted INSIDE the
    //    lambda body — re-tokenizing the doc once per gram, the exact
    //    O(tokens²) CollapseProject pathology PlanAuditSpec guards
    //    (it caught this form in CI);
    //  - and the expression must be TOTAL: sequence(1, size-2) goes
    //    descending for size < 3 and feeds slice a 0 start — a
    //    runtime error on any <3-word doc once the inferred predicate
    //    runs ahead of the guard. greatest(n3, 0) + slice's
    //    empty-beyond-end semantics make every piece safe unguarded.
    val n3 = greatest(size(col("w")) - 2, lit(0))
    val docGrams = t(s, dir, "documents")
      .select(col("doc_id"), words(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), arrays_zip(
        slice(col("w"), lit(1), n3).as("a"),
        slice(col("w"), lit(2), n3).as("b"),
        slice(col("w"), lit(3), n3).as("c")).as("z"))
      .select(col("doc_id"),
        transform(col("z"), e => concat_ws(" ", e.getField("a"),
          e.getField("b"), e.getField("c"))).as("g"))
    // one row per (doc, gram TYPE) with no shuffle: the dedup happens
    // inside the row
    val types = docGrams.select(col("doc_id"),
      explode(array_distinct(col("g"))).as("gram"))
    // exact distinct-pair count in one scan, no shuffle; lazy so it is
    // only ever paid on corpora the cheap proxy below says are small
    lazy val nPairs = math.max(1L, docGrams
      .agg(coalesce(sum(size(array_distinct(col("g")))), lit(0L)))
      .head().getLong(0))
    // deployment knob, default DISABLED on measured evidence (see the
    // method scaladoc's A/B): set to [[BoilerCmsMaxPairs]] to enable
    // on singleton-dominated corpora; corpora whose distinct-pair
    // count exceeds the value skip the sketch regardless
    // malformed conf value = knob disabled (exact path), not a failed
    // entry — an operator must not crash on a typo'd tuning setting
    // (ADVICE r15)
    val maxPairs = s.conf.getOption("spark.graft.boiler.cmsMaxPairs")
      .flatMap(v => scala.util.Try(v.toLong).toOption).getOrElse(0L)
    val useCms = forceCms.getOrElse {
      // cheap gate first: a column-pruned sum(n_chars) scan bounds the
      // pair count within a small factor (pairs <= grams < words ~
      // chars/6) WITHOUT tokenizing — so a 100 TB corpus decides
      // "too big for a discriminating sketch" from column stats, and
      // only corpora inside the proxy pay the exact tokenize-and-count
      // sizing scan. A proxy miss is an optimization miss, never a
      // correctness risk (both CMS settings are exact; Round15Spec).
      maxPairs > 0 && {
        val charBound = t(s, dir, "documents")
          .agg(coalesce(sum(col("n_chars")), lit(0L))).head().getLong(0) / 6
        charBound <= 4 * maxPairs && nPairs <= maxPairs
      }
    }
    val candidates = if (!useCms) types else {
      // width = 2×pairs (noise λ ≈ 0.5/counter), depth 4: a singleton
      // gram survives all four rows with P ≈ 7e-5 — the filter is
      // sharp exactly because the width tracks the measured input
      val eps = 2.0 / math.max(1 << 17, 2L * nPairs).toDouble
      val cms = types.stat.countMinSketch(col("gram"), eps, 0.9375, 42)
      // native probe (graft.functions.Sketches) — codegen'd, no UDF
      // row boundary; probes the gram's UTF-8 bytes, byte-identical
      // to the String path the UDF form used
      types.filter(
        graft.functions.Sketches.cmsEstimate(cms, col("gram")) >= lit(3L))
    }
    // exact df over (CMS-candidate) types; the head set is what joins
    val boiler = candidates.groupBy(col("gram"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 3)
      .select(col("gram"))
    val perDocBoiler = docGrams
      .select(col("doc_id"), explode(col("g")).as("gram"))
      .join(boiler, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_boiler"))
    // n_grams = size(w) - 2 directly: the total needs the token COUNT,
    // not the built gram strings — this branch never pays concat_ws
    t(s, dir, "documents")
      .select(col("doc_id"), words(lower(col("text"))).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        (size(col("w")) - 2).cast("long").as("n_grams"))
      .join(perDocBoiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac",
        col("n_boiler").cast("double") / col("n_grams").cast("double"))
      .withColumn("keep", col("boiler_frac") <= 0.5)
      .select(col("doc_id"), col("n_grams"), col("n_boiler"),
        col("boiler_frac"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** text_bm25's fixed query terms, in term order. */
  private val Bm25Query = Seq("the", "data", "and").sorted
  private def tfCol(i: Int): Column = col(s"tf$i")

  /** text_bm25's statistics: the entry-scratch per-doc proxy (doc_id,
    * dl, tf0..tf2 — tf_i counts [[Bm25Query]]'s i-th term), the exact
    * avgdl, and the idf table (term, df, idf) — ONE global aggregate
    * over the proxy yields all three. Terms absent from the corpus get
    * NO idf row. The idf table is also the oracle's dump.
    */
  private def bm25Stats(s: SparkSession, dir: String)
      : (DataFrame, Double, DataFrame) = {
    val query = Bm25Query
    val proxy = Scratch.reg(query.zipWithIndex.foldLeft(
      t(s, dir, "documents")
        .select(col("doc_id"), words(lower(col("text"))).as("w"))
        .withColumn("dl", size(col("w")).cast("double"))) {
      case (d, (term, i)) => d.withColumn(s"tf$i",
        size(filter(col("w"), x => x === lit(term))).cast("double"))
    }.drop("w"))
    val aggCols = Seq(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")) ++
      query.indices.map(i => sum(when(tfCol(i) > 0, 1L).otherwise(0L))
        .cast("double").as(s"df$i"))
    val stRow = proxy.agg(aggCols.head, aggCols.tail: _*).head()
    val (n, avgdl) = (stRow.getLong(0).toDouble, stRow.getDouble(1))
    val dfPairs = query.indices
      .map(i => query(i) -> stRow.getDouble(2 + i)).filter(_._2 > 0)
    import s.implicits._
    val idf = log((lit(n) - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    (proxy, avgdl, dfPairs.toDF("term", "df").withColumn("idf", idf))
  }

  /** text_entropy's quantized log table (k, lnq = round(1e12 · ln k))
    * for k up to the longest document's word count.
    */
  private def lnqTable(s: SparkSession, dir: String): DataFrame = {
    val maxN = math.max(1, t(s, dir, "documents")
      .agg(max(size(words(lower(col("text")))))).head().getInt(0))
    s.range(1, maxN + 1L).toDF("k")
      .withColumn("lnq",
        round(log(col("k").cast("double")) * 1e12).cast("long"))
  }

  /** The oracle dumps of the text entries: the LM bigram model, the
    * classifier's per-token weights, bm25's idf and entropy's lnq
    * table — each the one step behind a transcendental or a hash.
    */
  def oracleDumps(s: SparkSession, dir: String): Unit = {
    val base = s"${OracleDumps.root(s, dir)}/text"
    OracleDumps.write(lmModel(s, dir), s"$base/lm_bigrams")
    OracleDumps.write(classifyVocab(s, dir), s"$base/classify_vocab")
    OracleDumps.write(bm25Stats(s, dir)._3, s"$base/bm25_idf")
    OracleDumps.write(lnqTable(s, dir), s"$base/lnq")
  }

  val entries: Seq[Entry] = Seq(
    Entry(
      "text_classify",
      // Learned quality-classifier inference (VERDICT r10 #5) — the
      // learned complement to the rule gates (text_quality_filter) and
      // the LM filter (text_lm_score): hashed token features · a
      // broadcast int-quantized weight vector, fasttext's serving
      // shape. Train-free/deterministic (naive-Bayes log-odds from
      // corpus stats — see classifyWeights); scoring is an exact
      // integer sum, so the oracle (over the dumped per-token weights)
      // hash-matches including the IEEE-ordered double division.
      (s, dir) => textClassify(s, dir).orderBy(col("doc_id")),
      Some(classifyOracleSql)),

    Entry(
      "text_normalize",
      // Canonical text cleanup ahead of dedup/tokenization: lowercase,
      // collapse runs of whitespace, strip control chars, trim — pure
      // per-row projection (no shuffle; pipelines into whatever scan
      // feeds it). Emits before/after lengths for shrinkage QA.
      (s, dir) => {
        val norm = trim(regexp_replace(
          regexp_replace(lower(col("text")), "[\\p{Cntrl}]", " "),
          "\\s+", " "))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            norm.as("norm_text"),
            length(col("text")).cast("long").as("n_chars_raw"),
            length(norm).cast("long").as("n_chars_norm"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'),
          '\s+', ' ', 'g')) AS norm_text,
        CAST(len(text) AS BIGINT) AS n_chars_raw,
        CAST(len(trim(regexp_replace(regexp_replace(lower(text), '[[:cntrl:]]', ' ', 'g'),
          '\s+', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM documents ORDER BY doc_id""")),

    Entry(
      "text_tokens",
      (s, dir) =>
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            size(words(col("text"))).cast("long").as("n_ws_tokens"),
            regexp_count(col("text"), lit("\\w+|[^\\w\\s]")).cast("long")
              .as("n_bpe_tokens"))
          .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens
        FROM documents ORDER BY doc_id""")),

    Entry(
      "text_quality",
      (s, dir) => {
        val w = words(lower(col("text")))
        val nWords = size(w).cast("long")
        val nStop = size(filter(w, x => x.isin(StopWords.map(x => x: Any): _*)))
          .cast("long")
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            length(col("text")).cast("long").as("n_chars"),
            nWords.as("n_words"),
            regexp_count(col("text"), lit("[.,!?;:]")).cast("long")
              .as("n_punct"),
            nStop.as("n_stop"),
            (nStop.cast("double") / nWords).as("stop_ratio"),
            (length(regexp_replace(col("text"), " ", "")).cast("double") /
              nWords).as("avg_word_len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars,
        CAST(len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
        CAST(len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS n_stop,
        CAST(len(list_filter(string_split(lower(text), ' '), x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
          / len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS stop_ratio,
        CAST(length(replace(text, ' ', '')) AS DOUBLE)
          / len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS avg_word_len
        FROM documents ORDER BY doc_id""")),

    Entry(
      "text_pii_scrub",
      // PII redaction — the compliance pass every training-data
      // pipeline runs before tokenization: emails, then phone-like
      // digit runs, then IPv4 literals (orthogonal patterns: the
      // phone class has no dots, so it cannot eat an address). The
      // synthetic corpus carries no PII, so a deterministic contact
      // line derived from doc_id is planted on BOTH engines first —
      // the oracle then checks real replacements, not a no-op. Pure
      // per-row projection; the per-kind counters feed a
      // redaction-rate QA gate.
      (s, dir) => {
        val planted = concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555-01"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0"),
          lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
          lit("."), ((col("doc_id") * 7) % 256).cast("string"))
        val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val phone = "\\+?\\d[\\d -]{7,}\\d"
        val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val scrubbed = regexp_replace(regexp_replace(regexp_replace(
          planted, lit(email), lit("<EMAIL>")),
          lit(phone), lit("<PHONE>")), lit(ip), lit("<IP>"))
        t(s, dir, "documents")
          .select(
            col("doc_id"),
            scrubbed.as("clean_text"),
            regexp_count(planted, lit(email)).cast("long").as("n_email"),
            regexp_count(planted, lit(phone)).cast("long").as("n_phone"),
            regexp_count(planted, lit(ip)).cast("long").as("n_ip"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH p AS (SELECT doc_id,
          text || ' contact: user' || doc_id || '@example.com or +1 555-01'
            || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
            || ' host 10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
            AS planted FROM documents)
        SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(planted,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
            '\+?\d[\d -]{7,}\d', '<PHONE>', 'g'),
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
            AS clean_text,
          CAST(len(regexp_extract_all(planted,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
          CAST(len(regexp_extract_all(planted,
            '\+?\d[\d -]{7,}\d')) AS BIGINT) AS n_phone,
          CAST(len(regexp_extract_all(planted,
            '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
        FROM p ORDER BY doc_id""")),

    Entry(
      "text_url_canon",
      // URL canonicalization — the dedup key for web corpora: scheme
      // and host lowercased, `www.` and default ports stripped
      // (non-default ports kept), one-level `..` dot-segment resolved,
      // `utm_*` tracking params and fragments dropped. Planted messy
      // URLs (deterministic from doc_id; even ids carry the default
      // :443, odd ids a real :8080) exercise BOTH port branches on
      // both engines. Extraction-and-rebuild (not blanket lowercase —
      // paths stay case-preserved), no regex group refs in
      // replacements (Spark `$1` vs DuckDB `\1` differ). Projection,
      // no shuffle.
      (s, dir) => {
        val url = concat(
          lit("HTTPS://WWW.Example"), (col("doc_id") % 7).cast("string"),
          lit(".COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":8080")),
          lit("/a/b/../c/Page"), col("doc_id").cast("string"),
          lit("?utm_source=feed&id="), col("doc_id").cast("string"),
          // myutm_keep must SURVIVE the boundary-anchored utm_ strip
          lit("&myutm_keep=1&utm_campaign=x#frag"))
        t(s, dir, "documents")
          .select(col("doc_id"), url.as("url"),
            canonicalizeUrl(url).as("canon_url"),
            urlHost(url).as("host"),
            regexp_count(regexp_extract(url, "\\?([^#]*)", 1),
              lit("(^|&)utm_")).cast("long").as("n_tracking"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (SELECT doc_id,
          'HTTPS://WWW.Example' || (doc_id % 7) || '.COM'
            || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8080' END
            || '/a/b/../c/Page' || doc_id
            || '?utm_source=feed&id=' || doc_id
            || '&myutm_keep=1&utm_campaign=x#frag' AS url FROM documents),
        """ + urlCanonCtes("doc_id, url", "doc_id, url, scheme, path, q0") +
        """
        SELECT doc_id, url, """ + CanonUrlSql + """ AS canon_url,
          host,
          CAST(len(regexp_extract_all(q0, '(^|&)utm_')) AS BIGINT) AS n_tracking
        FROM c ORDER BY doc_id""")),

    Entry(
      "text_quality_filter",
      // Composite C4/Gopher-style keep/drop gate: word count, average
      // word length, stopword presence, and max word length each vote,
      // and `keep` is their conjunction — per-rule booleans kept so a
      // filter-rate dashboard can attribute drops. Thresholds chosen
      // to genuinely split this corpus (word counts 10-99, stop
      // ratios 0-0.22). Per-row projection, no shuffle.
      (s, dir) => {
        val w = words(lower(col("text")))
        val nWords = size(w).cast("long")
        val nStop = size(filter(w,
          x => x.isin(StopWords.map(x => x: Any): _*))).cast("long")
        val avgLen = length(regexp_replace(col("text"), " ", ""))
          .cast("double") / nWords
        val maxLen = array_max(transform(w, x => length(x)))
        val okWords = nWords >= 30 && nWords <= 5000
        val okAvg = avgLen >= 3.0 && avgLen <= 8.0
        val okStop = (nStop.cast("double") / nWords) >= 0.04
        val okMax = maxLen <= 15
        t(s, dir, "documents")
          .select(
            col("doc_id"), nWords.as("n_words"),
            okWords.as("ok_n_words"), okAvg.as("ok_avg_word_len"),
            okStop.as("ok_stop_ratio"), okMax.as("ok_max_word_len"),
            (okWords && okAvg && okStop && okMax).as("keep"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id,
          list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws,
          length(replace(text, ' ', '')) AS n_nospace
        FROM documents),
        m AS (SELECT doc_id, len(ws) AS n_words,
          CAST(len(list_filter(ws, x -> list_contains(
            ['the','a','of','and','to','in','is'], x))) AS DOUBLE)
            / len(ws) AS stop_ratio,
          CAST(n_nospace AS DOUBLE) / len(ws) AS avg_len,
          list_max(list_transform(ws, x -> len(x))) AS max_len
        FROM w)
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
          (n_words >= 30 AND n_words <= 5000) AS ok_n_words,
          (avg_len >= 3.0 AND avg_len <= 8.0) AS ok_avg_word_len,
          (stop_ratio >= 0.04) AS ok_stop_ratio,
          (max_len <= 15) AS ok_max_word_len,
          (n_words >= 30 AND n_words <= 5000 AND avg_len >= 3.0
            AND avg_len <= 8.0 AND stop_ratio >= 0.04
            AND max_len <= 15) AS keep
        FROM m ORDER BY doc_id""")),

    Entry(
      "text_langid",
      // n-gram/stopword-profile language ID heuristic: score the token
      // set against per-language function-word profiles, argmax with a
      // deterministic tie-break (profile order). Oracled: the scores
      // are plain token counts and the profile-order argmax unrolls
      // into a CASE cascade (branch k wins iff score_k >= all later
      // scores and every earlier branch lost — i.e. earliest max).
      (s, dir) => {
        val profiles = Seq(
          "en" -> Seq("the", "and", "of", "to", "a", "is"),
          "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
          "es" -> Seq("el", "la", "de", "y", "es", "un"),
          "fr" -> Seq("le", "la", "et", "les", "est", "un"),
          "zh" -> Seq("de", "shi", "le", "zai", "he", "you"))
        val w = words(lower(col("text")))
        val scored = profiles.foldLeft(
          t(s, dir, "documents").select(col("doc_id"), col("lang"), w.as("w"))) {
          case (df, (lang, prof)) =>
            df.withColumn(s"score_$lang",
              size(filter(col("w"), x => x.isin(prof.map(x => x: Any): _*))))
        }
        // Tie-break genuinely in profile order: greatest() compares the
        // struct lexicographically, so (score, -profile_index) makes an
        // earlier profile win equal scores (a no-profile-word doc → "en").
        val best = profiles.zipWithIndex.map { case ((lang, _), i) =>
          struct(col(s"score_$lang").as("score"),
            lit(-i).as("prio"), lit(lang).as("lang"))
        }
        scored
          .withColumn("pred", greatest(best: _*).getField("lang"))
          .select(col("doc_id"), col("lang"),
            col("pred").as("pred_lang"),
            (col("pred") === col("lang")).as("agree"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH w AS (SELECT doc_id, lang,
            list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS w
          FROM documents),
        s AS (SELECT doc_id, lang,
            len(list_filter(w, x -> list_contains(
              ['the','and','of','to','a','is'], x))) AS s_en,
            len(list_filter(w, x -> list_contains(
              ['der','die','und','das','ist','ein'], x))) AS s_de,
            len(list_filter(w, x -> list_contains(
              ['el','la','de','y','es','un'], x))) AS s_es,
            len(list_filter(w, x -> list_contains(
              ['le','la','et','les','est','un'], x))) AS s_fr,
            len(list_filter(w, x -> list_contains(
              ['de','shi','le','zai','he','you'], x))) AS s_zh
          FROM w),
        p AS (SELECT doc_id, lang,
            CASE WHEN s_en >= s_de AND s_en >= s_es
                  AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                 WHEN s_de >= s_es AND s_de >= s_fr
                  AND s_de >= s_zh THEN 'de'
                 WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                 WHEN s_fr >= s_zh THEN 'fr'
                 ELSE 'zh' END AS pred_lang
          FROM s)
        SELECT doc_id, lang, pred_lang, pred_lang = lang AS agree
        FROM p ORDER BY doc_id""")),

    Entry(
      "text_fingerprint",
      // Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
      // rolling 8-char k-gram hashes, minimum over each window of 4,
      // distinct survivors are the fingerprint set — one pass in the
      // native graft.functions.WinnowFingerprints expression (codegen,
      // no per-position String allocation). No shuffle, no UDF.
      (s, dir) => {
        import org.apache.spark.sql.graft.DatasetBridge
        val fps = DatasetBridge.column(graft.functions.WinnowFingerprints(
          DatasetBridge.expression(col("text")), 8, 4))
        t(s, dir, "documents")
          .withColumn("fps", fps)
          .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
            array_min(col("fps")).as("fp_min"),
            array_max(col("fps")).as("fp_max"))
          .orderBy(col("doc_id"))
      },
      // count/min/max re-aggregated in SQL over the dumped exploded
      // fingerprint relation (shared with dedup_substring's oracle);
      // the left join keeps docs whose text is too short for any
      // 8-gram (n_fp 0, null min/max on both engines).
      Some(s"""SELECT d.doc_id, CAST(COUNT(f.fp) AS BIGINT) AS n_fp,
          MIN(f.fp) AS fp_min, MAX(f.fp) AS fp_max
        FROM documents d LEFT JOIN
          read_parquet('${OracleDumps.SqlRoot}/dedup/substrfp/*.parquet') f
          ON d.doc_id = f.doc_id
        GROUP BY d.doc_id ORDER BY d.doc_id""")),

    Entry(
      "text_tfidf",
      // TF-IDF term salience, integer-exact: top-3 terms per document
      // ranked by (tf DESC, df ASC, term) — the same ordering as
      // tf·log(N/df) for any monotone idf, but with no transcendental
      // in the output so the DuckDB twin hashes identically.
      //
      // r21 shape (guide §2.3/§2.4): tf is aggregated ONCE — entry-
      // scratch persisted, so the df aggregate (which fills the cache)
      // and the join's other side share one computation. The df side is
      // one row per distinct term, an unbounded vocabulary, so the join
      // is not forced to broadcast: AQE broadcasts it while it is small
      // and sort-merges it once it is not. Previously the subtree fed both as two plan
      // instances; AQE's exchange reuse deduped the exchange at sf0.1
      // but NOT at sf10, where the whole tokenize+aggregate ran twice
      // (measured: 28-30 s stable vs 3.9-4.5 s with the persist —
      // ~7×; the persist costs ~+0.2 s at sf0.1's floor, the right
      // trade at any real scale). The per-doc top-3 stays the
      // row_number window: Spark's WindowGroupLimit already k-bounds
      // it with codegen — a TypedImperativeAggregate top-k-by-struct
      // was built and measured 2-3× SLOWER at sf10 (ObjectHashAggregate
      // sort-fallback past 128 keys/partition + no codegen), so the
      // window form is the measured keeper.
      (s, dir) => {
        val tf = Scratch.reg(
          t(s, dir, "documents")
            .select(col("doc_id"),
              explode(words(lower(col("text")))).as("term"))
            .groupBy(col("doc_id"), col("term"))
            .agg(count(lit(1)).as("tf")))
        val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("term"))
        tf.join(df, Seq("term"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            col("rank").cast("long").as("rank"))
          .orderBy(col("doc_id"), col("rank"))
      },
      Some("""WITH tok AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> len(x) > 0)) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf
          FROM tok GROUP BY doc_id, term),
        df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
            ROW_NUMBER() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rank
          FROM tf JOIN df USING (term))
        SELECT doc_id, term, tf, df, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")),

    Entry(
      "text_bm25",
      // BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed query term
      // set over the documents table — per-doc tf against broadcast df
      // + avgdl scalars, one (doc,term) shuffle, top-20. The
      // transcendental idf (JVM log vs libm, a ulp hazard) is the ONE
      // step without a cross-engine-exact SQL twin — so the tiny
      // per-term idf table is dumped and the oracle re-runs everything
      // else in SQL: tokenization, tf/dl integers, the exact avgdl
      // (integer-valued doubles sum exactly under 2^53, so AVG is
      // order-independent), the rational contrib expression in the
      // same op order, and the per-doc score as an ordered fold.
      // TextAndKnnSpec pins the formula on planted fixtures.
      // r21 shape (guide §2.3/§2.4, §8 "decide with small rows"): the
      // query term set is FIXED and tiny, so per-doc tf comes from a
      // higher-order size(filter(w, = term)) per term — no explode of
      // the corpus, no (doc,term) shuffle, no df join. The per-doc
      // proxy (doc_id, dl, tf0..tf2 — doc_id is the table's PK, so
      // per-row ≡ the old per-group) is entry-scratch persisted; ONE
      // global aggregate over it yields n, exact avgdl AND every df
      // (count of tf>0 rows ≡ the old COUNT DISTINCT doc_id, ids being
      // unique), where the old shape paid three corpus scans (stats
      // head(), idf dump, scoring) and two aggregation exchanges.
      // idf still goes through the SAME Spark log() expression (bit-
      // equal values), and the score replays the old ordered fold as
      // CASE-chained additions in term order — x + 0.0 is exact for
      // these strictly-positive contribs, so scores hash identically.
      (s, dir) => {
        val query = Bm25Query
        val (proxy, avgdl, idfTbl) = bm25Stats(s, dir)
        val idfs = idfTbl.collect()
          .map(r => r.getString(0) -> r.getDouble(2)).toMap
        // only terms WITH an idf row score or qualify a doc — the old
        // inner join dropped tf rows of idf-less terms the same way
        val scoreTerms = query.zipWithIndex.filter(t => idfs.contains(t._1))
        val score = if (scoreTerms.isEmpty) lit(0.0)
          else scoreTerms.map { case (term, i) =>
            when(tfCol(i) > 0,
              lit(idfs(term)) * tfCol(i) * (lit(1.2) + 1.0) /
                (tfCol(i) + lit(1.2) *
                  (lit(1.0) - 0.75 + lit(0.75) * col("dl") / avgdl)))
              .otherwise(lit(0.0))
          }.reduceLeft(_ + _)
        val hasTerm = if (scoreTerms.isEmpty) lit(false)
          else scoreTerms.map { case (_, i) => tfCol(i) > 0 }.reduce(_ || _)
        proxy
          .filter(hasTerm)
          .select(col("doc_id"), score.as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(20)
      },
      Some(s"""WITH dd AS (SELECT doc_id,
            CAST(len(list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0)) AS DOUBLE) AS dl,
            list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS w
          FROM documents),
        st AS (SELECT AVG(dl) AS avgdl FROM dd),
        tf AS (SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
          FROM (SELECT doc_id, dl, unnest(w) AS term FROM dd)
          WHERE term IN ('the', 'data', 'and')
          GROUP BY doc_id, dl, term),
        idf AS (SELECT term, idf
          FROM read_parquet('${OracleDumps.SqlRoot}/text/bm25_idf/*.parquet')),
        c AS (SELECT t.doc_id, t.term,
            i.idf * t.tf * (1.2 + 1.0) / (t.tf + 1.2 *
              (1.0 - 0.75 + 0.75 * t.dl / (SELECT avgdl FROM st)))
              AS contrib
          FROM tf t JOIN idf i USING (term)),
        sc AS (SELECT doc_id,
            list_reduce(list(contrib ORDER BY term), (a, b) -> a + b)
              AS score
          FROM c GROUP BY doc_id)
        SELECT doc_id, score FROM sc
        ORDER BY score DESC, doc_id LIMIT 20""")),

    Entry(
      "text_lm_score",
      // N-gram LM quality scoring (the CCNet-style perplexity filter a
      // training-data pipeline ranks web text with): train an add-0.5-
      // smoothed word-bigram LM on the corpus, score each document by
      // mean negative log-likelihood. Two map-side-combined count
      // shuffles train the model (bigram types, not tokens — sub-linear
      // in corpus size); scoring is one equi-join on the (w1,w2) key
      // (model NEVER broadcast — at 100 TB it outgrows the driver; AQE
      // may still broadcast while genuinely small) plus one doc_id
      // re-agg. Like bm25's idf, ln is the one cross-engine ulp hazard,
      // so the tiny per-bigram-type lnp MODEL is dumped and the oracle
      // re-derives everything else: tokenization, bigram positions,
      // the join, and the per-doc fold IN POSITION ORDER (reproducible
      // floats; -(Σ lnp)/n with negation exact in IEEE).
      (s, dir) => {
        val bi = lmBigrams(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
        lmScore(bi, lmModel(s, dir)).orderBy(col("doc_id"))
      },
      Some(lmOracleSql)),

    Entry(
      "text_lm_score_batch",
      // The LM pair's SERVING split made explicit (VERDICT r10 #7): a
      // deployment trains the model offline and scores INCOMING
      // SHARDS, not the whole corpus per run. This entry scores only
      // the arriving batch (doc_id % 10 = 7, ~10% of the corpus)
      // against the standing session-cached model — the deployment's
      // actual unit of serving work, so its bench time is the
      // serve-only cost while text_lm_score measures the full-corpus
      // re-score (model training is warmed untimed for both, like the
      // IVF/PQ indexes). The batch filter sits BEFORE tokenization so
      // only the shard's rows ever explode into bigrams; at 100 TB
      // the equi-join against the model partitions on the bigram key
      // and both sides scale out. Same dumped-model oracle,
      // batch-filtered.
      (s, dir) => {
        val bi = lmBigrams(
          t(s, dir, "documents").select(col("doc_id"), col("text"))
            .filter(col("doc_id") % 10 === 7))
        lmScore(bi, lmModel(s, dir)).orderBy(col("doc_id"))
      },
      Some(lmOracleSqlFor("doc_id % 10 = 7"))),

    Entry(
      "text_chunk",
      // Fixed-size overlapping chunking (the RAG / context-window
      // splitter): 200-char windows on a 150-char stride from pure
      // integer math + substring — per-row explode, no shuffle, and
      // chunk boundaries are identical on any engine.
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), col("text"),
            expr("(length(text) + 149) DIV 150").as("n_chunks"))
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), col("n_chunks") - 1)).as("ci"))
          .select(col("doc_id"),
            col("ci").cast("long").as("chunk_idx"),
            (col("ci") * 150).cast("long").as("chunk_start"),
            expr("substring(text, ci * 150 + 1, 200)").as("chunk"))
          .withColumn("chunk_len", length(col("chunk")).cast("long"))
          .orderBy(col("doc_id"), col("chunk_idx")),
      Some("""SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          CAST(i * 150 AS BIGINT) AS chunk_start,
          substr(text, i * 150 + 1, 200) AS chunk,
          CAST(len(substr(text, i * 150 + 1, 200)) AS BIGINT) AS chunk_len
        FROM documents,
          unnest(generate_series(0, (len(text) + 149) // 150 - 1)) AS t(i)
        ORDER BY doc_id, chunk_idx""")),

    Entry(
      "text_bigrams",
      // Adjacent-token-pair frequencies — the BPE-training inner-loop
      // statistic (the most frequent pair is the next merge). Pairs
      // come from a higher-order transform over the token array (one
      // pass, no self-join); one shuffle for the global count, top-30
      // under a total order.
      (s, dir) => {
        val toks = words(lower(col("text")))
        t(s, dir, "documents")
          .select(toks.as("w"))
          .filter(size(col("w")) >= 2)
          .select(explode(transform(sequence(lit(1), size(col("w")) - 1),
            i => concat(element_at(col("w"), i), lit(" "),
              element_at(col("w"), i + 1)))).as("pair"))
          .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("pair"))
          .limit(30)
      },
      Some("""WITH toks AS (SELECT list_filter(string_split(lower(text),
          ' '), x -> len(x) > 0) AS l FROM documents),
        pairs AS (SELECT unnest(list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1])) AS pair
          FROM toks WHERE len(l) >= 2)
        SELECT pair, COUNT(*) AS cnt FROM pairs
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 30""")),

    Entry(
      "text_vocab",
      // Vocabulary coverage / OOV-rate QA: corpus top-20 tokens by
      // (count DESC, token ASC) become the vocabulary (two-pass, the
      // vocab side broadcasts); each document reports its token and
      // out-of-vocabulary counts. The scale shape of tokenizer-
      // coverage checks before an expensive training run.
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(col("doc_id"), explode(words(lower(col("text")))).as("tok"))
        val vocab = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("tok")).limit(20)
          .select(col("tok"), lit(1).as("in_v"))
        tok.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            count_if(col("in_v").isNull).as("n_oov"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH tok AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> len(x) > 0)) AS tok FROM documents),
        vocab AS (SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM tok
          GROUP BY tok ORDER BY c DESC, tok LIMIT 20))
        SELECT t.doc_id, COUNT(*) AS n_tokens,
          COUNT(*) FILTER (WHERE v.tok IS NULL) AS n_oov
        FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY t.doc_id ORDER BY t.doc_id""")),

    Entry(
      "text_repetition",
      // Repetition quality signal (the Gopher-style duplicate-n-gram
      // filter): per document, the fraction of bigrams that are
      // repeats — pure per-row array math (no shuffle), integer counts
      // plus one correctly-rounded division so the ratio hash-matches.
      (s, dir) => {
        val toks = words(lower(col("text")))
        t(s, dir, "documents")
          .select(col("doc_id"), toks.as("w"))
          .withColumn("bi",
            when(size(col("w")) >= 2,
              transform(sequence(lit(1), size(col("w")) - 1),
                i => concat(element_at(col("w"), i), lit(" "),
                  element_at(col("w"), i + 1))))
              .otherwise(array().cast("array<string>")))
          .select(col("doc_id"),
            size(col("bi")).cast("long").as("n_bigrams"),
            size(array_distinct(col("bi"))).cast("long")
              .as("n_distinct_bigrams"))
          .withColumn("dup_frac",
            when(col("n_bigrams") > 0,
              (col("n_bigrams") - col("n_distinct_bigrams"))
                .cast("double") / col("n_bigrams").cast("double"))
              .otherwise(lit(0.0)))
          .orderBy(col("doc_id"))
      },
      Some("""WITH b AS (SELECT doc_id,
          CASE WHEN len(l) >= 2 THEN list_transform(range(1, len(l)),
            i -> l[i] || ' ' || l[i + 1]) ELSE [] END AS bi
        FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '),
          x -> len(x) > 0) AS l FROM documents))
        SELECT doc_id, CAST(len(bi) AS BIGINT) AS n_bigrams,
          CAST(len(list_distinct(bi)) AS BIGINT) AS n_distinct_bigrams,
          CASE WHEN len(bi) > 0 THEN
            CAST(len(bi) - len(list_distinct(bi)) AS DOUBLE) /
              CAST(len(bi) AS DOUBLE)
          ELSE 0.0 END AS dup_frac
        FROM b ORDER BY doc_id""")),

    Entry(
      "text_entropy",
      // Token-distribution Shannon entropy per document — the
      // lexical-diversity quality signal (type-token ratio's
      // information-theoretic form: templated/spammy text has low
      // entropy, natural prose high). H = ln n − (1/n)·Σ c_i·ln c_i
      // is computed ENTIRELY in integers: a tiny lnq table
      // (k → round(1e12·ln k), k ≤ max doc length — a bounded
      // broadcast artifact, dumped for the oracle like bm25's idf)
      // turns the per-doc sum into n·lnq(n) − Σ c_i·lnq(c_i), an
      // order-free exact BIGINT with ONE final IEEE division. Scale:
      // one (doc, token) count shuffle + one doc_id re-agg; the lnq
      // joins are broadcast-tiny.
      //
      // Measured and REJECTED (round 15): replacing the (doc, token)
      // count shuffle with IN-ROW run-length counting over the sorted
      // token array lost both ways it can be written. A fold
      // (aggregate() with an array-carrying struct state) re-copies
      // the accumulator array per ELEMENT — 76.5 s vs 26.4 s at the
      // sf10 decade. Bulk array HOFs (sort → shifted zip → indexed
      // boundary transform → filter → lag zip_with) allocate ~6
      // intermediate arrays per row, and with CollapseProject/
      // pushdown cloning the chain into the Generate's inferred
      // predicates the allocation pressure compounds: 131 s at sf10.
      // Tungsten's hash aggregate over the exploded pairs IS the fast
      // path — a (doc, token) exchange of slim rows with map-side
      // partial combine beats per-row array choreography by 3-5x.
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"), explode(words(lower(col("text"))))
            .as("token"))
        val counts = toks.groupBy(col("doc_id"), col("token"))
          .agg(count(lit(1)).as("c"))
        val lnq = lnqTable(s, dir)
        val perDoc = counts.join(broadcast(lnq), col("c") === col("k"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("n_tok"), count(lit(1)).as("n_types"),
            sum(col("c") * col("lnq")).as("sum_clnq"))
        perDoc.join(broadcast(lnq), col("n_tok") === col("k"))
          .withColumn("entropy_q",
            col("n_tok") * col("lnq") - col("sum_clnq"))
          .withColumn("entropy", col("entropy_q").cast("double") /
            (col("n_tok").cast("double") * lit(1e12)))
          .select(col("doc_id"), col("n_tok"), col("n_types"),
            col("entropy_q"), col("entropy"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH lnq AS (SELECT k, lnq
          FROM read_parquet('${OracleDumps.SqlRoot}/text/lnq/*.parquet')),
        dd AS (SELECT doc_id, list_filter(string_split(lower(text), ' '),
            x -> len(x) > 0) AS w
          FROM documents),
        tok AS (SELECT doc_id, unnest(w) AS token
          FROM dd WHERE len(w) >= 1),
        cnt AS (SELECT doc_id, token, COUNT(*) AS c
          FROM tok GROUP BY doc_id, token),
        pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
            COUNT(*) AS n_types,
            CAST(SUM(c * l.lnq) AS BIGINT) AS sum_clnq
          FROM cnt JOIN lnq l ON cnt.c = l.k GROUP BY doc_id)
        SELECT pd.doc_id, pd.n_tok, pd.n_types,
          pd.n_tok * l2.lnq - pd.sum_clnq AS entropy_q,
          CAST(pd.n_tok * l2.lnq - pd.sum_clnq AS DOUBLE) /
            (CAST(pd.n_tok AS DOUBLE) * 1e12) AS entropy
        FROM pd JOIN lnq l2 ON pd.n_tok = l2.k
        ORDER BY doc_id""")),

    Entry(
      "text_boiler_ngrams",
      // Corpus-frequent n-gram boilerplate report — the cross-document
      // complement to text_repetition's intra-doc filter (the
      // CCNet/RefinedWeb boilerplate stage: navigation chrome, cookie
      // banners, license footers recur VERBATIM across documents, and
      // the signal is document frequency of short word n-grams, not
      // within-doc repetition). Per doc: total 3-gram occurrences,
      // occurrences of "boilerplate" grams (df ≥ 3 docs), their
      // fraction, and the keep verdict at the 50% gate.
      // See [[boilerNgrams]] for the plan shape and the measured A/B
      // history (r14 hash-key rejection, r15 CMS prefilter + in-row
      // dedup restructure).
      (s, dir) => boilerNgrams(s, dir),
      Some("""WITH w AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS w
          FROM documents),
        g AS (SELECT doc_id,
            unnest(list_transform(range(1, len(w) - 1),
              i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS gram
          FROM w WHERE len(w) >= 3),
        df AS (SELECT gram, COUNT(DISTINCT doc_id) AS df
          FROM g GROUP BY gram),
        sc AS (SELECT doc_id, COUNT(*) AS n_grams,
            SUM(CASE WHEN df.df >= 3 THEN 1 ELSE 0 END) AS n_boiler
          FROM g JOIN df USING (gram) GROUP BY doc_id)
        SELECT doc_id, n_grams, CAST(n_boiler AS BIGINT) AS n_boiler,
          CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE) AS boiler_frac,
          CAST(n_boiler AS DOUBLE) / CAST(n_grams AS DOUBLE) <= 0.5 AS keep
        FROM sc ORDER BY doc_id""")),

    Entry(
      "bpe_train",
      // BPE tokenizer TRAINING (Sennrich et al., ACL'16) — the real
      // iterative merge loop text_bigrams only takes one statistic of:
      // words aggregate to (count, char-symbol sequence) once, then
      // each round counts adjacent symbol pairs weighted by word
      // frequency, picks the most frequent (ties: lexicographic — a
      // total order), and rewrites every sequence by the greedy
      // left-to-right merge (a string fold whose tail-token check
      // can't false-positive: symbols never contain the separator).
      // Output = the merge TABLE, the actual artifact BPE training
      // produces. Scale shape: the word aggregation is the only
      // full-corpus shuffle; each round is one pair-count shuffle
      // over the VOCAB (heavy-hitters-bounded, millions of rows at
      // 100 TB, not the corpus) + a 1-row argmax broadcast back —
      // the standard distributed-tokenizer-training topology.
      // Everything is integer counts and exact strings, so the
      // 10-round loop oracles EXACTLY against an unrolled SQL twin.
      (s, dir) => {
        import s.implicits._
        bpeMerges(s, dir, 10)
          .toDF("step", "pair_a", "pair_b", "merged", "cnt")
          .orderBy(col("step"))
      },
      Some(bpeSql(10))),

    Entry(
      "bpe_apply",
      // BPE ENCODING with the trained merge table — the operator every
      // pipeline actually runs at 100 TB (train once on a sample,
      // apply to the whole corpus). The application is a PURE
      // PROJECTION: the 10 merges are literals folded into a chain of
      // per-word greedy rewrites (the same string fold bpe_train's
      // rewrite step proved oracle-able), so encoding shuffles NOTHING
      // — no distinct-word join, no corpus exchange; the only shuffle
      // in the plan is training's word aggregate, paid once per
      // (session, corpus) like the IVF/PQ index caches. Per doc:
      // word count and total post-merge token count.
      (s, dir) => {
        val merges = bpeMergesCached(s, dir, 10)
        // one merge level: greedy left-to-right rewrite of the
        // space-separated symbol string (identical fold to training)
        def mergeFold(seq: Column, a: String, b: String): Column =
          aggregate(
            slice(split(seq, " "), lit(2),
              greatest(size(split(seq, " ")) - 1, lit(0))),
            element_at(split(seq, " "), 1),
            bpeMergeStep(a, b))
        def charSeq(w: Column): Column = concat(array_join(
          transform(sequence(lit(1), length(w)),
            i => w.substr(i, lit(1))), " "), lit(" </w>"))
        // one transform() per merge level: each level references the
        // previous ONCE (the fold's internal re-reads bind the lambda
        // variable, not the chain), keeping the expression tree linear
        // in nMerges instead of exponential
        var seqs: Column =
          transform(words(lower(col("text"))), charSeq _)
        for ((_, a, b, _, _) <- merges)
          seqs = transform(seqs, s0 => mergeFold(s0, a, b))
        t(s, dir, "documents")
          .select(col("doc_id"),
            size(words(lower(col("text")))).cast("long").as("n_words"),
            aggregate(seqs, lit(0L),
              (acc, s0) => acc + size(split(s0, " ")).cast("long"))
              .as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      Some(bpeApplySql(10)))
  )

  /** The bpe_train merge loop (Sennrich et al., ACL'16), extracted so
    * bpe_apply can reuse the trained table: word-aggregate once, then
    * per round count adjacent symbol pairs weighted by word frequency,
    * take the (count DESC, pair) argmax, greedy-rewrite every
    * sequence. Returns (step, pair_a, pair_b, merged, cnt) rows.
    */
  private def bpeMerges(s: SparkSession, dir: String,
      nMerges: Int): Seq[(Int, String, String, String, Long)] = {
    val chars = expr(
      "transform(sequence(1, length(word)), i -> substring(word, i, 1))")
    // LAZY checkpoints (r20): each round's rewrite is a pure
    // projection (no exchange), so localCheckpoint(false) truncates
    // the plan identically but defers materialization into the NEXT
    // round's argmax job — one job per round instead of two (eager
    // checkpoint job + argmax job). 21 jobs → 11 for 10 merges; the
    // blocks still cache on first use, so nothing recomputes.
    var vocab = t(s, dir, "documents")
      .select(explode(words(lower(col("text")))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .select(col("wc"),
        concat(array_join(chars, " "), lit(" </w>")).as("seq"))
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    for (step <- 1 to nMerges) {
      val toks = split(col("seq"), " ")
      val best = vocab
        .select(col("wc"), toks.as("toks"))
        // a fully-merged single-token word has no pairs — and
        // sequence(1, 0) would DESCEND, not come back empty
        .select(col("wc"), explode(expr(
          "CASE WHEN size(toks) >= 2 THEN " +
            "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS a, toks[i] AS b)) " +
            "ELSE CAST(array() AS ARRAY<STRUCT<a: STRING, b: STRING>>) " +
            "END")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).head()
      val (a, b, cnt) =
        (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((step, a, b, a + b, cnt))
      val rewritten = aggregate(
        expr("slice(split(seq, ' '), 2, " +
          "greatest(size(split(seq, ' ')) - 1, 0))"),
        expr("element_at(split(seq, ' '), 1)"),
        bpeMergeStep(a, b))
      vocab = vocab.select(col("wc"), rewritten.as("seq"))
        .localCheckpoint(false)
    }
    merges.toSeq
  }

  /** Merge table cached per (session, corpus) in [[IndexCache]]:
    * training is the build-once half of the tokenizer lifecycle (the
    * same contract as the IVF/PQ index caches); encoding entries serve
    * from it, `IndexCache.evictCorpus` drops it with the corpus's other
    * artifacts, and a stopped session's entry is purged with them.
    * bpe_train deliberately does NOT use this cache — measuring the
    * training loop is that entry's point.
    */
  private def bpeMergesCached(s: SparkSession, dir: String,
      nMerges: Int): Seq[(Int, String, String, String, Long)] =
    IndexCache.getOrBuild(s, dir, s"bpe_merges_$nMerges")(
      bpeMerges(s, dir, nMerges))

  /** One BPE merge of pair (a, b) as an aggregate() step over the
    * space-separated symbols: a greedy left-to-right rewrite, the same
    * fold in training and in bpe_apply. */
  private def bpeMergeStep(a: String, b: String): (Column, Column) => Column = {
    val (aL, bL) = (lit(a), lit(b))
    (acc, x) => when(x === bL && (acc === aL ||
        acc.endsWith(concat(lit(" "), aL))),
      when(acc === aL, concat(aL, bL))
        .otherwise(concat(
          acc.substr(lit(1), length(acc) - length(aL) - 1),
          lit(" "), aL, bL)))
      .otherwise(concat(acc, lit(" "), x))
  }

  /** SQL twin of [[bpeMergeStep]]: merge pair `bb` (a, b) into
    * `t.seq`. */
  private def bpeMergeSql(t: String): String =
    s"""list_reduce(string_split($t.seq, ' '),
          (acc, x) -> CASE WHEN x = bb.b AND (acc = bb.a
              OR ends_with(acc, ' ' || bb.a))
            THEN CASE WHEN acc = bb.a THEN bb.a || bb.b
              ELSE substr(acc, 1, len(acc) - len(bb.a) - 1)
                || ' ' || bb.a || bb.b END
            ELSE acc || ' ' || x END)"""

  /** The training loop's CTE chain, shared by the bpe_train and
    * bpe_apply oracles: stage k counts stage k-1's vocabulary pairs,
    * takes the 1-row argmax under the same (count DESC, pair) total
    * order, and rewrites via the identical greedy string fold (DuckDB
    * list_reduce seeds with the first element ≡ the Spark aggregate's
    * init). Yields CTEs v0..v$n and best1..best$n.
    */
  private def bpeStagesSql(nMerges: Int): String = {
    val stages = (1 to nMerges).map { k =>
      s"""p$k AS (SELECT t2.a, t2.b, CAST(SUM(t2.wc) AS BIGINT) AS cnt
        FROM (SELECT v.wc, v.toks[u.i] AS a, v.toks[u.i + 1] AS b
          FROM (SELECT wc, string_split(seq, ' ') AS toks
            FROM v${k - 1}) v,
            unnest(range(1, len(v.toks))) AS u(i)) t2
        GROUP BY t2.a, t2.b),
      best$k AS (SELECT CAST($k AS INT) AS step, a, b, cnt FROM p$k
        ORDER BY cnt DESC, a, b LIMIT 1),
      v$k AS (SELECT v.wc, ${bpeMergeSql("v")} AS seq
        FROM v${k - 1} v CROSS JOIN best$k bb)"""
    }.mkString(",\n      ")
    s"""v0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS wc,
        array_to_string(string_split(word, ''), ' ') || ' </w>' AS seq
      FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
          x -> len(x) > 0)) AS word FROM documents)
      GROUP BY word),
      $stages"""
  }

  private def bpeSql(nMerges: Int): String =
    s"""WITH ${bpeStagesSql(nMerges)}
      SELECT step, a AS pair_a, b AS pair_b, a || b AS merged, cnt
      FROM (${(1 to nMerges).map(k => s"SELECT * FROM best$k")
        .mkString(" UNION ALL ")})
      ORDER BY step"""

  /** bpe_apply's twin: re-trains the merge table via the shared
    * stages, then encodes per DISTINCT word (the oracle may use the
    * word-cache trick — integer token counts match the Spark side's
    * per-row projection exactly) and aggregates counts per document.
    */
  private def bpeApplySql(nMerges: Int): String = {
    val applyStages = (1 to nMerges).map { k =>
      s"""e$k AS (SELECT e.word, ${bpeMergeSql("e")} AS seq
        FROM e${k - 1} e CROSS JOIN best$k bb)"""
    }.mkString(",\n      ")
    s"""WITH ${bpeStagesSql(nMerges)},
      w AS (SELECT doc_id, unnest(list_filter(
          string_split(lower(text), ' '), x -> len(x) > 0)) AS word
        FROM documents),
      e0 AS (SELECT word,
          array_to_string(string_split(word, ''), ' ') || ' </w>' AS seq
        FROM (SELECT DISTINCT word FROM w)),
      $applyStages,
      wl AS (SELECT word,
          CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_toks
        FROM e$nMerges),
      agg AS (SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
          CAST(SUM(wl.n_toks) AS BIGINT) AS n_bpe_tokens
        FROM w JOIN wl ON w.word = wl.word
        GROUP BY w.doc_id)
      -- LEFT from documents: a wordless doc still emits a (0, 0) row,
      -- matching the Spark side's pure projection
      SELECT d.doc_id, COALESCE(agg.n_words, 0) AS n_words,
        COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens
      FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
      ORDER BY d.doc_id"""
  }
}
