package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._
import graft.functions.{JaccardSim, MinHashSig, NgramHashes, SimHash64, Vectors}

/** Deduplication operators (SURVEY.md §2.C). All near-dup variants use
  * LSH-style bucketing so candidate generation is ONE hash-shuffle on
  * the bucket key — never an n² cross-join — which is the property that
  * keeps them viable at 100 TB. Exact verification (Jaccard / hamming /
  * cosine) happens only within buckets. Hot buckets can be salted; at
  * cluster scale the bucket join benefits from AQE skew handling.
  */
object DedupOps {

  /** Non-empty whitespace tokens of `text`. */
  private def tokensOf(c: Column): Column =
    filter(split(c, " "), x => length(x) > lit(0))

  /** doc_id + word-3-shingle distinct set. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("tokens", tokensOf(col("text")))
      .withColumn("shingles",
        expr("array_distinct(transform(sequence(0, greatest(size(tokens) - 3, 0)), " +
          "i -> concat_ws(' ', tokens[i], tokens[i+1], tokens[i+2])))"))
      .select(col("doc_id"), col("shingles"))

  /** Candidate pairs (a < b) from equal bucket keys in `keyed(id, k)`. */
  private def pairsFromBuckets(keyed: DataFrame, keyCols: Seq[String]): DataFrame = {
    val l = keyed.toDF(keyCols :+ "a": _*)
    val r = keyed.toDF(keyCols :+ "b": _*)
    l.join(r, keyCols)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
  }

  // shingles feed both dedup_minhash and dedup_clusters: share ONE
  // persisted copy per (session, dir) instead of leaking a new persist
  // per entry invocation. All standing signature/store artifacts live
  // in graft.IndexCache (weak session keys + size accounting +
  // optional LRU corpus eviction — VERDICT r17 #5).

  // single scratch slot for the simhash depth-probe's persisted
  // distinct-sig set (see dedupSimhash): weak session key, swapped —
  // with the previous occupant unpersisted — on each gate entry
  private val simhashScratch =
    new java.util.WeakHashMap[SparkSession, DataFrame]()

  private def shingledCached(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "shingles")(shingled(s, dir).persist())

  /** MinHash-LSH verified near-dup pairs `(a, b, jaccard)` — the body
    * of `dedup_minhash`, shared with `dedup_clusters`.
    */
  /** Banded MinHash signatures (band, bkey, doc_id) for the corpus —
    * native single-pass signature: one hash per shingle + 64 (a·h+b)
    * permutations, vs 64 interpreted array_min lambdas. Cached per
    * (session, dir) with a key suffix in the shingle map: the relation
    * is self-joined by pairsFromBuckets AND probed by the incremental
    * path, so one persist serves all of them.
    */
  private def bandedSigs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledCached(s, dir)
    IndexCache.getOrBuild(s, dir, "banded") {
      val sig = sh.withColumn("sig", MinHashSig.column(col("shingles")))
      sig.select(col("doc_id"),
          posexplode(expr(
            "transform(sequence(0, 15), b -> xxhash64(slice(sig, b * 4 + 1, 4)))"))
            .as(Seq("band", "bkey")))
        .select(col("band"), col("bkey"), col("doc_id"))
        .persist()
    }
  }

  /** Word 6-grams per document — dedup_incremental_bloom's unit,
    * shared between the entry and the cached history Bloom below.
    */
  private def grams6(s: SparkSession, dir: String): DataFrame =
    spaceTokens(s, dir)
      .select(col("doc_id"),
        explode(when(size(col("tk")) >= 6,
          transform(sequence(lit(1), size(col("tk")) - lit(5)),
            i => array_join(slice(col("tk"), i, lit(6)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))

  /** One-row Bloom filter over a gram relation (q42's engine-native
    * BloomFilterAggregate on xxhash64 keys).
    */
  private def gramBloom(df: DataFrame, items: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.DatasetBridge
    df.agg(DatasetBridge.column(new BloomFilterAggregate(
      DatasetBridge.expression(xxhash64(col("gram"))),
      Literal(items), Literal(9585059L)).toAggregateExpression())
      .as("bf"))
  }

  /** The STANDING corpus's (hist_doc, gram) postings store — parquet,
    * built once per (session, corpus) exactly like [[minhashStoreHist]]
    * (a deployment maintains this store at ingest time, appending each
    * committed batch). Serving then READS the store instead of
    * re-tokenizing the whole standing corpus: before r15 the hist side
    * re-derived every history gram from text on EVERY serve — a
    * full-corpus tokenize+gram-build per batch, the exact O(corpus)
    * recurring cost the incremental design exists to avoid (the Bloom
    * gates pruned the SHUFFLE, not the scan). Columnar store scan +
    * codegen'd Bloom probe is the per-batch cost bound now; measured
    * at the sf10 decade solo min-of-3: 47.6 → see SURVEY §17.
    */
  private def histGramStore(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "histgrams") {
      OracleDumps.housekeep(s)
      val store = "target/graft_scratch/histgram_store_" +
        OracleDumps.scratchSlug(dir) + "_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      grams6(s, dir).filter(col("doc_id") % 10 =!= 0)
        .select(col("doc_id").as("hist_doc"), col("gram"))
        .write.mode("overwrite").parquet(store)
      s.read.parquet(store)
    }

  /** The STANDING corpus's 6-gram Bloom — the ~MB index artifact the
    * incremental gate probes. Built once per (session, corpus) from
    * the postings store and persisted, like every other standing index
    * here (a deployment builds it at ingest time and reuses it across
    * batches); the entry's timing then measures the per-batch serving
    * cost, which is the recurring one.
    */
  private def histGramBloom(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "histbloom")(
      gramBloom(histGramStore(s, dir).select(col("gram")), 1000000L)
        .persist())

  /** Pre-materialize the session signature caches (shingles + banded
    * MinHash sigs + the standing-corpus gram Bloom) — signature-store
    * build is setup shared by every dedup entry (same contract as
    * SimilarityOps.warmCaches).
    */
  def warmCaches(s: SparkSession, dir: String): Unit = {
    bandedSigs(s, dir).count()
    minhashStoreHist(s, dir)
    histGramStore(s, dir)
    histGramBloom(s, dir).count()
  }

  /** SimHash64 signature per document (shared by the dedup_simhash
    * entry and the oracle dump).
    */
  private def simhashSigs(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .withColumn("tokens", tokensOf(col("text")))
      .select(col("doc_id"), SimHash64.column(col("tokens")).as("sig"))
  }

  /** Distinct-signature count at which the simhash pigeonhole key
    * escalates from depth 2 to depth 3 ([[simhashKeyDepth]]): expected
    * random sig-pair candidates at depth 2 are 16·C(D,2)/2^28 ≈
    * D²/2^25 — still ≤ 32 candidates per signature at D = 2^30/…
    * concretely ≤ D·2^-1 at D = 2^24, where the extra 4× key volume
    * of depth 3 starts paying for its ~2^9 further collision cut.
    */
  private[graft] val SimhashDepth3Sigs = 1L << 24

  /** Pigeonhole recursion depth for the distinct-signature bucket key,
    * by distinct-signature count D (the dedup_embedding log₂(n/16)
    * pattern applied to hamming blocking). The SUB-CHUNK WIDTH cannot
    * grow — 4 chunks must cover the 48 non-block bits for the ≤3-error
    * pigeonhole to hold, capping each at 12 bits — so the scaling
    * dimension is recursion DEPTH: each level re-applies the
    * pigeonhole to the bits the previous level left over (16-bit
    * block → 12-bit sub-chunk of the other 48 → 9-bit sub-sub-chunk
    * of the remaining 36), multiplying keys per sig by 4 and widening
    * the keyspace: depth 2 = 16 keys over 2^28, depth 3 = 64 keys
    * over 2^37. Expected random candidates: D²/2^25 (d2) vs D²/2^32
    * (d3) — the d2 form passes 2⁹ more random pairs, quadratically
    * in D, while d3 only ever costs 4× keyed rows (linear in D).
    * Recall stays EXACT at every depth (each level is a pigeonhole
    * argument, not a probabilistic one); Round15Spec pins d2 ≡ d3
    * output and the occupancy bound that chooses the switch point.
    */
  private[graft] def simhashKeyDepth(distinctSigs: Long): Int =
    if (distinctSigs < SimhashDepth3Sigs) 2 else 3

  /** The depth-d pigeonhole key array for one 64-bit `sig` column —
    * a transform() over i = (block b, sub j[, sub-sub k]) combos.
    * rest48 = the three non-b blocks concatenated (rotated so every
    * shift stays < 64 — a `<< 64` would wrap under Java shift
    * semantics); rest36 = rest48 with sub-chunk j spliced out.
    */
  private[graft] def simhashKeyExpr(depth: Int): String = depth match {
    case 2 =>
      """transform(sequence(0, 15), i ->
          (i * 268435456L)
          + (((sig >> ((i div 4) * 16)) & 65535) * 4096)
          + ((( ((sig >> ((((i div 4) + 1) % 4) * 16)) & 65535)
              | (((sig >> ((((i div 4) + 2) % 4) * 16)) & 65535) << 16)
              | (((sig >> ((((i div 4) + 3) % 4) * 16)) & 65535) << 32)
            ) >> ((i % 4) * 12)) & 4095))"""
    case 3 =>
      val b = "(i div 16)"
      val j = "((i div 4) % 4)"
      val k = "(i % 4)"
      val rest48 = s"""( ((sig >> ((($b + 1) % 4) * 16)) & 65535)
          | (((sig >> ((($b + 2) % 4) * 16)) & 65535) << 16)
          | (((sig >> ((($b + 3) % 4) * 16)) & 65535) << 32))"""
      val block = s"((sig >> ($b * 16)) & 65535)"
      val sub = s"(($rest48 >> ($j * 12)) & 4095)"
      val rest36 = s"(($rest48 & ((1L << ($j * 12)) - 1L)) " +
        s"| (($rest48 >> (($j + 1) * 12)) << ($j * 12)))"
      val subsub = s"(($rest36 >> ($k * 9)) & 511)"
      // key layout: i(6b) · 2^37 | block(16b) · 2^21 | sub(12b) · 2^9
      // | subsub(9b) — 43 bits, collision-free packing
      s"""transform(sequence(0, 63), i ->
          (i * 137438953472L) + ($block * 2097152L)
          + ($sub * 512L) + $subsub)"""
    case d => sys.error(s"simhash key depth $d unsupported")
  }

  /** dedup_simhash plan (shared with Round15Spec, which forces both
    * key depths and asserts identical output). See the entry scaladoc
    * for the r14 distinct-sig collapse; `forceDepth` overrides the
    * corpus-size auto choice ([[simhashKeyDepth]]), whose input D is
    * bounded CHEAPLY: distinct sigs ≤ documents, and the doc count is
    * a zero-column parquet count-star (footers + page headers, no
    * value decode) — the exact distinct-sig
    * count (a full signature pass) is only ever paid on corpora the
    * doc count says might actually need depth 3.
    */
  private[graft] def dedupSimhash(s: SparkSession, dir: String,
      forceDepth: Option[Int] = None): DataFrame = {
    val sig = simhashSigs(s, dir)
    val distinctSig = sig.select(col("sig")).distinct()
    val depth = forceDepth.getOrElse {
      val nDocs = t(s, dir, "documents").count()
      if (nDocs < SimhashDepth3Sigs) 2
      else {
        // the exact distinct count is a full signature shuffle — on
        // corpora past the depth-3 gate, persist it so the keying
        // below reuses the SAME materialization instead of paying the
        // shuffle twice (ADVICE r15). Residency is BOUNDED to one
        // corpus, not left to executor LRU (ADVICE r16): entering the
        // gate swaps the session's single scratch slot, unpersisting
        // the previous corpus's distinct-sig set, so multi-corpus
        // suite runs never accumulate these.
        simhashScratch.synchronized {
          Option(simhashScratch.put(s, distinctSig))
            .foreach(_.unpersist(blocking = false))
        }
        distinctSig.persist()
        simhashKeyDepth(distinctSig.count())
      }
    }
    val keyed = distinctSig
      .select(col("sig"), explode(expr(simhashKeyExpr(depth))).as("bkey"))
    val sigPairs = keyed.select(col("bkey"), col("sig").as("sig_a"))
      .join(keyed.select(col("bkey"), col("sig").as("sig_b")), "bkey")
      .filter(col("sig_a") <= col("sig_b"))
      .select(col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= 3)
    // expand to doc pairs: both orientations for distinct sigs
    // (a < b does not imply sig(a) <= sig(b)), the diagonal once
    val ordered = sigPairs.filter(col("sig_a") =!= col("sig_b"))
      .select(col("sig_b").as("s1"), col("sig_a").as("s2"),
        col("hamming"))
      .union(sigPairs.select(col("sig_a").as("s1"),
        col("sig_b").as("s2"), col("hamming")))
    ordered
      .join(sig.select(col("sig").as("s1"), col("doc_id").as("a")), "s1")
      .join(sig.select(col("sig").as("s2"), col("doc_id").as("b")), "s2")
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), col("hamming"))
      .orderBy(col("a"), col("b"))
  }

  /** Random-hyperplane LSH bucket keys per embedding (shared by the
    * dedup_embedding entry and the oracle dump): 4 tables of
    * deterministic (seed 42) hyperplanes; a vector's key per table is
    * its sign bits, disambiguated by the table id in the high bits.
    * Bits per table SCALE with corpus size (≥6, targeting ~16 vectors
    * per bucket): a fixed bit count is a fixed 2^bits buckets, whose
    * occupancy — and therefore candidate PAIR count — grows
    * quadratically with the corpus (measured at the sf1 decade:
    * 15 s with 6 fixed bits over 20k vectors). More bits cost recall
    * per table; the 4 OR-ed tables buy it back.
    */
  private def embeddingBuckets(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val n = emb.count()
    val bits = math.max(6, math.ceil(
      math.log(math.max(n / 16.0, 1.0)) / math.log(2.0)).toInt)
    val rng = new scala.util.Random(42)
    val tables = Seq.fill(4)(Seq.fill(bits)(Seq.fill(64)(rng.nextGaussian())))
    val keys = tables.zipWithIndex.map { case (planes, ti) =>
      planes.zipWithIndex.map { case (p, i) =>
        when(Vectors.dot(col("embedding"), typedLit(p)) >= 0,
          lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(ti.toLong << 32)
    }
    // pre-normalize once per vector so the per-pair work is a
    // single dot product (not dot + two norms)
    emb
      .withColumn("nv", Vectors.normalized(col("embedding")))
      .select(col("vec_id"), col("nv"),
        explode(array(keys: _*)).as("bucket"))
  }

  /** Dedup oracle-base dumps. The 64-bit wrapping hashes themselves
    * (MinHash permutations, SimHash, hyperplane sign keys over floats,
    * winnowing) are inexpressible in DuckDB — so [[Verify]] dumps
    * exactly those CANDIDATE-GENERATION intermediates, and the oracle
    * re-runs everything downstream in SQL: bucket/band joins, split
    * logic, exact Jaccard from text-derived shingles, hamming via
    * bit_count∘xor, cosine via the bit-exact list_reduce fold, and
    * connected components as a recursive CTE. The hash computation
    * itself is spec'd directly (DedupSpec planted pairs). Paths are
    * corpus-scoped (see [[OracleDumps]]) so interleaved runs against
    * other dirs can't clobber the gate's dumps; `dumpSql` is the
    * placeholder form baked into the static SQL.
    */
  def oracleDumps(s: SparkSession, dir: String): Unit = {
    val base = s"${OracleDumps.root(s, dir)}/dedup"
    OracleDumps.write(bandedSigs(s, dir), s"$base/banded")
    OracleDumps.write(simhashSigs(s, dir), s"$base/simsig")
    OracleDumps.write(
      embeddingBuckets(s, dir).select(col("bucket"), col("vec_id")),
      s"$base/embbuckets")
    OracleDumps.write(
      winnowFp(t(s, dir, "documents").select(col("doc_id"), col("text"))),
      s"$base/substrfp")
  }
  private val dumpSql = s"${OracleDumps.SqlRoot}/dedup"

  /** doc_id + word-3-shingle distinct set as a DuckDB CTE — the SQL
    * twin of [[shingled]], shared by the minhash-family oracles.
    */
  private val shinglesSql =
    """sh AS (SELECT doc_id, list_distinct(list_transform(
        range(0, greatest(len(toks)-3, 0)+1),
        i -> concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]))) AS shingles
      FROM (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        FROM documents))"""

  /** LSH candidates over the dumped banded signatures: `cand` holds
    * every (a < b) doc pair sharing a (band, bkey) bucket. */
  private val bandCandCtes =
    s"""bd AS (SELECT band, bkey, doc_id
          FROM read_parquet('$dumpSql/banded/*.parquet')),
        cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bd l JOIN bd r ON l.band = r.band AND l.bkey = r.bkey
            AND l.doc_id < r.doc_id)"""

  /** documents as (doc_id, tk): lower-cased space tokens, empty ones
    * dropped — the word n-gram entries' tokenizer. */
  private def spaceTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "),
          x => length(x) > lit(0)).as("tk"))

  /** SQL twin of [[spaceTokens]]. */
  private val spaceTokensCte =
    """toks AS (SELECT doc_id,
            list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS tk FROM documents)"""

  /** Build-once half of dedup_incremental's lifecycle: historical
    * banded signatures persisted as a band-partitioned parquet store
    * (the on-disk LSH posting-list layout). Built once per (session,
    * dir) — in production this is the standing index a continuous
    * ingest job probes; rebuilding it inside every probe would make
    * the entry time store-build, not the O(batch) probe. The path is
    * applicationId-unique so concurrent sessions sharing
    * target/graft_scratch never race on one store.
    */
  private def minhashStoreHist(s: SparkSession, dir: String): DataFrame =
    IndexCache.getOrBuild(s, dir, "minhash_store") {
      OracleDumps.housekeep(s)
      val store = "target/graft_scratch/minhash_store_" +
        OracleDumps.scratchSlug(dir) + "_" +
        s.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
      bandedSigs(s, dir).filter(!(col("doc_id") % 10 === 0))
        .repartition(col("band"))
        .write.mode("overwrite").partitionBy("band").parquet(store)
      s.read.parquet(store)
    }

  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = shingledCached(s, dir)
    val banded = bandedSigs(s, dir)
    val pairs = pairsFromBuckets(banded, Seq("band", "bkey"))
    val sa = sh.toDF("a", "sh_a")
    val sb = sh.toDF("b", "sh_b")
    pairs.join(sa, "a").join(sb, "b")
      .withColumn("jaccard", JaccardSim.column(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Connected components over an undirected pair list `(a, b)` by
    * hash-min label propagation: every vertex starts labeled with its
    * own id; each round every vertex takes the min label among itself
    * and its neighbors; fixpoint = each component uniformly labeled
    * with its smallest member id. Rounds needed = graph diameter —
    * near-dup clusters are shallow (dups of dups of one original), so
    * a handful of shuffle rounds closes transitivity that pairwise
    * thresholds alone cannot (A≈B≈C with A̸≈C still clusters).
    *
    * Scale: each round is one self-equi-join + one min-groupBy — all
    * hash-shuffles on vertex id, never materializing anything bigger
    * than the edge list. `localCheckpoint` truncates the growing plan
    * lineage each round (on a cluster, prefer `checkpoint` to a
    * reliable dir). For adversarially long chains swap in
    * large-star/small-star (alternating min-propagation that contracts
    * paths in O(log n) rounds); spool-scale dup graphs don't need it.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    // Convergence probe WITHOUT a per-round join: labels only ever
    // take a min, so each vertex's label is monotone non-increasing
    // and a round changed something iff Σlabel strictly decreased.
    // (DECIMAL sum — a 100 TB id space overflows a BIGINT Σ.)
    // sum() over ZERO rows is SQL NULL — an empty pair list (nothing
    // near-duplicated) must converge to an empty result, not NPE
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast("decimal(38,0)")))
        .head.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // LAZY checkpoint: the convergence probe below is the round's
      // single action — it materializes the checkpointed labels AND
      // answers "did anything change", instead of paying one eager
      // materialization plus one probe per round. Superseded rounds'
      // checkpoint blocks are released by the ContextCleaner once the
      // old `labels` reference drops — storage is bounded by GC
      // cadence, not by total rounds.
      val next = edges
        .join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
        .union(labels)
        .groupBy(col("id")).agg(min(col("label")).as("label"))
        .localCheckpoint(false)
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
      iter += 1
    }
    edges.unpersist()
    // min-propagation needs diameter rounds; a component longer than
    // maxIter would return SPLIT clusters — fail loudly, never silently
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter) — raise maxIter or " +
        "switch to large-star/small-star contraction")
    labels
  }

  val entries: Seq[Entry] = Seq(
    Entry(
      "dedup_exact",
      // Exact dedup: hash-groupBy on sha256(normalized text); keeper =
      // min doc_id. One shuffle on the hash — the 100 TB-safe form.
      (s, dir) =>
        t(s, dir, "documents")
          .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy(col("h")),
      Some("""SELECT sha256(lower(trim(text))) AS h, MIN(doc_id) AS keep_id,
        COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY h""")),

    Entry(
      "dedup_minhash",
      // MinHash + LSH: 64 xxhash64 permutations over 3-word shingles,
      // 16 bands x 4 rows — the canonical banding for a ~0.5 Jaccard
      // threshold ((1/16)^(1/4) ≈ 0.5): near-dup pairs match some band
      // with prob 1-(1-j^4)^16 while low-similarity pairs almost never
      // do, keeping the candidate set (and the bucket shuffle) small.
      // Docs sharing any band bucket are candidates; exact Jaccard
      // >= 0.5 within buckets confirms and removes false positives.
      // Shingles/signatures are cached — they feed both the bucket join
      // and the verification join.
      (s, dir) => {
        minhashPairs(s, dir).orderBy(col("a"), col("b"))
      },
      // Candidates re-joined in SQL from the DUMPED banded signatures
      // (the 64-bit permutations are the one inexpressible step);
      // exact-Jaccard verification re-derived ENTIRELY from text via
      // the SQL shingle twin — int/int division, exact on both engines.
      Some(s"""WITH $shinglesSql,
        $bandCandCtes,
        v AS (SELECT a, b,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(x.shingles, y.shingles)))
              AS jaccard
          FROM cand JOIN sh x ON cand.a = x.doc_id
            JOIN sh y ON cand.b = y.doc_id)
        SELECT a, b, jaccard FROM v WHERE jaccard >= 0.5
        ORDER BY a, b""")),

    Entry(
      "dedup_clusters",
      // Near-dup CLUSTERS: MinHash-LSH pairs closed under transitivity
      // by [[connectedComponents]] — each clustered doc labeled with
      // its component's min doc_id (the canonical keeper), plus the
      // cluster size. This is the step that turns pairwise similarity
      // into the actual keep/drop decision of a corpus dedup pass.
      (s, dir) => {
        val cc = connectedComponents(minhashPairs(s, dir).select(
          col("a"), col("b")))
        cc.groupBy(col("label").as("cluster"))
          .agg(count(lit(1)).as("cluster_size"),
            sort_array(collect_list(col("id"))).as("members"))
          .select(col("cluster"), col("cluster_size"),
            concat_ws(",", col("members")).as("members"))
          .orderBy(col("cluster"))
      },
      // Same pair derivation as the dedup_minhash oracle, then
      // connected components AS SQL: a recursive CTE propagates every
      // reachable label to every vertex (undirected closure), min per
      // vertex = its component's canonical keeper — independently
      // re-deriving what the distributed hash-min loop computes.
      Some(s"""WITH RECURSIVE $shinglesSql,
        $bandCandCtes,
        pv AS (SELECT a, b FROM (SELECT a, b,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(x.shingles, y.shingles)))
              AS jaccard
          FROM cand JOIN sh x ON cand.a = x.doc_id
            JOIN sh y ON cand.b = y.doc_id) WHERE jaccard >= 0.5),
        edges AS (SELECT a AS src, b AS dst FROM pv
          UNION SELECT b, a FROM pv),
        reach(id, lab) AS (
          SELECT src, src FROM edges
          UNION
          SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id),
        lab AS (SELECT id, MIN(lab) AS cluster FROM reach GROUP BY id)
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size,
          string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
        FROM lab GROUP BY cluster ORDER BY cluster""")),

    Entry(
      "dedup_containment",
      // Asymmetric CONTAINMENT dedup — the doc-inside-doc case Jaccard
      // misses (a quote page wrapping an article, a page embedding a
      // license text: |A∩B|/|A| is high while Jaccard is diluted by
      // the container's extra content). Candidates come from the same
      // shared LSH banding as dedup_minhash (one bucket shuffle, no
      // n²; a production containment index additionally bands on the
      // SMALLER side's signature to recover high-containment/
      // low-Jaccard pairs the symmetric bands lose — the documented
      // recall trade), then each candidate pair is verified with exact
      // shingle containment in BOTH directions at τ=0.6. Integer set
      // sizes + one division per direction — fully re-derived by the
      // oracle from the dumped banded signatures + SQL shingle twin.
      (s, dir) => {
        val cand = pairsFromBuckets(bandedSigs(s, dir), Seq("band", "bkey"))
        val sh = shingledCached(s, dir)
        val joined = cand.join(sh.toDF("a", "sh_a"), "a")
          .join(sh.toDF("b", "sh_b"), "b")
          .withColumn("n_common",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("n_a", size(col("sh_a")).cast("long"))
          .withColumn("n_b", size(col("sh_b")).cast("long"))
        val ab = joined.select(col("a").as("contained"),
          col("b").as("container"), col("n_common"),
          (col("n_common").cast("double") / col("n_a").cast("double"))
            .as("containment"))
        val ba = joined.select(col("b").as("contained"),
          col("a").as("container"), col("n_common"),
          (col("n_common").cast("double") / col("n_b").cast("double"))
            .as("containment"))
        ab.unionAll(ba).filter(col("containment") >= 0.6)
          .orderBy(col("contained"), col("container"))
      },
      Some(s"""WITH $shinglesSql,
        $bandCandCtes,
        v AS (SELECT a, b,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT)
              AS n_common,
            CAST(len(x.shingles) AS BIGINT) AS n_a,
            CAST(len(y.shingles) AS BIGINT) AS n_b
          FROM cand JOIN sh x ON cand.a = x.doc_id
            JOIN sh y ON cand.b = y.doc_id),
        u AS (SELECT a AS contained, b AS container, n_common,
            CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment
          FROM v
          UNION ALL SELECT b, a, n_common,
            CAST(n_common AS DOUBLE) / CAST(n_b AS DOUBLE) FROM v)
        SELECT contained, container, n_common, containment FROM u
        WHERE containment >= 0.6 ORDER BY contained, container""")),

    Entry(
      "dedup_threshold_report",
      // τ-sweep observability — the report that picks the dedup
      // threshold BEFORE committing a 100 TB dedup run: exact-Jaccard
      // histogram of all LSH candidate pairs (banding admits
      // false-positive pairs well below the 0.5 design point — their
      // mass shows where the τ knife actually cuts). Bins are
      // INTEGER-EXACT: bin = min(10·|∩| div |∪|, 9) — no float
      // boundary, the cross-multiplied trick — with per-bin pair
      // count and min/max observed Jaccard. Same single bucket
      // shuffle + shingle verify the other dedup entries share; the
      // report itself is a ≤10-row aggregate.
      (s, dir) => {
        val cand = pairsFromBuckets(bandedSigs(s, dir), Seq("band", "bkey"))
        val sh = shingledCached(s, dir)
        cand.join(sh.toDF("a", "sh_a"), "a")
          .join(sh.toDF("b", "sh_b"), "b")
          .withColumn("inter",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("uni",
            size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("bin",
            least(expr("(inter * 10) DIV uni"), lit(9L)))
          .withColumn("jaccard",
            col("inter").cast("double") / col("uni").cast("double"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            min(col("jaccard")).as("min_j"),
            max(col("jaccard")).as("max_j"))
          .withColumn("jaccard_lo", col("bin").cast("double") / 10.0)
          .select(col("bin"), col("jaccard_lo"), col("n_pairs"),
            col("min_j"), col("max_j"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH $shinglesSql,
        $bandCandCtes,
        v AS (SELECT a, b,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT)
              AS inter,
            CAST(len(list_distinct(list_concat(x.shingles, y.shingles)))
              AS BIGINT) AS uni
          FROM cand JOIN sh x ON cand.a = x.doc_id
            JOIN sh y ON cand.b = y.doc_id),
        binned AS (SELECT LEAST((inter * 10) // uni, 9) AS bin,
            CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
          FROM v)
        SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS jaccard_lo,
          COUNT(*) AS n_pairs, MIN(jaccard) AS min_j, MAX(jaccard) AS max_j
        FROM binned GROUP BY bin ORDER BY bin""")),

    Entry(
      "dedup_recall_report",
      // LSH RECALL observability — the dedup analog of
      // knn_recall_report: the banding's empirical S-curve, measured
      // on a bounded sample (doc_id < 200) where EXACT all-pairs
      // ground truth is affordable. Per integer Jaccard bin: how many
      // sample pairs exist vs how many the (band, bkey) buckets
      // surface as candidates. Recall ≈ 1 above the 16×4 banding's
      // 0.5 design point and falling away below it is the healthy
      // shape; a flat curve means the signature store is broken. At
      // 100 TB this runs on exactly such a sample at store-build time
      // — the all-pairs side is the expensive half, which is why a
      // recall report samples instead of sweeping the corpus.
      // Integer-exact bins (cross-multiplied); recall is one IEEE
      // division of two exact counts, so the report hash-matches.
      (s, dir) => {
        val sh = shingledCached(s, dir).filter(col("doc_id") < 200)
        val truth = sh.toDF("a", "sh_a")
          .join(broadcast(sh.toDF("b", "sh_b")), col("a") < col("b"))
          .withColumn("inter",
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
          .withColumn("uni",
            size(array_union(col("sh_a"), col("sh_b"))).cast("long"))
          .filter(col("uni") > 0)
          .withColumn("bin", least(expr("(inter * 10) DIV uni"), lit(9L)))
          .select(col("a"), col("b"), col("bin"))
        val cand = pairsFromBuckets(
            bandedSigs(s, dir).filter(col("doc_id") < 200),
            Seq("band", "bkey"))
          .withColumn("hit", lit(1L))
        truth.join(cand, Seq("a", "b"), "left")
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0L))).as("n_recalled"))
          .withColumn("recall",
            col("n_recalled").cast("double") / col("n_pairs").cast("double"))
          .orderBy(col("bin"))
      },
      // Ground truth re-derived ENTIRELY from text via the SQL shingle
      // twin; the candidate side re-joins the dumped banded signatures
      // (the 64-bit permutations are the one inexpressible step).
      Some(s"""WITH $shinglesSql,
        samp AS (SELECT doc_id, shingles FROM sh WHERE doc_id < 200),
        v AS (SELECT x.doc_id AS a, y.doc_id AS b,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS BIGINT)
              AS inter,
            CAST(len(list_distinct(list_concat(x.shingles, y.shingles)))
              AS BIGINT) AS uni
          FROM samp x JOIN samp y ON x.doc_id < y.doc_id),
        truth AS (SELECT a, b, LEAST((inter * 10) // uni, 9) AS bin
          FROM v WHERE uni > 0),
        bd AS (SELECT band, bkey, doc_id
          FROM read_parquet('$dumpSql/banded/*.parquet')
          WHERE doc_id < 200),
        cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
          FROM bd l JOIN bd r ON l.band = r.band AND l.bkey = r.bkey
            AND l.doc_id < r.doc_id),
        agg AS (SELECT t.bin, COUNT(*) AS n_pairs,
            CAST(SUM(CASE WHEN c.a IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_recalled
          FROM truth t LEFT JOIN cand c ON t.a = c.a AND t.b = c.b
          GROUP BY t.bin)
        SELECT bin, n_pairs, n_recalled,
          CAST(n_recalled AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS recall
        FROM agg ORDER BY bin""")),

    Entry(
      "dedup_incremental",
      // The CONTINUOUS-INGESTION form of MinHash dedup: history's
      // banded signatures live in a PERSISTED store (parquet
      // partitioned by band — the on-disk LSH posting-list layout);
      // an arriving batch computes only its own signatures, probes
      // the store, and verifies candidates by exact Jaccard against
      // just the candidate historical docs. Nothing historical is
      // re-shingled or re-signed per batch — what makes corpus dedup
      // O(batch) instead of O(corpus) at 100 TB. Split: doc_id % 10
      // == 0 is the arriving batch. Within-batch dups are
      // dedup_minhash over the batch itself (composition, not this
      // entry). DedupSpec pins the planted cross-split pairs.
      (s, dir) => {
        val hist = minhashStoreHist(s, dir)
          .select(col("band"), col("bkey"), col("doc_id").as("dup_of"))
        val probe = bandedSigs(s, dir).filter(col("doc_id") % 10 === 0)
          .select(col("band"), col("bkey"), col("doc_id").as("new_id"))
        val cand = hist.join(probe, Seq("band", "bkey"))
          .select(col("dup_of"), col("new_id")).distinct()
        val sh = shingledCached(s, dir)
        cand.join(sh.toDF("dup_of", "sh_a"), "dup_of")
          .join(sh.toDF("new_id", "sh_b"), "new_id")
          .withColumn("jaccard", JaccardSim.column(col("sh_a"), col("sh_b")))
          .filter(col("jaccard") >= 0.5)
          .select(col("new_id"), col("dup_of"), col("jaccard"))
          .orderBy(col("new_id"), col("dup_of"))
      },
      // The split/probe/verify pipeline re-run in SQL over the dumped
      // banded signatures: history = %10≠0, probe = %10=0, candidates
      // from the (band, bkey) join, exact Jaccard from text shingles.
      Some(s"""WITH $shinglesSql,
        bd AS (SELECT band, bkey, doc_id
          FROM read_parquet('$dumpSql/banded/*.parquet')),
        hist AS (SELECT band, bkey, doc_id AS dup_of FROM bd
          WHERE doc_id % 10 <> 0),
        probe AS (SELECT band, bkey, doc_id AS new_id FROM bd
          WHERE doc_id % 10 = 0),
        cand AS (SELECT DISTINCT dup_of, new_id
          FROM hist JOIN probe USING (band, bkey)),
        v AS (SELECT new_id, dup_of,
            CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE) /
              len(list_distinct(list_concat(x.shingles, y.shingles)))
              AS jaccard
          FROM cand JOIN sh x ON cand.dup_of = x.doc_id
            JOIN sh y ON cand.new_id = y.doc_id)
        SELECT new_id, dup_of, jaccard FROM v WHERE jaccard >= 0.5
        ORDER BY new_id, dup_of""")),

    Entry(
      "dedup_simhash",
      // SimHash (graft.functions.SimHash64, native Catalyst expression):
      // near-dups differ in <= 3 of 64 signature bits, so at least one
      // of the four 16-bit blocks matches exactly -> block-equality
      // bucketing, then hamming distance verify via bit_count(xor).
      //
      // Two scale levers added in round 14, output bit-identical:
      //
      // 1. IDENTICAL-SIGNATURE COLLAPSE. Pair discovery runs over
      //    DISTINCT signatures, not documents: a duplication-heavy
      //    corpus (the interesting case for a dedup operator — the
      //    sf10 decade corpus has 500 k docs over 4,965 distinct
      //    sigs) makes every per-document bucket quadratic in the
      //    duplication factor no matter how sharp the bucket key is
      //    (measured: 2.6e9 candidate rows at sf10, the entry's whole
      //    70 s). Distinct-sig pairs are verified once and then
      //    expanded back to (a, b) doc pairs by two sig-equality
      //    joins, so the doc-level work is proportional to the
      //    OUTPUT, which is the floor.
      //
      // 2. SUB-BLOCK SHARDED bucket key for the distinct-sig join: a
      //    16-bit block alone gives 2^16 buckets, so sig-pair
      //    candidates grow ~D²/2^16 with distinct-sig count D. For a
      //    pair whose block b matches, the OTHER 48 bits still carry
      //    all <= 3 errors, so one of their four 12-bit sub-chunks
      //    also matches exactly (double pigeonhole -> recall still
      //    exact) -> key on (b, j, block_b, sub_j) packed into one
      //    long: 16 keys per sig, 2^28-per-(b,j) keyspace, random
      //    collisions shrink by ~2^12.
      //
      // Round 15: the pigeonhole key depth AUTO-SCALES with the
      // distinct-signature count (see [[simhashKeyDepth]]) — beyond
      // 2^24 distinct sigs a third level (9-bit sub-sub-chunks of the
      // remaining 36 bits) widens the keyspace to 2^37, keeping
      // random-collision candidates sub-quadratic while recall stays
      // exact at every depth. Round15Spec pins depth-2 ≡ depth-3.
      (s, dir) => dedupSimhash(s, dir),
      // Blocking + hamming verify re-derived in SQL from the dumped
      // 64-bit signatures: the four 16-bit block keys via the same
      // shift/mask arithmetic, hamming via bit_count∘xor.
      Some(s"""WITH s AS (SELECT doc_id, sig
          FROM read_parquet('$dumpSql/simsig/*.parquet')),
        blk AS (SELECT doc_id, sig, b.b AS blk,
            (sig >> (b.b * 16)) & 65535 AS bkey
          FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b),
        pairs AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
            CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
          FROM blk l JOIN blk r ON l.blk = r.blk AND l.bkey = r.bkey
            AND l.doc_id < r.doc_id)
        SELECT a, b, hamming FROM pairs WHERE hamming <= 3
        ORDER BY a, b""")),

    Entry(
      "dedup_ngram_jaccard",
      // Character-4-gram Jaccard over prefix-blocked candidates. The
      // blocking key (xxhash64 of the 16-char prefix) is pluggable —
      // MinHash-LSH above is the general-scale path; prefix blocking is
      // the cheap variant when near-dups share document heads.
      // Hot blocks are SAMPLED, not dropped: each block keeps its 8
      // lowest doc_ids (deterministic), bounding any bucket's fan-out
      // at C(8,2) instead of C(n,2) — the property that keeps prefix
      // blocking viable at 100 TB. Sampling (vs the old df ≤ 8 drop)
      // means a >8-copy duplicate cluster sharing a prefix still
      // surfaces its sampled pairs instead of silently vanishing — the
      // recall cliff ADVICE r6 flagged. Docs beyond the cap in a hot
      // block are REPORTED only via their sampled peers; that bound is
      // the documented semantics of this entry.
      (s, dir) => {
        // native one-pass hashed grams: same Jaccard, no per-gram
        // String allocation (see NgramHashes)
        val grams = Scratch.reg(t(s, dir, "documents")
          .withColumn("grams", NgramHashes.column(col("text"), 4))
          .select(col("doc_id"), col("grams"),
            xxhash64(substring(col("text"), 1, 16)).as("blk")))
        val blocked = grams
          .withColumn("rn", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("blk"))
              .orderBy(col("doc_id"))))
          .filter(col("rn") <= 8)
        val l = blocked.select(col("blk"), col("doc_id").as("a"),
          col("grams").as("g_a"))
        val r = blocked.select(col("blk"), col("doc_id").as("b"),
          col("grams").as("g_b"))
        l.join(r, "blk")
          .filter(col("a") < col("b"))
          .withColumn("jaccard", JaccardSim.column(col("g_a"), col("g_b")))
          .filter(col("jaccard") >= 0.6)
          .select(col("a"), col("b"), col("jaccard"))
          .distinct()
          .orderBy(col("a"), col("b"))
      },
      // The oracle works on gram STRINGS where we work on FNV64 gram
      // hashes, and blocks on the raw 16-char prefix where we block on
      // its xxhash64 — equivalent as long as hash-equality ⇔ string-
      // equality (no observed collisions on the fixed test corpora;
      // jaccard itself is an exact int/int division on both sides).
      Some("""WITH g AS (SELECT doc_id, substring(text,1,16) AS blk,
            CASE WHEN len(text) < 4 THEN [text]
                 ELSE list_distinct(list_transform(
                   range(1, len(text)-2), i -> substring(text,i,4)))
            END AS grams
          FROM documents),
        k AS (SELECT doc_id, blk, grams FROM (
            SELECT *, row_number() OVER (PARTITION BY blk
              ORDER BY doc_id) AS rn FROM g)
          WHERE rn <= 8),
        pairs AS (SELECT l.doc_id AS a, r.doc_id AS b,
            CAST(len(list_intersect(l.grams, r.grams)) AS DOUBLE) /
              len(list_distinct(list_concat(l.grams, r.grams))) AS jaccard
          FROM k l JOIN k r ON l.blk = r.blk AND l.doc_id < r.doc_id)
        SELECT DISTINCT a, b, jaccard FROM pairs
        WHERE jaccard >= 0.6 ORDER BY a, b""")),

    Entry(
      "dedup_embedding",
      // Embedding near-dup via random-hyperplane LSH, banded like
      // MinHash: 4 tables x 6 deterministic hyperplanes; a vector's key
      // in each table is its 6 sign bits; same-key pairs are candidates
      // and exact cosine >= 0.35 within buckets confirms. Multiple
      // small tables trade one wide (low-recall) signature for OR-ed
      // recall while the candidate join stays one hash-shuffle.
      (s, dir) => {
        val keyed = Scratch.reg(embeddingBuckets(s, dir))
        val l = keyed.select(col("bucket"), col("vec_id").as("a"),
          col("nv").as("e_a"))
        val r = keyed.select(col("bucket"), col("vec_id").as("b"),
          col("nv").as("e_b"))
        l.join(r, "bucket")
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"),
            Vectors.dot(col("e_a"), col("e_b")).as("cos"))
          .filter(col("cos") >= 0.35)
          .distinct()
          .orderBy(col("a"), col("b"))
      },
      // Candidates from the dumped bucket keys (float-sign hyperplane
      // hashes are the inexpressible step); the cosine verify is
      // re-computed in SQL with the bit-exact normalize+dot fold the
      // knn_brute oracle proved (list_reduce ≡ the sequential kernel).
      Some(s"""WITH ${SimilarityOps.normCte()},
        k AS (SELECT bucket, vec_id
          FROM read_parquet('$dumpSql/embbuckets/*.parquet')),
        cand AS (SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM k l JOIN k r ON l.bucket = r.bucket
            AND l.vec_id < r.vec_id),
        v AS (SELECT a, b,
            list_reduce(list_transform(range(1, len(x.e)+1),
              i -> x.e[i]*y.e[i]), (p,q) -> p+q) AS cos
          FROM cand JOIN norm x ON cand.a = x.vec_id
            JOIN norm y ON cand.b = y.vec_id)
        SELECT a, b, cos FROM v WHERE cos >= 0.35 ORDER BY a, b""")),

    Entry(
      "dedup_substring",
      // Substring-level near-dup pairs (the "docs share a long common
      // substring" detector, the contamination/boilerplate shape exact
      // shingle-Jaccard misses): winnowing fingerprints (k=8 chars,
      // window 4 — text_fingerprint's scheme) → keep DISCRIMINATIVE
      // fingerprints only (doc-frequency 2..8; dropping df=1 removes
      // non-candidates, dropping df>8 is the stop-shingle cut that
      // bounds any bucket's pair fan-out at C(8,2)) → count shared
      // fingerprints per pair, keep ≥ 3. Shuffles: one on the
      // fingerprint (bucket join), one on the pair — never n².
      (s, dir) => {
        substringPairs(
          t(s, dir, "documents").select(col("doc_id"), col("text")))
      },
      // The df-band and pair-counting logic re-run in SQL over the
      // dumped per-doc winnowing fingerprints (the rolling 64-bit hash
      // is the inexpressible step; Round5Spec covers it directly).
      Some(s"""WITH f0 AS (SELECT doc_id, fp
          FROM read_parquet('$dumpSql/substrfp/*.parquet')),
        rare AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df
            FROM f0 GROUP BY fp) WHERE df BETWEEN 2 AND 8),
        keyed AS (SELECT f0.fp, f0.doc_id FROM f0 JOIN rare USING (fp)),
        p AS (SELECT l.doc_id AS a, r.doc_id AS b,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM keyed l JOIN keyed r ON l.fp = r.fp
            AND l.doc_id < r.doc_id
          GROUP BY 1, 2)
        SELECT a, b, n_shared FROM p WHERE n_shared >= 3
        ORDER BY a, b""")),

    Entry(
      "dedup_decontaminate",
      // Train/eval DECONTAMINATION: flag training docs sharing any
      // verbatim 8-gram with the eval split (doc_id % 50 == 0, capped
      // at doc_id < 25000, stands in for the benchmark set). Exact
      // 8-gram strings on both engines (the space tokenizer with
      // proven DuckDB parity), so this one is fully oracled, unlike
      // the hash-based dedup family. Plan shape: the eval side is tiny
      // by construction (benchmarks are FIXED-size — the doc_id cap is
      // what makes that true under corpus growth: an uncapped modulo
      // split scaled the eval grams WITH the corpus, measured 13×/
      // decade at sf1→sf10), so its distinct grams BROADCAST past the
      // full training scan — one shuffle total, on the output doc_id.
      // At 100 TB the eval-gram set is still MBs, exactly this plan.
      (s, dir) => {
        val toks = spaceTokens(s, dir)
        val grams = toks.select(col("doc_id"),
          explode(when(size(col("tk")) >= 8,
            transform(sequence(lit(1), size(col("tk")) - lit(7)),
              i => array_join(slice(col("tk"), i, lit(8)), " ")))
            .otherwise(array().cast("array<string>"))).as("gram"))
        val ev = grams
          .filter(col("doc_id") % 50 === 0 && col("doc_id") < 25000)
          .select(col("doc_id").as("eval_doc"), col("gram")).distinct()
        grams.filter(col("doc_id") % 50 =!= 0 || col("doc_id") >= 25000)
          .join(broadcast(ev), "gram")
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared"),
            countDistinct(col("eval_doc")).as("n_eval_docs"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $spaceTokensCte,
        grams AS (SELECT doc_id, unnest([array_to_string(tk[i:i+7], ' ')
            for i in range(1, greatest(len(tk) - 7, 0) + 1)]) AS gram
          FROM toks),
        ev AS (SELECT DISTINCT doc_id AS eval_doc, gram FROM grams
          WHERE doc_id % 50 = 0 AND doc_id < 25000),
        tr AS (SELECT doc_id, gram FROM grams
          WHERE doc_id % 50 <> 0 OR doc_id >= 25000)
        SELECT tr.doc_id, COUNT(DISTINCT tr.gram) AS n_shared,
          COUNT(DISTINCT ev.eval_doc) AS n_eval_docs
        FROM tr JOIN ev ON tr.gram = ev.gram
        GROUP BY tr.doc_id ORDER BY tr.doc_id""")),

    Entry(
      "dedup_decontam_frac",
      // Decontamination OVERLAP-FRACTION report (the GPT-3/PaLM-style
      // metric): dedup_decontaminate answers "does this training doc
      // share ANY eval n-gram"; this answers "how much of it is
      // contaminated" — per doc, the fraction of token POSITIONS
      // covered by at least one matching 13-gram (matches may overlap,
      // so coverage is a union of [start, start+12] intervals, counted
      // as distinct positions). Integer counts and a single k/n
      // division → exactly oracle-able. Plan shape: identical
      // broadcast topology to dedup_decontaminate (FIXED-size eval set
      // — doc_id % 5 capped at doc_id < 2500 — broadcast past the full
      // training scan; see that entry for why the cap matters at the
      // decade scale); the coverage explode fans out ≤13 rows per
      // MATCH, so its cost is bounded by the contamination volume, not
      // the corpus — at 100 TB this is the same one-shuffle (on
      // doc_id) plan.
      //
      // Measured and REJECTED (round 15): replacing the 13-word gram
      // strings with rotate-XOR combinations of per-token xxhash64
      // (zip of 13 shifted slices of a once-hashed token array — no
      // string ever built, 8-byte join keys) lost its A/B decisively:
      // 4.16 s vs the committed 0.91 s at sf0.1 solo min-of-3, and
      // did not finish 3 reps in 10 min at sf10 (strings: 56 s/rep).
      // The 13-column arrays_zip materializes an ng×13-long struct
      // array per row, and InferFiltersFromGenerate clones the whole
      // construction into scan-side predicates where pushdown inlines
      // the token-hash transform into each slice — a ~40× constant on
      // per-token work that dwarfs what the ~90 B/gram string build
      // costs. Strings stay; the broadcast join never shuffles them.
      (s, dir) => {
        val toks = spaceTokens(s, dir)
        val grams = toks.select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          explode(when(size(col("tk")) >= 13,
            transform(sequence(lit(1), size(col("tk")) - lit(12)),
              i => struct(i.as("start"),
                array_join(slice(col("tk"), i, lit(13)), " ").as("gram"))))
            .otherwise(array().cast(
              "array<struct<start:int,gram:string>>"))).as("g"))
          .select(col("doc_id"), col("n_tokens"),
            col("g.start").as("start"), col("g.gram").as("gram"))
        val ev = grams
          .filter(col("doc_id") % 5 === 0 && col("doc_id") < 2500)
          .select(col("gram")).distinct()
        grams.filter(col("doc_id") % 5 =!= 0 || col("doc_id") >= 2500)
          .join(broadcast(ev), "gram")
          .select(col("doc_id"), col("n_tokens"),
            explode(sequence(col("start"),
              col("start") + lit(12))).as("pos"))
          .groupBy(col("doc_id"), col("n_tokens"))
          .agg(countDistinct(col("pos")).as("n_contaminated"))
          .select(col("doc_id"), col("n_tokens"),
            col("n_contaminated"),
            (col("n_contaminated").cast("double") /
              col("n_tokens").cast("double")).as("frac"))
          .orderBy(col("doc_id"))
      },
      // Parallel unnests zip in DuckDB (file-order pairing), giving
      // (start, gram) per position; range(start, start+13) matches
      // Spark's inclusive sequence(start, start+12). frac is the one
      // float: the same single INT/INT division on both engines.
      Some(s"""WITH $spaceTokensCte,
        grams AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
            unnest(range(1, greatest(len(tk) - 12, 0) + 1)) AS start,
            unnest([array_to_string(tk[i:i+12], ' ')
              for i in range(1, greatest(len(tk) - 12, 0) + 1)]) AS gram
          FROM toks),
        ev AS (SELECT DISTINCT gram FROM grams
          WHERE doc_id % 5 = 0 AND doc_id < 2500),
        tr AS (SELECT doc_id, n_tokens, start, gram FROM grams
          WHERE doc_id % 5 <> 0 OR doc_id >= 2500),
        hit AS (SELECT tr.doc_id, tr.n_tokens, tr.start
          FROM tr JOIN ev USING (gram)),
        cov AS (SELECT doc_id, n_tokens,
            unnest(range(start, start + 13)) AS pos FROM hit)
        SELECT doc_id, n_tokens,
          CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_contaminated,
          CAST(COUNT(DISTINCT pos) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            AS frac
        FROM cov GROUP BY doc_id, n_tokens ORDER BY doc_id""")),

    Entry(
      "dedup_url",
      // URL-keyed dedup — the FIRST dedup pass of every web-crawl
      // pipeline (CommonCrawl WARCs carry one record per fetch; the
      // same page is fetched under scheme/case/port/tracking-param
      // variants): canonicalize each doc's URL (TextOps.canonicalizeUrl
      // — the text_url_canon kernel) and keep the best copy per
      // canonical key (max n_chars, min doc_id tiebreak). Planted
      // variant URLs (deterministic from doc_id; case, www., default
      // port, utm params and fragments all differ across copies of the
      // same canonical page doc_id % 97). Plan: per-row projection +
      // ONE shuffle on the canonical key; the rank window and the
      // group agg share it. At 100 TB: url dedup is the cheapest
      // corpus halving there is — no content hashing, no shingles.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https")),
          lit("://"),
          when(col("doc_id") % 3 === 0, lit("WWW.Site")).otherwise(lit("site")),
          (col("doc_id") % 97).cast("string"),
          when(col("doc_id") % 3 === 0, lit(".COM")).otherwise(lit(".com")),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/p"),
          when(col("doc_id") % 5 === 0, lit("?utm_source=feed"))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit("#top")).otherwise(lit("")))
        val keyed = t(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            TextOps.canonicalizeUrl(url).as("canon_url"))
        val w = Window.partitionBy(col("canon_url"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        val best = keyed
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("canon_url"), col("doc_id").as("keep_id"),
            col("n_chars").as("keep_chars"))
        keyed.groupBy(col("canon_url"))
          .agg(count(lit(1)).as("n_copies"))
          .join(best, "canon_url")
          .select(col("canon_url"), col("keep_id"), col("keep_chars"),
            col("n_copies"))
          .orderBy(col("canon_url"))
      },
      Some("""WITH u AS (SELECT doc_id, n_chars,
          CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END || '://'
            || CASE WHEN doc_id % 3 = 0 THEN 'WWW.Site' ELSE 'site' END
            || (doc_id % 97)
            || CASE WHEN doc_id % 3 = 0 THEN '.COM' ELSE '.com' END
            || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
            || '/p'
            || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END
            || CASE WHEN doc_id % 4 = 0 THEN '#top' ELSE '' END AS url
          FROM documents),
        """ + TextOps.urlCanonCtes("doc_id, n_chars",
          "doc_id, n_chars, scheme, path") + """,
        k AS (SELECT doc_id, n_chars, """ + TextOps.CanonUrlSql +
          """ AS canon_url
          FROM c),
        r AS (SELECT canon_url, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY canon_url
            ORDER BY n_chars DESC, doc_id) AS rk FROM k)
        SELECT canon_url, doc_id AS keep_id, n_chars AS keep_chars,
          (SELECT COUNT(*) FROM k k2
            WHERE k2.canon_url = r.canon_url) AS n_copies
        FROM r WHERE rk = 1 ORDER BY canon_url""")),

    Entry(
      "dedup_lines",
      // Line/paragraph-level boilerplate dedup — CCNet's per-paragraph
      // hash dedup in miniature: split each doc into fixed 10-word
      // "lines", count each line's document frequency across the
      // corpus, strip lines appearing in >= 3 distinct docs (nav bars,
      // license banners, cookie notices at web scale), and emit the
      // surviving text's fingerprint. Exact line STRINGS key the df
      // count on both engines (at 100 TB the key becomes xxhash64 —
      // same plan, 8-byte keys). Plan: one explode shuffle for the df
      // count (map-side partial on the line key), one groupBy(doc_id)
      // to reassemble; the collect_list is bounded by the doc's own
      // line count, never the corpus.
      (s, dir) => {
        val toks = t(s, dir, "documents")
          .select(col("doc_id"),
            filter(split(col("text"), " "),
              x => length(x) > lit(0)).as("tk"))
        val lines = toks.select(col("doc_id"),
          // empty/whitespace-only docs yield NO lines on both engines:
          // unguarded, Spark's (-1 DIV 10)=0 emits one empty line while
          // DuckDB's floor division emits none (ADVICE r12)
          posexplode(when(size(col("tk")) > lit(0), transform(
            sequence(lit(0), expr("(size(tk) - 1) DIV 10")),
            i => array_join(
              slice(col("tk"), i * lit(10) + lit(1), lit(10)), " ")))
            .otherwise(expr("CAST(array() AS array<string>)")))
            .as(Seq("i", "line")))
        val df = lines.groupBy(col("line"))
          .agg(countDistinct(col("doc_id")).as("df"))
        lines.join(df, "line")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_boiler"),
            sha2(array_join(transform(
              array_sort(collect_list(when(col("df") < 3,
                struct(col("i"), col("line"))))),
              x => x.getField("line")), " "), 256).as("kept_sha"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (SELECT doc_id,
            list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        lines AS (SELECT doc_id,
            unnest(range(0, (len(tk) - 1) // 10 + 1)) AS i,
            unnest([array_to_string(tk[j*10+1:j*10+10], ' ')
              for j in range(0, (len(tk) - 1) // 10 + 1)]) AS line
          FROM toks),
        df AS (SELECT line, COUNT(DISTINCT doc_id) AS df
          FROM lines GROUP BY 1)
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
          CAST(SUM(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_boiler,
          sha256(COALESCE(string_agg(CASE WHEN df < 3 THEN line END,
            ' ' ORDER BY i), '')) AS kept_sha
        FROM lines JOIN df USING (line)
        GROUP BY doc_id ORDER BY doc_id""")),

    Entry(
      "dedup_incremental_bloom",
      // Bloom-gated ingest decontamination — the ~MB sketch that makes
      // continuous gram-level dedup affordable at 100 TB: the STANDING
      // corpus's 6-gram set is summarized once into an engine-native
      // Bloom filter (BloomFilterAggregate, the q42 machinery); each
      // arriving batch (doc_id % 10 == 0) probes it IN THE SCAN
      // (codegen'd might_contain on xxhash64(gram) — no join, no
      // shuffle for the overwhelming majority of novel grams) and only
      // the surviving candidate grams run the exact string-equality
      // verify join that removes Bloom false positives. The verify
      // join is Bloom-pruned on BOTH sides (r13): a second filter
      // built over the batch's surviving grams prunes the history
      // scan too, so neither the full history gram set nor the batch
      // shuffles — only true overlaps (plus false positives) reach
      // the exchange. (The old hist-side `.distinct()` before the
      // join shuffled every history gram per run — a correctness
      // no-op under the final countDistinct aggregates, and the sf1
      // decade's 7.1×/entry cost.) Result is bit-equal to the
      // sketch-free gram join (no false negatives), so fully
      // DuckDB-oracled. Emits per batch doc the verbatim 6-gram
      // overlap with history: (doc_id, n_shared grams, n_hist_docs
      // sharing them).
      (s, dir) => {
        import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
        import org.apache.spark.sql.graft.DatasetBridge
        def probeWith(bf: DataFrame) = DatasetBridge.column(
          BloomFilterMightContain(DatasetBridge.scalarSubquery(bf),
            DatasetBridge.expression(xxhash64(col("gram")))))
        // history = the persisted postings store (maintained at ingest
        // time; see [[histGramStore]]) — serving never re-tokenizes
        // the standing corpus
        val hist = histGramStore(s, dir)
        val batch = grams6(s, dir).filter(col("doc_id") % 10 === 0)
          .filter(probeWith(histGramBloom(s, dir))) // standing-corpus gate
        val histPruned = hist.filter(probeWith(gramBloom(
          batch.select(col("gram")), 1000000L))) // batch-candidate gate
        batch
          .join(histPruned, "gram") // exact verify kills false positives
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("gram")).as("n_shared"),
            countDistinct(col("hist_doc")).as("n_hist_docs"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH $spaceTokensCte,
        grams AS (SELECT doc_id, unnest([array_to_string(tk[i:i+5], ' ')
            for i in range(1, greatest(len(tk) - 5, 0) + 1)]) AS gram
          FROM toks),
        hist AS (SELECT DISTINCT doc_id AS hist_doc, gram FROM grams
          WHERE doc_id % 10 <> 0),
        batch AS (SELECT doc_id, gram FROM grams WHERE doc_id % 10 = 0)
        SELECT batch.doc_id,
          COUNT(DISTINCT batch.gram) AS n_shared,
          COUNT(DISTINCT hist.hist_doc) AS n_hist_docs
        FROM batch JOIN hist USING (gram)
        GROUP BY batch.doc_id ORDER BY batch.doc_id"""))
  )

  /** Winnowing-fingerprint shared-substring candidate pairs; see the
    * `dedup_substring` entry. Factored out so specs can run it on
    * planted fixtures.
    */
  /** Exploded (doc_id, fp) winnowing fingerprints (k=8 chars, window
    * 4) — single-pass native expression, shared by substringPairs and
    * the oracle dump.
    */
  private def winnowFp(docs: DataFrame): DataFrame =
    docs.withColumn("fp", explode(
        org.apache.spark.sql.graft.DatasetBridge.column(
          graft.functions.WinnowFingerprints(
            org.apache.spark.sql.graft.DatasetBridge
              .expression(col("text")), 8, 4))))
      .select(col("doc_id"), col("fp"))

  def substringPairs(docs: DataFrame, minDf: Int = 2, maxDf: Int = 8,
      minShared: Int = 3): DataFrame = {
    // the fingerprint relation feeds the df count AND both sides of the
    // pair self-join — without a persist the winnowing pipeline
    // re-executes per branch. Single-pass native winnowing
    // (graft.functions.WinnowFingerprints): no per-position String
    // gram allocation, no intermediate arrays.
    val fp = Scratch.reg(winnowFp(docs))
    val rare = fp.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf && col("df") <= maxDf)
      .select(col("fp"))
    val keyed = Scratch.reg(fp.join(broadcast(rare), "fp"))
    keyed.select(col("fp"), col("doc_id").as("a"))
      .join(keyed.select(col("fp"), col("doc_id").as("b")), "fp")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("a"), col("b"))
  }
}
