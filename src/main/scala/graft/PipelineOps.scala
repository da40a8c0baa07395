package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Corpus-curation operators (SURVEY.md §2.C round 2): the composed
  * pipeline shapes a training-data run actually executes — filter →
  * dedup → count, deterministic sampling/splits, and token-budget
  * sequence packing. All integer/hash-exact, so each is DuckDB-oracled
  * end-to-end (no float thresholds to disagree on).
  *
  * Scale: quality filters are per-row (scan-pushable), dedup is the
  * one hash-shuffle, sampling is stateless hash arithmetic (no
  * sort/limit — every executor decides membership locally), packing
  * shuffles once per stratum.
  */
object PipelineOps {

  /** Non-empty whitespace tokens. */
  private def words(c: org.apache.spark.sql.Column) =
    filter(split(c, " "), x => length(x) > lit(0))

  val entries: Seq[Entry] = Seq(
    Entry(
      "pipeline_corpus",
      // The end-to-end curation pass: drop short/punct-heavy docs,
      // collapse exact duplicates keeping the smallest doc_id, emit the
      // surviving corpus with token counts — one scan + one shuffle.
      (s, dir) => {
        val scored = t(s, dir, "documents")
          .withColumn("n_words", size(words(col("text"))).cast("long"))
          .withColumn("n_punct",
            regexp_count(col("text"), lit("[.,!?;:]")).cast("long"))
          .filter(col("n_words") >= 8 &&
            col("n_punct") * 10 < col("n_words") * 3)
        scored
          .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"),
            count(lit(1)).as("n_copies"),
            min(col("n_words")).as("n_words"))
          .select(col("doc_id"), col("n_copies"), col("n_words"))
          .orderBy(col("doc_id"))
      },
      Some("""WITH scored AS (
          SELECT doc_id, text,
            CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_words,
            CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
          FROM documents),
        kept AS (SELECT * FROM scored
          WHERE n_words >= 8 AND n_punct * 10 < n_words * 3)
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies,
          MIN(n_words) AS n_words
        FROM kept GROUP BY sha256(lower(trim(text)))
        ORDER BY doc_id""")),

    Entry(
      "sample_split",
      // Deterministic stratified sampling + train/val/test split from
      // pure hash arithmetic on the key — no sort, no limit, no RNG
      // state: membership is decidable per-row anywhere, the property
      // that makes the split reproducible across reruns and engines.
      // 20% sample per language; the sample splits 80/10/10.
      (s, dir) => {
        // doc_id masked by the prime BEFORE the Knuth multiply: the
        // product then stays < 2^61.4, so the arithmetic is identical
        // in Spark's wrapping Long and DuckDB's overflow-promoting
        // BIGINT for ANY doc_id — not just ids < 2^63/2654435761
        // (~3.5e9, a bound a 100 TB corpus can exceed). Identity for
        // ids below the prime, so existing outputs are unchanged.
        // Applied to every hash-order/bucket site (ADVICE r11).
        val bucket = ((col("doc_id") % 1000000007L) * 2654435761L) % 1000
        t(s, dir, "documents")
          .withColumn("bucket", bucket)
          .filter(col("bucket") < 200)
          .withColumn("split",
            when(col("bucket") < 160, "train")
              .when(col("bucket") < 180, "val")
              .otherwise("test"))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
          .orderBy(col("lang"), col("split"))
      },
      Some("""WITH b AS (SELECT lang, n_chars,
          ((doc_id % 1000000007) * 2654435761) % 1000 AS bucket
          FROM documents),
        s AS (SELECT lang, n_chars,
            CASE WHEN bucket < 160 THEN 'train'
                 WHEN bucket < 180 THEN 'val' ELSE 'test' END AS split
          FROM b WHERE bucket < 200)
        SELECT lang, split, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars
        FROM s GROUP BY lang, split ORDER BY lang, split""")),

    Entry(
      "pack_sequences",
      // Token-budget sequence packing: documents stream into fixed
      // 2048-token training batches per language via a running token
      // sum — batch = floor((cum - n) / budget), the greedy packing a
      // sequence-packing dataloader performs, as one window per
      // stratum. Output: per-batch document count + fill level.
      (s, dir) => {
        val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .withColumn("n_tok", size(words(col("text"))).cast("long"))
          .withColumn("cum", sum(col("n_tok")).over(w))
          .withColumn("batch_id",
            ((col("cum") - col("n_tok")) / 2048).cast("long"))
          .groupBy(col("lang"), col("batch_id"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
          .orderBy(col("lang"), col("batch_id"))
      },
      Some("""WITH tok AS (SELECT lang, doc_id,
          CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT lang, doc_id, n_tok,
            SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS cum
          FROM tok)
        SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS batch_id,
          COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tok
        FROM c GROUP BY lang, batch_id ORDER BY lang, batch_id""")),

    Entry(
      "corpus_jsonl",
      // JSONL interchange round-trip — the LLM-corpus exchange format:
      // documents written as newline-delimited JSON partitioned by
      // lang (partition pruning on read-back), read back and verified
      // row-identical. The oracle checks the round-tripped rows
      // against the source table directly, so any loss/corruption in
      // the JSON write→read cycle (encoding, escaping, schema
      // inference) breaks the hash match. Writes are idempotent
      // overwrites into the session's scratch dir.
      (s, dir) => {
        val out = s"target/graft_scratch/corpus_jsonl_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        t(s, dir, "documents")
          .write.mode("overwrite").partitionBy("lang").json(out)
        s.read.schema("doc_id BIGINT, text STRING, source STRING, " +
            "n_chars BIGINT, lang STRING").json(out)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), length(col("text")).cast("long").as("len_rt"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, source, n_chars,
        CAST(len(text) AS BIGINT) AS len_rt
        FROM documents ORDER BY doc_id""")),

    Entry(
      "corpus_csv",
      // CSV interchange round-trip with an explicit schema and full
      // quoting/escaping: free text (commas, quotes, embedded
      // newlines) survives only with multiLine read + escaped quotes —
      // exactly the options a naive export gets wrong. Hash-checked
      // against the source table like corpus_jsonl.
      (s, dir) => {
        val out = s"target/graft_scratch/corpus_csv_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        t(s, dir, "documents")
          .write.mode("overwrite")
          .option("header", "true").option("escape", "\"")
          .csv(out)
        s.read
          .schema("doc_id BIGINT, text STRING, lang STRING, " +
            "source STRING, n_chars BIGINT")
          .option("header", "true").option("escape", "\"")
          .option("multiLine", "true")
          .csv(out)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), length(col("text")).cast("long").as("len_rt"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, source, n_chars,
        CAST(len(text) AS BIGINT) AS len_rt
        FROM documents ORDER BY doc_id""")),

    Entry(
      "corpus_orc",
      // ORC interchange round-trip (the third columnar exchange format
      // next to corpus_jsonl/corpus_csv): written partitioned by lang,
      // read back with an explicit schema, hash-checked against the
      // source table — any loss in the ORC write→read cycle breaks the
      // oracle match.
      (s, dir) => {
        val out = s"target/graft_scratch/corpus_orc_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        t(s, dir, "documents")
          .write.mode("overwrite").partitionBy("lang").orc(out)
        s.read.schema("doc_id BIGINT, text STRING, source STRING, " +
            "n_chars BIGINT, lang STRING").orc(out)
          .select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), length(col("text")).cast("long").as("len_rt"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, lang, source, n_chars,
        CAST(len(text) AS BIGINT) AS len_rt
        FROM documents ORDER BY doc_id""")),

    Entry(
      "corpus_evolve",
      // Schema EVOLUTION read: generation 1 of a corpus lacks a column
      // later generations carry (here: n_chars added in gen 2);
      // mergeSchema unions the physical schemas and back-fills NULL —
      // the long-lived-corpus reality every 100 TB store hits. The
      // aggregate proves the merged read: gen-1 rows count but
      // contribute no chars. (Even doc_ids are written as gen 1.)
      (s, dir) => {
        val out = s"target/graft_scratch/corpus_evolve_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"
        val docs = t(s, dir, "documents")
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), col("lang"))
          .write.mode("overwrite").parquet(s"$out/gen=1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("n_chars"))
          .write.mode("overwrite").parquet(s"$out/gen=2")
        s.read.option("mergeSchema", "true").parquet(out)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).as("chars"))
          .orderBy(col("lang"))
      },
      Some("""SELECT lang, COUNT(*) AS n_docs,
          CAST(COUNT(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT)
            AS n_with_chars,
          CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS BIGINT)
            AS chars
        FROM documents GROUP BY lang ORDER BY lang""")),

    Entry(
      "corpus_shuffle",
      // Deterministic global training-order shuffle (VERDICT r10 #4) —
      // the dataloader-order randomizer every pipeline runs after
      // packing. The shuffled order is a pure hash of (doc_id, seed):
      // k = (doc_id·2654435761 + seed·998244353) mod p, and the shard
      // is a RANGE of k (shard = k div ceil(p/n_shards)), so the
      // global order (shard_id, position) is decided per-row with no
      // data-dependent boundaries — seed-deterministic and partition-
      // count-independent by construction (Round11Spec proves both).
      // Scale: ONE hash shuffle on shard_id + an in-shard sort on k —
      // exactly Spark's orderBy topology (repartitionByRange + local
      // sort) but with arithmetic ranges, so no sampling pass and no
      // skew: k is uniform mod p, shards stay balanced at any corpus
      // size. position is a per-shard window (bounded ~|corpus|/n).
      (s, dir) => corpusShuffle(
        t(s, dir, "documents").select(col("doc_id")), seed = 42L)
        .orderBy(col("shard_id"), col("position")),
      Some("""WITH k AS (SELECT doc_id,
          ((doc_id % 1000000007) * 2654435761
            + CAST(42 AS BIGINT) * 998244353) % 1000000007 AS k
          FROM documents)
        SELECT CAST(k // 62500001 AS BIGINT) AS shard_id,
          CAST(row_number() OVER (PARTITION BY k // 62500001
            ORDER BY k, doc_id) AS BIGINT) AS position,
          doc_id
        FROM k ORDER BY shard_id, position""")),

    Entry(
      "mix_curriculum",
      // Curriculum-ordered training mix — corpus_shuffle's staged
      // sibling (curriculum learning: schedule high-quality text
      // first, noisier bands later). Stage = learned-classifier
      // quality band at FIXED cuts (mean per-token log-odds ≥
      // 0.13 / 0.09 / 0.05 / below), compared in EXACT integer space
      // (100·score_q vs cut·1e9·n_tok — no float compare, the
      // pipeline_funnel trick), so stage assignment is a pure
      // projection: no global sort, no data-dependent quantile pass.
      // Within a stage the order is corpus_shuffle's hash scheme
      // (seed-deterministic, arithmetic shard ranges, per-(stage,
      // shard) bounded window) — the dataloader reads stages in
      // order, shards within a stage in parallel. Same dumped-vocab
      // oracle as text_classify.
      (s, dir) => {
        val scored = TextOps.classifyProjection(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          TextOps.classifyWeights(s, dir))
        val prime = 1000000007L
        val shardW = (prime + 3) / 4
        val staged = scored
          .withColumn("stage",
            when(col("score_q") * 100 >= lit(13000000000L) * col("n_tok"),
              0L)
              .when(col("score_q") * 100 >= lit(9000000000L) * col("n_tok"),
                1L)
              .when(col("score_q") * 100 >= lit(5000000000L) * col("n_tok"),
                2L)
              .otherwise(3L))
          .withColumn("k",
            ((((col("doc_id") % lit(prime)) * lit(2654435761L)
              + lit(42L * 998244353L))
              % lit(prime)) + lit(prime)) % lit(prime))
          .withColumn("shard_id", expr(s"CAST(k DIV $shardW AS BIGINT)"))
        val w = Window.partitionBy(col("stage"), col("shard_id"))
          .orderBy(col("k"), col("doc_id"))
        staged.withColumn("position", row_number().over(w).cast("long"))
          .select(col("stage"), col("shard_id"), col("position"),
            col("doc_id"), col("score_q"))
          .orderBy(col("stage"), col("shard_id"), col("position"))
      },
      Some(s"""WITH ${TextOps.classifyScoreCtes},
        st AS (SELECT doc_id, score_q,
            CASE WHEN score_q * 100 >= 13000000000 * n_tok THEN 0
                 WHEN score_q * 100 >= 9000000000 * n_tok THEN 1
                 WHEN score_q * 100 >= 5000000000 * n_tok THEN 2
                 ELSE 3 END AS stage,
            ((doc_id % 1000000007) * 2654435761
              + CAST(42 AS BIGINT) * 998244353) % 1000000007 AS k
          FROM sc)
        SELECT CAST(stage AS BIGINT) AS stage,
          CAST(k // 250000002 AS BIGINT) AS shard_id,
          CAST(row_number() OVER (PARTITION BY stage, k // 250000002
            ORDER BY k, doc_id) AS BIGINT) AS position,
          doc_id, score_q
        FROM st ORDER BY stage, shard_id, position""")),

    Entry(
      "sample_temperature",
      // Temperature-sampling weights (α = 0.5) — the multilingual
      // rebalancing rule for LLM data mixes: lang weight ∝ √(n/n_max),
      // boosting low-resource languages. Every float op here (cast,
      // divide, sqrt, multiply, floor) is IEEE correctly-rounded and
      // applied in the same order on both engines, so the doubles
      // hash-match exactly — no Σ-of-doubles whose order could drift.
      (s, dir) => {
        val langs = t(s, dir, "documents")
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val mx = langs.agg(max(col("n_docs")).as("n_max"))
        langs.crossJoin(broadcast(mx))
          .withColumn("rel_weight",
            sqrt(col("n_docs").cast("double") / col("n_max").cast("double")))
          .withColumn("target_docs",
            floor(col("rel_weight") * col("n_max").cast("double"))
              .cast("long"))
          .select(col("lang"), col("n_docs"), col("rel_weight"),
            col("target_docs"))
          .orderBy(col("lang"))
      },
      Some("""WITH l AS (SELECT lang, COUNT(*) AS n_docs FROM documents
          GROUP BY 1),
        m AS (SELECT MAX(n_docs) AS n_max FROM l)
        SELECT lang, n_docs,
          sqrt(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE))
            AS rel_weight,
          CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE) / CAST(n_max AS DOUBLE))
            * CAST(n_max AS DOUBLE)) AS BIGINT) AS target_docs
        FROM l, m ORDER BY lang""")),

    Entry(
      "sample_stratified",
      // Exact-k stratified sample: exactly min(k, |stratum|) docs per
      // language, chosen by rank over a scrambled key — deterministic
      // (reruns and engines agree) yet unbiased w.r.t. insertion
      // order. Complements sample_split's hash-threshold sampling
      // (expected-size) with the exact-size variant a balanced eval
      // set needs. One shuffle on lang; the rank is a per-stratum
      // window, never a global sort.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val h = pmod((col("doc_id") % 1000000007L) * lit(2654435761L),
          lit(1000000007L))
        val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
        t(s, dir, "documents")
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("lang"), col("rk").cast("long").as("rk"),
            col("doc_id"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""SELECT lang, rk, doc_id FROM (
          SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY lang
              ORDER BY ((doc_id % 1000000007) * 2654435761)
                % 1000000007, doc_id)
            AS BIGINT) AS rk
          FROM documents)
        WHERE rk <= 20 ORDER BY lang, rk""")),

    Entry(
      "sample_class_balance",
      // Class-balanced downsampling — the standard fix for imbalanced
      // classifier/contrastive training data: every label downsampled
      // to the MINORITY class's count, members chosen by the same
      // scrambled-hash rank sample_stratified uses (deterministic,
      // insertion-order-unbiased). The target count is a one-row
      // aggregate broadcast past the per-label rank window — one
      // shuffle on label, no global sort; the identical plan balances
      // a 100 TB labeled store label-parallel.
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
        val target = e.groupBy(col("label"))
          .agg(count(lit(1)).as("n"))
          .agg(min(col("n")).as("k"))
        val h = pmod((col("vec_id") % 1000000007L) * lit(2654435761L),
          lit(1000000007L))
        val w = Window.partitionBy(col("label")).orderBy(h, col("vec_id"))
        e.withColumn("rk", row_number().over(w).cast("long"))
          .crossJoin(broadcast(target))
          .filter(col("rk") <= col("k"))
          .select(col("label"), col("rk"), col("vec_id"))
          .orderBy(col("label"), col("rk"))
      },
      Some("""WITH c AS (SELECT MIN(cnt) AS k FROM (
            SELECT COUNT(*) AS cnt FROM embeddings GROUP BY label)),
          r AS (SELECT label, vec_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY label
              ORDER BY ((vec_id % 1000000007) * 2654435761)
                % 1000000007, vec_id)
            AS BIGINT) AS rk
          FROM embeddings)
        SELECT label, rk, vec_id FROM r, c WHERE rk <= c.k
        ORDER BY label, rk""")),

    Entry(
      "mix_token_budget",
      // Data-mix quota: cap each source's contribution at a fixed token
      // budget by taking the deterministic per-source prefix whose
      // running token sum fits — the per-domain quota step of mix
      // recipes (e.g. The Pile's per-set epochs). Same one-window-per-
      // stratum shape as pack_sequences, but as a selection, not an
      // assignment: rows past the budget are dropped.
      (s, dir) => {
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "documents")
          .withColumn("n_tok", size(words(col("text"))).cast("long"))
          .withColumn("cum_tok", sum(col("n_tok")).over(w))
          .filter(col("cum_tok") <= 800)
          .select(col("source"), col("doc_id"), col("n_tok"),
            col("cum_tok"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some("""WITH tok AS (SELECT source, doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              x -> len(x) > 0)) AS BIGINT) AS n_tok
          FROM documents),
        c AS (SELECT source, doc_id, n_tok,
            SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) AS cum_tok
          FROM tok)
        SELECT source, doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok
        FROM c WHERE cum_tok <= 800 ORDER BY source, doc_id""")),

    Entry(
      "sample_importance",
      // Quality-weighted (importance) sampling — the soft version of
      // a hard quality gate: keep each doc with probability rising in
      // its learned-classifier score (clamped to [0.1, 0.9] so no doc
      // is certain either way), decided by a deterministic hash draw.
      // Both sides of the accept test are exact: the uniform draw is
      // corpus_shuffle's integer hash scaled once to double, and the
      // acceptance probability is clamp(0.5 + score, ·) from
      // text_classify's integer-quantized score — identical IEEE op
      // order cross-engine, so membership hash-matches. Serving is a
      // pure projection over the cached weights (no shuffle, like
      // text_classify); at 100 TB this is the cheapest
      // quality-curation dial there is.
      (s, dir) => {
        val scored = TextOps.classifyProjection(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          TextOps.classifyWeights(s, dir))
        val prime = 1000000007L
        val u = (((((col("doc_id") % lit(prime)) * lit(2654435761L) +
          lit(11L * 998244353L)) % lit(prime)) + lit(prime)) % lit(prime))
          .cast("double") / lit(prime.toDouble)
        scored
          .withColumn("p_accept",
            least(greatest(lit(0.5) + col("score"), lit(0.1)), lit(0.9)))
          .withColumn("u", u)
          .filter(col("u") < col("p_accept"))
          .select(col("doc_id"), col("score"), col("p_accept"))
          .orderBy(col("doc_id"))
      },
      Some(s"""WITH ${TextOps.classifyScoreCtes},
        s2 AS (SELECT doc_id,
            CAST(score_q AS DOUBLE) / 1e9 / n_tok AS score,
            LEAST(GREATEST(0.5 + CAST(score_q AS DOUBLE) / 1e9 / n_tok,
              0.1), 0.9) AS p_accept,
            CAST(((doc_id % 1000000007) * 2654435761
              + CAST(11 AS BIGINT) * 998244353)
              % 1000000007 AS DOUBLE) / 1000000007.0 AS u
          FROM sc)
        SELECT doc_id, score, p_accept FROM s2
        WHERE u < p_accept ORDER BY doc_id""")),

    Entry(
      "sample_weighted",
      // Weighted sampling WITHOUT replacement (Efraimidis–Spirakis,
      // IPL'06): each row draws key = u^(1/w) (u a deterministic
      // hash-uniform in (0,1), w = n_chars) and the top-k keys per
      // stratum are the sample — inclusion probability ∝ weight, one
      // pass, no rejection loop, distributable (each executor scores
      // locally; only the per-stratum top-k rank shuffles). The
      // doc_id tiebreak makes EQUAL keys engine-independent; only
      // doc_id + rank are emitted, so the float key never has to
      // hash-match — it only has to ORDER identically. Caveat (oracle
      // contract, not engine correctness): JVM Math.pow and DuckDB's
      // libm pow are not both correctly rounded, so a cross-engine
      // rank flip is possible iff two DISTINCT keys land within ~1 ulp
      // of each other — vanishingly rare for hash-uniform u and ruled
      // out on the pinned corpus; quantizing the key would RAISE the
      // risk (boundary-straddle ~1e-4 vs ulp-adjacency ~1e-16).
      (s, dir) => {
        val u = (((col("doc_id") % 1000000007L) * 2654435761L)
          % 1000003L + 1L).cast("double") / 1000004.0
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("key").desc, col("doc_id"))
        t(s, dir, "documents")
          .withColumn("key",
            pow(u, lit(1.0) / col("n_chars").cast("double")))
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 5)
          .select(col("lang"), col("rk"), col("doc_id"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""WITH k AS (SELECT lang, doc_id,
            pow(CAST(((doc_id % 1000000007) * 2654435761)
                  % 1000003 + 1 AS DOUBLE)
                / 1000004.0,
              1.0 / CAST(n_chars AS DOUBLE)) AS key
          FROM documents)
        SELECT lang, rk, doc_id FROM (
          SELECT lang, doc_id, CAST(ROW_NUMBER() OVER (
              PARTITION BY lang ORDER BY key DESC, doc_id)
            AS BIGINT) AS rk FROM k)
        WHERE rk <= 5 ORDER BY lang, rk""")),

    Entry(
      "mix_epochs",
      // The UPSAMPLING half of mix construction (mix_token_budget is
      // the downsampling half): sources short of the target token
      // count repeat for ⌈target/total⌉ epochs (capped ×4, The-Pile
      // style), materialized as (doc, epoch) rows via sequence-explode.
      // Integer arithmetic only. Scale shape: per-source totals are a
      // tiny aggregate broadcast back; the explode is map-side — the
      // one shuffle is the totals groupBy.
      (s, dir) => {
        val totals = t(s, dir, "documents")
          .withColumn("n_tok", size(words(col("text"))).cast("long"))
          .groupBy(col("source")).agg(sum(col("n_tok")).as("tot_tok"))
          .withColumn("epochs",
            least(expr("(2000 + tot_tok - 1) div tot_tok"), lit(4L))
              .cast("long"))
        t(s, dir, "documents")
          .join(broadcast(totals), "source")
          .select(col("source"), col("doc_id"), col("epochs"),
            explode(sequence(lit(1L), col("epochs"))).as("epoch"))
          .select(col("source"), col("doc_id"), col("epoch"))
          .orderBy(col("source"), col("doc_id"), col("epoch"))
      },
      Some("""WITH tok AS (SELECT source, doc_id,
            CAST(len(list_filter(string_split(text, ' '),
              x -> len(x) > 0)) AS BIGINT) AS n_tok
          FROM documents),
        tot AS (SELECT source,
            LEAST((2000 + CAST(SUM(n_tok) AS BIGINT) - 1) //
              CAST(SUM(n_tok) AS BIGINT), 4) AS epochs
          FROM tok GROUP BY source),
        o AS (SELECT d.source, d.doc_id,
            unnest(range(1, tot.epochs + 1)) AS epoch
          FROM documents d JOIN tot USING (source))
        SELECT source, doc_id, CAST(epoch AS BIGINT) AS epoch
        FROM o ORDER BY source, doc_id, epoch""")),

    Entry(
      "mix_source_cap",
      // Over-represented-domain capping (the C4/CCNet per-domain cap):
      // keep at most `cap` docs per source, chosen by a deterministic
      // per-doc hash so the survivors are an unbiased pseudo-random
      // sample yet identical across reruns/engines. The per-source
      // top-cap runs through the k-bounded TopKAgg buffer — map-side
      // partials shuffle ≤ tasks·sources·cap rows, never the corpus,
      // and there is no per-source global sort (the window-rank
      // formulation sorts every source's docs in |sources| tasks — a
      // skew magnet when one domain dominates a 100 TB crawl). The
      // hash is corpus_shuffle's integer scheme (k < 1e9+7 < 2^53, so
      // the DoubleType ord in TopKAgg round-trips exactly).
      (s, dir) => {
        import org.apache.spark.sql.graft.DatasetBridge
        val cap = 10
        val prime = 1000000007L
        val k = ((((col("doc_id") % lit(prime)) * lit(2654435761L)
          + lit(7L * 998244353L))
          % lit(prime)) + lit(prime)) % lit(prime)
        val topk = DatasetBridge.column(
          graft.functions.TopKAgg(
            DatasetBridge.expression((-k).cast("double")),
            DatasetBridge.expression(col("doc_id")), cap)
            .toAggregateExpression())
        t(s, dir, "documents")
          .select(col("source"), col("doc_id"))
          .groupBy(col("source")).agg(topk.as("top"))
          .select(col("source"), posexplode(col("top")).as(Seq("pos", "e")))
          .select(col("source"),
            (col("pos") + 1).cast("bigint").as("rnk"),
            col("e.key").as("doc_id"),
            (-col("e.ord")).cast("long").as("k"))
          .orderBy(col("source"), col("rnk"))
      },
      Some("""WITH k AS (SELECT source, doc_id,
            ((doc_id % 1000000007) * 2654435761
              + CAST(7 AS BIGINT) * 998244353) % 1000000007 AS k
          FROM documents)
        SELECT source, rnk, doc_id, k FROM (
          SELECT source, doc_id, k,
            CAST(row_number() OVER (PARTITION BY source
              ORDER BY k, doc_id) AS BIGINT) AS rnk
          FROM k)
        WHERE rnk <= 10 ORDER BY source, rnk""")),

    Entry(
      "dq_drift",
      // Corpus drift monitoring — the between-snapshot check a
      // continuously-ingesting pipeline runs before accepting a new
      // crawl: total-variation distance between snapshot A and B
      // (here the doc_id-parity halves) over three per-row dimensions
      // (lang, source, a 100-char length bucket). TVD is computed in
      // CROSS-MULTIPLIED integer form — Σ|c_a·n_b − c_b·n_a| over
      // 2·n_a·n_b — so the per-bin terms are exact BIGINTs and the
      // single final IEEE division is bit-identical cross-engine (no
      // per-bin ln, unlike KL/PSI, hence no dumped table needed).
      // Scale: one map-side-combined groupBy per dimension over a
      // handful of bins; the three reports union into a 3-row frame.
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("snap", (col("doc_id") % 2).cast("int"))
        def tvd(dim: String, bucket: org.apache.spark.sql.Column) = {
          val bins = docs.groupBy(bucket.as("bin"))
            .agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("ca"),
              sum(when(col("snap") === 1, 1L).otherwise(0L)).as("cb"))
          bins.crossJoin(broadcast(
              docs.agg(sum(when(col("snap") === 0, 1L).otherwise(0L)).as("na"),
                sum(when(col("snap") === 1, 1L).otherwise(0L)).as("nb"))))
            .agg(sum(abs(col("ca") * col("nb") - col("cb") * col("na")))
                .as("num"),
              first(col("na")).as("na"), first(col("nb")).as("nb"))
            .select(lit(dim).as("dim"), col("na"), col("nb"), col("num"),
              (col("num").cast("double") /
                (lit(2.0) * col("na") * col("nb"))).as("tvd"))
        }
        tvd("lang", col("lang"))
          .unionAll(tvd("source", col("source")))
          .unionAll(tvd("len_bucket", (col("n_chars") - (col("n_chars")
            % 100)).cast("long")))
          .orderBy(col("dim"))
      },
      Some("""WITH d AS (SELECT lang, source,
            n_chars - (n_chars % 100) AS len_bucket,
            CAST(doc_id % 2 AS INT) AS snap
          FROM documents),
        tot AS (SELECT
            COUNT(*) FILTER (WHERE snap = 0) AS na,
            COUNT(*) FILTER (WHERE snap = 1) AS nb FROM d),
        lang_b AS (SELECT
            COUNT(*) FILTER (WHERE snap = 0) AS ca,
            COUNT(*) FILTER (WHERE snap = 1) AS cb
          FROM d GROUP BY lang),
        src_b AS (SELECT
            COUNT(*) FILTER (WHERE snap = 0) AS ca,
            COUNT(*) FILTER (WHERE snap = 1) AS cb
          FROM d GROUP BY source),
        len_b AS (SELECT
            COUNT(*) FILTER (WHERE snap = 0) AS ca,
            COUNT(*) FILTER (WHERE snap = 1) AS cb
          FROM d GROUP BY len_bucket),
        r AS (
          SELECT 'lang' AS dim, t.na, t.nb,
            CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS BIGINT) AS num
          FROM lang_b b, tot t GROUP BY t.na, t.nb
          UNION ALL
          SELECT 'source', t.na, t.nb,
            CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS BIGINT)
          FROM src_b b, tot t GROUP BY t.na, t.nb
          UNION ALL
          SELECT 'len_bucket', t.na, t.nb,
            CAST(SUM(ABS(b.ca * t.nb - b.cb * t.na)) AS BIGINT)
          FROM len_b b, tot t GROUP BY t.na, t.nb)
        SELECT dim, na, nb, num,
          CAST(num AS DOUBLE) / (2.0 * na * nb) AS tvd
        FROM r ORDER BY dim""")),

    Entry(
      "dq_length_hist",
      // Token-length distribution report by source — the
      // sequence-length histogram a packing/curriculum stage reads
      // before choosing context length and truncation policy.
      // Buckets are powers of two via BIT LENGTH (length of the
      // binary string representation), not floor(log2(·)) — float
      // log at an exact power of 2 can land a ulp under the integer
      // and misplace the bucket, while the bin-string length is
      // integer-exact on both engines. One map-side-combined groupBy
      // over (source × ~10 buckets) — a bounded result at any corpus
      // size, the same one-shuffle shape as dq_drift's bins.
      (s, dir) => {
        t(s, dir, "documents")
          .select(col("source"),
            size(TextOps.words(col("text"))).cast("long").as("n_tok"))
          .filter(col("n_tok") >= 1)
          .withColumn("bucket", (length(bin(col("n_tok"))) - 1)
            .cast("long"))
          .groupBy(col("source"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_tok")).as("min_tok"),
            max(col("n_tok")).as("max_tok"),
            sum(col("n_tok")).as("sum_tok"))
          .orderBy(col("source"), col("bucket"))
      },
      Some("""WITH d AS (SELECT source,
            CAST(len(list_filter(string_split(text, ' '),
              x -> len(x) > 0)) AS BIGINT) AS n_tok
          FROM documents),
        b AS (SELECT source, n_tok,
            CAST(len(bin(n_tok)) - 1 AS BIGINT) AS bucket
          FROM d WHERE n_tok >= 1)
        SELECT source, bucket, COUNT(*) AS n_docs,
          MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
          CAST(SUM(n_tok) AS BIGINT) AS sum_tok
        FROM b GROUP BY source, bucket ORDER BY source, bucket""")),

    Entry(
      "pipeline_funnel",
      // The curation-funnel report every corpus release publishes:
      // docs/tokens surviving each stage raw → rule gate → exact
      // dedup → LM gate (the conventional order: cheap rules first,
      // dedup before the model pass so duplicates aren't scored
      // twice). Stages compose as per-doc FLAGS in one frame
      // (conditional aggregation — the corpus is scanned once, not
      // once per stage): the rule gate is a length/punctuation rule
      // (n_words ≥ 40, punct ratio < 0.3); dedup keeps min doc_id per
      // sha256 among rule survivors; the LM gate compares mean NLL ≤
      // 3.39 in EXACT integer space (−s·100 ≤ 339e12·n over the
      // quantized lnp_q sums — no float threshold to disagree on).
      // Shuffles: the LM equi-join + per-doc agg, and one hash
      // groupBy for dedup — both map-side combined; the report is 4
      // rows. (On the driver's corpora the dedup stage passes
      // everything through — the documents table has zero exact
      // lower/trim duplicates, verified by groupBy — but the oracle
      // still proves the stage's arithmetic; the near-dup entries
      // live in DedupOps where the planted fixtures are.)
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val model = TextOps.lmModel(s, dir)
        val lmAgg = TextOps.lmBigrams(docs)
          .join(model, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(sum(col("lnp_q")).as("lms"), count(lit(1)).as("lmn"))
        val flagged = docs
          .withColumn("n_words",
            size(words(lower(col("text")))).cast("long"))
          .withColumn("n_punct",
            regexp_count(col("text"), lit("[.,!?;:]")).cast("long"))
          .withColumn("q_ok", col("n_words") >= 40 &&
            col("n_punct") * 10 < col("n_words") * 3)
        val keep = flagged.filter(col("q_ok"))
          .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"))
          .select(col("doc_id"), lit(1).as("dk"))
        val d = flagged
          .join(keep, Seq("doc_id"), "left")
          .join(lmAgg, Seq("doc_id"), "left")
          .withColumn("d_ok", col("q_ok") && col("dk") === 1)
          .withColumn("lm_ok", col("q_ok") && col("dk") === 1 &&
            col("lms").isNotNull &&
            col("lms") * lit(-100L) <= col("lmn") * lit(339000000000000L))
        val a = d.agg(
          count(lit(1)).as("c0"), sum(col("n_words")).as("t0"),
          count_if(col("q_ok")).as("c1"),
          sum(when(col("q_ok"), col("n_words")).otherwise(0L)).as("t1"),
          count_if(col("d_ok")).as("c2"),
          sum(when(col("d_ok"), col("n_words")).otherwise(0L)).as("t2"),
          count_if(col("lm_ok")).as("c3"),
          sum(when(col("lm_ok"), col("n_words")).otherwise(0L)).as("t3"))
        a.select(explode(array(
            struct(lit("0_raw").as("stage"), col("c0").as("n_docs"),
              col("t0").as("n_tokens")),
            struct(lit("1_quality").as("stage"), col("c1").as("n_docs"),
              col("t1").as("n_tokens")),
            struct(lit("2_dedup").as("stage"), col("c2").as("n_docs"),
              col("t2").as("n_tokens")),
            struct(lit("3_lm").as("stage"), col("c3").as("n_docs"),
              col("t3").as("n_tokens")))).as("r"))
          .select(col("r.stage").as("stage"), col("r.n_docs").as("n_docs"),
            col("r.n_tokens").as("n_tokens"))
          .orderBy(col("stage"))
      },
      Some(s"""WITH m AS (SELECT w1, w2, lnp_q FROM read_parquet(
            '${OracleDumps.SqlRoot}/text/lm_bigrams/*.parquet')),
        dd AS (SELECT doc_id, text,
            list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0) AS w,
            CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
              AS n_punct
          FROM documents),
        bi AS (SELECT doc_id,
            CASE WHEN i = 1 THEN '<s>' ELSE w[i - 1] END AS w1,
            w[i] AS w2
          FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
            FROM dd WHERE len(w) > 0)),
        lm AS (SELECT doc_id, CAST(SUM(lnp_q) AS BIGINT) AS lms,
            COUNT(*) AS lmn
          FROM bi JOIN m USING (w1, w2) GROUP BY doc_id),
        q AS (SELECT doc_id, text,
            CAST(len(w) AS BIGINT) AS n_words,
            (CAST(len(w) AS BIGINT) >= 40 AND
             n_punct * 10 < CAST(len(w) AS BIGINT) * 3) AS q_ok
          FROM dd),
        keep AS (SELECT MIN(doc_id) AS doc_id FROM q WHERE q_ok
          GROUP BY sha256(lower(trim(text)))),
        d AS (SELECT q.doc_id, q.n_words, q.q_ok,
            (q.q_ok AND k.doc_id IS NOT NULL) AS d_ok,
            (q.q_ok AND k.doc_id IS NOT NULL AND
             lm.lms IS NOT NULL AND
             lm.lms * -100 <= lm.lmn * 339000000000000) AS lm_ok
          FROM q
          LEFT JOIN keep k ON q.doc_id = k.doc_id
          LEFT JOIN lm ON q.doc_id = lm.doc_id),
        r AS (
          SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
            CAST(SUM(n_words) AS BIGINT) AS n_tokens FROM d
          UNION ALL
          SELECT '1_quality', COUNT(*),
            CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
          FROM d WHERE q_ok
          UNION ALL
          SELECT '2_dedup', COUNT(*),
            CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
          FROM d WHERE d_ok
          UNION ALL
          SELECT '3_lm', COUNT(*),
            CAST(COALESCE(SUM(n_words), 0) AS BIGINT)
          FROM d WHERE lm_ok)
        SELECT stage, n_docs, n_tokens FROM r ORDER BY stage""")),

    Entry(
      "corpus_diff",
      // Snapshot diff — the data-versioning primitive (what changed
      // between corpus v1 and v2): full-outer join on doc_id with
      // CONTENT-HASH compare (sha256, not the text itself — at 100 TB
      // the diff join moves 32-byte digests, and a real store keeps
      // them precomputed per shard). Snapshot B is derived
      // deterministically from A in-entry: doc_id % 11 = 0 deleted,
      // % 13 = 0 revised, % 17 = 0 re-added under a shifted id. One
      // hash-partitioned join, row-level (doc_id, status) output;
      // unchanged rows are filtered before the tiny ordered emit.
      (s, dir) => {
        val a = t(s, dir, "documents").select(col("doc_id"),
          sha2(col("text"), 256).as("ha"))
        val docs = t(s, dir, "documents")
        val bKept = docs.filter(col("doc_id") % 11 =!= 0)
          .select(col("doc_id"),
            when(col("doc_id") % 13 === 0,
              concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text")).as("text"))
        val bNew = docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text"))
        val b = bKept.unionAll(bNew)
          .select(col("doc_id"), sha2(col("text"), 256).as("hb"))
        a.join(b, Seq("doc_id"), "full_outer")
          .withColumn("status",
            when(col("ha").isNull, lit("added"))
              .when(col("hb").isNull, lit("removed"))
              .when(col("ha") =!= col("hb"), lit("changed"))
              .otherwise(lit("unchanged")))
          .filter(col("status") =!= "unchanged")
          .select(col("doc_id"), col("status"))
          .orderBy(col("doc_id"))
      },
      // The oracle compares text directly (same verdicts as comparing
      // sha256 digests of identical inputs) — the hash is the Spark
      // side's scale choice, not part of the contract.
      Some("""WITH a AS (SELECT doc_id, text FROM documents),
        b AS (
          SELECT doc_id,
            CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
              ELSE text END AS text
          FROM documents WHERE doc_id % 11 <> 0
          UNION ALL
          SELECT doc_id + 1000000, 'new ' || text
          FROM documents WHERE doc_id % 17 = 0),
        j AS (SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
            CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.text <> b.text THEN 'changed'
              ELSE 'unchanged' END AS status
          FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
        SELECT doc_id, status FROM j
        WHERE status <> 'unchanged' ORDER BY doc_id""")),

    Entry(
      "corpus_overlap",
      // Cross-SOURCE overlap matrix — the corpus-level contamination /
      // provenance question ("how much of source A is already in
      // source B?") that doc-level dedup doesn't answer: per source
      // pair, the exact Jaccard of their distinct word-3-shingle sets.
      // Plan shape: the distinct (source, shingle) relation caps the
      // shingle self-join's fan-out at C(|sources|, 2) rows PER
      // SHINGLE — bounded by the source count, never the corpus — so
      // candidate volume is O(shingles × sources²/2) worst case with
      // tiny constants, one shuffle on the shingle key. n/n Jaccard is
      // exact int division (identical double both engines). The
      // shingle key IS xxhash64 (round 14) — no output column carries
      // shingle text, so the distinct, the per-source size count and
      // the self-join all shuffle 8-byte longs instead of ~40-byte
      // strings (A/B'd min-of-3 solo at the sf10 decade: 52.3 s
      // strings -> 45.4 s hashed).
      //
      // 64-bit collision bound (ADVICE r14 — the honest production
      // argument, since the string-keyed DuckDB gate only audits gate
      // scales, not 100 TB): a collision merges two shingle TYPES and
      // nudges one n/Jaccard count by ±1. Birthday bound over T
      // distinct types: P(any collision) ≈ T²/2^65 — ~2e-5 at the
      // T≈27M sf10 decade, ~3% at T=1e9, and even odds only at
      // T ≈ 2^32.5 ≈ 6e9 types. Past ~2^31 types the key AUTO-WIDENS
      // to 128 bits (see [[corpusOverlap]]) — the plan shape is
      // identical, only the key width changes.
      (s, dir) => corpusOverlap(s, dir),
      Some("""WITH d AS (SELECT source,
            list_filter(string_split(text, ' '), x -> len(x) > 0) AS tk
          FROM documents),
        g AS (SELECT DISTINCT source,
            unnest([array_to_string(tk[i:i+2], ' ')
              for i in range(1, greatest(len(tk) - 2, 0) + 1)]) AS sh
          FROM d),
        sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY 1),
        inter AS (SELECT a.source AS source_a, b.source AS source_b,
            CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM g a JOIN g b ON a.sh = b.sh AND a.source < b.source
          GROUP BY 1, 2)
        SELECT source_a, source_b,
          CAST(x.n AS BIGINT) AS n_a, CAST(y.n AS BIGINT) AS n_b,
          n_shared,
          CAST(n_shared AS DOUBLE)
            / CAST(x.n + y.n - n_shared AS DOUBLE) AS jaccard
        FROM inter
        JOIN sz x ON x.source = source_a
        JOIN sz y ON y.source = source_b
        ORDER BY source_a, source_b""")),

    Entry(
      "dq_outlier_mad",
      // Robust per-source length-outlier report — the DQ pass that
      // catches truncated scrapes / concatenated pages mean±stddev
      // misses (a few huge docs drag the mean toward themselves;
      // median/MAD are 50%-breakdown robust): flag docs whose
      // |n_chars − median| exceeds 3× the source's median absolute
      // deviation. Both medians use the q67 integer-exact DISCRETE
      // percentile (value at ceil(n/2) under (value, doc_id) order), so
      // the report hash-matches DuckDB exactly. Plan: two window+agg
      // passes partitioned by source (the ~20-group dimension), each
      // one shuffle; the per-source medians broadcast back into the
      // scan. At 100 TB swap the exact rank pick for approx_percentile
      // — same two-pass shape, no more per-group sort.
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
        val wn = Window.partitionBy(col("source"))
        def discMedian(df: org.apache.spark.sql.DataFrame,
            valCol: String, as: String) = {
          val w = Window.partitionBy(col("source"))
            .orderBy(col(valCol), col("doc_id"))
          df.withColumn("rn", row_number().over(w))
            .withColumn("n", count(lit(1)).over(wn))
            .groupBy(col("source"))
            .agg(max(when(col("rn") === expr("(50 * n + 99) DIV 100"),
              col(valCol))).as(as))
        }
        val med = discMedian(docs, "n_chars", "med")
        val dev = docs.join(broadcast(med), "source")
          .withColumn("dev", abs(col("n_chars") - col("med")))
        val mad = discMedian(dev, "dev", "mad")
        dev.join(broadcast(mad), "source")
          .filter(col("dev") > lit(3L) * col("mad"))
          .select(col("source"), col("doc_id"), col("n_chars"),
            col("med"), col("mad"))
          .orderBy(col("source"), col("doc_id"))
      },
      Some("""WITH m AS (SELECT source,
            quantile_disc(n_chars, 0.5 ORDER BY n_chars, doc_id) AS med
          FROM documents GROUP BY source),
        d AS (SELECT dd.source, dd.doc_id, dd.n_chars, m.med,
            abs(dd.n_chars - m.med) AS dev
          FROM documents dd JOIN m USING (source)),
        md AS (SELECT source,
            quantile_disc(dev, 0.5 ORDER BY dev, doc_id) AS mad
          FROM d GROUP BY source)
        SELECT d.source, d.doc_id, d.n_chars, d.med, md.mad
        FROM d JOIN md USING (source)
        WHERE d.dev > 3 * md.mad
        ORDER BY d.source, d.doc_id""")),

    Entry(
      "sample_reservoir",
      // Fixed-k uniform sample without replacement — the "give me
      // 100 random docs" primitive behind eval-set carving and manual
      // QA audits, as the DISTRIBUTED reservoir equivalent: rank every
      // doc by a deterministic uniform hash (corpus_shuffle's
      // overflow-safe multiplicative scheme, seed 7) and keep the k
      // smallest. orderBy+limit plans as TakeOrderedAndProject — each
      // partition keeps its own k-bounded heap and only tasks×k rows
      // reach the driver-side merge, which IS Vitter's reservoir
      // restated for partitioned data: no full sort, no corpus
      // shuffle, identical sample at any partitioning (seed-determined,
      // so re-runs and retries agree — the property `rand()`-based
      // sampling loses under task retry).
      (s, dir) => {
        val prime = 1000000007L
        val top = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("k",
            ((col("doc_id") % lit(prime)) * lit(2654435761L)
              + lit(7L * 998244353L)) % lit(prime))
          .orderBy(col("k"), col("doc_id")).limit(100)
        top.withColumn("pick",
            row_number().over(Window.orderBy(col("k"), col("doc_id")))
              .cast("long"))
          .select(col("pick"), col("doc_id"), col("source"),
            col("n_chars"))
          .orderBy(col("pick"))
      },
      Some("""WITH h AS (SELECT doc_id, source, n_chars,
            ((doc_id % 1000000007) * 2654435761
              + CAST(7 AS BIGINT) * 998244353) % 1000000007 AS k
          FROM documents),
        r AS (SELECT row_number() OVER (ORDER BY k, doc_id) AS pick,
            doc_id, source, n_chars
          FROM h)
        SELECT pick, doc_id, source, n_chars FROM r
        WHERE pick <= 100 ORDER BY pick"""))
  )

  /** Distinct shingle types above which corpus_overlap's join key
    * auto-widens from one xxhash64 long to a 128-bit two-long struct:
    * at T = 2^31 types the 64-bit birthday bound P(any collision) ≈
    * T²/2^65 reaches ~6%, the point where a merged type pair becomes
    * plausible within a single run (VERDICT r15 #1).
    */
  private[graft] val OverlapWideKeyTypes = 1L << 31

  /** The cheap key-width gate: decide from sum(n_chars) — a
    * column-pruned stats scan, no tokenize — whether the corpus COULD
    * hold ≥ [[OverlapWideKeyTypes]] distinct shingles. The bound
    * chain is types ≤ shingle instances ≤ tokens ≤ chars/2: a token
    * plus its separating space occupies AT LEAST 2 chars whatever the
    * token length, so chars/2 is a true upper bound on tokens for any
    * corpus — including short-token corpora of IDs/numerics, which
    * the previous /6 divisor (avg token length ≥ 5 assumed, ADVICE
    * r16) did not cover. A corpus whose chars/2 bound stays under the
    * threshold therefore provably cannot cross it. The tighter proxy
    * over-triggers ~3× earlier on prose, which costs only the wide
    * key's extra 8 bytes/row on the distinct+self-join shuffles — an
    * optimization miss, never a correctness event — so no exact
    * distinct-type count (a full shuffle of the very relation being
    * built) is ever paid.
    */
  private[graft] def overlapKeyWide(sumChars: Long): Boolean =
    sumChars / 2 >= OverlapWideKeyTypes

  /** corpus_overlap body (shared with Round16Spec, which forces both
    * key widths and asserts identical output — the simhash
    * depth-auto-scaling pattern, DedupOps.simhashKeyDepth). The
    * narrow key is xxhash64 (8-byte shuffles, A/B-adopted r14); past
    * ~2^31 types ([[overlapKeyWide]]) the key becomes
    * struct(xxhash64(sh), xxhash64(1L, sh)) — two independently
    * seeded 64-bit hashes = a 128-bit key (collision bound T²/2^129,
    * negligible at any corpus size) that shuffles 16 fixed bytes
    * instead of ~40-byte shingle strings. Every downstream op
    * (distinct, per-source size, self-join) is key-width agnostic.
    */
  private[graft] def corpusOverlap(s: org.apache.spark.sql.SparkSession,
      dir: String, forceWide: Option[Boolean] = None)
      : org.apache.spark.sql.DataFrame = {
    val wide = forceWide.getOrElse(overlapKeyWide(
      t(s, dir, "documents")
        .agg(coalesce(sum(col("n_chars")), lit(0L))).head().getLong(0)))
    val shStr = t(s, dir, "documents")
      .withColumn("tk",
        filter(split(col("text"), " "), x => length(x) > lit(0)))
      .select(col("source"),
        // docs under 3 tokens yield NO shingles (matching the
        // oracle's empty range) — an unguarded sequence would emit
        // a partial shingle via null-skipping concat_ws (ADVICE r12)
        explode(expr("array_distinct(CASE WHEN size(tk) >= 3 THEN " +
          "transform(sequence(0, size(tk) - 3), " +
          "i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) " +
          "ELSE CAST(array() AS array<string>) END)")).as("sh_s"))
    val sh = shStr
      .select(col("source"),
        (if (wide) struct(xxhash64(col("sh_s")).as("h1"),
          xxhash64(lit(1L), col("sh_s")).as("h2"))
        else xxhash64(col("sh_s"))).as("sh"))
      .distinct()
    val sizes = sh.groupBy(col("source"))
      .agg(count(lit(1)).as("n"))
    val inter = sh.toDF("source_a", "sh")
      .join(sh.toDF("source_b", "sh2"),
        col("sh") === col("sh2") && col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(sizes.toDF("source_a", "n_a"), "source_a")
      .join(sizes.toDF("source_b", "n_b"), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"),
        col("n_b"), col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Deterministic training-order shuffle: assigns every row a
    * pseudo-random total order keyed only by (`idCol`, `seed`) and
    * emits `(shard_id, position, idCol)` — shard n_shards ways, read
    * back in (shard_id, position) order to replay the shuffled epoch.
    * The order key is k = ((id mod p)·2654435761 + seed·998244353)
    * mod p (p = 1e9+7; masking id FIRST keeps the product < 2^61.4,
    * so Spark's wrapping Long and DuckDB's overflow-promoting BIGINT
    * agree for ANY id, not just ids < ~3.5e9 — ADVICE r11), the shard
    * is k div ceil(p/n_shards): arithmetic on the row alone,
    * so the result is independent of input partitioning and identical
    * across reruns/engines for the same seed. One shuffle (hash on
    * shard_id), one bounded per-shard sort — no global window, no
    * range-boundary sampling pass.
    */
  def corpusShuffle(df: org.apache.spark.sql.DataFrame, seed: Long,
      nShards: Long = 16, idCol: String = "doc_id")
      : org.apache.spark.sql.DataFrame = {
    val prime = 1000000007L
    val shardW = (prime + nShards - 1) / nShards
    val w = Window.partitionBy(col("shard_id"))
      .orderBy(col("k"), col(idCol))
    // double-mod keeps k in [0,p) even for negative ids/seeds (Java %
    // keeps the dividend's sign); for the non-negative entry inputs it
    // is value-identical to the oracle's single %
    df.withColumn("k",
        ((((col(idCol) % lit(prime)) * lit(2654435761L)
          + lit(seed * 998244353L))
          % lit(prime)) + lit(prime)) % lit(prime))
      .withColumn("shard_id", expr(s"CAST(k DIV $shardW AS BIGINT)"))
      .withColumn("position", row_number().over(w).cast("long"))
      .select(col("shard_id"), col("position"), col(idCol))
  }
}
