package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Round-5 widening of the relational core (SURVEY.md §2.B): the
  * sessionization-adjacent pattern family (gaps-and-islands streaks,
  * funnels, cohort retention, interval coalescing, id-gap QA), blocked
  * fuzzy matching, higher-order array/map functions, IGNORE-NULLS
  * fill-forward, argmax/boolean aggregates, fixed-width time bucketing
  * and a nearest-in-time join composed from the custom as-of operator.
  * All DuckDB-oracled.
  *
  * Scale notes: every window here partitions by a real key (user_id /
  * event_type), so state is per-partition bounded; the fuzzy match is
  * BLOCKED (equi-join on block keys, never a cross join); the funnel is
  * three key-local aggregations, not a per-user sort of the fact table;
  * the nearest join is two merge-based as-of passes, each one shuffle.
  */
object Analytics4 {

  /** Event-time day ordinal (days since 2024-01-01), shared by the
    * streak/retention entries so both engines bucket identically.
    */
  private def dayNum = datediff(to_date(col("ts")),
    lit("2024-01-01").cast("date"))

  val entries: Seq[Entry] = Seq(
    Entry(
      "q68_streaks",
      // Gaps-and-islands: per-user consecutive-active-day streaks via
      // the classic day_num − row_number() group key (consecutive days
      // share one key — no self-join, one shuffle on user_id). Output:
      // streak count + longest streak per user, earliest-start
      // tiebreak via max(struct(len, −start)).
      (s, dir) => {
        val days = t(s, dir, "events")
          .select(col("user_id"), dayNum.as("day_num")).distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day_num"))
        val streaks = days
          .withColumn("grp", col("day_num") - row_number().over(w))
          .groupBy(col("user_id"), col("grp"))
          .agg(count(lit(1)).as("len"), min(col("day_num")).as("start_day"))
        streaks.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_streaks"),
            max(struct(col("len"), (-col("start_day")).as("neg"))).as("best"))
          .select(col("user_id"), col("n_streaks"),
            col("best.len").as("longest"),
            (-col("best.neg")).cast("long").as("longest_start_day"))
          .orderBy(col("user_id"))
      },
      Some("""WITH d AS (SELECT DISTINCT user_id,
          date_diff('day', DATE '2024-01-01',
            CAST(date_trunc('day', ts) AS DATE)) AS day_num FROM events),
        g AS (SELECT user_id, day_num, day_num - ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY day_num) AS grp FROM d),
        st AS (SELECT user_id, grp, COUNT(*) AS len,
          MIN(day_num) AS start_day FROM g GROUP BY 1, 2),
        best AS (SELECT user_id, len, start_day, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY len DESC, start_day) AS rn FROM st)
        SELECT a.user_id, a.n_streaks, b.len AS longest,
          CAST(b.start_day AS BIGINT) AS longest_start_day
        FROM (SELECT user_id, COUNT(*) AS n_streaks FROM st GROUP BY 1) a
        JOIN best b ON a.user_id = b.user_id AND b.rn = 1
        ORDER BY a.user_id""")),

    Entry(
      "q69_funnel",
      // Strictly-ordered funnel (view → click after it → purchase
      // after that): each stage is a key-local conditional MIN over the
      // previous stage's users — three small aggregations + broadcast
      // joins on user_id, never a per-user event sort. One summary row.
      (s, dir) => {
        val ev = t(s, dir, "events").select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
        val c = ev.filter(col("event_type") === "click")
          .join(broadcast(v), "user_id").filter(col("us") > col("v_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
        val p = ev.filter(col("event_type") === "purchase")
          .join(broadcast(c), "user_id").filter(col("us") > col("c_us"))
          .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
        ev.agg(count_distinct(col("user_id")).as("n_users"))
          .crossJoin(v.agg(count(lit(1)).as("n_view")))
          .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_view_click_purchase")))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us
          FROM events),
        v AS (SELECT user_id, MIN(us) AS v_us FROM ev
          WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, MIN(e.us) AS c_us FROM ev e
          JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.us > v.v_us GROUP BY 1),
        p AS (SELECT e.user_id, MIN(e.us) AS p_us FROM ev e
          JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.us > c.c_us GROUP BY 1)
        SELECT (SELECT COUNT(DISTINCT user_id) FROM ev) AS n_users,
          (SELECT COUNT(*) FROM v) AS n_view,
          (SELECT COUNT(*) FROM c) AS n_view_click,
          (SELECT COUNT(*) FROM p) AS n_view_click_purchase""")),

    Entry(
      "q70_retention",
      // Cohort retention: cohort = each user's first active day;
      // activity at day offsets 0..7 counted per (cohort, offset).
      // Two aggregations on user_id + one on the (tiny) cohort grid —
      // the fact table never sorts.
      (s, dir) => {
        val ev = t(s, dir, "events")
          .select(col("user_id"), dayNum.as("day_num")).distinct()
        val first = ev.groupBy(col("user_id"))
          .agg(min(col("day_num")).as("cohort_day"))
        ev.join(first, "user_id")
          .withColumn("day_offset",
            (col("day_num") - col("cohort_day")).cast("long"))
          .filter(col("day_offset") <= 7)
          .groupBy(col("cohort_day").cast("long").as("cohort_day"),
            col("day_offset"))
          .agg(count(lit(1)).as("n_active"))
          .orderBy(col("cohort_day"), col("day_offset"))
      },
      Some("""WITH d AS (SELECT DISTINCT user_id,
          date_diff('day', DATE '2024-01-01',
            CAST(date_trunc('day', ts) AS DATE)) AS day_num FROM events),
        f AS (SELECT user_id, MIN(day_num) AS cohort_day FROM d GROUP BY 1)
        SELECT CAST(f.cohort_day AS BIGINT) AS cohort_day,
          CAST(d.day_num - f.cohort_day AS BIGINT) AS day_offset,
          COUNT(*) AS n_active
        FROM d JOIN f ON d.user_id = f.user_id
        WHERE d.day_num - f.cohort_day <= 7
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    Entry(
      "q71_fuzzy_match",
      // Fuzzy matching (the entity-resolution pattern) with RECALL-1
      // blocking: candidates come from an equi-join on FastSS
      // symmetric-deletion variant hashes (DeletionVariants — any pair
      // with edit distance ≤ 2 must share a ≤2-deletion variant), then
      // exact distance ≤ 2 via the BANDED levenshtein expression
      // (O(k·n) with early exit; identical filter + kept values to the
      // full-matrix function, LevBandSpec). Output is IDENTICAL to a
      // full within-(nation, segment) quadratic compare — the oracle
      // runs that quadratic form — but candidate volume stays linear
      // in data: the old (nation, mktsegment) attribute blocking had a
      // FIXED ~125 blocks, so 10× data meant 100× pairs (measured
      // super-linear at the sf1 scaling decade).
      (s, dir) => q71FuzzyMatch(s, dir),
      Some("""SELECT a.c_custkey AS a_key, a.c_name AS a_name,
          b.c_custkey AS b_key, b.c_name AS b_name,
          CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND a.c_custkey < b.c_custkey
        WHERE levenshtein(a.c_name, b.c_name) <= 2
        ORDER BY a_key, b_key""")),

    Entry(
      "q71_fuzzy_capped",
      // The df-capped RECALL-TRADEOFF variant of q71 (VERDICT r19
      // #2): q71's recall-1 deletion blocking pays candidate
      // co-occurrence volume that is intrinsically ~n^1.15 on dense
      // name distributions (Q71Diag, SURVEY §21) — a 100 TB user who
      // can tolerate <1 recall needs a path with a LINEAR bound.
      // An MinHash-LSH blocking (the literal r19 suggestion) was
      // built first and measured structurally non-discriminative on
      // key-like strings: within-(nation, segment) FALSE pairs carry
      // the same gram-Jaccard distribution as true dist-≤2 pairs
      // (both median J = 0.5 at q ∈ {3,4,5} — the constant
      // "Customer#" format dominates the gram sets), so the 32×2
      // banding passed 1.11 B distinct candidates at the sf10 decade
      // (~50× the exact path); df-FILTERED grams collapse true-pair J
      // to ~0 as well (edits destroy exactly the rare grams). Both
      // measurements are ledgered in SURVEY §22; no gram-set
      // similarity separates edit distance on this distribution.
      // The shipped escape hatch keeps q71's SOUND alignment-aware
      // blocking — FastSS ≤2-deletion variants on the 16-char suffix
      // window, bucket key = hash(nation, segment, variant) — and
      // adds ONE recall knob: buckets with occupancy > Q71Cap (8) are
      // dropped. Candidate volume is then ≤ n·137·cap/2 — linear in
      // the corpus BY CONSTRUCTION, not by distributional luck — and
      // pairs explode join-free inside each ≤cap-key bucket array.
      // What the cap costs is measured, not argued: q71_recall_report
      // reads recall per edit distance against the recall-1 path (a
      // dist-2 substitution pair shares exactly ONE bucket — its
      // {i,j} double-deletion — so capping trades exactly the pairs
      // whose shared bucket is hot). A 64-bit bucket-hash collision
      // is caught by the post-join nation/segment equality re-check,
      // q71's own convention.
      // ORACLED from the dumped kept-bucket store: DuckDB re-derives
      // candidate pairs from (bk, key) and re-verifies with its own
      // levenshtein, so pairing and verify are both checked.
      (s, dir) => q71FuzzyCapped(s, dir),
      Some(s"""WITH bd AS (SELECT bk, key
          FROM read_parquet('${OracleDumps.SqlRoot}/q71/buckets/*.parquet')),
        cand AS (SELECT DISTINCT l.key AS a_key, r.key AS b_key
          FROM bd l JOIN bd r ON l.bk = r.bk AND l.key < r.key)
        SELECT c.a_key, a.c_name AS a_name, c.b_key, b.c_name AS b_name,
          CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        FROM cand c JOIN customer a ON a.c_custkey = c.a_key
          JOIN customer b ON b.c_custkey = c.b_key
        WHERE a.c_nationkey = b.c_nationkey
          AND a.c_mktsegment = b.c_mktsegment
          AND levenshtein(a.c_name, b.c_name) <= 2
        ORDER BY a_key, b_key""")),

    Entry(
      "q71_recall_report",
      // The measured recall contract for q71_fuzzy_capped
      // (dedup_recall_report's shape): per exact edit distance, how
      // many true pairs exist (ground truth = the recall-1 q71 path,
      // whose equivalence to the full quadratic is its own oracle) vs
      // how many the capped buckets surface. At 100 TB this is the
      // report a pipeline owner reads before choosing the linear
      // path; here the full truth is affordable at gate scales, and
      // SURVEY §22 carries the measured table. Recall is one IEEE
      // division of two exact counts, so the report hash-matches.
      (s, dir) => {
        val truth = q71FuzzyMatch(s, dir)
          .select(col("a_key"), col("b_key"), col("dist"))
        val cand = q71CappedCandidates(s, dir).withColumn("hit", lit(1L))
        truth.join(cand, Seq("a_key", "b_key"), "left")
          .groupBy(col("dist"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("hit"), lit(0L))).as("n_recalled"))
          .withColumn("recall",
            col("n_recalled").cast("double") / col("n_pairs").cast("double"))
          .orderBy(col("dist"))
      },
      Some(s"""WITH truth AS (SELECT a.c_custkey AS a_key,
            b.c_custkey AS b_key,
            CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
            AND a.c_mktsegment = b.c_mktsegment
            AND a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= 2),
        bd AS (SELECT bk, key
          FROM read_parquet('${OracleDumps.SqlRoot}/q71/buckets/*.parquet')),
        cand AS (SELECT DISTINCT l.key AS a_key, r.key AS b_key
          FROM bd l JOIN bd r ON l.bk = r.bk AND l.key < r.key),
        agg AS (SELECT t.dist, COUNT(*) AS n_pairs,
            CAST(SUM(CASE WHEN c.a_key IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_recalled
          FROM truth t LEFT JOIN cand c
            ON t.a_key = c.a_key AND t.b_key = c.b_key
          GROUP BY t.dist)
        SELECT dist, n_pairs, n_recalled,
          CAST(n_recalled AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS recall
        FROM agg ORDER BY dist""")),

    Entry(
      "q72_higher_order",
      // Higher-order array functions (transform / filter / aggregate /
      // exists / forall) over per-order quantity arrays — all codegen'd
      // lambda expressions, evaluated per row with no extra shuffle
      // beyond the building groupBy. Arrays sorted so rendering is
      // deterministic under any partitioning.
      (s, dir) => {
        val arrs = t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 97 === 0)
          .select(col("l_orderkey"), col("l_quantity").cast("int").as("q"))
          .groupBy(col("l_orderkey"))
          .agg(array_sort(collect_list(col("q"))).as("qs"))
        def render(c: org.apache.spark.sql.Column) =
          concat_ws(",", transform(c, _.cast("string")))
        arrs.select(col("l_orderkey"),
            render(col("qs")).as("quantities"),
            render(transform(col("qs"), _ * 2)).as("doubled"),
            render(filter(col("qs"), _ > 25)).as("big"),
            aggregate(col("qs"), lit(0L), (a, x) => a + x).as("total"),
            exists(col("qs"), _ === 40).as("has40"),
            forall(col("qs"), _ > 0).as("all_pos"))
          .orderBy(col("l_orderkey"))
      },
      Some("""WITH a AS (SELECT l_orderkey,
          list_sort(list(CAST(l_quantity AS INT))) AS qs
        FROM lineitem WHERE l_orderkey % 97 = 0 GROUP BY 1)
        SELECT l_orderkey,
          array_to_string(qs, ',') AS quantities,
          array_to_string(list_transform(qs, x -> x * 2), ',') AS doubled,
          COALESCE(array_to_string(list_filter(qs, x -> x > 25), ','), '')
            AS big,
          CAST(list_sum(qs) AS BIGINT) AS total,
          list_contains(qs, 40) AS has40,
          len(list_filter(qs, x -> x <= 0)) = 0 AS all_pos
        FROM a ORDER BY l_orderkey""")),

    Entry(
      "q73_fill_forward",
      // IGNORE NULLS fill-forward (sensor/price carry-forward): each
      // event carries the user's most recent purchase value via
      // last(_, ignoreNulls) over an unbounded-preceding frame — one
      // shuffle on user_id; the carried value is a raw passthrough so
      // it hash-matches DuckDB's native LAST_VALUE ... IGNORE NULLS.
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
          .withColumn("last_purchase_value",
            last(when(col("event_type") === "purchase", col("value")),
              ignoreNulls = true).over(w))
          .select(col("user_id"), col("event_id"), col("us"),
            col("last_purchase_value"))
          .orderBy(col("user_id"), col("us"), col("event_id"))
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS us,
          LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END
            IGNORE NULLS) OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts), event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS last_purchase_value
        FROM events ORDER BY user_id, us, event_id""")),

    Entry(
      "q74_argmax_bool",
      // count_if / bool_and / bool_or / max_by / min_by aggregates —
      // all order-independent (argmax keyed on the UNIQUE event_id, so
      // no tie nondeterminism) and map-side partial-aggregable.
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            count_if(col("value") > 500).as("n_hi"),
            bool_and(col("value") > 0).as("all_pos"),
            bool_or(col("value") > 990).as("any_huge"),
            max_by(col("user_id"), col("event_id")).as("last_user"),
            min_by(col("user_id"), col("event_id")).as("first_user"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type,
          COUNT(*) FILTER (WHERE value > 500) AS n_hi,
          bool_and(value > 0) AS all_pos,
          bool_or(value > 990) AS any_huge,
          arg_max(user_id, event_id) AS last_user,
          arg_min(user_id, event_id) AS first_user
        FROM events GROUP BY event_type ORDER BY event_type""")),

    Entry(
      "q75_time_bucket",
      // Fixed-width time bucketing (date_bin / time_bucket): 15-minute
      // buckets from pure integer µs division — engine-independent,
      // pushdown-friendly, and the bucket key is a perfect shuffle key
      // (uniform, no timezone edge cases).
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"),
            unix_micros(col("ts")).as("us"), col("value"))
          .withColumn("bucket_us",
            expr("us DIV 900000000") * lit(900000000L))
          .groupBy(col("event_type"), col("bucket_us"))
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
          .orderBy(col("event_type"), col("bucket_us")),
      Some("""SELECT event_type,
          epoch_us(ts) // 900000000 * 900000000 AS bucket_us,
          COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_us""")),

    Entry(
      "q76_interval_merge",
      // Interval coalescing (range union): each event opens a 10-minute
      // interval; overlapping intervals merge via the running-max-end
      // island technique (new island iff start > max end so far), then
      // per-user coverage = Σ island spans. One shuffle on user_id,
      // window state O(1) per row — the scalable form of interval
      // union (no pairwise overlap join).
      (s, dir) => {
        val spanUs = 600000000L
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("s"), col("event_id"))
        val prevMax = max(col("e"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1))
        val iv = t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts")).as("s"))
          .withColumn("e", col("s") + spanUs)
          .withColumn("new_island",
            when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
          .withColumn("island",
            sum(col("new_island")).over(w.rowsBetween(
              Window.unboundedPreceding, 0)))
        iv.groupBy(col("user_id"), col("island"))
          .agg(min(col("s")).as("st"), max(col("e")).as("en"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_intervals"),
            sum(col("en") - col("st")).as("covered_us"))
          .orderBy(col("user_id"))
      },
      Some("""WITH iv AS (SELECT user_id, event_id,
          epoch_us(ts) AS s, epoch_us(ts) + 600000000 AS e FROM events),
        m AS (SELECT *, MAX(e) OVER (PARTITION BY user_id
            ORDER BY s, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
          FROM iv),
        fl AS (SELECT *, CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END
          AS new_island FROM m),
        isl AS (SELECT *, SUM(new_island) OVER (PARTITION BY user_id
            ORDER BY s, event_id ROWS UNBOUNDED PRECEDING) AS island
          FROM fl),
        sp AS (SELECT user_id, island, MIN(s) AS st, MAX(e) AS en
          FROM isl GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_intervals,
          CAST(SUM(en - st) AS BIGINT) AS covered_us
        FROM sp GROUP BY user_id ORDER BY user_id""")),

    Entry(
      "q77_nearest_event",
      // Nearest-in-time join: each purchase pairs with the user's
      // closest click in EITHER direction — composed from the custom
      // as-of operator run backward then forward (two merge passes,
      // one shuffle each), tie → earlier click. The oracle runs
      // DuckDB's native ASOF both ways and picks the same winner.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"))
        def clicks(pfx: String) = ev.filter(col("event_type") === "click")
          .select(col("user_id").as(s"${pfx}_user_id"),
            col("event_id").as(s"${pfx}_id"),
            unix_micros(col("ts")).as(s"${pfx}_us"))
        val back = graft.plans.AsOf.join(p, clicks("b"),
          Seq("user_id"), "us", Seq("b_user_id"), "b_us")
        val both = graft.plans.AsOf.joinForward(back, clicks("f"),
          Seq("user_id"), "us", Seq("f_user_id"), "f_us")
        val bDiff = col("us") - col("b_us")
        val fDiff = col("f_us") - col("us")
        val takeBack = col("f_us").isNull ||
          (col("b_us").isNotNull && bDiff <= fDiff)
        both.select(col("event_id"), col("user_id"), col("us"),
            when(takeBack, col("b_id")).otherwise(col("f_id"))
              .as("nearest_click_id"),
            when(takeBack, bDiff).otherwise(fDiff).as("nearest_diff_us"))
          .orderBy(col("event_id"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
          event_type FROM events),
        p AS (SELECT event_id, user_id, us FROM ev
          WHERE event_type = 'purchase'),
        c AS (SELECT event_id, user_id, us FROM ev
          WHERE event_type = 'click'),
        b AS (SELECT p.event_id, p.user_id, p.us,
            c.event_id AS b_id, c.us AS b_us
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.us >= c.us),
        f AS (SELECT p.event_id, c.event_id AS f_id, c.us AS f_us
          FROM p ASOF LEFT JOIN c
            ON p.user_id = c.user_id AND p.us <= c.us)
        SELECT b.event_id, b.user_id, b.us,
          CASE WHEN f.f_us IS NULL OR (b.b_us IS NOT NULL
              AND b.us - b.b_us <= f.f_us - b.us)
            THEN b.b_id ELSE f.f_id END AS nearest_click_id,
          CASE WHEN f.f_us IS NULL OR (b.b_us IS NOT NULL
              AND b.us - b.b_us <= f.f_us - b.us)
            THEN b.us - b.b_us ELSE f.f_us - b.us END AS nearest_diff_us
        FROM b JOIN f ON b.event_id = f.event_id
        ORDER BY b.event_id""")),

    Entry(
      "q78_map_funcs",
      // MapType end-to-end: per-user event-type→count maps built from
      // SORTED entries (map_from_entries preserves entry order, so the
      // rendered form is deterministic), filtered with map_filter, and
      // rendered via map_entries + transform. The oracle builds the
      // identical strings relationally.
      (s, dir) => {
        val m = t(s, dir, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("user_id"))
          .agg(map_from_entries(array_sort(collect_list(
            struct(col("event_type"), col("cnt"))))).as("m"))
        m.select(col("user_id"),
            size(col("m")).cast("long").as("n_types"),
            aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
              .as("n_events"),
            concat_ws(",", transform(
              map_entries(map_filter(col("m"), (_, v) => v >= 3)),
              e => concat(e.getField("key"), lit(":"),
                e.getField("value").cast("string")))).as("frequent"))
          .orderBy(col("user_id"))
      },
      Some("""WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_types,
          CAST(SUM(cnt) AS BIGINT) AS n_events,
          COALESCE(string_agg(event_type || ':' || cnt, ','
            ORDER BY event_type) FILTER (WHERE cnt >= 3), '') AS frequent
        FROM c GROUP BY user_id ORDER BY user_id""")),

    Entry(
      "q79_id_gaps",
      // Sequence-gap QA (the ingestion completeness check): missing
      // event_id ranges within each event_type via lag — emitted only
      // when ≥ 8 ids are missing, so the report stays small. Window
      // partitions on event_type; at scale you'd sub-partition by id
      // range and stitch boundaries.
      (s, dir) => {
        val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        t(s, dir, "events")
          .select(col("event_type"), col("event_id"))
          .withColumn("prev", lag(col("event_id"), 1).over(w))
          .filter(col("event_id") - col("prev") >= 9)
          .select(col("event_type"),
            (col("prev") + 1).as("gap_start"),
            (col("event_id") - 1).as("gap_end"),
            (col("event_id") - col("prev") - 1).as("n_missing"))
          .orderBy(col("event_type"), col("gap_start"))
      },
      Some("""WITH g AS (SELECT event_type, event_id,
          LAG(event_id) OVER (PARTITION BY event_type
            ORDER BY event_id) AS prev
        FROM events)
        SELECT event_type, prev + 1 AS gap_start, event_id - 1 AS gap_end,
          event_id - prev - 1 AS n_missing
        FROM g WHERE event_id - prev >= 9
        ORDER BY event_type, gap_start""")),

    Entry(
      "q80_mode",
      // Deterministic MODE: both engines' mode() leaves ties
      // unspecified, so the portable form is count + rank with a total
      // (cnt DESC, value ASC) order — two shuffles, map-side partials
      // on the first, and the window input is one row per distinct
      // value, not the fact table.
      (s, dir) => {
        val cnts = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_quantity").cast("int").as("q"))
          .groupBy(col("l_returnflag"), col("q"))
          .agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("cnt").desc, col("q").asc)
        cnts.withColumn("r", row_number().over(w))
          .filter(col("r") === 1)
          .select(col("l_returnflag"), col("q").as("mode_qty"), col("cnt"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH c AS (SELECT l_returnflag, CAST(l_quantity AS INT) AS q,
          COUNT(*) AS cnt FROM lineitem GROUP BY 1, 2),
        r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
            ORDER BY cnt DESC, q ASC) AS r FROM c)
        SELECT l_returnflag, q AS mode_qty, cnt FROM r WHERE r = 1
        ORDER BY l_returnflag""")),

    Entry(
      "q81_weighted_median",
      // Weighted median (quantity-weighted price), TWO-PASS: a naive
      // running-weight window sorts every row of the group — with 3
      // groups that is a 3-way-parallel sort of the whole fact table.
      // Instead, pass 1 masses weights into price buckets (tiny grid)
      // and locates the single bucket where the cumulative weight
      // crosses half; pass 2 sorts ONLY that bucket's rows, offset by
      // the mass of all earlier buckets. Integer weights and the
      // division-free 2·cum ≥ total rule keep the picked value exact;
      // the result is identical to the one-pass form (the global
      // running sum at any row = earlier-bucket mass + in-bucket
      // running sum, and buckets are monotone in price).
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_extendedprice"),
            col("l_quantity").cast("long").as("wt"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("b",
            floor(col("l_extendedprice") / 1000).cast("long"))
        val wTot = Window.partitionBy(col("l_returnflag"))
        val wCumB = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("b"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val target = li.groupBy(col("l_returnflag"), col("b"))
          .agg(sum(col("wt")).as("bw"))
          .withColumn("cum", sum(col("bw")).over(wCumB))
          .withColumn("tot", sum(col("bw")).over(wTot))
          .withColumn("prev_cum", col("cum") - col("bw"))
          .filter(col("cum") * 2 >= col("tot") &&
            col("prev_cum") * 2 < col("tot"))
          .select(col("l_returnflag"), col("b"), col("prev_cum"),
            col("tot"))
        val wIn = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, 0)
        li.join(broadcast(target), Seq("l_returnflag", "b"))
          .withColumn("cum_in", sum(col("wt")).over(wIn))
          .filter((col("prev_cum") + col("cum_in")) * 2 >= col("tot"))
          .groupBy(col("l_returnflag"))
          .agg(min(col("l_extendedprice")).as("wmedian"),
            max(col("tot")).as("total_weight"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH r AS (SELECT l_returnflag, l_extendedprice,
          CAST(l_quantity AS BIGINT) AS wt,
          SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          SUM(CAST(l_quantity AS BIGINT)) OVER (PARTITION BY l_returnflag)
            AS tot
        FROM lineitem)
        SELECT l_returnflag, MIN(l_extendedprice) AS wmedian,
          CAST(MAX(tot) AS BIGINT) AS total_weight
        FROM r WHERE cum * 2 >= tot
        GROUP BY l_returnflag ORDER BY l_returnflag"""))
  )

  /** Shipped occupancy cap for q71_fuzzy_capped: buckets holding more
    * than this many distinct customers are dropped from the blocking.
    * Candidate volume is then bounded by n·137·Q71Cap/2 (linear in the
    * corpus); what the cap costs in recall is measured per edit
    * distance by q71_recall_report, never assumed. 8 sits just above
    * the measured df median band (Q71Diag r19: df 5-16 buckets carry
    * ~42% of pair volume at the upsampled decades, max df 15) — a
    * visible-but-bounded trade the recall table quantifies.
    */
  private[graft] val Q71Cap = 8

  /** Kept-bucket store q71_fuzzy_capped blocks on (one per (session,
    * corpus, cap), IndexCache-managed like dedup's banded store): the
    * exact path's FastSS ≤2-deletion variant relation, grouped by
    * bucket key hash(nation, segment, variant), keeping only buckets
    * with 2..cap distinct customers. Build is one corpus scan + one
    * bucket-key shuffle; the stored relation is (bk, sorted key array)
    * — singleton buckets (the vast majority) and hot buckets are both
    * gone, so the store is far smaller than the variant relation.
    */
  private[graft] def cappedBuckets(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Int = Q71Cap): org.apache.spark.sql.DataFrame =
    IndexCache.getOrBuild(s, dir, s"q71_capped_buckets_$cap") {
      import org.apache.spark.sql.graft.DatasetBridge
      t(s, dir, "customer")
        // the 137× variant explode is a fanout-heavy per-row stage:
        // decouple its parallelism from the customer file's split
        // count (1-2 splits at the decade dirs would serialize 205 M
        // generated rows through 2 cores — the mmPngSource rule:
        // explode/codec stages are sized to cores, not input bytes)
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
        .withColumn("v", explode(DatasetBridge.column(
          graft.functions.DeletionVariants(
            DatasetBridge.expression(col("c_name")), 2, 16))))
        .select(xxhash64(col("c_nationkey"), col("c_mktsegment"),
            col("v")).as("bk"),
          col("c_custkey").as("key"))
        .groupBy(col("bk"))
        .agg(collect_set(col("key")).as("ks"))
        .filter(size(col("ks")).between(2, cap))
        .select(col("bk"), array_sort(col("ks")).as("keys"))
        .persist()
    }

  /** The oracle dump of the shipped-cap kept buckets, so the DuckDB
    * oracle re-derives candidate pairs from the same blocking product
    * (re-pairing + re-verifying in SQL; the variant hashing and the
    * cap are the Spark-side steps under test via the pair set).
    */
  def oracleDumps(s: org.apache.spark.sql.SparkSession, dir: String): Unit =
    // NO single-file collapse: coalesce(1) on the not-yet-
    // materialized store folds past the groupBy exchange and runs
    // the whole bucket build as ONE reduce task, and repartition(1)
    // still serializes the ~50 M-row parquet encode at the decade
    // dirs (both measured as multi-minute single-core stalls). The
    // oracle reads a *.parquet glob, so the dump keeps the store's
    // natural partitioning and writes in parallel.
    cappedBuckets(s, dir)
      .select(col("bk"), explode(col("keys")).as("key"))
      .write.mode("overwrite")
      .parquet(s"${OracleDumps.root(s, dir)}/q71/buckets")

  /** Distinct candidate pairs (a_key < b_key) from the kept buckets —
    * pairs explode JOIN-FREE inside each bucket's ≤cap-element key
    * array (C(cap,2) ≤ 28 struct builds per bucket, all codegen'd), so
    * the only exchanges are the store's bucket-key shuffle and the
    * distinct. No self-join exists to mis-plan.
    */
  private[graft] def q71CappedCandidates(
      s: org.apache.spark.sql.SparkSession, dir: String,
      cap: Int = Q71Cap): org.apache.spark.sql.DataFrame =
    cappedBuckets(s, dir, cap)
      .select(explode(expr(
        "flatten(transform(sequence(0, size(keys) - 2), i -> " +
          "transform(sequence(i + 1, size(keys) - 1), j -> " +
          "struct(element_at(keys, i + 1) AS a_key, " +
          "element_at(keys, j + 1) AS b_key))))")).as("p"))
      .select(col("p.a_key"), col("p.b_key"))
      .distinct()

  /** q71_fuzzy_capped body: capped candidates → name lookup →
    * block-equality re-check → banded-Levenshtein verify (identical
    * verify + output shape to q71_fuzzy_match; only the blocking's
    * occupancy cap differs — at cap ≥ the corpus's max bucket df the
    * output is bit-identical to the exact entry, Round20Spec-pinned).
    */
  private[graft] def q71FuzzyCapped(s: org.apache.spark.sql.SparkSession,
      dir: String, cap: Int = Q71Cap): org.apache.spark.sql.DataFrame =
    q71Verify(q71CappedCandidates(s, dir, cap), t(s, dir, "customer"))

  /** Banded Levenshtein distance (≤ 2, else 3) of a_name and b_name. */
  private def q71Dist: org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graft.DatasetBridge
    DatasetBridge.column(graft.functions.LevenshteinBand(
      DatasetBridge.expression(col("a_name")),
      DatasetBridge.expression(col("b_name")), 2)).cast("long")
  }

  /** q71's verify over candidate (a_key, b_key) pairs: name lookups
    * from customer relation `c` — NO forced broadcast: the lookup side
    * is the whole customer relation, which stops fitting the driver as
    * the corpus grows (a forced broadcast() died on
    * spark.driver.maxResultSize at the sf10 decade); AQE broadcasts it
    * while it is genuinely small and shuffle-joins on the key — still
    * linear — once it is not. Then the block-equality re-check (a
    * 64-bit bucket-hash collision could smuggle a cross-block pair in)
    * and the banded-Levenshtein verify.
    */
  private def q71Verify(cand: org.apache.spark.sql.DataFrame,
      c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val an = c.select(col("c_custkey").as("a_key"),
      col("c_name").as("a_name"), col("c_nationkey").as("a_nat"),
      col("c_mktsegment").as("a_seg"))
    val bn = c.select(col("c_custkey").as("b_key"),
      col("c_name").as("b_name"), col("c_nationkey").as("b_nat"),
      col("c_mktsegment").as("b_seg"))
    cand.join(an, "a_key").join(bn, "b_key")
      .filter(col("a_nat") === col("b_nat") &&
        col("a_seg") === col("b_seg"))
      .withColumn("dist", q71Dist)
      .filter(col("dist") <= 2)
      .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"),
        col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** q71_fuzzy_match body (entry scaladoc above documents the FastSS
    * blocking design; factored out so Round16Spec can pin the scaled
    * partitioning against a forced value).
    *
    * SLIM candidate relation: the ~170x-fanout self-join carries only
    * (custkey, 64-bit hash of (nation, segment, variant)) — names /
    * segments rejoin AFTER the distinct pair set shrinks (measured
    * 74 s → the wide-row join shuffled ~2 GB/side at the sf1 decade).
    * A 64-bit hash collision could smuggle a cross-block candidate in,
    * so the verify re-checks the block columns before the distance.
    *
    * window 16 (last 16 chars): variant count per row is a CONSTANT
    * 137 instead of O(len^2) — the sf1 decade's 15.8x outlier was
    * exactly the variant count growing with name length. Suffix window
    * because c_name's entropy is its trailing digits; recall-1 for
    * dist <= 2 is preserved (proof at ExprKernels.delVariants,
    * property-tested in Round6Spec). 16 not 12: the window must reach
    * PAST shared trailing decorations into distinguishing content, or
    * variant buckets merge across near-but-not-matching tails —
    * measured at the sf10 decade (names carrying stacked per-round
    * suffixes): w=12 emitted 279 M candidate pairs, w=16 emits 23 M
    * for only 1.74x more keyed rows.
    *
    * DATA-SCALED self-join partitioning (r16): the shuffle-hash build
    * side is one partition's slice of the ~137x-exploded variant
    * relation, so a FIXED partition count stops fitting as the corpus
    * grows — at the sf30 probe, 617 M keyed rows over the session's 32
    * partitions needed ~460 MB of build per task and 32 concurrent
    * builds could no longer acquire pages ("Can't acquire 536870912
    * bytes to build hash relation"). The join key is therefore
    * repartition()'d to ceil(rows * 24 B / 100 MB) partitions (24 B =
    * measured hash-relation bytes/row, 100 MB = build budget per task;
    * floor = the session default so gate scales keep today's plan,
    * cap 2048). Both join sides derive from the SAME repartitioned
    * relation, so the explicit exchange replaces — not adds to — the
    * join's implicit one, and AQE never coalesces a user-specified
    * count back up into the failure mode. This is exactly "size
    * shuffle partitions so partitions fit in executor memory": on a
    * real cluster the same arithmetic lands near the executor-count
    * defaults; only single-JVM local mode needs it computed.
    */
  private[graft] def q71FuzzyMatch(s: org.apache.spark.sql.SparkSession,
      dir: String, forceParts: Option[Int] = None,
      inlineVerify: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graft.DatasetBridge
    val c = t(s, dir, "customer").select(col("c_nationkey"),
      col("c_mktsegment"), col("c_custkey"), col("c_name"))
    val parts = forceParts.getOrElse {
      val sessionParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      // zero-column count scan: parquet serves count(*) from footers
      // and page headers without decoding values — cheap (one short
      // job per invocation), but NOT a pure metadata read unless
      // aggregate pushdown is enabled (ADVICE r16 corrected the
      // prior "metadata-only" label); 137 variants/row
      val buildBytes = c.count() * 137L * 24L
      math.max(sessionParts,
        math.min(2048L, (buildBytes + (100L << 20) - 1) / (100L << 20)).toInt)
    }
    val bkCols = Seq(col("c_nationkey"), col("c_mktsegment"), col("v"))
    // shuffle_hash hint (both paths): the planner sizes this self-join
    // from the customer FILE bytes, not the ~70x variant explode, so
    // unhinted it "broadcasts" a 100 M-row side and dies on
    // driver.maxResultSize once the corpus outgrows the estimate
    // (measured at sf10). Both partitioned-join hints hold at any
    // scale (slim rows, shuffled on bk); shuffle-hash skips the two
    // 100 M-row sorts a merge join pays — measured 101 -> 61 s at the
    // sf10 decade, identical pairs. AQE's skew split handles a hot
    // variant bucket (Q71Diag r19: max bucket df is 15 at BOTH sf10u
    // and sf30u — there is no skew to split).
    if (!inlineVerify) {
      // Shipped shape (r18, re-adjudicated r19): slim (key, bk)
      // blocking join → DISTINCT over every bucket co-occurrence →
      // two name-lookup joins → banded-lev verify. Its super-linear
      // term is the distinct + lookups paying the FULL co-occurrence
      // volume (Q71Diag r19: Σ C(df,2) steps at exponent 1.149 while
      // variant occurrences step at 1.062 — the measured 1.12 wall).
      val keyed = c
        .withColumn("v", explode(DatasetBridge.column(
          graft.functions.DeletionVariants(
            DatasetBridge.expression(col("c_name")), 2, 16))))
        .select(col("c_custkey").as("key"),
          xxhash64(bkCols: _*).as("bk"))
        .repartition(parts, col("bk"))
      val cand = keyed.toDF("a_key", "bk").hint("shuffle_hash")
        .join(keyed.toDF("b_key", "bk"), "bk")
        .filter(col("a_key") < col("b_key"))
        .select(col("a_key"), col("b_key")).distinct()
      q71Verify(cand, c)
    } else {
      // inlineVerify (A/B only, VERDICT r18 #2 — LOST, ledgered in
      // SURVEY §21): carry the name through the blocking join and
      // banded-lev verify INLINE before any dedup, so the
      // co-occurrence volume (the exponent-1.149 term, Q71Diag) never
      // materializes into a shuffle and both name-lookup joins
      // disappear. Measured SLOWER: sf10u 80.8 s vs 59.9 s shipped —
      // widening the 107 M-row keyed exchange (names + block attrs on
      // every variant occurrence) costs more than the distinct +
      // lookup joins it removes. Output bit-identical to the shipped
      // path (Round19Spec asserts equality).
      val keyed = c
        .withColumn("v", explode(DatasetBridge.column(
          graft.functions.DeletionVariants(
            DatasetBridge.expression(col("c_name")), 2, 16))))
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          xxhash64(bkCols: _*).as("bk"))
        .repartition(parts, col("bk"))
      val a = keyed.toDF("a_key", "a_name", "a_nat", "a_seg", "bk")
      val b = keyed.toDF("b_key", "b_name", "b_nat", "b_seg", "bk")
      a.hint("shuffle_hash").join(b, "bk")
        // nat/seg equality guards xxhash64 collisions across blocks,
        // exactly as the postLookup path's post-join filter did
        .filter(col("a_key") < col("b_key") &&
          col("a_nat") === col("b_nat") && col("a_seg") === col("b_seg"))
        .withColumn("dist", q71Dist)
        .filter(col("dist") <= 2)
        .select(col("a_key"), col("a_name"), col("b_key"), col("b_name"),
          col("dist"))
        .distinct()
        .orderBy(col("a_key"), col("b_key"))
    }
  }
}
