package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import Tables._

/** Relational analytic core (SURVEY.md §2.B): TPC-H-shaped queries over
  * the driver's test tables, each with a DuckDB oracle twin.
  *
  * Scale notes: filters/projections are declared first so Catalyst
  * pushes them into the parquet scan; small dimensions (region, nation,
  * supplier, customer at TPC-H ratios) are broadcast explicitly; every
  * aggregate over non-integer doubles uses exact DECIMAL casts (see
  * [[Tables]]) so results are partition-order independent.
  */
object Analytics {

  /** 1 - l_discount as an exact DECIMAL(3,2) (value in [0.90, 1.00]). */
  private def oneMinus(c: Column): Column =
    (lit(1) - dec(c)).cast(DecimalType(3, 2))
  /** 1 + l_tax as an exact DECIMAL(3,2) (value in [1.00, 1.08]). */
  private def onePlus(c: Column): Column =
    (lit(1) + dec(c)).cast(DecimalType(3, 2))

  /** q27's 30-min-gap sessionization in SQL — also the oracle of its
    * streaming twin stream_session. */
  private[graft] val sessionizeOracleSql: String =
    """WITH e AS (
          SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        s AS (SELECT *, CASE WHEN LAG(us) OVER w IS NULL
              OR us - LAG(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        t AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id FROM s)
        SELECT user_id, sess_id, COUNT(*) AS n_events,
          MIN(us) AS start_us, MAX(us) AS end_us,
          CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sess_value
        FROM t GROUP BY user_id, sess_id ORDER BY user_id, sess_id"""

  /** q29's as-of join in SQL (DuckDB's native ASOF LEFT JOIN) — also
    * the oracle of its streaming twin stream_asof. */
  private[graft] val asofOracleSql: String =
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS p_us,
        s.event_id AS s_event_id, epoch_us(s.ts) AS s_us
        FROM (SELECT * FROM events WHERE event_type='purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type='signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY p.event_id"""

  val entries: Seq[Entry] = Seq(
    Entry(
      "q01_agg",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(col("l_shipdate") <= lit("1998-09-02"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            dsum(col("l_extendedprice")).as("sum_base_price"),
            sum(dec(col("l_extendedprice")) * oneMinus(col("l_discount")))
              .cast("double").as("sum_disc_price"),
            sum(col("l_extendedprice").cast(DecimalType(10, 2)) *
                oneMinus(col("l_discount")) * onePlus(col("l_tax")))
              .cast("double").as("sum_charge"),
            (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
            (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
            (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy(col("l_returnflag"), col("l_linestatus"))
      },
      Some("""SELECT l_returnflag, l_linestatus,
        SUM(l_quantity) AS sum_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(3,2))) AS DOUBLE) AS sum_disc_price,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(3,2)) * CAST(1 + CAST(l_tax AS DECIMAL(12,2)) AS DECIMAL(3,2))) AS DOUBLE) AS sum_charge,
        SUM(l_quantity) / COUNT(*) AS avg_qty,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        CAST(SUM(CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")),

    Entry(
      "q02_filter_project",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01") &&
            col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderdate"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderstatus = 'O'
        ORDER BY o_orderkey""")),

    Entry(
      "q03_join_agg",
      (s, dir) => {
        val c = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = t(s, dir, "orders").filter(col("o_orderdate") < lit("1997-03-15"))
        val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit("1997-03-15"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum(dec(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("revenue"))
          .select(col("l_orderkey"), col("revenue"), col("o_orderdate"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        o_orderdate
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    Entry(
      "q04_semijoin",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-07-01") &&
            col("o_orderdate") < lit("1996-10-01"))
        val l = t(s, dir, "lineitem").filter(col("l_quantity") > 45)
          .select(col("l_orderkey"))
        o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    Entry(
      "q05_multijoin",
      (s, dir) => {
        val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
        val n = t(s, dir, "nation")
        val c = t(s, dir, "customer")
        val sup = t(s, dir, "supplier")
        val o = t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
        val li = t(s, dir, "lineitem")
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(dec(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(3,2))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name ORDER BY revenue DESC, n_name""")),

    Entry(
      "q06_selective",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
          .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast("double").as("revenue")),
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    Entry(
      "q07_window_rank",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
        t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .orderBy(col("l_suppkey"), col("rn"))
      },
      Some("""SELECT * FROM (
          SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
            ROW_NUMBER() OVER (PARTITION BY l_suppkey
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
          FROM lineitem) WHERE rn <= 3
        ORDER BY l_suppkey, rn""")),

    Entry(
      "q08_window_running",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w3 = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-2, Window.currentRow)
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"))
          .withColumn("run_total",
            sum(dec(col("o_totalprice"))).over(w).cast("double"))
          .withColumn("mov_avg",
            (sum(dec(col("o_totalprice"))).over(w3).cast("double") /
              count(lit(1)).over(w3)))
          .orderBy(col("o_custkey"), col("o_orderkey"))
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w AS DOUBLE) AS run_total,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER w3 AS DOUBLE) / COUNT(*) OVER w3 AS mov_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w3 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey, o_orderkey""")),

    Entry(
      "q09_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            countDistinct(col("l_partkey"), col("l_suppkey")).as("n_ps"),
            count(lit(1)).as("n"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_ps,
        COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Entry(
      "q10_outer_join",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist FROM (
          SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
        GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")),

    Entry(
      "q11_having",
      (s, dir) =>
        t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(sum(dec(col("l_extendedprice"))).as("value_dec"))
          .filter(col("value_dec") > 100000)
          .select(col("p_brand"), col("value_dec").cast("double").as("value"))
          .orderBy(col("value").desc, col("p_brand")),
      Some("""SELECT p_brand,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS value
        FROM lineitem, part WHERE l_partkey = p_partkey
        GROUP BY p_brand
        HAVING SUM(CAST(l_extendedprice AS DECIMAL(12,2))) > 100000
        ORDER BY value DESC, p_brand""")),

    Entry(
      "q12_case_agg",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01"))
        li.join(o, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_linestatus"))
          .agg(
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
              .otherwise(0)).as("high_line_count"),
            sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
              .otherwise(0)).as("low_line_count"))
          .orderBy(col("l_linestatus"))
      },
      Some("""SELECT l_linestatus,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders, lineitem WHERE o_orderkey = l_orderkey
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus ORDER BY l_linestatus""")),

    Entry(
      "q13_string_funcs",
      (s, dir) =>
        t(s, dir, "part")
          .filter(col("p_name").like("%e%"))
          .select(
            col("p_partkey"),
            upper(col("p_brand")).as("brand_u"),
            substring(col("p_type"), 1, 4).as("type4"),
            regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
            length(col("p_name")).as("name_len"),
            concat_ws("|", col("p_brand"), col("p_type")).as("bt"))
          .orderBy(col("p_partkey")),
      Some("""SELECT p_partkey, UPPER(p_brand) AS brand_u,
        SUBSTRING(p_type, 1, 4) AS type4,
        REGEXP_EXTRACT(p_name, '^(\w+)', 1) AS first_word,
        LENGTH(p_name) AS name_len,
        CONCAT_WS('|', p_brand, p_type) AS bt
        FROM part WHERE p_name LIKE '%e%' ORDER BY p_partkey""")),

    Entry(
      "q14_datetime",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(trunc(to_date(col("o_orderdate")), "month").as("mond"))
          .agg(
            count(lit(1)).as("n_orders"),
            dsum(col("o_totalprice")).as("total"),
            max(dayofmonth(col("o_orderdate"))).as("max_dom"))
          .withColumn("yr", year(col("mond")))
          .withColumn("days_since",
            datediff(col("mond"), to_date(lit("1995-01-01"))))
          .select(date_format(col("mond"), "yyyy-MM-dd").as("mon"), col("yr"),
            col("n_orders"), col("total"), col("max_dom"), col("days_since"))
          .orderBy(col("mon")),
      Some("""SELECT strftime(mond, '%Y-%m-%d') AS mon,
        CAST(EXTRACT(year FROM mond) AS INT) AS yr,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total,
        CAST(MAX(dom) AS INT) AS max_dom,
        CAST(date_diff('day', DATE '1995-01-01', mond) AS INT) AS days_since
        FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mond,
                EXTRACT(day FROM o_orderdate) AS dom, o_totalprice FROM orders)
        GROUP BY mond ORDER BY mon""")),

    Entry(
      "q15_setops",
      (s, dir) => {
        val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
        val both = cn.intersect(sn).withColumn("tag", lit("both"))
        val custOnly = cn.except(sn).withColumn("tag", lit("cust_only"))
        both.unionByName(custOnly)
          .select(col("tag"), col("nk"))
          .orderBy(col("tag"), col("nk"))
      },
      Some("""SELECT 'both' AS tag, nk FROM (
          SELECT c_nationkey AS nk FROM customer
          INTERSECT SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'cust_only' AS tag, nk FROM (
          SELECT c_nationkey AS nk FROM customer
          EXCEPT SELECT s_nationkey FROM supplier)
        ORDER BY tag, nk""")),

    Entry(
      "q16_antijoin",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val bigOrders = t(s, dir, "orders")
          .filter(col("o_totalprice") > 490000).select(col("o_custkey"))
        c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""SELECT c_mktsegment, COUNT(*) AS n_cust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        FROM customer WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey AND o_totalprice > 490000)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    Entry(
      "q17_scalar_subq",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part").filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey"))
        val avgq = li.groupBy(col("l_partkey").as("ak"))
          .agg((sum(col("l_quantity")) / count(lit(1))).as("aq"))
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .join(avgq, col("l_partkey") === col("ak"))
          .filter(col("l_quantity") < lit(0.2) * col("aq"))
          .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
      },
      Some("""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem, part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
          AND l_quantity < 0.2 * (
            SELECT SUM(l2.l_quantity) / COUNT(*) FROM lineitem l2
            WHERE l2.l_partkey = p_partkey)""")),

    Entry(
      "q18_in_subq",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val big = li.groupBy(col("l_orderkey").as("bk"))
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 150)
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(big, col("o_orderkey") === col("bk"))
          .join(broadcast(c), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""SELECT c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM orders
        JOIN (SELECT l_orderkey AS bk, SUM(l_quantity) AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(l_quantity) > 150) ON o_orderkey = bk
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    Entry(
      "q19_disjunctive",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val p = t(s, dir, "part")
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .filter(
            (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
              col("l_quantity").between(1, 21)) ||
            (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
              col("l_quantity").between(10, 30)) ||
            (col("p_brand") === "Brand#34" && col("p_size").between(1, 25) &&
              col("l_quantity").between(20, 40)))
          .agg(sum(dec(col("l_extendedprice")) * oneMinus(col("l_discount")))
            .cast("double").as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(3,2))) AS DOUBLE) AS revenue,
        COUNT(*) AS n
        FROM lineitem, part WHERE p_partkey = l_partkey AND (
          (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 21)
          OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
          OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 40))""")),

    Entry(
      "q20_nested",
      (s, dir) => {
        val redParts = t(s, dir, "part")
          .filter(col("p_name").like("red%")).select(col("p_partkey"))
        val li = t(s, dir, "lineitem")
        val heavy = li
          .join(broadcast(redParts), col("l_partkey") === col("p_partkey"),
            "left_semi")
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(col("l_quantity")).as("sq"))
          .filter(col("sq") > 80)
          .select(col("l_suppkey")).distinct()
        t(s, dir, "supplier")
          .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
          .orderBy(col("s_suppkey"))
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM lineitem
          WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          GROUP BY l_suppkey, l_partkey HAVING SUM(l_quantity) > 80)
        ORDER BY s_suppkey""")),

    Entry(
      "q21_rollup",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .rollup(col("n_name"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("bal"))
          .select(
            coalesce(col("n_name"), lit("__ALL__")).as("nation"),
            coalesce(col("c_mktsegment"), lit("__ALL__")).as("segment"),
            col("n_cust"), col("bal"))
          .orderBy(col("nation"), col("segment"))
      },
      Some("""SELECT COALESCE(n_name, '__ALL__') AS nation,
        COALESCE(c_mktsegment, '__ALL__') AS segment,
        COUNT(*) AS n_cust,
        CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
        FROM customer, nation WHERE c_nationkey = n_nationkey
        GROUP BY ROLLUP(n_name, c_mktsegment)
        ORDER BY nation, segment""")),

    Entry(
      "q22_pivot",
      (s, dir) =>
        t(s, dir, "events")
          .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .agg(sum(dec(col("value"))).cast("double"))
          .orderBy(col("day")),
      Some("""SELECT strftime(CAST(date_trunc('day', ts) AS DATE), '%Y-%m-%d') AS day,
        CAST(SUM(CASE WHEN event_type='click' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS click,
        CAST(SUM(CASE WHEN event_type='error' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS error,
        CAST(SUM(CASE WHEN event_type='purchase' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS purchase,
        CAST(SUM(CASE WHEN event_type='signup' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS signup,
        CAST(SUM(CASE WHEN event_type='view' THEN CAST(value AS DECIMAL(12,2)) END) AS DOUBLE) AS view
        FROM events GROUP BY 1 ORDER BY day""")),

    Entry(
      "q23_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("percentile(l_quantity, 0.25)").as("p25"),
            expr("percentile(l_quantity, 0.5)").as("p50"),
            expr("percentile(l_quantity, 0.75)").as("p75"),
            expr("percentile(l_quantity, 0.9)").as("p90"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        quantile_cont(l_quantity, 0.9) AS p90
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    Entry(
      "q24_stats",
      (s, dir) => {
        // stddev/corr rebuilt from exact decimal sums. Every multiply/
        // subtract stays in exact DECIMAL arithmetic; doubles appear
        // only for the final sqrt/divide — otherwise the engines can
        // disagree by one ulp when one compiler fuses a*b-c*d into an
        // FMA (observed against DuckDB at sf0.001).
        // tight casts so every decimal product fits precision 38 with
        // no scale loss: qty <= 50.00 -> (4,2), price < 1e6 -> (8,2),
        // group count < 1e10 -> (10,0)
        val li = t(s, dir, "lineitem")
        import org.apache.spark.sql.types.DecimalType
        val qd = col("l_quantity").cast(DecimalType(4, 2))
        val pd = col("l_extendedprice").cast(DecimalType(8, 2))
        val nd = count(lit(1)).cast(DecimalType(10, 0))
        li.groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("nl"),
            nd.as("n"),
            sum(qd).as("sx"),
            sum(qd * qd).as("sxx"),
            sum(pd).as("sy"),
            sum(pd * pd).as("syy"),
            sum(qd * pd).as("sxy"))
          .select(
            col("l_returnflag"),
            col("nl").cast("double").as("n"),
            // wide-decimal → double via STRING on both engines: the
            // direct int128 cast double-rounds in DuckDB (1 ulp off at
            // sf0.1), the string parse is correctly rounded once
            sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast("string").cast("double") /
              (col("nl").cast("double") * (col("nl") - 1).cast("double")))
              .as("std_qty"),
            ((col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("string").cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("string").cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy"))
                .cast("string").cast("double"))))
              .as("corr_qty_price"))
          .orderBy(col("l_returnflag"))
      },
      Some("""WITH m AS (
          SELECT l_returnflag,
            COUNT(*) AS nl,
            CAST(COUNT(*) AS DECIMAL(10,0)) AS n,
            SUM(CAST(l_quantity AS DECIMAL(4,2))) AS sx,
            SUM(CAST(l_quantity AS DECIMAL(4,2)) * CAST(l_quantity AS DECIMAL(4,2))) AS sxx,
            SUM(CAST(l_extendedprice AS DECIMAL(8,2))) AS sy,
            SUM(CAST(l_extendedprice AS DECIMAL(8,2)) * CAST(l_extendedprice AS DECIMAL(8,2))) AS syy,
            SUM(CAST(l_quantity AS DECIMAL(4,2)) * CAST(l_extendedprice AS DECIMAL(8,2))) AS sxy
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(nl AS DOUBLE) AS n,
          sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE)
            / (CAST(nl AS DOUBLE) * CAST(nl - 1 AS DOUBLE))) AS std_qty,
          CAST(CAST(n * sxy - sx * sy AS VARCHAR) AS DOUBLE)
            / (sqrt(CAST(CAST(n * sxx - sx * sx AS VARCHAR) AS DOUBLE))
               * sqrt(CAST(CAST(n * syy - sy * sy AS VARCHAR) AS DOUBLE)))
            AS corr_qty_price
        FROM m ORDER BY l_returnflag""")),

    Entry(
      "q25_topk_global",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
            col("l_extendedprice"))
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
            col("l_linenumber"))
          .limit(20),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
        FROM lineitem
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""")),

    Entry(
      "q26_json",
      (s, dir) =>
        t(s, dir, "events")
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE)
          / COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type""")),

    Entry(
      "q27_sessionize",
      (s, dir) => {
        val e = t(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_micros(col("ts").cast("timestamp")).as("us"),
            col("value"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("event_id"))
        val wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.withColumn("prev", lag(col("us"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev").isNull ||
              col("us") - col("prev") > 1800000000L, 1).otherwise(0))
          .withColumn("sess_id", sum(col("new_sess")).over(wc))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(count(lit(1)).as("n_events"), min(col("us")).as("start_us"),
            max(col("us")).as("end_us"), dsum(col("value")).as("sess_value"))
          .orderBy(col("user_id"), col("sess_id"))
      },
      Some(sessionizeOracleSql)),

    Entry(
      "q29_asof_join",
      // Custom whole-operator (graft.plans.AsOfJoin): each purchase
      // pairs with the user's most recent signup at-or-before it.
      // Oracled against DuckDB's native ASOF LEFT JOIN.
      (s, dir) => {
        val ev = t(s, dir, "events")
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"))
        val sg = ev.filter(col("event_type") === "signup")
          .select(col("user_id").as("s_user_id"),
            col("event_id").as("s_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("s_us"))
        graft.plans.AsOf.join(p, sg, Seq("user_id"), "p_us",
            Seq("s_user_id"), "s_us")
          .select(col("event_id"), col("user_id"), col("p_us"),
            col("s_event_id"), col("s_us"))
          .orderBy(col("event_id"))
      },
      Some(asofOracleSql)),

    // q28_approx_distinct moved to SketchOps (bracket-check oracle
    // contract alongside the other estimate sketches, VERDICT r11 #1)

    Entry(
      "q30_cube",
      (s, dir) =>
        t(s, dir, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .select(
            coalesce(col("o_orderstatus"), lit("__ALL__")).as("status"),
            coalesce(col("o_orderpriority"), lit("__ALL__")).as("priority"),
            col("n"), col("total"))
          .orderBy(col("status"), col("priority")),
      Some("""SELECT COALESCE(o_orderstatus, '__ALL__') AS status,
        COALESCE(o_orderpriority, '__ALL__') AS priority,
        COUNT(*) AS n,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status, priority""")),

    Entry(
      "q31_arrays",
      // collect/sort/join array aggregation (LISTAGG shape): per
      // nation, the sorted set of market segments its customers span.
      (s, dir) =>
        t(s, dir, "customer")
          .groupBy(col("c_nationkey"))
          .agg(
            concat_ws(",", array_sort(collect_set(col("c_mktsegment"))))
              .as("segments"),
            size(collect_set(col("c_mktsegment"))).cast("long").as("n_seg"))
          .orderBy(col("c_nationkey")),
      Some("""SELECT c_nationkey,
        array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
        CAST(len(list(DISTINCT c_mktsegment)) AS BIGINT) AS n_seg
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    Entry(
      "q32_explode",
      // lateral explode / unnest: word frequencies across part names.
      (s, dir) =>
        t(s, dir, "part")
          .select(explode(split(col("p_name"), " ")).as("w"))
          .groupBy(col("w"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("w")),
      Some("""SELECT w, COUNT(*) AS n FROM (
          SELECT unnest(string_split(p_name, ' ')) AS w FROM part)
        GROUP BY w ORDER BY w""")),

    Entry(
      "q33_regexp_extract_all",
      (s, dir) =>
        t(s, dir, "part")
          .groupBy(col("p_brand"))
          .agg(
            sum(size(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0))))
              .as("n_alpha_tokens"),
            count(lit(1)).as("n_parts"))
          .orderBy(col("p_brand")),
      Some("""SELECT p_brand,
        CAST(SUM(len(regexp_extract_all(p_name, '[a-z]+'))) AS BIGINT) AS n_alpha_tokens,
        COUNT(*) AS n_parts
        FROM part GROUP BY p_brand ORDER BY p_brand""")),

    Entry(
      "q34_null_funcs",
      (s, dir) =>
        t(s, dir, "orders")
          .filter(col("o_orderkey") < 200)
          .select(
            col("o_orderkey"),
            nullif(col("o_orderstatus"), lit("O")).as("non_open"),
            coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN"))
              .as("status_label"),
            least(col("o_totalprice"), lit(100000.0)).as("capped"),
            greatest(col("o_totalprice"), lit(100000.0)).as("floored"))
          .orderBy(col("o_orderkey")),
      Some("""SELECT o_orderkey,
        NULLIF(o_orderstatus, 'O') AS non_open,
        COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
        LEAST(o_totalprice, 100000.0) AS capped,
        GREATEST(o_totalprice, 100000.0) AS floored
        FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""")),

    Entry(
      "q35_salted_agg",
      // Skew-mitigation pattern: salt the grouping key, partial-
      // aggregate per (key, salt), then combine — identical result to
      // the direct aggregation (the oracle), two balanced shuffles
      // instead of one hot-key shuffle. Exact decimal partials make
      // the re-aggregation lossless.
      (s, dir) => {
        val salted = t(s, dir, "events")
          .withColumn("salt", pmod(xxhash64(col("event_id")), lit(8)))
          .groupBy(col("event_type"), col("salt"))
          .agg(sum(dec(col("value"))).as("part_sum"),
            count(lit(1)).as("part_n"))
        salted.groupBy(col("event_type"))
          .agg(sum(col("part_sum")).cast("double").as("total"),
            sum(col("part_n")).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type,
        CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total,
        COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""))
  )
}
