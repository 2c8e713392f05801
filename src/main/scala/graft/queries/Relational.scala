package graft.queries

import graft.{Det, Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator surface (SURVEY.md §2.5): scans, filters, joins
  * (broadcast / SMJ / semi / anti / range), hash aggregates, distinct aggs,
  * rollup/cube/grouping-sets, window ranking + frames, set ops, top-k.
  *
  * Scale notes (100 TB posture):
  *  - dimension joins (`nation`, `region`, bracket tables) are explicitly
  *    `broadcast()` — never a shuffle against a ~25-row table;
  *  - fact-fact joins (orders ⋈ lineitem) shuffle on the join key once and
  *    aggregate partially map-side (Catalyst plans partial_agg → exchange
  *    → final_agg for all `Det.dsum` decimal sums);
  *  - every output is `orderBy`-ed on a full key so the driver's DuckDB
  *    hash compare is deterministic (SURVEY.md §5).
  */
object Relational {

  private val revenue = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
  private val revenueSql = "l_extendedprice * (1.0 - l_discount)"

  /** TPC-H Q1-style pricing summary: full-scan hash aggregate. */
  val q01 = Q(
    "q01_pricing_summary",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base_price"),
          Det.dsum(revenue).as("sum_disc_price"),
          Det.dsum(revenue * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.davg(col("l_extendedprice")).as("avg_price"),
          Det.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
        ${Det.dsumSql("l_quantity")} AS sum_qty,
        ${Det.dsumSql("l_extendedprice")} AS sum_base_price,
        ${Det.dsumSql(revenueSql)} AS sum_disc_price,
        ${Det.dsumSql(s"$revenueSql * (1.0 + l_tax)")} AS sum_charge,
        ${Det.davgSql("l_quantity")} AS avg_qty,
        ${Det.davgSql("l_extendedprice")} AS avg_price,
        ${Det.davgSql("l_discount")} AS avg_disc,
        count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  /** Monthly rollup of orders — the flagship (`SparkEntry.entry`); P9
    * month-bucketing semantics (reference `src/movie.py:228-238`) expressed
    * as `trunc(date, 'month')` so parquet stats still prune on the raw col. */
  val q02 = Q(
    "q02_monthly_rollup",
    (s, d) => {
      Tables.orders(s, d)
        .groupBy(trunc(col("o_orderdate").cast("date"), "month").as("order_month"))
        .agg(
          count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"),
          Det.davg(col("o_totalprice")).as("avg_price"))
        .orderBy("order_month")
    },
    Some(s"""
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        count(*) AS n_orders,
        ${Det.dsumSql("o_totalprice")} AS total_price,
        ${Det.davgSql("o_totalprice")} AS avg_price
      FROM orders GROUP BY 1 ORDER BY 1"""),
    headline = true)

  /** Broadcast dimension joins: customer ⋈ nation ⋈ region (S3 analog —
    * the genre-dimension lookup pattern at cluster scale). */
  val q03 = Q(
    "q03_region_acctbal",
    (s, d) => {
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_customers"),
          Det.dsum(col("c_acctbal")).as("sum_acctbal"),
          Det.davg(col("c_acctbal")).as("avg_acctbal"))
        .orderBy("r_name")
    },
    Some(s"""
      SELECT r_name, count(*) AS n_customers,
        ${Det.dsumSql("c_acctbal")} AS sum_acctbal,
        ${Det.davgSql("c_acctbal")} AS avg_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name ORDER BY r_name"""))

  /** Fact-fact equi join (sort-merge / shuffled-hash territory at scale):
    * orders ⋈ lineitem on the natural key, aggregated by priority. */
  val q04 = Q(
    "q04_priority_revenue",
    (s, d) => {
      // Round-21 restructure (guide §2.3 "aggregate before you
      // shuffle"): lineitem pre-aggregates per order key BEFORE the
      // fact-fact join, so (a) the join exchange carries one partial
      // row per order instead of every line, and (b) the
      // countDistinct disappears — after the per-key rollup each
      // order key is exactly one row, so n_orders is a plain count.
      // Exactness: Det.dsum is an associative DECIMAL(30,6) sum, so
      // sum-of-partial-sums is bit-identical to the flat sum (the
      // whole point of Det), and the final cast to double is the same
      // single rounding. Oracle unchanged; hash-verified.
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(
          sum(revenue.cast(org.apache.spark.sql.types.DecimalType(30, 6)))
            .as("__rev"),
          count(lit(1)).as("__n_lines"))
      Tables.orders(s, d)
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("__rev")).cast("double").as("total_revenue"),
          count(lit(1)).as("n_orders"),
          sum(col("__n_lines")).as("n_lines"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      SELECT o_orderpriority,
        ${Det.dsumSql(revenueSql)} AS total_revenue,
        count(DISTINCT l_orderkey) AS n_orders,
        count(*) AS n_lines
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    headline = true)

  /** Left-semi join: customers that have at least one order. */
  val q05 = Q(
    "q05_semi_join",
    (s, d) => {
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_active"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_active
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Left-anti join: customers with no orders in 1998 (D6 checkpoint-manifest
    * anti-join shape, reference `src/movie.py:257-263`). The year filter keeps
    * the result non-vacuous — in this corpus every customer has *some* order. */
  val q06 = Q(
    "q06_anti_join",
    (s, d) => {
      val o98 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("1999-01-01"))
      Tables.customer(s, d)
        .join(o98, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_inactive"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, count(*) AS n_inactive
      FROM customer c
      WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01' AND o.o_orderdate < TIMESTAMP '1999-01-01')
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Range (theta) join against a broadcast bracket table. */
  val q07 = Q(
    "q07_range_join",
    (s, d) => {
      val brackets = s.range(0, 10)
        .select(
          col("id").as("bracket"),
          (lit(900.0) + col("id") * 10).as("lo"),
          (lit(900.0) + (col("id") + 1) * 10).as("hi"))
      Tables.part(s, d)
        .join(broadcast(brackets),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy("bracket")
        .agg(count(lit(1)).as("n_parts"), Det.dsum(col("p_retailprice")).as("sum_price"))
        .orderBy("bracket")
    },
    Some(s"""
      SELECT bracket, count(*) AS n_parts, ${Det.dsumSql("p_retailprice")} AS sum_price
      FROM part
      JOIN (SELECT i AS bracket, CAST(900 + i*10 AS DOUBLE) AS lo,
                   CAST(900 + (i+1)*10 AS DOUBLE) AS hi
            FROM range(0, 10) t(i)) b
        ON p_retailprice >= lo AND p_retailprice < hi
      GROUP BY bracket ORDER BY bracket"""))

  /** Exact distinct aggregation (expands to two-phase agg in Spark). */
  val q08 = Q(
    "q08_distinct_agg",
    (s, d) => {
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        count(DISTINCT l_suppkey) AS n_supp,
        count(DISTINCT l_partkey) AS n_part,
        count(*) AS n_rows
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Rollup over the region→nation hierarchy; names coalesced to 'ALL' so
    * no NULL ever reaches a sort key (Spark/DuckDB null-order differs). */
  val q09 = Q(
    "q09_rollup",
    (s, d) => {
      // rollup-over-join trips Spark's ambiguous-self-join detector in the
      // Dataset API (even with explicit aliases), so this one goes through
      // the SQL front end; q10 covers the Dataset-API cube form. The join
      // hint keeps the two dimensions broadcast, never shuffled.
      Tables.customer(s, d).createOrReplaceTempView("q09_customer")
      Tables.nation(s, d).createOrReplaceTempView("q09_nation")
      Tables.region(s, d).createOrReplaceTempView("q09_region")
      s.sql(s"""
        SELECT /*+ BROADCAST(q09_nation), BROADCAST(q09_region) */
          coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
          count(*) AS n_customers,
          ${Det.dsumSql("c_acctbal")} AS sum_acctbal
        FROM q09_customer
        JOIN q09_nation ON c_nationkey = n_nationkey
        JOIN q09_region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
        ORDER BY region, nation""")
    },
    Some(s"""
      SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        count(*) AS n_customers, ${Det.dsumSql("c_acctbal")} AS sum_acctbal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP (r_name, n_name)
      ORDER BY region, nation"""))

  /** Cube over two independent order dimensions. */
  val q10 = Q(
    "q10_cube",
    (s, d) => {
      Tables.orders(s, d)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), Det.dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("status", "priority")
    },
    Some(s"""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
        coalesce(o_orderpriority, 'ALL') AS priority,
        count(*) AS n_orders, ${Det.dsumSql("o_totalprice")} AS sum_price
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""))

  /** Explicit GROUPING SETS via SQL (Dataset API exposes only rollup/cube). */
  val q11 = Q(
    "q11_grouping_sets",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql(s"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
          coalesce(o_orderpriority, 'ALL') AS priority,
          count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY status, priority""")
    },
    Some("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
        coalesce(o_orderpriority, 'ALL') AS priority,
        count(*) AS n_orders
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      ORDER BY status, priority"""))

  /** Window ranking: top-3 orders per customer (row_number with a full
    * deterministic sort key; rank/dense_rank over the value alone). */
  val q12 = Q(
    "q12_window_rank",
    (s, d) => {
      val o = Tables.orders(s, d)
      val byPrice = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      val byPriceOnly = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
      o.select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(byPrice).as("rn"),
          rank().over(byPriceOnly).as("rnk"),
          dense_rank().over(byPriceOnly).as("drnk"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    },
    Some("""
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
          CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn,
          CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INT) AS rnk,
          CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INT) AS drnk
        FROM orders) t
      WHERE rn <= 3 ORDER BY o_custkey, rn"""))

  /** Window analytics with frames: lag/lead + running decimal sum + 3-row
    * moving average, per customer in order-date order. */
  val q13 = Q(
    "q13_window_frames",
    (s, d) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val dec = col("o_totalprice").cast("decimal(30,6)")
      val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val last3 = w.rowsBetween(-2, Window.currentRow)
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").cast("date").as("o_date"),
          col("o_totalprice"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          sum(dec).over(running).cast("double").as("run_sum"),
          (sum(dec).over(last3).cast("double") / count(lit(1)).over(last3)).as("mv3"))
        .orderBy("o_custkey", "o_orderkey")
    },
    Some("""
      SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice,
        lag(o_totalprice, 1) OVER w AS prev_price,
        lead(o_totalprice, 1) OVER w AS next_price,
        CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum,
        (CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
          / count(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) AS mv3
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""),
    headline = true)

  /** Set operations: customers active in 1996 vs 1998, tagged by segment
    * membership (intersect / except both ways, then union all). */
  val q14 = Q(
    "q14_set_ops",
    (s, d) => {
      val o = Tables.orders(s, d)
      def keysIn(year: Int): DataFrame =
        o.filter(col("o_orderdate") >= lit(s"$year-01-01") &&
            col("o_orderdate") < lit(s"${year + 1}-01-01"))
          .select(col("o_custkey")).distinct()
      val a = keysIn(1996)
      val b = keysIn(1998)
      a.intersect(b).select(lit("both").as("tag"), col("o_custkey"))
        .unionAll(a.except(b).select(lit("only_1996").as("tag"), col("o_custkey")))
        .unionAll(b.except(a).select(lit("only_1998").as("tag"), col("o_custkey")))
        .orderBy("tag", "o_custkey")
    },
    Some("""
      WITH a AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
           b AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND o_orderdate < TIMESTAMP '1999-01-01')
      SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      UNION ALL
      SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      UNION ALL
      SELECT 'only_1998' AS tag, o_custkey FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
      ORDER BY tag, o_custkey"""))

  /** Top-K: global `TakeOrderedAndProject` (no full sort at scale). */
  val q15 = Q(
    "q15_topk_orders",
    (s, d) => {
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
    Some("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""))

  /** Selective scan: filter + project only — the plan must show parquet
    * `PushedFilters` on l_shipdate/l_quantity and a 5-column ReadSchema. */
  val q16 = Q(
    "q16_filter_scan",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01") && col("l_quantity") >= 45)
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate").cast("date").as("ship_date"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        AND l_quantity >= 45
      ORDER BY l_orderkey, l_linenumber"""),
    headline = true)

  /** Exact dedup, deterministic window form (D1/D2; reference
    * `src/movie.py:275,295`): one survivor per l_partkey — single
    * hash-partitioned exchange on the dedup key, no driver collect. */
  val q17 = Q(
    "q17_dedup_window",
    (s, d) => {
      val w = Window.partitionBy("l_partkey").orderBy(col("l_orderkey"), col("l_linenumber"))
      Tables.lineitem(s, d)
        .select(col("l_partkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"))
        .filter(col("rn") === 1)
        .select("l_partkey", "l_orderkey", "l_linenumber")
        .orderBy("l_partkey")
    },
    Some("""
      SELECT l_partkey, l_orderkey, l_linenumber FROM (
        SELECT l_partkey, l_orderkey, l_linenumber,
          row_number() OVER (PARTITION BY l_partkey ORDER BY l_orderkey, l_linenumber) AS rn
        FROM lineitem) t
      WHERE rn = 1 ORDER BY l_partkey"""),
    headline = true)

  /** Plain count by group (D5). */
  val q18 = Q(
    "q18_count_status",
    (s, d) => {
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, count(*) AS n_orders
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Approx distinct (HLL sketch) — no exact SQL oracle; driver records a
    * rows-only check. The point is the sketch aggregates partially. */
  /** Approximate distinct counting, GRADED (round 13 — was the one
    * `no_oracle` row an oracle could reach): the q79 sketch-then-verify
    * convention applied to the BUILT-IN `approx_count_distinct`
    * (HyperLogLog++, rsd 0.02). The estimate is computed per group,
    * verified within 5% of the exact distinct count with an
    * integer-only compare, and the EXACT count is what the row emits —
    * a drifting estimate drops its row and fails the oracle's row
    * match, so the sketch's accuracy is the thing the grade tests while
    * the graded values stay engine-portable. At 100 TB the estimate
    * path is the product (fixed-size HLL partials, no distinct
    * exchange); the exact branch is the verifier, same posture as q79.
    */
  val q19 = Q(
    "q19_approx_distinct",
    (s, d) => {
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_partkey")
      val est = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("est"))
      val exact = li.groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("distinct_parts"))
      // |est - exact| * 100 <= exact * 5 — integer compare, no division
      exact.join(est, "l_returnflag")
        .filter(abs(col("est") - col("distinct_parts")) * 100
          <= col("distinct_parts") * 5)
        .select(col("l_returnflag"), col("distinct_parts"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag, CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts
      FROM lineitem GROUP BY 1 ORDER BY 1"""))

  /** FULL OUTER join — the one join type the surface lacked a graded
    * form of: per-customer order counts in 1996 vs 1998, keeping
    * customers active in EITHER year (nulls on the inactive side, both
    * null sides genuinely populated on this corpus). The USING-form join
    * coalesces the key identically in both engines.
    *
    * Scale shape: both sides are post-aggregation (customer-sized,
    * partial-agg'd map-side behind a PUSHED year filter — the two scans
    * are genuinely different reads, so there is nothing for
    * ReuseExchange to dedupe) and hash-partition on the SAME key, so
    * the full-outer SMJ is co-partitioned. (The single-pass
    * alternative — one scan with two conditional counts — is the right
    * production shape when both columns come from one table; this query
    * exists to grade the OPERATOR, and says so.)
    */
  val q93 = Q(
    "q93_full_outer",
    (s, d) => {
      val o = Tables.orders(s, d)
      def yr(y: Int) =
        o.filter(col("o_orderdate") >= lit(s"$y-01-01") &&
            col("o_orderdate") < lit(s"${y + 1}-01-01"))
          .groupBy("o_custkey").agg(count(lit(1)).as(s"n_$y"))
      yr(1996).join(yr(1998), Seq("o_custkey"), "full_outer")
        .orderBy("o_custkey")
    },
    Some("""
      WITH a AS (SELECT o_custkey, count(*) AS n_1996 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1),
           b AS (SELECT o_custkey, count(*) AS n_1998 FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1998-01-01'
                   AND o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1)
      SELECT o_custkey, n_1996, n_1998
      FROM a FULL OUTER JOIN b USING (o_custkey)
      ORDER BY o_custkey"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** CDC merge — [[graft.ops.MergeOps.applyChanges]] applying a derived
    * changeset (updates + deletes + inserts, the three MERGE INTO arms)
    * to the customer snapshot: the incremental-table-maintenance
    * primitive behind every Delta/Hudi/Iceberg-style upsert pipeline.
    * The changeset is built deterministically from 1998 order activity:
    * every 10th active customer is DELETED, the rest are UPDATED
    * (balance := 1998 order count, segment := 'UPDATED'), and every 7th
    * spawns an INSERT under a shifted key — so all three arms, plus
    * untouched pass-through rows, are graded in one result. Pure
    * value passthrough/replacement: hash-exact.
    *
    * Shape: one keyed full-outer join (AQE broadcasts the changeset
    * when small — the common CDC case); payload resolution is a
    * codegen'd per-column when/otherwise. `MergeSpec` pins the arm
    * semantics (incl. NULL-payload upserts and delete-absent no-ops)
    * on constructed data.
    */
  val q101 = Q(
    "q101_cdc_merge",
    (s, d) => {
      val cust = Tables.customer(s, d)
      val ch98 = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1998-01-01") &&
          col("o_orderdate") < lit("1999-01-01"))
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n98"))
      val upd = ch98.filter(col("c_custkey") % 10 =!= 0)
        .join(cust, "c_custkey")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          col("n98").cast("double").as("c_acctbal"),
          lit("UPDATED").as("c_mktsegment"), lit("U").as("__op"))
      val del = ch98.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
          lit(null).cast("int").as("c_nationkey"),
          lit(null).cast("double").as("c_acctbal"),
          lit(null).cast("string").as("c_mktsegment"), lit("D").as("__op"))
      val ins = ch98.filter(col("c_custkey") % 7 === 0)
        .select((col("c_custkey") + lit(10000000L)).as("c_custkey"),
          concat(lit("New Customer#"), col("c_custkey")).as("c_name"),
          (col("c_custkey") % 25).cast("int").as("c_nationkey"),
          lit(0.0).as("c_acctbal"), lit("NEWSEG").as("c_mktsegment"),
          lit("U").as("__op"))
      graft.ops.MergeOps.applyChanges(cust,
          upd.unionByName(del).unionByName(ins), Seq("c_custkey"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH ch AS (
        SELECT o_custkey AS k, count(*) AS n98 FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
          AND o_orderdate < TIMESTAMP '1999-01-01' GROUP BY 1),
      upd AS (
        SELECT c.c_custkey, c.c_name, c.c_nationkey,
          CAST(ch.n98 AS DOUBLE) AS c_acctbal, 'UPDATED' AS c_mktsegment
        FROM ch JOIN customer c ON c.c_custkey = ch.k
        WHERE ch.k % 10 <> 0),
      ins AS (
        SELECT k + 10000000 AS c_custkey, 'New Customer#' || k AS c_name,
          CAST(k % 25 AS INTEGER) AS c_nationkey,
          CAST(0.0 AS DOUBLE) AS c_acctbal, 'NEWSEG' AS c_mktsegment
        FROM ch WHERE k % 7 = 0)
      SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM (
        SELECT * FROM upd
        UNION ALL SELECT * FROM ins
        UNION ALL SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal,
          c.c_mktsegment
        FROM customer c WHERE c.c_custkey NOT IN (SELECT k FROM ch))
      ORDER BY c_custkey"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Weighted systematic (PPS) sampling —
    * [[graft.ops.SampleOps.weightedSystematic]]: one representative per
    * 1000 units of quantity along the (orderkey, linenumber) walk,
    * inclusion probability ∝ weight with ZERO randomness (same rows on
    * every engine, run, and partitioning — the q44 stability bar applied
    * to weighted designs). The cumulative weight rides PrefixOps'
    * two-level scan, so nothing single-partitions: the naive
    * `sum() OVER (ORDER BY …)` global window is exactly what the ORACLE
    * runs and the engine refuses to. Selected rows carry their exclusive
    * prefix, so the grade pins the entire walk, not just membership.
    * `floor` before the bigint cast on both sides: Spark casts
    * double→long by truncation, DuckDB by rounding — floor makes the
    * (integral-valued) weights engine-identical by construction.
    */
  val q102 = Q(
    "q102_weighted_sample",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(
          (col("l_orderkey") * 10 + col("l_linenumber")).as("okey"),
          col("l_orderkey"), col("l_linenumber"),
          expr("CAST(floor(l_quantity) AS BIGINT)").as("w"))
      graft.ops.SampleOps.weightedSystematic(li, "okey", "w", step = 1000L)
        .select("l_orderkey", "l_linenumber", "w", "cum_before")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      WITH li AS (
        SELECT l_orderkey, l_linenumber,
          l_orderkey * 10 + l_linenumber AS okey,
          CAST(floor(l_quantity) AS BIGINT) AS w
        FROM lineitem),
      c AS (
        SELECT l_orderkey, l_linenumber, w,
          CAST(coalesce(sum(w) OVER (ORDER BY okey
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
            AS cum_before
        FROM li)
      SELECT l_orderkey, l_linenumber, w, cum_before
      FROM c
      WHERE cum_before // 1000 < (cum_before + w) // 1000
      ORDER BY l_orderkey, l_linenumber"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Cross-table constraint audit — the data-quality operator beside
    * q80's single-table profile: referential integrity (anti-join orphan
    * counts) plus value-domain rules, one row per rule. Same-table value
    * rules are FUSED into one conditional-sum scan per table (at 100 TB
    * a rule catalogue must never mean a scan per rule) and stacked;
    * referential rules are left-anti joins that reuse the join machinery.
    * The oracle pays a NOT EXISTS per rule. All counts: hash-exact.
    */
  val q104 = Q(
    "q104_constraint_audit",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val liRules = li.agg(
          sum(when(col("l_quantity") <= 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("l_discount") < 0 || col("l_discount") > 0.5, 1L)
            .otherwise(0L)).as("b"))
        .select(expr(
          "stack(2, 'lineitem_nonpositive_qty', a, 'lineitem_discount_range', b)" +
            " AS (rule, n_violations)"))
      val cRules = c.agg(
          sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("a"),
          sum(when(col("c_mktsegment").isNull, 1L).otherwise(0L)).as("b"))
        .select(expr(
          "stack(2, 'customer_negative_acctbal', a, 'customer_null_segment', b)" +
            " AS (rule, n_violations)"))
      def orphans(rule: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_violations"))
          .select(lit(rule).as("rule"), col("n_violations"))
      liRules.unionByName(cRules)
        .unionByName(orphans("lineitem_orphan_order",
          li.join(o, col("l_orderkey") === col("o_orderkey"), "left_anti")))
        .unionByName(orphans("order_orphan_customer",
          o.join(c, col("o_custkey") === col("c_custkey"), "left_anti")))
        .orderBy("rule")
    },
    Some("""
      SELECT * FROM (
        SELECT 'lineitem_nonpositive_qty' AS rule,
          CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_violations FROM lineitem
        UNION ALL
        SELECT 'lineitem_discount_range',
          CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 ELSE 0 END) AS BIGINT)
          FROM lineitem
        UNION ALL
        SELECT 'customer_negative_acctbal',
          CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
          FROM customer
        UNION ALL
        SELECT 'customer_null_segment',
          CAST(sum(CASE WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          FROM customer
        UNION ALL
        SELECT 'lineitem_orphan_order', CAST(count(*) AS BIGINT) FROM lineitem l
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        UNION ALL
        SELECT 'order_orphan_customer', CAST(count(*) AS BIGINT) FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      ORDER BY rule"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Salted skew join, GRADED: brand revenue through
    * [[graft.ops.SkewOps.saltedJoin]] (large side salted 8 ways, small
    * side replicated per salt) — the hot-key mitigation whose whole
    * contract is "same result, different shuffle". The oracle runs the
    * PLAIN join, so the grade pins exactly that contract: salting must
    * be invisible in the answer. (SkewBucketSpec pins the mechanics on
    * constructed skew; this pins result-identity on real data under the
    * decimal-exact aggregate.) At 100 TB this is the shape for a fact
    * table whose partkey histogram has a hot head — AQE's skew split
    * handles stragglers adaptively, salting handles them structurally.
    */
  val q103 = Q(
    "q103_salted_join",
    (s, d) => {
      graft.ops.SkewOps.saltedJoin(
          Tables.lineitem(s, d), Tables.part(s, d),
          "l_partkey", "p_partkey", saltFactor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_lines"),
          Det.dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("p_brand")
    },
    Some(s"""
      SELECT p_brand, count(*) AS n_lines,
        ${Det.dsumSql("l_extendedprice")} AS sum_price
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Correlated SCALAR subqueries — "orders above twice their customer's
    * average", written in the subquery form users actually type and left
    * to Catalyst's DECORRELATION machinery: each subquery becomes an
    * aggregate + broadcast join (the plan pin holds that NO per-row
    * subquery execution survives — the naive semantics would re-run an
    * aggregate per outer row). The two subqueries decorrelate into two
    * aggregate joins (Spark's MergeScalarSubqueries does not fuse
    * across the filter/join-condition split here — a cost-aware author
    * writes the single-aggregate q93-style form; this entry grades the
    * FRONT END's rewrite, not the hand-optimized shape). The threshold
    * is the integer-exact cross-multiplied form (cents·n > 2·Σcents —
    * no avg(double) whose summation order could flip a boundary row),
    * so the selected SET is hash-exact.
    */
  val q108 = Q(
    "q108_scalar_subquery",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_q108")
      s.sql("""
        WITH oc AS (SELECT o_orderkey, o_custkey,
                      CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders_q108)
        SELECT o_orderkey, o_custkey, cents
        FROM oc t
        WHERE t.cents * (SELECT count(*) FROM oc i
                         WHERE i.o_custkey = t.o_custkey)
              > 2 * (SELECT sum(cents) FROM oc i
                     WHERE i.o_custkey = t.o_custkey)
        ORDER BY o_orderkey""")
    },
    Some("""
      WITH oc AS (SELECT o_orderkey, o_custkey,
                    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                  FROM orders)
      SELECT o_orderkey, o_custkey, cents
      FROM oc t
      WHERE t.cents * (SELECT count(*) FROM oc i
                       WHERE i.o_custkey = t.o_custkey)
            > 2 * (SELECT sum(cents) FROM oc i
                   WHERE i.o_custkey = t.o_custkey)
      ORDER BY o_orderkey"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** LATERAL correlated subquery join — each nation's top-2 customers by
    * balance through the `LATERAL (… ORDER BY … LIMIT 2)` form users
    * write for dependent top-k: Catalyst decorrelates the limit into a
    * per-key ranking (DecorrelateInnerQuery + RewriteLateralSubquery),
    * so the executed plan is the same partial-pruned window q12's
    * explicit form gets — the pin being that the LATERAL FRONT END
    * reaches it. Ties broken by c_custkey in the sort, making the
    * picked set deterministic; exact passthrough values: hash-exact.
    */
  val q109 = Q(
    "q109_lateral_topk",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_q109")
      Tables.nation(s, d).createOrReplaceTempView("nation_q109")
      s.sql("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation_q109 n,
        LATERAL (SELECT c_custkey, c_acctbal FROM customer_q109 c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
        ORDER BY n_name, c_acctbal DESC, c_custkey""")
    },
    Some("""
      SELECT n.n_name, t.c_custkey, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_custkey, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      ORDER BY n_name, c_acctbal DESC, c_custkey"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Distribution window functions — `ntile` (equi-count bucketing),
    * `percent_rank`, and `cume_dist` per market segment: the relative-
    * standing family beside q12's ranking and q13's frames (quartile
    * assignment, percentile scoring — the feature-engineering form of
    * "where does this row sit in its group"). percent_rank/cume_dist
    * are single IEEE divisions of window-integer numerators over
    * group-count denominators — deterministic in any engine; the sort
    * key (acctbal, custkey) is total, so tie placement is pinned. One
    * keyed exchange carries all three functions on one sort.
    */
  val q110 = Q(
    "q110_window_distribution",
    (s, d) => {
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("c_custkey")
    },
    Some("""
      SELECT c_custkey, c_mktsegment, c_acctbal,
        CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        percent_rank() OVER w AS pct_rank,
        cume_dist() OVER w AS cume
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
      ORDER BY c_custkey"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Multi-correlated EXISTS / NOT EXISTS — the TPC-H Q21 skeleton
    * ("suppliers who were the SOLE problem in a multi-supplier order"),
    * the one subquery shape q05/q06's single semi/anti joins and q108's
    * scalar subqueries don't cover: TWO correlated subqueries against
    * the same fact table with opposite polarities, plus a dimension
    * join. Catalyst rewrites EXISTS to a left-semi and NOT EXISTS to a
    * left-anti on the correlation key — three keyed joins over lineitem,
    * no per-row subquery execution (plan-pinned). Count + LIMIT are
    * exact/deterministic (ties broken by name), so the row set is
    * hash-stable.
    *
    * Q21's receipt-vs-commit lateness predicate has no date columns in
    * this corpus; the return flag plays the "problem line" role — the
    * JOIN SHAPE, which is what this entry grades, is Q21's exactly.
    */
  val q120 = Q(
    "q120_exists_chain",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_q120")
      Tables.orders(s, d).createOrReplaceTempView("orders_q120")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_q120")
      s.sql("""
        SELECT su.s_name, count(*) AS numwait
        FROM lineitem_q120 l1
        JOIN orders_q120 o ON o.o_orderkey = l1.l_orderkey
        JOIN supplier_q120 su ON su.s_suppkey = l1.l_suppkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem_q120 l2
            WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem_q120 l3
            WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10""")
    },
    Some("""
      SELECT su.s_name, count(*) AS numwait
      FROM lineitem l1
      JOIN orders o ON o.o_orderkey = l1.l_orderkey
      JOIN supplier su ON su.s_suppkey = l1.l_suppkey
      WHERE o.o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10"""),
    headline = true)

  /** MULTISET set operations — `INTERSECT ALL` / `EXCEPT ALL`, the
    * multiplicity-preserving forms q14's distinct set ops don't cover
    * (a customer with 3 orders in 1996 and 1 in 1998 contributes 1
    * `both` row and 2 `only_1996` rows — per-key min / truncated
    * difference of multiplicities). Spark plans both as aggregate-count
    * + generate (replicate_rows over the min/diff), one exchange per
    * side keyed on the value — never a row-by-row match join. Exact
    * integer multiplicities: hash-exact.
    */
  val q121 = Q(
    "q121_multiset_ops",
    (s, d) => {
      val o = Tables.orders(s, d)
      def keysIn(year: Int): DataFrame =
        o.filter(col("o_orderdate") >= lit(s"$year-01-01") &&
            col("o_orderdate") < lit(s"${year + 1}-01-01"))
          .select(col("o_custkey"))
      val a = keysIn(1996)
      val b = keysIn(1998)
      a.intersectAll(b).select(lit("both").as("tag"), col("o_custkey"))
        .unionAll(a.exceptAll(b).select(lit("only_1996").as("tag"), col("o_custkey")))
        .unionAll(b.exceptAll(a).select(lit("only_1998").as("tag"), col("o_custkey")))
        .orderBy("tag", "o_custkey")
    },
    Some("""
      WITH a AS (SELECT o_custkey FROM orders
                 WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1997-01-01'),
      b AS (SELECT o_custkey FROM orders
            WHERE o_orderdate >= '1998-01-01' AND o_orderdate < '1999-01-01')
      SELECT 'both' AS tag, * FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'only_1996', * FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
      UNION ALL
      SELECT 'only_1998', * FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)
      ORDER BY tag, o_custkey"""),
    headline = true)

  /** Bucketed co-located join — the storage-layout machinery GRADED
    * under q103's answer-invisible contract: both sides are written
    * `bucketBy(16, custkey)` + sorted into the session warehouse, the
    * join reads them back and must produce exactly the plain-join
    * oracle's answer while the physical plan carries NO join-side
    * exchange (plan-pinned — bucketing pre-paid the shuffle at write
    * time, which is the whole 100-TB point: co-locate once, join many
    * times for free). The write runs per invocation (idempotent
    * overwrite into fixed table names); at scale that cost amortizes
    * over every downstream co-keyed join and the graded read-side plan
    * is the artifact under test.
    */
  val q126 = Q(
    "q126_bucketed_join",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      // the warehouse DIRECTORY outlives the in-memory catalog (a fresh
      // session + a prior session's files = LOCATION_ALREADY_EXISTS on
      // overwrite) — drop the entry AND clear the stale location first
      // When the table EXISTS, its real location comes from the catalog
      // (the warehouse dir may have moved between sessions, or the table
      // may live in a non-default database) — deleting a string-concat
      // guess could miss the actual directory and leave saveAsTable to
      // fail with LOCATION_ALREADY_EXISTS. The constructed path is only
      // the fallback for the orphaned-directory case (files on disk,
      // no catalog entry — a prior session's debris).
      def reset(name: String): Unit = {
        val catalogLoc = s.sessionState.catalog
          .tableExists(org.apache.spark.sql.catalyst.TableIdentifier(name)) match {
          case true => Some(new org.apache.hadoop.fs.Path(
            s.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(name)).location))
          case false => None
        }
        s.sql(s"DROP TABLE IF EXISTS $name")
        val loc = catalogLoc.getOrElse(new org.apache.hadoop.fs.Path(
          s.conf.get("spark.sql.warehouse.dir") + "/" + name))
        loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      }
      reset("graft_q126_orders")
      reset("graft_q126_customer")
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
        .write.bucketBy(16, "o_custkey").sortBy("o_custkey")
        .mode("overwrite").saveAsTable("graft_q126_orders")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))
        .write.bucketBy(16, "c_custkey").sortBy("c_custkey")
        .mode("overwrite").saveAsTable("graft_q126_customer")
      s.table("graft_q126_orders")
        .join(s.table("graft_q126_customer"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey").as("nation"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")
            .cast(DecimalType(38, 0))).cast("string").as("cents"))
        .orderBy("nation")
    },
    Some("""
      SELECT c_nationkey AS nation, count(*) AS n_orders,
        CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS VARCHAR) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1"""),
    headline = true)

  val defs: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q93, q101, q102, q103, q104,
    q108, q109, q110, q120, q121, q126)
}
