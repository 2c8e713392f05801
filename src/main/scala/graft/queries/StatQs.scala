package graft.queries

import graft.{Det, Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical aggregates, pivot, and map functions.
  *
  * Moments are derived from order-independent decimal sums (mean, var,
  * std as closed-form arithmetic over `Det.dsum` outputs — `stddev_samp`
  * et al. are order-dependent double streams and cannot hash-match an
  * oracle); the median uses the explicit window form (exact, no
  * interpolation ambiguity between engines).
  */
object StatQs {

  /** Moments + exact median per return flag. */
  val q26 = Q(
    "q26_stats",
    (s, d) => {
      val li = Tables.lineitem(s, d)
      val n = count(lit(1))
      val sx = Det.dsum(col("l_quantity"))
      val sxx = Det.dsum(col("l_quantity") * col("l_quantity"))
      val mean = sx / n
      val varPop = sxx / n - (sx / n) * (sx / n)
      val moments = li.groupBy("l_returnflag").agg(
        n.as("n"), mean.as("mean_qty"), varPop.as("var_qty"),
        sqrt(varPop).as("std_qty"))
      // exact median: the middle row(s) by the window form
      val w = Window.partitionBy("l_returnflag").orderBy("l_quantity", "l_orderkey", "l_linenumber")
      val med = li
        .select(col("l_returnflag"), col("l_quantity"),
          row_number().over(w).as("rn"),
          count(lit(1)).over(Window.partitionBy("l_returnflag")).as("cnt"))
        // floor-div like DuckDB's `//`: Column./ on ints is DOUBLE division
        .filter(col("rn") === floor((col("cnt") + 1) / 2) ||
          col("rn") === floor((col("cnt") + 2) / 2))
        .groupBy("l_returnflag")
        .agg((sum(col("l_quantity")) / count(lit(1))).as("median_qty"))
      moments.join(med, "l_returnflag").orderBy("l_returnflag")
    },
    Some(s"""
      WITH m AS (
        SELECT l_returnflag, count(*) AS n,
          ${Det.dsumSql("l_quantity")} / count(*) AS mean_qty,
          ${Det.dsumSql("l_quantity * l_quantity")} / count(*)
            - (${Det.dsumSql("l_quantity")} / count(*)) * (${Det.dsumSql("l_quantity")} / count(*)) AS var_qty
        FROM lineitem GROUP BY l_returnflag),
      r AS (
        SELECT l_returnflag, l_quantity,
          row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
          count(*) OVER (PARTITION BY l_returnflag) AS cnt
        FROM lineitem),
      med AS (
        SELECT l_returnflag, sum(l_quantity) / count(*) AS median_qty
        FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
        GROUP BY l_returnflag)
      SELECT m.l_returnflag, m.n, m.mean_qty, m.var_qty, sqrt(m.var_qty) AS std_qty, med.median_qty
      FROM m JOIN med USING (l_returnflag)
      ORDER BY l_returnflag"""))

  /** Pivot: order counts + decimal price sums per status x priority. */
  val q27 = Q(
    "q27_pivot",
    (s, d) => {
      val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val named = Seq("urgent", "high", "medium", "unspec", "low")
      val pivoted = Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(count(lit(1)))
      prios.zip(named).foldLeft(pivoted) { case (df, (p, n)) =>
        df.withColumnRenamed(p, s"n_$n")
      }.orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus,
        count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
        count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium,
        count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_unspec,
        count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_low
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  /** Map-typed column functions: parse props to map<string,int>, expose
    * keys/values/lookup. */
  val q28 = Q(
    "q28_map_fns",
    (s, d) => {
      val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType))
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .select(
          col("event_id"),
          array_join(map_keys(m), ",").as("keys"),
          element_at(m, "k").as("k_val"),
          size(m).cast("int").as("n_entries"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, array_to_string(json_keys(props), ',') AS keys,
        CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
        CAST(len(json_keys(props)) AS INT) AS n_entries
      FROM events WHERE event_id < 500 ORDER BY event_id"""))

  /** Exact per-group quantiles (p50/p90/p99 of document length per
    * language) with PURE-INTEGER index selection: the p-quantile of a
    * group of n sorted values is the element at 1-based row
    * `((n-1)*p) div 100 + 1` — the "lower" discrete quantile. No float
    * interpolation anywhere, so there is no `0.9*(n-1)` IEEE product
    * whose last ulp could make two engines floor to different indexes:
    * both sides compute the identical integer.
    *
    * Shape: ONE exchange on the group key; the per-group window sort is
    * bounded by group size, row_number + count ride the same window, and
    * the final group-by reuses the window's partitioning (no second
    * exchange — group-sized output). Ties in the value column need no
    * tiebreak: whichever tied row takes the selected row number, the
    * VALUE at that index is the same. At 100 TB this is the per-group
    * exact path (groups ≪ corpus); a GLOBAL exact quantile would ride
    * [[graft.ops.PrefixOps]]'s fixed-bucket prefix sums instead of one
    * giant partition.
    */
  val q65 = Q(
    "q65_group_quantiles",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy("n_chars")
      val ranked = Tables.documents(s, d)
        .select(col("lang"), col("n_chars"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      val picks = Seq("p50" -> 50, "p90" -> 90, "p99" -> 99)
      ranked.groupBy("lang")
        .agg(picks.head match { case (nm, p) =>
          max(when(col("rn") === expr(s"((n - 1) * $p) div 100 + 1"),
            col("n_chars"))).as(nm)
        }, picks.tail.map { case (nm, p) =>
          max(when(col("rn") === expr(s"((n - 1) * $p) div 100 + 1"),
            col("n_chars"))).as(nm)
        }: _*)
        .orderBy("lang")
    },
    Some("""
      WITH r AS (
        SELECT lang, n_chars,
          row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
          count(*) OVER (PARTITION BY lang) AS n
        FROM documents)
      SELECT lang,
        CAST(max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1 THEN n_chars END) AS BIGINT) AS p50,
        CAST(max(CASE WHEN rn = ((n - 1) * 90) // 100 + 1 THEN n_chars END) AS BIGINT) AS p90,
        CAST(max(CASE WHEN rn = ((n - 1) * 99) // 100 + 1 THEN n_chars END) AS BIGINT) AS p99
      FROM r GROUP BY lang ORDER BY lang"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Exact GLOBAL quantiles (p50/p90/p99 of price-in-cents over the
    * whole fact table) via [[graft.ops.QuantileOps.exactQuantiles]]'s
    * two-pass histogram — the no-global-sort path: pass 1 shuffles a
    * ≤4096-row bucket histogram, pass 2 ranks only the hit buckets.
    * Same pure-integer index convention as q65; the oracle pays the
    * global sort this operator exists to avoid, and must land on the
    * identical element. Cents come from `floor(price * 100)` — one IEEE
    * multiply + floor, bit-identical in any engine (the oracle mirrors
    * the exact expression, not the decimal intuition).
    */
  val q68 = Q(
    "q68_global_quantiles",
    (s, d) => {
      val cents = Tables.lineitem(s, d)
        .filter(col("l_extendedprice").isNotNull)
        .select(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.ops.QuantileOps.exactQuantiles(s, cents, "cents", Seq(50, 90, 99))
    },
    Some("""
      WITH c AS (SELECT CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      s AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
              count(*) OVER () AS n FROM c),
      q AS (SELECT 50 AS p UNION ALL SELECT 90 UNION ALL SELECT 99)
      SELECT q.p,
        CAST(max(CASE WHEN s.rn = (s.n - 1) * q.p // 100 + 1 THEN s.cents END) AS BIGINT) AS value
      FROM s CROSS JOIN q GROUP BY q.p ORDER BY q.p"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** KLL-sketch-pruned exact global quantiles — the q67 pattern (sketch
    * nominates, exact pass verifies) applied to rank queries, grading
    * the approximate-summary tier end to end: the sketch's merge-tree-
    * dependent content only PRUNES (a per-percentile value band,
    * bracket-verified by exact counts and widened on miss), the graded
    * answer is the exact rank-selected value — so the oracle is the
    * same global-sort SQL q68's convention uses, on order totals in
    * cents. See [[graft.ops.QuantileOps.sketchedQuantiles]] for the
    * pass structure and 100-TB posture.
    */
  val q77 = Q(
    "q77_kll_quantiles",
    (s, d) => {
      val cents = Tables.orders(s, d)
        .filter(col("o_totalprice").isNotNull)
        .select(expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
      graft.ops.QuantileOps.sketchedQuantiles(s, cents, "cents", Seq(50, 90, 99))
    },
    Some("""
      WITH c AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
                 FROM orders WHERE o_totalprice IS NOT NULL),
      s AS (SELECT cents, row_number() OVER (ORDER BY cents) AS rn,
              count(*) OVER () AS n FROM c),
      q AS (SELECT 50 AS p UNION ALL SELECT 90 UNION ALL SELECT 99)
      SELECT q.p,
        CAST(max(CASE WHEN s.rn = (s.n - 1) * q.p // 100 + 1 THEN s.cents END) AS BIGINT) AS value
      FROM s CROSS JOIN q GROUP BY q.p ORDER BY q.p"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — gates the approximate-summary tier's one graded path
    headline = true)

  /** Deequ-style single-pass data profile: per-column row count, null
    * count, and distinct cardinality over the documents table — the
    * data-quality gate a production ingest runs before anything
    * downstream trusts a new drop. One scan: all ten aggregates run in
    * a single `agg` (Catalyst plans the multi-`count_distinct` via its
    * Expand — ×columns row multiplication inside one stage plus one
    * exchange, versus one full scan PER column for the naive loop),
    * then `stack` unpivots the 1-row wide result into the per-column
    * report. All metrics are integers — engine-portable by construction.
    * Derived checks (uniqueness = n_distinct + n_nulls == n_rows,
    * completeness = n_nulls == 0) are row-local arithmetic on this
    * output; the profile is the operator.
    */
  /** INTEGRAL columns additionally get min/max/mean (what a Deequ user
    * actually gates on), riding the SAME agg — still one scan, one
    * exchange. The mean is engine-portable despite being a double, but
    * only for integral inputs: both engines accumulate avg in an IEEE
    * double, and as long as every intermediate sum is an integer with
    * magnitude < 2^53 each addition is EXACT, hence order-independent —
    * any partial-aggregation tree (Spark) and any scan order (DuckDB)
    * land on the same bits before the single division by the count.
    * That argument (and the lossless `cast('long')` on min/max) breaks
    * for fractional numerics — double sums of fractional values are
    * order-dependent, and BIGINT casts truncate in Spark but round in
    * DuckDB — so FractionalType columns get typed NULLs like non-numeric
    * ones. Precondition on the caller: integral column sums must stay
    * under 2^53 (at 2^53 the corpus-sum of a 32-bit column needs ~2M
    * rows per unit value — re-check before profiling 64-bit id columns
    * over trillion-row tables). */
  private[graft] def profile(df: org.apache.spark.sql.DataFrame,
      cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    def isNum(c: String) = df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val aggs = cols.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nn"),
        count_distinct(col(c)).as(s"${c}__nd")) ++
      (if (isNum(c)) Seq(
        min(col(c)).cast("long").as(s"${c}__mn"),
        max(col(c)).cast("long").as(s"${c}__mx"),
        avg(col(c)).as(s"${c}__avg"))
      else Nil)
    }
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(expr(
        s"stack(${cols.size}, " + cols.map(c =>
          s"'$c', __n, ${c}__nn, ${c}__nd, " + (if (isNum(c))
            s"${c}__mn, ${c}__mx, ${c}__avg"
          else "CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)"))
          .mkString(", ") +
          ") as (col_name, n_rows, n_nulls, n_distinct, num_min, num_max, num_mean)"))
      .orderBy("col_name")
  }

  val q80 = Q(
    "q80_data_profile",
    (s, d) => profile(Tables.documents(s, d),
      Seq("doc_id", "text", "lang", "source", "n_chars")),
    Some(Seq("doc_id" -> true, "text" -> false, "lang" -> false,
        "source" -> false, "n_chars" -> true).map { case (c, num) => s"""
      SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
        CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
        ${if (num) s"CAST(min($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"} AS num_min,
        ${if (num) s"CAST(max($c) AS BIGINT)" else "CAST(NULL AS BIGINT)"} AS num_max,
        ${if (num) s"avg($c)" else "CAST(NULL AS DOUBLE)"} AS num_mean
      FROM documents"""}.mkString(" UNION ALL ") + " ORDER BY col_name"))

  /** Robust anomaly detection — the median/MAD 3-sigma-free outlier rule
    * per event type, computed ENTIRELY on a value histogram: one corpus
    * exchange builds (event_type, cents, count) — map-side partially
    * aggregated, ~types × distinct-cents rows — and every later step
    * (median prefix-scan, deviation re-histogram, MAD prefix-scan,
    * outlier roll-up) runs on that histogram-sized relation. This is the
    * low-cardinality-group answer to q65's caveat: with ~5 event types a
    * per-group WINDOW sort would put a fifth of the corpus in one
    * partition; the histogram path never sorts corpus rows at all.
    *
    * Medians are count-weighted LOWER-median selections on the histogram
    * (smallest value whose cumulative count reaches (n−1) div 2 + 1 —
    * integer-identical to q65's convention; floor(value·100) is monotone,
    * so the cents-domain selection picks the true median's bucket).
    * MAD = lower median of |v − med| on the re-histogrammed deviations;
    * outliers are |v − med| > 3·MAD. Everything after the one IEEE
    * floor(value·100) — mirrored literally by the oracle — is integer
    * arithmetic: hash-exact.
    */
  val q97 = Q(
    "q97_mad_outliers",
    (s, d) => {
      val wv = Window.partitionBy("event_type").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wd = Window.partitionBy("event_type").orderBy("dv")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // hist feeds the median scan, the deviation re-histogram, AND the
      // final roll-up — Catalyst does not dedupe common subtrees, so
      // persist the (tiny) histogram once
      val hist = graft.Memo.cached(s, d, "mad_value_hist") {
        Tables.events(s, d)
          .filter(col("value").isNotNull)
          .select(col("event_type"),
            expr("CAST(floor(value * 100) AS BIGINT)").as("v"))
          .groupBy("event_type", "v").agg(count(lit(1)).as("c"))
      }
      val tot = hist.groupBy("event_type").agg(sum("c").as("n"))
      val med = hist.withColumn("cum", sum(col("c")).over(wv))
        .join(tot, "event_type")
        .filter(col("cum") >= expr("(n - 1) div 2 + 1"))
        .groupBy("event_type").agg(min("v").as("med"))
      val dev = hist.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("v") - col("med")).as("dv"), col("c"))
        .groupBy("event_type", "dv").agg(sum("c").as("c"))
      val mad = dev.withColumn("cum", sum(col("c")).over(wd))
        .join(tot, "event_type")
        .filter(col("cum") >= expr("(n - 1) div 2 + 1"))
        .groupBy("event_type").agg(min("dv").as("mad"))
      hist.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .withColumn("is_out", abs(col("v") - col("med")) > lit(3L) * col("mad"))
        .groupBy("event_type", "med", "mad")
        .agg(
          sum(when(col("is_out"), col("c")).otherwise(lit(0L))).as("n_outliers"),
          min(when(col("is_out"), col("v"))).as("min_out"),
          max(when(col("is_out"), col("v"))).as("max_out"))
        .orderBy("event_type")
    },
    Some("""
      WITH hist AS (
        SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v, count(*) AS c
        FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT event_type, sum(c) AS n FROM hist GROUP BY 1),
      med AS (
        SELECT h.event_type, min(v) AS med
        FROM (SELECT event_type, v,
                sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum
              FROM hist) h
        JOIN tot USING (event_type)
        WHERE cum >= (n - 1) // 2 + 1
        GROUP BY 1),
      dev AS (
        SELECT h.event_type, abs(v - med) AS dv, sum(c) AS c
        FROM hist h JOIN med USING (event_type) GROUP BY 1, 2),
      mad AS (
        SELECT d.event_type, min(dv) AS mad
        FROM (SELECT event_type, dv,
                sum(c) OVER (PARTITION BY event_type ORDER BY dv) AS cum
              FROM dev) d
        JOIN tot USING (event_type)
        WHERE cum >= (n - 1) // 2 + 1
        GROUP BY 1)
      SELECT h.event_type, med, mad,
        CAST(sum(CASE WHEN abs(v - med) > 3 * mad THEN c ELSE 0 END) AS BIGINT)
          AS n_outliers,
        min(CASE WHEN abs(v - med) > 3 * mad THEN v END) AS min_out,
        max(CASE WHEN abs(v - med) > 3 * mad THEN v END) AS max_out
      FROM hist h JOIN med USING (event_type) JOIN mad USING (event_type)
      GROUP BY 1, 2, 3 ORDER BY 1"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** EXACT least-squares regression aggregates — per event type, the
    * slope of value (cents) against time (seconds since 2024-01-01) as
    * an exact integer RATIONAL: numerator n·Σxy − Σx·Σy and denominator
    * n·Σx² − (Σx)², every term an exact integer (per-row products fit
    * int64; the sums ride DECIMAL(38,0) on the engine side and DuckDB's
    * native HUGEINT on the oracle side — two different 128-bit integer
    * representations of the SAME values, graded through their decimal
    * string images). The trend-detection aggregate (drift monitoring,
    * feature slopes) without the float `regr_slope` whose summation
    * order no two engines share; callers divide the two exact integers
    * in whatever precision they need.
    *
    * Shape: one map-side-combined grouped aggregate over a narrow
    * integer projection — scan-bound, the q01 class; the rational
    * arithmetic runs on the group-sized result.
    */
  val q107 = Q(
    "q107_linreg",
    (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = Tables.events(s, d).filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("ts_us div 1000000 - 1704067200").as("x"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("y"))
      e.groupBy("event_type").agg(
          count(lit(1)).as("n"),
          sum(col("x").cast(dec)).as("sx"),
          sum(col("y").cast(dec)).as("sy"),
          sum((col("x") * col("x")).cast(dec)).as("sxx"),
          sum((col("x") * col("y")).cast(dec)).as("sxy"))
        .select(col("event_type"), col("n"),
          (col("n").cast(dec) * col("sxy") - col("sx") * col("sy"))
            .cast("string").as("slope_num"),
          (col("n").cast(dec) * col("sxx") - col("sx") * col("sx"))
            .cast("string").as("slope_den"))
        .orderBy("event_type")
    },
    Some("""
      WITH e AS (
        SELECT event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 - 1704067200 AS x,
          CAST(floor(value * 100) AS BIGINT) AS y
        FROM events WHERE value IS NOT NULL),
      a AS (
        SELECT event_type, count(*) AS n,
          sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy
        FROM e GROUP BY 1)
      SELECT event_type, n,
        CAST(n * sxy - sx * sy AS VARCHAR) AS slope_num,
        CAST(n * sxx - sx * sx AS VARCHAR) AS slope_den
      FROM a ORDER BY event_type"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  val defs: Seq[Q] = Seq(q26, q27, q28, q65, q68, q77, q80, q97, q107)
}
