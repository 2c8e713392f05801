package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** User-defined function machinery (SURVEY.md §2.5): scalar UDF, typed
  * `Aggregator` UDAF, and a typed `flatMap` playing the UDTF role.
  *
  * UDFs are deliberately the LAST resort in this library (they break
  * whole-stage codegen); these queries exist to prove the extension
  * points work and stay oracle-exact, not as the recommended style — each
  * oracle mirrors the UDF's semantics in plain SQL.
  */
object UdfQs {

  /** Scalar UDF: slugify a part name. Null-safe; mirrors
    * `regexp_replace(lower(x), ...)` exactly so DuckDB can check it.
    */
  val q60 = Q(
    "q60_scalar_udf",
    (s, d) => {
      val slug = udf((name: String) =>
        if (name == null) null
        else name.toLowerCase.replaceAll("[^a-z0-9]+", "-").stripPrefix("-").stripSuffix("-"))
      Tables.part(s, d)
        .select(col("p_partkey"), slug(col("p_name")).as("slug"))
        .orderBy("p_partkey")
    },
    Some("""
      SELECT p_partkey,
        trim(regexp_replace(lower(p_name), '[^a-z0-9]+', '-', 'g'), '-') AS slug
      FROM part ORDER BY p_partkey"""))

  /** Typed Aggregator UDAF: order-independent decimal sum-product
    * (quantity x price), accumulated as scale-6 BigDecimal — the same
    * rounding Spark's own double->decimal cast applies, so the oracle is
    * `sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6)))`.
    */
  val q61 = Q(
    "q61_udaf_sumproduct",
    (s, d) => {
      val sumProduct = new Aggregator[(Double, Double), java.math.BigDecimal, Double] {
        private def d6(x: Double) =
          java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        def zero: java.math.BigDecimal = java.math.BigDecimal.ZERO.setScale(6)
        def reduce(b: java.math.BigDecimal, a: (Double, Double)): java.math.BigDecimal =
          b.add(d6(a._1 * a._2))
        def merge(b1: java.math.BigDecimal, b2: java.math.BigDecimal): java.math.BigDecimal =
          b1.add(b2)
        def finish(r: java.math.BigDecimal): Double = r.doubleValue()
        def bufferEncoder: Encoder[java.math.BigDecimal] = Encoders.DECIMAL
        def outputEncoder: Encoder[Double] = Encoders.scalaDouble
      }
      val sp = udaf(sumProduct)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(sp(col("l_quantity"), col("l_extendedprice")).as("sum_product"))
        .orderBy("l_returnflag")
    },
    Some("""
      SELECT l_returnflag,
        CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_product
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Typed flatMap as a UDTF: each order emits one row per month in a
    * 3-month horizon from its order month (the reference's month-range
    * generator P9, `src/movie.py:228-238`, as a generator function).
    * Month arithmetic runs on (year, month) ints — timezone-free.
    */
  val q62 = Q(
    "q62_udtf_months",
    (s, d) => {
      val spark = s
      import spark.implicits._
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .as[(Long, Int, Int)]
        .flatMap { case (key, y, m) =>
          (0 until 3).map { k =>
            val total = y * 12 + (m - 1) + k
            (key, java.sql.Date.valueOf(java.time.LocalDate.of(total / 12, total % 12 + 1, 1)))
          }
        }
        .toDF("o_orderkey", "horizon_month")
        .orderBy("o_orderkey", "horizon_month")
    },
    Some("""
      SELECT o_orderkey,
        CAST(date_trunc('month', o_orderdate) + k * INTERVAL 1 MONTH AS DATE) AS horizon_month
      FROM orders, range(0, 3) t(k)
      WHERE o_orderkey < 1000
      ORDER BY o_orderkey, horizon_month"""))

  /** Sketch-then-verify heavy hitters: a one-pass Misra–Gries UDAF
    * ([[graft.ops.SketchOps.MisraGries]], 255 counters) nominates
    * candidate tokens, then a second pass counts ONLY the candidates
    * exactly and keeps those above the 0.5% frequency threshold
    * (`cnt * 200 > n` — integer compare, no division). The sketch's
    * superset guarantee (any token with frequency > n/256 survives every
    * reduce/merge tree) makes the graded output EXACT and deterministic
    * even though the sketch itself is error-bearing: false candidates
    * die on their exact counts, and no true heavy hitter can be missing.
    * Scale shape: the sketch partials are ≤255 counters per task; the
    * verify pass semi-joins the token stream against the broadcast
    * candidate set before its aggregation — nothing ever aggregates the
    * full vocabulary.
    */
  val q67 = Q(
    "q67_heavy_hitters",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(graft.ops.TextOps.tokens(col("text"))).as("tok"))
      val mg = udaf(new graft.ops.SketchOps.MisraGries(255))
      val cands = toks.agg(mg(col("tok")).as("cands"))
        .select(explode(col("cands")).as("tok"))
      val total = toks.count()
      toks.join(broadcast(cands), "tok")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") * 200 > total)
        .orderBy("tok")
    },
    Some("""
      WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      tot AS (SELECT count(*) AS n FROM toks)
      SELECT tok, count(*) AS cnt FROM toks
      GROUP BY tok HAVING count(*) * 200 > (SELECT n FROM tot)
      ORDER BY tok"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Sketch-then-verify distinct counts — per-event-type distinct users,
    * the canonical HLL workload. A one-pass HyperLogLog UDAF
    * ([[graft.ops.SketchOps.HyperLogLog]], 2^12 registers = 4 KiB per
    * task-group partial) estimates each type's distinct-user count, and
    * an exact distinct pass verifies every estimate to within 5% before
    * emitting the EXACT count — a type whose estimate drifted out of
    * bounds would drop its row and fail the oracle's row match, so the
    * sketch's accuracy is what the grade tests, while the graded values
    * stay engine-portable integers. Deterministic end to end:
    * per-register max is merge-tree-independent (any partitioning yields
    * byte-identical registers) and the FNV-1a+splitmix hash is fixed,
    * unlike the built-in `approx_count_distinct` (q19, rows-only).
    * The graded cardinalities (150–1500 per type across SFs) sit in the
    * linear-counting range; `SketchSpec` pins the raw-estimator regime
    * at 100k distinct. At 100 TB the sketch relation is the product:
    * fixed 4 KiB partials per group where the exact sibling shuffles
    * every (type, user) pair; the exact pass here is the VERIFIER the
    * grading needs, and runs at the oracle's cost, not the operator's.
    */
  val q79 = Q(
    "q79_hll_distinct",
    (s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
      val hll = udaf(new graft.ops.SketchOps.HyperLogLog(12))
      val est = ev.groupBy("event_type")
        .agg(hll(col("user_id").cast("string")).as("est"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).as("distinct_users"))
      // |est - exact| * 100 <= exact * 5  — integer compare, no division
      exact.join(est, "event_type")
        .filter(abs(col("est") - col("distinct_users")) * 100
          <= col("distinct_users") * 5)
        .select(col("event_type"), col("distinct_users"))
        .orderBy("event_type")
    },
    Some("""
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users
      FROM events GROUP BY event_type ORDER BY event_type"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the sketch pass + exact-distinct verify pair is the
    // approximate-distinct tier's one graded path
    headline = true)

  /** Sketch-then-verify audience OVERLAP — per event-type PAIR, the
    * exact intersection and union of user sets, the set-expression
    * workload HLL cannot serve (HLL sketches union; overlap needs
    * intersection). One KMV pass ([[graft.ops.SketchOps.KMinValues]],
    * ≤k longs per task-group partial) sketches each type's user set, the
    * pairwise intersection/union estimates come off the combined
    * bottom-k driver-side (a bounded scalar: types × k longs — the q68
    * posture), and the exact pair join verifies every estimate to within
    * 10% before emitting the EXACT counts — a pair whose estimate
    * drifted would drop its row and fail the oracle's row match, so the
    * sketch's accuracy is what the grade tests while the graded values
    * stay engine-portable integers. At the graded SFs the per-type
    * distinct-user counts sit below k, where a KMV sketch is the
    * complete hash image and the estimates are EXACT by construction;
    * `SketchSpec` pins the estimator regime above saturation. The
    * bottom-k content is merge-tree- and order-INDEPENDENT (the k
    * smallest distinct values are the k smallest under any tree), so
    * the whole pipeline is deterministic. At 100 TB the sketch relation
    * is the product — fixed k-long partials per type where the exact
    * verifier shuffles every (type, user) pair; pairwise set algebra on
    * sketches never rescans the corpus. */
  val q87 = Q(
    "q87_audience_overlap",
    (s, d) => {
      import s.implicits._
      val k = 2048
      // dst feeds the eager sketch collect, `sizes`, and BOTH sides of
      // the exact pair-join verify — Catalyst does not dedupe common
      // subtrees (the q90/q97/q100 lesson), so persist the one distinct
      val dst = graft.Memo.cached(s, d, "audience_type_users") {
        Tables.events(s, d).select("event_type", "user_id").distinct()
      }
      val kmv = udaf(new graft.ops.SketchOps.KMinValues(k))
      // BOUNDED COLLECT (q68/q125 convention): one row per event TYPE,
      // each ≤ k longs — types × 2048 longs driver-resident, and the
      // `combinations(2)` below is a QUADRATIC driver term (types² pairs,
      // each an O(k) merge). The DEFAULT cap sits at the documented
      // driver-cost envelope (~10³ types ≈ 500k pairs ≈ 8 GB·ops) so the
      // guard fires before the driver grinds, not after — past it, pair
      // enumeration itself must become a distributed self-join of the
      // sketch relation. Session conf rather than a hard constant
      // (round-14, on advice): round 13 tightened 10000 → 1000, a
      // user-visible behavior change for 1k–10k-type corpora that
      // previously completed slowly — `spark.graft.sketch.maxTypes`
      // lets an operator opt back into the slow regime explicitly
      // instead of hitting an untunable require.
      val MaxTypesKey = "spark.graft.sketch.maxTypes"
      val MaxSketchTypes = s.conf.getOption(MaxTypesKey)
        .map(_.toInt).getOrElse(1000)
      val sketches = dst.groupBy("event_type")
        .agg(kmv(col("user_id").cast("string")).as("sk"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      require(sketches.size <= MaxSketchTypes,
        s"q87 driver-side pairwise overlap is bounded at $MaxTypesKey=" +
          s"$MaxSketchTypes event types (got ${sketches.size}) — raise it, or " +
          "distribute the pair join past this")
      val estimates = sketches.keys.toSeq.sorted.combinations(2).map {
        case Seq(ta, tb) =>
          val (i, u) = graft.ops.SketchOps.KMinValues.overlap(
            sketches(ta), sketches(tb), k)
          (ta, tb, i, u)
      }.toSeq.toDF("type_a", "type_b", "est_inter", "est_union")

      val sizes = dst.groupBy("event_type").agg(count(lit(1)).as("n"))
      val a = dst.select(col("event_type").as("type_a"), col("user_id"))
      val b = dst.select(col("event_type").as("type_b"), col("user_id"))
      a.join(b, "user_id").filter(col("type_a") < col("type_b"))
        .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("event_type").as("type_a"), col("n").as("n_a")), "type_a")
        .join(sizes.select(col("event_type").as("type_b"), col("n").as("n_b")), "type_b")
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .join(broadcast(estimates), Seq("type_a", "type_b"))
        // |est - exact| * 10 <= exact — the 10% accuracy gate the grade tests
        .filter(abs(col("est_inter") - col("n_inter")) * 10 <= col("n_inter") &&
          abs(col("est_union") - col("n_union")) * 10 <= col("n_union"))
        .select("type_a", "type_b", "n_inter", "n_union")
        .orderBy("type_a", "type_b")
    },
    Some("""
      WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
      sizes AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
      pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_inter
        FROM d a JOIN d b ON a.user_id = b.user_id
                         AND a.event_type < b.event_type
        GROUP BY 1, 2)
      SELECT p.type_a, p.type_b, p.n_inter,
             sa.n + sb.n - p.n_inter AS n_union
      FROM pairs p
      JOIN sizes sa ON sa.event_type = p.type_a
      JOIN sizes sb ON sb.event_type = p.type_b
      ORDER BY p.type_a, p.type_b"""),
    // headline since round 11 (annex row in BASELINE.md; frozen table
    // untouched) — the set-expression sketch tier's one graded path
    headline = true)

  /** Count-Min point-frequency estimates, graded sketch-then-exact-verify
    * (the q79/q87 shape applied to the FREQUENCY tier): one global CMS
    * over (event_type, day) keys, then the exact daily counts emit a row
    * only if the sketch's point estimate respects BOTH CMS guarantees —
    * never under (strict), over by at most 5% (or the grade fails via
    * the dropped row). Sketch accuracy is thus the thing the oracle
    * row-match grades, while the emitted counts stay exact.
    *
    * Scale shape: the sketch pass is one fixed-size partial (d·w longs)
    * per task — no per-key state — merged on the driver; the exact pass
    * is an ordinary partial-agg'd count keyed on (type, day), whose key
    * space is calendar-bounded (types × days), not corpus-bounded. The
    * probe runs as one broadcast of the 128 KiB finished array into a
    * post-aggregation UDF over result-sized rows (a UDF is fine here:
    * it runs on ~150 rows AFTER the aggregate, never in the scan path).
    */
  val q89 = Q(
    "q89_cms_daily_counts",
    (s, d) => {
      val rows = 4
      val width = 4096
      val key = concat_ws("\u0001", col("event_type"), col("di"))
      val keyed = Tables.events(s, d)
        .select(col("event_type"), expr("ts_us div 86400000000").as("di"))
      val cms = udaf(new graft.ops.SketchOps.CountMin(rows, width))
      val sk = keyed.agg(cms(key).as("sk")).head().getSeq[Long](0).toArray
      val est = udf((k: String) =>
        graft.ops.SketchOps.CountMin.estimate(sk, rows, width, k))
      keyed.groupBy("event_type", "di").agg(count(lit(1)).as("n_events"))
        .withColumn("__est", est(key))
        // the two CMS guarantees as the accuracy gate
        .filter(col("__est") >= col("n_events") &&
          (col("__est") - col("n_events")) * 20 <= col("n_events"))
        .select("event_type", "di", "n_events")
        .orderBy("event_type", "di")
    },
    Some("""
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS di,
             count(*) AS n_events
      FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  val defs: Seq[Q] = Seq(q60, q61, q62, q67, q79, q87, q89)
}
