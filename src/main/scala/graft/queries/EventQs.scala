package graft.queries

import graft.{Det, Q, Tables}
import org.apache.spark.sql.functions._

/** Event-time windowing over `events` (batch form — each query is the
  * batch twin of a Structured Streaming aggregation; the streaming
  * variants with watermarks live in `graft.streaming` and are verified
  * against these in the ScalaTest suite, since DuckDB cannot oracle a
  * stream).
  *
  * `event_ts` is the µs-truncated timestamp derived in [[Tables.events]]
  * from the parquet TIMESTAMP(NANOS) column — DuckDB's µs TIMESTAMP sees
  * the identical values.
  */
object EventQs {

  /** Tumbling 1-hour windows per event type. */
  val q50 = Q(
    "q50_tumbling_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          Det.dsum(col("value")).as("value_sum"))
        .select(col("w.start").as("win_start"), col("event_type"),
          col("n_events"), col("value_sum"))
        .orderBy("win_start", "event_type")
    },
    Some(s"""
      SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS win_start,
        event_type, count(*) AS n_events, ${Det.dsumSql("value")} AS value_sum
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  /** Sliding 1-hour windows every 30 minutes (each event lands in 2). */
  val q51 = Q(
    "q51_sliding_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(window(col("event_ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("value_sum"))
        .select(col("w.start").as("win_start"), col("n_events"), col("value_sum"))
        .orderBy("win_start")
    },
    Some(s"""
      SELECT win_start, count(*) AS n_events, ${Det.dsumSql("value")} AS value_sum
      FROM (
        SELECT unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                       time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE])
          AS win_start, value
        FROM events) t
      GROUP BY win_start ORDER BY win_start"""))

  /** Session windows: per-user sessions closed by a 10-minute gap.
    * Oracle is the classic gaps-and-islands rewrite (lag + running sum of
    * session-start flags) — Spark's `session_window` must agree exactly.
    */
  val q52 = Q(
    "q52_session_window",
    (s, d) => {
      Tables.events(s, d)
        .groupBy(session_window(col("event_ts"), "10 minutes").as("w"), col("user_id"))
        .agg(
          count(lit(1)).as("n_events"),
          max(col("event_ts")).as("last_ts"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("last_ts"), col("n_events"))
        .orderBy("user_id", "sess_start")
    },
    Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      flagged AS (
        SELECT user_id, t,
          CASE WHEN lag(t) OVER w IS NULL
                 OR t - lag(t) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      numbered AS (
        SELECT user_id, t,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged)
      SELECT user_id, min(t) AS sess_start, max(t) AS last_ts, count(*) AS n_events
      FROM numbered GROUP BY user_id, sid
      ORDER BY user_id, sess_start"""),
    headline = true)

  /** Event-time ordering with late-data bounds: per type, the running max
    * of event time vs each event (the batch shape of watermark lag). */
  val q53 = Q(
    "q53_event_lag",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("event_type"), col("event_ts"),
          max(col("event_ts")).over(w).as("max_ts_so_far"))
        .withColumn("is_late",
          col("event_ts") < col("max_ts_so_far") - expr("INTERVAL 5 MINUTES"))
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS event_ts,
        max(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type ORDER BY event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_ts_so_far,
        CAST(ts AS TIMESTAMP) <
          max(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY event_type ORDER BY event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - INTERVAL 5 MINUTE AS is_late
      FROM events ORDER BY event_id"""))

  /** AS-OF join — each click matched to the same user's most recent view
    * at-or-before it (the attribution/point-in-time-lookup operator Spark
    * has no native form of; DuckDB grades it with its native ASOF JOIN).
    *
    * Implemented WITHOUT a join: union both sides tagged, one window per
    * user ordered (ts, side, id), and `last(view columns, ignoreNulls)`
    * carries the latest preceding view into every click row. One keyed
    * exchange + per-partition sort, zero join blow-up — the range-join
    * rewrite would expand candidates per click and re-prune; this is the
    * canonical distributed as-of shape. Views sort BEFORE clicks at equal
    * ts (side 0 < 1), giving ASOF's inclusive `view_ts <= click_ts`
    * semantics. Graded as the standard INNER as-of (clicks with no prior
    * view drop — DuckDB's plain ASOF JOIN); the same window columns with
    * the filter removed are the LEFT variant.
    *
    * Views are deduped to one per (user, ts) first — REQUIRED for a
    * deterministic as-of: two views on the same microsecond are "equally
    * most recent", our window would pick the larger event_id while
    * DuckDB's ASOF picks an unspecified one. The dedup (min event_id,
    * mirrored in the oracle) removes the ambiguity in both engines
    * instead of leaving the graded answer corpus-dependent.
    */
  val q54 = Q(
    "q54_asof_join",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
      def side(kind: String, tag: Int) =
        ev.filter(col("event_type") === kind)
          .select(col("user_id"), col("event_ts").as("ts"),
            lit(tag).as("side"), col("event_id"))
      // hash-aggregate form of the dedup (min event_id per (user, ts)):
      // partial-aggregates map-side before one exchange, where the
      // window form would sort; only the id survives, which is all the
      // as-of lookup carries anyway
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("event_ts").as("ts"))
        .agg(min(col("event_id")).as("event_id"))
        .withColumn("side", lit(0))
      val tagged = views.unionByName(side("click", 1))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("view_id",
          last(when(col("side") === 0, col("event_id")), ignoreNulls = true).over(w))
        .withColumn("view_ts",
          last(when(col("side") === 0, col("ts")), ignoreNulls = true).over(w))
        .filter(col("side") === 1 && col("view_id").isNotNull)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"), col("view_id"), col("view_ts"))
        .orderBy("click_id")
    },
    Some("""
      WITH v AS (SELECT user_id, view_ts, view_id FROM (
                   SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, event_id AS view_id,
                     row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                       ORDER BY event_id) AS rn
                   FROM events WHERE event_type = 'view') t WHERE rn = 1),
      c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
            FROM events WHERE event_type = 'click')
      SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts
      FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.view_ts <= c.click_ts
      ORDER BY click_id"""),
    // headline since round 6 (annex row in BASELINE.md)
    headline = true)

  /** Large-LARGE interval join, batch form of the streaming funnel:
    * every (view, click) pair for the same user with the click at most
    * 30 minutes after the view. [[graft.ops.RangeOps.intervalJoin]]'s
    * binned plan — equi-join on (user, time-bucket) BEFORE the band
    * filter, so per-task work is bounded by rows-per-band-width, not
    * rows-per-key (Spark's native plan for key+band is the per-key cross
    * product). Oracle = the naive band join, feasible at oracle scale.
    */
  val q55 = Q(
    "q55_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
          col("event_ts").as("view_ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
          col("event_ts").as("click_ts"))
      graft.ops.RangeOps.intervalJoin(views, clicks, "v_user", "c_user",
          "view_ts", "click_ts", lowerUs = 0L, upperUs = 30L * 60 * 1000000L)
        .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
        .orderBy("view_id", "click_id")
    },
    Some("""
      WITH v AS (SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click')
      SELECT v.user_id, view_id, click_id
      FROM v JOIN c ON v.user_id = c.user_id
        AND c.click_ts >= v.view_ts
        AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE
      ORDER BY view_id, click_id"""),
    // headline since round 6 (annex row in BASELINE.md)
    headline = true)

  /** The SAME class of join as q55, but written the way a user naturally
    * would — plain `join` with equality + band predicates — and left to
    * the injected optimizer rule (`plans/BinnedIntervalJoin`) to rewrite
    * into the binned plan. Attribution flavor: clicks landing strictly
    * after a view and within 10 minutes, counted per view. Grading this
    * against DuckDB proves the AUTOMATIC rewrite end to end (the strict
    * lower bound exercises the ±1 µs canonicalization); the
    * `BinnedIntervalJoinSpec` plan pin proves the rewrite actually fired
    * rather than Spark's native per-key cross product.
    */
  val q56 = Q(
    "q56_auto_interval_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("event_id").as("view_id"),
          col("event_ts").as("view_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_ts").as("click_ts"))
      v.join(c, col("vu") === col("cu") &&
          col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 10 MINUTES"))
        .groupBy("view_id").agg(count(lit(1)).as("n_clicks"))
        .orderBy("view_id")
    },
    Some("""
      WITH v AS (SELECT user_id, event_id AS view_id, CAST(ts AS TIMESTAMP) AS view_ts
                 FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
            FROM events WHERE event_type = 'click')
      SELECT view_id, count(*) AS n_clicks
      FROM v JOIN c ON v.user_id = c.user_id
        AND c.click_ts > v.view_ts
        AND c.click_ts <= v.view_ts + INTERVAL 10 MINUTE
      GROUP BY view_id ORDER BY view_id"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** The SAME as-of semantics as q54, answered by the NATIVE operator —
    * `plans/AsOfJoin`, the custom `LogicalPlan` + `SparkStrategy` +
    * `SparkPlan` rung of the extension ladder. Each side shuffles once on
    * `user_id`, sorts by (user, ts), and a per-partition forward merge
    * emits each click joined to its latest preceding view: no union
    * doubling, no window state — the engine-native shape of the operator
    * q54 composes from stock pieces. Views deduped to one per (user, ts)
    * first, exactly like q54, so "most recent" is total and both engines
    * agree (see q54's doc). Oracle: DuckDB's native ASOF JOIN — the same
    * SQL as q54, so the composed and native forms are graded against one
    * answer.
    */
  val q58 = Q(
    "q58_asof_native",
    (s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("event_ts").as("click_ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("event_ts").as("view_ts"))
        .agg(min(col("event_id")).as("view_id"))
      graft.plans.AsOfJoin(clicks, views,
          leftKeys = Seq("user_id"), rightKeys = Seq("v_user"),
          leftTs = "click_ts", rightTs = "view_ts")
        .select(col("click_id"), col("user_id"), col("click_ts"),
          col("view_id"), col("view_ts"))
        .orderBy("click_id")
    },
    Some("""
      WITH v AS (SELECT user_id, view_ts, view_id FROM (
                   SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts, event_id AS view_id,
                     row_number() OVER (PARTITION BY user_id, CAST(ts AS TIMESTAMP)
                       ORDER BY event_id) AS rn
                   FROM events WHERE event_type = 'view') t WHERE rn = 1),
      c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts, event_id AS click_id
            FROM events WHERE event_type = 'click')
      SELECT c.click_id, c.user_id, c.click_ts, v.view_id, v.view_ts
      FROM c ASOF JOIN v ON c.user_id = v.user_id AND v.view_ts <= c.click_ts
      ORDER BY click_id"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Cohort retention — the product-analytics matrix: users grouped by
    * their FIRST-activity day (the cohort), counted again on each later
    * day they stayed active (offsets 0..7). The period index is pure
    * integer division of the epoch timestamp — Spark divides the µs
    * image of the raw nano column, DuckDB divides `epoch_us` of its
    * µs-truncated read, the identical integer: no date intervals, no
    * timezone edge. (Daily grain because the corpus spans one month;
    * swap the divisor for weekly/monthly cohorts.)
    *
    * Scale shape: distinct (user, day) is one keyed exchange on
    * user_id; the per-user cohort min AGGREGATES ON THAT SAME
    * PARTITIONING and the activity-to-cohort join is therefore
    * co-partitioned (no further user-keyed exchange); the final
    * (cohort, offset) roll-up moves only matrix-sized data. Nothing is
    * ever corpus × corpus, and no window spans more than a user's rows.
    */
  val q76 = Q(
    "q76_retention_cohorts",
    (s, d) => {
      val activity = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us div 86400000000").as("di"))
        .distinct()
      val cohorts = activity.groupBy("user_id").agg(min(col("di")).as("cd"))
      activity.join(cohorts, "user_id")
        .withColumn("offset_d", col("di") - col("cd"))
        .filter(col("offset_d") <= 7)
        .groupBy("cd", "offset_d")
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cd", "offset_d")
    },
    Some("""
      WITH a AS (SELECT DISTINCT user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS di
        FROM events),
      c AS (SELECT user_id, min(di) AS cd FROM a GROUP BY user_id)
      SELECT c.cd, a.di - c.cd AS offset_d, count(DISTINCT a.user_id) AS n_users
      FROM a JOIN c USING (user_id)
      WHERE a.di - c.cd <= 7
      GROUP BY 1, 2 ORDER BY 1, 2"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Ordered conversion funnel view → click → purchase
    * ([[graft.ops.FunnelOps.funnel]] — strict-sequence semantics, each
    * step co-partitioned on user_id with the last; `FunnelSpec` pins the
    * out-of-order cases on constructed data). Output per step: users
    * reaching it + total µs lag from first view, integer-exact.
    */
  val q88 = Q(
    "q88_funnel",
    (s, d) => graft.ops.FunnelOps.funnel(
      Tables.events(s, d), Seq("view", "click", "purchase")),
    Some("""
      WITH e AS (SELECT user_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS tu FROM events),
      s1 AS (SELECT user_id, min(tu) AS t1 FROM e
             WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.tu) AS t2, min(s1.t1) AS t1
             FROM e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.tu > s1.t1 GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.tu) AS t3, min(s2.t1) AS t1
             FROM e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.tu > s2.t2 GROUP BY 1)
      SELECT * FROM (
        SELECT 1 AS step, 'view' AS step_name, count(*) AS n_users,
               CAST(sum(t1 - t1) AS BIGINT) AS sum_lag_us FROM s1
        UNION ALL
        SELECT 2, 'click', count(*), CAST(sum(t2 - t1) AS BIGINT) FROM s2
        UNION ALL
        SELECT 3, 'purchase', count(*), CAST(sum(t3 - t1) AS BIGINT) FROM s3)
      ORDER BY step"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Per-user EWMA of event values — the ORDERED-RECURRENCE family no
    * window or aggregate covers: e_i = (30·x_i + 70·e_{i-1}) div 100
    * with e_1 = x_1, over the user's events in (ts, event_id) order.
    * A non-associative integer recurrence CANNOT partially aggregate or
    * run as a window frame; the exact distributed form is one per-user
    * ordered fold: collect the user's (us, id, qx) triples (compact —
    * 3 longs/event), sort in-group, fold with `aggregate` (a codegen'd
    * higher-order function, no UDF). Values are quantized
    * (floor(value·2^20)) so every step is integer-exact and the DuckDB
    * mirror (`list(... ORDER BY ...)` + `list_reduce`, same
    * first-element init) must agree bit-for-bit — the q63 posture
    * applied to sequential state.
    *
    * Scale: per-user state is activity-bounded (the session-window
    * posture); the one exchange carries ~24 B/event with no map-side
    * combine — the honest cost of a sequential recurrence, and the
    * reason EWMA-style features belong in one pass alongside other
    * per-user folds rather than as repeated windows.
    */
  val q92 = Q(
    "q92_user_ewma",
    (s, d) => {
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us").as("us"),
          floor(col("value") * lit(1048576L)).cast("long").as("qx"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("us"), col("event_id"), col("qx"))))
          .as("__evs"))
        .select(col("user_id"), expr(
          "aggregate(slice(__evs, 2, size(__evs)), __evs[0].qx," +
            " (acc, e) -> (30 * e.qx + 70 * acc) div 100)").as("ewma_q"))
        .orderBy("user_id")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          CAST(floor(value * 1048576) AS BIGINT) AS qx
        FROM events),
      l AS (SELECT user_id, list(qx ORDER BY us, event_id) AS xs
            FROM e GROUP BY 1)
      SELECT user_id,
        list_reduce(xs, (acc, x) -> (30 * x + 70 * acc) // 100) AS ewma_q
      FROM l ORDER BY user_id"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** SCD2 change-interval build — the change-data-capture operator that
    * turns an ordered attribute stream into a type-2 dimension: each
    * user's item assignment (`props.k`) becomes one validity interval
    * per RUN of equal values, `[valid_from_us, valid_to_us)` with an
    * open (NULL) end on the current version and a per-user version
    * ordinal. Run-length encoding of ordered state — the missing link
    * between an event log and a point-in-time dimension (q54's as-of
    * join is its read-side twin: as-of against the raw log ≡ equi-join
    * against this interval table).
    *
    * [[graft.ops.ScdOps.history]] runs two window passes over the SAME
    * (user_id, (us, event_id)) sort — `lag` marks run starts, then, on
    * the change rows only (a filter that preserves both partitioning and
    * order, so Catalyst plans ONE exchange and one sort for both
    * windows), `lead`/`row_number` close the intervals. All integers:
    * hash-exact. `ScdSpec` pins run collapsing, NULL-gap semantics, and
    * the open current version on constructed data.
    *
    * Scale: per-user windows (activity-bounded, the session-window
    * posture); output is change-bounded, not event-bounded — exactly why
    * SCD2 is the 100-TB representation of slowly-changing state.
    */
  val q94 = Q(
    "q94_scd2_history",
    (s, d) => {
      val assigns = Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts_us").as("us"),
          get_json_object(col("props"), "$.k").cast("long").as("item"))
      graft.ops.ScdOps.history(assigns, "user_id", "us", "event_id", "item")
        .select(col("user_id"), col("item"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"), col("version"))
        .orderBy("user_id", "version")
    },
    Some("""
      WITH a AS (
        SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL),
      ch AS (
        SELECT user_id, event_id, us, item,
          lag(item) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_item
        FROM a),
      v AS (
        SELECT user_id, event_id, us, item FROM ch
        WHERE prev_item IS NULL OR prev_item <> item)
      SELECT user_id, item, us AS valid_from_us,
        lead(us) OVER w AS valid_to_us,
        CAST(row_number() OVER w AS BIGINT) AS version
      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      ORDER BY user_id, version"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Trailing 1-hour per-user rolling aggregates — TIME-RANGE window
    * frames (`RANGE BETWEEN <µs> PRECEDING AND CURRENT ROW` over
    * `ts_us`), the variable-width sibling of q13's fixed ROWS frames:
    * each event sees however many events fall in its trailing hour, not
    * a fixed row count. The rate/velocity feature shape (events-per-hour,
    * spend-per-hour) that fraud and engagement pipelines compute.
    *
    * The frame bound lives in the integer µs domain on both sides, so
    * frame membership is exact; the sum is decimal-exact per the [[Det]]
    * convention (a window frame is a deterministic SET, and decimal
    * addition makes its sum order-independent). One exchange + one
    * per-user sort carries both aggregates.
    */
  val q99 = Q(
    "q99_rolling_1h",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy("user_id").orderBy(col("us"))
        .rangeBetween(-3600000000L, 0L)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts_us").as("us"),
          col("value").cast(DecimalType(30, 6)).as("dv"))
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", sum(col("dv")).over(w).cast("double"))
        .select("event_id", "user_id", "n_1h", "sum_1h")
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (SELECT event_id, user_id,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us,
          CAST(value AS DECIMAL(30,6)) AS dv
        FROM events)
      SELECT event_id, user_id,
        count(*) OVER w AS n_1h,
        CAST(sum(dv) OVER w AS DOUBLE) AS sum_1h
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      ORDER BY event_id"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Time-series gap filling — regularize each user's event stream onto
    * an hourly grid: every hour in the user's observed [first, last]
    * span gets a row, zero-filled where no events landed. The
    * resampling operator every downstream window/forecast feature needs
    * (a missing hour must mean "0 events", not "no row" — q99's rolling
    * frames, for one, see gaps only if they exist as rows).
    *
    * Shape: one (user, hour) count aggregate, a user-keyed span
    * aggregate ON THE COUNTS (group-sized input), the grid exploded
    * from `sequence(h0, h1)` (pipelined — no join against a calendar
    * table), and one co-keyed left join. Output is span-bounded, not
    * event-bounded. All integers: hash-exact.
    */
  val q105 = Q(
    "q105_gap_fill",
    (s, d) => {
      val counts = Tables.events(s, d)
        .select(col("user_id"), expr("ts_us div 3600000000").as("h"))
        .groupBy("user_id", "h").agg(count(lit(1)).as("n"))
      val grid = counts.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
      grid.join(counts, Seq("user_id", "h"), "left")
        .select(col("user_id"), col("h"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("user_id", "h")
    },
    Some("""
      WITH c AS (
        SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
          count(*) AS n
        FROM events GROUP BY 1, 2),
      s AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM c GROUP BY 1),
      g AS (SELECT user_id, unnest(range(h0, h1 + 1)) AS h FROM s)
      SELECT g.user_id, g.h, coalesce(c.n, 0) AS n
      FROM g LEFT JOIN c USING (user_id, h)
      ORDER BY user_id, h"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Interval OVERLAP join — concurrent sessions across users: every
    * pair of DIFFERENT users' 10-minute-gap sessions whose [first, last]
    * event spans intersect, with the overlap duration. The interval ×
    * interval form q55's point-in-band join cannot express — both sides
    * have extent — via [[graft.ops.RangeOps.overlapJoin]]'s bucketed
    * replication with single-bucket pair ownership (no post-join
    * distinct; the user_a < user_b guard prunes INSIDE the join). The
    * concurrency/co-presence primitive (shared-session detection, ops
    * incident correlation).
    *
    * Sessions are the q52 aggregates ([min, max] event time per
    * session-window), so session identity is already graded; the oracle
    * pays the naive all-pairs range self-join over its gaps-and-islands
    * mirror. Exact integers end to end: hash-exact.
    */
  val q111 = Q(
    "q111_overlap_join",
    (s, d) => {
      // both self-join sides consume sess — persist so the events scan +
      // sessionization runs once (the q87/q106 lesson; nothing pins that
      // ReuseExchange would dedupe the two aggregate subtrees).
      // Cache width pinned to the session's shuffle width (round 22):
      // the relation's bytes are tiny but its consumer (the width-
      // replicated interval self-join) is CPU-dense per row, and AQE's
      // bytes-based cache coalescing would run the explode+join nearly
      // serial (the q37 lesson — measured +32% on this row before the
      // pin). user_id keys the replication deterministically.
      val sess = graft.Memo.cached(s, d, "overlap_sessions") {
        Tables.events(s, d)
          .groupBy(session_window(col("event_ts"), "10 minutes").as("w"),
            col("user_id"))
          .agg(unix_micros(min(col("event_ts"))).as("ss"),
            unix_micros(max(col("event_ts"))).as("se"))
          .select("user_id", "ss", "se")
          .repartition(s.sessionState.conf.numShufflePartitions, col("user_id"))
      }
      val a = sess.select(col("user_id").as("user_a"),
        col("ss").as("sa"), col("se").as("ea"))
      val b = sess.select(col("user_id").as("user_b"),
        col("ss").as("sb"), col("se").as("eb"))
      graft.ops.RangeOps.overlapJoin(a, b, "sa", "ea", "sb", "eb",
          widthUs = 1800000000L, // 30 min ~ session scale
          extraCond = col("user_a") < col("user_b"))
        .select(col("user_a"), col("user_b"), col("sa").as("start_a"),
          col("sb").as("start_b"),
          (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")))
            .as("overlap_us"))
        .orderBy("user_a", "user_b", "start_a", "start_b")
    },
    Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      flagged AS (
        SELECT user_id, t,
          CASE WHEN lag(t) OVER w IS NULL
                 OR t - lag(t) OVER w >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      numbered AS (
        SELECT user_id, t,
          sum(new_s) OVER (PARTITION BY user_id ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM flagged),
      sess AS (
        SELECT user_id, epoch_us(min(t)) AS ss, epoch_us(max(t)) AS se
        FROM numbered GROUP BY user_id, sid)
      SELECT a.user_id AS user_a, b.user_id AS user_b,
        a.ss AS start_a, b.ss AS start_b,
        least(a.se, b.se) - greatest(a.ss, b.ss) AS overlap_us
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id AND a.ss <= b.se AND b.ss <= a.se
      ORDER BY 1, 2, 3, 4"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** First-order transition matrix over per-user event sequences — the
    * Markov-chain estimate behind next-event prediction, anomaly scoring
    * and session simulation. Each user's events in (ts, event_id) total
    * order (the event_id tiebreak makes same-microsecond neighbors
    * deterministic in both engines), consecutive pairs counted into a
    * (prev, cur) matrix; the row-conditional probability is reported as
    * the exact integer pair (n, tot) PLUS a 10^-6-quantized floor-div
    * ratio — no IEEE division in the graded cells (q107's rational
    * posture).
    *
    * Shape at scale: ONE user-keyed exchange+sort feeds the lag window
    * (the q94/q99 partitioning), the pair count is a map-side-combined
    * aggregate shrinking to |types|² rows, and the row-total is a window
    * over that matrix-sized frame — never over data.
    */
  val q113 = Q(
    "q113_event_transitions",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
      val counts = Tables.events(s, d)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("cur_type"))
        .agg(count(lit(1)).as("n"))
      counts
        .withColumn("tot", sum(col("n")).over(Window.partitionBy("prev_type")))
        .withColumn("p_q", expr("(1000000L * n) div tot"))
        .select("prev_type", "cur_type", "n", "tot", "p_q")
        .orderBy("prev_type", "cur_type")
    },
    Some("""
      WITH e AS (SELECT user_id, event_id, event_type,
          epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      seq AS (
        SELECT event_type AS cur_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        FROM e),
      m AS (
        SELECT prev_type, cur_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
      SELECT prev_type, cur_type, n,
        CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS tot,
        (1000000 * n) // CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_q
      FROM m ORDER BY 1, 2"""),
    headline = true)

  val defs: Seq[Q] = Seq(q50, q51, q52, q53, q54, q55, q56, q58, q76, q88,
    q92, q94, q99, q105, q111, q113)
}
