package graft.queries

import graft.{Q, Tables}
import graft.ops.GraphOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the event stream — the family beyond q39's
  * connected components: importance ranking on a behavior graph, the kind
  * of signal a training-data pipeline uses to weight or sample sources.
  */
object GraphQs {

  /** The shared item-transition derivation both graph queries build on:
    * one row per pair of CONSECUTIVE events of a user (microsecond
    * order, `event_id` tiebreak — the q53/q54 total order), item ids
    * from `props.k`, nulls and self-transitions dropped. q63 weights and
    * directs these; q90 forgets direction. One definition so the two
    * queries can never disagree about the graph.
    */
  private def transitions(s: org.apache.spark.sql.SparkSession, d: String) =
    // Memoized per (session, dir) since round 21: all four graph
    // queries derive from this one relation, and each derived BOTH its
    // edge list and its node/seed set from it — two full event-window
    // passes per invocation before the cache. Two longs per transition,
    // MEMORY_AND_DISK — the doc_shingles footing.
    graft.Memo.cached(s, d, "item_transitions") {
      val ev = Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        col("ts_us").as("us"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      ev.withColumn("next_item", lead(col("item"), 1).over(w))
        .filter(col("item").isNotNull && col("next_item").isNotNull &&
          col("item") =!= col("next_item"))
        .select("item", "next_item")
    }

  /** The oracle-side mirror of [[transitions]] (ev + tr CTEs). */
  private val TransitionsCte = """
      ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS uts,
          CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
        FROM events),
      tr AS (
        SELECT item,
          lead(item) OVER (PARTITION BY user_id ORDER BY uts, event_id) AS next_item
        FROM ev)"""

  /** PageRank over the item-transition graph: nodes are the item ids in
    * `events.props.k`, with a directed edge (a -> b, weight = transition
    * count) whenever one user's consecutive events (microsecond order,
    * `event_id` tiebreak — the same total order q53/q54 use) move from
    * item a to item b. Two synchronous rounds of
    * [[GraphOps.pageRank]]'s quantized-integer recurrence.
    *
    * Hash-exact graded: ranks stay in the fixed-point integer domain end
    * to end (floor divisions + associative integer sums), so the DuckDB
    * oracle unrolls the identical recurrence and must agree bit-for-bit —
    * a float PageRank could only ever be graded to a tolerance.
    *
    * Scale shape: edge building is one window over user-partitioned
    * events plus one (src,dst) hash aggregate; ranking is two exchanges
    * per round on node-/edge-sized relations (see [[GraphOps.pageRank]]).
    * Nothing is ever quadratic in users, items, or events.
    */
  val q63 = Q(
    "q63_pagerank",
    (s, d) => {
      val edges = transitions(s, d)
        .groupBy(col("item").as("src"), col("next_item").as("dst"))
        .agg(count(lit(1)).as("w"))
      GraphOps.pageRank(edges, iters = 2)
        .select(col("node").as("item"), col("q"))
        .orderBy("item")
    },
    Some(s"""
      WITH $TransitionsCte,
      edges AS (
        SELECT item AS src, next_item AS dst, count(*) AS w FROM tr
        WHERE item IS NOT NULL AND next_item IS NOT NULL AND item <> next_item
        GROUP BY 1, 2),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      p AS (SELECT count(*) AS n FROM nodes),
      outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM edges GROUP BY src),
      r0 AS (SELECT node, 1099511627776 // (SELECT n FROM p) AS q FROM nodes),
      c1 AS (SELECT e.dst, CAST(sum((r.q * e.w) // o.ow) AS BIGINT) AS qin
             FROM edges e
             JOIN outw o ON o.src = e.src
             JOIN r0 r ON r.node = e.src
             GROUP BY e.dst),
      r1 AS (SELECT nd.node,
               ((100 - 85) * 1099511627776) // (100 * (SELECT n FROM p))
                 + (85 * coalesce(c1.qin, 0)) // 100 AS q
             FROM nodes nd LEFT JOIN c1 ON c1.dst = nd.node),
      c2 AS (SELECT e.dst, CAST(sum((r.q * e.w) // o.ow) AS BIGINT) AS qin
             FROM edges e
             JOIN outw o ON o.src = e.src
             JOIN r1 r ON r.node = e.src
             GROUP BY e.dst),
      r2 AS (SELECT nd.node,
               ((100 - 85) * 1099511627776) // (100 * (SELECT n FROM p))
                 + (85 * coalesce(c2.qin, 0)) // 100 AS q
             FROM nodes nd LEFT JOIN c2 ON c2.dst = nd.node)
      SELECT node AS item, q FROM r2 ORDER BY item"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Per-item triangle counts on the UNDIRECTED co-transition graph (the
    * same consecutive-event edges q63 ranks, direction and weight
    * dropped) — the community-density signal beside PageRank's
    * importance: an item in many triangles sits in a tightly-knit
    * cluster of co-browsed items, one in none is a corridor.
    *
    * [[GraphOps.triangleCounts]] runs the degree-orientation algorithm
    * (wedge join bounded O(m^1.5), never Σ deg² — a hub's neighborhood
    * is never self-joined); the oracle counts the identical triangle set
    * with the naive a<b three-way join, feasible at oracle scale only.
    * Exact integers — hash-exact.
    *
    * Scale shape: edge building is q63's per-user window + one (a, b)
    * hash-aggregate; everything after is keyed exchanges over
    * edge-bounded relations. On this corpus the item graph is
    * corpus-size-invariant (events grow, item vocabulary doesn't), so
    * the scale tier measures the edge-build window — same posture as
    * q63's row.
    */
  val q90 = Q(
    "q90_triangles",
    (s, d) => {
      GraphOps.triangleCounts(
          transitions(s, d).select(col("item").as("a"), col("next_item").as("b")))
        .select(col("node").as("item"), col("n_tri"))
        .orderBy("item")
    },
    Some(s"""
      WITH $TransitionsCte,
      und AS (
        SELECT DISTINCT least(item, next_item) AS a,
               greatest(item, next_item) AS b
        FROM tr
        WHERE item IS NOT NULL AND next_item IS NOT NULL AND item <> next_item),
      tris AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
      corners AS (
        SELECT x AS node FROM tris
        UNION ALL SELECT y FROM tris
        UNION ALL SELECT z FROM tris)
      SELECT node AS item, count(*) AS n_tri
      FROM corners GROUP BY 1 ORDER BY 1"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Hop-distance map from the low-id seed items over the DIRECTED
    * transition graph ([[GraphOps.bfs]], ≤ 4 hops) — the traversal
    * primitive the graph family lacked beside ranking (q63) and density
    * (q90): "how far does influence propagate from these sources"
    * (contamination spread, recommendation reach). The engine runs it
    * as unit-weight SSSP, whose improved-only frontier is BFS's disjoint
    * layers; the oracle walks a recursive CTE over (node, depth) pairs
    * and min-collapses. Identical integers — hash-graded.
    */
  val q95 = Q(
    "q95_bfs_hops",
    (s, d) => {
      val edges = transitions(s, d)
        .select(col("item").as("src"), col("next_item").as("dst"))
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      GraphOps.bfs(edges, nodes.filter(col("node") < 5), maxHops = 4)
        .select(col("node").as("item"), col("dist"))
        .orderBy("item")
    },
    Some(s"""
      WITH RECURSIVE $TransitionsCte,
      edges AS (
        SELECT DISTINCT item AS src, next_item AS dst FROM tr
        WHERE item IS NOT NULL AND next_item IS NOT NULL AND item <> next_item),
      nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      walk(node, d) AS (
        SELECT node, 0 FROM nodes WHERE node < 5
        UNION
        SELECT e.dst, w.d + 1 FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.d < 4)
      SELECT node AS item, CAST(min(d) AS BIGINT) AS dist
      FROM walk GROUP BY 1 ORDER BY 1"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Weighted shortest paths over the item graph — q95's cost-aware
    * sibling (affinity routing: "how far is every item from the seed set
    * when rare transitions cost more"). Edge weight is the integer
    * inverse-frequency w = (10^6 div cnt) + 1 — popular transitions are
    * cheap, rare ones expensive, all weights positive integers so costs
    * stay in the exact domain. Four rounds of
    * [[GraphOps.sssp]]'s frontier Bellman-Ford; the oracle UNROLLS the
    * same synchronous recurrence (relax-all + min per round — a
    * recursive-CTE path walk would enumerate the exponential path space
    * on this dense little graph), and only-improved-frontier vs
    * relax-all provably agree after R rounds. Hash-exact integers.
    *
    * Scale shape: the weighted edge list is one (src,dst) aggregate off
    * the shared transition window; each round is a frontier-sized probe
    * of the once-partitioned cached edges plus two node-keyed exchanges.
    */
  val q117 = Q(
    "q117_weighted_sssp",
    (s, d) => {
      val edges = transitions(s, d)
        .groupBy(col("item").as("src"), col("next_item").as("dst"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("w", expr("(1000000L div cnt) + 1L"))
        .select("src", "dst", "w")
      val nodes = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
      GraphOps.sssp(edges, nodes.filter(col("node") < 5), rounds = 4)
        .select(col("node").as("item"), col("cost"))
        .orderBy("item")
    },
    Some {
      val rounds = (1 to 4).map { i =>
        s"""r$i AS (
        SELECT e.dst AS node, min(d.cost + e.w) AS cost
        FROM d${i - 1} d JOIN edges e ON e.src = d.node GROUP BY 1),
      d$i AS (
        SELECT node, min(cost) AS cost
        FROM (SELECT * FROM d${i - 1} UNION ALL SELECT * FROM r$i) GROUP BY 1)"""
      }.mkString(",\n      ")
      s"""
      WITH $TransitionsCte,
      ecnt AS (
        SELECT item AS src, next_item AS dst, count(*) AS cnt FROM tr
        WHERE item IS NOT NULL AND next_item IS NOT NULL AND item <> next_item
        GROUP BY 1, 2),
      edges AS (SELECT src, dst, (1000000 // cnt) + 1 AS w FROM ecnt),
      d0 AS (
        SELECT node, 0 AS cost FROM (
          SELECT src AS node FROM edges UNION SELECT dst FROM edges)
        WHERE node < 5),
      $rounds
      SELECT node AS item, CAST(cost AS BIGINT) AS cost FROM d4 ORDER BY 1"""
    },
    headline = true)

  val defs: Seq[Q] = Seq(q63, q90, q95, q117)
}
