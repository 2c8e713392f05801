package graft.queries

import graft.{Det, Q, Tables}
import graft.ops.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings` (64-dim float vectors).
  *
  * q41 is the exact baseline: broadcast the (small) query set against one
  * linear corpus scan — no shuffle, no corpus x corpus cross join. q42 is
  * the scale path: IVF cell assignment (linear) + probe-3 search, fully
  * deterministic, so even the approximate index hash-matches its oracle.
  * q43 is random-hyperplane LSH near-dup (sign-bucket join + exact cosine
  * verify) — recall is probabilistic, hence rows-only (no SQL oracle).
  *
  * All ranking cosines use [[VectorOps]]' exact-decimal inner products —
  * order-independent, bit-identical across engines.
  */
object VectorQs {

  /** DuckDB mirror of [[VectorOps.dotD]] for 64-dim vectors (list_sum is
    * a sequential left fold — verified bit-identical to Spark's). */
  private def dotSql(a: String, b: String): String =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 65)])"

  private def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  private def corpus(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id").as("id"), col("embedding").as("vec"))

  /** Validity bound for broadcasting the embeddings relation into the SRP
    * verify joins (q43/q139) — [[DedupQs.docBroadcastOk]]'s vector twin.
    * Without the hint the post-LSH candidate relation has no stats, so
    * both verify joins go sort-merge, and the SECOND sort carries every
    * candidate row with a 64-float array already attached (~300 B/row):
    * at the 100× tier (500 k vectors, capped candidate mass ~10⁸–10⁹
    * rows) that sort spilled past 45 GB of local disk and died. With the
    * embeddings side broadcast, candidates stream map-side carrying only
    * ids, and nothing array-laden ever shuffles. Estimate = vectors × 64
    * floats (one count, memoized per (session, corpus)); bound conf
    * `spark.graft.vec.broadcastMaxFloats`, default 64 M floats ≈ 256 MB
    * packed — a few × that as a HashedRelation, inside a production
    * executor's broadcast budget, and 500 k × 64 = 32 M sits within it.
    * Past the bound the join degrades to the shuffled form. */
  private[graft] def vecBroadcastOk(s: SparkSession, d: String): Boolean = {
    val est = graft.Memo.estimate(s, d, "vec_broadcast_floats")(
      Tables.embeddings(s, d).count() * 64L)
    val bound = s.conf.getOption("spark.graft.vec.broadcastMaxFloats")
      .map(_.toLong).getOrElse(64000000L)
    est <= bound
  }

  private def maybeBVec(s: SparkSession, d: String, df: DataFrame): DataFrame =
    if (vecBroadcastOk(s, d)) broadcast(df) else df

  private def queries(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Brute-force exact cosine top-10 for 5 query vectors. */
  val q41 = Q(
    "q41_cosine_topk",
    (s, d) => {
      VectorOps.bruteForceTopK(corpus(s, d), queries(s, d), k = 10)
        .select(col("qid"), col("id").as("vec_id"), col("cos"), col("rn"))
        .orderBy("qid", "rn")
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5)
      SELECT qid, vec_id, cos, rn FROM (
        SELECT q.qid, e.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos,
          CAST(row_number() OVER (PARTITION BY q.qid
            ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, e.vec_id) AS INT) AS rn
        FROM q JOIN embeddings e ON e.vec_id <> q.qid) t
      WHERE rn <= 10 ORDER BY qid, rn"""),
    headline = true)

  /** Shared DuckDB CTE chain producing `cent1`, the Lloyd-TRAINED
    * centroid set (one quantized-mean update of the `vec_id % 50` seeds
    * — [[VectorOps.kmeansUpdate]]'s exact floor(v·2^40) integer-mean
    * mirror). Used by q59 (whose final assignment it IS) and by q42
    * (whose index now probes trained cells — round 12: trained centroids
    * plus the raised probe budget are what lifted measured recall@5 to
    * ≥ 0.8 at every scale tier, SURVEY §2.0.2's recall-vs-probe table).
    */
  private def kmeansCentSql: String = s"""
      cent0 AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0),
      a1 AS (
        SELECT vec_id, vec, cell FROM (
          SELECT e.vec_id, e.embedding AS vec, c.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
          FROM embeddings e CROSS JOIN cent0 c) t WHERE rn = 1),
      qz AS (
        SELECT cell, pos, CAST(floor(CAST(v AS DOUBLE) * 1099511627776.0) AS BIGINT) AS q
        FROM (SELECT cell, generate_subscripts(vec, 1) AS pos, unnest(vec) AS v FROM a1) u),
      mz AS (
        SELECT cell, pos,
          CAST((CAST(sum(q) AS DOUBLE) / count(*)) * power(2.0, -40) AS REAL) AS m
        FROM qz GROUP BY cell, pos),
      cent1 AS (SELECT cell AS cid, list(m ORDER BY pos) AS cvec FROM mz GROUP BY cell)"""

  /** The `vec_id % 50` centroid/seed/sample relation. */
  private def fifties(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") % 50 === 0)

  /** Default probe budget for the IVF searches (q42/q66). The corpus is
    * ISOTROPIC (within-label mean cosine 0.0016 vs 0.0003 cross — no
    * cluster structure for an index to exploit), so recall@5 is governed
    * almost entirely by the scanned fraction probes/k: the measured
    * recall-vs-probe curve (SURVEY §2.0.2) is near-linear from 0.28 at
    * probes=3 to ~1.0 at probes=k. 24 is the measured knee that holds
    * recall@5 ≥ 0.8 at EVERY scale tier (1×/10×/100×, trained
    * centroids) — on clustered production embeddings the same budget
    * buys far more, and the knob walks the curve per-session. */
  private val DefaultIvfProbes = 24

  /** Probe count for the IVF searches (q42/q66) — the standard
    * recall/cost lever: candidates (and search time) grow linearly with
    * it, recall approaches the exhaustive bound as it nears the cell
    * count. Default [[DefaultIvfProbes]] = the graded/benched plan
    * (recall@5 ≥ 0.8 at every measured tier); lower per-session when
    * throughput beats recall. Same opt-in-knob posture as q43's
    * `spark.graft.srp.bandBits`: a non-default value intentionally
    * diverges from the pinned oracle answer. */
  private def probeCount(s: SparkSession): Int = {
    val p = s.conf.getOption("spark.graft.ivf.probes").map(_.toInt)
      .getOrElse(DefaultIvfProbes)
    require(p > 0, s"spark.graft.ivf.probes must be > 0: $p")
    p
  }

  /** The IVF index's centroid set: one Lloyd update of the `vec_id % 50`
    * seeds (q59's iters=2 kmeans, CENTROID half) — Memo-cached because
    * it IS the index (rebuild-per-query would charge every search with
    * an O(corpus) training pass; at 100 TB this relation is the
    * artifact a deployment persists). Training is one linear assignment
    * pass + one map-side-combined quantized-mean aggregate; the output
    * is k-sized and broadcasts. Trained cells quantize the corpus
    * measurably better than raw seeds (recall@5 at the same probe
    * budget: +0.08 at the 1× tier, SURVEY §2.0.2), and every step is
    * engine-exact, so q42 stays hash-graded.
    */
  private def trainedCents(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "ivf_trained_cents") {
      val seeds = fifties(s, d)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      VectorOps.kmeansUpdate(VectorOps.ivfAssign(corpus(s, d), seeds))
    }

  /** IVF approximate search: Lloyd-trained centroids ([[trainedCents]]),
    * nearest-cell assignment, probe the [[DefaultIvfProbes]] closest
    * cells per query, exact re-rank of the candidates, top-5.
    */
  private def ivfQuery(s: SparkSession, d: String): DataFrame = {
      val cents = trainedCents(s, d)
      val assigned = VectorOps.ivfAssign(corpus(s, d), cents)
      val wProbe = Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))
      val probes = queries(s, d)
        .withColumn("q_norm", VectorOps.sqNormD(col("qvec")))
        .crossJoin(broadcast(cents))
        .withColumn("pcos", VectorOps.cosine(col("qvec"), col("cvec")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= probeCount(s))
        .select("qid", "qvec", "q_norm", "cid")
      val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
      // probes is 3 rows per query — broadcast it against the corpus-sized
      // cell assignment (without the hint this planned as a sort-merge
      // join, shuffling both sides)
      assigned
        .join(broadcast(probes), col("cid") === col("cell"))
        .filter(col("id") =!= col("qid"))
        // norms precomputed per row (q_norm / sq_norm) — same doubles as
        // the inline cosine, hoisted out of the per-pair expression.
        // Project down to (qid, id, cos) BEFORE the ranking window: the
        // window sorts whole rows within per-qid partitions, and leaving
        // the two 64-float vectors aboard made the 100×-scale sort move
        // ~550 B/candidate instead of ~24 B (measured 18× at 100× rows,
        // ~5× after the projection — SURVEY §2.0.2 deep tier)
        .select(col("qid"), col("id"),
          (VectorOps.dotD(col("qvec"), col("vec")) /
            (sqrt(col("q_norm")) * sqrt(col("sq_norm")))).as("cos"))
        .withColumn("rn", row_number().over(wRank).cast("int"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("id").as("vec_id"), col("cos"), col("rn"))
        .orderBy("qid", "rn")
  }

  val q42 = Q(
    "q42_ann_ivf",
    (s, d) => ivfQuery(s, d),
    Some(s"""
      WITH $kmeansCentSql,
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, cent1.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "cent1.cvec")} DESC, cent1.cid) AS crn
          FROM embeddings e CROSS JOIN cent1) t WHERE crn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      probes AS (
        SELECT qid, cell FROM (
          SELECT q.qid, cent1.cid AS cell,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY ${cosSql("q.qe", "cent1.cvec")} DESC, cent1.cid) AS prn
          FROM q CROSS JOIN cent1) t WHERE prn <= $DefaultIvfProbes),
      cand AS (
        SELECT DISTINCT p.qid, a.vec_id FROM probes p
        JOIN assign a ON p.cell = a.cell WHERE a.vec_id <> p.qid)
      SELECT qid, vec_id, cos, rn FROM (
        SELECT c.qid, c.vec_id, ${cosSql("q.qe", "e.embedding")} AS cos,
          CAST(row_number() OVER (PARTITION BY c.qid
            ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, c.vec_id) AS INT) AS rn
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN q ON q.qid = c.qid) t
      WHERE rn <= 5 ORDER BY qid, rn"""),
    headline = true)

  /** The seeded SRP plane matrix — object-level so the QUERY and its
    * ORACLE derive from one definition (round 13: q43 flipped from
    * rows-only to fully graded; the oracle inlines these planes as
    * exact-decimal double literals). */
  private[graft] lazy val srpPlanes: Seq[Seq[Float]] = srpPlanesL(0)

  /** Plane matrix for table set ℓ of the MULTI-table construction (seed
    * 7 + ℓ, so set 0 IS q43's matrix — q139's tables are a superset of
    * q43's structure at any width). Cached: the 64×64 gaussian draw is
    * deterministic but not free, and the queries and their oracles
    * request the same matrices repeatedly. */
  private val srpPlanesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Seq[Float]]]()
  private[graft] def srpPlanesL(l: Int): Seq[Seq[Float]] =
    srpPlanesCache.computeIfAbsent(l, { k =>
      val r = new java.util.Random(7 + k)
      Seq.fill(64)(Seq.fill(64)(r.nextGaussian().toFloat))
    })

  /** Random-hyperplane (SRP) LSH near-dup: 8 tables x 8 sign bits,
    * same-bucket candidates, exact-cosine verify >= 0.45.
    *
    * FULLY GRADED as of round 13 (was rows-only): every stage is a
    * deterministic function of the seeded plane literals — sign bit p
    * is `dot(vec, plane_p) > 0` in the same left-fold doubles both
    * engines compute (q41's verified convention), bucket keys are
    * integer bit-packs of those signs, candidates are bucket equality,
    * and the verify compares identical doubles against 0.45 — so even
    * AT a boundary both engines make the same call. The oracle inlines
    * the planes as exact-decimal literals (`BigDecimal(f.toDouble)
    * .toPlainString` — the double's exact value, so DuckDB's strtod
    * reconstructs it bit-for-bit) and replays bits → buckets → join →
    * verify. The 1000-cap on buckets is inert at the graded scale
    * (max occupancy ~tens of 500 vectors over 256 buckets/table) and
    * the oracle asserts nothing about it, same as q36/q37.
    * `DedupVectorSpec` still measures recall against brute force —
    * grading pins the answer, the spec pins the quality.
    */
  val q43 = Q(
    "q43_embedding_near_dup",
    (s, d) => {
      // All 64 plane projections run in ONE codegen'd expression
      // (`vec_srp_bits`): the plane matrix is a plan-time literal, the 64
      // sign bits come back packed in a single long, and band t's bucket
      // key is an 8-bit slice of it. Neither per-plane alternative
      // survives at scale: the aggregate(zip_with(...)) HOF chain is
      // interpreted per element, and 64 separate vec_dot calls inline 64
      // loops into one whole-stage-codegen method — past the JVM's 8 KB
      // JIT limit, measured ~6x slower than even the HOF form. Planes are
      // float and seeded, so buckets stay deterministic across runs.
      val planes = srpPlanes
      // cached like q36's minhash bands: the cap's aggregate + semi-join
      // and both self-join sides consume this relation, and one side
      // feeds a BroadcastExchange so ReusedExchange can't fire — without
      // the cache the projection subplan runs 4x. O(vectors x tables)
      // rows, spillable.
      // Band width is the bucket-saturation knob (SURVEY §2.0.2's q43
      // row): buckets per table = 2^bandBits, and per-bucket occupancy —
      // hence candidate-pair generation — grows with corpus/2^bandBits.
      // 8 bits suits the graded corpus; at production density widen to
      // 16/32 (fewer, more selective tables from the same 64 packed
      // bits — recall shifts toward higher-cosine pairs, the pairs span
      // dedup actually targets). Conf: spark.graft.srp.bandBits.
      val bandBits = s.conf.getOption("spark.graft.srp.bandBits")
        .map(_.toInt).getOrElse(8)
      require(bandBits > 0 && bandBits <= 32 && 64 % bandBits == 0,
        s"srp.bandBits must divide 64 and be <= 32, got $bandBits")
      val tables = 64 / bandBits
      val mask = (1L << bandBits) - 1
      val bands = graft.Memo.cached(s, d,
        if (bandBits == 8) "srp_bands" else s"srp_bands_b$bandBits") {
        Tables.embeddings(s, d)
          .select(col("vec_id"),
            call_function("vec_srp_bits",
              col("embedding"), typedlit(planes), lit(bandBits)).as("__packed"))
          .select(col("vec_id"),
            // bits stays LONG: a 32-bit slice exceeds Int range, and the
            // ANSI int cast made the documented 32-bit knob a runtime
            // CAST_OVERFLOW (caught round 13 measuring the width ladder)
            explode(array((0 until tables).map(t =>
              struct(lit(t).as("table_idx"),
                shiftrightunsigned(col("__packed"), t * bandBits)
                  .bitwiseAND(lit(mask)).as("bits"))): _*)).as("b"))
          .select(col("vec_id"),
            col("b.table_idx").as("table_idx"), col("b.bits").as("bits"))
      }
      // same oversized-bucket guard as the text LSH paths (inert at test
      // scales, bounds per-task pair generation at 100 TB); memoized so
      // the cap's bucket-count subplan runs once, not once per join side
      val cappedBands = graft.Memo.cached(s, d,
        (if (bandBits == 8) "srp_bands" else s"srp_bands_b$bandBits") + "_capped") {
        graft.ops.DedupOps.capBuckets(bands, Seq("table_idx", "bits"), 1000)
      }
      def capped(side: String): DataFrame =
        cappedBands.select(col("vec_id").as(s"vec_$side"),
          col("table_idx"), col("bits"))
      val cands = capped("a").join(capped("b"), Seq("table_idx", "bits"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val ea = maybeBVec(s, d, Tables.embeddings(s, d)
        .select(col("vec_id").as("vec_a"), col("embedding").as("e_a")))
      val eb = maybeBVec(s, d, Tables.embeddings(s, d)
        .select(col("vec_id").as("vec_b"), col("embedding").as("e_b")))
      cands.join(ea, "vec_a").join(eb, "vec_b")
        .withColumn("cos", VectorOps.cosine(col("e_a"), col("e_b")))
        .filter(col("cos") >= 0.45)
        .select("vec_a", "vec_b", "cos")
        .orderBy("vec_a", "vec_b")
    },
    Some {
      // exact-decimal double literals of the seeded planes (see scaladoc)
      val planesLit = srpPlanes.map(row => row.map(f =>
        new java.math.BigDecimal(f.toDouble).toPlainString)
        .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""
      WITH bits AS (
        SELECT e.vec_id, t.p,
          CASE WHEN list_sum([CAST(e.embedding[i] AS DOUBLE) * pl.pl[t.p][i]
                              for i in range(1, 65)]) > 0
               THEN 1 ELSE 0 END AS b
        FROM embeddings e,
             (SELECT unnest(range(1, 65)) AS p) t,
             (SELECT $planesLit AS pl) pl),
      bk AS (
        SELECT vec_id, CAST((p - 1) // 8 AS INT) AS table_idx,
          CAST(sum(b << CAST((p - 1) % 8 AS INT)) AS BIGINT) AS bits
        FROM bits GROUP BY 1, 2),
      cands AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bk a JOIN bk b
          ON a.table_idx = b.table_idx AND a.bits = b.bits AND a.vec_id < b.vec_id)
      SELECT c.vec_a, c.vec_b, ${cosSql("ea.embedding", "eb.embedding")} AS cos
      FROM cands c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.45
      ORDER BY vec_a, vec_b"""
    },
    // headline since round 5 (annex row in BASELINE.md — the frozen
    // round-4 table is untouched): the embedding-LSH path deserves a
    // perf gate now that its projections are a custom expression
    headline = true)

  /** Conf bound for the DENSITY ROUTER: when the capped SRP band
    * relation's estimated candidate mass (Σ per-bucket c·(c−1)/2, the
    * exact pre-distinct join cardinality) exceeds this, [[srpMultiQuery]]
    * fails over to the cell-bounded semantic path instead of running the
    * band self-join. Default 10⁸ pairs — round 15's measurements put the
    * graded configuration at 16.7 k candidates at 1× and 1.36 G (595 s,
    * recall truncated 0.857 → 0.444 by the cap) at 100× density: past
    * ~10⁸ the SRP family's answer is BOTH slow and silently
    * recall-starved, which is exactly when weak-cosine dedup belongs to
    * the cell-bounded path (q78/q42's machinery). */
  private[graft] val SrpMaxCandsKey = "spark.graft.srp.maxCandidates"

  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** q139's body with width and table count as parameters — the graded
    * query pins one (bandBits, L) point; the recall-vs-L curve at each
    * width is recorded beside the width ladder in SURVEY §2.0.2. Same
    * cap-join-verify pipeline as q43, over
    * [[VectorOps.srpBandsMulti]]'s L-matrix band relation.
    *
    * DENSITY-ROUTED: before the band self-join runs, the capped
    * relation's per-bucket occupancy (one bounded aggregate over the
    * memoized bands, itself memoized per corpus) prices the candidate
    * union exactly; past [[SrpMaxCandsKey]] the query routes to
    * [[cellBoundedPairs]] with the trade logged. Round 15 measured the
    * cliff this guard encodes — at 100× density the graded (8-bit, L=4,
    * cap-1000) point costs 595 s for recall 0.444, with no in-family
    * (width, L, cap) escape — and concluded in prose that the
    * cell-bounded path owns that regime; this puts the conclusion in
    * the operator. The graded 1×/bench densities sit orders of
    * magnitude under the default bound, so oracle-graded plans are
    * untouched (PlanSpec pins both sides). There is no middle tier: the
    * best in-family escape SURVEY §2.0.2 measured (16-bit query-directed
    * multiprobe) costs 1,217 s for recall 0.987 at 200 k vectors on a
    * ≥40 GiB heap, a maintenance-window trade no graded query reaches. */
  private def srpMultiQuery(s: SparkSession, d: String,
      bandBits: Int, numMatrices: Int): DataFrame = {
    val planesL = (0 until numMatrices).map(srpPlanesL)
    val tag = s"srp_multi_b${bandBits}_L$numMatrices"
    val bands = graft.Memo.cached(s, d, tag) {
      VectorOps.srpBandsMulti(Tables.embeddings(s, d), "vec_id", "embedding",
        planesL, bandBits)
    }
    val capped = graft.Memo.cached(s, d, tag + "_capped") {
      graft.ops.DedupOps.capBuckets(bands, Seq("table_idx", "bits"), 1000)
    }
    val bound = s.conf.getOption(SrpMaxCandsKey).map(_.toLong)
      .getOrElse(100000000L)
    val est = graft.Memo.estimate(s, d, tag + "_cand_mass") {
      val row = capped.groupBy("table_idx", "bits")
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    if (est > bound) {
      log.warn(s"SRP density router: estimated candidate mass $est exceeds " +
        s"$SrpMaxCandsKey=$bound for corpus $d; routing to the cell-bounded " +
        "semantic path (raise the bound to force the SRP band join).")
      cellBoundedPairs(s, d, tau = 0.45)
    } else {
      def side(n: String): DataFrame =
        capped.select(col("vec_id").as(s"vec_$n"), col("table_idx"), col("bits"))
      val cands = side("a").join(side("b"), Seq("table_idx", "bits"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      srpCosVerify(s, d, cands)
    }
  }

  /** The SRP family's shared exact-cosine verify over a candidate-pair
    * relation: broadcast-guarded embedding joins (`maybeBVec`), cos ≥
    * 0.45, canonical output shape. */
  private def srpCosVerify(s: SparkSession, d: String,
      cands: DataFrame): DataFrame = {
    val ea = maybeBVec(s, d, Tables.embeddings(s, d)
      .select(col("vec_id").as("vec_a"), col("embedding").as("e_a")))
    val eb = maybeBVec(s, d, Tables.embeddings(s, d)
      .select(col("vec_id").as("vec_b"), col("embedding").as("e_b")))
    cands.join(ea, "vec_a").join(eb, "vec_b")
      .withColumn("cos", VectorOps.cosine(col("e_a"), col("e_b")))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** The density router's fail-over target: within-cell exact-cosine
    * pairs over the two-level coarse assignment (q78's deep-tier
    * machinery — cost bounded by Σ per-cell n², independent of band
    * occupancy). Recall is bounded by cell co-residency instead of the
    * candidate cap: approximate exactly where the quantizer is (cell
    * routing), exact inside. Same output shape as the SRP form. */
  private[graft] def cellBoundedPairs(s: SparkSession, d: String,
      tau: Double): DataFrame = {
    val assigned = semanticCellsCoarse(s, d)
    def half(n: String) = assigned.select(col("cell"),
      col("id").as(s"vec_$n"), col("vec").as(s"${n}_vec"),
      col("sq_norm").as(s"${n}_norm"))
    half("a").join(half("b"), "cell")
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorOps.cosineWithNorms(
        VectorOps.dotD(col("a_vec"), col("b_vec")),
        col("a_norm"), col("b_norm")))
      .filter(col("cos") >= tau)
      .select("vec_a", "vec_b", "cos")
      .orderBy("vec_a", "vec_b")
  }

  /** q139's graded configuration: 4 independent 64-plane matrices at the
    * 8-bit width = 32 tables. Chosen on the SURVEY §2.0.2 recall-vs-L
    * measurement at sf0.01 (14 exact cos ≥ 0.45 pairs): recall 0.857
    * at L=4 vs q43's single-set 0.286, with candidates growing linearly
    * in L (4 478 → 16 695). The measured refutation that sits beside it: at
    * the 16-bit width NO feasible L reaches the 8-bit floor on this
    * corpus — L=16 (64 tables) still finds ZERO of the 14 pairs at only
    * 247 candidates, because a weak-cosine pair's per-table collision
    * probability p^16 ≈ 10⁻³ makes the union amplifier hopeless where
    * p^8 ≈ 3 % makes it work. So width is the COST knob and L the
    * RECALL knob at a width where targets are still reachable — the
    * production pairing is (8-bit, L≈4), not (16-bit, any L), for
    * dedup-grade thresholds. */
  private val SrpMultiSets = 4

  /** MULTI-TABLE SRP-LSH near-dup — the L-table recall amplifier
    * (Indyk–Motwani) the width ladder proves width cannot replace:
    * [[SrpMultiSets]] independent seeded plane matrices × 8 tables
    * each, union of candidates (any-table collision), exact-cosine
    * verify ≥ 0.45. FULLY HASH-GRADED by q43's convention: all four
    * matrices inline into the oracle as exact-decimal double literals,
    * and every stage — sign bits, bucket packs, union join, verify —
    * is the same deterministic function of them in both engines.
    * SURVEY §2.0.2 records the recall-vs-L curve; `DedupVectorSpec`
    * pins the measured recall floor.
    *
    * Shape at scale: one fused projection stage computes all L packed
    * signatures (L small codegen loops — far under the JIT-limit
    * failure the per-plane form hit), the band relation is
    * O(vectors × 32) rows, and everything downstream is q43's
    * cap-join-verify pipeline with the same 1000-cap bucket bound. */
  val q139 = Q(
    "q139_srp_multi_lsh",
    (s, d) => srpMultiQuery(s, d, bandBits = 8, numMatrices = SrpMultiSets),
    Some {
      val planesLit = (0 until SrpMultiSets).map(l => srpPlanesL(l).map(row =>
        row.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
          .mkString("[", ", ", "]")).mkString("[", ", ", "]"))
        .mkString("[", ", ", "]")
      s"""
      WITH bits AS (
        SELECT e.vec_id, l.l, t.p,
          CASE WHEN list_sum([CAST(e.embedding[i] AS DOUBLE) * pl.pls[l.l][t.p][i]
                              for i in range(1, 65)]) > 0
               THEN 1 ELSE 0 END AS b
        FROM embeddings e,
             (SELECT unnest(range(1, ${SrpMultiSets + 1})) AS l) l,
             (SELECT unnest(range(1, 65)) AS p) t,
             (SELECT $planesLit AS pls) pl),
      bk AS (
        SELECT vec_id, CAST((l - 1) * 8 + (p - 1) // 8 AS INT) AS table_idx,
          CAST(sum(b << CAST((p - 1) % 8 AS INT)) AS BIGINT) AS bits
        FROM bits GROUP BY 1, 2),
      cands AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bk a JOIN bk b
          ON a.table_idx = b.table_idx AND a.bits = b.bits AND a.vec_id < b.vec_id)
      SELECT c.vec_a, c.vec_b, ${cosSql("ea.embedding", "eb.embedding")} AS cos
      FROM cands c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b
      WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.45
      ORDER BY vec_a, vec_b"""
    },
    headline = true)

  /** Spherical k-means (2 Lloyd rounds) over the embedding corpus —
    * embedding clustering as a training-data-pipeline operator (topic
    * bucketing / diversity sampling / IVF centroid TRAINING: these
    * centroids are exactly what q42's index should probe at scale).
    *
    * Hash-exact graded even though k-means is float-iterative, because
    * every step is engine-portable by construction: assignments are the
    * same broadcast argmax q42 grades; centroid means run on
    * [[VectorOps.kmeansUpdate]]'s quantized integers (floor(v*2^40) —
    * exact scaling, tie-free floor, associative integer sums), so no
    * shuffle order and no engine's summation tree can move a single bit.
    * A decimal-cast mean was measured non-portable first (30 665 / 32 000
    * corpus values diverge — see KmeansQuantBits).
    */
  private def kmeansQuery(s: SparkSession, d: String): DataFrame = {
    val seeds = fifties(s, d)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    VectorOps.kmeans(corpus(s, d), seeds, iters = 2)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy("vec_id")
  }

  val q59 = Q(
    "q59_kmeans_lloyd",
    (s, d) => kmeansQuery(s, d),
    Some(s"""
      WITH $kmeansCentSql
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, c.cid AS cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "c.cvec")} DESC, c.cid) AS rn
        FROM embeddings e CROSS JOIN cent1 c) t WHERE rn = 1
      ORDER BY vec_id"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the iterative broadcast-argmax assignment loop is
    // join-heavy and was previously gate-invisible
    headline = true)

  /** IVF-PQ — the memory-scale ANN path: the probed-cell candidates are
    * scored from 8 product-quantization code bytes per vector (ADC table
    * lookups, never a 64-dim product), and only the shortlist (top-100 by
    * approximate cosine — the recall/cost knob; a real prune once cells
    * hold thousands) touches full vectors for the exact re-rank. At 100 TB
    * the encoded
    * index (codes + norm, ~12 bytes/vector) is what stays resident; q42's
    * plain IVF re-ranks EVERY candidate against full vectors.
    *
    * Deterministic end to end (sampled codebooks, total argmin/argmax
    * orderings, decimal ADC sums) — but approximation error vs the exact
    * answer is corpus-dependent, so like q43 it grades rows-only; the
    * recall floor vs brute force is `DedupVectorSpec`'s job.
    *
    * Index relations (codebook, cell assignment, codes) ride [[graft.Memo]]
    * — they are THE index; rebuild-per-query would charge every search
    * with an O(corpus) encode.
    */
  private def ivfpqQuery(s: SparkSession, d: String): DataFrame = {
      val M = 8; val SubDim = 8
      // same Lloyd-trained cells as q42 — one shared Memo-cached index
      val cents = trainedCents(s, d)
      val samples = Tables.embeddings(s, d).filter(col("vec_id") % 13 === 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val codebook = graft.Memo.cached(s, d, "pq_codebook") {
        VectorOps.pqCodebook(samples, M, SubDim)
      }
      val assigned = graft.Memo.cached(s, d, "pq_cells") {
        VectorOps.ivfAssign(corpus(s, d), cents).drop("vec")
      }
      val encoded = graft.Memo.cached(s, d, "pq_codes") {
        VectorOps.pqEncode(corpus(s, d), codebook, M, SubDim)
      }
      val wProbe = Window.partitionBy("qid").orderBy(col("pcos").desc, col("cid"))
      val nProbes = probeCount(s)
      val probes = queries(s, d)
        .crossJoin(broadcast(cents))
        .withColumn("pcos", VectorOps.cosine(col("qvec"), col("cvec")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= nProbes)
        .select("qid", "cid")
      val qtab = VectorOps.pqQueryTable(queries(s, d), codebook, M, SubDim)
      val cand = assigned
        .join(broadcast(probes), col("cid") === col("cell"))
        .filter(col("id") =!= col("qid"))
      val adc = cand
        .join(encoded, "id")
        .select(col("qid"), col("id"),
          posexplode(col("codes")).as(Seq("sub_idx", "code")))
        .join(broadcast(qtab), Seq("qid", "sub_idx", "code"))
        .groupBy("qid", "id")
        .agg(Det.dsum(col("pdot")).as("adc"), Det.dsum(col("ncb")).as("recon"))
      // approximate cosine = dot(q, x̂) / (|q| |x̂|): |q| is constant per
      // query (rank-neutral) and |x̂|² sums exactly from the codebook
      //
      // Re-rank depth scales with the PROBED CANDIDATE POOL, not a fixed
      // 100: at fixed k the pool is probes·N/k, and a constant shortlist
      // shrinks to a sliver of it under densification — measured recall@5
      // 0.48 → 0.28 from 10× to 100× (SURVEY §2.0.2) because the 8-byte
      // ADC ranking cannot separate the near-tied code classes replication
      // creates, so the true top-5 fell outside a fixed top-100. Half the
      // expected pool keeps the ADC stage a real 2× prune while covering
      // the tie classes; both counts are driver-side scalars over
      // Memo-persisted relations (assigned) / the tiny centroid set, the
      // q68 bounded-action posture, and depend only on the session and
      // the corpus, so they are counted once per session. At the graded
      // (sf0.01: 150-row pool) and benched (sf0.1: 150-row pool) scales
      // the floor of 100 is the binding term, so this changes nothing
      // there by construction.
      val nCorpus = graft.Memo.estimate(s, d, "pq_cells_rows")(assigned.count())
      val kCents = math.max(
        graft.Memo.estimate(s, d, "ivf_trained_cents_rows")(cents.count()), 1L)
      val shortlistK = math.max(100L, (nProbes.toLong * nCorpus) / (2L * kCents)).toInt
      val wShort = Window.partitionBy("qid").orderBy(
        (col("adc") / sqrt(col("recon"))).desc, col("id"))
      val shortlist = adc
        .withColumn("srn", row_number().over(wShort))
        .filter(col("srn") <= shortlistK)
        .select("qid", "id")
      val wRank = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
      shortlist
        .join(corpus(s, d), "id")
        .join(broadcast(queries(s, d).withColumn("q_norm", VectorOps.sqNormD(col("qvec")))), "qid")
        .withColumn("cos",
          VectorOps.dotD(col("qvec"), col("vec")) /
            (sqrt(col("q_norm")) * sqrt(VectorOps.sqNormD(col("vec")))))
        .withColumn("rn", row_number().over(wRank).cast("int"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("id").as("vec_id"), col("cos"), col("rn"))
        .orderBy("qid", "rn")
  }

  /** q66's DuckDB mirror (round 13 — the LAST rows-only query flips to
    * fully graded): every stage of the PQ pipeline is a deterministic
    * function of the corpus, so the oracle replays it — q42's
    * cent1/assign/probes CTEs, the sample codebook (codes dense in
    * sample-id order per subspace), the L2 argmin encode with the same
    * `(sq − 2·dot) + ncb` double association and (dist, code) tiebreak,
    * ADC partial dot products summed through `Det.dsumSql` (the exact-
    * decimal order-independent convention), the pool-scaled shortlist
    * with its `greatest(100, probes·N/(2k))` depth in integer div, and
    * q41's exact-cosine re-rank. Ranking doubles are identical on both
    * sides (same folds, same literals), so every window tiebreak lands
    * identically. */
  private def ivfpqOracleSql: String = {
    def dot8(a: String, b: String): String =
      s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in range(1, 9)])"
    def sub(v: String, idx: String): String = s"$v[$idx*8+1 : $idx*8+8]"
    s"""
      WITH $kmeansCentSql,
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, cent1.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "cent1.cvec")} DESC, cent1.cid) AS crn
          FROM embeddings e CROSS JOIN cent1) t WHERE crn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
      probes AS (
        SELECT qid, cell FROM (
          SELECT q.qid, cent1.cid AS cell,
            row_number() OVER (PARTITION BY q.qid
              ORDER BY ${cosSql("q.qe", "cent1.cvec")} DESC, cent1.cid) AS prn
          FROM q CROSS JOIN cent1) t WHERE prn <= $DefaultIvfProbes),
      smp AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id % 13 = 0),
      subs AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS sub_idx),
      cb AS (
        SELECT sub_idx,
          CAST(row_number() OVER (PARTITION BY sub_idx ORDER BY id) - 1 AS INT) AS code,
          ${sub("vec", "sub_idx")} AS cvec
        FROM smp, subs),
      enc AS (
        SELECT id, sub_idx, code FROM (
          SELECT e.vec_id AS id, c.sub_idx, c.code,
            row_number() OVER (PARTITION BY e.vec_id, c.sub_idx
              ORDER BY (${dot8(s"${sub("e.embedding", "c.sub_idx")}", s"${sub("e.embedding", "c.sub_idx")}")}
                        - 2 * ${dot8(s"${sub("e.embedding", "c.sub_idx")}", "c.cvec")})
                       + ${dot8("c.cvec", "c.cvec")} ASC, c.code ASC) AS ern
          FROM embeddings e CROSS JOIN cb c) t WHERE ern = 1),
      qt AS (
        SELECT q.qid, c.sub_idx, c.code,
          ${dot8(s"${sub("q.qe", "c.sub_idx")}", "c.cvec")} AS pdot,
          ${dot8("c.cvec", "c.cvec")} AS ncb
        FROM q CROSS JOIN cb c),
      cand AS (
        SELECT DISTINCT p.qid, a.vec_id AS id FROM probes p
        JOIN assign a ON p.cell = a.cell WHERE a.vec_id <> p.qid),
      adc AS (
        SELECT c.qid, c.id,
          ${graft.Det.dsumSql("qt.pdot")} AS adc,
          ${graft.Det.dsumSql("qt.ncb")} AS recon
        FROM cand c
        JOIN enc ON enc.id = c.id
        JOIN qt ON qt.qid = c.qid AND qt.sub_idx = enc.sub_idx AND qt.code = enc.code
        GROUP BY c.qid, c.id),
      sk AS (
        SELECT greatest(100, ($DefaultIvfProbes * (SELECT count(*) FROM embeddings))
          // (2 * greatest((SELECT count(*) FROM cent1), 1))) AS k),
      short AS (
        SELECT qid, id FROM (
          SELECT adc.qid, adc.id,
            row_number() OVER (PARTITION BY adc.qid
              ORDER BY (adc.adc / sqrt(adc.recon)) DESC, adc.id) AS srn
          FROM adc) t, sk WHERE srn <= sk.k)
      SELECT qid, vec_id, cos, rn FROM (
        SELECT s.qid, s.id AS vec_id, ${cosSql("q.qe", "e.embedding")} AS cos,
          CAST(row_number() OVER (PARTITION BY s.qid
            ORDER BY ${cosSql("q.qe", "e.embedding")} DESC, s.id) AS INT) AS rn
        FROM short s
        JOIN embeddings e ON e.vec_id = s.id
        JOIN q ON q.qid = s.qid) t
      WHERE rn <= 5 ORDER BY qid, rn"""
  }

  val q66 = Q(
    "q66_ann_ivfpq",
    (s, d) => ivfpqQuery(s, d),
    Some(ivfpqOracleSql),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the memoized PQ index + ADC scoring path is the
    // 100-TB-resident search plan and deserves a perf gate
    headline = true)

  /** q78's memoized cell assignment (cached: it feeds both self-join
    * sides and the final anti-join — three scans of one argmax pass). */
  private def semanticCells(s: SparkSession, d: String): DataFrame = {
    val cents = fifties(s, d)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.Memo.cached(s, d, "semdedup_cells") {
      VectorOps.ivfAssign(corpus(s, d), cents)
    }
  }

  /** The same assignment through the two-level coarse quantizer
    * ([[VectorOps.ivfAssignTwoLevel]], supers = every 2500th vector — a
    * deterministic subset of the %50 centroid policy, one probe). The
    * k∝N scale path: flat assignment is N·k and measured-infeasible at
    * the 100× deep tier (500k × 10k); two-level is N·(s + k/s). */
  private def semanticCellsCoarse(s: SparkSession, d: String): DataFrame = {
    val cents = fifties(s, d)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    graft.Memo.cached(s, d, "semdedup_cells_coarse") {
      VectorOps.ivfAssignTwoLevel(corpus(s, d), cents,
        cents.filter(col("cid") % 2500L === 0))
    }
  }

  /** SemDeDup-style semantic dedup ([[VectorOps.semanticDedup]]): the
    * embedding-space complement of the token-level dedup family (q36–q39,
    * q43, q57) — drops documents whose MEANING duplicates an earlier one
    * even when no token overlaps, the curation step modern LLM corpora
    * apply after exact/fuzzy text dedup.
    *
    * Hash-exact graded even though it thresholds floating-point cosines:
    * cell assignment is q42's graded argmax, pair cosines are the same
    * sequential-fold doubles DuckDB's `list_sum` reproduces bit-exactly
    * (q41's verified convention), and τ=0.40 sits ≥5.6e-4 from every pair
    * cosine at sf0.01 — no boundary coin flips even if an engine rounded
    * differently. Keep policy (lowest id in each τ-neighborhood survives)
    * is pure integer logic.
    */
  private def semanticDedupQuery(s: SparkSession, d: String): DataFrame =
    VectorOps.semanticDedup(semanticCells(s, d), tau = 0.40)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy("vec_id")

  val q78 = Q(
    "q78_semantic_dedup",
    (s, d) => semanticDedupQuery(s, d),
    Some(s"""
      WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0),
      assign AS (
        SELECT vec_id, cell, embedding FROM (
          SELECT e.vec_id, e.embedding, cent.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "cent.cvec")} DESC, cent.cid) AS crn
          FROM embeddings e CROSS JOIN cent) t WHERE crn = 1),
      dup AS (
        SELECT DISTINCT b.vec_id FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.40)
      SELECT vec_id, cell FROM assign
      WHERE vec_id NOT IN (SELECT vec_id FROM dup)
      ORDER BY vec_id"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the semantic-dedup pass is corpus-shaped and
    // join-heavy, exactly the profile that regresses silently
    headline = true)

  /** Oracle-graded two-level coarse quantizer (the k∝N scale path that
    * routes q78's 100× deep tier) in its probe-ALL configuration: each
    * vector ranks every super (the probed-routing window + vector
    * reattach join) and argmaxes over every super's member centroids.
    * Level 1 partitions the centroid set across supers — every centroid
    * lands in exactly one member list — so probing all supers unions the
    * member lists back into exactly the centroid set and the result
    * equals FLAT assignment by construction, at any scale, with the same
    * (ccos, lowest-cid) tie-break. That identity is what lets a DuckDB
    * flat-assignment mirror grade the two-level plan hash-exact while the
    * graded path still exercises the real machinery: level-1 member
    * assignment, the routing window over narrow (id, pcos, super) rows,
    * the reattach join, the broadcast member join, and the final argmax.
    * (`DedupVectorSpec` separately pins probe-1 exactness on separable
    * supers and the empty-super fallback; this entry puts the operator
    * under the driver's hash gate.)
    *
    * The super count is read off the tiny centroid relation (a
    * driver-side scalar over ≤k rows — the same bounded-action posture as
    * q68's histogram locate); `max 1` guards the degenerate no-super
    * corpus, where probes=1 routing over zero supers is vacuous anyway.
    */
  val q85 = Q(
    "q85_twolevel_assign",
    (s, d) => {
      val cents = fifties(s, d)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val supers = cents.filter(col("cid") % 2500 === 0)
      val nSupers = supers.count().toInt
      VectorOps.ivfAssignTwoLevel(corpus(s, d), cents, supers,
          probes = nSupers max 1)
        .select(col("id").as("vec_id"), col("cell"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0)
      SELECT vec_id, cell FROM (
        SELECT e.vec_id, cent.cid AS cell,
          row_number() OVER (PARTITION BY e.vec_id
            ORDER BY ${cosSql("e.embedding", "cent.cvec")} DESC, cent.cid) AS crn
        FROM embeddings e CROSS JOIN cent) t
      WHERE crn = 1 ORDER BY vec_id"""))

  /** Approximate kNN GRAPH — every vector's top-3 same-cell neighbors
    * (cos desc, id tiebreak), the batch kNN-join that feeds kNN-graph
    * clustering, label propagation, and SemDeDup-adjacent curation. The
    * cell index (q78's memoized `semanticCells` relation — shared, built
    * once) bounds candidate generation exactly as SemDeDup bounds pair
    * work: Σ cell² instead of N², with per-cell occupancy held constant
    * by growing cells ∝ corpus. The ranking window sees only
    * (qid, nid, cos) — vectors are projected away before the per-qid
    * exchange (the round-9 q41/q66 lesson: 550 B/candidate in a window
    * sort is spill thrash at 100×) — and `WindowGroupLimit` prunes to
    * top-3 map-side.
    *
    * Graded EXACTLY (not rows-only like q43/q66): "top-3 within the
    * assigned cell" is a deterministic function the oracle mirrors —
    * q42's assignment CTE + a within-cell self-join — so this also
    * cross-checks the whole cell machinery a second way.
    */
  private def knnGraphQuery(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = semanticCells(s, d)
    def side(p: String) = cells.select(col("cell"), col("id").as(s"${p}id"),
      col("vec").as(s"${p}vec"), col("sq_norm").as(s"${p}n"))
    val pairs = side("q").join(side("n"), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        VectorOps.cosineWithNorms(
          VectorOps.dotD(col("qvec"), col("nvec")), col("qn"), col("nn")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("nid"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid").as("vec_id"), col("nid"), col("cos"), col("rn"))
      .orderBy("vec_id", "rn")
  }

  val q91 = Q(
    "q91_knn_graph",
    (s, d) => knnGraphQuery(s, d),
    Some(s"""
      WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0),
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, cent.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "cent.cvec")} DESC, cent.cid) AS crn
          FROM embeddings e CROSS JOIN cent) t WHERE crn = 1)
      SELECT vec_id, nid, cos, rn FROM (
        SELECT a.vec_id, b.vec_id AS nid,
          ${cosSql("ea.embedding", "eb.embedding")} AS cos,
          CAST(row_number() OVER (PARTITION BY a.vec_id
            ORDER BY ${cosSql("ea.embedding", "eb.embedding")} DESC, b.vec_id) AS INT) AS rn
        FROM assign a
        JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id) t
      WHERE rn <= 3 ORDER BY vec_id, rn"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Per-dimension feature statistics over the embedding corpus — the
    * standardization/whitening pre-pass (feature scaling, PCA prep,
    * quantizer training) every vector pipeline runs before indexing. One
    * posexplode scan, one dim-keyed map-side-combined aggregate: count,
    * exact quantized sums/sum-of-squares, float min/max, and the mean as
    * a single IEEE division.
    *
    * Exactness contract: each float is quantized q = floor(f·2^20) — the
    * f32→f64 widening and the 2^20 product are exponent-shift-exact, so q
    * is deterministic in both engines — and the sums accumulate q (not f)
    * in DECIMAL(38,0) vs DuckDB HUGEINT, graded through identical string
    * images (the q107 128-bit posture; int64 sum-of-squares overflows at
    * ~10^11 rows, DECIMAL(38,0) at ~10^25). min/max of floats are
    * order-independent, safe to grade as doubles.
    *
    * Shape at scale: explode is a narrow map; 64 dim keys partial-agg to
    * nothing. The ONE exchange carries 64 rows per map task.
    */
  val q115 = Q(
    "q115_feature_stats",
    (s, d) => {
      import org.apache.spark.sql.types.DecimalType
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "f")))
        .withColumn("q", expr("CAST(floor(CAST(f AS DOUBLE) * 1048576.0D) AS BIGINT)"))
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("q").cast(DecimalType(38, 0))).as("sq"),
          sum((col("q").cast(DecimalType(38, 0)) * col("q").cast(DecimalType(38, 0))))
            .as("sqq"),
          min(col("f").cast("double")).as("min_f"),
          max(col("f").cast("double")).as("max_f"))
        .select(col("dim").cast("long").as("dim"), col("n"),
          col("sq").cast("string").as("sum_q"),
          col("sqq").cast("string").as("sumsq_q"),
          col("min_f"), col("max_f"),
          (col("sq").cast("double") / col("n")).as("mean_q"))
        .orderBy("dim")
    },
    Some("""
      WITH ex AS (
        SELECT u.dim, embedding[u.dim + 1] AS f
        FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS dim) u),
      qd AS (SELECT dim, f, CAST(floor(CAST(f AS DOUBLE) * 1048576.0) AS BIGINT) AS q FROM ex)
      SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        CAST(sum(q) AS VARCHAR) AS sum_q,
        CAST(sum(q*q) AS VARCHAR) AS sumsq_q,
        CAST(min(f) AS DOUBLE) AS min_f, CAST(max(f) AS DOUBLE) AS max_f,
        CAST(sum(q) AS DOUBLE) / count(*) AS mean_q
      FROM qd GROUP BY 1 ORDER BY 1"""),
    headline = true)

  /** Per-dimension feature HISTOGRAMS — q115's distribution-shaped
    * sibling (drift detection, quantizer-training diagnostics): every
    * (dim, bucket) occupancy over a fixed equal-width grid on [-1, 1),
    * bucket = floor((f+1)·16), i.e. 32 buckets of width 1/16, with
    * out-of-range values clamped into the edge buckets. Every step is
    * IEEE-determined (f32→f64 exact, +1.0 correctly rounded identically
    * in both engines, ·16 exponent-shift exact, floor exact), so bucket
    * ids — and therefore counts — are engine-exact without quantization
    * gymnastics. The per-dim share is the usual floor-div rational.
    *
    * PRECONDITION (Det's convention): features must be FINITE. On a
    * non-finite value the engines SILENTLY disagree rather than fail —
    * Spark's non-ANSI `CAST(NaN AS BIGINT)` yields 0 (clamped into
    * bucket 0) while DuckDB's cast errors; ±Inf clamps into the edge
    * buckets on the Spark side only. The driver corpus is finite (the
    * q115 decimal path grades the same assumption); a generator change
    * that introduces NaN/Inf shows up as an oracle hash mismatch here,
    * and the fix is an upstream `isnan`/`nanvl` guard, not a histogram
    * change.
    *
    * Shape at scale: one posexplode scan into a (dim, bucket)-keyed
    * map-side-combined aggregate (≤ 64·32 keys); the share window runs
    * over the histogram-sized frame, never the corpus (q97's posture).
    */
  val q118 = Q(
    "q118_feature_histogram",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("dim", "f")))
        .withColumn("bucket",
          expr("greatest(0L, least(31L, CAST(floor((CAST(f AS DOUBLE) + 1.0D) * 16.0D) AS BIGINT)))"))
        .groupBy("dim", "bucket")
        .agg(count(lit(1)).as("n"))
        .withColumn("share_q",
          expr("(1000000L * n) div sum(n) OVER (PARTITION BY dim)"))
        .select(col("dim").cast("long").as("dim"), col("bucket"), col("n"), col("share_q"))
        .orderBy("dim", "bucket")
    },
    Some("""
      WITH ex AS (
        SELECT u.dim, embedding[u.dim + 1] AS f
        FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS dim) u),
      b AS (
        SELECT dim,
          greatest(0, least(31, CAST(floor((CAST(f AS DOUBLE) + 1.0) * 16.0) AS BIGINT))) AS bucket
        FROM ex),
      h AS (SELECT dim, bucket, count(*) AS n FROM b GROUP BY 1, 2)
      SELECT CAST(dim AS BIGINT) AS dim, bucket, n,
        (1000000 * n) // CAST(sum(n) OVER (PARTITION BY dim) AS BIGINT) AS share_q
      FROM h ORDER BY 1, 2"""),
    headline = true)

  /** Cluster purity — the standard clustering-vs-labels evaluation
    * (how label-homogeneous is each IVF cell), over q78's SHARED
    * memoized cell assignment (one argmax pass serves q78/q91/this).
    * Per cell: population, majority label (ties to the smallest label id
    * in both engines), and the floor-div purity rational. The oracle
    * re-derives the flat assignment with the same (ccos, lowest-cid)
    * tie-break and aggregates identically: hash-exact.
    *
    * Shape at scale: the label join is id-keyed; both windows run over
    * the (cell × label) aggregate — cluster-count-sized, never corpus-
    * sized.
    */
  private def clusterPurityQuery(s: SparkSession, d: String): DataFrame = {
    val cells = semanticCells(s, d)
      .select(col("id").as("vec_id"), col("cell"))
    val cl = cells
      .join(Tables.embeddings(s, d).select(col("vec_id"), col("label")), "vec_id")
      .groupBy("cell", "label").agg(count(lit(1)).as("n"))
    cl.withColumn("n_vecs", sum(col("n")).over(Window.partitionBy("cell")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cell").orderBy(col("n").desc, col("label").asc)))
      .filter(col("rn") === 1)
      .select(col("cell"), col("n_vecs"),
        col("label").cast("long").as("top_label"), col("n").as("n_top"),
        expr("(1000000L * n) div n_vecs").as("purity_q"))
      .orderBy("cell")
  }

  val q119 = Q(
    "q119_cluster_purity",
    (s, d) => clusterPurityQuery(s, d),
    Some(s"""
      WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0),
      assign AS (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, cent.cid AS cell,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${cosSql("e.embedding", "cent.cvec")} DESC, cent.cid) AS crn
          FROM embeddings e CROSS JOIN cent) t WHERE crn = 1),
      cl AS (
        SELECT a.cell, e.label, count(*) AS n
        FROM assign a JOIN embeddings e USING (vec_id)
        GROUP BY 1, 2)
      SELECT cell, CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS n_vecs,
        CAST(label AS BIGINT) AS top_label, n AS n_top,
        (1000000 * n) // CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS purity_q
      FROM cl
      QUALIFY row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) = 1
      ORDER BY cell"""),
    headline = true)

  /** Greedy k-center coreset (Gonzalez farthest-point traversal): K=8
    * maximally-spread representatives of the embedding corpus — the
    * diversity-selection step of data pruning (pick exemplars that COVER
    * the space, where q59's k-means picks density centers) and the
    * classic 2-approximation to the k-center cover. Deterministic and
    * hash-graded end to end: the traversal seeds at the smallest vec_id,
    * each round picks the point with the LARGEST distance to its nearest
    * chosen center (ties to the smallest id), and every distance is the
    * engine-portable d² = ‖a‖² + ‖b‖² − 2·a·b on [[VectorOps.dotD]]'s
    * sequential fold — the identical IEEE op tree in the DuckDB mirror's
    * 8 unrolled round CTEs.
    *
    * Shape at scale: the distributed Gonzalez — the chosen set is K
    * plan literals (broadcast by construction), each round is ONE narrow
    * scan of the cached (id, vec, ‖·‖²) relation + a TakeOrdered(1)
    * reduce; K scans total, nothing corpus-sized shuffles, and the
    * driver holds exactly K vectors.
    *
    * CARRIED-dmin form (round-18, verdict ask #4): the loop
    * maintains a persisted (id, vec, sq, dmin) relation and each round
    * folds ONE new-center distance into it via `least` — O(K) dots per
    * point across the whole loop, per-round cost FLAT in the round
    * number, where the round-17 form re-evaluated a growing
    * `least(d(c1)…d(cm))` literal list every round (O(K²) dots, per-
    * round cost linear in m). Answer-identical to that form: `least` is
    * exact min (no FP order dependence), each per-center distance is the
    * same IEEE op tree, and the (dmin desc, id) argmax tie-break is
    * unchanged — q147's K=8 oracle hash pins it. Only two rounds'
    * relations are ever persisted at once (the previous unpersists as
    * soon as the next is materialized by its own TakeOrdered head).
    */
  private def kcenterQuery(s: SparkSession, d: String): DataFrame = graft.Memo.scoped { sc =>
    val K = 8 // the oracle's 8 unrolled rounds
    val emb = graft.Memo.cached(s, d, "kcenter_sq") {
      corpus(s, d).withColumn("sq", VectorOps.sqNormD(col("vec")))
    }
    val first = emb.orderBy("id").limit(1).select("id", "vec").head()
    var chosen = Vector[(Int, Long, Option[Double])](
      (1, first.getLong(0), None))
    var centerVec: Seq[Float] = first.getSeq[Float](1).toSeq
    var cur: DataFrame = null
    while (chosen.size < K) {
      val cl = typedlit(centerVec)
      val dNew = col("sq") + VectorOps.dotD(cl, cl) -
        lit(2.0) * VectorOps.dotD(col("vec"), cl)
      val prev = cur
      cur = sc(
        if (prev == null)
          emb.select(col("id"), col("vec"), col("sq"), dNew.as("dmin"))
        else
          prev.select(col("id"), col("vec"), col("sq"),
            least(col("dmin"), dNew).as("dmin")))
      val next = cur.orderBy(col("dmin").desc, col("id")).limit(1).head()
      if (prev != null) sc.release(prev)
      chosen :+= ((chosen.size + 1, next.getLong(0), Some(next.getDouble(3))))
      centerVec = next.getSeq[Float](1).toSeq
    }
    import s.implicits._
    chosen.map { case (r, id, dd) => (r, id, dd) }
      .toDF("rk", "vec_id", "dist2")
      .orderBy("rk")
  }

  val q147 = Q(
    "q147_kcenter_coreset",
    (s, d) => kcenterQuery(s, d),
    Some {
      val d2 = (v: String, c: String) =>
        s"($v.sq + $c.sq - 2 * ${dotSql(s"$v.embedding", s"$c.embedding")})"
      val rounds = (2 to 8).map { r =>
        val prev = if (r == 2) s"(SELECT s.vec_id, s.embedding, s.sq, ${d2("s", "c")} AS d FROM sq s CROSS JOIN c1 c)"
          else s"m${r - 1}"
        s"""m$r AS (SELECT m.vec_id, m.embedding, m.sq,
             ${if (r == 2) "m.d" else s"least(m.d, ${d2("m", s"c${r - 1}")})"} AS d
           FROM ${if (r == 2) s"$prev m" else s"$prev m CROSS JOIN c${r - 1} c${r - 1}"}),
         c$r AS (SELECT vec_id, embedding, sq, d FROM m$r ORDER BY d DESC, vec_id LIMIT 1)"""
      }.mkString(",\n")
      val selects = (2 to 8).map(r =>
        s"SELECT $r AS rk, vec_id, d AS dist2 FROM c$r").mkString("\n      UNION ALL ")
      s"""
      WITH sq AS (SELECT vec_id, embedding,
             ${dotSql("embedding", "embedding")} AS sq FROM embeddings),
      c1 AS (SELECT vec_id, embedding, sq FROM sq ORDER BY vec_id LIMIT 1),
      $rounds
      SELECT CAST(rk AS INT) AS rk, vec_id, dist2 FROM (
        SELECT 1 AS rk, vec_id, CAST(NULL AS DOUBLE) AS dist2 FROM c1
        UNION ALL $selects) t
      ORDER BY rk"""
    },
    headline = true)

  /** QUERY-DIRECTED multiprobe ranking (Lv et al. 2007, §4.2), graded as
    * an expression: for every vector, the 8 most-probable flip masks of
    * band 0's weight-≤2 neighborhood
    * ([[graft.expressions.VecSrpProbeMasks]]), hash-matched against a
    * DuckDB mirror that enumerates the same 137-mask neighborhood in
    * SQL, computes the same 16 hyperplane margins (|sequential-fold
    * dot|, q43's plane-literal convention), and ranks by the identical
    * (Σ|margin| asc, mask asc) key. Deterministic because every
    * arithmetic step is the same IEEE op tree in both engines; ties
    * break on the mask value. Scale shape: one narrow corpus scan, one
    * per-row expression, no shuffle but the presentation sort.
    */
  val q148 = Q(
    "q148_qd_probe_ranks",
    (s, d) => {
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(element_at(
            call_function("vec_srp_probe_masks", col("embedding"),
              typedlit(srpPlanesL(0)), lit(16), lit(8)), 1))
            .as(Seq("pos0", "mask")))
        .select(col("vec_id"), (col("pos0") + 1).cast("int").as("rk"), col("mask"))
        .orderBy("vec_id", "rk")
    },
    Some {
      // band 0 of matrix 0 = the first 16 planes, inlined exact-decimal
      val pl16 = srpPlanesL(0).take(16).map(row =>
        row.map(f => new java.math.BigDecimal(f.toDouble).toPlainString)
          .mkString("[", ", ", "]")).mkString("[", ", ", "]")
      s"""
      WITH pl AS (SELECT $pl16 AS p),
      marg AS (
        SELECT e.vec_id,
          [abs(list_sum([CAST(e.embedding[k] AS DOUBLE) * pl.p[q][k]
             for k in range(1, 65)])) for q in range(1, 17)] AS m
        FROM embeddings e CROSS JOIN pl),
      masks AS (
        SELECT CAST(0 AS BIGINT) AS mask, -1 AS i, -1 AS j
        UNION ALL
        SELECT CAST(1 AS BIGINT) << i, CAST(i AS INT), -1 FROM range(16) t(i)
        UNION ALL
        SELECT (CAST(1 AS BIGINT) << i) | (CAST(1 AS BIGINT) << j),
               CAST(i AS INT), CAST(j AS INT)
        FROM range(16) a(i), range(16) b(j) WHERE j > i),
      scored AS (
        SELECT marg.vec_id, masks.mask,
          (CASE WHEN masks.i >= 0 THEN marg.m[masks.i + 1] ELSE 0.0 END) +
          (CASE WHEN masks.j >= 0 THEN marg.m[masks.j + 1] ELSE 0.0 END) AS score
        FROM marg CROSS JOIN masks)
      SELECT vec_id, CAST(rk AS INT) AS rk, mask FROM (
        SELECT vec_id, mask,
          row_number() OVER (PARTITION BY vec_id ORDER BY score, mask) AS rk
        FROM scored) t
      WHERE rk <= 8 ORDER BY vec_id, rk"""
    },
    headline = true)

  val defs: Seq[Q] = Seq(q41, q42, q43, q59, q66, q78, q85, q91, q115, q118, q119,
    q139, q147, q148)
}
