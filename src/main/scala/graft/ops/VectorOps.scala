package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity-search operators over an embedding column (`array<float>`).
  *
  * Inner products are per-row scalar expressions — a strict sequential
  * left fold over the array (`aggregate` + `zip_with`). No partial
  * aggregation is involved, so the IEEE double sum is bit-deterministic
  * for a given array order, and any engine folding the same list the same
  * way (DuckDB's `list_sum`, verified) produces the identical double.
  * (A decimal-cast variant was rejected: Spark's double→decimal cast goes
  * through `BigDecimal.valueOf`'s shortest-string rounding, which differs
  * from DuckDB's exact-binary rounding in ~1e-12 edge cases.)
  *
  * Scale posture: brute force is a broadcast of the (small) query set
  * against a linear scan — no shuffle, no cross join of the corpus with
  * itself. IVF buckets the corpus by nearest centroid once (linear), then
  * probes only nProbe cells per query.
  */
object VectorOps {

  /** Sequential-fold double dot product of two float arrays. Resolves to
    * the native codegen'd [[graft.expressions.VecDot]] (registered by
    * `GraftExtensions`); bit-identical to the higher-order-function fold
    * `aggregate(zip_with(a,b,_*_), 0.0, _+_)` it replaces, but fused
    * into whole-stage codegen instead of interpreted per element.
    */
  def dotD(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Sequential-fold squared norm. */
  def sqNormD(a: Column): Column = dotD(a, a)

  /** Cosine similarity (deterministic: fold + single IEEE sqrt/divide). */
  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(sqNormD(a)) * sqrt(sqNormD(b)))

  /** Cosine from a precomputed-squared-norm pair: factoring the norms
    * out means each side's norm is computed once per ROW instead of once
    * per PAIR — same doubles (identical subexpressions, just hoisted),
    * so oracle parity is untouched.
    */
  def cosineWithNorms(dot: Column, sqA: Column, sqB: Column): Column =
    dot / (sqrt(sqA) * sqrt(sqB))

  /** Brute-force exact top-k: broadcast the query set, scan the corpus
    * once (norms precomputed per row), rank per query.
    *
    * @param corpus  (id: long, vec: array<float>)
    * @param queries (qid: long, qvec: array<float>) — must be small
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (qid, id, cos) only — the ranking window sorts whole rows within
    // per-qid partitions, so the vectors must NOT ride into the sort
    // (see ivfQuery's projection note; same 100×-scale measurement)
    val scored = corpus.withColumn("__nc", sqNormD(col("vec")))
      .join(broadcast(queries.withColumn("__nq", sqNormD(col("qvec")))),
        col("id") =!= col("qid"))
      .select(col("qid"), col("id"),
        cosineWithNorms(dotD(col("qvec"), col("vec")), col("__nq"), col("__nc")).as("cos"))
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("id"), col("cos"), col("rn").cast("int").as("rn"))
  }

  /** Assign every corpus vector to its nearest centroid (IVF cell).
    * Centroids must be small (broadcast). Deterministic: ties break on the
    * lowest centroid id. Output carries the corpus vector's squared norm
    * (`sq_norm`) so downstream ranking never recomputes it.
    *
    * Shape: broadcast-nested-loop expand (in-stage, never shuffled) then
    * `max_by` hash aggregation on the corpus id. The partial aggregate
    * collapses the K-centroids-per-vector expansion back to one row per
    * vector BEFORE the exchange, so the only shuffle moves corpus-sized
    * data — the previous window form (`row_number` over the cross
    * product) shuffled and sorted the K×-expanded relation. The ordering
    * struct (ccos, -cid) is duplicate-free (cid is unique), so the argmax
    * is total and ties on cosine deterministically pick the lowest cid —
    * same survivor as the window form.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    corpus.withColumn("sq_norm", sqNormD(col("vec")))
      .crossJoin(broadcast(centroids.withColumn("__ncv", sqNormD(col("cvec")))))
      .withColumn("ccos",
        cosineWithNorms(dotD(col("cvec"), col("vec")), col("__ncv"), col("sq_norm")))
      .groupBy("id")
      .agg(max_by(
        struct(col("vec"), col("sq_norm"), col("cid")),
        struct(col("ccos"), negate(col("cid")))).as("__best"))
      .select(col("id"), col("__best.vec").as("vec"),
        col("__best.sq_norm").as("sq_norm"), col("__best.cid").as("cell"))
  }

  /** Two-level (coarse-quantized) IVF assignment — the scale path for
    * centroid sets too large to brute-force against every vector (the
    * k∝N regime, e.g. SemDeDup's cells-grow-with-corpus posture, where
    * flat [[ivfAssign]] is N·k work: measured OOM at 500k vectors ×
    * 10k centroids on the 100× deep tier).
    *
    * Level 1: every CENTROID assigns to its nearest super-centroid
    * (k·s work, one [[ivfAssign]]) — the membership relation is
    * centroid-set-sized and broadcasts. Level 2: every VECTOR assigns
    * to its nearest super (N·s), then argmaxes over only that super's
    * member centroids via the broadcast join (N·k/s average). Total
    * N·(s + k/s) vs N·k — minimized at s ≈ √k. Same output schema and
    * tie-breaks as [[ivfAssign]]; APPROXIMATE by construction (a
    * vector whose true cell lives under a different super lands in
    * that cell's best same-super rival — IVF probe-1 semantics at the
    * centroid level; `DedupVectorSpec` pins exactness on separable
    * cells and measures agreement on the replicated corpus).
    *
    * `probes > 1` is the standard routing-margin knob (q42's probe-3
    * shape lifted to the super level): each vector argmaxes over its
    * `probes` nearest supers' members — N·(s + P·k/s) work. The probe
    * ranking window runs over NARROW (id, pcos, super) rows (the
    * vectors must never ride a per-id sort — the q42 deep-tier
    * lesson), at the price of one extra keyed exchange to reattach
    * vectors. probes = 1 keeps the exchange-free max_by routing.
    *
    * Every-vector-emitted guarantee: a super that wins ZERO centroids in
    * level 1 (reachable via the public API — e.g. disjoint super/centroid
    * sets, or duplicate centroid vectors tie-broken away) is dropped from
    * the ROUTING set, so vectors route to their best NON-empty super and
    * the member join can never orphan a row — without the guard an
    * empty-super vector would silently vanish, where flat [[ivfAssign]]
    * emits every vector. The usual supers ⊆ centroids construction makes
    * every super self-assign, so the filter is a no-op there.
    */
  def ivfAssignTwoLevel(corpus: DataFrame, centroids: DataFrame,
      superCentroids: DataFrame, probes: Int = 1): DataFrame = {
    require(probes >= 1, s"probes must be >= 1: $probes")
    val members = broadcast(
      ivfAssign(
        centroids.select(col("cid").as("id"), col("cvec").as("vec")),
        superCentroids)
      .select(col("cell").as("__super"), col("id").as("cid"),
        col("vec").as("cvec"), col("sq_norm").as("__ncv")))
    // supers that won >= 1 member centroid; both relations are the small,
    // already-broadcast side, so the semi-join is executor-local work
    val liveSupers = superCentroids.join(
      members.select(col("__super").as("cid")).distinct(), Seq("cid"), "left_semi")
    val routed =
      if (probes == 1)
        ivfAssign(corpus, liveSupers)
          .select(col("id"), col("vec"), col("sq_norm"), col("cell").as("__super"))
      else {
        import org.apache.spark.sql.expressions.Window
        val withNorm = corpus.withColumn("sq_norm", sqNormD(col("vec")))
        val w = Window.partitionBy("id").orderBy(col("pcos").desc, col("__super"))
        val probed = withNorm
          .crossJoin(broadcast(liveSupers.withColumn("__ns", sqNormD(col("cvec")))))
          .select(col("id"),
            cosineWithNorms(dotD(col("cvec"), col("vec")), col("__ns"), col("sq_norm"))
              .as("pcos"),
            col("cid").as("__super"))
          .withColumn("prn", row_number().over(w))
          .filter(col("prn") <= probes)
          .select("id", "__super")
        probed.join(withNorm, "id")
      }
    routed
      .join(members, "__super")
      .withColumn("ccos",
        cosineWithNorms(dotD(col("cvec"), col("vec")), col("__ncv"), col("sq_norm")))
      .groupBy("id")
      .agg(max_by(
        struct(col("vec"), col("sq_norm"), col("cid")),
        struct(col("ccos"), negate(col("cid")))).as("__best"))
      .select(col("id"), col("__best.vec").as("vec"),
        col("__best.sq_norm").as("sq_norm"), col("__best.cid").as("cell"))
  }

  /** Quantization grid for [[kmeansUpdate]]: 2^40. Scaling a double by a
    * power of two is EXACT (an exponent shift), and `floor` is tie-free,
    * so `floor(v * 2^40)` is a deterministic, engine-portable integer
    * image of every float — unlike decimal casts, where Spark rounds the
    * shortest decimal string and DuckDB rounds a scaled float product
    * (measured: 30 665 of 32 000 corpus values diverge at DECIMAL(30,10),
    * and 1 of 32 000 still diverges after widening to double first).
    */
  val KmeansQuantBits = 40
  private val QuantUp = math.pow(2, KmeansQuantBits)
  private val QuantDown = math.pow(2, -KmeansQuantBits)

  /** One Lloyd centroid update with ORDER-INDEPENDENT means.
    *
    * `sum(double)` depends on shuffle arrival order — run-to-run
    * nondeterministic, never engine-portable. Instead each component is
    * quantized to `floor(v * 2^40)` (exact, see [[KmeansQuantBits]]), the
    * integers are summed exactly in DECIMAL(38,0) (associative — any
    * partial-aggregation tree yields the same sum), and the mean is ONE
    * correctly-rounded decimal→double cast, ONE IEEE division by the
    * count, and ONE exact rescale by 2^-40. The resulting centroid is
    * bit-identical under any partitioning, any aggregation order, and in
    * any engine mirroring the same steps; the 2^-40 (≈9e-13) quantization
    * is the operator's documented contract, not a correctness leak.
    *
    * Shape at scale: `posexplode` is narrow (dim rows per corpus row) and
    * the (cell, pos) hash aggregate partial-combines map-side, so the
    * exchange carries at most tasks × k × dim rows; the centroid
    * relation itself is k-sized. Cells that lose every member disappear
    * (standard Lloyd behavior — k can only shrink).
    *
    * @param assigned (vec: array<float>, cell: long) + anything else
    * @return (cid: long, cvec: array<float>) — float-rounded centroids,
    *         ready for the codegen'd `vec_dot` assignment path
    */
  def kmeansUpdate(assigned: DataFrame): DataFrame = {
    assigned
      .select(col("cell"), posexplode(col("vec")).as(Seq("pos", "v")))
      .withColumn("q", floor(col("v").cast("double") * lit(QuantUp)).cast("decimal(38,0)"))
      .groupBy("cell", "pos")
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("n"))
      .withColumn("m",
        ((col("sq").cast("double") / col("n")) * lit(QuantDown)).cast("float"))
      .groupBy(col("cell").as("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("cvec"))
  }

  /** Spherical k-means (Lloyd's) over an embedding corpus: deterministic
    * seeds from the caller, `iters` rounds of nearest-centroid assignment
    * ([[ivfAssign]] — broadcast centroids, map-side argmax, one linear
    * pass) and quantized-mean update ([[kmeansUpdate]]). Returns the final
    * assignment (id, vec, sq_norm, cell). Every step is order-independent,
    * so the result is reproducible bit-for-bit across partitionings and
    * mirrorable SQL-step-for-step by an oracle engine.
    */
  def kmeans(corpus: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "kmeans needs at least one assignment round")
    var centroids = seeds
    var assigned = ivfAssign(corpus, centroids)
    (2 to iters).foreach { _ =>
      centroids = kmeansUpdate(assigned)
      assigned = ivfAssign(corpus, centroids)
    }
    assigned
  }

  // ---------------------------------------------------------------- PQ --

  /** Contiguous `m`-way split of a `m*subDim`-dim vector into subvectors
    * (the product-quantization decomposition): array of `m` slices. */
  def pqSubvectors(vec: Column, m: Int, subDim: Int): Column =
    array((0 until m).map(i => slice(vec, i * subDim + 1, subDim)): _*)

  /** Per-subspace PQ codebook from a deterministic sample of the corpus:
    * sample vector j's i-th subvector becomes subspace i's code j (codes
    * dense from 0 in sample-id order). Sampled codebooks skip a training
    * loop on purpose — deterministic and cheap; when trained cells are
    * worth it, feed each subspace through [[kmeans]] instead and keep the
    * same (sub_idx, code, cvec) shape.
    *
    * @param samples (id: long, vec: array<float>) — small (codes × m rows out)
    */
  def pqCodebook(samples: DataFrame, m: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("sub_idx").orderBy("id")
    samples.select(col("id"),
        posexplode(pqSubvectors(col("vec"), m, subDim)).as(Seq("sub_idx", "cvec")))
      .withColumn("code", (row_number().over(w) - 1).cast("int"))
      .select("sub_idx", "code", "cvec")
  }

  /** PQ-encode the corpus: every vector becomes `m` small code ids — the
    * 100-TB point of PQ: the ANN index is codes + norm (a few bytes per
    * vector), memory-resident at scales where float vectors are not; full
    * vectors are read again only for the final re-rank.
    *
    * Shape: subvector explode (narrow, ×m), broadcast codebook join
    * (in-stage expand ×codes), then `min(struct(dist, code))` collapses
    * map-side BEFORE its exchange (same partial-aggregate posture as
    * [[ivfAssign]]'s argmax) — the only shuffle moves (id, sub_idx, code)
    * rows, m per vector. The L2 distance is expanded to vec_dot calls
    * (|a|² − 2a·b + |b|²) so everything stays codegen'd; the struct
    * ordering is duplicate-free on `code`, so argmin is total and ties
    * pick the lowest code deterministically.
    *
    * @return (id: long, codes: array<int>) — codes[i] = subspace i's code
    */
  def pqEncode(corpus: DataFrame, codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val cb = broadcast(codebook.withColumn("__ncb", sqNormD(col("cvec"))))
    corpus.select(col("id"),
        posexplode(pqSubvectors(col("vec"), m, subDim)).as(Seq("sub_idx", "subvec")))
      .join(cb, "sub_idx")
      .withColumn("dist",
        sqNormD(col("subvec")) - lit(2.0) * dotD(col("subvec"), col("cvec")) + col("__ncb"))
      .groupBy("id", "sub_idx")
      .agg(min(struct(col("dist"), col("code"))).as("__best"))
      .select(col("id"), col("sub_idx"), col("__best.code").as("code"))
      .groupBy("id")
      .agg(transform(array_sort(collect_list(struct(col("sub_idx"), col("code")))),
        x => x.getField("code")).as("codes"))
  }

  /** Per-query ADC lookup table: partial inner products of each query
    * subvector against every codebook entry. Approximate dot(q, x) is
    * then the sum over subspaces of `pdot[sub_idx][codes[sub_idx]]` —
    * `m` table lookups per candidate, never a 64-dim product.
    *
    * @return (qid, sub_idx, code, pdot) — queries × codes × m rows (small)
    */
  def pqQueryTable(queries: DataFrame, codebook: DataFrame, m: Int, subDim: Int): DataFrame =
    queries.select(col("qid"),
        posexplode(pqSubvectors(col("qvec"), m, subDim)).as(Seq("sub_idx", "qsub")))
      .join(broadcast(codebook), "sub_idx")
      .select(col("qid"), col("sub_idx"), col("code"),
        dotD(col("qsub"), col("cvec")).as("pdot"),
        // the reconstruction's squared norm decomposes EXACTLY across
        // disjoint subspaces — summing this per candidate gives |x̂|²,
        // the consistent denominator for the approximate cosine
        sqNormD(col("cvec")).as("ncb"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into nearest-centroid cells,
    * then inside each cell drop every vector that has a LOWER-id neighbor
    * with cosine ≥ `tau`. The kept set is deterministic — "locally id-
    * minimal within its τ-neighborhood" — one self-join, no iteration.
    * (The policy over-drops chains a–b–c where only adjacent pairs are
    * similar, versus a transitive-closure grouping; that is the standard
    * parallel keep-first approximation — the CC path ([[graft.ops.DedupOps]],
    * q39) is the transitive alternative when group structure matters.)
    *
    * Scale posture: this IS the published SemDeDup shape — never
    * corpus×corpus, only cell-bounded pairs, and the centroid count grows
    * with the corpus (SemDeDup runs 50k clusters for LAION-scale), so
    * per-cell occupancy — hence per-task pair generation — stays bounded
    * by index granularity. One cell-keyed exchange per self-join side
    * (both sides scan the same cached assignment, so the second exchange
    * reuses the first's shuffle files via ReusedExchange when the planner
    * canonicalizes them equal); the dup-id set rides an id-keyed anti-join
    * that AQE turns into a broadcast when it is small. Oversized skew
    * cells at production density take the same `capBuckets` guard the LSH
    * paths use (see q43), applied to `assigned` on `cell` — a recall
    * trade, so it is the caller's knob, not a default.
    *
    * @param assigned [[ivfAssign]] output (id, vec, sq_norm, cell);
    *                 persist/Memo it — it is scanned three times
    * @return survivors (id, cell), one row per kept vector
    */
  def semanticDedup(assigned: DataFrame, tau: Double): DataFrame = {
    require(tau > -1.0 && tau <= 1.0, s"cosine threshold out of range: $tau")
    val a = assigned.select(col("cell"), col("id").as("a_id"),
      col("vec").as("a_vec"), col("sq_norm").as("a_norm"))
    val b = assigned.select(col("cell"), col("id").as("b_id"),
      col("vec").as("b_vec"), col("sq_norm").as("b_norm"))
    val dups = a.join(b, "cell")
      .filter(col("a_id") < col("b_id"))
      .filter(cosineWithNorms(dotD(col("a_vec"), col("b_vec")),
        col("a_norm"), col("b_norm")) >= tau)
      .select(col("b_id").as("id")).distinct()
    assigned.join(dups, Seq("id"), "left_anti").select(col("id"), col("cell"))
  }

  /** MULTI-TABLE SRP band relation — the standard LSH recall amplifier
    * (Indyk–Motwani's L-table construction): `planesL.size` INDEPENDENT
    * 64-plane matrices, each packed by one `vec_srp_bits` call and
    * sliced into `64 / bandBits` tables, for `L × 64/bandBits` hash
    * tables total. A pair is a candidate when ANY table buckets it
    * together (union of candidates — the downstream self-join +
    * `distinct` realizes the union), so miss probability multiplies
    * across tables: (1 − p^bits)^(L·64/bits). Width divides random
    * bucket occupancy (the cost axis); tables multiply recall (the
    * quality axis) — at production density the knob pair is
    * (wider bands, more tables), not a lower threshold.
    *
    * Scale shape: one projection per matrix fused in a single codegen
    * stage (each `vec_srp_bits` call is one small nested loop over its
    * own flat plane reference — L of them stay far under the JIT-limit
    * failure mode the per-plane `vec_dot` form hit), one explode to
    * O(vectors × tables) band rows. Downstream cost is the same
    * cap-join-verify pipeline as the single-table form.
    *
    * @param planesL one 64-row plane matrix per table set; every matrix
    *                independent (different seeds) or recall gains nothing
    * @return (idCol, table_idx, bits) — table_idx globally unique across
    *         matrices (matrix ℓ owns [ℓ·64/bits, (ℓ+1)·64/bits))
    */
  def srpBandsMulti(emb: DataFrame, idCol: String, vecCol: String,
      planesL: Seq[Seq[Seq[Float]]], bandBits: Int): DataFrame = {
    require(bandBits > 0 && bandBits <= 32 && 64 % bandBits == 0,
      s"bandBits must divide 64 and be <= 32, got $bandBits")
    require(planesL.nonEmpty && planesL.forall(_.size == 64),
      "each table set needs exactly 64 planes")
    val perMatrix = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val packed = planesL.zipWithIndex.map { case (pl, l) =>
      call_function("vec_srp_bits", col(vecCol), typedlit(pl), lit(bandBits))
        .as(s"__pk$l")
    }
    emb.select((col(idCol) +: packed): _*)
      .select(col(idCol), explode(array(planesL.indices.flatMap(l =>
        (0 until perMatrix).map(t =>
          struct(lit(l * perMatrix + t).as("table_idx"),
            shiftrightunsigned(col(s"__pk$l"), t * bandBits)
              .bitwiseAND(lit(mask)).as("bits")))): _*)).as("b"))
      .select(col(idCol), col("b.table_idx").as("table_idx"),
        col("b.bits").as("bits"))
  }
}
