package graft.queries

import graft.{Q, Tables}
import graft.ops.{DedupOps, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` — the training-data-pipeline
  * mandate. Exact dedup is one keyed exchange; near-dup is LSH candidate
  * generation (shuffle on *bucket* keys — linear-ish, never an all-pairs
  * cross join) + an exact-Jaccard verification join, so the OUTPUT is
  * exact (and hash-comparable against DuckDB's all-pairs oracle, which is
  * only feasible because the oracle runs at toy scale).
  *
  * Recall safety at the oracle gate: the corpus' near-dup pairs sit at
  * J >= 0.97 with nothing between 0.5 and 0.97 (measured at sf0.01).
  * MinHash with 16 bands x 4 rows misses a J=0.97 pair with probability
  * (1 - .97^4)^16 ~ 1e-15; SimHash banding at 8x8 finds every pair within
  * Hamming distance 7 *deterministically* (pigeonhole).
  */
object DedupQs {

  /** The common oracle: exact all-pairs shingle Jaccard >= `thr`. Fine in
    * DuckDB at sf0.01 (500 docs); the Spark side must never do this.
    */
  private def jaccardOracleSql(thr: Double): String = s"""
      WITH sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= $thr
      ORDER BY doc_a, doc_b"""

  /** doc_id + distinct 3-gram shingle set, persisted ONCE per
    * (session, dir): the near-dup queries consume it 3-4 times (banding +
    * both sides of the exact verify) and several queries share it across
    * a Verify run. Memoizing the DataFrame (instead of re-calling
    * `.persist()` on a fresh identical plan) keeps exactly one cache
    * entry alive and silences the CacheManager "already cached" churn;
    * if an external cleanup (e.g. Bench's per-query `clearCache`) drops
    * the cache, the accessor re-persists on next use. MEMORY_AND_DISK —
    * spillable at scale (O(docs x shingles)).
    */
  /** Shingles are carried as 64-bit fingerprints ([[TextOps.shingleHashes]]),
    * not strings: banding, df counts, and the exact-verify intersection
    * only need distinctness, and the long form is several times smaller
    * in the cache and every join payload — the dominant memory cost of
    * this whole family. The DuckDB oracles intersect the actual string
    * shingle sets; the counts agree because the fingerprint is injective
    * on the corpus (64-bit, ~27 k distinct shingles at sf0.1).
    */
  private[graft] def shingled(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "doc_shingles") {
      shinglesOf(Tables.documents(s, d))
    }

  /** The shingle projection over an arbitrary docs relation — shared by
    * the memoized corpus form above and the incremental tagging path
    * (which shingles one BATCH at a time against a resident index). */
  private[graft] def shinglesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextOps.shingleHashes(col("text")).as("shingles"))

  /** Largest allowed LSH bucket (see [[DedupOps.capBuckets]]) — inert at
    * test scales, bounds per-task pair generation at 100 TB. */
  private[graft] val MaxBucket = 1000

  /** Largest allowed shingle document frequency in q38's inverted index —
    * inert at test scales (max df 25 at sf0.1), bounds the per-shingle
    * df² pair blow-up at 100 TB. */
  private val MaxDf = 100

  /** Exact verification of candidate pairs: join shingle sets back, keep
    * pairs with true Jaccard >= thrNum/thrDen. Candidates are tiny
    * post-LSH, so both joins broadcast the candidate side at scale.
    *
    * The threshold test is the INTEGER-EXACT rational form
    * `(den+num)·|A∩B| >= num·(|A|+|B|)` (algebraically J >= num/den,
    * no IEEE division at the boundary) with `array_intersect` appearing
    * exactly ONCE. The once-ness is load-bearing: Catalyst inlines any
    * bound alias into the join condition when it pushes the filter
    * there, so a `jaccard >= thr` filter written over an `n_inter`
    * column comes back as a join condition evaluating the intersect
    * THREE times per candidate row (measured: the round-9 pre-fix q37
    * spent ~3 s of its ~5.5 s exactly here). The output `jaccard`
    * (division form, matching the DuckDB oracles bit-for-bit) is
    * recomputed on survivors only — tens of rows.
    *
    * `broadcastDocs = true` flips the join direction: the doc-shingle
    * relation is broadcast and the CANDIDATE stream stays in place. Use
    * when the candidate set is the big side (q37's saturated-band
    * regime) — otherwise both joins go sort-merge and every candidate
    * row drags two shingle arrays through two shuffles. Only valid
    * while the shingle relation fits executor memory — callers pass
    * [[docBroadcastOk]] (the sized validity guard) rather than a bare
    * `true`, so past the documented bound the same pipeline degrades
    * to the shuffle form instead of OOMing an executor.
    */
  private def verified(s: SparkSession, d: String, cands: DataFrame,
      thrNum: Long, thrDen: Long, broadcastDocs: Boolean = false): DataFrame = {
    def maybeB(df: DataFrame): DataFrame = if (broadcastDocs) broadcast(df) else df
    val sa = maybeB(shingled(s, d).select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")))
    val sb = maybeB(shingled(s, d).select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")))
    val nInter = size(array_intersect(col("sh_a"), col("sh_b")))
    // Exact NECESSARY condition first: |A∩B| <= min(|A|,|B|), so J >=
    // num/den forces den·min >= num·max. Integer-exact, codegen-cheap,
    // and `And` short-circuits — the O(|A|+|B|) intersect never evaluates
    // for pairs whose sizes already rule them out (the bulk of random
    // band collisions in q37's saturated regime). Zero recall change:
    // every true-threshold pair passes the size test by algebra.
    val sizeOk = lit(thrDen) * least(size(col("sh_a")), size(col("sh_b"))) >=
      lit(thrNum) * greatest(size(col("sh_a")), size(col("sh_b")))
    cands
      .join(sa, "doc_a").join(sb, "doc_b")
      .filter(sizeOk && (lit(thrDen + thrNum) * nInter >=
        lit(thrNum) * (size(col("sh_a")) + size(col("sh_b")))))
      .select(col("doc_a"), col("doc_b"),
        nInter.as("n_inter"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"))
      .withColumn("jaccard", DedupOps.jaccardFromSizes(col("n_inter"), col("n_a"), col("n_b")))
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Validity bound for the doc-broadcast verify posture (q37/q130/q141's
    * `broadcastDocs = true` and q134's verify joins): those plans ship
    * the WHOLE shingle relation to every executor, which is only valid
    * while it fits executor memory — measured-fastest at the graded
    * scales, acknowledged-but-unguarded before round 14. The guard
    * estimates the broadcast side as total shingle entries (docs ×
    * avg shingles — one aggregate over the already-cached relation,
    * memoized per (session, corpus) so repeated query builds pay it
    * once) and falls back to the un-hinted shuffle form past
    * `spark.graft.dedup.broadcastMaxShingles` (default 50M entries
    * ≈ 400 MB of packed hashes, a few × that as a HashedRelation —
    * comfortably inside a production executor's broadcast budget, far
    * outside any graded corpus). PlanSpec pins both sides of the
    * threshold. */
  private[graft] def docBroadcastOk(s: SparkSession, d: String): Boolean = {
    val est = graft.Memo.estimate(s, d, "doc_broadcast_shingles") {
      val r = shingled(s, d).agg(sum(size(col("shingles")))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val bound = s.conf.getOption("spark.graft.dedup.broadcastMaxShingles")
      .map(_.toLong).getOrElse(50000000L)
    est <= bound
  }

  /** Exact dedup by a business key, deterministic window form (D1/D2;
    * reference `src/movie.py:275,295`): one survivor per (lang, n_chars),
    * lowest doc_id wins. Single hash exchange, no collect.
    */
  val q35 = Q(
    "q35_exact_dedup_key",
    (s, d) => {
      DedupOps.exactDedup(
          Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
          Seq("lang", "n_chars"), Seq(col("doc_id")))
        .orderBy("lang", "n_chars")
    },
    Some("""
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
          row_number() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) AS rn
        FROM documents) t
      WHERE rn = 1 ORDER BY lang, n_chars"""))

  /** q36/q39's shared near-dup pair detection: shingle → 64-perm minhash
    * signature → 16x4 banding → capped bucket self-join → exact-Jaccard
    * verify >= 0.8. Returns (doc_a, doc_b, jaccard).
    */
  /** The memoized 16x4 minhash band relation (q36/q39/q83's shared
    * index): caching it matters because the bucket-cap semi-join and
    * both sides of the candidate join consume it, and one side feeds a
    * BroadcastExchange, so ReusedExchange cannot fire — without the
    * cache the whole minhash subplan runs 3x (measured ~2x for the
    * uncapped 2-consumer form). At scale this relation is
    * O(docs x bands), spillable — and for q83 it IS the resident index
    * an incremental ingest joins against. */
  private def minhashBandsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "minhash_bands") {
      minhashBandsOf(shingled(s, d))
    }

  /** q36's banding parameters (64 permutations × 16 bands) applied to an
    * arbitrary shingle relation — ONE definition for the corpus form and
    * the incremental path, so the two candidate generators cannot drift. */
  private[graft] def minhashBandsOf(docShingles: DataFrame): DataFrame =
    DedupOps.minhashBands(
      docShingles.filter(size(col("shingles")) > 0),
      "doc_id", numPerm = 64, bands = 16)

  /** The CAPPED band relation, memoized too: the cap's bucket-count
    * aggregate + semi-join re-derive once per consumer otherwise, and
    * q83 consumes four sides (q36/q39 two). Bands-sized, spillable. */
  private def cappedBandsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "minhash_bands_capped") {
      DedupOps.capBuckets(minhashBandsCached(s, d),
        Seq("band_idx", "band_hash"), MaxBucket)
    }

  private def minhashNearDupPairs(s: SparkSession, d: String): DataFrame = {
    val capped = cappedBandsCached(s, d)
    def side(n: String): DataFrame =
      capped.select(col("doc_id").as(s"doc_$n"), col("band_idx"), col("band_hash"))
    val cands = side("a").join(side("b"), Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verified(s, d, cands, 4, 5)
  }

  /** MinHash-LSH near-dup detection (the headline dedup path). */
  val q36 = Q(
    "q36_minhash_lsh",
    (s, d) => minhashNearDupPairs(s, d),
    Some(jaccardOracleSql(0.8)),
    headline = true)

  /** Hamming cutoff for q37's post-band filter. Banding guarantees
    * recall only for Hamming <= nBands-1 = 7 (pigeonhole); everything
    * above that is opportunistic recall through a lucky band collision.
    * Measured true J>=0.8 pairs on this corpus family reach Hamming 9 at
    * sf0.01 (SURVEY §2.0.2) and 11 at sf0.1 (BASELINE.md), i.e.
    * the true-pair tail GROWS with scale — so the cutoff carries 5 bits
    * of margin over the largest measured tier rather than 1. 16 still
    * sits at the lower edge of the random-collision Hamming mode (~16 of
    * 64: unrelated natural-text signatures are correlated, not mode-32),
    * so the filter still kills roughly half of the quadratic collision
    * mass before the distinct exchange and the exact verify; the verify
    * keeps the query exactly graded regardless of what the filter lets
    * through. Re-derive per scale tier before trusting a tighter cut. */
  private val SimHamMax = 16

  /** q37's band width: 8 levels of 8 bits over the 64-bit signature,
    * whose pigeonhole recall (Hamming ≤ 7) q37's oracle grades. */
  private[graft] val SimBandBits = 8

  /** SimHash near-dup detection: 64-bit sign-hash of the token stream,
    * 8x8-bit banding (deterministic recall for Hamming <= 7), Hamming
    * post-filter at [[SimHamMax]], exact verify. Same oracle as q36 —
    * two independent candidate generators must converge on the same
    * exact answer.
    *
    * The band join PROPOSES and the popcount DISPOSES: an 8-bit band
    * collision is a 1/256 coincidence for unrelated docs, so at dense
    * corpus scales the raw collision set grows ~quadratically (measured
    * ~390k pairs at sf0.1 for 25 true ones) — and because unrelated
    * natural-text signatures are themselves correlated (collision
    * Hamming modes at ~16 of 64, not 32), no banding scheme can
    * separate them structurally; the popcount does it for one codegen'd
    * `bit_count(xor)` per joined row, BEFORE the distinct exchange and
    * the `array_intersect` verify, so the random bulk dies in-stage.
    * Recall above Hamming 7 is unchanged by the filter: such pairs were
    * only ever reachable through a lucky band collision, and every
    * banding-reachable pair up to [[SimHamMax]] still verifies.
    */
  private def simhashQuery(s: SparkSession, d: String): DataFrame = {
    // capped form memoized directly (same rationale as
    // cappedBandsCached: the cap subplan re-derives per consumed side).
    // Cache width+key PINNED to hashpartitioning(doc_id, conf width)
    // (round 22): this relation's bytes are tiny (doc_id + sig + band
    // keys) but its consumer is the most CPU-dense pipeline in the
    // suite (banded self-join × bit_count over capped buckets, then
    // exact verify), so AQE's bytes-based cache coalescing folds it to
    // ~1 partition and serializes the whole chain (measured: q37
    // 1.1 → 11.5 s) — a single-partition source satisfies every
    // downstream clustering, so no later exchange re-widens the plan.
    // doc_id is the load-bearing KEY, not just a width choice: the band
    // self-join broadcasts the capped side and streams this layout, so
    // hashpartitioning(doc_a) already satisfies the candidate
    // distinct's (doc_a, doc_b) clustering and the whole
    // join→bit_count→distinct→verify chain fuses into ONE stage at
    // cache width with ZERO exchanges — pinning by the band keys
    // instead costs a 20 MB pair exchange whose coalesced read
    // re-serializes the verify (measured: q37 2.0 s vs 1.25 here).
    // Width from conf, not a literal: resource-derived at any scale.
    val capped = graft.Memo.cached(s, d, s"simhash_bands_capped_b$SimBandBits") {
      DedupOps.capBuckets(
        graft.Memo.cached(s, d, s"simhash_bands_b$SimBandBits") {
          DedupOps.simhashBands(
            Tables.documents(s, d)
              .select(col("doc_id"), TextOps.tokens(col("text")).as("tokens")),
            "doc_id", SimBandBits)
        }, Seq("band_idx", "band_hash"), MaxBucket)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
    }
    def side(n: String): DataFrame =
      capped.select(col("doc_id").as(s"doc_$n"), col("sig").as(s"sig_$n"),
        col("band_idx"), col("band_hash"))
    val cands = side("a").join(side("b"), Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b") &&
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= SimHamMax)
      .select("doc_a", "doc_b").distinct()
    verified(s, d, cands, 4, 5, broadcastDocs = docBroadcastOk(s, d))
  }

  val q37 = Q(
    "q37_simhash",
    simhashQuery,
    Some(jaccardOracleSql(0.8)),
    // headline since round 9 (annex row in BASELINE.md)
    headline = true)

  /** The PRODUCTION 16-bit-band SimHash shape, ORACLE-GRADED (round 13
    * — before this, the shipped default's recall structure had no
    * CORRECTNESS entry; q37 pins 8-bit). Grading an APPROXIMATE
    * candidate generator hash-exactly requires the oracle to reproduce
    * banding reachability, i.e. the signatures themselves — so this
    * path hashes tokens with `ngram_hash64(text, 1)`'s FNV-1a (a
    * byte-walk DuckDB mirrors with a `list_reduce` over HUGEINT
    * mod-2^64 arithmetic; Spark's xxhash64 has no feasible SQL mirror)
    * and keys bands on the EXACT 16-bit signature slices
    * ([[DedupOps.simhashBandsExact]]) so the candidate set is a pure
    * function of the signatures, no murmur coincidences. Both engines
    * then apply the identical pipeline: 4 × 16-bit band levels →
    * Hamming ≤ [[SimHamMax]] post-filter → exact-Jaccard ≥ 0.8 verify.
    * What the grade certifies is exactly the production trade promoted
    * in round 12: deterministic recall to Hamming ≤ 3 via slice
    * equality (≈ 256× lower random bucket occupancy than 8-bit),
    * opportunistic recall beyond it, and a verified-exact output.
    * Precondition shared with every text oracle here: the corpus is
    * ASCII with single-space token separators (checked: max codepoint
    * 121 at sf0.01/0.1), so DuckDB's per-char `unicode()` IS the byte
    * walk.
    */
  private[graft] def simhash16Query(s: SparkSession, d: String): DataFrame =
    simhashFnvQuery(s, d, bitsPerBand = 16)

  /** [[simhash16Query]]'s body with the band width as a parameter —
    * q130 grades the 16-bit production default, q141 the 32-bit rung
    * above it (2 × 32-bit levels: deterministic recall shrinks to
    * Hamming ≤ 1, random bucket occupancy drops another ~65 536×; the
    * found-pair deltas per width are SURVEY §2.0.2's FNV found-pairs
    * ladder). Width must divide 64. */
  private def simhashFnvQuery(s: SparkSession, d: String,
      bitsPerBand: Int): DataFrame = {
    // same doc_id-pinned cache layout as [[simhashQuery]] (see the
    // comment there): tiny bytes, CPU-dense banded consumer — bytes-
    // based cache coalescing would serialize the fused verify chain
    val capped = graft.Memo.cached(s, d, s"simhash${bitsPerBand}_fnv_bands_capped") {
      DedupOps.capBuckets(
        graft.Memo.cached(s, d, s"simhash${bitsPerBand}_fnv_bands") {
          DedupOps.simhashBandsExact(
            Tables.documents(s, d)
              .select(col("doc_id"), TextOps.ngramHashes(col("text"), 1).as("hs")),
            "doc_id", "hs", bitsPerBand = bitsPerBand)
        }, Seq("band_idx", "band_hash"), MaxBucket)
        .repartition(s.sessionState.conf.numShufflePartitions, col("doc_id"))
    }
    def side(n: String): DataFrame =
      capped.select(col("doc_id").as(s"doc_$n"), col("sig").as(s"sig_$n"),
        col("band_idx"), col("band_hash"))
    // broadcastDocs = q37's measured verify posture. Alternatives were
    // measured at the 10× tier and lost: un-hinted, Catalyst broadcasts
    // the CACHED shingle relation (exact small-looking stats beat the
    // candidates' huge post-join estimate) into both verify joins
    // (4.19 s); explicitly broadcasting the candidate side chains two
    // nested BroadcastExchanges whose builds serialize the stage graph
    // (2.4 s even at 1×, OOM-prone at 10×). The doc-broadcast form
    // shares the exchange across both joins and pipelines with the
    // band build — same executor-memory validity bound as q37.
    val cands = side("a").join(side("b"), Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b") &&
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= SimHamMax)
      .select("doc_a", "doc_b").distinct()
    verified(s, d, cands, 4, 5, broadcastDocs = docBroadcastOk(s, d))
  }

  /** q130/q141's DuckDB mirror: FNV-1a per token (HUGEINT mod-2^64 fold
    * over the char codepoints — ASCII, so codepoint == byte), 64
    * sign-sums per doc, signature + exact `bits`-wide slices,
    * band-equality join, `bit_count(xor)` ≤ [[SimHamMax]] (interpolated,
    * not a literal — retuning the constant cannot desynchronize query
    * and oracle), exact-Jaccard ≥ 0.8 verify. */
  private def simhashFnvOracleSql(bits: Int): String = s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      th AS (
        SELECT doc_id,
          CAST(list_reduce(
            list_prepend(CAST('14695981039346656037' AS HUGEINT),
              [CAST(unicode(c) AS HUGEINT) for c in string_split(tok, '')]),
            (h, b) -> (xor(h, b) * 1099511628211) % CAST('18446744073709551616' AS HUGEINT))
            AS UBIGINT) AS h
        FROM toks),
      bits AS (
        SELECT doc_id, k,
          CASE WHEN sum(CASE WHEN (h >> CAST(k AS INT)) % 2 = 1
                             THEN 1 ELSE -1 END) >= 0 THEN 1 ELSE 0 END AS b
        FROM th, (SELECT unnest(range(64)) AS k)
        GROUP BY doc_id, k),
      sigs AS (
        SELECT doc_id,
          CAST(sum(CAST(b AS HUGEINT) << CAST(k AS INT)) AS UBIGINT) AS sig
        FROM bits GROUP BY doc_id),
      bands AS (
        SELECT doc_id, CAST(k // $bits AS INT) AS band_idx,
          CAST(sum(CAST(b AS HUGEINT) << CAST(k % $bits AS INT)) AS BIGINT) AS slice
        FROM bits GROUP BY doc_id, k // $bits),
      cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM (SELECT ba.doc_id, ba.band_idx, ba.slice, sa.sig
              FROM bands ba JOIN sigs sa USING (doc_id)) a
        JOIN (SELECT bb.doc_id, bb.band_idx, bb.slice, sb.sig
              FROM bands bb JOIN sigs sb USING (doc_id)) b
          ON a.band_idx = b.band_idx AND a.slice = b.slice AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= $SimHamMax),
      sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents)
      SELECT c.doc_a, c.doc_b,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
      FROM cands c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b ON b.doc_id = c.doc_b
      WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8
      ORDER BY doc_a, doc_b"""

  val q130 = Q(
    "q130_simhash16",
    (s, d) => simhash16Query(s, d),
    Some(simhashFnvOracleSql(16)),
    headline = true)

  /** The 32-BIT rung of the FNV SimHash band ladder, ORACLE-GRADED
    * (round 14 — the rung above q130's graded 16-bit production
    * default): 2 × 32-bit levels, deterministic recall to Hamming ≤ 1
    * by pigeonhole, everything beyond reachable only through a lucky
    * full-half collision — which the Hamming ≤ [[SimHamMax]] filter and
    * the exact verify still grade exactly when it happens. The point of
    * the width: random slice-collision probability drops from 2^-16 per
    * level to 2^-32, so at corpus densities where even 16-bit buckets
    * saturate (q130's 100× tier reads 22.6× — band-join mass, not
    * verify) the candidate set collapses to near-certain duplicates
    * only. Found-pair recall cost per width is MEASURED, not asserted:
    * SURVEY §2.0.2's FNV found-pairs ladder records verified-pair
    * counts at 16 and 32 bits against the 8-bit q37 reference. Same
    * oracle body as q130 with `bits = 32` interpolated — one mirror
    * definition, two graded widths. */
  val q141 = Q(
    "q141_simhash32",
    (s, d) => simhashFnvQuery(s, d, bitsPerBand = 32),
    Some(simhashFnvOracleSql(32)),
    headline = true)

  /** ASYMMETRIC containment join — the near-dup relation Jaccard misses
    * (Lee et al. 2022 §4 discuss it as the quote/subsumption case): doc
    * a is CONTAINED in doc b when |A∩B| / |A| ≥ 0.9, which fires when a
    * small document rides inside a larger one even though their Jaccard
    * is far below any symmetric threshold. Candidates come from the
    * shingle-keyed inverted index (never all-pairs), thresholded on the
    * CONTAINED side's size with the integer-exact rational
    * (10·n_inter ≥ 9·n_a) and emitted per DIRECTION (both (a,b) and
    * (b,a) when mutual — full duplicates contain each other). The
    * MaxDf cap bounds per-shingle join fan-out exactly as in q38 —
    * inert at the graded scales (max df 7/25); it can only LOSE pairs
    * whose every common shingle is boilerplate, and the verify
    * intersects the FULL shingle sets, so every surviving pair's
    * containment is exact.
    *
    * Precondition: containment is DEFINED only for docs with ≥ 3 tokens
    * (a shorter doc has no trigram shingles, so |A∩B|/|A| is 0/0); such
    * docs emit nothing — same null-posture as q131's sub-trigram
    * contract. The oracle guards the vacuous-truth corner explicitly
    * (`len(a.shingles) > 0`: without it `9·0 ≤ 10·0` would emit every
    * (a, b) pair for an empty A while the Spark side, generating
    * candidates from postings, emits none). Inert on the graded corpora
    * (no sub-trigram docs — CorpusContractSpec territory) but the
    * definition should not depend on that.
    */
  /** Candidate generation is the CONTAINMENT-adapted prefix filter
    * (the asymmetric sibling of q114's AllPairs bound): order elements
    * globally rare-first by (df, element); the CONTAINED side keeps
    * only its first nₐ − ⌈τ·nₐ⌉ + 1 elements, the containing side
    * indexes ALL of them. COMPLETE at C ≥ τ by the q114 argument run
    * one-sided — if the order-smallest common element sat outside A's
    * prefix, fewer than ⌈τ·nₐ⌉ ≤ |A∩B| common elements could follow
    * it — so the exact verify sees every true pair and the filter only
    * affects cost. The round-13 first cut counted ALL df-capped
    * common-shingle pairs and measured 76 s (23.8×) at the 100× tier;
    * the prefix form prunes the contained side to ~an eleventh of its
    * postings at τ = 0.9 before any pair forms. */
  val q134 = Q(
    "q134_containment_join",
    (s, d) => {
      val postings = shingled(s, d)
        .select(col("doc_id"), explode(col("shingles")).as("sh"))
      val dfRel = postings.groupBy("sh")
        .agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= MaxDf)
      val capped = postings.join(broadcast(dfRel), "sh")
      val sizes = shingled(s, d)
        .select(col("doc_id"), size(col("shingles")).cast("long").as("n_sh"))
      // contained-side prefix: rank each doc's kept elements rare-first,
      // keep rows while rank <= n - ceil(9n/10) + 1 (integer ceil)
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("__df"), col("sh"))
      val prefixA = capped
        .withColumn("__r", row_number().over(wDoc))
        .join(sizes, "doc_id")
        .filter(col("__r") <= expr("n_sh - (n_sh * 9 + 9) div 10 + 1"))
        .select(col("doc_id").as("doc_a"), col("sh"))
      val cands = prefixA
        .join(capped.select(col("doc_id").as("doc_b"), col("sh")), "sh")
        .filter(col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      // exact verify over the shared shingle cache (q130's posture: the
      // candidate set is prefix-bounded, the doc relation broadcasts —
      // under the same sized validity guard, shuffle form past it)
      def maybeB(df: DataFrame): DataFrame =
        if (docBroadcastOk(s, d)) broadcast(df) else df
      val sa = maybeB(shingled(s, d)
        .select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")))
      val sb = maybeB(shingled(s, d)
        .select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")))
      cands.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("n_inter",
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
        .withColumn("n_a", size(col("sh_a")).cast("long"))
        .filter(col("n_inter") * 10 >= col("n_a") * 9)
        .withColumn("n_b", size(col("sh_b")).cast("long"))
        .withColumn("containment",
          col("n_inter").cast("double") / col("n_a").cast("double"))
        .select("doc_a", "doc_b", "n_a", "n_b", "containment")
        .orderBy("doc_a", "doc_b")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(a.shingles) AS BIGINT) AS n_a,
        CAST(len(b.shingles) AS BIGINT) AS n_b,
        CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / CAST(len(a.shingles) AS DOUBLE) AS containment
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE 10 * len(list_intersect(a.shingles, b.shingles)) >= 9 * len(a.shingles)
        AND len(a.shingles) > 0
      ORDER BY doc_a, doc_b"""))

  /** Exact n-gram Jaccard pairs (J >= 0.5) via inverted-index join:
    * explode shingles, shuffle on the SHINGLE (the standard exact path —
    * common-shingle counting, no cross join), then closed-form Jaccard
    * from the two set sizes.
    *
    * Scale note: cost is sum over shingles of df(sh)^2. On natural text
    * the shingle space is sparse and this is near-linear; a shingle
    * whose document frequency explodes (boilerplate, stopword runs)
    * would make its df^2 term quadratic, so the inverted index is
    * df-capped at [[MaxDf]] before the pair join — inert at the graded
    * scales (max df measured: 7 at sf0.01, 25 at sf0.1), and at
    * production scale it bounds per-shingle join work at MaxDf^2. A
    * dropped shingle can only LOWER a pair's counted intersection
    * (standard df-capped Jaccard: hyper-frequent shingles carry no
    * dedup signal), never fabricate a pair.
    */
  /** q38's body with the df cap as a parameter — the graded query runs
    * it at [[MaxDf]]; the pairs-lost-vs-cost curve of a cap sweep over
    * a constructed high-df corpus is recorded in SURVEY §2.0.2.
    * `Long.MaxValue` = uncapped exact. */
  private[graft] def ngramJaccardPairs(s: SparkSession, d: String,
      maxDf: Long): DataFrame = {
    val postings = shingled(s, d)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val rare = postings.groupBy("sh")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .drop("__df")
    val capped = postings.join(rare, Seq("sh"), "left_semi")
    def inv(side: String): DataFrame =
      capped.select(col("doc_id").as(s"doc_$side"), col("sh"))
    val inter = inv("a").join(inv("b"), "sh")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    val sizes = shingled(s, d).select(col("doc_id"), size(col("shingles")).as("n_sh"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  val q38 = Q(
    "q38_ngram_jaccard",
    (s, d) => ngramJaccardPairs(s, d, MaxDf),
    Some(jaccardOracleSql(0.5)),
    // headline since round 9 (annex row in BASELINE.md): the most
    // expensive measured corpus query and the one deliberately
    // shuffle-heavy exact path — exactly what regresses silently
    headline = true)

  /** Near-dup CLUSTERING — the pipeline stage after pair detection:
    * pairs → connected components ([[DedupOps.connectedComponents]],
    * iterative min-label propagation, one keyed shuffle per round) → one
    * canonical survivor per cluster (the smallest doc_id). Output is one
    * row per clustered doc: (doc_id, comp, keep). The DuckDB oracle
    * computes the same components with a recursive reachability CTE —
    * feasible only at oracle scale; the Spark side never materializes
    * reachability closures.
    */
  val q39 = Q(
    "q39_dup_clusters",
    (s, d) => {
      val pairs = minhashNearDupPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      DedupOps.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("comp"),
          (col("id") === col("comp")).as("keep"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
      walk(id, reach) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.reach)
      SELECT id AS doc_id, min(reach) AS comp, (id = min(reach)) AS keep
      FROM walk GROUP BY id ORDER BY doc_id"""),
    headline = true)

  /** Corpus-level span dedup ([[graft.ops.DedupOps.spanDedup]], 8-token
    * chunks): the C4-style repeated-span REMOVAL pass, graded end to end —
    * chunking, corpus-wide keep-first, and document reassembly all
    * mirrored exactly in the oracle.
    */
  val q57 = Q(
    "q57_span_dedup",
    (s, d) =>
      graft.ops.DedupOps.spanDedup(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      cl AS (SELECT doc_id,
               [array_to_string(toks[(i*8+1):(i*8+8)], ' ')
                for i in range(0, CAST(ceil(len(toks)/8.0) AS BIGINT))] AS chunks
             FROM t),
      c AS (SELECT doc_id, unnest(range(0, len(chunks))) AS pos,
              unnest(chunks) AS chunk FROM cl),
      k AS (SELECT doc_id, pos, chunk,
              row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
            FROM c),
      reb AS (SELECT doc_id, count(*) AS n_kept,
                string_agg(chunk, ' ' ORDER BY pos) AS clean_text
              FROM k WHERE rn = 1 GROUP BY doc_id)
      SELECT t.doc_id, CAST(ceil(len(t.toks)/8.0) AS BIGINT) AS n_chunks,
             COALESCE(reb.n_kept, 0) AS n_kept, reb.clean_text
      FROM t LEFT JOIN reb ON t.doc_id = reb.doc_id
      ORDER BY t.doc_id"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Exact-substring dedup ([[graft.ops.DedupOps.exactSubstringDedup]],
    * k = 8): the suffix-array tier — repeated spans ≥ 8 tokens at
    * ARBITRARY alignment removed corpus-wide keep-first, where q57 only
    * removes chunk-ALIGNED repeats. The oracle mirrors every stage on
    * gram STRINGS (fingerprints are the accepted 64-bit collision
    * class): positional 8-grams, keep-first row_number, the identical
    * gaps-and-islands interval union, and the per-token span-coverage
    * filter via DuckDB's indexed list lambdas.
    */
  val q128 = Q(
    "q128_substring_dedup",
    (s, d) =>
      graft.ops.DedupOps.exactSubstringDedup(Tables.documents(s, d), "doc_id", "text", 8)
        .orderBy("doc_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS gram
            FROM t, LATERAL (SELECT unnest(range(1, greatest(len(toks) - 7, 0) + 1)) AS i) u),
      d AS (SELECT doc_id, pos FROM (
              SELECT doc_id, pos,
                row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g) x
            WHERE rn > 1),
      m AS (SELECT doc_id, pos,
              CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS newi
            FROM d),
      i2 AS (SELECT doc_id, pos, sum(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS isl FROM m),
      sp AS (SELECT doc_id, isl, CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + 8 AS BIGINT) AS e
             FROM i2 GROUP BY 1, 2),
      agg AS (SELECT doc_id, count(*) AS n_spans, CAST(sum(e - s) AS BIGINT) AS n_removed,
                list(s ORDER BY s) AS ss, list(e ORDER BY s) AS es
              FROM sp GROUP BY 1)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_spans,
        CAST(coalesce(a.n_removed, 0) AS BIGINT) AS n_removed,
        coalesce(array_to_string(list_filter(t.toks,
          (tok, i) -> len(list_filter(coalesce(a.ss, CAST([] AS BIGINT[])),
              (s2, j) -> s2 <= i - 1 AND i - 1 < a.es[j])) = 0), ' '), '') AS clean_text
      FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id
      ORDER BY t.doc_id"""),
    headline = true)

  /** Test-set DECONTAMINATION — the benchmark-overlap pass every
    * pretraining pipeline runs before a corpus ships: a training document
    * is contaminated when it shares any 5-token n-gram with the held-out
    * probe set (here `doc_id % 97 == 0` plays the benchmark). The n-gram
    * overlap form is the public standard (GPT-3 appendix C / PaLM-style
    * 8-to-13-gram collision checks, scaled to this corpus' ~50-token
    * docs).
    *
    * Scale shape: the probe set is benchmark-sized — its distinct grams
    * BROADCAST; the corpus side is explode → broadcast-semi-join →
    * distinct on doc_id, so the only exchange moves contaminated doc ids
    * (the semi-join kills clean grams map-side). Nothing is ever
    * pairwise in corpus × corpus. Graded hash-exact: grams are the
    * STRING shingles ([[graft.ops.TextOps.shingles]]) so the DuckDB
    * mirror builds the identical sets with a list comprehension.
    */
  /** The decontamination pair's SHARED gram derivations (q69 exact,
    * q106 bloom-prefiltered — one definition so the two graded paths
    * cannot drift): distinct probe 5-grams (persisted — q106 hits it
    * with three driver jobs: count, bloom build, broadcast) and the
    * per-training-doc gram stream. */
  private def probeGrams5(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "probe_grams5") {
      Tables.documents(s, d).filter(col("doc_id") % 97 === 0)
        .select(explode(TextOps.shingles(col("text"), 5)).as("g"))
        .distinct()
    }
  private def trainGrams5(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))

  val q69 = Q(
    "q69_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val contaminated = trainGrams5(s, d)
        .join(broadcast(probeGrams5(s, d)), Seq("g"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      docs.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy("doc_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(
              [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
               for i in range(1, greatest(len(toks) - 4, 0) + 1)])) AS g
            FROM t),
      probe AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
      cont AS (SELECT DISTINCT g.doc_id FROM g JOIN probe USING (g)
               WHERE g.doc_id % 97 <> 0)
      SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
      FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the broadcast-probe decontamination join is the
    // corpus-shaped shape a perf regression would hit silently otherwise
    headline = true)

  /** Incremental near-dup admission — the production dedup shape: an
    * incoming batch (doc_id % 3 == 0 plays the part) is admitted against
    * the RESIDENT corpus band index ([[minhashBandsCached]]) instead of
    * re-pairing the whole corpus. Each batch doc is classified:
    * `dup_corpus` (Jaccard ≥ 0.8 vs any corpus doc — corpus precedence),
    * else `dup_batch` (vs a lower-id batch doc, the same keep-first
    * policy as q78's semantic pass), else `new`. Candidates come from
    * the shared 16x4 banding (LSH ≡ exact at J ≥ 0.8 — miss probability
    * ~1e-15, the q36 spec's pin), then exact-Jaccard verify, so the
    * grade is deterministic.
    *
    * Scale posture: only batch-sized data is shingled/banded fresh; the
    * batch↔corpus candidate join keys on (band_idx, band_hash) against
    * the resident index with the same `capBuckets` straggler guard, and
    * the within-batch self-join is batch×batch-bounded. Nothing ever
    * re-pairs corpus×corpus — that cost was paid once, at ingest.
    */
  val q83 = Q(
    "q83_incremental_dedup",
    (s, d) => {
      val isBatch = col("doc_id") % 3 === 0
      val capped = cappedBandsCached(s, d)
      def side(n: String, batch: Boolean): DataFrame =
        capped.filter(if (batch) isBatch else !isBatch)
          .select(col("doc_id").as(s"doc_$n"), col("band_idx"), col("band_hash"))
      // batch vs resident corpus: corpus id rides doc_a, batch id doc_b
      val candsCorpus = side("a", batch = false)
        .join(side("b", batch = true), Seq("band_idx", "band_hash"))
        .select("doc_a", "doc_b").distinct()
      val candsBatch = side("a", batch = true)
        .join(side("b", batch = true), Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      val dupCorpus = verified(s, d, candsCorpus, 4, 5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__dc", lit(true))
      val dupBatch = verified(s, d, candsBatch, 4, 5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__db", lit(true))
      Tables.documents(s, d).filter(isBatch).select("doc_id")
        .join(dupCorpus, Seq("doc_id"), "left")
        .join(dupBatch, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__dc"), "dup_corpus")
            .when(col("__db"), "dup_batch")
            .otherwise("new").as("status"))
        .orderBy("doc_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      batch AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
      corpus AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
      dupc AS (SELECT DISTINCT b.doc_id FROM batch b JOIN corpus c
               ON CAST(len(list_intersect(b.shingles, c.shingles)) AS DOUBLE)
                  / (len(b.shingles) + len(c.shingles) - len(list_intersect(b.shingles, c.shingles))) >= 0.8),
      dupb AS (SELECT DISTINCT b.doc_id FROM batch b JOIN batch a
               ON a.doc_id < b.doc_id
              AND CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                  / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8)
      SELECT doc_id,
        CASE WHEN doc_id IN (SELECT doc_id FROM dupc) THEN 'dup_corpus'
             WHEN doc_id IN (SELECT doc_id FROM dupb) THEN 'dup_batch'
             ELSE 'new' END AS status
      FROM batch ORDER BY doc_id"""),
    // headline since round 8 (annex row in BASELINE.md; frozen table
    // untouched) — the incremental-admission joins are the dedup
    // family's production path and deserve their own perf gate
    headline = true)

  /** Bloom-prefiltered decontamination — q69's semantics through a
    * sketch-accelerated scan: the probe 5-gram set builds ONE Bloom
    * filter (3% fpp, `DataFrameStatFunctions.bloomFilter`), the
    * training grams are pruned by it at scan speed, and only the
    * bloom-survivors pay the exact semi-join that kills the false
    * positives. The graded answer is BYTE-EQUAL to q69's (the oracle IS
    * the exact computation): a bloom can only ADMIT extra candidates,
    * never drop a true match, and the exact verify removes the extras —
    * the sketch changes the plan, not the answer (q103's salting
    * contract, applied to the sketch tier).
    *
    * 100-TB posture: q69's broadcast semi-join must ship the probe
    * grams as a full hash relation; the bloom carries ~9 bits/gram, an
    * order of magnitude less, so the scan-speed prune stays
    * broadcastable far past the point the set form spills — and the
    * exact join then runs over the ~fpp-sized survivor stream instead
    * of every training gram. (Spark's own runtime bloom pruning — the
    * PlanSpec-pinned injected form — covers equi-joins; this operator
    * is the explicit form for when the probe relation is a separate
    * curated set.)
    */
  val q106 = Q(
    "q106_bloom_prefilter",
    (s, d) => {
      val docs = Tables.documents(s, d)
      val probeGrams = probeGrams5(s, d) // persisted — 3 driver jobs below
      // driver-built over the (small, curated) probe side only — the
      // same smallness contract q69's broadcast already assumes; sized
      // from the actual distinct-gram count (a fixed 1M capacity shipped
      // a ~1.2 MiB bloom in every task closure for a ~5k-gram set)
      val expected = math.max(1000L, probeGrams.count())
      val bloom = probeGrams.stat.bloomFilter("g", expected, 0.03)
      val mightContain = udf((g: String) => bloom.mightContain(g))
      val contaminated = trainGrams5(s, d)
        .filter(mightContain(col("g")))
        .join(broadcast(probeGrams), Seq("g"), "left_semi")
        .select("doc_id").distinct()
        .withColumn("contaminated", lit(true))
      docs.filter(col("doc_id") % 97 =!= 0)
        .join(contaminated, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("contaminated"), lit(false)).as("contaminated"))
        .orderBy("doc_id")
    },
    // the oracle is exact decontamination — identical to q69's, which is
    // precisely the point being graded
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      g AS (SELECT doc_id, unnest(list_distinct(
              [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]
               for i in range(1, greatest(len(toks) - 4, 0) + 1)])) AS g
            FROM t),
      probe AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
      cont AS (SELECT DISTINCT g.doc_id FROM g JOIN probe USING (g)
               WHERE g.doc_id % 97 <> 0)
      SELECT d.doc_id, (c.doc_id IS NOT NULL) AS contaminated
      FROM documents d LEFT JOIN cont c ON d.doc_id = c.doc_id
      WHERE d.doc_id % 97 <> 0
      ORDER BY d.doc_id"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Prefix-filtered EXACT set-similarity join (the PPJoin/AllPairs
    * posture — Xiao et al., WWW'08; Bayardo et al., WWW'07) at J >= 4/5:
    * the third member of the exact-Jaccard family, with a different scale
    * contract than its siblings. q38 bounds candidate generation by
    * CAPPING shingle df (lossy above the cap, by a measured curve);
    * minhash (q36) bounds it probabilistically (lossy by banding
    * theory). Prefix filtering bounds it EXACTLY: order every shingle by
    * global (df, fingerprint) rare-first, keep each doc's first
    * n − ceil(θ·n) + 1 shingles, and ANY pair with true Jaccard >= θ
    * must collide on a prefix shingle — if the smallest (in that order)
    * common shingle g sat outside A's prefix, fewer than ceil(θ·|A|) <=
    * |A∩B| common shingles could follow it, a contradiction. So the
    * candidate join runs over the rarest ~20% of each doc's shingles
    * (exactly the ones with small df — the join's per-key fan-out is
    * df², and prefix membership anti-correlates with df BY CONSTRUCTION),
    * with ZERO recall loss. The exact size prefilter (5·min >= 4·max) and
    * the single-intersect rational verify are [[verified]], shared with
    * the whole family.
    *
    * Shape at scale: shingle df is a vocabulary-sized aggregate; the
    * per-doc prefix rank is a doc-keyed window over the exploded relation
    * (bounded per-doc width); candidates group by shingle fingerprint —
    * the one fan-out point, bounded by prefix-df, not raw df. Everything
    * downstream of the distinct is candidate-sized.
    */
  val q114 = Q(
    "q114_prefix_filter_join",
    (s, d) => {
      val cands = DedupOps.prefixFilterCandidates(
        shingled(s, d), "doc_id", "shingles", 4L, 5L)
      verified(s, d, cands, 4L, 5L)
    },
    Some(jaccardOracleSql(0.8)),
    headline = true)

  /** Cluster-representative selection — the step AFTER q39's clustering:
    * a production dedup keeps the BEST document of each near-dup cluster
    * (longest here — n_chars, ties to the smallest doc_id), not the
    * arbitrary smallest-id canonical node. One map-side-combined
    * `max_by(struct)` per component over the CC output joined to the
    * corpus metadata — no window, no sort; the struct comparison
    * realizes the (quality DESC, id ASC) policy exactly in both engines
    * (negated doc_id in the ordering key). Exact integers: hash-exact.
    */
  val q122 = Q(
    "q122_cluster_representatives",
    (s, d) => {
      val pairs = minhashNearDupPairs(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val cc = DedupOps.connectedComponents(pairs)
      cc.join(Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          cc("id") === col("doc_id"))
        .groupBy("comp")
        .agg(count(lit(1)).as("n_docs"),
          max_by(struct(col("doc_id").as("rep_doc_id"), col("n_chars").as("rep_chars")),
            struct(col("n_chars"), negate(col("doc_id")))).as("rep"))
        .select(col("comp"), col("n_docs"),
          col("rep.rep_doc_id").as("rep_doc_id"), col("rep.rep_chars").as("rep_chars"))
        .orderBy("comp")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
      walk(id, reach) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.reach),
      cc AS (SELECT id, min(reach) AS comp FROM walk GROUP BY id)
      SELECT comp, n_docs, doc_id AS rep_doc_id, n_chars AS rep_chars FROM (
        SELECT cc.comp, CAST(count(*) OVER (PARTITION BY comp) AS BIGINT) AS n_docs,
          d.doc_id, d.n_chars,
          row_number() OVER (PARTITION BY comp ORDER BY d.n_chars DESC, d.doc_id) AS rn
        FROM cc JOIN documents d ON d.doc_id = cc.id) t
      WHERE rn = 1 ORDER BY comp"""),
    headline = true)

  /** Leakage-safe train/val/test split: the split key is the near-dup
    * CLUSTER label, not the document, so near-duplicate pairs can never
    * straddle a split boundary — the eval-contamination bug a per-doc
    * hash split (q44) structurally cannot prevent (two 0.9-Jaccard
    * copies hash independently and land train/test ~32% of the time at
    * 80/10/10). Composition: q39's verified MinHash-LSH pair chain →
    * connected components labels each duplicated doc with its cluster
    * representative; singletons (the overwhelming majority) label
    * themselves via a left join + coalesce, so the label relation the
    * join carries is only PAIR-sized. q44's portable md5-mod split then
    * keys on the LABEL, and cluster size rides along so a selector can
    * audit how much correlated mass each split absorbed.
    *
    * Scale shape: components run on the verified pair set (tiny next to
    * the corpus — LSH-banded, cap-bounded); the label join and the size
    * aggregate are comp-keyed with map-side partials; the split itself
    * is a per-row projection. Nothing after the band probe re-touches
    * `text`.
    */
  /** Every doc's dup-cluster label + cluster size — q144's composition
    * up to (but not including) the split projection, factored out so the
    * attribute artifact ([[graft.pipeline.AttrTable]]) can freeze the
    * SAME graded definition as columns (q149 then runs the split as a
    * narrow projection over the artifact — the q138 lesson applied to
    * assembly). Components run on the PAIR-sized verified relation and
    * depend only on the session and the corpus, so they are memoized
    * (the iterative probe-and-label build runs once per session, not per
    * call); singletons label themselves via left join + coalesce. */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    val comps = graft.Memo.cached(s, d, "minhash_components") {
      DedupOps.connectedComponents(minhashNearDupPairs(s, d)
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
        .select(col("id").as("doc_id"), col("comp"))
    }
    val lab = Tables.documents(s, d).select("doc_id")
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"))
    val sz = lab.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    lab.join(sz, "comp")
  }

  val q144 = Q(
    "q144_cluster_split",
    (s, d) => {
      clusterLabels(s, d)
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          graft.ops.SampleOps.splitAssign(col("comp"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"))
        .orderBy("doc_id")
    },
    Some("""
      WITH RECURSIVE sh AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b AS a, doc_a AS b FROM pairs),
      walk(id, reach) AS (
        SELECT DISTINCT a, a FROM sym
        UNION
        SELECT w.id, s.b FROM walk w JOIN sym s ON s.a = w.reach),
      cc AS (SELECT id AS doc_id, min(reach) AS comp FROM walk GROUP BY id),
      lab AS (SELECT d.doc_id, coalesce(cc.comp, d.doc_id) AS comp
              FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id),
      sz AS (SELECT comp, count(*) AS cluster_size FROM lab GROUP BY comp)
      SELECT lab.doc_id, lab.comp, CAST(sz.cluster_size AS BIGINT) AS cluster_size,
        CASE WHEN CAST(concat('0x', substr(md5(CAST(lab.comp AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 80 THEN 'train'
             WHEN CAST(concat('0x', substr(md5(CAST(lab.comp AS VARCHAR)), 1, 4)) AS INTEGER) % 100 < 90 THEN 'val'
             ELSE 'test' END AS split
      FROM lab JOIN sz ON lab.comp = sz.comp
      ORDER BY lab.doc_id"""),
    headline = true)

  val defs: Seq[Q] = Seq(q35, q36, q37, q38, q39, q57, q69, q83, q106, q114,
    q122, q128, q130, q134, q141, q144)
}
