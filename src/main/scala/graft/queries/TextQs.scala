package graft.queries

import graft.{Q, Tables}
import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis family over `documents` (SURVEY.md §2.5 + the
  * training-data-pipeline mandate): term frequency, quality scoring,
  * language-ID, fingerprinting, token counting. All pure column
  * expressions from [[graft.ops.TextOps]] — codegen'd, shuffle only where
  * the aggregation itself demands it.
  */
object TextQs {

  /** Top-10 terms per language: tokenize → explode → count → rank.
    * The groupBy is the only exchange; explode stays pipelined.
    */
  val q30 = Q(
    "q30_term_frequency",
    (s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
      Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("lang", "token")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w).cast("int"))
        .filter(col("rn") <= 10)
        .orderBy("lang", "rn")
    },
    Some("""
      SELECT lang, token, cnt, rn FROM (
        SELECT lang, token, count(*) AS cnt,
          CAST(row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, token) AS INT) AS rn
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang, token) t
      WHERE rn <= 10 ORDER BY lang, rn"""),
    headline = true)

  /** Per-document quality metrics: token count, type-token ratio, mean
    * token length, stopword ratio, plus a boolean keep-gate — the shape of
    * a pretraining quality filter. Zero shuffles (pure projection).
    */
  val q31 = Q(
    "q31_text_quality",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val nTypes = size(array_distinct(toks))
      val nStop = size(filter(toks, t => t === "the" || t === "a"))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          nTok.cast("int").as("n_tokens"),
          (nTypes.cast("double") / nTok.cast("double")).as("ttr"),
          ((length(col("text")) - (nTok - lit(1))).cast("double") / nTok.cast("double")).as("avg_tok_len"),
          (nStop.cast("double") / nTok.cast("double")).as("stop_ratio"),
          (nTok >= 40 && nTok <= 110 && nTypes >= 25).as("keep"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
        CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')) AS ttr,
        CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
          / len(string_split(text, ' ')) AS avg_tok_len,
        CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
          / len(string_split(text, ' ')) AS stop_ratio,
        (len(string_split(text, ' ')) BETWEEN 40 AND 110
          AND len(list_distinct(string_split(text, ' '))) >= 25) AS keep
      FROM documents ORDER BY doc_id"""))

  /** Quality-filter cascade (C4/Gopher/RefinedWeb shape): every gate
    * evaluated on every document with PER-RULE attribution packed into
    * an integer bitmask — the form ablation studies need (which rule
    * fired, not just keep/drop; `fail_mask == 0` IS the keep decision).
    * All gates are integer comparisons (the token-length band uses
    * cross-multiplied integer bounds, no ratio floats), so the mask is
    * engine-portable by construction. One narrow codegen'd projection,
    * no shuffle — at 100 TB this runs at scan speed next to the
    * heavier signals (q48's repetition gate joins in the same way when
    * a recipe includes it).
    */
  val q82 = Q(
    "q82_filter_cascade",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val nTok = size(toks)
      val nTypes = size(array_distinct(toks))
      val nStop = size(filter(toks, t => t === "the" || t === "a"))
      // chars excluding the single-space separators
      val chars = length(col("text")) - (nTok - lit(1))
      val r1 = !(nTok >= 40 && nTok <= 110)          // length band
      val r2 = nTypes < 25                           // type diversity
      val r3 = nStop === 0                           // stopword presence
      val r4 = chars < nTok * 3 || chars > nTok * 10 // mean token length in [3,10]
      Tables.documents(s, d)
        .select(col("doc_id"),
          (r1.cast("int") + r2.cast("int") * 2 + r3.cast("int") * 4 +
            r4.cast("int") * 8).as("fail_mask"))
        .withColumn("keep", col("fail_mask") === 0)
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, fail_mask, fail_mask = 0 AS keep FROM (
        SELECT doc_id,
          CAST(NOT (len(toks) BETWEEN 40 AND 110) AS INT)
          + CAST(len(list_distinct(toks)) < 25 AS INT) * 2
          + CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) = 0 AS INT) * 4
          + CAST(length(text) - (len(toks) - 1) < len(toks) * 3
              OR length(text) - (len(toks) - 1) > len(toks) * 10 AS INT) * 8
          AS fail_mask
        FROM (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents) t0
      ) t ORDER BY doc_id"""))

  /** The COMPOSED cascade a production pretraining recipe runs: q82's
    * four surface gates plus q48's repetition gate as a fifth rule
    * (bit 16) in the same attribution mask. Exercises the
    * narrow-projection × aggregated-signal join under one grade: the
    * surface mask is a pure codegen'd projection, the repetition
    * fractions are the two map-side-combined n-gram aggregations of
    * [[repetitionFractions]], and the doc-keyed join lines them up.
    * The repetition rule fires only on a MEASURED failure — a doc too
    * short to have n-grams (NULL fractions) passes the gate, matching
    * q48's left-join NULL convention under `coalesce(..., false)`.
    */
  /** q84's composed mask, DataFrame-parameterized: the four surface
    * gates + the repetition gate over an arbitrary docs relation. Every
    * rule is a per-doc function, so a batch masks identically alone or
    * inside the corpus — the incremental-tagging invariant. */
  private[graft] def cascadeMaskOf(docs: DataFrame,
      wide: Boolean = false): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val nTok = size(toks)
    val nTypes = size(array_distinct(toks))
    val nStop = size(filter(toks, t => t === "the" || t === "a"))
    val chars = length(col("text")) - (nTok - lit(1))
    val r1 = !(nTok >= 40 && nTok <= 110)
    val r2 = nTypes < 25
    val r3 = nStop === 0
    val r4 = chars < nTok * 3 || chars > nTok * 10
    val surface = docs
      .select(col("doc_id"),
        (r1.cast("int") + r2.cast("int") * 2 + r3.cast("int") * 4 +
          r4.cast("int") * 8).as("surface"))
    val r5 = coalesce(col("top2") > 0.2 || col("dup3") > 0.4, lit(false))
    surface.join(repetitionFractionsOf(docs, wide), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("surface") + r5.cast("int") * 16).as("fail_mask"))
      .withColumn("keep", col("fail_mask") === 0)
      .orderBy("doc_id")
  }

  val q84 = Q(
    "q84_cascade_repetition",
    (s, d) => cascadeMaskOf(Tables.documents(s, d), wide = wideFingerprints(s)),
    Some("""
      WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
      g2 AS (SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1]
            for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS g FROM w) t
        GROUP BY doc_id, g),
      a2 AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot2 FROM g2 GROUP BY doc_id),
      g3 AS (SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS g FROM w) t
        GROUP BY doc_id, g),
      a3 AS (SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc,
               sum(c) AS tot3 FROM g3 GROUP BY doc_id),
      m AS (SELECT w.doc_id,
          CAST(NOT (len(toks) BETWEEN 40 AND 110) AS INT)
          + CAST(len(list_distinct(toks)) < 25 AS INT) * 2
          + CAST(len(list_filter(toks, t -> t IN ('the', 'a'))) = 0 AS INT) * 4
          + CAST(length(text) - (len(toks) - 1) < len(toks) * 3
              OR length(text) - (len(toks) - 1) > len(toks) * 10 AS INT) * 8
          + CAST(COALESCE(CAST(a2.mx AS DOUBLE) / a2.tot2 > 0.2
              OR CAST(a3.dupc AS DOUBLE) / a3.tot3 > 0.4, FALSE) AS INT) * 16
          AS fail_mask
        FROM w LEFT JOIN a2 ON w.doc_id = a2.doc_id
               LEFT JOIN a3 ON w.doc_id = a3.doc_id)
      SELECT doc_id, fail_mask, fail_mask = 0 AS keep FROM m ORDER BY doc_id"""),
    // headline since round 9 (annex row in BASELINE.md) — corpus-shaped
    // projection × aggregation join, the profile that regresses silently
    headline = true)

  /** Language ID by marker-trigram occurrence scoring (argmax over the
    * built-in profiles, ties to the alphabetically first language).
    * Occurrences via length/replace, so the oracle reproduces it exactly.
    */
  val q32 = Q(
    "q32_lang_id",
    (s, d) => {
      // sortBy: the tie-break contract is "alphabetically first", which
      // must not depend on langMarkers' declaration order (ADVICE r18)
      val scoreCols = TextOps.langMarkers.sortBy(_._1).map { case (l, ms) =>
        l -> TextOps.langScore(col("text"), ms)
      }
      val best = scoreCols.map(_._2).reduce(greatest(_, _))
      // ties go to the alphabetically-first language, so earlier langs must
      // sit outermost in the when-chain (hence reverse + foldLeft)
      val predFirst = scoreCols.reverse.foldLeft(lit("und")) { case (acc, (l, sc)) =>
        when(sc === best && best > 0, lit(l)).otherwise(acc)
      }
      Tables.documents(s, d)
        .select(
          (Seq(col("doc_id"), col("lang"), predFirst.as("pred_lang")) ++
            scoreCols.map { case (l, sc) => sc.as(s"score_$l") }): _*)
        .orderBy("doc_id")
    },
    Some {
      val occ = (p: String) =>
        s"CAST((length(text) - length(replace(text, '$p', ''))) / ${p.length} AS INT)"
      val scores = TextQsOracle.markers.map { case (l, ms) =>
        l -> ms.map(occ).mkString("(", " + ", ")")
      }
      val best = "greatest(" + scores.map(_._2).mkString(", ") + ")"
      val pred = scores
        .map { case (l, sc) => s"WHEN $sc = __best AND __best > 0 THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      SELECT doc_id, lang, $pred AS pred_lang,
        ${scores.map { case (l, sc) => s"CAST($sc AS INT) AS score_$l" }.mkString(", ")}
      FROM (SELECT *, $best AS __best FROM documents)
      ORDER BY doc_id"""
    })

  /** Exact-dup fingerprint + shingle stats per document (the cheap first
    * pass of the dedup cascade; near-dup is DedupQs). */
  val q33 = Q(
    "q33_fingerprint",
    (s, d) => {
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          TextOps.fingerprint(col("text")).as("fp"),
          substring(TextOps.fingerprint(col("text")), 1, 8).as("fp_bucket"),
          size(TextOps.shingles(col("text"))).cast("int").as("n_shingles"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, md5(lower(text)) AS fp, substr(md5(lower(text)), 1, 8) AS fp_bucket,
        CAST(len(list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
               || ' ' || string_split(text, ' ')[i+2]
             for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)])) AS INT)
          AS n_shingles
      FROM documents ORDER BY doc_id"""))

  /** Token counting three ways: whitespace, regex word-ish tokens, and a
    * BPE-style size estimate (chars/4 is the common public rule-of-thumb).
    */
  val q34 = Q(
    "q34_token_count",
    (s, d) => {
      val ws = size(split(col("text"), " "))
      val re = size(filter(split(col("text"), "[^a-z0-9]+"), t => t =!= ""))
      Tables.documents(s, d)
        .select(
          col("doc_id"),
          ws.cast("int").as("n_ws_tokens"),
          re.cast("int").as("n_re_tokens"),
          ceil(length(col("text")).cast("double") / 4.0).cast("int").as("n_bpe_est"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id,
        CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
        CAST(len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), t -> t <> '')) AS INT)
          AS n_re_tokens,
        CAST(ceil(CAST(length(text) AS DOUBLE) / 4.0) AS INT) AS n_bpe_est
      FROM documents ORDER BY doc_id"""))

  /** Deterministic train/val/test split ([[graft.ops.SampleOps]]): md5
    * hash-mod bucketing on the doc key — stable across runs, engines,
    * and repartitioning (which `rand()`/`sample()` are not), so the
    * DuckDB oracle reproduces membership bit-for-bit. 80/10/10 with
    * per-split counts, char volume, and language diversity.
    */
  val q44 = Q(
    "q44_hash_split",
    (s, d) => {
      Tables.documents(s, d)
        .groupBy(graft.ops.SampleOps.splitAssign(col("doc_id"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        .orderBy("split")
    },
    Some("""
      SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        count(*) AS n_docs,
        CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM (SELECT n_chars, lang,
              CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS b
            FROM documents) t
      GROUP BY 1 ORDER BY split"""))

  /** Vocabulary building + document encoding — the tokenize step of a
    * training pipeline: token ids assigned deterministically by
    * (frequency desc, token asc), every document re-emitted as its
    * (position, token, id) sequence. Scale shape: the corpus is only
    * touched by narrow ops + one broadcast join (the vocab, being
    * POST-aggregation, is vocab-sized — small); the single-partition
    * ranking window runs on that small relation, never the corpus.
    * Output is exploded to scalar rows so the oracle compare is
    * cell-exact (1-based positions, matching DuckDB's lambda index).
    */
  val q45 = Q(
    "q45_vocab_encode",
    (s, d) => {
      val flat = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(TextOps.tokens(col("text"))).as(Seq("pos0", "tok")))
        .select(col("doc_id"), (col("pos0") + 1).cast("int").as("pos"), col("tok"))
      // minCount = 1: the exact unfiltered ranking the oracle reproduces
      val vocab = TextOps.buildVocab(flat, "tok", minCount = 1L)
      flat.join(broadcast(vocab), "tok")
        .select("doc_id", "pos", "tok", "tid")
        .orderBy("doc_id", "pos")
    },
    Some("""
      WITH flat AS (
        SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
          SELECT doc_id,
            unnest(list_transform(string_split(text, ' '), (t, i) -> {'tok': t, 'pos': i})) AS u
          FROM documents) t),
      vocab AS (
        SELECT tok, CAST(row_number() OVER (ORDER BY count(*) DESC, tok) AS BIGINT) AS tid
        FROM flat GROUP BY tok)
      SELECT f.doc_id, CAST(f.pos AS INT) AS pos, f.tok, v.tid
      FROM flat f JOIN vocab v USING (tok)
      ORDER BY doc_id, pos"""),
    headline = true)

  /** Sequence packing — the pre-training step that lays tokenized docs
    * end-to-end into fixed-length (2048) training sequences: every doc
    * gets its global token offset and the sequence id it starts in.
    *
    * The global offset is a prefix sum over doc order. The naive form is
    * a window over ONE partition of the whole corpus — a driver-sized
    * bottleneck at 100 TB — so this uses the two-level distributed prefix
    * sum in [[graft.ops.PrefixOps]], whose bucket COUNT is fixed (a small
    * multiple of the shuffle parallelism) and whose width adapts to the
    * observed id range: no relation, window partition, or broadcast in the
    * plan grows with the corpus (`PrefixSumSpec` pins the bound).
    * Identical output to the naive cumsum, which is what the DuckDB
    * oracle runs.
    */
  val q46 = Q(
    "q46_sequence_pack",
    (s, d) => {
      val SeqLen = 2048L
      val docTok = Tables.documents(s, d)
        .select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      graft.ops.PrefixOps
        .withExclusivePrefixSum(docTok, "doc_id", "n_tokens", "global_offset")
        .select(col("doc_id"), col("n_tokens"), col("global_offset"),
          // integer `div`, not `/`: Spark's / on longs is double division
          expr(s"global_offset div $SeqLen").as("seq_id"))
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, n_tokens,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS global_offset,
        CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT) AS seq_id
      FROM (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents) t
      ORDER BY doc_id"""),
    headline = true)

  /** Language rebalancing ([[graft.ops.SampleOps.stratifiedCap]]): cap
    * every language at 50 docs, picked in md5-of-key order so the
    * downsample is deterministic but not "first N in file order". The
    * oracle reproduces the exact membership from the same md5 ranking.
    */
  val q47 = Q(
    "q47_balanced_sample",
    (s, d) => {
      graft.ops.SampleOps.stratifiedCap(
          Tables.documents(s, d).select("doc_id", "lang"),
          col("lang"), col("doc_id"), cap = 50)
        .orderBy("lang", "doc_id")
    },
    Some("""
      SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents) t
      WHERE rk <= 50 ORDER BY lang, doc_id"""),
    headline = true)

  /** Mixture sampling ([[graft.ops.SampleOps.mixtureSample]]): per-source
    * keep rates — the training-data mixing step (source weights à la
    * Pile/LLaMA data recipes) as deterministic hash membership, graded
    * on the EXACT kept set. Nested-sample property (a row kept at 25%
    * stays kept at 50%) makes recipe re-weights reproducible without
    * re-materializing the corpus; pure projection+filter, no shuffle.
    */
  val q81 = Q(
    "q81_mixture_sample",
    (s, d) => {
      graft.ops.SampleOps.mixtureSample(
          Tables.documents(s, d).select("doc_id", "source"),
          col("source"), col("doc_id"),
          rates = Map("src0" -> 100, "src1" -> 50, "src2" -> 25, "src3" -> 10),
          defaultPct = 75)
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, source FROM (
        SELECT doc_id, source,
          CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS b
        FROM documents) t
      WHERE b < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
                            WHEN 'src2' THEN 25 WHEN 'src3' THEN 10 ELSE 75 END
      ORDER BY doc_id"""))

  /** Repetition quality signals (the Gopher/C4 pretraining filters q31's
    * surface metrics don't see): per document, the most-frequent-2-gram
    * fraction (`top2`) and the duplicate-3-gram fraction (`dup3`), NULL
    * where the doc has no n-grams. Shared by q48 (which grades the raw
    * fractions plus the keep-gate) and q84 (which folds the gate into
    * the cascade's attribution mask). Shape: one `ngram_hash64` explode per
    * n → partial-aggregated count keyed (doc_id, gram) → per-doc
    * aggregate — corpus rows only ever carry 8-byte fingerprints, and
    * both aggregations map-side-combine before their exchange. The
    * 64-bit fingerprints stand in for the string grams exactly as in
    * q38: injective on the corpus, and a collision could only merge two
    * grams, never split one.
    *
    * Unlike q38's SET semantics (where a collision only perturbs
    * membership), these are MULTISET counts: a single in-doc collision
    * would shift `mx`/`dupc` and so the graded fractions. Accepted for
    * benchmark corpora (64-bit FNV-1a over ~10^5 grams/doc puts the
    * per-doc birthday probability near 10^-10); for adversarial or
    * user-supplied corpora set `spark.graft.repetition.fingerprintBits`
    * to `128` and the grams group on [[TextOps.ngramHashes128]]'s
    * two-lane struct instead (both lanes from one byte walk; a count
    * shift then needs a simultaneous collision in two independent FNV
    * bases — `RepetitionBitsSpec` pins the two paths count-identical).
    *
    * Documents with fewer than n tokens have no n-grams: their fractions
    * (and the gate) are NULL in both engines via the left join.
    */
  private def repetitionFractions(s: SparkSession, d: String): DataFrame =
    repetitionFractionsOf(Tables.documents(s, d), wide = wideFingerprints(s))

  /** Whether `spark.graft.repetition.fingerprintBits` is `128`, i.e. the
    * repetition signals group grams on [[TextOps.ngramHashes128]]. The
    * one read of the key: q84, q136 and the incremental attribute build
    * all take the width from here, so they cannot diverge. */
  private[graft] def wideFingerprints(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.repetition.fingerprintBits").contains("128")

  /** [[repetitionFractions]]'s DataFrame-parameterized core — per-doc
    * signals only, so a BATCH of documents scores identically whether
    * tagged alone or inside the full corpus (the property the
    * incremental attribute path relies on). */
  private[graft] def repetitionFractionsOf(docs: DataFrame,
      wide: Boolean = false): DataFrame = {
    def gramCounts(n: Int): DataFrame =
      docs
        .select(col("doc_id"), explode(
          if (wide) TextOps.ngramHashes128(col("text"), n)
          else TextOps.ngramHashes(col("text"), n)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val a2 = gramCounts(2).groupBy("doc_id")
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot2"))
    val a3 = gramCounts(3).groupBy("doc_id")
      .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dupc"),
        sum(col("c")).as("tot3"))
    docs.select(col("doc_id"))
      .join(a2, Seq("doc_id"), "left")
      .join(a3, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("mx").cast("double") / col("tot2").cast("double")).as("top2"),
        (col("dupc").cast("double") / col("tot3").cast("double")).as("dup3"))
  }

  val q48 = Q(
    "q48_repetition",
    (s, d) =>
      repetitionFractions(s, d)
        .select(col("doc_id"),
          col("top2").as("top_2gram_frac"),
          col("dup3").as("dup_3gram_frac"),
          (col("top2") <= 0.2 && col("dup3") <= 0.4).as("keep"))
        .orderBy("doc_id"),
    Some("""
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      g2 AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
            for i in range(1, greatest(len(w) - 1, 0) + 1)]) AS g FROM w) t
        GROUP BY doc_id, g),
      a2 AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot2 FROM g2 GROUP BY doc_id),
      g3 AS (
        SELECT doc_id, g, count(*) AS c FROM (
          SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
            for i in range(1, greatest(len(w) - 2, 0) + 1)]) AS g FROM w) t
        GROUP BY doc_id, g),
      a3 AS (SELECT doc_id,
               sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dupc, sum(c) AS tot3
             FROM g3 GROUP BY doc_id)
      SELECT d.doc_id,
        CAST(a2.mx AS DOUBLE) / a2.tot2 AS top_2gram_frac,
        CAST(a3.dupc AS DOUBLE) / a3.tot3 AS dup_3gram_frac,
        (CAST(a2.mx AS DOUBLE) / a2.tot2 <= 0.2
          AND CAST(a3.dupc AS DOUBLE) / a3.tot3 <= 0.4) AS keep
      FROM documents d
      LEFT JOIN a2 ON d.doc_id = a2.doc_id
      LEFT JOIN a3 ON d.doc_id = a3.doc_id
      ORDER BY d.doc_id"""),
    // headline since round 6 (annex row in BASELINE.md; frozen table
    // untouched) — the repetition filters are a core dedup-adjacent path
    headline = true)

  /** (doc_id, tok, tf) term-frequency relation, persisted ONCE per
    * (session, dir) — cached like q36/q43's band relations: tf sits on
    * the probe side AND under df's BroadcastExchange, where
    * ReusedExchange can't fire, so uncached the tokenize→explode→
    * (doc, tok) aggregation would run twice per query. Shared by q49
    * (keyword extraction) and q112 (ranked retrieval) — one definition,
    * one cache entry across a Verify/Bench run.
    */
  private def tfRelation(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "tfidf_tf") {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    }

  /** Keyword extraction — top-3 terms per document by tf·idf ORDER,
    * realized as the integer ranking (tf desc, df asc, token asc). For a
    * fixed document this is exactly the tf·idf ordering wherever it is
    * strict (idf strictly decreases in df), and the integer tiebreak
    * makes the rest deterministic — no ln()/float scores whose last-ulp
    * differences across engines would flip ranks in the oracle compare.
    * Shape: explode → (doc, term) partial-agg → term-keyed df join →
    * per-doc top-k window (WindowGroupLimit prunes before the exchange).
    * The df relation is POST-aggregation (vocabulary-sized, zipf-small
    * next to the corpus), the classic broadcast side at scale.
    */
  val q49 = Q(
    "q49_tfidf_keywords",
    (s, d) => {
      val tf = tfRelation(s, d)
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
      tf.join(broadcast(df), "tok")
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "tok", "tf", "df", "rank")
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok)
      SELECT doc_id, tok, tf, df, rank FROM (
        SELECT tf.doc_id, tf.tok, tf.tf, df.df,
          CAST(row_number() OVER (PARTITION BY tf.doc_id
            ORDER BY tf.tf DESC, df.df ASC, tf.tok) AS INT) AS rank
        FROM tf JOIN df USING (tok)) t
      WHERE rank <= 3 ORDER BY doc_id, rank"""),
    // headline since round 6 (annex row in BASELINE.md)
    headline = true)

  /** PII redaction — the corpus-cleaning pass every training-data
    * pipeline runs before anything else sees the text. The driver corpus
    * is synthetic word-salad with no PII, so the graded query PLANTS
    * deterministic PII derived from `doc_id` (an email on every doc, a
    * URL on 2/3, a phone on 1/2 — both engines construct the identical
    * augmented text in-plan), then masks it with [[TextOps.redact]]'s
    * engine-portable patterns and reports per-kind counts. Graded
    * hash-exact INCLUDING the redacted text, so the masked spans match
    * byte-for-byte across Java regex and RE2; realistic free-form
    * fixtures (multiple PII per line, adjacent punctuation, no-match
    * text) are `RedactSpec`'s job. Counts are stage-ordered: URLs
    * counted+masked first, then emails, then phones (an email inside a
    * URL is URL, not email — order pinned in [[TextOps.redact]]).
    * Shape: pure projection — no shuffle, fully codegen'd, scales with
    * row count alone.
    */
  val q64 = Q(
    "q64_pii_redact",
    (s, d) => {
      val aug = concat(
        col("text"),
        lit(" Contact user"), col("doc_id").cast("string"), lit("@mail.example.com"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit(" via https://docs.example.com/d/"), col("doc_id").cast("string"),
            lit("?ref=corpus"))).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          concat(lit(" or call +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")),
        lit("."))
      val s1 = TextOps.redactOne(col("aug"), TextOps.UrlRe, "<URL>")
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("aug"))
        .withColumn("n_url", TextOps.matchCount(col("aug"), TextOps.UrlRe))
        .withColumn("s1", s1)
        .withColumn("n_email", TextOps.matchCount(col("s1"), TextOps.EmailRe))
        .withColumn("s2", TextOps.redactOne(col("s1"), TextOps.EmailRe, "<EMAIL>"))
        .withColumn("n_phone", TextOps.matchCount(col("s2"), TextOps.PhoneRe))
        .withColumn("clean", TextOps.redactOne(col("s2"), TextOps.PhoneRe, "<PHONE>"))
        .select("doc_id", "n_url", "n_email", "n_phone", "clean")
        .orderBy("doc_id")
    },
    Some("""
      WITH aug AS (
        SELECT doc_id,
          text || ' Contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
            || CASE WHEN doc_id % 3 <> 0
                 THEN ' via https://docs.example.com/d/' || CAST(doc_id AS VARCHAR) || '?ref=corpus'
                 ELSE '' END
            || CASE WHEN doc_id % 2 = 0
                 THEN ' or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END
            || '.' AS aug
        FROM documents),
      st1 AS (
        SELECT doc_id,
          CAST(len(regexp_extract_all(aug, 'https?://[^ \t\r\n]+')) AS BIGINT) AS n_url,
          regexp_replace(aug, 'https?://[^ \t\r\n]+', '<URL>', 'g') AS s1
        FROM aug),
      st2 AS (
        SELECT doc_id, n_url,
          CAST(len(regexp_extract_all(s1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
          regexp_replace(s1, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s2
        FROM st1)
      SELECT doc_id, n_url, n_email,
        CAST(len(regexp_extract_all(s2, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}')) AS BIGINT) AS n_phone,
        regexp_replace(s2, '\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,10}', '<PHONE>', 'g') AS clean
      FROM st2 ORDER BY doc_id"""),
    // headline since round 7 (annex row in BASELINE.md)
    headline = true)

  /** Approximate STRING matching — fuzzy entity resolution of the corpus
    * vocabulary against a canonical dictionary (the product words in
    * `part.p_name`), edit distance ≤ 1: the spell-normalization /
    * entity-linking operator (map "widgt" → "widget") that none of the
    * set-similarity dedup family (minhash/simhash/Jaccard are token-SET
    * measures) covers — this one is character-level.
    *
    * Candidate generation is LENGTH-BLOCKED, not all-pairs: each
    * dictionary word emits three block keys (len−1, len, len+1 — edit
    * distance ≥ length difference, so distance-1 matches cannot cross a
    * wider gap), tokens equi-join on their length, and only blocked
    * candidates pay the `levenshtein` (a codegen'd built-in both engines
    * implement with identical unit-cost semantics). Per (token, word)
    * pair exactly one block key can match, so blocking introduces no
    * duplicates.
    *
    * Scale: the token side is vocabulary-bounded (one corpus exchange to
    * distinct it); the dictionary broadcasts; blocking divides the
    * candidate space by the length spread. A 1e8-type vocabulary would
    * add a first-character block dimension — same join, finer keys.
    */
  val q96 = Q(
    "q96_fuzzy_match",
    (s, d) => {
      val dict = Tables.part(s, d)
        .select(explode(split(col("p_name"), " ")).as("word")).distinct()
        .select(col("word"),
          explode(sequence(length(col("word")) - 1, length(col("word")) + 1))
            .as("blen"))
      val toks = Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n_occ"))
      toks.join(broadcast(dict), length(col("token")) === col("blen"))
        .filter(levenshtein(col("token"), col("word")) <= 1)
        .select(col("token"), col("word"),
          levenshtein(col("token"), col("word")).cast("long").as("dist"),
          col("n_occ"))
        .orderBy("token", "word")
    },
    Some("""
      WITH dict AS (
        SELECT DISTINCT unnest(string_split(p_name, ' ')) AS word FROM part),
      dk AS (
        SELECT word, unnest([length(word)-1, length(word), length(word)+1]) AS blen
        FROM dict),
      toks AS (
        SELECT token, count(*) AS n_occ
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY 1)
      SELECT token, word, CAST(levenshtein(token, word) AS BIGINT) AS dist, n_occ
      FROM toks JOIN dk ON length(token) = dk.blen
      WHERE levenshtein(token, word) <= 1
      ORDER BY token, word"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Sharded inverted-index build — token → sorted doc-id posting lists,
    * SEGMENTED by doc-id range (shard = doc_id div 100): the
    * index-construction operator behind retrieval/decontamination at
    * scale. Sharding is the 100-TB answer to the "common token = one
    * giant posting row" skew: a term's postings land as one bounded
    * array per segment (the Lucene/ES segment posture), and segment
    * assignment is pure arithmetic on the key — no extra exchange beyond
    * the one (token, shard) aggregate after the distinct.
    *
    * Postings are sorted in-plan and graded through a canonical string
    * image (`array_join`) — the full posting CONTENT is hash-compared,
    * not just counts, while keeping every graded column scalar (the
    * driver's cell-hash contract is only exercised on scalars).
    */
  val q98 = Q(
    "q98_posting_lists",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("token"))
        .distinct()
        .withColumn("shard", expr("doc_id div 100"))
        .groupBy("token", "shard")
        .agg(count(lit(1)).as("df_shard"),
          array_join(sort_array(collect_list(col("doc_id"))), ",").as("postings"))
        .orderBy("token", "shard")
    },
    Some("""
      WITH pairs AS (
        SELECT DISTINCT doc_id, token FROM (
          SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents))
      SELECT token, doc_id // 100 AS shard, count(*) AS df_shard,
        array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      FROM pairs GROUP BY 1, 2 ORDER BY 1, 2"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Collocation mining — the top-20 bigrams by pointwise LIFT
    * (P(xy)/P(x)P(y), the exponential of PMI): the phrase-detection
    * signal (word2vec-phrases / n-gram LM feature selection) beside
    * q30's raw frequency and q49's tf·idf. A high-lift bigram is a
    * PHRASE (its parts co-occur far above chance), a high-frequency one
    * may just be two common words.
    *
    * Graded WITHOUT transcendentals: PMI itself is a log, whose libm
    * rounding differs across engines, so the graded score is the lift
    * ratio — `(c_xy·N·N) / (M·c_x·c_y)` evaluated in IEEE doubles in the
    * SAME association order on both sides (each step correctly rounded ⇒
    * bit-identical), with the exact integer counts alongside and the
    * (lift DESC, x, y) ranking breaking ties lexically. log is monotone,
    * so the lift ranking IS the PMI ranking. The stepwise double chain
    * also sidesteps the int64 overflow `c_xy·N²` would hit at corpus
    * scale (doubles near 2^53 ≫ any realistic count product's mantissa
    * needs — and the ratio, not the raw product, is the signal).
    *
    * Shape: one bigram aggregate (map-side combined, pipelined from the
    * transform — no window), one unigram aggregate, two broadcast joins
    * of the vocabulary-sized unigram relation, scalar N/M broadcast,
    * and the global top-20 as TakeOrderedAndProject (per-partition
    * heaps) — the bigram vocabulary never single-partitions.
    */
  val q100 = Q(
    "q100_collocations",
    (s, d) => {
      val docs = Tables.documents(s, d)
        .select(split(col("text"), " ").as("toks"))
      // uni feeds both join sides + the N scalar, bi feeds the scoring
      // join + the M scalar — persist both (vocabulary-sized) so the
      // corpus is scanned exactly twice: once per aggregate, the
      // inherent cost. Catalyst does not dedupe common subtrees.
      val uni = graft.Memo.cached(s, d, "collocation_unigrams") {
        docs.select(explode(col("toks")).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c"))
      }
      val bi = graft.Memo.cached(s, d, "collocation_bigrams") {
        docs.filter(size(col("toks")) >= 2)
          .select(explode(expr(
            "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
            .as("g"))
          .groupBy("g").agg(count(lit(1)).as("c_xy"))
          .select(expr("split(g, ' ')[0]").as("x"),
            expr("split(g, ' ')[1]").as("y"), col("c_xy"))
      }
      val n = uni.agg(sum(col("c")).as("n"))
      val m = bi.agg(sum(col("c_xy")).as("m"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("lift").desc, col("x"), col("y"))
      // top-20 via orderBy+limit (plans as the distributed
      // TakeOrderedAndProject — per-partition heaps, never a global
      // sort); the unpartitioned rank window only ever sees 20 rows
      bi.join(broadcast(uni.select(col("t").as("x"), col("c").as("c_x"))), "x")
        .join(broadcast(uni.select(col("t").as("y"), col("c").as("c_y"))), "y")
        .crossJoin(broadcast(n)).crossJoin(broadcast(m))
        .withColumn("lift",
          col("c_xy").cast("double") * col("n") * col("n") /
            (col("m").cast("double") * col("c_x") * col("c_y")))
        .orderBy(col("lift").desc, col("x"), col("y")).limit(20)
        .withColumn("rn", row_number().over(w).cast("long"))
        .select("rn", "x", "y", "c_xy", "c_x", "c_y", "lift")
        .orderBy("rn")
    },
    Some("""
      WITH w AS (SELECT string_split(text, ' ') AS toks FROM documents),
      uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM w)
              GROUP BY 1),
      ntot AS (SELECT sum(c) AS n FROM uni),
      bi AS (
        SELECT string_split(g, ' ')[1] AS x, string_split(g, ' ')[2] AS y, c_xy
        FROM (
          SELECT g, count(*) AS c_xy FROM (
            SELECT unnest([toks[i] || ' ' || toks[i+1]
              for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS g FROM w) t
          GROUP BY 1)),
      mtot AS (SELECT sum(c_xy) AS m FROM bi),
      scored AS (
        SELECT bi.x, bi.y, bi.c_xy, cx.c AS c_x, cy.c AS c_y,
          CAST(bi.c_xy AS DOUBLE) * (SELECT n FROM ntot) * (SELECT n FROM ntot)
            / (CAST((SELECT m FROM mtot) AS DOUBLE) * cx.c * cy.c) AS lift
        FROM bi
        JOIN uni cx ON cx.t = bi.x
        JOIN uni cy ON cy.t = bi.y)
      SELECT CAST(row_number() OVER (ORDER BY lift DESC, x, y) AS BIGINT) AS rn,
        x, y, c_xy, c_x, c_y, lift
      FROM scored QUALIFY rn <= 20 ORDER BY rn"""),
    // headline since round 11 (annex row in BASELINE.md)
    headline = true)

  /** Fixed multi-term probe queries for q112 — drawn from the corpus
    * vocabulary (TESTDATA.md's ~31-word generator) so every term matches,
    * mirrored verbatim into the oracle's VALUES list. Deterministic
    * in-plan literals, the q64/q96 planted-probe pattern.
    */
  private[graft] val RetrievalProbes: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("hash", "join", "merge"),
    1L -> Seq("scan", "filter", "value"),
    2L -> Seq("window", "agg", "batch"),
    3L -> Seq("customer", "order", "slow"),
    4L -> Seq("stream", "fast", "big"))

  /** Ranked retrieval — BM25-shaped scoring over the q98 index family's
    * data, graded hash-exact through QUANTIZED INTEGER arithmetic. True
    * BM25 is a sum of `ln((N-df+0.5)/(df+0.5)) · tf(k1+1)/(tf+k1)` terms;
    * the ln's last-ulp differences across libm implementations make it
    * ungradable cross-engine (q100's problem), and unlike q100's single
    * ratio a multi-term SUM has no monotone log-free equivalent. So the
    * graft ranking function quantizes each factor to exact integers —
    *   idf_q    = (10^6 · (2(N−df)+1)) div (2df+1)      [rational idf, b=0]
    *   sattf_q  = (10^6 · 11·tf) div (5tf+6)            [k1 = 6/5: tf(k1+1)/(tf+k1)]
    *   score    = Σ_terms idf_q · sattf_q
    * The per-term product is ~1.5·10^12·N (idf_q ≈ 6.7·10^5·N at df=1,
    * sattf_q saturating at 2.2·10^6), which overflows int64 around
    * N ≈ 6·10^6 documents — so the product and sum accumulate in
    * DECIMAL(38,0) vs the oracle's HUGEINT, graded through identical
    * string images (the q107/q115 128-bit posture), headroom to
    * N ≈ 10^25.
    * — the same saturation/rarity shape (sattf is k1-saturating in tf,
    * idf_q strictly decreasing in df), floor-div evaluated identically by
    * Spark's `div` and DuckDB's `//` on positive BIGINTs. No length
    * normalization (BM25 b=0): the corpus generator's doc lengths are
    * uniform, and length-norm would add one more engine-shared division
    * without changing the graded contract.
    *
    * Shape at scale: the probe relation is literal-tiny (broadcast), tf is
    * the shared memoized (doc, tok, tf) relation — the probe join prunes
    * it to matching terms BEFORE any per-doc work, df is vocabulary-sized
    * (broadcast), and the per-query top-5 is a WindowGroupLimit-pruned
    * ranking window keyed by query_id. Nothing data-sized single-partitions.
    */
  val q112 = Q(
    "q112_bm25_retrieval",
    (s, d) => {
      val probes = broadcast(
        s.createDataFrame(RetrievalProbes.flatMap { case (qid, ts) => ts.map(t => (qid, t)) })
          .toDF("query_id", "tok"))
      val tf = tfRelation(s, d)
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf
        .join(probes, "tok")
        .join(broadcast(df), "tok")
        .crossJoin(broadcast(n))
        .withColumn("idf_q",
          expr("(1000000L * (2L * (n_docs - df) + 1L)) div (2L * df + 1L)"))
        .withColumn("sattf_q", expr("(1000000L * 11L * tf) div (5L * tf + 6L)"))
        .groupBy("query_id", "doc_id")
        .agg(sum(expr("CAST(idf_q AS DECIMAL(38,0)) * CAST(sattf_q AS DECIMAL(38,0))"))
          .as("score_d"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score_d").desc, col("doc_id").asc)
      scored
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("score_d").cast("string").as("score"))
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH probes(query_id, tok) AS (VALUES ${RetrievalProbes
        .flatMap { case (qid, ts) => ts.map(t => s"(${qid}, '${t}')") }
        .mkString(", ")}),
      toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      n AS (SELECT count(*) AS n_docs FROM documents),
      scored AS (
        SELECT p.query_id, tf.doc_id,
          sum(CAST((1000000 * (2 * (n.n_docs - df.df) + 1)) // (2 * df.df + 1) AS HUGEINT)
             * CAST((1000000 * 11 * tf.tf) // (5 * tf.tf + 6) AS HUGEINT)) AS score_h
        FROM probes p JOIN tf ON p.tok = tf.tok JOIN df ON df.tok = p.tok, n
        GROUP BY 1, 2)
      SELECT CAST(query_id AS BIGINT) AS query_id,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY score_h DESC, doc_id) AS INT) AS rank,
        doc_id, CAST(score_h AS VARCHAR) AS score
      FROM scored QUALIFY rank <= 5 ORDER BY query_id, rank"""),
    headline = true)

  /** n-gram language-model count tables — the (unigram, bigram, trigram)
    * occurrence counts KenLM-style estimation starts from, WITH
    * multiplicity (the similarity family's distinct shingle sets are the
    * wrong object here: P(w|h) needs every occurrence). ONE corpus scan
    * emits all three orders ([[TextOps.lmGrams]] tags each gram with its
    * order in a single pass), then one (order, gram)-keyed
    * map-side-combined aggregate — count tables shrink to vocabulary^n
    * rows, so the exchange is tiny next to the scan. Exact integer
    * counts: hash-exact.
    */
  /** The (gram_order, gram, n) count relation behind q116, persisted
    * ONCE per (session, dir): q131's perplexity scorer derives its
    * probabilities from THIS relation (not a re-derivation), so the
    * count tables and the scores built on them cannot drift. */
  private[graft] def lmGramCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "lm_gram_counts") {
      lmGramCountsOf(Tables.documents(s, d))
    }

  /** Sized validity guard for broadcasting q131's vocabulary-sized
    * per-trigram score table (the [[DedupQs.docBroadcastOk]] posture):
    * the trigram-type count off the already-memoized count relation,
    * memoized per (session, corpus), against
    * `spark.graft.lm.broadcastMaxGrams` (default 10M trigram types ≈
    * a few hundred MB as a HashedRelation — inside a production
    * executor's broadcast budget, far beyond any graded corpus). A
    * web-scale trigram vocabulary exceeds it and the score join
    * degrades to the shuffled form instead of OOMing an executor. */
  private[graft] def lmVocabBroadcastOk(s: SparkSession, d: String): Boolean = {
    val est = graft.Memo.estimate(s, d, "lm_trigram_types")(
      lmGramCounts(s, d).filter(col("gram_order") === 3).count())
    val bound = s.conf.getOption("spark.graft.lm.broadcastMaxGrams")
      .map(_.toLong).getOrElse(10000000L)
    est <= bound
  }

  /** The (gram_order, gram, n) count build over an arbitrary docs
    * relation — the trainable half of the LM. The incremental attribute
    * path freezes THIS relation from its seed batch as the reference-LM
    * artifact (the CCNet posture: a fixed LM scores every later shard). */
  private[graft] def lmGramCountsOf(docs: DataFrame): DataFrame =
    docs
      .select(explode(TextOps.lmGrams(col("text"), 3)).as("g"))
      .select(col("g._1").as("gram_order"), col("g._2").as("gram"))
      .groupBy("gram_order", "gram")
      .agg(count(lit(1)).as("n"))

  /** Score `docs` against a FROZEN (gram_order, gram, n) count relation
    * — q131's add-1 trigram NLL generalized to grams the LM has never
    * seen: P(w3 | w1 w2) = (c3 + 1) / (c2 + V) with c3/c2 read 0 when
    * absent (LEFT joins where q131 can use inner ones, because q131's
    * LM corpus IS its scored corpus so every gram is known — on that
    * case this definition degenerates to q131's exactly, which is the
    * bridge the q142 oracle grades). Same fixed-point integer log2, so
    * the result stays hash-exact. Shape at scale: the count relation is
    * vocabulary-sized, the batch's trigram stream is batch-sized — the
    * gram-keyed score join never touches the rest of the corpus, which
    * is the whole point of tagging against a frozen LM. */
  private[graft] def pplAgainstLm(counts: DataFrame, docs: DataFrame): DataFrame = {
    val tri = counts.filter(col("gram_order") === 3)
      .select(col("gram"), col("n").as("c3"))
    val big = counts.filter(col("gram_order") === 2)
      .select(col("gram").as("prefix"), col("n").as("c2"))
    val vocab = counts.filter(col("gram_order") === 1).agg(count(lit(1)).as("v"))
    docs
      .select(col("doc_id"),
        explode(call_function("token_ngrams", col("text"), lit(3))).as("gram"))
      .join(tri, Seq("gram"), "left")
      .withColumn("prefix", substring_index(col("gram"), " ", 2))
      .join(big, Seq("prefix"), "left")
      .crossJoin(broadcast(vocab))
      .withColumn("num", coalesce(col("c3"), lit(0L)) + lit(1L))
      .withColumn("den", coalesce(col("c2"), lit(0L)) + col("v"))
      .withColumn("nlp_q", expr(lqSparkSql("den")) - expr(lqSparkSql("num")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tri"), sum(col("nlp_q")).as("nll_q"))
      .withColumn("ppl_q", expr("nll_q div n_tri"))
  }

  val q116 = Q(
    "q116_lm_gram_counts",
    (s, d) => lmGramCounts(s, d).orderBy("gram_order", "gram"),
    Some("""
      WITH a AS (SELECT string_split(text, ' ') AS t FROM documents),
      grams AS (
        SELECT 1 AS gram_order, unnest(t) AS gram FROM a
        UNION ALL
        SELECT 2, unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) FROM a
        UNION ALL
        SELECT 3, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                          for i in range(1, greatest(len(t) - 2, 0) + 1)]) FROM a)
      SELECT gram_order, gram, count(*) AS n
      FROM grams GROUP BY 1, 2 ORDER BY 1, 2"""),
    headline = true)

  /** Per-document NOVELTY scoring — what fraction of a document's
    * distinct shingles first appear in IT, under the corpus's doc_id
    * order (an append-ordered corpus: "how much genuinely new content
    * does each document contribute"). The near-dup families find PAIRS;
    * this is the monitoring view a growing training corpus watches —
    * replicas score ~0, fresh content ~10^6. First-occurrence is a
    * vocabulary-sized min-aggregate over the SHARED cached shingle
    * relation (q36/q37/q38/q114's `doc_shingles` — one cache entry
    * across the whole family); the per-doc count is a doc-keyed
    * aggregate; the score is the floor-div rational. Exact integers:
    * hash-exact (fingerprints are injective on the corpus, so counts
    * agree with the oracle's string-shingle mirror).
    */
  val q123 = Q(
    "q123_novelty_score",
    (s, d) => {
      val ex = DedupQs.shingled(s, d)
        .select(col("doc_id"), explode(col("shingles")).as("g"))
      val firstDoc = ex.groupBy("g").agg(min(col("doc_id")).as("first_doc"))
      ex.join(firstDoc, "g")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_first"))
        .withColumn("novelty_q", expr("(1000000L * n_first) div n_grams"))
        .orderBy("doc_id")
    },
    Some("""
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(
                 [string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                  || ' ' || string_split(text, ' ')[i+2]
                  for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)])) AS g
        FROM documents),
      fd AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY 1)
      SELECT sh.doc_id, count(*) AS n_grams,
        CAST(sum(CASE WHEN fd.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
        (1000000 * CAST(sum(CASE WHEN fd.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT))
          // count(*) AS novelty_q
      FROM sh JOIN fd USING (g)
      GROUP BY 1 ORDER BY 1"""),
    headline = true)

  /** BPE tokenizer training — five merge rounds of [[TextOps.bpeMerges]]
    * over the corpus word counts: THE tokenizer-construction step of an
    * LLM data pipeline (Sennrich ACL'16), graded as the learned merge
    * table. The oracle UNROLLS the identical five rounds in SQL — per
    * round one weighted pair count, one (weight DESC, left, right)
    * argmax, and one `replace` re-segmentation of the space-joined
    * symbol strings; the operator's replace-semantics merge contract
    * (see [[TextOps.bpeMerges]]) exists precisely so that mirror is
    * byte-exact. Corpus touched once (the word-count aggregate);
    * everything iterative is vocabulary-sized.
    */
  /** The corpus word-count relation BPE training and encoding both
    * start from, persisted ONCE per (session, dir) — q124 consumes it
    * once, q125 TWICE (the training pass and the encode projection
    * were two separate plan trees, so each q125 invocation re-ran the
    * corpus explode+aggregate twice before round 21). Vocabulary-sized
    * (Zipf), spillable — the same footing as `lm_gram_counts`. */
  private def bpeWordCounts(s: SparkSession, d: String): DataFrame =
    graft.Memo.cached(s, d, "bpe_word_counts") {
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("cnt"))
    }

  val q124 = Q(
    "q124_bpe_merges",
    (s, d) =>
      TextOps.bpeMerges(bpeWordCounts(s, d), "w", "cnt", rounds = 5).orderBy("round"),
    Some {
      val rounds = (1 to 5).map { i =>
        s"""p$i AS MATERIALIZED (
        SELECT l[i] AS lft, l[i+1] AS rgt, CAST(sum(cnt) AS BIGINT) AS weight
        FROM (SELECT string_split(trim(s), ' ') AS l, cnt FROM s${i - 1}) t,
             LATERAL (SELECT unnest(range(1, len(l))) AS i) u
        GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT lft, rgt, weight FROM p$i ORDER BY weight DESC, lft, rgt LIMIT 1),
      s$i AS MATERIALIZED (SELECT replace(s,
                ' ' || (SELECT lft FROM b$i) || ' ' || (SELECT rgt FROM b$i) || ' ',
                ' ' || (SELECT lft FROM b$i) || (SELECT rgt FROM b$i) || ' ') AS s, cnt
              FROM s${i - 1})"""
      }.mkString(",\n      ")
      val sel = (1 to 5).map(i =>
        s"""SELECT $i AS round, lft AS "left", rgt AS "right",
           lft || rgt AS merged, weight FROM b$i""").mkString("\n      UNION ALL\n      ")
      s"""
      WITH wc AS (
        SELECT w, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE w <> '' GROUP BY 1),
      s0 AS MATERIALIZED (SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s, cnt FROM wc),
      $rounds
      $sel
      ORDER BY round"""
    },
    headline = true)

  /** BPE encoding — q124's other half: apply the learned merge table to
    * the corpus and grade the resulting SYMBOL UNIGRAM TABLE (the
    * statistic that drives vocabulary-size/compression decisions). The
    * merge table is collected driver-side (<= 5 rows, the q68
    * bounded-action posture) and applied as a narrow VOCABULARY-sized
    * map — the corpus is touched exactly once, for the word counts;
    * every occurrence of a word shares its segmentation, so symbol
    * counts are Σ(word count × per-word symbol multiplicity). The
    * oracle reuses the training mirror's round chain and reads the
    * final segmentation relation. Exact integers: hash-exact.
    */
  val q125 = Q(
    "q125_bpe_encode",
    (s, d) => {
      val words = bpeWordCounts(s, d)
      val merges = TextOps.bpeMerges(words, "w", "cnt", rounds = 5)
        .orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      words
        .withColumn("syms", TextOps.applyMerges(merges)(col("w")))
        .select(explode(col("syms")).as("sym"), col("cnt"))
        .groupBy("sym").agg(sum(col("cnt")).as("n"))
        .orderBy("sym")
    },
    Some {
      val rounds = (1 to 5).map { i =>
        s"""p$i AS MATERIALIZED (
        SELECT l[i] AS lft, l[i+1] AS rgt, CAST(sum(cnt) AS BIGINT) AS weight
        FROM (SELECT string_split(trim(s), ' ') AS l, cnt FROM s${i - 1}) t,
             LATERAL (SELECT unnest(range(1, len(l))) AS i) u
        GROUP BY 1, 2),
      b$i AS MATERIALIZED (SELECT lft, rgt, weight FROM p$i ORDER BY weight DESC, lft, rgt LIMIT 1),
      s$i AS MATERIALIZED (SELECT replace(s,
                ' ' || (SELECT lft FROM b$i) || ' ' || (SELECT rgt FROM b$i) || ' ',
                ' ' || (SELECT lft FROM b$i) || (SELECT rgt FROM b$i) || ' ') AS s, cnt
              FROM s${i - 1})"""
      }.mkString(",\n      ")
      s"""
      WITH wc AS (
        SELECT w, count(*) AS cnt FROM (
          SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE w <> '' GROUP BY 1),
      s0 AS MATERIALIZED (SELECT ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s, cnt FROM wc),
      $rounds
      SELECT sym, CAST(sum(cnt) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(trim(s), ' ')) AS sym, cnt FROM s5) t
      GROUP BY 1 ORDER BY 1"""
    },
    headline = true)

  /** Temperature-based mixture reweighting — the α=1/2 source-sampling
    * recipe (multilingual/LM practice: raw-mass-proportional sampling
    * over-serves the largest sources, uniform starves them; p^α with
    * α∈(0,1) interpolates). Per source: character mass, the quantized
    * temperature weight w_q = floor(10^6·√mass), and the integer quota
    * out of a corpus-sized target, (w_q·N) div Σw_q. IEEE-754 requires
    * sqrt be CORRECTLY ROUNDED, so — uniquely among transcendentals —
    * √ is bit-identical across engines and the α=1/2 weight grades
    * hash-exact where a pow()/ln() recipe could not (the q100/q112
    * lesson; other α values would need a documented rational surrogate).
    *
    * Shape at scale: one map-side-combined scan to source-sized rows;
    * the Σw_q window runs over the source table, never data.
    */
  val q127 = Q(
    "q127_temperature_mixture",
    (s, d) => {
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("mass"))
        .withColumn("w_q",
          expr("CAST(floor(1000000.0D * sqrt(CAST(mass AS DOUBLE))) AS BIGINT)"))
        .crossJoin(broadcast(n))
        .withColumn("quota",
          expr("(w_q * n_docs) div sum(w_q) OVER ()"))
        .select("source", "n", "mass", "w_q", "quota")
        .orderBy("source")
    },
    Some("""
      WITH m AS (
        SELECT source, count(*) AS n, sum(n_chars) AS mass,
          CAST(floor(1000000.0 * sqrt(CAST(sum(n_chars) AS DOUBLE))) AS BIGINT) AS w_q
        FROM documents GROUP BY 1),
      t AS (SELECT count(*) AS n_docs FROM documents)
      SELECT source, n, CAST(mass AS BIGINT) AS mass, w_q,
        (w_q * t.n_docs) // CAST(sum(w_q) OVER () AS BIGINT) AS quota
      FROM m, t ORDER BY source"""),
    headline = true)

  /** MODEL-based quality scoring — the fastText-shaped filter tier
    * beyond the heuristic cascades (q82/q84): a hashed-n-gram LINEAR
    * classifier (the CCNet/fastText quality-model architecture —
    * Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification") over unigram + bigram features hashed into
    * [[QualityBuckets]] buckets by the engine-portable md5 convention
    * (q44's `SampleOps.hashBucket` hash). The weight vector is a
    * PLANTED deterministic table — `w(b) = (b·2654435761) mod 1000003
    * − 501001`, materialized as a 4096-entry plan literal — so the
    * oracle recomputes the identical dot product from the formula; a
    * real deployment swaps the literal for its trained weights and
    * keeps the plan.
    *
    * Shape at scale: one corpus scan — features (unigrams ++ bigrams)
    * explode NARROWLY (a document's features stay in its task), the
    * md5-bucket-`element_at` weight lookup runs per feature row inside
    * whole-stage codegen (a fold through the `aggregate` HOF was
    * measured 4× slower: higher-order lambdas evaluate INTERPRETED, and
    * md5+conv per element in interpreted mode dominated the scan), and
    * the per-document dot product partial-combines map-side, so the one
    * exchange carries a single (doc, sum, count) row per document —
    * never a feature, never text. All-integer weights make the dot
    * product exact; the mean is one IEEE division of exactly-
    * representable integers, so even the double column grades
    * hash-exact.
    */
  private val QualityBuckets = TextOps.QualityBuckets
  private[graft] def qualityWeights: Seq[Long] = TextOps.qualityWeights

  /** Conf switch: q136's attribute table derives `lang` from the q150
    * classifier instead of the corpus-given column (default off — the
    * graded artifact freezes the given label). */
  private[graft] val DerivedLangKey = "spark.graft.attrs.derivedLang"

  /** The q129 scorer's (doc_id, n_feats, score) relation, shared with
    * q135's quota selector AND DocStream's streaming quality gate — the
    * ONE scoring definition lives in [[TextOps.modelScoresOf]]. */
  private[graft] def modelScores(s: SparkSession, d: String): DataFrame =
    TextOps.modelScoresOf(Tables.documents(s, d))

  /** The q129 scorer's DuckDB mirror as a shareable CTE fragment
    * (`t`, `msc(doc_id, n_feats, score)`) — q129 and q135 both splice
    * it, so the two oracles cannot drift from one scoring formula. */
  private val modelScoreSqlCte = """
      t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      msc AS (
        SELECT doc_id,
          CAST(n_uni + greatest(n_uni - 1, 0) AS BIGINT) AS n_feats,
          CAST(uni + big AS BIGINT) AS score
        FROM (
          SELECT doc_id, len(toks) AS n_uni,
            coalesce(list_sum([
              ((CAST(concat('0x', substr(md5(tok), 1, 4)) AS BIGINT) % 4096)
                * 2654435761) % 1000003 - 501001
              for tok in toks]), 0) AS uni,
            coalesce(list_sum([
              ((CAST(concat('0x', substr(md5(toks[i] || ' ' || toks[i+1]), 1, 4)) AS BIGINT) % 4096)
                * 2654435761) % 1000003 - 501001
              for i in range(1, greatest(len(toks) - 1, 0) + 1)]), 0) AS big
          FROM t) f)"""

  val q129 = Q(
    "q129_model_quality",
    (s, d) => {
      modelScores(s, d)
        .select(col("doc_id"), col("n_feats"), col("score"),
          (col("score").cast("double") / col("n_feats")).as("mean_w"),
          (col("score") > 0).as("keep"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH $modelScoreSqlCte
      SELECT doc_id, n_feats, score,
        CAST(score AS DOUBLE) / n_feats AS mean_w,
        score > 0 AS keep
      FROM msc ORDER BY doc_id"""),
    headline = true)

  /** Fixed-point piecewise-linear log2, Spark-SQL text form (shared by
    * q131/q133): lq(x) = e·2^16 + (x − 2^e)·2^16 div 2^e with
    * e = ⌊log2 x⌋ from the binary-string length — no floats anywhere,
    * so both engines agree bit-for-bit. Max error 0.086 bits, monotone.
    * Requires x ≥ 1. */
  private[graft] def lqSparkSql(x: String): String = {
    val e = s"(length(bin($x)) - 1)"
    val p2 = s"shiftleft(CAST(1 AS BIGINT), CAST($e AS INT))"
    s"($e * 65536L + (($x - $p2) * 65536L) div $p2)"
  }

  /** The same quantized log2 as DuckDB SQL text (`//` div, `<<` shift). */
  private def lqDuckSql(x: String): String = {
    val e = s"(length(bin($x)) - 1)"
    val p2 = s"(CAST(1 AS BIGINT) << $e)"
    s"($e * 65536 + (($x - $p2) * 65536) // $p2)"
  }

  /** LM-PERPLEXITY document scoring — the CCNet filter tier (Wenzek et
    * al. 2020: rank documents by language-model perplexity and keep the
    * low-perplexity head) between the heuristic cascades (q82/q84) and
    * the classifier (q129). Trigram model with add-1 smoothing over
    * q116's SHARED count relation ([[lmGramCounts]] — the scorer
    * consumes the exact persisted table it grades, so model and counts
    * cannot drift): P(w3 | w1 w2) = (c3 + 1) / (c2 + V), V = unigram
    * vocabulary size; per-doc NLL = Σ −log2 P over its trigram stream
    * (multiplicity included), perplexity-per-gram = NLL / n_tri.
    *
    * GRADED EXACTLY by quantizing log2 in pure integer ops: lq(x) =
    * e·2^16 + (x − 2^e)·2^16 div 2^e where e = ⌊log2 x⌋ comes from the
    * binary-string length (`bin`/`length` — both engines compute it
    * without touching floats), i.e. the classic piecewise-linear log2
    * (max error 0.086 bits, monotone, deterministic). nlp(gram) =
    * lq(den) − lq(num) ≥ 0; NLL sums and the final div stay in BIGINT,
    * so every column is hash-exact — the same no-IEEE-at-the-boundary
    * posture as q112's quantized BM25 factors.
    *
    * Shape at scale: count tables are vocabulary-sized (built once,
    * memoized); the per-trigram score table joins tri→prefix(bigram)
    * broadcast-or-shuffled at vocabulary size, never corpus size; the
    * corpus-sized work is ONE trigram stream keyed on gram for the
    * score lookup, then a doc-keyed partial-combined aggregate — the
    * exchanges carry (gram, doc_id) and (doc_id, sums), never text.
    * Docs with < 3 tokens have no trigram stream and drop out (none at
    * the graded scales).
    */
  val q131 = Q(
    "q131_lm_perplexity",
    (s, d) => {
      val counts = lmGramCounts(s, d)
      val tri = counts.filter(col("gram_order") === 3)
        .select(col("gram"), col("n").as("c3"))
      val big = counts.filter(col("gram_order") === 2)
        .select(col("gram").as("prefix"), col("n").as("c2"))
      val vocab = counts.filter(col("gram_order") === 1).agg(count(lit(1)).as("v"))
      val nlp = tri
        .withColumn("prefix", substring_index(col("gram"), " ", 2))
        .join(big, "prefix")
        .crossJoin(broadcast(vocab))
        .withColumn("num", col("c3") + lit(1L))
        .withColumn("den", col("c2") + col("v"))
        .select(col("gram"), (expr(lqSparkSql("den")) - expr(lqSparkSql("num"))).as("nlp_q"))
      // token_ngrams(text, 3): the native order-3 gram stream — the
      // lmGrams UDF emitted all of orders 1..3 as boxed (order, gram)
      // tuples and 2/3 of the rows were filtered right back out
      // (round-21 opt; Md5FeaturesSpec pins gram-for-gram equality)
      val docTri = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(call_function("token_ngrams", col("text"), lit(3))).as("gram"))
      // Broadcast the VOCABULARY-sized score table, sized-guarded
      // (round-21): unhinted, Catalyst was broadcasting the CORPUS
      // trigram stream — the documents scan estimates small, the
      // Generate keeps the estimate, and BuildLeft landed on the
      // exploded side (captured in plans/r21/q131_*_before.txt) —
      // which inverts the documented scale shape ("score table joins
      // at vocabulary size, never corpus size"). Past the guard the
      // join takes the shuffled form rather than broadcasting either
      // side blind.
      val nlpSide = if (lmVocabBroadcastOk(s, d)) broadcast(nlp) else nlp
      docTri.join(nlpSide, "gram")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tri"), sum(col("nlp_q")).as("nll_q"))
        .withColumn("ppl_q", expr("nll_q div n_tri"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH a AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      tri0 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS gram
        FROM a),
      tric AS (SELECT gram, count(*) AS c3 FROM tri0 GROUP BY 1),
      bigc AS (
        SELECT gram, count(*) AS c2 FROM (
          SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram FROM a)
        GROUP BY 1),
      v AS (SELECT count(DISTINCT gram) AS v FROM (SELECT unnest(t) AS gram FROM a)),
      nlp AS (
        SELECT t.gram, ${lqDuckSql("t.c2v")} - ${lqDuckSql("t.c31")} AS nlp_q
        FROM (
          SELECT tric.gram, CAST(tric.c3 + 1 AS BIGINT) AS c31,
            CAST(bigc.c2 + v.v AS BIGINT) AS c2v
          FROM tric
          JOIN bigc ON bigc.gram = array_to_string(string_split(tric.gram, ' ')[1:2], ' ')
          CROSS JOIN v) t)
      SELECT doc_id, count(*) AS n_tri,
        CAST(sum(nlp_q) AS BIGINT) AS nll_q,
        CAST(sum(nlp_q) AS BIGINT) // count(*) AS ppl_q
      FROM tri0 JOIN nlp USING (gram)
      GROUP BY doc_id ORDER BY doc_id"""),
    headline = true)

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): rank raw documents by
    * an importance weight estimated from hashed n-gram features — the
    * standard way a pretraining pipeline selects web data that "looks
    * like" a high-quality target distribution. Target here = the `en`
    * slice, raw = everything (the corpus scores itself; a deployment
    * swaps the target predicate). Features are q129's EXACT hashed
    * unigram+bigram buckets (md5 → [[QualityBuckets]] — one convention,
    * two queries, cannot drift); per-bucket add-1 probabilities under
    * target and raw give the per-feature log-likelihood ratio
    * Δ(b) = lq(ct+1) − lq(nt+B) − lq(cr+1) + lq(nr+B) in q131's
    * quantized integer log2, and a doc's weight is the sum of Δ over
    * its feature OCCURRENCES — exactly the DSIR bag-of-hashed-ngrams
    * estimator, graded deterministically (published DSIR then samples
    * with Gumbel noise; the graded form takes the top-100 by weight
    * with doc_id tiebreak — the deterministic core the sampling step
    * wraps).
    *
    * Shape at scale: the bucket table is FIXED-size (B=4096 rows —
    * broadcast), its totals one scalar; features explode narrowly (a
    * doc's features stay in its task), the per-doc weight
    * partial-combines map-side, and the global top-100 is a
    * TakeOrderedAndProject heap — no shuffle carries anything
    * corpus-sized but the one (doc, sums) exchange.
    */
  val q133 = Q(
    "q133_dsir_selection",
    (s, d) => {
      val toks = split(col("text"), " ")
      val bigrams = when(size(toks) >= 2,
        transform(sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      // Persisted ONCE per (session, dir) — the bucket-count pass and
      // the per-doc scoring pass both consume it (Catalyst would
      // otherwise run the explode + md5 twice: measured 6.6 s → 4 s at
      // sf0.1). (doc, lang, bucket) ints only, MEMORY_AND_DISK; at
      // production scale this is the materialized feature stream a DSIR
      // deployment writes once and scores many targets against.
      val feats = graft.Memo.cached(s, d, "dsir_feats") {
        // md5_bucket16: the native digest-prefix form of
        // conv(substring(md5(f),1,4),16,10) — same integer, no hex
        // string, no base-16 parse (round-21; Md5FeaturesSpec pins it)
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), explode(concat(toks, bigrams)).as("f"))
          .select(col("doc_id"), col("lang"),
            (call_function("md5_bucket16", col("f")) % QualityBuckets).as("b"))
      }
      val counts = feats.groupBy("b").agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("cr"))
      val totals = counts.agg(sum("ct").as("nt"), sum("cr").as("nr"))
      val deltas = counts.crossJoin(broadcast(totals))
        .select(col("b"),
          (expr(lqSparkSql("ct + 1L")) - expr(lqSparkSql(s"nt + ${QualityBuckets}L"))
            - expr(lqSparkSql("cr + 1L")) + expr(lqSparkSql(s"nr + ${QualityBuckets}L")))
            .as("delta_q"))
      val ranked = feats.join(broadcast(deltas), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_feats"), sum("delta_q").as("weight_q"))
        .orderBy(col("weight_q").desc, col("doc_id"))
        .limit(100)
      ranked
        // unpartitioned rank window: safe — its input is `ranked`, the
        // TakeOrderedAndProject-pruned `.limit(100)` relation, so the
        // single partition holds exactly <= 100 rows at any corpus size
        .withColumn("rank", row_number().over(
          Window.orderBy(col("weight_q").desc, col("doc_id"))).cast("int"))
        .select("rank", "doc_id", "n_feats", "weight_q")
    },
    Some {
      val b = QualityBuckets
      s"""
      WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
      f AS (
        SELECT doc_id, lang,
          CAST(CAST(concat('0x', substr(md5(g), 1, 4)) AS BIGINT) % $b AS INT) AS b
        FROM (
          SELECT doc_id, lang, unnest(toks) AS g FROM t
          UNION ALL
          SELECT doc_id, lang, unnest([toks[i] || ' ' || toks[i+1]
                 for i in range(1, greatest(len(toks) - 1, 0) + 1)]) FROM t)),
      c AS (SELECT b, CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
                   CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cr
            FROM f GROUP BY 1),
      tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr FROM c),
      dlt AS (SELECT b,
        ${lqDuckSql("(ct + 1)")} - ${lqDuckSql(s"(nt + $b)")}
          - ${lqDuckSql("(cr + 1)")} + ${lqDuckSql(s"(nr + $b)")} AS delta_q
        FROM c, tot),
      w AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(delta_q) AS BIGINT) AS weight_q
            FROM f JOIN dlt USING (b) GROUP BY 1)
      SELECT CAST(row_number() OVER (ORDER BY weight_q DESC, doc_id) AS INT) AS rank,
        doc_id, n_feats, weight_q
      FROM w QUALIFY rank <= 100 ORDER BY rank"""
    },
    headline = true)

  /** PER-SOURCE quota selection — the RefinedWeb/Dolma per-domain cap:
    * within every source keep only the top-K documents by model quality
    * (q135 consumes q129's EXACT scorer through the shared
    * [[modelScores]] relation — one scoring definition, one mirror
    * fragment, two graded queries), ranked (score desc, doc_id). The
    * cap is the stage that stops a single over-crawled domain from
    * dominating a training mixture regardless of its per-doc quality.
    *
    * Shape at scale: scoring is q129's one scan + doc-keyed partial
    * aggregate; the source-keyed ranking window prunes with a partial
    * `WindowGroupLimit` BEFORE its exchange (only ~K rows per source
    * per task survive to shuffle), so the exchange carries
    * O(sources × K), not the corpus. Output is sources × K rows at any
    * scale.
    */
  val q135 = Q(
    "q135_source_quota",
    (s, d) => {
      val K = 10
      val w = Window.partitionBy("source").orderBy(col("score").desc, col("doc_id"))
      Tables.documents(s, d).select("doc_id", "source")
        .join(modelScores(s, d), "doc_id")
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= K)
        .select("source", "rank", "doc_id", "score")
        .orderBy("source", "rank")
    },
    Some(s"""
      WITH $modelScoreSqlCte,
      j AS (SELECT d.source, m.doc_id, m.score
            FROM msc m JOIN documents d USING (doc_id))
      SELECT source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS INT) AS rank,
        doc_id, score
      FROM j QUALIFY rank <= 10 ORDER BY source, rank"""))

  /** The per-document ATTRIBUTE TABLE — the Dolma-style tagger
    * architecture's materialized artifact: every curation signal the
    * pipeline computes, joined into ONE wide row per document (identity
    * + size, the hashed-n-gram model score, LM perplexity, and the
    * cascade's per-rule fail bitmask), so downstream selection recipes
    * are cheap projections over attributes instead of re-running
    * taggers. Composed FROM the graded definitions (`modelScores`,
    * q131's scorer, q84's cascade — and the oracle composes the same
    * three MIRRORS as CTEs), so the attribute table cannot drift from
    * the per-signal grades. ppl_q is nullable by contract: a doc with
    * fewer than 3 tokens has no trigram stream (LEFT join, same rule
    * q131 documents).
    *
    * Shape at scale: each input is its own graded one-or-two-exchange
    * plan over shared memoized relations; the attribute join keys every
    * side on doc_id — co-partitioned joins, output corpus-sized but
    * narrow (9 columns).
    */
  val q136 = Q(
    "q136_attribute_table",
    (s, d) => {
      // `spark.graft.attrs.derivedLang=true` swaps the corpus-given lang
      // label for the q150 classifier's argmax — the production posture
      // where lang-id is the pipeline's own first tagger, not an input
      // column (CCNet/Dolma/RefinedWeb all derive it). Default off: the
      // graded artifact freezes the given column.
      val derived = s.conf.getOption(DerivedLangKey).exists(_.toBoolean)
      val docs = Tables.documents(s, d)
      val langed =
        if (!derived) docs
        else docs.drop("lang")
          .join(TextOps.langIdScoresOf(docs).select(col("doc_id"),
            col("pred_lang")), Seq("doc_id"), "left")
          .withColumn("lang", coalesce(col("pred_lang"), lit("und")))
      val base = langed
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(TextOps.tokens(col("text"))).cast("int").as("n_tokens"))
      base.join(modelScores(s, d), "doc_id")
        .join(q131.fn(s, d).select("doc_id", "ppl_q"), Seq("doc_id"), "left")
        .join(q84.fn(s, d).select("doc_id", "fail_mask"), "doc_id")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH m136 AS (${q129.oracle.get}),
      p136 AS (${q131.oracle.get}),
      c136 AS (${q84.oracle.get})
      SELECT d.doc_id, d.lang, d.source, d.n_chars,
        CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens,
        m136.n_feats, m136.score, p136.ppl_q, c136.fail_mask
      FROM documents d
      JOIN m136 USING (doc_id)
      LEFT JOIN p136 USING (doc_id)
      JOIN c136 USING (doc_id)
      ORDER BY d.doc_id"""),
    headline = true)

  /** q137's perplexity cut (quantized bits/gram × 2^16 ≈ 4.50
    * bits/gram): the CCNet "keep the low-perplexity head" boundary,
    * fixed as a literal the way a production pipeline fixes it from a
    * reference-corpus calibration (the sf0.01 85th percentile measures
    * 295 398 — the cut drops roughly the worst sixth of the corpus). */
  private val PplMax = 295000L

  /** q137's model-score floor — the hashed-weight table is PLANTED
    * (q129's deterministic stand-in for trained weights), so its
    * absolute scores are arbitrary; the pipeline gate therefore cuts at
    * a calibrated floor the way a deployment calibrates a real
    * classifier's threshold (the sf0.01 10th percentile measures
    * −12.27 M; the floor drops the worst ~tenth). score <= 0 — q129's
    * own `keep` attribute — is the right gate only for TRAINED weights
    * centered on a decision boundary. */
  private val ModelMin = -12250000L

  /** END-TO-END corpus selection with DROP ATTRIBUTION — the composed
    * pipeline run every curation recipe ends with: each document either
    * survives every stage or is attributed to the FIRST stage that
    * dropped it, in the canonical order dedup → surface cascade →
    * model score → perplexity. Each stage is a GRADED definition
    * reused verbatim: near-dup pairs are q36's exact-verified
    * MinHash-LSH output under the pairwise keep-first policy (a doc
    * drops when a lower-id J ≥ 0.8 partner exists — q17/q35's
    * convention; the component-wise survivor policy is q39/q122's
    * job), the cascade/model/perplexity attributes come from q136's
    * attribute table, and the perplexity gate applies [[PplMax]] to
    * docs that HAVE a trigram stream (a sub-trigram doc cannot be
    * LM-scored and skips the gate — q131's null contract, documented
    * rather than silently dropped). The oracle composes the SAME
    * mirrors (q136's CTE + the exact all-pairs Jaccard CTE), so the
    * composition cannot drift from its stages.
    *
    * Shape at scale: the pair relation is LSH-bounded (q36's shape),
    * the attribute table is q136's co-partitioned join set, and the
    * attribution itself is one more doc_id-keyed left join + a
    * codegen'd CASE — nothing new shuffles.
    */
  val q137 = Q(
    "q137_pipeline_select",
    (s, d) => {
      val dups = DedupQs.q36.fn(s, d)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__dup", lit(true))
      q136.fn(s, d)
        .join(dups, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("__dup"), "duplicate")
            .when(col("fail_mask") =!= 0, "cascade")
            .when(col("score") < ModelMin, "model")
            .when(col("ppl_q") > PplMax, "perplexity")
            .as("drop_reason"))
        .withColumn("keep", col("drop_reason").isNull)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH attr137 AS (${q136.oracle.get}),
      sh137 AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      dup137 AS (
        SELECT DISTINCT b.doc_id
        FROM sh137 a JOIN sh137 b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8)
      SELECT a.doc_id,
        CASE WHEN d.doc_id IS NOT NULL THEN 'duplicate'
             WHEN a.fail_mask <> 0 THEN 'cascade'
             WHEN a.score < $ModelMin THEN 'model'
             WHEN a.ppl_q > $PplMax THEN 'perplexity' END AS drop_reason,
        (CASE WHEN d.doc_id IS NOT NULL THEN 'duplicate'
              WHEN a.fail_mask <> 0 THEN 'cascade'
              WHEN a.score < $ModelMin THEN 'model'
              WHEN a.ppl_q > $PplMax THEN 'perplexity' END) IS NULL AS keep
      FROM attr137 a LEFT JOIN dup137 d USING (doc_id)
      ORDER BY a.doc_id"""),
    headline = true)

  /** SELECTION OVER THE WRITTEN ARTIFACT — q137's recipe re-expressed
    * the way a production Dolma-style pipeline actually runs it: the
    * taggers write [[graft.pipeline.AttrTable]] ONCE (q136's wide row +
    * the frozen q36 `is_dup` flag, doc_id-clustered parquet), and the
    * selection is a PROJECTION over that artifact — one narrow column
    * scan, zero `documents` scans, zero re-tagging. Hash-graded against
    * the SAME composed oracle q137 passes, which is the equivalence
    * proof: recipe-over-artifact ≡ recipe-over-taggers, byte for byte.
    * PlanSpec pins the structural half (the optimized plan's only file
    * scan is the artifact; no `documents` relation anywhere).
    *
    * Shape at scale: the artifact write is a once-per-corpus tag job
    * (its cost is q136 + q36, both graded and tier-measured); every
    * recipe after it costs a 5-column scan of doc_id-clustered parquet
    * — N recipes cost N scans, not N tag runs, which is the composed
    * lever q137's 100× tier row (re-tag ≈ 32 s per invocation) prices.
    */
  val q138 = Q(
    "q138_attr_select",
    (s, d) => {
      graft.pipeline.AttrTable.materialized(s, d)
        .select(col("doc_id"),
          when(col("is_dup"), "duplicate")
            .when(col("fail_mask") =!= 0, "cascade")
            .when(col("score") < ModelMin, "model")
            .when(col("ppl_q") > PplMax, "perplexity")
            .as("drop_reason"))
        .withColumn("keep", col("drop_reason").isNull)
        .orderBy("doc_id")
    },
    q137.oracle,
    headline = true)

  /** QUOTA AFTER THE PIPELINE GATES — the seam q135 and q137 leave
    * open: q135 caps per source by model score alone, but a real
    * curation recipe caps AFTER selection (dedup/cascade/model/
    * perplexity first, then the per-domain ceiling on what SURVIVED —
    * RefinedWeb's order). Composed from the two graded definitions
    * verbatim: q137's keep-set as the semi-join filter, q135's
    * (source, score desc, doc_id) ranking window with its
    * WindowGroupLimit pruning on top. The oracle reuses q137's full
    * mirror as a CTE plus q135's msc scorer fragment — the composition
    * cannot drift from either grade.
    *
    * Shape at scale: q137's plan + one doc_id-keyed semi join + the
    * group-limit-pruned window; the exchange after pruning carries
    * O(sources × K), not the survivor corpus.
    */
  val q140 = Q(
    "q140_quota_after_select",
    (s, d) => {
      val K = 10
      val keep = q137.fn(s, d).filter(col("keep")).select("doc_id")
      val w = Window.partitionBy("source").orderBy(col("score").desc, col("doc_id"))
      Tables.documents(s, d).select("doc_id", "source")
        .join(modelScores(s, d), "doc_id")
        .join(keep, Seq("doc_id"), "left_semi")
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= K)
        .select("source", "rank", "doc_id", "score")
        .orderBy("source", "rank")
    },
    Some(s"""
      WITH sel140 AS (${q137.oracle.get}),
      $modelScoreSqlCte,
      j AS (SELECT d.source, m.doc_id, m.score
            FROM msc m
            JOIN documents d USING (doc_id)
            WHERE m.doc_id IN (SELECT doc_id FROM sel140 WHERE keep))
      SELECT source,
        CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS INT) AS rank,
        doc_id, score
      FROM j QUALIFY rank <= 10 ORDER BY source, rank"""))

  /** INCREMENTAL ATTRIBUTE TAGGING, graded end-to-end — the production
    * posture [[graft.pipeline.IncrAttrTable]] implements: the corpus
    * arrives in TWO batches split at mid = (min_id + max_id) div 2, each
    * batch is tagged against the frozen artifacts only (seed-frozen
    * reference LM with add-1 backoff — the CCNet fixed-LM posture;
    * resident band+shingle index for the dup probe; per-doc model score
    * and cascade mask, batch-local by construction), appended, and the
    * q137 CASE then selects over the incrementally-built table.
    *
    * The oracle is the FULL-CORPUS mirror of the same semantics: seed-LM
    * perplexity for every doc (counts restricted to doc_id ≤ mid, LEFT
    * joins + add-1 backoff for unseen grams), the shared model/cascade
    * mirrors, and the exact all-pairs J ≥ 0.8 dup set. Hash-equality IS
    * the incremental-equals-batch proof: per-doc signals are trivially
    * batch-invariant, ppl because the LM is frozen either way, and
    * `is_dup` by the monotone-id argument (every potential lower-id
    * partner of a doc is already resident when its batch is tagged, and
    * later batches cannot retro-flip earlier docs) — so a two-batch
    * build and a one-shot build produce byte-identical tables.
    *
    * Differs from q137/q138 ONLY in the ppl attribute's LM (seed-frozen
    * vs corpus-self counts) — which is why this is its own graded row
    * rather than a third consumer of q137's oracle.
    */
  val q142 = Q(
    "q142_incremental_attrs",
    (s, d) => {
      graft.pipeline.IncrAttrTable.materialized(s, d)
        .select(col("doc_id"),
          when(col("is_dup"), "duplicate")
            .when(col("fail_mask") =!= 0, "cascade")
            .when(col("score") < ModelMin, "model")
            .when(col("ppl_q") > PplMax, "perplexity")
            .as("drop_reason"))
        .withColumn("keep", col("drop_reason").isNull)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH bnd AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
      a142 AS (SELECT doc_id, text, string_split(text, ' ') AS t FROM documents),
      tri142 AS (
        SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                               for i in range(1, greatest(len(t) - 2, 0) + 1)]) AS gram
        FROM a142),
      seedtri AS (
        SELECT gram, count(*) AS c3 FROM tri142
        WHERE doc_id <= (SELECT mid FROM bnd) GROUP BY 1),
      seedbig AS (
        SELECT gram, count(*) AS c2 FROM (
          SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS gram
          FROM a142 WHERE doc_id <= (SELECT mid FROM bnd))
        GROUP BY 1),
      seedv AS (
        SELECT count(DISTINCT gram) AS v FROM (
          SELECT unnest(t) AS gram FROM a142
          WHERE doc_id <= (SELECT mid FROM bnd))),
      nlp142 AS (
        SELECT q.doc_id, ${lqDuckSql("q.den")} - ${lqDuckSql("q.num")} AS nlp_q
        FROM (
          SELECT t0.doc_id,
            CAST(coalesce(st.c3, 0) + 1 AS BIGINT) AS num,
            CAST(coalesce(sb.c2, 0) + sv.v AS BIGINT) AS den
          FROM tri142 t0
          LEFT JOIN seedtri st USING (gram)
          LEFT JOIN seedbig sb
            ON sb.gram = array_to_string(string_split(t0.gram, ' ')[1:2], ' ')
          CROSS JOIN seedv sv) q),
      ppl142 AS (
        SELECT doc_id, CAST(sum(nlp_q) AS BIGINT) // count(*) AS ppl_q
        FROM nlp142 GROUP BY doc_id),
      $modelScoreSqlCte,
      c142 AS (${q84.oracle.get}),
      sh142 AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      dup142 AS (
        SELECT DISTINCT b.doc_id
        FROM sh142 a JOIN sh142 b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8)
      SELECT d.doc_id,
        CASE WHEN dup.doc_id IS NOT NULL THEN 'duplicate'
             WHEN c.fail_mask <> 0 THEN 'cascade'
             WHEN m.score < $ModelMin THEN 'model'
             WHEN p.ppl_q > $PplMax THEN 'perplexity' END AS drop_reason,
        (CASE WHEN dup.doc_id IS NOT NULL THEN 'duplicate'
              WHEN c.fail_mask <> 0 THEN 'cascade'
              WHEN m.score < $ModelMin THEN 'model'
              WHEN p.ppl_q > $PplMax THEN 'perplexity' END) IS NULL AS keep
      FROM documents d
      JOIN msc m USING (doc_id)
      JOIN c142 c USING (doc_id)
      LEFT JOIN ppl142 p USING (doc_id)
      LEFT JOIN dup142 dup ON dup.doc_id = d.doc_id
      ORDER BY d.doc_id"""),
    headline = true)

  /** THE FUSED INGEST LOOP, graded end-to-end — the combined artifact
    * [[graft.pipeline.IncrAttrTable.ingestBatch]] commits in ONE
    * transaction per batch: admission verdicts for every arriving doc
    * (DocStream's statuses and precedence) PLUS the full attribute row
    * for the `new` survivors, sharing one band probe and one index
    * write. The corpus arrives in the standard two-batch mid split
    * ([[graft.pipeline.IncrAttrTable.ensureIngested]]), then compaction
    * folds the artifact — so the graded read exercises the
    * doc_id-range-sorted folds too.
    *
    * The semantics this pins differ from q83 AND q142 — which is why it
    * is its own graded row rather than a third consumer of their
    * oracles:
    *
    *   - vs q83 (batch admission): the resident side here is the
    *     SURVIVOR index, not a pre-existing full corpus — batch 1
    *     classifies against nothing (dup_batch/new only), batch 2
    *     against batch 1's ADMITTED docs only. A batch-2 doc whose sole
    *     J ≥ 0.8 partner was itself dropped in batch 1 is `new` here:
    *     you cannot duplicate a document the corpus rejected.
    *   - vs q142 (tag-everything): only survivors get attribute rows
    *     (`is_dup` false by construction), and the frozen LM seeds from
    *     batch 1's SURVIVORS, not from all of batch 1 — the oracle's
    *     seed counts are restricted to the admitted set, exactly the
    *     composed admission-then-tagging basis.
    *
    * Output: one row per document — its admission status, and the
    * attribute columns (NULL for dropped docs, who never get a row in
    * the attrs relation). The oracle composes q83's split-status CTEs
    * (re-based onto the mid split and the survivor-resident rule) with
    * q142's seed-LM attribute mirror filtered to the admitted set.
    */
  val q143 = Q(
    "q143_fused_ingest",
    (s, d) => {
      val root = graft.pipeline.IncrAttrTable.ensureIngested(s, d)
      val adm = graft.pipeline.IncrAttrTable.admissionsOf(s, root)
      val attrs = graft.pipeline.IncrAttrTable.attrsOf(s, root)
        .select("doc_id", "n_tokens", "score", "ppl_q", "fail_mask")
      adm.join(attrs, Seq("doc_id"), "left")
        .select("doc_id", "status", "n_tokens", "score", "ppl_q", "fail_mask")
        .orderBy("doc_id")
    },
    Some(s"""
      WITH bnd AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS mid FROM documents),
      sh143 AS (
        SELECT doc_id, list_distinct([string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
                 || ' ' || string_split(text, ' ')[i+2]
               for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingles
        FROM documents),
      hb1 AS (SELECT * FROM sh143 WHERE doc_id <= (SELECT mid FROM bnd)),
      hb2 AS (SELECT * FROM sh143 WHERE doc_id > (SELECT mid FROM bnd)),
      dupb1 AS (
        SELECT DISTINCT b.doc_id FROM hb1 b JOIN hb1 a ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      s1 AS (SELECT doc_id FROM hb1 WHERE doc_id NOT IN (SELECT doc_id FROM dupb1)),
      dupc2 AS (
        SELECT DISTINCT b.doc_id FROM hb2 b
        JOIN hb1 r ON r.doc_id IN (SELECT doc_id FROM s1)
        WHERE CAST(len(list_intersect(r.shingles, b.shingles)) AS DOUBLE)
            / (len(r.shingles) + len(b.shingles) - len(list_intersect(r.shingles, b.shingles))) >= 0.8),
      dupb2 AS (
        SELECT DISTINCT b.doc_id FROM hb2 b JOIN hb2 a ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8),
      st143 AS (
        SELECT d.doc_id,
          CASE WHEN d.doc_id <= (SELECT mid FROM bnd) THEN
                 CASE WHEN d.doc_id IN (SELECT doc_id FROM dupb1) THEN 'dup_batch'
                      ELSE 'new' END
               ELSE
                 CASE WHEN d.doc_id IN (SELECT doc_id FROM dupc2) THEN 'dup_corpus'
                      WHEN d.doc_id IN (SELECT doc_id FROM dupb2) THEN 'dup_batch'
                      ELSE 'new' END END AS status
        FROM documents d),
      $modelScoreSqlCte,
      c143 AS (${q84.oracle.get}),
      tri143 AS (
        SELECT doc_id, unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                               for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS gram
        FROM t),
      seedtri AS (
        SELECT gram, count(*) AS c3 FROM tri143
        WHERE doc_id IN (SELECT doc_id FROM s1) GROUP BY 1),
      seedbig AS (
        SELECT gram, count(*) AS c2 FROM (
          SELECT unnest([toks[i] || ' ' || toks[i+1] for i in range(1, len(toks))]) AS gram
          FROM t WHERE doc_id IN (SELECT doc_id FROM s1))
        GROUP BY 1),
      seedv AS (
        SELECT count(DISTINCT gram) AS v FROM (
          SELECT unnest(toks) AS gram FROM t
          WHERE doc_id IN (SELECT doc_id FROM s1))),
      nlp143 AS (
        SELECT q.doc_id, ${lqDuckSql("q.den")} - ${lqDuckSql("q.num")} AS nlp_q
        FROM (
          SELECT t0.doc_id,
            CAST(coalesce(st.c3, 0) + 1 AS BIGINT) AS num,
            CAST(coalesce(sb.c2, 0) + sv.v AS BIGINT) AS den
          FROM tri143 t0
          LEFT JOIN seedtri st USING (gram)
          LEFT JOIN seedbig sb
            ON sb.gram = array_to_string(string_split(t0.gram, ' ')[1:2], ' ')
          CROSS JOIN seedv sv) q),
      ppl143 AS (
        SELECT doc_id, CAST(sum(nlp_q) AS BIGINT) // count(*) AS ppl_q
        FROM nlp143 GROUP BY doc_id)
      SELECT a.doc_id, a.status,
        CASE WHEN a.status = 'new' THEN CAST(len(t.toks) AS INT) END AS n_tokens,
        CASE WHEN a.status = 'new' THEN m.score END AS score,
        CASE WHEN a.status = 'new' THEN p.ppl_q END AS ppl_q,
        CASE WHEN a.status = 'new' THEN c.fail_mask END AS fail_mask
      FROM st143 a
      JOIN t USING (doc_id)
      JOIN msc m USING (doc_id)
      JOIN c143 c USING (doc_id)
      LEFT JOIN ppl143 p USING (doc_id)
      ORDER BY a.doc_id"""),
    headline = true)

  /** Token-budget selection — the "fill the training budget" step that
    * turns a scored corpus into a dataset: rank documents by quality and
    * admit them greedily until a global token budget is exhausted.
    * Quality here is the distinct-token count (an integer, portable
    * proxy — any integer score slots into the same key); the greedy
    * order is the COMPOSITE key (−n_types, doc_id) — score DESC, id
    * ASC — fed to the scan as a two-column lexicographic key
    * ([[graft.ops.PrefixOps.withExclusivePrefixSumMulti]]; the earlier
    * `doc_id − n_types·2³²` single-long packing was collision-free only
    * below 2³² ids, a bound replication-scaled corpora cross — ADVICE
    * r17). The running token count is the two-level distributed prefix
    * sum ([[graft.ops.PrefixOps]]) — the naive `sum() OVER (ORDER BY
    * key)` the oracle runs is a ONE-partition window at scale — and a
    * document is admitted iff the budget was not yet spent when its
    * turn came (exclusive prefix < budget), i.e. exactly the greedy
    * prefix of the ranking survives, never a mid-document truncation.
    */
  val q145 = Q(
    "q145_token_budget_select",
    (s, d) => {
      val Budget = 20000L
      val toks = TextOps.tokens(col("text"))
      val scored = Tables.documents(s, d)
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_types"))
        .withColumn("neg_types", -col("n_types"))
      graft.ops.PrefixOps
        .withExclusivePrefixSumMulti(scored, Seq("neg_types", "doc_id"),
          "n_tokens", "tokens_before")
        .filter(col("tokens_before") < Budget)
        .select("doc_id", "n_types", "n_tokens", "tokens_before")
        .orderBy("doc_id")
    },
    Some("""
      SELECT doc_id, n_types, n_tokens, tokens_before FROM (
        SELECT doc_id, n_types, n_tokens,
          CAST(coalesce(sum(n_tokens) OVER (ORDER BY -n_types, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tokens_before
        FROM (SELECT doc_id,
                CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents) t) r
      WHERE tokens_before < 20000 ORDER BY doc_id"""),
    headline = true)

  /** Overlapping context windows (width 32, stride 24): every document
    * re-cut into fixed-width token windows with 8 tokens of carried
    * context — the chunking step for context-window training and
    * retrieval indexing. Window starts are 0, S, 2S, …; the start count
    * `1 + ceil(max(n−W,0)/S)` guarantees full coverage (every token is
    * in ≥1 window), the LAST window may run short (the tail is kept,
    * never padded or dropped), and a document shorter than one window
    * emits exactly one. Pure per-row generate: a document's windows
    * never leave its task (no shuffle but the presentation sort), and
    * the explode carries (id, window) rows only — `toks` is dropped
    * before the slice output, so nothing row-multiplies the full text.
    */
  val q146 = Q(
    "q146_context_windows",
    (s, d) => TextOps.contextWindowsOf(Tables.documents(s, d))
      .orderBy("doc_id", "win_id"),
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      w AS (SELECT doc_id, toks,
              unnest(range(0, 1 + (greatest(len(toks) - 32, 0) + 23) // 24)) AS win_id
            FROM t)
      SELECT doc_id, CAST(win_id AS INT) AS win_id,
        CAST(win_id * 24 AS INT) AS start_pos,
        CAST(len(toks[(win_id*24 + 1):(win_id*24 + 32)]) AS INT) AS win_tokens,
        array_to_string(toks[(win_id*24 + 1):(win_id*24 + 32)], ' ') AS window_text
      FROM w ORDER BY doc_id, win_id"""),
    headline = true)

  /** ASSEMBLY OVER THE WRITTEN ARTIFACT — the q138 lesson applied to the
    * dataset-assembly quartet (round-17 verdict ask #2): q144 re-runs
    * the whole banding+CC chain and q145 re-tokenizes the corpus on
    * every invocation, but the attribute artifact now freezes their
    * inputs as columns (`comp`/`cluster_size` from q144's graded
    * clusterLabels composition, `n_types` = q145's quality key,
    * `n_tokens` from q136) — so the leakage-safe cluster split AND the
    * token-budget selection together become ONE narrow projection over
    * doc_id-clustered parquet: the composite-key prefix scan for the
    * budget, a md5-bucket CASE for the split, zero `documents` scans,
    * zero re-banding (PlanSpec pins the plan's only file scan is the
    * artifact). Hash-graded against the COMPOSED oracles q144 and q145
    * pass (their mirrors joined on doc_id), which is the equivalence
    * proof: assembly-over-artifact ≡ assembly-over-text, byte for byte.
    *
    * Shape at scale: the artifact write amortizes the banding chain and
    * the tokenizer across every downstream recipe; each (budget, split)
    * recipe after it costs a 5-column scan + the bounded two-level
    * prefix machinery — q138's cost class, where q144+q145 composed
    * pay the tag chain per invocation.
    */
  val q149 = Q(
    "q149_assembly_select",
    (s, d) => {
      val Budget = 20000L
      val at = graft.pipeline.AttrTable.materialized(s, d)
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          col("n_types"), col("n_tokens").cast("long").as("n_tokens"))
        .withColumn("neg_types", -col("n_types"))
      graft.ops.PrefixOps
        .withExclusivePrefixSumMulti(at, Seq("neg_types", "doc_id"),
          "n_tokens", "tokens_before")
        .filter(col("tokens_before") < Budget)
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          graft.ops.SampleOps.splitAssign(col("comp"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"),
          col("n_types"), col("n_tokens"), col("tokens_before"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH cs149 AS (${DedupQs.q144.oracle.get}),
      bs149 AS (${q145.oracle.get})
      SELECT b.doc_id, c.comp, c.cluster_size, c.split,
        b.n_types, b.n_tokens, b.tokens_before
      FROM bs149 b JOIN cs149 c USING (doc_id)
      ORDER BY b.doc_id"""),
    headline = true)

  /** CLASSIFIER language identification — the production lang-id tier
    * the marker heuristic (q32) approximates: a hashed char-trigram
    * LINEAR model per language (fastText's lang-id architecture —
    * Joulin et al. 2016 — q129's scoring machinery with one PLANTED
    * plan-literal weight vector per language; [[graft.ops.TextOps
    * .langIdScoresOf]] holds the one definition), argmax per doc with
    * q32's alphabetical tie-break. Every production pipeline this
    * engine's curation operators mirror (CCNet, Dolma, RefinedWeb)
    * runs lang-id as the FIRST gate; with this row the engine can
    * PRODUCE the `lang` attribute q136/q131/q133 consume —
    * `spark.graft.attrs.derivedLang=true` makes q136's artifact carry
    * the derived label instead of the given column (LangIdSpec pins
    * the swap).
    *
    * Graded exactly: planted integer weights, md5 bucketing, and
    * stride-1 char trigrams are each the same deterministic function
    * in both engines, so scores AND argmax hash-match. Docs shorter
    * than one trigram have no feature stream and drop out (none at
    * the graded scales) — the same absent-row contract as q131.
    */
  val q150 = Q(
    "q150_lang_classifier",
    (s, d) => {
      TextOps.langIdScoresOf(Tables.documents(s, d))
        .select(col("doc_id") +: col("pred_lang") +: col("n_grams") +:
          TextOps.langMarkers.map(_._1).sorted.map(l => col(s"score_$l")): _*)
        .orderBy("doc_id")
    },
    Some {
      val langs = TextQsOracle.markers.map(_._1)
      val w = (i: Int) =>
        s"((CAST(concat('0x', substr(md5(g), 1, 4)) AS BIGINT) % ${TextOps.LangIdBuckets}" +
          s" + ${7919L * (i + 1)}) * 2654435761) % 1000003 - 501001"
      val scores = langs.zipWithIndex.map { case (l, i) =>
        s"CAST(list_sum([${w(i)} for g in grams]) AS BIGINT) AS score_$l"
      }.mkString(",\n          ")
      val best = "greatest(" + langs.map(l => s"score_$l").mkString(", ") + ")"
      val pred = langs
        .map(l => s"WHEN score_$l = __best THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""
      WITH g150 AS (
        SELECT doc_id,
          [substr(text, i, 3) for i in range(1, greatest(length(text) - 2, 0) + 1)] AS grams
        FROM documents
        WHERE length(text) >= 3),
      s150 AS (
        SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
          $scores
        FROM g150)
      SELECT doc_id, $pred AS pred_lang, n_grams,
        ${langs.map(l => s"score_$l").mkString(", ")}
      FROM (SELECT *, $best AS __best FROM s150)
      ORDER BY doc_id"""
    },
    headline = true)

  /** ASSEMBLY OVER THE *INCREMENTAL* ARTIFACT — q149's projection run
    * against [[graft.pipeline.IncrAttrTable]]'s grow-as-you-ingest
    * table instead of [[graft.pipeline.AttrTable]]'s one-shot batch
    * write (the round-18 verdict's ask #2). What makes it possible:
    * the admission path already computes every batch↔corpus and
    * within-batch verified dup pair, and round 19 folds that pair
    * stream into incrementally-maintained component labels
    * (`IncrAttrTable.labelDelta` — union-find over the stream:
    * batch-sized CC with resident components substituted in, merge
    * re-labels bounded by the merged clusters, representative
    * re-labeling at compaction) plus the per-doc `n_types` quality key
    * on the incremental row. A user running the streaming ingest loop
    * can now do leakage-safe splits and token-budget selection without
    * a full batch re-derivation of the cluster structure.
    *
    * Graded with q149's COMPOSED ORACLE VERBATIM — hash-equality of
    * incremental-over-two-batches against the one-shot q144+q145
    * mirrors IS the incremental≡batch proof (q142's shape, applied to
    * the assembly columns: comp/cluster_size from the label stream,
    * n_types from the incremental row).
    *
    * Shape at scale: each append's label delta is bounded by the
    * batch's verified pairs plus the clusters they merge — never the
    * corpus; the read is a narrow artifact scan + the label join; the
    * prefix machinery is q145's bounded two-level form. */
  val q151 = Q(
    "q151_incr_assembly",
    (s, d) => {
      val Budget = 20000L
      val root = graft.pipeline.IncrAttrTable.ensureBuilt(s, d)
      val at = graft.pipeline.IncrAttrTable.clusteredAttrsOf(s, root)
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          col("n_types"), col("n_tokens").cast("long").as("n_tokens"))
        .withColumn("neg_types", -col("n_types"))
      graft.ops.PrefixOps
        .withExclusivePrefixSumMulti(at, Seq("neg_types", "doc_id"),
          "n_tokens", "tokens_before")
        .filter(col("tokens_before") < Budget)
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          graft.ops.SampleOps.splitAssign(col("comp"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"),
          col("n_types"), col("n_tokens"), col("tokens_before"))
        .orderBy("doc_id")
    },
    q149.oracle,
    headline = true)

  val defs: Seq[Q] = Seq(q30, q31, q32, q33, q34, q44, q45, q46, q47, q48, q49, q64,
    q81, q82, q84, q96, q98, q100, q112, q116, q123, q124, q125, q127, q129, q131,
    q133, q135, q136, q137, q138, q140, q142, q143, q145, q146, q149, q150, q151)
}

/** Marker profiles mirrored into the oracle SQL (kept in lock-step with
  * [[graft.ops.TextOps.langMarkers]] by construction — same value).
  */
private object TextQsOracle {
  // sorted like every engine-side consumer (the alphabetical tie-break
  // and column order must be structural on BOTH sides — ADVICE r18)
  val markers: Seq[(String, Seq[String])] = TextOps.langMarkers.sortBy(_._1)
}
