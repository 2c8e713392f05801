package graft.streaming

import graft.ops.{DedupOps, TextOps}
import graft.queries.DedupQs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming ingest admission — q83's incremental dedup as a Structured
  * Streaming loop. Each micro-batch of incoming documents is classified
  * against a RESIDENT band+shingle index (`dup_corpus` / `dup_batch` /
  * `new`, q83's precedence and keep-first policy), and the admitted
  * (`new`) documents' bands and shingles are APPENDED to the index
  * before the next trigger — so every batch deduplicates against the
  * corpus PLUS everything admitted before it: the grow-as-you-ingest
  * loop a production corpus runs.
  *
  * The transaction runs under the tier's shared driver
  * ([[IndexLayout.startStream]]) and ends in the shared verdict commit
  * ([[IndexLayout.commitVerdicts]]); its gates ([[gate]]) and band probe
  * ([[dupProbe]]) are the SAME functions the fused ingest loop
  * ([[graft.pipeline.IncrAttrTable.ingestBatch]]) and the tagging loop
  * run. foreachBatch delivery is AT-LEAST-once — a crash after any
  * write but before the checkpoint commit re-runs the same batchId on
  * restart — so every write here is idempotent per batchId: the
  * verdicts overwrite their own `batch_id=N` leaf dir and the index
  * slices their own `batch_id=N` partitions (dynamic partition
  * overwrite), so a replay replaces its own output instead of appending
  * beside a partial first attempt; and classification reads the index
  * at `batch_id < batchId`, so a replayed batch never sees its own
  * half-written index rows (a doc cannot classify itself `dup_corpus`).
  * At-least-once delivery + per-batch idempotent writes =
  * effectively-exactly-once, the same discipline as `Backfill`'s
  * idempotent per-month overwrite. At 100 TB the overwrites become
  * table-format transactions (Delta/Iceberg replaceWhere) — here they
  * are plain parquet dirs at test scale.
  *
  * BUCKETED LAYOUT — the index is the relation that grows without
  * bound, and an unbucketed layout makes every micro-batch SCAN the
  * whole of it just to classify a trickle. Both index relations are
  * therefore hash-bucketed into a fixed number of partition directories
  * (bands on `pmod(band_hash, nb)`, shingles on
  * `pmod(xxhash64(doc_id), nb)`), and each batch reads ONLY the bucket
  * directories its own probe keys land in: the band lookup prunes to
  * the batch's band-hash buckets, the shingle verify prunes to the
  * candidate docs' id buckets. Both bucket sets are bounded driver-side
  * scalars (≤ nb distinct ints each, the q68-style bounded-collect
  * posture), and the pruning happens at FILE LISTING time via partition
  * pruning on the bucket directory level — per-batch I/O tracks the
  * batch's bucket contents, not the index's total size. The win is
  * largest exactly where streaming admission lives (small batches
  * against a huge resident corpus: a 1-doc batch touches ≤16 of `nb`
  * band buckets); a batch big enough to touch every bucket degrades
  * gracefully to the full scan its join needs anyway. The bucket COUNT
  * is a layout property, not a query knob: it is fixed at seed time
  * (conf `spark.graft.stream.indexBuckets`, default 64), persisted by
  * [[IndexLayout]], and read back on every admit — changing the
  * conf mid-stream cannot desynchronize writers and readers. At 100 TB
  * the same layout is a Delta/Iceberg table partitioned (or bucketed)
  * on the same keys, and nb scales with corpus size the way any
  * bucketed table's does.
  *
  * Layout: [[IndexLayout]] owns it — `bands` and `shingles` relations
  * (seeded by [[seedIndex]] into `batch_id=-1` of generation 0), each
  * admitted batch written bucketed ([[IndexLayout.writeSlice]]).
  * [[compactIndex]] folds the accumulated batch
  * partitions into one file per bucket under the next generation and
  * atomically swaps the pointer — the maintenance job that keeps
  * per-bucket file counts from growing with trigger count. Admissions
  * are written to `outDir/admissions` as (doc_id, status) under
  * `batch_id=N` partitions.
  */
object DocStream {

  /** Conf key for the index bucket count (see [[IndexLayout]]). */
  val BucketsConfKey: String = IndexLayout.BucketsConfKey

  /** Conf key for the OPTIONAL streaming quality gate: when set to an
    * integer threshold, each micro-batch is scored by the shared
    * hashed-n-gram model ([[TextOps.modelScoresOf]] — the exact q129
    * scorer) BEFORE dedup classification, and docs at or below the
    * threshold are recorded `low_quality` and neither classified nor
    * indexed — the standard pipeline order (quality filter, then
    * dedup), applied at the admission boundary. Unset (default) the
    * gate is off and admission behavior is byte-identical to before. */
  val MinScoreConfKey = "spark.graft.stream.minScore"

  /** Conf key for the OPTIONAL streaming LANGUAGE gate: a CSV of allowed
    * language codes. When set, each micro-batch runs the q150 classifier
    * ([[TextOps.langIdScoresOf]] — the exact graded definition) FIRST,
    * and docs whose argmax lands outside the set are recorded
    * `wrong_lang` and neither quality-scored, dedup-classified, nor
    * indexed — the CCNet/Dolma pipeline order, where lang-id is the
    * first gate and everything downstream sees one language. Precedence
    * above the quality gate: `wrong_lang` → `low_quality` →
    * `dup_corpus` → `dup_batch` → `new`. A doc too short to classify
    * (no char trigram — q150's absent-row contract) PASSES the gate:
    * it cannot be attributed to a wrong language. Unset (default) the
    * gate is off and admission behavior is byte-identical to before. */
  val LangAllowConfKey = "spark.graft.stream.langAllow"

  /** Row shapes of the two index relations — the cold-start contract
    * [[IndexLayout.residentSlice]] falls back to when the index holds no
    * files yet (seeded from an empty corpus). */
  private val BandsSchema = StructType.fromDDL(
    "doc_id BIGINT, band_idx INT, band_hash INT")
  private val ShinglesSchema = StructType.fromDDL(
    "doc_id BIGINT, shingles ARRAY<BIGINT>")

  /** Seed the resident index from an existing corpus (doc_id, text)
    * ([[IndexLayout.seed]]: a full rebuild into `batch_id=-1`). */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit = {
    val sh = DedupQs.shinglesOf(corpus).filter(size(col("shingles")) > 0)
    IndexLayout.seed(corpus.sparkSession, indexDir,
      Seq("shingles" -> sh, "bands" -> DedupQs.minhashBandsOf(sh)))
  }

  /** Fold the accumulated per-batch partitions into one file per bucket
    * (see [[IndexLayout.compact]] for the contract: only between
    * successful stream invocations). `newBuckets > 0` re-buckets while
    * folding (e.g. [[IndexLayout.scaledBuckets]] of the resident row
    * count — how an index seeded before its corpus size was knowable
    * grows with it); the default keeps the current count. */
  def compactIndex(spark: SparkSession, indexDir: String,
      newBuckets: Int = 0): Unit =
    IndexLayout.compact(spark, indexDir, Seq("bands", "shingles"), newBuckets)

  /** [[compactIndex]] behind its pressure trigger: fold only when some
    * bucket has accrued more than `maxDirsPerBucket` batch partitions.
    * Returns whether a compaction ran. */
  def maybeCompactIndex(spark: SparkSession, indexDir: String,
      maxDirsPerBucket: Int = 32): Boolean =
    IndexLayout.maybeCompact(spark, indexDir, Seq("bands", "shingles"),
      maxDirsPerBucket)

  /** Start the admission stream over parquet files of (doc_id, text)
    * ([[IndexLayout.startStream]]: AvailableNow + checkpoint). */
  def start(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery =
    IndexLayout.startStream(spark, StructType.fromDDL("doc_id LONG, text STRING"),
      streamDir, s"$outDir/_checkpoint", maxFilesPerTrigger)(
      admitBatch(_, indexDir, outDir, _))

  /** One admission transaction: gate, classify the micro-batch against
    * the resident index ([[dupProbe]] in the streaming posture), commit
    * the verdicts ([[IndexLayout.commitVerdicts]]), write the admitted
    * docs' bands+shingles — every write an idempotent overwrite of this
    * batch's own partitions, so foreachBatch replaying the same batchId
    * (at-least-once delivery) converges to the same state. The batch's
    * band/candidate bucket sets are deterministic functions of its
    * data, so a replay selects — and dynamically overwrites — exactly
    * the partitions of the first attempt. Package-visible so specs can
    * drive it directly. */
  private[graft] def admitBatch(docs: DataFrame, indexDir: String,
      outDir: String, batchId: Long): Unit = graft.Memo.scoped { sc =>
    val nb = IndexLayout.numBuckets(docs.sparkSession, indexDir)
    val (gated, eligible) = gate(sc, docs)
    val sh = sc(DedupQs.shinglesOf(eligible).filter(size(col("shingles")) > 0))
    val bands = sc(DedupQs.minhashBandsOf(sh))
    val (corpus, batch) =
      dupProbe(sc, indexDir, nb, sh, bands, broadcastProbe = true, batchId)
    val admitted = IndexLayout.commitVerdicts(docs.select("doc_id"),
      gated ++ Seq("dup_corpus" -> dupIdsOf(corpus), "dup_batch" -> dupIdsOf(batch)),
      s"$outDir/admissions", batchId)
    IndexLayout.writeSlice(sh.join(admitted, "doc_id"), indexDir, "shingles",
      nb, batchId)
    IndexLayout.writeSlice(bands.join(admitted, "doc_id"), indexDir, "bands",
      nb, batchId)
  }

  /** The admission gates, in the CCNet/Dolma order: the optional
    * language gate ([[LangAllowConfKey]]) FIRST, then the optional
    * quality gate ([[MinScoreConfKey]]) over what passed it. Returns the
    * gate flags in status precedence (`wrong_lang`, `low_quality` — each
    * present only when its conf is set, persisted in `sc` because it
    * feeds both the eligibility anti-join and the verdict commit) and the
    * ELIGIBLE docs: rejected docs skip every later scorer and the
    * shingler, so they produce no candidates, classify as nothing but
    * their gate status, and never enter the index. */
  private[graft] def gate(sc: graft.Memo.Scope,
      docs: DataFrame): (Seq[(String, DataFrame)], DataFrame) = {
    val conf = docs.sparkSession.conf
    val wrongLang = conf.getOption(LangAllowConfKey).map { csv =>
      val allow = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      sc(TextOps.langIdScoresOf(docs)
        .filter(!col("pred_lang").isin(allow: _*))
        .select(col("doc_id")))
    }
    val postLang = wrongLang.fold(docs)(docs.join(_, Seq("doc_id"), "left_anti"))
    val lowQ = conf.getOption(MinScoreConfKey).map(_.toLong).map { m =>
      sc(TextOps.modelScoresOf(postLang).filter(col("score") <= m)
        .select(col("doc_id")))
    }
    val eligible = lowQ.fold(postLang)(postLang.join(_, Seq("doc_id"), "left_anti"))
    (wrongLang.map("wrong_lang" -> _).toSeq ++ lowQ.map("low_quality" -> _), eligible)
  }

  /** The document tier's ONE band probe with exact verify, against the
    * resident index at `batch_id < batchId`: the batch's bands (`bands`,
    * from `sh` through [[DedupQs.minhashBandsOf]] — q36's banding) probe
    * the bucket-pruned resident bands ([[IndexLayout.probeSlice]]) and
    * the batch itself, then every candidate pair passes the integer-exact
    * J >= 4/5 verify against the shingle sets. Keep-first: within the
    * batch only a LOWER-id partner marks a doc; against the resident
    * index any partner does (a replayed batch never sees its own rows,
    * so a doc cannot mark itself, and under [[graft.pipeline
    * .IncrAttrTable]]'s enforced monotone ids every resident id is lower
    * anyway).
    *
    * The [[DedupOps.capBuckets]] straggler bound applies to the BATCH
    * side only (a batch-sized aggregate): a band bucket holding more than
    * [[DedupQs.MaxBucket]] batch docs produces no candidates. Capping the
    * resident side instead would cost two index-sized exchanges per
    * batch, and dropping it only ADDS candidates (the exact verify keeps
    * the answer exact).
    *
    * `broadcastProbe` is the shard posture: the capped batch bands, the
    * candidate pairs and the batch's shingles are hinted, so candidate
    * generation and verify are map-side hash probes over the pruned
    * resident reads and the resident side never shuffles. A corpus-sized
    * "batch" passes `false` and every join takes the shuffled form.
    *
    * Returns (resident-dup PAIRS, within-batch-dup PAIRS), each
    * (doc_a, doc_b) with doc_b the batch doc; the resident candidate
    * relation both reads share is persisted in `sc` (one resident band
    * scan per batch). Callers grade the two sides separately (admission:
    * `dup_corpus` vs `dup_batch`) or union them (tagging: `is_dup`, and
    * the pairs are the label stream's union-find edges). */
  private[graft] def dupProbe(sc: graft.Memo.Scope, indexDir: String, nb: Int,
      sh: DataFrame, bands: DataFrame, broadcastProbe: Boolean,
      batchId: Long): (DataFrame, DataFrame) = {
    val bSide = hinted(broadcastProbe, DedupOps.capBuckets(
        bands, Seq("band_idx", "band_hash"), DedupQs.MaxBucket)
      .select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash")))
    def aSide(df: DataFrame): DataFrame =
      df.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
    val candsResident = sc(aSide(IndexLayout.probeSlice(bands, indexDir, "bands",
        nb, batchId, BandsSchema))
      .join(bSide, Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct())
    val candsBatch = aSide(bands)
      .join(bSide, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // integer-exact J >= 4/5 with array_intersect appearing ONCE (the
    // division form re-evaluates the intersect per reference when
    // Catalyst inlines it into the join condition — DedupQs.verified
    // history); the size bound is J's necessary condition min/max >= 4/5
    val sb = hinted(broadcastProbe,
      sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")))
    def verify(cands: DataFrame, aSh: DataFrame): DataFrame = {
      val nInter = size(array_intersect(col("sh_a"), col("sh_b")))
      val sizeOk = lit(5) * least(size(col("sh_a")), size(col("sh_b"))) >=
        lit(4) * greatest(size(col("sh_a")), size(col("sh_b")))
      aSh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a"))
        .join(hinted(broadcastProbe, cands), "doc_a").join(sb, "doc_b")
        .filter(sizeOk && (lit(9) * nInter >=
          lit(4) * (size(col("sh_a")) + size(col("sh_b")))))
        .select(col("doc_a"), col("doc_b")).distinct()
    }
    // the resident shingle verify reads only the candidate docs' id
    // buckets — second bounded collect, off the persisted candidates
    val residentSh = IndexLayout.probeSlice(candsResident, indexDir, "shingles",
      nb, batchId, ShinglesSchema, key = col("doc_a"))
    (verify(candsResident, residentSh), verify(candsBatch, sh))
  }

  /** `df` with a broadcast hint under the shard posture (`on` — a
    * batch-sized relation), unchanged for a corpus-sized one. */
  private[graft] def hinted(on: Boolean, df: DataFrame): DataFrame =
    if (on) broadcast(df) else df

  /** The dup doc ids of a verified pair relation — the doc_b side
    * (keep-first: the higher-id member of a pair is the dup). An id
    * repeats once per partner: [[IndexLayout.commitVerdicts]] takes
    * repeats as they come, a join must dedup them first. */
  private[graft] def dupIdsOf(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_b").as("doc_id"))
}
