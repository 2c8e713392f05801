package graft.streaming

import graft.ops.{DedupOps, Fs, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingest admission — q83's incremental dedup as a Structured
  * Streaming loop. Each micro-batch of incoming documents is classified
  * against a RESIDENT band+shingle index (`dup_corpus` / `dup_batch` /
  * `new`, q83's precedence and keep-first policy), and the admitted
  * (`new`) documents' bands and shingles are APPENDED to the index
  * before the next trigger — so every batch deduplicates against the
  * corpus PLUS everything admitted before it: the grow-as-you-ingest
  * loop a production corpus runs.
  *
  * `foreachBatch` is the engine's sanctioned form for exactly this
  * read-classify-append transaction (the classification needs per-batch
  * joins and aggregations that streaming-native operators would hold as
  * unbounded state). foreachBatch delivery is AT-LEAST-once — a crash
  * after any write but before the checkpoint commit re-runs the same
  * batchId on restart — so every write here is made idempotent per
  * batchId: all three outputs (admissions, index shingles, index bands)
  * are PARTITIONED by batch_id and written with dynamic partition
  * overwrite, so a replay replaces its own partition instead of
  * appending beside a partial first attempt; and classification reads
  * the index at `batch_id < batchId`, so a replayed batch never sees
  * its own half-written index rows (a doc cannot classify itself
  * `dup_corpus`). At-least-once delivery + per-batch idempotent writes
  * = effectively-exactly-once, the same discipline as `Backfill`'s
  * idempotent per-month overwrite. At 100 TB the partition overwrites
  * become table-format transactions (Delta/Iceberg replaceWhere) and
  * the index relation takes the same `capBuckets` straggler guard the
  * batch paths apply — here they are plain parquet dirs at test scale.
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
  * pruning on the `bucket=` directory level — per-batch I/O tracks the
  * batch's bucket contents, not the index's total size. The win is
  * largest exactly where streaming admission lives (small batches
  * against a huge resident corpus: a 1-doc batch touches ≤16 of `nb`
  * band buckets); a batch big enough to touch every bucket degrades
  * gracefully to the full scan its join needs anyway. The bucket COUNT
  * is a layout property, not a query knob: it is fixed at seed time
  * (conf `spark.graft.stream.indexBuckets`, default 64), persisted in
  * `indexDir/_buckets`, and read back on every admit — changing the
  * conf mid-stream cannot desynchronize writers and readers. At 100 TB
  * the same layout is a Delta/Iceberg table partitioned (or bucketed)
  * on the same keys, and nb scales with corpus size the way any
  * bucketed table's does.
  *
  * Layout (see [[IndexLayout]]): `indexDir/{bands,shingles}/gen=G/
  * bucket=B/batch_id=N` (seeded by [[seedIndex]] into `batch_id=-1` of
  * generation 0); `indexDir/_buckets` holds nb, `indexDir/_gen` the
  * live generation. [[compactIndex]] folds the accumulated batch
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

  // the canonical bucket assignments ([[IndexLayout.bucketExpr]]) — the
  // re-bucketing compaction reassigns with the identical expressions
  private def bandBucket(nb: Int): Column = IndexLayout.bucketExpr("bands", nb)
  private def docBucket(nb: Int, id: Column = null): Column =
    IndexLayout.bucketExpr("shingles", nb, id)

  /** Row shapes of the two index relations — the cold-start contract
    * [[IndexLayout.residentSlice]] falls back to when the index holds no
    * files yet (seeded from an empty corpus). */
  private val BandsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, band_idx INT, band_hash INT")
  private val ShinglesSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, shingles ARRAY<BIGINT>")

  /** Seed the resident index from an existing corpus (doc_id, text).
    * Seed rows land in the `batch_id=-1` partition so every streamed
    * batch (batchId >= 0) sees them through the `< batchId` read. */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit = {
    val spark = corpus.sparkSession
    // re-seed is a full rebuild: clear any prior generations first
    Seq("bands", "shingles").foreach(rel =>
      Fs.delete(s"$indexDir/$rel", spark.sparkContext.hadoopConfiguration))
    val nb = IndexLayout.initMeta(spark, indexDir)
    val sh = corpus
      .select(col("doc_id"), TextOps.shingleHashes(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0)
    IndexLayout.writeSlice(
      sh.withColumn("bucket", docBucket(nb)).withColumn("batch_id", lit(-1L)),
      indexDir, "shingles", dynamic = false)
    IndexLayout.writeSlice(
      DedupOps.minhashBands(sh, "doc_id", numPerm = 64, bands = 16)
        .withColumn("bucket", bandBucket(nb)).withColumn("batch_id", lit(-1L)),
      indexDir, "bands", dynamic = false)
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

  /** Start the admission stream over parquet files of (doc_id, text).
    * AvailableNow + checkpoint: run-to-completion per invocation,
    * resume-exactly-once across invocations. */
  def start(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery = {
    spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamDir)
      .writeStream
      .foreachBatch((batch: DataFrame, batchId: java.lang.Long) =>
        admitBatch(batch, indexDir, outDir, batchId))
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One admission transaction: classify the micro-batch against the
    * resident index, write the verdicts, write the admitted docs'
    * bands+shingles — every write an idempotent overwrite of this
    * batch's own partitions, so foreachBatch replaying the same batchId
    * (at-least-once delivery) converges to the same state. The batch's
    * band/candidate bucket sets are deterministic functions of its
    * data, so a replay selects — and dynamically overwrites — exactly
    * the partitions of the first attempt. Package-visible so specs can
    * drive it directly. */
  private[graft] def admitBatch(docs: DataFrame, indexDir: String,
      outDir: String, batchId: Long): Unit = graft.Memo.scoped { sc =>
    val spark = docs.sparkSession
    val nb = IndexLayout.numBuckets(spark, indexDir)
    // optional language gate FIRST (see LangAllowConfKey): rejected
    // docs skip the quality scorer, the shingler, and the index —
    // everything downstream of lang-id sees one language. Persisted for
    // the same two consumers as the quality flag.
    val wrongLang: Option[DataFrame] =
      spark.conf.getOption(LangAllowConfKey).map { csv =>
        val allow = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        sc(TextOps.langIdScoresOf(docs)
          .filter(!col("pred_lang").isin(allow: _*))
          .select(col("doc_id")))
      }
    val postLang = wrongLang match {
      case Some(w) => docs.join(w, Seq("doc_id"), "left_anti")
      case None => docs
    }
    // optional quality gate (see MinScoreConfKey): rejected docs are
    // excluded from shingling, so they produce no candidates, classify
    // as nothing but low_quality, and never enter the index. Persisted
    // because the flag feeds both the eligibility anti-join and the
    // final status projection.
    val lowQ: Option[DataFrame] =
      spark.conf.getOption(MinScoreConfKey).map(_.toLong).map { m =>
        sc(TextOps.modelScoresOf(postLang).filter(col("score") <= m)
          .select(col("doc_id")))
      }
    val eligible = lowQ match {
      case Some(l) => postLang.join(l, Seq("doc_id"), "left_anti")
      case None => postLang
    }
    val sh = sc(eligible
      .select(col("doc_id"), TextOps.shingleHashes(col("text")).as("shingles"))
      .filter(size(col("shingles")) > 0))
    val bands = sc(DedupOps.minhashBands(sh, "doc_id", numPerm = 64, bands = 16))
    // which index buckets can this batch's band lookups possibly hit?
    // A bounded driver-side scalar (≤ nb ints) off the persisted batch
    // bands — the price of turning the index read from O(index) into
    // O(batch's buckets).
    val streamBuckets = bands.select(bandBucket(nb).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq

    // the index is the relation that grows without bound as admissions
    // accumulate — the same oversized-bucket straggler guard the batch
    // paths apply (inert below the cap, bounds per-trigger pair
    // generation when a band bucket goes hot). Partition pruning on
    // batch_id < batchId excludes any half-written rows a crashed
    // first attempt of THIS batch left behind — replay classifies
    // against exactly the pre-batch index.
    val idxBands = DedupOps.capBuckets(
      IndexLayout.residentSlice(spark, indexDir, "bands", batchId,
        streamBuckets, BandsSchema),
      Seq("band_idx", "band_hash"), 1000)

    val streamSide = bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_hash"))
    val candsCorpus = sc(streamSide
      .join(idxBands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash")),
        Seq("band_idx", "band_hash"))
      .select("doc_a", "doc_b").distinct())
    val candsBatch = bands
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("band_hash"))
      .join(streamSide, Seq("band_idx", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()

    // shingle verify reads only the candidate docs' id buckets —
    // second bounded collect, off the persisted candidate relation
    val candBuckets = candsCorpus
      .select(docBucket(nb, col("doc_a")).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val idxSh = IndexLayout.residentSlice(spark, indexDir, "shingles",
      batchId, candBuckets, ShinglesSchema)

    // integer-exact J >= 4/5 with array_intersect appearing ONCE (the
    // division form expands the intersect into both numerator and
    // denominator of the join-time condition — see DedupQs.verified)
    def verify(cands: DataFrame, aSh: DataFrame): DataFrame =
      cands
        .join(aSh.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
        .filter(lit(9L) * size(array_intersect(col("sh_a"), col("sh_b"))) >=
          lit(4L) * (size(col("sh_a")) + size(col("sh_b"))))
        .select(col("doc_b").as("doc_id")).distinct()

    val dupCorpus = verify(candsCorpus, idxSh).withColumn("__dc", lit(true))
    val dupBatch = verify(candsBatch, sh).withColumn("__db", lit(true))

    val withWl = wrongLang match {
      case Some(w) => docs.select("doc_id")
        .join(w.withColumn("__wl", lit(true)), Seq("doc_id"), "left")
      case None => docs.select("doc_id")
        .withColumn("__wl", lit(null).cast("boolean"))
    }
    val withLq = lowQ match {
      case Some(l) => withWl
        .join(l.withColumn("__lq", lit(true)), Seq("doc_id"), "left")
      case None => withWl
        .withColumn("__lq", lit(null).cast("boolean"))
    }
    withLq
      .join(dupCorpus, Seq("doc_id"), "left")
      .join(dupBatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__wl"), "wrong_lang")
          .when(col("__lq"), "low_quality")
          .when(col("__dc"), "dup_corpus")
          .when(col("__db"), "dup_batch")
          .otherwise("new").as("status"),
        lit(batchId).as("batch_id"))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(s"$outDir/admissions")

    // re-read the just-committed verdicts: breaks the plan lineage to
    // indexDir (Spark refuses to overwrite a path its plan reads) and
    // makes the index writes a pure function of on-disk state
    val admitted = spark.read.parquet(s"$outDir/admissions")
      .filter(col("batch_id") === batchId && col("status") === "new")
      .select("doc_id")
    IndexLayout.writeSlice(
      sh.join(admitted, "doc_id")
        .withColumn("bucket", docBucket(nb))
        .withColumn("batch_id", lit(batchId)),
      indexDir, "shingles", dynamic = true)
    IndexLayout.writeSlice(
      bands.join(admitted, "doc_id")
        .withColumn("bucket", bandBucket(nb))
        .withColumn("batch_id", lit(batchId)),
      indexDir, "bands", dynamic = true)
  }
}
