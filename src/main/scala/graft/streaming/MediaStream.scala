package graft.streaming

import graft.ops.{DedupOps, MultimodalOps}
import graft.ops.MultimodalOps.MediaRow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming MEDIA admission — q152/q153's perceptual near-dup as a
  * grow-as-you-ingest loop, the fingerprint-tier twin of [[DocStream]]
  * (minhash/token tier) and [[VecStream]] (embedding tier). Each
  * micro-batch of (media_id, kind, uri, bytes) rows is decoded to its
  * 64-bit perceptual fingerprint in the per-partition decode pass
  * ([[MultimodalOps.perceptualHashes]] — image dHash for BMP/PNG
  * rasters, energy-envelope dHash for PCM WAVs, exact FNV for opaque
  * payloads), classified against a RESIDENT fingerprint index —
  * `dup_corpus` / `dup_batch` / `new` with the keep-first (lowest id)
  * policy and DocStream's precedence (`dup_corpus` beats `dup_batch`)
  * — and the admitted rows' fingerprints join the index before the
  * next trigger, so every batch deduplicates against everything
  * admitted before it. The resident side is the SURVIVOR index
  * (q143's rule): a batch row whose only near neighbor was itself
  * dropped in an earlier batch is `new` — you cannot duplicate a
  * payload the corpus rejected.
  *
  * Same idempotence discipline, driver and verdict commit as the other
  * tiers: foreachBatch delivery is AT-LEAST-once, so the verdict write
  * is an idempotent overwrite of this batch's own `batch_id` leaf dir
  * ([[IndexLayout.commitVerdicts]]), classification reads the
  * index at `batch_id < batchId` (a replayed batch never sees its own
  * half-written rows), and the index write derives from the COMMITTED
  * verdicts re-read off disk.
  *
  * Same BUCKETED LAYOUT ([[IndexLayout]], relation `fingerprints`):
  * index rows are the canonical 4×16-bit bands of each admitted
  * fingerprint ([[MultimodalOps.phashBands]] — the SAME banding as
  * q152's candidate join, so index and probe can never drift), 32
  * bytes/row, bucketed on `xxhash64(band_idx, band_bits)`. The seed is
  * written bucketed; each batch APPENDS its admitted rows to the tail
  * ([[IndexLayout.appendTailSlice]] — one leaf-dir write, no
  * partitioned-write listing), which every probe reads and
  * [[compactIndex]] folds into real buckets. A batch
  * reads ONLY the bucket dirs its own band probes land in (bounded
  * driver-side scalar, ≤ min(4·batch, nb) ints) — per-trigger I/O
  * tracks the batch's probe buckets, not the index's total size. With
  * 4 bands over the ≤3-bit threshold the pigeonhole guarantee holds
  * against the index exactly as in the batch tier: a true near pair
  * agrees on ≥1 band, so probing the batch's band buckets has EXACT
  * recall. The resident side takes the [[DedupOps.capBuckets]]
  * straggler guard on (band_idx, band_bits) — and because identical
  * content collapses to ONE surviving fingerprint at admission time
  * (copies classify `dup_corpus`/`dup_batch` and are never indexed),
  * the identical-content degeneracy (blank thumbnails, repeated
  * logos) structurally cannot accrete in the index: the q153 lesson,
  * enforced by the loop itself.
  */
object MediaStream {

  /** q152's exact-recall radius: 4 bands × 16 bits over Hamming ≤ 3. */
  private val MaxHamming = 3

  /** Resident band-bucket cap ([[DedupOps.capBuckets]]): inert at test
    * scales; at production scale it bounds per-trigger join work if a
    * bucket of DISTINCT surviving fingerprints ever goes degenerate
    * (survivor-only indexing already keeps identical content out). */
  private val MaxBucket = 1000

  /** Row shape of the fingerprint index — [[IndexLayout.residentSlice]]'s
    * cold-start fallback contract. */
  private val FingerprintsSchema = StructType.fromDDL(
    "media_id BIGINT, phash BIGINT, band_idx INT, band_bits BIGINT")

  /** (media_id, phash) of a raw media relation via the decode pass. */
  private def hashesOf(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    MultimodalOps.perceptualHashes(media.as[MediaRow]).toDF()
      .select("media_id", "phash")
  }

  /** Seed the resident index from an existing media corpus
    * (media_id, kind, uri, bytes). Seed rows land in the `batch_id=-1`
    * partition so every streamed batch (batchId >= 0) sees them through
    * the `< batchId` read. An EMPTY corpus is a legitimate cold start
    * (the index grows purely from admissions). */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit =
    IndexLayout.seed(corpus.sparkSession, indexDir,
      Seq("fingerprints" -> MultimodalOps.phashBands(hashesOf(corpus))))

  /** Fold accumulated batch partitions into one file per bucket (see
    * [[IndexLayout.compact]]; single-writer contract — only between
    * successful stream invocations). */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    IndexLayout.compact(spark, indexDir, Seq("fingerprints"))

  /** [[compactIndex]] behind its pressure trigger. */
  def maybeCompactIndex(spark: SparkSession, indexDir: String,
      maxDirsPerBucket: Int = 32): Boolean =
    IndexLayout.maybeCompact(spark, indexDir, Seq("fingerprints"), maxDirsPerBucket)

  /** Start the admission stream over parquet files of
    * (media_id, kind, uri, bytes) ([[IndexLayout.startStream]]:
    * AvailableNow + checkpoint). */
  def start(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery =
    IndexLayout.startStream(spark,
      StructType.fromDDL("media_id LONG, kind STRING, uri STRING, bytes BINARY"),
      streamDir, s"$outDir/_checkpoint", maxFilesPerTrigger)(
      admitBatch(_, indexDir, outDir, _))

  /** One admission transaction: decode-hash the micro-batch, probe the
    * resident fingerprint index on the batch's own band buckets,
    * classify (`dup_corpus` > `dup_batch` > `new`), commit the verdicts
    * ([[IndexLayout.commitVerdicts]]), index the admitted fingerprints.
    * Package-visible so specs and the graded q154 drive it directly. */
  private[graft] def admitBatch(media: DataFrame, indexDir: String,
      outDir: String, batchId: Long): Unit = graft.Memo.scoped { sc =>
    val nb = IndexLayout.numBuckets(media.sparkSession, indexDir)
    val batchBands = sc(MultimodalOps.phashBands(hashesOf(media)))
    // the batch can only collide inside its own band buckets — read
    // only those bucket dirs (≤ min(4·batch, nb) of them)
    val idx = DedupOps.capBuckets(
      IndexLayout.probeSlice(batchBands, indexDir, "fingerprints", nb, batchId,
        FingerprintsSchema),
      Seq("band_idx", "band_bits"), MaxBucket)

    def near = bit_count(col("a_ph").bitwiseXOR(col("b_ph"))) <= MaxHamming
    // the batch side is batch-sized: both banded joins probe it map-side
    val b = broadcast(batchBands.select(col("band_idx"), col("band_bits"),
      col("media_id").as("b_id"), col("phash").as("b_ph")))

    val dupCorpus = idx
      .select(col("band_idx"), col("band_bits"), col("phash").as("a_ph"))
      .join(b, Seq("band_idx", "band_bits"))
      .filter(near)
      .select(col("b_id").as("media_id"))
    // keep-first within the batch: a LOWER-id near neighbor marks
    // this one, the neighbor's own verdict notwithstanding
    val dupBatch = batchBands
      .select(col("band_idx"), col("band_bits"),
        col("media_id").as("a_id"), col("phash").as("a_ph"))
      .join(b, Seq("band_idx", "band_bits"))
      .filter(col("a_id") < col("b_id") && near)
      .select(col("b_id").as("media_id"))

    val admitted = IndexLayout.commitVerdicts(media.select("media_id"),
      Seq("dup_corpus" -> dupCorpus, "dup_batch" -> dupBatch),
      s"$outDir/admissions", batchId)
    IndexLayout.appendTailSlice(batchBands.join(admitted, "media_id"),
      indexDir, "fingerprints", batchId)
  }
}
