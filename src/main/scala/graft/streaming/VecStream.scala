package graft.streaming

import graft.ops.{DedupOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** Streaming SEMANTIC admission — q78's cell-keyed SemDeDup as a
  * Structured Streaming loop, the embedding-tier twin of [[DocStream]]
  * (which covers the minhash/token tier). Each micro-batch of incoming
  * (vec_id, embedding) rows is classified against a RESIDENT
  * (cell, vec) index — `dup_corpus` / `dup_batch` / `new` with q78's
  * keep-first (lowest id) policy — and the admitted vectors join the
  * index before the next trigger, so every batch deduplicates against
  * the corpus PLUS everything admitted before it.
  *
  * Same idempotence discipline, driver and verdict commit as
  * [[DocStream]]: foreachBatch delivery is AT-LEAST-once, so every write
  * is an idempotent overwrite of this batch's own `batch_id` output, and
  * classification reads the index at `batch_id < batchId` — a replayed
  * batch never sees its own half-written rows, and a vector can never
  * classify ITSELF `dup_corpus`. At 100 TB the partition overwrites
  * become table-format transactions and the per-cell cap below bounds
  * the join work when a cell goes hot.
  *
  * Same BUCKETED LAYOUT as [[DocStream]], keyed on the cell id: the
  * resident vector index grows without bound, but a batch can only
  * collide within the cells its own vectors are assigned to — so index
  * rows are bucketed on `pmod(cell, nb)` into partition dirs
  * and each admit reads only the bucket dirs of its assigned cells
  * (bounded driver-side scalar, ≤ nb ints). Per-batch I/O tracks the
  * probed cells' contents, not total index size. nb is a LAYOUT
  * property fixed at seed time (conf `spark.graft.stream.indexBuckets`,
  * default 64, persisted by [[IndexLayout]]), like the frozen
  * centroid set itself.
  *
  * Centroids are FROZEN at seed time (written once by [[seedIndex]],
  * read per batch): cell identity must be stable across the stream's
  * lifetime or yesterday's admissions would sit in cells today's
  * assignment never probes. Re-centering is a batch-side rebuild
  * (re-seed + replay), not a streaming concern — the same posture as
  * SemDeDup's published fixed-clustering pass.
  *
  * Layout (see [[IndexLayout]]): `indexDir/centroids` (cid, cvec),
  * the `vectors` relation of (id, vec, sq_norm, cell) rows (seed rows at
  * `batch_id=-1` of generation 0); [[compactIndex]] is the same
  * maintenance job as DocStream's.
  * Admissions go to `outDir/admissions` as (vec_id, status) under
  * `batch_id=N` partitions.
  */
object VecStream {

  /** q78's threshold: a pair within one cell at cosine >= Tau is a
    * semantic duplicate. */
  private val Tau = 0.40

  /** Per-cell resident cap ([[DedupOps.capBuckets]] on the cell key):
    * inert at test scales, bounds per-trigger pair generation when a
    * cell goes hot — the cell-keyed analog of DocStream's band-bucket
    * guard. */
  private val MaxCell = 1000

  /** Row shape of the vector index — [[IndexLayout.residentSlice]]'s
    * cold-start fallback contract (vec element type matches the stream's
    * `ARRAY<FLOAT>` embeddings). */
  private val VectorsSchema = StructType.fromDDL(
    "id BIGINT, vec ARRAY<FLOAT>, sq_norm DOUBLE, cell BIGINT")

  /** Row shape of the stream's input files. */
  private val StreamSchema = StructType.fromDDL("vec_id LONG, embedding ARRAY<FLOAT>")

  /** Seed the centroid set (q78's every-50th policy over the seed
    * corpus) and the resident index. Seed rows land in the
    * `batch_id=-1` partition so every streamed batch (batchId >= 0)
    * sees them through the `< batchId` read. */
  def seedIndex(corpus: DataFrame, indexDir: String): Unit = {
    val spark = corpus.sparkSession
    // null embeddings are legal stream input (dropped at assignment), so
    // they must also be barred from becoming centroids: a null cvec would
    // cosine to NULL against every vector and silently degrade routing
    val cents = corpus
      .filter(col("vec_id") % 50 === 0 && col("embedding").isNotNull)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    // unlike DocStream, this stream CANNOT cold-start empty: the frozen
    // centroids ARE the cell geometry every later batch routes through
    require(!cents.isEmpty,
      "VecStream.seedIndex needs a corpus yielding >= 1 centroid " +
        "(vec_id % 50 == 0 with a non-null embedding) — an empty seed " +
        "has no cell geometry to admit against")
    cents.write.mode("overwrite").parquet(s"$indexDir/centroids")
    IndexLayout.seed(spark, indexDir, Seq("vectors" -> VectorOps.ivfAssign(
      corpus.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      spark.read.parquet(s"$indexDir/centroids"))))
  }

  /** Fold the accumulated per-batch partitions into one file per bucket
    * (see [[IndexLayout.compact]] for the contract: only between
    * successful stream invocations). */
  def compactIndex(spark: SparkSession, indexDir: String): Unit =
    IndexLayout.compact(spark, indexDir, Seq("vectors"))

  /** [[compactIndex]] behind its pressure trigger (see
    * [[IndexLayout.maybeCompact]]). Returns whether a compaction ran. */
  def maybeCompactIndex(spark: SparkSession, indexDir: String,
      maxDirsPerBucket: Int = 32): Boolean =
    IndexLayout.maybeCompact(spark, indexDir, Seq("vectors"), maxDirsPerBucket)

  /** Start the admission stream over parquet files of
    * (vec_id, embedding) ([[IndexLayout.startStream]]: AvailableNow +
    * checkpoint). */
  def start(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, maxFilesPerTrigger: Int = 1): StreamingQuery =
    IndexLayout.startStream(spark, StreamSchema, streamDir,
      s"$outDir/_checkpoint", maxFilesPerTrigger)(admitBatch(_, indexDir, outDir, _))

  /** One admission transaction: assign the micro-batch to its frozen
    * cells, classify within-cell against the resident index and the
    * batch itself, commit the verdicts ([[IndexLayout.commitVerdicts]]),
    * index the admitted vectors — every write an idempotent overwrite
    * of this batch's `batch_id` partition. Package-visible so specs can
    * drive it directly.
    *
    * Vectors with a NULL embedding are admitted `new` but never
    * indexed (nothing to compare) — the same convention as DocStream's
    * empty-shingle docs. */
  private[graft] def admitBatch(vecs: DataFrame, indexDir: String,
      outDir: String, batchId: Long): Unit = graft.Memo.scoped { sc =>
    val spark = vecs.sparkSession
    val nb = IndexLayout.numBuckets(spark, indexDir)
    val assigned = sc(VectorOps.ivfAssign(
      vecs.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("id"), col("embedding").as("vec")),
      spark.read.parquet(s"$indexDir/centroids")))
    // the batch can only collide inside its own assigned cells — read
    // only those cells' bucket dirs
    val idx = DedupOps.capBuckets(
      IndexLayout.probeSlice(assigned, indexDir, "vectors", nb, batchId,
        VectorsSchema),
      Seq("cell"), MaxCell)

    def sideA(df: DataFrame): DataFrame = df.select(col("cell"),
      col("id").as("a_id"), col("vec").as("a_vec"), col("sq_norm").as("a_norm"))
    val b = assigned.select(col("cell"),
      col("id").as("b_id"), col("vec").as("b_vec"), col("sq_norm").as("b_norm"))
    def close: org.apache.spark.sql.Column =
      VectorOps.cosineWithNorms(VectorOps.dotD(col("a_vec"), col("b_vec")),
        col("a_norm"), col("b_norm")) >= Tau

    val dupCorpus = sideA(idx).join(b, "cell")
      .filter(close)
      .select(col("b_id").as("vec_id"))
    // q78's keep-first: a LOWER-id batch neighbor marks this one, the
    // neighbor's own verdict notwithstanding (DocStream's precedence)
    val dupBatch = sideA(assigned).join(b, "cell")
      .filter(col("a_id") < col("b_id") && close)
      .select(col("b_id").as("vec_id"))

    val admitted = IndexLayout.commitVerdicts(vecs.select("vec_id"),
      Seq("dup_corpus" -> dupCorpus, "dup_batch" -> dupBatch),
      s"$outDir/admissions", batchId)
    IndexLayout.writeSlice(
      assigned.join(admitted.withColumnRenamed("vec_id", "id"), "id"),
      indexDir, "vectors", nb, batchId)
  }
}
