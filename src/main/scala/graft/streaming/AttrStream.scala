package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** STREAMING attribute tagging — [[graft.pipeline.IncrAttrTable]]'s shard
  * loop driven by Structured Streaming instead of a batch caller. Where
  * [[DocStream]] is the ADMISSION loop (classify, keep only `new` docs in
  * the index), this is the TAGGING loop: every arriving document gets its
  * full attribute row (model score, cascade mask, frozen-LM perplexity,
  * `is_dup` against the resident index) appended to the same artifact the
  * batch loop writes — streaming ingest and batch shard ingest produce
  * byte-identical attribute tables (IncrAttrSpec pins a 2-batch streamed
  * build against the batch-loop build).
  *
  * The delegation is total: the tier's shared driver
  * ([[IndexLayout.startStream]]) hands each micro-batch plus its engine
  * batchId to [[graft.pipeline.IncrAttrTable.appendBatch]], whose
  * writes are all idempotent per batchId (leaf-directory overwrites for
  * attrs and index slices, atomic rename for the manifest)
  * and whose resident reads filter `batch_id < batchId` — so
  * foreachBatch's at-least-once delivery composes to effectively-exactly-
  * once, the same discipline as [[DocStream.admitBatch]]. The monotone-id
  * contract carries over unchanged: stream files must arrive in doc_id
  * order (the natural order for crawl shards with monotone ids), and a
  * violating batch fails the query loudly rather than corrupting
  * `is_dup`.
  *
  * `Trigger.AvailableNow` + checkpoint: run-to-completion per invocation,
  * resume-exactly-once across invocations — a restarted stream replays at
  * most its last uncommitted batch, which converges by idempotence.
  */
object AttrStream {

  /** The documents-contract row shape — the fallback when the stream
    * directory holds no files yet (a cold-started ingest loop). */
  val DocumentsSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")

  /** Start tagging parquet files of documents (doc_id, text, lang,
    * source, n_chars) from `streamDir` into the artifact at `root`.
    *
    * `schema == null` (the default) infers from the files already
    * present — AvailableNow processes a fixed file set, so the batch
    * reader's view IS the stream's — and falls back to
    * [[DocumentsSchema]] when the directory is empty or absent (a
    * plausible cold start for an ingest loop: the query starts idle and
    * picks files up as they land, instead of throwing on inference).
    * Pass a schema explicitly when the stream's shape differs from the
    * documents contract. */
  def start(spark: SparkSession, streamDir: String, root: String,
      maxFilesPerTrigger: Int = 1, schema: StructType = null): StreamingQuery =
    startDocuments(spark, streamDir, root, maxFilesPerTrigger, schema)(
      (batch, batchId) => graft.pipeline.IncrAttrTable.appendBatch(
        spark, root, batch, batchId = batchId))

  /** [[IndexLayout.startStream]] over a documents stream into the
    * artifact at `root` (checkpoint at `root/_checkpoint`) — the cold-start
    * handling [[start]] and [[IngestStream.start]] share. Cold start is
    * detected by the STRUCTURED error condition
    * (`SparkThrowable.getCondition`), never by message-text matching —
    * error wording is not a stable API across Spark versions, and a
    * silent wording change would revert cold starts to throwing. An
    * absent dir is a legitimate cold start (files land after the query
    * does), so it is created and the file source lists an empty set
    * instead of failing the start. */
  private[streaming] def startDocuments(spark: SparkSession, streamDir: String,
      root: String, maxFilesPerTrigger: Int, schema: StructType)(
      batch: (DataFrame, Long) => Unit): StreamingQuery = {
    val eff = Option(schema).getOrElse {
      try spark.read.parquet(streamDir).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(c =>
              c.startsWith("PATH_NOT_FOUND") ||
                c.startsWith("UNABLE_TO_INFER_SCHEMA")) =>
          DocumentsSchema
      }
    }
    val p = new org.apache.hadoop.fs.Path(streamDir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
    IndexLayout.startStream(spark, eff, streamDir, s"$root/_checkpoint",
      maxFilesPerTrigger)(batch)
  }
}
