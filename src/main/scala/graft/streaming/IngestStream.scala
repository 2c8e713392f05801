package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** FUSED streaming ingest — admission AND tagging in one foreachBatch
  * transaction ([[graft.pipeline.IncrAttrTable.ingestBatch]]). Where
  * [[DocStream]] only classifies (keep `new` docs in the index) and
  * [[AttrStream]] only tags (every arriving doc gets an attribute row),
  * a production ingest does both — and tags ONLY what it admits.
  * Composing the two loops costs two band probes and two index writes
  * per batch for the same dedup decision; this loop makes the decision
  * once: classify against the resident index with DocStream's own
  * gate and band probe functions (precedence wrong_lang → low_quality →
  * dup_corpus → dup_batch → new), commit the verdicts to
  * `root/admissions` through the tier's shared verdict commit, tag the
  * `new` survivors with the
  * full attribute row (model score, cascade mask, frozen-LM perplexity;
  * `is_dup` false by construction — admission already removed every
  * J ≥ 0.8 partner), and append the survivors' bands+shingles once.
  *
  * IngestSpec pins both properties: the fused loop's admitted attribute
  * table equals DocStream-admission followed by batch tagging of the
  * admitted docs, and one micro-batch runs exactly ONE resident band
  * probe.
  *
  * Delivery semantics are [[AttrStream]]'s: every write is idempotent
  * per engine batchId (leaf-directory overwrites + atomic manifest
  * rename), resident reads filter `batch_id <` own, so foreachBatch's
  * at-least-once composes to effectively-exactly-once, and
  * `Trigger.AvailableNow` + checkpoint give run-to-completion per
  * invocation with resume-exactly-once across invocations. The
  * monotone-id contract carries over unchanged and fails loudly.
  */
object IngestStream {

  /** Start the fused admit+tag stream over parquet files of documents
    * (doc_id, text, lang, source, n_chars) from `streamDir` into the
    * artifact at `root`. Schema handling is [[AttrStream.start]]'s:
    * inferred from present files, [[AttrStream.DocumentsSchema]] on an
    * empty/absent cold start, explicit override wins. */
  def start(spark: SparkSession, streamDir: String, root: String,
      maxFilesPerTrigger: Int = 1, schema: StructType = null): StreamingQuery =
    AttrStream.startDocuments(spark, streamDir, root, maxFilesPerTrigger, schema)(
      (batch, batchId) => graft.pipeline.IncrAttrTable.ingestBatch(
        spark, root, batch, batchId = batchId))
}
