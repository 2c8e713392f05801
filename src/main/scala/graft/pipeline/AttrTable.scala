package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The WRITTEN attribute-table artifact — the Dolma tagger architecture's
  * second half. q136 grades the attribute JOIN; this materializes it as a
  * doc_id-clustered parquet table (plus the near-dup flag, the one
  * pipeline signal q136 leaves to the pair relation), so every downstream
  * selection recipe is a narrow COLUMN SCAN over attributes instead of a
  * re-run of the taggers. That split is the single biggest composed-cost
  * lever at scale: q137's 100× tier re-tags the corpus for ~32 s per
  * recipe invocation, while a recipe over the written table reads 5
  * narrow columns of an already-clustered artifact — and N recipes cost
  * N scans, not N tag runs.
  *
  * Contents are the GRADED definitions verbatim — q136's wide row (built
  * from the shared `modelScores`/q131/q84 relations) left-joined with
  * q36's verified near-dup pairs under the keep-first policy (a doc is
  * `is_dup` when a lower-id J ≥ 0.8 partner exists — q137's convention,
  * here frozen into the artifact the way Dolma freezes `attributes/`
  * files). Reusing the graded builders means the artifact cannot drift
  * from the per-signal grades; q138 then proves the equivalence
  * end-to-end by hash-grading selection-over-artifact against the same
  * composed oracle q137 passes.
  *
  * Layout: [[graft.ops.SinkOps.rangedSortedParquet]] on doc_id — the
  * selection scan's pruning column gets disjoint per-file ranges, so a
  * doc-range recipe (or the doc_id-keyed joins every downstream stage
  * runs) prunes files by parquet min/max stats. Written ONCE per
  * (session, corpus dir) per JVM — the tag job — and memoized; repeated
  * selection invocations never re-tag. The overwrite on first touch per
  * process is deliberate: a stale artifact from a previous process (or a
  * regenerated corpus) must never serve, and the write is idempotent.
  */
object AttrTable {
  private val written =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Boolean), String]()

  /** Whether this session's artifact derives `lang` from the q150
    * classifier (q136's `spark.graft.attrs.derivedLang`). The posture
    * is part of the MEMO KEY and the DIRECTORY SLUG: the artifact
    * freezes whichever lang definition built it, so without the split a
    * mid-session flag flip would silently serve stale lang labels to
    * artifact consumers (q138's lang-filtered recipes) — each posture
    * materializes its own artifact instead (round-18 ADVICE). */
  private def derivedLang(s: SparkSession): Boolean =
    s.conf.getOption(graft.queries.TextQs.DerivedLangKey).exists(_.toBoolean)

  /** Artifact directory for corpus `d` — stable per (corpus, lang
    * posture) so repeated sessions land on the same path, disjoint
    * across corpora and across [[derivedLang]] postures. The
    * leading-underscore strip is load-bearing: Hadoop's hidden-file
    * filter skips `_`/`.`-prefixed basenames, so a naively sanitized
    * `/root/...` → `_root_...` directory would be invisible to any scan
    * that lists the parent tree (and logs "All paths were ignored" even
    * on direct reads). */
  def dir(d: String, derivedLang: Boolean = false): String =
    "/tmp/graft-attrs/" + pathSlug(d) + (if (derivedLang) "-dlang" else "")

  /** Injective corpus-path → directory-name mapping. The readable
    * sanitized prefix alone is LOSSY (`/data/sf0.1` and `_data/sf0_1`
    * collide after specials → `_`), so two corpora could silently share
    * — and overwrite — one artifact tree; the appended FNV-1a hash of
    * the RAW path makes the mapping injective while keeping the name
    * human-greppable. Shared with [[IncrAttrTable.dir]]. */
  private[pipeline] def pathSlug(d: String): String = {
    var h = 0xcbf29ce484222325L
    d.foreach { c => h ^= c.toLong; h *= 0x100000001b3L }
    d.replaceAll("[^A-Za-z0-9.]+", "_").replaceAll("^_+", "") +
      f"-${h & 0xffffffffL}%08x"
  }

  /** The wide attribute row the artifact stores: q136's graded columns +
    * the frozen `is_dup` flag + (round 18) the ASSEMBLY columns — the
    * dup-cluster label/size (q144's graded `clusterLabels` composition)
    * and the distinct-token count (q145's quality key) — so the
    * dataset-assembly recipes (leakage-safe split, token-budget
    * selection) are narrow projections over this artifact instead of
    * re-runs of the banding chain and the tokenizer (q149 grades that
    * equivalence the way q138 grades it for the q137 selection). */
  private def build(s: SparkSession, d: String): DataFrame = {
    val dups = graft.queries.DedupQs.q36.fn(s, d)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("__dup", lit(true))
    val types = graft.Tables.documents(s, d)
      .select(col("doc_id"), size(array_distinct(
        graft.ops.TextOps.tokens(col("text")))).cast("long").as("n_types"))
    graft.queries.TextQs.q136.fn(s, d)
      .join(dups, Seq("doc_id"), "left")
      .withColumn("is_dup", coalesce(col("__dup"), lit(false)))
      .drop("__dup")
      .join(graft.queries.DedupQs.clusterLabels(s, d), "doc_id")
      .join(types, "doc_id")
  }

  /** Read the materialized table, writing it first if this process has
    * not yet tagged this corpus. The read is a plain parquet scan — the
    * plan of anything downstream contains NO `documents` relation, which
    * is exactly the fact PlanSpec pins for q138. */
  def materialized(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensureWritten(s, d))

  /** Write-once-per-(session, corpus, lang-posture) tag job; returns the
    * artifact dir. computeIfAbsent is safe here (no nested map updates)
    * and serializes concurrent first-touch so the overwrite never races
    * itself. */
  def ensureWritten(s: SparkSession, d: String): String =
    written.computeIfAbsent((s, d, derivedLang(s)), { k =>
      val out = dir(d, k._3)
      graft.ops.SinkOps.rangedSortedParquet(build(s, d), "doc_id", out,
        maxRecordsPerFile = 5000000L)
      out
    })
}
