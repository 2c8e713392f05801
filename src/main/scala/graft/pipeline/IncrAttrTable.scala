package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, Fs, SinkOps, TextOps}
import graft.queries.{DedupQs, TextQs}
import graft.streaming.{DocStream, IndexLayout}
import graft.streaming.DocStream.hinted

/** INCREMENTAL attribute tagging — the production form of [[AttrTable]]'s
  * write-once artifact. A real curation deployment (the Dolma tagger
  * architecture; CCNet's shard loop) never re-tags the corpus when a new
  * crawl shard arrives: it tags the NEW documents only, against frozen
  * reference artifacts, and appends. This object is that loop:
  *
  *   - the artifact root holds `attrs/` (the wide attribute rows —
  *     per-batch leaf dirs under a generational pointer, folded to one
  *     doc_id-range-sorted slice at compaction: [[compactRel]]),
  *     `index/` (the resident MinHash-LSH
  *     band+shingle index the dedup signal probes, in
  *     [[graft.streaming.IndexLayout]]'s hash-bucketed generational
  *     layout — the SAME layout DocStream's streaming index uses), and
  *     `lm/` (the trigram count relation FROZEN from the seed batch —
  *     the CCNet posture: a fixed reference LM scores every later shard,
  *     rather than q131's corpus-self counts which would make every
  *     attribute retroactively change as the corpus grows);
  *   - [[appendBatch]] tags one batch: per-doc signals (model score,
  *     cascade mask — batch-local scans by construction), perplexity
  *     against the frozen LM ([[TextQs.pplAgainstLm]], add-1 backoff for
  *     grams the LM never saw), and `is_dup` from a band probe of the
  *     resident index plus a within-batch band self-join — then appends
  *     attrs + bands + shingles.
  *
  * The batch cost is O(batch) for every signal INCLUDING the dup probe,
  * on both the READ and the WRITE side:
  *
  *   - READS: the resident index is hash-bucketed (bands on
  *     `pmod(band_hash, nb)`, shingles on `pmod(xxhash64(doc_id), nb)`)
  *     and each append reads ONLY the bucket directories its own probe
  *     keys land in, plus the bounded TAIL — the band lookup prunes to
  *     the batch's band-hash buckets, the shingle verify prunes to the
  *     candidate docs' id buckets. Both bucket sets are bounded
  *     driver-side scalars (≤ nb distinct ints, the q68-style
  *     bounded-collect posture) and the pruning happens at FILE LISTING
  *     time via [[IndexLayout.residentSlice]] — per-append I/O tracks
  *     the batch's bucket contents, not the resident corpus (before
  *     round 15 both resident relations were flat parquet and every
  *     append paid one linear scan of each — the [append-100] growth
  *     curve in SURVEY §2.0.2 priced it at 3.6→7.2 s across 1×→100×).
  *     The bucket count itself scales with the corpus at compaction
  *     ([[compactIndex]] re-buckets to [[IndexLayout.scaledBuckets]]),
  *     keeping rows-per-bucket ~constant — a fixed seed-time nb would
  *     let the "pruned" read grow linearly with the corpus once every
  *     bucket is hit.
  *   - WRITES: batch slices land as plain leaf-directory overwrites —
  *     index rows in the TAIL ([[IndexLayout.appendTailSlice]]), attrs
  *     in `attrs/batch_id=N` — one or two files each, no partitioned-
  *     write machinery. The round-15 dynamic-partition form re-listed
  *     the whole accumulated tree on every append (cost grew with every
  *     batch ever committed) and fanned each batch into one file per
  *     touched bucket (cost would grow with nb, i.e. with pruning
  *     quality). Readers absorb the tail until the pressure-triggered
  *     compaction folds it into real buckets — the LSM / table-format
  *     small-file clustering discipline.
  *
  * A shard-sized batch additionally
  * BROADCASTS its capped band relation, its candidate pairs and its own
  * shingles (`broadcastProbe = true`), so candidate generation and
  * verify are map-side hash probes over the pruned resident reads and
  * the resident side never shuffles. A caller appending a CORPUS-sized
  * "batch" ([[ensureBuilt]]'s two halves) passes `broadcastProbe =
  * false`, which de-hints ALL THREE relations — candidate generation
  * and both verify sides degrade to ordinary shuffled joins (q36's own
  * class, safe at any batch size; before round 15 the verify hints were
  * unconditional, which shipped half the corpus's shingle arrays to
  * every executor on exactly the path that declared itself
  * non-broadcastable).
  *
  * CORRECTNESS CONTRACT (what q142 grades): batches must arrive in
  * doc_id order — every id in batch k strictly above every id in batches
  * < k (the natural ingest invariant; ids are monotone in real
  * pipelines). Under it, incremental == full-build EXACTLY for every
  * attribute: per-doc signals trivially; ppl because the LM is frozen
  * either way; and `is_dup` because the keep-first convention (doc b is
  * dup iff a J ≥ 0.8 partner with LOWER id exists — q137's rule) only
  * ever consults documents that are ALREADY in the resident index when
  * b is tagged, and a later batch can never retro-flip an earlier doc
  * (its ids are all higher). The contract is ENFORCED, not assumed:
  * every append records its batch's max doc_id in a tiny
  * `_batchmeta/<batchId>` manifest, and a violating append (batch min
  * at or below the resident max) fails loudly instead of silently
  * mis-flagging `is_dup`. q142 proves the equivalence end-to-end by
  * hash-grading a two-batch incremental build against the full-corpus
  * oracle mirror.
  *
  * REPLAY SAFETY: every write is idempotent per batchId — attrs,
  * verdicts and labels overwrite their own `batch_id=N` leaf dirs,
  * bands/shingles their own index tail slices
  * ([[IndexLayout.appendTailSlice]]), the manifest lands via atomic
  * rename — and every resident
  * read filters `batch_id < batchId`, so a replayed batch never sees its
  * own half-written rows. That is DocStream's at-least-once →
  * effectively-exactly-once discipline, and it is what lets
  * [[graft.streaming.AttrStream]] drive this exact method from a
  * Structured Streaming foreachBatch: the streamed build and the batch
  * shard loop produce byte-identical artifacts (IncrAttrSpec pins it).
  */
object IncrAttrTable {
  private val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** Conf switch: the fused ingest loop also emits q146's context
    * windows for each batch's ADMITTED docs (per-batch parquet shards
    * under `root/windows` — the streaming twin of the batch chunking).
    * Default off: window emission roughly doubles output bytes. */
  val EmitWindowsKey = "spark.graft.ingest.emitWindows"

  private val built =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), String]()

  /** Artifact root for corpus `d` — [[AttrTable.pathSlug]]'s injective
    * mapping (readable sanitized prefix + FNV hash of the raw path), so
    * distinct corpora can never collide onto one artifact tree. */
  def dir(d: String): String =
    "/tmp/graft-attrs-incr/" + AttrTable.pathSlug(d)

  private def hconf(s: SparkSession) = s.sparkContext.hadoopConfiguration

  /** The leaf dirs under `dir` that hold committed rows: the folded
    * `batch_id=-1` and every `batch_id=N` (N >= 0) with `committed(N)`. */
  private def committedBatchDirs(s: SparkSession, dir: String)(
      committed: Long => Boolean): Seq[org.apache.hadoop.fs.Path] =
    Fs.list(dir, hconf(s)).map(_.getPath).filter { p =>
      val n = p.getName
      n == "batch_id=-1" || (n.startsWith("batch_id=") &&
        n.stripPrefix("batch_id=").toLongOption.exists(id => id >= 0 && committed(id)))
    }

  private def indexDir(root: String): String = s"$root/index"
  private def metaDir(root: String): String = s"$root/_batchmeta"

  /** The artifact relations OUTSIDE the index that accrue per-batch leaf
    * dirs: the wide attribute rows, (for the fused loop) the admission
    * verdicts, and (round 19) the dup-cluster component labels. All get
    * the index's generational compaction discipline — see
    * [[compactRel]]; `labels` additionally RESOLVES at the fold (the
    * representative re-labeling — [[labelsResolved]]'s min is applied so
    * superseded merge rows die with the generation they folded from). */
  private val ArtifactRels = Seq("attrs", "admissions", "labels")

  /** Root of `rel`'s live generation — every read and every per-batch
    * write resolves through this (never the bare `root/rel` tree, which
    * may briefly hold a half-written next generation or a
    * not-yet-GC'd previous one). Each relation keeps its own `_gen`
    * pointer under [[IndexLayout.gen]]'s convention (absent = 0, the
    * pre-first-compaction state every fresh artifact starts in): the
    * relations are independent, so a crash between two rels' swaps
    * leaves each serving one complete generation. */
  private[graft] def liveRelDir(s: SparkSession, root: String, rel: String): String =
    s"$root/$rel/gen=${IndexLayout.gen(s, s"$root/$rel")}"

  private val LabelsSchema =
    org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, comp BIGINT")

  /** The per-batch manifest: batchId → that batch's max doc_id. One tiny
    * file per committed batch (shallow listing, O(#batches) driver work)
    * — the bounded state that turns the monotone-id contract from a
    * documented assumption into a loud `require`, and replay-safe where
    * a single max-id file would not be (a replayed batch must check
    * against batches strictly BEFORE it, not against its own previous
    * half-committed attempt).
    *
    * The O(#batches) term is AMORTIZED by [[compactIndex]]: compaction
    * folds every per-batch manifest into one `_cumulative` record
    * (max folded batch id + max folded doc_id) and deletes them, so a
    * long-lived ingest pays O(post-compaction tail) driver reads per
    * append, not O(lifetime batches) — a 10⁵-batch ingest with periodic
    * compaction lists a handful of files. The cumulative entry merges
    * back into this map keyed by its max batch id, which is exactly how
    * the contract check needs it: every folded batch's ids sit at or
    * below the folded max. */
  private def batchMeta(s: SparkSession, root: String): Map[Long, Long] = {
    val tail = Fs.list(metaDir(root), hconf(s)).flatMap { st =>
      val n = st.getPath.getName
      n.toLongOption.flatMap { id =>
        Fs.readBytes(s"${metaDir(root)}/$n", hconf(s))
          .map(b => id -> new String(b, "UTF-8").trim.toLong)
      }
    }.toMap
    cumulative(s, root).fold(tail) { c =>
      tail + (c.maxBatch -> math.max(c.maxDoc, tail.getOrElse(c.maxBatch, Long.MinValue)))
    }
  }

  /** The folded manifest [[compactIndex]] writes, parsed ONCE: max
    * folded batch id, max folded doc_id, and (third field, absent on
    * pre-flag files) whether the frozen LM had been seeded by fold
    * time. One parser so the two consumers cannot drift on the format. */
  private case class Cumulative(maxBatch: Long, maxDoc: Long, lmSeeded: Boolean)
  private def cumulative(s: SparkSession, root: String): Option[Cumulative] =
    Fs.readBytes(s"${metaDir(root)}/_cumulative", hconf(s)).map { b =>
      val parts = new String(b, "UTF-8").trim.split("\\s+")
      Cumulative(parts(0).toLong, parts(1).toLong, parts.lift(2).contains("1"))
    }

  /** Whether the folded manifest records the frozen LM as seeded. The
    * flag exists because compaction destroys the evidence the live
    * `tagged` check otherwise reads: [[foldManifests]] collapses the
    * per-batch manifests to one cumulative max and [[compactRel]] folds
    * the per-batch attrs dirs into `batch_id=-1` — after both, "is
    * there an attrs dir whose batch id appears in the manifests?" is
    * vacuously false even for an artifact with thousands of committed
    * attribute rows, and [[ingestBatch]] would silently delete and
    * re-seed the frozen LM on the next surviving batch (scoring every
    * later shard against a different basis than the committed rows). */
  private def cumulativeLmSeeded(s: SparkSession, root: String): Boolean =
    cumulative(s, root).exists(_.lmSeeded)

  /** Crash-residue sweep (content-independent heal): every append
    * records its batch id in `_batchmeta/_inflight` before writing and
    * clears it after the manifest commits. A marker naming an
    * UNCOMMITTED batch at the next append means a crashed attempt may
    * have left attrs / index slices under that batch id — they are
    * deleted wholesale before planning, so the heal does not depend on
    * the retry carrying identical rows (dynamic overwrite alone only
    * replaces the partitions present in the NEW data; different content
    * would leave ghost slices that later batches could flag `is_dup`
    * against and compaction would fold in permanently). Index slices are
    * written only to the tail, and compaction folds only committed
    * batches, so a dead batch's index rows can only be its tail slices.
    * Happy-path cost is one tiny read + two atomic writes per append. */
  private def sweepUncommitted(s: SparkSession, root: String,
      committed: Map[Long, Long]): Unit =
    Fs.readBytes(s"${metaDir(root)}/_inflight", hconf(s))
      .map(b => new String(b, "UTF-8").trim.toLong)
      .filterNot(committed.contains)
      .foreach { j =>
        ArtifactRels.foreach(rel =>
          Fs.delete(s"${liveRelDir(s, root, rel)}/batch_id=$j", hconf(s)))
        Seq("bands", "shingles").foreach(
          IndexLayout.dropTailSlice(s, indexDir(root), _, j))
      }

  /** Tag `docs` against the artifact at `root` and append. Every id in
    * `docs` must be strictly above every id already committed (the
    * contract above — enforced). The first call seeds the frozen LM.
    * `batchId` < 0 means "next" (max committed id + 1); an explicit id
    * (the streaming caller's foreachBatch id) makes the append
    * idempotent under replay. */
  def appendBatch(s: SparkSession, root: String, docs: DataFrame,
      broadcastProbe: Boolean = true, batchId: Long = -1L): Unit =
    openBatch(s, root, docs, batchId).foreach { case (meta, eff, bMin, bMax) =>
      // freeze the reference LM on the first COMMITTED batch: gated on
      // the manifest (no batch committed yet → [re]seed), not on bare
      // directory existence — a crash mid-seed leaves a partial lm/ that
      // would otherwise suppress re-seeding forever, and a
      // crashed-then-retried batch 0 with different content must freeze
      // ITS counts, not the dead attempt's.
      if (meta.isEmpty) seedLm(s, root, docs)

      graft.Memo.scoped { sc =>
        val (attrs, newSh, newBands, dupPairs) =
          batchPlans(sc, s, root, docs, broadcastProbe, eff)
        // CLUSTER LABELS (round 19): fold this batch's verified dup pairs
        // into the incrementally-maintained component labels. The delta's
        // CC runs BEFORE the concurrent writes (its size probe collects the
        // edges), and the labels write reads only the committed label dirs
        // and the persisted pairs — never the index slices written beside
        // it. See [[labelDelta]] for the union-find shape.
        val labels = labelDelta(s, root, dupPairs, eff, bMin)
        // the labels write joins only when the batch discovered pairs —
        // committed label dirs always hold rows (the compactRel invariant
        // every artifact relation keeps)
        writeAndCommit(s, root, eff, bMax, attrs, newSh, newBands,
          labels.map("labels" -> _).toSeq)
      }
    }

  /** Shared append envelope: manifest read, crash-residue sweep,
    * effective batch id, compaction replay guard, the id-span +
    * monotone contract (one bounded 1-row aggregate), and the inflight
    * marker that [[sweepUncommitted]] heals a crashed attempt by.
    * Returns
    * (manifest, effective id, batch min doc_id, batch max doc_id) —
    * None for an empty batch, nothing to commit. The batch MIN is the
    * resident/batch id boundary [[labelDelta]] keys on. */
  private def openBatch(s: SparkSession, root: String, docs: DataFrame,
      batchId: Long): Option[(Map[Long, Long], Long, Long, Long)] = {
    val meta = batchMeta(s, root)
    // heal any crashed attempt's residue BEFORE planning (plans snapshot
    // file indexes) — content-independent, see sweepUncommitted
    sweepUncommitted(s, root, meta)
    val eff =
      if (batchId >= 0) batchId
      else meta.keysIterator.maxOption.map(_ + 1L).getOrElse(0L)
    // a batch id at or below the folded boundary was ALREADY COMMITTED:
    // compaction only folds manifested batches (keepBatchIds), so every
    // id <= the cumulative max has a committed manifest by construction.
    // Such a delivery is a replay — legitimately possible when a crash
    // lands between the manifest commit and the Spark checkpoint commit
    // log, the operator compacts (every delivered batch IS committed,
    // satisfying the maintenance-window contract), and the restarted
    // stream re-delivers the batch. Re-running it would read the folded
    // batch_id=-1 rows (which now include later batches) as resident, so
    // the replay is a NO-OP instead: the committed state already holds
    // exactly this batch's effects, which is what replay convergence
    // means.
    // The no-op rests on the MONOTONE-ID contract (ids are assigned in
    // delivery order and never reused — the same contract the manifest
    // require enforces pre-fold). An operator who resets a stream's
    // checkpoint AND re-numbers genuinely new batches from 0 against a
    // folded artifact would have those batches skipped here — hence
    // WARN, not info: the message is the loud trace such a
    // contract-violating restart leaves.
    if (cumulative(s, root).exists(eff <= _.maxBatch)) {
      log.warn(s"batch $eff re-delivered at or below the compaction-folded " +
        "boundary — treating as a committed replay and skipping (no-op). " +
        "If this batch is NEW data under a re-numbered stream, the " +
        "monotone-id contract was violated: resume ids above the folded max.")
      return None
    }
    val span = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    if (span.isNullAt(0)) None
    else {
      val bMin = span.getAs[Number](0).longValue
      val bMax = span.getAs[Number](1).longValue
      val residentMax =
        meta.collect { case (id, mx) if id < eff => mx }.maxOption
      require(residentMax.forall(_ < bMin),
        s"monotone-id append contract violated: batch $eff's min doc_id " +
          s"$bMin is not above the resident max ${residentMax.getOrElse(-1L)}. " +
          "Incremental is_dup flags would be silently wrong (a lower-id " +
          "partner already tagged never retro-flips, and lower-id batch " +
          "docs would be mis-attributed). Ingest batches in doc_id order.")
      // intent marker for the residue sweep: records that batch `eff`
      // may be writing; cleared only after the manifest commits
      Fs.writeAtomic(s"${metaDir(root)}/_inflight",
        eff.toString.getBytes("UTF-8"), hconf(s))
      Some((meta, eff, bMin, bMax))
    }
  }

  /** (Re)write the frozen-LM artifact from `docs` and invalidate the
    * session's memoized copy — a re-seed after a crash heal must not
    * keep serving the dead attempt's counts from cache. */
  private def seedLm(s: SparkSession, root: String, docs: DataFrame): Unit = {
    Fs.delete(s"$root/lm", hconf(s))
    TextQs.lmGramCountsOf(docs).write.mode("overwrite").parquet(s"$root/lm")
    graft.Memo.invalidate(s, root, "incr_lm")
  }

  /** Run the batch's write jobs CONCURRENTLY and await ALL of them
    * before inspecting results: rethrowing on the first failure while
    * siblings still run would let a zombie job keep writing this batch's
    * output paths after the append returns — a same-JVM retry of the
    * batch then races it for the shared _temporary staging dir (the
    * zombie's job commit can delete the retry's), and the caller's
    * cleanup would unpersist relations under in-flight jobs. Only after
    * every job has finished does the first failure propagate. The
    * writes are independent: each is an idempotent leaf overwrite, and
    * readers in the plans see only `batch_id <` their own. */
  private def awaitAll(jobs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = jobs.map(j => Future(j()))
    fs.foreach(Await.ready(_, Duration.Inf))
    fs.foreach(_.value.get.get)
  }

  /** The batch's writes and its commit, the one envelope both
    * transactions end in. The writes are INDEPENDENT jobs — attrs reads
    * the resident index through file indexes snapshotted at plan time,
    * filtered batch_id < eff, so it can never observe the concurrent eff
    * slices — and each is idempotent per batchId, so they run
    * concurrently ([[awaitAll]]): per-append wall time pays max(write) +
    * plans, not the sum of sequential job+commit overheads. The manifest
    * commits LAST, only after every write succeeds — a crash before it
    * leaves an uncommitted batch whose replay overwrites exactly its own
    * output.
    *
    * Every write is a plain LEAF-DIRECTORY overwrite of this batch's own
    * dir — index slices into the TAIL ([[IndexLayout.appendTailSlice]]:
    * a dynamic-partition write re-lists the whole accumulated tree per
    * append and fans the batch into one file per touched bucket, both of
    * which grow with exactly the things an append must be independent
    * of), attrs and each `extra` (relation, rows) into
    * `<rel>/batch_id=N` for the same reason. Compaction folds the index
    * tail into real buckets; the relations' batch dirs are the
    * artifact's natural ingest grain. */
  private def writeAndCommit(s: SparkSession, root: String, eff: Long,
      bMax: Long, attrs: DataFrame, sh: DataFrame, bands: DataFrame,
      extra: Seq[(String, DataFrame)]): Unit = {
    def leaf(rel: String, rows: DataFrame): () => Unit = {
      val dir = s"${liveRelDir(s, root, rel)}/batch_id=$eff"
      () => rows.write.mode("overwrite").parquet(dir)
    }
    val idx = indexDir(root)
    awaitAll((Seq(
      leaf("attrs", attrs),
      () => IndexLayout.appendTailSlice(bands, idx, "bands", eff),
      () => IndexLayout.appendTailSlice(sh.filter(size(col("shingles")) > 0),
        idx, "shingles", eff)) ++
      extra.map { case (rel, rows) => leaf(rel, rows) }): _*)
    commitBatch(s, root, eff, bMax)
  }

  /** The commit point: manifest (atomic rename), then the inflight
    * marker clears — a crash before the manifest leaves an uncommitted
    * batch the next append sweeps. */
  private def commitBatch(s: SparkSession, root: String, eff: Long,
      bMax: Long): Unit = {
    Fs.writeAtomic(s"${metaDir(root)}/$eff",
      bMax.toString.getBytes("UTF-8"), hconf(s))
    Fs.delete(s"${metaDir(root)}/_inflight", hconf(s))
  }

  /** ONE fused admission+tagging transaction — the production ingest
    * loop's shape: a real pipeline tags only the documents it ADMITS,
    * and running [[graft.streaming.DocStream]] (admission) and
    * [[graft.streaming.AttrStream]] (tagging) as separate loops pays two
    * band probes and two index writes per batch for the same decision.
    * This method classifies the batch against the resident index with
    * DocStream's own gates and band probe ([[DocStream.gate]],
    * [[DocStream.dupProbe]]; precedence `wrong_lang`, `low_quality`,
    * `dup_corpus`, `dup_batch`, `new`), commits the verdicts to
    * `root/admissions/batch_id=N` ([[IndexLayout.commitVerdicts]]), tags
    * ONLY the `new` survivors with
    * the full attribute row, and appends their bands+shingles to the
    * index — one shared band probe, one index write (IngestSpec pins
    * both the single probe and the equivalence with
    * admission-then-tagging).
    *
    * Survivor attrs carry `is_dup = false` by construction — admission
    * already removed every doc with a J ≥ 0.8 partner (resident or
    * lower-id in-batch), which is exactly what a tagging pass over the
    * admitted set would conclude. The frozen LM seeds from the FIRST
    * batch with a nonzero survivor set (the composed-equivalence rule:
    * a tagging loop downstream of admission never sees dropped docs). A
    * batch whose every doc is dropped commits admissions + manifest and
    * nothing else. Same envelope as [[appendBatch]]: monotone-id
    * contract, inflight sweep, idempotent per-batchId writes —
    * at-least-once delivery composes to effectively-exactly-once. */
  def ingestBatch(s: SparkSession, root: String, docs: DataFrame,
      broadcastProbe: Boolean = true, batchId: Long = -1L): Unit =
    openBatch(s, root, docs, batchId).foreach { case (meta, eff, _, bMax) =>
      val idx = indexDir(root)
      val nb = IndexLayout.numBucketsOrInit(s, idx)
      graft.Memo.scoped { sc =>
        // DocStream's gates and band probe — the SAME functions, so the
        // fused loop equals DocStream-then-tagging by construction
        // (IngestSpec pins it, statuses and precedence included)
        val (gated, eligible) = DocStream.gate(sc, docs)
        val newSh = sc(DedupQs.shinglesOf(eligible))
        val newBands = sc(DedupQs.minhashBandsOf(newSh))
        // the fused loop consumes only the dup IDS: admitted survivors
        // are mutually non-dup by construction (admission drops every
        // doc with a surviving J >= 0.8 partner), so the survivor-index
        // artifact's clusters are all singletons and label maintenance
        // ([[labelDelta]]) has nothing to record on this path
        val (pairsResident, pairsBatch) =
          DocStream.dupProbe(sc, idx, nb, newSh, newBands, broadcastProbe, eff)
        val admitted = IndexLayout.commitVerdicts(docs.select("doc_id"),
          gated ++ Seq("dup_corpus" -> DocStream.dupIdsOf(pairsResident),
            "dup_batch" -> DocStream.dupIdsOf(pairsBatch)),
          liveRelDir(s, root, "admissions"), eff)
        if (admitted.isEmpty) {
          // everything dropped: the admissions verdicts + manifest ARE
          // the batch's committed state (no attrs dir, no index slices,
          // no LM — exactly what admission-then-tagging would leave)
          commitBatch(s, root, eff, bMax)
        } else {
          val survivors = docs.join(hinted(broadcastProbe, admitted), "doc_id")
          // the frozen LM seeds from the first batch that ADMITS
          // anything: "no committed batch has an attrs partition yet"
          // (a committed manifest without attrs = a zero-survivor batch).
          // Committed evidence survives compaction in three forms: the
          // cumulative manifest's lmSeeded flag, the folded batch_id=-1
          // attrs slice, and (for the crash window where manifests fold
          // before attrs do) any attrs dir at or below the folded max —
          // a batch id can only have an attrs dir if it committed one.
          val cum = cumulative(s, root)
          val cumMax = cum.map(_.maxBatch).getOrElse(Long.MinValue)
          val tagged = cum.exists(_.lmSeeded) ||
            committedBatchDirs(s, liveRelDir(s, root, "attrs"))(id =>
              meta.contains(id) || id <= cumMax).nonEmpty
          if (!tagged) seedLm(s, root, survivors)
          val attrs = attrRows(s, root, survivors, None, broadcastProbe)
          val keepSh = newSh.join(hinted(broadcastProbe, admitted), "doc_id")
          val keepBands = newBands.join(hinted(broadcastProbe, admitted), "doc_id")
          // optional per-batch context-window emission (q146's chunking,
          // ONE shared definition — TextOps.contextWindowsOf — so the
          // streamed union over admitted batches equals the batch answer
          // over the admitted corpus; IngestSpec pins it). Windows are
          // per-doc local, so the step is embarrassingly incremental;
          // conf-gated (default off) because it roughly doubles the
          // batch's output bytes, a cost only window-training consumers
          // should pay. Idempotent like every write here (per-batch-dir
          // overwrite); windows are a dataset OUTPUT artifact, so
          // compaction leaves its per-batch shards in place (they are
          // the natural training-shard layout) — replays after
          // compaction are no-ops at openBatch and never touch them.
          val emitWindows =
            s.conf.getOption(EmitWindowsKey).exists(_.toBoolean)
          writeAndCommit(s, root, eff, bMax, attrs, keepSh, keepBands,
            if (emitWindows) Seq("windows" -> TextOps.contextWindowsOf(survivors))
            else Nil)
        }
      }
    }

  /** Batch `batchId`'s (attrs, shingles, bands, verified dup pairs) plans
    * against the CURRENT resident state — split from [[appendBatch]] so
    * the plans can be inspected without writing. The batch-sized
    * relations the plans read are persisted in the caller's scope `sc`,
    * so the plans are valid until that scope closes. */
  private[graft] def batchPlans(sc: graft.Memo.Scope, s: SparkSession,
      root: String, docs: DataFrame, broadcastProbe: Boolean,
      batchId: Long): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val idx = indexDir(root)
    val nb = IndexLayout.numBucketsOrInit(s, idx)

    // batch-sized relations, consumed by several joins below and by the
    // index writes — persisted for the lifetime of this append
    val newSh = sc(DedupQs.shinglesOf(docs))
    val newBands = sc(DedupQs.minhashBandsOf(newSh))

    val (pairsResident, pairsBatch) =
      DocStream.dupProbe(sc, idx, nb, newSh, newBands, broadcastProbe, batchId)
    // verified ONCE: the label delta's pair read (its collect or CC size
    // probe) and the attrs write's dup ids both read this entry instead
    // of each re-running the probe-and-verify chain
    val pairs = sc(pairsResident.unionByName(pairsBatch).distinct())

    val attrs = attrRows(s, root, docs, Some(DocStream.dupIdsOf(pairs).distinct()),
      broadcastProbe)
    (attrs, newSh, newBands, pairs)
  }

  /** The RESOLVED component labels committed before batch `upTo`
    * ((doc_id, comp) with comp = min doc_id of the component; docs with
    * no row are singletons labeling themselves — the same implicit-
    * singleton convention as q144's clusterLabels). "Resolved" = min
    * comp per doc over every committed label row: label rows are
    * MONOTONE (a doc's comp only ever decreases — re-labels always move
    * to a smaller component min), so min is the winner regardless of
    * which batch wrote the row, which makes the relation fold-, replay-
    * and crash-safe by algebra instead of bookkeeping (no per-row
    * version column, and compaction's plain union preserves the
    * answer). Reads list EXPLICIT committed leaf dirs — never the
    * parent tree — so a concurrent append's in-flight dir is invisible
    * and a writing batch can read-then-write the same relation without
    * Spark's same-path overwrite guard firing. */
  private[graft] def labelsResolved(s: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame = {
    val live = liveRelDir(s, root, "labels")
    val dirs = committedBatchDirs(s, live)(_ < upTo)
    if (dirs.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        LabelsSchema)
    else s.read.schema(LabelsSchema).parquet(dirs.map(_.toString): _*)
      .groupBy("doc_id").agg(min(col("comp")).as("comp"))
  }

  /** UNION-FIND OVER THE PAIR STREAM (round 19): the label rows batch
    * `eff`'s verified dup pairs add — computed against the labels
    * committed so far, so the admission loop's existing pair stream
    * maintains component labels INCREMENTALLY instead of q144 having to
    * re-run the whole banding+CC chain over the corpus (the round-18
    * verdict's ask #2; q151 grades the equivalence).
    *
    * Shape: every pair's doc_a (the lower, possibly-resident side) is
    * substituted by its CURRENT resolved comp, then one connected-
    * components run over the substituted edges — a BATCH-sized graph
    * (its nodes are this batch's docs plus the resident components they
    * touch), never the corpus. [[DedupOps.connectedComponents]] picks
    * the form by size: a shard's few verified pairs take its driver
    * union-find (one bounded collect), a corpus-sized "batch"
    * ([[ensureBuilt]]'s halves) the distributed loop. The CC's min label
    * is the global component min because resident comps already ARE
    * their components' min ids and monotone ingest puts every batch id
    * above them. Three row kinds come out:
    *
    *   - batch docs (node >= `bMin`): their first label;
    *   - MERGE re-labels: a resident comp c whose component min m < c
    *     means batch docs united two resident clusters — every resident
    *     doc resolving to c re-labels to m (bounded by the merged
    *     clusters' sizes, not the corpus);
    *   - the old representatives themselves (c, m) — c may have been an
    *     implicit singleton with no row of its own.
    *
    * All rows only ever DECREASE a doc's comp, which is what lets
    * [[labelsResolved]] resolve by min. None when the batch has no pairs
    * (one emptiness probe of the persisted pairs, which also materializes
    * them for the CC and the attrs write); pairs always carry their batch
    * doc, so Some is never empty. */
  private def labelDelta(s: SparkSession, root: String, pairs: DataFrame,
      eff: Long, bMin: Long): Option[DataFrame] =
    if (pairs.isEmpty) None
    else {
      val resolved = labelsResolved(s, root, upTo = eff)
      val withComp = pairs
        .join(resolved.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left")
        .select(coalesce(col("comp"), col("doc_a")).as("a"),
          col("doc_b").as("b"))
      val cc = DedupOps.connectedComponents(withComp)
      val newDocs = cc.filter(col("id") >= bMin)
        .select(col("id").as("doc_id"), col("comp"))
      val remap = cc.filter(col("id") < bMin && col("comp") =!= col("id"))
        .select(col("id").as("old_comp"), col("comp").as("new_comp"))
      val relabel = resolved.join(remap, resolved("comp") === remap("old_comp"))
        .select(resolved("doc_id"), col("new_comp").as("comp"))
      val repRows = remap
        .select(col("old_comp").as("doc_id"), col("new_comp").as("comp"))
      Some(newDocs.unionByName(relabel).unionByName(repRows).distinct())
    }

  /** The attribute rows JOINED with their dup-cluster labels — `comp`
    * (component min doc_id; singletons label themselves) and
    * `cluster_size`, exactly q144's clusterLabels composition but over
    * the INCREMENTALLY-maintained label relation, so assembly recipes
    * (q149's shape) run over the production streaming artifact with no
    * batch re-derivation of the cluster structure (q151 hash-grades the
    * equivalence against q149's composed oracle). */
  def clusteredAttrsOf(s: SparkSession, root: String): DataFrame = {
    val attrs = attrsOf(s, root)
    val lab = attrs.select("doc_id")
      .join(labelsResolved(s, root), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
    val sz = lab.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
    attrs.join(lab, "doc_id").join(sz, "comp")
  }

  /** The wide attribute row for `docs` — q136's graded columns via the
    * shared DataFrame-parameterized builders, + the frozen-LM ppl +
    * is_dup (from the probe's dup ids; `None` = a pre-deduplicated doc
    * set, the admission loop's survivors, where is_dup is false by
    * construction). The repetition gate takes its fingerprint width from
    * [[TextQs.wideFingerprints]], as q84/q136 do, so an
    * incremental build under fingerprintBits=128 cannot diverge from the
    * full build. */
  private def attrRows(s: SparkSession, root: String, docs: DataFrame,
      dupIds: Option[DataFrame], broadcastProbe: Boolean): DataFrame = {
    // The frozen LM, gram-partitioned ONCE per (session, root) and
    // cached: the relation is frozen by contract, so every append in a
    // long-lived ingest session reuses one exchange of it — the cached
    // InMemoryRelation carries hash(gram) partitioning and the
    // per-append score joins then exchange only the batch's gram
    // stream. MEMORY_AND_DISK via Memo — spillable at vocabulary scale.
    val lm = graft.Memo.cached(s, root, "incr_lm") {
      s.read.parquet(s"$root/lm").repartition(col("gram"))
    }
    val wide = TextQs.wideFingerprints(s)
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      col("n_chars"),
      size(TextOps.tokens(col("text"))).cast("int").as("n_tokens"),
      // the distinct-token count — q145's quality key, carried so
      // token-budget selection runs over the incremental artifact the
      // way AttrTable carries it for the batch one (round 19; per-doc,
      // so trivially incremental)
      size(array_distinct(TextOps.tokens(col("text")))).cast("long")
        .as("n_types"))
    // every right side is an O(batch) aggregate, so under the shard
    // posture they broadcast — the doc-keyed assembly joins become
    // map-side hash probes over the batch's own partitioning (no
    // doc_id exchanges, one output file instead of shuffle-partition
    // many), gated on the SAME flag as the probe: a corpus-sized build
    // takes the shuffled form end-to-end
    val scored = base
      .join(hinted(broadcastProbe, TextOps.modelScoresOf(docs)), "doc_id")
      .join(hinted(broadcastProbe,
        TextQs.pplAgainstLm(lm, docs).select("doc_id", "ppl_q")),
        Seq("doc_id"), "left")
      .join(hinted(broadcastProbe,
        TextQs.cascadeMaskOf(docs, wide).select("doc_id", "fail_mask")), "doc_id")
    dupIds match {
      case Some(d) => scored
        .join(hinted(broadcastProbe, d.withColumn("__dup", lit(true))),
          Seq("doc_id"), "left")
        .withColumn("is_dup", coalesce(col("__dup"), lit(false)))
        .drop("__dup")
      case None => scored.withColumn("is_dup", lit(false))
    }
  }

  /** Fold the dup-probe index's accumulated per-batch partitions into one
    * file per bucket (compacted rows land in `batch_id=-1`, which every
    * later batch's `< batchId` read includes). Same single-writer
    * contract as [[IndexLayout.compact]]: run between appends, never
    * while one is in flight.
    *
    * Three maintenance duties beyond the fold itself:
    *
    *   - RE-BUCKETING (`newBuckets` < 0, the default, auto-scales): the
    *     bucket count is seeded at [[IndexLayout.DefaultBuckets]] before
    *     the corpus size is knowable, and a fixed count makes the
    *     append-time probe read degrade back toward a full index scan
    *     as buckets fill (a 100-doc shard's ~1 600 band keys saturate
    *     all 64 default buckets, so "pruned" = everything). Compaction
    *     is the moment the resident size IS known: the fold re-buckets
    *     to [[IndexLayout.scaledBuckets]] of the live band-row count,
    *     keeping rows-per-bucket ~constant so a probe's read is
    *     O(probe keys × target rows), independent of resident size.
    *     Pass `0` to keep the current count, `> 0` to force one.
    *   - GHOST DROPPING: only rows of COMMITTED batches (those with a
    *     manifest) survive the fold — a crashed append's residue can
    *     never be folded into `batch_id=-1` permanently.
    *   - MANIFEST FOLDING: the per-batch `_batchmeta` files collapse
    *     into one `_cumulative` (max batch id + max doc_id) record, so
    *     append-time contract checks list O(tail), not O(lifetime). */
  def compactIndex(s: SparkSession, root: String, newBuckets: Int = -1): Unit = {
    val idx = indexDir(root)
    val meta = batchMeta(s, root)
    val target = if (newBuckets >= 0) newBuckets else autoBuckets(s, idx)
    IndexLayout.compact(s, idx, Seq("bands", "shingles"),
      target, Some(meta.keySet))
    ArtifactRels.foreach(compactRel(s, root, _, meta))
    // manifests fold LAST: a crash anywhere above leaves the per-batch
    // manifests intact, so every "is this batch committed?" check still
    // has its evidence (the id <= cumulative-max fallbacks only cover
    // the reverse window, where a PREVIOUS fold's cumulative exists)
    foldManifests(s, root, meta)
  }

  /** Fold an artifact relation's accumulated per-batch leaf dirs into ONE
    * doc_id-range-sorted slice of the next generation — the read-side
    * twin of the index fold. Two O(lifetime-batches) terms die here:
    *
    *   - DIRECTORY GROWTH: `attrs/batch_id=N` (and `admissions/...`)
    *     accrue one leaf dir per committed batch forever — a year-long
    *     ingest makes every whole-table read list thousands of dirs and
    *     open thousands of small files. After the fold the live
    *     generation holds one `batch_id=-1` dir of at most
    *     shuffle-partition-many files.
    *   - LOST CLUSTERING: the per-batch dirs are ordered by ARRIVAL, so
    *     the incremental artifact loses [[AttrTable]]'s doc_id-clustered
    *     layout and a doc-range selection (q138's shape) prunes nothing.
    *     The fold is [[SinkOps.rangedSortedParquet]] on doc_id — disjoint
    *     per-file ranges, so parquet min/max stats restore q138-class
    *     file pruning over the incrementally-built table. (Under the
    *     monotone-id contract batch order IS doc_id order across dirs,
    *     but nothing bounds per-file ranges within a batch, and readers
    *     can't know the cross-dir order without the manifests.)
    *
    * Crash safety is the index's generational discipline verbatim: the
    * next generation is written COMPLETELY, the per-relation `_gen`
    * pointer swaps atomically, old generations are GC'd after — a crash
    * leaves either the old or the new generation fully live, never a
    * merge of both (the in-place alternative, fold-then-delete-dirs,
    * double-counts every row a crash strands between the two steps).
    * Only COMMITTED batch dirs fold (manifest-gated, same ghost-dropping
    * rule as the index); an uncommitted crash residue dir is left in the
    * old generation and dies with its GC. Single-writer contract as
    * [[compactIndex]]. */
  private def compactRel(s: SparkSession, root: String, rel: String,
      meta: Map[Long, Long]): Unit = {
    val relDir = s"$root/$rel"
    val g = IndexLayout.gen(s, relDir)
    val cur = s"$relDir/gen=$g"
    val cumMax = cumulative(s, root).fold(Long.MinValue)(_.maxBatch)
    val committed = committedBatchDirs(s, cur)(id =>
      meta.contains(id) || id <= cumMax)
    // committed dirs always hold rows (appends never write an empty
    // slice), so gating the fold on dir presence keeps the invariant
    // "a batch_id=-1 dir exists iff committed rows exist" — which is
    // what lets cumulativeLmSeeded derive the seed flag from it
    if (committed.nonEmpty) {
      val rows = s.read.parquet(committed.map(_.toString): _*)
      // labels RESOLVE at the fold (min comp per doc — the monotone-
      // label algebra of [[labelsResolved]]): this is the representative
      // re-labeling, where superseded merge rows die instead of being
      // carried forever. Every other relation folds rows verbatim.
      val folded =
        if (rel == "labels") rows.groupBy("doc_id").agg(min(col("comp")).as("comp"))
        else rows
      SinkOps.rangedSortedParquet(
        folded, "doc_id",
        s"$relDir/gen=${g + 1}/batch_id=-1",
        maxRecordsPerFile = 5000000L)
      Fs.writeAtomic(s"$relDir/_gen",
        (g + 1).toString.getBytes("UTF-8"), hconf(s))
      IndexLayout.dropGenerations(s, relDir, "gen=", g)
    }
  }

  /** [[IndexLayout.scaledBuckets]] of the live band-row count — one
    * count over the generation being folded (cheap beside its rewrite). */
  private def autoBuckets(s: SparkSession, idx: String): Int = {
    val target = s.conf.getOption(IndexLayout.BucketRowsConfKey)
      .map(_.toLong).getOrElse(IndexLayout.DefaultBucketRows)
    IndexLayout.scaledBuckets(
      s.read.parquet(IndexLayout.dataDir(s, idx, "bands")).count(), target)
  }

  private def foldManifests(s: SparkSession, root: String,
      meta: Map[Long, Long]): Unit = if (meta.nonEmpty) {
    // the LM-seeded flag folds in with the manifests: after [[compactRel]]
    // a batch_id=-1 attrs slice exists iff committed attribute rows ever
    // did (see compactRel's gate), so "live attrs fold present || prior
    // flag" is exactly "some batch has ever survived to tagging"
    val seeded = cumulativeLmSeeded(s, root) ||
      Fs.exists(s"${liveRelDir(s, root, "attrs")}/batch_id=-1", hconf(s))
    Fs.writeAtomic(s"${metaDir(root)}/_cumulative",
      s"${meta.keys.max} ${meta.values.max} ${if (seeded) 1 else 0}"
        .getBytes("UTF-8"), hconf(s))
    // the cumulative record is committed — the per-batch files are now
    // redundant (crash between deletes just leaves a few extras that the
    // batchMeta merge handles)
    meta.keys.foreach(id => Fs.delete(s"${metaDir(root)}/$id", hconf(s)))
  }

  /** [[compactIndex]] behind DocStream's small-files pressure trigger —
    * the maintenance call a long-lived shard-ingest loop makes between
    * appends. Returns whether a compaction ran. */
  def maybeCompactIndex(s: SparkSession, root: String,
      maxDirsPerBucket: Int = 32): Boolean = {
    val meta = batchMeta(s, root)
    val ran = IndexLayout.maybeCompact(s, indexDir(root),
      Seq("bands", "shingles"), maxDirsPerBucket,
      newBuckets = () => autoBuckets(s, indexDir(root)),
      keepBatchIds = Some(meta.keySet))
    if (ran) {
      // the artifact rels ride the index's pressure trigger: their dir
      // growth is the same one-per-batch rate as the index tail's, so a
      // separate trigger would just fire at the same cadence
      ArtifactRels.foreach(compactRel(s, root, _, meta))
      foldManifests(s, root, meta)
    }
    ran
  }

  /** The two-half build behind [[ensureBuilt]] and [[ensureIngested]]:
    * corpus `d` arrives as two batches split at mid = (min_id + max_id)
    * div 2 (one bounded 1-row collect — ids are non-negative so JVM / and
    * DuckDB // agree), each handed to `append`, then the artifact at
    * `root` is compacted — the build is the first moment the corpus size
    * is known, so the fold re-buckets the index to corpus density and
    * every later shard append probes a right-sized layout (semantics
    * unchanged — IncrAttrSpec pins compaction invariance). Memoized per
    * (session, root); a pre-existing tree from another process is
    * deleted first. */
  private def buildHalves(s: SparkSession, d: String, root: String)(
      append: DataFrame => Unit): String =
    built.computeIfAbsent((s, root), { _ =>
      Fs.delete(root, hconf(s))
      val docs = graft.Tables.documents(s, d)
      val row = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val mid = (row.getAs[Number](0).longValue + row.getAs[Number](1).longValue) / 2
      append(docs.filter(col("doc_id") <= mid))
      append(docs.filter(col("doc_id") > mid))
      compactIndex(s, root)
      root
    })

  /** The attribute table built PURELY through the incremental path
    * ([[buildHalves]]): the seed batch freezes the LM; the second batch
    * exercises the resident-index probe and the frozen-LM backoff. */
  def ensureBuilt(s: SparkSession, d: String): String =
    buildHalves(s, d, dir(d))(appendBatch(s, dir(d), _, broadcastProbe = false))

  /** Read the incrementally-built attribute table (plain parquet scan —
    * downstream selection plans contain no `documents` relation). The
    * `batch_id` partition column is an ingest-bookkeeping detail, not an
    * attribute — dropped so the table's shape is identical to
    * [[AttrTable]]'s. [[ensureBuilt]] ends in a compaction, so the scan
    * this returns reads the doc_id-range-sorted fold ([[compactRel]]) —
    * the same file-pruning layout AttrTable writes. */
  def materialized(s: SparkSession, d: String): DataFrame =
    attrsOf(s, ensureBuilt(s, d))

  /** The live attribute rows of the artifact at `root` (batch_id
    * bookkeeping dropped). */
  def attrsOf(s: SparkSession, root: String): DataFrame =
    s.read.parquet(liveRelDir(s, root, "attrs")).drop("batch_id")

  /** The live admission verdicts (doc_id, status) of a FUSED-loop
    * artifact at `root` (batch_id bookkeeping dropped). */
  def admissionsOf(s: SparkSession, root: String): DataFrame =
    s.read.parquet(liveRelDir(s, root, "admissions")).drop("batch_id")

  /** The artifact built PURELY through the FUSED admission+tagging path
    * ([[ingestBatch]]): the same two-half build ([[buildHalves]]),
    * each batch classified against the resident-survivor index, only
    * survivors tagged, then compacted. This is what q143 grades — note
    * the semantics differ from [[ensureBuilt]]'s tag-everything loop:
    * the resident index holds only ADMITTED docs, so a batch-2 doc whose
    * sole J ≥ 0.8 partner was itself dropped in batch 1 is `new` here
    * (admission semantics: you cannot duplicate a document the corpus
    * rejected), and the frozen LM seeds from batch 1's SURVIVORS. */
  def ensureIngested(s: SparkSession, d: String): String = {
    val root = "/tmp/graft-ingest/" + AttrTable.pathSlug(d)
    buildHalves(s, d, root)(ingestBatch(s, root, _, broadcastProbe = false))
  }
}
