package graft.streaming

import graft.ops.Fs
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** On-disk layout shared by the resident streaming indexes ([[DocStream]]
  * bands+shingles, [[VecStream]] vectors, [[MediaStream]] fingerprints,
  * and [[graft.pipeline.IncrAttrTable]]'s bands+shingles), plus the
  * admission transaction's shared steps: the one stream driver
  * ([[startStream]]), the bounded probe read ([[probeSlice]]) and the
  * verdict commit ([[commitVerdicts]]). This object is the ONLY owner of
  * the index's physical format: callers hand it rows of data columns
  * and never compute a `bucket` or `batch_id` column, name a metadata
  * file or list a bucket dir. Layout: hash-bucketed partition dirs
  * under a GENERATION root with an atomic-pointer swap — a minimal form
  * of the metadata transaction a table format (Delta/Iceberg) provides,
  * which is exactly what these dirs become at 100 TB.
  *
  * {{{
  * indexDir/_gen                                  live generation G (absent = 0)
  * indexDir/_nb.g<G>                              bucket count nb of generation G
  * indexDir/<rel>/gen=G/bucket=B/batch_id=N/  (parquet data files)
  * }}}
  *
  * Readers resolve `_gen` per query and list only the live generation;
  * [[compact]] writes generation G+1 COMPLETELY, swaps the pointer with
  * an atomic rename ([[Fs.writeAtomic]]), and only then deletes old
  * generations — a crash at any point leaves either the old or the new
  * generation fully live, never a mix (a half-written G+1 is simply
  * unreachable and truncated by the next compaction's overwrite).
  *
  * A batch's rows enter the index in one of two forms, and both stay
  * because each bounds a different cost:
  *
  *   - [[appendTailSlice]] ([[graft.pipeline.IncrAttrTable]],
  *     [[MediaStream]]) writes one leaf dir in the TAIL, so the write is
  *     O(batch) whatever the bucket count;
  *   - [[writeSlice]] ([[DocStream]], [[VecStream]]) writes the batch
  *     straight into its bucket dirs, so a probe's read stays flat while
  *     the index grows (BucketedIndexSpec pins the constant file set).
  */
private[graft] object IndexLayout {

  /** Conf key for the index bucket count — consulted ONCE, at seed
    * time; thereafter the persisted per-generation count is
    * authoritative for that index (a re-bucketing [[compact]] writes the
    * next generation's — see [[numBuckets]]). */
  val BucketsConfKey = "spark.graft.stream.indexBuckets"
  val DefaultBuckets = 64

  /** Conf key for the re-bucketing target: rows per bucket dir that
    * [[scaledBuckets]] aims compaction at. The default is MEASURED on
    * the shard-append curve (SURVEY §2.0.2): per-append cost at
    * 100× density (8 M band rows) reads 17.9–23.4 s at nb=64 (full
    * resident reads — the 500 k-doc shingle-ARRAY read dominates),
    * 6.9–9.8 s at nb=512, 9–15 s at 1024–16384, 14.8+ s at 65536
    * (per-dir listing overtakes row pruning); at 10× density (800 k
    * rows) EVERY count above 64 is worse than 64 (6.0–6.7 s vs 7.3+),
    * because a shard's probe keys saturate mid-range counts — no rows
    * pruned, more dirs listed. 16 384 rows/bucket lands each tier on
    * its measured minimum: 64 through 10×, 512 at 100×, growing
    * geometrically past it. */
  val BucketRowsConfKey = "spark.graft.stream.bucketTargetRows"
  val DefaultBucketRows = 16384L

  /** The canonical bucket assignment per relation — THE single
    * definition both the per-batch writers and the re-bucketing
    * [[compact]] must share (a re-bucket computed with any other
    * expression would silently desynchronize readers' probe-bucket
    * pruning from the data's placement). `key` overrides the default
    * key column (the shingle-verify probe buckets hash `doc_a`). */
  def bucketExpr(rel: String, nb: Int, key: Column = null): Column = {
    def k(default: String) = Option(key).getOrElse(col(default))
    rel match {
      case "bands"    => pmod(k("band_hash"), lit(nb))
      case "shingles" => pmod(xxhash64(k("doc_id")), lit(nb.toLong)).cast("int")
      case "vectors"  => pmod(k("cell"), lit(nb))
      // the media fingerprint index ([[MediaStream]]): band_bits alone
      // is 16 bits of entropy, so fold the band index in too — four
      // bands of one fingerprint land in four different buckets. The
      // bucket key is the (band_idx, band_bits) PAIR, so the
      // single-column `key` override cannot express a valid remap —
      // reject it rather than hash a half-overridden pair
      case "fingerprints" =>
        require(key == null,
          "the fingerprints bucket key is the (band_idx, band_bits) pair; " +
            "a single-column key override would desynchronize placement")
        pmod(xxhash64(col("band_idx"), col("band_bits")), lit(nb.toLong)).cast("int")
      case other => throw new IllegalArgumentException(
        s"no canonical bucket expression for index relation '$other'")
    }
  }

  /** Bucket count for a resident relation of `rows` rows: the next
    * power of two that keeps ~`targetRows` rows per bucket, floored at
    * [[DefaultBuckets]] and capped at 2^16 (dirs-per-generation is
    * driver listing work — one shallow listing returns them all, but a
    * million-entry listing is its own pathology). Powers of two keep
    * the modulus cheap and the growth curve geometric: a compaction
    * only re-buckets when the count actually changes. */
  def scaledBuckets(rows: Long, targetRows: Long = DefaultBucketRows): Int = {
    require(targetRows > 0, s"targetRows must be > 0: $targetRows")
    val want = math.max(1L, (rows + targetRows - 1) / targetRows)
    val p2 = java.lang.Long.highestOneBit(want)
    val up = if (p2 == want) want else p2 << 1
    math.min(1L << 16, math.max(DefaultBuckets.toLong, up)).toInt
  }

  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** Seed-time metadata: fix nb from the conf (layout property, not a
    * query knob) as generation 0's count and reset the generation
    * pointer. Returns nb. */
  private def initMeta(spark: SparkSession, indexDir: String): Int = {
    val nb = spark.conf.getOption(BucketsConfKey).map(_.toInt)
      .getOrElse(DefaultBuckets)
    require(nb > 0, s"$BucketsConfKey must be > 0: $nb")
    Fs.writeAtomic(s"$indexDir/_nb.g0", nb.toString.getBytes("UTF-8"), hconf(spark))
    Fs.writeAtomic(s"$indexDir/_gen", "0".getBytes("UTF-8"), hconf(spark))
    nb
  }

  /** The live generation's `_nb.g<G>` record, if the index is seeded.
    * [[compact]] writes the next generation's record BEFORE the `_gen`
    * pointer swaps, so a crash anywhere in compaction leaves (gen, nb)
    * consistent: readers resolve the OLD generation with the OLD count
    * until the single atomic swap, and an orphaned `_nb.g<G+1>` for a
    * generation that never went live is unreachable (and overwritten by
    * the next compaction). */
  private def liveBuckets(spark: SparkSession, indexDir: String): Option[Int] =
    Fs.readBytes(s"$indexDir/_nb.g${gen(spark, indexDir)}", hconf(spark))
      .map(b => new String(b, "UTF-8").trim.toInt)

  /** The LIVE bucket count of a seeded index. */
  def numBuckets(spark: SparkSession, indexDir: String): Int =
    liveBuckets(spark, indexDir).getOrElse(throw new IllegalStateException(
      s"$indexDir has no bucket-count record — index not seeded"))

  /** The live bucket count, seeding an empty index's metadata on first
    * use — the index that grows purely from batch appends
    * ([[graft.pipeline.IncrAttrTable]]) has no separate seed step. */
  def numBucketsOrInit(spark: SparkSession, indexDir: String): Int =
    liveBuckets(spark, indexDir).getOrElse(initMeta(spark, indexDir))

  /** Live generation (absent marker = 0). */
  def gen(spark: SparkSession, indexDir: String): Long =
    Fs.readBytes(s"$indexDir/_gen", hconf(spark))
      .map(b => new String(b, "UTF-8").trim.toLong).getOrElse(0L)

  /** Root of `rel`'s live generation. */
  def dataDir(spark: SparkSession, indexDir: String, rel: String): String =
    s"$indexDir/$rel/gen=${gen(spark, indexDir)}"

  /** Seed (or re-seed — a full rebuild) the index from `rels`, each a
    * relation name with its rows of data columns: prior generations
    * are deleted, the bucket count is fixed ([[BucketsConfKey]]) and
    * every relation lands in `batch_id=-1` of generation 0, which every
    * streamed batch (batchId >= 0) sees through its `< batchId` read. */
  def seed(spark: SparkSession, indexDir: String,
      rels: Seq[(String, DataFrame)]): Unit = {
    rels.foreach { case (rel, _) => Fs.delete(s"$indexDir/$rel", hconf(spark)) }
    val nb = initMeta(spark, indexDir)
    rels.foreach { case (rel, rows) =>
      writeFolded(rows, rel, nb, s"$indexDir/$rel/gen=0")
    }
  }

  /** The fold write the seed and [[compact]] share: every row assigned
    * its canonical bucket at `nb` (a tail row's reserved bucket folds
    * into its real one; an already-bucketed row keeps its value by
    * definition) and `batch_id=-1`, every row of a bucket in one task —
    * ONE file per bucket dir instead of tasks × buckets small files —
    * written as an explicit STATIC overwrite: the truncate-first
    * semantics the crash-recovery story relies on must not depend on a
    * session default of spark.sql.sources.partitionOverwriteMode. */
  private def writeFolded(rows: DataFrame, rel: String, nb: Int,
      out: String): Unit =
    rows.withColumn("bucket", bucketExpr(rel, nb))
      .withColumn("batch_id", lit(-1L))
      .repartition(col("bucket"))
      .write.partitionBy("bucket", "batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .parquet(out)

  /** Write one batch's rows (data columns only) into `rel`'s live
    * generation under their canonical `bucket` dirs at `nb`, as
    * `batch_id=batchId` partitions. The write is an explicit DYNAMIC
    * overwrite — it replaces exactly the partitions present in the data,
    * the per-batch idempotent form, and must not inherit a session-level
    * partitionOverwriteMode. */
  def writeSlice(rows: DataFrame, indexDir: String, rel: String, nb: Int,
      batchId: Long): Unit =
    rows.withColumn("bucket", bucketExpr(rel, nb))
      .withColumn("batch_id", lit(batchId))
      .write.partitionBy("bucket", "batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(dataDir(rows.sparkSession, indexDir, rel))

  /** The reserved bucket value of the TAIL: freshly appended batch
    * slices that have not been folded into real buckets yet. Canonical
    * bucket expressions ([[bucketExpr]]) are `pmod`-nonnegative, so -2
    * can never collide with a data bucket (-1 is avoided only to keep
    * the two reserved values visually distinct from `batch_id=-1`). */
  val TailBucket = -2

  /** Append one batch's rows (data columns only — NO bucket/batch_id
    * columns) as the tail slice `rel/gen=G/bucket=-2/batch_id=N`: a
    * plain leaf-directory overwrite, one or two files, idempotent per
    * batch, with NO partitioned-write machinery — measured on the shard
    * loop, a `partitionOverwriteMode=dynamic` write into the generation
    * root re-lists the whole accumulated tree per append (cost grows
    * with every batch ever appended) and fans the batch out into one
    * parquet file per touched bucket dir (one writer init each: at a
    * bucket count scaled to corpus density a 100-doc shard touches
    * ~1 600 buckets, so the write cost would grow with the PRUNING
    * quality). The tail decouples them, LSM-style: appends are O(batch)
    * regardless of bucket count, readers scan pruned buckets PLUS the
    * bounded tail ([[residentSlice]] includes it automatically), and
    * [[compact]] folds tail rows into real buckets — exactly a table
    * format's small-file clustering job. */
  def appendTailSlice(rows: DataFrame, indexDir: String, rel: String,
      batchId: Long): Unit =
    rows.write.mode("overwrite")
      .parquet(s"${tailDir(rows.sparkSession, indexDir, rel)}/batch_id=$batchId")

  private def tailDir(spark: SparkSession, indexDir: String, rel: String): String =
    s"${dataDir(spark, indexDir, rel)}/bucket=$TailBucket"

  /** The inverse of [[appendTailSlice]]: delete batch `batchId`'s tail
    * leaf of `rel` (the crash-residue heal of a batch that never
    * committed), and the tail dir itself when that leaves it empty —
    * [[residentSlice]] reads every present bucket dir as data. */
  def dropTailSlice(spark: SparkSession, indexDir: String, rel: String,
      batchId: Long): Unit = {
    val tail = tailDir(spark, indexDir, rel)
    Fs.delete(s"$tail/batch_id=$batchId", hconf(spark))
    if (Fs.list(tail, hconf(spark)).isEmpty) Fs.delete(tail, hconf(spark))
  }

  /** Pre-batch index rows from ONLY the named bucket directories of the
    * live generation, PLUS the tail (bucket=-2 — batch slices not yet
    * folded into buckets; bounded by the compaction trigger). The read
    * is rooted at the selected `bucket=B` dirs themselves (one SHALLOW
    * listing of the generation root picks the survivors — O(nb)
    * directory entries, not O(files)), so neither the file LISTING nor
    * the scan ever touches another bucket's tree; `batch_id < batchId`
    * then prunes batch dirs inside them. A filter-only form
    * (`bucket isin ...` over the root) would scan the right files but
    * still eagerly list the whole index — O(total files) driver work
    * per trigger, which is the cost this layout exists to avoid. When
    * the caller declares `schema`, the read skips footer-based
    * inference (one less I/O pass per probe). */
  def residentSlice(spark: SparkSession, indexDir: String, rel: String,
      batchId: Long, buckets: Seq[Int], schema: StructType = null): DataFrame = {
    val root = dataDir(spark, indexDir, rel)
    val present = Fs.list(root, hconf(spark))
      .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
    val dirs = (buckets.distinct.map(b => s"bucket=$b") :+ s"bucket=$TailBucket")
      .filter(present).map(n => s"$root/$n")
    def reader = {
      val r = spark.read
      (if (schema != null) r.schema(schema) else r).option("basePath", root)
    }
    if (dirs.nonEmpty)
      reader.parquet(dirs: _*)
        .filter(col("batch_id") < batchId)
        .drop("bucket", "batch_id")
    else if (present.nonEmpty)
      // no overlap (or an empty batch): schema from one bucket dir,
      // rows from none
      reader.parquet(s"$root/${present.head}")
        .filter(lit(false)).drop("bucket", "batch_id")
    else {
      // a completely empty index (seeded from an empty corpus — a
      // legitimate cold start): there are no files to infer a schema
      // from, so the caller's declared row shape is the contract
      require(schema != null,
        s"empty index at $root and no fallback schema declared")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The bounded probe read every admission transaction makes: which
    * `rel` buckets can the batch's `probes` rows possibly hit (the
    * canonical [[bucketExpr]], `key` overriding its key column), as
    * [[probeBuckets]]'s one driver-side collect — then [[residentSlice]]
    * of exactly those buckets. The collect is the price of turning the
    * resident read from O(index) into O(the batch's buckets); persist
    * `probes` first, or the collect recomputes it. */
  def probeSlice(probes: DataFrame, indexDir: String, rel: String, nb: Int,
      batchId: Long, schema: StructType, key: Column = null): DataFrame =
    residentSlice(probes.sparkSession, indexDir, rel, batchId,
      probeBuckets(probes, rel, nb, key), schema)

  /** The distinct `rel` buckets of `probes`' rows, in ONE job: each
    * partition reduces to its own bucket set (≤ nb ints) and the driver
    * merges them — a `distinct()` would add a shuffle stage for a set the
    * driver receives whole anyway. */
  private[graft] def probeBuckets(probes: DataFrame, rel: String, nb: Int,
      key: Column = null): Seq[Int] =
    probes.select(bucketExpr(rel, nb, key).cast("int")).as(Encoders.scalaInt)
      .mapPartitions(_.toSet.iterator)(Encoders.scalaInt)
      .collect().distinct.toSeq

  /** The verdict commit every admission transaction ends in. `ids` is
    * the batch's single id column; `flags` is the status precedence, a
    * list of (status, ids) relations, the first match winning and an
    * unflagged id reading `new`. Flags may repeat an id, within one
    * relation or across several: they are unioned as (id, rank) with the
    * batch ids at rank `flags.size`, and ONE aggregate keeps each batch
    * id's lowest rank (a flagged id that is not in the batch is dropped),
    * so the commit costs one exchange however many flags it grades —
    * a `distinct()` and a left join per flag cost one each. Every batch
    * id gets exactly one verdict row.
    *
    * The (id, status) rows are a plain LEAF-DIRECTORY overwrite of
    * `dir/batch_id=N` (the on-disk layout a dynamic partitioned write on
    * batch_id makes, without its listing of the whole tree), so a
    * replayed batchId replaces exactly its own verdicts. Returns the
    * committed `new` ids RE-READ from disk: that breaks the plan lineage
    * to the index (Spark refuses to overwrite a path its plan reads) and
    * makes every later write of the transaction a pure function of
    * on-disk state. */
  def commitVerdicts(ids: DataFrame, flags: Seq[(String, DataFrame)],
      dir: String, batchId: Long): DataFrame = {
    val id = ids.columns.head
    val batchRank = flags.size
    val ranked = (flags.map(_._2).zipWithIndex :+ (ids -> batchRank)).map {
      case (f, i) => f.select(col(id), lit(i).as("rank"))
    }.reduce(_ union _)
    // the batch ids hold the highest rank, so max(rank) marks membership
    val verdicts = ranked.groupBy(id)
      .agg(min("rank").as("rank"), max("rank").as("top"))
      .filter(col("top") === batchRank)
      .select(col(id), element_at(typedLit(flags.map(_._1) :+ "new"),
        col("rank") + 1).as("status"))
    val leaf = s"$dir/batch_id=$batchId"
    verdicts.write.mode("overwrite").parquet(leaf)
    // the written row shape is known: declaring it skips footer inference
    ids.sparkSession.read.schema(verdicts.schema).parquet(leaf)
      .filter(col("status") === "new").select(id)
  }

  /** The streaming tier's one driver: parquet files of `schema` from
    * `streamDir`, each micro-batch handed with its engine batchId to
    * `batch` through `foreachBatch` — the engine's sanctioned form for a
    * read-classify-append transaction, whose per-batch joins and
    * aggregations streaming-native operators would hold as unbounded
    * state. Delivery is at-least-once (a crash before the checkpoint
    * commit re-runs the same batchId), so `batch` must be idempotent per
    * batchId. `Trigger.AvailableNow` + checkpoint: run-to-completion per
    * invocation, resume-exactly-once across invocations. */
  def startStream(spark: SparkSession, schema: StructType, streamDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int)(
      batch: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(streamDir)
      .writeStream
      .foreachBatch((df: DataFrame, batchId: java.lang.Long) => batch(df, batchId))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Fold every batch partition of `rels` into ONE file per bucket dir
    * of generation G+1, then atomically swap the `_gen` pointer and GC
    * the old generations. Fixes the small-files growth the per-batch
    * layout accrues (a bucket gains one `batch_id=N` dir per admitting
    * batch; a year of triggers = thousands of tiny files per bucket).
    *
    * SINGLE-WRITER contract: run only between SUCCESSFUL stream
    * invocations (`Trigger.AvailableNow` run-to-completion — every
    * delivered batch is committed and will never be re-delivered).
    * Compacting while a batch is in flight — or after a crashed
    * invocation whose last batch will replay — would fold that batch's
    * half-written rows into `batch_id=-1`, where the replay's
    * `batch_id < batchId` read could see them. This is the same
    * maintenance-window discipline as a table format's OPTIMIZE job.
    *
    * Compacted rows land in `batch_id=-1`, which every future batch
    * reads.
    *
    * `newBuckets > 0` RE-BUCKETS while folding: rows are reassigned with
    * [[bucketExpr]] at the new count and the per-generation `_nb.g<G+1>`
    * records it BEFORE the pointer swap, so the (generation, bucket
    * count) pair changes atomically from every reader's view — this is
    * how an index seeded at [[DefaultBuckets]] grows with its corpus
    * (the append-time probe read is O(probe keys × rows-per-bucket);
    * without re-bucketing, rows-per-bucket grows linearly with the
    * resident corpus and the "pruned" read degrades back to a full
    * scan once every bucket is hit). `newBuckets == 0` keeps the
    * current count (tail rows still fold into their real buckets).
    *
    * `keepBatchIds`, when set, drops rows of any non-negative batch_id
    * NOT in the set — the hook a caller with a commit manifest uses to
    * keep uncommitted residue (a crashed append's half-written slices)
    * from being folded into `batch_id=-1` permanently. */
  def compact(spark: SparkSession, indexDir: String, rels: Seq[String],
      newBuckets: Int = 0, keepBatchIds: Option[Set[Long]] = None): Unit = {
    val g = gen(spark, indexDir)
    val nb = numBuckets(spark, indexDir)
    val targetNb = if (newBuckets > 0) newBuckets else nb
    rels.foreach { rel =>
      val live = spark.read.parquet(s"$indexDir/$rel/gen=$g")
      val committed = keepBatchIds match {
        case Some(ids) =>
          live.filter(col("batch_id") === -1L ||
            col("batch_id").isin(ids.toSeq: _*))
        case None => live
      }
      writeFolded(committed, rel, targetNb, s"$indexDir/$rel/gen=${g + 1}")
    }
    // ALWAYS written (not only when the count changes): the GC below
    // removes generation G's record, and gen G+1 must carry its own
    Fs.writeAtomic(s"$indexDir/_nb.g${g + 1}",
      targetNb.toString.getBytes("UTF-8"), hconf(spark))
    Fs.writeAtomic(s"$indexDir/_gen", (g + 1).toString.getBytes("UTF-8"),
      hconf(spark))
    // old generations are unreachable after the swap — best-effort GC
    rels.foreach(rel => dropGenerations(spark, s"$indexDir/$rel", "gen=", g))
    dropGenerations(spark, indexDir, "_nb.g", g)
  }

  /** Delete every `<prefix>N` entry of `dir` with N ≤ `g`: the
    * generations a `_gen` pointer swap to G+1 left unreachable. Entries
    * whose suffix is not a number are left alone. */
  def dropGenerations(spark: SparkSession, dir: String,
      prefix: String, g: Long): Unit =
    Fs.list(dir, hconf(spark))
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith(prefix) && n.stripPrefix(prefix).toLongOption.exists(_ <= g)
      }
      .foreach(st => Fs.delete(st.getPath.toString, hconf(spark)))

  /** The operational trigger for [[compact]]: fold only when some bucket
    * of some rel has accrued more than `maxDirsPerBucket` batch
    * partitions (the small-files pressure signal — read amplification
    * grows with dirs-per-bucket, not index size). Shallow listings only;
    * same single-writer contract as [[compact]]. Returns whether a
    * compaction ran. */
  def maybeCompact(spark: SparkSession, indexDir: String, rels: Seq[String],
      maxDirsPerBucket: Int = 32, newBuckets: () => Int = () => 0,
      keepBatchIds: Option[Set[Long]] = None): Boolean = {
    val g = gen(spark, indexDir)
    val pressured = rels.exists { rel =>
      Fs.list(s"$indexDir/$rel/gen=$g", hconf(spark)).exists { b =>
        b.getPath.getName.startsWith("bucket=") &&
          Fs.list(b.getPath.toString, hconf(spark))
            .count(_.getPath.getName.startsWith("batch_id=")) > maxDirsPerBucket
      }
    }
    // newBuckets is by-need: the sizing count (a scan) runs only when
    // the pressure trigger actually fires
    if (pressured) compact(spark, indexDir, rels, newBuckets(), keepBatchIds)
    pressured
  }
}
