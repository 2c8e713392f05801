package graft.pipeline

import java.util.concurrent.{ExecutionException, Executors, Future}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.ops.{DedupOps, Fs, MovieOps}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's checkpointed monthly backfill (movie.py:247-299),
  * re-expressed for Spark's execution model:
  *
  *  - the month work-list minus completed months is the reference's
  *    done-set skip (movie.py:257-263) — at scale the same thing is the
  *    anti-join `pending LEFT ANTI JOIN checkpoint` (query q06 shape);
  *  - each month writes a parquet part under `part_month=<start>/` —
  *    directory partitioning replaces hand-rolled filenames, and an
  *    idempotent overwrite makes re-runs of a crashed month safe
  *    (write-then-mark ⇒ at-least-once, dedup ⇒ effectively-once);
  *  - each month's pages are read once: the write is the month's only
  *    action, and an empty month still lands an empty, full-schema part;
  *  - month writes overlap on a thread pool as wide as the task slots,
  *    while the calling thread builds the plans and settles the months
  *    (mark, checkpoint, progress callback) strictly in month order;
  *  - consolidation reads the listed parts, runs the global window dedup
  *    once into the parquet master, and derives the CSV master and the
  *    row count from one read of it — never a driver-side collect/concat
  *    (the reference's `pd.concat` at movie.py:294 is the scaling cliff
  *    this replaces).
  */
object Backfill {

  final case class Result(processedMonths: Seq[String], masterRows: Long)

  /** Run the backfill over [start, end].
    *
    * On a failure — a plan that fails to build, a write, a checkpoint
    * save or the callback — no further month is submitted, the months
    * already in flight settle (those whose write committed are marked),
    * and the first failure in month order is rethrown.
    *
    * @param fetchMonth raw-payload source for one (monthStart, monthEnd)
    *                   range — a JSON-fixture read in tests; a DataSource
    *                   wrapping the paged REST API in production. Called
    *                   on the calling thread, in month order, for pending
    *                   months only; a throw stops the run after the months
    *                   before it have settled
    * @param onProgress per-month progress callback (C5): (monthKey,
    *                   completed, total) in month order, after each
    *                   pending month's write commits and its mark is
    *                   saved, and as each checkpointed month is passed
    * @param keepFirst  reproduce the reference's `drop_duplicates
    *                   (keep='first')` in fetch/page order (movie.py:276)
    *                   — requires `fetchMonth` frames to carry the
    *                   source's `_page`/`_row` ordinals (the paged
    *                   source's `withOrdinals` option). Default keeps
    *                   the payload-ordered survivor, which is
    *                   deterministic without ingest-order columns.
    */
  def run(
      spark: SparkSession,
      outDir: String,
      checkpointFile: String,
      start: String,
      end: String,
      imageBase: String,
      posterSize: String,
      genres: Map[Int, String],
      fetchMonth: (String, String) => DataFrame,
      onProgress: (String, Int, Int) => Unit = (_, _, _) => (),
      keepFirst: Boolean = false): Result = {

    // all driver-side I/O rides the Hadoop FileSystem API with the
    // session's conf, so outDir/checkpointFile may be any scheme Spark
    // itself can write (file:, hdfs:, s3a:, ...)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val ranges = MovieOps.monthRanges(start, end)
    var done = MovieOps.loadCheckpoint(checkpointFile, hadoopConf)
    // membership checks against the checkpoint are per-month; a Seq scan
    // would be O(months²) — keep a Set view alongside the ordered list
    val doneSet = done.toSet
    val processed = Seq.newBuilder[String]

    // dedup survivor must be DETERMINISTIC even when duplicate payloads
    // differ (DedupOps contract) — ordering by the key alone is constant
    // within its window, so order by the full payload instead
    val payloadOrder = MovieOps.MovieSchema.fieldNames
      .filterNot(_ == "tmdb_id").toSeq.map(col)

    // One read per month: no emptiness pre-pass. An empty month still
    // writes a part with the full schema — the file writer always writes
    // partition 0's file.
    def monthPart(ms: String, me: String): DataFrame = {
      val raw = fetchMonth(ms, me)
      if (keepFirst) {
        require(raw.columns.contains("_page") && raw.columns.contains("_row"),
          "keepFirst needs _page/_row ingest ordinals — read the source with withOrdinals=true")
        DedupOps.exactDedup(
            MovieOps.normalize(raw, imageBase, posterSize, genres,
              extra = Seq("_page", "_row")),
            Seq("tmdb_id"), Seq(col("_page"), col("_row")))
          .drop("_page", "_row")
      } else DedupOps.exactDedup(
        MovieOps.normalize(raw, imageBase, posterSize, genres),
        Seq("tmdb_id"), payloadOrder)
    }

    // Month writes overlap on a thread pool as wide as the task slots;
    // plans are built and months settled (mark, checkpoint, callback) on
    // this thread in month order. `window` holds the months not yet
    // settled: None for a month already checkpointed.
    val width = spark.sparkContext.defaultParallelism
    val pool = Executors.newFixedThreadPool(width)
    val window = mutable.Queue.empty[(String, Option[Future[_]])]
    var failure: Throwable = null
    def fail(t: Throwable): Unit =
      if (failure == null) failure = t else failure.addSuppressed(t)

    // Mark AFTER the data write (movie.py:281-282): a crash in between
    // re-extracts the month; global dedup restores exactly-once. After a
    // failure, later months that committed are still marked, but the
    // callback only ever reports an unbroken prefix of the months.
    def settle(): Unit = {
      val (key, write) = window.dequeue()
      try {
        write.foreach { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
          done = done :+ key
          MovieOps.saveCheckpoint(checkpointFile, done, hadoopConf)
          processed += key
        }
        if (failure == null) onProgress(key, done.size, ranges.size)
      } catch { case NonFatal(t) => fail(t) }
    }

    try {
      // a plan that fails to build stops submission where the sequential
      // loop stopped; it is reported after the months before it settle
      val planFailure =
        try {
          val months = ranges.iterator
          while (failure == null && months.hasNext) {
            val (ms, me) = months.next()
            val key = s"${ms}_$me"
            window.enqueue(key -> (if (doneSet.contains(key)) None else {
              val part = monthPart(ms, me)
              // idempotent per-month overwrite (movie.py:277-278)
              Some(pool.submit((() => part.write.mode(SaveMode.Overwrite)
                .parquet(s"$outDir/part_month=$ms")): Runnable))
            }))
            while (window.nonEmpty && (window.head._2.isEmpty || window.size >= width))
              settle()
          }
          None
        } catch { case NonFatal(t) => Some(t) }
      while (window.nonEmpty) settle()
      planFailure.foreach(fail)
    } finally pool.shutdown()
    if (failure != null) throw failure

    // consolidate (movie.py:288-299): read the listed parts -> global
    // dedup -> parquet master; the CSV master and the row count come
    // from one read of the written parquet, so the dedup runs once
    val parts = Fs.list(outDir, hadoopConf).map(_.getPath)
      .filter(_.getName.startsWith("part_month="))
    val masterRows = if (parts.nonEmpty) {
      val all = spark.read
        .schema(MovieOps.MovieSchema.add("part_month", "string"))
        .option("basePath", outDir)
        .parquet(parts.map(_.toString): _*)
      // earliest month wins; per-month dedup already guarantees one row
      // per tmdb_id within a month, and the payload tail keeps the
      // survivor deterministic even if that invariant is ever violated
      val master = DedupOps.exactDedup(
          all, Seq("tmdb_id"), col("part_month") +: payloadOrder)
        .drop("part_month")
      val (csvName, parquetName) = MovieOps.masterPaths(start, end)
      master.write.mode(SaveMode.Overwrite).parquet(s"$outDir/$parquetName")
      val written = spark.read.schema(MovieOps.MovieSchema)
        .parquet(s"$outDir/$parquetName")
      written.write.mode(SaveMode.Overwrite)
        .option("header", "true").csv(s"$outDir/$csvName")
      written.count()
    } else 0L

    Result(processed.result(), masterRows)
  }
}
