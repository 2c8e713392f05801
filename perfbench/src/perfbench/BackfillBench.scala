package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.{Conf, DedupOps, MovieOps}
import graft.pipeline.{Backfill, BackfillCli}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The backfill workload, the reference program itself: `BackfillCli.run`
  * over a seeded TMDB-shaped page corpus (written by `gen_pages.py`).
  *
  * Process 1 (`cold`) backfills into an empty output dir, checks the
  * masters, then simulates a crash through the public API. Process 2
  * (`resume`) reruns the backfill, which must re-extract exactly the
  * months the crash dropped, and checks the masters again.
  */
object BackfillBench {
  val From = "2021-01-01"
  val To = "2022-12-31"
  /** Months 1..KeptMonths stay checkpointed after the simulated crash;
    * month KeptMonths + 1 keeps its part but loses its mark. */
  val KeptMonths = 18

  def ranges: Seq[(String, String)] = MovieOps.monthRanges(From, To)
  def keys: Seq[String] = ranges.map { case (ms, me) => s"${ms}_$me" }
  def droppedMonths: Seq[String] = keys.drop(KeptMonths)

  private def conf(a: Map[String, String]): Conf.Layered = Conf.Layered(
    cli = Map("pages-dir" -> a("pages"), "out-dir" -> a("outdir"), "from" -> From,
      "to" -> To, "genres" -> a("genres")),
    env = Map.empty, dotEnv = Map.empty)

  private def checkpoint(a: Map[String, String]) = s"${a("outdir")}/checkpoint_months.json"

  /** A crash after month KeptMonths + 1 wrote its part but before it was
    * marked, with the later months never written. The checkpoint is
    * rewritten through `MovieOps.saveCheckpoint`: the local file system
    * keeps a checksum sidecar, so a file edited by hand reads as corrupt
    * and the resume would silently reprocess every month. */
  def crash(spark: SparkSession, a: Map[String, String]): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    MovieOps.saveCheckpoint(checkpoint(a), keys.take(KeptMonths), hc)
    ranges.drop(KeptMonths + 1).foreach { case (ms, _) =>
      val p = new org.apache.hadoop.fs.Path(s"${a("outdir")}/part_month=$ms")
      p.getFileSystem(hc).delete(p, true)
    }
  }

  /** One timed `BackfillCli.run` as a phase span. Months and the
    * consolidation become operation spans bounded by the `onProgress`
    * callbacks; the callback runs on the thread that submits the next
    * month's jobs, so it points them at the next operation's span. */
  final case class Timed(result: Backfill.Result, wallS: Double, monthS: Seq[Double],
      consolidateS: Double, opSpans: Seq[Int], tot: Option[Totals],
      startMs: Double, endMs: Double)

  private def timedRun(spark: SparkSession, a: Map[String, String], trace: Trace,
      listener: Listener, phase: String): Timed = {
    def snapshot(): Option[Totals] =
      if (trace.on) { PerfbenchBus.drain(spark.sparkContext); Some(listener.totals) } else None
    val ks = keys
    val ids = (ks :+ "consolidation").map(_ => trace.newId())
    val marks = mutable.ArrayBuffer[Double]()
    val before = snapshot()
    trace.span("phase", phase) {
      val phaseId = trace.current
      val start = trace.now
      trace.tagJobs(ids.head)
      val t0 = System.nanoTime()
      val res = BackfillCli.run(spark, conf(a), onProgress = (_, _, _) => {
        marks += trace.now
        trace.tagJobs(ids(marks.size))
      })
      val wall = Util.secondsSince(t0)
      val end = trace.now
      trace.tagJobs(phaseId)
      val bounds = start +: marks.toSeq :+ end
      val processed = res.processedMonths.toSet
      if (trace.on) ids.indices.foreach { i =>
        val name =
          if (i == ks.size) "consolidation"
          else s"month ${ks(i)}" + (if (processed(ks(i))) "" else " (checkpointed)")
        trace.add(Span(ids(i), phaseId, "operation", name, bounds(i), bounds(i + 1), Map.empty))
      }
      val gaps = ks.indices.filter(i => processed(ks(i)))
        .map(i => (bounds(i + 1) - bounds(i)) / 1000)
      Timed(res, wall, gaps, (end - marks.last) / 1000,
        ks.indices.filter(i => processed(ks(i))).map(ids),
        before.flatMap(b0 => snapshot().map(_ - b0)), start, end)
    }
  }

  /** Output checks shared by both processes; returns the failed ones. */
  private def check(spark: SparkSession, a: Map[String, String]): (Seq[String], String) = {
    val (csvName, parquetName) = MovieOps.masterPaths(From, To)
    val out = a("outdir")
    val master = spark.read.parquet(s"$out/$parquetName")
    val csv = spark.read.schema(MovieOps.MovieSchema).option("header", "true")
      .csv(s"$out/$csvName")
    val expected = spark.read.schema("tmdb_id long, vote_count long").csv(a("expected"))
    val failures = mutable.ArrayBuffer[String]()
    val rows = master.count()
    if (rows != a("distinct").toLong) failures += s"master rows $rows != ${a("distinct")} distinct ids"
    if (Util.digest(master.select("tmdb_id", "vote_count")) != Util.digest(expected))
      failures += "master (tmdb_id, vote_count) differ from the earliest-month survivors"
    val digest = Util.digest(master)
    if (Util.digest(csv) != digest) failures += "csv and parquet masters differ"
    (failures.toSeq, digest)
  }

  /** Run `f` in this process's session, inside the run span; writes the
    * spans when traced. */
  private def withSession(a: Map[String, String], name: String)(
      f: (SparkSession, Double, Trace, Listener) => mutable.LinkedHashMap[String, Any])
      : Map[String, Any] = {
    val trace = new Trace(a.getOrElse("run", "backfill"), a("trace") == "1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val out = trace.span("run", name, startAt = jvmStart) {
      val (spark, setupS) = Setup.session()
      trace.sc = Some(spark.sparkContext)
      val listener = new Listener(trace)
      if (trace.on) {
        trace.add(Span(trace.newId(), trace.current, "phase", "setup",
          jvmStart, jvmStart + setupS * 1000, Map.empty))
        spark.sparkContext.addSparkListener(listener)
      }
      try f(spark, setupS, trace, listener)
      finally spark.stop()
    }
    if (trace.on) {
      out("self_s") = trace.selfByLayer
      a.get("spans").foreach(trace.writeSpans)
    }
    out.toMap
  }

  def cold(a: Map[String, String]): Map[String, Any] =
    withSession(a, "backfill cold") { (spark, setupS, trace, listener) =>
      val run = timedRun(spark, a, trace, listener, "backfill")
      val (failures, digest) = check(spark, a)
      val (files, bytes) = Util.du(Seq(Paths.get(a("outdir"))))
      val out = mutable.LinkedHashMap[String, Any](
        "setup_s" -> setupS, "backfill_s" -> run.wallS,
        "failures" -> (failures ++ (if (run.result.processedMonths == keys) Nil
          else Seq(s"cold run processed ${run.result.processedMonths.size} of ${keys.size} months"))),
        "digest" -> digest, "master_rows" -> run.result.masterRows,
        "out_files" -> files, "out_bytes" -> bytes)
      if (trace.on) out("layers") = layers(spark, a, trace, listener, run, files, bytes)
      crash(spark, a)
      out
    }

  def resume(a: Map[String, String]): Map[String, Any] =
    withSession(a, "backfill resume") { (spark, setupS, trace, listener) =>
      val run = timedRun(spark, a, trace, listener, "resume")
      val (failures, digest) = check(spark, a)
      val more = Seq(
        if (run.result.processedMonths != droppedMonths)
          Some(s"resume processed ${run.result.processedMonths.mkString(",")}, " +
            s"expected ${droppedMonths.mkString(",")}") else None,
        if (digest != a("cold_digest")) Some("resumed master differs from the cold master")
        else None).flatten
      val out = mutable.LinkedHashMap[String, Any](
        "setup_s" -> setupS, "resume_s" -> run.wallS, "failures" -> (failures ++ more))
      if (trace.on) {
        // the same resume four times more, alternating untraced and
        // traced: the first resume of a JVM also pays for JIT warm-up, so
        // the overhead compares the later ones
        def again(traced: Boolean): Timed = {
          crash(spark, a)
          if (traced) spark.sparkContext.addSparkListener(listener)
          else spark.sparkContext.removeSparkListener(listener)
          trace.on = traced
          timedRun(spark, a, trace, listener, if (traced) "resume traced" else "resume untraced")
        }
        val (plain, traced) = Seq.fill(2)((again(traced = false), again(traced = true))).unzip
        out("attempted") = 5
        if ((plain ++ traced).exists(_.result.processedMonths != droppedMonths))
          out("failures") = (failures ++ more) :+ "a repeated resume processed other months"
        out("trace_overhead") = traced.map(_.wallS).sum / plain.map(_.wallS).sum
        out("consolidate_s") = run.consolidateS
      }
      out
    }

  /** The per-layer numbers of the traced cold process. */
  private def layers(spark: SparkSession, a: Map[String, String], trace: Trace,
      listener: Listener, run: Timed, files: Long, bytes: Long): mutable.LinkedHashMap[String, Double] = {
    val genres: Map[Int, String] = a("genres").split(",").map { kv =>
      val Array(k, v) = kv.split(":", 2)
      k.toInt -> v
    }.toMap
    val payloadOrder = MovieOps.MovieSchema.fieldNames.filterNot(_ == "tmdb_id").toSeq.map(col)
    var readS, normS = 0.0
    var pages, rowsIn, rowsOut = 0L
    // each month's pages read standalone, then normalized and deduplicated
    // into the noop sink: the source and ops layers without the writes
    trace.span("phase", "layers") {
      ranges.foreach { case (ms, me) =>
        trace.span("operation", s"month ${ms}_$me") {
          val dir = s"${a("pages")}/${ms}_$me"
          def load() = spark.read.format("graft.sources.PagedJsonSource").option("dir", dir).load()
          val t0 = System.nanoTime()
          val n = trace.span("call", "read")(load().count())
          val r = Util.secondsSince(t0)
          val ob = Observation("out")
          val t1 = System.nanoTime()
          trace.span("call", "normalize+dedup") {
            DedupOps.exactDedup(MovieOps.normalize(load(), "https://image.tmdb.org/t/p/", "w500",
              genres), Seq("tmdb_id"), payloadOrder)
              .observe(ob, count(lit(1)).as("n"))
              .write.format("noop").mode("overwrite").save()
          }
          val out = ob.get("n").asInstanceOf[Long]
          val p = Files.list(Paths.get(dir)).iterator().asScala
            .count(_.getFileName.toString.startsWith("page-"))
          Seq("pages" -> p.toDouble, "rows_in" -> n.toDouble, "rows_out" -> out.toDouble)
            .foreach { case (k, v) => trace.count(k, v) }
          normS += Util.secondsSince(t1) - r
          readS += r
          rowsIn += n
          rowsOut += out
          pages += p
        }
      }
    }
    val ckpt = Paths.get(System.getProperty("java.io.tmpdir"), "checkpoint-probe.json").toString
    val ckptS = Util.median((1 to 5).map { _ =>
      val t0 = System.nanoTime()
      MovieOps.saveCheckpoint(ckpt, keys)
      require(MovieOps.loadCheckpoint(ckpt) == keys, "checkpoint did not round-trip")
      Util.secondsSince(t0)
    })
    val jobsPerMonth = {
      val months = run.opSpans.toSet
      trace.all.count(s => s.layer == "job" && months(s.parent)).toDouble / months.size
    }
    val l = mutable.LinkedHashMap[String, Double](
      "sources.read_s" -> readS, "sources.pages" -> pages.toDouble,
      "sources.rows" -> rowsIn.toDouble, "sources.rows_per_s" -> rowsIn / readS,
      "ops.normalize_dedup_s" -> normS, "ops.keep_ratio" -> rowsOut.toDouble / rowsIn,
      "pipeline.month_s" -> run.monthS.sum / run.monthS.size,
      "pipeline.consolidate_s" -> run.consolidateS,
      "pipeline.checkpoint_s" -> ckptS,
      "pipeline.jobs_per_month" -> jobsPerMonth,
      "pipeline.files_written" -> files.toDouble,
      "pipeline.mb_written" -> bytes / Util.MB,
      "pipeline.stored_bytes_ratio" -> bytes.toDouble / a("input_bytes").toDouble)
    l ++= Util.execMetrics(run.tot.get, run.wallS, listener.stageIntervals, run.startMs, run.endMs)
    l
  }
}
