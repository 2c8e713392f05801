package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Q, Queries}
import graft.pipeline.{AttrTable, IncrAttrTable}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A session workload: one closed-loop client in a fresh session runs a
  * fixed query list once in order (the cold pass, caches kept between
  * queries as in a user's session), then repeats it in hot rounds until
  * `seconds` have passed, at least [[SessionBench.MinHotRounds]] times.
  *
  * Every run is materialized through the `noop` sink and accumulates an
  * order-independent digest of its rows as it goes ([[Util.digested]]):
  * a re-execution after the timed region would cost a whole extra round.
  * `run.py` compares the cold run's and the last hot round's digests
  * with the expected digests.
  */
object SessionBench {
  /** Queries sharing memoized relations and writing the on-disk
    * attribute and media artifacts: `Memo`, the expression kernels and
    * the artifact writers do most of the work. */
  val Curation: Seq[String] = Seq(
    "q30_term_frequency", "q49_tfidf_keywords", "q112_bm25_retrieval",
    "q36_minhash_lsh", "q37_simhash", "q130_simhash16", "q144_cluster_split",
    "q66_ann_ivfpq", "q142_incremental_attrs", "q154_media_ingest")

  /** Scan-, shuffle- and join-bound plans over the TPC-H-like and events
    * tables, through graft's planner rules and the graph fast path; they
    * hold almost no memoized relations. */
  val Relational: Seq[String] = Seq(
    "q01_pricing_summary", "q04_priority_revenue", "q13_window_frames",
    "q103_salted_join", "q126_bucketed_join", "q52_session_window",
    "q56_auto_interval_join", "q58_asof_native", "q105_gap_fill", "q63_pagerank")

  val Lists: Map[String, Seq[String]] =
    Map("curation_session" -> Curation, "relational_session" -> Relational)

  /** Fewest hot rounds a session runs, whatever `seconds` says. */
  val MinHotRounds = 2

  /** Queries whose first run builds an on-disk artifact. */
  val ArtifactQueries: Set[String] = Set("q142_incremental_attrs", "q154_media_ingest")

  /** Where the program writes artifacts for corpus `d`: its fixed roots
    * under /tmp (one slug per corpus path) and q154's temp dirs. */
  def artifactRoots(d: String): Seq[Path] = {
    val incr = IncrAttrTable.dir(d)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val media = {
      val st = Files.list(tmp)
      try st.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-media-ingest")).toList
      finally st.close()
    }
    Seq(AttrTable.dir(d), AttrTable.dir(d, derivedLang = true), incr,
      incr.replace("/graft-attrs-incr/", "/graft-ingest/")).map(Paths.get(_)) ++ media
  }

  /** One query run. `df` is kept for [[dumpOutputs]]. */
  final case class QRun(name: String, buildS: Double, totalS: Double,
      error: Option[String], digest: Option[String], df: Option[DataFrame],
      tot: Option[Totals])

  /** One pass over the list: wall seconds, the runs, listener totals and
    * span bounds (the last two only when traced). */
  final case class Pass(traced: Boolean, wallS: Double, runs: Seq[QRun],
      tot: Option[Totals], startMs: Double, endMs: Double)

  def run(a: Map[String, String]): Map[String, Any] = {
    val workload = a("workload")
    val names = Lists(workload)
    val d = a("corpus")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val trace = new Trace(a.getOrElse("run", workload), traced)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val out = trace.span("run", workload, startAt = jvmStart) {
      val (spark, setupS) = Setup.session()
      trace.sc = Some(spark.sparkContext)
      if (traced) trace.add(Span(trace.newId(), trace.current, "phase", "setup",
        jvmStart, jvmStart + setupS * 1000, Map.empty))
      try body(spark, setupS, names, d, seconds, trace, a.get("dump"))
      finally spark.stop()
    }
    if (traced) {
      out("self_s") = trace.selfByLayer
      a.get("spans").foreach(trace.writeSpans)
    }
    out.toMap
  }

  private def body(spark: SparkSession, setupS: Double, names: Seq[String], d: String,
      seconds: Double, trace: Trace,
      dump: Option[String]): mutable.LinkedHashMap[String, Any] = {
    val traced = trace.on
    val listener = new Listener(trace)
    def listen(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      } else {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
    def snapshot(): Option[Totals] =
      if (trace.on) { PerfbenchBus.drain(spark.sparkContext); Some(listener.totals) } else None
    if (traced) listen(true)

    def runQuery(q: Q): QRun = trace.span("operation", q.name) {
      val before = snapshot()
      val t0 = System.nanoTime()
      try {
        val df = trace.span("call", "build")(q.fn(spark, d))
        val b = Util.secondsSince(t0)
        val (out, ob) = Util.digested(df)
        trace.span("call", "execute")(out.write.format("noop").mode("overwrite").save())
        val t = Util.secondsSince(t0)
        trace.count("rows", ob.get("rows").asInstanceOf[Long].toDouble)
        QRun(q.name, b, t, None, Some(Util.digestOf(ob)), Some(df),
          before.flatMap(b0 => snapshot().map(_ - b0)))
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] ${q.name} failed: $e")
          QRun(q.name, Double.NaN, Double.NaN,
            Some(Option(e.getMessage).getOrElse(e.toString).take(300)), None, None, None)
      }
    }

    def pass(label: String): Pass = {
      val before = snapshot()
      val s0 = trace.now
      val t0 = System.nanoTime()
      val runs = trace.span("phase", label)(names.map(n => runQuery(Queries.byName(n))))
      val wall = Util.secondsSince(t0)
      Pass(trace.on, wall, runs, before.flatMap(b0 => snapshot().map(_ - b0)), s0, trace.now)
    }

    val cold = pass("cold pass")
    val coldStorage = Util.storage(spark)
    val (artFiles, _) = Util.du(artifactRoots(d))

    val dumped = dump.map(dir => dumpOutputs(spark, cold, names, dir)).getOrElse(Map.empty)

    // hot rounds; a traced process alternates traced and untraced rounds
    // so that their wall times give the tracing overhead. Each query's
    // hot time is its median over at least two rounds, which halves what
    // the first round still pays for JIT compilation; a collection is
    // drained before each round so that no round inherits the previous
    // one's garbage.
    val hot = mutable.ArrayBuffer[Pass]()
    val hotStart = System.nanoTime()
    while (hot.size < MinHotRounds || Util.secondsSince(hotStart) < seconds) {
      val on = traced && hot.size % 2 == 0
      if (traced && on != trace.on) { listen(on); trace.on = on }
      System.gc()
      hot += pass(s"hot round ${hot.size + 1}")
    }
    if (traced && !trace.on) { listen(true); trace.on = true }
    val (relations, partitions, retained) = Util.storage(spark)
    val (_, leftover) = Util.du(artifactRoots(d))

    val perQuery = names.map { n =>
      val c = cold.runs.find(_.name == n).get
      val hs = hot.map(_.runs.find(_.name == n).get)
      n -> mutable.LinkedHashMap[String, Any](
        "cold_s" -> c.totalS, "cold_build_s" -> c.buildS,
        "hot_s" -> hs.map(_.totalS).toList,
        "errors" -> (c.error.toList ++ hs.flatMap(_.error)),
        "cold_digest" -> c.digest, "hot_digest" -> hs.last.digest,
        "dump_digest" -> dumped.get(n))
    }
    def hotMedian(n: String, ps: Seq[Pass]): Double =
      Util.median(ps.map(_.runs.find(_.name == n).get.totalS))

    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "cold_s" -> cold.runs.map(_.totalS).sum,
      "hot_s" -> names.map(n => hotMedian(n, hot.toSeq)).sum,
      "hot_rounds" -> hot.size,
      "retained_mb" -> retained / Util.MB,
      "attempted" -> (cold.runs.size + hot.map(_.runs.size).sum),
      "queries" -> perQuery.toMap,
      "artifact_roots" -> artifactRoots(d).map(_.toString))

    if (traced) {
      val tr = hot.filter(_.traced).toSeq
      val untr = hot.filterNot(_.traced).toSeq
      def med(f: Pass => Double): Double = Util.median(tr.map(f))
      val exec = tr.map(p => Util.execMetrics(p.tot.get, p.wallS,
        listener.stageIntervals, p.startMs, p.endMs))
      def buildMinusHot(qs: Seq[String]): Double =
        qs.map(n => cold.runs.find(_.name == n).get.totalS - hotMedian(n, tr)).sum
      val layers = mutable.LinkedHashMap[String, Double](
        "queries.build_s" -> med(_.runs.map(_.buildS).sum),
        "queries.first_run_s" -> cold.runs.map(_.totalS).sum,
        "planner.analysis_s" -> med(_.tot.get.analysisMs / 1000),
        "planner.optimization_s" -> med(_.tot.get.optimizationMs / 1000),
        "planner.planning_s" -> med(_.tot.get.planningMs / 1000))
      exec.head.keys.foreach(k => layers(k) = Util.median(exec.map(_(k))))
      layers ++= Seq(
        "memo.relations" -> relations.toDouble,
        "memo.partitions" -> partitions.toDouble,
        "memo.mb" -> retained / Util.MB,
        "memo.build_s" -> buildMinusHot(names.filterNot(ArtifactQueries)),
        "memo.scans_per_query" -> med(_.tot.get.cacheScans.toDouble / names.size),
        "artifacts.build_s" -> buildMinusHot(names.filter(ArtifactQueries)),
        "artifacts.files_written" -> artFiles.toDouble,
        "artifacts.mb_written" -> cold.runs.filter(r => ArtifactQueries(r.name))
          .flatMap(_.tot).map(_.outputBytes).sum / Util.MB,
        "artifacts.tmp_leftover_mb" -> leftover / Util.MB)
      out("layers") = layers
      out("memo_after_cold") = Map("relations" -> coldStorage._1,
        "partitions" -> coldStorage._2, "mb" -> coldStorage._3 / Util.MB)
      out("trace_overhead") =
        Util.median(tr.map(_.wallS)) / Util.median(untr.map(_.wallS))
    }
    out
  }

  /** Write each cold result as parquet with the oracle SQL beside it, in
    * the layout `graft.Verify` uses, for an oracle check of the recorded
    * digests; returns the digest of each written file. */
  private def dumpOutputs(spark: SparkSession, cold: Pass, names: Seq[String],
      dir: String): Map[String, String] = {
    Files.createDirectories(Paths.get(dir))
    Json.write(s"$dir/oracle_sql.json",
      Queries.oracles.filter { case (k, _) => names.contains(k) })
    cold.runs.flatMap(r => r.df.map { df =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/${r.name}")
      r.name -> Util.digest(spark.read.parquet(s"$dir/${r.name}"))
    }).toMap
  }
}
