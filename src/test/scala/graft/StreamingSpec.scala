package graft

import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream-vs-batch equivalence for the event windows (no SQL oracle can
  * grade a stream): the streaming aggregation over the same files under
  * `Trigger.AvailableNow` + complete mode must produce exactly the batch
  * answer.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  /** The parquet file-stream source wants a DIRECTORY; stage the events
    * file into one. */
  private lazy val streamDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    dir.toString
  }

  test("streaming tumbling counts == batch tumbling counts") {
    val q = EventStream.tumblingCounts(spark, streamDir)
      .writeStream
      .format("memory")
      .queryName("stream_tumbling")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_tumbling")
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("event_ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n_events"))
      .orderBy("win_start", "event_type")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("flatMapGroupsWithState running counts accumulate across micro-batches") {
    // two copies of the events file + maxFilesPerTrigger=1 => 2 batches;
    // the keyed state must carry counts across the batch boundary
    val dir = java.nio.file.Files.createTempDirectory("events-stateful")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val q = EventStream.statefulUserCounts(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream
      .format("memory")
      .queryName("stream_stateful")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // last update per user == 2x the single-file batch count
    val finalCounts = spark.table("stream_stateful")
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.max("running_count").as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf)
      .groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts.nonEmpty)
    assert(finalCounts == batch.map { case (u, c) => u -> c * 2 })
  }

  test("streaming dedup within watermark == batch exact dedup") {
    // duplicate the whole file: every event_id arrives twice inside the
    // watermark; the deduped stream must equal the single-copy batch
    val dir = java.nio.file.Files.createTempDirectory("events-dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    val q = EventStream.dedupedEvents(spark, dir.toString)
      .writeStream
      .format("memory")
      .queryName("stream_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_dedup")
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-static broadcast join enriches each micro-batch") {
    import spark.implicits._
    val dim = Seq(("click", "ui"), ("view", "ui"), ("purchase", "commerce"))
      .toDF("event_type", "category")
    val q = EventStream.enrichedCounts(spark, streamDir, dim)
      .writeStream
      .format("memory")
      .queryName("stream_enriched")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_enriched")
      .orderBy("category").collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .join(dim, "event_type")
      .groupBy(col("category")).agg(count(lit(1)).as("n_events"))
      .orderBy("category").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream interval join == batch interval join") {
    // funnel: every click joined to same-user views from the prior 30
    // minutes; append mode — rows emit once both watermarks pass the
    // match window, and AvailableNow's final batch seals every window
    val q = EventStream.viewClickFunnel(spark, streamDir)
      .writeStream
      .format("memory")
      .queryName("stream_funnel")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_funnel")
      .orderBy("view_id", "click_id").collect().map(_.toSeq).toSeq
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("event_ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_ts").as("click_ts"))
    val batch = views.join(clicks,
        col("v_user") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
      .orderBy("view_id", "click_id").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty, "stream-stream join emitted nothing")
    assert(streamed == batch)
  }

  test("checkpointed restart resumes where it left off — no reprocessing (AvailableNow)") {
    // the engine-managed form of the reference's month-loop resume
    // (movie.py:260-286, SURVEY §1): run against one file with a
    // checkpoint into a DURABLE sink, stop, add a second file, restart
    // on the SAME checkpoint — the source's commit log must skip the
    // first file (output grows to exactly 2n, never 3n) — the
    // write-then-mark idempotence the Backfill loop hand-rolls, managed
    // by the engine (parquet sink has its own exactly-once commit log;
    // the memory sink rejects recovery outright)
    val dir = java.nio.file.Files.createTempDirectory("events-resume")
    val ckpt = java.nio.file.Files.createTempDirectory("events-resume-ckpt")
    val out = java.nio.file.Files.createTempDirectory("events-resume-out")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("a.parquet"))
    def run(): Unit = {
      val q = spark.readStream.schema(EventStream.schemaFor(spark, dir.toString))
        .parquet(dir.toString)
        .select(col("event_id"))
        .writeStream
        .format("parquet")
        .option("path", out.toString)
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    run()
    val n = Tables.events(spark, sf).count()
    assert(spark.read.parquet(out.toString).count() == n)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"), dir.resolve("b.parquet"))
    run()
    assert(spark.read.parquet(out.toString).count() == 2 * n,
      "restart reprocessed the already-committed file instead of resuming")
  }

  test("streaming Misra-Gries state keeps heavies across batches, bounded by k") {
    // synthetic skewed item stream in the events schema: per type, 3
    // planted heavy items (300 occurrences each over the full stream =
    // 23% >> n/(k+1) = 1300/21) and a 200-item uniform tail; split into
    // two files => two micro-batches, so the sketch state must carry the
    // guarantee across the batch boundary
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    val dir = java.nio.file.Files.createTempDirectory("events-mg")
    def rows(file: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until 2).flatMap { t =>
        val heavy = (0 until 3).flatMap(h => Seq.fill(150)(s"h$h"))
        val tail = Seq.fill(500)(s"t${rnd.nextInt(200)}")
        rnd.shuffle(heavy ++ tail).zipWithIndex.map { case (item, i) =>
          (file * 100000L + t * 10000L + i, 1700000000000000000L + i * 1000000L,
            i.toLong % 50, s"type$t", 0.0, s"""{"k": "$item"}""")
        }
      }
    Seq(0, 1).foreach { f =>
      rows(f).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      // move the part file up so the stream sees exactly two files
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    val q = EventStream.streamingHeavyHitters(spark, dir.toString,
        k = 20, maxFilesPerTrigger = 1)
      .writeStream
      .format("memory")
      .queryName("stream_mg")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // per type: take the LAST emitted candidate set (2 batches => 2 rows)
    val emitted = spark.table("stream_mg").collect()
      .map(r => r.getString(0) -> r.getSeq[String](1))
    assert(emitted.length == 4, s"expected 2 types x 2 batches, got ${emitted.length}")
    Seq("type0", "type1").foreach { t =>
      val cands = emitted.filter(_._1 == t).last._2.toSet
      assert(cands.size <= 20, s"$t state exceeded k: ${cands.size}")
      (0 until 3).foreach(h => assert(cands.contains(s"h$h"),
        s"$t lost heavy h$h across the batch boundary"))
    }
  }

  test("streaming admission dedups against a growing resident index") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("doc-admit")
    val (streamDir, indexDir, outDir) =
      (s"$root/stream", s"$root/index", s"$root/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamDir))

    val corpusText = "the quick brown fox jumps over the lazy dog again and again"
    val freshA = "purple monkeys deliver seventeen umbrellas to the northern lighthouse keeper"
    val freshB = "quantum turbines hum beneath the ancient observatory during winter storms"
    graft.streaming.DocStream.seedIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), indexDir)

    def runBatch(file: String, rows: Seq[(Long, String)]): Unit = {
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$root/$file")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/$file"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$streamDir/$file.parquet"))
      val q = graft.streaming.DocStream.start(spark, streamDir, indexDir, outDir,
        maxFilesPerTrigger = 10)
      q.awaitTermination(120000)
    }

    // batch 0: a corpus dup, a fresh doc, and a within-batch dup of it
    runBatch("b0", Seq((9001L, corpusText), (9002L, freshA), (9005L, freshA)))
    // batch 1: a dup of the batch-0 ADMITTED doc (the index must have
    // grown for this to classify as dup_corpus), plus another fresh doc
    runBatch("b1", Seq((9103L, freshA), (9104L, freshB)))

    val rows = spark.read.parquet(s"$outDir/admissions")
      .select(col("doc_id"), col("status"), col("batch_id").cast("long"))
      .collect()
    // exactly-once: the second invocation must NOT reprocess batch 0
    // (a duplicate admission row would vanish in the Map compare)
    assert(rows.length == 5, s"expected 5 admission rows, got ${rows.length}")
    val got = rows.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      9001L -> ("dup_corpus", 0L),  // vs the seeded corpus
      9002L -> ("new", 0L),         // admitted, joins the index
      9005L -> ("dup_batch", 0L),   // keep-first: 9002 < 9005, same batch
      9103L -> ("dup_corpus", 1L),  // vs 9002 — proof the index grew
      9104L -> ("new", 1L)))
  }

  test("a resident near-dup with a HIGHER doc_id still makes a batch doc dup_corpus") {
    // DocStream has no monotone-id contract: the index can hold ids above
    // a batch's, and the resident side of the band probe must not filter
    // on id order (only the within-batch side is keep-first)
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("doc-admit-higher-id")
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    val tokens = (1 to 40).map(i => s"w$i")
    graft.streaming.DocStream.seedIndex(
      Seq((500L, tokens.mkString(" "))).toDF("doc_id", "text"), indexDir)
    // J = 37/39 against the resident doc 500
    val near = (tokens.dropRight(1) :+ "zz").mkString(" ")
    graft.streaming.DocStream.admitBatch(
      Seq((7L, near)).toDF("doc_id", "text"), indexDir, outDir, batchId = 0L)
    val got = spark.read.parquet(s"$outDir/admissions")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("status")).toMap
    assert(got == Map(7L -> "dup_corpus"), s"got $got")
  }

  test("quality-gated admission: low scorers recorded, never classified, never indexed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("doc-admit-gate")
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    val textA = "purple monkeys deliver seventeen umbrellas to the northern lighthouse keeper"
    val textB = "quantum turbines hum beneath the ancient observatory during winter storms"
    graft.streaming.DocStream.seedIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), indexDir)
    // pick a threshold that splits the two docs by their REAL model
    // scores (deterministic) — no magic constants to go stale
    val scores = graft.ops.TextOps.modelScoresOf(
        Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (lowId, highId) = if (scores(1L) < scores(2L)) (1L, 2L) else (2L, 1L)
    val lowText = if (lowId == 1L) textA else textB
    spark.conf.set(graft.streaming.DocStream.MinScoreConfKey,
      scores(lowId).toString) // gate at the low doc's own score (<=)
    try {
      graft.streaming.DocStream.admitBatch(
        Seq((1L, textA), (2L, textB)).toDF("doc_id", "text"),
        indexDir, outDir, batchId = 0L)
      val got = spark.read.parquet(s"$outDir/admissions")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(lowId -> "low_quality", highId -> "new"), s"got $got")
      // the rejected doc must NOT be in the index: an identical copy in
      // a later batch (gate off) classifies `new`, not `dup_corpus`
      spark.conf.unset(graft.streaming.DocStream.MinScoreConfKey)
      graft.streaming.DocStream.admitBatch(
        Seq((10L, lowText)).toDF("doc_id", "text"), indexDir, outDir, batchId = 1L)
      val later = spark.read.parquet(s"$outDir/admissions")
        .filter(col("batch_id") === 1L)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(later == Map(10L -> "new"), s"rejected doc leaked into the index: $later")
    } finally spark.conf.unset(graft.streaming.DocStream.MinScoreConfKey)
  }

  test("admission replay with the same batch_id is idempotent") {
    // foreachBatch is at-least-once: a crash after the writes but before
    // the checkpoint commit re-delivers the SAME batchId. Drive
    // admitBatch twice with one batchId and assert the on-disk state is
    // byte-for-byte the same outcome — same verdicts (the admitted doc
    // must NOT classify itself dup_corpus on replay), same row counts in
    // admissions, index shingles, and index bands.
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("doc-admit-replay")
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    val corpusText = "the quick brown fox jumps over the lazy dog again and again"
    val freshA = "purple monkeys deliver seventeen umbrellas to the northern lighthouse keeper"
    graft.streaming.DocStream.seedIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), indexDir)

    val batch = Seq((9001L, corpusText), (9002L, freshA), (9005L, freshA))
      .toDF("doc_id", "text")
    def counts() = (
      spark.read.parquet(s"$outDir/admissions").count(),
      spark.read.parquet(s"$indexDir/shingles").count(),
      spark.read.parquet(s"$indexDir/bands").count())
    def verdicts() = spark.read.parquet(s"$outDir/admissions")
      .select(col("doc_id"), col("status"), col("batch_id").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    graft.streaming.DocStream.admitBatch(batch, indexDir, outDir, batchId = 0L)
    val (first, firstVerdicts) = (counts(), verdicts())
    graft.streaming.DocStream.admitBatch(batch, indexDir, outDir, batchId = 0L)
    assert(counts() == first,
      s"replay changed on-disk row counts: $first -> ${counts()}")
    assert(verdicts() == firstVerdicts && firstVerdicts == Map(
      9001L -> ("dup_corpus", 0L),
      9002L -> ("new", 0L),       // still new on replay — no self-dup
      9005L -> ("dup_batch", 0L)))
    // and the next batch still dedups against the grown (not doubled) index
    graft.streaming.DocStream.admitBatch(
      Seq((9103L, freshA)).toDF("doc_id", "text"), indexDir, outDir, batchId = 1L)
    assert(verdicts()(9103L) == ("dup_corpus", 1L))
  }

  test("streaming KLL quantiles track the exact stream quantiles across batches") {
    // two micro-batches of uniform values per type: after the second
    // batch, the estimates must reflect the WHOLE stream (state carried),
    // with rank error within the sketch's pinned bound
    import spark.implicits._
    val rnd = new scala.util.Random(88)
    val dir = java.nio.file.Files.createTempDirectory("events-kll")
    val perFile = 2000
    def rows(file: Int): Seq[(Long, Long, Long, String, Double, String)] =
      (0 until 2).flatMap { t =>
        // file 0: values 0..1999; file 1: values 2000..3999 — so the
        // full-stream median (~2000) is visible only if state carries
        (0 until perFile).map { i =>
          (file * 100000L + t * 10000L + i, 1700000000000000000L + i * 1000000L,
            i.toLong % 50, s"type$t", (file * perFile + i).toDouble, "{}")
        }
      }
    Seq(0, 1).foreach { f =>
      rnd.shuffle(rows(f)).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    val q = EventStream.streamingQuantiles(spark, dir.toString,
        k = 200, percentiles = Seq(50, 90), maxFilesPerTrigger = 1)
      .writeStream
      .format("memory")
      .queryName("stream_kll")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val emitted = spark.table("stream_kll").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
    // 2 types x 2 percentiles x 2 batches
    assert(emitted.length == 8, s"expected 8 emissions, got ${emitted.length}")
    val n = 2L * perFile // full stream per type
    Seq("type0", "type1").foreach { t =>
      Seq(50, 90).foreach { p =>
        val est = emitted.filter(e => e._1 == t && e._2 == p).last._3
        val trueVal = ((n - 1) * p / 100).toDouble // values ARE ranks here
        val err = math.abs(est - trueVal) / n
        assert(err <= 0.05,
          f"$t p$p: rank error $err%.3f (est $est, true $trueVal) — state lost across batches?")
      }
    }
  }

  test("streaming session windows == batch session windows") {
    val q = EventStream.sessionCounts(spark, streamDir)
      .writeStream
      .format("memory")
      .queryName("stream_sessions")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_sessions")
      .orderBy("user_id", "sess_start")
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sf)
      .groupBy(session_window(col("event_ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"), col("n_events"))
      .orderBy("user_id", "sess_start")
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming CMS counters are batch-split-invariant and equal the batch fold") {
    // the merge-tree-independence claim AS a streaming property: the
    // same item stream through 1-file-per-trigger and 2-files-per-trigger
    // runs must end in BYTE-IDENTICAL counter arrays, equal to a plain
    // batch fold of all items — nothing else in the streaming sketch
    // family (MG shrinks, KLL compacts) can promise that
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val d = 4; val w = 512
    val dir = java.nio.file.Files.createTempDirectory("events-cms")
    def rows(file: Int): Seq[(Long, Long, Long, String, Double, String)] =
      rnd.shuffle((0 until 800).map(i => s"item${rnd.nextInt(120)}")).zipWithIndex.map {
        case (item, i) =>
          (file * 100000L + i, 1700000000000000000L + i * 1000000L,
            i.toLong % 50, "type0", 0.0, s"""{"k": "$item"}""")
      }
    val allItems = scala.collection.mutable.ArrayBuffer[String]()
    Seq(0, 1).foreach { f =>
      val rs = rows(f)
      allItems ++= rs.map(r => r._6.split('"')(3))
      rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    def lastCounters(filesPerTrigger: Int, qn: String): Seq[Long] = {
      val q = EventStream.streamingCmsCounts(spark, dir.toString,
          d, w, maxFilesPerTrigger = filesPerTrigger)
        .writeStream.format("memory").queryName(qn)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.table(qn).collect().last.getSeq[Long](1)
    }
    val split1 = lastCounters(1, "stream_cms1")
    val split2 = lastCounters(2, "stream_cms2")
    assert(split1 == split2, "counters depended on the trigger split")
    val cms = new graft.ops.SketchOps.CountMin(d, w)
    val batchFold = allItems.foldLeft(cms.zero)(cms.reduce).toSeq
    assert(split1 == batchFold, "streaming counters diverged from the batch fold")
    // and the q89 guarantee carries: a known item's estimate never undercounts
    val exact = allItems.count(_ == "item7").toLong
    val est = graft.ops.SketchOps.CountMin.estimate(split1.toArray, d, w, "item7")
    assert(est >= exact)
  }

  test("streaming HLL and KMV states are split-invariant and equal the batch fold") {
    // the remaining two merge-tree-independent sketches get the CMS
    // treatment: any trigger split must land on the identical state,
    // equal to a one-shot batch fold of the same ids — so with CMS this
    // completes 'every sketch tier has a streaming twin with the
    // strongest equivalence its structure allows' (MG/KLL carry their
    // guarantee-level equivalence instead; their content is tree-shaped)
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val dir = java.nio.file.Files.createTempDirectory("events-hllkmv")
    val ids = scala.collection.mutable.ArrayBuffer[String]()
    Seq(0, 1).foreach { f =>
      val rows = (0 until 700).map { i =>
        val uid = rnd.nextInt(400).toLong
        ids += uid.toString
        (f * 100000L + i, 1700000000000000000L + i * 1000000L,
          uid, "type0", 0.0, "{}")
      }
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    def lastRow(df: org.apache.spark.sql.DataFrame, qn: String): org.apache.spark.sql.Row = {
      val q = df.writeStream.format("memory").queryName(qn)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      spark.table(qn).collect().last
    }
    val hll = new graft.ops.SketchOps.HyperLogLog(12)
    val est1 = lastRow(EventStream.streamingDistinct(spark, dir.toString, 12, 1), "s_hll1").getLong(1)
    val est2 = lastRow(EventStream.streamingDistinct(spark, dir.toString, 12, 2), "s_hll2").getLong(1)
    val batchEst = hll.finish(ids.foldLeft(hll.zero)(hll.reduce))
    assert(est1 == est2 && est1 == batchEst,
      s"HLL streaming estimate depended on the split: $est1 / $est2 / $batchEst")

    val kmv = new graft.ops.SketchOps.KMinValues(64)
    val sk1 = lastRow(EventStream.streamingKmv(spark, dir.toString, 64, 1), "s_kmv1").getSeq[Long](1)
    val sk2 = lastRow(EventStream.streamingKmv(spark, dir.toString, 64, 2), "s_kmv2").getSeq[Long](1)
    val batchSk = ids.foldLeft(kmv.zero)(kmv.reduce)
    assert(sk1 == sk2 && sk1 == batchSk, "KMV streaming state depended on the split")
  }

  test("streaming funnel state equals the batch funnel under in-order delivery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-funnel")
    val base = 1700000000000000000L
    def ns(sec: Long): Long = base + sec * 1000000000L
    // u1 converts ACROSS the batch boundary (view+click in file 0,
    // purchase in file 1); u2 converts wholly in file 1; u3's clicks
    // precede its view (never reaches step 2); u4's purchase lands
    // between view and click (steps 1-2 only); in-batch rows are written
    // SHUFFLED — the fold must sort them
    val f0 = Seq(
      (1L, ns(20), 1L, "click", 0.0, "{}"),
      (2L, ns(10), 1L, "view", 0.0, "{}"),
      (3L, ns(5), 3L, "click", 0.0, "{}"),
      (4L, ns(10), 3L, "view", 0.0, "{}"),
      (5L, ns(10), 4L, "view", 0.0, "{}"))
    val f1 = Seq(
      (6L, ns(30), 1L, "purchase", 0.0, "{}"),
      (7L, ns(40), 2L, "view", 0.0, "{}"),
      (8L, ns(50), 2L, "click", 0.0, "{}"),
      (9L, ns(60), 2L, "purchase", 0.0, "{}"),
      (10L, ns(15), 4L, "purchase", 0.0, "{}"),
      (11L, ns(20), 4L, "click", 0.0, "{}"))
    Seq(0 -> f0, 1 -> f1).foreach { case (f, rs) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    val q = EventStream.streamingFunnel(spark, dir.toString,
        Seq("view", "click", "purchase"), maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("stream_funnel")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val finalState = spark.table("stream_funnel").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .groupBy(_._1).map { case (u, rows) => u -> rows.last._2 }
    def us(sec: Long): Long = (ns(sec)) / 1000L
    assert(finalState(1L) == Seq(us(10), us(20), us(30)),
      "cross-batch conversion lost — state not carried")
    assert(finalState(2L) == Seq(us(40), us(50), us(60)))
    assert(finalState(3L) == Seq(us(10)), "pre-view click wrongly counted")
    assert(finalState(4L) == Seq(us(10), us(20)), "purchase-before-click wrongly counted")
    // the per-step rollup over final states == the batch q88 counts
    val batchCounts = graft.ops.FunnelOps.funnel(
        (f0 ++ f1).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
          .select(col("user_id"), col("event_type"),
            org.apache.spark.sql.functions.expr("ts div 1000").as("ts_us")),
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val streamCounts = (1 to 3).map(k =>
      k -> finalState.values.count(_.length >= k).toLong).toMap
    assert(streamCounts == batchCounts,
      s"stream $streamCounts != batch $batchCounts")
  }

  test("streaming SCD2 closed intervals equal the batch history under in-order delivery") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-scd2")
    val base = 1700000000000000000L
    def ns(sec: Long): Long = base + sec * 1000000000L
    def ev(id: Long, sec: Long, uid: Long, item: String): (Long, Long, Long, String, Double, String) =
      (id, ns(sec), uid, "view", 0.0, if (item == null) "{}" else s"""{"k": $item}""")
    // u1: run continues ACROSS the batch boundary (7,7 | 7,8) — the
    // change in file 1 must close the interval opened in file 0;
    // u2: whole history in file 1, with a NULL gap inside a run;
    // u3: never changes — no closed interval ever; in-batch rows shuffled
    val f0 = Seq(ev(2, 20, 1, "7"), ev(1, 10, 1, "7"), ev(3, 10, 3, "5"))
    val f1 = Seq(ev(4, 30, 1, "8"), ev(5, 40, 2, "6"), ev(6, 50, 2, null),
      ev(7, 60, 2, "6"), ev(8, 70, 2, "9"), ev(9, 80, 3, "5"))
    Seq(0 -> f0, 1 -> f1).foreach { case (f, rs) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    val q = EventStream.streamingScd2(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("stream_scd2")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_scd2").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    def us(sec: Long): Long = ns(sec) / 1000L
    assert(streamed == Set(
      (1L, 7L, us(10), us(30), 1L), // closed ACROSS the boundary
      (2L, 6L, us(40), us(70), 1L)), // NULL gap did not split the run
      s"unexpected closed intervals: $streamed")
    // == the batch op's closed (non-NULL valid_to) rows
    val all = (f0 ++ f1).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        get_json_object(col("props"), "$.k").cast("long").as("item"))
    val batchClosed = graft.ops.ScdOps.history(all, "user_id", "us", "event_id", "item")
      .filter(col("valid_to").isNotNull).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(streamed == batchClosed, s"stream $streamed != batch $batchClosed")
  }

  test("streaming transition pairs equal the batch lag pairs under a 2-file split") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-trans")
    val base = 1700000000000000000L
    def ns(sec: Long): Long = base + sec * 1000000000L
    def ev(id: Long, sec: Long, uid: Long, typ: String) =
      (id, ns(sec), uid, typ, 0.0, "{}")
    // u1's pair SPANS the boundary (click in f0 -> view in f1); u2 is
    // wholly in f1; u3 has a single event — no pair ever; same-second
    // rows (u2 at sec 40) must break ties by event_id; u4's
    // same-second SMALLER-id sibling arrives in the LATER batch (the
    // state must merge into the order, not act as blanket predecessor);
    // in-batch rows written shuffled — the fold must sort
    val f0 = Seq(ev(2, 20, 1, "click"), ev(1, 10, 1, "view"), ev(3, 5, 3, "error"),
      ev(8, 40, 4, "purchase"))
    val f1 = Seq(ev(6, 40, 2, "purchase"), ev(5, 40, 2, "view"),
      ev(4, 30, 1, "view"), ev(7, 40, 4, "view"))
    Seq(0 -> f0, 1 -> f1).foreach { case (f, rs) =>
      rs.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(s"$dir/f$f")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/f$f"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/b$f.parquet"))
    }
    val q = EventStream.streamingTransitions(spark, dir.toString, maxFilesPerTrigger = 1)
      .writeStream.format("memory").queryName("stream_trans")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("stream_trans").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
    // == the batch op's lag-derived pairs over the union of both files
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val batchPairs = (f0 ++ f1)
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("us"),
        col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(4), r.getString(3))).toSeq.sorted
    assert(streamed == batchPairs, s"stream $streamed != batch $batchPairs")
    assert(streamed.contains((1L, "click", "view")),
      "boundary-spanning pair lost — state not carried across batches")
    assert(streamed.contains((2L, "view", "purchase")),
      "same-timestamp pair ordered wrong — event_id tiebreak broken")
    assert(streamed.contains((4L, "view", "purchase")),
      "cross-batch same-timestamp sibling paired in arrival order, not (ts, event_id) order")
  }
}
