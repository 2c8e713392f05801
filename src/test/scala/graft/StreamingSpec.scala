package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming semantics the pipeline relies on: a checkpointed
  * file stream resumes without reprocessing, and `DocStream` admission
  * dedups each micro-batch against a growing resident index, replay-safe.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

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
      val q = spark.readStream.schema(spark.read.parquet(dir.toString).schema)
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
}
