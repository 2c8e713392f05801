package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantic admission ([[graft.streaming.VecStream]]): the
  * embedding-tier twin of DocStream's minhash admission loop. Pins the
  * three verdict classes, cross-batch index growth (keep-first), the
  * exactly-once resume across invocations, and replay idempotence of
  * `admitBatch` under foreachBatch's at-least-once delivery.
  */
class VecStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  /** 64-dim float vector with the given (index, weight) components. */
  private def v(mix: (Int, Double)*): Seq[Float] = {
    val a = Array.fill(64)(0f)
    mix.foreach { case (i, w) => a(i) = w.toFloat }
    a.toSeq
  }

  test("streaming semantic admission dedups against a growing resident index") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vec-admit")
    val (streamDir, indexDir, outDir) =
      (s"$root/stream", s"$root/index", s"$root/out")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamDir))

    // vec 0 is both the single frozen centroid (0 % 50 == 0) and the
    // seeded resident — everything lands in its one cell
    graft.streaming.VecStream.seedIndex(
      Seq((0L, v(0 -> 1.0))).toDF("vec_id", "embedding"), indexDir)

    def runBatch(file: String, rows: Seq[(Long, Seq[Float])]): Unit = {
      rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(s"$root/$file")
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(s"$root/$file"))
        .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(s"$streamDir/$file.parquet"))
      val q = graft.streaming.VecStream.start(spark, streamDir, indexDir, outDir,
        maxFilesPerTrigger = 10)
      q.awaitTermination(120000)
    }

    // batch 0: a corpus near-dup (cos ~0.999 vs seed), a fresh direction,
    // and a within-batch near-dup of it (cos ~0.994, orthogonal to seed)
    runBatch("b0", Seq(
      (9001L, v(0 -> 0.95, 1 -> 0.05)),
      (9002L, v(1 -> 1.0)),
      (9005L, v(1 -> 0.9, 2 -> 0.1))))
    // batch 1: a near-dup of the batch-0 ADMITTED vector (the index must
    // have grown for dup_corpus), plus a direction nothing admitted spans
    runBatch("b1", Seq(
      (9103L, v(1 -> 0.85, 2 -> 0.15)),
      (9104L, v(2 -> 1.0))))

    val rows = spark.read.parquet(s"$outDir/admissions")
      .select(col("vec_id"), col("status"), col("batch_id").cast("long"))
      .collect()
    // exactly-once: the second invocation must NOT reprocess batch 0
    assert(rows.length == 5, s"expected 5 admission rows, got ${rows.length}")
    val got = rows.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got == Map(
      9001L -> ("dup_corpus", 0L), // vs the seeded corpus
      9002L -> ("new", 0L),        // admitted, joins the index
      9005L -> ("dup_batch", 0L),  // keep-first: 9002 < 9005, same batch
      9103L -> ("dup_corpus", 1L), // vs 9002 — proof the index grew
      9104L -> ("new", 1L)))       // 9005 was NOT indexed (dup_batch)
  }

  test("semantic admission replay with the same batch_id is idempotent") {
    // foreachBatch is at-least-once: drive admitBatch twice with one
    // batchId and assert the on-disk outcome is the same — verdicts
    // unchanged (no self-dup on replay), admissions and index row
    // counts unchanged
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vec-admit-replay")
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    graft.streaming.VecStream.seedIndex(
      Seq((0L, v(0 -> 1.0))).toDF("vec_id", "embedding"), indexDir)

    val batch = Seq(
      (9001L, v(0 -> 0.95, 1 -> 0.05)),
      (9002L, v(1 -> 1.0)),
      (9005L, v(1 -> 0.9, 2 -> 0.1)))
      .toDF("vec_id", "embedding")
    def counts() = (
      spark.read.parquet(s"$outDir/admissions").count(),
      spark.read.parquet(s"$indexDir/vectors").count())
    def verdicts() = spark.read.parquet(s"$outDir/admissions")
      .select(col("vec_id"), col("status"), col("batch_id").cast("long"))
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    graft.streaming.VecStream.admitBatch(batch, indexDir, outDir, batchId = 0L)
    val (first, firstVerdicts) = (counts(), verdicts())
    graft.streaming.VecStream.admitBatch(batch, indexDir, outDir, batchId = 0L)
    assert(counts() == first,
      s"replay changed on-disk row counts: $first -> ${counts()}")
    assert(verdicts() == firstVerdicts && firstVerdicts == Map(
      9001L -> ("dup_corpus", 0L),
      9002L -> ("new", 0L),       // still new on replay — no self-dup
      9005L -> ("dup_batch", 0L)))
    // the next batch still dedups against the grown (not doubled) index
    graft.streaming.VecStream.admitBatch(
      Seq((9103L, v(1 -> 0.85, 2 -> 0.15))).toDF("vec_id", "embedding"),
      indexDir, outDir, batchId = 1L)
    assert(verdicts()(9103L) == ("dup_corpus", 1L))
  }

  test("null embeddings are admitted new but never indexed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("vec-admit-null")
    val (indexDir, outDir) = (s"$root/index", s"$root/out")
    graft.streaming.VecStream.seedIndex(
      Seq((0L, v(0 -> 1.0))).toDF("vec_id", "embedding"), indexDir)
    graft.streaming.VecStream.admitBatch(
      Seq((9001L, Option.empty[Seq[Float]]), (9002L, Some(v(1 -> 1.0))))
        .toDF("vec_id", "embedding"),
      indexDir, outDir, batchId = 0L)
    val got = spark.read.parquet(s"$outDir/admissions")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(9001L -> "new", 9002L -> "new"))
    // only 9002 (and the seed) are resident
    assert(spark.read.parquet(s"$indexDir/vectors")
      .select("id").collect().map(_.getLong(0)).toSet == Set(0L, 9002L))
  }
}
