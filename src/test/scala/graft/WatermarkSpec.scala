package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Watermark late-data semantics, driven batch-by-batch: an event that
  * arrives after the watermark passed its window's end must be DROPPED,
  * and append mode must emit a window only once the watermark seals it.
  *
  * Batch boundaries are made deterministic by running the same
  * checkpointed query once per arriving file (`Trigger.AvailableNow`
  * resumes from the checkpoint, so each run is exactly one micro-batch
  * over the newly added file).
  */
class WatermarkSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private val Base = 1704103200000000000L // 2024-01-01 10:00:00 UTC, nanos

  /** The events table shape with `ts` as epoch-nanos BIGINT. */
  private val EventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def nanos(minutesFromBase: Long): Long =
    Base + minutesFromBase * 60L * 1000000000L

  private def eventsDf(rows: Seq[(Long, Long)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (id, ts) => Row(id, ts, 1L, "view", 1.0, """{"k": 1}""") }, 1),
      EventsSchema)

  test("append-mode tumbling window drops events later than the watermark") {
    val src = Files.createTempDirectory("wm-src")
    val out = Files.createTempDirectory("wm-out").toString
    val cp = Files.createTempDirectory("wm-cp").toString

    def runBatch(): Unit = {
      // each arriving batch is its own SUBDIRECTORY — the file source
      // does not recurse, so the path must glob into them
      val q = spark.readStream
        .schema(EventsSchema)
        .parquet(src.toString + "/*")
        .withColumn("event_ts", expr("timestamp_micros(ts div 1000)"))
        .withWatermark("event_ts", "30 minutes")
        .groupBy(window(col("event_ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").cast("string").as("win_start"), col("n_events"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q.recentProgress.foreach(p => info(
        s"batch ${p.batchId} rows ${p.numInputRows} wm ${p.eventTime.get("watermark")}"))
    }

    // batch 1: 5 events inside [10:00, 11:00) -> watermark becomes 10:23
    eventsDf((0L until 5L).map(i => (i, nanos(i * 12 + 5)))).write
      .parquet(src.resolve("a.parquet").toString)
    runBatch()
    // batch 2: one LATE event at 09:30 — its window's end (10:00) is
    // already behind the watermark, so it must be dropped — plus a fresh
    // 12:30 event that advances the watermark past 11:00
    eventsDf(Seq((100L, nanos(-30)), (101L, nanos(150)))).write
      .parquet(src.resolve("b.parquet").toString)
    runBatch()
    // batch 3: one more event so a batch runs with the advanced
    // watermark and emits the sealed [10:00, 11:00) window
    eventsDf(Seq((102L, nanos(180)))).write
      .parquet(src.resolve("c.parquet").toString)
    runBatch()

    val rows = spark.read.parquet(out)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exactly the sealed on-time window; had the 09:30 event survived,
    // a "2024-01-01 09:00:00" -> 1 row would also have been emitted by
    // batch 3 (its window end is far behind the final watermark)
    assert(rows == Map("2024-01-01 10:00:00" -> 5L))
  }
}
