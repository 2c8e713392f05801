package graft

import graft.streaming.IndexLayout
import org.apache.spark.ListenerEvents
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The admission transaction's shared steps ([[IndexLayout]]): the
  * verdict commit grades every batch id exactly once by flag precedence
  * whatever the flags repeat, and the probe bucket set is the distinct
  * bucket set, computed in one job. */
class IndexLayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

  private def verdicts(dir: String, batchId: Long): Seq[(Long, String)] =
    spark.read.parquet(s"$dir/batch_id=$batchId").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)

  test("commitVerdicts: one verdict per batch id, the first flag in precedence wins") {
    import spark.implicits._
    val dir = tmp("verdicts")
    val ids = (1L to 6L).toDF("id")
    // repeats within a flag, an id in both flags, a flagged id outside
    // the batch
    val a = Seq(2L, 2L, 3L, 99L).toDF("id")
    val b = Seq(3L, 4L, 4L, 2L, 4L).toDF("id")
    val admitted = IndexLayout.commitVerdicts(ids, Seq("a" -> a, "b" -> b), dir, 7L)
    val expected = Seq(1L -> "new", 2L -> "a", 3L -> "a", 4L -> "b",
      5L -> "new", 6L -> "new")
    assert(verdicts(dir, 7L) == expected)
    assert(admitted.as[Long].collect().sorted.toSeq == Seq(1L, 5L, 6L))
    // the precedence is the list order, not the relation's contents
    IndexLayout.commitVerdicts(ids, Seq("b" -> b, "a" -> a), dir, 7L)
    assert(verdicts(dir, 7L) == Seq(1L -> "new", 2L -> "b", 3L -> "b",
      4L -> "b", 5L -> "new", 6L -> "new"), "a replay replaces its own leaf")
  }

  test("commitVerdicts: no flags, or empty flags, admit the whole batch") {
    import spark.implicits._
    val dir = tmp("verdicts-empty")
    val ids = Seq(5L, 3L, 8L).toDF("media_id")
    IndexLayout.commitVerdicts(ids, Nil, dir, 0L)
    assert(verdicts(dir, 0L) == Seq(3L -> "new", 5L -> "new", 8L -> "new"))
    val none = spark.emptyDataset[Long].toDF("media_id")
    val admitted = IndexLayout.commitVerdicts(ids, Seq("dup" -> none), dir, 1L)
    assert(verdicts(dir, 1L) == Seq(3L -> "new", 5L -> "new", 8L -> "new"))
    assert(admitted.count() == 3L)
  }

  test("probeBuckets: the distinct bucket set of a multi-partition probe, in one job") {
    val probes = spark.range(0, 5000, 1, 8)
      .select((col("id") * 7 % 1000).as("band_hash"), col("id").as("doc_a"))
      .persist()
    try {
      probes.count()
      for ((rel, key) <- Seq("bands" -> null, "shingles" -> col("doc_a"))) {
        val old = probes.select(IndexLayout.bucketExpr(rel, 64, key).cast("int"))
          .distinct().collect().map(_.getInt(0)).toSet
        var got = Seq.empty[Int]
        val jobs = ListenerEvents.jobsDuring(spark.sparkContext) {
          got = IndexLayout.probeBuckets(probes, rel, 64, key)
        }
        assert(got.toSet == old, rel)
        assert(got.size == old.size, s"$rel: repeated buckets in $got")
        assert(jobs == 1, s"$rel: bucket set took $jobs jobs")
      }
    } finally probes.unpersist()
  }
}
