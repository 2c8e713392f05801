package graft

import graft.streaming.IndexLayout
import org.apache.spark.ListenerEvents
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The admission transaction's shared steps ([[IndexLayout]]): the
  * verdict commit grades every batch id exactly once by flag precedence
  * whatever the flags repeat, and the probe bucket set is the distinct
  * bucket set, computed in one job. And the index's on-disk format,
  * which IndexLayout alone writes: every row in the bucket dir its
  * canonical expression assigns, the tail slice a crashed batch leaves
  * removable on its own, one bucket-count record per generation. */
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

  /** Rows of data columns for index relation `rel`, ids in [lo, hi). */
  private def rowsOf(rel: String, lo: Long, hi: Long): DataFrame = {
    val ids = spark.range(lo, hi, 1, 3)
    rel match {
      case "bands" => ids.select(col("id").as("doc_id"),
        (col("id") % 4).cast("int").as("band_idx"),
        (col("id") * 7919 % 100003).cast("int").as("band_hash"))
      case "shingles" => ids.select(col("id").as("doc_id"),
        array(col("id"), col("id") + 1).as("shingles"))
      case "vectors" => ids.select(col("id"),
        array(col("id").cast("float"), lit(1f)).as("vec"),
        (col("id") * col("id") + 1).cast("double").as("sq_norm"),
        (col("id") % 13).as("cell"))
      case "fingerprints" => ids.select(col("id").as("media_id"),
        (col("id") * 104729).as("phash"),
        (col("id") % 4).cast("int").as("band_idx"),
        (col("id") * 31 % 65536).as("band_bits"))
    }
  }

  private def withBuckets[T](nb: Int)(body: => T): T = {
    spark.conf.set(IndexLayout.BucketsConfKey, nb.toString)
    try body finally spark.conf.unset(IndexLayout.BucketsConfKey)
  }

  private def files(dir: String, ext: String = ".parquet"): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).filter(_.getName.endsWith(ext))
  }

  test("seed and writeSlice put every row in its bucketExpr bucket dir, at batch_id -1 and N") {
    for (rel <- Seq("bands", "shingles", "vectors", "fingerprints")) {
      val idx = tmp(s"layout-$rel")
      withBuckets(8)(IndexLayout.seed(spark, idx, Seq(rel -> rowsOf(rel, 0L, 200L))))
      val nb = IndexLayout.numBuckets(spark, idx)
      assert(nb == 8, rel)
      IndexLayout.writeSlice(rowsOf(rel, 1000L, 1050L), idx, rel, nb, 3L)
      val idCol = rowsOf(rel, 0L, 1L).columns.head
      val back = spark.read.parquet(IndexLayout.dataDir(spark, idx, rel))
      assert(back.count() == 250L, rel)
      val misplaced = back.filter(
        col("bucket") =!= IndexLayout.bucketExpr(rel, nb).cast("int") ||
          col("batch_id") =!= when(col(idCol) < 1000L, -1L).otherwise(3L))
      assert(misplaced.isEmpty, s"$rel: ${misplaced.collect().take(3).mkString("; ")}")
      // the seed is a fold write: one file per bucket dir
      val seedFiles = files(IndexLayout.dataDir(spark, idx, rel))
        .filter(_.getParentFile.getName == "batch_id=-1")
      assert(seedFiles.groupBy(_.getParentFile.getParentFile).values.forall(_.size == 1),
        s"$rel: seed bucket dirs hold more than one file")
    }
  }

  test("dropTailSlice removes exactly one batch's tail leaf and an emptied tail dir") {
    val idx = tmp("layout-tail")
    IndexLayout.seed(spark, idx, Seq("bands" -> rowsOf("bands", 0L, 100L)))
    IndexLayout.appendTailSlice(rowsOf("bands", 100L, 110L), idx, "bands", 1L)
    IndexLayout.appendTailSlice(rowsOf("bands", 110L, 130L), idx, "bands", 2L)
    val root = IndexLayout.dataDir(spark, idx, "bands")
    val tail = new java.io.File(s"$root/bucket=${IndexLayout.TailBucket}")
    val buckets = new java.io.File(root).list().toSet
    def resident(): Long = IndexLayout.residentSlice(spark, idx, "bands", 10L,
      0 until IndexLayout.numBuckets(spark, idx)).count()
    assert(resident() == 130L)

    IndexLayout.dropTailSlice(spark, idx, "bands", 1L)
    assert(tail.list().toSeq == Seq("batch_id=2"))
    assert(resident() == 120L)
    // a batch that never wrote a slice drops nothing
    IndexLayout.dropTailSlice(spark, idx, "bands", 7L)
    assert(tail.list().toSeq == Seq("batch_id=2"))

    IndexLayout.dropTailSlice(spark, idx, "bands", 2L)
    assert(!tail.exists(), "an emptied tail dir would read as data")
    assert(new java.io.File(root).list().toSet ==
      buckets - s"bucket=${IndexLayout.TailBucket}", "a bucket dir went with the tail")
    assert(resident() == 100L)
  }

  test("numBuckets: one _nb.g<G> record, right after the seed and after a re-bucketing compact") {
    val idx = tmp("layout-nb")
    intercept[IllegalStateException](IndexLayout.numBuckets(spark, idx))
    withBuckets(8)(IndexLayout.seed(spark, idx, Seq("bands" -> rowsOf("bands", 0L, 300L))))
    assert(IndexLayout.numBuckets(spark, idx) == 8)
    IndexLayout.appendTailSlice(rowsOf("bands", 300L, 320L), idx, "bands", 0L)
    IndexLayout.compact(spark, idx, Seq("bands"), newBuckets = 16)
    assert(IndexLayout.gen(spark, idx) == 1L)
    assert(IndexLayout.numBuckets(spark, idx) == 16)
    assert(new java.io.File(idx).list().filter(_.startsWith("_")).sorted.toSeq ==
      Seq("_gen", "_nb.g1"), "bucket-count records besides the live generation's")
    val back = spark.read.parquet(IndexLayout.dataDir(spark, idx, "bands"))
    assert(back.count() == 320L)
    assert(back.filter(col("bucket") =!= IndexLayout.bucketExpr("bands", 16)).isEmpty)
    // an index that grows purely from appends records its count on first use
    val fresh = tmp("layout-nb-init")
    assert(IndexLayout.numBucketsOrInit(spark, fresh) == IndexLayout.DefaultBuckets)
    assert(IndexLayout.numBuckets(spark, fresh) == IndexLayout.DefaultBuckets)
  }
}
