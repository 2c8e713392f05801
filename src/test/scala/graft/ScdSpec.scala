package graft

import graft.ops.ScdOps
import org.scalatest.funsuite.AnyFunSuite

/** [[ScdOps.history]] on constructed change streams — the constructed-data
  * twin of q94's oracle grade: run collapsing, half-open interval tiling,
  * NULL-gap semantics, tiebreak order, and per-key independence.
  */
class ScdSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private def hist(rows: Seq[(Long, Long, Long, java.lang.Long)]) = {
    import spark.implicits._
    ScdOps.history(rows.toDF("k", "ord", "tie", "v"), "k", "ord", "tie", "v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3), r.getLong(4)))
      .toSet
  }

  private def L(x: Long): java.lang.Long = Long.box(x)

  test("runs collapse to one interval each; intervals tile; last is open") {
    // key 1 observes A A B B A: three runs
    val got = hist(Seq(
      (1L, 10L, 0L, L(7)), (1L, 20L, 0L, L(7)), (1L, 30L, 0L, L(8)),
      (1L, 40L, 0L, L(8)), (1L, 50L, 0L, L(7))))
    assert(got == Set(
      (1L, 7L, 10L, L(30L), 1L),
      (1L, 8L, 30L, L(50L), 2L),
      (1L, 7L, 50L, null, 3L)))
  }

  test("NULL observations are gaps, not run splits") {
    // A NULL A is ONE run: missed polls don't fabricate a version
    val got = hist(Seq(
      (1L, 10L, 0L, L(7)), (1L, 20L, 0L, null), (1L, 30L, 0L, L(7)),
      (1L, 40L, 0L, L(9))))
    assert(got == Set((1L, 7L, 10L, L(40L), 1L), (1L, 9L, 40L, null, 2L)))
  }

  test("tiebreak column orders equal-ord observations") {
    // same ord, tie decides: v goes 5 then 6 -> two versions from ord 10
    val got = hist(Seq((1L, 10L, 1L, L(5)), (1L, 10L, 2L, L(6))))
    assert(got == Set((1L, 5L, 10L, L(10L), 1L), (1L, 6L, 10L, null, 2L)))
  }

  test("keys are independent and single-observation keys get one open version") {
    val got = hist(Seq(
      (1L, 10L, 0L, L(7)), (1L, 20L, 0L, L(8)),
      (2L, 15L, 0L, L(7))))
    assert(got == Set(
      (1L, 7L, 10L, L(20L), 1L), (1L, 8L, 20L, null, 2L),
      (2L, 7L, 15L, null, 1L)))
  }

  test("random streams match a naive per-key fold reference") {
    val rnd = new scala.util.Random(94)
    // 40 keys x ~50 observations, ~15% NULL gaps, values from a small
    // alphabet so runs actually form; ord unique per key by construction
    val rows = for {
      k <- 0L until 40L
      i <- 0 until (20 + rnd.nextInt(60))
    } yield (k, i.toLong * 10 + rnd.nextInt(10), 0L,
      if (rnd.nextInt(100) < 15) null else L(rnd.nextInt(4).toLong))
    val dedup = rows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, ord)
    val got = hist(dedup)
    // naive reference: per key, sort, drop nulls, run-length encode
    val expect = dedup.groupBy(_._1).flatMap { case (k, rs) =>
      val obs = rs.sortBy(_._2).collect { case (_, ord, _, v) if v != null => (ord, v.longValue) }
      val runs = obs.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (ord, v)) =>
        if (acc.nonEmpty && acc.last._2 == v) acc else acc :+ (ord, v)
      }
      runs.zipWithIndex.map { case ((ord, v), i) =>
        val to = if (i + 1 < runs.length) L(runs(i + 1)._1) else null
        (k, v, ord, to, i + 1L)
      }
    }.toSet
    assert(got == expect)
  }

  test("result is input-partitioning invariant") {
    import spark.implicits._
    val rows = (1L to 200L).map(i => (i % 5, i, 0L, L(i % 3)))
    val df1 = ScdOps.history(rows.toDF("k", "ord", "tie", "v").repartition(1),
      "k", "ord", "tie", "v")
    val df7 = ScdOps.history(rows.toDF("k", "ord", "tie", "v").repartition(7),
      "k", "ord", "tie", "v")
    assert(df1.collect().toSet == df7.collect().toSet)
  }
}
