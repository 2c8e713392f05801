package graft

import graft.ops.RangeOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The binned interval join must be pair-for-pair identical to the naive
  * band join — including rows sitting exactly on band and bucket
  * boundaries, where a rounded bucket computation would drop or double
  * matches.
  */
class RangeOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("binned interval join == naive band join on the events corpus") {
    val ev = Tables.events(spark, sf)
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("event_ts").as("view_ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("event_ts").as("click_ts"))
    val upper = 30L * 60 * 1000000L
    val binned = RangeOps.intervalJoin(views, clicks,
      "v_user", "c_user", "view_ts", "click_ts", 0L, upper)
    val naive = views.join(clicks,
      col("v_user") === col("c_user") &&
        unix_micros(col("click_ts")) >= unix_micros(col("view_ts")) &&
        unix_micros(col("click_ts")) <= unix_micros(col("view_ts")) + upper)
    assert(pairs(binned) == pairs(naive))
    assert(pairs(binned).nonEmpty, "no matches — corpus not exercising the join")
  }

  test("band and bucket boundaries: inclusive edges match, just-outside rows do not") {
    import spark.implicits._
    val w = 1000000L // 1s band
    // left at t=5s: band [5s, 6s]. rights at exactly 5s (inclusive lower),
    // exactly 6s (inclusive upper = a BUCKET boundary), 6s+1us (out),
    // 4s+999999us (out), different key at 5.5s (out by key)
    val views = Seq((1L, 10L, 5000000L)).toDF("v_user", "view_id", "vus")
      .select(col("v_user"), col("view_id"), expr("timestamp_micros(vus)").as("view_ts"))
    val clicks = Seq(
      (1L, 20L, 5000000L), (1L, 21L, 6000000L), (1L, 22L, 6000001L),
      (1L, 23L, 4999999L), (2L, 24L, 5500000L))
      .toDF("c_user", "click_id", "cus")
      .select(col("c_user"), col("click_id"), expr("timestamp_micros(cus)").as("click_ts"))
    val got = pairs(RangeOps.intervalJoin(views, clicks,
      "v_user", "c_user", "view_ts", "click_ts", 0L, w))
    assert(got == Set((10L, 20L), (10L, 21L)))
  }

  test("bucket math stays exact past 2^53 microseconds (double-division trap)") {
    import spark.implicits._
    // ~year 2255: k*width exceeds double precision, so a double-based
    // floor division can land rows one bucket off and silently drop
    // in-band matches; the integral `div` must not
    val base = (1L << 53) + 123456789L
    val w = 1000000L
    val views = Seq((1L, 10L, base)).toDF("v_user", "view_id", "vus")
      .select(col("v_user"), col("view_id"), expr("timestamp_micros(vus)").as("view_ts"))
    val clicks = Seq((1L, 20L, base), (1L, 21L, base + w), (1L, 22L, base + w + 1))
      .toDF("c_user", "click_id", "cus")
      .select(col("c_user"), col("click_id"), expr("timestamp_micros(cus)").as("click_ts"))
    val got = pairs(RangeOps.intervalJoin(views, clicks,
      "v_user", "c_user", "view_ts", "click_ts", 0L, w))
    assert(got == Set((10L, 20L), (10L, 21L)))
  }

  test("randomized: binned == naive across random keys/timestamps/bands (seeded)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    // clustered timestamps so bands actually overlap rows
    def rows(n: Int) = (0 until n).map { i =>
      (rnd.nextInt(5).toLong, i.toLong, rnd.nextLong(120L) * 250000L + rnd.nextLong(7L))
    }
    val views = rows(120).toDF("v_user", "view_id", "vus")
      .select(col("v_user"), col("view_id"), expr("timestamp_micros(vus)").as("view_ts"))
    val clicks = rows(120).toDF("c_user", "click_id", "cus")
      .select(col("c_user"), col("click_id"), expr("timestamp_micros(cus)").as("click_ts"))
    for ((lo, hi) <- Seq((0L, 1000000L), (-500000L, 500000L), (250000L, 250000L),
        (-3000000L, -1000000L))) {
      val binned = pairs(RangeOps.intervalJoin(views, clicks,
        "v_user", "c_user", "view_ts", "click_ts", lo, hi))
      val naive = pairs(views.join(clicks,
        col("v_user") === col("c_user") &&
          unix_micros(col("click_ts")) >= unix_micros(col("view_ts")) + lo &&
          unix_micros(col("click_ts")) <= unix_micros(col("view_ts")) + hi))
      assert(binned == naive, s"band [$lo, $hi] diverged")
    }
  }

  test("negative lower bound (band straddling the left timestamp)") {
    import spark.implicits._
    val views = Seq((1L, 10L, 5000000L)).toDF("v_user", "view_id", "vus")
      .select(col("v_user"), col("view_id"), expr("timestamp_micros(vus)").as("view_ts"))
    val clicks = Seq(
      (1L, 20L, 4000000L), (1L, 21L, 6000000L), (1L, 22L, 3999999L), (1L, 23L, 6000001L))
      .toDF("c_user", "click_id", "cus")
      .select(col("c_user"), col("click_id"), expr("timestamp_micros(cus)").as("click_ts"))
    val got = pairs(RangeOps.intervalJoin(views, clicks,
      "v_user", "c_user", "view_ts", "click_ts", -1000000L, 1000000L))
    assert(got == Set((10L, 20L), (10L, 21L)))
  }

  private def overlapPairs(
      ls: Seq[(Long, Long, Long)], rs: Seq[(Long, Long, Long)],
      width: Long): Seq[(Long, Long)] = {
    import spark.implicits._
    RangeOps.overlapJoin(
        ls.toDF("lid", "lst", "len_"), rs.toDF("rid", "rst", "ren"),
        "lst", "len_", "rst", "ren", width)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("overlap join: intersecting, touching, and disjoint intervals") {
    val ls = Seq((1L, 100L, 200L), (2L, 500L, 600L))
    val rs = Seq(
      (10L, 150L, 250L), // overlaps 1
      (11L, 200L, 300L), // touches 1's right edge — closed intervals match
      (12L, 201L, 300L), // disjoint from 1
      (13L, 400L, 500L), // touches 2's left edge
      (14L, 601L, 700L)) // disjoint from 2
    assert(overlapPairs(ls, rs, 50L).toSet ==
      Set((1L, 10L), (1L, 11L), (2L, 13L)))
  }

  test("overlap join: one survivor per pair even across many shared buckets") {
    // two long intervals sharing 10 buckets at width 10 — ownership must
    // keep exactly ONE copy of the pair
    val got = overlapPairs(Seq((1L, 0L, 100L)), Seq((9L, 50L, 150L)), 10L)
    assert(got == Seq((1L, 9L)), s"got $got")
    // and the answer is width-invariant
    for (w <- Seq(1L, 7L, 100L, 1000L))
      assert(overlapPairs(Seq((1L, 0L, 100L)), Seq((9L, 50L, 150L)), w).size == 1,
        s"width $w duplicated or dropped the pair")
  }

  test("overlap join matches the naive range join on random intervals") {
    val rnd = new scala.util.Random(71)
    def mk(n: Int, idBase: Long) = (0 until n).map { i =>
      val s = rnd.nextInt(10000).toLong
      (idBase + i, s, s + 1 + rnd.nextInt(500))
    }
    val ls = mk(150, 0); val rs = mk(150, 1000)
    val naive = (for {
      (li, lst, len) <- ls; (ri, rst, ren) <- rs
      if lst <= ren && rst <= len
    } yield (li, ri)).toSet
    for (w <- Seq(100L, 251L, 5000L)) {
      val got = overlapPairs(ls, rs, w)
      assert(got.size == got.toSet.size, s"width $w emitted duplicates")
      assert(got.toSet == naive, s"width $w diverged from naive")
    }
  }

  test("overlap join: inverted intervals are dropped, never matched") {
    // [100, 50] is empty as an interval — without the guard, sequence()
    // would emit a descending bucket list and the band conjuncts can
    // still hold, shipping a garbage match silently
    assert(overlapPairs(Seq((1L, 100L, 50L)), Seq((9L, 40L, 120L)), 10L).isEmpty)
    assert(overlapPairs(Seq((1L, 40L, 120L)), Seq((9L, 100L, 50L)), 10L).isEmpty)
    // well-formed rows alongside a malformed one still match
    assert(overlapPairs(Seq((1L, 100L, 50L), (2L, 60L, 80L)),
      Seq((9L, 40L, 120L)), 10L) == Seq((2L, 9L)))
  }

  test("overlap join: extraCond prunes inside the join") {
    import spark.implicits._
    val df = Seq((1L, 0L, 100L), (2L, 50L, 150L)).toDF("lid", "lst", "len_")
    val other = Seq((1L, 0L, 100L), (2L, 50L, 150L)).toDF("rid", "rst", "ren")
    val got = RangeOps.overlapJoin(df, other, "lst", "len_", "rst", "ren", 50L,
        extraCond = org.apache.spark.sql.functions.col("lid") <
          org.apache.spark.sql.functions.col("rid"))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)))
  }
}
