package graft

import org.scalatest.funsuite.AnyFunSuite

/** Exact-substring dedup (q128's operator): repeated token spans ≥ k at
  * ARBITRARY alignment are removed corpus-wide keep-first — planted
  * overlaps pin the interval-union semantics chunk-aligned q57 cannot
  * express.
  */
class SubstringDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private def run(docs: Seq[(Long, String)], k: Int = 8): Map[Long, (Long, Long, Long, String)] = {
    import spark.implicits._
    graft.ops.DedupOps.exactSubstringDedup(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
  }

  test("cross-doc repeated span at unaligned offset is removed from the later doc only") {
    val out = run(Seq(
      1L -> "a b c d e f g h i j",
      2L -> "x y a b c d e f g h w z"))
    assert(out(1L) == ((10L, 0L, 0L, "a b c d e f g h i j"))) // first occurrence kept
    // doc 2 repeats tokens [2, 10) — one 8-gram start, offset 2 (not chunk-aligned)
    assert(out(2L) == ((12L, 1L, 8L, "x y w z")))
  }

  test("within-doc repeat removes the second occurrence") {
    val out = run(Seq(3L -> "p q r s t u v w 1 p q r s t u v w"))
    assert(out(3L) == ((17L, 1L, 8L, "p q r s t u v w 1")))
  }

  test("overlapping duplicated k-gram starts merge into one maximal span") {
    val out = run(Seq(
      1L -> "a b c d e f g h i j",
      4L -> "m n a b c d e f g h i j z"))
    // dup starts at 2, 3, 4 -> intervals [2,10) [3,11) [4,12) union to [2,12)
    assert(out(4L) == ((13L, 1L, 10L, "m n z")))
  }

  test("two disjoint repeated spans stay two spans") {
    val out = run(Seq(
      1L -> "a b c d e f g h",
      2L -> "s t u v w x y z",
      5L -> "a b c d e f g h GAP s t u v w x y z"))
    assert(out(5L) == ((17L, 2L, 16L, "GAP")))
  }

  test("fully-duplicated doc keeps an empty clean_text") {
    val out = run(Seq(
      1L -> "a b c d e f g h i j",
      6L -> "a b c d e f g h i j"))
    assert(out(6L) == ((10L, 1L, 10L, "")))
  }

  test("docs shorter than k and unique docs pass through untouched") {
    val out = run(Seq(
      7L -> "too short to gram",
      8L -> "entirely unique tokens one two three four five six"))
    assert(out(7L) == ((4L, 0L, 0L, "too short to gram")))
    assert(out(8L) == ((9L, 0L, 0L, "entirely unique tokens one two three four five six")))
  }

  test("keep-first is (id, pos)-lexicographic across three copies") {
    val out = run(Seq(
      10L -> "z z2 a b c d e f g h",
      11L -> "a b c d e f g h q r",
      12L -> "k a b c d e f g h w"))
    assert(out(10L)._4 == "z z2 a b c d e f g h") // lowest id wins even at higher pos
    assert(out(11L)._4 == "q r")
    assert(out(12L)._4 == "k w")
  }
}
