package graft

import graft.ops.DedupOps
import org.scalatest.funsuite.AnyFunSuite

/** The prefix-filter completeness theorem (DedupOps.prefixFilterCandidates)
  * exercised on adversarial randomized set families: EVERY pair at true
  * Jaccard >= θ must appear among the candidates — the filter is allowed
  * to over-generate (the exact verify pays for that) but never to drop a
  * true pair. Random sets over a SMALL element universe maximize
  * both high-overlap pairs and df ties (the order tiebreak path).
  */
class PrefixFilterSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(1114)

  /** Exact all-pairs Jaccard >= num/den reference, computed in Scala. */
  private def truePairs(sets: Seq[(Long, Set[Long])], num: Long, den: Long): Set[(Long, Long)] =
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size
      if den.toInt * inter >= num.toInt * (sa.size + sb.size - inter)
    } yield (ia, ib)).toSet

  private def candidates(sets: Seq[(Long, Set[Long])], num: Long, den: Long): Set[(Long, Long)] = {
    val df = sets.map { case (id, s) => (id, s.toArray.sorted) }
      .toDF("doc_id", "shingles")
    DedupOps.prefixFilterCandidates(df, "doc_id", "shingles", num, den)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("candidates contain every true pair at θ=4/5 (clustered corpus, 60 docs)") {
    // clusters of near-identical sets: each cluster is one base set with
    // 0-2 random element swaps — true pairs concentrate inside clusters
    val universe = 40L
    val bases = (0 until 15).map(_ => (0 until 20).map(_ => rnd.nextLong(universe)).toSet)
    val sets = (0 until 60).map { i =>
      val base = bases(i % 15)
      val mutated = base -- base.take(rnd.nextInt(3)) ++ Set.fill(rnd.nextInt(3))(rnd.nextLong(universe))
      (i.toLong, if (mutated.isEmpty) Set(0L) else mutated)
    }
    val truth = truePairs(sets, 4, 5)
    val cand = candidates(sets, 4, 5)
    assert(truth.nonEmpty, "degenerate sample: no true pairs to protect")
    val missed = truth -- cand
    assert(missed.isEmpty, s"prefix filter dropped true pairs: $missed")
  }

  test("candidates contain every true pair at θ=1/2 (identical-set and subset edges)") {
    // planted edges: exact duplicates (J=1), 50% subsets (J=1/2 boundary),
    // singleton sets (prefix = whole set)
    val a = (1L to 10L).toSet
    val sets: Seq[(Long, Set[Long])] = Seq(
      0L -> a, 1L -> a,                       // duplicate pair
      2L -> (1L to 5L).toSet,                 // J(2,0) = 5/10 = 1/2 exactly
      3L -> Set(1L), 4L -> Set(1L),           // singleton duplicate
      5L -> (3L to 12L).toSet) ++
      (6 until 30).map(i => i.toLong -> (0 until 8).map(_ => rnd.nextLong(15L)).toSet)
    val truth = truePairs(sets, 1, 2)
    val cand = candidates(sets, 1, 2)
    assert(truth.contains((0L, 1L)) && truth.contains((0L, 2L)) && truth.contains((3L, 4L)))
    val missed = truth -- cand
    assert(missed.isEmpty, s"prefix filter dropped true pairs: $missed")
  }

  test("prefix is a real filter: strictly fewer candidate pairs than all-pairs on a diverse corpus") {
    val sets = (0 until 80).map { i =>
      (i.toLong, (0 until 25).map(_ => rnd.nextLong(4000L)).toSet)
    }
    val cand = candidates(sets, 4, 5)
    val allPairs = 80L * 79 / 2
    assert(cand.size < allPairs / 4,
      s"prefix filter generated ${cand.size} of $allPairs pairs — not pruning")
  }
}
