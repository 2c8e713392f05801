package graft

import graft.queries.VectorQs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the QUERY-DIRECTED multiprobe sequence
  * ([[graft.expressions.VecSrpProbeMasks]], graded by q148): the ranked
  * masks match an in-Scala margin reference exactly.
  */
class VecProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private val sf = "/root/testdata/sf0.001"
  private val W = 16

  /** In-Scala reference: margins by the same sequential float→double
    * fold as VecDot/VecSrpBits, masks ranked (Σ|margin| asc, mask asc). */
  private def refMasks(vec: Array[Float], planes: Seq[Seq[Float]],
      w: Int, take: Int): Seq[Seq[Long]] = {
    val margins = planes.map { pl =>
      var acc = 0.0
      var i = 0
      while (i < math.min(vec.length, pl.length)) {
        acc += vec(i).toDouble * pl(i).toDouble; i += 1
      }
      math.abs(acc)
    }
    val masks: Seq[(Long, Seq[Int])] =
      (0L, Seq.empty[Int]) +:
        ((0 until w).map(i => (1L << i, Seq(i))) ++
          (for { i <- 0 until w; j <- (i + 1) until w }
            yield ((1L << i) | (1L << j), Seq(i, j))))
    (0 until planes.size / w).map { t =>
      masks.map { case (m, idx) => (idx.map(i => margins(t * w + i)).sum, m) }
        .sorted.take(take).map(_._2)
    }
  }

  test("probe masks match the margin-ranked reference (and mask 0 leads at every T)") {
    val planes = VectorQs.srpPlanesL(0)
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding").limit(20)
    for (take <- Seq(1, 8, 137)) {
      val got = emb.select(col("vec_id"),
          call_function("vec_srp_probe_masks", col("embedding"),
            typedlit(planes), lit(W), lit(take)).as("pm"))
        .collect().map(r => r.getLong(0) ->
          r.getSeq[scala.collection.Seq[Long]](1).map(_.toSeq))
      val vecs = emb.collect().map(r =>
        r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      got.foreach { case (id, bands) =>
        val exp = refMasks(vecs(id), planes, W, take)
        assert(bands.size == 64 / W, s"vec $id: wrong band count")
        assert(bands.map(_.toSeq) == exp.map(_.toSeq), s"vec $id: probe ranking diverged")
        bands.foreach(b => assert(b.head == 0L, s"vec $id: exact bucket not probed first"))
        b4all(bands)
      }
    }
  }

  private def b4all(bands: Seq[Seq[Long]]): Unit =
    bands.foreach(_.foreach(m =>
      assert(java.lang.Long.bitCount(m) <= 2, s"mask $m outside the weight-2 neighborhood")))
}
