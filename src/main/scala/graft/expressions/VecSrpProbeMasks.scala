package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType, LongType}

/** QUERY-DIRECTED multiprobe sequence for SRP-LSH (Lv et al. 2007, §4.2,
  * specialized to sign-random-projection bands): for each band of a
  * vector's SRP signature, the T most-probable flip masks from the
  * Hamming-weight-≤2 neighborhood, ordered by success likelihood.
  *
  * The full Hamming ball treats every bit as equally likely to differ on
  * a near pair, but a sign bit is exactly a hyperplane side: the
  * probability a true neighbor lands on the OTHER side of plane p falls
  * with the query's margin |dot(vec, plane_p)|. So the right probes are
  * the masks whose flipped bits have the SMALLEST total margin — rank
  * all weight-≤2 masks by Σ|margin| of their flipped bits (ascending,
  * ties by mask value for determinism) and keep the first T. T=137 at
  * w=16 degenerates to the full flip-2 ball; T=16 keeps ~1/9 of it
  * while retaining the high-probability probes.
  *
  * Oracle-graded as an expression: `q148_qd_probe_ranks` ranks band 0 of
  * every vector at T=8 against a DuckDB mirror of the same margins. No
  * candidate generator consumes it; the multiprobe join form it was
  * written for, and its measurements, are in SURVEY §2.0.2.
  *
  * Returns `array<array<long>>`: outer index = band within this plane
  * matrix (numPlanes/bitsPerBand entries), inner = the ordered probe
  * masks (mask 0 — the exact bucket — is always first at score 0). XOR
  * a band's code with each mask to get its probe sequence.
  *
  * Eval-based (CodegenFallback), deliberately: unlike [[VecSrpBits]]'s
  * primitive-long result, the output here IS an allocation (nested
  * ArrayData), so codegen could not avoid the dominant cost; the per-row
  * arithmetic is 64 dots (the same 4096 multiplies vec_srp_bits runs)
  * plus ~550 two-term sums. Dot semantics are identical to [[VecDot]]
  * (sequential fold, float widened to double), so margins are consistent
  * with the sign bits bit-for-bit.
  *
  * Arguments: (vec array<float>, planes array<array<float>> FOLDABLE,
  * bitsPerBand int FOLDABLE, maxProbes int FOLDABLE). Null vec → null.
  */
case class VecSrpProbeMasks(
    first: Expression, second: Expression, third: Expression, fourth: Expression)
  extends QuaternaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType, fourth.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ArrayType(FloatType, _), _),
          IntegerType, IntegerType) =>
        if (!second.foldable || !third.foldable || !fourth.foldable)
          TypeCheckResult.TypeCheckFailure(
            "vec_srp_probe_masks requires plan-time literal planes, bitsPerBand and maxProbes")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c, dd) =>
        TypeCheckResult.TypeCheckFailure(
          "vec_srp_probe_masks requires (array<float>, array<array<float>>, int, int), " +
            s"got ${a.sql}, ${b.sql}, ${c.sql}, ${dd.sql}")
    }
  override def dataType: DataType = ArrayType(ArrayType(LongType))
  override def prettyName: String = "vec_srp_probe_masks"

  private lazy val bitsPerBand: Int = third.eval().asInstanceOf[Int]
  private lazy val maxProbes: Int = fourth.eval().asInstanceOf[Int]
  private lazy val (flatPlanes: Array[Float], planeLen: Int, numPlanes: Int) = {
    val ad = second.eval().asInstanceOf[ArrayData]
    val n = ad.numElements()
    require(n > 0 && bitsPerBand > 0 && n % bitsPerBand == 0 && n <= 64,
      s"vec_srp_probe_masks: need 0 < planes ($n) <= 64, a multiple of bitsPerBand ($bitsPerBand)")
    require(maxProbes >= 1, s"vec_srp_probe_masks: maxProbes must be >= 1, got $maxProbes")
    val rows = Array.tabulate(n)(i => ad.getArray(i).toFloatArray())
    val len = rows.head.length
    require(rows.forall(_.length == len), "vec_srp_probe_masks: ragged plane matrix")
    (rows.flatten.toArray, len, n)
  }

  /** The weight-≤2 neighborhood over `bitsPerBand` bits, each mask with
    * its flipped-bit indices, enumerated once at plan time in ascending
    * mask order (the deterministic tiebreak). */
  private lazy val maskDefs: Array[(Long, Int, Int)] = {
    val w = bitsPerBand
    val buf = Array.newBuilder[(Long, Int, Int)]
    buf += ((0L, -1, -1))
    var i = 0
    while (i < w) { buf += (((1L << i), i, -1)); i += 1 }
    i = 0
    while (i < w) {
      var j = i + 1
      while (j < w) { buf += (((1L << i) | (1L << j), i, j)); j += 1 }
      i += 1
    }
    buf.result().sortBy(_._1)
  }

  override def nullSafeEval(vec: Any, planes: Any, bits: Any, probes: Any): Any = {
    val x = vec.asInstanceOf[ArrayData]
    val dims = math.min(x.numElements(), planeLen)
    val margin = new Array[Double](numPlanes)
    var p = 0
    while (p < numPlanes) {
      val off = p * planeLen
      var acc = 0.0
      var i = 0
      while (i < dims) {
        acc += x.getFloat(i).toDouble * flatPlanes(off + i).toDouble
        i += 1
      }
      margin(p) = math.abs(acc)
      p += 1
    }
    val w = bitsPerBand
    val numBands = numPlanes / w
    val take = math.min(maxProbes, maskDefs.length)
    val outer = new Array[AnyRef](numBands)
    var t = 0
    while (t < numBands) {
      val base = t * w
      // (score, mask) for every neighborhood member; stable sort on
      // score with the ascending-mask enumeration as the tiebreak
      val scored = maskDefs.map { case (m, a, b) =>
        val s = (if (a >= 0) margin(base + a) else 0.0) +
          (if (b >= 0) margin(base + b) else 0.0)
        (s, m)
      }.sorted
      val top = new Array[Long](take)
      var k = 0
      while (k < take) { top(k) = scored(k)._2; k += 1 }
      outer(t) = new GenericArrayData(top)
      t += 1
    }
    new GenericArrayData(outer)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}
