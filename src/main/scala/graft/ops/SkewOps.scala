package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew and co-location tools for the 100-TB posture (SURVEY.md §4).
  *
  * AQE's skew-join split handles most skew at runtime; [[saltedJoin]] is
  * the explicit form for the cases AQE can't re-plan (e.g. a hot key
  * inside an aggregation-feeding join): scatter the large side across
  * `saltFactor` sub-keys, replicate the small side once per sub-key.
  * The result is exactly the plain join's — salt never leaks out.
  */
object SkewOps {

  /** Equi-join `large ⋈ small` on `largeKey == smallKey`, with the large
    * side salted. `small` must be modest (it is replicated x saltFactor,
    * then usually broadcast anyway); the point is the SHUFFLE of the
    * large side, which now spreads each hot key over saltFactor
    * partitions.
    *
    * Join types preserving the small side's unmatched rows (right/full
    * outer) are rejected: the small side is replicated saltFactor times,
    * so each of its unmatched rows would be emitted saltFactor times
    * instead of once. Large-side-preserving types are exact: unmatched
    * LARGE rows exist once (only small is replicated), and each large row
    * meets exactly one replica per small key (the one sharing its salt).
    */
  private val SafeJoinTypes =
    Set("inner", "cross", "left", "leftouter", "left_outer",
      "leftsemi", "left_semi", "semi", "leftanti", "left_anti", "anti")

  def saltedJoin(large: DataFrame, small: DataFrame,
      largeKey: String, smallKey: String, saltFactor: Int,
      joinType: String = "inner"): DataFrame = {
    require(SafeJoinTypes.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin: joinType '$joinType' would duplicate unmatched small-side rows " +
        s"(small is replicated x$saltFactor); use the plain join for right/full outer")
    // deterministic salt from the whole row identity is unnecessary —
    // any spread works and never affects the join result; a cheap hash
    // of a monotonic id keeps it stable within a task
    val salted = large.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor.toLong)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted
      .join(replicated,
        salted(largeKey) === replicated(smallKey) && salted("__salt") === replicated("__salt"),
        joinType)
      .drop("__salt")
  }
}
