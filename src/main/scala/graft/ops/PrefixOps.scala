package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed prefix sums (the scan primitive behind sequence packing,
  * global row numbering, offset assignment).
  *
  * The naive form — `sum(x) OVER (ORDER BY k)` — is a window over ONE
  * partition of the whole relation: a single-task bottleneck at scale. The
  * classic fix is the two-level scan: range-bucket rows, aggregate
  * per-bucket totals, cumsum the (small) totals relation, broadcast the
  * bucket offsets back and add an intra-bucket cumsum whose window is
  * partitioned by bucket (parallel).
  *
  * The subtlety this object exists for: the bucket relation must be
  * bounded by a fixed bucket COUNT, not built from a fixed bucket WIDTH.
  * With constant width the totals relation (and the single-partition
  * cumsum over it, and the broadcast) grows linearly with the corpus —
  * exactly the bottleneck the two-level scan was meant to remove. Here the
  * width is derived from the observed key range so the totals relation
  * never exceeds `targetBuckets` rows regardless of corpus size; the cost
  * is one cheap min/max aggregate over the key column (column-pruned
  * scan).
  */
object PrefixOps {

  /** Default bucket count: a small multiple of the shuffle parallelism, so
    * the intra-bucket windows saturate the cluster while the totals
    * relation stays a few-hundred-row driver triviality.
    */
  def defaultTargetBuckets(df: DataFrame): Int =
    4 * df.sparkSession.sessionState.conf.numShufflePartitions

  /** ceil((hi-lo+1)/buckets), floored at 1: a fixed bucket COUNT with
    * adaptive width, so `ceil(range/width) <= buckets` always holds —
    * the invariant `PrefixSumSpec` property-tests. Computed in BigInt:
    * `hi - lo` itself can exceed Long.MaxValue (xxhash64-derived keys
    * span the full signed range), and the previous all-Long form wrapped
    * negative there, silently collapsing to width 1 — which regrows the
    * totals relation linearly with the corpus, the exact bottleneck this
    * object exists to remove.
    */
  private[graft] def bucketWidth(lo: Long, hi: Long, buckets: Int): BigInt =
    ((BigInt(hi) - BigInt(lo) + buckets) / buckets).max(1)

  /** Append `out` = exclusive prefix sum of `valueCol` in ascending
    * `orderCol` order (the sum of all strictly-preceding rows; 0 for the
    * first). `orderCol` must be a unique long key (ties would make the
    * prefix sum order-ambiguous).
    *
    * Output is identical to
    * `sum(valueCol) OVER (ORDER BY orderCol ROWS UNBOUNDED PRECEDING TO 1
    * PRECEDING)` but no relation, window partition, or broadcast in the
    * plan grows with the input: the bucket-totals relation is at most
    * `targetBuckets` rows by construction.
    */
  def withExclusivePrefixSum(
      df: DataFrame,
      orderCol: String,
      valueCol: String,
      out: String,
      targetBuckets: Int = 0): DataFrame =
    withExclusivePrefixSumMulti(df, Seq(orderCol), valueCol, out, targetBuckets)

  /** The multi-column-key form: rows are ordered by `orderCols`
    * lexicographically (each ascending); the FIRST column must be a
    * long and drives the range bucketing, the rest only break its ties.
    * This exists so callers with a composite ranking (q145's
    * quality-desc-then-id greedy order) never have to PACK the key into
    * one long — a packing like `doc_id - n_types·2³²` is collision-free
    * only while doc_id < 2³², a bound replication-scaled corpora
    * silently cross (ADVICE r17), whereas the composite key is exact
    * over the full long range of every component.
    *
    * Correctness of bucketing on the first column alone: equal
    * first-column values land in the SAME bucket (bucket id is a pure
    * function of it), so lexicographic tie-breaks happen entirely
    * inside one intra-bucket window, and the cross-bucket order is the
    * first column's order — together the global lexicographic order.
    * The first column may repeat; only the COMPOSITE key must be
    * unique.
    */
  def withExclusivePrefixSumMulti(
      df: DataFrame,
      orderCols: Seq[String],
      valueCol: String,
      out: String,
      targetBuckets: Int = 0): DataFrame = {
    require(orderCols.nonEmpty, "need at least one order column")
    val orderCol = orderCols.head
    val buckets =
      if (targetBuckets > 0) targetBuckets else defaultTargetBuckets(df)
    // One cheap job to size the buckets: min/max of the key only, so
    // column pruning drops every other expression before the scan.
    val bounds = df.agg(
      min(col(orderCol)).cast("long"),
      max(col(orderCol)).cast("long")).head()
    if (bounds.isNullAt(0)) {
      // empty input: the prefix sum of nothing is nothing
      return df.withColumn(out, lit(0L))
    }
    val lo = bounds.getLong(0)
    val hi = bounds.getLong(1)
    val range = BigInt(hi) - BigInt(lo)
    val width = bucketWidth(lo, hi, buckets)

    // Fast path: when the key range fits in a signed long the bucket id is
    // pure long arithmetic (codegen'd). Keys spanning more than
    // Long.MaxValue (full-range hash ids) would overflow `$orderCol - lo`
    // under ANSI mode, so that case runs the same formula in exact
    // decimal(38,0) arithmetic — `-lo` is written as an added positive
    // literal because Long.MinValue has no negatable long literal.
    val bucketExpr =
      if (range <= BigInt(Long.MaxValue))
        expr(s"($orderCol - ${lo}L) div ${width.toLong}L")
      else
        expr(s"cast((cast($orderCol as decimal(38,0)) + (${-BigInt(lo)})) div $width as bigint)")
    val bucketed = df.withColumn("__bucket", bucketExpr)
    // totals: <= targetBuckets rows; its cumsum window is single-partition
    // by necessity but bounded by construction, as is the broadcast below
    val offsets = bucketed.groupBy("__bucket")
      .agg(sum(col(valueCol)).as("__btot"))
      .withColumn("__boff",
        coalesce(sum("__btot").over(
          Window.orderBy("__bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("__bucket", "__boff")
    val intra = Window.partitionBy("__bucket")
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    bucketed.join(broadcast(offsets), "__bucket")
      .withColumn(out,
        col("__boff") + coalesce(sum(col(valueCol)).over(intra), lit(0L)))
      .drop("__bucket", "__boff")
  }
}
