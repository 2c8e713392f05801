package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output-layout discipline for the master sinks.
  *
  * At 100 TB the sink's FILE LAYOUT is a query-performance feature: a
  * downstream scan prunes parquet row groups by min/max statistics only
  * if the writer clustered the data. Unsorted writes give every file the
  * full key range (no file prunable); a range-partitioned, within-file
  * sorted write gives disjoint per-file ranges, so a key-range scan
  * touches O(selectivity) files. `maxRecordsPerFile` bounds file size
  * independently of the partition count — task output never balloons
  * into a single unsplittable giant file.
  */
object SinkOps {

  /** Write `df` as parquet clustered by `sortCol`: range-repartitioned
    * (one exchange — the sampled range partitioner keeps output files
    * balanced even on skewed keys), sorted within each partition (no
    * global sort barrier), each file capped at `maxRecordsPerFile` rows.
    * Result: per-file key ranges are disjoint and ordered, the shape
    * min/max row-group pruning wants.
    *
    * `parts = None` (the default posture) leaves the partition count to
    * AQE: `repartitionByRange` without an explicit count is
    * coalescible, so the FILE count derives from DATA SIZE (advisory
    * partition size) — a KB-scale fold lands as one file instead of
    * `spark.sql.shuffle.partitions` near-empty ones (whose per-file
    * reader init then taxes every downstream scan), while a 100-TB
    * write keeps full width. AQE merges only ADJACENT range partitions,
    * so per-file ranges stay disjoint and ordered either way. A pinned
    * `Some(n)`, `n >= 1`, keeps the exact-width behavior.
    */
  def rangedSortedParquet(df: DataFrame, sortCol: String, out: String,
      maxRecordsPerFile: Long, parts: Option[Int] = None): Unit = {
    require(parts.forall(_ >= 1) && maxRecordsPerFile >= 1)
    val ranged = parts match {
      case None => df.repartitionByRange(col(sortCol))
      case Some(n) => df.repartitionByRange(n, col(sortCol))
    }
    ranged
      .sortWithinPartitions(sortCol)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(out)
  }

  /** Z-ORDER clustering for TWO pruning columns (the lakehouse
    * `OPTIMIZE ZORDER BY` shape, in stock Spark): single-column range
    * clustering gives one column tight per-file ranges and leaves the
    * other spanning the whole domain in every file — a filter on the
    * second column prunes nothing. Interleaving the bits of both
    * columns' normalized positions puts each file on a small RECTANGLE
    * of the (a, b) plane, so min/max statistics prune on EITHER column.
    *
    * Mechanics: each column maps to a 16-bit grid cell by the same
    * integer scaling [[QuantileOps]] buckets with
    * (`((v - lo) * 65536) div (hi - lo + 1)` — floor-exact, no IEEE
    * boundary drift), the two cell ids bit-interleave into one 32-bit
    * z-value (a codegen'd expression tree of shifts and ORs, no UDF),
    * and the write is [[rangedSortedParquet]] on the z-value. Cost: the
    * same two min/max scans + one range exchange as the single-column
    * sink. Values must be integral; map decimals exactly first.
    */
  def zOrderedParquet(df: DataFrame, colA: String, colB: String, out: String,
      parts: Int, maxRecordsPerFile: Long): Unit = {
    require(parts >= 1 && maxRecordsPerFile >= 1)
    val stats = df.agg(
      min(col(colA)), max(col(colA)), min(col(colB)), max(col(colB))).head()
    require(!stats.isNullAt(0) && !stats.isNullAt(2), "empty pruning column")
    def cell(c: String, lo: Long, hi: Long) = {
      val width = hi - lo + 1
      require(width > 0, s"$c range overflows Long — shift values first")
      expr(s"(($c - $lo) * 65536) div $width")
    }
    val ca = cell(colA, stats.getLong(0), stats.getLong(1))
    val cb = cell(colB, stats.getLong(2), stats.getLong(3))
    // interleave: bit i of a -> bit 2i+1, bit i of b -> bit 2i
    val z = (0 until 16).map { i =>
      shiftleft(shiftright(ca, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(cb, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_ bitwiseOR _)
    val tagged = df.withColumn("__z", z)
    tagged.repartitionByRange(parts, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(out)
  }
}
