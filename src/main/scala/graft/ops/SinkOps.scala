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
    * The partition count is left to AQE: `repartitionByRange` without an
    * explicit count is coalescible, so the FILE count derives from DATA
    * SIZE (advisory partition size) — a KB-scale fold lands as one file
    * instead of `spark.sql.shuffle.partitions` near-empty ones (whose
    * per-file reader init then taxes every downstream scan), while a
    * 100-TB write keeps full width. AQE merges only ADJACENT range
    * partitions, so per-file ranges stay disjoint and ordered.
    */
  def rangedSortedParquet(df: DataFrame, sortCol: String, out: String,
      maxRecordsPerFile: Long): Unit = {
    require(maxRecordsPerFile >= 1)
    df.repartitionByRange(col(sortCol))
      .sortWithinPartitions(sortCol)
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(out)
  }
}
