package graft

import graft.ops.SinkOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layer posture: the clustered master sink's file layout
  * (disjoint per-file key ranges + bounded file sizes) and the ORC
  * format path (round-trip fidelity + predicate pushdown into the scan).
  */
class StorageSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  test("ranged sorted sink: disjoint ordered per-file key ranges, bounded file size") {
    val out = java.nio.file.Files.createTempDirectory("ranged-sink").toString
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
    SinkOps.rangedSortedParquet(li, "l_orderkey", out,
      maxRecordsPerFile = 600)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    assert(files.length > 4, s"maxRecordsPerFile did not split: ${files.length} files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_orderkey"), max("l_orderkey"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    ranges.foreach { case (_, _, n) =>
      assert(n <= 600, s"file exceeds maxRecordsPerFile: $n rows")
    }
    // disjointness: ordered by min, each file's range must end before the
    // next begins (equal boundary keys may share a file edge — orderkey
    // repeats across lineitems, so allow touching, never interleaving)
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi, _), (lo2, _, _)) =>
        assert(hi <= lo2, s"file ranges interleave: $hi > $lo2")
      case _ =>
    }
    // fidelity: the clustered copy is the same relation
    assert(spark.read.parquet(out).count() == li.count())
  }

  test("ranged sorted sink, adaptive width (parts=0): file count derives from data size, ranges stay disjoint") {
    // the range exchange is left to AQE, so a KB-scale
    // fold lands as ~one file instead of spark.sql.shuffle.partitions
    // near-empty ones (whose per-file reader init taxed every downstream
    // scan of the artifact — q151 scans attrs five times per run)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "adaptive width needs AQE on")
    val out = java.nio.file.Files.createTempDirectory("ranged-adaptive").toString
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_extendedprice")
    SinkOps.rangedSortedParquet(li, "l_orderkey", out,
      maxRecordsPerFile = 5000000L)
    val files = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toString).sorted
    // the sf0.001 input is a few KB: AQE folds it to one or two files
    assert(files.length <= 2,
      s"adaptive width did not coalesce a tiny write: ${files.length} files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_orderkey"), max("l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges interleave: $hi > $lo2")
      case _ =>
    }
    assert(spark.read.parquet(out).count() == li.count())
  }

  test("orc round-trip is lossless and filters push into the ORC scan") {
    val out = java.nio.file.Files.createTempDirectory("orc-sink").toString
    val src = Tables.orders(spark, sf)
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum("o_orderkey")).head().getLong(0)
      == src.agg(sum("o_orderkey")).head().getLong(0))
    val plan = back.filter(col("o_orderkey") < 100)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,100)]"),
      s"ORC scan lost the pushed filter:\n$plan")
  }
}
