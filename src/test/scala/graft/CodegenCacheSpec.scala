package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Spark's generated-code cache is sized to the session's working set
  * ([[Tables.CodegenCacheEntries]]). At Spark's default cap of 100 the
  * LRU cache thrashes on any workload that cycles through more classes
  * than that, and every pass recompiles them on the driver.
  *
  * Order-independent by construction: the cap is fixed JVM-wide at
  * `CodeGenerator`'s first use, and every session here is built through
  * `Tables.configure`, so whichever suite runs first fixes the same cap.
  * The check reads only the SECOND of two back-to-back passes, and an
  * LRU cache smaller than one pass's working set misses on it whatever
  * it held before the first pass. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"
  // Plans that hold almost no memoized relations, so a second pass runs
  // the first pass's plans. Measured from an empty cache (4 cores):
  // the first pass compiles ≈ 180 classes; at Spark's default cap of 100
  // every later pass recompiled ≈ 166 of them, at the session's cap the
  // second pass compiled 4 (q112's first plan over its memoized
  // relation) and the third none.
  private val qs = Seq("q01_pricing_summary", "q04_priority_revenue",
    "q13_window_frames", "q103_salted_join", "q52_session_window",
    "q56_auto_interval_join", "q58_asof_native", "q105_gap_fill",
    "q30_term_frequency", "q112_bm25_retrieval")

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def pass(): Long = {
    val c0 = compiles()
    qs.foreach { q =>
      Queries.byName(q).fn(spark, sf).write.format("noop").mode("overwrite").save()
    }
    compiles() - c0
  }

  test("the session carries the codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Tables.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("re-runs of a multi-stage AQE query compile no classes") {
    import org.apache.spark.sql.functions._
    // a shuffled join, an aggregate and a sort: several AQE query stages
    def run(): Long = {
      val c0 = compiles()
      val l = spark.range(0, 20000, 1, 4)
        .select((col("id") % 97).as("k"), col("id").as("v"))
      val r = spark.range(0, 3000, 1, 3)
        .select((col("id") % 89).as("k"), (col("id") * 3).as("w"))
      l.hint("merge").join(r, "k")
        .groupBy("k").agg(sum("v").as("sv"), max("w").as("mw"))
        .orderBy(col("sv").desc)
        .write.format("noop").mode("overwrite").save()
      compiles() - c0
    }
    run()
    val later = Seq.fill(3)(run())
    assert(later == Seq(0L, 0L, 0L),
      s"runs 2-4 compiled ${later.mkString(", ")} classes")
  }

  test("a second pass over a working set past Spark's default cap recompiles almost nothing") {
    pass()
    val second = pass()
    assert(second <= 10,
      s"second pass over ${qs.mkString(", ")} compiled $second classes — " +
        "the generated-code cache is thrashing (is the cap below the working set?)")
  }
}
