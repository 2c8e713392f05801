package graft

import graft.ops.SkewOps
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Skew (salted join) and co-location (bucketed join) at the plan level:
  * results must equal the plain forms, and the bucketed join must plan
  * without a shuffle exchange.
  */
class SkewBucketSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  test("salted join returns exactly the plain join's rows") {
    val li = Tables.lineitem(spark, sf)
    val dim = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val plain = li.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = SkewOps.saltedJoin(li, dim, "l_orderkey", "o_orderkey", saltFactor = 8)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("AQE splits a runtime-skewed join partition (skew=true in the adaptive plan)") {
    // the OTHER half of the skew story: SkewOps.saltedJoin is the static
    // fix you apply when you KNOW the hot keys; AQE's skew-join split is
    // the runtime fix for skew you didn't predict. This pins that our
    // session config lets AQE re-plan a sort-merge join whose one
    // partition dwarfs the rest (thresholds lowered to fire at test data
    // sizes; at cluster scale the 256 MB defaults apply).
    import spark.implicits._
    val s = spark
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "10KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "10KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      // 50k rows of key 0 vs 100 spread keys: partition 0 dwarfs the rest
      val big = (0 until 50000).map(i => (if (i < 49000) 0L else (i % 100).toLong, i.toLong))
        .toDF("k", "v")
      val dim = (0L until 100L).map(k => (k, s"d$k")).toDF("k", "tag")
      val j = big.join(dim, "k")
      // act on THIS Dataset so ITS AdaptiveSparkPlan finalizes (a write
      // action builds a separate QueryExecution and leaves j's unplanned)
      assert(j.collect().length == 50000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n${plan.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("salted join rejects small-side-preserving join types") {
    val li = Tables.lineitem(spark, sf)
    val dim = Tables.orders(spark, sf).select(col("o_orderkey"))
    // right/full outer would emit each unmatched small-side row saltFactor times
    intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(li, dim, "l_orderkey", "o_orderkey", 8, joinType = "right_outer")
    }
    intercept[IllegalArgumentException] {
      SkewOps.saltedJoin(li, dim, "l_orderkey", "o_orderkey", 8, joinType = "full")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // the in-memory catalog is fresh each JVM but the warehouse DIRECTORY
    // survives — clear the locations or saveAsTable refuses
    Seq("b_orders", "b_lineitem").foreach { t =>
      val dir = new java.io.File(s"/tmp/graft-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
    }
    Tables.orders(spark, sf)
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables.lineitem(spark, sf)
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // pin the plan shape for the assertion: AQE wraps the plan (hiding it
    // from collect) and a broadcast join would dodge the shuffle trivially
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), col("o_orderkey") === col("l_orderkey"))
      val exchanges = joined.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.isEmpty) // bucket layout co-locates both sides
      val expected = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
        .count()
      assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }
}
