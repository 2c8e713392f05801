package graft

import graft.plans.{AsOfJoin, AsOfJoinExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native as-of join operator (`plans/AsOfJoin` — the custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan` rung) must agree exactly
  * with the composed union+window form (q54) and with a brute-force
  * per-row lookup on randomized inputs, under default AQE.
  */
class AsOfJoinSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("native as-of == composed union+window as-of (q58 == q54) on the corpus") {
    val native = Queries.byName("q58_asof_native").fn(spark, sf)
    val composed = Queries.byName("q54_asof_join").fn(spark, sf)
    val cols = Seq("click_id", "user_id", "click_ts", "view_id", "view_ts")
    val n = rows(native, cols: _*)
    val c = rows(composed, cols: _*)
    assert(n == c)
    assert(n.nonEmpty, "corpus produced no as-of matches — test not exercising the merge")
  }

  test("executed plan contains AsOfJoinExec with one exchange+sort per side") {
    val df = Queries.byName("q58_asof_native").fn(spark, sf)
    df.write.format("noop").mode("overwrite").save()
    val execs = collect(df.queryExecution.executedPlan) {
      case a: AsOfJoinExec => a
    }
    assert(execs.size == 1, s"expected exactly one AsOfJoinExec:\n${df.queryExecution.executedPlan}")
    // both children must be sorted on (key, ts) — EnsureRequirements
    // honored the declared requiredChildOrdering
    val sorts = collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.SortExec => s.sortOrder.map(_.child.sql)
    }
    assert(sorts.exists(_.exists(_.contains("click_ts"))),
      s"left side not sorted by ts:\n$sorts")
  }

  test("column pruning reaches the scans when callers pass wide relations") {
    // both sides are the FULL events table (6 columns incl. the wide
    // `props` map); the query consumes only ids — AsOfJoinPruning must
    // cut the unused columns before the keyed exchanges, all the way
    // into the parquet ReadSchema
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .withColumnRenamed("event_id", "click_id")
    val views = ev.filter(col("event_type") === "view")
      .withColumnRenamed("event_id", "view_id")
    val joined = AsOfJoin(clicks, views,
        Seq("user_id"), Seq("user_id"), "event_ts", "event_ts")
      .select("click_id", "view_id")
    joined.write.format("noop").mode("overwrite").save()
    val plan = joined.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val readSchemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.size == 2, s"expected two parquet scans:\n$plan")
    readSchemas.foreach { rs =>
      assert(!rs.contains("props") && !rs.contains("value"),
        s"unused columns survived to the scan: $rs")
    }
    // and the pruned plan still answers correctly vs the unpruned form
    val wide = AsOfJoin(clicks, views,
      Seq("user_id"), Seq("user_id"), "event_ts", "event_ts")
    assert(rows(joined, "click_id", "view_id") == rows(wide, "click_id", "view_id"))
  }

  test("randomized: native as-of == brute-force most-recent-at-or-before lookup") {
    import spark.implicits._
    val rnd = new scala.util.Random(58)
    // small key space + small ts space forces key collisions, equal
    // timestamps, and empty-match users
    val lefts = Seq.tabulate(400)(i =>
      (i.toLong, (rnd.nextInt(12) + 1).toLong, rnd.nextInt(50).toLong * 10))
    val rights = Seq.tabulate(300)(i =>
      ((i + 1000).toLong, (rnd.nextInt(15) + 1).toLong, rnd.nextInt(50).toLong * 10))
      // dedup (key, ts) so "most recent" is unique and the expected answer total
      .groupBy(r => (r._2, r._3)).values.map(_.minBy(_._1)).toSeq
    val l = lefts.toDF("lid", "k", "lts")
    val r = rights.toDF("rid", "k2", "rts")

    val got = AsOfJoin(l, r, Seq("k"), Seq("k2"), "lts", "rts")
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet

    val byKey = rights.groupBy(_._2)
    val want = lefts.flatMap { case (lid, k, lts) =>
      byKey.getOrElse(k, Seq.empty).filter(_._3 <= lts)
        .sortBy(r => (r._3, r._1)).lastOption.map(r => (lid, r._1))
    }.toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("left outer keeps unmatched left rows null-padded") {
    import spark.implicits._
    val l = Seq((1L, 1L, 100L), (2L, 1L, 5L), (3L, 9L, 100L)).toDF("lid", "k", "lts")
    val r = Seq((10L, 1L, 50L)).toDF("rid", "k", "rts")
    val out = AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts", leftOuter = true)
      .select("lid", "rid").collect().map(x =>
        (x.getLong(0), if (x.isNullAt(1)) None else Some(x.getLong(1)))).toSet
    assert(out == Set((1L, Some(10L)), (2L, None), (3L, None)))
    // inner drops the same two rows
    val inner = AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts")
      .select("lid").collect().map(_.getLong(0)).toSet
    assert(inner == Set(1L))
  }

  test("null keys and null timestamps never match") {
    import spark.implicits._
    val l = Seq(
      (1L, Option(1L), Option(100L)), // matches
      (2L, None, Option(100L)),       // null key: no match
      (3L, Option(1L), None))         // null ts: no match
      .toDF("lid", "k", "lts")
    val r = Seq(
      (10L, Option(1L), Option(50L)),
      (11L, None, Option(10L)),       // null right key: never a candidate for k=1
      (12L, Option(1L), None))        // null right ts: consumed, never recorded
      .toDF("rid", "k", "rts")
    val out = AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts")
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
    // outer: all three left rows survive, only lid=1 matched
    val outer = AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts", leftOuter = true)
      .select("lid", "rid").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(outer == Set((1L, 10L), (2L, -1L), (3L, -1L)))
  }

  test("multi-column keys incl. strings co-partition and match") {
    import spark.implicits._
    val l = Seq((1L, "a", 7L, 100L), (2L, "a", 8L, 100L), (3L, "b", 7L, 100L))
      .toDF("lid", "s", "k", "lts")
    val r = Seq((10L, "a", 7L, 90L), (11L, "a", 8L, 95L), (12L, "b", 7L, 101L))
      .toDF("rid", "s", "k", "rts")
    val out = AsOfJoin(l, r, Seq("s", "k"), Seq("s", "k"), "lts", "rts")
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out == Set((1L, 10L), (2L, 11L)))
  }

  test("self-join lineage (both sides from one relation) resolves unambiguously") {
    import spark.implicits._
    val base = Seq((1L, "v", 10L), (2L, "c", 20L), (3L, "v", 15L), (4L, "c", 12L))
      .toDF("id", "kind", "ts").withColumn("k", lit(1L))
    val clicks = base.filter(col("kind") === "c").select(col("id").as("cid"), col("k"), col("ts"))
    val views = base.filter(col("kind") === "v").select(col("id").as("vid"), col("k").as("vk"), col("ts").as("vts"))
    val out = AsOfJoin(clicks, views, Seq("k"), Seq("vk"), "ts", "vts")
      .select("cid", "vid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // click@20 -> view@15 (id 3); click@12 -> view@10 (id 1)
    assert(out == Set((2L, 3L), (4L, 1L)))
  }

  test("duplicate left timestamps share the same candidate; equal ts is inclusive") {
    import spark.implicits._
    val l = Seq((1L, 1L, 50L), (2L, 1L, 50L), (3L, 1L, 49L)).toDF("lid", "k", "lts")
    val r = Seq((10L, 1L, 50L), (11L, 1L, 40L)).toDF("rid", "k", "rts")
    val out = AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts")
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    // ts=50 is inclusive for both lid 1 and 2; lid 3 at 49 sees only 40
    assert(out == Set((1L, 10L), (2L, 10L), (3L, 11L)))
  }

  test("LONG µs timestamps work; mismatched or unsupported ts types are rejected") {
    import spark.implicits._
    val l = Seq((1L, 1L, 100L)).toDF("lid", "k", "lts")
    val r = Seq((10L, 1L, 90L)).toDF("rid", "k", "rts")
    assert(AsOfJoin(l, r, Seq("k"), Seq("k"), "lts", "rts").count() == 1)
    val rTsTimestamp = r.withColumn("rts", expr("timestamp_micros(rts)"))
    val e = intercept[IllegalArgumentException] {
      AsOfJoin(l, rTsTimestamp, Seq("k"), Seq("k"), "lts", "rts")
    }
    assert(e.getMessage.contains("type mismatch"))
    val lDouble = l.withColumn("lts", col("lts").cast("double"))
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoin(lDouble, r, Seq("k"), Seq("k"), "lts", "rts")
    }
    assert(e2.getMessage.contains("µs-integral"))
  }
}
