package graft

import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** [[Memo.scoped]], the call-lifetime cache form: everything a scope
  * persists is released when the block exits, normally or by an
  * exception, and an entry the scope did not create is never evicted.
  */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  // a plan no other spec builds, so no other owner holds its entry
  private def rel(tag: String): DataFrame =
    spark.range(0, 50).select(col("id"), lit(s"memo-spec-$tag").as("tag"))

  private def isCached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  test("a scope releases what it persisted when the block returns") {
    val df = rel("normal")
    val n = Memo.scoped { sc =>
      val cached = sc(df)
      assert(isCached(cached))
      assert(cached.storageLevel == StorageLevel.MEMORY_AND_DISK)
      cached.count()
    }
    assert(n == 50)
    assert(!isCached(df), "scope exit left the entry persisted")
  }

  test("a scope releases what it persisted when the block throws") {
    val (a, b) = (rel("throw-a"), rel("throw-b"))
    val ex = intercept[IllegalStateException] {
      Memo.scoped { sc =>
        sc(a).count()
        sc(b) // registered, never materialized
        throw new IllegalStateException("planted")
      }
    }
    assert(ex.getMessage == "planted")
    assert(!isCached(a) && !isCached(b), "a failed block left entries persisted")
  }

  test("a plan-identical Memo.cached entry survives the scope's release") {
    val d = "memo-spec-dir"
    val owned = Memo.cached(spark, d, "memo_spec_session")(rel("session"))
    try {
      Memo.scoped { sc =>
        // a freshly built DataFrame over the same plan shares the entry
        sc(rel("session")).count()
      }
      assert(isCached(owned), "the scope evicted a session entry it did not create")
    } finally Memo.invalidate(spark, d, "memo_spec_session")
    assert(!isCached(owned))
  }

  test("the same plan acquired twice in one scope stays balanced") {
    val before = CacheEntries.count(spark)
    Memo.scoped { sc =>
      val x = sc(rel("twice"))
      val y = sc(rel("twice"))
      assert(CacheEntries.count(spark) == before + 1, "two entries for one plan")
      // releasing one of the two leases early keeps the entry for the other
      sc.release(x)
      assert(isCached(y))
      y.count()
    }
    assert(!isCached(rel("twice")))
    assert(CacheEntries.count(spark) == before)
  }
}
