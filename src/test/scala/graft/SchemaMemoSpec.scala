package graft

import org.apache.spark.ListenerEvents
import org.scalatest.funsuite.AnyFunSuite

/** [[Tables.read]] infers each corpus file's schema once per session and
  * file version: a repeated read starts no Spark job, and a file
  * rewritten at the same path is inferred again. */
class SchemaMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  test("a second read of a corpus table starts no Spark job") {
    val d = "/root/testdata/sf0.001"
    Tables.documents(spark, d)
    val jobs = ListenerEvents.jobsDuring(spark.sparkContext) {
      val df = Tables.documents(spark, d)
      assert(df.columns.contains("text"))
    }
    assert(jobs == 0, s"re-reading documents started $jobs jobs")
  }

  test("a file rewritten at the same path is inferred again") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("schema-memo").toString
    val path = s"$d/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    val first = ListenerEvents.jobsDuring(spark.sparkContext) {
      assert(Tables.read(spark, d, "t").columns.toSeq == Seq("id", "s"))
    }
    assert(first >= 1, "the first read infers its schema")
    Seq((2L, 3.5, true)).toDF("id", "x", "flag").write.mode("overwrite").parquet(path)
    val df = Tables.read(spark, d, "t")
    assert(df.columns.toSeq == Seq("id", "x", "flag"))
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq ==
      Seq((2L, 3.5, true)))
  }

  test("each read is a fresh relation: a self-join resolves") {
    val d = "/root/testdata/sf0.001"
    val a = Tables.documents(spark, d).select("doc_id")
    val b = Tables.documents(spark, d).select("doc_id")
    assert(a.join(b, a("doc_id") === b("doc_id")).count() ==
      Tables.documents(spark, d).count())
  }
}
