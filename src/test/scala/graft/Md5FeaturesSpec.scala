package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-21 native md5-bucket feature family: each expression is
  * pinned row-for-row against the relational spelling it replaced
  * (the shingle_hash64 / char_grams precedent — the reference form
  * stays in the tree as the oracle).
  */
class Md5FeaturesSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  private def corpus = Tables.documents(spark, sf)

  private lazy val adversarial = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""),                       // one empty token, no bigram/trigram
      (3L, " "),                      // two empty tokens
      (4L, "a b "),                   // trailing empty token
      (5L, "héllo wörld çafé über naïve"), // multi-byte UTF-8
      (6L, "日本語 テキスト の 例 です"),        // CJK, non-BMP-adjacent
      (7L, "ab"),                     // under one trigram for lang-id
      (8L, "𝄞clef 𝄞note 𝄞s"),          // non-BMP (4-byte code points)
      (9L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
  }

  test("md5_bucket16 equals conv(substring(md5(s),1,4),16,10)") {
    val probe = corpus.select(col("text").as("s"))
      .union(adversarial.filter(col("text").isNotNull).select(col("text").as("s")))
    val diff = probe
      .select(
        call_function("md5_bucket16", col("s")).as("native"),
        conv(substring(md5(col("s")), 1, 4), 16, 10).cast("int").as("legacy"))
      .filter(col("native") =!= col("legacy"))
      .count()
    assert(diff == 0)
  }

  test("md5_bucket16 propagates null") {
    val r = adversarial.filter(col("text").isNull)
      .select(call_function("md5_bucket16", col("text"))).head()
    assert(r.isNullAt(0))
  }

  test("quality_score-based modelScoresOf equals the explode reference") {
    for (docs <- Seq(corpus, adversarial)) {
      val fused = ops.TextOps.modelScoresOf(docs)
      val ref = ops.TextOps.modelScoresReferenceOf(docs)
      assert(fused.schema.map(f => (f.name, f.dataType)) ===
        ref.schema.map(f => (f.name, f.dataType)))
      assert(fused.exceptAll(ref).isEmpty && ref.exceptAll(fused).isEmpty)
    }
  }

  test("lang_id_scores-based langIdScoresOf equals the explode reference") {
    for (docs <- Seq(corpus, adversarial)) {
      val cols = ops.TextOps.langIdScoresReferenceOf(docs).columns.toSeq.map(col)
      val fused = ops.TextOps.langIdScoresOf(docs).select(cols: _*)
      val ref = ops.TextOps.langIdScoresReferenceOf(docs)
      assert(fused.exceptAll(ref).isEmpty && ref.exceptAll(fused).isEmpty)
    }
  }

  test("token_ngrams equals the lmGrams order-3 slice (multiset + order)") {
    for (docs <- Seq(corpus, adversarial)) {
      // array-level compare pins order AND multiplicity in one shot
      val fused = docs.select(col("doc_id"),
        call_function("token_ngrams", col("text"), lit(3)).as("grams"))
      val ref = docs.select(col("doc_id"),
        filter(ops.TextOps.lmGrams(col("text"), 3), g => g("_1") === 3)
          .cast("array<struct<_1:int,_2:string>>").as("tagged"))
        .select(col("doc_id"), transform(col("tagged"), g => g("_2")).as("grams"))
      assert(fused.exceptAll(ref).isEmpty && ref.exceptAll(fused).isEmpty)
    }
  }

  test("token_ngrams of null text is the empty array") {
    val r = adversarial.filter(col("text").isNull)
      .select(size(call_function("token_ngrams", col("text"), lit(3)))).head()
    assert(r.getInt(0) == 0)
  }

  test("fused scorers drop exactly the docs the explode forms drop") {
    // null text → absent from quality scores; <3 chars → absent from
    // lang-id scores (doc 7 "ab", doc 9 null)
    val q = ops.TextOps.modelScoresOf(adversarial).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(q === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L))
    val l = ops.TextOps.langIdScoresOf(adversarial).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(l === Set(1L, 4L, 5L, 6L, 8L))
  }

  test("expressions resolve in the SQL front end via GraftExtensions") {
    corpus.limit(5).createOrReplaceTempView("m5_docs")
    val r = spark.sql("""
      SELECT md5_bucket16(text) AS b, quality_score(text) AS qs,
             lang_id_scores(text, 5) AS ls, size(token_ngrams(text, 3)) AS n3
      FROM m5_docs""").head()
    assert(r.getInt(0) >= 0 && r.getInt(0) < 65536)
    assert(!r.isNullAt(1) && !r.isNullAt(2) && r.getInt(3) >= 0)
  }
}
