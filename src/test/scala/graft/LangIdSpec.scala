package graft

import graft.ops.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The hashed char-trigram language classifier (q150 /
  * [[TextOps.langIdScoresOf]]): scores must equal an independent
  * in-Scala reference (same md5 bucketing, same planted integer
  * weights), the argmax tie-break is q32's alphabetical-first, and the
  * q136 `spark.graft.attrs.derivedLang` switch swaps the artifact's
  * lang column for the classifier's argmax.
  */
class LangIdSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  /** Independent reference: trigrams by hand, bucket via
    * MessageDigest-md5 (first 4 hex chars), weights from the same
    * planted formula. */
  private def refScores(text: String): (Long, Seq[Long]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val grams = (0 to text.length - 3).map(i => text.substring(i, i + 3))
    val weights = TextOps.langMarkers.indices.map(TextOps.langIdWeights)
    val sums = Array.fill(weights.size)(0L)
    grams.foreach { g =>
      val hex = md.digest(g.getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      val b = (java.lang.Long.parseLong(hex, 16) % TextOps.LangIdBuckets).toInt
      weights.indices.foreach(i => sums(i) += weights(i)(b))
    }
    (grams.size.toLong, sums.toSeq)
  }

  test("classifier scores equal the in-Scala md5/planted-weight reference") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").orderBy("doc_id").limit(20).collect()
    val langs = TextOps.langMarkers.map(_._1)
    val got = TextOps.langIdScoresOf(Tables.documents(spark, sf))
      .select(col("doc_id") +: col("n_grams") +: col("pred_lang") +:
        langs.map(l => col(s"score_$l")): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    docs.foreach { d =>
      val (nGrams, sums) = refScores(d.getString(1))
      val r = got(d.getLong(0))
      assert(r.getLong(1) == nGrams, s"doc ${d.getLong(0)}: n_grams")
      langs.indices.foreach { i =>
        assert(r.getLong(3 + i) == sums(i),
          s"doc ${d.getLong(0)}: score_${langs(i)}")
      }
      // argmax with alphabetical-first tie-break
      val best = sums.max
      val expectPred = langs(sums.indexWhere(_ == best))
      assert(r.getString(2) == expectPred, s"doc ${d.getLong(0)}: pred")
    }
  }

  /** Code-point reference for [[TextOps.charGrams]] — what DuckDB's
    * `substr`/`length` (character = code point) compute. */
  private def cpGrams(text: String, n: Int): Seq[String] = {
    val cps = text.codePoints.toArray
    (0 to cps.length - n).map(i => new String(cps, i, n))
  }

  test("char_grams indexes by CODE POINT: non-BMP text matches the reference, null is empty") {
    // the round-18 UDF indexed UTF-16 code units, so a surrogate pair
    // counted as two "characters" and grams could split it — silently
    // diverging from the oracle's substr on any non-BMP corpus. The
    // native expression must agree with the code-point reference on
    // multi-byte AND astral text (ADVICE r18).
    import spark.implicits._
    val texts = Seq("héllo wörld", "a🎈b🚀cd",
      "日本語のテキスト", "ab", "the plain ascii case")
    val got = texts.toDF("text")
      .select(col("text"), TextOps.charGrams(col("text")).as("g"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
    texts.foreach(t => assert(got(t) == cpGrams(t, 3), s"text '$t'"))
    val nullGrams = Seq((1, null: String)).toDF("i", "text")
      .select(TextOps.charGrams(col("text")).as("g"))
      .head().getSeq[String](0)
    assert(nullGrams.isEmpty, "null text must yield an EMPTY gram array")
  }

  test("the scoring stage is codegen-native: q150 carries LangIdScores, no ScalaUDF") {
    // the language gate runs the classifier on every admitted
    // micro-batch — the pass must stay inside whole-stage codegen,
    // never a per-row Scala UDF (round-18 verdict wrong #2; the
    // ShingleHash64 convention pin). Round 21 fused the gram walk +
    // md5 bucketing + weight sums into ONE LangIdScores expression
    // (which subsumes the earlier CharGrams stage), evaluated exactly
    // once — a duplicate evaluation (e.g. a filter pushed below the
    // projection, guide §4.4) would double the corpus pass.
    val plan = Queries.byName("q150_lang_classifier").fn(spark, sf)
      .queryExecution.optimizedPlan
    val exprs = plan.collect { case p => p.expressions }.flatten
    val scorers = exprs.flatMap(_.collect {
      case e: graft.expressions.LangIdScores => e
    })
    assert(scorers.nonEmpty,
      "q150's scoring stage no longer uses the native lang_id_scores expression")
    assert(scorers.size == 1,
      s"lang_id_scores appears ${scorers.size} times — duplicated evaluation")
    assert(!exprs.exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])),
      "a per-row Scala UDF crept back into q150's plan")
  }

  test("prediction spreads across several languages (weights are per-language)") {
    val preds = TextOps.langIdScoresOf(Tables.documents(spark, sf))
      .groupBy("pred_lang").count().collect().map(_.getString(0)).toSet
    assert(preds.size >= 2,
      s"planted per-language weights collapsed to one argmax: $preds")
  }

  test("the WRITTEN artifact splits by lang posture: a mid-session flag flip never serves stale labels") {
    // AttrTable's write-once memo used to key on (session, corpus)
    // only, so the artifact froze whichever lang definition was active
    // at first touch and a later flag flip silently served stale labels
    // to artifact consumers (ADVICE r18). Each posture must materialize
    // its own artifact.
    def langs(): Map[Long, String] =
      graft.pipeline.AttrTable.materialized(spark, sf)
        .select("doc_id", "lang")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val givenLabels = langs()
    spark.conf.set("spark.graft.attrs.derivedLang", "true")
    val derived = try langs()
      finally spark.conf.unset("spark.graft.attrs.derivedLang")
    val after = langs()
    val preds = TextOps.langIdScoresOf(Tables.documents(spark, sf))
      .select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    derived.foreach { case (id, l) =>
      assert(l == preds.getOrElse(id, "und"),
        s"doc $id: derived-posture artifact must carry the classifier label")
    }
    assert(after == givenLabels,
      "flipping the flag back must serve the given-label artifact again")
    assert(derived != givenLabels, "fixture too weak: postures indistinguishable")
  }

  test("q136 derivedLang swap: artifact lang == q150 pred_lang under the flag") {
    val q136 = Queries.byName("q136_attribute_table")
    val q150 = Queries.byName("q150_lang_classifier")
    val givenLangs = q136.fn(spark, sf).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spark.conf.set("spark.graft.attrs.derivedLang", "true")
    val derived =
      try q136.fn(spark, sf).select("doc_id", "lang")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      finally spark.conf.unset("spark.graft.attrs.derivedLang")
    val preds = q150.fn(spark, sf).select("doc_id", "pred_lang")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(derived.keySet == givenLangs.keySet, "row set changed under the flag")
    derived.foreach { case (id, l) =>
      assert(l == preds.getOrElse(id, "und"), s"doc $id")
    }
    assert(derived != givenLangs,
      "fixture too weak: derived labels identical to the given column")
  }
}
