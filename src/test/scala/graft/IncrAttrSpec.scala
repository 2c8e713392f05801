package graft

import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.IncrAttrTable

/** Incremental attribute tagging ([[graft.pipeline.IncrAttrTable]], graded
  * end-to-end as q142): batches tag against frozen artifacts only, so the
  * spec pins exactly the properties the incremental path could get wrong —
  * the LM really is frozen at seed (not re-derived per batch), unseen
  * grams take the add-1 backoff, cross-batch near-dups are caught through
  * the resident index, earlier batches never retro-flip, and the
  * selection plan over the artifact touches no `documents` relation.
  */
class IncrAttrSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  import spark.implicits._

  /** The fixed-point integer log2 both engines share (TextQs.lqSparkSql's
    * value semantics): lq(x) = e·2^16 + (x − 2^e)·2^16 div 2^e. */
  private def lq(x: Long): Long = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    e.toLong * 65536L + ((x - (1L << e)) * 65536L) / (1L << e)
  }

  private def doc(id: Long, text: String, lang: String = "en",
      source: String = "web"): (Long, String, String, String, Long) =
    (id, text, lang, source, text.length.toLong)

  private def df(rows: Seq[(Long, String, String, String, Long)]): DataFrame =
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")

  // a 40-token base text (passes the cascade's token-count gate) with
  // distinct-enough vocabulary; suffix words perturb near-dup variants
  private def baseText(seed: String): String =
    (1 to 40).map(i => s"$seed$i the a").mkString(" ")
      .split(" ").take(40).mkString(" ")

  private def freshRoot(): String = {
    val r = java.nio.file.Files.createTempDirectory("incr-attrs").toString
    java.nio.file.Files.delete(java.nio.file.Paths.get(r))
    r
  }

  test("frozen LM: identical later text scores the seed ppl; unseen vocabulary scores lq(V)") {
    val root = freshRoot()
    val seedTxt = "alpha beta gamma delta epsilon zeta eta theta"
    val seed = df(Seq(doc(1L, seedTxt), doc(2L, "alpha beta gamma iota kappa")))
    IncrAttrTable.appendBatch(spark, root, seed)
    // batch 2: doc 10 repeats seed text verbatim; doc 11 is fully unseen
    val unseen = (1 to 6).map(i => s"zulu$i").mkString(" ")
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(10L, seedTxt), doc(11L, unseen))))
    val attrs = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "ppl_q").as[(Long, java.lang.Long)].collect().toMap
    // frozen LM: the identical text must score exactly the seed doc's ppl
    assert(attrs(10L) == attrs(1L),
      s"frozen-LM ppl drifted for identical text: ${attrs(10L)} vs ${attrs(1L)}")
    // fully-unseen grams: every trigram has c3 = 0, c2 = 0, so
    // nlp = lq(0 + V) - lq(0 + 1) = lq(V) and ppl_q = lq(V) exactly.
    val v = spark.read.parquet(s"$root/lm")
      .filter(col("gram_order") === 1).count()
    assert(attrs(11L) == lq(v),
      s"backoff ppl for unseen vocab: got ${attrs(11L)}, want lq($v) = ${lq(v)}")
    // and the LM artifact itself must not have grown past its seed counts
    val lmGrams = spark.read.parquet(s"$root/lm")
      .filter(col("gram_order") === 1).select("gram").as[String].collect().toSet
    assert(!lmGrams.exists(_.startsWith("zulu")), "LM absorbed a later batch")
  }

  test("cross-batch near-dup flags the later doc through the resident index; earlier rows never flip") {
    val root = freshRoot()
    val a = baseText("w")
    val seed = df(Seq(doc(1L, a), doc(2L, baseText("q"))))
    IncrAttrTable.appendBatch(spark, root, seed)
    val afterSeed = spark.read.parquet(s"$root/attrs")
      .orderBy("doc_id").collect().map(_.toString).toSeq
    // doc 10 near-dups doc 1 (one token changed of 40 → J well above 0.8);
    // docs 20/21 are within-batch duplicates of each other
    val nearA = (a.split(" ").dropRight(1) :+ "changed").mkString(" ")
    val b = baseText("x")
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(10L, nearA), doc(20L, b), doc(21L, b))))
    val attrs = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(attrs(10L), "cross-batch near-dup not flagged")
    assert(!attrs(20L) && attrs(21L),
      s"within-batch keep-first expected (20 keeps, 21 dups): $attrs")
    assert(!attrs(1L) && !attrs(2L), "an earlier doc retro-flipped")
    // byte-stability of the already-written rows
    val seedRowsNow = spark.read.parquet(s"$root/attrs")
      .filter(col("doc_id") <= 2).orderBy("doc_id")
      .collect().map(_.toString).toSeq
    assert(seedRowsNow == afterSeed, "appending mutated earlier rows")
  }

  test("monotone-id contract is ENFORCED: an out-of-order append fails loudly") {
    val root = freshRoot()
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(10L, baseText("a")), doc(20L, baseText("b")))))
    // a batch at or below the resident max must throw, not silently
    // mis-flag is_dup
    val ex = intercept[IllegalArgumentException] {
      IncrAttrTable.appendBatch(spark, root, df(Seq(doc(5L, baseText("c")))))
    }
    assert(ex.getMessage.contains("monotone"),
      s"contract violation message not actionable: ${ex.getMessage}")
    // equal-id boundary violates too (strictly-above contract)
    val ex2 = intercept[IllegalArgumentException] {
      IncrAttrTable.appendBatch(spark, root, df(Seq(doc(20L, baseText("d")))))
    }
    assert(ex2.getMessage.contains("monotone"))
    // and a conforming append still lands
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(21L, baseText("e")))))
    val ids = spark.read.parquet(s"$root/attrs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(10L, 20L, 21L), s"unexpected rows after violations: $ids")
  }

  test("broadcastProbe=false de-hints candidate generation AND both verify sides") {
    // the round-14 hazard: ensureBuilt appends corpus HALVES with
    // broadcastProbe=false, but the verify joins broadcast the candidate
    // pairs and the batch's shingle relation unconditionally — at scale
    // that ships half the corpus's shingle arrays to every executor on
    // exactly the path that declared itself non-broadcastable. With
    // auto-broadcast off, a broadcast join can only come from a HINT, so
    // the flag's two positions must flip every one of them.
    val root = freshRoot()
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(1L, baseText("a")), doc(2L, baseText("b")))))
    val batch = df(Seq(doc(10L, baseText("c")), doc(11L, baseText("d"))))
    def broadcasts(probe: Boolean): Int = Memo.scoped { sc =>
      val (attrs, _, _, _) =
        IncrAttrTable.batchPlans(sc, spark, root, batch, broadcastProbe = probe,
          batchId = 1L)
      "BroadcastHashJoin".r.findAllIn(
        attrs.queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)).length
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(broadcasts(probe = true) >= 3,
        "shard posture lost its broadcast probes (band join + 2 verify sides)")
      assert(broadcasts(probe = false) == 0,
        "corpus-sized build still broadcasts — the escape hatch is dead")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("a batch that fails in the dup probe leaves no cache entry behind") {
    // batchPlans persists the batch's shingle and band relations before
    // the dup probe's first bucket collect; the planted row fails that
    // job. The entries are registered even though nothing materialized
    // them, so the check goes through the CacheManager.
    val root = freshRoot()
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(1L, baseText("a")), doc(2L, baseText("b")))))
    // read back from parquet: over a local relation the optimizer would
    // evaluate the planted projection while planning the first action
    val badDir = s"${freshRoot()}/bad"
    df(Seq(doc(10L, baseText("c")), doc(11L, baseText("d")))).write.parquet(badDir)
    val bad = spark.read.parquet(badDir)
      .withColumn("text", when(col("doc_id") === 11L,
        raise_error(lit("planted text failure"))).otherwise(col("text")))
    val before = CacheEntries.count(spark)
    val ex = intercept[Exception](IncrAttrTable.appendBatch(spark, root, bad))
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("planted text failure")), ex)
    assert(ex.getStackTrace.exists(_.getMethodName.contains("dupProbe")),
      "the planted failure surfaced outside the dup probe")
    assert(CacheEntries.count(spark) == before,
      s"${CacheEntries.count(spark) - before} cache entries left by the failed batch")
  }

  test("dup probe reads ONLY the batch's bucket dirs of the resident index (file-exact)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        fileScans(m.relation.cachedPlan)
      case other => other.children.flatMap(fileScans)
    }
    def diskFiles(dir: String): Long = {
      val p = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(p)) 0L
      else {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.count(_.toString.endsWith(".parquet")).toLong
        } finally s.close()
      }
    }
    val prev = spark.conf.getOption(graft.streaming.IndexLayout.BucketsConfKey)
    spark.conf.set(graft.streaming.IndexLayout.BucketsConfKey, "64")
    try {
      val root = freshRoot()
      val rnd = new scala.util.Random(23)
      def rndText(): String =
        Seq.fill(12)(s"w${rnd.nextInt(100000)}").mkString(" ")
      val seedTexts = (1L to 40L).map(i => i -> rndText())
      IncrAttrTable.appendBatch(spark, root,
        df(seedTexts.map { case (i, t) => doc(i, t) }))
      val idx = s"$root/index"
      // fresh appends land in the TAIL (bucket=-2); fold them into real
      // buckets so the probe exercises the pruned read path
      IncrAttrTable.compactIndex(spark, root, newBuckets = 64)
      val totalBandFiles = diskFiles(s"$idx/bands")
      assert(totalBandFiles >= 30, s"seed landed only $totalBandFiles band files")

      // the probe batch: one near-dup of seed doc 1 — its band buckets are
      // computed the way production computes them, off the shared helpers
      val probeText = seedTexts.head._2 + " extra"
      val probeDf = df(Seq(doc(100L, probeText)))
      val probeBuckets = graft.queries.DedupQs.minhashBandsOf(
          graft.queries.DedupQs.shinglesOf(probeDf))
        .select(pmod(col("band_hash"), lit(64)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      assert(probeBuckets.nonEmpty && probeBuckets.size <= 16)
      val expectedBandDirs = probeBuckets.map(b => s"$idx/bands/gen=1/bucket=$b")

      // capture every index file scan the append runs
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String], Long)]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          try fileScans(qe.executedPlan).foreach { sc =>
            val roots = sc.relation.location.rootPaths.map(_.toString)
            if (roots.exists(_.contains(s"$idx/")))
              scans.add((roots.mkString(","), roots, sc.metrics("numFiles").value))
          } catch { case _: Throwable => () }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      def quiesce(): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        var (lastSize, lastChange) = (scans.size, System.currentTimeMillis())
        while (System.currentTimeMillis() - lastChange < 1200) {
          if (System.currentTimeMillis() > deadline)
            throw new RuntimeException("listener bus never quiesced")
          Thread.sleep(50)
          if (scans.size != lastSize) {
            lastSize = scans.size; lastChange = System.currentTimeMillis()
          }
        }
      }
      spark.listenerManager.register(listener)
      try {
        IncrAttrTable.appendBatch(spark, root, probeDf)
        quiesce()
        import scala.jdk.CollectionConverters._
        val events = scans.asScala.toSeq
        val bandScans = events.filter(_._1.contains("/bands/"))
        val shScans = events.filter(_._1.contains("/shingles/"))
        assert(bandScans.nonEmpty, "probe never scanned the resident bands — pin is vacuous")
        // FILE-EXACT: every resident band read is rooted at the probe's own
        // bucket dirs (never the generation root, never another bucket),
        // and reads exactly the files those dirs hold
        bandScans.foreach { case (_, roots0, n) =>
          val roots = roots0.map(_.stripPrefix("file:"))
          assert(roots.forall(r => expectedBandDirs.exists(r.startsWith)),
            s"band scan read outside the probe's buckets: $roots")
          // the scan reads the compacted batch_id=-1 rows (the tail was
          // empty at probe time — compaction just folded it); the
          // probe's own tail slice landed after it ran
          val expectFiles = roots.map(r => diskFiles(s"$r/batch_id=-1")).sum
          assert(n == expectFiles,
            s"band scan read $n files, its bucket dirs hold $expectFiles")
        }
        assert(bandScans.map(_._3).max < totalBandFiles,
          "probe read the whole band index — pruning not material")
        // shingle verify: pruned to candidate-id bucket dirs, a strict
        // minority of the index
        shScans.foreach { case (_, roots, _) =>
          assert(roots.forall(_.contains("/bucket=")),
            s"shingle scan rooted above the bucket level: $roots")
          assert(roots.size < 40, s"shingle scan listed ${roots.size} bucket dirs")
        }
        // and the probe's semantics survived the pruned reads
        val attrs = spark.read.parquet(s"$root/attrs")
          .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
        assert(attrs(100L), "near-dup not flagged through the bucketed probe")
      } finally spark.listenerManager.unregister(listener)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.streaming.IndexLayout.BucketsConfKey, v)
      case None => spark.conf.unset(graft.streaming.IndexLayout.BucketsConfKey)
    }
  }

  test("index compaction between appends: attrs stable, later appends still see pre-compaction residents") {
    val root = freshRoot()
    val a = baseText("p")
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(1L, a), doc(2L, baseText("q")))))
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(10L, baseText("r")))))
    // data-only view: compaction re-clusters the attrs (gen/batch_id
    // bookkeeping changes by design) but must not alter any attribute
    val before = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    IncrAttrTable.compactIndex(spark, root)
    val after = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(after == before, "compaction mutated the attribute table")
    // the folded rows live in batch_id=-1 of the NEW generation and a
    // later append still classifies against them: doc 20 near-dups the
    // COMPACTED doc 1
    val nearA = (a.split(" ").dropRight(1) :+ "changed").mkString(" ")
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(20L, nearA))))
    val attrs = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(attrs(20L), "near-dup missed after compaction — resident rows lost")
    assert(!attrs(1L), "compaction retro-flipped an earlier doc")
    // and the pressure-trigger form is a no-op below its threshold
    assert(!IncrAttrTable.maybeCompactIndex(spark, root, maxDirsPerBucket = 32))
  }

  test("streamed build (AttrStream) equals the batch shard loop byte-for-byte") {
    val base = java.nio.file.Files.createTempDirectory("attr-stream")
    val streamDir = s"$base/stream"
    val batchRoot = s"$base/batch-artifact"
    val streamRoot = s"$base/stream-artifact"
    val t3 = baseText("m")
    val near3 = (t3.split(" ").dropRight(1) :+ "tail").mkString(" ")
    val corpus = Seq(
      doc(1L, baseText("a")), doc(2L, baseText("b")), doc(3L, t3),
      doc(4L, baseText("d")), doc(5L, baseText("e")), doc(6L, baseText("f")),
      doc(7L, baseText("g")), doc(8L, near3), doc(9L, baseText("i")))
    val (half1, half2) = corpus.partition(_._1 <= 5L)

    // the batch shard loop
    IncrAttrTable.appendBatch(spark, batchRoot, df(half1))
    IncrAttrTable.appendBatch(spark, batchRoot, df(half2))

    // the same two shards as stream files, arrival order = id order
    // (FileStreamSource picks oldest-mtime first; pin the mtimes so the
    // order is deterministic rather than write-latency luck)
    def writeShard(rows: Seq[(Long, String, String, String, Long)],
        name: String, mtime: Long): Unit = {
      val tmp = s"$base/tmp-$name"
      df(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(streamDir))
      val dst = java.nio.file.Paths.get(s"$streamDir/$name.parquet")
      java.nio.file.Files.move(part, dst)
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val now = System.currentTimeMillis()
    writeShard(half1, "shard-0", now - 60000)
    writeShard(half2, "shard-1", now - 30000)
    graft.streaming.AttrStream.start(spark, streamDir, streamRoot)
      .awaitTermination()

    def table(root: String): Seq[String] =
      spark.read.parquet(s"$root/attrs")
        .select("doc_id", "lang", "source", "n_chars", "n_tokens", "n_feats",
          "score", "ppl_q", "fail_mask", "is_dup", "batch_id")
        .orderBy("doc_id").collect().map(_.toString).toSeq
    val (b, st) = (table(batchRoot), table(streamRoot))
    assert(b == st,
      s"streamed artifact diverged from the batch build:\nbatch : $b\nstream: $st")
    // sanity: the near-dup really crossed the shard boundary in both
    assert(b.exists(r => r.startsWith("[8,") && r.contains("true")),
      s"cross-shard near-dup not flagged: $b")
  }

  test("re-bucketing compaction: probe reads stay file-exact at the NEW bucket count, semantics intact") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        fileScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        fileScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        fileScans(m.relation.cachedPlan)
      case other => other.children.flatMap(fileScans)
    }
    val prev = spark.conf.getOption(graft.streaming.IndexLayout.BucketsConfKey)
    spark.conf.set(graft.streaming.IndexLayout.BucketsConfKey, "64")
    try {
      val root = freshRoot()
      val rnd = new scala.util.Random(37)
      def rndText(): String =
        Seq.fill(12)(s"v${rnd.nextInt(100000)}").mkString(" ")
      val seedTexts = (1L to 40L).map(i => i -> rndText())
      IncrAttrTable.appendBatch(spark, root,
        df(seedTexts.map { case (i, t) => doc(i, t) }))
      val idx = s"$root/index"
      // fold + GROW: 64 -> 256 buckets (the corpus-density scaling move)
      IncrAttrTable.compactIndex(spark, root, newBuckets = 256)
      assert(graft.streaming.IndexLayout.numBuckets(spark, idx) == 256)
      assert(graft.streaming.IndexLayout.gen(spark, idx) == 1L)

      // probe: a near-dup of seed doc 1; its expected bucket dirs are
      // computed at the NEW count with the canonical expression
      val probeText = seedTexts.head._2 + " extra"
      val probeDf = df(Seq(doc(100L, probeText)))
      val probeBuckets = graft.queries.DedupQs.minhashBandsOf(
          graft.queries.DedupQs.shinglesOf(probeDf))
        .select(pmod(col("band_hash"), lit(256)).cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val expectedBandDirs =
        probeBuckets.map(b => s"$idx/bands/gen=1/bucket=$b")

      val scans = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          try fileScans(qe.executedPlan).foreach { sc =>
            val roots = sc.relation.location.rootPaths.map(_.toString)
            if (roots.exists(_.contains(s"$idx/bands/"))) scans.add(roots)
          } catch { case _: Throwable => () }
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        IncrAttrTable.appendBatch(spark, root, probeDf)
        // listener delivery is async — settle
        val deadline = System.currentTimeMillis() + 60000
        var (lastSize, lastChange) = (scans.size, System.currentTimeMillis())
        while (System.currentTimeMillis() - lastChange < 1200) {
          if (System.currentTimeMillis() > deadline)
            throw new RuntimeException("listener bus never quiesced")
          Thread.sleep(50)
          if (scans.size != lastSize) {
            lastSize = scans.size; lastChange = System.currentTimeMillis()
          }
        }
        import scala.jdk.CollectionConverters._
        val bandScans = scans.asScala.toSeq
        assert(bandScans.nonEmpty, "probe never scanned the resident bands")
        bandScans.foreach { roots0 =>
          val roots = roots0.map(_.stripPrefix("file:"))
          assert(roots.forall(r => expectedBandDirs.exists(r.startsWith)),
            s"band scan outside the RE-BUCKETED probe dirs: $roots")
        }
        val attrs = spark.read.parquet(s"$root/attrs")
          .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
        assert(attrs(100L), "near-dup not flagged through the re-bucketed index")
        assert(!attrs(1L), "re-bucketing retro-flipped an earlier doc")
      } finally spark.listenerManager.unregister(listener)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.streaming.IndexLayout.BucketsConfKey, v)
      case None => spark.conf.unset(graft.streaming.IndexLayout.BucketsConfKey)
    }
  }

  test("manifest folding: compaction collapses per-batch manifests; contract and replay guard still fire") {
    val root = freshRoot()
    // six committed shards -> six per-batch manifest files
    (0 until 6).foreach { k =>
      IncrAttrTable.appendBatch(spark, root,
        df(Seq(doc(10L * k + 1, baseText(s"s$k")), doc(10L * k + 2, baseText(s"t$k")))))
    }
    def metaFiles(): Set[String] = {
      val p = java.nio.file.Paths.get(s"$root/_batchmeta")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(p).iterator().asScala.map(_.getFileName.toString).toSet
    }
    assert(metaFiles().count(_.forall(_.isDigit)) == 6)
    IncrAttrTable.compactIndex(spark, root)
    // folded: one _cumulative record, zero per-batch files — the
    // O(lifetime-batches) listing term is gone
    val after = metaFiles()
    assert(after.contains("_cumulative") && !after.exists(_.forall(_.isDigit)),
      s"manifests not folded: $after")
    // the monotone contract still fires off the folded record
    val ex = intercept[IllegalArgumentException] {
      IncrAttrTable.appendBatch(spark, root, df(Seq(doc(3L, baseText("z")))))
    }
    assert(ex.getMessage.contains("monotone"))
    // a re-delivery AT OR BELOW the folded boundary is a committed
    // batch's replay (only manifested batches fold) — a NO-OP, not a
    // failure: the crash-between-manifest-and-checkpoint-commit case
    // legitimately compacts then replays, and must converge
    val beforeReplay = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(1000L, baseText("y")))), batchId = 2L)
    val afterReplay = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(afterReplay == beforeReplay,
      "a replay below the folded boundary mutated the artifact")
    // and a conforming append still lands, with is_dup visibility across
    // the fold: doc 100 near-dups shard 0's doc 1 (now in batch_id=-1)
    val near = (baseText("s0").split(" ").dropRight(1) :+ "tail").mkString(" ")
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(100L, near))))
    val attrs = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(attrs(100L), "near-dup missed through the folded index")
    assert(attrs.size == 13)
  }

  test("content-independent heal: a crashed batch's residue is swept before the retry plans") {
    val root = freshRoot()
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(1L, baseText("a")), doc(2L, baseText("b")))))
    // batch 1 "crashes": all three writes landed but the manifest never
    // committed — simulate by appending then deleting the manifest and
    // restoring the inflight marker (exactly the on-disk state a crash
    // between the writes and the manifest leaves)
    IncrAttrTable.appendBatch(spark, root,
      df(Seq(doc(10L, baseText("ghost1")), doc(11L, baseText("ghost2")))))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_batchmeta/1"))
    graft.ops.Fs.writeAtomic(s"$root/_batchmeta/_inflight",
      "1".getBytes("UTF-8"), spark.sparkContext.hadoopConfiguration)
    // the retry carries DIFFERENT content (doc 12 only): dynamic
    // overwrite alone would leave docs 10/11 as ghosts in the index
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(12L, baseText("c")))))
    val ids = spark.read.parquet(s"$root/attrs")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 12L), s"ghost attrs survived the heal: $ids")
    // the index holds no ghost rows either: a near-dup of the dead
    // attempt's doc must NOT be flagged
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      doc(20L, (baseText("ghost1").split(" ").dropRight(1) :+ "x").mkString(" ")))))
    val attrs = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(!attrs(20L), "ghost index rows survived the heal and flagged a dup")
    // and compaction can never fold ghosts permanently: batch 3 lands,
    // its manifest is deleted (uncommitted residue with no inflight
    // marker — the id-skipping caller case), then compaction folds —
    // the ghost rows must be DROPPED, not folded into batch_id=-1
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(25L, baseText("ghost3")))))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/_batchmeta/3"))
    IncrAttrTable.compactIndex(spark, root)
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      doc(30L, (baseText("ghost3").split(" ").dropRight(1) :+ "y").mkString(" ")))))
    val attrs2 = spark.read.parquet(s"$root/attrs")
      .select("doc_id", "is_dup").as[(Long, Boolean)].collect().toMap
    assert(!attrs2(30L),
      "an uncommitted batch's rows were folded into the compacted index")
  }

  test("crash mid-LM-seed self-heals: the partial lm/ is replaced by the first committed batch's counts") {
    val root = freshRoot()
    // a crash mid-seed leaves a directory without committed content —
    // bare-existence gating would suppress re-seeding forever
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/lm/_temporary"))
    val seedTxt = "alpha beta gamma delta epsilon zeta eta theta"
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(1L, seedTxt))))
    val grams = spark.read.parquet(s"$root/lm")
      .filter(col("gram_order") === 1).select("gram").as[String].collect().toSet
    assert(grams.contains("alpha"), s"LM not reseeded from the batch: $grams")
    // once a batch has committed, later appends never touch the LM
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(10L, "zulu1 zulu2 zulu3"))))
    val grams2 = spark.read.parquet(s"$root/lm")
      .filter(col("gram_order") === 1).select("gram").as[String].collect().toSet
    assert(grams2 == grams, "LM absorbed a post-seed batch")
  }

  test("AttrStream cold start: an absent stream dir starts an idle query instead of throwing") {
    val base = java.nio.file.Files.createTempDirectory("attr-cold")
    val streamDir = s"$base/not-yet-created"
    val q = graft.streaming.AttrStream.start(spark, streamDir, s"$base/artifact")
    q.awaitTermination()
    // AvailableNow over an empty set terminates cleanly with no artifact
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/artifact/attrs")))
  }

  test("artifact compaction folds attrs batch dirs into ONE doc_id-ranged sorted slice") {
    val root = freshRoot()
    // eight committed shards → eight attrs leaf dirs
    (0 until 8).foreach { k =>
      IncrAttrTable.appendBatch(spark, root,
        df(Seq(doc(10L * k + 1, baseText(s"f$k")), doc(10L * k + 2, baseText(s"g$k")))))
    }
    def liveDirs(rel: String): Seq[String] = {
      val live = IncrAttrTable.liveRelDir(spark, root, rel)
      graft.ops.Fs.list(live, spark.sparkContext.hadoopConfiguration)
        .map(_.getPath.getName).filter(_.startsWith("batch_id=")).sorted
    }
    assert(liveDirs("attrs").size == 8, s"expected 8 leaf dirs: ${liveDirs("attrs")}")
    val before = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    // the fold's width is ADAPTIVE (round 22: file count derives from
    // data size, not the shuffle-partition constant) — a KB advisory
    // size forces several range partitions HERE so the disjointness pin
    // below stays non-vacuous on a 16-row artifact
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
    // the 1 MB minPartitionSize floor would still merge a KB-scale fold
    // to one partition — lower it so the adaptive width actually splits
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128b")
    try IncrAttrTable.compactIndex(spark, root)
    finally {
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    }
    // the live generation holds exactly the folded slice — the
    // O(lifetime-batches) dir listing term is gone from the read path
    assert(liveDirs("attrs") == Seq("batch_id=-1"), liveDirs("attrs").toString)
    val after = IncrAttrTable.attrsOf(spark, root)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(after == before, "the fold changed the attribute rows")
    // doc_id-clustered: per-file min/max ranges are DISJOINT, so a
    // doc-range selection (q138's shape) prunes files by parquet stats
    val ranges = IncrAttrTable.attrsOf(spark, root)
      .groupBy(input_file_name().as("f"))
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .orderBy("lo")
      .as[(String, Long, Long)].collect()
    assert(ranges.length >= 2, s"fold produced ${ranges.length} file(s) — range pin vacuous")
    ranges.sliding(2).foreach { case Array((_, _, hi1), (f2, lo2, _)) =>
      assert(lo2 > hi1, s"file ranges overlap at $f2: hi=$hi1 lo=$lo2")
    }
    // a post-fold append lands beside the slice and the next fold absorbs it
    IncrAttrTable.appendBatch(spark, root, df(Seq(doc(500L, baseText("h")))))
    assert(liveDirs("attrs").size == 2)
    IncrAttrTable.compactIndex(spark, root)
    assert(liveDirs("attrs") == Seq("batch_id=-1"))
    assert(IncrAttrTable.attrsOf(spark, root).count() == 17)
    // default advisory size: a KB-scale fold lands as ONE file — the
    // 32-near-empty-files layout taxed every downstream scan with
    // per-file reader init (q151 scans attrs five times per run)
    val nFiles = IncrAttrTable.attrsOf(spark, root)
      .select(input_file_name()).distinct().count()
    assert(nFiles <= 2, s"tiny fold should land as ~one file, got $nFiles")
  }

  test("a zero-survivor batch folded by compaction never re-seeds the frozen LM") {
    // the regression this pins: foldManifests keeps only the cumulative
    // max batch id; if THAT batch committed zero survivors (manifest,
    // no attrs dir), an attrs-dir-in-manifest check goes vacuously false
    // and the next surviving batch silently re-seeds the frozen LM —
    // every later ppl_q is scored against a different basis than the
    // committed rows. The seed evidence must survive the fold.
    val root = freshRoot()
    val t1 = baseText("a")
    IncrAttrTable.ingestBatch(spark, root,
      df(Seq(doc(1L, t1), doc(2L, baseText("b")))), batchId = 0L)
    val lmSeed = spark.read.parquet(s"$root/lm")
      .orderBy("gram_order", "gram").collect().map(_.toString).toSeq
    // batch 1: every doc near-dups an admitted resident — zero survivors,
    // manifest committed, no attrs dir; it becomes the cumulative max
    IncrAttrTable.ingestBatch(spark, root,
      df(Seq(doc(10L, (t1.split(" ").dropRight(1) :+ "z").mkString(" ")))),
      batchId = 1L)
    IncrAttrTable.compactIndex(spark, root)
    // batch 2 survives — it must TAG against the frozen LM, not re-seed
    IncrAttrTable.ingestBatch(spark, root,
      df(Seq(doc(20L, baseText("c")))), batchId = 2L)
    val lmNow = spark.read.parquet(s"$root/lm")
      .orderBy("gram_order", "gram").collect().map(_.toString).toSeq
    assert(lmNow == lmSeed,
      "the frozen LM was re-seeded after a zero-survivor batch was folded")
    // and the maybeCompact form preserves it too (same fold path)
    IncrAttrTable.ingestBatch(spark, root,
      df(Seq(doc(30L, (t1.split(" ").dropRight(1) :+ "w").mkString(" ")))),
      batchId = 3L)
    IncrAttrTable.compactIndex(spark, root)
    IncrAttrTable.ingestBatch(spark, root,
      df(Seq(doc(40L, baseText("d")))), batchId = 4L)
    assert(spark.read.parquet(s"$root/lm")
      .orderBy("gram_order", "gram").collect().map(_.toString).toSeq == lmSeed)
  }

  test("tail pressure: the compaction trigger fires before probe reads degrade") {
    // every un-compacted append adds one batch dir to the TAIL
    // (bucket=-2), and residentSlice reads the whole tail on every
    // probe — the trigger must fold it before the tail dominates reads
    val root = freshRoot()
    val idx = s"$root/index"
    (1 to 34).foreach { k =>
      IncrAttrTable.appendBatch(spark, root,
        df(Seq(doc(k.toLong, baseText(s"t$k")))))
    }
    import graft.streaming.IndexLayout
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, band_idx INT, band_hash INT")
    def probeFiles(): Int =
      IndexLayout.residentSlice(spark, idx, "bands", Long.MaxValue,
        Seq(0), schema).inputFiles.length
    val beforeFiles = probeFiles()
    assert(beforeFiles >= 34,
      s"tail not accruing one slice per append: $beforeFiles files")
    // 34 tail dirs > the default 32-dir bound — the trigger MUST fire
    assert(IncrAttrTable.maybeCompactIndex(spark, root),
      "pressure trigger did not fire past the tail bound")
    val afterFiles = probeFiles()
    assert(afterFiles < beforeFiles / 4,
      s"probe read did not shrink after the fold: $beforeFiles -> $afterFiles")
    // and below the bound it stays quiet
    assert(!IncrAttrTable.maybeCompactIndex(spark, root))
  }

  test("q142 on a planted dir: selection over the incremental artifact, no documents scan") {
    val dir = java.nio.file.Files.createTempDirectory("incr-corpus")
    // ids 1..9 → mid = 5: docs 1-5 seed, 6-9 increment; doc 8 near-dups
    // doc 3 across the split
    val t3 = baseText("m")
    val near3 = (t3.split(" ").dropRight(1) :+ "tail").mkString(" ")
    df(Seq(
      doc(1L, baseText("a")), doc(2L, baseText("b")), doc(3L, t3),
      doc(4L, baseText("d")), doc(5L, baseText("e")), doc(6L, baseText("f")),
      doc(7L, baseText("g")), doc(8L, near3), doc(9L, baseText("i"))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val sel = Queries.byName("q142_incremental_attrs").fn(spark, dir.toString)
    val rows = sel.select("doc_id", "drop_reason")
      .as[(Long, Option[String])].collect().toMap
    assert(rows(8L).contains("duplicate"), s"cross-split dup not attributed: $rows")
    assert(rows(3L).isEmpty || !rows(3L).contains("duplicate"),
      "keep-first inverted: the LOWER-id partner was dropped")
    // the selection's plan reads the artifact only — no documents relation
    val plan = IncrAttrTable.materialized(spark, dir.toString)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents"),
      s"selection plan still scans documents:\n$plan")
  }

  test("q151's assembly plan reads artifact relations ONLY — no documents scan, labels joined in") {
    // the q138/q149 discipline applied to the incremental artifact: once
    // built, the assembly recipe's plan must touch attrs + labels parquet
    // and never the documents relation (the point of carrying
    // comp/cluster_size/n_types incrementally)
    val sf = "/root/testdata/sf0.001"
    val root = IncrAttrTable.ensureBuilt(spark, sf)
    val plan = IncrAttrTable.clusteredAttrsOf(spark, root)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents"),
      s"q151's recipe plan still scans documents:\n$plan")
    assert(plan.contains("graft-attrs-incr"),
      "q151's recipe plan does not read the incremental artifact")
  }

  // ——— incremental cluster labels (round 19; q151's machinery) ———
  //
  // Fixture geometry (3-token shingle windows, exact J >= 0.8 verify):
  // a shared 35-token prefix P gives every doc 33 prefix windows; the
  // 5-token suffixes control similarity. Within a cluster, docs differ
  // in ONE final token → J = 37/39 ≈ 0.95 (dup). Across clusters the
  // suffixes differ entirely → J = 33/43 ≈ 0.767 (NOT dup, but close —
  // the Jaccard-metric regime where a bridge doc CAN sit >= 0.8 from
  // both). The bridge carries one boundary window of cluster A
  // (p34 p35 a1) and one full suffix window of cluster B (b3 b4 b5) →
  // J = 34/41 ≈ 0.829 to doc1/doc2/doc10 — a genuine two-cluster merge.
  private val pfx = (1 to 35).map(i => s"p$i").mkString(" ")
  private def labDoc(id: Long, suffix: String) = doc(id, s"$pfx $suffix")

  test("label stream: within-batch pairs label; a later bridge doc MERGES two resident clusters") {
    val root = freshRoot()
    // batch 1 → cluster A {1, 2}; batch 2 → cluster B {10, 11}
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(1L, "a1 a2 a3 a4 a5"), labDoc(2L, "a1 a2 a3 a4 ax"))))
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(10L, "b1 b2 b3 b4 b5"), labDoc(11L, "b1 b2 b3 b4 by"))))
    def resolved(): Map[Long, Long] =
      IncrAttrTable.labelsResolved(spark, root)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved() == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L),
      "two disjoint resident clusters expected before the bridge")
    // batch 3: the bridge — dup of doc1/doc2 (cluster A) AND doc10
    // (cluster B); doc11 stays connected only THROUGH doc10's comp,
    // which is exactly the resident re-label union-find must emit
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(20L, "a1 b3 b4 b5"))))
    assert(resolved() ==
      Map(2L -> 1L, 10L -> 1L, 11L -> 1L, 20L -> 1L) + (1L -> 1L),
      "the bridge must re-label cluster B's docs (incl. doc11, reached " +
        "only transitively) to the global component min")
    // the composed read: comp + cluster_size on every attribute row,
    // singletons labeling themselves is implicit (none here — all 5 dup)
    val at = IncrAttrTable.clusteredAttrsOf(spark, root)
      .select("doc_id", "comp", "cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(at == Set(1L, 2L, 10L, 11L, 20L).map(id => (id, 1L, 5L)),
      s"clustered attrs wrong: $at")
  }

  test("both CC paths emit the same labels on the merge fixture") {
    // every label delta builds through DedupOps.connectedComponents: a
    // shard's few pairs take its driver union-find, a corpus-sized build
    // the distributed loop. maxDriverEdges=0 forces the distributed loop,
    // which must resolve the merge fixture to the driver path's answer
    // (the previous test)
    val root = freshRoot()
    spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "0")
    try Seq(
      Seq(labDoc(1L, "a1 a2 a3 a4 a5"), labDoc(2L, "a1 a2 a3 a4 ax")),
      Seq(labDoc(10L, "b1 b2 b3 b4 b5"), labDoc(11L, "b1 b2 b3 b4 by")),
      Seq(labDoc(20L, "a1 b3 b4 b5"))
    ).foreach(b => IncrAttrTable.appendBatch(spark, root, df(b)))
    finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
    val resolved = IncrAttrTable.labelsResolved(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(resolved == Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 20L -> 1L),
      s"distributed CC path diverged from the driver path's answer: $resolved")
  }

  test("labels survive the compaction fold resolved: superseded merge rows die, answers do not change") {
    val root = freshRoot()
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(1L, "a1 a2 a3 a4 a5"), labDoc(2L, "a1 a2 a3 a4 ax"))))
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(10L, "b1 b2 b3 b4 b5"), labDoc(11L, "b1 b2 b3 b4 by"))))
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(20L, "a1 b3 b4 b5"))))
    val before = IncrAttrTable.labelsResolved(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    IncrAttrTable.compactIndex(spark, root)
    val after = IncrAttrTable.labelsResolved(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(after == before, "compaction changed the resolved labels")
    // the fold RESOLVED: one batch_id=-1 dir, and no doc carries two
    // rows anymore (batch 2 wrote 10→10/11→10, batch 3 re-labeled both
    // to 1 — pre-fold that is two rows per doc, post-fold one)
    val live = IncrAttrTable.liveRelDir(spark, root, "labels")
    val folded = spark.read.parquet(s"$live/batch_id=-1")
    assert(folded.groupBy("doc_id").count().filter(col("count") > 1).isEmpty,
      "superseded label rows survived the fold")
    assert(folded.count() == before.size)
    // and a post-compaction append still merges against the folded state
    IncrAttrTable.appendBatch(spark, root, df(Seq(
      labDoc(30L, "a1 a2 a3 a4 a5"))))
    val grown = IncrAttrTable.labelsResolved(spark, root)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grown(30L) == 1L, "post-fold append lost the resident labels")
  }
}
