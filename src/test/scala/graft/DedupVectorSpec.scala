package graft

import graft.queries.{DedupQs, VectorQs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Honest-measurement tests for the approximate operators at sf0.001:
  * the LSH candidate generators must agree with exact brute force where
  * the math guarantees it, and measured recall is asserted where it
  * doesn't.
  */
class DedupVectorSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  test("span dedup: corpus-wide keep-first, in-doc dups removed, edge docs survive") {
    import spark.implicits._
    val docs = Seq(
      // doc 1: 5 tokens = chunks "a b"|"c d"|"e" at k=2
      (1L, "a b c d e"),
      // doc 2 repeats doc 1's first chunk, then its own
      (2L, "a b x y"),
      // doc 3 is entirely doc 1's chunks -> fully deduplicated away
      (3L, "a b c d"),
      // doc 4 repeats a chunk WITHIN itself
      (4L, "p q p q r"),
      (5L, ""))
      .toDF("doc_id", "text")
    val out = graft.ops.DedupOps.spanDedup(docs, "doc_id", "text", 2)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)).getOrElse("<null>")))
    assert(out === Array(
      (1L, 3L, 3L, "a b c d e"),
      (2L, 2L, 1L, "x y"),
      (3L, 2L, 0L, "<null>"),
      (4L, 3L, 2L, "p q r"),
      // split("") = [""], one 1-token chunk of the empty string
      (5L, 1L, 1L, "")))
  }

  test("minhash-LSH output equals exact all-pairs Jaccard >= 0.8") {
    // exact all-pairs via the inverted-index query at threshold 0.8 would
    // be q38@0.5 filtered; compute it directly from q38's exact output
    val exact = DedupQs.q38.fn(spark, sf).filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQs.q36.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact) // 16x4 banding: miss prob ~1e-15 at J>=0.97
  }

  test("simhash output equals minhash output (independent generators)") {
    val a = DedupQs.q36.fn(spark, sf).select("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    val b = DedupQs.q37.fn(spark, sf).select("doc_a", "doc_b").collect().toSeq.map(_.toSeq)
    assert(a == b)
  }

  test("q37 bands its 64-bit SimHash signature at 8 bits: 8 band levels") {
    import spark.implicits._
    val toks = Seq((1L, Seq("a", "b", "c"))).toDF("doc_id", "tokens")
    val levels = graft.ops.DedupOps.simhashBands(toks, "doc_id", DedupQs.SimBandBits)
      .select("band_idx").distinct().count()
    assert(DedupQs.SimBandBits == 8 && levels == 8)
  }

  test("SRP-LSH near-dup candidates are a subset of brute-force pairs, recall measured") {
    val e = Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", graft.ops.VectorOps.cosine(col("e_a"), col("e_b")))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = VectorQs.q43.fn(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // precision 1.0 by construction (exact verify)
    if (brute.nonEmpty) {
      val recall = lsh.size.toDouble / brute.size
      info(f"SRP-LSH recall at cos>=0.45: $recall%.2f (${lsh.size}/${brute.size})")
      assert(recall >= 0.2) // SRP at moderate cosine is recall-limited by design
    }
  }

  test("multi-table SRP (q139): precision 1.0, recall strictly amplifies the single-set floor") {
    // the L-table construction's whole claim: q139's 4-matrix union must
    // find AT LEAST every pair q43's single matrix finds (matrix 0 IS
    // q43's — the table set is a superset) and measurably more on any
    // corpus where single-set recall is below 1
    val e = Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", graft.ops.VectorOps.cosine(col("e_a"), col("e_b")))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = VectorQs.q43.fn(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = VectorQs.q139.fn(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(multi.subsetOf(brute), "q139 verify let a sub-threshold pair through")
    assert(single.subsetOf(multi),
      "q139 lost a pair its own matrix-0 tables find — the union is broken")
    if (brute.nonEmpty) {
      info(f"recall single=${single.size.toDouble / brute.size}%.2f " +
        f"multi(L=4)=${multi.size.toDouble / brute.size}%.2f (of ${brute.size})")
      assert(multi.size.toDouble / brute.size >= single.size.toDouble / brute.size)
    }
  }

  test("SRP band-width knob: 16-bit bands keep precision 1.0 and find extreme near-dups") {
    // near-identical planted pairs (cos ~0.999): a 16-bit band agrees on
    // all 16 sign bits with probability ~0.98^16 ~ 0.74 per table, and
    // any of the 4 tables suffices — the high-cosine regime wide bands
    // are FOR. Candidates still exact-verified, so precision stays 1.0.
    val e = Tables.embeddings(spark, sf)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("e_a"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("e_b"))
    val brute = a.join(b, col("vec_a") < col("vec_b"))
      .withColumn("cos", graft.ops.VectorOps.cosine(col("e_a"), col("e_b")))
      .filter(col("cos") >= 0.45)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.srp.bandBits", "16")
    try {
      val wide = VectorQs.q43.fn(spark, sf)
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(wide.subsetOf(brute), "16-bit bands broke the exact-verify precision")
      // the corpus' extreme pairs (>= 0.9) must survive the wider bands
      val extreme = a.join(b, col("vec_a") < col("vec_b"))
        .withColumn("cos", graft.ops.VectorOps.cosine(col("e_a"), col("e_b")))
        .filter(col("cos") >= 0.9)
        .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      if (extreme.nonEmpty) {
        val got = extreme.intersect(wide).size.toDouble / extreme.size
        info(f"16-bit-band recall at cos>=0.9: $got%.2f (of ${extreme.size})")
        assert(got >= 0.5, "wide bands lost the extreme near-dups they exist for")
      }
    } finally spark.conf.unset("spark.graft.srp.bandBits")
  }

  test("two-level IVF assignment: exact on separable super-groups, exact with one super") {
    import spark.implicits._
    def v(mix: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0f)
      mix.foreach { case (i, w) => a(i) = w.toFloat }
      a.toSeq
    }
    // 4 centroids in 2 well-separated super-groups (axes 0/1 vs 32/33);
    // supers = the %2500 policy subset (cids 0 and 2500)
    val cents = Seq(
      (0L, v(0 -> 1.0)), (100L, v(0 -> 0.9, 1 -> 0.45)),
      (2500L, v(32 -> 1.0)), (2600L, v(32 -> 0.9, 33 -> 0.45)))
      .toDF("cid", "cvec")
    val supers = cents.filter(col("cid") % 2500 === 0)
    val corpus = Seq(
      (1L, v(0 -> 1.0, 1 -> 0.05)),    // cent 0's orbit
      (2L, v(0 -> 0.8, 1 -> 0.5)),     // cent 100's orbit
      (3L, v(32 -> 1.0, 33 -> 0.02)),  // cent 2500's orbit
      (4L, v(32 -> 0.7, 33 -> 0.6)),   // cent 2600's orbit
      (5L, v(0 -> 0.95, 1 -> 0.4)))    // between 0 and 100, same super
      .toDF("id", "vec")
    def cells(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = cells(graft.ops.VectorOps.ivfAssign(corpus, cents))
    val two = cells(graft.ops.VectorOps.ivfAssignTwoLevel(corpus, cents, supers))
    assert(two == flat, s"separable two-level diverged: $two vs $flat")
    // degenerate single super: every centroid is a member, so two-level
    // IS flat — on any data, not just separable
    val one = cells(graft.ops.VectorOps.ivfAssignTwoLevel(
      corpus, cents, cents.filter(col("cid") === 0)))
    assert(one == flat, s"single-super two-level diverged: $one vs $flat")
    // multi-probe: probing BOTH supers covers every centroid, so the
    // result is exactly flat on any data (and the probed path's window
    // routing + vector reattach join must agree with the probe-1 path
    // where probe-1 was already exact)
    val p2 = cells(graft.ops.VectorOps.ivfAssignTwoLevel(corpus, cents, supers, probes = 2))
    assert(p2 == flat, s"probe-2 two-level diverged: $p2 vs $flat")
    val p1Again = cells(graft.ops.VectorOps.ivfAssignTwoLevel(corpus, cents, supers, probes = 1))
    assert(p1Again == flat)
  }

  test("two-level IVF: a super with zero member centroids drops no vectors") {
    import spark.implicits._
    def v(mix: (Int, Double)*): Seq[Float] = {
      val a = Array.fill(64)(0f)
      mix.foreach { case (i, w) => a(i) = w.toFloat }
      a.toSeq
    }
    // supers are DISJOINT from the centroid set and one of them (id 11,
    // on axis 48) is far from every centroid, so it wins zero members in
    // level 1 — the reachable empty-super edge. Vectors nearest that
    // super must re-route to their best live super, not vanish.
    val cents = Seq((0L, v(0 -> 1.0)), (1L, v(32 -> 1.0))).toDF("cid", "cvec")
    val supers = Seq(
      (10L, v(0 -> 0.9, 32 -> 0.1)), (11L, v(48 -> 1.0))).toDF("cid", "cvec")
    val corpus = Seq(
      (1L, v(0 -> 1.0)),               // plainly centroid 0's
      (2L, v(32 -> 1.0)),              // plainly centroid 1's
      (3L, v(48 -> 1.0, 0 -> 0.01)))   // routes to EMPTY super 11 unguarded
      .toDF("id", "vec")
    Seq(1, 2).foreach { p =>
      val out = graft.ops.VectorOps.ivfAssignTwoLevel(corpus, cents, supers, probes = p)
        .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out.keySet == Set(1L, 2L, 3L),
        s"probes=$p: empty super dropped rows — got ${out.keySet}")
      assert(out(1L) == 0L && out(2L) == 1L, s"probes=$p: routing broke: $out")
      assert(out(3L) == 0L, // its best member under the only live super
        s"probes=$p: empty-super vector landed at ${out(3L)}")
    }
  }

  test("mixture sampling: nested rates, default fallthrough, partition-stable") {
    import spark.implicits._
    val df = (0 until 2000).map(i => (i.toLong, s"src${i % 5}")).toDF("id", "src")
    def kept(rates: Map[String, Int], default: Int, parts: Int): Set[Long] =
      graft.ops.SampleOps.mixtureSample(df.repartition(parts),
          col("src"), col("id"), rates, default)
        .select("id").collect().map(_.getLong(0)).toSet
    val at25 = kept(Map("src0" -> 25), 75, 4)
    val at50 = kept(Map("src0" -> 50), 75, 4)
    // nested-sample property: raising one source's rate only ADDS rows
    assert(at25.subsetOf(at50))
    assert(at50.size > at25.size)
    // membership is partitioning-independent
    assert(kept(Map("src0" -> 25), 75, 13) == at25)
    // unmapped sources take the default; rate 0 and 100 are exact
    val all = kept(Map("src1" -> 0), 100, 4)
    assert(!all.exists(_ % 5 == 1) && all.count(_ % 5 == 2) == 400)
    // rates land near their percent (hash-mod uniformity)
    val n0 = at25.count(_ % 5 == 0)
    assert(n0 >= 60 && n0 <= 140, s"src0@25% kept $n0 of 400")
  }

  test("hash splits are exhaustive, disjoint, stable, and roughly proportional") {
    import graft.ops.SampleOps
    val docs = Tables.documents(spark, sf)
    val n = docs.count()
    val split = SampleOps.splitAssign(col("doc_id"), Seq("train" -> 80, "val" -> 90, "test" -> 100))
    val byName = docs.groupBy(split.as("s")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.values.sum == n) // exhaustive + disjoint (one split per row)
    assert(byName("train") > byName.getOrElse("val", 0L)) // ~80 vs ~10
    // stability: the same assignment twice is identical row-for-row
    val a = docs.select(col("doc_id"), split.as("s"))
    assert(a.except(docs.select(col("doc_id"), split.as("s"))).count() == 0)
    // sampleByHash(p) is a subset of sampleByHash(q) for p < q (nested buckets)
    val s10 = SampleOps.sampleByHash(docs, col("doc_id"), 10).select("doc_id")
    val s50 = SampleOps.sampleByHash(docs, col("doc_id"), 50).select("doc_id")
    assert(s10.except(s50).count() == 0)
    intercept[IllegalArgumentException] {
      SampleOps.splitAssign(col("doc_id"), Seq("a" -> 50, "b" -> 40)) // not increasing
    }
  }

  test("q19 approx_count_distinct is within HLL error bounds of the exact count") {
    // q19 is declared rows-only at the oracle gate (DuckDB's HLL differs);
    // its accuracy story lives here: rsd=0.02 ⇒ assert within 3σ = 6%
    val exact = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag").agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = graft.queries.Relational.q19.fn(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val a = approx(k)
      assert(math.abs(a - n).toDouble / n <= 0.06,
        s"flag $k: approx $a vs exact $n exceeds 6% (3x rsd)")
    }
  }

  test("shingle fingerprints are injective on the corpus (counts match string shingles)") {
    // the dedup family's Jaccard arithmetic is exact iff the 64-bit
    // fingerprint never merges two distinct string shingles
    val docs = Tables.documents(spark, sf)
    val mismatch = docs.select(
        size(graft.ops.TextOps.shingles(col("text"))).as("ns"),
        size(graft.ops.TextOps.shingleHashes(col("text"))).as("nh"))
      .filter(col("ns") =!= col("nh")).count()
    assert(mismatch == 0)
    // and globally: distinct fingerprints == distinct string shingles
    val nStr = docs.select(explode(graft.ops.TextOps.shingles(col("text")))).distinct().count()
    val nHash = docs.select(explode(graft.ops.TextOps.shingleHashes(col("text")))).distinct().count()
    assert(nStr == nHash)
  }

  test("connected components: 10k-node chain converges in <= ceil(log2 n) rounds") {
    // the adversarial diameter case pointer jumping exists for: a single
    // path 1-2-...-n. Plain min-propagation needs n-1 rounds; with path
    // doubling the covered label-distance grows geometrically.
    val n = 10000L
    val edges = spark.range(1, n).toDF("a")
      .select(col("a"), (col("a") + 1).as("b"))
    val (labels, rounds) = graft.ops.DedupOps.connectedComponentsWithRounds(edges)
    // + 1: the loop's last round is the no-change fixpoint CONFIRMATION;
    // label convergence itself happens within ceil(log2 n) rounds
    val bound = math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt + 1 // 15
    assert(rounds <= bound, s"took $rounds rounds > log2 bound $bound")
    // and it is still CORRECT: one component, rooted at the min id
    assert(labels.filter(col("comp") =!= 1L).count() === 0)
    assert(labels.count() === n)
  }

  test("connected components: disjoint clusters keep distinct min labels") {
    // two triangles + an isolated edge — labels must not leak across
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L))).toDF("a", "b")
    val got = graft.ops.DedupOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: driver fast path equals the distributed loop") {
    // round-21: small edge lists take a driver union-find (the
    // labelDeltaShard posture generalized); the two paths must be
    // byte-equal on chains, cliques, forests, self-loops, and random
    // graphs. The distributed loop is forced via the conf gate.
    val rnd = new scala.util.Random(21)
    val shapes: Seq[Seq[(Long, Long)]] = Seq(
      (1L to 40L).sliding(2).map(s => (s(0), s(1))).toSeq, // chain
      (for (i <- 1 to 8; j <- (i + 1) to 8) yield (i.toLong, j.toLong)), // clique
      Seq((5L, 5L), (7L, 8L)), // self-loop + edge
      Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))) // random
    shapes.foreach { es =>
      val edges = spark.createDataFrame(es).toDF("a", "b")
      val fast = graft.ops.DedupOps.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "0")
      val dist = try graft.ops.DedupOps.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
      assert(fast == dist, s"paths diverged on ${es.take(5)}...")
    }
  }

  test("connected components: edge lists past the driver bound take the distributed loop") {
    // bound 10 < 39 chain edges → the distributed path must produce
    // the same labels (and the fast path's size probe must not lie)
    val edges = spark.range(1, 40).toDF("a").select(col("a"), (col("a") + 1).as("b"))
    spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "10")
    val got = try graft.ops.DedupOps.connectedComponents(edges)
      .filter(col("comp") =!= 1L).count()
    finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
    assert(got == 0L)
  }

  test("connected components: over-bound probe's scan feeds the distributed loop (one materialization)") {
    // round-22: the size probe LEASE-PERSISTS the pair stream before
    // limiting, so the partitions executeTake scans become the
    // fallback's materialization instead of thrown-away work (at scale:
    // an expensive LSH+verify pair pipeline no longer runs twice when
    // it overruns the driver bound). Count upstream evaluations with an
    // accumulator UDF over a SINGLE-partition edge build — one
    // partition makes the count deterministic: computing a persisted
    // partition stores the whole block, so the probe's scan caches it
    // fully and every later scan (sym's two union legs) must hit cache.
    val acc = spark.sparkContext.longAccumulator("edgeEvals")
    val cnt = udf((x: Long) => { acc.add(1L); x })
    val edges = spark.range(1, 40).coalesce(1).toDF("x")
      .select(cnt(col("x")).as("a"), (col("x") + 1).as("b"))
    spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "10")
    val labels = try graft.ops.DedupOps.connectedComponents(edges).collect()
    finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
    assert(labels.map(r => r.getLong(0) -> r.getLong(1)).forall(_._2 == 1L))
    assert(labels.length == 40)
    assert(acc.value == 39L,
      s"pair stream evaluated ${acc.value} row-times; expected exactly 39 (one materialization)")
  }

  test("checkpoint cleanup still resolves a LogicalRDD (Spark-upgrade tripwire)") {
    // DedupOps.checkpointRdd pattern-matches execution.LogicalRDD out of
    // the analyzed plan — a non-public shape. If a Spark upgrade stops
    // this matching, round cleanup silently reverts to GC-async
    // (bench-noisy): fail HERE.
    val local = spark.range(5).toDF("id").localCheckpoint(true)
    assert(graft.ops.DedupOps.checkpointRdd(local).isDefined,
      "localCheckpoint no longer analyzes to a LogicalRDD — update checkpointRdd")
    assert(graft.ops.DedupOps.checkpointRdd(spark.range(5).toDF("id")).isEmpty,
      "checkpointRdd matched a plain scan — cleanup could unpersist live data")
  }

  test("vocab floor: minCount filters then re-ranks densely; minCount=1 is the identity") {
    import spark.implicits._
    // counts: the=4, a=3, b=3, hapax1=1, hapax2=1
    val flat = Seq("the", "the", "the", "the", "a", "a", "a", "b", "b", "b",
      "hapax1", "hapax2").toDF("tok")
    val full = graft.ops.TextOps.buildVocab(flat, "tok", minCount = 1L)
      .orderBy("tid").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    // ties break token-asc; ids dense from 1
    assert(full == Seq("the" -> 1L, "a" -> 2L, "b" -> 3L,
      "hapax1" -> 4L, "hapax2" -> 5L))
    val floored = graft.ops.TextOps.buildVocab(flat, "tok", minCount = 2L)
      .orderBy("tid").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(floored == Seq("the" -> 1L, "a" -> 2L, "b" -> 3L)) // hapaxes gone, ranks dense
    // survivors keep their relative order from the unfiltered ranking
    val keptOrder = full.filter { case (t, _) => floored.exists(_._1 == t) }.map(_._1)
    assert(keptOrder == floored.map(_._1))
  }

  test("capBuckets: inert below the cap, drops only oversized buckets") {
    import spark.implicits._
    val bands = Seq(
      (1L, 0, 100), (2L, 0, 100), (3L, 0, 100), // bucket of 3
      (4L, 0, 200), (5L, 0, 200),               // bucket of 2
      (6L, 1, 100)                              // bucket of 1
    ).toDF("doc_id", "band_idx", "band_hash")
    val keys = Seq("band_idx", "band_hash")
    // cap >= max bucket: identity
    assert(graft.ops.DedupOps.capBuckets(bands, keys, 3).count() == 6)
    // cap 2: the 3-bucket is dropped whole, everything else survives
    val capped = graft.ops.DedupOps.capBuckets(bands, keys, 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(capped == Set(4L, 5L, 6L))
  }

  test("IVF top-5 overlaps brute-force top-5 (recall@5 measured)") {
    val brute = VectorQs.q41.fn(spark, sf).filter(col("rn") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = VectorQs.q42.fn(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@5 at the default probe budget: $recall%.2f")
    // the round-12 recall contract: >= 0.8 at every measured tier
    // (SURVEY §2.0.2's recall-vs-probe table); at this corpus size the
    // probe-24 default covers every cell, so the index is exhaustive
    assert(recall >= 0.8)
  }

  test("q134 containment: one-directional on quote-inclusion, below any symmetric threshold") {
    import spark.implicits._
    // doc 2 = doc 1 plus a long unique tail: every doc-1 shingle appears
    // in doc 2 (containment(1→2) = 1.0) while Jaccard sits near 1/3 —
    // the asymmetric case q36/q37/q38's symmetric thresholds miss.
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 130).map(i => s"x$i").mkString(" ")
    val other = (200 to 240).map(i => s"y$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("contain-docs")
    Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = DedupQs.q134.fn(spark, dir.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0)), s"expected exactly 1→2 full containment: ${rows.toSeq}")
    // and the symmetric exact join at 0.8 must NOT pair them
    val jac = DedupQs.q38.fn(spark, dir.toString).filter(col("jaccard") >= 0.8).count()
    assert(jac == 0)
  }

  test("q134 prefix filter is COMPLETE: equals brute-force containment on the corpus") {
    // The one-sided prefix bound claims zero recall loss (df cap inert
    // here: max df 7 at this sf) — demand set equality against an
    // independent plain-Scala brute force over the same shingle sets.
    val sh = DedupQs.shingled(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val brute = (for {
      (a, sa) <- sh.toSeq; (b, sb) <- sh.toSeq
      if a != b && sa.nonEmpty && 10L * (sa & sb).size >= 9L * sa.size
    } yield (a, b)).toSet
    val got = DedupQs.q134.fn(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
  }

  test("q130 graded 16-bit simhash: subset of the exact J>=0.8 pairs, output verified-exact") {
    // The 16-bit production shape may MISS pairs beyond its Hamming
    // radius (the documented ~9% delta at replicated tiers) but can
    // never emit a pair the exact verify rejects — so its output must
    // be a subset of the exact all-pairs answer, with every surviving
    // jaccard >= 0.8.
    val exact = DedupQs.q38.fn(spark, sf).filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = DedupQs.q130.fn(spark, sf)
      .select("doc_a", "doc_b", "jaccard").collect()
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    info(s"16-bit FNV banding found ${got.size} of ${exact.size} exact pairs at sf0.001")
    assert(got.subsetOf(exact))
    assert(rows.forall(_.getDouble(2) >= 0.8))
    assert(got.nonEmpty)
  }

  test("IVF at a small probe budget is genuinely approximate: recall holds the documented floor") {
    // At this corpus (10 cells) the probe-24 default is exhaustive, so
    // the >= 0.8 assertions above cannot exercise the approximate
    // regime — this one does: probes=3 scans ~3/10 of the corpus, the
    // documented curve point (SURVEY §2.0.2: 0.28 at probes=3). Floor
    // set with margin below the measured value; the info line records
    // the actual number per run.
    val brute = VectorQs.q41.fn(spark, sf).filter(col("rn") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.ivf.probes", "3")
    try {
      val ivf = VectorQs.q42.fn(spark, sf)
        .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = ivf.intersect(brute).size.toDouble / brute.size
      info(f"IVF recall@5 at probes=3 (10 cells): $recall%.2f")
      assert(recall >= 0.15, "probe-3 recall fell below the documented floor's margin")
      // every probed result is still a REAL corpus vector per query
      assert(ivf.forall { case (q, v) => q != v })
    } finally spark.conf.unset("spark.graft.ivf.probes")
  }

  test("probe-32 is the documented high-recall tier: knob resolves, recall >= default's") {
    // SURVEY §2.0.2's curve records probes=32 at 0.96/1.00/1.00 — the
    // high-recall configuration row. Pin the knob plumbing: setting it
    // must strictly widen the scanned fraction, so recall at 32 can
    // never undercut the probe-24 default on the same corpus.
    val brute = VectorQs.q41.fn(spark, sf).filter(col("rn") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(probes: Option[Int]): Double = {
      probes match {
        case Some(p) => spark.conf.set("spark.graft.ivf.probes", p.toString)
        case None => spark.conf.unset("spark.graft.ivf.probes")
      }
      try {
        val got = VectorQs.q42.fn(spark, sf)
          .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        got.intersect(brute).size.toDouble / brute.size
      } finally spark.conf.unset("spark.graft.ivf.probes")
    }
    val atDefault = recallAt(None)
    val at32 = recallAt(Some(32))
    info(f"recall@5 default=$atDefault%.2f probe32=$at32%.2f")
    assert(at32 >= atDefault)
    assert(at32 >= 0.9)
  }

  test("IVF-PQ top-5 overlaps brute-force top-5 (recall@5 measured), deterministic") {
    val brute = VectorQs.q41.fn(spark, sf).filter(col("rn") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run(): Seq[(Long, Long, Int)] = VectorQs.q66.fn(spark, sf)
      .select("qid", "vec_id", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val first = run()
    val pq = first.map { case (q, v, _) => (q, v) }.toSet
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"IVF-PQ recall@5 at the default probe budget: $recall%.2f")
    // same >= 0.8 contract as plain IVF: the shortlist scales with the
    // probed pool, so PQ quantization error cannot undercut it here
    assert(recall >= 0.8)
    // the approximate path must still be reproducible run-to-run
    assert(run() == first)
  }

  test("semantic dedup equals brute-force SemDeDup policy at sf0.01") {
    // independent oracle: recompute cells and the keep set in plain Scala
    // with the same sequential-fold doubles, then demand set equality
    val dir = "/root/testdata/sf0.01"
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Array[Float], b: Array[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    val cents = rows.filter(_._1 % 50 == 0)
    val cell = rows.map { case (id, v) =>
      // ties break on the lowest centroid id, like ivfAssign
      id -> cents.maxBy { case (cid, cv) => (cos(v, cv), -cid) }._1
    }.toMap
    val byCell = rows.groupBy { case (id, _) => cell(id) }
    val dropped = (for {
      (_, members) <- byCell.toSeq
      (bId, bVec) <- members
      if members.exists { case (aId, aVec) => aId < bId && cos(aVec, bVec) >= 0.40 }
    } yield bId).toSet
    val expected = rows.map(_._1).filterNot(dropped).map(id => (id, cell(id))).toSet

    val got = VectorQs.q78.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped.nonEmpty, "threshold must actually drop rows at sf0.01")
    info(s"semantic dedup: ${dropped.size} of ${rows.length} dropped")
    assert(got == expected)
  }

  test("q38 df-cap loses ONLY boilerplate-margin pairs, never rare-shingle signal") {
    // miniature of the df-cap sweep whose full curve is in SURVEY
    // §2.0.2: one boilerplate template stamped on 120 docs; a STRONG
    // pair whose overlap is rare shingles, and a MARGIN pair that only
    // clears J >= 0.5 when the template's shingles are counted
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    def words(n: Int): Seq[String] = Seq.fill(n)(s"w${rnd.nextInt(20000)}")
    val template = (0 until 14).map(i => s"bp$i")
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    (1L to 120L).foreach(i => docs += i -> (words(60) ++ template).mkString(" "))
    val strongBase = words(60)
    docs += 1001L -> strongBase.mkString(" ")
    docs += 1002L -> strongBase.updated(10, "mutA").updated(30, "mutB").mkString(" ")
    val shared = words(30)
    docs += 2001L -> (shared ++ words(14) ++ template).mkString(" ")
    docs += 2002L -> (shared ++ words(14) ++ template).mkString(" ")

    val dir = java.nio.file.Files.createTempDirectory("dfcap-spec").toString
    docs.toSeq.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def pairs(cap: Long): Set[(Long, Long)] =
      DedupQs.ngramJaccardPairs(spark, dir, cap)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // template df = 122 > 100: the graded cap drops the margin pair but
    // must keep the strong pair; cap >= df recovers the margin pair
    val capped = pairs(100L)
    assert(capped.contains((1001L, 1002L)), "df-cap lost a rare-shingle pair")
    assert(!capped.contains((2001L, 2002L)),
      "boilerplate-margin pair survived a cap below the template df")
    val uncapped = pairs(Long.MaxValue)
    assert(uncapped.contains((1001L, 1002L)) && uncapped.contains((2001L, 2002L)))
  }
}
