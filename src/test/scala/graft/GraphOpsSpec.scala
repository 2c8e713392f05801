package graft

import graft.ops.GraphOps
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.scalatest.funsuite.AnyFunSuite

/** Quantized-integer PageRank: hand-checked recurrence on tiny graphs,
  * the distributed determinism claim (bit-identical under repartition),
  * mass conservation, and closeness to the float fixed point.
  */
class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark

  private val One = GraphOps.QuantOne

  private def edgesDf(es: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    es.toDF("src", "dst", "w")
  }

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The recurrence computed with BigInt on the driver — the independent
    * mirror the Spark plan must reproduce exactly. */
  private def reference(es: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.size
    val outw = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val base = (BigInt(15) * One / (100 * n)).toLong
    var q = nodes.map(_ -> (One / n)).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _, w) => (BigInt(q(s)) * w / outw(s)).toLong }.sum
      }
      q = nodes.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    q
  }

  test("two-node cycle matches the hand recurrence, both rounds") {
    val es = Seq((1L, 2L, 1L), (2L, 1L, 1L))
    for (iters <- Seq(1, 2, 3)) {
      val got = ranks(GraphOps.pageRank(edgesDf(es), iters))
      assert(got == reference(es, iters), s"iters=$iters")
    }
  }

  test("dangling node keeps only the base term; its mass leaks") {
    val es = Seq((1L, 2L, 1L))
    val got = ranks(GraphOps.pageRank(edgesDf(es), iters = 1))
    val base = (BigInt(15) * One / 200).toLong
    assert(got(1L) == base)
    assert(got(2L) == base + 85L * (One / 2) / 100L)
    assert(got == reference(es, 1))
  }

  test("weighted fan-out splits proportionally with floor semantics") {
    // 1 -> 2 (w=3), 1 -> 3 (w=7); 2,3 dangle
    val es = Seq((1L, 2L, 3L), (1L, 3L, 7L), (2L, 1L, 1L), (3L, 1L, 1L))
    val got = ranks(GraphOps.pageRank(edgesDf(es), iters = 2))
    assert(got == reference(es, 2))
  }

  test("bit-identical under any input partitioning") {
    val rnd = new scala.util.Random(63)
    val es = Seq.fill(400)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong, 1L + rnd.nextInt(9).toLong))
      .filter(e => e._1 != e._2).distinct
    val base = ranks(GraphOps.pageRank(edgesDf(es), iters = 3))
    val shuffled = ranks(GraphOps.pageRank(edgesDf(es).repartition(7), iters = 3))
    assert(base == shuffled)
    assert(base == reference(es, 3))
  }

  test("total quantized mass never exceeds one") {
    val rnd = new scala.util.Random(64)
    val es = Seq.fill(200)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong, 1L + rnd.nextInt(5).toLong))
      .filter(e => e._1 != e._2).distinct
    for (iters <- Seq(1, 2, 4)) {
      val got = ranks(GraphOps.pageRank(edgesDf(es), iters))
      assert(got.values.map(BigInt(_)).sum <= BigInt(One), s"iters=$iters")
    }
  }

  test("quantized ranks track the float recurrence within quantization error") {
    val rnd = new scala.util.Random(65)
    val es = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong, 1L + rnd.nextInt(4).toLong))
      .filter(e => e._1 != e._2).distinct
    val iters = 3
    val got = ranks(GraphOps.pageRank(edgesDf(es), iters))
    // float mirror of the same simplified recurrence
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.size
    val outw = es.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum.toDouble }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = es.groupBy(_._2).map { case (d, g) =>
        d -> g.map { case (s, _, w) => r(s) * w / outw(s) }.sum
      }
      r = nodes.map(v => v -> (0.15 / n + 0.85 * in.getOrElse(v, 0.0))).toMap
    }
    nodes.foreach { v =>
      val quantized = got(v).toDouble / One.toDouble
      // each round floors at most (indegree+2) ulps of 2^-40; 1e-6 is lax
      assert(math.abs(quantized - r(v)) < 1e-6, s"node $v: $quantized vs ${r(v)}")
    }
  }

  private def triangles(es: Seq[(Long, Long)], parts: Int = 3): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.triangleCounts(es.toDF("a", "b").repartition(parts))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle counts: K4, shared-edge pair, and triangle-free shapes") {
    // K4: every node is in C(3,2) = 3 triangles
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    assert(triangles(k4) == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    // two triangles sharing edge (1,2): shared nodes in 2, wings in 1
    val shared = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    assert(triangles(shared) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L))
    // a star and a path have wedges but no closures: empty result
    assert(triangles(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))).isEmpty)
    assert(triangles(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
  }

  test("triangle counts canonicalize direction, duplicates, and self-loops") {
    // the same triangle fed as mixed directions + dup edges + a self-loop
    val messy = Seq((1L, 2L), (2L, 1L), (3L, 2L), (1L, 3L), (1L, 3L), (2L, 2L))
    assert(triangles(messy) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // and the count is partitioning-invariant (exchanges are keyed)
    assert(triangles(messy, parts = 1) == triangles(messy, parts = 7))
  }

  private def bfsMap(es: Seq[(Long, Long)], seeds: Seq[Long], hops: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.bfs(es.toDF("src", "dst"), seeds.toDF("node"), hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("bfs: chain distances, hop bound, and branch min") {
    val chain = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(bfsMap(chain, Seq(0L), 3) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
    // a shortcut 0->3 wins over the 3-hop chain path
    assert(bfsMap(chain :+ (0L, 3L), Seq(0L), 4) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    // two seeds: every node takes its NEAREST seed
    assert(bfsMap(chain, Seq(0L, 4L), 1) ==
      Map(0L -> 0L, 1L -> 1L, 4L -> 0L, 5L -> 1L))
  }

  test("bfs: direction respected, cycles terminate, early exit on empty frontier") {
    // edges point INTO the seed: nothing reachable but the seed itself
    assert(bfsMap(Seq((1L, 0L), (2L, 1L)), Seq(0L), 4) == Map(0L -> 0L))
    // a 3-cycle: all nodes found once, loop must stop re-visiting
    assert(bfsMap(Seq((0L, 1L), (1L, 2L), (2L, 0L)), Seq(0L), 10) ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // maxHops 0: just the deduped seed layer
    assert(bfsMap(Seq((0L, 1L)), Seq(0L, 0L), 0) == Map(0L -> 0L))
  }

  test("bfs: duplicate edges/seeds tolerated and partitioning-invariant") {
    import spark.implicits._
    val es = Seq((0L, 1L), (0L, 1L), (1L, 2L), (1L, 2L))
    val got = GraphOps.bfs(
      es.toDF("src", "dst").repartition(7), Seq(0L, 0L).toDF("node"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    // layers are disjoint: one row per node, no duplicate distances
    val rows = GraphOps.bfs(es.toDF("src", "dst"), Seq(0L).toDF("node"), 2).collect()
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  private def ssspMap(es: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    GraphOps.sssp(es.toDF("src", "dst", "w"), seeds.toDF("node"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Naive reference: min cost over ALL paths of <= rounds edges. */
  private def ssspNaive(es: Seq[(Long, Long, Long)], seeds: Seq[Long],
      rounds: Int): Map[Long, Long] = {
    var best = seeds.distinct.map(_ -> 0L).toMap
    (1 to rounds).foreach { _ =>
      val relaxed = for ((s, d, w) <- es; c <- best.get(s)) yield d -> (c + w)
      best = (best.toSeq ++ relaxed).groupMapReduce(_._1)(_._2)(math.min)
    }
    best
  }

  test("sssp: a cheap 2-hop path beats an expensive direct edge; hop bound flips it") {
    val es = Seq((0L, 2L, 10L), (0L, 1L, 1L), (1L, 2L, 1L))
    // 1 round: only the direct edge fits the bound
    assert(ssspMap(es, Seq(0L), 1) == Map(0L -> 0L, 1L -> 1L, 2L -> 10L))
    // 2 rounds: the 2-edge path (cost 2) wins
    assert(ssspMap(es, Seq(0L), 2) == Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
  }

  test("sssp: parallel edges take the min; negative-free cycles terminate; zero rounds") {
    assert(ssspMap(Seq((0L, 1L, 5L), (0L, 1L, 3L)), Seq(0L), 1) ==
      Map(0L -> 0L, 1L -> 3L))
    assert(ssspMap(Seq((0L, 1L, 1L), (1L, 0L, 1L)), Seq(0L), 10) ==
      Map(0L -> 0L, 1L -> 1L))
    assert(ssspMap(Seq((0L, 1L, 1L)), Seq(0L, 0L), 0) == Map(0L -> 0L))
  }

  test("sssp: frontier form equals the relax-all reference on random graphs") {
    val rnd = new scala.util.Random(117)
    (1 to 5).foreach { _ =>
      val n = 12
      val es = Seq.fill(40)((rnd.nextLong(n), rnd.nextLong(n), rnd.nextLong(9) + 1))
        .filter { case (a, b, _) => a != b }
      val seeds = Seq(0L, rnd.nextLong(n))
      (0 to 4).foreach { r =>
        assert(ssspMap(es, seeds, r) == ssspNaive(es, seeds, r),
          s"mismatch at rounds=$r for edges=$es seeds=$seeds")
      }
    }
  }

  test("bfs/sssp: driver fast path equals the distributed loop (round 21)") {
    // the suite's other tests run tiny graphs, i.e. the driver path;
    // this pins byte-equality against the distributed loop, forced via
    // the conf gate — on random graphs, chains, and a hop/round sweep
    val rnd = new scala.util.Random(21)
    val es = Seq.fill(60)((rnd.nextLong(20), rnd.nextLong(20), rnd.nextLong(5) + 1))
      .filter { case (a, b, _) => a != b } ++
      (30L to 45L).map(i => (i, i + 1, 2L))
    val edgesW = spark.createDataFrame(es).toDF("src", "dst", "w")
    val edges = edgesW.select("src", "dst")
    val seeds = spark.createDataFrame(Seq(Tuple1(0L), Tuple1(30L))).toDF("node")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 to 5).foreach { h =>
      val fastB = m(graft.ops.GraphOps.bfs(edges, seeds, h))
      val fastS = m(graft.ops.GraphOps.sssp(edgesW, seeds, h))
      spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "0")
      val (distB, distS) = try {
        (m(graft.ops.GraphOps.bfs(edges, seeds, h)),
          m(graft.ops.GraphOps.sssp(edgesW, seeds, h)))
      } finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
      assert(fastB == distB, s"bfs diverged at maxHops=$h")
      assert(fastS == distS, s"sssp diverged at rounds=$h")
    }
    // and the over-bound fallback still answers correctly
    spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "3")
    val far = try m(graft.ops.GraphOps.bfs(edges, seeds, 3))
    finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
    assert(far == m(graft.ops.GraphOps.bfs(edges, seeds, 3)))
  }

  /** Runs `body` and fails if it left a cached relation behind: a new
    * CacheManager entry (registered even when nothing materialized it),
    * or a new persisted RDD other than the eager per-round
    * localCheckpoints, which stay persisted by design. */
  private def assertNoCacheLeft(what: String)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val rddsBefore = sc.getPersistentRDDs.keySet
    val entriesBefore = CacheEntries.count(spark)
    body
    val left = (sc.getPersistentRDDs.toMap -- rddsBefore).values.filterNot(_.isCheckpointed)
    assert(left.isEmpty,
      s"$what: cached relations left behind: ${left.map(_.name).mkString("; ")}")
    assert(CacheEntries.count(spark) == entriesBefore,
      s"$what: ${CacheEntries.count(spark) - entriesBefore} cache entries left behind")
  }

  test("bfs/sssp: the distributed path leaves no cached relation behind") {
    import spark.implicits._
    val edgesW = Seq((0L, 1L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L), (0L, 4L, 9L))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L).toDF("node")
    assertNoCacheLeft("bfs/sssp") {
      // a bound below the edge count forces the probe-then-distributed path
      spark.conf.set(GraphOps.DriverGraphMaxEdgesKey, "2")
      val (dist, cost) = try (ranks(GraphOps.bfs(edgesW.select("src", "dst"), seeds, 4)),
        ranks(GraphOps.sssp(edgesW, seeds, 4)))
      finally spark.conf.unset(GraphOps.DriverGraphMaxEdgesKey)
      assert(dist == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L))
      assert(cost == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
    }
  }

  /** Runs `body` and returns what it posted to the listener bus, in
    * order: "job" at each job start, "unpersist <id>" at each RDD
    * unpersist. Also returns the id of the first persisted RDD any of
    * its jobs read, which for an over-bound graph op is the probe's
    * cached copy of its input (the probe is the op's first job over a
    * cached relation). */
  private def busTrace(body: => Unit): (Seq[String], Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    var firstCached = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = trace.synchronized {
        trace += "job"
        val cached = e.stageInfos.flatMap(_.rddInfos)
          .filter(_.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
        if (firstCached < 0 && cached.nonEmpty) firstCached = cached.map(_.id).min
      }
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
        trace.synchronized(trace += s"unpersist ${e.rddId}")
    }
    org.apache.spark.ListenerEvents.drain(sc)
    sc.addSparkListener(listener)
    try { body; org.apache.spark.ListenerEvents.drain(sc) }
    finally sc.removeSparkListener(listener)
    trace.synchronized((trace.toSeq, firstCached))
  }

  test("over-bound CC and sssp hold one cached edge copy: the probe's is released before the loop's last job") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // chains, so both loops run several rounds past the release
    val pairs = spark.range(1, 40).select(col("id").as("a"), (col("id") + 1).as("b"))
    val edgesW = (0L until 12L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
    val runs = Seq[(String, () => DataFrame)](
      "cc" -> (() => graft.ops.DedupOps.connectedComponents(pairs)),
      "sssp" -> (() => GraphOps.sssp(edgesW, Seq(0L).toDF("node"), 5)))
    // both results are eager localCheckpoints; they are collected after
    // the trace, so the op's own jobs are the last ones in it
    val Seq(labels, cost) = runs.map { case (what, run) =>
      var out: DataFrame = null
      spark.conf.set(GraphOps.DriverGraphMaxEdgesKey, "3")
      val (trace, probeCopy) = try busTrace(assertNoCacheLeft(what) { out = run() })
      finally spark.conf.unset(GraphOps.DriverGraphMaxEdgesKey)
      assert(probeCopy >= 0, s"$what: no job read a cached relation")
      val released = trace.indexOf(s"unpersist $probeCopy")
      val lastJob = trace.lastIndexOf("job")
      assert(released >= 0 && released < lastJob,
        s"$what: probe copy rdd $probeCopy released at event $released, " +
          s"after the loop's last job (event $lastJob): ${trace.mkString(", ")}")
      ranks(out)
    }
    assert(labels == (1L to 40L).map(_ -> 1L).toMap)
    assert(cost == (0L to 5L).map(i => i -> i).toMap)
  }

  test("CC and the doc/vector/media stream admissions leave no cached relation behind") {
    import spark.implicits._
    import graft.streaming.{DocStream, MediaStream, VecStream}
    def dirs(tag: String): (String, String) = {
      val root = java.nio.file.Files.createTempDirectory(tag)
      (s"$root/index", s"$root/out")
    }
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    def v(i: Int, w: Float): Seq[Float] = Seq.tabulate(64)(j => if (j == i) w else 0f)
    def bmp(x0: Int) = graft.queries.MultimodalQs.bmpOf(9, 8, (x, _) => x0 + 20 * x)
    def media(rows: (Long, Array[Byte])*) = rows
      .map { case (id, b) => (id, "image", s"mem://$id.bmp", b) }
      .toDF("media_id", "kind", "uri", "bytes")
    val cases: Seq[(String, () => Unit)] = Seq(
      "cc, driver path" -> (() =>
        graft.ops.DedupOps.connectedComponents(edges).collect()),
      "cc, probe then distributed loop" -> { () =>
        spark.conf.set(graft.ops.GraphOps.DriverGraphMaxEdgesKey, "2")
        try graft.ops.DedupOps.connectedComponents(edges).collect()
        finally spark.conf.unset(graft.ops.GraphOps.DriverGraphMaxEdgesKey)
      },
      "DocStream.admitBatch" -> { () =>
        val (indexDir, outDir) = dirs("cache-doc")
        val text = "the quick brown fox jumps over the lazy dog again and again"
        DocStream.seedIndex(Seq((1L, text)).toDF("doc_id", "text"), indexDir)
        DocStream.admitBatch(Seq((9001L, text), (9002L, "purple monkeys deliver " +
          "seventeen umbrellas to the northern lighthouse keeper")).toDF("doc_id", "text"),
          indexDir, outDir, 0L)
      },
      "VecStream.admitBatch" -> { () =>
        val (indexDir, outDir) = dirs("cache-vec")
        VecStream.seedIndex(Seq((0L, v(0, 1f))).toDF("vec_id", "embedding"), indexDir)
        VecStream.admitBatch(Seq((9001L, v(0, 0.95f)), (9002L, v(1, 1f)))
          .toDF("vec_id", "embedding"), indexDir, outDir, 0L)
      },
      "MediaStream.admitBatch" -> { () =>
        val (indexDir, outDir) = dirs("cache-media")
        MediaStream.seedIndex(media(1L -> bmp(10)), indexDir)
        MediaStream.admitBatch(media(11L -> bmp(10), 12L -> bmp(30)), indexDir, outDir, 0L)
      })
    cases.foreach { case (what, run) => assertNoCacheLeft(what)(run()) }
  }

  test("connectedComponentsWithRounds releases its cached edges when a round throws") {
    import org.apache.spark.sql.functions._
    // the symmetric-edge relation is persisted before the first round;
    // the planted row fails that round's job
    val edges = spark.range(1, 8).select(col("id").as("a"),
      when(col("id") === 5L, raise_error(lit("planted edge failure")))
        .otherwise(col("id") + 1L).as("b"))
    assertNoCacheLeft("failed CC") {
      intercept[Exception](graft.ops.DedupOps.connectedComponentsWithRounds(edges))
    }
  }
}
