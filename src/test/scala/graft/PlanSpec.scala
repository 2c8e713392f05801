package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression tests: the 100-TB posture facts documented in
  * SURVEY.md §2.0.1 asserted against the actual physical plans, so a
  * refactor that silently loses a pushdown, a partial aggregate, or a
  * broadcast fails CI instead of only showing up as a bench regression.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkSessions.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.byName(name).fn(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q16: filters are pushed into the parquet scan") {
    val p = plan("q16_filter_scan")
    val pushed = "PushedFilters: \\[([^\\]]+)\\]".r.findFirstMatchIn(p)
    assert(pushed.exists(_.group(1).trim.nonEmpty), "no non-empty PushedFilters in plan")
  }

  test("q42: cell assignment partially aggregates BEFORE any exchange") {
    val p = plan("q42_ann_ivf")
    // the Kx-expanded cross join must collapse map-side: a partial max_by
    // exists, and it sits below the exchange in the operator listing
    assert(p.contains("partial_max_by"), "no partial max_by — expansion would shuffle")
    assert(p.contains("BroadcastNestedLoopJoin"), "centroids not broadcast")
  }

  test("q41: query side broadcast, top-k pruned by WindowGroupLimit") {
    val p = plan("q41_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin"), "query set not broadcast")
    assert(p.contains("WindowGroupLimit"), "no group-limit pruning before the rank window")
  }

  test("q17: dedup window prunes with a partial WindowGroupLimit") {
    val p = plan("q17_dedup_window")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q15: top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q15_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q46: every window is bucket-partitioned or bucket-sized — no corpus-wide single partition") {
    val p = plan("q46_sequence_pack")
    // the intra-bucket cumsum must be partitioned by bucket; the only
    // unpartitioned window is the bucket-offset cumsum over the tiny
    // bucket relation (its child is the post-aggregation of __btot)
    assert(p.contains("windowspecdefinition(__bucket"),
      "intra-bucket cumsum lost its bucket partitioning")
  }

  test("q47: per-stratum cap prunes with a partial WindowGroupLimit before the exchange") {
    val p = plan("q47_balanced_sample")
    assert(p.contains("WindowGroupLimit"),
      "no group-limit pruning for the stratum-cap window")
    assert(p.contains("Partial"),
      "stratum cap has no PARTIAL group limit — the full stratum would cross the exchange")
  }

  test("q44/q45: corpus side joins broadcast the small derived relation") {
    assert(plan("q45_vocab_encode").contains("BroadcastHashJoin"), "vocab join not broadcast")
  }

  test("q48: gram counts partially aggregate before their exchange; native expression in plan") {
    val p = plan("q48_repetition")
    assert(p.contains("ngram_hash64"),
      "repetition metrics regressed off the native multiset fingerprints")
    assert(p.contains("partial_count"),
      "(doc, gram) counting has no map-side partial aggregation")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q49: top-k-per-doc prunes with a partial WindowGroupLimit before the exchange") {
    val p = plan("q49_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"),
      "no group-limit pruning for the per-doc top-k window")
    assert(p.contains("Partial"),
      "per-doc top-k has no PARTIAL group limit — every (doc, term) row would cross the exchange")
    assert(p.contains("BroadcastHashJoin"), "df relation not broadcast")
  }

  test("q43: packed SRP expression in plan, verify joins broadcast, no cross join") {
    val p = plan("q43_embedding_near_dup")
    assert(p.contains("vec_srp_bits"),
      "plane projections regressed off the packed codegen expression")
    assert(p.contains("BroadcastHashJoin"), "verify/cap joins not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "q43 plan contains an all-pairs join")
  }

  test("q79/q81: scans prune to the consumed columns (text never read)") {
    // the text column is the corpus' bulk — a lost projection pushdown
    // here costs a full-corpus decode at 100 TB
    val p81 = plan("q81_mixture_sample")
    assert(p81.contains("ReadSchema: struct<doc_id:bigint,source:string>"),
      "q81 scan reads more than doc_id+source")
    val p79 = plan("q79_hll_distinct")
    assert(p79.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      "q79 scan reads more than user_id+event_type")
  }

  test("q36: band relation is served from cache, not recomputed per consumer") {
    // force the memoized relations to exist, then check the plan reads them
    Queries.byName("q36_minhash_lsh").fn(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q36_minhash_lsh")
    assert(p.contains("InMemoryTableScan"), "band/shingle relations not cached")
  }

  test("q67: the Misra-Gries sketch partially aggregates map-side before its exchange") {
    val p = plan("q67_heavy_hitters")
    assert(p.contains("partial_misragries"),
      "sketch not partial — every raw token row would shuffle to one reducer")
    assert(p.contains("BroadcastHashJoin"),
      "candidate set not broadcast for the exact-verify semi-join")
  }

  test("q69: probe grams broadcast; corpus filtered by a semi-join, never paired") {
    val p = plan("q69_decontaminate")
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      "decontamination lost its broadcast semi-join shape")
    assert(!p.contains("SortMergeJoin LeftSemi"),
      "probe grams shuffled instead of broadcast")
  }

  test("runtime bloom filter injects on a selectively-filtered fact-fact join") {
    // The 100-TB posture fact: when a big-big equi-join has a selective
    // predicate on one side, Spark's InjectRuntimeFilter builds a bloom
    // filter from that side and applies it UNDER the other side's scan,
    // so most probe rows die before the shuffle. The default thresholds
    // (creation side < 10 MB after filtering, application side scan >
    // 10 GB) are tuned for exactly the cluster scale we target; at test
    // scale the application-side floor is lowered to let the rule fire,
    // proving the session's plans are runtime-filter-eligible (shape,
    // join keys, selective-filter detection) end to end.
    import org.apache.spark.sql.functions._
    val s = spark
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val urgent = Tables.orders(s, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val j = Tables.lineitem(s, sf)
        .join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      val p = j.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(p.contains("might_contain") || p.contains("bloom_filter"),
        "no runtime bloom filter under the probe-side scan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("q88: per-step type filters pushed; per-user mins partial; acc frames cached") {
    // force execution so the fold's ensurePersisted caches materialize
    Queries.byName("q88_funnel").fn(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q88_funnel")
    assert(p.contains("EqualTo(event_type,view)"),
      "step-1 type filter not pushed to the parquet scan")
    assert(p.contains("partial_min"),
      "per-user min not partial — a hot user's events would all shuffle")
    assert(p.contains("InMemoryTableScan"),
      "accumulated step frames not cached — prefix plans re-derive 2^(k-1) times")
  }

  test("q91: kNN-graph window prunes top-3 map-side; cells cached; vectors off the window") {
    Queries.byName("q91_knn_graph").fn(spark, sf)
      .write.format("noop").mode("overwrite").save()
    val p = plan("q91_knn_graph")
    assert(p.contains("WindowGroupLimit"),
      "no partial group-limit before the per-qid ranking exchange")
    assert(p.contains("InMemoryTableScan"), "cell relation not served from cache")
    assert(!p.contains("CartesianProduct"), "kNN pairs fell back to a cartesian join")
  }

  test("q90: triangle closure stays keyed — no cartesian, counts partial") {
    val p = plan("q90_triangles")
    assert(!p.contains("CartesianProduct"),
      "wedge/closure joins fell back to a cartesian product")
    assert(p.contains("partial_count"),
      "per-node triangle counts have no map-side partial aggregation")
    assert(p.contains("windowspecdefinition(user_id"),
      "edge-build window lost its per-user partitioning")
  }

  test("q89: CMS pass reads only (event_type, ts); counts partially aggregate") {
    val p = plan("q89_cms_daily_counts")
    assert(!p.contains("props"), "q89 read the props column it never uses")
    assert(p.contains("partial_count"),
      "daily counts not partial — every event row would shuffle")
  }

  test("q94: both SCD2 window passes ride ONE user-keyed exchange and sort") {
    val p = plan("q94_scd2_history")
    // the run-start filter preserves partitioning+order, so the
    // lead/row_number pass must NOT re-exchange or re-sort: exactly two
    // exchanges total (the data one + the final presentation orderBy).
    // Formatted mode prints each node once in the tree ("Exchange (4)")
    // and once as a detail header ("(4) Exchange") — count the headers.
    val exchanges = "\\(\\d+\\) Exchange\\b".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges (data + orderBy), got $exchanges")
    assert("windowspecdefinition\\(user_id".r.findAllIn(p).length >= 2,
      "both window passes should partition by user_id")
  }

  test("q96: dictionary broadcast on blocked keys — hash join, no nested loop") {
    val p = plan("q96_fuzzy_match")
    assert(p.contains("BroadcastHashJoin"),
      "length-blocked match lost its broadcast equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "fuzzy match fell back to an unblocked pair scan")
  }

  test("q97: ONE corpus scan feeds the cached histogram; medians broadcast back") {
    val df = Queries.byName("q97_mad_outliers").fn(spark, sf)
    val sp = df.queryExecution.sparkPlan
    // every consumer (median scan, deviation re-histogram, roll-up) must
    // read the persisted histogram, not re-scan events: zero file scans
    // in the main plan (the one corpus scan lives INSIDE the cached
    // relation), >= 3 cache reads, broadcast joins for median/MAD
    val fileScans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.length
    val cacheReads = sp.collect {
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => c }.length
    assert(fileScans == 0, s"histogram not reused — $fileScans direct file scans")
    assert(cacheReads >= 3, s"expected >= 3 histogram cache reads, got $cacheReads")
    assert(sp.toString.contains("BroadcastHashJoin"), "median/MAD joins not broadcast")
  }

  test("q100: top-20 is TakeOrdered (no global sort); corpus scanned exactly twice") {
    val df = Queries.byName("q100_collocations").fn(spark, sf)
    val sp = df.queryExecution.sparkPlan
    assert(sp.toString.contains("TakeOrderedAndProject"),
      "global top-20 degraded to a full sort + limit")
    val fileScans = sp.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.length
    // uni+bi are cached: only their two builds may scan the corpus, and
    // on a warm session even those serve from cache (0 direct scans)
    assert(fileScans <= 2, s"expected <= 2 direct corpus scans, got $fileScans")
  }

  test("q101: merge is ONE keyed join per arm — no cartesian, no nested loop") {
    val p = plan("q101_cdc_merge")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "merge fell back to an unkeyed join")
    assert(p.contains("FullOuter") || p.contains("full_outer"),
      "snapshot/changeset join lost its full-outer form")
  }

  test("q102: every data-sized window is bucket-partitioned (two-level scan held)") {
    val p = plan("q102_weighted_sample")
    // the ONLY unpartitioned window allowed is the bounded bucket-totals
    // cumsum (its windowspec orders by __bucket); the per-row cumsum must
    // be partitioned by __bucket
    assert(p.contains("windowspecdefinition(__bucket"),
      "intra-bucket cumsum lost its bucket partitioning — corpus would single-partition")
  }

  test("q144: split is projection-cheap — no cartesian, size join keyed, md5 in-plan") {
    val p = plan("q144_cluster_split")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "cluster-split join fell back to an unkeyed pairing")
    // round 21: the split hash is the native md5_bucket16 (the same
    // digest-prefix integer as the old conv(substring(md5 ..)) chain)
    assert(p.contains("md5_bucket16("), "portable split hash not computed in-plan")
    assert(p.contains("partial_count") || p.contains("Partial"),
      "cluster sizes lost their map-side partials")
  }

  test("q145: the budget cumsum is bucket-partitioned — no corpus-wide single partition") {
    val p = plan("q145_token_budget_select")
    assert(p.contains("windowspecdefinition(__bucket"),
      "intra-bucket cumsum lost its bucket partitioning — corpus would single-partition")
  }

  test("q146: window cut is a per-row generate over a pruned two-column scan") {
    val p = plan("q146_context_windows")
    assert(p.contains("Generate") && p.contains("explode(sequence("),
      "window starts not generated in-plan")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "scan reads more than (doc_id, text) — column pruning lost")
    // the only exchange is the presentation sort: windows never leave
    // their document's task
    assert("Exchange".r.findAllIn(p).length <= 2,
      "window cut shuffles beyond the presentation sort")
  }

  test("q105: grid explodes from sequence, join stays keyed") {
    val p = plan("q105_gap_fill")
    assert(p.contains("sequence("), "hour grid not generated in-plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "grid join fell back to an unkeyed pairing")
  }

  test("q108: correlated subqueries decorrelate — no per-row subquery execution") {
    val p = plan("q108_scalar_subquery")
    assert(!p.contains("Subquery") && !p.contains("CartesianProduct"),
      "a correlated scalar subquery survived as per-row execution")
    assert(p.contains("BroadcastHashJoin"),
      "decorrelated aggregates not joined back by hash")
  }

  test("q109: LATERAL top-k reaches the partial-pruned ranking window") {
    val p = plan("q109_lateral_topk")
    assert(p.contains("WindowGroupLimit"),
      "lateral LIMIT not rewritten to a group-limit-pruned window")
    assert(!p.contains("CartesianProduct"),
      "lateral join fell back to a cartesian product")
  }

  test("q111: overlap join stays keyed on buckets — no cartesian, both sides replicated in-plan") {
    val p = plan("q111_overlap_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "overlap join fell back to an all-pairs product")
    assert("\\(\\d+\\) Generate\\b".r.findAllIn(p).length == 2,
      "expected exactly two bucket-replication Generates (one per side)")
  }

  test("q99: time-range window keeps its per-user partitioning") {
    val p = plan("q99_rolling_1h")
    assert(p.contains("windowspecdefinition(user_id"),
      "rolling window lost its user partitioning — corpus would single-partition")
    assert(p.contains("specifiedwindowframe(RangeFrame"),
      "frame degraded from RANGE to ROWS semantics")
  }

  test("q112: probe/df/N relations broadcast; per-query top-5 partially pruned") {
    val p = plan("q112_bm25_retrieval")
    assert("BroadcastExchange".r.findAllIn(p).length >= 3,
      "probe terms / df / N not all broadcast — a dimension-sized side shuffled")
    assert(p.contains("WindowGroupLimit"),
      "per-query top-5 not group-limit pruned before the rank window")
  }

  test("q113: transition lag rides ONE user-keyed exchange; row-total windows the matrix, not the data") {
    val p = plan("q113_event_transitions")
    assert(p.contains("windowspecdefinition(user_id"),
      "lag window lost its user partitioning")
    // exchanges: user-keyed (lag), matrix-keyed agg + its window, presentation sort —
    // the load-bearing fact is the row-total window keys on prev_type (matrix-sized)
    assert(p.contains("windowspecdefinition(prev_type"),
      "row-total window not keyed on prev_type — would single-partition the corpus")
  }

  test("q115: dim stats partially aggregate before the one exchange") {
    val p = plan("q115_feature_stats")
    assert(p.contains("partial_count"),
      "no map-side combine — every exploded element would shuffle")
    assert(p.contains("hashpartitioning(dim"),
      "aggregate not keyed on dim")
  }

  test("q116: gram counts partially aggregate; one corpus scan feeds all three orders") {
    val p = plan("q116_lm_gram_counts")
    assert("FileScan|Scan parquet".r.findAllIn(p).length <= 1 ||
      "Location.*documents".r.findAllIn(p).length <= 1,
      "documents scanned more than once — the one-pass lmGrams contract broke")
    assert(p.contains("partial_count"),
      "no map-side combine on (order, gram)")
  }

  test("q118: histogram counts partially aggregate; share window runs over the histogram") {
    val p = plan("q118_feature_histogram")
    assert(p.contains("partial_count"),
      "no map-side combine — every exploded element would shuffle")
    assert(p.contains("windowspecdefinition(dim"),
      "share window lost its per-dim partitioning")
  }

  test("q120: both EXISTS decorrelate to semi/anti joins — no per-row subquery") {
    val p = plan("q120_exists_chain")
    assert(p.contains("LeftSemi"), "EXISTS not rewritten to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS not rewritten to an anti join")
    assert(!p.contains("CartesianProduct"), "correlation fell back to a cartesian")
  }

  test("q126: bucketed join carries NO join-side exchange — the layout pre-paid the shuffle") {
    // broadcast off: at test sf the dimension is broadcast-small, which
    // ALSO avoids the shuffle but proves nothing about bucketing — the
    // production regime (both sides big) is SMJ, and the pin is that it
    // reads the buckets instead of exchanging
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val p = plan("q126_bucketed_join")
      assert(!"hashpartitioning\\((o|c)_custkey".r.findFirstIn(p).isDefined,
        "join sides shuffled — bucketing not picked up at read time")
      assert(p.contains("SortMergeJoin"),
        "expected a co-located SMJ over the bucketed tables")
      assert(p.contains("Bucketed: true"),
        "scan did not recognize the bucketed layout")
    } finally spark.conf.set(key, old)
  }

  test("q121: multiset ops plan as count-aggregate + replicate-rows Generates, not match joins") {
    val p = plan("q121_multiset_ops")
    assert("\\(\\d+\\) Generate\\b".r.findAllIn(p).length == 3,
      "expected one replicate_rows Generate per multiset operator")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "multiset op degraded to a row-match join")
  }

  test("q123: novelty first-occurrence aggregates partially; shingles served from the family cache") {
    val p = plan("q123_novelty_score")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      "no map-side combine on the first-occurrence aggregate")
    assert(p.contains("InMemoryTableScan"),
      "doc_shingles not served from the shared family cache")
  }

  test("q114: prefix-filter join is keyed on shingles — no cartesian, df broadcastable") {
    val p = plan("q114_prefix_filter_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "candidate generation fell back to an all-pairs product")
    assert(p.contains("windowspecdefinition(doc_id"),
      "prefix rank window lost its per-doc partitioning")
  }

  test("q130: sign-sums partially aggregate; band join keyed, never all-pairs") {
    val p = plan("q130_simhash16")
    assert(p.contains("partial_sum"),
      "no map-side combine on the 64 per-doc sign sums")
    assert(!p.contains("CartesianProduct"),
      "band candidate generation fell back to a product")
    assert(p.contains("bit_count"),
      "Hamming post-filter missing — the collision mass would reach the verify")
  }

  test("q131: NLL aggregate partially combines; corpus text never enters an exchange") {
    val p = plan("q131_lm_perplexity")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side combine on the doc-keyed NLL aggregate")
    assert(p.contains("hashpartitioning(gram") || p.contains("hashpartitioning(doc_id"),
      "score lookup/aggregate lost its key")
    // spark.graft.lm.broadcastMaxGrams guards the vocabulary-sized score
    // table's broadcast hint. Auto-broadcast off so only a hint can
    // broadcast: inside the bound the gram ⋈ score join broadcasts, past
    // it the join shuffles, and the hinted vocabulary crossJoin stays a
    // broadcast either way. The answer does not move.
    def simplePlan(): String =
      Queries.byName("q131_lm_perplexity").fn(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    def scoreBroadcasts(p: String): Int =
      "BroadcastHashJoin \\[gram".r.findAllIn(p).length
    val default = Queries.byName("q131_lm_perplexity").fn(spark, sf).collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(scoreBroadcasts(simplePlan()) == 1,
        "score join not broadcast inside spark.graft.lm.broadcastMaxGrams")
      spark.conf.set("spark.graft.lm.broadcastMaxGrams", "0")
      val past = simplePlan()
      assert(scoreBroadcasts(past) == 0,
        "score join still broadcast past spark.graft.lm.broadcastMaxGrams — the guard is dead")
      assert(past.contains("BroadcastNestedLoopJoin"),
        "the vocabulary crossJoin lost its broadcast")
      assert(Queries.byName("q131_lm_perplexity").fn(spark, sf).collect().toSeq == default,
        "the shuffled score join changed q131's answer")
    } finally {
      spark.conf.unset("spark.graft.lm.broadcastMaxGrams")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q133: bucket table broadcast; per-doc weight partially aggregates; top-100 heap") {
    val p = plan("q133_dsir_selection")
    assert(p.contains("BroadcastExchange"),
      "the 4096-row delta table not broadcast — a corpus-sized shuffle would appear")
    assert(p.contains("partial_sum"),
      "no map-side combine on the per-doc weight sum")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-100 not a bounded heap — a full sort would run at corpus size")
  }

  test("q135: per-source ranking prunes with a partial group limit before its exchange") {
    val p = plan("q135_source_quota")
    assert(p.contains("WindowGroupLimit"),
      "quota rank not group-limit pruned — every scored row would shuffle")
    assert(p.contains("windowspecdefinition(source"),
      "ranking window lost its per-source partitioning")
  }

  test("q138: selection reads ONLY the written attribute artifact — zero documents scans") {
    // the Dolma-architecture claim q138 exists to prove: once the tag
    // job wrote the artifact, a selection recipe is a projection over
    // it — the plan must scan the artifact parquet and nothing else
    // (no documents relation = no re-tagging, no re-derived pair join)
    val p = plan("q138_attr_select")
    assert(p.contains("graft-attrs"),
      "selection plan does not scan the written attribute artifact")
    assert(!p.contains("documents"),
      "selection plan still scans the documents table — the recipe re-tags")
    // single file scan: every Location line in the formatted plan points
    // at the artifact, so the only input is the written table
    val locs = "Location:.*\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(locs.nonEmpty && locs.forall(_.contains("graft-attrs")),
      s"unexpected scan locations: $locs")
  }

  test("q149: assembly selection reads ONLY the attribute artifact — zero documents scans") {
    // the q138 claim extended to dataset assembly: cluster split +
    // token-budget selection run as projections over the written
    // artifact (comp/cluster_size/n_types columns), so the plan scans
    // the artifact parquet and nothing else — no re-banding, no
    // re-tokenizing, no documents relation
    val p = plan("q149_assembly_select")
    assert(p.contains("graft-attrs"),
      "assembly plan does not scan the written attribute artifact")
    assert(!p.contains("documents"),
      "assembly plan still scans the documents table — the recipe re-derives")
    val locs = "Location:.*\\[([^\\]]*)\\]".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(locs.nonEmpty && locs.forall(_.contains("graft-attrs")),
      s"unexpected scan locations: $locs")
  }

  test("q130: doc-broadcast verify guard — broadcast inside the bound, shuffle past it") {
    // the round-14 validity guard: the verify posture ships the whole
    // shingle relation to every executor ONLY while its estimated size
    // sits under spark.graft.dedup.broadcastMaxShingles; past the bound
    // the same pipeline must degrade to the un-hinted shuffle form
    // instead of OOMing an executor. Count broadcast-hash verify joins
    // (join key doc_a/doc_b) rather than any broadcast at all — the
    // band-side subplan may broadcast small relations legitimately.
    // auto-broadcast is disabled for BOTH probes: at test scale Catalyst
    // would broadcast the small cached relation on its own stats anyway,
    // masking whether the HINT (what the guard controls) is present.
    // With the threshold off, a broadcast join can only come from the
    // guard's hint — inside the bound it must appear, past it vanish.
    // simple-mode explain keeps the join keys on the operator line, so
    // "BroadcastHashJoin [doc_a…" identifies exactly the verify joins
    def simplePlan(name: String): String =
      Queries.byName(name).fn(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    def verifyBroadcasts(p: String): Int =
      "BroadcastHashJoin \\[doc_[ab]".r.findAllIn(p).length
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inBound = simplePlan("q130_simhash16")
      assert(verifyBroadcasts(inBound) >= 2,
        "verify joins not broadcast inside the bound — the measured posture regressed")
      spark.conf.set("spark.graft.dedup.broadcastMaxShingles", "1")
      val past = simplePlan("q130_simhash16")
      assert(verifyBroadcasts(past) == 0,
        "verify joins still broadcast past the bound — the guard is dead")
      val pastContain = simplePlan("q134_containment_join")
      assert(verifyBroadcasts(pastContain) == 0,
        "q134 verify joins still broadcast past the bound")
    } finally {
      spark.conf.unset("spark.graft.dedup.broadcastMaxShingles")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q139: vec-broadcast verify guard — broadcast inside the bound, shuffle past it") {
    // round 15's vecBroadcastOk (docBroadcastOk's vector twin): the SRP
    // verify joins broadcast the embeddings relation only while its
    // estimated size (vectors × 64 floats) sits under
    // spark.graft.vec.broadcastMaxFloats — past the bound the same
    // pipeline degrades to the shuffled join instead of an array-laden
    // SMJ sort (the shape that spilled >45 GB and died at the 100×
    // tier). Auto-broadcast off so only the HINT can produce a
    // broadcast join; join keys vec_a/vec_b identify the verify joins.
    def simplePlan(name: String): String =
      Queries.byName(name).fn(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    def verifyBroadcasts(p: String): Int =
      "BroadcastHashJoin \\[vec_[ab]".r.findAllIn(p).length
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inBound = simplePlan("q139_srp_multi_lsh")
      assert(verifyBroadcasts(inBound) >= 2,
        "verify joins not broadcast inside the bound — the guarded posture regressed")
      spark.conf.set("spark.graft.vec.broadcastMaxFloats", "1")
      val past = simplePlan("q139_srp_multi_lsh")
      assert(verifyBroadcasts(past) == 0,
        "q139 verify joins still broadcast past the bound — the guard is dead")
      val pastQ43 = simplePlan("q43_embedding_near_dup")
      assert(verifyBroadcasts(pastQ43) == 0,
        "q43 verify joins still broadcast past the bound")
    } finally {
      spark.conf.unset("spark.graft.vec.broadcastMaxFloats")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q139: density router — SRP join in bound, cell-bounded plan past it") {
    // round 16 moved the density conclusion into the operator: past
    // spark.graft.srp.maxCandidates the router skips the band self-join
    // and answers with the cell-bounded semantic path. The two tiers are
    // pinned by plan shape (the SRP form packs sign bits with
    // vec_srp_bits, the cell form does not) and the routed answer by
    // equality with the cell path itself. Neither tier expands probe
    // masks: vec_srp_probe_masks / flip_mask mark the retired multiprobe
    // escalation form.
    def plan(): String =
      Queries.byName("q139_srp_multi_lsh").fn(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.SimpleMode)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inBound = plan()
    assert(inBound.contains("vec_srp_bits"),
      "graded density lost its SRP band join — the router misfired low")
    assert(!inBound.contains("vec_srp_probe_masks") && !inBound.contains("flip_mask"),
      "graded density is paying a multiprobe expansion")
    spark.conf.set(graft.queries.VectorQs.SrpMaxCandsKey, "0")
    try {
      val routed = plan()
      assert(!routed.contains("vec_srp_bits"),
        "past the bound the plan still builds an SRP band relation — the cell fallback is dead")
      assert(routed.contains("vec_dot"),
        "routed plan lost the exact-cosine verify")
      val out = Queries.byName("q139_srp_multi_lsh").fn(spark, sf)
      assert(out.columns.toSeq == Seq("vec_a", "vec_b", "cos"))
      assert(rows(out) ==
        rows(graft.queries.VectorQs.cellBoundedPairs(spark, sf, tau = 0.45)),
        "the routed answer is not the cell-bounded path's")
    } finally spark.conf.unset(graft.queries.VectorQs.SrpMaxCandsKey)
  }

  test("q19: estimate and verify stay partial-aggregated; emitted plan joins on the group key") {
    val p = plan("q19_approx_distinct")
    assert(p.contains("partial_approx_count_distinct"),
      "HLL++ estimate lost its map-side partials — registers would not merge distributed")
    assert(p.contains("count(distinct") || p.contains("count(l_partkey"),
      "exact verify branch missing")
  }
}
