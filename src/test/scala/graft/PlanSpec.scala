package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the plans we ship are the plans we want —
  * filters reach the parquet scan, small dims broadcast, top-k avoids full
  * sorts, and scans prune columns. These are the properties that decide
  * whether the same code survives a 100× scale-up.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize THIS df's AQE plan (count() would plan a copy)
    df.queryExecution.executedPlan.toString()
  }

  test("q1: shipdate predicate is pushed to the parquet scan") {
    val p = plan("core_q1_pricing_agg")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"missing pushdown:\n${p.take(2000)}")
    assert(p.contains("LessThanOrEqual(l_shipdate"), p.take(2000))
  }

  test("q1: scan reads only the needed columns") {
    val p = plan("core_q1_pricing_agg")
    // lineitem has 11 columns; the pricing agg needs 7
    assert(!p.contains("l_orderkey") || !p.contains("ReadSchema: struct<l_orderkey"),
      "column pruning lost")
    assert(p.contains("l_returnflag") && !p.substring(p.indexOf("ReadSchema"))
      .takeWhile(_ != '\n').contains("l_partkey"))
  }

  test("q5 star join broadcasts the dimensions") {
    val p = plan("core_q5_star_join")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), "dimension join degraded to SMJ")
  }

  test("sort+limit compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("core_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("promql leaf: time filter reaches the events scan") {
    val p = plan("pq_selector")
    // the ts >= effStart && ts < end predicate lands on the parquet scan of
    // events (as a pushed filter on the raw ts long column or a post-scan
    // filter before the first shuffle — both acceptable; a full unfiltered
    // aggregate would not be)
    assert(p.contains("HashAggregate"))
  }

  test("whole-stage codegen covers the hot aggregation path") {
    val p = plan("core_q1_pricing_agg")
    // codegen'd operators render as "*(n) Op" in the final AQE plan
    assert(p.contains("WholeStageCodegen") || p.contains("*(1)"), "codegen missing")
  }

  test("banded simhash pair search never degrades to a cartesian product") {
    val p = plan("pp_simhash_pairs")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("count-series densification broadcasts the tiny grid sides") {
    val p = plan("pq_count_series")
    // the range×groups grid and its join against sparse counts must not
    // shuffle the big side: broadcast join or BNLJ on the tiny side only
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Broadcast"), "grid join did not broadcast:\n" + p.take(2000))
  }

  test("LSH ANN bucket join is an equi-join, not a cross join") {
    val p = plan("pp_lsh_ann")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("embedding near-dup pair search is bucket-keyed, not a cross join") {
    val p = plan("pp_emb_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("keep-best dedup apply stays keyed: no cartesian, argmax not window") {
    val p = plan("pp_dedup_keep_best")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the per-cluster best is a partial-aggregated max_by, not an
    // all-members window sort
    assert(p.contains("max_by") || p.contains("partial_max_by"), p.take(2000))
  }

  test("ANN 1-NN eval: shortlist rides the IVF equi-join, rerank is keyed") {
    val p = plan("pp_knn_eval_ann")
    // the ONLY nested-loop is the bounded broadcast of the m-query /
    // centroid statistics; the corpus side must never cross-join itself
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
  }

  test("as-of join: one key-partitioned window, no join operator at all") {
    // the union+window form must not contain ANY join node (a range-join
    // formulation would show a nested loop here) and its window must be
    // partitioned on the series key — never Window over one partition
    val p = plan("tq_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin") || p.contains("Window"),
      p.take(2000))
    assert(p.contains("windowspecdefinition(__k"),
      "missing key-partitioned window:\n" + p.take(2000))
  }

  test("bucketed as-of: two windows, the hot-path one keyed by (key, bucket)") {
    val p = plan("tq_asof_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"),
      p.take(2000))
    val windows = "windowspecdefinition\\(__k".r.findAllIn(p).length
    assert(windows >= 2, s"expected both windows, found $windows")
    // the row-volume window must carry the bucket in its partition key
    assert(p.contains("windowspecdefinition(__k#") &&
      p.contains(", __b#"), "missing (key, bucket) partitioning:\n" + p.take(2000))
  }

  test("range join is a bucket equi-join, never a nested loop") {
    val p = plan("tq_range_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "range join degenerated to a nested loop:\n" + p.take(2000))
  }

  test("topk ranks in two phases — no single-task-per-bucket window") {
    // phase 1 partitions by (ts, salt) and keeps k per salt group, phase 2
    // ranks the bounded survivors per ts: two Window nodes in the plan, so
    // no bucket ever funnels its full series set through one task
    val p = plan("pq_topk")
    val windows = "Window".r.findAllIn(p).length
    assert(windows >= 2, s"expected two-phase rank, found $windows Window nodes")
  }

  test("segment tier scan prunes BOTH partition keys (freq + dateint)") {
    // the end-to-end segments query must hit the parquet scan with partition
    // filters on freq (tier selection) AND dateint (time pruning) — on a
    // 100 TB store this decides whether a 1 h query reads one day's tier
    // directory or the whole lake
    val p = plan("it_seg_bucket10s")
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
      .takeWhile(_ != '\n')
    assert(p.contains("PartitionFilters"), p.take(2000))
    assert(scanSection.contains("freq") && scanSection.contains("dateint"),
      s"partition filters incomplete: $scanSection")
  }

  test("hourly-tier rate query reads the rollup tier, not the 10s base tier") {
    val p = plan("it_seg_rate")
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
      .takeWhile(_ != '\n')
    assert(scanSection.contains("3600000"),
      s"tier selection missing from partition filters: $scanSection")
  }

  test("freshTail union scan still partition-prunes (freq disjunction + dateint)") {
    // the freshness fallback unions two tiers behind an OR that mixes
    // partition (freq, dateint) and data (chq_timestamp) columns — the
    // scan must still carry partition filters on BOTH keys (Catalyst
    // extracts the weakened partition-only disjunction), or the fallback
    // would silently turn a one-tier read into a full-lake scan
    val p = plan("it_tier_fresh")
    assert(p.contains("PartitionFilters"), p.take(2000))
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
      .takeWhile(_ != '\n')
    assert(scanSection.contains("freq") && scanSection.contains("dateint"),
      s"partition filters incomplete: $scanSection")
    assert(scanSection.contains("3600000") && scanSection.contains("10000"),
      s"both tier branches must reach the partition filters: $scanSection")
  }

  test("multi-tenant query prunes ALL THREE partition keys (org + dateint + freq)") {
    // one segment dir, two tenants: the org_a query's scan must carry
    // partition filters on org (tenant isolation), dateint (time), and
    // freq (tier) — on a shared 100 TB lake the org filter alone decides
    // whether a tenant's 1 h query reads their directories or everyone's
    val p = plan("it_multi_org")
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
      .takeWhile(_ != '\n')
    assert(p.contains("PartitionFilters"), p.take(2000))
    assert(scanSection.contains("org") && scanSection.contains("dateint") &&
      scanSection.contains("freq"),
      s"three-key partition pruning incomplete: $scanSection")
  }

  test("trie clustering joins the template dimension without a cartesian") {
    // the learned-wildcard pass is a distinct-template dimension joined
    // back to the message stream — it must stay an equi-join (AQE
    // broadcasts the small side); a cartesian here would be quadratic in
    // messages at 100 TB
    val p = plan("tq_log_fingerprint_trie")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("needle query over segments: pushed filter + pruned file list") {
    // the fingerprint index prunes FILES before the scan; the contains
    // filter must additionally reach the parquet reader for row-group
    // skipping within the surviving files
    val p = plan("it_log_needle")
    assert(p.contains("PushedFilters") &&
      (p.contains("StringContains(log_message") || p.contains("log_message")),
      p.take(2500))
  }

  test("no catalog query plans an unpartitioned global window") {
    // Window.orderBy with no partitionBy funnels the ENTIRE input through
    // ONE task — invisible at sf0.01, fatal at 100 TB. Sweep every query's
    // pre-AQE physical plan (AQE never re-partitions a window, so the
    // initial plan is authoritative for this property).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    // collectWithSubqueries CCEs on DynamicPruningSubquery (its plan is
    // still LOGICAL pre-preparation — pp_ann_persisted's partition-pruned
    // probe read legitimately plans one), so descend into PHYSICAL
    // subquery plans only; a logical DPP subquery duplicates the main
    // query's shape and cannot hide a window the main plan lacks
    def unpartWindows(p: SparkPlan): Seq[WindowExec] = {
      val local = p.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      val subPhysical = p.collect { case n => n }
        .flatMap(_.expressions)
        .flatMap(_.collect { case pe: PlanExpression[_] => pe.plan })
        .collect { case sp: SparkPlan => sp }
      local ++ subPhysical.flatMap(unpartWindows)
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = unpartWindows(fn(spark, sf).queryExecution.sparkPlan)
      if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"global single-task windows in: ${offenders.mkString(", ")}")
  }

  test("absent_over_time broadcasts the tiny present-bucket set") {
    // the grid anti-join's build side is the distinct bucket list (bounded
    // by (span+range)/step) — it must broadcast; shuffling the grid or
    // falling to a cartesian would scale with data, not with the grid
    val p = plan("pq_absent_over_time")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "present-set join did not broadcast:\n" + p.take(2000))
  }

  test("winnowing is per-row selection → aggregate: no window, no joins") {
    // the whole fingerprint selection (k-gram hashes, sliding minima,
    // per-doc dedup) is per-row higher-order Column algebra — a Window
    // function here would mean the corpus × text-length per-gram shuffle
    // came back (window minima cannot map-side combine); the only
    // exchange is the distinct/summary aggregate with map-side partials.
    val p = plan("pp_winnow")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("spread floors parallelism on narrow scans and is a NO-OP on wide ones") {
    import spark.implicits._
    // narrow input (1 partition, parallelism 4) → exactly one repartition
    val narrow = Seq.tabulate(100)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .coalesce(1)
    val sp = GraftSession.spread(narrow)
    assert(sp.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      "spread must raise a 1-partition frame to the session parallelism")
    // wide input (already at/above parallelism) → the SAME plan, no exchange
    val wide = Seq.tabulate(100)(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism + 2)
    val out = GraftSession.spread(wide)
    assert(out eq wide, "spread must return the input untouched when the " +
      "scan already provides enough partitions — no extra exchange at scale")
  }

  test("agg-file substitution plans a plain scan-filter-agg over the rollup") {
    // the rewrite's value is the small input; the plan over it must stay
    // shuffle-light — one partial+final aggregate pair, no join
    val p = plan("it_agg_substitution")
    assert(p.contains("HashAggregate") && !p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
  }

  test("group_left broadcasts the dedup-checked one side") {
    // the one side is post-aggregation (≤ group cardinality); AQE must
    // broadcast it, not sort-merge the many side
    val p = plan("pq_group_left")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("expression subquery pairs points against a broadcast grid") {
    // the range join must be broadcast-nested-loop against the tiny grid,
    // never a cartesian of data × data
    val p = plan("pq_subquery_expr")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("repetition/quality/PII ops are projection-only above the spread") {
    // per-document array algebra: the ONLY allowed exchange is the
    // scale-adaptive spread (round-robin repartition of the raw scan,
    // no-op at 100 TB where the scan already meets the parallelism
    // floor); no key-hashed shuffle, no join — the work itself stays a
    // one-pass map-side projection
    for (q <- Seq("pp_repetition", "pp_quality_gopher", "pp_pii_scrub")) {
      val p = plan(q)
      assert(!p.contains("hashpartitioning"), s"$q key-shuffles:\n${p.take(2000)}")
      // EVERY exchange must be a spread (r18 ADVICE: "one round-robin
      // somewhere" let a range/single-partition exchange slip through) —
      // in the tree-form plan each Exchange node prints its partitioning
      // on the same line, so the counts must match exactly
      val nEx = "Exchange".r.findAllIn(p).size
      val nRr = "RoundRobinPartitioning".r.findAllIn(p).size
      assert(nEx == nRr,
        s"$q has ${nEx - nRr} non-spread exchange(s):\n${p.take(2000)}")
      assert(!p.contains("Join"), s"$q joins:\n${p.take(2000)}")
    }
  }

  test("contamination joins the corpus stream against a BROADCAST bench set") {
    // the benchmark shingle set is the small relation by construction; a
    // shuffle join here would re-shuffle the full corpus shingle stream
    val p = plan("pp_contamination")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), s"bench side degraded to SMJ:\n${p.take(2000)}")
  }

  test("bm25 corpus statistics broadcast; no cartesian beyond the 1-row stats") {
    val p = plan("pp_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("global shuffle ranks without a window and broadcasts the offsets") {
    // the whole point of the construction: rank every row globally with ONE
    // full-data shuffle (the range sort) — no WindowExec (an unpartitioned
    // window would single-task the corpus; a __pid-partitioned one would
    // re-shuffle it), offsets ride a broadcast join
    val p = plan("pp_global_shuffle")
    assert(!p.contains("Window"), s"window crept in:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
  }

  test("incremental dedup: existing x incoming band join only, no cartesian") {
    val p = plan("pp_incremental_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the band-bucket equi-join is the candidate generator; it must appear
    // as a hash-key join (shuffled or broadcast), never a nested loop
    assert(p.contains("Join"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("vocab: TakeOrdered cut, broadcast rank join, no unpartitioned window") {
    val p = plan("pp_vocab")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    // the k-squared rank theta-join must broadcast the k survivors
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("shard manifest: one range exchange from globalShuffle, no window") {
    val p = plan("pp_shard_manifest")
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("PQ ANN: codes-only broadcast scan, codebook folded into literals") {
    // the candidate scan is corpus codes x broadcast query LUTs: a
    // BroadcastNestedLoopJoin over the COMPRESSED representation is the
    // documented design (like the brute-force baseline but reading m ints
    // per vector); a SortMergeJoin would mean the corpus was shuffled
    val p = plan("pp_pq_ann")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("IVF-PQ: pruned candidates, no cartesian — the composed scale path") {
    // candidates come from the centroid-id equi-join (probes broadcast);
    // codes and LUTs join by key. NOTHING here may plan a cartesian or an
    // all-pairs nested loop — that is pp_pq_ann's exhaustive-scan territory
    val p = plan("pp_ivfpq_ann")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
  }

  test("streaming near-dup screen (batch mode): band equi-join, no state ops") {
    val p = plan("pp_stream_neardup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
  }

  test("semantic dedup: pairwise cosine stays within clusters, no cartesian") {
    // the ONLY all-pairs surface is the in-cluster self-join on cid; the
    // centroid assignment is a bounded broadcast nested loop (corpus x C)
    val p = plan("pp_semantic_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("substr dedup: anchor-keyed expansion, no all-pairs join, partitioned window") {
    val p = plan("pp_substr_dedup")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the run-merge window must be partitioned (diagonal-keyed), never global
    assert(!p.contains("Window [") || !p.contains("partitionBy=[]"), p.take(2000))
  }

  test("c4 filter is projection-only above the spread") {
    val p = plan("pp_c4_filter")
    // same contract as the repetition/quality pin: only the scale-adaptive
    // round-robin spread may appear, never a key-hashed shuffle
    assert(!p.contains("hashpartitioning"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("DSIR: bucket stats broadcast-sized, resample is TakeOrdered not global sort") {
    val p = plan("pp_dsir_score")
    // the only joins are the B-bounded bucket-weight join and the 1-row
    // totals broadcast — never an all-pairs shape
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val pr = plan("pp_dsir_resample")
    assert(pr.contains("TakeOrderedAndProject"),
      s"top-n resample fell back to a global sort:\n${pr.take(2000)}")
  }

  test("ip() line filter: codegen'd RLIKE prefilter gates one fold per candidate") {
    val p = plan("lq_ip_filter")
    // the compiled-regex prefilter must be in the plan — lines without a
    // dotted quad never reach the interpreted HOF
    assert(p.contains("RLIKE"), s"rlike prefilter missing:\n${p.take(3000)}")
    // per-candidate work is ONE aggregate fold: the old nested-exists /
    // per-candidate-rlike storm (13.6 s at sf0.1 on a loaded host) must
    // not come back — at most one exists() in the whole plan
    val nExists = "\\bexists\\(".r.findAllIn(p).size
    assert(nExists <= 1, s"$nExists exists() HOFs in plan:\n${p.take(3000)}")
  }

  test("pq_agg_global: five aggregations ride ONE scan and one agg Exchange chain") {
    // r13 queryMulti: previously five full engine passes (5 scans,
    // 10 Exchanges) + four ts-joins; the fused form must read the store
    // once, aggregate once, and join NOTHING
    // AQE appends the pre-adaptive plan under "== Initial Plan ==" — count
    // the FINAL plan only or every node doubles
    val p = plan("pq_agg_global").split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected a single store scan, got $scans:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"fused multi-agg must not join:\n${p.take(2000)}")
    // 3 = cooked-store derivation agg + leaf step agg + final ts agg; the
    // old five-pass form had 15 Exchanges and 4 joins
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 3,
      s"expected cooked+leaf+final Exchanges only, got $exchanges:\n${p.take(3000)}")
  }

  test("pq_multi_window: three range-window panels ride ONE scan and ONE window pass") {
    // r14 queryMulti window fusion: rate/increase/avg_over_time over the
    // same selector previously ran three full engine passes (3 scans, 3
    // window sorts) + 2 ts-joins; fused they are three window columns
    // over one shared range frame
    val p = plan("pq_multi_window").split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected a single store scan, got $scans:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"fused multi-window must not join:\n${p.take(2000)}")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"expected ONE shared Window pass, got $windows:\n${p.take(3000)}")
  }

  test("pq_multi_agg_window: three agg-of-range panels ride ONE scan, ONE window, no join") {
    // r15 queryMulti agg-window fusion: sum(rate)/max(increase)/
    // avg(avg_over_time) over the same selector previously ran three full
    // engine passes (3 scans, 3 window sorts, 3 grouped aggs) + 2
    // ts-joins; fused they are three window columns over one shared range
    // frame feeding ONE grouped aggregation
    val p = plan("pq_multi_agg_window").split("== Initial Plan ==").head
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected a single store scan, got $scans:\n${p.take(2000)}")
    assert(!p.contains("Join"), s"fused agg-window must not join:\n${p.take(2000)}")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows == 1,
      s"expected ONE shared Window pass, got $windows:\n${p.take(3000)}")
  }

  test("pq_multi_hetero: heterogeneous panels run scan-free downstream of ONE materialized pass") {
    // the general multi door (Engine.queryMultiTagged): different metrics
    // and groupings can't fuse, but they share one pruned, materialized
    // pass over the store — each panel's plan reads those blocks, so the
    // tagged union contains NO file scan (K panels = 1 lake scan + K
    // block-local passes; at 100 TB the scan is the dashboard's cost)
    val p = plan("pq_multi_hetero")
    assert(!p.contains("FileScan"),
      s"panels must read the shared materialized blocks:\n${p.take(2000)}")
    assert(p.contains("Union"), p.take(800))
  }

  test("it_logs_multi: logs panels run scan-free downstream of ONE materialized pass") {
    // the logs fusion door (LogSegments.queryMultiTagged): both panels'
    // compiler passes read the shared materialized blocks — no file scan
    // in the tagged union's plan, same shape as pq_multi_hetero
    val p = plan("it_logs_multi")
    assert(!p.contains("FileScan"),
      s"logs panels must read the shared materialized blocks:\n${p.take(2000)}")
    assert(p.contains("Union"), p.take(800))
  }

  test("bucketed join: the layout pre-pays the shuffle — zero Exchange in the plan") {
    val p = plan("core_bucketed_join")
    // both the join and the per-order aggregation must ride the tables'
    // HashPartitioning(orderkey, 8) — any Exchange means the bucketing
    // metadata was lost and the co-location lever is broken
    assert(!p.contains("Exchange"), p.take(3000))
  }

  test("persisted ANN: the lists scan is partition-pruned to the probed centroids") {
    val p = plan("pp_ann_persisted")
    // the probe cid IN-list must reach the lists scan as a PARTITION
    // filter — only the probed lists' files are read off disk
    val idx = p.indexOf("lists")
    assert(idx >= 0 && p.contains("PartitionFilters"), p.take(3000))
    val scanSection = p.substring(p.indexOf("PartitionFilters"))
    assert(scanSection.take(400).contains("cid"),
      s"cid not in partition filters:\n${scanSection.take(400)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("containment: capped fp-list pair stage, size joins shuffle on ids, no cartesian") {
    val p = plan("pp_containment")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("curation funnel: every stage keyed — no cartesian, dedup window partitioned") {
    val p = plan("pp_curation_funnel")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the exact-dedup row_number must partition on the content hash,
    // never rank the corpus globally
    assert(!p.contains("partitionBy=[]"), p.take(2000))
  }

  test("compat fingerprinting: template map-join is broadcast, never a shuffle join") {
    // fingerprintLines resolves cluster ids through a broadcast lookup
    // over the driver-trie mapping — the per-row side must stay a pure
    // projection: NO join operator and NO extra Exchange beyond the
    // final aggregation the row itself asks for
    val p = plan("tq_fpc_cluster")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin") &&
      !p.contains("BroadcastHashJoin") && !p.contains("CartesianProduct"),
      s"cluster-id resolution became a join:\n${p.take(2000)}")
  }

  test("compat tokenizer row: single scan, no shuffle before the projection") {
    val p = plan("tq_fpc_tokens")
    // one FileScan of events; the tokenize is a projection — no join, no
    // aggregation, no Exchange at all in this row's plan
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"tokenizer projection picked up a shuffle:\n${p.take(2000)}")
    assert(p.contains("graft_fpc_tokenize") || p.contains("FpcTokenize") ||
      p.contains("Project"), p.take(1500))
  }

  test("span fingerprint row: pure codegen projection over one scan") {
    val p = plan("tq_span_fp_compat")
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"span fingerprint picked up a shuffle:\n${p.take(2000)}")
  }

  test("multi-panel shared pass: no series repartition of its own — " +
      "instant panels plan none, each windowed panel exactly one") {
    import org.apache.spark.sql.functions._
    import graft.promql.{Engine, MetricStore, Parser, QueryParams}
    val t0 = 1704067200000L
    val store = MetricStore(spark.range(0, 2000).select(
      (lit(t0) + col("id") * 10000L).as("chq_timestamp"),
      lit("m").as("metric_name"),
      (col("id") % 7).cast("double").as("chq_rollup_sum"),
      lit(1.0).as("chq_rollup_count"),
      lit(0.0).as("chq_rollup_min"), lit(6.0).as("chq_rollup_max"),
      concat(lit("svc-"), (col("id") % 5).cast("string")).as("attr_svc")))
    val p = QueryParams(t0, t0 + 20000000L, 60000L)
    // the shared pass is prefilter + materialize: no exchange, so its
    // blocks keep the input's partition count
    val shared = Engine.sharedPass(
      Seq(Parser.parse("rate(m[5m])").toOption.get), store, p)
    assert(shared.df.rdd.getNumPartitions == store.df.rdd.getNumPartitions)
    def plan(qs: Seq[String]) = Engine.queryMultiTagged(
      qs.zipWithIndex.map { case (q, i) => s"a$i" -> q }, store, p)
      .queryExecution.executedPlan.toString
    def seriesKeyed(plan: String) =
      "hashpartitioning\\(attr_svc#\\d+, \\d+\\)".r.findAllIn(plan).size
    val iPlan = plan(Seq("sum by (attr_svc) (m)", "max(m)"))
    assert(seriesKeyed(iPlan) == 0, iPlan.take(3000))
    val wPlan = plan(Seq("rate(m[5m])", "max_over_time(m[10m])"))
    assert(seriesKeyed(wPlan) == 2, wPlan.take(3000))
    // ...placed before the step aggregation, which then needs no exchange
    assert(!wPlan.contains("hashpartitioning(ts#"), wPlan.take(3000))
  }
}
