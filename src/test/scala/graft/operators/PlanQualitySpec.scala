package graft.operators

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the headline probes (the ".explain and
  * iterate" discipline, SURVEY.md §4): scans must be pruned and
  * filter-pushed, joins must be hash-based (never nested-loop for equi
  * shapes), and the hot path must sit inside whole-stage codegen.
  */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sfDir

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("q19 disjunctive bundles stay an equi hash join (common key extracted)") {
    val p = plan("q19_disjunctive")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunctive predicates degraded to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"no hash join:\n$p")
  }

  test("j9 band join uses the equi key with the range as residual") {
    val p = plan("j9_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"band join degraded to a nested loop:\n$p")
  }

  test("p1 projection prunes the parquet read schema to the selected columns") {
    val p = plan("p1_project")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity") &&
      !read.contains("l_extendedprice"), s"scan not pruned: $read")
  }

  test("f1 value predicate is pushed to the parquet scan") {
    val p = plan("f1_between")
    assert(p.contains("PushedFilters: [IsNotNull(value), GreaterThanOrEqual(value,-90.0)") ||
      (p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(value")),
      s"filter not pushed:\n$p")
  }

  test("s10 filtered vector search pushes the label predicate to the scan") {
    val p = plan("s10_filtered_topk")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(label,2)"),
      s"label filter not pushed:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("a10 aggregation runs partial/final inside whole-stage codegen") {
    val df = SparkEntry.queries("a10_tpch_q1")(spark, d)
    val pre = df.queryExecution.executedPlan.toString
    assert(pre.contains("partial_sum") && "HashAggregate".r.findAllIn(pre).length >= 2,
      s"partial/final hash agg missing:\n$pre")
    df.collect() // AQE: codegen markers appear only in the FINAL plan
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("WholeStageCodegen") || fin.contains("*("),
      s"no codegen spans in final plan:\n$fin")
  }

  test("j1 dimension lookup broadcasts the small side") {
    val p = plan("j1_join_bcast")
    assert(p.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$p")
  }

  test("o1/o2 ordered limits use TakeOrderedAndProject, not a full sort") {
    assert(plan("o1_topk").contains("TakeOrderedAndProject"))
    assert(plan("o2_limit_offset").contains("TakeOrderedAndProject"))
  }

  test("q9 5-way join broadcasts every dimension; name filter pushed to part scan") {
    val p = plan("q9_product_profit")
    // part/supplier/nation are dims: all joins against them broadcast —
    // the only shuffle-worthy relations are the two facts
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"dimensions not broadcast:\n$p")
    assert(p.contains("StringContains(p_name,red)"),
      s"p_name filter not pushed to the scan:\n$p")
  }

  test("q20 nested EXISTS chain plans as stacked left-semi joins, no nested loop") {
    val p = plan("q20_heavy_suppliers")
    assert("LeftSemi".r.findAllIn(p).length >= 3, s"semi-join chain missing:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"EXISTS degraded to a nested loop:\n$p")
  }

  test("q15 argmax scalar subquery broadcasts the 1-row max, never resorts") {
    val p = plan("q15_top_supplier")
    assert(p.contains("BroadcastHashJoin"), s"max-revenue row not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"scalar compare became a product:\n$p")
  }

  test("s6 bucketed near-dup: equi joins only, never an n² product") {
    val df = SparkEntry.queries("s6_embed_neardup_bucketed")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"LSH blocking must keep the pairs join equi-only:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"candidate generation should be a hash/merge join:\n$p")
  }

  test("w17 EWMA: all 16 lag terms share one Window operator") {
    val p = plan("w17_ewma")
    val windows = p.sliding("Window [".length).count(_ == "Window [")
    assert(windows == 1,
      s"expected the 16 anchored lags to collapse into ONE window:\n$p")
  }

  test("d16 cross-corpus near-dup: candidates form on the prefix token, never L×R") {
    val df = SparkEntry.queries("d16_cross_neardup")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"cross-corpus candidates must stay equi-join-only (prefix-token key):\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"candidate generation should be a hash/merge join:\n$p")
  }

  test("d10 decontamination: eval hashes broadcast, no nested loop anywhere") {
    // AQE hides the final shapes pre-execution — run it first (CLAUDE.md)
    val df = SparkEntry.queries("d10_decontaminate")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"eval hash set should broadcast for the candidate semi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"decontamination must stay equi-join-only:\n$p")
  }

  test("t10 repetition: both signals come from ONE in-row pass, no aggregation") {
    val df = SparkEntry.queries("t10_gopher_repetition")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("repetition_stats"), s"fused kernel missing from plan:\n$p")
    // scan-local: no groupBy shuffle, no join — the only exchange is the
    // final ORDER BY's range partitioning
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"repetition signals must not aggregate:\n$p")
    assert(!p.contains("Join"), s"repetition signals must not join:\n$p")
  }

  test("t6 packTokens: one big shuffle keyed by (source, slice); small joins broadcast") {
    val df = Scale.packTokens(graft.Tables.documents(spark, d))
    df.write.mode("overwrite").format("noop").save() // AQE: final plan
    val p = df.queryExecution.executedPlan.toString
    // the DOCUMENT-ROW cumsum window (the one ordered by doc_id) must
    // partition by the slice key, never source alone — source-alone is
    // the serial one-task-per-source shape this plan exists to avoid.
    // (The tiny offsets window partitions by source and orders by
    // __slice; side-table aggregates exchange on source — both are
    // ≤ slices × sources rows and intentionally exempt.)
    val docWindows = "windowspecdefinition\\([^)]*doc_id[^)]*\\)".r
      .findAllIn(p).toSeq
    assert(docWindows.nonEmpty, s"cumsum window missing:\n$p")
    assert(docWindows.forall(_.contains("__slice")),
      s"doc-row cumsum window not slice-partitioned: $docWindows\n$p")
    // document rows shuffle exactly once, on the (source, slice) hash
    // exchange; bounds + offsets attach via broadcast joins
    assert(p.contains("BroadcastHashJoin"), s"small joins not broadcast:\n$p")
    assert("Exchange hashpartitioning\\([^)]*__slice".r.findAllIn(p).nonEmpty,
      s"(source, slice) exchange missing:\n$p")
  }

  test("t13 chunking is scan-local: explode + slice with no exchange before the sort") {
    val df = SparkEntry.queries("t13_chunking")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate"), s"chunk explode missing:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle (only the ORDER BY ranges):\n$p")
    assert(!p.contains("Join") && !p.contains("HashAggregate"),
      s"chunking must stay a scan-local map:\n$p")
  }

  test("j10 interval overlap is an EQUI join — the binning defeats the nested loop") {
    // the naive s1<=e2 AND s2<=e1 predicate would plan BroadcastNestedLoop;
    // the whole point of the binned formulation is that it cannot
    val df = SparkEntry.queries("j10_interval_overlap")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degraded to a nested loop:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"binned interval join should be a hash/merge join:\n$p")
  }

  test("d14 bloom phase 1 is scan-local: candidates come from a filter, not a join") {
    val df = SparkEntry.queries("d14_bloom_decontaminate")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"bloom probe expression missing from the executed plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"bloom decontamination must stay equi-join-only:\n$p")
    // joins remain only in the exact-verify phase and final flag join —
    // strictly fewer than d10, which also joins for phase-1 candidates
    val joins = "Join".r.findAllIn(p).length
    val d10 = {
      val q = SparkEntry.queries("d10_decontaminate")(spark, d)
      q.write.mode("overwrite").format("noop").save()
      "Join".r.findAllIn(q.queryExecution.executedPlan.toString).length
    }
    assert(joins < d10,
      s"bloom phase 1 should remove the candidate join ($joins vs d10's $d10)")
  }

  test("g2 triangles: wedge/closure joins are hash joins, never a product") {
    val df = SparkEntry.queries("g2_triangles")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"triangle counting must never plan a cartesian product:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"wedge/closure joins should be hash/merge joins:\n$p")
    // the only keyless joins allowed are the two 1-row scalar-summary
    // combinators (n_nodes × n_edges × n_triangles)
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 2, s"unexpected nested-loop joins beyond the 1-row summaries:\n$p")
  }

  test("s13 centroid assignment shuffles the corpus exactly once (map-combined argmax)") {
    import org.apache.spark.sql.functions.col
    val e = graft.Tables.embeddings(spark, d)
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val df = Similarity.assignToCentroids(e, cent)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    // broadcast centroids: the k-row side must never hash-shuffle the corpus
    assert(p.contains("partial_max"),
      s"argmax must partial-aggregate map-side before the exchange:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"assignment should shuffle once (the per-vector argmax), got $exchanges:\n$p")
  }

  test("g3 link prediction: wedges explode in-row — no edge-list self-join product") {
    val df = SparkEntry.queries("g3_link_prediction")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      s"wedge generation must never plan a cartesian product:\n$p")
    assert(p.contains("collect_set"),
      s"adjacency arrays should come from one collect_set agg:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the top-k cut should be a TakeOrdered, not a global sort:\n$p")
  }

  test("o3 keyset paging: pushed cursor predicate + TakeOrdered, no global sort") {
    val p = plan("o3_keyset_page")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"cursor predicate not pushed to the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"page cut should be TakeOrdered (O(page)), not sort+limit:\n$p")
  }

  test("s18 prefix rerank: both stages are TakeOrdered cuts") {
    val df = SparkEntry.queries("s18_prefix_rerank")(spark, d)
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"coarse and fine stages should both be TakeOrdered top-k:\n$p")
  }

  test("t46 type-token ratio computes in-row — no exchange before the sort") {
    // the probe's terminal orderBy adds the Verify determinism range
    // exchange; gate the OPERATOR body (no orderBy) instead
    import org.apache.spark.sql.functions.col
    val ws = graft.functions.TextFunctions.words(col("text"))
    val df = graft.Tables.documents(spark, d)
      .select(col("doc_id"), ws.as("__ws"))
      .filter(org.apache.spark.sql.functions.size(col("__ws")) > 0)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(col("__ws")).as("n_tokens"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.array_distinct(col("__ws")))
          .as("n_types"))
    df.write.mode("overwrite").format("noop").save()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"lexical diversity must be scan-local (zero shuffles):\n$p")
  }

  test("s20 IVFADC: heavy vector derivations stay behind Generate barriers (no inlining blowup)") {
    // Regression gate for the oncePerRow barrier: without it,
    // PushDownPredicates substitutes the full L2-normalization +
    // k-centroid argmin expressions into the pushed isin Filter and
    // CollapseProject merges them into the ADC projection — measured
    // ~150 re-evaluations of the O(d) norm per row (10.1 s → 1.4 s for
    // the bare query once fixed). The inlining signature is an
    // ArrayAggregate appearing inside a Filter condition; with the
    // barriers, filters see only opaque generated attributes.
    import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, Generate}
    val opt = SparkEntry.queries("s20_ivfadc_topk")(spark, d)
      .queryExecution.optimizedPlan
    val aggsInFilters = opt.collect { case f: LFilter =>
      f.condition.collect { case a: ArrayAggregate => a }.size
    }.sum
    assert(aggsInFilters === 0,
      s"vector derivations inlined into a Filter ($aggsInFilters ArrayAggregates) — " +
        "the oncePerRow barrier regressed")
    val generates = opt.collect { case g: Generate => g }.size
    // since r15 the probe runs the data-defined raw-vector path (no
    // l2Normalized barrier): ivfAssign + pqEncode remain
    assert(generates >= 2,
      s"expected the two oncePerRow Generate barriers, found $generates")
  }

  test("d4 SimHash: the signature kernel stays behind its Generate barrier (never in a Filter)") {
    // Regression gate for the oncePerRow barrier in simhashNearDups:
    // without it, the isnotnull(v) Catalyst infers from the (i, v) join
    // key is pushed below the signature projection with the kernel
    // substituted in, so every scan Filter re-evaluates the SimHash
    // (measured: 4 Filter conditions at sf0.01, 2-3 evaluations per
    // document).
    import graft.functions.{SimHashPortableExpr, SimHashTextExpr}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val opt = SparkEntry.queries("d4_simhash_neardup")(spark, d)
      .queryExecution.optimizedPlan
    val kernelsInFilters = opt.collect { case f: LFilter =>
      f.condition.collect {
        case k: SimHashPortableExpr => k
        case k: SimHashTextExpr => k
      }.size
    }.sum
    assert(kernelsInFilters === 0,
      s"SimHash kernel inlined into $kernelsInFilters Filter conditions — " +
        s"the oncePerRow barrier regressed:\n$opt")
  }

  test("s23 data-defined batch: ONE DPP-pruned scan of the persisted dd index serves the query set") {
    // the oracle-checked probe must keep the production plan shape the
    // trained-path gate pins: the rounded arithmetic (roundTo = 6) sits
    // in projections, so the index is still referenced by exactly one
    // scan, partition-pruned by the broadcast probe relation's dynamic
    // pruning on centroid_id. Assert on the FINAL adaptive plan (run
    // first — AQE hides markers pre-execution), Initial Plan cut.
    val df = SparkEntry.queries("s23_ivfadc_batch")(spark, d)
    // collect() executes df's OWN QueryExecution — a noop write would
    // run a separate one and leave df.queryExecution at the
    // pre-execution initial plan
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scanLines = p.split("\n").filter(l =>
      l.contains("Location") && l.contains("graft_idxcache_ivfpqdd6"))
    assert(scanLines.length === 1,
      s"expected exactly 1 dd-index scan, found ${scanLines.length} in:\n$p")
    assert(scanLines(0).contains("dynamicpruning"),
      "probed lists must partition-prune the dd index scan (DPP) — got:\n" +
        scanLines(0))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"dd batch degraded to a product:\n$p")
  }
}
