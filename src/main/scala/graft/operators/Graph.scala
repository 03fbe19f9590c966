package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Graph analytics over relational edge lists — join-based power
  * iteration, no graph runtime. The data-curation use: centrality over a
  * derived relation (near-dup similarity pairs, event-transition counts)
  * ranks cluster representatives / behavioral hubs without leaving the
  * DataFrame layer.
  *
  * Scale notes (the d7 connected-components discipline applied):
  *  - every iteration is one equi join (ranks ⋈ edges on src) + one hash
  *    agg on dst — both shuffle on node keys, so Catalyst reuses the
  *    partitioning across iterations;
  *  - the round loops run on [[Iterate]]: each round is
  *    `localCheckpoint`ed and the previous round released — a cached
  *    chain keeps an O(3^rounds) logical plan that OOMs the driver
  *    (CLAUDE.md lesson) — and every checkpoint not backing the result
  *    is released on exit, normal or thrown;
  *  - pageRank, personalizedPageRank, hits, ssspRounds and
  *    labelPropagation run a FIXED round count — determinism across
  *    engines and no per-round driver action beyond the checkpoint.
  *    bfsHops stops when the frontier drains and kCore when the edge set
  *    stops shrinking, each read off the round's own checkpoint job
  *    (`Iterate.Scope.rounds` observes it), so no round runs a probe.
  */
object Graph {

  /** Broadcast budget for per-round small sides of the iterative
    * operators, in ESTIMATED BYTES (row count × conservative bytes/row
    * at the call site). Under the bound the n-sized round input (ranks,
    * frontier, labels, surviving-node set) broadcasts, so the m-row
    * edge table is never re-shuffled inside a round; past it the
    * shuffle join shape is kept — the decision derives from a counted
    * size, not the local core count (guide §3.1). */
  private val BroadcastEntryBudget: Long = 48L << 20

  /** Broadcast-hint gate for a round's n-sized inputs: hint when `rows`
    * × `bytesPerRow` fits [[BroadcastEntryBudget]]. The checkpointed
    * round sides carry no size stats, so the planner alone always picks
    * SMJ and AQE only downgrades after both exchanges ran; `rows` is
    * the count of a checkpointed relation bounding those inputs. */
  private def bcUnder(rows: Long, bytesPerRow: Int): DataFrame => DataFrame =
    if (rows * bytesPerRow < BroadcastEntryBudget) broadcast(_) else identity

  /** Weighted PageRank by `iterations` rounds of power iteration over
    * `(src, dst, weight)` edges (PageRank: Page et al. 1999; weighted
    * out-edge-proportional transition as in standard link-analysis
    * practice).
    *
    * r₀(v) = 1/N;  r_{t+1}(v) = (1−d)/N + d·(Σ_{u→v} r_t(u)·w(u,v)/out(u)
    * + dangling_t/N), where dangling_t is the rank mass parked on nodes
    * with no out-edges (redistributed uniformly — the standard
    * stochastic-matrix completion).
    *
    * Every intermediate rank is rounded to `syncDecimals` so engines
    * that sum neighbor contributions in different orders re-synchronize
    * each round (ulp drift never compounds) — the probe's DuckDB twin
    * unrolls the same recurrence and matches at 6 d.p. N and the
    * out-weights stay DataFrames (broadcast by AQE when small); nothing
    * is collected to the driver.
    */
  def pageRank(edges: DataFrame, iterations: Int = 5, damping: Double = 0.85,
      syncDecimals: Int = 12): DataFrame =
    randomWalk("pageRank", edges, iterations, damping, syncDecimals) { nodes =>
      val nDf = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
      Teleport(_.join(nDf), lit(1.0) / col("n"), _ / col("n"))
    }

  /** Personalized PageRank (Jeh & Widom, WWW 2003): random walk with
    * restart to a SEED set — "importance relative to these nodes", the
    * similar-items / recommendation form of PageRank. Identical
    * join-based power iteration, round loop, and 12-d.p. per-round
    * cross-engine sync as [[pageRank]]; the only change is the teleport
    * vector p (uniform over seeds, 0 elsewhere), which replaces 1/n in
    * BOTH the restart term and the dangling-mass redistribution, and
    * seeds ranks as r₀ = p (the standard PPR init — mass starts at, and
    * forever restarts to, the seed set).
    */
  def personalizedPageRank(edges: DataFrame, seeds: Seq[String],
      iterations: Int = 5, damping: Double = 0.85,
      syncDecimals: Int = 12): DataFrame = {
    require(seeds.nonEmpty, "seeds must be non-empty")
    // teleport weight: one literal division of exact operands —
    // bit-identical to the oracle's 1.0::DOUBLE / |seeds|
    val p = when(col("node").isin(seeds.map(x => x: Any): _*),
      lit(1.0 / seeds.size)).otherwise(lit(0.0))
    randomWalk("personalizedPageRank", edges, iterations, damping,
      syncDecimals)(_ => Teleport(identity, p, _ * p))
  }

  /** How a [[randomWalk]] restarts: `attach` joins in what `r0` and
    * `spread` read, `r0` is the initial rank and `spread(x)` hands the
    * mass x to a node by the teleport vector. */
  private case class Teleport(attach: DataFrame => DataFrame, r0: Column,
      spread: Column => Column)

  /** The power iteration [[pageRank]] and [[personalizedPageRank]] share.
    * Per round, contrib(v) = Σ_{u→v} r(u)·w(u,v)/out(u) and the dangling
    * mass parked on nodes without out-edges combine into
    * r'(v) = spread(1−d) + d·(contrib(v) + spread(mass)), rounded to
    * `syncDecimals`; `teleport` derives the restart from the node set.
    */
  private def randomWalk(op: String, edges: DataFrame, iterations: Int,
      damping: Double, syncDecimals: Int)(
      teleport: DataFrame => Teleport): DataFrame = Iterate.scope { sc =>
    require(iterations >= 1, "iterations must be at least 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // materialize the (often expensive) edge derivation ONCE — the
    // iteration lineage must re-root at data, not at the upstream query
    val e = sc.checkpoint(edges.select(col("src"), col("dst"),
      col("weight").cast("double").as("w")))
    // nodes/outW are ROUND-INVARIANT: checkpoint them once so each
    // iteration's plan reads materialized partitions instead of
    // re-running the distinct/agg shuffles every round (r15)
    val nodes = sc.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val outW = sc.checkpoint(e.groupBy(col("src")).agg(sum(col("w")).as("ow")))
    // n-sized round inputs (ranks, outW, contrib) broadcast when the
    // node count bounds them under the budget: the per-round joins then
    // run map-side over e's materialized partitions instead of
    // re-shuffling the m-row edge table every round
    val bcN = bcUnder(nodes.count(), 32)
    val t = teleport(nodes)
    val r0 = sc.checkpoint(t.attach(nodes).select(col("node"), t.r0.as("r")))
    sc.rounds(op, r0, iterations) { (ranks, _) =>
      val contrib = e.join(bcN(ranks.withColumnRenamed("node", "src")),
          Seq("src"))
        .join(bcN(outW), Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("r") * col("w") / col("ow")).as("contrib"))
      val dangling = broadcast(
        ranks.join(bcN(outW.withColumnRenamed("src", "node")), Seq("node"),
            "left_anti")
          .agg(coalesce(sum(col("r")), lit(0.0)).as("mass")))
      t.attach(nodes.join(bcN(contrib), Seq("node"), "left").join(dangling))
        .select(col("node"), round(
            t.spread(lit(1.0 - damping)) + lit(damping) *
              (coalesce(col("contrib"), lit(0.0)) + t.spread(col("mass"))),
            syncDecimals).as("r"))
    }._1
  }

  /** HITS hubs and authorities (Kleinberg, JACM 1999) by `iterations`
    * rounds of the coupled power iteration over weighted directed edges
    * (src, dst, weight), with SUM (L1) normalization each half-step —
    * the normalization common library practice uses (any positive
    * rescaling preserves HITS's fixed-point direction; L1 keeps the
    * recurrence division-only, no sqrt, so the cross-engine float
    * contract below holds).
    *
    * a₀ = h₀ = 1/N; per round:
    *   a'(v) = Σ_{u→v} w·h(u),  a = a' / Σ_v a'(v)
    *   h'(u) = Σ_{u→v} w·a(v),  h = h' / Σ_u h'(u)
    *
    * Determinism: each per-node weighted sum AND each normalization
    * total is rounded to `syncDecimals` before the quotient, so
    * summation-order ulps re-synchronize every half-step and the
    * quotient is a fixed IEEE division of identical operands on every
    * engine (the g1 per-round rounding contract). Nodes with no
    * in-edges hold authority 0, no out-edges hub 0 (coalesce) — mass
    * concentrates on the connected structure, as HITS defines.
    *
    * Scale: each half-step is one equi join (scores ⋈ edges) + one hash
    * agg on the opposite endpoint + one broadcast total — O(m) shuffle
    * rows per round, partitioning reused across rounds; the d7/g1
    * checkpoint-per-round discipline bounds lineage growth.
    */
  def hits(edges: DataFrame, iterations: Int = 3,
      syncDecimals: Int = 12): DataFrame = Iterate.scope { sc =>
    require(iterations >= 1, "iterations must be at least 1")
    val e = sc.checkpoint(edges.select(col("src"), col("dst"),
      col("weight").cast("double").as("w")))
    // round-invariant node set checkpointed once (see randomWalk)
    val nodes = sc.checkpoint(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val bcN = bcUnder(nodes.count(), 32)
    val nDf = broadcast(nodes.agg(count(lit(1)).cast("double").as("n")))
    val h0 = sc.checkpoint(nodes.join(nDf)
      .select(col("node"), (lit(1.0) / col("n")).as("h")))
    // the authority half-step checkpoints inside the round, so the
    // round loop releases each round's authorities with its hubs
    var auths: DataFrame = null
    val (hubs, _) = sc.rounds("hits", h0, iterations) { (hubs, _) =>
      // authority half-step: pull hub mass along in-edges
      val aRaw = nodes.join(
          bcN(e.join(bcN(hubs.withColumnRenamed("node", "src")), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(round(sum(col("w") * col("h")), syncDecimals).as("ar"))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("ar"), lit(0.0)).as("ar"))
      val aTot = broadcast(
        aRaw.agg(round(sum(col("ar")), syncDecimals).as("at")))
      auths = sc.checkpoint(aRaw.join(aTot)
        .select(col("node"),
          round(col("ar") / col("at"), syncDecimals).as("a")))
      // hub half-step: pull the fresh authority mass along out-edges
      val hRaw = nodes.join(
          bcN(e.join(bcN(auths.withColumnRenamed("node", "dst")), Seq("dst"))
            .groupBy(col("src").as("node"))
            .agg(round(sum(col("w") * col("a")), syncDecimals).as("hr"))),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("hr"), lit(0.0)).as("hr"))
      val hTot = broadcast(
        hRaw.agg(round(sum(col("hr")), syncDecimals).as("ht")))
      hRaw.join(hTot)
        .select(col("node"),
          round(col("hr") / col("ht"), syncDecimals).as("h"))
    }
    // materialized (n rows) so the scope can release every per-round
    // checkpoint instead of pinning them under a lazy join
    sc.checkpoint(auths.join(bcN(hubs), Seq("node"))
      .select(col("node"), col("a").as("auth"), col("h").as("hub")))
  }

  /** Newman modularity per community: for a label assignment over the
    * undirected edge list, each community c contributes
    * Q_c = m_c/m − (d_c/2m)², where m_c counts intra-community edges,
    * d_c sums member degrees, and m is the edge count — the standard
    * community-quality decomposition (Newman & Girvan 2004). All
    * inputs are EXACT integers from two hash aggs (degrees, intra
    * counts), so each per-community contribution is a fixed scalar IEEE
    * tree over exact operands — bit-identical cross-engine with no
    * rounding. The total Q is the sum of the rows; it is deliberately
    * NOT emitted (a float sum across communities is summation-order
    * dependent — the per-row decomposition is the hashable contract).
    * Isolated labeled nodes (no incident edge) are excluded: modularity
    * is defined over the graph.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val m = broadcast(e.agg(count(lit(1)).as("__m")))
    val ed = e.unionByName(e.select(col("dst").as("src"),
      col("src").as("dst")))
    val deg = ed.groupBy(col("src").as("node")).agg(count(lit(1)).as("__d"))
    val lbl = labels.select(col("node"), col("label"))
    val mc = e
      .join(lbl.select(col("node").as("src"), col("label").as("__la")),
        Seq("src"))
      .join(lbl.select(col("node").as("dst"), col("label").as("__lb")),
        Seq("dst"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label")).agg(count(lit(1)).as("__mc"))
    val dc = lbl.join(deg, Seq("node"))
      .groupBy(col("label")).agg(sum(col("__d")).as("__dc"))
    val x = col("__dc").cast("double") / (lit(2L) * col("__m")).cast("double")
    dc.join(mc, Seq("label"), "left").join(m)
      .select(col("label"),
        coalesce(col("__mc"), lit(0L)).cast("long").as("m_c"),
        col("__dc").cast("long").as("d_c"),
        (coalesce(col("__mc"), lit(0L)).cast("double") /
          col("__m").cast("double") - x * x).as("q_contrib"))
  }

  /** Single-source BFS hop distances over an undirected edge list —
    * level-synchronous frontier expansion (the Pregel shape reduced to
    * joins): each round joins the CURRENT frontier (not the whole
    * visited set) against the edge list, anti-joins out already-visited
    * nodes, and stops when the frontier drains or `maxHops` is reached.
    * Per-round cost is |frontier-adjacent edges|; total work is O(m)
    * across all rounds, rounds are bounded by the graph's diameter.
    * Each round checkpoints its frontier, and the drain check is the
    * frontier's size as observed by that checkpoint job.
    */
  def bfsHops(edges: DataFrame, source: Long, maxHops: Int = 10)
      : DataFrame = Iterate.scope { sc =>
    require(maxHops >= 1, "maxHops must be at least 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = sc.checkpoint(edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // `visited` accumulates as a LAZY union of the checkpointed
    // frontiers (r15): each round checkpoints only its new frontier —
    // one job — instead of also re-materializing the whole visited set;
    // the anti-join target is then ≤ maxHops cheap materialized scans,
    // and the plan stays O(rounds), not O(rounds²). The union reads
    // every frontier, so the rounds retain them until the final
    // checkpoint below.
    val start = sc.checkpoint(Seq((source, 0L)).toDF("node", "hops"))
    // frontier/visited are bounded by the node count ≤ |e| (every node
    // appears as a src of the symmetrized edge list) — gate on the edge
    // count, which the checkpointed scan yields without a shuffle
    val bcN = bcUnder(e.count(), 32)
    var visited = start
    val (last, drained) = sc.rounds("bfsHops", start, maxHops,
        observe = Seq(count(lit(1))), until = _.getLong(0) == 0L,
        retain = true) { (frontier, r) =>
      if (r > 0) visited = visited.unionByName(frontier)
      e.join(bcN(frontier.select(col("node").as("src"))), Seq("src"))
        .select(col("dst").as("node")).distinct()
        .join(bcN(visited), Seq("node"), "left_anti")
        .withColumn("hops", lit(r + 1L))
    }
    sc.checkpoint(if (drained) visited else visited.unionByName(last))
  }

  /** Hop-bounded weighted shortest paths (synchronous Bellman-Ford):
    * `rounds` relaxation rounds from `source` over undirected weighted
    * edges (src, dst, w) — after round k every node holds the exact
    * minimum-weight distance over paths of ≤ k edges, the well-defined
    * finite semantics for cyclic graphs (full SSSP = run to fixpoint;
    * the round-bounded form is what an oracle can unroll). Each round
    * is ONE equi join (dist ⋈ edges) + ONE min agg keyed by node —
    * shuffle volume is O(m) per round with 16-byte rows, the d7/g7
    * checkpoint-per-round discipline bounds lineage, and negative
    * weights are rejected up front (min-relaxation is only monotone
    * without them). Production frontier pruning (relax only improved
    * nodes) drops per-round work to the changed set; the full relax
    * here keeps the probe byte-identical to the unrolled oracle.
    */
  def ssspRounds(edges: DataFrame, source: Long, rounds: Int): DataFrame =
      Iterate.scope { sc =>
    require(rounds >= 1, "rounds must be at least 1")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = sc.checkpoint(
      edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .unionByName(edges.select(col("dst").as("src"), col("src").as("dst"),
          col("w").cast("long").as("w")))
        .groupBy("src", "dst").agg(min("w").as("w")))
    require(e.filter(col("w") < 0).isEmpty, "negative edge weights")
    val d0 = sc.checkpoint(Seq((source, 0L)).toDF("node", "dist"))
    // dist is bounded by the node count ≤ |e| (symmetrized edges): gate
    // on the shuffle-free edge count so each relaxation round is a
    // map-side broadcast join over e's materialized partitions
    val bcN = bcUnder(e.count(), 32)
    sc.rounds("ssspRounds", d0, rounds) { (dist, _) =>
      val relaxed = e
        .join(bcN(dist.select(col("node").as("src"), col("dist"))),
          Seq("src"))
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist.unionByName(relaxed)
        .groupBy("node").agg(min("dist").as("dist"))
    }._1
  }

  /** Materialize an edge list as a BUCKETED parquet table (external
    * path, in-memory catalog): repeated graph analytics (triangles,
    * k-core, link prediction, PageRank all re-derive edges from the
    * fact scan otherwise) read the derivation once, and every src-keyed
    * aggregate or equi join over the table skips its shuffle entirely —
    * the bucket layout IS the hash partitioning (asserted in
    * PartitioningSpec). At fleet scale the bucket count scales with
    * edge volume; the catalog entry travels with the metastore.
    */
  def materializeEdges(edges: DataFrame, table: String, path: String,
      buckets: Int = 8): DataFrame = {
    val s = edges.sparkSession
    edges.select(col("src"), col("dst"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "src").sortBy("src")
      .option("path", path).saveAsTable(table)
    s.table(table)
  }

  /** The k-core of an undirected edge list: the maximal subgraph in
    * which every node has degree ≥ k (Seidman 1983), by the standard
    * iterative peeling fixpoint — drop nodes below degree k, re-derive
    * degrees, repeat until the edge set stops shrinking.
    *
    * Scale shape (the d7 connected-components discipline): every round
    * is one hash agg (degrees) + two left-semi equi joins (edge
    * filtering), all shuffling on node keys so the partitioning is
    * reused; each round `localCheckpoint`s and releases the previous
    * round's blocks. Rounds are bounded by the peeling depth (the
    * graph's degeneracy ordering height), NOT by n — real sparse graphs
    * converge in a handful of rounds; `maxRounds` turns a pathological
    * chain into a diagnosed error instead of a silent half-answer (the
    * d7 non-convergence contract).
    *
    * Self-loops and duplicate/reverse edges are normalized away first.
    * Returns `(node, core_degree)` — each surviving node with its degree
    * INSIDE the core (≥ k by construction; empty result = empty core).
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 16): DataFrame =
      Iterate.scope { sc =>
    require(k >= 1, "k must be at least 1")
    require(maxRounds >= 1, "maxRounds must be at least 1")
    def degrees(e: DataFrame): DataFrame =
      e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("core_degree"))
    val e0 = sc.checkpoint(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())
    var nEdges = e0.count()
    def unchanged(observed: Row): Boolean = {
      val n = observed.getLong(0)
      val same = n == nEdges
      nEdges = n
      same
    }
    // the surviving edge count is observed by the round's checkpoint job
    val (core, stable) = sc.rounds("kCore", e0, maxRounds,
        observe = Seq(count(lit(1))), until = unchanged) { (cur, _) =>
      // keep is bounded by 2·|edges| nodes: under the budget both semi
      // joins broadcast it, so the surviving edge set is filtered
      // map-side instead of being re-shuffled twice per peeling round
      val bcK = bcUnder(nEdges, 64)
      val keep = degrees(cur).filter(col("core_degree") >= k).select("node")
      cur
        .join(bcK(keep.withColumnRenamed("node", "a")), Seq("a"), "left_semi")
        .join(bcK(keep.withColumnRenamed("node", "b")), Seq("b"), "left_semi")
    }
    if (!stable)
      sys.error(s"kCore: no fixpoint after $maxRounds rounds " +
        s"($nEdges edges live) — raise maxRounds for this graph")
    // materialized (node-sized) so the scope can release the surviving
    // edge set's checkpoint
    sc.checkpoint(degrees(core))
  }

  /** Synchronous label propagation (Raghavan et al. 2007, the
    * semi-supervised labeling workhorse): `rounds` rounds of every node
    * adopting the MAJORITY label among its neighbors' current labels
    * (ties → smallest label; isolated nodes keep their own). A FIXED
    * round count, not a convergence test — determinism across engines
    * (the pageRank contract); label-prop oscillates on bipartite
    * structures, so fixed-round synchronous is also the defensible
    * semantics. Per round: one equi join (neighbor labels) + two
    * map-combinable aggs (count, then the min-(−cnt,label) argmax —
    * the a28 mode shape), checkpointed by [[Iterate]] (d7).
    */
  def labelPropagation(edges: DataFrame, labels: DataFrame,
      rounds: Int): DataFrame = Iterate.scope { sc =>
    require(rounds >= 1, "rounds must be at least 1")
    val ed = sc.checkpoint(
      edges.select(col("src").as("node"), col("dst").as("nbr"))
        .union(edges.select(col("dst").as("node"), col("src").as("nbr")))
        .filter(col("node").isNotNull && col("nbr").isNotNull &&
          col("node") =!= col("nbr"))
        .distinct())
    val lab0 = sc.checkpoint(labels.select(col("node"),
      col("label").cast("long").as("label")))
    // lab is node-bounded ≤ |ed|: broadcast it per round under the
    // budget so ed's materialized partitions are never re-shuffled
    val bcN = bcUnder(ed.count(), 32)
    sc.rounds("labelPropagation", lab0, rounds) { (lab, _) =>
      val vote = ed
        .join(bcN(lab.select(col("node").as("nbr"), col("label").as("nl"))),
          Seq("nbr"))
        .groupBy(col("node"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy("node")
        .agg(min(struct((-col("c")).as("nc"), col("nl").as("l"))).as("m"))
        .select(col("node"), col("m.l").as("vote"))
      lab.join(bcN(vote), Seq("node"), "left")
        .select(col("node"), coalesce(col("vote"), col("label")).as("label"))
    }._1
  }

  /** Common-neighbor link prediction over an undirected edge list
    * (Liben-Nowell & Kleinberg CIKM'03): score every NON-adjacent pair
    * at distance 2 by its common-neighbor count and neighborhood
    * Jaccard cn / (deg(a) + deg(b) − cn), and keep the top `topK` by
    * (jaccard DESC, cn DESC, a, b).
    *
    * Scale shape: wedge enumeration is inherently Σ deg(v)² — one
    * celebrity node makes it quadratic — so nodes above `maxDegree` are
    * dropped FIRST (the standard hub cap for neighborhood methods:
    * a hub's common-neighbor signal is noise anyway). After the cap,
    * each node's neighbor array is bounded, wedge pairs explode IN-ROW
    * from one collect_set aggregate (no self-join of the edge list —
    * the t26/g2 lesson), and the only shuffles are node-keyed aggs plus
    * the pair-count agg. Degrees for the Jaccard are the degrees of the
    * CAPPED graph, so the score is internally consistent.
    */
  def linkPrediction(edges: DataFrame, maxDegree: Int = 64,
      topK: Int = 100): DataFrame = Iterate.scope { sc =>
    require(maxDegree >= 2, "maxDegree must be at least 2")
    val und = sc.checkpoint(edges.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())
    val deg0 = und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    val keep = deg0.filter(col("d") <= maxDegree).select("node")
    val e = sc.checkpoint(und
      .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
      .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d"))
    // per-node sorted neighbor array (bounded by maxDegree), wedge pairs
    // exploded in-row: neighbors u < v of the mid node are a candidate
    // (or existing) edge with one common neighbor — the mid itself
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .union(e.select(col("b").as("node"), col("a").as("nbr")))
      .groupBy("node").agg(sort_array(collect_set(col("nbr"))).as("ns"))
    val wedges = adj
      .select(explode(flatten(transform(col("ns"), (x, i) =>
        transform(slice(col("ns"), i + 2, size(col("ns"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cn = wedges.groupBy("a", "b").agg(count(lit(1)).as("cn"))
      .join(e, Seq("a", "b"), "left_anti")
    cn.join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        col("cn").cast("double")
          ./((col("da") + col("db") - col("cn")).cast("double")).as("score"))
      .orderBy(col("score").desc, col("cn").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Exact global triangle count over an undirected edge list, by the
    * degree-ordered edge iterator (Schank & Wagner 2005; the adjacency
    * formulation of Suri & Vassilvitskii WWW'11): orient every edge from
    * its (degree, node)-smaller endpoint to the larger, build each
    * node's oriented out-neighbor array, and for every oriented edge
    * (u, v) count |N⁺(u) ∩ N⁺(v)| in-row. Each triangle {x→y, x→z, y→z}
    * (orientation order) is counted exactly once — z appears in
    * N⁺(x) ∩ N⁺(y) for edge (x, y) and in neither other edge's
    * intersection — so the count needs no distinct.
    *
    * Why orientation matters at scale: an unoriented wedge count pays
    * Σ deg(v)² — a single celebrity node with degree 10⁷ contributes
    * 10¹⁴ wedges. Orientation bounds every out-degree by O(√m), so the
    * intersection work is O(m^1.5) WORST case (the optimum for exact
    * counting) regardless of skew, and every adjacency array tops out at
    * O(√m) entries — bounded rows, no collect_set blowup. Why the edge
    * iterator beats the explicit wedge JOIN (the previous formulation
    * here): the O(m^1.5) wedge set is never materialized or shuffled —
    * the only exchanges are the two node-keyed equi joins of the edge
    * list against the adjacency table (m rows each), and the
    * intersection runs inside the scan (codegen'd array_intersect).
    * Measured on the g2 co-purchase probe: 7.4 s wedge join → ~1 s.
    *
    * Returns a single row `(n_nodes, n_edges, n_triangles)`. Self-loops
    * and duplicate/reverse edges are normalized away first.
    */
  def triangleCount(edges: DataFrame): DataFrame = Iterate.scope { sc =>
    // ids are narrowed to long for the fused merge below — a non-numeric
    // id type would cast to null and be silently swallowed by the
    // isNotNull filter (0 edges, 0 triangles). Fail loudly instead
    // (ADVICE r15): require a type whose long cast is lossless.
    Seq("src", "dst").foreach { c =>
      import org.apache.spark.sql.types._
      val ok = edges.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      }
      require(ok, s"triangleCount: column '$c' must be an integral type " +
        s"(ids are compared as long); got ${edges.schema(c).dataType}")
    }
    // node ids normalized to long up front: the adjacency arrays below go
    // through the fused sorted-merge intersection, which reads long slots
    // the wedge join re-reads this THREE times — cut the (possibly
    // expensive) edge-derivation lineage once, like pageRank's edges
    val und = sc.checkpoint(edges.select(
        least(col("src"), col("dst")).cast("long").as("a"),
        greatest(col("src"), col("dst")).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct())
    // deg is re-read lazily by the final n_nodes aggregate — checkpoint
    // it (one row per node) so releasing `und` at scope exit can't
    // strand it
    val deg = sc.checkpoint(und.select(col("a").as("node"))
      .union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("d")))
    val lower = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    val oriented = sc.checkpoint(und
      .join(deg.select(col("node").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(lower, col("a")).otherwise(col("b")).as("u"),
        when(lower, col("b")).otherwise(col("a")).as("v")))
    // m is needed for the output anyway; it also drives the adjacency
    // join strategy below (count over a checkpointed RDD — no recompute)
    val m = oriented.count()
    // oriented out-adjacency: bounded at O(√m) entries per row by the
    // degree orientation, so collect_set can never build a celebrity row.
    // SORTED so the per-edge intersection is one allocation-free merge
    // pass (graft.functions.Sketches.sortedOverlap) instead of the
    // hash-set-per-row array_intersect — the fused-kernel lesson applied
    // to the graph family.
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("nbrs"))
    // The adjacency table holds exactly m entries (each oriented edge
    // appears in exactly one out-list): ~8m bytes + row overhead. Joining
    // it back onto the m edge rows by SHUFFLE ships every O(√m)-sized
    // array once per incident edge — m·deg⁺ array elements over the wire,
    // √m× the table itself. When the table fits a broadcast (≤ ~64 MB of
    // entries), broadcast BOTH probes instead: the m edge rows then never
    // leave their partitions and the arrays cross the network once per
    // executor (guide §3.1: broadcast the side that fits — size known
    // exactly here, no estimate needed). Past that bound the shuffle join
    // is the scale-correct shape and AQE sizes it from runtime stats.
    val adjU = adj.select(col("u"), col("nbrs").as("__nu"))
    val adjV = adj.select(col("u").as("v"), col("nbrs").as("__nv"))
    val small = m * 12L < 64L * 1024 * 1024
    val withAdj =
      if (small) oriented.join(broadcast(adjU), Seq("u"))
        .join(broadcast(adjV), Seq("v"))
      else oriented.join(adjU, Seq("u")).join(adjV, Seq("v"))
    // inner joins are lossless for the COUNT: an endpoint missing from
    // adj has no out-neighbors, so its intersection is empty anyway
    val tri = withAdj
      .agg(coalesce(sum(graft.functions.Sketches.sortedOverlap(
        col("__nu"), col("__nv"))), lit(0)).cast("long").as("n_triangles"))
    val nNodes = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
    broadcast(nNodes)
      .join(broadcast(oriented.sparkSession.range(1)
        .select(lit(m).as("n_edges"))))
      .join(tri)
  }
}
