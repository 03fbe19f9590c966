package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Barriers.oncePerRow

/** Embedding similarity search (SURVEY.md §2.10): exact cosine top-k as
  * the baseline, random-hyperplane LSH bucketing as the approximate scale
  * path.
  *
  * All vector arithmetic is `zip_with`/`aggregate` over `array<double>` —
  * native Catalyst higher-order expressions evaluated in-row (no UDF, no
  * serialization). Folds are sequential left-to-right, which keeps results
  * bit-identical to any other engine that sums in element order (the
  * DuckDB oracle does).
  */
object Similarity {

  /** Cast a float embedding to double for stable arithmetic. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Cosine similarity, total over degenerate inputs: a zero-norm
    * vector would make the plain quotient THROW under Spark 4's
    * default ANSI mode (DIVIDE_BY_ZERO) and a NaN component would
    * poison any descending rank (NaN sorts above every real value) —
    * both score 0.0 instead, as do NULL vectors. Non-degenerate values
    * are bit-identical to the plain quotient (`try_divide` ≡ `/` when
    * the divisor is nonzero), so every existing oracle is unaffected.
    *
    * Since r14 this is the FUSED kernel (one imperative pass instead
    * of three interpreted `aggregate ∘ zip_with` folds per row — the
    * measured fused-expression lesson applied to the exact-scan hot
    * path). Bit-identical to [[cosineHof]], which is retained as the
    * spec parity twin; callers must pass `array<double>` inputs (the
    * [[asDouble]] discipline every call site already follows).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Vectors.cosine(a, b)

  /** The pre-r14 higher-order-function formulation of [[cosine]] —
    * kept ONLY as the bit-parity oracle for the fused kernel
    * (SimilarityAsOfSpec); not on any hot path.
    */
  private[operators] def cosineHof(a: Column, b: Column): Column =
    coalesce(nanvl(try_divide(dot(a, b), norm(a) * norm(b)), lit(0.0)),
      lit(0.0))

  /** Assign every vector to its nearest centroid by cosine — the
    * assignment step of Lloyd's k-means (and the exact form of the IVF
    * probe-routing this file's `ivfTopK` approximates). `centroids` is a
    * small `(centroid_id, cv)` relation, broadcast and cross-joined — k
    * rows replicated to every scan task, NO shuffle of the corpus except
    * the final map-combinable per-vector argmax (each vector's k
    * candidate rows partial-aggregate to one before the exchange).
    *
    * Cosines round to 6 d.p. BEFORE the argmax (cross-engine ranking
    * stability) and `+ 0.0` normalizes a −0.0 similarity (the t24
    * lesson); exact ties break to the LOWEST centroid_id via the
    * max-struct trick (negated id as the second sort key).
    */
  def assignToCentroids(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .crossJoin(broadcast(
        centroids.select(col("centroid_id"), asDouble(col("cv")).as("cv"))))
      .select(col("vec_id"), col("centroid_id"),
        (round(cosine(col("v"), col("cv")), 6) + lit(0.0)).as("sim"))
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("centroid_id")).as("ni"),
        col("centroid_id").as("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("centroid_id"),
        col("m.sim").as("sim"))

  /** Lloyd's k-means over cosine similarity: `iterations` rounds of
    * (assign → recompute means), then a final assignment against the
    * last centroids. Every round is the s13/s14 pair composed: broadcast
    * centroids + map-combinable argmax (no corpus shuffle beyond it),
    * then per-(cluster, dim) means rebuilt into centroid arrays with a
    * sort_array/transform (k·d rows — driver-free). Cross-engine
    * determinism is the pageRank re-sync discipline: similarities round
    * 6 d.p. before every argmax and means are round(sum,4)/count exact
    * quotients, so engines re-synchronize each round instead of
    * compounding ulps. A cluster losing all members drops out of the
    * next round (standard Lloyd's degeneracy; deterministic on both
    * engines).
    */
  def kmeans(embeddings: DataFrame, centroids: DataFrame,
      iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("embedding"))
    var cents = centroids.select(col("centroid_id"),
      asDouble(col("cv")).as("cv"))
    for (_ <- 1 to iterations) {
      val assign = assignToCentroids(e, cents)
      cents = assign.join(e, Seq("vec_id"))
        .select(col("centroid_id"),
          posexplode(col("embedding")).as(Seq("pos", "val")))
        .groupBy("centroid_id", "pos")
        .agg((round(sum("val"), 4) / count(lit(1))).as("mv"))
        .groupBy("centroid_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("mv")))).as("pm"))
        .select(col("centroid_id"),
          transform(col("pm"), x => x.getField("mv")).as("cv"))
    }
    assignToCentroids(e, cents)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * SIGIR'98): from the top-`candK` cosine candidates for `queryId`,
    * greedily select `selectK` maximizing
    * λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).
    *
    * Scale shape: relevance and the candidate×candidate similarity
    * matrix are computed DISTRIBUTED with the same rounded cosine
    * expressions as every other probe (numeric parity with the oracle);
    * only the inherently sequential greedy loop runs on the driver, over
    * the collected candK×candK matrix — bounded by candK² (the IVF
    * single-row-collect justification: the algorithm is defined on a
    * small candidate set; candK is the re-ranking window, not the
    * corpus). Ties break to the lower vec_id at every pick.
    */
  def mmrRerank(embeddings: DataFrame, queryId: Long, candK: Int,
      selectK: Int, lambda: Double): DataFrame = {
    require(candK >= selectK && selectK >= 1, "need candK ≥ selectK ≥ 1")
    val spark = embeddings.sparkSession
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val q = broadcast(e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv")))
    val cand = e.filter(col("vec_id") =!= queryId).crossJoin(q)
      .select(col("vec_id"), col("v"),
        (round(cosine(col("v"), col("qv")), 6) + lit(0.0)).as("rel"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(candK)
    val rel = cand.select("vec_id", "rel").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val a = cand.select(col("vec_id").as("ai"), col("v").as("va"))
    val b = cand.select(col("vec_id").as("bi"), col("v").as("vb"))
    val sims = a.crossJoin(broadcast(b)).filter(col("ai") =!= col("bi"))
      .select(col("ai"), col("bi"),
        (round(cosine(col("va"), col("vb")), 6) + lit(0.0)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // greedy: pick 1 is pure relevance; thereafter the MMR score
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(rel.toSeq: _*)
    while (selected.size < selectK && remaining.nonEmpty) {
      val pick =
        if (selected.isEmpty) remaining.minBy { case (id, r) => (-r, id) }
        else remaining.minBy { case (id, r) =>
          val ms = selected.map(s => sims((id, s._1))).max
          (-(lambda * r - (1.0 - lambda) * ms), id)
        }
      selected += ((pick._1, pick._2))
      remaining.remove(pick._1): Unit
    }
    import spark.implicits._
    selected.zipWithIndex
      .map { case ((id, r), i) => (i + 1, id, r) }.toSeq
      .toDF("rank", "vec_id", "rel")
  }

  /** Exact top-k by cosine against the embedding of `queryId`. The single
    * query vector is a broadcast nested-loop over the scan — a full pass
    * but no shuffle; `round` before ordering makes the ranking stable
    * across engines. At cluster scale this is the "flat" baseline: one map
    * stage + a TakeOrdered, network cost O(k × partitions).
    */
  def topKCosine(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = broadcast(embeddings.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv")))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"),
        round(cosine(asDouble(col("embedding")), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** [[topKCosine]] with a candidate predicate — filtered vector search
    * (metadata + vector, the RAG retrieval shape: "top-k nearest WHERE
    * label = X"). The predicate is applied BEFORE the distance compute
    * and is a plain scan filter, so Catalyst pushes it into the parquet
    * scan (PushedFilters) and, with a label-partitioned layout, prunes
    * whole partitions — the candidate set shrinks at the source rather
    * than post-scoring, unlike post-filtered ANN which over-fetches.
    * Exact (brute-force within the filtered set): the correctness
    * baseline any filtered-ANN variant is recall-gated against.
    */
  def topKCosineFiltered(embeddings: DataFrame, queryId: Long, k: Int,
      candidatePred: Column): DataFrame = {
    val q = broadcast(embeddings.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv")))
    embeddings.filter(candidatePred && col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(cosine(asDouble(col("embedding")), col("qv")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** All pairs with cosine ≥ `threshold` among vec_id < `idCap` — the
    * embedding near-dup probe. Bounded cross join (idCap² pairs) used as a
    * correctness oracle; the scale path is [[annBuckets]] + join within
    * buckets.
    */
  def nearDupPairs(embeddings: DataFrame, idCap: Long, threshold: Double): DataFrame = {
    val e = embeddings.filter(col("vec_id") < idCap)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // the quadratic verify is streamed-side × broadcast: with the test
    // tables' one-file scans the streamed side is ONE task and the whole
    // idCap² cosine sweep runs on one core — fan the streamed side out
    // (size-derived, a structural no-op once splits outnumber cores)
    val a = Scale.fanOutSmallScan(e)
      .select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication
    * — keep exactly ONE representative (the minimum vec_id) of every
    * embedding near-duplicate cluster, dropping the rest. Pipeline:
    * cosine near-dup pairs → connected components
    * ([[graft.operators.Dedup.clusters]], min-label join iteration) →
    * survivors = cluster representatives plus all singletons, each with
    * its cluster population. This bounded variant runs the exact
    * quadratic pair generator so the s12 probe is oracle-checkable
    * end-to-end (DuckDB recursive CTE, the d7 pattern); the production
    * path swaps [[nearDupPairsBucketed]] (s6's LSH contract) in front —
    * the CC + keep tail is identical and never sees the swap.
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double,
      idCap: Long): DataFrame = {
    val comp = Dedup.clusters(nearDupPairs(embeddings, idCap, threshold))
    val sizes = comp.groupBy("cluster_id")
      .agg(count(lit(1)).as("__cs"))
    embeddings.filter(col("vec_id") < idCap)
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(comp.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
      .filter(col("vec_id") === col("cluster_id"))
      .join(sizes.withColumnRenamed("cluster_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        coalesce(col("__cs"), lit(1L)).cast("long").as("n_members"))
  }

  /** Deterministic pseudo-random unit hyperplanes (fixed seed) for
    * sign-LSH. Generated driver-side once; tiny (nBits × dim doubles) and
    * embedded as a literal into the plan, so executors pay nothing.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-LSH bucket id: bit i = sign(v · hyperplane_i). Vectors with high
    * cosine land in the same bucket with high probability (Charikar's
    * SimHash for angular distance). `roundTo >= 0` is the ORACLE-SAFE sign
    * rule: bit i = 1 iff the `roundTo`-d.p. ROUND of v · plane_i is
    * strictly positive — the rounding absorbs summation-order ulps so a
    * SQL twin's per-dim sum takes the identical branch (the s22
    * rounded-argmin discipline applied to a sign test).
    */
  def lshBucket(v: Column, planes: Array[Array[Double]],
      roundTo: Int = -1): Column =
    planes.zipWithIndex.foldLeft(lit(0L)) { case (acc, (p, i)) =>
      val plane = array(p.toIndexedSeq.map(lit(_)): _*)
      val d = if (roundTo >= 0) round(dot(v, plane), roundTo) else dot(v, plane)
      acc.bitwiseOR(shiftleft(when(d > 0, 1L).otherwise(0L), i))
    }

  /** Embeddings with an LSH `bucket` column. Downstream ANN = shuffle on
    * `bucket` (or bucketed-write once, then shuffle-free forever) and
    * search only within the query's bucket — the IVF-style scale path.
    */
  def annBuckets(embeddings: DataFrame, nBits: Int = 8, dim: Int = 64): DataFrame =
    embeddings.withColumn("bucket",
      lshBucket(asDouble(col("embedding")), hyperplanes(nBits, dim)))

  /** Number of independent LSH tables needed to catch a pair at cosine ≥
    * `threshold` with probability ≥ `targetRecall`, given `nBits` planes
    * per table: per-plane collision p₁ = 1 − θ/π (Charikar), per-table
    * p₁^nBits, tables chained as 1 − (1 − p)^T ≥ R. The [[Dedup.recommendedBands]]
    * analogue for the angular-LSH family — derives the recall/cost knob
    * from τ instead of hand-tuning.
    */
  def recommendedTables(threshold: Double, targetRecall: Double = 0.95,
      nBits: Int = 8): Int = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0,1)")
    val p1 = 1.0 - math.acos(threshold) / math.Pi
    val pTable = math.pow(p1, nBits)
    math.max(1, math.ceil(math.log(1.0 - targetRecall) /
      math.log(1.0 - pTable)).toInt)
  }

  /** All pairs with TRUE cosine ≥ `threshold`, found through multi-table
    * sign-LSH blocking — the named scale path next to the quadratic
    * [[nearDupPairs]] oracle. Shape mirrors [[Dedup.minhashNearDups]]:
    *
    *  1. each vector posts (table, bucket) keys — `nTables` independent
    *     hyperplane sets, buckets from [[lshBucket]];
    *  2. candidates = equi self-join on (table, bucket), id pairs ONLY
    *     through the cross-table `distinct` (8 B ids, never vectors — the
    *     distinct's shuffle bytes are the scarce resource at 100 TB);
    *  3. exact verify: vectors re-attach via two narrow joins and the
    *     true cosine filters the survivors, so every returned pair is
    *     exact — the LSH stage only bounds RECALL (≥ the S-curve bound
    *     [[recommendedTables]] inverts), never precision.
    *
    * Per-table candidate volume is Σ_buckets |bucket|²/2: more bits →
    * smaller buckets → fewer candidates but lower per-table recall, which
    * more tables buy back. Never an n² cross join.
    *
    * The geometry is seeded Gaussian planes ([[hyperplanes]] with seed
    * `seed + t` for table t) unless the caller passes `planes`: a flat
    * array of `nBits · nTables` planes, table t using
    * [planes(t·nBits), planes((t+1)·nBits)). With
    * [[dataDefinedHyperplanes]] and `roundTo = 6` every stage is
    * relational, so a DuckDB twin re-derives planes → buckets →
    * candidates → verified pairs from the same table (the s6 probe).
    */
  def nearDupPairsBucketed(embeddings: DataFrame, threshold: Double,
      nBits: Int = 8, nTables: Int = 8, dim: Int = 64, seed: Long = 42L,
      idCap: Option[Long] = None,
      planes: Option[Array[Array[Double]]] = None,
      roundTo: Int = -1): DataFrame = {
    val base = idCap.fold(embeddings)(c => embeddings.filter(col("vec_id") < c))
    val e = base.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val posted = lshPostings(e,
      tablePlanes(nBits, nTables, dim, seed, planes), roundTo)
    val a = posted.select(col("t"), col("bkt"), col("vec_id").as("id_a"))
    val b = posted.select(col("t"), col("bkt"), col("vec_id").as("id_b"))
    val cands = a.join(b, Seq("t", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    verifyCosine(cands, e, threshold)
  }

  /** Width-restoring exchange for verify stages whose input is narrow id
    * pairs but whose per-row cost is a CPU-heavy vector kernel: AQE's
    * byte-based coalescing merges the candidate exchange to one
    * partition (16 B/row looks tiny) and serializes the cosine verify —
    * the d9 finding applied to the embedding family. Round-robin at the
    * session shuffle width costs negligible bytes and is the width
    * production configures for the cluster, never the local core count.
    */
  private def fanCands(cands: DataFrame): DataFrame =
    cands.repartition(
      cands.sparkSession.sessionState.conf.numShufflePartitions)

  /** The per-table plane sets: the caller's flat `planes` array sliced
    * into `nTables` runs of `nBits`, or seeded Gaussian planes. */
  private def tablePlanes(nBits: Int, nTables: Int, dim: Int, seed: Long,
      planes: Option[Array[Array[Double]]]): Seq[Array[Array[Double]]] =
    planes match {
      case Some(p) =>
        require(p.length == nBits * nTables,
          s"need ${nBits * nTables} planes, got ${p.length}")
        (0 until nTables).map(t => p.slice(t * nBits, (t + 1) * nBits))
      case None => (0 until nTables).map(t => hyperplanes(nBits, dim, seed + t))
    }

  /** The ONE multi-table (table, bucket) posting layout both the full
    * bucketed pair join and its delta round hash under — sharing it is
    * what makes the delta-vs-full identity structural rather than a
    * comment (a table-seed or bucket tweak cannot diverge the persisted
    * corpus postings from a later delta's). `e` must carry
    * (vec_id, v: array<double>). */
  private def lshPostings(e: DataFrame, tables: Seq[Array[Array[Double]]],
      roundTo: Int): DataFrame = {
    val buckets = array(tables.map(p => lshBucket(col("v"), p, roundTo)): _*)
    e.select(col("vec_id"), posexplode(buckets)).toDF("vec_id", "t", "bkt")
  }

  /** Exact verify of candidate id pairs: vectors re-attach from `e`
    * (vec_id, v) and the 6-d.p. cosine (−0.0 normalized to 0.0, the t24
    * lesson) cuts at `threshold`. */
  private def verifyCosine(cands: DataFrame, e: DataFrame,
      threshold: Double): DataFrame =
    fanCands(cands)
      .join(e.select(col("vec_id").as("id_a"), col("v").as("va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("vb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (round(cosine(col("va"), col("vb")), 6) + lit(0.0)).as("sim"))
      .filter(col("sim") >= threshold)
      .orderBy("id_a", "id_b")

  /** Incremental embedding near-dup ingest — [[nearDupPairsBucketed]]'s
    * delta round, completing the three-modality incremental family
    * ([[Dedup.deltaExact]] digests, [[Dedup.deltaJaccardPairs]] text
    * shingles, this for vectors): all TRUE-cosine ≥ `threshold` pairs
    * over `corpus ∪ delta` that touch the delta, found by probing the
    * corpus's (table, bucket) postings with the delta alone. Ids must be
    * unique across both inputs; output contract is
    * [[nearDupPairsBucketed]]'s (id_a < id_b, exact `sim`).
    *
    * The hyperplanes are seed-deterministic (or the caller's frozen
    * `planes` — data-defined planes come from the CORPUS, so a later
    * delta can never reshape the index) — the index geometry is
    * frozen by construction, so the corpus participates only as its
    * persisted (t, bkt, vec_id) postings (bucketed-written once at index
    * build: the probe join is then exchange-free on the corpus side) and
    * its id-addressed vectors for the verify. Per round only the delta
    * is hashed: cost is |Δ|·nTables postings plus bucket-bounded
    * candidates — O(|Δ|), never a corpus rescan. Because bucketing is a
    * pure function of the vector, the delta round returns EXACTLY the
    * full run's delta-touching pairs (identity gated in spec — stronger
    * than a recall bound); recall vs exact cosine pairs keeps
    * [[nearDupPairsBucketed]]'s S-curve guarantee, and precision stays
    * exact (the verify recomputes the true cosine).
    */
  def nearDupPairsBucketedDelta(corpus: DataFrame, delta: DataFrame,
      threshold: Double, nBits: Int = 8, nTables: Int = 8, dim: Int = 64,
      seed: Long = 42L, planes: Option[Array[Array[Double]]] = None,
      roundTo: Int = -1): DataFrame = {
    def prep(df: DataFrame): DataFrame =
      df.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val eC = prep(corpus)
    val eD = prep(delta)
    // the SHARED lshPostings layout — bit-identical to what the full
    // run (and so the persisted corpus postings) was built with
    val tables = tablePlanes(nBits, nTables, dim, seed, planes)
    val pC = lshPostings(eC, tables, roundTo) // persisted in deployment
    val pD = lshPostings(eD, tables, roundTo)
    // corpus×delta probe (ids disjoint — normalized below) ∪ the
    // delta-internal triangle; id pairs only through the distinct
    val cross = pC.select(col("t"), col("bkt"), col("vec_id").as("id_a"))
      .join(pD.select(col("t"), col("bkt"), col("vec_id").as("id_b")),
        Seq("t", "bkt"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val tri = pD.select(col("t"), col("bkt"), col("vec_id").as("id_a"))
      .join(pD.select(col("t"), col("bkt"), col("vec_id").as("id_b")),
        Seq("t", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    verifyCosine(cross.unionAll(tri).distinct(), eC.unionAll(eD), threshold)
  }

  /** Approximate top-k: exact search restricted to the query vector's LSH
    * bucket and its Hamming-1 neighbor buckets (multi-probe) — the probe
    * set is `xor(bkt, qb) ∈ {0, 1, 2, 4, …}`, the scan ranks by 6-d.p.
    * cosine with id ties. `planes` (nBits of them) replaces the seeded
    * Gaussian geometry; with [[dataDefinedHyperplanes]] and
    * `roundTo = 6` the whole search is SQL-reproducible (the s3 probe).
    */
  def topKCosineApprox(embeddings: DataFrame, queryId: Long, k: Int,
      nBits: Int = 8, dim: Int = 64,
      planes: Option[Array[Array[Double]]] = None,
      roundTo: Int = -1): DataFrame = {
    val pls = tablePlanes(nBits, 1, dim, 42L, planes).head
    val e = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val bucketed = oncePerRow(e, "bucket" -> lshBucket(col("v"), pls, roundTo))
    val qRow = bucketed.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket").as("qb"))
    val q = broadcast(qRow)
    val probes = (0 until nBits).map(i =>
      col("qb").bitwiseXOR(lit(1L << i))) :+ col("qb")
    bucketed.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .filter(probes.map(p => col("bucket") === p).reduce(_ || _))
      .select(col("vec_id"),
        (round(cosine(col("v"), col("qv")), 6) + lit(0.0)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** DATA-DEFINED hyperplanes: plane `p` is the exact IEEE difference
    * of the table's vectors 2p and 2p+1 (the 2·nPlanes lowest ids) —
    * the quantizer-from-the-table trick applied to the sign-LSH
    * geometry, so a SQL oracle re-derives every plane relationally
    * (x − y is the same IEEE op on both engines). Differences of
    * corpus vectors are a legitimate LSH geometry, not just an oracle
    * device: they follow the data distribution's directions (the idea
    * behind learned/PCA-style projections), and sign-LSH needs only
    * DIRECTIONS, not Gaussian coordinates. Pass them as `planes` to
    * [[nearDupPairsBucketed]], [[nearDupPairsBucketedDelta]] or
    * [[topKCosineApprox]]; the seeded Gaussian family ([[hyperplanes]])
    * keeps its golden recall gates in spec.
    */
  def dataDefinedHyperplanes(embeddings: DataFrame,
      nPlanes: Int): Array[Array[Double]] = {
    val rows = embeddings.filter(col("vec_id") < 2 * nPlanes)
      .select(col("vec_id"), asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
    require(rows.length == 2 * nPlanes,
      s"expected the ${2 * nPlanes} lowest-id vectors, got ${rows.length}")
    val vs = rows.map(_.getSeq[Double](1).toArray)
    Array.tabulate(nPlanes) { p =>
      vs(2 * p).zip(vs(2 * p + 1)).map { case (x, y) => x - y }
    }
  }

  // ---- int8 quantization (index compression) ----------------------------

  /** Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
    * round(x_i / scale). Cuts index memory/IO 4× for ANN at scale (the
    * standard faiss-style SQ8 layout); reconstruction error per element
    * is ≤ scale/2. All native `transform`/`aggregate` expressions.
    * Output: `q` array<tinyint> + `q_scale` double alongside the id.
    */
  def quantizeInt8(embeddings: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val maxAbs = aggregate(v, lit(0.0),
      (acc, x) => greatest(acc, abs(x)))
    val scale = when(maxAbs === 0.0, lit(1.0)).otherwise(maxAbs / 127.0)
    embeddings
      .withColumn("q_scale", scale)
      .withColumn("q", transform(v,
        x => round(x / col("q_scale"), 0).cast("tinyint")))
  }

  /** Reconstruct approximate double vectors from the int8 form. */
  def dequantizeInt8(quantized: DataFrame, outCol: String = "embedding_dq"): DataFrame =
    quantized.withColumn(outCol,
      transform(col("q"), q => q.cast("double") * col("q_scale")))

  // ---- IVF (inverted-file) ANN ------------------------------------------

  /** Squared L2 distance between a vector column and a literal centroid. */
  private def l2sq(v: Column, c: Array[Double]): Column =
    aggregate(zip_with(v, array(c.toIndexedSeq.map(lit(_)): _*),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Index of the nearest centroid (L2), evaluated in-row — no UDF, no
    * shuffle. Fused imperative argmin ([[graft.functions.VectorKernels]]):
    * one pass per row instead of nCentroids interpreted
    * `aggregate ∘ zip_with` folds plus an array+argmin tree. Fold order
    * and the first-min tie rule are bit-equal to the
    * `array_position(dists, array_min(dists))` formulation it replaces
    * (ties — only possible for bit-identical distances — resolve to
    * the lowest index), so assignments, persisted indexes, and every
    * golden gate are unchanged (parity-gated in SimilarityAsOfSpec).
    */
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    graft.functions.Vectors.nearestCentroid(v, centroids)

  /** Derive the IVF list count from the corpus size instead of
    * hand-tuning: query cost ≈ nProbe·N/nLists scan + nLists centroid
    * ranks, minimized around nLists ≈ √N (the standard IVF-Flat sizing
    * guideline), clamped to a sane floor and rounded to a power of two
    * for stable partitioning.
    */
  def recommendedLists(corpusSize: Long, floor: Int = 16): Int = {
    require(corpusSize > 0)
    val ideal = math.sqrt(corpusSize.toDouble)
    val pow2 = math.pow(2, math.round(math.log(ideal) / math.log(2)).toDouble)
    math.max(floor, pow2.toInt)
  }

  /** Bounded, seeded sample the coarse quantizer trains on. A coarse
    * quantizer needs O(pointsPerCentroid × nCentroids) points, not the
    * corpus: at 100 TB a full-corpus KMeans is a driver-coordinated
    * multi-pass over everything, while the centroid quality plateaus a
    * few hundred points per centroid in (the faiss training guideline).
    *
    * Sampling is a seeded hash-order top-`target`: order by
    * `xxhash64(seed, embedding)` and limit. The planner runs it as
    * TakeOrderedAndProject — per-partition top-k heaps in a SINGLE scan,
    * no `count()` pre-pass over the corpus (the previous design paid a
    * full extra pass just to pick a Bernoulli fraction) and no full sort
    * shuffle. Exactly `min(N, target)` rows, a uniform-in-hash subset,
    * deterministic as a pure function of content + seed (partitioning-
    * independent). Corpora at or under the target pass through complete,
    * so small-SF results are unchanged. This method is fully lazy —
    * SimilarityAsOfSpec gates that constructing the plan launches no job.
    */
  def ivfFitSample(embeddings: DataFrame, nCentroids: Int,
      pointsPerCentroid: Int = 256, seed: Long = 42L): DataFrame = {
    require(nCentroids > 0 && pointsPerCentroid > 0)
    val target = math.toIntExact(nCentroids.toLong * pointsPerCentroid)
    embeddings.orderBy(xxhash64(lit(seed), col("embedding")).asc).limit(target)
  }

  /** Collect a fit sample to the driver in a CONTENT-deterministic
    * order: [[ivfFitSample]]'s TakeOrdered returns rows hash-ordered,
    * but duplicate vectors tie on the hash key and tie order is
    * partition-dependent — a final in-memory lexicographic sort makes
    * the array (hence every downstream fit) a pure function of corpus
    * content + seed. Bounded: nCentroids × pointsPerCentroid rows
    * (the audited driver-metadata collect class — 4096 × 64 doubles
    * ≈ 2 MB at the probe settings).
    */
  private def collectFitSample(embeddings: DataFrame, nCentroids: Int,
      pointsPerCentroid: Int, seed: Long,
      vecCol: String): Array[Array[Double]] = {
    val rows = ivfFitSample(embeddings.filter(col(vecCol).isNotNull),
        nCentroids, pointsPerCentroid, seed)
      .select(asDouble(col(vecCol)).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    scala.util.Sorting.stableSort(rows,
      (a: Array[Double], b: Array[Double]) => {
        var i = 0
        while (i < a.length && i < b.length && a(i) == b(i)) i += 1
        if (i < a.length && i < b.length) a(i) < b(i)
        else a.length < b.length
      })
    rows
  }

  /** Seeded Lloyd's k-means with k-means++ initialization (Arthur &
    * Vassilvitskii, SODA'07) over an in-memory sample. Used for the
    * IVF/PQ quantizer fits: the sample is bounded
    * (k × pointsPerCentroid rows — KBs), so a cluster-wide KMeans job
    * per fit is pure overhead — measured 6+ s of the s19 probe was m
    * MLlib fits whose actual arithmetic is ~40 MFLOP. Deterministic
    * for a fixed (points, k, seed); empty clusters keep their previous
    * center (MLlab's convention as well).
    */
  private[operators] def lloydFit(points: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int = 10): Array[Array[Double]] = {
    require(points.nonEmpty && k >= 1, "need points and k >= 1")
    val dim = points(0).length
    val rnd = new scala.util.Random(seed)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: next center drawn ∝ squared distance to the
    // nearest already-chosen center
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](
      points(rnd.nextInt(points.length)).clone())
    val minD = Array.fill(points.length)(Double.MaxValue)
    while (centers.size < k) {
      val last = centers.last
      var total = 0.0
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), last)
        if (d < minD(i)) minD(i) = d
        total += minD(i); i += 1
      }
      if (total == 0) // fewer distinct points than centers: duplicate one
        centers += points(rnd.nextInt(points.length)).clone()
      else {
        var r = rnd.nextDouble() * total
        var j = 0
        while (j < points.length - 1 && r >= minD(j)) { r -= minD(j); j += 1 }
        centers += points(j).clone()
      }
    }
    var cents = centers.toArray
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < points.length) {
        val p = points(i)
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          val d = d2(p, cents(c)); if (d < bd) { bd = d; best = c }; c += 1
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += p(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      moved = false
      cents = Array.tabulate(k) { c =>
        if (counts(c) == 0) cents(c)
        else {
          val m = sums(c).map(_ / counts(c))
          if (!java.util.Arrays.equals(m, cents(c))) moved = true
          m
        }
      }
      iter += 1
    }
    cents
  }

  /** Train the IVF coarse quantizer: seeded driver-side Lloyd's over a
    * bounded [[ivfFitSample]] of the embedding column (full corpus only
    * when it is already smaller than the sample target). The ONLY
    * cluster job is the sample's TakeOrdered scan; the fit itself runs
    * on the driver over k × pointsPerCentroid rows (the faiss training
    * model — coarse-quantizer quality plateaus a few hundred points
    * per centroid in, and a distributed KMeans over KBs of sample is
    * pure scheduling overhead). Deterministic for a fixed seed. The
    * centroid table is tiny (nCentroids × dim doubles) and returned
    * driver-side to be embedded as plan literals.
    */
  def ivfCentroids(embeddings: DataFrame, nCentroids: Int = 16,
      seed: Long = 42L, pointsPerCentroid: Int = 256): Array[Array[Double]] = {
    val sample = collectFitSample(embeddings, nCentroids, pointsPerCentroid,
      seed, "embedding")
    lloydFit(sample, nCentroids, seed)
  }

  /** BOTH IVFADC quantizers from ONE fit-sample collection. Calling
    * [[ivfCentroids]] then [[pqCodebooks]]/[[pqCodebooksResidual]]
    * separately runs two IDENTICAL TakeOrdered sample jobs over the
    * corpus (same k, seed, column ⇒ same sample) — this entry point
    * collects once and reuses it, producing BIT-identical quantizers
    * to the separate calls (asserted in SimilarityAsOfSpec), so every
    * golden/coverage gate downstream is unaffected. Requires
    * nCentroids == ksub (the probe configuration) precisely so the
    * shared sample IS the sample each separate fit would have drawn.
    */
  def annQuantizers(embeddings: DataFrame, nCentroids: Int = 16,
      m: Int = 8, ksub: Int = 16, seed: Long = 42L,
      pointsPerCentroid: Int = 256, vecCol: String = "embedding",
      residual: Boolean = false)
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(nCentroids == ksub,
      "shared-sample fit needs nCentroids == ksub (else the two fits " +
        "draw different samples — call the separate entry points)")
    require(m >= 1 && ksub >= 2, "need m >= 1 sub-blocks and ksub >= 2")
    val sample = collectFitSample(embeddings, nCentroids, pointsPerCentroid,
      seed, vecCol)
    val cents = lloydFit(sample, nCentroids, seed)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-blocks")
    val dsub = dim / m
    val base =
      if (!residual) sample
      else sample.map { v =>
        val c = cents(nearestIdx(v, cents))
        Array.tabulate(dim)(i => v(i) - c(i))
      }
    val books = (0 until m).map { j =>
      lloydFit(base.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, seed + j)
    }.toArray
    (cents, books)
  }

  /** Embeddings with their IVF list id (`centroid_id`). Persist/bucket by
    * this column once and every subsequent query touches only nProbe
    * lists — the classic IVF-Flat layout, here as plain partitioning.
    * [[oncePerRow]] barrier: the k-centroid argmin must not be inlined
    * into every downstream consumer (a pushed `isin` filter would
    * otherwise re-derive it inside the predicate).
    * `roundTo >= 0` is the oracle-checked assignment contract (each d²
    * rounds to `roundTo` d.p. — BigDecimal HALF_UP, Spark's `round` of
    * the double — before the argmin, ties to the lowest list, so a
    * DuckDB relational-argmin twin ranks identically ulp-for-ulp);
    * production paths keep the raw default.
    */
  def ivfAssign(embeddings: DataFrame, centroids: Array[Array[Double]],
      roundTo: Int = -1): DataFrame =
    oncePerRow(embeddings,
      "centroid_id" -> graft.functions.Vectors.nearestCentroid(
        asDouble(col("embedding")), centroids, roundTo))

  /** IVF approximate top-k: rank the query's nProbe nearest lists
    * driver-side (centroids are in hand), then exact cosine only over
    * vectors in those lists. Scan cost drops from N to ≈ N×nProbe/nLists;
    * the candidate filter `centroid_id IN (...)` is partition-prunable
    * when the index is written partitioned/bucketed by list.
    */
  def topKCosineIVF(embeddings: DataFrame, queryId: Long, k: Int,
      centroids: Array[Array[Double]], nProbe: Int = 4,
      roundTo: Int = -1): DataFrame = {
    // the query vector is needed driver-side anyway to rank the probe
    // lists, and embedding it as a literal spares the broadcast-join job.
    // roundTo >= 0 is the oracle contract (probe ranking + assignment
    // round each d² before their argmin, ties to the lowest list — the
    // s22/s35 recipe); the trained path keeps the raw default.
    withQuery(embeddings, queryId) { qArr =>
      val qLit = array(qArr.toIndexedSeq.map(lit(_)): _*)
      ivfAssign(embeddings, centroids, roundTo)
        .filter(col("vec_id") =!= queryId && col("centroid_id").isin(
          probeLists(centroids, qArr, nProbe, roundTo): _*))
        .select(col("vec_id"),
          round(cosine(asDouble(col("embedding")), qLit), 6).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Fetch the query vector of `queryId` ONCE, driver-side, and build the
    * result from it. An absent queryId yields an empty (vec_id, sim)
    * result — the [[topKCosine]] contract — not a crash. */
  private def withQuery(embeddings: DataFrame, queryId: Long)(
      f: Array[Double] => DataFrame): DataFrame =
    embeddings.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv")).limit(1).collect()
      .headOption match {
      case Some(r) => f(r.getSeq[Double](0).toArray)
      case None => embeddings.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
    }

  /** The `nProbe` IVF lists nearest the query, ranked driver-side by
    * (d², list id) — d² the ascending left fold every kernel shares,
    * rounded to `roundTo` d.p. first when `roundTo >= 0`. */
  private def probeLists(centroids: Array[Array[Double]], qArr: Array[Double],
      nProbe: Int, roundTo: Int): Seq[Integer] =
    centroids.indices
      .map(i => (roundHalfUp(l2sq(centroids(i), qArr), roundTo), i))
      .sortBy { case (d, i) => (d, i) }
      .take(nProbe).map(p => Int.box(p._2))

  /** `x` rounded to `roundTo` d.p. by decimal HALF_UP — the driver-side
    * twin of Spark's `round(x, roundTo)` — or `x` itself when
    * `roundTo < 0`. Used wherever a driver-side scalar must equal an
    * engine/oracle-side rounded distance. */
  private def roundHalfUp(x: Double, roundTo: Int): Double =
    if (roundTo < 0) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(roundTo, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Ascending-index left-fold L2² — the fold order every kernel here
    * shares (bit-identical to the engine-side folds). */
  private def l2sq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** Two-stage coarse-to-fine retrieval (the Matryoshka-embedding
    * pattern, Kusupati et al. 2022): stage 1 ranks the corpus by cosine
    * over only the first `prefixDims` dimensions — a TakeOrdered top-k
    * over a scan that reads and multiplies 4× less data — and stage 2
    * re-ranks the `candK` survivors with the full-dimension cosine.
    * Both stages are deterministic (6-d.p. rounded sims, vec_id
    * tie-break), so the two-stage result is exactly reproducible — and
    * oracle-checkable — even though it is an approximation of the
    * single-stage exact top-k (candidates the prefix ranking cuts are
    * cut; that is the accuracy/cost dial, prefixDims being the knob).
    * At 100 TB stage 1 is the only corpus-wide pass; stage 2 touches
    * candK rows.
    */
  def prefixRerank(emb: DataFrame, queryId: Long, k: Int = 10,
      candK: Int = 50, prefixDims: Int = 16): DataFrame = {
    require(candK >= k, "candK must be at least k")
    val q = broadcast(emb.filter(col("vec_id") === queryId)
      .select(asDouble(col("embedding")).as("qv")))
    val coarse = emb.filter(col("vec_id") =!= queryId)
      .crossJoin(q)
      .select(col("vec_id"), col("embedding"), col("qv"),
        round(cosine(asDouble(slice(col("embedding"), 1, prefixDims)),
          slice(col("qv"), 1, prefixDims)), 6).as("prefix_sim"))
      .orderBy(col("prefix_sim").desc, col("vec_id"))
      .limit(candK)
    coarse
      .select(col("vec_id"),
        round(cosine(asDouble(col("embedding")), col("qv")), 6).as("sim"),
        col("prefix_sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Signed (Rademacher) random projection — the Johnson-Lindenstrauss
    * dimensionality reduction behind SimHash-style embedding sketches:
    * out[j] = Σ_i sign(i, j) · q(v_i), with the ±1 sign matrix derived
    * from the md5-hex-prefix gate (seed-free, engine-portable) and the
    * input quantized to integer `scaleQ`-ths so the per-dimension sum is
    * EXACT BIGINT arithmetic — order-independent, hash-checkable, and
    * immune to the float-sum-order trap that a raw-float projection
    * would hit under distributed aggregation.
    *
    * Shape: posexplode × k broadcast dims → map-side-combinable hash
    * agg; the exploded stream is (id, i, v) longs and partial aggregation
    * collapses it to n·k rows before the exchange. For a hot path the
    * sign matrix is a (d × k) literal computed once (the s13 centroid
    * pattern) and the fold runs in-row; this formulation keeps both
    * engines' arithmetic identical for the oracle.
    */
  def randomProjection(emb: DataFrame, k: Int = 8, scaleQ: Int = 10000,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    // The (d × k) ±1 sign matrix is a pure function of (i, j) through
    // the md5 rule — evaluate it ONCE on the driver (k·d tiny hashes)
    // and ship it as literals, instead of hashing inside the scan
    // (n·d·k md5 evaluations measured 2.2 s at sf0.1; this form is
    // dominated by the integer fold). d comes from one single-row
    // fetch (bounded, the IVF-collect justification).
    val d = emb.select(size(col(vecCol)).as("d")).head.getInt(0)
    def sign(i: Int, j: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i#$j".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    // per-row: quantize once, then k in-row integer folds over the
    // zipped (component, sign) arrays; only the k-element result
    // explodes. No scan-side hashing, no pre-agg row blowup, no join.
    val quant = transform(col(vecCol),
      x => round(x.cast("double") * scaleQ).cast("long"))
    val projArr = array((1 to k).map { j =>
      val signsJ = array((1 to d).map(i => lit(sign(i, j))): _*)
      aggregate(zip_with(col("__q"), signsJ, (v, sg) => v * sg),
        lit(0L), (acc, x) => acc + x)
    }: _*)
    emb.select(col(idCol), quant.as("__q"))
      .select(col(idCol), posexplode(projArr).as(Seq("__j0", "proj")))
      .select(col(idCol), (col("__j0") + 1).cast("long").as("j"), col("proj"))
  }

  /** The embedding column L2-normalized (zero vectors pass through
    * unchanged). Normalize BEFORE [[pqCodebooks]]/[[pqEncode]] when the
    * retrieval metric is cosine: on unit vectors L2² = 2 − 2·cos, so
    * PQ's L2 machinery ranks identically to cosine and the exact rerank
    * can stay in cosine without mixing metrics. The normalized vector
    * is computed behind a [[oncePerRow]] barrier — its consumers are
    * exactly the argmin-heavy quantizer expressions the barrier doc
    * describes.
    */
  def l2Normalized(embeddings: DataFrame,
      vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val n = sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))
    // zero-branch hoisted OUTSIDE the lambda: the norm subexpression
    // evaluates once per row, not once per element (O(d), not O(d²))
    oncePerRow(embeddings,
      vecCol -> when(n === 0.0, v).otherwise(transform(v, x => x / n)))
  }

  /** Product-quantization codebooks (Jégou, Douze & Schmid, TPAMI
    * 2011): the vector splits into `m` contiguous sub-blocks and each
    * block gets its own `ksub`-centroid KMeans codebook, so a vector
    * compresses to m small codes (m bytes at ksub ≤ 256) — the
    * billion-scale memory form of ANN (IVF-PQ is faiss's default at
    * that regime; 64 float dims → 8 bytes is 32×).
    *
    * Training cost is corpus-independent: ONE bounded [[ivfFitSample]]
    * scan (ksub × pointsPerCentroid rows), collected once; the m
    * per-block [[lloydFit]]s then run driver-side over the in-memory
    * sample's slices — one cluster job total instead of 1 + m MLlib
    * fits (which cost the s19 probe ~6 s of pure job scheduling for
    * ~40 MFLOP of arithmetic). Returned driver-side
    * (m × ksub × dsub doubles — KBs) to re-enter plans as literals,
    * the ivfCentroids discipline.
    */
  def pqCodebooks(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, pointsPerCentroid: Int = 256,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, "need m >= 1 sub-blocks and ksub >= 2")
    val sample = collectFitSample(embeddings, ksub, pointsPerCentroid,
      seed, vecCol)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-blocks")
    val dsub = dim / m
    (0 until m).map { j =>
      lloydFit(sample.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, seed + j)
    }.toArray
  }

  /** Version of the ENCODING code paths ([[ivfAssign]], [[pqEncode]],
    * [[pqEncodeResidual]]): bump whenever a code change alters the
    * bytes an index persists for UNCHANGED fitted quantizers. Caches
    * that key persisted indexes on a fingerprint of the fitted VALUES
    * (ScaleSoak, IndexCache) fold this in, so an encoder change
    * invalidates them even though the fit is identical — without it a
    * stale index's pq_codes would score against freshly-derived LUTs.
    */
  val EncoderVersion: Int = 3 // v2: fused PqEncodeExpr — codes are
  // bit-identical for non-null vectors, but a NULL embedding now
  // persists a NULL pq_code (nullSafeEval) where the HOF formulation
  // wrote an array of NULL elements; consumers treat both as
  // non-candidates, caches must still not mix the representations.
  // v3: sqEncode levels moved from round() to the engine-portable
  // floor(u + 0.5) — identical except where the float addition u + 0.5
  // crosses an integer that decimal HALF_UP would not (adversarial
  // boundary doubles), so persisted sq codes could differ.

  /** Rows plus their PQ code (`pq_code`, array<int> of length m): per
    * block, the [[nearestCentroid]] argmin over that block's codebook —
    * all in-row, no UDF, no shuffle; the expression tree is linear in
    * m × ksub. At scale this is the write-side of the index: persist
    * (id, pq_code) — m bytes a row — and drop the raw vectors from the
    * search path.
    */
  def pqEncode(embeddings: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      vecCol: String = "embedding", roundTo: Int = -1): DataFrame =
    // fused whole-code expression (one imperative loop nest per row) —
    // the per-block slice ∘ argmin HOF tree cost m × ksub interpreted
    // folds per row and ~3 s of the s19 probe; per-block fold order and
    // tie rule are bit-identical (SimilarityAsOfSpec parity gate).
    // oncePerRow: the ADC scan reads element_at(pq_code, j) m times —
    // inlining would re-run the full encode per lookup.
    // roundTo >= 0: the oracle-checked encode (each per-entry block d²
    // rounds before its argmin — the data-defined-quantizer contract);
    // production/trained paths keep the raw default.
    oncePerRow(embeddings,
      "pq_code" -> graft.functions.Vectors.pqCode(asDouble(col(vecCol)),
        codebooks, roundTo))

  /** PQ top-k with exact rerank: asymmetric-distance (ADC) scan over
    * the codes — per row, m table lookups into the query's
    * per-block distance tables (literals; never a join) summed in-row —
    * keeps the `rerank × k` best candidates via TakeOrdered, then ranks
    * ONLY those by exact cosine. Scan cost is m lookups per row instead
    * of dim multiplies, and at scale the scan reads the m-byte code
    * column, not the vector column. `rerank × k ≥ N` degenerates to the
    * exact scan (every row is a candidate and the rerank is exact) —
    * the s4-style identity the golden gate pins. Pass [[l2Normalized]]
    * inputs so ADC's L2 ordering matches the cosine rerank.
    *
    * `roundTo >= 0` is the oracle contract: per-block code distances,
    * LUT entries and the ADC total round before their argmin/cut (ties
    * to the lowest id). With [[dataDefinedQuantizers]] codebooks over
    * raw vectors every stage is relational, so a DuckDB twin reproduces
    * encode → ADC → cut → rerank end to end (the s19/s28 probes; the
    * s33 rule: cross-engine normalization is not bit-reproducible).
    */
  def pqTopK(embeddings: DataFrame, queryId: Long, k: Int,
      codebooks: Array[Array[Array[Double]]], rerank: Int = 4,
      roundTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1, "k and rerank must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      adcRerankTail(pqEncode(embeddings, codebooks, roundTo = roundTo)
          .filter(col("vec_id") =!= queryId),
        adcDist(codebooks, qArr, roundTo), qArr, k, rerank)
    }
  }

  /** Per-block ADC lookup tables: entry (j, c) is the L2² from `q`'s j-th
    * block to centroid c of book j (the shared ascending fold), rounded
    * to `roundTo` d.p. when `roundTo >= 0`. */
  private def adcLuts(codebooks: Array[Array[Array[Double]]],
      q: Array[Double], roundTo: Int): Array[Array[Double]] = {
    val dsub = codebooks(0)(0).length
    codebooks.zipWithIndex.map { case (book, j) =>
      val qBlock = q.slice(j * dsub, (j + 1) * dsub)
      book.map(c => roundHalfUp(l2sq(c, qBlock), roundTo))
    }
  }

  /** The ADC distance column: the query's per-block lookup tables
    * (literal arrays; never a join) summed in-row over `pq_code` by the
    * fused kernel, the total rounded when `roundTo >= 0`. */
  private def adcDist(codebooks: Array[Array[Array[Double]]],
      qArr: Array[Double], roundTo: Int): Column = {
    val sum = graft.functions.Vectors.adcSum(col("pq_code"),
      adcLuts(codebooks, qArr, roundTo))
    if (roundTo >= 0) round(sum, roundTo) else sum
  }

  /** TakeOrdered the `rerank × k` best rows of `adist`, then rank ONLY
    * those by exact cosine against the query.
    */
  private def adcRerankTail(encoded: DataFrame, adist: Column,
      qArr: Array[Double], k: Int, rerank: Int): DataFrame = {
    val qLit = array(qArr.toIndexedSeq.map(lit(_)): _*)
    encoded
      // a NULL embedding yields an all-null code; element_at with a
      // NULL index returns NULL, so the row's adist is NULL — which
      // ASC-sorts FIRST and would burn rerank slots on garbage rows.
      // Drop degenerate rows before scoring.
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"), adist.as("adist"))
      .filter(col("adist").isNotNull)
      .orderBy(col("adist").asc, col("vec_id"))
      .limit(rerank * k)
      .select(col("vec_id"), guardedCosine(qArr, qLit).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Rerank cosine against `embedding`, hardened for degenerate rows:
    * an all-zero embedding survives [[l2Normalized]] unchanged and its
    * cosine is 0/0 — under Spark 4's default ANSI mode that THROWS
    * (DIVIDE_BY_ZERO), and with ANSI off it is a NaN that desc-sorts
    * above every real value. Guard the norm first (CASE branches are
    * lazy, so the division never executes for zero rows) and score
    * such rows 0.0; a zero-norm QUERY makes every cosine degenerate,
    * so all scores collapse to 0.0 and ranking falls to the id
    * tie-break.
    */
  private def guardedCosine(qArr: Array[Double], qLit: Column): Column = {
    val qn = math.sqrt(qArr.map(x => x * x).sum)
    if (qn == 0.0) lit(0.0)
    else {
      val v = asDouble(col("embedding"))
      when(norm(v) > 0,
        nanvl(round(cosine(v, qLit), 6), lit(0.0))).otherwise(lit(0.0))
    }
  }

  /** Per-dimension scalar-quantizer bounds (faiss `ScalarQuantizer`
    * QT_8bit): `[min_i, max_i]` per dimension from the bounded
    * [[ivfFitSample]] (the same trainer discipline as every quantizer
    * here — at 100 TB the fit sees a sample, never the corpus, so
    * [[sqEncode]] clamps out-of-sample values into the trained range;
    * faiss's RangeStat_minmax does the same). Returned driver-side
    * (2 × dim doubles — KBs) to re-enter plans as literals.
    */
  def sqBounds(embeddings: DataFrame, seed: Long = 42L,
      sampleCentroids: Int = 16, pointsPerCentroid: Int = 256,
      vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val sample = collectFitSample(embeddings, sampleCentroids,
      pointsPerCentroid, seed, vecCol)
    val dim = sample(0).length
    val mins = Array.fill(dim)(Double.MaxValue)
    val maxs = Array.fill(dim)(Double.MinValue)
    sample.foreach { v =>
      var i = 0
      while (i < dim) {
        if (v(i) < mins(i)) mins(i) = v(i)
        if (v(i) > maxs(i)) maxs(i) = v(i)
        i += 1
      }
    }
    (mins, maxs)
  }

  /** EXACT per-dimension bounds — the data-defined quantizer (true
    * corpus min/max per dim, one posexplode aggregate, d×2 doubles
    * collected): unlike the sample-trained [[sqBounds]] this is fully
    * RELATIONAL, so a SQL oracle derives the identical bounds from the
    * same table and the whole SQ8 path gets real ground truth (the
    * s22 data-defined-quantizer trick, codec form). At 100 TB the
    * aggregate is one map-combinable pass — affordable, unlike a
    * KMeans fit — so exact bounds are a legitimate production choice,
    * not just an oracle device.
    */
  def sqBoundsExact(embeddings: DataFrame,
      vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val rows = embeddings.filter(col(vecCol).isNotNull)
      .select(posexplode(asDouble(col(vecCol))).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    require(rows.nonEmpty, "sqBoundsExact: no vectors")
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  /** Rows plus their 8-bit scalar-quantization code (`sq_code`,
    * array<int>, one 0–255 level per dimension): the OTHER standard
    * faiss codec beside PQ — d bytes a vector instead of m, trading 8×
    * the PQ footprint (64-dim float → 64 B, still 4× smaller than
    * float32) for near-exact recall with NO trained codebooks, just
    * per-dim affine levels. All in-row (literal bound arrays, no join,
    * no UDF); a collapsed dimension (max == min) encodes 0 and decodes
    * to min exactly. At scale this is the write-side: persist
    * (id, sq_code) and drop raw vectors from the scan, like [[pqEncode]].
    */
  def sqEncode(embeddings: DataFrame, mins: Array[Double],
      maxs: Array[Double], vecCol: String = "embedding"): DataFrame = {
    require(mins.length == maxs.length, "mins/maxs length mismatch")
    val minsLit = array(mins.toIndexedSeq.map(lit(_)): _*)
    val scales = mins.indices.map(i =>
      if (maxs(i) > mins(i)) 255.0 / (maxs(i) - mins(i)) else 0.0)
    val scaleLit = array(scales.map(lit(_)): _*)
    val v = asDouble(col(vecCol))
    // level = floor(u + 0.5): round-half-up in float-addition semantics,
    // the ENGINE-PORTABLE form — floor of an identical double is the
    // same everywhere, whereas round() is HALF_UP on Spark and
    // half-even/away elsewhere, so this is what lets the s33 oracle
    // reproduce codes bit-exactly in SQL. Clamp in DOUBLE space BEFORE
    // the int cast: a far-out-of-range value against nearly-collapsed
    // sampled bounds (scale ~ 1e11) would overflow the ANSI int cast if
    // clamped after. NaN needs its own branch: Spark's floor is
    // integral-typed and maps NaN to 0 (it never reaches the clamp),
    // while DuckDB's floor keeps NaN and clamps to 255 — pin the top
    // level explicitly on the engine side so both agree (and v2's
    // round() semantics are preserved).
    val code = transform(v, (x, i) => {
      val u = (x - element_at(minsLit, i + 1)) *
        element_at(scaleLit, i + 1) + lit(0.5)
      when(isnan(u), lit(255.0))
        .otherwise(least(greatest(floor(u), lit(0.0)), lit(255.0)))
        .cast("int")
    })
    oncePerRow(embeddings, "sq_code" -> code)
  }

  /** The decoded (reconstructed) vector of `sq_code`:
    * `min_i + code_i · (max_i − min_i)/255` — reconstruction error is
    * at most half a level per dimension for in-range values.
    *
    * DELIBERATE deviation from faiss's QT_8bit convention: faiss
    * decodes at BIN CENTERS (`min + (code + 0.5) · step/256`), this
    * codec decodes at GRID POINTS, which is self-consistent with the
    * `floor(u + 0.5)` encoder above (each grid point is the nearest
    * representable value to the input, giving the half-level bound the
    * spec gates). Do NOT "fix" this to faiss parity silently: decode
    * semantics are part of the persisted-code contract, so a parity
    * change needs an [[EncoderVersion]] bump and a migration story for
    * persisted `sq_code` columns.
    */
  private def sqDecoded(mins: Array[Double], maxs: Array[Double]): Column = {
    val minsLit = array(mins.toIndexedSeq.map(lit(_)): _*)
    val steps = mins.indices.map(i => (maxs(i) - mins(i)) / 255.0)
    val stepLit = array(steps.map(lit(_)): _*)
    transform(col("sq_code"), (c, i) =>
      element_at(minsLit, i + 1) + c.cast("double") * element_at(stepLit, i + 1))
  }

  /** SQ8 top-k with exact rerank: approximate L2 scan over the DECODED
    * codes (in-row reconstruction — at scale the scan reads the d-byte
    * code column, not the float vectors), TakeOrdered keeps the
    * `rerank × k` best, exact cosine ranks only those (the [[pqTopK]]
    * tail). Pass [[l2Normalized]] inputs so the L2 ordering matches the
    * cosine rerank (the s33 oracle probe deliberately runs RAW — a
    * cross-engine-reproducible normalization does not exist, so its
    * cut is norm-biased and its oracle mirrors exactly that).
    * Degeneracy: `rerank × k ≥ N` makes the rerank the exact scan.
    */
  def sqTopK(embeddings: DataFrame, queryId: Long, k: Int,
      mins: Array[Double], maxs: Array[Double], rerank: Int = 4,
      roundAdistTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1, "k and rerank must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      val qLit = array(qArr.toIndexedSeq.map(lit(_)): _*)
      val dec = sqDecoded(mins, maxs)
      val rawAdist = aggregate(zip_with(dec, qLit, (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)
      // roundAdistTo >= 0: the oracle-checked form — ranking on the
      // 6-d.p.-rounded decoded L2 (ties to the id) absorbs summation-
      // order ulps, so a SQL twin's unordered per-dim sum ranks
      // identically (the s22 discipline); the golden probes keep the
      // raw fold
      val adist = if (roundAdistTo >= 0) round(rawAdist, roundAdistTo)
                  else rawAdist
      adcRerankTail(sqEncode(embeddings, mins, maxs)
        .filter(col("vec_id") =!= queryId), adist, qArr, k, rerank)
    }
  }

  /** The s22/s35 DATA-DEFINED quantizer pair: coarse centroids are the
    * `nCents` LOWEST-ID vectors of the table, and block-`j`'s codebook
    * is their `j`-th dsub-slice (ksub = nCents) — quantizers a SQL
    * oracle re-derives RELATIONALLY from the same table, which is what
    * makes whole ANN compositions built on them hash-checkable end to
    * end (the CLAUDE.md oracle recipe). NOT a production fit — trained
    * quantizers come from [[annQuantizers]]; the fidelity axis here is
    * the COMPOSITION (assign → encode → probe → ADC → rerank), which is
    * identical code either way.
    */
  def dataDefinedQuantizers(embeddings: DataFrame, nCents: Int = 16,
      m: Int = 8): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val centRows = embeddings.filter(col("vec_id") < nCents)
      .select(col("vec_id"), asDouble(col("embedding")))
      .collect().sortBy(_.getLong(0))
    require(centRows.length == nCents,
      s"expected the $nCents lowest-id vectors as centroids, " +
        s"got ${centRows.length}")
    val cents = centRows.map(_.getSeq[Double](1).toArray)
    val dim = cents(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val dsub = dim / m
    val books: Array[Array[Array[Double]]] =
      (0 until m).map(j => cents.map(_.slice(j * dsub, (j + 1) * dsub)))
        .toArray
    (cents, books)
  }

  /** Matryoshka truncated-dimension retrieval (MRL — Kusupati et al.,
    * NeurIPS 2022): rank by cosine over the FIRST `dPrefix` dimensions
    * only, then exact full-dimension cosine rerank of the
    * `rerank × k` survivors — the adaptive-retrieval shape where the
    * cheap pass reads a prefix slice (dPrefix/d of the vector bytes;
    * with a column layout or a separate prefix column, dPrefix/d of
    * the IO) and the expensive pass touches `rerank × k` rows.
    * Prefix cosines round to 6 d.p. with id tiebreak before the cut
    * (the s1 discipline — also what makes the spec's driver-side
    * candidate recompute exact). Degeneracy: `dPrefix = dim` makes the
    * prefix ranking the exact ranking, so any `rerank ≥ 1` returns the
    * exact top-k. On MRL-trained embeddings the prefix carries most of
    * the signal; on generic embeddings recall is whatever the
    * coverage identity measures — the machinery is the contract, the
    * trained-embedding recall is the model's property, not the
    * engine's.
    */
  def matryoshkaTopK(embeddings: DataFrame, queryId: Long, k: Int,
      dPrefix: Int, rerank: Int = 4): DataFrame = {
    require(k >= 1 && rerank >= 1 && dPrefix >= 1,
      "k, rerank and dPrefix must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      require(dPrefix <= qArr.length,
        s"dPrefix $dPrefix exceeds embedding dimension ${qArr.length}")
      val qPrefix = qArr.take(dPrefix)
      val qpLit = array(qPrefix.toIndexedSeq.map(lit(_)): _*)
      val vPrefix = slice(asDouble(col("embedding")), 1, dPrefix)
      // ascending "distance" for the shared rerank tail: negated rounded
      // prefix cosine (ties on the id, like every cut here). The +0.0
      // normalizes a −0.0 round result before negation so a SQL twin
      // ranking `psim DESC` sees the identical key (the t24 lesson).
      val adist = -(round(cosine(vPrefix, qpLit), 6) + lit(0.0))
      adcRerankTail(embeddings.filter(col("vec_id") =!= queryId),
        adist, qArr, k, rerank)
    }
  }

  /** The DATA-DEFINED stand-in for OPQ's learned rotation: a
    * PERMUTATION of the dimensions (a permutation matrix IS an
    * orthogonal rotation) that round-robins dims over the `m` PQ
    * blocks in descending per-dim RANGE (exact corpus max − min, the
    * [[sqBoundsExact]] statistic) — the eigenvalue-allocation idea of
    * parametric OPQ (Ge et al., CVPR 2013 §4: balance variance across
    * subspaces) restricted to the transform family a SQL oracle can
    * re-derive. min/max are order-independent aggregates and max − min
    * is one IEEE subtract, so both engines sort the IDENTICAL doubles
    * (ties to the dim index) and build the identical permutation.
    * `perm(pos)` = the source dim at permuted position `pos`; block
    * `b` holds the dims ranked b, b+m, b+2m, …  NOT the production
    * fit — the trained Procrustes rotation is [[opqQuantizers]],
    * golden-gated in spec.
    */
  def rangePermutation(embeddings: DataFrame, m: Int,
      vecCol: String = "embedding"): Array[Int] = {
    val (mins, maxs) = sqBoundsExact(embeddings, vecCol)
    val dim = mins.length
    require(dim % m == 0, s"dim $dim not divisible into $m blocks")
    val dsub = dim / m
    val ranked = mins.indices
      .sortBy(i => (-(maxs(i) - mins(i)), i))
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case (dimIdx, rk) =>
      perm((rk % m) * dsub + rk / m) = dimIdx
    }
    perm
  }

  /** The embedding column permuted by `perm` (position `pos` takes
    * source dim `perm(pos)`) — the permutation-matrix twin of
    * [[rotated]], exact by construction (pure element moves, no
    * arithmetic, so unlike a d × d matVec it cannot lose −0.0 signs or
    * reorder sums). In-row behind the [[oncePerRow]] barrier; NULL
    * embeddings stay NULL (the engine-wide null seam).
    */
  def permuted(embeddings: DataFrame, perm: Array[Int],
      vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    val posLit = array(perm.toIndexedSeq.map(p => lit(p + 1)): _*)
    val permExpr = when(col(vecCol).isNull,
        lit(null).cast("array<double>"))
      .otherwise(transform(posLit, p => element_at(v, p)))
    oncePerRow(embeddings, vecCol -> permExpr)
  }

  /** IVFADC (Jégou, Douze & Schmid, TPAMI 2011 §V — faiss's default at
    * billion scale): [[topKCosineIVF]]'s coarse-quantizer prune COMPOSED
    * with [[pqTopK]]'s ADC code scan. The query ranks its `nProbe`
    * nearest IVF lists driver-side (centroids are in hand), the ADC scan
    * touches ONLY rows in those lists, and the exact cosine rerank sees
    * `rerank × k` survivors.
    *
    * Why this is THE 100 TB ANN: per query the scan reads
    * ≈ nProbe/nLists × N rows of m-byte codes — both factors compound
    * (16 lists / 4 probes × 32-byte→8-byte codes = 16× less IO than
    * IVF-Flat, 64× less than the flat exact scan) — and with the index
    * persisted `partitionBy(centroid_id)` the `isin` probe filter prunes
    * whole partitions at the source (PartitioningSpec gates this for the
    * s4 layout; the same layout serves both). Recall factorizes exactly:
    * a true neighbor is found iff its list is probed AND it survives the
    * ADC cut — the two-stage coverage identity the s20 gate pins.
    * Degeneracy: nProbe = nLists ∧ rerank·k ≥ N reproduces the exact
    * scan. Pass [[l2Normalized]] inputs so ADC's L2 ordering matches the
    * cosine rerank.
    *
    * `roundTo >= 0` is the oracle contract: every distance (assignment,
    * per-block code, probe rank, LUT entry, ADC total) rounds before its
    * argmin/cut, ties to the lowest id. With [[dataDefinedQuantizers]]
    * every stage is relational and a SQL oracle reproduces the entire
    * pipeline from the same table (s20, s35).
    */
  def ivfAdcTopK(embeddings: DataFrame, queryId: Long, k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 4, rerank: Int = 4, roundTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1 && nProbe >= 1,
      "k, rerank and nProbe must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      // prune FIRST, encode the survivors: the m×ksub argmin expression
      // runs only on probed-list rows (on a persisted index both
      // centroid_id and pq_code are precomputed columns and this is a
      // partition-pruned scan of the code column alone)
      val probed = ivfAssign(embeddings, centroids, roundTo)
        .filter(col("vec_id") =!= queryId && col("centroid_id").isin(
          probeLists(centroids, qArr, nProbe, roundTo): _*))
      adcRerankTail(pqEncode(probed, codebooks, roundTo = roundTo),
        adcDist(codebooks, qArr, roundTo), qArr, k, rerank)
    }
  }

  /** [[ivfAdcTopK]] over a PERSISTED index — the production read path.
    * `index` is the written form of [[pqEncode]]∘[[ivfAssign]]
    * ((vec_id, centroid_id, pq_code), `partitionBy(centroid_id)`): the
    * ADC candidate scan touches ONLY the index — probed partitions of
    * an m-byte code column, the raw vector column never read — and the
    * exact rerank re-attaches vectors for the `rerank × k` survivors
    * alone, via a broadcast of the tiny candidate-id set against the
    * vector table (Spark's scannable form of a point lookup; a keyed
    * store would serve the same 80 ids directly). Output is
    * EXACTLY [[ivfAdcTopK]]'s for the same quantizers — same ADC
    * ranking, same tie rule, same rerank — which PartitioningSpec
    * asserts alongside the pruned-partition + code-only-ReadSchema
    * plan gates.
    */
  def ivfAdcTopKIndexed(index: DataFrame, embeddings: DataFrame,
      queryId: Long, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 4, rerank: Int = 4): DataFrame = {
    require(k >= 1 && rerank >= 1 && nProbe >= 1,
      "k, rerank and nProbe must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      val cands = index
        .filter(col("vec_id") =!= queryId && col("centroid_id").isin(
          probeLists(centroids, qArr, nProbe, roundTo = -1): _*))
        // null-code rows (a NULL embedding at write time) must not be
        // scored: element_at's null index yields a NULL adist, which
        // ASC-sorts first and would burn rerank slots
        .filter(element_at(col("pq_code"), 1).isNotNull)
        .select(col("vec_id"), adcDist(codebooks, qArr, roundTo = -1).as("adist"))
        .filter(col("adist").isNotNull)
        .orderBy(col("adist").asc, col("vec_id"))
        .limit(rerank * k)
      val qLit = array(qArr.toIndexedSeq.map(lit(_)): _*)
      broadcast(cands).join(embeddings, "vec_id")
        .select(col("vec_id"), guardedCosine(qArr, qLit).as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(k)
    }
  }

  /** Append-side of the persisted IVFADC index: encode a delta batch
    * against the FROZEN quantizers and append its
    * (vec_id, centroid_id, pq_code) rows to the list-partitioned
    * table. Freezing is the faiss operational model — codes stay
    * comparable across batches and queries never see a mixed index;
    * [[ivfDriftStats]] is the monitor that decides when the frozen
    * coarse quantizer has drifted enough to warrant an offline
    * retrain+rebuild. PartitioningSpec proves build(half)+append(half)
    * serves bit-identical top-k to an inline query over the union.
    */
  def ivfIndexAppend(delta: DataFrame, dir: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    requireBatchOwned(
      root.getFileSystem(
        delta.sparkSession.sparkContext.hadoopConfiguration),
      root, "ivfIndexAppend")
    // hash-distribute by the partition column before every partitioned
    // index write (guide §6): one file per touched list instead of
    // (input partitions × lists) fragments — the read side's file count
    // and the write's commit/listing cost both scale with lists only
    pqEncode(ivfAssign(delta, centroids), codebooks)
      .select("vec_id", "centroid_id", "pq_code")
      .repartition(col("centroid_id"))
      .write.mode("append").partitionBy("centroid_id").parquet(dir)
  }

  /** Fail fast when a batch maintenance op targets a directory still
    * owned by a streaming file sink: with `_spark_metadata` present,
    * appended files are invisible to log-resolved reads and a partition
    * rewrite deletes files the log still references (FileNotFound on
    * later reads). Spec discipline is not enough — the guard makes the
    * ordering a hard API contract. Storage-agnostic (Hadoop FileSystem,
    * like the lifecycle ops it protects). */
  private def requireBatchOwned(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, op: String): Unit =
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_spark_metadata")),
      s"$op: $root still carries a streaming _spark_metadata commit log — " +
        "call finalizeStreamedIndex(dir) once the build stream terminates " +
        "before any batch append/compaction")

  /** DELETE-side of the persisted index lifecycle. Immutable parquet
    * cannot delete in place, and at 100 TB rewriting the whole index
    * for a handful of removals (GDPR erasure, dedup retractions) is
    * absurd — the operational pattern is a tiny TOMBSTONE relation
    * applied at read time (`index.join(tombstones, "vec_id",
    * "left_anti")` — broadcast-sized, composes with every indexed read
    * path unchanged) plus a periodic COMPACTION that rewrites ONLY the
    * list partitions actually containing tombstoned rows:
    *
    *  1. affected lists come from the index itself (one pruned probe
    *     of the tombstoned ids — bounded by nLists);
    *  2. those partitions rewrite through dynamic partition overwrite,
    *     so untouched lists keep their files byte-for-byte;
    *  3. a list whose EVERY row is tombstoned produces no output rows
    *     — dynamic overwrite would silently leave the stale partition
    *     behind, so emptied list directories are removed explicitly
    *     (the spec gates this edge).
    *
    * The rewritten rows are materialized (localCheckpoint) before the
    * write because Spark refuses to overwrite a path it is reading
    * from; the checkpoint blocks are released once written. Returns
    * the affected list ids (empty ⇒ no tombstoned row was in the
    * index and nothing was touched).
    */
  def ivfIndexCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String, tombstones: DataFrame): Seq[Int] = {
    val root0 = new org.apache.hadoop.fs.Path(dir)
    requireBatchOwned(
      root0.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root0, "ivfIndexCompact")
    val ids = broadcast(tombstones.select(col("vec_id")))
    val index = spark.read.parquet(dir)
    val affected = index.join(ids, Seq("vec_id"))
      .select("centroid_id").distinct().collect().map(_.getInt(0)).toSeq
    if (affected.nonEmpty) {
      val remaining = index
        .filter(col("centroid_id").isin(affected.map(Int.box): _*))
        .join(ids, Seq("vec_id"), "left_anti")
        .localCheckpoint()
      try {
        val kept = remaining.select("centroid_id").distinct()
          .collect().map(_.getInt(0)).toSet
        remaining.repartition(col("centroid_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("centroid_id").parquet(dir)
        // lists emptied entirely: no output partition replaced them —
        // drop the stale directories
        val root = new org.apache.hadoop.fs.Path(dir)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        affected.filterNot(kept).foreach { cid =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"centroid_id=$cid"),
            true)
        }
      } finally remaining.rdd.unpersist(false)
    }
    affected
  }

  /** Handoff of a STREAM-BUILT index (st18's parquet file sink) to the
    * batch maintenance machinery. The file sink writes a
    * `_spark_metadata` commit log, and every later batch read of the
    * directory resolves through it (MetadataLogFileIndex, sink-committed
    * files ONLY): files a subsequent [[ivfIndexAppend]] adds are
    * silently invisible to reads, and [[ivfIndexCompact]]'s partition
    * rewrite deletes files the log still references — later reads then
    * FileNotFound. The log is the right thing DURING the build (it is
    * what makes the streamed write exactly-once across replays); once
    * the build stream terminates, call this ONCE to hand the directory
    * over: enumerate the sink-committed files via the log-resolved
    * listing (`spark.read.parquet(dir).inputFiles`), delete any orphan
    * data file a failed task left outside the log, then drop the log
    * itself — leaving the plain list-partitioned layout batch
    * maintenance owns. The sweep preserves EXACTLY the committed view:
    * a file outside the log was never visible to any log-resolved
    * read, so removing it loses nothing observable — which also means
    * batch appends belong AFTER the handoff, never between build and
    * finalize (the spec gates both orderings).
    *
    * Sidecar files beware: the sweep removes ANY visible data file the
    * sink log did not commit, whatever its name. Only underscore- or
    * dot-prefixed entries (hidden to Spark reads, e.g. `_built_at`)
    * survive the handoff — an operator parking metadata next to the
    * index before finalize must use a hidden name or lose it.
    */
  def finalizeStreamedIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // Hadoop FileSystem throughout (like ivfIndexCompact): the handoff
    // must work wherever the index lives (hdfs://, s3a://, file:) — a
    // java.io.File probe is silently false on any non-local URI, which
    // would no-op the finalize and leave exactly the hazard it exists
    // to prevent.
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = new Path(root, "_spark_metadata")
    if (!fs.exists(meta)) return // already a plain batch-owned directory
    // scheme/authority-normalized so inputFiles ("file:/a/b") and the
    // recursive listing ("file:///a/b") compare equal
    def norm(p: Path): String =
      Path.getPathWithoutSchemeAndAuthority(p).toUri.getPath
    val committed = spark.read.parquet(dir).inputFiles
      .map(p => norm(new Path(p))).toSet
    val metaPrefix = norm(meta) + "/"
    // Orphan = any VISIBLE data file the sink log never committed — not
    // just `part-*` names (a customized writer prefix or a stray manual
    // copy is exactly as invisible to log-resolved reads, so sweeping it
    // loses nothing observable either). Hidden names (`_`/`.` prefix,
    // the FileOutputCommitter convention: _SUCCESS, .crc) are markers,
    // not data — parquet reads already ignore them; leave them alone.
    def hidden(p: Path): Boolean = {
      val n = p.getName; n.startsWith("_") || n.startsWith(".")
    }
    val orphans = scala.collection.mutable.ArrayBuffer.empty[Path]
    val hiddenNorms = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val st = it.next()
      val p = st.getPath
      val n = norm(p)
      if (st.isFile && !n.startsWith(metaPrefix)) {
        if (hidden(p)) hiddenNorms += n
        else if (!committed.contains(n)) orphans += p
      }
    }
    // Delete cost is driver-side O(orphans) RPCs in the worst case; at
    // a large index an aborted build can leave a whole list partition
    // of orphans, so batch those: a parent directory whose files are
    // ALL orphans (and which shelters no committed file anywhere below
    // it) goes in ONE recursive delete instead of per-file calls. The
    // listing pass itself is the floor — one recursive enumeration of
    // the directory, same order as the read path's own file listing
    // (bound recorded in SCALE.md §index lifecycle).
    val byParent = orphans.groupBy(p => norm(p.getParent))
    byParent.foreach { case (parentN, files) =>
      val parent = files.head.getParent
      val parentPrefix = parentN + "/"
      // recursive delete only when NOTHING below the parent must
      // survive: no committed file AND no hidden marker — the sweep's
      // own contract keeps hidden names, so a directory sheltering one
      // falls back to per-file deletes
      val wholeDir = parentN != norm(root) &&
        !committed.exists(_.startsWith(parentPrefix)) &&
        !hiddenNorms.exists(_.startsWith(parentPrefix))
      if (wholeDir) fs.delete(parent, true)
      else files.foreach(fs.delete(_, false))
    }
    fs.delete(meta, true)
    ()
  }

  /** IVF drift monitor: per-list occupancy and mean squared distance of
    * an embedding batch against an id-keyed centroid TABLE
    * (`(centroid_id, cv)` rows — a frozen quantizer persisted as data,
    * which is how index metadata actually lives at scale). Rising mean
    * residual energy or skewing occupancy means the frozen coarse
    * quantizer no longer fits the data distribution — the retrain
    * trigger for [[ivfIndexAppend]]'s freeze-and-append regime.
    *
    * Shape: k-row broadcast cross join + map-combinable per-vector
    * argmin (the s13 assignment shape in L2), then one k-row agg — the
    * corpus crosses no exchange except the argmin's partial agg. Float
    * discipline: per-pair d² rounds to 6 d.p. before the argmin (ties
    * to the LOWEST centroid_id via the min-struct order) and the
    * per-list mean is round(sum, 2)/count — identical dividend and
    * divisor on every engine, so the s22 DuckDB twin hash-matches.
    */
  def ivfDriftStats(embeddings: DataFrame, centroids: DataFrame): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val c = broadcast(centroids.select(col("centroid_id"),
      asDouble(col("cv")).as("cv")))
    val d2 = round(aggregate(zip_with(col("v"), col("cv"),
      (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x), 6)
    e.crossJoin(c)
      .select(col("vec_id"), col("centroid_id"), d2.as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("centroid_id"))).as("m"))
      .select(col("m.centroid_id").as("centroid_id"), col("m.d2").as("d2"))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_assigned"),
        (round(sum("d2"), 2) / count(lit(1))).as("mean_d2"))
  }

  // ---- OPQ: optimized product quantization (Ge et al., CVPR 2013) -----

  /** Orthogonal rotation + codebooks minimizing PQ quantization error —
    * the non-parametric OPQ alternation, entirely driver-side on the
    * bounded fit sample (the lloydFit discipline): starting from
    * R = I (iteration 0 ≡ plain PQ), alternately (a) fit per-block
    * codebooks on the rotated sample and (b) solve the orthogonal
    * Procrustes problem R ← argmin_R ‖R·x − y(R·x)‖²_F for the fixed
    * codebooks — the SVD of the reconstruction cross-covariance
    * Y·Xᵀ (d × d, breeze on Spark's bundled LAPACK), R = U·Vᵀ. PQ's
    * independent-block assumption is worst when variance concentrates
    * inside blocks; the learned rotation redistributes it, buying
    * lower ADC error at the SAME m × ksub byte budget.
    *
    * Each iteration's training objective (mean sample quantization
    * error) is tracked and the BEST (R, codebooks) pair returns, so
    * the result is never worse than plain PQ on that objective —
    * raw alternation alone is not strictly monotone here because
    * refits reseed k-means++ rather than warm-starting.
    * Returns (R as row-major d × d, codebooks in the rotated space).
    */
  def opqQuantizers(embeddings: DataFrame, m: Int = 8, ksub: Int = 16,
      iters: Int = 5, seed: Long = 42L, pointsPerCentroid: Int = 256,
      vecCol: String = "embedding")
      : (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(m >= 1 && ksub >= 2 && iters >= 1,
      "need m >= 1, ksub >= 2, iters >= 1")
    val sample = collectFitSample(embeddings, ksub, pointsPerCentroid,
      seed, vecCol)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-blocks")
    val dsub = dim / m

    def rotate(r: Array[Array[Double]], x: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var s = 0.0; var j = 0
        while (j < dim) { s += r(i)(j) * x(j); j += 1 }
        s
      }
    def fitBooks(pts: Array[Array[Double]]): Array[Array[Array[Double]]] =
      (0 until m).map { j =>
        lloydFit(pts.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, seed + j)
      }.toArray
    def reconstruct(p: Array[Double],
        books: Array[Array[Array[Double]]]): Array[Double] = {
      val y = new Array[Double](dim)
      var j = 0
      while (j < m) {
        val block = p.slice(j * dsub, (j + 1) * dsub)
        val c = books(j)(nearestIdx(block, books(j)))
        System.arraycopy(c, 0, y, j * dsub, dsub)
        j += 1
      }
      y
    }
    var r = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var bestR = r
    var bestBooks: Array[Array[Array[Double]]] = null
    var bestObj = Double.MaxValue
    var it = 0
    while (it < iters) {
      // one rotation pass and one reconstruction pass per iteration,
      // shared by the objective and the Procrustes accumulation (the
      // O(n·d²) rotate and O(n·m·ksub·dsub) reconstruct are the fit's
      // dominant terms; identical arithmetic order, so the returned
      // best iterate is unchanged)
      val rotatedSample = sample.map(rotate(r, _))
      val books = fitBooks(rotatedSample)
      val recon = rotatedSample.map(reconstruct(_, books))
      val obj = rotatedSample.indices.map { n =>
        val rx = rotatedSample(n); val y = recon(n)
        var s = 0.0; var i = 0
        while (i < dim) { val d0 = rx(i) - y(i); s += d0 * d0; i += 1 }
        s
      }.sum / sample.length
      // NaN/Inf sample components propagate through rotate/reconstruct
      // into obj; `obj < bestObj` is then false forever, leaving
      // bestBooks null (a far-from-cause NPE at the caller) and bestR
      // silently identity. A non-finite objective means the fit sample
      // is corrupt — fail here with the cause.
      require(java.lang.Double.isFinite(obj),
        s"opqQuantizers: non-finite fit objective at iteration $it — " +
          "the fit sample contains NaN/Inf embedding components")
      if (obj < bestObj) { bestObj = obj; bestR = r; bestBooks = books }
      // Procrustes update: M = Σ y_i·x_iᵀ over the sample, R = U·Vᵀ
      val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      sample.indices.foreach { n =>
        val x = sample(n); val y = recon(n)
        var i = 0
        while (i < dim) {
          var j = 0
          while (j < dim) { mMat(i, j) += y(i) * x(j); j += 1 }
          i += 1
        }
      }
      val svd = breeze.linalg.svd(mMat)
      val rNew = svd.U * svd.Vt
      r = Array.tabulate(dim, dim)((i, j) => rNew(i, j))
      it += 1
    }
    (bestR, bestBooks)
  }

  /** The embedding column rotated by the OPQ matrix — in-row d² literal
    * dot products behind the [[oncePerRow]] barrier (same left-fold
    * element order as the driver-side trainer, so in-row codes match
    * the driver recomputation bit-for-bit). Apply before
    * [[pqEncode]]/[[pqTopK]] with [[opqQuantizers]]' codebooks; an
    * orthogonal rotation preserves norms and inner products, so the
    * exact cosine rerank in the rotated space ranks identically (up
    * to fp) to the original. A NULL embedding stays NULL (the
    * engine-wide seam [[l2Normalized]]/[[pqEncode]] rely on) — without
    * the guard each rotated element would be NULL inside a NON-null
    * array, which `isNotNull` filters no longer drop and the fit
    * sample collector would NPE on.
    */
  def rotated(embeddings: DataFrame, r: Array[Array[Double]],
      vecCol: String = "embedding"): DataFrame = {
    val v = asDouble(col(vecCol))
    // fused imperative mat-vec (one pass per row) — the HOF
    // formulation (one aggregate∘zip_with fold per output dim) costs
    // d² interpreted lambda evals per row; the kernel is bit-identical
    // (same ascending left fold), so fits/fingerprints/goldens are
    // unchanged (parity-gated in SimilarityAsOfSpec). NULL embeddings
    // stay NULL (nullSafeEval), preserving the null-seam contract.
    oncePerRow(embeddings,
      vecCol -> graft.functions.Vectors.matVec(v, r))
  }

  // ---- residual-encoded IVFADC (the full Jégou §V formulation) --------

  /** Driver-side nearest-centroid index (L2), the in-row
    * [[nearestCentroid]]'s twin for bounded driver data. */
  private def nearestIdx(v: Array[Double],
      centroids: Array[Array[Double]]): Int = {
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      var s = 0.0; var i = 0
      while (i < v.length) { val d = v(i) - centroids(c)(i); s += d * d; i += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  /** PQ codebooks trained on COARSE-QUANTIZER RESIDUALS
    * r(x) = x − c(x) — the full IVFADC of Jégou §V, vs the simpler
    * raw-vector encoding [[pqCodebooks]] trains. Residuals concentrate
    * near the origin with far less spread than raw vectors (the coarse
    * quantizer has already explained the between-list variance), so
    * the SAME m × ksub byte budget quantizes them with strictly less
    * error — SimilarityAsOfSpec asserts the mean |ADC − true L2²| drop
    * on the corpus. Training: one bounded [[collectFitSample]]; sample
    * points assign to their nearest centroid driver-side and the m
    * block fits run on the subtracted residuals.
    */
  def pqCodebooksResidual(embeddings: DataFrame,
      centroids: Array[Array[Double]], m: Int = 8, ksub: Int = 16,
      seed: Long = 42L, pointsPerCentroid: Int = 256,
      vecCol: String = "embedding"): Array[Array[Array[Double]]] = {
    require(m >= 1 && ksub >= 2, "need m >= 1 sub-blocks and ksub >= 2")
    val sample = collectFitSample(embeddings, ksub, pointsPerCentroid,
      seed, vecCol)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-blocks")
    val dsub = dim / m
    val residuals = sample.map { v =>
      val c = centroids(nearestIdx(v, centroids))
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    (0 until m).map { j =>
      lloydFit(residuals.map(_.slice(j * dsub, (j + 1) * dsub)), ksub, seed + j)
    }.toArray
  }

  /** Rows with `centroid_id` AND the PQ code of their RESIDUAL —
    * the write-side of the residual index: persist
    * (vec_id, centroid_id, pq_code) partitioned by list, m bytes a
    * row, raw vectors off the search path. The residual subtracts
    * in-row (`element_at` into the literal centroid table keyed by the
    * assigned list — no join), behind a [[oncePerRow]] barrier so the
    * m × ksub encode argmin consumes an attribute, not the
    * subtraction expression.
    */
  def pqEncodeResidual(embeddings: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      vecCol: String = "embedding", roundTo: Int = -1): DataFrame = {
    // fused residual kernel: x − centroids[centroid_id] in one pass
    // (was zip_with against an element_at of the full centroid-table
    // literal — an O(nLists·d) literal plus an interpreted O(d) lambda
    // per row); identical element order and subtraction. roundTo flows
    // to BOTH argmins (assign + block codes) — the oracle contract.
    val resid = graft.functions.Vectors.subIndexedRow(
      asDouble(col(vecCol)), col("centroid_id"), centroids)
    pqEncode(
      oncePerRow(ivfAssign(embeddings, centroids, roundTo),
        "__resid" -> resid),
      codebooks, "__resid", roundTo).drop("__resid")
  }

  /** [[ivfAdcTopK]] with residual encoding: within probed list L the
    * true distance is ‖q − x‖² = ‖(q − c_L) − r(x)‖², so the ADC
    * lookup tables are PER-LIST — built from the query's residual
    * against each probed centroid (nProbe × m × ksub literals; for
    * nProbe=4, m=8, ksub=16 that is 512 doubles — still plan
    * literals, never a join) and selected in-row by the row's
    * `centroid_id`. Same two-stage coverage identity and
    * nProbe = nLists ∧ rerank·k ≥ N exact-scan degeneracy as the raw
    * composition; the accuracy gain at equal bytes is the point.
    *
    * The scan kernel is the fused
    * [[graft.functions.Vectors.adcSumIndexed]]: the per-list table
    * selects in-row by the candidate's `centroid_id`, never a join.
    * `roundTo >= 0` is [[ivfAdcTopK]]'s oracle contract; every stage,
    * including the exact in-row residual subtraction (x − c is the same
    * IEEE op on both engines), is then relational under
    * [[dataDefinedQuantizers]] (s21, s29).
    */
  def ivfAdcResidualTopK(embeddings: DataFrame, queryId: Long, k: Int,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 4, rerank: Int = 4, roundTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1 && nProbe >= 1,
      "k, rerank and nProbe must be at least 1")
    withQuery(embeddings, queryId) { qArr =>
      val probed = probeLists(centroids, qArr, nProbe, roundTo)
      // per-list ADC tables from the query residual q − c_L, indexed by
      // centroid id directly (unprobed entries are never read)
      val luts = centroids.map { c =>
        adcLuts(codebooks, qArr.zip(c).map { case (x, y) => x - y }, roundTo)
      }
      val sum = graft.functions.Vectors.adcSumIndexed(
        col("pq_code"), col("centroid_id"), luts)
      adcRerankTail(
        pqEncodeResidual(embeddings, centroids, codebooks, roundTo = roundTo)
          .filter(col("vec_id") =!= queryId &&
            col("centroid_id").isin(probed: _*)),
        if (roundTo >= 0) round(sum, roundTo) else sum, qArr, k, rerank)
    }
  }

  /** BATCHED IVFADC — the production retrieval read path: a query SET
    * (RAG serving, hard-negative mining) against ONE scan of the
    * persisted index, instead of a per-query job loop. Per query the
    * result is EXACTLY [[ivfAdcTopKIndexed]]'s (same probe ranking, ADC
    * arithmetic, tie rules and rerank — SimilarityAsOfSpec asserts
    * bit-equality), but every per-query scalar the single-query path
    * computes driver-side moves in-row onto the tiny query relation:
    *
    *  1. probe lists: each query row ranks the literal centroid table
    *     in-row (array_sort of (d2, cid) structs — ties to the lower
    *     list id, the driver sort's stable order) and keeps `nProbe`;
    *  2. ADC lookup tables: the m × ksub table built per query row from
    *     the literal codebooks (behind the [[oncePerRow]] barrier so
    *     the O(m·ksub·dsub) build is materialized once per query, never
    *     inlined into the m scan-side lookups);
    *  3. the (qid, probed list, qlut) relation — |Q| × nProbe rows —
    *     BROADCASTS against the index on `centroid_id`: one pass over
    *     the probed partitions serves every query, each candidate row
    *     scoring adist via m lookups into its query's qlut attribute;
    *  4. per-query shortlist and final top-k ride
    *     [[Scale.topKPerGroup]] (salted two-stage — no single-reducer
    *     per-query sort at scale); the exact-cosine rerank re-attaches
    *     vectors for the ≤ |Q| · rerank · k survivors alone via a
    *     broadcast join, the indexed path's point-lookup shape.
    *
    * At 100 TB this turns per-query index scans into one: the scan cost
    * is ≈ (∪ probed lists)/nLists × N m-byte code rows regardless of
    * |Q|, and everything per-query is broadcast-sized. `queries` must
    * be a SMALL relation ((vec_id, embedding) rows, same vector space —
    * pass [[l2Normalized]] embeddings on both sides); queries whose
    * vec_id also appears in the index exclude the self-match, the
    * single-query contract. Returns (qid, vec_id, sim).
    */
  def ivfAdcTopKBatch(index: DataFrame, embeddings: DataFrame,
      queries: DataFrame, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 4, rerank: Int = 4,
      vecCol: String = "embedding", roundTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1 && nProbe >= 1 &&
      nProbe <= centroids.length,
      "need 1 <= nProbe <= nLists and positive k, rerank")
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // roundTo >= 0: the oracle contract — every distance (probe rank,
    // LUT entry, ADC total) rounds before its argmin/cut, matching the
    // single-query data-defined path; trained paths keep the raw default
    def rq(c: Column): Column = if (roundTo >= 0) round(c, roundTo) else c
    val centLit = array(centroids.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    // (1) in-row probe ranking: d2 to every centroid, array_sort on
    // (d2, cid) structs — field order gives the (distance, lower id)
    // tie rule the driver path's stable sortBy produces
    val probeStructs = transform(
      sequence(lit(0), lit(centroids.length - 1)), cid =>
        struct(
          rq(aggregate(zip_with(col("qv"), element_at(centLit, cid + 1),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)).as("d2"),
          cid.as("cid")))
    val probes = slice(array_sort(probeStructs), 1, nProbe)
    // (2) per-query ADC tables from the literal codebooks — the exact
    // arithmetic adcLuts runs driver-side, element order preserved
    val qlut = array((0 until m).map { j =>
      val bookLit = array(codebooks(j).toIndexedSeq.map(c =>
        array(c.toIndexedSeq.map(lit(_)): _*)): _*)
      transform(bookLit, c =>
        rq(aggregate(zip_with(c, slice(col("qv"), j * dsub + 1, dsub),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)))
    }: _*)
    val q = queries.select(col("vec_id").cast("long").as("qid"),
      asDouble(col(vecCol)).as("qv"))
    val probePairs = oncePerRow(q, "qlut" -> qlut, "probes" -> probes)
      .select(col("qid"), col("qlut"), explode(col("probes")).as("pr"))
      .select(col("qid"), col("qlut"), col("pr.cid").as("centroid_id"))
    adcBatchTail(index, embeddings, probePairs, q, k, rerank, m, vecCol,
      roundTo)
  }

  /** [[ivfAdcTopKBatch]] with RESIDUAL encoding — the batched twin of
    * [[ivfAdcResidualTopK]] over a persisted [[pqEncodeResidual]]
    * index. The per-(query, probed list) ADC tables the single-query
    * path builds driver-side (nProbe × m × ksub literals) become an
    * in-row derivation ON the |Q| × nProbe probe-pair relation: each
    * pair row subtracts its list's centroid from its query vector
    * (literal centroid table, no join) and builds that list's m × ksub
    * table behind the [[oncePerRow]] barrier — the same arithmetic in
    * the same order, so per-query results are BIT-identical to the
    * single-query path. The scan side is unchanged from the raw batch:
    * one DPP-pruned pass over the m-byte codes serves every query.
    */
  def ivfAdcResidualTopKBatch(index: DataFrame, embeddings: DataFrame,
      queries: DataFrame, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      nProbe: Int = 4, rerank: Int = 4,
      vecCol: String = "embedding", roundTo: Int = -1): DataFrame = {
    require(k >= 1 && rerank >= 1 && nProbe >= 1 &&
      nProbe <= centroids.length,
      "need 1 <= nProbe <= nLists and positive k, rerank")
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // roundTo >= 0: the oracle contract, as in [[ivfAdcTopKBatch]]
    def rq(c: Column): Column = if (roundTo >= 0) round(c, roundTo) else c
    val centLit = array(centroids.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit(_)): _*)): _*)
    val probeStructs = transform(
      sequence(lit(0), lit(centroids.length - 1)), cid =>
        struct(
          rq(aggregate(zip_with(col("qv"), element_at(centLit, cid + 1),
            (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)).as("d2"),
          cid.as("cid")))
    val probes = slice(array_sort(probeStructs), 1, nProbe)
    val q = queries.select(col("vec_id").cast("long").as("qid"),
      asDouble(col(vecCol)).as("qv"))
    // the query residual against THIS row's probed list, then that
    // list's ADC table — both on the exploded (qid, list) relation, so
    // each pair row carries exactly the table its candidates need
    val qres = zip_with(col("qv"),
      element_at(centLit, col("centroid_id") + 1), (x, c) => x - c)
    val qlut = array((0 until m).map { j =>
      val bookLit = array(codebooks(j).toIndexedSeq.map(c =>
        array(c.toIndexedSeq.map(lit(_)): _*)): _*)
      transform(bookLit, c =>
        rq(aggregate(zip_with(c, slice(col("__qres"), j * dsub + 1, dsub),
          (x, y) => (x - y) * (x - y)), lit(0.0), (a, x) => a + x)))
    }: _*)
    val pairs = oncePerRow(q, "probes" -> probes)
      .select(col("qid"), col("qv"), explode(col("probes")).as("pr"))
      .select(col("qid"), col("qv"), col("pr.cid").as("centroid_id"))
    val probePairs = oncePerRow(
        oncePerRow(pairs, "__qres" -> qres), "qlut" -> qlut)
      .select("qid", "centroid_id", "qlut")
    adcBatchTail(index, embeddings, probePairs, q, k, rerank, m, vecCol,
      roundTo)
  }

  /** Shared tail of the batched ADC read paths: (3) the probe relation
    * — (qid, centroid_id, qlut) — broadcasts onto ONE scan of the code
    * index (the inner join IS the union-of-probed-lists filter,
    * partition-prunable via DPP on a persisted list-partitioned index,
    * AND the per-query candidacy assignment); (4) per-query shortlist
    * and final top-k ride [[Scale.topKPerGroup]], with the exact
    * guarded-cosine rerank re-attaching vectors for the shortlist
    * alone via broadcast point-lookup joins.
    */
  private def adcBatchTail(index: DataFrame, embeddings: DataFrame,
      probePairs: DataFrame, q: DataFrame, k: Int, rerank: Int, m: Int,
      vecCol: String, roundTo: Int = -1): DataFrame = {
    val rawAdist = (1 to m).map { j =>
      element_at(element_at(col("qlut"), j),
        element_at(col("pq_code"), j) + 1)
    }.reduce(_ + _)
    val adist = if (roundTo >= 0) round(rawAdist, roundTo) else rawAdist
    val cands = index
      .join(broadcast(probePairs), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("qid"))
      // a null code yields a NULL adist (null element_at index), which
      // ASC-sorts first and would burn rerank slots — drop before scoring
      .filter(element_at(col("pq_code"), 1).isNotNull)
      .select(col("qid"), col("vec_id"), adist.as("adist"))
      .filter(col("adist").isNotNull)
    val short = Scale.topKPerGroup(cands, "qid",
        Seq(col("adist").asc, col("vec_id")), rerank * k,
        saltOn = col("vec_id"))
      .select("qid", "vec_id")
    // exact rerank: vectors re-attach for the shortlist alone
    // (broadcast point lookup against the vector table), scored by the
    // guarded cosine — batch twin of guardedCosine with the query norm
    // as a column branch instead of a driver branch
    val withVec = broadcast(short)
      .join(embeddings.select(col("vec_id"),
        asDouble(col(vecCol)).as("__v")), Seq("vec_id"))
      .join(broadcast(q), Seq("qid"))
    val sim = when(norm(col("qv")) > 0 && norm(col("__v")) > 0,
      nanvl(round(cosine(col("__v"), col("qv")), 6), lit(0.0)))
      .otherwise(lit(0.0))
    Scale.topKPerGroup(
        withVec.select(col("qid"), col("vec_id"), sim.as("sim")),
        "qid", Seq(col("sim").desc, col("vec_id")), k,
        saltOn = col("vec_id"))
      .orderBy(col("qid"), col("sim").desc, col("vec_id"))
  }
}
