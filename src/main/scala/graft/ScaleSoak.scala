package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical growth-exponent soak for the iterative / superlinear-risk
  * query family (VERDICT r7 task 2: "SCALE.md argues each family's
  * 100 TB shape credibly; the one evidentiary gap is that all claims
  * are sf0.1-verified plan shapes; no ≥10× datapoint confirms the
  * growth exponents").
  *
  * Protocol: deterministically amplify sf0.1 ×N (default 10) by key
  * remapping — NO RNG, so the run is reproducible — then time each
  * soak query at ×1 and ×N (1 discarded cold run + `runs` timed,
  * median, noop sink: the Bench protocol) and report the measured
  * growth exponent log(t_N / t_1) / log(N). Sub-quadratic claims
  * (d9's prefix filter, g2's O(m^1.5) orientation bound) require
  * exponent < 2; the iterative family (d7 CC, g7 BFS) should hold
  * near-linear per-round cost with a round count set by structure,
  * which amplification leaves unchanged.
  *
  * Amplification preserves per-copy structure and prevents cross-copy
  * interaction, so the ×N corpus is N disjoint isomorphic copies of
  * the original problem (weak scaling — the only regime where a known
  * ground-truth growth law exists to compare the measurement against):
  *  - documents: every alnum token gets a copy-specific `zzK` suffix —
  *    shingle/line/token sets are isomorphic within a copy and
  *    (effectively) disjoint across copies, so similarity pairs,
  *    clusters, and dup lines each scale exactly ×N;
  *  - lineitem: l_orderkey/l_partkey/l_suppkey shift by copy·STEP —
  *    the co-purchase graph becomes N disjoint copies (triangles,
  *    BFS reach, edge count all ×N);
  *  - events: event_id/user_id shift by copy·STEP with STEP % 3 == 0
  *    so `user_id % 3` derivations (st2's join key) keep their
  *    per-copy distribution.
  *
  * Usage:
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScaleSoak [factor] [prefix...]"
  * Output: human table on stderr + one JSON line on stdout; amplified
  * data cached under /tmp/graft_soak_sf<factor>x (reused if present).
  */
object ScaleSoak {
  private val SoakQueries = Seq(
    "d7_neardup_clusters", "d9_exact_jaccard_pairs", "t22_line_dedup",
    "g2_triangles", "g7_bfs_hops", "e7_scd2_merge",
    "st2_stream_interval_join",
    // round-9 extension: the round-8 heavy family
    "s19_pq_topk", "d17_contamination_frac", "s12_semantic_dedup",
    "g9_weighted_sssp", "t49_cluster_safe_split",
    // round-10 extension: the round-9 family. s19/s20's quantizer fits
    // ride the IndexCache memo since r12 (the probes' timed term is the
    // inline encode + ADC scan — still scheduling-dominated at sf0.1);
    // s20_indexed_read isolates the pure ADC-SCAN term — frozen ×1-fit
    // quantizers, persisted list-partitioned index built outside the
    // timed window, only the probe+scan+rerank timed.
    "s20_ivfadc_topk", "s20_indexed_read", "mm6_phash_radius",
    "t50_weighted_reservoir", "t51_group_weighted_reservoir",
    // r10: the 62-bit production-width phash pairing — the regime
    // where band buckets stay occupancy-bounded as the corpus grows
    // (its 16-bit twin above saturates by construction)
    "mm7_phash_radius_wide",
    // r12: incremental near-dup ingest — weak scaling multiplies corpus
    // AND delta ×N (copy-disjoint shingles keep pairs within-copy), so
    // the O(|Δ|)-per-round claim predicts near-linear time in N
    "d20_delta_jaccard_pairs",
    // r12: the media delta leg — mm7's caveat applies (Stub-codec
    // hashes collide across copies, output grows superlinearly); the
    // claim is time exponent ≤ output exponent, like mm6/mm7
    "mm8_phash_delta",
    // r13: the SQ8 codec scan — one linear pass over the d-byte code
    // column + TakeOrdered, the s19 shape with per-row decode instead
    // of LUT lookups; expected exponent ≈ s19/s20's (scan-dominated)
    "s31_sq8_topk",
    // r14: the data-defined oracle family (s33/s34/s35 = the r13
    // additions; all scan-class — exact bounds/quantizers are fixed by
    // copy-0's vectors replicating verbatim, so only the scan grows),
    // the retrieval-eval harness (copy-0 query batch × a ×N corpus
    // scan — expected near-linear), the curriculum rank (TextStats
    // scan + two-phase rank), and the LSH cluster-safe split (t49's
    // scale-path twin — the iterative-CC family, judge across runs)
    "s33_sq8_exact_topk", "s34_matryoshka_exact", "s35_ivfadc_exact_topk",
    "t53_retrieval_eval", "t54_quality_curriculum",
    "t55_cluster_safe_split_lsh",
    // r14: the batched serve path with a FIXED query set (the
    // production regime — |Q| does not grow with the corpus; the s23
    // probe itself scales |Q| with N under weak scaling, which would
    // measure the |Q|·N/nLists candidate product, not the serve-scan
    // claim). Synthetic frame: dd index built outside the timed body,
    // copy-0 queries only; claim = one DPP-pruned scan ⇒ near-linear.
    "s23_batch_serve")

  /** Frozen quantizers for [[s20_indexed_read]]: fit ONCE per source
    * corpus (the freeze-and-append operational model — nLists and
    * codebooks must not change with the amplification factor or the
    * scan term would be measured against a moving index geometry). */
  private val frozenFits = scala.collection.mutable.Map.empty[
    String, (Array[Array[Double]], Array[Array[Array[Double]]])]

  /** The soak frame for a query name: SparkEntry probes, plus the
    * synthetic `s20_indexed_read` — [[operators.Similarity.ivfAdcTopKIndexed]]
    * over a persisted index built (and cached on disk) OUTSIDE the
    * timed body, so the measurement is the production read path alone:
    * query-vector fetch + probed-partition code scan + broadcast
    * rerank. */
  private def soakFrame(spark: SparkSession, name: String, dir: String,
      fitDir: String): DataFrame = {
    if (name == "s23_batch_serve") {
      import graft.operators.{IndexCache, Similarity}
      val emb = Tables.embeddings(spark, dir)
      // the 16 lowest ids are copy 0's originals at every factor
      // (shifted copies start at Step ≫ any original id), so the
      // quantizers are frozen by construction — the index geometry
      // cannot move with the amplification factor
      val (cents, books) = Similarity.dataDefinedQuantizers(emb, 16, 8)
      val idxDir = IndexCache.persistedIndex("ivfpqdd6", dir,
        IndexCache.fitFingerprint(cents, books, roundTo = 6)) { out =>
        Similarity.writeIvfLists(Similarity.pqEncode(
          Similarity.ivfAssign(emb, cents, roundTo = 6), books, roundTo = 6), out)
      }
      // FIXED query set (copy-0 only — shifted copies start at Step):
      // the production serve regime — corpus grows, the query batch
      // does not
      val queries = emb.filter(col("vec_id") % 100 === 0 &&
        col("vec_id") < Step)
      return Similarity.ivfAdcTopKBatch(spark.read.parquet(idxDir), emb,
        queries, k = 10, cents, books, nProbe = 4, rerank = 4,
        roundTo = 6)
    }
    if (name != "s20_indexed_read")
      return SparkEntry.queries(name)(spark, dir)
    import graft.operators.Similarity
    val (cents, books) = frozenFits.getOrElseUpdate(fitDir, {
      val fitEmb = Similarity.l2Normalized(Tables.embeddings(spark, fitDir))
      (Similarity.ivfCentroids(fitEmb, nCentroids = 16),
        Similarity.pqCodebooks(fitEmb, m = 8, ksub = 16))
    })
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, dir))
    // cache keyed on the SAME amplifier version as the data marker (an
    // AmpVersion bump regenerates ampDir, and an index built from the
    // previous corpus must not survive it) PLUS a fingerprint of the
    // fitted quantizer VALUES (so a fit change — seed, nCentroids,
    // ksub — without an AmpVersion bump cannot score a stale index's
    // pq_codes against freshly-fit LUTs) PLUS Similarity.EncoderVersion
    // (values alone miss an ivfAssign/pqEncode CODE change that leaves
    // the fit identical but alters the persisted codes — the encoder
    // constant is bumped with any such change).
    val fitFp = graft.operators.IndexCache.fitFingerprint(cents, books)
    val idxDir = s"/tmp/graft_soak_ivfidx_${AmpVersion}_${fitFp}_" +
      dir.replaceAll("[^a-zA-Z0-9]", "_")
    if (!new java.io.File(s"$idxDir/_SUCCESS").exists())
      Similarity.writeIvfLists(
        Similarity.pqEncode(Similarity.ivfAssign(emb, cents), books), idxDir)
    Similarity.ivfAdcTopKIndexed(spark.read.parquet(idxDir), emb, 0L, 20,
      cents, books, nProbe = 4, rerank = 4)
  }

  /** Amplifier cache version — shared by the data marker
    * (`_SOAK_DONE_<v>`) and every derived on-disk cache (the
    * s20_indexed_read index), so a version bump invalidates them
    * TOGETHER. */
  private val AmpVersion = "v2"

  /** copy-key spacing; one value serves every id column at sf0.1×32
    * (max ids ≪ 10^9), a multiple of 3 for the user_id%3 keys AND of 7
    * for d17's doc_id%7 corpus/benchmark split (3000000003 = 21 ×
    * 142857143), so every residue-class derivation is copy-invariant. */
  private val Step = 3000000003L

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val prefixes = args.drop(1)
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Sessions.local()

    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ampDir = s"/tmp/graft_soak_sf${factor}x"
    writeAmplified(spark, srcDir, ampDir, factor)

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def bench(name: String, dir: String): Double = {
      def once(): Unit = soakFrame(spark, name, dir, srcDir)
        .write.mode("overwrite").format("noop").save()
      once()
      median(Seq.fill(runs)(time(once())))
    }

    // Disjointness proof: if the ×N corpus really is N non-interacting
    // copies, these outputs scale EXACTLY ×N. A violation means the
    // amplifier leaked similarity/edges across copies and every timing
    // below would be measuring a different problem.
    def countRows(q: String, dir: String): Long =
      soakFrame(spark, q, dir, srcDir).count()
    for (q <- Seq("d9_exact_jaccard_pairs", "g2_triangles",
           "d17_contamination_frac", "t49_cluster_safe_split",
           "g9_weighted_sssp", "s12_semantic_dedup",
           "mm6_phash_radius", "mm7_phash_radius_wide",
           "t50_weighted_reservoir", "t51_group_weighted_reservoir",
           "d20_delta_jaccard_pairs", "mm8_phash_delta")
         if prefixes.isEmpty || prefixes.exists(q.startsWith)) q match {
      case "d9_exact_jaccard_pairs" =>
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(cN == factor * c1,
          s"amplifier leak: d9 pairs $c1 -> $cN, expected ${factor * c1}")
        System.err.println(s"[soak] invariant d9 pairs: $c1 -> $cN = x$factor exact")
      case "g2_triangles" =>
        val r1 = SparkEntry.queries(q)(spark, srcDir).head()
        val rN = SparkEntry.queries(q)(spark, ampDir).head()
        for (i <- 0 until 3) // n_nodes, n_edges, n_triangles
          require(rN.getLong(i) == factor * r1.getLong(i),
            s"amplifier leak: g2 col $i ${r1.getLong(i)} -> ${rN.getLong(i)}")
        System.err.println(s"[soak] invariant g2 (nodes,edges,triangles): " +
          s"(${r1.getLong(0)},${r1.getLong(1)},${r1.getLong(2)}) x$factor exact")
      case "d17_contamination_frac" | "t49_cluster_safe_split" =>
        // Step ≡ 0 (mod 7) keeps the %-derived corpus/benchmark split
        // copy-invariant, so per-doc outputs replicate exactly ×N.
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(cN == factor * c1,
          s"amplifier leak: $q rows $c1 -> $cN, expected ${factor * c1}")
        System.err.println(s"[soak] invariant $q rows: $c1 -> $cN = x$factor exact")
      case "mm6_phash_radius" | "mm7_phash_radius_wide" =>
        // The construction-guaranteed bound for phash is MONOTONICITY
        // only (cN ≥ c1): copy 0 embeds verbatim so its pairs persist,
        // but copies 1..N−1 are zz-suffixed — the suffix changes every
        // byte histogram, so copy k's phashes are NOT an isomorphic
        // image of copy 0's and per-copy pair counts need not
        // replicate (a ≥ ×N require would be asserting luck, not
        // construction). In practice pairs grow SUPERlinearly
        // (birthday collisions across the fresh codes — mm6's 16-bit
        // space saturates, mm7's 62-bit space measured exponent 1.67
        // from sparse-histogram collisions); the timing claim is
        // OUTPUT-PROPORTIONALITY (time exponent ≤ the printed pair
        // exponent), never a fixed growth law.
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(cN >= c1,
          s"amplifier anomaly: $q pairs shrank $c1 -> $cN (copy-0 pairs lost)")
        val outExp = math.log(cN.toDouble / c1) / math.log(factor.toDouble)
        System.err.println(f"[soak] invariant $q pairs: $c1 -> $cN " +
          f"(output exponent $outExp%.2f — compare the TIME exponent to this, not to 1)")
      case "mm8_phash_delta" =>
        // mm7's regime: zz-suffixed copies mint fresh sparse-histogram
        // hashes that collide ACROSS copies, so output grows
        // superlinearly under the Stub codec; the guaranteed bound is
        // monotonicity (copy 0 embeds verbatim — gate, kinds, hashes,
        // pairs all persist) and the timing claim is
        // time exponent ≤ the printed output exponent.
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(cN >= c1,
          s"amplifier anomaly: $q pairs shrank $c1 -> $cN (copy-0 pairs lost)")
        val outExp = math.log(cN.toDouble / c1) / math.log(factor.toDouble)
        System.err.println(f"[soak] invariant $q pairs: $c1 -> $cN " +
          f"(output exponent $outExp%.2f — compare the TIME exponent to this, not to 1)")
      case "d20_delta_jaccard_pairs" =>
        // corpus/delta derive from the md5 id gate, and copy k's shifted
        // ids draw a DIFFERENT (iid same-rate) split than copy 0's — so
        // per-copy pair counts need not replicate and the guaranteed
        // bound is monotonicity (copy 0 embeds verbatim: ids, texts, and
        // hence its split and pairs persist). Expected output exponent
        // ≈ 1 (N iid per-copy splits); compare the time exponent to the
        // printed output exponent.
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(cN >= c1,
          s"amplifier anomaly: $q pairs shrank $c1 -> $cN (copy-0 pairs lost)")
        val outExp = math.log(cN.toDouble / c1) / math.log(factor.toDouble)
        System.err.println(f"[soak] invariant $q pairs: $c1 -> $cN " +
          f"(output exponent $outExp%.2f)")
      case "t50_weighted_reservoir" | "t51_group_weighted_reservoir" =>
        // exact-k (per group): the output SIZE is scale-invariant by
        // construction — k rows (per group) at any corpus size
        val (c1, cN) = (countRows(q, srcDir), countRows(q, ampDir))
        require(c1 == cN,
          s"$q sample size changed under amplification: $c1 -> $cN")
        System.err.println(s"[soak] invariant $q: exact-k output size $c1 at both scales")
      case _ =>
        // g9 seeds at the GLOBAL min node (copy 0) and s12 caps at
        // vec_id < 200 (copy 0): the answer must be bit-identical at
        // ×N — any difference means cross-copy edges/pairs leaked in.
        // The ×N cost these probes measure is the scan/join over the
        // amplified table, not a bigger answer.
        val r1 = SparkEntry.queries(q)(spark, srcDir).collect().map(_.toString).toSeq
        val rN = SparkEntry.queries(q)(spark, ampDir).collect().map(_.toString).toSeq
        require(r1 == rN, s"amplifier leak: $q output changed at x$factor " +
          s"(${r1.size} vs ${rN.size} rows)")
        System.err.println(s"[soak] invariant $q: output identical at x$factor (${r1.size} rows)")
    }

    val picked = SoakQueries.filter(q =>
      prefixes.isEmpty || prefixes.exists(q.startsWith))
    val rows = picked.map { q =>
      // ×N first: the ×1 measurement then runs with a fully-warm JIT,
      // biasing the exponent UP (conservative for sub-quadratic claims).
      val tN = bench(q, ampDir)
      val t1 = bench(q, srcDir)
      val exp = math.log(tN / t1) / math.log(factor.toDouble)
      System.err.println(f"[soak] $q%-28s x1=$t1%8.2fs  x$factor=$tN%8.2fs  ratio=${tN / t1}%6.2f  exponent=$exp%5.2f")
      (q, t1, tN, exp)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val json = rows.map { case (q, t1, tN, e) =>
      s""""$q":{"t1":${fmt(t1)},"tN":${fmt(tN)},"exponent":${fmt(e)}}"""
    }.mkString("{", ",", "}")
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
    println(s"""{"metric":"scale_soak","factor":$factor,"queries":$json}""")
  }

  /** Deterministic ×factor amplification of documents/lineitem/events
    * into outDir (other tables are not read by the soak family).
    * Idempotent: skipped when the _SOAK_DONE marker exists.
    */
  def writeAmplified(spark: SparkSession, srcDir: String, outDir: String,
                     factor: Int): Unit = {
    // AmpVersion v2: adds embeddings + the mod-21 Step (a v1 cache
    // would silently miss both — regenerate)
    val marker = new java.io.File(s"$outDir/_SOAK_DONE_$AmpVersion")
    if (marker.exists()) return
    val copies = broadcast(
      spark.range(factor.toLong).select(col("id").as("__copy")))

    def shift(df: DataFrame, keys: Seq[String]): DataFrame =
      keys.foldLeft(df.crossJoin(copies)) { (d, k) =>
        d.withColumn(k, col(k) + col("__copy") * lit(Step))
      }

    // documents: suffix every alnum token with zz<copy> (copy 0 keeps
    // the original text so the ×1 problem embeds verbatim). \w+ keeps
    // tokens alphanumeric, so the corpus's shingle machinery
    // (lower + [^a-z0-9]+ split) sees ordinary words.
    shift(Tables.documents(spark, srcDir), Seq("doc_id"))
      .withColumn("text", when(col("__copy") === 0, col("text"))
        .otherwise(regexp_replace(col("text"), lit("(\\w+)"),
          concat(lit("$1zz"), col("__copy").cast("string")))))
      .drop("__copy")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    shift(Tables.lineitem(spark, srcDir),
        Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .drop("__copy")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/lineitem.parquet")

    shift(Tables.events(spark, srcDir), Seq("event_id", "user_id"))
      .drop("__copy")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/events.parquet")

    // embeddings: shift vec_id only. Vectors replicate verbatim — the
    // soaked probes are scan-shaped (s19 ADC top-k) or copy-0-capped
    // (s12), so cross-copy vector equality cannot change any answer,
    // and the invariant block proves it per run.
    shift(Tables.embeddings(spark, srcDir), Seq("vec_id"))
      .drop("__copy")
      .repartition(32).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    marker.getParentFile.mkdirs()
    new java.io.PrintWriter(marker) { write("ok\n"); close() }
    System.err.println(s"[soak] amplified x$factor -> $outDir")
  }
}
