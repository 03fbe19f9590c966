package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale utilities (SURVEY.md §4 "Partitioning & shuffle"): explicit skew
  * salting and bucketed co-located joins — the two knobs AQE cannot
  * always turn for you at 100 TB.
  *
  * When to use what:
  *  - AQE skew-join handles moderate skew automatically (split oversized
  *    partitions at runtime) — the default, nothing to do.
  *  - [[saltedJoin]] is for pathological hot keys (one key ≫ executor
  *    memory): the build side is replicated `saltFactor`× and the probe
  *    side scattered, so no single task owns a whole hot key.
  *  - [[writeBucketed]] pre-shuffles once at write time; every later join
  *    or aggregation on the bucket key is exchange-free (the dominant
  *    cost at petabyte scale is repeated shuffles of the same fact
  *    table).
  */
object Scale {

  private def orSessionWidth(n: Int, df: DataFrame): Int =
    if (n > 0) n else graft.plans.FanOut.sessionWidth(df.sparkSession)

  /** Skew-tolerant equi-join (`inner` or `left_outer`). The probe (large,
    * skewed) side gets a random-but-deterministic salt in [0, saltFactor);
    * the build side is exploded once per salt value. Result is exactly the
    * plain join's (verified by ScaleSpec); cost trades `saltFactor`×
    * build-side replication for even task sizing on the probe side.
    *
    * `left_outer` (probe side preserved — the common skewed
    * fact-enrichment shape) is safe under salting because every probe row
    * carries exactly ONE salt value and the build side carries ALL salt
    * values per key: an unmatched probe row null-pads exactly once.
    * Right/full outer are rejected — a build-preserving join would emit
    * one unmatched row PER REPLICA (saltFactor× duplicates).
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
      saltFactor: Int = 8, joinType: String = "inner"): DataFrame = {
    val jt = joinType.toLowerCase.replace("outer", "").stripSuffix("_")
    require(jt == "inner" || jt == "left",
      s"saltedJoin supports inner and left_outer, not '$joinType' " +
        "(build-preserving joins would duplicate unmatched build replicas)")
    // Salt must be DETERMINISTIC per row content: a nondeterministic salt
    // (rand / monotonically_increasing_id) changes on stage retry and
    // loses or duplicates rows across reducers (the SPARK-23207 class of
    // bug). Hashing the full row spreads a hot key as long as payloads
    // differ — identical full-duplicate rows co-locate, which is correct
    // if not load-balanced.
    val salted = probe.withColumn("__salt",
      pmod(xxhash64(probe.columns.toIndexedSeq.map(col): _*), lit(saltFactor)).cast("int"))
    val replicated = build.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), jt).drop("__salt")
  }

  /** Write a DataFrame bucketed + sorted by `key` into the session
    * catalog. Two tables bucketed the same way join with zero Exchange
    * (asserted in SkewSpec) — the pre-partitioning pattern for fact
    * tables that are joined repeatedly on the same key.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", s"${sys.props("java.io.tmpdir")}/graft_bucketed/$table")
      .saveAsTable(table)

  /** Token-budget pack assignment (ONE definition — the t6 probe and the
    * shard writer share it): running-sum binning of `tokenCount(text)`
    * within each `shardKeyCol` group, ordered by `idCol`. Null/absent
    * text counts as 0 tokens so every document lands in a real pack (a
    * null pack_id would silently route rows to the Hive default
    * partition at write time).
    *
    * The per-source cumulative sum is a TWO-PHASE DISTRIBUTED PREFIX SUM,
    * never a single per-source window (a `Window.partitionBy(source)`
    * cumsum is one task per source value — with a handful of sources at
    * 100 TB that is a single task sorting billions of rows):
    *  1. each source's numeric id range is cut into `numSlices`
    *     contiguous id slices (bounds from a cheap (source, id)-only
    *     scan; the slice of a row is a pure monotonic function of its
    *     id, so the result is deterministic and independent of
    *     partitioning — no `spark_partition_id`, whose range-sampled
    *     boundaries change across plan re-instantiations);
    *  2. a slice-local cumsum windows per (source, slice) — parallelism
    *     is `numSlices` tasks per source;
    *  3. per-slice subtotals (map-side-combined aggregate, tiny result)
    *     turn into exclusive per-slice offsets via a window over the
    *     slice axis (≤ numSlices × #sources rows, driver-scale), which
    *     broadcast-join back: global cumsum = slice offset + local cum.
    * Skewed id densities skew slice sizes but never correctness: offsets
    * are computed from actual slice subtotals. `idCol` must be numeric
    * (the slice cut is arithmetic on the id).
    */
  def packTokens(docs: DataFrame, tokensPerShard: Int = 512,
      textCol: String = "text", idCol: String = "doc_id",
      shardKeyCol: String = "source", numSlices: Int = 0): DataFrame =
    packTokensSliced(docs, tokensPerShard, textCol, idCol, shardKeyCol,
      numSlices).drop("__slice")

  /** [[packTokens]] with the internal slice id retained — package-private
    * so ScaleSpec can assert the prefix sum really fans out (>1 slice for
    * a dominant source) without re-deriving the slicing.
    */
  private[graft] def packTokensSliced(docs: DataFrame, tokensPerShard: Int,
      textCol: String, idCol: String, shardKeyCol: String,
      numSlices: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tokensPerShard > 0, "tokensPerShard must be positive")
    val slices = orSessionWidth(numSlices, docs)
    // an existing n_tokens column wins (custom tokenizer budgets, and at
    // 100 TB a precomputed count spares the subtotal pass a second read
    // of the text column); otherwise derive it from the text. Nulls
    // coalesce to 0 either way — a null count would null the pack_id and
    // silently route the row to the Hive default partition at write time
    val withTok =
      if (docs.columns.contains("n_tokens"))
        docs.withColumn("n_tokens",
          coalesce(col("n_tokens").cast("long"), lit(0L)))
      else docs.withColumn("n_tokens",
        coalesce(graft.functions.TextFunctions.tokenCount(col(textCol)), lit(0L)))
    // phase 1a: per-source id bounds — reads only (source, id), prunes
    // text. The key is re-aliased and joined NULL-SAFELY below: a plain
    // Seq(shardKeyCol) equi join would silently DROP null-source rows
    // (null ≠ null), which the replaced per-source window had kept.
    val bounds = docs.groupBy(col(shardKeyCol).as("__pk_k"))
      .agg(min(col(idCol)).as("__pk_lo"), max(col(idCol)).as("__pk_hi"))
    // monotonic id → slice cut (double arithmetic: overflow-safe for any
    // long ids; monotonic non-decreasing ⇒ slices are contiguous id runs).
    // Null ids pin to slice 0: a null __slice would silently DROP the row
    // at the offsets equi join (null ≠ null), and slice 0 matches the
    // serial window's nulls-first order.
    val sliceOf = coalesce(least(lit(slices - 1), greatest(lit(0), floor(
      (col(idCol).cast("double") - col("__pk_lo").cast("double")) /
        (col("__pk_hi").cast("double") - col("__pk_lo").cast("double") + 1.0) *
        slices))).cast("int"), lit(0))
    val sliced = withTok.join(broadcast(bounds),
        col(shardKeyCol) <=> col("__pk_k"))
      .withColumn("__slice", sliceOf)
      .drop("__pk_k", "__pk_lo", "__pk_hi")
    // phase 1b: slice-local cumsum — one task per (source, slice)
    val wLocal = Window.partitionBy(col(shardKeyCol), col("__slice"))
      .orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = sliced.withColumn("__cum", sum(col("n_tokens")).over(wLocal))
    // phase 2: slice subtotals (computed pre-window: partial agg on the
    // scan, no big shuffle) → exclusive offsets over the tiny slice axis.
    // The offsets window partitions by the RAW key (null group is fine
    // inside a window); only the join back needs the null-safe key
    val offsets = sliced.groupBy(col(shardKeyCol).as("__of_k"),
        col("__slice").as("__of_s"))
      .agg(sum(col("n_tokens")).as("__sub"))
      .withColumn("__off", coalesce(sum(col("__sub")).over(
        Window.partitionBy(col("__of_k")).orderBy(col("__of_s"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__of_k"), col("__of_s"), col("__off"))
    // phase 3: global cumsum = slice offset + local cum → pack id
    localCum.join(broadcast(offsets),
        col(shardKeyCol) <=> col("__of_k") && col("__slice") === col("__of_s"))
      .withColumn("pack_id",
        floor((col("__off") + col("__cum") - col("n_tokens")) / tokensPerShard)
          .cast("long"))
      .drop("__of_k", "__of_s", "__cum", "__off")
  }

  /** Token-budget curation: per `shardKeyCol` group, keep the
    * best-`orderCol`-first prefix of documents whose cumulative token
    * count stays within `budgetTokens` — the "take the top docs until
    * B tokens per source" selection every training-mix spec bottoms out
    * in. Selection order is (`orderCol` DESC, `idCol` ASC); a document
    * is kept iff the running total INCLUDING it is ≤ budget. Returns
    * the surviving rows plus `n_tokens` and `cum_tokens`.
    *
    * The running total is the [[packTokens]] two-phase distributed
    * prefix sum — never a single per-group window — except the slice
    * cut is on the ORDER VALUE, descending (slice 0 holds each group's
    * largest values; equal values land in one slice, so slices
    * concatenate in selection order exactly like [[groupPercentRank]]):
    * per-group value bounds broadcast, a slice-local cumsum windows per
    * (group, slice), and per-slice subtotals become exclusive offsets
    * over the tiny slice axis. A null `orderCol` sorts last (pinned to
    * the final slice, `desc_nulls_last` within it) — mirroring the
    * serial window's DESC NULLS LAST order.
    */
  def budgetSelect(docs: DataFrame, budgetTokens: Long,
      orderCol: String = "n_chars", shardKeyCol: String = "source",
      idCol: String = "doc_id", textCol: String = "text",
      numSlices: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens > 0, "budgetTokens must be positive")
    val slices = orSessionWidth(numSlices, docs)
    // an existing n_tokens column wins, exactly like packTokens: at
    // 100 TB a precomputed count spares this pass a read of the text
    val withTok =
      if (docs.columns.contains("n_tokens"))
        docs.withColumn("n_tokens",
          coalesce(col("n_tokens").cast("long"), lit(0L)))
      else docs.withColumn("n_tokens",
        coalesce(graft.functions.TextFunctions.tokenCount(col(textCol)), lit(0L)))
    val bounds = docs.groupBy(col(shardKeyCol).as("__bs_k"))
      .agg(min(col(orderCol)).as("__bs_lo"), max(col(orderCol)).as("__bs_hi"))
    // DESC slice cut: monotonic NON-INCREASING in the order value
    val sliceOf = coalesce(least(lit(slices - 1), greatest(lit(0), floor(
      (col("__bs_hi").cast("double") - col(orderCol).cast("double")) /
        (col("__bs_hi").cast("double") - col("__bs_lo").cast("double") + 1.0) *
        slices))).cast("int"), lit(slices - 1))
    val sliced = withTok.join(broadcast(bounds),
        col(shardKeyCol) <=> col("__bs_k"))
      .withColumn("__slice", sliceOf)
      .drop("__bs_k", "__bs_lo", "__bs_hi")
    val wLocal = Window.partitionBy(col(shardKeyCol), col("__slice"))
      .orderBy(col(orderCol).desc_nulls_last, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = sliced.withColumn("__cum", sum(col("n_tokens")).over(wLocal))
    val offsets = sliced.groupBy(col(shardKeyCol).as("__of_k"),
        col("__slice").as("__of_s"))
      .agg(sum(col("n_tokens")).as("__sub"))
      .withColumn("__off", coalesce(sum(col("__sub")).over(
        Window.partitionBy(col("__of_k")).orderBy(col("__of_s"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__of_k"), col("__of_s"), col("__off"))
    localCum.join(broadcast(offsets),
        col(shardKeyCol) <=> col("__of_k") && col("__slice") === col("__of_s"))
      .withColumn("cum_tokens", col("__off") + col("__cum"))
      .filter(col("cum_tokens") <= budgetTokens)
      .drop("__of_k", "__of_s", "__cum", "__off", "__slice")
  }

  /** Split documents into ≤ `maxTokens` whitespace-token chunks — the
    * long-document precursor to context-window training (a 100k-token
    * document must become k bounded pieces BEFORE packing/shuffling, or
    * one row dominates its task). One row per (doc, chunk index);
    * `chunk_text` re-joins the token slice with single spaces (whitespace
    * is normalized by construction — the tokenization already erased it)
    * and `n_chunk_tokens` carries the slice size. Documents with no
    * tokens yield no chunks. Every non-text column rides along (source,
    * language, quality scores — so chunk→pack composes without a
    * re-join); the original text column is replaced by the chunk.
    * Scan-local: split + explode + slice, no shuffle, codegen built-ins
    * only.
    */
  def chunkDocuments(docs: DataFrame, maxTokens: Int = 512,
      textCol: String = "text"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    // regexp-trim, not trim(): trim strips only 0x20, so a text ending in
    // \n or \t would leave a trailing empty string in the split (limit
    // -1 keeps it) — a phantom token the DuckDB oracle's list_filter
    // correctly drops
    val clean = regexp_replace(col(textCol), "^\\s+|\\s+$", "")
    val toks = when(clean === "", array()).otherwise(split(clean, "\\s+"))
    docs
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        ceil(size(col("__toks")) / lit(maxTokens.toDouble)).cast("long") - 1)))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_idx") * maxTokens + 1).cast("int"), lit(maxTokens))))
      .withColumn("n_chunk_tokens",
        least(size(col("__toks")) - col("chunk_idx") * maxTokens,
          lit(maxTokens.toLong)).cast("long"))
      .drop("__toks", textCol)
  }

  /** Overlapping sliding-window chunking — the retrieval/RAG shape of
    * [[chunkDocuments]]: windows of `windowTokens` starting every
    * `strideTokens` (stride < window ⇒ adjacent chunks share
    * `window − stride` tokens of context, so no retrieval boundary
    * splits an answer span). Chunk count = 1 + ⌈max(n − window, 0) /
    * stride⌉ — the last window is the first one reaching the document
    * end; only it may be short. Same scan-local plan as
    * [[chunkDocuments]] (split + explode + slice, no shuffle), same
    * regexp-trim discipline, all non-text columns ride along.
    */
  def slidingChunks(docs: DataFrame, windowTokens: Int = 512,
      strideTokens: Int = 384, textCol: String = "text"): DataFrame = {
    require(strideTokens > 0, "strideTokens must be positive")
    require(windowTokens >= strideTokens,
      "windowTokens must be at least strideTokens (no gaps between chunks)")
    val clean = regexp_replace(col(textCol), "^\\s+|\\s+$", "")
    val toks = when(clean === "", array()).otherwise(split(clean, "\\s+"))
    docs
      .withColumn("__toks", toks)
      .filter(size(col("__toks")) > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0L),
        ceil(greatest(size(col("__toks")) - windowTokens, lit(0))
          / lit(strideTokens.toDouble)).cast("long"))))
      .withColumn("chunk_text",
        concat_ws(" ", slice(col("__toks"),
          (col("chunk_idx") * strideTokens + 1).cast("int"),
          lit(windowTokens))))
      .withColumn("n_chunk_tokens",
        least(size(col("__toks")) - col("chunk_idx") * strideTokens,
          lit(windowTokens.toLong)).cast("long"))
      .drop("__toks", textCol)
  }

  /** Deterministic epoch shuffle (training-data reorder): every epoch
    * permutes the corpus by an md5-derived sort key — a pure function of
    * (id, epoch), so the permutation is reproducible across runs,
    * engines (DuckDB computes the identical key — the t14 oracle),
    * retries, and partitionings, with NO engine RNG state. The scale
    * path is range-repartition + partition-local sort on the key (the
    * standard write-sorted layout); a global row_number would serialize
    * and is only ever used by the probe's oracle formulation. The key
    * column `__shuffle_key` is retained so a writer can range-partition
    * files by it.
    */
  def epochShuffled(df: DataFrame, epoch: Int, idCol: String = "doc_id",
      numPartitions: Int = 0): DataFrame = {
    val parts = orSessionWidth(numPartitions, df)
    // 15 hex chars = 60 bits: fits a signed long, matches DuckDB's
    // ('0x'||…)::UBIGINT on the same prefix
    val key = conv(substring(
        md5(concat(col(idCol).cast("string"), lit(s"#ep$epoch"))), 1, 15),
      16, 10).cast("long")
    df.withColumn("__shuffle_key", key)
      .repartitionByRange(parts, col("__shuffle_key"), col(idCol))
      .sortWithinPartitions(col("__shuffle_key"), col(idCol))
  }

  /** Deterministic stratified sampler (training-mix control): keep a row
    * iff an md5-derived hash of its id falls under the stratum's rate —
    * `h(id) mod 1000 < rate·1000`. Unlike `df.stat.sampleBy` (engine-RNG
    * bound, irreproducible across Spark versions), the md5 gate is a pure
    * function of the row id: portable across engines (DuckDB computes the
    * identical gate — the t7 oracle), stable under retries/partitioning,
    * and per-row independent, so stratum proportions concentrate tightly
    * at scale. Strata absent from `rates` are dropped, matching the
    * sampleBy contract. No shuffle: a scan-local filter.
    */
  /** Exactly-k weighted sample WITHOUT replacement (A-Res / exponential
    * races — Efraimidis & Spirakis, IPL 2006): item i gets key
    * ln(u_i)/w_i with u_i uniform in (0,1); the k LARGEST keys are the
    * sample, whose inclusion law is exactly k sequential
    * probability-proportional-to-weight draws without replacement.
    * Complements [[hashStratifiedSample]]/temperature sampling (rate
    * gates — output SIZE is binomial): here the size is exactly k, the
    * knob training-mix budgets usually need.
    *
    * Engine-portable determinism: u_i = (U_i + 0.5) / 2^52 with U_i the
    * first 13 md5 hex digits of (salt, id) — 52 bits, so U_i, the +0.5
    * (double spacing at [2^51, 2^52) is 0.5) and the power-of-two
    * division are all EXACT in IEEE double and bit-identical on every
    * engine; ln() may differ in its final ulp across libm
    * implementations, but a rank flip would need two keys within
    * ~2^-50 — not a realistic hazard, and the emitted columns carry no
    * float derived from the key. Plan shape: TakeOrderedAndProject
    * (per-partition k-heaps, no full sort), scan-local otherwise —
    * the o1 cost model at any corpus size.
    */
  def weightedReservoir(df: DataFrame, k: Int, weightCol: String,
      idCol: String = "doc_id", salt: String = "wres"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val u = (conv(substring(md5(concat(lit(salt),
        col(idCol).cast("string"))), 1, 13), 16, 10).cast("double") +
      lit(0.5)) / lit(4503599627370496.0) // 2^52, exact
    val key = log(u) / col(weightCol).cast("double")
    df.filter(col(weightCol) > 0)
      .withColumn("__ares_key", key)
      .orderBy(col("__ares_key").desc, col(idCol))
      .limit(k)
      .drop("__ares_key")
  }

  /** [[weightedReservoir]] per stratum: exactly k weighted draws
    * without replacement WITHIN each group — the per-source training
    * budget ("best k docs per source, weighted by length/quality"). The
    * A-Res key is identical; the top-k runs through [[topKPerGroup]]'s
    * salted two-stage window, so a dominant source fans out over salt
    * buckets instead of serializing one window task.
    */
  def weightedReservoirPerGroup(df: DataFrame, groupCol: String, k: Int,
      weightCol: String, idCol: String = "doc_id",
      salt: String = "wres"): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val u = (conv(substring(md5(concat(lit(salt),
        col(idCol).cast("string"))), 1, 13), 16, 10).cast("double") +
      lit(0.5)) / lit(4503599627370496.0) // 2^52, exact
    topKPerGroup(
      df.filter(col(weightCol) > 0)
        .withColumn("__ares_key", log(u) / col(weightCol).cast("double")),
      groupCol, Seq(col("__ares_key").desc, col(idCol)), k,
      saltOn = col(idCol))
      .drop("__ares_key")
  }

  def hashStratifiedSample(df: DataFrame, strataCol: String,
      rates: Map[String, Double], idCol: String = "doc_id",
      seed: Long = 42L): DataFrame = {
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    // permille thresholds: rate resolution 1/1000
    permilleGate(df, strataCol,
      rates.map { case (k, v) => k -> math.round(v * 1000).toInt },
      idCol, seed)
  }

  /** Join-key skew diagnostics — the measurement that SIZES
    * [[saltedJoin]]: per-key frequency distribution summarized as one
    * row (key count, row count, max/median/p99 frequency), plus
    * `skew_factor` = max_freq / mean_freq (the hot key's multiple of
    * the average — ceil of it is the natural `saltFactor`). One hash
    * agg + one tiny agg; the report costs a single pass and prevents
    * both under-salting (straggler task) and blind over-salting
    * (needless build-side replication).
    *
    * skew_factor is the unrounded quotient of exact integers
    * (max·n_keys/n_rows) — bit-identical cross-engine; the percentile
    * rows round at 4 d.p. (the a14 interpolation contract).
    */
  def keySkewReport(df: DataFrame, keyCol: String): DataFrame = {
    val freq = df.groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
    freq.agg(
        count(lit(1)).as("n_keys"),
        sum(col("f")).as("n_rows"),
        max(col("f")).as("max_freq"),
        round(expr("percentile(f, 0.5)"), 4).as("p50_freq"),
        round(expr("percentile(f, 0.99)"), 4).as("p99_freq"))
      .select(col("n_keys").cast("long").as("n_keys"),
        col("n_rows").cast("long").as("n_rows"),
        col("max_freq").cast("long").as("max_freq"),
        col("p50_freq"), col("p99_freq"),
        (col("max_freq").cast("double") * col("n_keys").cast("double") /
          col("n_rows").cast("double")).as("skew_factor"))
  }

  /** Per-ROW weighted Bernoulli sampling: keep each row with probability
    * `rateCol` (a [0,1] column — typically a quality/importance score),
    * via the same deterministic md5-permille gate as the stratified
    * sampler (engine-portable, seed-stable, no RNG, no shuffle — a
    * scan-local filter). This is score-proportional downsampling: the
    * per-stratum gate decides by GROUP, this one decides by ROW, which
    * is what quality-weighted corpus thinning actually needs. Rates are
    * clamped to [0, 1] and resolve at 1/1000 (a rate below 0.0005 drops
    * the row — by design, same resolution as the stratified gate).
    */
  def weightedSample(df: DataFrame, rateCol: Column,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    val gate = conv(substring(
        md5(concat(col(idCol).cast("string"), lit("#" + seed))), 1, 8),
      16, 10).cast("long") % 1000
    val thr = greatest(lit(0L),
      least(lit(1000L), round(rateCol.cast("double") * 1000).cast("long")))
    df.filter(gate < thr)
  }

  /** Temperature-based source rebalancing (the multilingual-mix rule of
    * Conneau & Lample 2019 / Devlin et al.'s mBERT: sample stratum s
    * with probability ∝ count(s)^α, α = 1/T < 1 flattening the head):
    * per-stratum keep-rates (count_s / count_max)^α, so the largest
    * stratum keeps everything and smaller strata are boosted RELATIVELY
    * by the sub-linear exponent. Returns permille thresholds for the
    * [[hashStratifiedSample]] gate.
    *
    * The per-stratum count table is mix-control metadata — strata are
    * sources/languages, a handful of rows by definition — so collecting
    * it to the driver is the justified pattern (same as IVF probe-list
    * ranking). Thresholds use floor(√ratio·1000) at the default α = 0.5:
    * √ is IEEE-correctly-rounded in every engine, so a DuckDB oracle
    * reproduces the thresholds bit-exactly (the t17 probe); other α go
    * through `math.pow`, which is deterministic for the Spark result
    * (thresholds are literals once computed) but only ulp-close for a
    * cross-engine twin.
    */
  def temperatureThresholds(df: DataFrame, strataCol: String,
      alpha: Double = 0.5): Map[String, Int] = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    val counts = df.groupBy(strataCol).agg(count(lit(1)).as("__c"))
      .collect() // mix-control metadata: |strata| rows
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "no strata to rebalance")
    val cmax = counts.values.max
    counts.map { case (k, c) =>
      val ratio = c.toDouble / cmax
      val rate = if (alpha == 0.5) math.sqrt(ratio) else math.pow(ratio, alpha)
      k -> math.floor(rate * 1000).toInt
    }
  }

  /** [[temperatureThresholds]] composed with the md5 permille gate —
    * one call from raw corpus to temperature-rebalanced sample. The gate
    * itself stays a scan-local filter (no shuffle, no RNG).
    */
  def temperatureSample(df: DataFrame, strataCol: String,
      alpha: Double = 0.5, idCol: String = "doc_id",
      seed: Long = 42L): DataFrame =
    permilleGate(df, strataCol, temperatureThresholds(df, strataCol, alpha),
      idCol, seed)

  /** Exact top-`k` rows per group under a TOTAL per-group ordering,
    * WITHOUT serializing each group into one task. The naive
    * `row_number over (partition by group)` runs every group as a single
    * sorted task — at corpus scale a dominant group (one source, one
    * language) is billions of rows. Two-stage salted formulation instead:
    *
    *  1. stage 1 pre-prunes top-k within (group, salt) — `saltBuckets`
    *     parallel tasks per group, each a bounded partial sort. The
    *     global per-group top-k is contained in the union of per-bucket
    *     top-ks, so this stage is lossless for ANY row→salt assignment;
    *  2. stage 2 re-ranks the ≤ saltBuckets·k survivors per group — now
    *     provably tiny — and keeps the true top-k.
    *
    * `ordering` must be total within a group (append the id column) or
    * boundary ties make the result nondeterministic. `saltOn` must be a
    * DETERMINISTIC row function (the id column is the natural choice):
    * stage 1's shuffle partitioning derives from it, and a
    * nondeterministic salt would re-bucket rows on task retry —
    * Spark's recompute-on-retry model corrupts nondeterministic
    * shuffles silently.
    */
  def topKPerGroup(df: DataFrame, groupCol: String, ordering: Seq[Column],
      k: Int, saltOn: Column, saltBuckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be positive")
    val buckets = orSessionWidth(saltBuckets, df)
    val salted = df.withColumn("__salt",
      pmod(xxhash64(saltOn), lit(buckets.toLong)))
    val local = Window.partitionBy(col(groupCol), col("__salt"))
      .orderBy(ordering: _*)
    val global = Window.partitionBy(col(groupCol)).orderBy(ordering: _*)
    salted
      .withColumn("__rn", row_number().over(local))
      .filter(col("__rn") <= k)
      .withColumn("__rn", row_number().over(global))
      .filter(col("__rn") <= k)
      .drop("__salt", "__rn")
  }

  /** EXACT k-th order statistic (discrete quantile, 0-based rank
    * ⌊q·(n−1)⌋) of a numeric column in a BOUNDED number of bounded-
    * memory passes — distributed selection by iterative histogram
    * refinement (the Blum et al. selection idea in scan form: histogram
    * the live interval into `buckets`, locate the bucket holding the
    * target rank, recurse into it): each pass is one hash aggregate
    * producing ≤ `buckets` rows, and the interval shrinks `buckets`-fold
    * per pass, so doubles converge in ≤ ~5 passes. The survivors
    * (≤ `tailLimit`) sort in a single executor-side collect_list.
    *
    * Why it exists next to the built-in exact `percentile` (a14): that
    * aggregate buffers a value→count map PER GROUP — on a
    * high-cardinality double column at 100 TB the map IS the data and
    * the executor dies; this routine's state is `buckets` counters per
    * pass, full stop. Bucket membership is re-derived from the same
    * floor expression the histogram used (never from float interval
    * arithmetic), so rank accounting is exact. Duplicate-heavy columns
    * short-circuit: a zero-width interval means every candidate equals
    * `lo`.
    */
  def exactOrderStatistic(df: DataFrame, valueCol: String, q: Double,
      buckets: Int = 4096, tailLimit: Int = 65536): Double = {
    require(q >= 0.0 && q <= 1.0, "q must be in [0, 1]")
    require(buckets >= 2 && tailLimit >= 1, "buckets/tailLimit too small")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull && !col("v").isNaN)
    val first = vals.agg(count(lit(1)).as("n"), min("v").as("lo"),
      max("v").as("hi")).head
    val n = first.getLong(0)
    require(n > 0, s"exactOrderStatistic: no non-null values in $valueCol")
    var k = math.floor(q * (n - 1)).toLong
    var lo = first.getDouble(1)
    var hi = first.getDouble(2)
    var pred: Column = lit(true)
    var candCount = n
    while (candCount > tailLimit && hi > lo) {
      val width = (hi - lo) / buckets
      if (width == 0.0) { hi = lo } // interval below one ulp: all equal
      else {
        val bucketOf = least(lit(buckets - 1),
          floor((col("v") - lit(lo)) / lit(width))).cast("int")
        val h = vals.filter(pred)
          .groupBy(bucketOf.as("b")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        var acc = 0L
        var b = 0
        while (b < buckets && acc + h.getOrElse(b, 0L) <= k) {
          acc += h.getOrElse(b, 0L); b += 1
        }
        k -= acc
        candCount = h.getOrElse(b, 0L)
        pred = pred && (bucketOf === b) // exact membership, no float drift
        lo = lo + b * width
        hi = if (b == buckets - 1) hi else lo + width
      }
    }
    if (hi <= lo) lo
    else {
      val tail = vals.filter(pred)
        .agg(sort_array(collect_list(col("v"))).as("t"))
        .head.getSeq[Double](0)
      tail(k.toInt)
    }
  }

  /** Weighted exact quantile by the same histogram-refinement selection
    * as [[exactOrderStatistic]]: the smallest value v whose cumulative
    * weight (values sorted ascending) reaches q·W. Weights must be
    * NON-NEGATIVE INTEGERS (token counts, byte sizes, row
    * multiplicities — the corpus cases) so every cumulative sum is an
    * exact long and the q·W threshold compares identically on every
    * engine; a float-weighted variant would make the threshold itself
    * summation-order-dependent. Each pass aggregates `buckets` weight
    * sums; the tail sorts ≤ `tailLimit` surviving rows. The
    * "median document length weighted by tokens" question — where a
    * handful of giant documents should pull the median the way they
    * pull the token budget — is this routine.
    */
  def weightedOrderStatistic(df: DataFrame, valueCol: String,
      weightCol: String, q: Double, buckets: Int = 4096,
      tailLimit: Int = 65536): Double = {
    require(q >= 0.0 && q <= 1.0, "q must be in [0, 1]")
    val vals = df.select(col(valueCol).cast("double").as("v"),
        col(weightCol).cast("long").as("w"))
      .filter(col("v").isNotNull && !col("v").isNaN &&
        col("w").isNotNull && col("w") > 0)
    val first = vals.agg(sum("w").as("tw"), count(lit(1)).as("n"),
      min("v").as("lo"), max("v").as("hi")).head
    require(!first.isNullAt(0), s"weightedOrderStatistic: no weighted rows")
    val totalW = first.getLong(0)
    // target: first v with cumWeight >= t (t > 0 so q=0 → min value)
    var t = math.max(q * totalW, 1.0)
    var lo = first.getDouble(2)
    var hi = first.getDouble(3)
    var pred: Column = lit(true)
    var candCount = first.getLong(1)
    while (candCount > tailLimit && hi > lo) {
      val width = (hi - lo) / buckets
      if (width == 0.0) { hi = lo }
      else {
        val bucketOf = least(lit(buckets - 1),
          floor((col("v") - lit(lo)) / lit(width))).cast("int")
        val h = vals.filter(pred)
          .groupBy(bucketOf.as("b"))
          .agg(sum(col("w")).as("sw"), count(lit(1)).as("c"))
          .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        var acc = 0L
        var b = 0
        while (b < buckets && acc + h.get(b).map(_._1).getOrElse(0L) < t) {
          acc += h.get(b).map(_._1).getOrElse(0L); b += 1
        }
        t -= acc
        candCount = h.get(b).map(_._2).getOrElse(0L)
        pred = pred && (bucketOf === b)
        lo = lo + b * width
        hi = if (b == buckets - 1) hi else lo + width
      }
    }
    if (hi <= lo) lo
    else {
      val tail = vals.filter(pred)
        .groupBy("v").agg(sum("w").as("w")) // merge duplicate values
        .orderBy("v")
        .collect()
      var acc = 0L
      var i = 0
      while (i < tail.length && acc + tail(i).getLong(1) < t) {
        acc += tail(i).getLong(1); i += 1
      }
      tail(math.min(i, tail.length - 1)).getDouble(0)
    }
  }

  /** Curriculum ordering (Bengio et al., ICML'09 applied to corpus
    * prep): rank every document into `bands` difficulty bands by the
    * global percent rank of `orderCol` (easy → hard), then shuffle
    * WITHIN each band by the deterministic md5 epoch key — coarse
    * difficulty progression with intra-band decorrelation, the
    * standard curriculum schedule. Emits `band` (0-based) and
    * `ord_key`; training order is (band, ord_key, id). The percent
    * rank is the [[groupPercentRank]] two-phase distributed rank over
    * a single global group (slice-parallel — no serial global window),
    * and the shuffle key is the [[epochShuffle]] md5 recipe, so both
    * the banding and the intra-band order are reproducible across
    * runs, engines, and epochs.
    */
  def curriculumOrder(docs: DataFrame, orderCol: String = "n_chars",
      bands: Int = 4, idCol: String = "doc_id", epoch: Int = 1): DataFrame = {
    require(bands >= 1, "bands must be positive")
    groupPercentRank(docs.withColumn("__cu_g", lit(1)), "__cu_g", orderCol,
        idCol, outCol = "__cu_pct")
      .withColumn("band",
        least(floor(col("__cu_pct") * bands), lit(bands - 1L)).cast("long"))
      .withColumn("ord_key",
        md5(concat(col(idCol).cast("string"), lit(s"#cu$epoch"))))
      .drop("__cu_g", "__cu_pct")
  }

  /** Uniform-without-replacement sample of exactly `k` rows per group
    * (or the whole group when smaller) — the eval-set / human-review
    * draw: unlike the rate-based [[hashStratifiedSample]], the output
    * SIZE is exact per group. Rows rank by the md5 content hash of
    * (id, seed) — a deterministic pseudo-random total order both
    * engines compute bit-identically (the t7 gate recipe turned into a
    * sort key), so the sample is reproducible across runs, retries,
    * partitionings, and the DuckDB oracle. Executes through
    * [[topKPerGroup]]'s salted two-stage top-k — no single per-group
    * window at any scale.
    */
  def groupSample(df: DataFrame, groupCol: String, k: Int,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    val key = md5(concat(col(idCol).cast("string"), lit(s"#gs$seed")))
    topKPerGroup(df.withColumn("__gs_key", key), groupCol,
        Seq(col("__gs_key"), col(idCol)), k, saltOn = col(idCol))
      .drop("__gs_key")
  }

  /** Normalized rank of every row within its group under a TOTAL
    * ordering — percent-rank-style score normalization (comparing raw
    * quality scores ACROSS corpora is meaningless when their score
    * distributions differ; the rank transform puts every source on the
    * same [0,1] scale before a global selection threshold). The rank is
    * `row_number` semantics (ties broken by `idCol`), so the output is a
    * pure function of the input set.
    *
    * NEVER a single per-group window: this is the packTokens two-phase
    * distributed rank —
    *  1. per-group order-value bounds (cheap two-column scan, broadcast)
    *     cut each group into `numSlices` contiguous value ranges; the
    *     slice of a row is a monotonic function of its order VALUE, so
    *     ties land in one slice and slices concatenate in order;
    *  2. a slice-local `row_number` windows per (group, slice) —
    *     parallelism is numSlices tasks per group;
    *  3. per-slice counts (tiny) turn into exclusive offsets + group
    *     totals via windows over the slice axis, broadcast back:
    *     rank = offset + local row_number, pct = (rank−1)/(n−1).
    * The pct quotient divides identical integers on every engine —
    * bit-identical IEEE doubles, no rounding needed. Value-skewed
    * groups skew slice sizes but never correctness (offsets come from
    * actual counts). `orderCol` must be numeric and non-null (a constant
    * group degrades to one slice — correct, serial for that group).
    */
  /** Distributed running sum of `weightCol` per group in
    * (`orderCol` asc|desc, `idCol`) order — the budgetSelect/packTokens
    * two-phase prefix sum generalized: value-sliced local windows +
    * broadcast per-slice offsets, so no group ever serializes into a
    * single task. The slice function maps monotonically from the order
    * VALUE (monotone non-decreasing asc, non-increasing desc), which is
    * all correctness needs; Zipf-skewed order values just unbalance
    * slices, never break them. Appends `outCol` (the INCLUSIVE running
    * total); all input columns ride along.
    */
  def groupRunningSum(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String, weightCol: String, outCol: String = "cum",
      descending: Boolean = false, numSlices: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slices = orSessionWidth(numSlices, df)
    val bounds = df.groupBy(col(groupCol).as("__rs_k"))
      .agg(min(col(orderCol)).as("__rs_lo"), max(col(orderCol)).as("__rs_hi"))
    val frac =
      if (descending)
        (col("__rs_hi").cast("double") - col(orderCol).cast("double")) /
          (col("__rs_hi").cast("double") - col("__rs_lo").cast("double") + 1.0)
      else
        (col(orderCol).cast("double") - col("__rs_lo").cast("double")) /
          (col("__rs_hi").cast("double") - col("__rs_lo").cast("double") + 1.0)
    val sliceOf = coalesce(least(lit(slices - 1), greatest(lit(0),
      floor(frac * slices))).cast("int"), lit(0))
    val sliced = df.join(broadcast(bounds), col(groupCol) <=> col("__rs_k"))
      .withColumn("__slice", sliceOf)
      .drop("__rs_k", "__rs_lo", "__rs_hi")
    val ord =
      if (descending) Seq(col(orderCol).desc_nulls_last, col(idCol))
      else Seq(col(orderCol).asc_nulls_first, col(idCol))
    val wLocal = Window.partitionBy(col(groupCol), col("__slice"))
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localCum = sliced.withColumn("__cum", sum(col(weightCol)).over(wLocal))
    val offsets = sliced.groupBy(col(groupCol).as("__of_k"),
        col("__slice").as("__of_s"))
      .agg(sum(col(weightCol)).as("__sub"))
      .withColumn("__off", coalesce(sum(col("__sub")).over(
        Window.partitionBy(col("__of_k")).orderBy(col("__of_s"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__of_k"), col("__of_s"), col("__off"))
    localCum.join(broadcast(offsets),
        col(groupCol) <=> col("__of_k") && col("__slice") === col("__of_s"))
      .withColumn(outCol, col("__off") + col("__cum"))
      .drop("__of_k", "__of_s", "__cum", "__slice")
  }

  def groupPercentRank(df: DataFrame, groupCol: String, orderCol: String,
      idCol: String = "doc_id", outCol: String = "pct_rank",
      numSlices: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val slices = orSessionWidth(numSlices, df)
    val bounds = df.groupBy(col(groupCol).as("__pr_k"))
      .agg(min(col(orderCol)).as("__pr_lo"), max(col(orderCol)).as("__pr_hi"))
    val sliceOf = coalesce(least(lit(slices - 1), greatest(lit(0), floor(
      (col(orderCol).cast("double") - col("__pr_lo").cast("double")) /
        (col("__pr_hi").cast("double") - col("__pr_lo").cast("double") + 1.0) *
        slices))).cast("int"), lit(0))
    val sliced = df.join(broadcast(bounds), col(groupCol) <=> col("__pr_k"))
      .withColumn("__slice", sliceOf)
      .drop("__pr_k", "__pr_lo", "__pr_hi")
    val wLocal = Window.partitionBy(col(groupCol), col("__slice"))
      .orderBy(col(orderCol), col(idCol))
    val localRn = sliced.withColumn("__rn", row_number().over(wLocal))
    val wOff = Window.partitionBy(col("__of_k")).orderBy(col("__of_s"))
    val offsets = sliced.groupBy(col(groupCol).as("__of_k"),
        col("__slice").as("__of_s"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(
        wOff.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__cnt")).over(
        wOff.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__of_k"), col("__of_s"), col("__off"), col("__n"))
    localRn.join(broadcast(offsets),
        col(groupCol) <=> col("__of_k") && col("__slice") === col("__of_s"))
      .withColumn(outCol, when(col("__n") === 1, lit(0.0)).otherwise(
        (col("__off") + col("__rn") - 1).cast("double") /
          (col("__n") - 1).cast("double")))
      .drop("__of_k", "__of_s", "__off", "__n", "__slice", "__rn")
  }

  /** Z-order (Morton) interleave of the low `bits` bits of two
    * non-negative integer dimensions: bit i of `a` lands at position 2i,
    * bit i of `b` at 2i+1. Nearby (a, b) cells get nearby z-values, so a
    * range-partitioned, z-sorted layout clusters BOTH dimensions — a
    * box predicate on either (or both) touches a handful of files
    * instead of every file, which is what parquet min/max row-group and
    * file skipping prune on at 100 TB (single-dim sorting only serves
    * its own dimension). Pure bit arithmetic (shift/and/or as addition
    * of disjoint bit terms — a flat 2·bits-term sum, never a when()
    * fold), identical in any engine with integer shifts.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _).cast("long")
  }

  /** Write `df` parquet in z-order layout over two integer dimension
    * columns: range-repartition by the z-value (contiguous z-ranges per
    * file) and sort within each partition so row-group min/max stats are
    * tight. The z column itself is dropped — the layout, not the value,
    * is the product. PartitioningSpec proves a 2-D box filter touches
    * strictly fewer files than a single-dim-sorted layout of the same
    * data.
    */
  def zorderWrite(df: DataFrame, aCol: String, bCol: String, path: String,
      bits: Int = 16, numFiles: Int = 0): Unit = {
    val files = orSessionWidth(numFiles, df)
    df.withColumn("__z", zValue(col(aCol), col(bCol), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Deterministic fixed-size holdout per stratum (frozen eval sets,
    * human-review samples): the `nPerStratum` rows whose md5-derived key
    * ranks lowest within the stratum — a pure function of (id, seed), so
    * the holdout is stable across runs, engines, and corpus repartitions,
    * and only CHANGES when ids enter or leave the stratum. Selection runs
    * through [[topKPerGroup]] (salted two-stage), so a billion-row
    * stratum never serializes into one task.
    */
  def fixedHoldout(df: DataFrame, strataCol: String, nPerStratum: Int,
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    val key = conv(substring(
        md5(concat(col(idCol).cast("string"), lit(s"#ho$seed"))), 1, 15),
      16, 10).cast("long")
    topKPerGroup(df.withColumn("__hk", key), strataCol,
      Seq(col("__hk"), col(idCol)), nPerStratum, saltOn = col(idCol))
      .drop("__hk")
  }

  /** Deterministic train/val/test assignment: each row's split is a pure
    * function of (id, seed) via the md5 permille gate — reproducible,
    * engine-portable, stable under retries, and leak-free (a document
    * can never migrate between splits across runs of the same seed).
    * `splits` maps ordered split names to permille widths summing to
    * 1000. Scan-local projection — no shuffle, no RNG.
    */
  def assignSplit(df: DataFrame,
      splits: Seq[(String, Int)] =
        Seq("train" -> 980, "val" -> 10, "test" -> 10),
      idCol: String = "doc_id", seed: Long = 42L): DataFrame = {
    require(splits.nonEmpty && splits.map(_._2).sum == 1000,
      "split permilles must sum to 1000")
    val gate = conv(substring(
        md5(concat(col(idCol).cast("string"), lit("#" + seed))), 1, 8),
      16, 10).cast("long") % 1000
    val cum = splits.scanLeft(0)(_ + _._2).tail
    val cases = splits.init.zip(cum.init).foldLeft(None: Option[Column]) {
      case (acc, ((name, _), bound)) =>
        val c = gate < bound
        Some(acc.fold(when(c, name))(_.when(c, name)))
    }
    val split = cases.fold(lit(splits.head._1))(_.otherwise(splits.last._1))
    df.withColumn("split", split)
  }

  /** The shared md5 permille sampling gate: keep a row iff
    * `h(id) mod 1000 < threshold(stratum)`. Strata without a threshold
    * drop. Scan-local filter; portable (DuckDB computes the identical
    * gate — CLAUDE.md determinism recipes).
    */
  private def permilleGate(df: DataFrame, strataCol: String,
      permille: Map[String, Int], idCol: String, seed: Long): DataFrame = {
    val thresholds = map(permille.toSeq.flatMap { case (k, v) =>
      Seq(lit(k), lit(v))
    }: _*)
    val gate = conv(substring(
        md5(concat(col(idCol).cast("string"), lit("#" + seed))), 1, 8),
      16, 10).cast("long") % 1000
    df.withColumn("__thr", element_at(thresholds, col(strataCol)))
      .filter(col("__thr").isNotNull && gate < col("__thr"))
      .drop("__thr")
  }

  /** One-call training-corpus assembly — the end-to-end LLM-data
    * pipeline, composed from this library's individually oracle-tested
    * operators: deterministic stratified sampling (mix control) → exact
    * content dedup → token-window chunking of long documents →
    * token-budget packing (distributed prefix sum) → reproducible
    * shard write (one parquet directory per (shardKey, pack)).
    *
    * Chunk ids pack as `id·2²⁰ + chunk_idx` (a document may span up to
    * ~10⁶ chunks before ids collide — at the default budgets that is a
    * multi-billion-token single document); ids outside [0, 2⁴³) would
    * silently wrap the packed id, so they raise instead. The chunker's
    * exact `n_chunk_tokens` feeds packing via the precomputed-count
    * path, so chunk text is never re-tokenized, and the chunk set is
    * persisted across packTokens' bounds/cumsum/offsets branches (the
    * heavy dedup+chunk stages would otherwise re-execute per branch).
    * Rows with a NULL `idCol` are not supported here: the sampler's
    * hash gate and the dedup join key both require ids ([[packTokens]]
    * alone tolerates null ids). Every stage is scan-local or
    * equi-join/bucketed — nothing here degrades at corpus scale.
    */
  def writeTrainingMix(docs: DataFrame, outDir: String,
      rates: Map[String, Double], strataCol: String = "lang",
      maxTokens: Int = 2048, tokensPerShard: Int = 4096,
      idCol: String = "doc_id", textCol: String = "text",
      shardKeyCol: String = "source", seed: Long = 42L): Unit = {
    val sampled = hashStratifiedSample(docs, strataCol, rates, idCol, seed)
    val deduped = Dedup.exact(sampled, idCol, textCol)
    val maxSafeId = (Long.MaxValue >> 20) - 1
    val cid = when(col(idCol).between(0L, maxSafeId) &&
        col("chunk_idx").between(0L, 1048575L),
        col(idCol) * lit(1048576L) + col("chunk_idx"))
      .otherwise(raise_error(concat(
        lit(s"writeTrainingMix: ($idCol, chunk_idx) outside packable " +
          "range [0, 2^43) x [0, 2^20): "),
        col(idCol).cast("string"), lit("/"),
        col("chunk_idx").cast("string"))).cast("long"))
    val chunks = chunkDocuments(deduped, maxTokens, textCol)
      .drop("n_tokens") // doc-level count, stale for chunks — the rename
      .withColumnRenamed("n_chunk_tokens", "n_tokens") // must be unambiguous
      .withColumn("__cid", cid)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      packTokens(chunks, tokensPerShard, textCol = "chunk_text",
          idCol = "__cid", shardKeyCol = shardKeyCol)
        .repartition(col(shardKeyCol), col("pack_id"))
        // (doc_id, chunk_idx) orders identically to __cid (monotone
        // packing) — sort on the real columns and keep the synthetic id
        // out of the persisted schema
        .sortWithinPartitions(col(shardKeyCol), col("pack_id"),
          col(idCol), col("chunk_idx"))
        .drop("__cid")
        .write.mode(SaveMode.Overwrite)
        .partitionBy(shardKeyCol, "pack_id")
        .parquet(outDir)
    } finally { chunks.unpersist(); () }
  }

  /** Materialize a training corpus as token-budgeted shards via
    * [[packTokens]], written `partitionBy(shardKey, pack_id)` — every
    * (source, pack) directory is one reproducible training shard a
    * loader can consume independently. The pre-write repartition lines
    * tasks up with output directories (one shard = one task), and
    * sortWithinPartitions covers the dynamic-partition writer's required
    * (shardKey, pack_id) prefix PLUS idCol — the writer then inserts no
    * sort of its own, so in-file document order is pinned run-to-run.
    */
  def writeTrainingShards(docs: DataFrame, outDir: String,
      tokensPerShard: Int = 512, textCol: String = "text",
      idCol: String = "doc_id", shardKeyCol: String = "source"): Unit =
    packTokens(docs, tokensPerShard, textCol, idCol, shardKeyCol)
      .repartition(col(shardKeyCol), col("pack_id"))
      .sortWithinPartitions(col(shardKeyCol), col("pack_id"), col(idCol))
      .write.mode(SaveMode.Overwrite)
      .partitionBy(shardKeyCol, "pack_id")
      .parquet(outDir)
}
