package graft.operators

import graft.functions.TextFunctions
import graft.plans.FanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-hygiene and data-selection operators for LLM training-data
  * pipelines (SURVEY.md §2.10 family): line-level boilerplate dedup
  * (CCNet, Wenzek et al. 2020; RefinedWeb, Penedo et al. 2023), unigram
  * language-model scoring (the CCNet quality signal reduced to an
  * order-0 model), corpus n-gram statistics, and DSIR importance
  * weighting (Xie et al., NeurIPS 2023).
  *
  * Determinism contract (the CLAUDE.md oracle rules): every probability
  * is an exact IEEE quotient of integer-derived operands, every float
  * sum is rounded before it enters the output contract, and hashed
  * features use the md5-hex-prefix gate that DuckDB computes
  * bit-identically.
  *
  * Scale notes:
  *  - [[lineDedup]] aggregates on 16-byte md5 line digests — line text
  *    is carried only on the (doc, pos, line) stream it already lives
  *    on, and the duplicated-digest side of the join is output-sized
  *    (boilerplate lines only), typically broadcastable.
  *  - [[unigramLogProb]] reuses the per-(doc, term) tf table for the
  *    corpus frequency via a window over the term (the Relevance.df
  *    trick) — no second corpus pass; corpus totals are one tiny
  *    broadcast aggregate.
  *  - [[dsirWeights]] hashes terms into a fixed bucket space at the
  *    scan, so the bucket-statistics table is O(buckets) regardless of
  *    corpus size and joins back by broadcast.
  */
object Corpus {

  /** Line-level corpus dedup: drop every line whose exact text appears
    * in ≥ `minDocs` distinct documents (boilerplate: headers, footers,
    * cookie banners), and reconstruct each document from its surviving
    * lines in original order. Blank lines are never counted as
    * boilerplate and always survive. Returns
    * (idCol, n_lines, n_removed, clean_text) — one row per input
    * document, `clean_text` empty when every line was boilerplate.
    */
  def lineDedup(docs: DataFrame, minDocs: Int = 2, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(minDocs >= 2, "minDocs must be at least 2")
    val lines = docs
      .select(col(idCol), posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("__h", md5(col("line")))
    // Duplicated-line digest list: output-sized (only lines that repeat
    // across documents), joined back by its 16-byte key. countDistinct
    // ships (digest, id) — never the line text.
    val dup = lines.filter(trim(col("line")) =!= "")
      .groupBy(col("__h"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"), lit(true).as("__dup"))
    lines.join(dup, Seq("__h"), "left")
      .withColumn("__is_dup", coalesce(col("__dup"), lit(false)))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__is_dup"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws("\n",
          transform(
            filter(
              array_sort(collect_list(struct(col("pos"), col("__is_dup").as("d"), col("line")))),
              s => !s.getField("d")),
            s => s.getField("line"))).as("clean_text"))
  }

  /** Per-document negative log-likelihood under the corpus unigram
    * model — the CCNet perplexity quality signal with an order-0 LM
    * (lower = blander/more typical, higher = rare-token-heavy).
    * Documents with no words are absent (no tokens to score). Returns
    * (idCol, n_tokens, nll, avg_nll): `nll` = Σ −ln(cf/total) over
    * tokens rounded to 2 d.p.; `avg_nll` is the UNROUNDED quotient of
    * that rounded sum by the integer token count, so both engines
    * divide identical operands (CLAUDE.md division rule).
    */
  def unigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tf = FanOut.scan(docs)
      .select(col(idCol), explode(TextFunctions.words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // corpus frequency via a window over the tf table (rows are distinct
    // per (doc, term), so sum(tf) over term IS the corpus count) — no
    // second pass over the corpus
    val cf = tf.withColumn("cf", sum(col("tf")).over(Window.partitionBy("term")))
    val tot = tf.agg(sum(col("tf")).as("__total"))
    val nll = col("tf").cast("double") *
      -log(col("cf").cast("double") / col("__total").cast("double"))
    cf.join(broadcast(tot))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        round(sum(nll), 2).as("nll"))
      .withColumn("avg_nll", col("nll") / col("n_tokens"))
  }

  /** Corpus-level top-`k` word `n`-grams by occurrence count (tie →
    * lexicographically first n-gram). Partial aggregation absorbs
    * within-partition repeats before the shuffle; the top-k is a
    * TakeOrdered, no global sort.
    */
  def topNgrams(docs: DataFrame, n: Int, k: Int,
      textCol: String = "text"): DataFrame = {
    require(n >= 1 && k >= 1, "n and k must be positive")
    FanOut.scan(docs).select(explode(
        graft.functions.Sketches.wordShinglesText(col(textCol), n)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("ngram"))
      .limit(k)
  }

  /** Collocation mining: pointwise mutual information of adjacent word
    * pairs (Church & Hanks 1990), PMI = ln(p(xy) / (p(x)·p(y))) with
    * p(xy) = c_xy/B over true adjacent bigrams and p(x) = c_x/N over the
    * full token stream. High-PMI pairs are multiword expressions
    * ("new york") — the standard signal for tokenizer/vocab curation.
    *
    * Docs with fewer than two words are excluded from the bigram stream
    * BEFORE the fused shingle expression so its partial-shingle rule
    * cannot inject whole-short-docs as fake bigrams. All counts are
    * exact integers; the PMI argument is one fixed left-associated
    * double tree, and the 2-d.p. rounding (+0.0 to normalize −0.0)
    * absorbs cross-engine `ln` ulps — the t21/t24 recipe.
    *
    * Scale: two hash aggs (bigrams, unigrams) + one small join of the
    * minCount-pruned bigram table against the vocabulary — the pruned
    * side is broadcastable by construction (min-count tables are tiny
    * relative to the corpus).
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 5,
      textCol: String = "text"): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    val ws = graft.functions.TextFunctions.words(col(textCol))
    val d = FanOut.scan(docs)
    val bigrams = d.select(ws.as("__ws"), col(textCol))
      .filter(size(col("__ws")) >= 2)
      .select(explode(
        graft.functions.Sketches.wordShinglesText(col(textCol), 2)).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
    val uni = d.select(explode(ws).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bTot = broadcast(bigrams.agg(sum(col("cnt")).as("b")))
    val nTot = broadcast(uni.agg(sum(col("c")).as("n")))
    val pruned = bigrams.filter(col("cnt") >= minCount)
      .withColumn("__x", split(col("ngram"), " ")(0))
      .withColumn("__y", split(col("ngram"), " ")(1))
    pruned
      .join(uni.select(col("w").as("__x"), col("c").as("cx")), Seq("__x"))
      .join(uni.select(col("w").as("__y"), col("c").as("cy")), Seq("__y"))
      .join(bTot).join(nTot)
      .select(col("ngram"), col("cnt").cast("long").as("cnt"),
        (round(log(
          (col("cnt").cast("double") * col("n").cast("double") *
            col("n").cast("double")) /
          (col("b").cast("double") * col("cx").cast("double") *
            col("cy").cast("double"))), 2) + lit(0.0)).as("pmi"))
  }

  /** k-nearest-neighbor label vote over the embedding table: for every
    * vector with vec_id < `idCap`, the majority label among its `k`
    * nearest neighbors (cosine, rounded 6 d.p. before ranking; ties →
    * lower neighbor id; vote ties → lower label). The idCap-bounded
    * cross join is the CORRECTNESS oracle shape (the s2 pattern); the
    * scale path replaces the pair generator with the sign-LSH buckets of
    * [[Similarity.nearDupPairsBucketed]] and keeps this vote stage
    * unchanged. Returns (vec_id, label, pred_label, votes).
    */
  def knnClassify(embeddings: DataFrame, k: Int, idCap: Long): DataFrame = {
    require(k >= 1, "k must be positive")
    val e = embeddings.filter(col("vec_id") < idCap)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.asDouble(col("embedding")).as("v"))
    val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv"))
    val nb = e.select(col("vec_id").as("nid"), col("label").as("nlabel"), col("v").as("nv"))
    val rn = row_number().over(
      Window.partitionBy("qid").orderBy(col("sim").desc, col("nid")))
    val top = q.join(nb, col("qid") =!= col("nid"))
      .select(col("qid"), col("qlabel"), col("nid"), col("nlabel"),
        round(Similarity.cosine(col("qv"), col("nv")), 6).as("sim"))
      .withColumn("__rn", rn)
      .filter(col("__rn") <= k)
    val vr = row_number().over(
      Window.partitionBy("qid").orderBy(col("votes").desc, col("nlabel")))
    top.groupBy(col("qid"), col("qlabel"), col("nlabel"))
      .agg(count(lit(1)).cast("long").as("votes"))
      .withColumn("__vr", vr)
      .filter(col("__vr") === 1)
      .select(col("qid").as("vec_id"), col("qlabel").as("label"),
        col("nlabel").as("pred_label"), col("votes"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * query vector (vec_id < `queryCap`), the `k` most-similar vectors
    * carrying a DIFFERENT label (cosine rounded 6 d.p.; ties → lower
    * candidate id). The query set broadcasts against one corpus scan —
    * no shuffle proportional to the corpus; the per-query top-k is a
    * window over queryCap × k-bounded rows (two-stage
    * [[Scale.topKPerGroup]] is the drop-in for huge query sets).
    * Returns (qid, qlabel, neg_id, neg_label, sim).
    */
  def hardNegatives(embeddings: DataFrame, queryCap: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val all = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.asDouble(col("embedding")).as("v"))
    val q = broadcast(all.filter(col("vec_id") < queryCap)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"), col("v").as("qv")))
    val rn = row_number().over(
      Window.partitionBy("qid").orderBy(col("sim").desc, col("neg_id")))
    all.join(q, col("label") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"),
        round(Similarity.cosine(col("v"), col("qv")), 6).as("sim"))
      .withColumn("__rn", rn)
      .filter(col("__rn") <= k)
      .select(col("qid"), col("qlabel"), col("neg_id"), col("neg_label"), col("sim"))
  }

  /** [[hardNegatives]] with the BATCHED ANN candidate generator — the
    * production form of hard-negative mining at corpus scale: instead
    * of scoring every (query, corpus) pair exactly (one corpus scan
    * per mining run, O(|Q| · N) cosine evaluations), candidates come
    * from ONE [[Similarity.ivfAdcTopKBatch]] pass over the m-byte code
    * index (per-query `poolK` nearest by the ANN pipeline), labels
    * attach to the |Q| · poolK-bounded pool via a broadcast join, and
    * the per-query top-k different-label rows keep the
    * [[hardNegatives]] contract (6-d.p. cosine, ties to the lower
    * candidate id). Approximation is confined to the candidate stage:
    * with nProbe = nLists and rerank · poolK ≥ N the pool is the full
    * exact ranking and the output EQUALS [[hardNegatives]]
    * (spec-gated degeneracy); at production settings poolK simply
    * bounds how deep below the query's true neighborhood mining can
    * reach — the standard ANN-mining accuracy/cost dial (the same
    * two knobs as every other read of this index).
    * Returns (qid, qlabel, neg_id, neg_label, sim).
    */
  def hardNegativesAnn(embeddings: DataFrame, index: DataFrame,
      queryCap: Long, k: Int, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]], poolK: Int = 50,
      nProbe: Int = 4, rerank: Int = 4, roundTo: Int = -1): DataFrame = {
    require(k >= 1 && poolK >= k, "need poolK >= k >= 1")
    val labels = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"))
    val queries = embeddings.filter(col("vec_id") < queryCap)
    // roundTo >= 0 flows to the candidate generator only — the label
    // attach and the final different-label cut are exact regardless
    val pool = Similarity.ivfAdcTopKBatch(index, embeddings, queries,
      poolK, centroids, codebooks, nProbe, rerank, roundTo = roundTo)
    val qLab = broadcast(labels.filter(col("vec_id") < queryCap)
      .select(col("vec_id").as("qid"), col("label").as("qlabel")))
    // the pool is |Q| × poolK rows — BROADCAST IT against the
    // corpus-sized label relation (the point-lookup shape the indexed
    // rerank uses), never the reverse
    val scored = broadcast(pool.join(qLab, Seq("qid")))
      .join(labels.select(col("vec_id"), col("label").as("neg_label")),
        Seq("vec_id"))
      .filter(col("neg_label") =!= col("qlabel"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("neg_id"),
        col("neg_label"), col("sim"))
    Scale.topKPerGroup(scored, "qid",
        Seq(col("sim").desc, col("neg_id")), k, saltOn = col("neg_id"))
      .orderBy(col("qid"), col("sim").desc, col("neg_id"))
  }

  /** Retrieval-quality evaluation — the metrics loop every embedding
    * model ships through: for each query vector, rank the corpus by
    * cosine, take the top `k`, and score hits@k, recall@k
    * (denominator min(k, #relevant), the standard convention) and the
    * reciprocal rank of the first relevant hit, with "relevant" =
    * shares the query's label (the classed-corpus relevance proxy; a
    * qrels table would join in the same shape). Cosines round to
    * 6 d.p. BEFORE ranking (cross-engine ulp stability), ties break by
    * neighbor id; recall/rr are exact integer-derived quotients —
    * bit-identical unrounded.
    *
    * Scale: queries broadcast (bounded by `queryCap`), the corpus side
    * streams through the scan once; per-label counts are a tiny
    * broadcast. The ranking is a per-query top-k window over the
    * queryCap-bounded candidate set — production ANN would swap the
    * brute-force candidate generator, not the metric tail.
    */
  def retrievalEval(embeddings: DataFrame, queryCap: Long, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val all = embeddings
      .select(col("vec_id"), col("label").cast("long").as("label"),
        Similarity.asDouble(col("embedding")).as("v"))
    val labelCounts = all.groupBy(col("label").as("__lc_label"))
      .agg(count(lit(1)).as("__lc_n"))
    val q = broadcast(all.filter(col("vec_id") < queryCap)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv")))
    val rn = row_number().over(
      Window.partitionBy("qid").orderBy(col("sim").desc, col("nid")))
    val top = all.join(q, col("vec_id") =!= col("qid"))
      .select(col("qid"), col("qlabel"), col("vec_id").as("nid"),
        col("label").as("nlabel"),
        round(Similarity.cosine(col("v"), col("qv")), 6).as("sim"))
      .withColumn("rank", rn)
      .filter(col("rank") <= k)
    top.groupBy(col("qid"), col("qlabel"))
      .agg(
        sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L)).as("hits"),
        min(when(col("nlabel") === col("qlabel"), col("rank"))).as("__first"))
      .join(broadcast(labelCounts), col("qlabel") === col("__lc_label"))
      .select(col("qid").as("vec_id"), col("qlabel").as("label"),
        col("hits").cast("long").as("hits"),
        (col("hits").cast("double") /
          least(lit(k.toLong), col("__lc_n") - 1).cast("double")).as("recall_k"),
        coalesce(lit(1.0) / col("__first").cast("double"), lit(0.0)).as("rr"))
  }

  /** Quality-quantile curriculum plan (curriculum learning / quality
    * annealing: order training phases by data quality, e.g. Bengio et
    * al. ICML'09 easy-first scheduling, or the anneal-on-best-data
    * regime of modern pretraining): documents split into `phases`
    * quality quantiles (phase 1 = lowest), each phase reported with its
    * document count, token budget, quality bounds, and the cumulative
    * token count through that phase — the schedule table a training
    * loop consumes.
    *
    * Determinism & scale: the per-doc quality is the fused single-pass
    * [[graft.functions.TextStats]] score rounded to 6 d.p. (the t5
    * cross-engine form); the quantile assignment is
    * [[Scale.groupPercentRank]] (the sliced, no-global-sort rank — the
    * machinery that survives 100 TB, NOT a single-partition ntile) with
    * doc-id tiebreak, and `phase = min(phases−1, ⌊pct·phases⌋) + 1` is
    * the same double arithmetic on any engine. The cumulative sum runs
    * over `phases` rows — exact BIGINTs.
    */
  def qualityCurriculum(docs: DataFrame, phases: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(phases >= 1, "phases must be positive")
    val st = docs.select(col(idCol),
        graft.functions.TextStats.textStats(col(textCol)).as("st"))
      .select(col(idCol), round(col("st.quality"), 6).as("q"),
        col("st.token_est").as("tok"))
      .withColumn("__all", lit(1))
    val ranked = Scale.groupPercentRank(st, "__all", "q", idCol = idCol,
      outCol = "pct")
    val phase = (least(lit((phases - 1).toDouble),
      floor(col("pct") * phases)).cast("int") + 1).as("phase")
    ranked.select(phase, col("q"), col("tok"))
      .groupBy("phase")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens"),
        min("q").as("q_min"), max("q").as("q_max"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(
        Window.orderBy("phase").rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).cast("long"))
      .orderBy("phase")
  }

  /** Per-source corpus report (the Dolma/RefinedWeb-style dataset
    * datasheet row): document and token counts, quality mass from the
    * fused [[graft.functions.TextStats]] pass, low-quality counts and
    * predicted-language spread. One corpus scan + one agg on the source
    * key; quality enters as the 6 d.p.-rounded per-doc value (the
    * cross-engine-stable form), its sum rounded 2 d.p., and every
    * average is the identical-operand quotient (CLAUDE.md rule).
    * Returns (sourceCol, n_docs, n_tokens, quality_sum,
    * low_quality_docs, n_langs, avg_quality, avg_tokens).
    */
  def sourceReport(docs: DataFrame, sourceCol: String = "source",
      textCol: String = "text"): DataFrame =
    docs.select(col(sourceCol),
        graft.functions.TextStats.textStats(col(textCol)).as("st"))
      .select(col(sourceCol), col("st.n_words").as("n_words"),
        round(col("st.quality"), 6).as("q"), col("st.lang_pred").as("lang_pred"))
      .groupBy(col(sourceCol))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_words")).cast("long").as("n_tokens"),
        round(sum(col("q")), 2).as("quality_sum"),
        sum(when(col("q") < 0.5, 1L).otherwise(0L)).as("low_quality_docs"),
        countDistinct(col("lang_pred")).cast("long").as("n_langs"))
      .withColumn("avg_quality", col("quality_sum") / col("n_docs"))
      .withColumn("avg_tokens", col("n_tokens").cast("double") / col("n_docs"))

  /** Per-source unigram KL divergence from the whole-corpus token
    * distribution — the drift/mix diagnostic for training-data
    * curation: a source whose KL(source ‖ corpus) jumps between ingests
    * changed its content mix (domain shift, contamination, a crawler
    * gone wrong), and sources rank by how far their vocabulary departs
    * from the blend they feed. KL(P_s ‖ Q) = Σ_t p(t|s) · ln(p(t|s) /
    * q(t)) with p, q exact IEEE quotients of integer term counts.
    *
    * Shuffle shape: one (source, term) hash agg over the token stream,
    * then a window over `term` for the corpus count (the
    * [[unigramLogProb]] trick — the tf table is (sources × vocab)-sized,
    * never corpus-sized) and a window over `source` for the source
    * totals; the corpus total broadcasts. Determinism: every factor in
    * the per-term contribution is CAST to double in one fixed tree, and
    * the cross-row sum rounds to 4 d.p. (+0.0 normalizes a −0.0 round)
    * — KL magnitudes are O(1), ulp noise is ~1e−12.
    */
  def sourceKl(docs: DataFrame, sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val tf = FanOut.scan(docs)
      .select(col(sourceCol).as("source"),
        explode(TextFunctions.words(col(textCol))).as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c_st"))
    val withCounts = tf
      .withColumn("c_t", sum(col("c_st")).over(Window.partitionBy("term")))
      .withColumn("c_s", sum(col("c_st")).over(Window.partitionBy("source")))
    val tot = tf.agg(sum(col("c_st")).as("c_tot"))
    val contrib = col("c_st").cast("double") / col("c_s").cast("double") *
      log(col("c_st").cast("double") * col("c_tot").cast("double") /
        (col("c_s").cast("double") * col("c_t").cast("double")))
    withCounts.join(broadcast(tot))
      .groupBy(col("source"))
      .agg(max(col("c_s")).cast("long").as("n_tokens"),
        count(lit(1)).cast("long").as("n_terms"),
        (round(sum(contrib), 4) + lit(0.0)).as("kl"))
  }

  /** Cross-source n-gram contamination matrix: for every source pair,
    * how many distinct word `n`-grams they share, with the overlap
    * coefficient |A∩B| / min(|A|,|B|) (the containment-style measure —
    * a high value flags a source substantially contained in another).
    * The join key is the shingle itself here (oracle contract); the
    * production variant ships 8-byte shingle hashes (the d9 lesson —
    * collisions only inflate candidates, and a count-only diagnostic
    * tolerates the ~2⁻³² inflation). Shuffles are equi joins on the
    * shingle plus an agg on the (src, src) pair key — no quadratic
    * stage; per-shingle fan-out is bounded by sources².
    */
  def shingleOverlapMatrix(docs: DataFrame, n: Int = 3,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    // One shuffle on the shingle collects its source set (partial
    // ObjectHashAggregate merges within-partition repeats first); the
    // pair expansion is in-row over the sorted set (≤ sources² structs
    // per shingle — bounded by the source-count, not the corpus), so a
    // distinct + string-keyed self-join (which would ship every shingle
    // through TWO exchanges and a join) never materializes.
    val srcSets = FanOut.scan(docs).select(col(sourceCol).as("src"),
        explode(graft.functions.Sketches.wordShinglesText(col(textCol), n)).as("g"))
      .groupBy(col("g"))
      .agg(array_sort(collect_set(col("src"))).as("ss"))
    val pairs = flatten(transform(sequence(lit(0), size(col("ss")) - 2),
      i => transform(sequence(i + 1, size(col("ss")) - 1),
        j => struct(element_at(col("ss"), i + 1).as("src_a"),
          element_at(col("ss"), j + 1).as("src_b")))))
    val shared = srcSets.filter(size(col("ss")) >= 2)
      .select(explode(pairs).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).cast("long").as("shared_ngrams"))
    val sizes = srcSets.select(explode(col("ss")).as("src"))
      .groupBy(col("src")).agg(count(lit(1)).as("sz"))
    shared
      .join(broadcast(sizes.select(col("src").as("src_a"), col("sz").as("n_a"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("sz").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_ngrams"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        (col("shared_ngrams").cast("double") / least(col("n_a"), col("n_b"))).as("overlap_coef"))
  }

  /** DSIR importance log-weight (Xie et al., NeurIPS 2023 §3): score
    * every document by Σ_tokens ln(p_target(b)/p_raw(b)) where b is the
    * token's hashed feature bucket, p_target is the add-one-smoothed
    * bucket distribution of the `targetSource` slice and p_raw of the
    * rest. High weight = raw documents that look like the target domain
    * (the DSIR resampling criterion). Buckets use the md5-hex-prefix
    * hash (engine-portable); probabilities are exact IEEE quotients of
    * integer counts; the per-document sum is rounded to 2 d.p. Returns
    * (idCol, source, n_tokens, dsir_logw); token-less documents are
    * absent.
    */
  /** Per-group winsorization: clamp `valueCol` to its group's
    * [pLo, pHi] percentile band — the standard outlier treatment before
    * per-source statistics (a handful of 10 MB documents otherwise
    * dominate a source's mean length). `exact = true` uses ANSI
    * percentile_cont interpolation (oracle-parity, but the per-group
    * value array is held in memory — probe scale only); at corpus scale
    * pass `exact = false` for approx_percentile (t-digest sketch:
    * mergeable, bounded memory, map-side combinable), same plan
    * otherwise. The percentile table is O(groups) and broadcasts; the
    * clamp itself is scan-local.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95, outCol: String = "winsorized",
      exact: Boolean = true): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val (loAgg, hiAgg) =
      if (exact)
        (expr(s"percentile($valueCol, $pLo)"),
          expr(s"percentile($valueCol, $pHi)"))
      else
        (approx_percentile(col(valueCol), lit(pLo), lit(10000)).cast("double"),
          approx_percentile(col(valueCol), lit(pHi), lit(10000)).cast("double"))
    val qs = df.groupBy(col(groupCol).as("__w_k"))
      .agg(loAgg.as("__w_lo"), hiAgg.as("__w_hi"))
    df.join(broadcast(qs), col(groupCol) <=> col("__w_k"))
      .withColumn(outCol,
        least(greatest(col(valueCol).cast("double"), col("__w_lo")),
          col("__w_hi")))
      .drop("__w_k", "__w_lo", "__w_hi")
  }

  /** Multinomial naive-Bayes corpus-quality classifier (the GPT-3 §A /
    * LLaMA-style setup: positive class = a curated target corpus,
    * negative = everything else), trained and applied in one relational
    * program:
    *  1. deterministic train/held-out split via the md5 permille gate on
    *     the doc id (leak-free, engine-portable, scan-local — the same
    *     gate as [[Scale.assignSplit]]);
    *  2. fit on the train split: per-term positive/negative token-
    *     instance counts with add-one smoothing over the retained
    *     vocabulary (`minDf` prunes the long tail — at corpus scale this
    *     bounds the weight table, and a hashed-feature fallback is
    *     [[dsirWeights]]);
    *  3. score the held-out split: per-token log-likelihood-ratio sum,
    *     unseen terms smoothed to the add-one floor
    *     ln(ntot+V) − ln(ptot+V).
    *
    * One wide shuffle total: token instances partial-aggregate to one
    * row per (doc, partition) before the doc-key exchange; the weight
    * table joins by broadcast when it fits (AQE decides), and text never
    * shuffles. Returns (idCol, sourceCol, n_tokens, nb_logodds,
    * pred_target) for held-out docs with ≥1 token — the actual source
    * rides along so precision/recall of the classifier is one
    * aggregation away.
    */
  def nbClassifierScore(docs: DataFrame, targetSource: String,
      trainPermille: Int = 700, minDf: Int = 1, seed: Long = 42L,
      idCol: String = "doc_id", sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(trainPermille > 0 && trainPermille < 1000,
      "trainPermille must leave both splits non-empty")
    val gate = conv(substring(
        md5(concat(col(idCol).cast("string"), lit("#" + seed))), 1, 8),
      16, 10).cast("long") % 1000
    val toks = FanOut.scan(docs)
      .select(col(idCol), col(sourceCol),
        explode(TextFunctions.words(col(textCol))).as("term"))
      .withColumn("__train", gate < trainPermille)
    val vocab = toks.filter(col("__train"))
      .groupBy(col("term"))
      .agg(
        sum(when(col(sourceCol) === targetSource, 1L).otherwise(0L)).as("pcnt"),
        sum(when(col(sourceCol) =!= targetSource, 1L).otherwise(0L)).as("ncnt"))
      .filter(col("pcnt") + col("ncnt") >= minDf)
    val tot = vocab.agg(sum(col("pcnt")).as("ptot"), sum(col("ncnt")).as("ntot"),
      count(lit(1)).as("vsize"))
    // per-instance log-likelihood ratio; null stats (term unseen in
    // train or pruned) coalesce to the add-one floor
    val seenW =
      log((col("pcnt") + lit(1)).cast("double") /
          (col("ptot") + col("vsize")).cast("double")) -
      log((col("ncnt") + lit(1)).cast("double") /
          (col("ntot") + col("vsize")).cast("double"))
    val floorW =
      log((col("ntot") + col("vsize")).cast("double")) -
      log((col("ptot") + col("vsize")).cast("double"))
    val score = round(sum(coalesce(seenW, floorW)), 2) + lit(0.0)
    toks.filter(!col("__train"))
      .join(vocab, Seq("term"), "left")
      .join(broadcast(tot))
      .groupBy(col(idCol), col(sourceCol))
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        score.as("nb_logodds"),
        (score > 0).as("pred_target"))
  }

  def dsirWeights(docs: DataFrame, targetSource: String, buckets: Int = 64,
      idCol: String = "doc_id", sourceCol: String = "source",
      textCol: String = "text"): DataFrame = {
    require(buckets >= 2, "buckets must be at least 2")
    val bucket = conv(substring(md5(col("term")), 1, 8), 16, 10)
      .cast("long") % buckets
    val tf = FanOut.scan(docs)
      .select(col(idCol), col(sourceCol),
        explode(TextFunctions.words(col(textCol))).as("term"))
      .withColumn("b", bucket)
      .groupBy(col(idCol), col(sourceCol), col("b"))
      .agg(count(lit(1)).as("tf"))
    // bucket statistics derived from the tf table (not a second corpus
    // pass): O(buckets) rows, broadcast back
    val bstats = tf.groupBy(col("b"))
      .agg(sum(when(col(sourceCol) === targetSource, col("tf")).otherwise(0L)).as("tcnt"),
        sum(when(col(sourceCol) =!= targetSource, col("tf")).otherwise(0L)).as("rcnt"))
    val tot = bstats.agg(sum(col("tcnt")).as("ttot"), sum(col("rcnt")).as("rtot"))
    val logRatio =
      log((col("tcnt") + lit(1)).cast("double") / (col("ttot") + lit(buckets)).cast("double")) -
      log((col("rcnt") + lit(1)).cast("double") / (col("rtot") + lit(buckets)).cast("double"))
    tf.join(broadcast(bstats), Seq("b"))
      .join(broadcast(tot))
      .groupBy(col(idCol), col(sourceCol))
      .agg(sum(col("tf")).cast("long").as("n_tokens"),
        // + 0.0 normalizes IEEE −0.0 (a tiny negative sum rounded to
        // zero) so both engines emit +0.0
        (round(sum(col("tf").cast("double") * logRatio), 2) + lit(0.0)).as("dsir_logw"))
  }

  /** BPE merge training (Sennrich et al. 2016): learn the top merge per
    * round over the corpus vocabulary — the tokenizer-training primitive
    * run distributed. Per round: (1) adjacent-symbol pair counts,
    * frequency-weighted by word count, from an in-row transform over
    * each word's symbol array (one hash agg — the pair table is
    * O(vocab·avg_len), never materialized per document); (2) the argmax
    * pair under the deterministic tie-break (max count, then
    * lexicographically smallest pair) — a bounded single-row collect,
    * the IVF/MMR justification: the merge decision is inherently
    * sequential and feeds the next round's lambda as LITERALS, so merge
    * application stays a scan-local in-row fold (greedy left-to-right:
    * an already-merged symbol never re-merges with the next occurrence,
    * the standard BPE application rule); (3) `localCheckpoint` per round
    * with the previous round's blocks released ([[Iterate]], the d7/g1
    * iterative discipline — the vocabulary table is referenced twice per
    * round).
    *
    * Works on the DEDUPED (word, count) vocabulary, so per-round cost is
    * vocabulary-sized regardless of corpus size; the vocabulary itself
    * is one exact-dedup agg over the corpus — the 100 TB path.
    */
  def bpeMerges(docs: DataFrame, rounds: Int = 3,
      textCol: String = "text", batchK: Int = 1): DataFrame =
      Iterate.scope { sc =>
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(sc, docs, rounds, textCol, batchK)._1
      .toDF("merge_round", "left_sym", "right_sym", "pair_cnt")
  }

  /** The ENCODE side of BPE: apply the `rounds` learned merges to the
    * corpus vocabulary and return the top-`k` resulting symbols by
    * frequency-weighted count — the tokenizer round trip (train on the
    * corpus, tokenize the corpus, read off the emergent vocabulary).
    * Symbol counting explodes the merged symbol arrays weighted by word
    * count — still vocabulary-sized, corpus-size independent — into one
    * map-combinable hash agg + TakeOrdered.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = 3, k: Int = 20,
      textCol: String = "text", batchK: Int = 1): DataFrame =
      Iterate.scope { sc =>
    val (_, vocab) = bpeCore(sc, docs, rounds, textCol, batchK)
    // vocab's checkpoint backs the returned plan, so the scope keeps it
    // (a released localCheckpoint cannot recompute); the caller frees it
    // with Iterate.release. Bounded: deduped vocabulary.
    vocab.select(explode(col("syms")).as("sym"), col("cnt"))
      .groupBy(col("sym")).agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("sym"))
      .limit(k)
  }

  /** Shared BPE loop: returns (merge table, final merged vocabulary).
    * See [[bpeMerges]] for the per-round shape and determinism rules.
    *
    * `batchK` > 1 batches up to k merges per SCAN round — the standard
    * fast-trainer move that cuts driver round trips from `rounds` to
    * ≈ `rounds / k` at vocabulary scale. Selection per scan: order
    * candidates by (pair_cnt DESC, a, b), then greedily keep pairs that
    * are SYNTACTICALLY INDEPENDENT of everything already selected —
    * {a, b, a+b} disjoint from all previously used symbols AND all
    * previously created products (the product check matters: rules
    * ("a","b") and ("ab","c") interact through the created "ab" even
    * though their symbol sets are disjoint). Independent rules never
    * compete for a position, so one combined left-to-right fold equals
    * applying them sequentially — exactly greedy WHEN each batched pair
    * would still top the count table at its turn (true whenever merges
    * touch disjoint regions; pairs created by an earlier batch member
    * can in principle overtake a later member, which a recount would
    * catch — that is the k-vs-exactness dial, and `batchK = 1` IS exact
    * greedy, byte-identical to the unbatched trainer).
    */
  private def bpeCore(sc: Iterate.Scope, docs: DataFrame, rounds: Int,
      textCol: String, batchK: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    require(rounds >= 1, "rounds must be at least 1")
    require(batchK >= 1, "batchK must be at least 1")
    val vocab0 = sc.checkpoint(FanOut.scan(docs)
      .select(explode(split(
        regexp_replace(lower(col(textCol)), "^\\s+|\\s+$", ""),
        "\\s+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("cnt")))
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    // every scan round selects at least one merge, so `rounds` bounds the
    // scan rounds and the loop stops once the merge table is full
    val (vocab, _) = sc.rounds("bpe", vocab0, rounds,
        until = _ => merges.length >= rounds) { (cur, _) =>
      val want = math.min(batchK, rounds - merges.length)
      val pairs = cur.filter(size(col("syms")) > 1)
        .select(col("cnt"), explode(expr(
          "transform(slice(syms, 1, size(syms) - 1), " +
            "(x, i) -> struct(x AS a, element_at(syms, i + 2) AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pair_cnt"))
      // over-fetch: the independence filter can reject in-prefix rows;
      // the top-1 always survives, so progress is guaranteed
      val top = pairs.orderBy(col("pair_cnt").desc, col("a"), col("b"))
        .limit(want * 8).collect()
      require(top.nonEmpty,
        s"bpeCore: no adjacent pairs left after ${merges.length} merges")
      val blocked = scala.collection.mutable.Set[String]()
      val sel = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
      val it = top.iterator
      while (sel.length < want && it.hasNext) {
        val r = it.next()
        val (a, b) = (r.getString(0), r.getString(1))
        if (!blocked(a) && !blocked(b) && !blocked(a + b)) {
          sel += ((a, b, r.getLong(2)))
          blocked ++= Seq(a, b, a + b)
        }
      }
      sel.foreach { case (a, b, c) => merges += ((merges.length + 1, a, b, c)) }
      cur.select(aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) => sel.foldRight(concat(acc, array(x)): Column) {
            case ((a, b, _), els) =>
              when(size(acc) > 0 &&
                  element_at(acc, -1) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(els)
          }).as("syms"),
          col("cnt"))
    }
    (merges.toSeq, vocab)
  }

  /** Per-document bigram language-model score — [[unigramLogProb]]'s
    * order-1 twin (the CCNet-style perplexity signal with first-order
    * context): every bigram occurrence contributes −ln P(w₂|w₁) with
    * P(w₂|w₁) = C(w₁w₂)/C(w₁·), both corpus counts riding the per-doc
    * bigram table as WINDOW sums (no second corpus pass — the t21
    * trick, partitioned by bigram resp. first word). Unsmoothed is
    * correct here: every scored bigram is in the corpus by construction
    * (the doc is part of it). Float contract: nll is a rounded-2 sum
    * (absorbs summation-order ulps), avg_nll the exact-operand quotient
    * of the ROUNDED sum over the exact count — the t21 discipline.
    */
  def bigramLogProb(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ws = graft.functions.TextFunctions.words(col(textCol))
    val dtf = FanOut.scan(docs)
      .select(col(idCol), ws.as("__ws"), col(textCol))
      .filter(size(col("__ws")) >= 2)
      .select(col(idCol), explode(
        graft.functions.Sketches.wordShinglesText(col(textCol), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("tf"))
    val scored = dtf
      .withColumn("__w1", split(col("bg"), " ")(0))
      .withColumn("c12", sum(col("tf")).over(Window.partitionBy(col("bg"))))
      .withColumn("c1", sum(col("tf")).over(Window.partitionBy(col("__w1"))))
    scored
      .groupBy(col(idCol))
      .agg(sum(col("tf")).cast("long").as("n_bigrams"),
        round(sum(col("tf").cast("double") *
          -log(col("c12").cast("double") / col("c1").cast("double"))), 2)
          .as("nll"))
      .withColumn("avg_nll", col("nll") / col("n_bigrams"))
  }

  /** Dataset-version diff: classify every document id across two corpus
    * snapshots as `added` (in `b` only), `removed` (in `a` only),
    * `changed` (in both, text differs) or `unchanged`. The audit
    * primitive for dataset versioning — "what moved between crawl N and
    * crawl N+1" — and the input to incremental downstream refresh (only
    * `added`/`changed` ids need re-scoring, re-embedding, re-chunking).
    *
    * Scale notes: each side is projected to (id, 16-byte md5 digest) at
    * the scan before the full-outer join, so the shuffle carries 24 B/row
    * regardless of document size; with both snapshots bucketed on the id
    * the join is exchange-free. Returns (idCol, status); per-status
    * counts are one tiny follow-on agg.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val da = a.select(col(idCol).as("__id_a"), md5(col(textCol)).as("__h_a"))
    val db = b.select(col(idCol).as("__id_b"), md5(col(textCol)).as("__h_b"))
    da.join(db, col("__id_a") === col("__id_b"), "full_outer")
      .select(
        coalesce(col("__id_a"), col("__id_b")).as(idCol),
        when(col("__id_a").isNull, "added")
          .when(col("__id_b").isNull, "removed")
          // null-safe: a null text on both sides is unchanged, not changed
          .when(col("__h_a") <=> col("__h_b"), "unchanged")
          .otherwise("changed").as("status"))
  }
}
