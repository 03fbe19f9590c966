package graft.operators

import graft.functions.TextFunctions
import graft.plans.FanOut
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relevance scoring for training-data curation (SURVEY.md §2.10
  * family): TF-IDF distinctive terms and BM25 query relevance. Both are
  * standard published IR statistics (Sparck Jones 1972; Robertson et al.,
  * TREC-3 Okapi BM25) computed as declarative Spark plans.
  *
  * Scale notes:
  *  - Term frequencies come from explode → partial/final hash agg on
  *    (doc, term) — map-side combine absorbs within-document repeats, so
  *    the shuffle carries one row per distinct (doc, term).
  *  - Document frequency reuses the tf table through a window over the
  *    term (one shuffle on term; tf rows are distinct per (doc, term), so
  *    `count(*) over (partition by term)` IS the document frequency) —
  *    no separate df aggregate + re-join pass over the corpus.
  *  - Corpus-level scalars (N, avg doc length) are one tiny aggregate
  *    broadcast into the scoring projection — never a driver collect.
  *  - Scores are emitted as UNROUNDED quotients of integer-derived
  *    operands (the CLAUDE.md determinism rule): idf is the RATIO form
  *    (N/df; BM25's (N−df+0.5)/(df+0.5)), not the log form, so a DuckDB
  *    oracle computing the identical expression tree is bit-identical.
  *    Log-idf differs only by a monotone transform — rankings are
  *    unchanged — and `logScores = true` opts into it where cross-engine
  *    hashing is not required.
  */
object Relevance {

  /** One row per distinct (doc, term): `tf` occurrences of `term` in the
    * document's normalized word stream ([[TextFunctions.words]]).
    */
  def termFrequencies(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    FanOut.scan(docs)
      .select(col(idCol), explode(TextFunctions.words(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-`k` most distinctive terms per document by tf·idf with
    * idf = N/df (ratio form — see the object note; pass
    * `logScores = true` for ln(N/df) when cross-engine bit-equality is
    * not needed). Ties break to the alphabetically first term. Returns
    * (idCol, term, tf, df, score), `k` rows per non-empty document.
    */
  def tfIdfTopTerms(docs: DataFrame, k: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", logScores: Boolean = false): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = termFrequencies(docs, idCol, textCol)
    val df = tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val n = docs.agg(count(lit(1)).as("__n"))
    val rawScore = (col("tf") * col("__n")).cast("double") / col("df")
    val score = if (logScores) col("tf") * log(col("__n").cast("double") / col("df"))
                else rawScore
    val rn = Window.partitionBy(idCol)
      .orderBy(col("score").desc, col("term").asc)
    df.join(broadcast(n))
      .withColumn("score", score)
      .withColumn("__rn", row_number().over(rn))
      .filter(col("__rn") <= k)
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("score"))
  }

  /** Per-(document, query-term) Okapi BM25 contribution:
    * idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), with the
    * ratio idf (N − df + 0.5)/(df + 0.5). One output row per query term
    * the document contains — per-term rows rather than a summed total,
    * so no float-summation order enters the contract (a caller wanting
    * the total sums a handful of rows; rankings per term are complete).
    *
    * The query-term `isin` filter evaluates in the same stage as the
    * explode (scan-local, before any exchange), so only query-term
    * tokens ever reach the tf shuffle — at corpus scale the shuffled
    * volume is proportional to query hits, not corpus size.
    */
  def bm25PerTerm(docs: DataFrame, queryTerms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // doc length on the FULL word stream (BM25's dl), before the filter
    val withDl = FanOut.scan(docs).select(col(idCol),
      TextFunctions.words(col(textCol)).as("__ws"))
      .select(col(idCol), size(col("__ws")).cast("long").as("dl"),
        explode_outer(col("__ws")).as("term"))
    val tf = withDl
      .filter(col("term").isin(terms.map(x => x: Any): _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    // N counts ALL docs; avgdl averages ALL doc lengths (docs without any
    // query term still shape the stats). sum/count emitted separately so
    // avgdl is the one bit-identical quotient (no engine AVG involved).
    val stats = FanOut.scan(docs)
      .select(TextFunctions.words(col(textCol)).as("__ws"))
      .agg(count(lit(1)).as("__n"),
        sum(size(col("__ws")).cast("long")).as("__sumdl"))
    // parenthesization mirrored EXACTLY by the oracle SQL: every
    // intermediate is a deterministic IEEE op over identical inputs
    val avgdl = col("__sumdl").cast("double") / col("__n")
    val idf = (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val denom = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl))
    val score = idf * ((col("tf") * lit(k1 + 1.0)).cast("double") / denom)
    df.join(broadcast(stats))
      .withColumn("score", score)
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("dl"), col("score"))
  }

  /** Hybrid lexical + vector retrieval via reciprocal-rank fusion
    * (Cormack, Clarke & Büttcher, SIGIR'09): fuse the BM25 leg and the
    * cosine leg as Σ 1/(kRrf + rank), ranks taken within each leg's
    * top-`m` — the standard serving-side composition of the t16 and s1
    * machinery (a leg a document misses contributes 0). Candidates
    * exclude the query's own id; documents pair with vectors by id.
    *
    * Determinism (the oracle contract):
    *  - per-term BM25 scores are bit-identical cross-engine (t16); the
    *    per-document TOTAL is a LEFT FOLD over the term-sorted score
    *    list (`aggregate(sort_array(collect_list(...)))` here,
    *    `list_reduce(list(... ORDER BY term))` in DuckDB) — identical
    *    operand order ⇒ bit-identical IEEE sums, never an unordered
    *    engine SUM — so the lexical leg ranks the UNROUNDED total
    *    (round() of a quotient on a decimal half diverges HALF_UP vs
    *    HALF_EVEN across engines);
    *  - the cosine leg ranks its 6-d.p.-rounded score (engine cosines
    *    are not bit-identical; rounding collapses the ulp noise — the
    *    s1 discipline), id as the total tiebreak in both legs; the
    *    fused score is the same two-term expression on both engines.
    *
    * Scale shape: each leg collapses to TakeOrderedAndProject (orderBy +
    * limit — distributed partial top-m, no global sort, no
    * corpus-sized window); the rank window then runs over ≤ m rows, so
    * its single-partition stage is bounded by the knob, not the corpus.
    * The BM25 leg's shuffle is query-hit-proportional (bm25PerTerm's
    * scan-local isin) and the cosine leg is one scan with a broadcast
    * query vector — at serving scale the legs would read the inverted
    * index (t20) and the ANN index (s23) instead of scanning; the
    * fusion stage is unchanged either way.
    */
  def hybridRrf(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVecId: Long, k: Int = 20, m: Int = 100,
      kRrf: Int = 60, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0 && m > 0 && kRrf > 0, "k, m, kRrf must be positive")
    val per = bm25PerTerm(docs.filter(col(idCol) =!= queryVecId), queryTerms,
      k1, b, idCol, textCol)
    val lexTot = per.groupBy(idCol)
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("score")))),
        lit(0.0), (acc, x) => acc + x.getField("score")).as("lex_score"))
    // rank by the UNROUNDED total: it is bit-identical cross-engine by
    // the left-fold construction, whereas round() of a quotient landing
    // on a decimal half diverges HALF_UP vs HALF_EVEN (CLAUDE.md) — the
    // cosine leg below keeps the 6-d.p. round because engine cosines
    // are NOT bit-identical (the s1 discipline: rounding collapses ulp
    // noise, tiebreak on the id)
    val lexTop = lexTot
      .orderBy(col("lex_score").desc, col(idCol)).limit(m)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("lex_score").desc, col(idCol))))
      .select(col(idCol), col("lex_rank"))
    // Eager by design: the cardinality check below must fail at
    // CONSTRUCTION time (an absent vector would silently degrade to a
    // pure-BM25 ranking; a duplicate would double every candidate), so
    // one bounded Spark job runs here — and its collected row is then
    // reused as the query-vector LITERAL, so the fail-fast guarantee
    // costs exactly that one job and the semantic leg needs no join at
    // all (the one-row broadcast relation it replaced cost a second
    // filter job plus a BroadcastExchange).
    val qRows = embeddings.filter(col("vec_id") === queryVecId).limit(2)
      .select(Similarity.asDouble(col("embedding")).as("qv"))
      .collect()
    require(qRows.length == 1,
      s"queryVecId $queryVecId matched ${qRows.length} embedding rows — " +
        "an absent vector would silently degrade to a pure-BM25 ranking " +
        "and a duplicate would double every candidate")
    val qvSeq = qRows.head.getSeq[Double](0)
    require(qvSeq != null,
      s"queryVecId $queryVecId has a NULL embedding — the semantic leg " +
        "would rank nothing and the fusion would silently degrade to " +
        "pure BM25")
    val qv = typedLit(qvSeq.toIndexedSeq)
    val semTop = embeddings.filter(col("vec_id") =!= queryVecId)
      .select(col("vec_id").as(idCol),
        round(Similarity.cosine(Similarity.asDouble(col("embedding")),
          qv), 6).as("sim"))
      .orderBy(col("sim").desc, col(idCol)).limit(m)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("sim").desc, col(idCol))))
      .select(col(idCol), col("sem_rank"))
    lexTop.join(semTop, Seq(idCol), "full_outer")
      .select(col(idCol),
        (coalesce(lit(1.0) / (lit(kRrf) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("sem_rank")), lit(0.0)))
          .as("rrf"),
        coalesce(col("lex_rank"), lit(0)).cast("long").as("lex_rank"),
        coalesce(col("sem_rank"), lit(0)).cast("long").as("sem_rank"))
      .select(col(idCol), col("lex_rank"), col("sem_rank"), col("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
  }

  /** Inverted index: one row per term with document frequency, collection
    * frequency, and the doc_id-ordered posting list serialized as
    * `"id:tf,id:tf,…"` — the retrieval-side artifact BM25/TF-IDF serve
    * from (and the string form is portable across engines and sinks).
    *
    * Scale: one (doc, term) hash agg (map-side combine absorbs
    * within-doc repeats) then one term-key agg. Posting lists are
    * per-term rows — write the output `partitionBy`/bucketed on a term
    * hash and lookups prune to one partition. `minDf` bounds the
    * vocabulary tail (hapax terms are most of a web corpus's distinct
    * tokens but serve no retrieval purpose); a head-term posting list
    * can reach corpus size — production layouts split postings into
    * fixed-size blocks per term (block id = doc_id range), which keeps
    * rows bounded without changing this plan's shape.
    */
  def invertedIndex(docs: DataFrame, minDf: Long = 1, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    termFrequencies(docs, idCol, textCol)
      .groupBy("term")
      .agg(count(lit(1)).cast("long").as("df"),
        sum("tf").cast("long").as("cf"),
        concat_ws(",",
          transform(array_sort(collect_list(struct(col(idCol), col("tf")))),
            e => concat_ws(":", e.getField(idCol), e.getField("tf"))))
          .as("postings"))
      .filter(col("df") >= minDf)

  /** Batched retrieval-quality evaluation: exact cosine top-`k` for every
    * query vector selected by `queryPred`, judged against label
    * relevance (a candidate is relevant iff it shares the query's
    * `label` — the standard proxy-qrel construction when no human
    * judgments exist), emitting per query: relevant-pool size,
    * hits@k, precision@k, recall@k, MRR@k, and nEDCG@k.
    *
    * The reciprocal-rank column is `mrr_k` — MRR TRUNCATED AT k, the
    * cutoff convention (a first relevant hit at rank k+1 scores 0),
    * NOT full-ranking MRR from standard eval tools; the name carries
    * the cutoff so the two are never conflated downstream.
    *
    * nEDCG is nDCG with an EXPONENTIAL (dyadic) rank discount
    * `2^-(rank-1)` in place of the textbook `1/log2(rank+1)`
    * (Järvelin & Kekäläinen 2002 leave the discount pluggable): every
    * weight is an exact power of two, so the DCG sum of ≤ k terms is
    * exactly representable in a double REGARDLESS of summation order,
    * the ideal DCG has the closed form `2 − 2^-(min(n_rel,k)−1)`, and
    * the normalized quotient is bit-identical on any IEEE engine — the
    * log2 discount is one libm ulp away from portable (CLAUDE.md float
    * discipline). The other metrics are single divisions of small
    * integers (exact on every engine). Cosines round to 6 d.p. with id
    * tiebreak before ranking (the s1 discipline).
    *
    * Scale shape: the query batch is a broadcast relation into one
    * corpus scan (the s23 batched-probe shape — Q·N scored rows, no
    * self-shuffle), and the `rank <= k` filter on the per-query
    * row_number collapses to a map-side group limit before the exchange
    * (Spark's WindowGroupLimit), so the shuffle carries Q·k rows, not
    * Q·N. Relevant-pool sizes come from one label-count aggregate
    * joined back to the query batch — never a driver loop.
    */
  def retrievalEval(embeddings: DataFrame, queryPred: Column, k: Int = 10)
      : DataFrame = {
    require(k > 0 && k <= 62, "k must be in [1, 62] (dyadic weights shift a Long)")
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"),
      col("label").cast("long").as("lab"))
    val q = e.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("lab").as("qlab"))
    val labCnt = e.groupBy(col("lab")).agg(count(lit(1)).as("lab_cnt"))
    // n_rel excludes the query itself (it always shares its own label)
    val qn = q.join(labCnt, col("qlab") === col("lab"))
      .select(col("qid"), col("qlab"), col("qv"),
        (col("lab_cnt") - 1).cast("long").as("n_rel"))
    val scored = e.join(broadcast(qn), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("n_rel"), col("vec_id"),
        (col("lab") === col("qlab")).cast("int").as("rel"),
        round(Similarity.cosine(col("v"), col("qv")), 6).as("sim"))
    val ranked = scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rnk") <= k)
    // dyadic discount 1/2^(rnk-1): integer shift + power-of-two divide,
    // no libm call anywhere (expr form: the functions.shiftleft wrapper
    // only takes a literal Int shift, the Catalyst node takes a column)
    val w = lit(1.0) / expr("shiftleft(1L, rnk - 1)").cast("double")
    ranked.groupBy(col("qid"), col("n_rel"))
      .agg(sum(col("rel")).cast("long").as("hits"),
        coalesce(lit(1.0) / min(when(col("rel") === 1, col("rnk"))),
          lit(0.0)).as("mrr_k"),
        sum(col("rel") * w).as("dcg"))
      .select(col("qid"), col("n_rel"), col("hits"),
        (col("hits").cast("double") / lit(k)).as("precision_k"),
        // n_rel = 0 (a query whose label is unique): recall is 0 by
        // convention, and the unguarded 0/0 would THROW under ANSI
        when(col("n_rel") === 0, lit(0.0)).otherwise(
          col("hits").cast("double") / col("n_rel")).as("recall_k"),
        col("mrr_k"),
        when(col("n_rel") === 0, lit(0.0)).otherwise(col("dcg") /
          (lit(2.0) - lit(1.0) / expr(
            s"shiftleft(1L, least(n_rel, ${k}L) - 1)").cast("double")))
          .as("nedcg"))
      .orderBy("qid")
  }
}
