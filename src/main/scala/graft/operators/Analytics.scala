package graft.operators

import graft.{QueryDef, Tables}
import graft.plans.FanOut
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Analytics batch (round 7, third wave): deterministic per-group mode,
  * RFM segmentation on the distributed percent-rank, day-of-week
  * seasonality, link prediction + k-core over the support-filtered
  * co-purchase graph, and the k-means assignment step over embeddings.
  * All six are oracle-checked.
  */
object Analytics {

  /** Co-purchase graph with minimum support: parts sharing ≥ `minSupport`
    * DISTINCT orders. Pairs explode IN-ROW from each order's sorted part
    * set (bounded by order size — the t26/g2 lesson: no lineitem
    * self-join shuffle); the support filter is what makes the graph
    * sparse enough for neighborhood methods (the unfiltered co-purchase
    * graph has avg degree >100 — Σdeg² wedge work would be quadratic).
    */
  private[operators] def copurchaseEdges(s: SparkSession, d: String,
      minSupport: Int): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
          struct(x.as("src"), y.as("dst")))))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= minSupport)
      .select("src", "dst")

  /** The oracle twin of [[copurchaseEdges]] (DuckDB dialect): per-order
    * DISTINCT parts first, so the SQL pair count is order-set support,
    * matching the collect_set semantics (a part listed twice in one
    * order counts once).
    */
  private[operators] val CopurchaseCte =
    """op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (
      |  SELECT o1.l_partkey AS a, o2.l_partkey AS b
      |  FROM op o1 JOIN op o2
      |    ON o1.l_orderkey = o2.l_orderkey AND o1.l_partkey < o2.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Unrolled k-core oracle: `rounds` peels of (degree ≥ k) node
    * filtering over the e0 CTE. Extra rounds past the fixpoint are
    * identity, so any `rounds` ≥ the true peeling depth matches the
    * Spark fixpoint (depth measured ≤ 7 at both test SFs; 12 is margin —
    * Graph.kCore errors rather than under-peels if a graph ever needs
    * more).
    */
  private def kcoreOracle(k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH $CopurchaseCte"
    // each e_i is referenced three times (d_{i+1} twice, e_{i+1} once):
    // an INLINED chain re-evaluates e0 O(3^rounds) times — the same
    // exponential-lineage trap as Spark's cached iterative plans, hit
    // here as a "too many open files" parquet storm. MATERIALIZED pins
    // every round to one evaluation.
    for (i <- 1 to rounds) {
      sb ++= s""",
        |d$i AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e${i - 1}
        |  UNION ALL SELECT b FROM e${i - 1}) GROUP BY node
        |  HAVING count(*) >= $k),
        |e$i AS MATERIALIZED (SELECT a, b FROM e${i - 1}
        |  WHERE a IN (SELECT node FROM d$i)
        |    AND b IN (SELECT node FROM d$i))""".stripMargin
    }
    sb ++= s"""
      |SELECT node, CAST(count(*) AS BIGINT) AS core_degree
      |FROM (SELECT a AS node FROM e$rounds UNION ALL SELECT b FROM e$rounds)
      |GROUP BY node ORDER BY node""".stripMargin
    sb.toString
  }

  /** Unrolled greedy-MMR oracle: one CTE per pick. λ = 0.5 on BOTH
    * sides deliberately — with any λ whose complement is not exactly
    * representable (e.g. 0.7 → 1−λ = 0.30000000000000004 in the
    * driver's double arithmetic vs a 0.3 SQL literal) the two engines'
    * scores diverge in the last ulp; 0.5/0.5 is exact everywhere.
    */
  private def mmrOracle(queryId: Long, candK: Int, selectK: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = $queryId),
      |cand AS (
      |  SELECT e.vec_id, e.v,
      |    round(list_cosine_similarity(e.v, q.qv), 6) + 0.0::DOUBLE AS rel
      |  FROM e, q WHERE e.vec_id <> $queryId
      |  QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) <= $candK),
      |pair AS (
      |  SELECT a.vec_id AS ai, b.vec_id AS bi,
      |    round(list_cosine_similarity(a.v, b.v), 6) + 0.0::DOUBLE AS s
      |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
      |sel1 AS (SELECT vec_id, rel, 1 AS rank FROM cand
      |  QUALIFY row_number() OVER (ORDER BY rel DESC, vec_id) = 1)""".stripMargin
    for (i <- 2 to selectK) {
      val prev = (1 until i).map(j => s"SELECT vec_id FROM sel$j")
        .mkString(" UNION ALL ")
      sb ++= s""",
        |sel$i AS (
        |  SELECT vec_id, rel, $i AS rank FROM (
        |    SELECT c.vec_id, c.rel, max(p.s) AS ms
        |    FROM cand c JOIN pair p ON p.ai = c.vec_id
        |    WHERE p.bi IN ($prev) AND c.vec_id NOT IN ($prev)
        |    GROUP BY c.vec_id, c.rel)
        |  QUALIFY row_number() OVER (
        |    ORDER BY 0.5::DOUBLE * rel - 0.5::DOUBLE * ms DESC, vec_id) = 1)""".stripMargin
    }
    sb ++= s"""
      |SELECT CAST(rank AS INTEGER) AS rank, vec_id, rel
      |FROM (${(1 to selectK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")})
      |ORDER BY rank""".stripMargin
    sb.toString
  }

  /** Unrolled synchronous label-propagation oracle over the s2 exact
    * pair graph. Every l_{i−1} is referenced twice per round (votes +
    * carry-through) — MATERIALIZED, or the chain re-evaluates the
    * quadratic pair generator O(2^rounds) times (the kcore lesson).
    */
  private def labelPropOracle(idCap: Long, threshold: Double,
      rounds: Int): String =
    s"""WITH ${labelPropCtes(idCap, threshold, rounds)}
      |SELECT node, label FROM l$rounds ORDER BY node""".stripMargin

  /** The CTE chain of [[labelPropOracle]] without the WITH keyword or
    * final select — reused by the g8 modularity oracle, which computes
    * community quality over the same converged labels.
    */
  private[operators] def labelPropCtes(idCap: Long, threshold: Double,
      rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""e AS (
      |  SELECT vec_id, CAST(label AS BIGINT) AS label,
      |         CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id < $idCap),
      |p AS MATERIALIZED (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM e a JOIN e b ON a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.v, b.v), 6) >= $threshold),
      |ed AS MATERIALIZED (
      |  SELECT id_a AS node, id_b AS nbr FROM p
      |  UNION ALL SELECT id_b, id_a FROM p),
      |l0 AS MATERIALIZED (SELECT vec_id AS node, label FROM e)""".stripMargin
    for (i <- 1 to rounds) {
      sb ++= s""",
        |v$i AS MATERIALIZED (
        |  SELECT ed.node, l.label AS nl, count(*) AS c
        |  FROM ed JOIN l${i - 1} l ON l.node = ed.nbr GROUP BY 1, 2),
        |b$i AS MATERIALIZED (
        |  SELECT node, nl AS vote FROM v$i
        |  QUALIFY row_number() OVER (
        |    PARTITION BY node ORDER BY c DESC, nl) = 1),
        |l$i AS MATERIALIZED (
        |  SELECT l.node, coalesce(b.vote, l.label) AS label
        |  FROM l${i - 1} l LEFT JOIN b$i b ON b.node = l.node)""".stripMargin
    }
    sb.toString
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- semi-supervised label propagation ----
    // 3 synchronous majority-vote rounds (Graph.labelPropagation) over
    // the s2 exact near-dup pair graph — the "spread the trusted labels
    // to the unlabeled neighbors" pipeline step. Fixed rounds, ties →
    // smallest label, isolated nodes keep their own; the oracle unrolls
    // the identical recurrence.
    "g5_label_prop" -> QueryDef.sql(
      labelPropOracle(idCap = 200L, threshold = 0.3, rounds = 3)) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val edges = Similarity.nearDupPairs(emb, idCap = 200L, threshold = 0.3)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels = emb.filter(col("vec_id") < 200L)
        .select(col("vec_id").as("node"), col("label"))
      Graph.labelPropagation(edges, labels, rounds = 3)
        .orderBy("node")
    },

    // ---- MMR diversity re-ranking ----
    // greedy maximal-marginal-relevance over the top-20 candidates for
    // query vector 0 (Similarity.mmrRerank): relevance and the pairwise
    // matrix compute distributed with the standard rounded cosines; the
    // inherently sequential greedy runs on the driver over the bounded
    // candidate set. The oracle unrolls one CTE per pick.
    "s16_mmr_rerank" -> QueryDef.sql(
      mmrOracle(queryId = 0L, candK = 20, selectK = 5)) { (s, d) =>
      Similarity.mmrRerank(Tables.embeddings(s, d), queryId = 0L,
          candK = 20, selectK = 5, lambda = 0.5)
        .orderBy("rank")
    },

    // ---- deterministic per-group mode ----
    // most frequent brand per part type; ties break to the LOWEST brand.
    // Spark side is two map-combinable hash aggs (count, then min of a
    // (−cnt, brand) struct) — no window, no single-task partition; the
    // oracle is the textbook row_number formulation.
    "a28_mode" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT p_type, p_brand, count(*) AS cnt FROM part GROUP BY 1, 2)
        |SELECT p_type, p_brand AS mode_brand, CAST(cnt AS BIGINT) AS cnt
        |FROM c
        |QUALIFY row_number() OVER (
        |  PARTITION BY p_type ORDER BY cnt DESC, p_brand) = 1
        |ORDER BY p_type""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .groupBy("p_type", "p_brand").agg(count(lit(1)).as("cnt"))
        .groupBy("p_type")
        .agg(min(struct((-col("cnt")).as("nc"), col("p_brand").as("b"))).as("m"))
        .select(col("p_type"), col("m.b").as("mode_brand"),
          (-col("m.nc")).as("cnt"))
        .orderBy("p_type")
    },

    // ---- RFM segmentation ----
    // Per customer: recency (days from last order to the corpus max
    // date), frequency (order count), monetary (EXACT integer cents —
    // sum of round(o_totalprice·100), order-independent, the a23
    // exact-integer discipline). Each metric quartiles via the
    // DISTRIBUTED percent rank (Scale.groupPercentRank on a constant
    // group — no single-task global window at 100 TB), bucketed
    // 1 + min(3, ⌊4·pct⌋); the oracle is the serial window twin, so
    // equality proves the two-phase rank bit-exact on all three axes.
    "e12_rfm" -> QueryDef.sql(
      """WITH m AS (SELECT max(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
        |c AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(CAST(o_orderdate AS DATE)),
        |              (SELECT maxd FROM m)) AS recency_days,
        |    count(*) AS freq,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mon_cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT *,
        |    CAST(row_number() OVER (ORDER BY recency_days, o_custkey) - 1 AS DOUBLE)
        |      / CAST(count(*) OVER () - 1 AS DOUBLE) AS r_pct,
        |    CAST(row_number() OVER (ORDER BY freq, o_custkey) - 1 AS DOUBLE)
        |      / CAST(count(*) OVER () - 1 AS DOUBLE) AS f_pct,
        |    CAST(row_number() OVER (ORDER BY mon_cents, o_custkey) - 1 AS DOUBLE)
        |      / CAST(count(*) OVER () - 1 AS DOUBLE) AS m_pct
        |  FROM c)
        |SELECT
        |  CAST(least(3.0::DOUBLE, floor(r_pct * 4.0::DOUBLE)) AS INTEGER) + 1 AS r_score,
        |  CAST(least(3.0::DOUBLE, floor(f_pct * 4.0::DOUBLE)) AS INTEGER) + 1 AS f_score,
        |  CAST(least(3.0::DOUBLE, floor(m_pct * 4.0::DOUBLE)) AS INTEGER) + 1 AS m_score,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(mon_cents) AS BIGINT) AS mon_cents_total
        |FROM r GROUP BY 1, 2, 3
        |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val maxD = broadcast(o.agg(max(col("o_orderdate").cast("date")).as("maxd")))
      val base = o.groupBy("o_custkey")
        .agg(max(col("o_orderdate").cast("date")).as("last_d"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("mon_cents"))
        .join(maxD)
        .select(col("o_custkey"),
          datediff(col("maxd"), col("last_d")).as("recency_days"),
          col("freq"), col("mon_cents"))
        .withColumn("__all", lit(1))
        // localCheckpoint: each groupPercentRank stage runs a bounds
        // aggregate over its INPUT plan — unchecked, stage 3's bounds
        // re-execute stages 1–2 (and the orders rollup) from scratch,
        // so the upstream runs ~7× (measured 4.2 s for a 10k-customer
        // relation). The checkpoint pins the tiny per-customer base
        // once; blocks free via the ContextCleaner when the RDD drops
        // out of scope after the run.
        .localCheckpoint()
      val ranked = Seq(("recency_days", "r_pct"), ("freq", "f_pct"),
        ("mon_cents", "m_pct")).foldLeft(base) { case (df, (metric, out)) =>
        // checkpoint BETWEEN stages too (r15): stage k's bounds/offsets
        // aggregates otherwise re-execute stages 1..k−1's join chains —
        // the base checkpoint alone still left ~3× stage re-execution
        Scale.groupPercentRank(df, "__all", metric, idCol = "o_custkey",
          outCol = out).localCheckpoint()
      }
      def score(pct: String) =
        (least(lit(3.0), floor(col(pct) * lit(4.0)))).cast("int") + 1
      ranked.select(
          score("r_pct").as("r_score"), score("f_pct").as("f_score"),
          score("m_pct").as("m_score"), col("mon_cents"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("mon_cents")).as("mon_cents_total"))
        .orderBy("r_score", "f_score", "m_score")
    },

    // ---- day-of-week seasonality profile ----
    // events per (type, dow) with the seasonal index cnt·7 / total —
    // exact integers on both sides of the quotient ⇒ bit-identical
    // doubles unrounded (the e5 discipline). Spark dayofweek is
    // 1=Sunday; DuckDB dayofweek is 0=Sunday, hence the +1.
    "e13_dow_profile" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT event_type,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, dow, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt * 7 AS DOUBLE) / CAST(sum(cnt) OVER (
        |    PARTITION BY event_type) AS DOUBLE) AS dow_index
        |FROM c ORDER BY event_type, dow""".stripMargin) { (s, d) =>
      val c = Tables.events(s, d)
        .groupBy(col("event_type"), dayofweek(col("ts")).cast("int").as("dow"))
        .agg(count(lit(1)).as("cnt"))
      val tot = c.groupBy("event_type").agg(sum("cnt").as("tot"))
      c.join(broadcast(tot), Seq("event_type"))
        .select(col("event_type"), col("dow"), col("cnt"),
          ((col("cnt") * 7).cast("double") / col("tot").cast("double"))
            .as("dow_index"))
        .orderBy("event_type", "dow")
    },

    // ---- common-neighbor link prediction ----
    // top-100 non-adjacent pairs of the support-2 co-purchase graph by
    // neighborhood Jaccard (Graph.linkPrediction: hub cap 12, in-row
    // wedge explode). cn/da/db are exact ints ⇒ the score quotient is
    // bit-identical unrounded; (a, b) completes the total order.
    "g3_link_prediction" -> QueryDef.sql(
      s"""WITH $CopurchaseCte,
        |d0 AS (SELECT node, count(*) AS d FROM (SELECT a AS node FROM e0
        |  UNION ALL SELECT b FROM e0) GROUP BY 1),
        |keep AS (SELECT node FROM d0 WHERE d <= 12),
        |e AS (SELECT a, b FROM e0
        |  WHERE a IN (SELECT node FROM keep) AND b IN (SELECT node FROM keep)),
        |deg AS (SELECT node, count(*) AS d FROM (SELECT a AS node FROM e
        |  UNION ALL SELECT b FROM e) GROUP BY 1),
        |ed AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b, a FROM e),
        |wed AS (SELECT e1.t AS a, e2.t AS b FROM ed e1
        |  JOIN ed e2 ON e1.s = e2.s AND e1.t < e2.t),
        |cn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn
        |  FROM wed GROUP BY 1, 2),
        |nc AS (SELECT cn.a, cn.b, cn.cn FROM cn
        |  ANTI JOIN e ON e.a = cn.a AND e.b = cn.b),
        |sc AS (SELECT nc.a, nc.b, nc.cn,
        |    CAST(nc.cn AS DOUBLE) / CAST(da.d + db.d - nc.cn AS DOUBLE) AS score
        |  FROM nc JOIN deg da ON da.node = nc.a JOIN deg db ON db.node = nc.b)
        |SELECT a, b, cn, score FROM sc
        |QUALIFY row_number() OVER (ORDER BY score DESC, cn DESC, a, b) <= 100
        |ORDER BY score DESC, cn DESC, a, b""".stripMargin) { (s, d) =>
      Graph.linkPrediction(copurchaseEdges(s, d, minSupport = 2),
        maxDegree = 12, topK = 100)
    },

    // ---- k-core decomposition (k = 2) ----
    // iterative peeling to the fixpoint (Graph.kCore) over the same
    // support-2 graph; the oracle unrolls 12 peel rounds (≥ the true
    // depth at every test SF — extra rounds are identity).
    "g4_kcore" -> QueryDef.sql(kcoreOracle(k = 2, rounds = 12)) { (s, d) =>
      Graph.kCore(copurchaseEdges(s, d, minSupport = 2), k = 2,
          maxRounds = 12)
        .select(col("node"), col("core_degree"))
        .orderBy("node")
    },

    // ---- vocabulary coverage curve cutoff ----
    // the smallest frequency-ranked vocabulary covering ≥ 95% of token
    // mass — the tokenizer-design question every corpus pipeline answers.
    // The running total rides Scale.groupRunningSum (two-phase
    // distributed prefix sum — no single-task global window); the
    // cutoff compares EXACT integers (cum_prev·20 < total·19 ⇔
    // prev-coverage < 0.95) so no float boundary exists, and the
    // reported coverage is an exact-integer quotient, unrounded.
    "t39_vocab_coverage" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT w AS word, count(*) AS freq
        |  FROM (SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |          '[^a-z0-9]+'), x -> x <> '')) AS w FROM documents)
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM f),
        |c AS (SELECT word, freq, sum(freq) OVER (
        |    ORDER BY freq DESC, word ROWS UNBOUNDED PRECEDING) AS cum FROM f),
        |k AS (SELECT c.* FROM c, t WHERE (cum - freq) * 20 < total * 19)
        |SELECT CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(max(cum) AS BIGINT) AS covered_tokens,
        |  (SELECT total FROM t) AS total_tokens,
        |  CAST(max(cum) AS DOUBLE) / CAST((SELECT total FROM t) AS DOUBLE)
        |    AS coverage
        |FROM k ORDER BY vocab_size""".stripMargin) { (s, d) =>
      val f = FanOut.scan(Tables.documents(s, d))
        .select(explode(graft.functions.TextFunctions.words(col("text")))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val tot = broadcast(f.agg(sum("freq").as("total")))
      Scale.groupRunningSum(f.withColumn("__all", lit(1)), "__all",
          orderCol = "freq", idCol = "word", weightCol = "freq",
          outCol = "cum", descending = true)
        .join(tot)
        .filter((col("cum") - col("freq")) * 20 < col("total") * 19)
        .agg(count(lit(1)).as("vocab_size"), max("cum").as("covered_tokens"),
          first("total").as("total_tokens"))
        .select(col("vocab_size"), col("covered_tokens"), col("total_tokens"),
          (col("covered_tokens").cast("double") /
            col("total_tokens").cast("double")).as("coverage"))
        .orderBy("vocab_size")
    },

    // ---- per-document n-gram novelty ----
    // fraction of each document's DISTINCT 3-shingles appearing in no
    // other document — the "how much does this doc add" curation score
    // (complement of the d12/d13 duplication lenses). Shingles come from
    // the fused WordShinglesExpr (the t23 lesson); keys stay strings so
    // the count is exact — at corpus scale swap in 8-byte shingle hashes
    // (d9 discipline) for a 3× shuffle cut at ~n²/2⁶⁴ undercount risk.
    // Docs under 3 words have no shingles and no row, both sides.
    "t40_doc_novelty" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
        |g AS (
        |  SELECT DISTINCT doc_id, unnest(list_transform(range(len(ws) - 2),
        |    i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])) AS sh
        |  FROM w WHERE len(ws) >= 3),
        |df AS (SELECT sh, count(*) AS nd FROM g GROUP BY 1)
        |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |  CAST(sum(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  CAST(sum(CASE WHEN df.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) AS novelty
        |FROM g JOIN df USING (sh)
        |GROUP BY g.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val g = FanOut.scan(Tables.documents(s, d))
        .select(col("doc_id"), explode(array_distinct(
          graft.functions.Sketches.wordShinglesText(col("text"), 3))).as("sh"))
      val df = g.groupBy("sh").agg(count(lit(1)).as("nd"))
      g.join(df, Seq("sh"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("nd") === 1, 1).otherwise(0)).cast("long").as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          (col("n_novel").cast("double") / col("n_shingles").cast("double"))
            .as("novelty"))
        .orderBy("doc_id")
    },

    // ---- cumulative distinct users (growth curve) ----
    // first-seen day per user, new-user count per day, and the running
    // total — the user-growth curve. The only window rides the per-DAY
    // grid (calendar-bounded, the w10 discipline), never event volume;
    // the heavy lifting is two map-combinable aggs.
    "w11_cumulative_users" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS day FROM e GROUP BY 1),
        |n AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
        |SELECT day, CAST(n_new AS BIGINT) AS n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cum_users
        |FROM n ORDER BY day""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val f = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .groupBy("user_id").agg(min("day").as("day"))
      f.groupBy("day").agg(count(lit(1)).as("n_new"))
        .withColumn("cum_users", sum("n_new").over(Window.orderBy("day")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    },

    // ---- k-means centroid update step ----
    // the OTHER half of Lloyd's iteration (s13 is the assignment):
    // per-(cluster, dimension) means of the assigned vectors. Dimensions
    // explode in-row (posexplode ↔ DuckDB's positional parallel unnest);
    // the mean is round(sum,4)/count — identical dividend and divisor ⇒
    // bit-identical quotients (the CLAUDE.md rolling-mean recipe; raw
    // element sums carry ulp noise that 4 d.p. absorbs).
    "s14_centroid_update" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.centroid_id,
        |    round(list_cosine_similarity(e.v, c.cv), 6) + 0.0::DOUBLE AS sim
        |  FROM e, c),
        |a AS (SELECT vec_id, centroid_id FROM s
        |  QUALIFY row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1),
        |x AS (SELECT a.centroid_id,
        |    unnest(range(1, len(e.v) + 1)) AS dim, unnest(e.v) AS val
        |  FROM a JOIN e USING (vec_id))
        |SELECT centroid_id, CAST(dim AS INTEGER) AS dim,
        |  round(sum(val), 4) / count(*) AS mean_val
        |FROM x GROUP BY 1, 2
        |ORDER BY centroid_id, dim""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      val assign = Similarity.assignToCentroids(e, cent)
        .select("vec_id", "centroid_id")
      assign
        .join(e.select(col("vec_id"),
          Similarity.asDouble(col("embedding")).as("v")), Seq("vec_id"))
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("pos", "val")))
        .select(col("centroid_id"), (col("pos") + 1).cast("int").as("dim"),
          col("val"))
        .groupBy("centroid_id", "dim")
        .agg((round(sum("val"), 4) / count(lit(1))).as("mean_val"))
        .orderBy("centroid_id", "dim")
    },

    // ---- bitemporal as-of ----
    // "what did we believe at known_at about the state at valid_ts":
    // among revisions with ts_valid ≤ valid_ts AND issued_at ≤ known_at
    // (within a 24 h staleness bound — the j11 tolerance contract),
    // take the (ts_valid, issued_at)-lexicographic max. 2-D dominance
    // doesn't fit one as-of window, so the plan is the j9/j10 shape:
    // equi join on the DAY bin of the valid axis (probe explodes its
    // own + previous bin), residual range filters, then one
    // map-combinable max-struct argmax per probe — no window over the
    // join output, no quadratic pass. The revision feed is the st-probe
    // derivation; probes sit at hh:30 valid / hh:20 known so the
    // transaction axis genuinely bites (revisions issued later in the
    // hour are invisible).
    "j14_bitemporal_asof" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT CAST(user_id % 3 AS DOUBLE) AS lat,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts_valid,
        |         CAST(ts AS TIMESTAMP) AS issued_at,
        |         max(value) AS temp
        |  FROM events GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT DISTINCT CAST(user_id % 3 AS DOUBLE) AS lat,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP))
        |      + INTERVAL 30 MINUTE AS valid_ts,
        |    date_trunc('hour', CAST(ts AS TIMESTAMP))
        |      + INTERVAL 20 MINUTE AS known_at
        |  FROM events),
        |j AS (
        |  SELECT p.lat, p.valid_ts, p.known_at,
        |         r.ts_valid, r.issued_at, r.temp
        |  FROM p JOIN rev r ON r.lat = p.lat
        |    AND r.ts_valid <= p.valid_ts AND r.issued_at <= p.known_at
        |    AND r.ts_valid > p.valid_ts - INTERVAL 24 HOUR)
        |SELECT lat, valid_ts, known_at, ts_valid, issued_at,
        |  round(temp, 2) AS temp
        |FROM j
        |QUALIFY row_number() OVER (PARTITION BY lat, valid_ts, known_at
        |  ORDER BY ts_valid DESC, issued_at DESC) = 1
        |ORDER BY lat, valid_ts""".stripMargin) { (s, d) =>
      // Problem knowledge the band join cannot see (r16, guide §8 "use
      // what you know that the optimizer does not"): issued_at always
      // lies INSIDE its own valid hour, so for a probe at hour H
      // (known_at = H+20min) every revision of an EARLIER hour T < H is
      // visible (issued < T+1h <= H < known_at) and only the one with
      // the max issued_at per (lat, T) can win the (ts_valid, issued_at)
      // argmax; for the SAME hour only revisions issued in the first 20
      // minutes are visible. The probe grid equals the revision grid
      // (both are the event hours per lat), so the whole bitemporal
      // as-of reduces to one per-(lat, hour) aggregate + one 24 h
      // range-frame window — the old (lat, vday) band join materialized
      // ~5M intermediate rows that AQE coalesced to ONE task (1.8 s,
      // measured); the window form shuffles 6.6k hour rows once.
      val ev = Tables.events(s, d)
      val rev = ev.groupBy(
          (col("user_id") % 3).cast("double").as("lat"),
          date_trunc("hour", col("ts")).as("ts_valid"),
          col("ts").as("issued_at"))
        .agg(max("value").as("temp"))
      val hours = rev.groupBy(col("lat"), col("ts_valid"))
        .agg(
          max(struct(col("issued_at"), col("temp"))).as("any"),
          max(when(col("issued_at") <=
              col("ts_valid") + expr("INTERVAL 20 MINUTES"),
            struct(col("issued_at"), col("temp")))).as("early"))
      // visible window for probe hour H: ts_valid > valid_ts - 24h with
      // valid_ts = H+30min, on the hourly grid = [H-23h, H-1h] for the
      // earlier-hour candidates (the same-hour candidate is `early`)
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lat")
        .orderBy(col("ts_valid").cast("long"))
        .rangeBetween(-82800L, -3600L)
      val prevBest = max(struct(col("ts_valid").as("ts_valid"),
        col("any.issued_at").as("issued_at"), col("any.temp").as("temp")))
        .over(w)
      hours.select(col("lat"),
          (col("ts_valid") + expr("INTERVAL 30 MINUTES")).as("valid_ts"),
          (col("ts_valid") + expr("INTERVAL 20 MINUTES")).as("known_at"),
          coalesce(
            when(col("early").isNotNull,
              struct(col("ts_valid").as("ts_valid"),
                col("early.issued_at").as("issued_at"),
                col("early.temp").as("temp"))),
            prevBest).as("m"))
        .filter(col("m").isNotNull)
        .select(col("lat"), col("valid_ts"), col("known_at"),
          col("m.ts_valid").as("ts_valid"),
          col("m.issued_at").as("issued_at"),
          round(col("m.temp"), 2).as("temp"))
        .orderBy("lat", "valid_ts")
    },

    // ---- CDC apply (net effect of a change stream) ----
    // upsert/delete log → final table state: the lakehouse compaction
    // semantics. The winner per key is ONE map-combinable max-struct agg
    // over (ts, event_id) — no window, no shuffle beyond the key agg —
    // then delete-winners drop out. Ops synthesize deterministically
    // from the event stream (every 10th event id is a delete).
    "e16_cdc_apply" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
        |    value
        |  FROM events),
        |w AS (
        |  SELECT user_id, op, value FROM c
        |  QUALIFY row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1)
        |SELECT user_id, value FROM w WHERE op <> 'D'
        |ORDER BY user_id""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"),
          col("value"))
        .groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("op"),
          col("value"))).as("m"))
        .filter(col("m.op") =!= "D")
        .select(col("user_id"), col("m.value").as("value"))
        .orderBy("user_id")
    },

    // ---- resetting running sum (spend since last purchase) ----
    // the conditional-reset cumsum: segment = running purchase count
    // (resets AT each purchase), then a cumulative within (user,
    // segment). Two windows ride ONE (user, ts, id) sort. Cents stay
    // exact integers (the e12 discipline) so the cumsum is
    // order-independent-exact on both engines.
    "w12_reset_running_sum" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (
        |  SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS seg
        |  FROM e)
        |SELECT event_id, user_id, CAST(seg AS BIGINT) AS seg,
        |  CAST(sum(cents) OVER (PARTITION BY user_id, seg
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS run_cents
        |FROM g ORDER BY event_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w1 = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("seg",
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).over(w1))
      val w2 = Window.partitionBy("user_id", "seg")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("run_cents", sum("cents").over(w2))
        .select(col("event_id"), col("user_id"), col("seg").cast("long").as("seg"),
          col("run_cents"))
        .orderBy("event_id")
    },

    // ---- cross-source quantile normalization ----
    // map each document's length onto the CORPUS BLEND's value at the
    // same quantile (the score-calibration move: source distributions
    // become comparable before mixing). Everything stays in INTEGER
    // arithmetic: target global rank = 1 + ((rk_s−1)·(N−1)) div (n_s−1)
    // — a float p·(N−1) lands within an ulp of exact integers and
    // floor() flips across engines; integer div cannot. Ranks ride
    // groupRunningSum (per-source and global — no single-task windows);
    // the mapping is one equi join on the computed rank. A singleton
    // source maps to the global median slot, both sides.
    "e15_quantile_norm" -> QueryDef.sql(
      """WITH d AS (SELECT doc_id, source, n_chars FROM documents),
        |s AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id) AS rk_s,
        |    count(*) OVER (PARTITION BY source) AS n_s
        |  FROM d),
        |g AS (SELECT n_chars AS gval,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS grk
        |  FROM d),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
        |t AS (SELECT s.doc_id, s.source, s.n_chars,
        |    CASE WHEN s.n_s = 1 THEN 1 + (n.n - 1) // 2
        |         ELSE 1 + ((s.rk_s - 1) * (n.n - 1)) // (s.n_s - 1)
        |    END AS target_rk
        |  FROM s, n)
        |SELECT t.doc_id, t.source, t.n_chars, g.gval AS norm_chars
        |FROM t JOIN g ON g.grk = t.target_rk
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id", "source", "n_chars")
        .withColumn("__one", lit(1L))
      val ranked = Scale.groupRunningSum(docs, "source",
          orderCol = "n_chars", idCol = "doc_id", weightCol = "__one",
          outCol = "rk_s")
      val ns = ranked.groupBy(col("source").as("__ns_k"))
        .agg(count(lit(1)).as("n_s"))
      val globalRanks = Scale.groupRunningSum(
          docs.withColumn("__all", lit(1)), "__all",
          orderCol = "n_chars", idCol = "doc_id", weightCol = "__one",
          outCol = "grk")
        .select(col("n_chars").as("gval"), col("grk"))
      val n = broadcast(docs.agg(count(lit(1)).as("n")))
      ranked.join(broadcast(ns), col("source") === col("__ns_k"))
        .join(n)
        .withColumn("target_rk",
          when(col("n_s") === 1, lit(1) + expr("(n - 1) div 2"))
            .otherwise(lit(1) +
              expr("((rk_s - 1) * (n - 1)) div (n_s - 1)")))
        .join(globalRanks, col("grk") === col("target_rk"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("gval").as("norm_chars"))
        .orderBy("doc_id")
    },

    // ---- deterministic negative sampling ----
    // 3 pseudo-random contrastive negatives per document, a pure
    // function of (doc_id, j) through the md5 gate (the t19 split
    // discipline): r = md5₆₀(doc_id#neg j) mod (N−1) indexes the
    // doc-id-ordered rank space with the self slot spliced out
    // (r ≥ self ⇒ r+1) — leak-free across runs, no RNG, no driver
    // state. Ranks come from groupRunningSum of ones (no single-task
    // global row_number); the oracle is the serial window + the same
    // splice.
    "t41_negative_sample" -> QueryDef.sql(
      """WITH ids AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rk0
        |  FROM documents),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ids),
        |j AS (SELECT unnest([1, 2, 3]) AS j),
        |p AS (
        |  SELECT i.doc_id, j.j,
        |    ('0x' || substring(md5(CAST(i.doc_id AS VARCHAR) || '#neg'
        |       || CAST(j.j AS VARCHAR)), 1, 15))::UBIGINT % (n.n - 1) AS r,
        |    i.rk0
        |  FROM ids i, j, n),
        |q AS (SELECT doc_id, j,
        |    CASE WHEN r >= rk0 THEN r + 1 ELSE r END AS neg_rk0 FROM p)
        |SELECT q.doc_id, CAST(q.j AS INTEGER) AS j,
        |  t.doc_id AS neg_doc_id
        |FROM q JOIN ids t ON t.rk0 = q.neg_rk0
        |ORDER BY q.doc_id, j""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d).select("doc_id")
        .withColumn("__all", lit(1)).withColumn("__one", lit(1L))
      val ids = Scale.groupRunningSum(docs, "__all", orderCol = "doc_id",
          idCol = "doc_id", weightCol = "__one", outCol = "rk")
        .select(col("doc_id"), (col("rk") - 1).as("rk0"))
      val n = broadcast(ids.agg(count(lit(1)).as("n")))
      val p = ids.join(n)
        .select(col("doc_id"), col("rk0"), col("n"),
          explode(array(lit(1), lit(2), lit(3))).as("j"))
        .withColumn("r",
          conv(substring(md5(concat(col("doc_id").cast("string"),
            lit("#neg"), col("j").cast("string"))), 1, 15), 16, 10)
            .cast("long") % (col("n") - 1))
        .select(col("doc_id"), col("j"),
          when(col("r") >= col("rk0"), col("r") + 1).otherwise(col("r"))
            .as("neg_rk0"))
      p.join(ids.select(col("rk0").as("neg_rk0"),
          col("doc_id").as("neg_doc_id")), Seq("neg_rk0"))
        .select(col("doc_id"), col("j"), col("neg_doc_id"))
        .orderBy("doc_id", "j")
    },

    // ---- top 3-step behavioral paths ----
    // most common (t1 → t2 → t3) event sequences with each hop ≤ 30 min
    // (e3's transition pairs extended to path mining). Two leads ride ONE
    // (user, ts, id) window sort; the top-20 cut is fully tie-broken.
    "e14_top_paths" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
        |  FROM events),
        |p AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3,
        |    epoch_us(lead(ts, 1) OVER w) - epoch_us(ts) AS g1,
        |    epoch_us(lead(ts, 2) OVER w) - epoch_us(lead(ts, 1) OVER w) AS g2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS cnt
        |  FROM p WHERE t3 IS NOT NULL
        |    AND g1 <= 1800000000 AND g2 <= 1800000000
        |  GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, cnt FROM c
        |QUALIFY row_number() OVER (ORDER BY cnt DESC, t1, t2, t3) <= 20
        |ORDER BY cnt DESC, t1, t2, t3""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("t2", lead(col("event_type"), 1).over(w))
        .withColumn("t3", lead(col("event_type"), 2).over(w))
        .withColumn("g1",
          unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
        .withColumn("g2",
          unix_micros(lead(col("ts"), 2).over(w)) -
            unix_micros(lead(col("ts"), 1).over(w)))
        .filter(col("t3").isNotNull &&
          col("g1") <= 1800000000L && col("g2") <= 1800000000L)
        .groupBy(col("event_type").as("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    },

    // ---- one full Lloyd's k-means iteration ----
    // seed centroids (vec_id < 8) → assign → recompute means → REASSIGN
    // (Similarity.kmeans, composing s13's argmax and s14's exact-quotient
    // means); output is the per-cluster population after the iteration.
    // The oracle unrolls the same round — DuckDB's list(mv ORDER BY dim)
    // rebuilds each centroid array positionally, exactly like the Spark
    // sort_array/transform. Proves an ITERATIVE ML fit can sit under the
    // exact cross-engine gate (the g1/g4 discipline applied to ML).
    "s15_kmeans_iterate" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        |s1 AS (SELECT e.vec_id, c0.cid,
        |    round(list_cosine_similarity(e.v, c0.cv), 6) + 0.0::DOUBLE AS sim
        |  FROM e, c0),
        |a1 AS (SELECT vec_id, cid FROM s1
        |  QUALIFY row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cid) = 1),
        |x1 AS (SELECT a1.cid, unnest(range(1, len(e.v) + 1)) AS dim,
        |    unnest(e.v) AS val
        |  FROM a1 JOIN e USING (vec_id)),
        |m1 AS (SELECT cid, dim, round(sum(val), 4) / count(*) AS mv
        |  FROM x1 GROUP BY 1, 2),
        |c1 AS (SELECT cid, list(mv ORDER BY dim) AS cv FROM m1 GROUP BY cid),
        |s2 AS (SELECT e.vec_id, c1.cid,
        |    round(list_cosine_similarity(e.v, c1.cv), 6) + 0.0::DOUBLE AS sim
        |  FROM e, c1),
        |a2 AS (SELECT vec_id, cid FROM s2
        |  QUALIFY row_number() OVER (
        |    PARTITION BY vec_id ORDER BY sim DESC, cid) = 1)
        |SELECT cid AS centroid_id, CAST(count(*) AS BIGINT) AS n
        |FROM a2 GROUP BY 1
        |ORDER BY centroid_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      Similarity.kmeans(e, cent, iterations = 1)
        .groupBy("centroid_id").agg(count(lit(1)).as("n"))
        .orderBy("centroid_id")
    },

    // ---- k-means assignment step ----
    // every embedding assigned to its nearest of 8 deterministic seed
    // centroids (vec_id < 8) by cosine (Similarity.assignToCentroids:
    // broadcast centroids, no corpus shuffle before the map-combinable
    // argmax). Cosines round 6 d.p. before ranking; ties → lowest
    // centroid.
    "s13_kmeans_assign" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 8),
        |s AS (SELECT e.vec_id, c.centroid_id,
        |    round(list_cosine_similarity(e.v, c.cv), 6) + 0.0::DOUBLE AS sim
        |  FROM e, c)
        |SELECT vec_id, centroid_id, sim FROM s
        |QUALIFY row_number() OVER (
        |  PARTITION BY vec_id ORDER BY sim DESC, centroid_id) = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
      Similarity.assignToCentroids(e, cent).orderBy("vec_id")
    }
  )
}
