package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextFunctions
import graft.plans.FanOut
import org.apache.spark.sql.functions._

/** Probe queries for the [[Corpus]] operators (driver contract — one
  * `queries` entry + DuckDB oracle twin per operator).
  *
  * The corpus tables carry single-line texts, so the line-dedup probe
  * first derives a deterministic multi-line corpus: the normalized word
  * stream re-joined in groups of 6 with '\n' — both engines build the
  * byte-identical string, and the aligned 6-word lines genuinely repeat
  * across documents (measured ~10% duplicated-line instances at
  * sf0.01). The OPERATOR is delimiter-agnostic and is exercised on a
  * real multi-line fixture in CorpusSpec.
  */
object CorpusQueries {

  /** Shared word-split (mirrors TextFunctions.words). */
  private val sqlWords =
    "list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'), x -> x <> '')"

  def defs: Map[String, QueryDef] = Map(
    "t21_unigram_logprob" -> QueryDef.sql(
      s"""WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest($sqlWords) AS term FROM documents)
        |  GROUP BY doc_id, term),
        |cf AS (SELECT doc_id, tf, sum(tf) OVER (PARTITION BY term) AS cf FROM tf),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tf)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  round(sum(tf * -ln(CAST(cf AS DOUBLE) / total)), 2) AS nll,
        |  round(sum(tf * -ln(CAST(cf AS DOUBLE) / total)), 2)
        |    / CAST(sum(tf) AS BIGINT) AS avg_nll
        |FROM cf, tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Corpus.unigramLogProb(Tables.documents(s, d)).orderBy("doc_id")
    },

    "t22_line_dedup" -> QueryDef.sql(
      s"""WITH ws AS (
        |  SELECT doc_id, $sqlWords AS ws FROM documents),
        |lined AS (
        |  SELECT doc_id, array_to_string(list_transform(
        |      range(CAST(ceil(len(ws) / 6.0) AS BIGINT)),
        |      i -> array_to_string(ws[i*6+1:i*6+6], ' ')), chr(10)) AS text
        |  FROM ws),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, chr(10))) AS line,
        |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
        |  FROM lined),
        |dup AS (
        |  SELECT line FROM lines WHERE trim(line) <> ''
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 2)
        |SELECT l.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(count(d.line) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(l.line, chr(10) ORDER BY l.pos)
        |             FILTER (WHERE d.line IS NULL), '') AS clean_text
        |FROM lines l LEFT JOIN dup d ON l.line = d.line
        |GROUP BY l.doc_id
        |ORDER BY l.doc_id""".stripMargin) { (s, d) =>
      val ws = TextFunctions.words(col("text"))
      val lined = when(size(ws) === 0, lit("")).otherwise(
        concat_ws("\n", transform(
          sequence(lit(0L), ceil(size(ws).cast("double") / 6.0).cast("long") - 1),
          i => concat_ws(" ", slice(ws, (i * 6 + 1).cast("int"), lit(6))))))
      Corpus.lineDedup(
          FanOut.scan(Tables.documents(s, d))
            .select(col("doc_id"), lined.as("text")),
          minDocs = 2)
        .orderBy("doc_id")
    },

    // dataset-version diff: two snapshots derived from the documents
    // table by the engine-portable md5 permille gate on the id (A = 90%
    // low gate, B = 90% high gate, a 10% mid-band re-edited in B), so
    // both engines build byte-identical snapshots and every status leg
    // (added / removed / changed / unchanged) is populated.
    "d19_snapshot_diff" -> QueryDef.sql(
      """WITH g AS (
        |  SELECT doc_id, text,
        |    ('0x' || substring(md5(doc_id::VARCHAR || '#diff'), 1, 8))::UBIGINT
        |      % 1000 AS u
        |  FROM documents),
        |a AS (SELECT doc_id, md5(text) AS h FROM g WHERE u < 900),
        |b AS (SELECT doc_id,
        |        md5(CASE WHEN u BETWEEN 450 AND 549 THEN text || ' [rev2]'
        |                 ELSE text END) AS h
        |      FROM g WHERE u >= 100)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.h IS NOT DISTINCT FROM b.h THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      def u = conv(substring(
          md5(concat(col("doc_id").cast("string"), lit("#diff"))), 1, 8),
        16, 10).cast("long") % 1000
      val a = docs.filter(u < 900).select(col("doc_id"), col("text"))
      val b = docs.filter(u >= 100).select(col("doc_id"),
        when(u.between(450, 549), concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      Corpus.snapshotDiff(a, b).orderBy("doc_id")
    },

    "t23_top_bigrams" -> QueryDef.sql(
      s"""WITH sh AS (
        |  SELECT CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |              WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
        |              ELSE list_transform(range(len(ws) - 1),
        |                     i -> ws[i+1] || ' ' || ws[i+2]) END AS g
        |  FROM (SELECT $sqlWords AS ws FROM documents))
        |SELECT u.ngram AS ngram, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(g) AS ngram FROM sh) u
        |GROUP BY u.ngram
        |ORDER BY cnt DESC, ngram
        |LIMIT 50""".stripMargin) { (s, d) =>
      Corpus.topNgrams(Tables.documents(s, d), n = 2, k = 50)
    },

    "s8_knn_classify" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id < 150),
        |top AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, n.label AS nlabel,
        |         round(list_cosine_similarity(q.v, n.v), 6) AS sim,
        |         n.vec_id AS nid
        |  FROM e q JOIN e n ON q.vec_id <> n.vec_id
        |  QUALIFY row_number() OVER (
        |    PARTITION BY q.vec_id ORDER BY sim DESC, n.vec_id) <= 5),
        |votes AS (
        |  SELECT qid, qlabel, nlabel, count(*) AS votes
        |  FROM top GROUP BY qid, qlabel, nlabel)
        |SELECT qid AS vec_id, qlabel AS label, nlabel AS pred_label,
        |       CAST(votes AS BIGINT) AS votes
        |FROM votes
        |QUALIFY row_number() OVER (
        |  PARTITION BY qid ORDER BY votes DESC, nlabel) = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      Corpus.knnClassify(Tables.embeddings(s, d), k = 5, idCap = 150L)
        .orderBy("vec_id")
    },

    // Retrieval eval (Corpus.retrievalEval): per-query hits@10,
    // recall@10 (min(k, #relevant) denominator) and reciprocal rank,
    // relevance = shared label. Cosines round 6 d.p. BEFORE ranking;
    // recall/rr are identical-operand quotients — unrounded.
    "s11_retrieval_eval" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |lc AS (SELECT label, count(*) AS n FROM e GROUP BY label),
        |top AS (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, n.label AS nlabel,
        |         n.vec_id AS nid,
        |         round(list_cosine_similarity(n.v, q.v), 6) AS sim
        |  FROM e q JOIN e n ON n.vec_id <> q.vec_id
        |  WHERE q.vec_id < 20),
        |rk AS (SELECT *, row_number() OVER (
        |         PARTITION BY qid ORDER BY sim DESC, nid) AS rank FROM top),
        |m AS (
        |  SELECT qid, qlabel,
        |    sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS hits,
        |    min(CASE WHEN nlabel = qlabel THEN rank END) AS first_rel
        |  FROM rk WHERE rank <= 10 GROUP BY qid, qlabel)
        |SELECT m.qid AS vec_id, m.qlabel AS label, CAST(hits AS BIGINT) AS hits,
        |  CAST(hits AS DOUBLE) / CAST(least(10, lc.n - 1) AS DOUBLE) AS recall_k,
        |  coalesce(1.0::DOUBLE / CAST(first_rel AS DOUBLE), 0.0::DOUBLE) AS rr
        |FROM m JOIN lc ON lc.label = m.qlabel
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      Corpus.retrievalEval(Tables.embeddings(s, d), queryCap = 20L, k = 10)
        .orderBy("vec_id")
    },

    "s9_hard_negatives" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |         CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings)
        |SELECT q.vec_id AS qid, q.label AS qlabel, n.vec_id AS neg_id,
        |       n.label AS neg_label, round(list_cosine_similarity(n.v, q.v), 6) AS sim
        |FROM e q JOIN e n ON n.label <> q.label
        |WHERE q.vec_id < 10
        |QUALIFY row_number() OVER (
        |  PARTITION BY q.vec_id ORDER BY sim DESC, n.vec_id) <= 5
        |ORDER BY qid, sim DESC, neg_id""".stripMargin) { (s, d) =>
      Corpus.hardNegatives(Tables.embeddings(s, d), queryCap = 10L, k = 5)
        .orderBy(col("qid"), col("sim").desc, col("neg_id"))
    },

    // quality formula CTEs mirror t5_quality_lang (TextStats.compute)
    "t25_source_report" -> QueryDef.sql(
      s"""WITH base AS (
        |  SELECT source, length(text) AS len, $sqlWords AS ws,
        |    len(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{}-]')) AS punct
        |  FROM documents),
        |st AS (
        |  SELECT source, CAST(len(ws) AS BIGINT) AS n_words,
        |    round((least(len / 500.0, 1.0)
        |      + least((CASE WHEN len(ws) = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(ws, x -> list_contains(
        |            ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], x))) AS DOUBLE) / len(ws) END) * 4.0, 1.0)
        |      + CASE WHEN (CASE WHEN len = 0 THEN 0.0 ELSE CAST(punct AS DOUBLE) / len END) > 0.3 THEN 0.0
        |             ELSE 1.0 - (CASE WHEN len = 0 THEN 0.0 ELSE CAST(punct AS DOUBLE) / len END) END
        |      + CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END) < 2.0
        |          OR (CASE WHEN len(ws) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END) > 12.0
        |          THEN 0.2 ELSE 1.0 END) / 4.0, 6) AS q,
        |    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','ein','mit','zu'], x))) AS de,
        |    len(list_filter(ws, x -> list_contains(['the','and','is','of','to','in','that','it','with'], x))) AS en,
        |    len(list_filter(ws, x -> list_contains(['el','la','los','las','es','de','que','y','en'], x))) AS es,
        |    len(list_filter(ws, x -> list_contains(['le','la','les','est','et','des','une','que','dans'], x))) AS fr,
        |    len(list_filter(ws, x -> list_contains(['de','shi','le','bu','wo','zai','you','ren','ta'], x))) AS zh
        |  FROM base),
        |stats AS (
        |  SELECT source, n_words, q,
        |    CASE WHEN greatest(de, en, es, fr, zh) = 0 THEN 'und'
        |         WHEN de = greatest(de, en, es, fr, zh) THEN 'de'
        |         WHEN en = greatest(de, en, es, fr, zh) THEN 'en'
        |         WHEN es = greatest(de, en, es, fr, zh) THEN 'es'
        |         WHEN fr = greatest(de, en, es, fr, zh) THEN 'fr'
        |         ELSE 'zh' END AS lang_pred
        |  FROM st)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  round(sum(q), 2) AS quality_sum,
        |  CAST(count(*) FILTER (WHERE q < 0.5) AS BIGINT) AS low_quality_docs,
        |  CAST(count(DISTINCT lang_pred) AS BIGINT) AS n_langs,
        |  round(sum(q), 2) / CAST(count(*) AS BIGINT) AS avg_quality,
        |  CAST(sum(n_words) AS DOUBLE) / count(*) AS avg_tokens
        |FROM stats
        |GROUP BY source
        |ORDER BY source""".stripMargin) { (s, d) =>
      Corpus.sourceReport(Tables.documents(s, d)).orderBy("source")
    },

    // Per-source unigram KL drift vs the corpus blend (Corpus.sourceKl):
    // exact integer counts, one fixed double tree per term contribution,
    // 4-d.p.-rounded cross-row sum (+0.0 −0.0 normalization) — the
    // t21/t24 ln recipe at KL's O(1) magnitudes.
    "t34_source_kl" -> QueryDef.sql(
      s"""WITH tf AS (
        |  SELECT source, term, count(*) AS c_st
        |  FROM (SELECT source, unnest($sqlWords) AS term FROM documents)
        |  GROUP BY source, term),
        |ct AS (SELECT term, sum(c_st) AS c_t FROM tf GROUP BY term),
        |cs AS (SELECT source, sum(c_st) AS c_s FROM tf GROUP BY source),
        |tot AS (SELECT sum(c_st) AS c_tot FROM tf)
        |SELECT tf.source, CAST(max(cs.c_s) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_terms,
        |  round(sum(CAST(c_st AS DOUBLE) / CAST(cs.c_s AS DOUBLE)
        |    * ln(CAST(c_st AS DOUBLE) * CAST(c_tot AS DOUBLE)
        |         / (CAST(cs.c_s AS DOUBLE) * CAST(ct.c_t AS DOUBLE)))), 4)
        |    + 0.0::DOUBLE AS kl
        |FROM tf JOIN ct USING (term) JOIN cs USING (source), tot
        |GROUP BY tf.source
        |ORDER BY source""".stripMargin) { (s, d) =>
      Corpus.sourceKl(Tables.documents(s, d)).orderBy("source")
    },

    // Quality-quantile curriculum schedule (Corpus.qualityCurriculum):
    // 4 phases by the t5 quality score (rounded 6 d.p., doc-id
    // tiebreak), assigned via the SLICED percent rank (the 100 TB
    // machinery — the oracle's row_number()/count(*) is the semantic
    // twin, Scale.groupPercentRank the engine shape) with
    // phase = min(3, ⌊pct·4⌋) + 1 in identical double arithmetic.
    // Counts/token sums are exact BIGINTs; the cumulative budget runs
    // over 4 rows.
    "t54_quality_curriculum" -> QueryDef.sql(
      s"""WITH base AS (
        |  SELECT doc_id, length(text) AS len, $sqlWords AS ws,
        |    len(regexp_extract_all(text, '[.,!?;:''"()\\[\\]{}-]')) AS punct,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+'))
        |       + len(regexp_extract_all(text, '[0-9]'))
        |       + len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n\\x0b\\f\\r]')) AS BIGINT) AS token_est
        |  FROM documents),
        |qd AS (
        |  SELECT doc_id, token_est,
        |    round((least(len / 500.0, 1.0)
        |      + least((CASE WHEN len(ws) = 0 THEN 0.0
        |          ELSE CAST(len(list_filter(ws, x -> list_contains(
        |            ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by','from','that','this'], x))) AS DOUBLE) / len(ws) END) * 4.0, 1.0)
        |      + CASE WHEN (CASE WHEN len = 0 THEN 0.0 ELSE CAST(punct AS DOUBLE) / len END) > 0.3 THEN 0.0
        |             ELSE 1.0 - (CASE WHEN len = 0 THEN 0.0 ELSE CAST(punct AS DOUBLE) / len END) END
        |      + CASE WHEN (CASE WHEN len(ws) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END) < 2.0
        |          OR (CASE WHEN len(ws) = 0 THEN 0.0
        |            ELSE CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws) END) > 12.0
        |          THEN 0.2 ELSE 1.0 END) / 4.0, 6) AS q
        |  FROM base),
        |r AS (
        |  SELECT token_est, q,
        |    CAST(row_number() OVER (ORDER BY q, doc_id) - 1 AS DOUBLE)
        |      / CAST(count(*) OVER () - 1 AS DOUBLE) AS pct
        |  FROM qd),
        |p AS (SELECT CAST(least(3.0::DOUBLE, floor(pct * 4)) AS INTEGER) + 1
        |        AS phase, token_est, q FROM r)
        |SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(token_est) AS BIGINT) AS n_tokens,
        |  min(q) AS q_min, max(q) AS q_max,
        |  CAST(sum(sum(token_est)) OVER (ORDER BY phase
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_tokens
        |FROM p GROUP BY phase ORDER BY phase""".stripMargin) { (s, d) =>
      Corpus.qualityCurriculum(Tables.documents(s, d), phases = 4)
    },

    "t26_source_overlap" -> QueryDef.sql(
      s"""WITH sh AS (
        |  SELECT DISTINCT source AS src, g FROM (
        |    SELECT source, unnest(
        |      CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[])
        |           WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
        |           ELSE list_transform(range(len(ws) - 2),
        |                  i -> ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]) END) AS g
        |    FROM (SELECT source, $sqlWords AS ws FROM documents))),
        |sizes AS (SELECT src, count(*) AS sz FROM sh GROUP BY src)
        |SELECT a.src AS src_a, b.src AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_ngrams,
        |  CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
        |  CAST(count(*) AS DOUBLE) / least(sa.sz, sb.sz) AS overlap_coef
        |FROM sh a JOIN sh b ON a.g = b.g AND a.src < b.src
        |JOIN sizes sa ON sa.src = a.src
        |JOIN sizes sb ON sb.src = b.src
        |GROUP BY a.src, b.src, sa.sz, sb.sz
        |ORDER BY src_a, src_b""".stripMargin) { (s, d) =>
      Corpus.shingleOverlapMatrix(Tables.documents(s, d), n = 3)
        .orderBy("src_a", "src_b")
    },

    // winsorized per-source lengths: exact percentile_cont parity is
    // proven by a14; round 4 absorbs interpolation ulps
    "t30_winsorize" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT source,
        |    percentile_cont(0.05) WITHIN GROUP (ORDER BY n_chars) AS plo,
        |    percentile_cont(0.95) WITHIN GROUP (ORDER BY n_chars) AS phi
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars,
        |  round(least(greatest(CAST(d.n_chars AS DOUBLE), plo), phi), 4)
        |    AS n_chars_w
        |FROM documents d JOIN p USING (source)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      Corpus.winsorize(Tables.documents(s, d), "source", "n_chars",
          outCol = "n_chars_w")
        .select(col("doc_id"), col("source"), col("n_chars"),
          round(col("n_chars_w"), 4).as("n_chars_w"))
        .orderBy("doc_id")
    },

    // NB quality classifier: deterministic split (t19 gate), train-side
    // per-term smoothed log-odds, held-out per-instance scoring. The
    // decision reuses the ROUNDED score so both columns flip together if
    // a rounding boundary is ever straddled (never observed at probe SF)
    "t27_nb_classifier" -> QueryDef.sql(
      s"""WITH toks AS (
        |  SELECT doc_id, source, unnest($sqlWords) AS term,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#42'), 1, 8) AS UBIGINT) % 1000 < 700 AS train
        |  FROM documents),
        |vocab AS (
        |  SELECT term,
        |    sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS pcnt,
        |    sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS ncnt
        |  FROM toks WHERE train GROUP BY term),
        |tot AS (SELECT sum(pcnt) AS ptot, sum(ncnt) AS ntot,
        |               count(*) AS vsize FROM vocab),
        |inst AS (
        |  SELECT t.doc_id, t.source,
        |    coalesce(
        |      ln(CAST(v.pcnt + 1 AS DOUBLE) / CAST(ptot + vsize AS DOUBLE))
        |        - ln(CAST(v.ncnt + 1 AS DOUBLE) / CAST(ntot + vsize AS DOUBLE)),
        |      ln(CAST(ntot + vsize AS DOUBLE)) - ln(CAST(ptot + vsize AS DOUBLE))) AS w
        |  FROM toks t LEFT JOIN vocab v USING (term), tot
        |  WHERE NOT t.train)
        |SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
        |  round(sum(w), 2) + 0.0::DOUBLE AS nb_logodds,
        |  round(sum(w), 2) + 0.0::DOUBLE > 0 AS pred_target
        |FROM inst
        |GROUP BY doc_id, source
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Corpus.nbClassifierScore(Tables.documents(s, d), targetSource = "src0",
        trainPermille = 700).orderBy("doc_id")
    },

    "t24_dsir_weights" -> QueryDef.sql(
      s"""WITH toks AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(term), 1, 8))::UBIGINT % 64 AS BIGINT) AS b
        |  FROM (SELECT doc_id, source, unnest($sqlWords) AS term FROM documents)),
        |tf AS (SELECT doc_id, source, b, count(*) AS tf
        |       FROM toks GROUP BY doc_id, source, b),
        |bstats AS (
        |  SELECT b,
        |    sum(CASE WHEN source = 'src0' THEN tf ELSE 0 END) AS tcnt,
        |    sum(CASE WHEN source <> 'src0' THEN tf ELSE 0 END) AS rcnt
        |  FROM tf GROUP BY b),
        |tot AS (SELECT sum(tcnt) AS ttot, sum(rcnt) AS rtot FROM bstats)
        |SELECT tf.doc_id, tf.source, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  round(sum(CAST(tf.tf AS DOUBLE) * (
        |      ln(CAST(tcnt + 1 AS DOUBLE) / CAST(ttot + 64 AS DOUBLE))
        |    - ln(CAST(rcnt + 1 AS DOUBLE) / CAST(rtot + 64 AS DOUBLE)))), 2)
        |    + 0.0::DOUBLE AS dsir_logw
        |FROM tf JOIN bstats USING (b), tot
        |GROUP BY tf.doc_id, tf.source
        |ORDER BY tf.doc_id""".stripMargin) { (s, d) =>
      Corpus.dsirWeights(Tables.documents(s, d), targetSource = "src0", buckets = 64)
        .orderBy("doc_id")
    },

    // PMI collocations (Corpus.pmiBigrams): true adjacent bigrams only
    // (short docs excluded BEFORE the fused shingle expr), exact integer
    // counts, one fixed left-associated double tree inside ln, 2-d.p.
    // round + 0.0 normalization (the t21/t24 ln recipe).
    "t33_pmi_bigrams" -> QueryDef.sql(
      s"""WITH w AS (SELECT $sqlWords AS ws FROM documents),
        |big AS (
        |  SELECT unnest(list_transform(range(len(ws) - 1),
        |    i -> ws[i+1] || ' ' || ws[i+2])) AS ngram
        |  FROM w WHERE len(ws) >= 2),
        |bc AS (SELECT ngram, count(*) AS cnt FROM big GROUP BY ngram),
        |bt AS (SELECT sum(cnt) AS b FROM bc),
        |uc AS (SELECT w AS word, count(*) AS c
        |       FROM (SELECT unnest(ws) AS w FROM w) GROUP BY word),
        |ut AS (SELECT sum(c) AS n FROM uc)
        |SELECT bc.ngram, CAST(bc.cnt AS BIGINT) AS cnt,
        |  round(ln((CAST(bc.cnt AS DOUBLE) * CAST(n AS DOUBLE)
        |            * CAST(n AS DOUBLE))
        |         / (CAST(b AS DOUBLE) * CAST(cx.c AS DOUBLE)
        |            * CAST(cy.c AS DOUBLE))), 2) + 0.0::DOUBLE AS pmi
        |FROM bc
        |JOIN uc cx ON cx.word = string_split(bc.ngram, ' ')[1]
        |JOIN uc cy ON cy.word = string_split(bc.ngram, ' ')[2],
        |bt, ut
        |WHERE bc.cnt >= 5
        |ORDER BY ngram""".stripMargin) { (s, d) =>
      Corpus.pmiBigrams(Tables.documents(s, d), minCount = 5)
        .orderBy("ngram")
    },

    // Inverted-index build (Relevance.invertedIndex): term → df, cf, and
    // the doc_id-ordered "id:tf" posting string. minDf=5 prunes the
    // hapax tail. Postings serialize identically on both engines
    // (integer ++ ':' concat, comma join, doc_id order).
    "t31_posting_lists" -> QueryDef.sql(
      s"""WITH w AS (
        |  SELECT doc_id, unnest($sqlWords) AS term FROM documents),
        |tf AS (SELECT term, doc_id, count(*) AS tf FROM w GROUP BY 1, 2)
        |SELECT term, CAST(count(*) AS BIGINT) AS df,
        |  CAST(sum(tf) AS BIGINT) AS cf,
        |  string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        |FROM tf GROUP BY term HAVING count(*) >= 5
        |ORDER BY term""".stripMargin) { (s, d) =>
      Relevance.invertedIndex(Tables.documents(s, d), minDf = 5)
        .orderBy("term")
    }
  )
}
