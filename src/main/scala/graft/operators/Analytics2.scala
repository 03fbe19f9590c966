package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytics batch (round 10): cohort LTV curves, market-basket
  * association rules, conversion-lag percentiles, one-pass column
  * profiling, and forward-fill (LOCF). All five oracle-checked.
  *
  * Determinism discipline (the e5/a23 rules): every emitted float is a
  * single IEEE division of exactly-representable integers (identical
  * dividend/divisor on both engines ⇒ bit-identical quotient); counts
  * and cents stay BIGINT end to end; percentiles are DISCRETE order
  * statistics selected by integer-arithmetic rank conditions (never
  * interpolated — a p50 of microsecond-scale values rounds on an ulp
  * boundary, the a14 trap at 1e11 magnitude).
  */
object Analytics2 {

  private val WeekUs = 604800000000L

  /** Exact integer floor of (ts − t0) in weeks: (d − d mod w) / w is an
    * exact multiple so the double quotient is exact (the e2 idiom). */
  private def weekOffset(ts: org.apache.spark.sql.Column,
      t0: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d = unix_micros(ts) - unix_micros(t0)
    ((d - pmod(d, lit(WeekUs))) / lit(WeekUs)).cast("long")
  }

  /** Weekly-cohort cumulative revenue ("LTV curve"): users cohorted by
    * the ISO week of their first event; purchase cents accumulate over
    * integer week offsets from that first event; ltv = cumulative cents
    * over cohort size. The cumulative window rides the (cohort, offset)
    * GRID — bounded by calendar weeks squared, never event volume (the
    * w10 argument) — and cohort sizes join back broadcast-sized. Weeks
    * with zero purchases are absent from the curve by design (the
    * cumulative value at the next present offset is still correct).
    */
  def cohortLtv(events: DataFrame): DataFrame = {
    val first = events.groupBy("user_id").agg(min(col("ts")).as("__t0"))
    val sizes = first
      .groupBy(to_date(date_trunc("week", col("__t0"))).as("cohort_week"))
      .agg(count(lit(1)).as("users"))
    val grid = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        round(col("value") * 100).cast("long").as("__cents"))
      .join(first, Seq("user_id"))
      .groupBy(to_date(date_trunc("week", col("__t0"))).as("cohort_week"),
        weekOffset(col("ts"), col("__t0")).as("week_offset"))
      .agg(sum(col("__cents")).as("wk_cents"))
    val cum = Window.partitionBy(col("cohort_week")).orderBy(col("week_offset"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.withColumn("cum_cents", sum(col("wk_cents")).over(cum))
      .join(sizes, Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"),
        col("users").cast("long").as("users"), col("cum_cents"),
        (col("cum_cents").cast("double") / col("users")).as("ltv_cents"))
  }

  /** Market-basket association rules over per-order DISTINCT item sets:
    * for every UNORDERED pair with ≥ `minSupport` shared orders, both
    * directed rules with confidence = supp(a,b)/supp(a) and lift =
    * N·supp(a,b)/(supp(a)·supp(b)). Pair supports come from the g2/t26
    * in-row pair explode (bounded by order size — no order-key
    * self-join shuffle); item supports are one hash agg joined back on
    * the item key. All score inputs are exact BIGINTs (products stay
    * < 2^53 by a guard), so the emitted doubles are single divisions of
    * identical operands — bit-identical cross-engine, no rounding.
    */
  def associationRules(lineitem: DataFrame, minSupport: Int = 2): DataFrame = {
    val op = lineitem.select(col("l_orderkey").as("oid"),
      col("l_partkey").as("item")).distinct()
    val n = op.select(countDistinct(col("oid")).as("__n"))
    val itemSupp = op.groupBy(col("item")).agg(count(lit(1)).as("isupp"))
    val pairs = op.groupBy("oid")
      .agg(sort_array(collect_set(col("item"))).as("ps"))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
          struct(x.as("a"), y.as("b")))))).as("e"))
      .groupBy(col("e.a").as("a"), col("e.b").as("b"))
      .agg(count(lit(1)).as("psupp"))
      .filter(col("psupp") >= minSupport)
    // supports join the UNDIRECTED pair once; both directed rules then
    // explode in-row (halves the join traffic vs unioning directions
    // first — the pair table crosses each support join a single time)
    pairs
      .join(itemSupp.select(col("item").as("a"), col("isupp").as("sa")),
        Seq("a"))
      .join(itemSupp.select(col("item").as("b"), col("isupp").as("sb")),
        Seq("b"))
      .join(broadcast(n))
      .select(col("psupp"), col("__n"), explode(array(
        struct(col("a").as("ante"), col("b").as("cons"),
          col("sa").as("asupp"), col("sb").as("csupp")),
        struct(col("b").as("ante"), col("a").as("cons"),
          col("sb").as("asupp"), col("sa").as("csupp")))).as("e"))
      .select(col("e.ante").as("ante"), col("e.cons").as("cons"),
        col("psupp"), col("e.asupp").as("asupp"), col("e.csupp").as("csupp"),
        col("__n"))
      // 2^53 exactness guard: lift operands must stay exactly
      // representable or the "identical operands" argument dies
      .select(col("ante"), col("cons"), col("psupp"),
        col("asupp").cast("long").as("asupp"),
        col("csupp").cast("long").as("csupp"),
        (col("psupp").cast("double") / col("asupp")).as("confidence"),
        when(col("__n") * col("psupp") < lit(1L << 53) &&
             col("asupp") * col("csupp") < lit(1L << 53),
          (col("__n") * col("psupp")).cast("double") /
            (col("asupp") * col("csupp")))
          .otherwise(raise_error(lit(
            "associationRules: lift operands exceed exact-double range")))
          .as("lift"))
  }

  /** First-view → first-purchase conversion lag per weekly cohort:
    * converters are users whose first purchase follows their first view;
    * p50/p90 are DISCRETE order statistics (smallest lag whose rank r
    * satisfies 2r ≥ n resp. 10r ≥ 9n — pure integer conditions, the
    * percentile_disc definition with zero float boundary risk), and the
    * conversion rate is an exact-count quotient. One agg per user, one
    * cohort-grid window for ranks, one tiny agg.
    */
  def conversionLag(events: DataFrame): DataFrame = {
    val firsts = events
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts"))).as("__fv"),
        min(when(col("event_type") === "purchase", col("ts"))).as("__fp"),
        min(col("ts")).as("__t0"))
    val conv = firsts
      .filter(col("__fv").isNotNull && col("__fp").isNotNull &&
        col("__fp") > col("__fv"))
      .select(to_date(date_trunc("week", col("__t0"))).as("cohort_week"),
        (unix_micros(col("__fp")) - unix_micros(col("__fv"))).as("lag_us"),
        col("user_id"))
    val w = Window.partitionBy(col("cohort_week"))
      .orderBy(col("lag_us"), col("user_id"))
    val wAll = Window.partitionBy(col("cohort_week"))
    conv
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(wAll))
      .groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("converters"),
        min(when(col("__rn") * 2 >= col("__n"), col("lag_us")))
          .as("p50_lag_us"),
        min(when(col("__rn") * 10 >= col("__n") * 9, col("lag_us")))
          .as("p90_lag_us"))
  }

  /** One-pass column profile (data-quality report): row count, null
    * count, distinct count, min/max, and exact cents sum per profiled
    * numeric column, via an in-row `stack` unpivot feeding ONE hash agg
    * — a single scan regardless of column count (the per-column UNION
    * formulation scans once per column). distinct-count shuffles
    * (col_name, value) pairs only.
    */
  def profileColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    val stackArgs = cols.map(c => s"'$c', $c").mkString(", ")
    df.select(expr(
        s"stack(${cols.size}, $stackArgs) as (col_name, v)"))
      .groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        countDistinct(col("v")).cast("long").as("n_distinct"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"),
        sum(round(col("v") * 100).cast("long")).as("sum_cents"))
  }

  /** Consecutive-rise run detection (CEP-lite trend flagging) on the
    * hourly event-count series: a "rise" is an hour whose count strictly
    * exceeds the PREVIOUS PRESENT hour's (row-order lag on the grid —
    * missing hours splice, a documented choice matching how the series
    * is actually stored), and runs of ≥ `minLen` consecutive rises
    * surface as (type, run_start, run_len). Gaps-and-islands on the
    * rise flag: island id = overall rank − rank-within-rises, both
    * windows riding ONE (type, hour) sort of the GRID (calendar-bounded,
    * never event volume — the w10 argument).
    */
  def risingRuns(events: DataFrame, minLen: Int = 3): DataFrame = {
    val byHour = Window.partitionBy(col("event_type")).orderBy(col("hour"))
    val grid = events
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val flagged = grid
      .withColumn("__rise", col("cnt") > lag(col("cnt"), 1).over(byHour))
      .withColumn("__rn", row_number().over(byHour))
      .filter(col("__rise"))
      .withColumn("__grp", col("__rn") - row_number().over(byHour))
    flagged
      .groupBy(col("event_type"), col("__grp"))
      .agg(min(col("hour")).as("run_start"),
        count(lit(1)).cast("long").as("run_len"))
      .filter(col("run_len") >= minLen)
      .select(col("event_type"), col("run_start"), col("run_len"))
  }

  /** BPE oracle building blocks (DuckDB dialect), shared by t42 (train)
    * and t45 (encode): the char-split vocabulary CTE, the per-round
    * pair-count + argmax CTEs, and the greedy merge-application CTE.
    * Every vocabulary generation is MATERIALIZED (the g4 lesson:
    * inlined iterative CTEs re-evaluate exponentially).
    */
  private val BpeW0Cte =
    """w0 AS MATERIALIZED (
      |  SELECT list_transform(range(1, length(w)+1),
      |           i -> substring(w, i, 1)) AS syms, cnt
      |  FROM (SELECT w, count(*) AS cnt FROM (
      |          SELECT unnest(string_split_regex(
      |            regexp_replace(lower(text), '^\s+|\s+$', '', 'g'),
      |            '\s+')) AS w
      |          FROM documents)
      |        WHERE length(w) > 0 GROUP BY w))""".stripMargin

  private def bpePairCte(n: Int, src: String) =
    s"""p$n AS (SELECT p.a AS a, p.b AS b, sum(cnt) AS pair_cnt FROM (
       |    SELECT cnt, unnest(list_transform(syms[:len(syms)-1],
       |      (x, i) -> {'a': x, 'b': syms[i+1]})) AS p
       |    FROM $src WHERE len(syms) > 1) GROUP BY 1, 2),
       |m$n AS MATERIALIZED (SELECT a, b, pair_cnt FROM p$n
       |  ORDER BY pair_cnt DESC, a, b LIMIT 1)""".stripMargin

  private def bpeApplyCte(n: Int, src: String) =
    s"""w$n AS MATERIALIZED (
       |  SELECT list_reduce(list_transform(syms, s -> [s]),
       |    (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = m$n.a
       |        AND x[1] = m$n.b
       |      THEN list_append(acc[:len(acc)-1], m$n.a || m$n.b)
       |      ELSE list_concat(acc, x) END) AS syms, cnt
       |  FROM $src CROSS JOIN m$n)""".stripMargin

  /** Unrolled personalized-PageRank oracle over the g1 transition graph:
    * r₀ = p (uniform over `seeds`), then `rounds` of
    * r' = (1−d)·p + d·(contrib + dangling_mass·p), every round rounded
    * to 12 d.p. (the g1 re-sync discipline). (1−d) is computed IN-ENGINE
    * as `1.0::DOUBLE − 0.85::DOUBLE` — the parsed literal `0.15` is a
    * DIFFERENT double than the computed difference, the g1 trap.
    */
  private def pprOracle(seeds: Seq[String], rounds: Int): String = {
    val seedList = seeds.map(s => s"'$s'").mkString(", ")
    def p(node: String) =
      s"(CASE WHEN $node IN ($seedList) THEN 1.0::DOUBLE / ${seeds.size} " +
        "ELSE 0.0::DOUBLE END)"
    val sb = new StringBuilder
    sb ++= """WITH e0 AS (
      |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      |  FROM events),
      |nx AS (
      |  SELECT event_type,
      |    lead(event_type) OVER w AS next_type,
      |    epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
      |  FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |edges AS (
      |  SELECT event_type AS src, next_type AS dst,
      |    CAST(count(*) AS DOUBLE) AS w
      |  FROM nx WHERE next_type IS NOT NULL AND gap_us <= 1800000000
      |  GROUP BY 1, 2),
      |nodes AS (SELECT src AS node FROM edges
      |          UNION SELECT dst FROM edges),
      |ow AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
      |""".stripMargin
    sb ++= s"r0 AS (SELECT node, ${p("node")} AS r FROM nodes)"
    for (i <- 1 to rounds) {
      sb ++= s""",
        |c$i AS (SELECT e.dst AS node, sum(r.r * e.w / ow.ow) AS contrib
        |       FROM edges e JOIN r${i - 1} r ON r.node = e.src
        |       JOIN ow ON ow.src = e.src
        |       GROUP BY e.dst),
        |d$i AS (SELECT coalesce(sum(r.r), 0.0::DOUBLE) AS mass
        |       FROM r${i - 1} r LEFT JOIN ow ON ow.src = r.node
        |       WHERE ow.src IS NULL),
        |r$i AS (SELECT n.node, round((1.0::DOUBLE - 0.85::DOUBLE)
        |         * ${p("n.node")}
        |         + 0.85::DOUBLE * (coalesce(c.contrib, 0.0::DOUBLE)
        |                           + d.mass * ${p("n.node")}), 12) AS r
        |       FROM nodes n LEFT JOIN c$i c ON c.node = n.node, d$i d)"""
        .stripMargin
    }
    sb ++= s"""
      |SELECT node, round(r, 6) AS ppr FROM r$rounds
      |ORDER BY node""".stripMargin
    sb.toString
  }

  def defs: Map[String, QueryDef] = Map(

    // ---- personalized PageRank (random walk with restart) ----
    "g6_personalized_pagerank" -> QueryDef.sql(
      pprOracle(Seq("view", "signup"), rounds = 5)) { (s, d) =>
      val edges = Behavior.eventTransitions(Tables.events(s, d),
          maxGapMinutes = 30)
        .select(col("from_type").as("src"), col("to_type").as("dst"),
          col("transitions").as("weight"))
      Graph.personalizedPageRank(edges, Seq("view", "signup"),
          iterations = 5)
        .select(col("node"), round(col("r"), 6).as("ppr"))
        .orderBy("node")
    },

    // ---- exact pairwise correlation matrix ----
    // ONE scan: all sums/squares/cross-products of the three bounded
    // integer-scaled measures (quantity; discount and tax in cents) as
    // EXACT BIGINTs, then each Pearson r derives through a fixed scalar
    // IEEE tree (cast-to-double of exact ints → one multiply, sqrt,
    // divide — identical operands ⇒ bit-identical, the e5/a23 rule;
    // never the engine-private corr() merge order). Exactness window:
    // n·Σx² < 2^53 holds to ~10¹² rows for these bounded measures —
    // the a23-style documented envelope, far past the probe scale.
    "a32_corr_matrix" -> QueryDef.sql(
      """WITH m AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |    CAST(round(l_tax * 100) AS BIGINT) AS tx
        |  FROM lineitem),
        |s AS (
        |  SELECT count(*) AS n,
        |    sum(q) AS sq, sum(dc) AS sd, sum(tx) AS st,
        |    sum(q * q) AS sqq, sum(dc * dc) AS sdd, sum(tx * tx) AS stt,
        |    sum(q * dc) AS sqd, sum(q * tx) AS sqt, sum(dc * tx) AS sdt
        |  FROM m)
        |SELECT pair, corr FROM (
        |  SELECT 'quantity_discount' AS pair,
        |    CAST(n * sqd - sq * sd AS DOUBLE) /
        |      sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
        |           * CAST(n * sdd - sd * sd AS DOUBLE)) AS corr FROM s
        |  UNION ALL
        |  SELECT 'quantity_tax',
        |    CAST(n * sqt - sq * st AS DOUBLE) /
        |      sqrt(CAST(n * sqq - sq * sq AS DOUBLE)
        |           * CAST(n * stt - st * st AS DOUBLE)) FROM s
        |  UNION ALL
        |  SELECT 'discount_tax',
        |    CAST(n * sdt - sd * st AS DOUBLE) /
        |      sqrt(CAST(n * sdd - sd * sd AS DOUBLE)
        |           * CAST(n * stt - st * st AS DOUBLE)) FROM s)
        |ORDER BY pair""".stripMargin) { (s, d) =>
      val m = Tables.lineitem(s, d).select(
        col("l_quantity").cast("long").as("q"),
        round(col("l_discount") * 100).cast("long").as("dc"),
        round(col("l_tax") * 100).cast("long").as("tx"))
      val agg = m.agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("dc")).as("sd"),
        sum(col("tx")).as("st"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("dc") * col("dc")).as("sdd"),
        sum(col("tx") * col("tx")).as("stt"),
        sum(col("q") * col("dc")).as("sqd"),
        sum(col("q") * col("tx")).as("sqt"),
        sum(col("dc") * col("tx")).as("sdt"))
      def corrOf(sxy: String, sx: String, sy: String, sxx: String,
          syy: String) =
        (col("n") * col(sxy) - col(sx) * col(sy)).cast("double") /
          sqrt((col("n") * col(sxx) - col(sx) * col(sx)).cast("double") *
            (col("n") * col(syy) - col(sy) * col(sy)).cast("double"))
      agg.select(explode(array(
          struct(lit("quantity_discount").as("pair"),
            corrOf("sqd", "sq", "sd", "sqq", "sdd").as("corr")),
          struct(lit("quantity_tax").as("pair"),
            corrOf("sqt", "sq", "st", "sqq", "stt").as("corr")),
          struct(lit("discount_tax").as("pair"),
            corrOf("sdt", "sd", "st", "sdd", "stt").as("corr"))))
          .as("e"))
        .select(col("e.pair").as("pair"), col("e.corr").as("corr"))
        .orderBy("pair")
    },

    // ---- two-stage prefix rerank (Matryoshka retrieval) ----
    "s18_prefix_rerank" -> QueryDef.sql(
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id = 0),
        |coarse AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev,
        |    round(list_cosine_similarity(
        |      CAST(embedding AS DOUBLE[])[1:16], qv[1:16]), 6) AS prefix_sim
        |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
        |  ORDER BY prefix_sim DESC, vec_id LIMIT 50)
        |SELECT vec_id,
        |  round(list_cosine_similarity(ev, (SELECT qv FROM q)), 6) AS sim,
        |  prefix_sim
        |FROM coarse
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin) { (s, d) =>
      Similarity.prefixRerank(Tables.embeddings(s, d), queryId = 0L)
    },

    // ---- consecutive-rise run detection ----
    "w14_rising_runs" -> QueryDef.sql(
      """WITH g AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |f AS (
        |  SELECT event_type, hour, cnt,
        |    cnt > lag(cnt) OVER w AS rise,
        |    row_number() OVER w AS rn
        |  FROM g WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
        |i AS (
        |  SELECT event_type, hour,
        |    rn - row_number() OVER (PARTITION BY event_type ORDER BY hour)
        |      AS grp
        |  FROM f WHERE rise)
        |SELECT event_type, min(hour) AS run_start,
        |  CAST(count(*) AS BIGINT) AS run_len
        |FROM i GROUP BY event_type, grp
        |HAVING count(*) >= 3
        |ORDER BY event_type, run_start""".stripMargin) { (s, d) =>
      risingRuns(Tables.events(s, d), minLen = 3)
        .orderBy("event_type", "run_start")
    },

    // ---- SCD2 point-in-time enrichment join ----
    // Each purchase enriched with the user's state (latest non-purchase
    // event type, consecutive-dedup'd) valid AT purchase time — the
    // warehouse PIT-join: fact ⋈ dimension-version-as-of-event-time.
    // Rides AsOf.asofJoin (union+window, ONE shuffle); dimension events
    // pre-dedup per (user, ts) by max event_id (the e6 tie rule — both
    // engines' as-ofs pick arbitrarily among exact-tie build rows).
    "j15_scd2_pit_join" -> QueryDef.sql(
      """WITH dd AS (
        |  SELECT user_id, ts, event_type FROM (
        |    SELECT user_id, ts, event_type, row_number() OVER (
        |        PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type <> 'purchase') WHERE rn = 1),
        |runs AS (
        |  SELECT user_id, event_type AS state, ts AS valid_from FROM (
        |    SELECT user_id, event_type, ts,
        |      lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |    FROM dd) WHERE prev IS NULL OR prev <> event_type),
        |p AS (SELECT user_id, event_id, ts,
        |        CAST(round(value * 100) AS BIGINT) AS cents
        |      FROM events WHERE event_type = 'purchase')
        |SELECT p.user_id, p.event_id, p.ts, p.cents, r.state AS asof_state
        |FROM p ASOF LEFT JOIN runs r
        |  ON p.user_id = r.user_id AND p.ts >= r.valid_from
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val dimEvents = e.filter(col("event_type") =!= "purchase")
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("user_id"), col("ts"))
          .orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1).drop("__rn")
      val dim = Behavior.scdIntervals(dimEvents)
        .select(col("user_id"), col("state"),
          col("valid_from").as("ts"))
      val fact = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          round(col("value") * 100).cast("long").as("cents"))
      AsOf.asofJoin(fact, dim, Seq("user_id"), "ts", Seq("state"))
        .select(col("user_id"), col("event_id"), col("ts"), col("cents"),
          col("asof_state"))
        .orderBy("event_id")
    },

    // ---- Benford first-digit profile (data-quality screen) ----
    // First significant digit via the INTEGER cents string — no
    // log10/pow float boundary (log10(1000) is not guaranteed exactly
    // 3.0 in both engines' libm; substring of an exact BIGINT is).
    "a31_benford" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           AS VARCHAR), 1, 1) AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT sum(n) AS total FROM c)
        |SELECT digit, CAST(n AS BIGINT) AS n, n::DOUBLE / total AS share
        |FROM c CROSS JOIN t
        |ORDER BY digit""".stripMargin) { (s, d) =>
      val digits = Tables.lineitem(s, d)
        .filter(col("l_extendedprice") > 0)
        .select(substring(round(col("l_extendedprice") * 100).cast("long")
          .cast("string"), 1, 1).as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
      digits.join(broadcast(digits.agg(sum(col("n")).as("__total"))))
        .select(col("digit"), col("n"),
          (col("n").cast("double") / col("__total")).as("share"))
        .orderBy("digit")
    },

    // ---- bag-semantics set operations ----
    // EXCEPT ALL / INTERSECT ALL keep multiplicities (multiset algebra —
    // the set-op rows u1/u2 cover only DISTINCT semantics). Partkeys of
    // high-quantity lines minus/intersect low-discount lines, with
    // duplicates preserved and the result counted per key so the output
    // carries the multiplicity explicitly.
    "u6_except_all" -> QueryDef.sql(
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT l_partkey FROM lineitem WHERE l_quantity >= 30
        |  EXCEPT ALL
        |  SELECT l_partkey FROM lineitem WHERE l_discount <= 0.02)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      l.filter(col("l_quantity") >= 30).select("l_partkey")
        .exceptAll(l.filter(col("l_discount") <= 0.02).select("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy("l_partkey")
    },

    "u7_intersect_all" -> QueryDef.sql(
      """SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM (
        |  SELECT l_partkey FROM lineitem WHERE l_quantity >= 30
        |  INTERSECT ALL
        |  SELECT l_partkey FROM lineitem WHERE l_discount <= 0.02)
        |GROUP BY l_partkey ORDER BY l_partkey""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
      l.filter(col("l_quantity") >= 30).select("l_partkey")
        .intersectAll(l.filter(col("l_discount") <= 0.02).select("l_partkey"))
        .groupBy("l_partkey").agg(count(lit(1)).as("n"))
        .orderBy("l_partkey")
    },

    // ---- weekly-cohort LTV curve ----
    "e17_cohort_ltv" -> QueryDef.sql(
      """WITH f AS (SELECT user_id, min(ts) AS t0 FROM events GROUP BY 1),
        |cs AS (SELECT CAST(date_trunc('week', t0) AS DATE) AS cohort_week,
        |         count(*) AS users FROM f GROUP BY 1),
        |p AS (SELECT CAST(date_trunc('week', f.t0) AS DATE) AS cohort_week,
        |    CAST((epoch_us(e.ts) - epoch_us(f.t0)
        |          - ((epoch_us(e.ts) - epoch_us(f.t0)) % 604800000000))
        |         / 604800000000 AS BIGINT) AS week_offset,
        |    CAST(round(e.value * 100) AS BIGINT) AS cents
        |  FROM events e JOIN f USING (user_id)
        |  WHERE e.event_type = 'purchase'),
        |g AS (SELECT cohort_week, week_offset, sum(cents) AS wk_cents
        |      FROM p GROUP BY 1, 2),
        |c AS (SELECT cohort_week, week_offset,
        |        CAST(sum(wk_cents) OVER (PARTITION BY cohort_week
        |          ORDER BY week_offset
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS cum_cents
        |      FROM g)
        |SELECT c.cohort_week, c.week_offset, CAST(cs.users AS BIGINT) AS users,
        |  c.cum_cents, c.cum_cents::DOUBLE / cs.users AS ltv_cents
        |FROM c JOIN cs USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin) { (s, d) =>
      cohortLtv(Tables.events(s, d)).orderBy("cohort_week", "week_offset")
    },

    // ---- market-basket association rules ----
    "a29_assoc_rules" -> QueryDef.sql(
      """WITH op AS (SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
        |            FROM lineitem),
        |n AS (SELECT count(DISTINCT oid) AS nn FROM op),
        |isupp AS (SELECT item, count(*) AS s FROM op GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT o1.item AS a, o2.item AS b, count(*) AS psupp
        |  FROM op o1 JOIN op o2
        |    ON o1.oid = o2.oid AND o1.item < o2.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir AS (
        |  SELECT a AS ante, b AS cons, psupp FROM pairs
        |  UNION ALL
        |  SELECT b AS ante, a AS cons, psupp FROM pairs)
        |SELECT dir.ante, dir.cons, CAST(dir.psupp AS BIGINT) AS psupp,
        |  CAST(sa.s AS BIGINT) AS asupp, CAST(sc.s AS BIGINT) AS csupp,
        |  dir.psupp::DOUBLE / sa.s AS confidence,
        |  (n.nn * dir.psupp)::DOUBLE / (sa.s * sc.s) AS lift
        |FROM dir
        |JOIN isupp sa ON sa.item = dir.ante
        |JOIN isupp sc ON sc.item = dir.cons
        |CROSS JOIN n
        |ORDER BY ante, cons""".stripMargin) { (s, d) =>
      associationRules(Tables.lineitem(s, d)).orderBy("ante", "cons")
    },

    // ---- conversion-lag percentiles per cohort ----
    "e19_conversion_lag" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS fv,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS fp,
        |    min(ts) AS t0
        |  FROM events WHERE event_type IN ('view', 'purchase')
        |  GROUP BY 1),
        |conv AS (
        |  SELECT CAST(date_trunc('week', t0) AS DATE) AS cohort_week,
        |    epoch_us(fp) - epoch_us(fv) AS lag_us, user_id
        |  FROM f WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp > fv),
        |r AS (
        |  SELECT cohort_week, lag_us,
        |    row_number() OVER (PARTITION BY cohort_week
        |      ORDER BY lag_us, user_id) AS rn,
        |    count(*) OVER (PARTITION BY cohort_week) AS n
        |  FROM conv)
        |SELECT cohort_week, CAST(count(*) AS BIGINT) AS converters,
        |  CAST(min(CASE WHEN rn * 2 >= n THEN lag_us END) AS BIGINT)
        |    AS p50_lag_us,
        |  CAST(min(CASE WHEN rn * 10 >= n * 9 THEN lag_us END) AS BIGINT)
        |    AS p90_lag_us
        |FROM r GROUP BY cohort_week
        |ORDER BY cohort_week""".stripMargin) { (s, d) =>
      conversionLag(Tables.events(s, d)).orderBy("cohort_week")
    },

    // ---- one-pass column profile ----
    "a30_profile" -> QueryDef.sql(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax").map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_null,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  min($c) AS min_v, max($c) AS max_v,
           |  CAST(sum(CAST(round($c * 100) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, d) =>
      profileColumns(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_name")
    },

    // ---- signed random projection (JL dimensionality reduction) ----
    // Implementation: Similarity.randomProjection. Exact BIGINT sums of
    // md5-signed quantized components — both engines compute the
    // identical sign matrix and integer arithmetic.
    "s17_random_projection" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT vec_id, unnest(embedding) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings),
        |js AS (SELECT unnest(range(1, 9)) AS j),
        |c AS (SELECT vec_id, js.j AS j,
        |    (CASE WHEN ('0x' || substring(
        |         md5(i::VARCHAR || '#' || js.j::VARCHAR), 1, 8))::UBIGINT
        |         % 2 = 0 THEN 1 ELSE -1 END)
        |    * CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT) AS c
        |  FROM e CROSS JOIN js)
        |SELECT vec_id, j, CAST(sum(c) AS BIGINT) AS proj
        |FROM c GROUP BY 1, 2
        |ORDER BY vec_id, j""".stripMargin) { (s, d) =>
      Similarity.randomProjection(Tables.embeddings(s, d), k = 8)
        .orderBy("vec_id", "j")
    },

    // ---- BPE merge training (3 rounds) ----
    // Implementation: Corpus.bpeMerges. The oracle unrolls each round
    // with MATERIALIZED vocabulary CTEs (the g4 inline-reevaluation
    // lesson) and applies merges with the same greedy left-to-right
    // list fold.
    "t42_bpe_merges" -> QueryDef.sql(
      s"""WITH $BpeW0Cte,
         |${bpePairCte(1, "w0")},
         |${bpeApplyCte(1, "w0")},
         |${bpePairCte(2, "w1")},
         |${bpeApplyCte(2, "w1")},
         |${bpePairCte(3, "w2")}
         |SELECT * FROM (
         |  SELECT 1 AS merge_round, a AS left_sym, b AS right_sym,
         |         CAST(pair_cnt AS BIGINT) AS pair_cnt FROM m1
         |  UNION ALL
         |  SELECT 2, a, b, CAST(pair_cnt AS BIGINT) FROM m2
         |  UNION ALL
         |  SELECT 3, a, b, CAST(pair_cnt AS BIGINT) FROM m3)
         |ORDER BY merge_round""".stripMargin) { (s, d) =>
      Corpus.bpeMerges(Tables.documents(s, d), rounds = 3)
        .select(col("merge_round").cast("int").as("merge_round"),
          col("left_sym"), col("right_sym"), col("pair_cnt"))
        .orderBy("merge_round")
    },

    // ---- bigram language-model scoring (t21's order-1 twin) ----
    "t44_bigram_logprob" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents),
        |d AS (
        |  SELECT doc_id, unnest(list_transform(range(len(ws) - 1),
        |    i -> ws[i+1] || ' ' || ws[i+2])) AS bg
        |  FROM w WHERE len(ws) >= 2),
        |dtf AS (SELECT doc_id, bg, count(*) AS tf FROM d GROUP BY 1, 2),
        |c AS (
        |  SELECT doc_id, bg, tf,
        |    sum(tf) OVER (PARTITION BY bg) AS c12,
        |    sum(tf) OVER (PARTITION BY string_split(bg, ' ')[1]) AS c1
        |  FROM dtf)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
        |  round(sum(tf * -ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))), 2)
        |    AS nll,
        |  round(sum(tf * -ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))), 2)
        |    / CAST(sum(tf) AS BIGINT) AS avg_nll
        |FROM c GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Corpus.bigramLogProb(Tables.documents(s, d)).orderBy("doc_id")
    },

    // ---- BPE encode (the t42 round trip: train, then tokenize) ----
    "t45_bpe_encode" -> QueryDef.sql(
      s"""WITH $BpeW0Cte,
         |${bpePairCte(1, "w0")},
         |${bpeApplyCte(1, "w0")},
         |${bpePairCte(2, "w1")},
         |${bpeApplyCte(2, "w1")},
         |${bpePairCte(3, "w2")},
         |${bpeApplyCte(3, "w2")}
         |SELECT sym, CAST(sum(cnt) AS BIGINT) AS cnt
         |FROM (SELECT unnest(syms) AS sym, cnt FROM w3)
         |GROUP BY sym
         |ORDER BY cnt DESC, sym LIMIT 20""".stripMargin) { (s, d) =>
      Corpus.bpeEncode(Tables.documents(s, d), rounds = 3, k = 20)
    },

    // ---- peak concurrency (interval sweep) ----
    // Max simultaneously-open 30-min-gap sessions: +1/−1 boundary sweep
    // with ends ordered before starts at timestamp ties ([start, end)
    // presence — a zero-length session never counts, both engines
    // agree). The running sum rides Scale.groupRunningSum — the
    // two-phase distributed prefix sum, never one serial task over all
    // boundaries. Output: the peak and the earliest instant it is hit.
    "j16_peak_concurrency" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
        |           - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER
        |             (PARTITION BY user_id ORDER BY ts, event_id))
        |           > 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM e),
        |s AS (SELECT user_id, sess, min(ts) AS t0, max(ts) AS t1
        |      FROM g GROUP BY 1, 2),
        |ev AS (
        |  SELECT t0 AS t, 1 AS delta, user_id FROM s
        |  UNION ALL
        |  SELECT t1, -1, user_id FROM s),
        |c AS (
        |  SELECT t, sum(delta) OVER (ORDER BY t, delta, user_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM ev),
        |m AS (SELECT max(cum) AS peak FROM c)
        |SELECT CAST(m.peak AS BIGINT) AS peak, min(c.t) AS at_ts
        |FROM c, m WHERE c.cum = m.peak
        |GROUP BY m.peak""".stripMargin) { (s, d) =>
      val gapW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val runW = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val sess = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"))
        .withColumn("brk", when(unix_micros(col("ts")) -
          unix_micros(lag(col("ts"), 1).over(gapW)) > 1800000000L, 1)
          .otherwise(0))
        .withColumn("sess", sum(col("brk")).over(runW))
        .groupBy(col("user_id"), col("sess"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      // boundary stream: delta folds into the tie-break id so ends
      // (delta −1 → low id band) sort before starts at equal t
      val sweep = sess.select(col("t0").as("t"), lit(1L).as("delta"),
          col("user_id"))
        .unionByName(sess.select(col("t1").as("t"), lit(-1L).as("delta"),
          col("user_id")))
        .withColumn("__g", lit(1))
        .withColumn("__ord", unix_micros(col("t")))
        .withColumn("__id",
          (col("delta") + 1) * lit(1000000000000L) + col("user_id"))
        // boundary stream materialized ONCE: groupRunningSum reads its
        // input three times (bounds agg, slice pass, offsets agg) and
        // the peak join reads the result twice — without the checkpoint
        // the two-window session pipeline re-executes per consumer
        // (the e12 lesson)
        .localCheckpoint()
      val cum = Scale.groupRunningSum(sweep, "__g", "__ord",
        "__id", "delta", outCol = "cum")
        .localCheckpoint()
      val peak = broadcast(cum.agg(max(col("cum")).as("__peak")))
      cum.join(peak, col("cum") === col("__peak"))
        .groupBy(col("__peak"))
        .agg(min(col("t")).cast("timestamp_ntz").as("at_ts"))
        .select(col("__peak").cast("long").as("peak"), col("at_ts"))
    },

    // ---- ratio-to-report window ----
    "w15_ratio_to_report" -> QueryDef.sql(
      """WITH v AS (
        |  SELECT l_returnflag, l_linestatus,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, CAST(cents AS BIGINT) AS cents,
        |  CAST(cents AS DOUBLE) /
        |    sum(cents) OVER (PARTITION BY l_returnflag) AS share
        |FROM v
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      val v = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("cents"))
      v.select(col("l_returnflag"), col("l_linestatus"), col("cents"),
          (col("cents").cast("double") /
            sum(col("cents")).over(
              Window.partitionBy(col("l_returnflag")))).as("share"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // ---- keyset pagination ----
    // The cursor-based paging shape (WHERE key-tuple > cursor ORDER BY
    // key-tuple LIMIT n) — O(page) via TakeOrdered over a
    // predicate-pruned scan, where OFFSET would sort-and-skip. The
    // row-value comparison expands to the standard disjunction (Spark
    // has no tuple <); the oracle spells the identical expansion.
    "o3_keyset_page" -> QueryDef.sql(
      """SELECT l_orderkey, l_linenumber, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate > TIMESTAMP '1998-06-01'
        |   OR (l_shipdate = TIMESTAMP '1998-06-01' AND l_orderkey > 1000)
        |ORDER BY l_shipdate, l_orderkey, l_linenumber
        |LIMIT 20""".stripMargin) { (s, d) =>
      val cursor = lit("1998-06-01").cast("timestamp")
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") > cursor ||
          (col("l_shipdate") === cursor && col("l_orderkey") > 1000))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .limit(20)
    },

    // ---- TPC-H Q7 shape: volume shipping between two nations ----
    // Revenue extendedprice·(1−discount) stays EXACT: cents × (100 −
    // discount_cents) is an integer number of ten-thousandths (rev_e4)
    // — no float product, no rounding contract needed.
    "q23_volume_shipping" -> QueryDef.sql(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(rev_e4) AS BIGINT) AS rev_e4
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l.l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, d).select("n_nationkey", "n_name")
      val joined = l
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("__sn"),
          col("n_name").as("supp_nation"))), col("__sn") === col("s_nationkey"))
        .join(broadcast(n.select(col("n_nationkey").as("__cn"),
          col("n_name").as("cust_nation"))), col("__cn") === col("c_nationkey"))
        .filter((col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
      joined
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
          (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("rev_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // ---- TPC-H Q8 shape: yearly market share of one supplier nation ----
    "q24_market_share" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
        |    n1.n_name AS supp_nation,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT)
        |      * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_e4
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n2.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'EUROPE')
        |SELECT o_year,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4
        |           ELSE 0 END) AS BIGINT) AS nation_rev_e4,
        |  CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN rev_e4
        |           ELSE 0 END) AS DOUBLE) / sum(rev_e4) AS mkt_share
        |FROM rev GROUP BY o_year
        |ORDER BY o_year""".stripMargin) { (s, d) =>
      val l = Tables.lineitem(s, d)
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val o = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val c = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val su = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val n = Tables.nation(s, d)
        .select("n_nationkey", "n_name", "n_regionkey")
      val r = Tables.region(s, d).select("r_regionkey", "r_name")
      val custRegion = broadcast(n.join(broadcast(r),
          col("r_regionkey") === col("n_regionkey"))
        .filter(col("r_name") === "EUROPE")
        .select(col("n_nationkey").as("__cn")))
      val rev = l
        .join(o, col("o_orderkey") === col("l_orderkey"))
        .join(c, col("c_custkey") === col("o_custkey"))
        .join(custRegion, col("__cn") === col("c_nationkey"))
        .join(su, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("__sn"),
          col("n_name").as("supp_nation"))),
          col("__sn") === col("s_nationkey"))
        .select(year(col("o_orderdate")).cast("long").as("o_year"),
          col("supp_nation"),
          (round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long")))
            .as("rev_e4"))
      val isN3 = when(col("supp_nation") === "NATION_3", col("rev_e4"))
        .otherwise(lit(0L))
      rev.groupBy(col("o_year"))
        .agg(sum(isN3).as("nation_rev_e4"), sum(col("rev_e4")).as("total_rev_e4"))
        .select(col("o_year"), col("nation_rev_e4"), col("total_rev_e4"),
          (col("nation_rev_e4").cast("double") / col("total_rev_e4"))
            .as("mkt_share"))
        .orderBy("o_year")
    },

    // ---- single-source BFS hop distances ----
    // Hops from the SMALLEST node of the support-2 co-purchase graph
    // (seed derived, not hardcoded — stable under data regeneration).
    // The oracle's recursive CTE uses UNION (distinct) so each (node,
    // hops) pair enters once and recursion is level-bounded, then takes
    // min(hops) per node — textbook BFS-as-SQL.
    "g7_bfs_hops" -> QueryDef.sql(
      s"""WITH RECURSIVE ${Analytics.CopurchaseCte},
        |es AS (SELECT a AS src, b AS dst FROM e0
        |       UNION SELECT b, a FROM e0),
        |seed AS (SELECT min(src) AS s FROM es),
        |walk AS (
        |  SELECT s AS node, 0 AS hops FROM seed
        |  UNION
        |  SELECT e.dst, w.hops + 1
        |  FROM walk w JOIN es e ON e.src = w.node
        |  WHERE w.hops < 10)
        |SELECT node, CAST(min(hops) AS BIGINT) AS hops
        |FROM walk GROUP BY node
        |ORDER BY node""".stripMargin) { (s, d) =>
      Iterate.scope { sc =>
        // checkpoint the edge derivation ONCE: the seed aggregate and the
        // BFS's own edge materialization otherwise each re-run the full
        // lineitem → pair-explode → support pipeline (the e12 lesson)
        val edges = sc.checkpoint(
          Analytics.copurchaseEdges(s, d, minSupport = 2))
        val seed = edges.agg(least(min(col("src")), min(col("dst"))).as("s"))
          .head.getLong(0)
        Graph.bfsHops(edges, seed, maxHops = 10)
          .select(col("node"), col("hops").cast("long").as("hops"))
          .orderBy("node")
      }
    },

    // ---- hop-bounded weighted shortest paths ----
    // Bellman-Ford distances from the smallest node of the support-2
    // co-purchase graph, edge weight 11 − min(support, 10) (strong
    // co-purchase = cheap hop — the recommendation-distance metric).
    // Spark runs 6 synchronous relaxation rounds (Graph.ssspRounds);
    // the oracle unrolls the SAME 6 rounds as MATERIALIZED CTEs (the
    // g4 lesson: an inlined chain re-evaluates e0 exponentially).
    // Exact long arithmetic end-to-end — equality is bit-trivial.
    "g9_weighted_sssp" -> QueryDef.sql({
      val chain = (1 to 6).map(i =>
        s"d$i AS MATERIALIZED (\n" +
        s"        |  SELECT node, min(dist) AS dist FROM (\n" +
        s"        |    SELECT node, dist FROM d${i - 1}\n" +
        s"        |    UNION ALL\n" +
        s"        |    SELECT e.dst, d.dist + e.w\n" +
        s"        |    FROM d${i - 1} d JOIN es e ON e.src = d.node) u\n" +
        s"        |  GROUP BY node)").mkString(",\n        |")
      s"""WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ew AS MATERIALIZED (
        |  SELECT a, b, CAST(11 - least(supp, 10) AS BIGINT) AS w FROM (
        |    SELECT o1.l_partkey AS a, o2.l_partkey AS b, count(*) AS supp
        |    FROM op o1 JOIN op o2
        |      ON o1.l_orderkey = o2.l_orderkey AND o1.l_partkey < o2.l_partkey
        |    GROUP BY 1, 2 HAVING count(*) >= 2) s0),
        |es AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, w FROM ew
        |  UNION ALL SELECT b, a, w FROM ew),
        |seed AS (SELECT min(src) AS s FROM es),
        |d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM seed),
        |$chain
        |SELECT node, CAST(dist AS BIGINT) AS dist FROM d6
        |ORDER BY node""".stripMargin
    }) { (s, d) =>
      Iterate.scope { sc =>
        // one materialization of the weighted-edge derivation: the seed
        // aggregate and ssspRounds' own checkpoint both read it (e12)
        val ew = sc.checkpoint(Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
          .select(explode(flatten(transform(col("ps"), (x, i) =>
            transform(slice(col("ps"), i + 2, size(col("ps"))), y =>
              struct(x.as("src"), y.as("dst")))))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .groupBy("src", "dst").agg(count(lit(1)).as("supp"))
          .filter(col("supp") >= 2)
          .select(col("src"), col("dst"),
            (lit(11L) - least(col("supp"), lit(10L))).as("w")))
        val seed = ew.agg(least(min(col("src")), min(col("dst")))).head.getLong(0)
        Graph.ssspRounds(ew, seed, rounds = 6)
          .select(col("node"), col("dist").cast("long").as("dist"))
          .orderBy("node")
      }
    },

    // ---- exact-integer EWMA (decayed activity feature) ----
    // Per-user exponentially-decayed value with halving decay over the
    // last 16 events, kept EXACT: cents × 2^(15−age) summed as longs —
    // halving weights are powers of two, so the "float EWMA" is really
    // integer bit-shift arithmetic and the result hash-matches across
    // engines (no pow, no summation-order sensitivity; the e21
    // discipline windowed). Expressed as 16 anchored lag terms on ONE
    // window spec — a single exchange + sort, no self-joins; ages
    // beyond the series start contribute 0 (truncated-EWMA semantics).
    "w17_ewma" -> QueryDef.sql({
      val terms = (0 until 16).map(k =>
        s"coalesce(lag(c, $k) OVER w, 0) * ${1L << (15 - k)}")
        .mkString("\n        |    + ")
      s"""WITH e AS (
        |  SELECT event_id, user_id, CAST(round(value * 100) AS BIGINT) AS c,
        |         CAST(ts AS TIMESTAMP) AS ts
        |  FROM events)
        |SELECT event_id, user_id,
        |  ($terms) AS ewma_scaled
        |FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin
    }) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val c = round(col("value") * 100).cast("long")
      val ewma = (0 until 16).map(k =>
        coalesce(lag(c, k).over(w), lit(0L)) * lit(1L << (15 - k)))
        .reduce(_ + _)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), ewma.as("ewma_scaled"))
        .orderBy("event_id")
    },

    // ---- week-over-week growth ----
    "w16_wow_growth" -> QueryDef.sql(
      """WITH wk AS (
        |  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, week, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(cnt - lag(cnt) OVER w AS DOUBLE) / lag(cnt) OVER w AS growth
        |FROM wk WINDOW w AS (PARTITION BY event_type ORDER BY week)
        |ORDER BY event_type, week""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
      Tables.events(s, d)
        .groupBy(col("event_type"),
          to_date(date_trunc("week", col("ts"))).as("week"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("event_type"), col("week"), col("cnt"),
          ((col("cnt") - lag(col("cnt"), 1).over(w)).cast("double") /
            lag(col("cnt"), 1).over(w)).as("growth"))
        .orderBy("event_type", "week")
    },

    // ---- lexical diversity (type-token ratio) ----
    // Entirely in-row: distinct-count over the word array — no shuffle
    // at all; the classic quality signal for template/boilerplate docs.
    "t46_type_token_ratio" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)),
        |    '[^a-z0-9]+'), x -> x <> '') AS ws FROM documents)
        |SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_types,
        |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr
        |FROM w WHERE len(ws) > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ws = graft.functions.TextFunctions.words(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), ws.as("__ws"))
        .filter(size(col("__ws")) > 0)
        .select(col("doc_id"), size(col("__ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("__ws"))).cast("long").as("n_types"),
          (size(array_distinct(col("__ws"))).cast("double") /
            size(col("__ws"))).as("ttr"))
        .orderBy("doc_id")
    },

    // ---- DAU / trailing-7-day-AU stickiness ----
    // The engagement ratio product teams watch: exact distinct counts
    // on both axes (the e8 window-end explode for the trailing set),
    // ratio as the exact-operand quotient.
    "e24_stickiness" -> QueryDef.sql(
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |           FROM events),
        |mx AS (SELECT max(day) AS m FROM d),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau
        |        FROM d GROUP BY day),
        |wau AS (
        |  SELECT wday, count(DISTINCT user_id) AS wau FROM (
        |    SELECT user_id, day + (i::INTEGER) AS wday
        |    FROM d CROSS JOIN (SELECT unnest(range(7)) AS i)) x, mx
        |  WHERE wday <= m GROUP BY wday)
        |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(wau.wau AS BIGINT) AS wau,
        |  CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
        |FROM dau JOIN wau ON wau.wday = dau.day
        |ORDER BY day""".stripMargin) { (s, d) =>
      val daily = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val dau = daily.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = Behavior.rollingActiveUsers(Tables.events(s, d),
        windowDays = 7)
      dau.join(wau, col("wday") === col("day"))
        .select(col("day"), col("dau").cast("long").as("dau"),
          col("wau").cast("long").as("wau"),
          (col("dau").cast("double") / col("wau")).as("stickiness"))
        .orderBy("day")
    },

    // ---- community modularity of the g5 labels ----
    // Per-community Newman Q decomposition over the same converged
    // label-propagation assignment (oracle reuses the unrolled g5 CTE
    // chain). Per-row contributions are fixed IEEE trees over exact
    // integer (m, m_c, d_c) — the total is left as the sum of rows
    // BECAUSE a cross-community float sum is summation-order dependent.
    "g8_modularity" -> QueryDef.sql(
      s"""WITH ${Analytics.labelPropCtes(idCap = 200L, threshold = 0.3,
          rounds = 3)},
        |m AS (SELECT count(*) AS m FROM p),
        |deg AS (SELECT node, count(*) AS d FROM ed GROUP BY node),
        |lbl AS (SELECT node, label FROM l3),
        |mc AS (
        |  SELECT la.label, count(*) AS mc
        |  FROM p JOIN lbl la ON la.node = p.id_a
        |         JOIN lbl lb ON lb.node = p.id_b
        |  WHERE la.label = lb.label GROUP BY 1),
        |dc AS (
        |  SELECT lbl.label, sum(deg.d) AS dc
        |  FROM lbl JOIN deg ON deg.node = lbl.node GROUP BY 1)
        |SELECT dc.label AS label, CAST(coalesce(mc.mc, 0) AS BIGINT) AS m_c,
        |  CAST(dc.dc AS BIGINT) AS d_c,
        |  CAST(coalesce(mc.mc, 0) AS DOUBLE) / CAST(m.m AS DOUBLE)
        |    - (CAST(dc.dc AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
        |      * (CAST(dc.dc AS DOUBLE) / CAST(2 * m.m AS DOUBLE))
        |    AS q_contrib
        |FROM dc LEFT JOIN mc ON mc.label = dc.label, m
        |ORDER BY label""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val edges = Similarity.nearDupPairs(emb, idCap = 200L, threshold = 0.3)
        .select(col("id_a").as("src"), col("id_b").as("dst"))
      val labels = emb.filter(col("vec_id") < 200L)
        .select(col("vec_id").as("node"), col("label"))
      val converged = Graph.labelPropagation(edges, labels, rounds = 3)
      Graph.modularity(edges,
          converged.select(col("node"), col("label")))
        .orderBy("label")
    },

    // ---- forward as-of join ----
    // "Next error after each purchase" — the forward direction of the
    // as-of family (j3 backward, j11 tolerance): earliest build row at
    // or after the probe time. The oracle runs DuckDB's backward ASOF
    // on the NEGATED microsecond axis (order reversal ≡ direction
    // reversal, the same trick the operator uses internally).
    "j17_asof_forward" -> QueryDef.sql(
      """WITH p AS (
        |  SELECT user_id, event_id, ts,
        |    -epoch_us(CAST(ts AS TIMESTAMP)) AS neg
        |  FROM events WHERE event_type = 'purchase'),
        |b AS (
        |  SELECT user_id, ts AS err_ts, event_id AS err_id,
        |    -epoch_us(CAST(ts AS TIMESTAMP)) AS neg
        |  FROM (SELECT user_id, ts, event_id, row_number() OVER (
        |          PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |        FROM events WHERE event_type = 'error') WHERE rn = 1)
        |SELECT p.user_id, p.event_id, p.ts,
        |  b.err_ts AS asof_err_ts, b.err_id AS asof_err_id
        |FROM p ASOF LEFT JOIN b
        |  ON p.user_id = b.user_id AND p.neg >= b.neg
        |ORDER BY p.event_id""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      // dedupe build rows per (user, ts) by max id — the e6 tie rule
      val errs = e.filter(col("event_type") === "error")
        .withColumn("__rn", row_number().over(Window
          .partitionBy(col("user_id"), col("ts"))
          .orderBy(col("event_id").desc)))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("ts"),
          col("ts").cast("timestamp_ntz").as("err_ts"),
          col("event_id").as("err_id"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          col("ts").cast("timestamp_ntz").as("__out_ts"), col("ts"))
      AsOf.asofJoinForward(purch, errs, Seq("user_id"), "ts",
          Seq("err_ts", "err_id"))
        .select(col("user_id"), col("event_id"),
          col("__out_ts").as("ts"), col("asof_err_ts"), col("asof_err_id"))
        .orderBy("event_id")
    },

    // ---- seasonal leave-one-out anomaly ----
    // Hourly cells scored against their OWN (dow, hour-of-day) seasonal
    // slot across the month — the e5 trailing-window anomaly's seasonal
    // twin. The baseline excludes the scored cell via leave-one-out on
    // exact integers (n−1, Σx−x, Σx²−x²), so z is a fixed IEEE tree
    // over exact operands (bit-identical, no stddev_samp); vr > 0
    // guards the NaN-ordering divergence (the e5 lesson).
    "e25_seasonal_anomaly" -> QueryDef.sql(
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hr, cnt,
        |    dayofweek(hr) AS dw, hour(hr) AS hd,
        |    count(*) OVER w AS n, sum(cnt) OVER w AS sx,
        |    sum(cnt * cnt) OVER w AS sxx
        |  FROM h WINDOW w AS (PARTITION BY event_type, dayofweek(hr),
        |                      hour(hr))),
        |v AS (
        |  SELECT event_type, hr, cnt, n - 1 AS nb,
        |    CAST(sx - cnt AS DOUBLE) / (n - 1) AS mu,
        |    (CAST(sxx - cnt * cnt AS DOUBLE)
        |      - CAST(sx - cnt AS DOUBLE) * CAST(sx - cnt AS DOUBLE)
        |        / (n - 1)) / (n - 2) AS vr
        |  FROM s WHERE n >= 4),
        |z AS (
        |  SELECT event_type, hr, CAST(cnt AS BIGINT) AS cnt,
        |    (cnt - mu) / sqrt(vr) AS z
        |  FROM v WHERE vr > 0)
        |SELECT event_type, hr, cnt, z FROM z
        |WHERE z >= 3.0 OR z <= -3.0
        |ORDER BY event_type, hr""".stripMargin) { (s, d) =>
      val slot = Window.partitionBy(col("event_type"), col("dw"), col("hd"))
      val cells = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("dw", dayofweek(col("hr")))
        .withColumn("hd", hour(col("hr")))
        .withColumn("n", count(lit(1)).over(slot))
        .withColumn("sx", sum(col("cnt")).over(slot))
        .withColumn("sxx", sum(col("cnt") * col("cnt")).over(slot))
        .filter(col("n") >= 4)
      val nb = col("n") - 1
      val mu = (col("sx") - col("cnt")).cast("double") / nb
      val vr = ((col("sxx") - col("cnt") * col("cnt")).cast("double") -
        (col("sx") - col("cnt")).cast("double") *
          (col("sx") - col("cnt")).cast("double") / nb) / (col("n") - 2)
      val z = (col("cnt") - mu) / sqrt(vr)
      cells
        .withColumn("__vr", vr).filter(col("__vr") > 0)
        .withColumn("z", z)
        .filter(col("z") >= 3.0 || col("z") <= -3.0)
        .select(col("event_type"), col("hr").cast("timestamp_ntz").as("hr"),
          col("cnt").cast("long").as("cnt"), col("z"))
        .orderBy("event_type", "hr")
    },

    // ---- hapax ratio (corpus vocabulary-growth signal) ----
    // Fraction of vocabulary types occurring exactly once — the lexical
    // long-tail measure (high hapax share ⇒ open vocabulary / noisy
    // OCR; low ⇒ templated text). One word-count agg + one tiny agg;
    // quotients are exact-operand divisions.
    "t47_hapax_ratio" -> QueryDef.sql(
      """WITH w AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)),
        |    '[^a-z0-9]+'), x -> x <> '')) AS term FROM documents),
        |c AS (SELECT term, count(*) AS c FROM w GROUP BY term)
        |SELECT CAST(count(*) AS BIGINT) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(sum(c) AS BIGINT) AS tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |    AS hapax_ratio,
        |  CAST(count(*) AS DOUBLE) / sum(c) AS type_token_ratio
        |FROM c""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(graft.functions.TextFunctions.words(col("text")))
          .as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("vocab"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"),
          sum(col("c")).as("tokens"))
        .select(col("vocab").cast("long").as("vocab"),
          col("hapax"), col("tokens"),
          (col("hapax").cast("double") / col("vocab")).as("hapax_ratio"),
          (col("vocab").cast("double") / col("tokens"))
            .as("type_token_ratio"))
    },

    // ---- forward fill (last observation carried forward) ----
    // The classic LOCF shape: carry each user's latest purchase cents
    // onto every subsequent event. One window riding one (user, ts, id)
    // sort; IGNORE NULLS keeps the state column sparse (no pre-join).
    "w13_fill_forward" -> QueryDef.sql(
      """SELECT event_id, user_id, event_type,
        |  last_value(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS last_purchase_cents
        |FROM events
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          last(when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")), ignoreNulls = true)
            .over(w).as("last_purchase_cents"))
        .orderBy("event_id")
    }
  )
}
