package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Third relational batch: outer joins, null semantics, EXISTS-style
  * TPC-H shapes, and approximate aggregates. Outer-join oracles need
  * explicit NULLS FIRST ordering (Spark ASC is nulls-first, DuckDB
  * default is nulls-last).
  */
object Relational3 {

  def defs: Map[String, QueryDef] = Map(
    // ---- outer joins ----------------------------------------------------
    "j7_left_outer" -> QueryDef.sql(
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .select("c_custkey", "o_orderkey")
        .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
    },

    "j8_full_outer" -> QueryDef.sql(
      """SELECT s_suppkey, n.n_nationkey AS nationkey
        |FROM supplier s FULL OUTER JOIN nation n ON s.s_nationkey = n.n_nationkey
        |ORDER BY s_suppkey NULLS FIRST, nationkey NULLS FIRST""".stripMargin) { (s, d) =>
      Tables.supplier(s, d)
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"),
          "full_outer")
        .select(col("s_suppkey"), col("n_nationkey").as("nationkey"))
        .orderBy(col("s_suppkey").asc_nulls_first, col("nationkey").asc_nulls_first)
    },

    // ---- null semantics -------------------------------------------------
    "n1_null_semantics" -> QueryDef.sql(
      """SELECT count(*) AS n_rows,
        |  count(nullif(c_mktsegment, 'BUILDING')) AS n_nonnull,
        |  CAST(sum(CASE WHEN nullif(c_mktsegment, 'BUILDING')
        |    IS DISTINCT FROM 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_from
        |FROM customer""".stripMargin) { (s, d) =>
      val seg = nullif(col("c_mktsegment"), lit("BUILDING"))
      Tables.customer(s, d).agg(
        count(lit(1)).as("n_rows"),
        count(seg).as("n_nonnull"),
        sum(when(!(seg <=> lit("AUTOMOBILE")), 1).otherwise(0)).as("n_distinct_from"))
    },

    // ---- TPC-H Q4 shape: EXISTS semi join + priority counts -------------
    "q4_order_priority" -> QueryDef.sql(
      """SELECT o_orderpriority, count(*) AS cnt
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-10-01").cast("date"))
      val li = Tables.lineitem(s, d)
      o.join(li, col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    },

    // ---- TPC-H Q10 shape: returned-item revenue per customer ------------
    "q10_returned_items" -> QueryDef.sql(
      """SELECT c_custkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |       AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("c_custkey")
        // exact integer-unit revenue (ExactMoney — the q5 boundary class)
        .agg(ExactMoney.asCurrency(
          ExactMoney.revenueUnits(col("l_extendedprice"), col("l_discount")),
          10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // ---- regex extraction ------------------------------------------------
    "sc15_regex" -> QueryDef.sql(
      """SELECT event_id, regexp_extract(props, '(\d+)', 1) AS first_num,
        |  regexp_matches(event_type, '^(click|view)$') AS is_passive
        |FROM events ORDER BY event_id""".stripMargin) { (s, d) =>
      Tables.events(s, d).select(col("event_id"),
        regexp_extract(col("props"), "(\\d+)", 1).as("first_num"),
        col("event_type").rlike("^(click|view)$").as("is_passive"))
        .orderBy("event_id")
    },

    // ---- conditional aggregates -----------------------------------------
    "a20_conditional_agg" -> QueryDef.sql(
      """SELECT event_type,
        |  CAST(count_if(value > 100) AS BIGINT) AS n_big,
        |  bool_and(value IS NOT NULL) AS all_present,
        |  bool_or(value > 500) AS any_huge
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      Tables.events(s, d).groupBy("event_type").agg(
        count_if(col("value") > 100).as("n_big"),
        bool_and(col("value").isNotNull).as("all_present"),
        bool_or(col("value") > 500).as("any_huge"))
        .orderBy("event_type")
    },

    // ---- ordered string aggregation --------------------------------------
    "a21_string_agg" -> QueryDef.sql(
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin) { (s, d) =>
      Tables.nation(s, d).groupBy("n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")
    },

    // ---- equi-width histogram -------------------------------------------
    // bin = floor(price / width): 2-d.p. inputs sit ≥ 0.01 from any bin
    // boundary they don't exactly hit (relative 1e-6 ≫ an ulp), and
    // exact multiples divide exactly in IEEE — floor is engine-stable.
    // The standard profiling/quality-report primitive: one hash agg,
    // map-side combinable, output rows = bin count regardless of scale.
    "a22_histogram" -> QueryDef.sql(
      """SELECT CAST(floor(l_extendedprice / 5000.0::DOUBLE) AS BIGINT) AS bin,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(l_extendedprice), 2) AS lo,
        |  round(max(l_extendedprice), 2) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY bin""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(floor(col("l_extendedprice") / 5000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("l_extendedprice")), 2).as("lo"),
          round(max(col("l_extendedprice")), 2).as("hi"))
        .orderBy("bin")
    },

    // ---- per-group OLS regression from exact integer sums ----------------
    // slope/intercept of price-in-CENTS on quantity: the inputs are
    // integer-valued (quantity) and 2-d.p. (price), so ×100 + round gives
    // EXACT BIGINT sums (n, Σx, Σy, Σxy, Σx² all < 2^53) and the
    // slope/intercept scalar trees are bit-identical cross-engine — the
    // e5 recipe applied to regression (never regr_slope, whose partial
    // -merge op order is engine-private). Σy² (r²) would overflow the
    // exact-integer window at corpus scale and is deliberately omitted.
    "a23_regression" -> QueryDef.sql(
      """WITH s AS (
        |  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sxx
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (
        |  SELECT l_returnflag, n, sx, sy,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents
        |  FROM s)
        |SELECT l_returnflag, n, slope_cents,
        |  (CAST(sy AS DOUBLE) - slope_cents * CAST(sx AS DOUBLE))
        |    / CAST(n AS DOUBLE) AS icept_cents
        |FROM t ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val x = round(col("l_quantity")).cast("long")
      val y = round(col("l_extendedprice") * 100).cast("long")
      val agg = Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        count(lit(1)).as("n"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      val nD = col("n").cast("double")
      val slope = (nD * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")) /
        (nD * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double"))
      agg.withColumn("slope_cents", slope)
        .select(col("l_returnflag"), col("n"), col("slope_cents"),
          ((col("sy").cast("double") -
            col("slope_cents") * col("sx").cast("double")) /
            col("n").cast("double")).as("icept_cents"))
        .orderBy("l_returnflag")
    },

    // ---- join-key skew diagnostics (sizes Scale.saltedJoin) -------------
    "a24_skew_report" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT l_suppkey, count(*) AS f FROM lineitem GROUP BY l_suppkey)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(f) AS BIGINT) AS n_rows,
        |  CAST(max(f) AS BIGINT) AS max_freq,
        |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY f), 4) AS p50_freq,
        |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY f), 4) AS p99_freq,
        |  CAST(max(f) AS DOUBLE) * CAST(count(*) AS DOUBLE)
        |    / CAST(sum(f) AS DOUBLE) AS skew_factor
        |FROM f ORDER BY n_keys""".stripMargin) { (s, d) =>
      Scale.keySkewReport(Tables.lineitem(s, d), "l_suppkey")
        .orderBy("n_keys")
    },

    // ---- SpaceSaving heavy hitters (native TypedImperativeAggregate) ----
    // Top-10 users by event count via heavy_hitters(col, 4096). Capacity
    // 4096 exceeds the distinct-user count at every test SF, so the
    // sketch runs in its EXACT regime (no eviction, err = 0 everywhere)
    // and the DuckDB GROUP BY oracle hash-checks it — the approximate
    // regime's (count − err ≤ true ≤ count) bounds are ScalaTest-gated
    // in HeavyHittersSpec. Ties cut at the LIMIT boundary identically:
    // both engines order by (cnt DESC, user_id-string ASC).
    "a25_heavy_hitters" -> QueryDef.sql(
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .agg(graft.functions.HeavyHitters
          .heavyHitters(col("user_id").cast("string"), 4096).as("hh"))
        .select(explode(slice(col("hh"), 1, 10)).as("e"))
        .select(col("e.item").as("user_id"), col("e.count").as("cnt"))
        .orderBy(desc("cnt"), asc("user_id"))
    },

    // ---- exact quantile at scale (histogram-refinement selection) -------
    // Scale.exactOrderStatistic: the bounded-memory exact median/p90 —
    // each pass is one ≤4096-row hash agg, never the built-in
    // percentile's per-group value map. tailLimit 1024 forces ≥2
    // refinement passes at every test SF, so the probe exercises the
    // recursion, not just the tail sort. Rank = ⌊q·(n−1)⌋, 0-based —
    // the oracle reads the same sorted position directly.
    "a26_exact_quantile" -> QueryDef.sql(
      """WITH s AS (
        |  SELECT l_extendedprice AS v,
        |    row_number() OVER (ORDER BY l_extendedprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM lineitem)
        |SELECT
        |  max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |      THEN v END) AS p50,
        |  max(CASE WHEN rn = CAST(floor(0.9 * (n - 1)) AS BIGINT) + 1
        |      THEN v END) AS p90
        |FROM s ORDER BY p50""".stripMargin) { (s, d) =>
      Iterate.scope { sc =>
        // one-column checkpoint: the two selections make ~6 refinement
        // passes over their input — uncheckpointed each re-reads the
        // parquet scan (the e12 multi-pass-consumer lesson)
        val li = sc.checkpoint(Tables.lineitem(s, d).select("l_extendedprice"))
        val p50 = Scale.exactOrderStatistic(li, "l_extendedprice", 0.5,
          tailLimit = 1024)
        val p90 = Scale.exactOrderStatistic(li, "l_extendedprice", 0.9,
          tailLimit = 1024)
        s.range(1).select(lit(p50).as("p50"), lit(p90).as("p90"))
          .orderBy("p50")
      }
    },

    // ---- weighted exact quantile (token-weighted doc length) ------------
    // Scale.weightedOrderStatistic: first n_chars value whose cumulative
    // TOKEN weight reaches q·W — giant documents pull the median the
    // way they pull the token budget. Integer weights keep every
    // cumulative sum an exact long on both engines.
    "a27_weighted_quantile" -> QueryDef.sql(
      """WITH t AS (
        |  SELECT CAST(n_chars AS DOUBLE) AS v,
        |    CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS w
        |  FROM documents),
        |f AS (SELECT v, w FROM t WHERE w > 0),
        |s AS (SELECT v, sum(w) OVER (ORDER BY v) AS cw,
        |             sum(w) OVER () AS W FROM f)
        |SELECT
        |  (SELECT min(v) FROM s WHERE cw >= greatest(0.5 * W, 1)) AS wp50,
        |  (SELECT min(v) FROM s WHERE cw >= greatest(0.9 * W, 1)) AS wp90
        |ORDER BY wp50""".stripMargin) { (s, d) =>
      Iterate.scope { sc =>
        // checkpoint the (n_chars, w) projection: every refinement pass of
        // BOTH selections otherwise re-runs the tokenCount text kernel
        // over the corpus (the e12 multi-pass-consumer lesson)
        val docs = sc.checkpoint(Tables.documents(s, d).select(col("n_chars"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("w")))
        val wp50 = Scale.weightedOrderStatistic(docs, "n_chars", "w", 0.5,
          tailLimit = 64)
        val wp90 = Scale.weightedOrderStatistic(docs, "n_chars", "w", 0.9,
          tailLimit = 64)
        s.range(1).select(lit(wp50).as("wp50"), lit(wp90).as("wp90"))
          .orderBy("wp50")
      }
    },

    // ---- robust outlier detection: median absolute deviation ------------
    // The MAD robust z-score is the curation-grade outlier rule (mean/
    // stddev break under the very outliers being hunted; e5's rolling z
    // is the non-robust cousin). Exact-integer discipline end-to-end:
    // values → cents (exact longs), median + MAD via TWO
    // histogram-refinement selections (a26's bounded-memory machinery —
    // each pass a ≤4096-row hash agg, never a global sort), deviations
    // and the 5×MAD cut compared as longs — every emitted number a
    // BIGINT, hash-exact by construction. The oracle reads the same
    // ⌊q·(n−1)⌋ sorted positions directly.
    "a33_mad_outliers" -> QueryDef.sql(
      """WITH c AS (
        |  SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |s AS (SELECT c, row_number() OVER (ORDER BY c) AS rn,
        |             count(*) OVER () AS n FROM c),
        |m AS (SELECT max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |          THEN c END) AS med FROM s),
        |d AS (SELECT abs(c - (SELECT med FROM m)) AS dv FROM c),
        |s2 AS (SELECT dv, row_number() OVER (ORDER BY dv) AS rn,
        |              count(*) OVER () AS n FROM d),
        |m2 AS (SELECT max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT) + 1
        |           THEN dv END) AS mad FROM s2)
        |SELECT (SELECT med FROM m) AS med_cents,
        |  (SELECT mad FROM m2) AS mad_cents,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c
        |   WHERE abs(c - (SELECT med FROM m)) > 5 * (SELECT mad FROM m2)) AS n_outliers,
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n
        |ORDER BY med_cents""".stripMargin) { (s, d) =>
      // checkpoint the cents column: two selections (~4-6 passes each at
      // this tailLimit) plus the final outlier agg all re-read it
      val cents = Tables.events(s, d)
        .select(round(col("value") * 100).cast("long").as("c"))
        .localCheckpoint()
      val med = Scale.exactOrderStatistic(
        cents.select(col("c").cast("double").as("v")), "v", 0.5,
        tailLimit = 1024).toLong
      val mad = Scale.exactOrderStatistic(
        cents.select(abs(col("c") - lit(med)).cast("double").as("v")), "v",
        0.5, tailLimit = 1024).toLong
      cents.agg(
          sum(when(abs(col("c") - lit(med)) > lit(5L) * lit(mad), 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
        .select(lit(med).as("med_cents"), lit(mad).as("mad_cents"),
          col("n_outliers"), col("n"))
        .orderBy("med_cents")
    },

    // ---- approximate count-distinct (HLL++): rows-only check ------------
    // (approx result is engine-specific; the ScalaTest asserts the ±5%
    // error bound against the exact count instead)
    // rsd 0.05 (Spark's default, 2^11 HLL registers/group): the 6%-bound
    // check in PartitioningSpec uses tighter settings; the probe itself
    // demonstrates the approx-vs-exact tradeoff, where 0.02 cost 4-6 s/run
    // in HLL merge time for no informational gain.
    "a19_approx_distinct" -> QueryDef.noOracle { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_orderkey"), 0.05).as("approx_orders"),
          countDistinct(col("l_orderkey")).as("exact_orders"))
        .orderBy("l_returnflag")
    }
  )
}
