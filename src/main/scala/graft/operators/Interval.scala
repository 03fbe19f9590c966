package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (overlap) join — the relational operator Spark's optimizer
  * cannot derive an equi plan for on its own: `a.start <= b.end AND
  * b.start <= a.end` plans as BroadcastNestedLoopJoin (or a cartesian
  * product when both sides are big), which is quadratic and dies at
  * scale. The classic distributed formulation (DeWitt et al.'s
  * partition-based band/interval joins; the same binning Flink and
  * AsterixDB use for interval predicates) turns it into an EQUI join:
  *
  *  1. quantize the axis into fixed-width bins; each interval explodes
  *     into the bins it covers;
  *  2. equi-join on (partition keys, bin) — a plain shuffled/broadcast
  *     hash join, so AQE/skew handling apply;
  *  3. keep a pair only in the CANONICAL bin — the bin containing
  *     `greatest(start_l, start_r)`. Every truly-overlapping pair
  *     shares that bin (both intervals cover their later start), and
  *     exactly one bin satisfies the equality, so no post-join
  *     `distinct` is needed — duplicate elimination costs zero.
  *
  * At 100 TB the join is one shuffle on (keys, bin); bin width trades
  * replication (long intervals explode into ~length/width bins) against
  * candidate density (wide bins put non-overlapping pairs in the same
  * bucket, rejected by the residual predicate). Pick width ≈ the median
  * interval length so replication is O(1) per row.
  */
object Interval {

  /** Overlap-join two interval relations on CLOSED integer intervals
    * [`startL`,`endL`] × [`startR`,`endR`] (epoch days/seconds/ids —
    * any integral axis), optionally equi-keyed by `keys` (same column
    * names on both sides). Returns matching row pairs with all columns
    * of both inputs (which must not collide outside `keys`).
    *
    * Rows with a NULL endpoint or `end < start` cannot overlap anything
    * under closed-interval semantics and are dropped, mirroring what the
    * SQL inequality predicate would do with NULL/empty intervals.
    */
  def overlapJoin(left: DataFrame, right: DataFrame,
      startL: String, endL: String, startR: String, endR: String,
      binWidth: Long, keys: Seq[String] = Nil): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    // sign-safe floorDiv: (x - pmod(x, w)) / w (Spark's integral `/` is
    // a double divide and `div` truncates toward zero — both wrong for
    // negative axis values like pre-1970 epochs)
    def bin(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(binWidth))) / binWidth).cast("long")
    val lb = left
      .filter(col(startL).isNotNull && col(endL).isNotNull &&
        col(startL) <= col(endL))
      .withColumn("__bin", explode(sequence(bin(col(startL)), bin(col(endL)))))
    val rb = right
      .filter(col(startR).isNotNull && col(endR).isNotNull &&
        col(startR) <= col(endR))
      .withColumn("__bin", explode(sequence(bin(col(startR)), bin(col(endR)))))
    lb.join(rb, keys :+ "__bin")
      .filter(col(startL) <= col(endR) && col(startR) <= col(endL) &&
        col("__bin") === bin(greatest(col(startL), col(startR))))
      .drop("__bin")
  }

  /** Bin-width sizing for [[overlapJoin]] / `OverlapJoinRewrite` — the
    * first-principles rule the Scaladoc states ("pick width ≈ the
    * median interval length so replication is O(1) per row") made
    * executable, like `Dedup.recommendedBands` and
    * `Similarity.recommendedLists`: the median interval length
    * (approx_percentile — one cheap two-column pass), rounded UP to a
    * power of two so small estimate jitter between runs never changes
    * the chosen width. Degenerate inputs (empty relation, all-inverted
    * intervals) fall back to 1. Probe queries keep their pinned widths
    * for oracle stability; production callers pass this.
    */
  def recommendedBinWidth(df: DataFrame, startCol: String,
      endCol: String): Long = {
    val med = df
      .select((col(endCol).cast("long") - col(startCol).cast("long")).as("w"))
      .filter(col("w") >= 0)
      .agg(expr("approx_percentile(w, 0.5, 1000)"))
      .head.getAs[Any](0)
    med match {
      case null => 1L
      case m: Long if m <= 1L => 1L
      case m: Long => java.lang.Long.highestOneBit(m - 1) << 1 // ceil pow2
    }
  }

  def defs: Map[String, QueryDef] = Map(
    // Overlapping order-processing windows per customer: each order owns
    // a 7-day closed window from its order date; pairs of windows of the
    // SAME customer that overlap, with the overlap length. The oracle is
    // the plain quadratic-per-customer inequality join — result equality
    // proves the binned equi plan loses no pair and (via the canonical
    // bin) double-counts none. binWidth = the window length, so each
    // interval covers ≤ 2 bins.
    "j10_interval_overlap" -> QueryDef.sql(
      """WITH o AS (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS s,
        |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT + 6 AS e
        |  FROM orders)
        |SELECT a.custkey, a.o_orderkey AS order_a, b.o_orderkey AS order_b,
        |  CAST(least(a.e, b.e) - greatest(a.s, b.s) + 1 AS BIGINT) AS overlap_days
        |FROM o a JOIN o b ON a.custkey = b.custkey
        |  AND a.o_orderkey < b.o_orderkey AND a.s <= b.e AND b.s <= a.e
        |ORDER BY a.custkey, order_a, order_b""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("s"))
        .withColumn("e", col("s") + 6)
      val a = o.select(col("custkey"), col("o_orderkey").as("order_a"),
        col("s").as("sa"), col("e").as("ea"))
      val b = o.select(col("custkey"), col("o_orderkey").as("order_b"),
        col("s").as("sb"), col("e").as("eb"))
      overlapJoin(a, b, "sa", "ea", "sb", "eb", binWidth = 7,
          keys = Seq("custkey"))
        .filter(col("order_a") < col("order_b"))
        .select(col("custkey"), col("order_a"), col("order_b"),
          (least(col("ea"), col("eb")) - greatest(col("sa"), col("sb")) + 1)
            .cast("long").as("overlap_days"))
        .orderBy("custkey", "order_a", "order_b")
    },

    // The TRANSPARENT version of j10's rewrite: a pure range-overlap
    // join written as a plain DataFrame inequality condition — no equi
    // key at all, Spark's BNLJ worst case — optimized into the binned
    // equi join by graft.plans.OverlapJoinRewrite (conf-scoped inside
    // the probe; localCheckpoint forces planning while the conf is
    // set). Semantics: sampled order windows [orderdate, +6] vs
    // sampled lineitem delivery intervals [shipdate, shipdate +
    // quantity days] (no receiptdate in the synthetic table; quantity
    // is integral 1..50), aggregated per order.
    // The oracle is DuckDB's plain quadratic inequality join — equality
    // proves the rewrite loses no pair and double-counts none on real
    // data (the fixture-level proof incl. NULL/inverted bounds lives in
    // OverlapJoinRewriteSpec). Sampling gates are the engine-portable
    // md5-permille recipe (t7). binWidth 64 ≥ both interval lengths
    // (window 7 d, delivery ≤ 50 d) ⇒ ≤ 2 bins per row.
    "j12_overlap_rewrite" -> QueryDef.sql(
      """WITH o AS (
        |  SELECT o_orderkey,
        |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT AS ws,
        |    date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT + 6 AS we
        |  FROM orders
        |  WHERE CAST('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '#j12'), 1, 8) AS UBIGINT) % 1000 < 10),
        |li AS (
        |  SELECT date_diff('day', DATE '1970-01-01', l_shipdate)::BIGINT AS ss,
        |    date_diff('day', DATE '1970-01-01', l_shipdate)::BIGINT
        |      + CAST(l_quantity AS BIGINT) AS se
        |  FROM lineitem
        |  WHERE CAST('0x' || substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) || '#j12'), 1, 8) AS UBIGINT) % 1000 < 5)
        |SELECT o.o_orderkey, CAST(count(*) AS BIGINT) AS n_overlap,
        |  CAST(sum(least(o.we, li.se) - greatest(o.ws, li.ss) + 1) AS BIGINT) AS overlap_days
        |FROM o JOIN li ON o.ws <= li.se AND li.ss <= o.we
        |GROUP BY o.o_orderkey
        |ORDER BY o.o_orderkey""".stripMargin) { (s, d) =>
      def gate(key: org.apache.spark.sql.Column, salt: String, permille: Int) =
        conv(substring(md5(concat(key, lit(salt))), 1, 8), 16, 10)
          .cast("long") % 1000 < permille
      val o = Tables.orders(s, d)
        .filter(gate(col("o_orderkey").cast("string"), "#j12", 10))
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("ws"))
        .withColumn("we", col("ws") + 6)
      val li = Tables.lineitem(s, d)
        .filter(gate(concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")), "#j12", 5))
        .select(
          datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("ss"),
          (datediff(col("l_shipdate"), lit("1970-01-01")).cast("long")
            + col("l_quantity").cast("long")).as("se"))
      val agg =
        graft.Sessions.withConfs(s, graft.plans.OverlapJoinRewrite.BinWidthKey -> "64") {
          o.join(li, o("ws") <= li("se") && li("ss") <= o("we"))
            .groupBy("o_orderkey")
            .agg(count(lit(1)).cast("long").as("n_overlap"),
              sum(least(col("we"), col("se")) - greatest(col("ws"), col("ss"))
                + 1).cast("long").as("overlap_days"))
            .localCheckpoint() // plan + execute while the conf is in scope
        }
      agg.orderBy("o_orderkey")
    })
}
