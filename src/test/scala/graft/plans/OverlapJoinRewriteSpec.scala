package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The transparent range-join rewrite: exact semantics (including NULL
  * and inverted interval bounds), plan shape (BNLJ eliminated), and
  * every conservative bail-out. AQE lesson applies: plan-shape asserts
  * run on the FINAL adaptive plan, after execution.
  */
class OverlapJoinRewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withBinWidth[T](w: String)(body: => T): T =
    graft.Sessions.withConfs(spark, OverlapJoinRewrite.BinWidthKey -> w)(body)

  private def finalPlan(df: DataFrame): String = {
    df.write.mode("overwrite").format("noop").save()
    df.queryExecution.executedPlan.toString
  }

  // deterministic pseudo-random interval fixtures with adversarial rows:
  // NULL bounds, inverted intervals, zero-length, negative axis values
  private def leftDf: DataFrame =
    ((1 to 80).map { i =>
      val s = (i * 37 % 29).toLong - 7
      (i.toLong, s, s + (i * 13 % 11) - 2) // some inverted (end < start)
    } ++ Seq((900L, -3L, 4L)))
      .toDF("lid", "ls", "le")
      .union(Seq((901L, Option.empty[Long], Some(5L)),
        (902L, Some(3L), Option.empty[Long]))
        .toDF("lid", "ls", "le"))

  private def rightDf: DataFrame =
    ((1 to 90).map { i =>
      val s = (i * 23 % 31).toLong - 9
      (i.toLong + 1000, s, s + (i * 7 % 9) - 1)
    } ++ Seq((990L, -11L, 22L)))
      .toDF("rid", "rs", "re")
      .union(Seq((991L, Option.empty[Long], Some(9L)))
        .toDF("rid", "rs", "re"))

  private def overlapQuery(l: DataFrame, r: DataFrame): DataFrame =
    l.join(r, l("ls") <= r("re") && r("rs") <= l("le"))
      .select(col("lid"), col("rid"))

  test("rewrite preserves exact join semantics (nulls, inverted, strict mix)") {
    val plain = overlapQuery(leftDf, rightDf).collect().map(r =>
      (r.getLong(0), r.getLong(1))).sorted
    for (w <- Seq("1", "4", "1000")) {
      val rewritten = withBinWidth(w) {
        overlapQuery(leftDf, rightDf).collect()
      }.map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rewritten === plain, s"binWidth=$w changed the result")
    }
    // strict-inequality variant must also survive the rewrite
    def strict(): Array[(Long, Long)] = {
      val l = leftDf; val r = rightDf
      l.join(r, l("ls") < r("re") && r("rs") < l("le"))
        .select(col("lid"), col("rid")).collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted
    }
    val strictPlain = strict()
    val strictRw = withBinWidth("5")(strict())
    assert(strictRw === strictPlain)
  }

  test("rewrite fires: BNLJ/cartesian replaced by a binned equi join") {
    val p = withBinWidth("4") {
      finalPlan(overlapQuery(leftDf, rightDf))
    }
    assert(p.contains(OverlapJoinRewrite.BinColName),
      s"bin attribute missing — rule did not fire:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested-loop join survived the rewrite:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected an equi join on the bin key:\n$p")
  }

  test("bails out: conf unset, equi key present, non-integral bounds") {
    // conf unset (default): plan untouched
    val off = finalPlan(overlapQuery(leftDf, rightDf))
    assert(!off.contains(OverlapJoinRewrite.BinColName))

    withBinWidth("4") {
      // an equi conjunct between the sides → Catalyst hash-joins on it
      val keyedL = leftDf.withColumn("k", pmod(col("lid"), lit(3)))
      val keyedR = rightDf.withColumn("k", pmod(col("rid"), lit(3)))
      val equi = finalPlan(keyedL.join(keyedR,
        keyedL("k") === keyedR("k") && keyedL("ls") <= keyedR("re") &&
          keyedR("rs") <= keyedL("le")).select(col("lid"), col("rid")))
      assert(!equi.contains(OverlapJoinRewrite.BinColName),
        s"rule must not fire when an equi key exists:\n$equi")

      // double bounds: no binning arithmetic on floats
      val dl = leftDf.select(col("lid"),
        (col("ls") + lit(0.5)).as("ls"), (col("le") + lit(0.5)).as("le"))
      val dr = rightDf.select(col("rid"),
        (col("rs") + lit(0.5)).as("rs"), (col("re") + lit(0.5)).as("re"))
      val dbl = finalPlan(overlapQuery(dl, dr))
      assert(!dbl.contains(OverlapJoinRewrite.BinColName),
        s"rule must not fire on non-integral bounds:\n$dbl")
    }
  }

  test("j12 probe shape on real tables: rewrite fires, no BNLJ") {
    // the j12 probe localCheckpoints while its conf is in scope, so its
    // returned plan can't be inspected — rebuild the same join here
    val o = graft.Tables.orders(spark, TestSpark.sfDir).select(
      col("o_orderkey"),
      datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("ws"))
      .withColumn("we", col("ws") + 6)
    val li = graft.Tables.lineitem(spark, TestSpark.sfDir).select(
      datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("ss"))
      .withColumn("se", col("ss") + 30)
    val p = withBinWidth("64") {
      finalPlan(o.join(li, o("ws") <= li("se") && li("ss") <= o("we"))
        .groupBy("o_orderkey").agg(count(lit(1)).as("n")))
    }
    assert(p.contains(OverlapJoinRewrite.BinColName), s"did not rewrite:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"nested-loop join survived:\n$p")
  }

  test("j12 scopes its bin width and keeps the one the caller set") {
    withBinWidth("32") {
      graft.SparkEntry.queries("j12_overlap_rewrite")(spark, TestSpark.sfDir).collect()
      assert(spark.conf.getOption(OverlapJoinRewrite.BinWidthKey) === Some("32"))
    }
  }

  test("rewrite works from pure SQL through the injected extensions") {
    leftDf.createOrReplaceTempView("ojr_l")
    rightDf.createOrReplaceTempView("ojr_r")
    val sql = """SELECT lid, rid FROM ojr_l JOIN ojr_r
                 ON ls <= re AND rs <= le"""
    val plain = spark.sql(sql).collect().map(r =>
      (r.getLong(0), r.getLong(1))).sorted
    val (rows, p) = withBinWidth("3") {
      val df = spark.sql(sql)
      val rs = df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      (rs, df.queryExecution.executedPlan.toString)
    }
    assert(rows === plain)
    assert(p.contains(OverlapJoinRewrite.BinColName), s"SQL path did not rewrite:\n$p")
  }
}
