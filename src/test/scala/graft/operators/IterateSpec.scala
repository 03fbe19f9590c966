package graft.operators

import graft.{SparkEntry, TestSpark}
import graft.TestSpark.{roundJobs, withPartitions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.max
import org.scalatest.funsuite.AnyFunSuite

/** The checkpoint lifecycle of the iterative operators: no RDD an
  * operator call creates may stay persisted once its result is collected
  * and released — after a normal return and after a throw. Only RDD ids
  * above the highest id before the call count, so blocks other suites
  * left behind do not.
  */
class IterateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Ids of the RDDs `run` created that are still persisted after it. */
  private def leftover(run: => Unit): Seq[Int] = {
    val ctx = spark.sparkContext
    val before = ctx.emptyRDD[Int].id
    run
    ctx.getPersistentRDDs.keys.filter(_ > before).toSeq.sorted
  }

  private def collectAndRelease(df: => DataFrame): Unit = {
    val out = df
    out.collect()
    Iterate.release(out)
  }

  private def weighted = Seq(("a", "hub", 1.0), ("b", "hub", 3.0),
    ("hub", "a", 1.0), ("a", "sink", 1.0)).toDF("src", "dst", "weight")
  // triangle 1-2-3 with a pendant chain 3-4-5
  private def graph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    .toDF("src", "dst")
  private def path = (1L to 11L).map(i => (i, i + 1)).toDF("src", "dst")
  private def docs = Seq("low lower lowest", "newer wider newest")
    .toDF("text")

  Seq[(String, () => DataFrame)](
    "pageRank" -> (() => Graph.pageRank(weighted, iterations = 3)),
    "personalizedPageRank" -> (() =>
      Graph.personalizedPageRank(weighted, Seq("a"), iterations = 3)),
    "hits" -> (() => Graph.hits(weighted, iterations = 3)),
    "bfsHops" -> (() => Graph.bfsHops(graph, source = 1L)),
    "bfsHops at its hop bound" -> (() => Graph.bfsHops(path, 1L, maxHops = 2)),
    "ssspRounds" -> (() => Graph.ssspRounds(
      graph.withColumn("w", $"src" + $"dst"), source = 1L, rounds = 3)),
    "kCore" -> (() => Graph.kCore(graph, k = 2)),
    "labelPropagation" -> (() => Graph.labelPropagation(graph,
      graph.select($"src".as("node"), ($"src" % 2).as("label")).distinct(),
      rounds = 2)),
    "triangleCount" -> (() => Graph.triangleCount(graph)),
    "linkPrediction" -> (() => Graph.linkPrediction(graph)),
    "clusters" -> (() => Dedup.clusters(
      path.toDF("id_a", "id_b"), maxRounds = 15)),
    "bpeMerges" -> (() => Corpus.bpeMerges(docs, rounds = 3)),
    "bpeEncode" -> (() => Corpus.bpeEncode(docs, rounds = 3)),
    "g7 probe" -> (() => SparkEntry.queries("g7_bfs_hops")(spark,
      TestSpark.sfDir)),
    "g9 probe" -> (() => SparkEntry.queries("g9_weighted_sssp")(spark,
      TestSpark.sfDir)),
    "a26 probe" -> (() => SparkEntry.queries("a26_exact_quantile")(spark,
      TestSpark.sfDir)),
    "a27 probe" -> (() => SparkEntry.queries("a27_weighted_quantile")(spark,
      TestSpark.sfDir))
  ).foreach { case (name, op) =>
    test(s"$name leaves nothing persisted once its result is released") {
      assert(leftover(collectAndRelease(op())) === Nil)
    }
  }

  private def assertTwoJobsOneQuery(rounds: Map[String, Seq[String]]): Unit =
    rounds.foreach { case (round, execs) =>
      assert(execs.size === 2, s"$round ran ${execs.size} jobs")
      assert(execs.distinct.size === 1 && execs.head.nonEmpty,
        s"$round ran ${execs.distinct.size} queries")
    }

  test("a one-partition CC state takes one round of two jobs of one query") {
    val rounds = roundJobs("cc")(collectAndRelease(Dedup.clusters(
      path.toDF("id_a", "id_b"), maxRounds = 15)))
    // AQE coalesces the 12-node chain's state into one partition, so the
    // local union-find sees every edge and the first round is exact
    assert(rounds.keySet === Set("cc: round 0"))
    assertTwoJobsOneQuery(rounds)
  }

  test("a CC round over four uncoalesced partitions is two jobs of one query") {
    var labels = Array.empty[Long]
    val rounds = withPartitions(4)(roundJobs("cc") {
      val out = Dedup.clusters(path.toDF("id_a", "id_b"), maxRounds = 15)
      labels = out.collect().map(_.getLong(1))
      Iterate.release(out)
    })
    // some chain edges cross partitions, so labels still travel by
    // message, never in more rounds than plain min-label's 12
    assert(rounds.size >= 2 && rounds.size <= 12, s"rounds: ${rounds.keys}")
    assert(rounds.keySet === (0 until rounds.size).map(r => s"cc: round $r").toSet)
    assertTwoJobsOneQuery(rounds)
    assert(labels.length === 12 && labels.forall(_ === 1L))
  }

  // kCore peels node 5, then node 4, then sees no change; bfsHops
  // reaches {2, 3}, {4}, {5}, then an empty frontier
  Seq[(String, Int, () => DataFrame)](
    ("kCore", 3, () => Graph.kCore(graph, k = 2)),
    ("bfsHops", 4, () => Graph.bfsHops(graph, source = 1L))
  ).foreach { case (op, nRounds, run) =>
    test(s"$op observes convergence in its rounds: no probe job") {
      val rounds = roundJobs(op)(collectAndRelease(run()))
      assert(rounds.size === nRounds, s"rounds: ${rounds.keys}")
      rounds.foreach { case (round, execs) =>
        assert(execs.distinct.size === 1 && execs.head.nonEmpty,
          s"$round ran ${execs.distinct.size} queries")
      }
    }
  }

  test("clusters releases its caches and checkpoints when it does not converge") {
    // over four partitions the chain needs more than one round
    assert(leftover(intercept[IllegalStateException](withPartitions(4)(
      Dedup.clusters(path.toDF("id_a", "id_b"), maxRounds = 1)))) === Nil)
  }

  test("kCore releases its edge checkpoint when it finds no fixpoint") {
    assert(leftover(intercept[RuntimeException](
      Graph.kCore(path, k = 2, maxRounds = 2))) === Nil)
  }

  test("ssspRounds releases its edge checkpoint when it rejects a negative weight") {
    val e = Seq((1L, 2L, 1L), (2L, 3L, -1L)).toDF("src", "dst", "w")
    assert(leftover(intercept[IllegalArgumentException](
      Graph.ssspRounds(e, source = 1L, rounds = 2))) === Nil)
  }

  test("bpe training releases its vocabulary when no adjacent pairs are left") {
    val singles = Seq("a b c").toDF("text")
    assert(leftover(intercept[IllegalArgumentException](
      Corpus.bpeMerges(singles, rounds = 1))) === Nil)
  }

  // `extra` checkpoints taken inside each step (hits' authorities) are
  // released with the round that took them
  for (extra <- Seq(0, 1))
    test(s"rounds with $extra in-step checkpoints: only the current and " +
        "previous round stay held, jobs labelled") {
      val ctx = spark.sparkContext
      val seen = scala.collection.mutable.ArrayBuffer[String]()
      val held = scala.collection.mutable.ArrayBuffer[Int]()
      var result = (0L, false)
      val left = leftover {
        val before = ctx.emptyRDD[Int].id
        result = Iterate.scope { sc =>
          val (last, stopped) = sc.rounds("count up",
              sc.checkpoint(Seq(0L).toDF("v")), maxRounds = 6,
              observe = Seq(max($"v")),
              until = observed => {
                seen += ctx.getLocalProperty("spark.job.description")
                held += ctx.getPersistentRDDs.keys.count(_ > before)
                observed.getLong(0) == 4L
              }) { (cur, _) =>
            val step = (1 to extra).foldLeft(cur)((df, _) => sc.checkpoint(df))
            step.select(($"v" + 1L).as("v"))
          }
          (last.head.getLong(0), stopped)
        }
      }
      assert(result === ((4L, true)))
      assert(left === Nil)
      assert(seen.toSeq === (0 to 3).map(r => s"count up: round $r"))
      // the initial state is a single checkpoint, so round 0 holds fewer
      assert(held.toSeq === (2 + extra) +: Seq.fill(3)(2 * (1 + extra)))
      assert(ctx.getLocalProperty("spark.job.description") === null)
    }
}
