package graft.operators

import graft.TestSpark
import graft.TestSpark.{roundJobs, withPartitions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest to hide from the loud hunters"

  private lazy val docs = Seq(
    (0L, base),
    (1L, base),                                       // exact dup of 0
    (2L, base.replace("green", "dark")),              // near dup of 0
    (3L, "completely different text about spark catalyst optimizer rules " +
      "and whole stage code generation for columnar execution engines"),
    (4L, "another unrelated document mentioning weather forecast api " +
      "payloads with hourly temperature and precipitation arrays")
  ).toDF("doc_id", "text")

  test("exact dedup keeps one row per distinct text, lowest id") {
    val kept = Dedup.exact(docs)
    assert(kept.count() === 4)
    assert(kept.filter(col("doc_id") === 1L).count() === 0)
  }

  test("minhash signature: identical texts agree, near-dups mostly agree") {
    val sigs = Dedup.signatures(docs).collect()
      .map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
    assert(sigs(0L) === sigs(1L))
    val agree02 = sigs(0L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree02 > 32, s"near-dup agreement only $agree02/64")
    val agree03 = sigs(0L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree03 < 16, s"unrelated docs agree $agree03/64")
  }

  test("minhash LSH surfaces dup and near-dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashNearDups(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: identical → distance 0; near-dup within 7 bits; unrelated far") {
    val sigs = docs.select(col("doc_id"),
      graft.functions.Sketches.simhash64(
        graft.functions.TextFunctions.words(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) === 0)
    assert(ham(sigs(0L), sigs(2L)) <= 7)
    assert(ham(sigs(0L), sigs(3L)) > 10)
  }

  test("editDistancePairs: banded equi join finds exactly the close pairs") {
    val vocab = Seq("spark", "spars", "sparkle", "flink", "plink", "duckdb")
      .toDF("title")
    val got = Dedup.editDistancePairs(vocab, "title", maxDist = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // spars↔sparkle is distance 3 (sub + 2 inserts): correctly excluded
    assert(got === Set(
      ("spark", "sparkle", 2L), ("spark", "spars", 1L),
      ("flink", "plink", 1L)))
    val plan = Dedup.editDistancePairs(vocab, "title", maxDist = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"fuzzy join degraded to a nested loop:\n$plan")
  }

  test("editDistancePairs: positional q-gram filter prunes same-length vocab losslessly") {
    import scala.util.hashing.MurmurHash3
    // 200 diverse length-12 hex strings — length banding alone can't
    // split them (every pair shares a bucket) — plus 20 injected
    // one-substitution variants (the true near-duplicates)
    val strs = (0 until 200).map(i =>
      f"${MurmurHash3.stringHash(s"w$i") & 0xffffffffL}%012x")
    val variants = strs.zipWithIndex.collect { case (s, i) if i % 10 == 0 =>
      s.updated(3, if (s(3) == 'a') 'b' else 'a') }
    val vocab = (strs ++ variants).toDF("title")
    val unpruned = Dedup.editDistanceCandidates(vocab, "title", 2, 0).count()
    val pruned = Dedup.editDistanceCandidates(vocab, "title", 2, 2).count()
    assert(pruned * 10 <= unpruned,
      s"q-gram count filter barely pruned: $pruned of $unpruned candidates")
    // lossless: identical final pairs to the brute-force quadratic
    val v = vocab.select(col("title").cast("string").as("name")).distinct()
    val brute = v.select(col("name").as("name_a"))
      .crossJoin(v.select(col("name").as("name_b")))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 2)
    val got = Dedup.editDistancePairs(vocab, "title", maxDist = 2)
    assert(got.count() >= 20, "injected variants not found")
    assert(got.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(got).count() === 0)
  }

  test("clusters: connected components resolve to the minimum member id") {
    // components: {1,2,3,4} via a chain, {10,11}, and 20-20 has no edges
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("clusters: long chains converge given enough rounds, throw when capped") {
    // a 12-node chain has diameter 11; spread over four partitions its
    // labels still travel by message, so one round is not enough, and
    // silent truncation must be an error
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    withPartitions(4) {
      val ok = Dedup.clusters(chain, maxRounds = 15).collect()
      assert(ok.forall(_.getLong(1) === 1L), "chain not fully labeled")
      intercept[IllegalStateException](Dedup.clusters(chain, maxRounds = 1))
    }
  }

  /** Seeded random pair lists: chains, stars and cycles over shuffled
    * ids, two chains joined by one edge listed last, and duplicate,
    * reversed and self pairs (one of them a node's only pair). */
  private def randomPairs(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 400L).toVector).iterator
    def take(n: Int) = Vector.fill(n)(ids.next())
    def chain(n: Int) = { val v = take(n); v.zip(v.tail) }
    def star(n: Int) = { val v = take(n); v.tail.map(v.head -> _) }
    def cycle(n: Int) = { val v = take(n); v.zip(v.tail :+ v.head) }
    val shapes = Seq.fill(1 + rnd.nextInt(3))(chain(2 + rnd.nextInt(20))) ++
      Seq.fill(rnd.nextInt(3))(star(2 + rnd.nextInt(15))) ++
      Seq.fill(rnd.nextInt(3))(cycle(3 + rnd.nextInt(12)))
    val (left, right) = (chain(2 + rnd.nextInt(15)), chain(2 + rnd.nextInt(15)))
    val pairs = rnd.shuffle(shapes.flatten ++ left ++ right)
    val noise = pairs.take(5).flatMap(p => Seq(p, p.swap)) ++
      pairs.take(3).map(p => (p._1, p._1))
    val loner = take(1).head
    pairs ++ noise :+ (loner -> loner) :+ (left.last._2 -> right.last._2)
  }

  /** Component minimum per node by union-find, and the rounds plain
    * min-label propagation takes (its last round changes nothing). */
  private def reference(pairs: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comp = parent.keys.toSeq.map(x => x -> find(x)).toMap
    val nbrs = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
    var label = nbrs.keys.map(x => x -> x).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = label.map { case (x, l) => x -> (l +: nbrs(x).map(label)).min }
      changed = next != label
      label = next
      rounds += 1
    }
    (comp, rounds)
  }

  for (seed <- 1 to 6; parts <- Seq(1, 4))
    test(s"clusters: seed $seed on $parts partitions equals union-find, " +
        "rounds <= min-label") {
      val pairs = randomPairs(seed)
      val (want, minLabelRounds) = reference(pairs)
      var got = Map.empty[Long, Long]
      val rounds = withPartitions(parts)(roundJobs("cc") {
        val out = Dedup.clusters(pairs.toDF("id_a", "id_b"), maxRounds = 60)
        got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        Iterate.release(out)
      }).size
      assert(got === want)
      assert(rounds <= minLabelRounds, s"plain min-label takes $minLabelRounds")
      if (parts == 1) assert(rounds === 1)
    }

  test("clusters: string and array ids keep their order; null ids get no label") {
    // "a10" < "a9" < "b" as strings, unlike as numbers
    val strs = Seq(("b", "a9"), ("a9", "a10"), ("y", "x")).toDF("id_a", "id_b")
    val byStr = Dedup.clusters(strs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byStr === Map("b" -> "a10", "a9" -> "a10", "a10" -> "a10",
      "x" -> "x", "y" -> "x"))
    val arrs = Seq((Seq(2L), Seq(1L, 5L)), (Seq(1L, 5L), Seq(1L)))
      .toDF("id_a", "id_b")
    val byArr = Dedup.clusters(arrs).collect()
      .map(r => r.getSeq[Long](0) -> r.getSeq[Long](1)).toMap
    assert(byArr.values.toSet === Set(Seq(1L)) && byArr.size === 3)
    // a null id gets no label and joins no cluster
    val nulls = Seq[(java.lang.Long, java.lang.Long)]((null, 5L), (6L, 5L))
      .toDF("id_a", "id_b")
    assert(Dedup.clusters(nulls).collect().map(r => (r.get(0), r.get(1))).toSet ===
      Set((null, null), (5L, 5L), (6L, 5L)))
  }

  test("clusters: an id type with no order fails, naming the column") {
    val maps = Seq((Map(1L -> 1L), Map(2L -> 2L))).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](Dedup.clusters(maps))
    assert(e.getMessage.contains("'id_a'") && e.getMessage.contains("no order"),
      e.getMessage)
  }

  test("nearDupClusters labels every doc; dups share a representative") {
    val labeled = Dedup.nearDupClusters(docs, threshold = 0.3)
    assert(labeled.count() === 5) // left join keeps singletons
    val byId = labeled.collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(byId(0L) === 0L && byId(1L) === 0L && byId(2L) === 0L,
      s"near-dup trio split: $byId")
    assert(byId(3L) === 3L && byId(4L) === 4L, s"singletons mislabeled: $byId")
  }

  test("empty/whitespace docs: HOF and fused Jaccard agree at 0.0 (ADVICE r1)") {
    val pairs = Seq(("", ""), ("   ", "\t\n"), ("", "real words here"))
      .toDF("a", "b")
    val out = pairs.select(
      Dedup.ngramJaccard(col("a"), col("b")).as("hof"),
      graft.functions.Sketches.ngramJaccard(
        graft.functions.TextFunctions.words(col("a")),
        graft.functions.TextFunctions.words(col("b")), 3).as("fused")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) === 0.0, s"HOF jaccard ${r.getDouble(0)} != 0.0")
      assert(r.getDouble(1) === 0.0, s"fused jaccard ${r.getDouble(1)} != 0.0")
    }
  }

  test("verified near-dups report exact n-gram jaccard") {
    val verified = Dedup.verifiedNearDups(docs, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified((0L, 1L)) === 1.0)
    assert(verified.contains((0L, 2L)))
    assert(verified((0L, 2L)) > 0.4 && verified((0L, 2L)) < 1.0)
  }

  test("pigeonhole blocking finds all pairs within the hamming budget (exhaustive check)") {
    val viaBlocks = Dedup.simhashNearDups(docs, maxHamming = 7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute-force ground truth
    val sigs = docs.select(col("doc_id"),
      graft.functions.Sketches.simhash64(
        graft.functions.TextFunctions.words(col("text"))).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val truth = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      if java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (ia, ib)).toSet
    assert(viaBlocks === truth)
  }

  test("fused simhash64Text matches simhash64(words(text)) on real documents") {
    val docsReal = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    val mismatch = docsReal.select(
      graft.functions.Sketches.simhash64Text(col("text")).as("a"),
      graft.functions.Sketches.simhash64(
        graft.functions.TextFunctions.words(col("text"))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatch === 0)
  }

  test("sequence packing: packs respect the token budget per shard") {
    val packed = graft.operators.PipelineQueries.defs("t6_sequence_packing")
      .fn(spark, graft.TestSpark.sfDir)
    val perPack = packed.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tok"), count(lit(1)).as("docs"))
    // a pack can only exceed the budget by less than its last document
    val maxDoc = packed.agg(max("n_tokens")).collect()(0).getLong(0)
    val over = perPack.filter(col("tok") >= lit(512L) + maxDoc).count()
    assert(over === 0, "a pack exceeds budget by more than one document")
    assert(perPack.count() > packed.select("source").distinct().count(),
      "expected multiple packs per shard")
  }

  test("exactJaccardPairs equals the naive quadratic join (100% recall)") {
    // real corpus slice: every pair ≥ τ from the prefix-filtered path must
    // match the brute-force cross join exactly — losslessness is the
    // operator's contract
    val corpus = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 120)
    val tau = 0.35
    val fast = Dedup.exactJaccardPairs(corpus, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    val sh = corpus.select(col("doc_id"),
      array_distinct(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("g"))
    val naive = sh.select(col("doc_id").as("id_a"), col("g").as("g_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("g").as("g_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", Dedup.jaccard(col("g_a"), col("g_b")))
      .filter(col("j") >= tau)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
      .orderBy("id_a", "id_b").collect()
    assert(fast.map(_.toString).toSeq === naive.map(_.toString).toSeq)
    assert(naive.nonEmpty, "slice should contain at least one near-dup pair")
  }

  test("crossJaccardPairs equals the union self-join restricted to cross pairs") {
    // two-collection losslessness: running the SELF join over L ∪ R and
    // keeping only (L, R)-straddling pairs must equal the cross join —
    // proves the union-df global token order preserves the shared-prefix
    // guarantee across collections.
    val corpus = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 200)
    val left = corpus.filter(col("doc_id") % 7 =!= 0)
    val right = corpus.filter(col("doc_id") % 7 === 0)
    val tau = 0.35
    val cross = Dedup.crossJaccardPairs(left, right, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    val self = Dedup.exactJaccardPairs(corpus, threshold = tau)
      // orient every straddling pair as (train, eval) regardless of the
      // self-join's id_a < id_b triangle
      .filter((col("id_a") % 7 === 0) =!= (col("id_b") % 7 === 0))
      .select(
        when(col("id_a") % 7 =!= 0, col("id_a")).otherwise(col("id_b")).as("id_a"),
        when(col("id_a") % 7 === 0, col("id_a")).otherwise(col("id_b")).as("id_b"),
        col("jaccard"))
      .orderBy("id_a", "id_b").collect()
    assert(cross.map(_.toString).toSeq === self.map(_.toString).toSeq)
    assert(cross.nonEmpty, "slice should contain at least one cross pair")
  }

  test("crossJaccardPairs flags a doc leaked into both collections at J = 1") {
    val left = docs // contains doc 0 = base
    val right = Seq((100L, base), (101L, "nothing shared here at all with anyone"))
      .toDF("doc_id", "text")
    val pairs = Dedup.crossJaccardPairs(left, right, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.count { case (_, b, j) => b == 100L && j == 1.0 } == 2,
      s"docs 0 and 1 (exact dups of the leaked text) must both flag: ${pairs.toSeq}")
    assert(!pairs.exists(_._2 == 101L))
  }

  test("t49 cluster-safe split never splits a near-dup cluster across splits") {
    val out = graft.SparkEntry.queries("t49_cluster_safe_split")(
      spark, TestSpark.sfDir)
    val straddling = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(straddling === 0, "a near-dup cluster straddles train/val/test")
    assert(out.groupBy("cluster_id").count().filter(col("count") > 1).count() > 0,
      "fixture should contain at least one multi-doc cluster")
  }

  test("bloomDecontaminate ≡ decontaminate (bloom phase 1 changes cost, never the answer)") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 250)
    val corpus = docs.filter(col("doc_id") % 7 =!= 0)
    val eval = docs.filter(col("doc_id") % 7 === 0)
    val exact = Dedup.decontaminate(corpus, eval, n = 8)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    // a deliberately UNDERSIZED filter (high fpp): extra phase-1
    // candidates must still be rejected by the exact verify
    val bloomed = Dedup.bloomDecontaminate(corpus, eval, n = 8,
        expectedItems = 64, fpp = 0.2)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(bloomed === exact)
    assert(exact.exists(_.contains("true")),
      "fixture should contain at least one contaminated doc")
  }

  test("bloomIncrementalNew ≡ incrementalNew even with an undersized filter") {
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    val batch = docs.filter(col("doc_id") >= 400)
    val history = docs.filter(col("doc_id") < 400)
    val exact = Dedup.incrementalNew(batch, history)
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    val bloomed = Dedup.bloomIncrementalNew(batch, history,
        expectedItems = 32, fpp = 0.3) // deliberately tiny → high fpp
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(bloomed === exact)
    assert(exact.nonEmpty)
  }

  test("overlapPairs equals the naive quadratic overlap join (100% recall)") {
    val corpus = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 120)
    val tau = 0.45
    val fast = Dedup.overlapPairs(corpus, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    val sh = corpus.select(col("doc_id"),
      array_distinct(graft.functions.TextFunctions.wordShingles(col("text"), 3)).as("g"))
      .filter(size(col("g")) > 0)
    val naive = sh.select(col("doc_id").as("id_a"), col("g").as("g_a"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("g").as("g_b")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("overlap",
        size(array_intersect(col("g_a"), col("g_b"))).cast("long"))
      .withColumn("containment",
        col("overlap").cast("double") / least(size(col("g_a")), size(col("g_b"))))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "overlap", "containment")
      .orderBy("id_a", "id_b").collect()
    assert(fast.map(_.toString).toSeq === naive.map(_.toString).toSeq)
    assert(naive.nonEmpty, "slice should contain at least one containment pair")
  }

  test("overlapPairs keeps the exact-threshold boundary and finds short-in-long") {
    import spark.implicits._
    // B's 2 shingles share exactly 1 with A → containment 1/2 = 0.5
    val a = "w1 w2 w3 z1 z2 z3 z4"
    val b = "w1 w2 w3 w4"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val atTau = Dedup.overlapPairs(docs, threshold = 0.5).collect()
    assert(atTau.length === 1 && atTau(0).getDouble(3) === 0.5)
    assert(Dedup.overlapPairs(docs, threshold = 0.6).collect().isEmpty)

    // a short quote verbatim inside a long page: containment 1.0 while
    // Jaccard is diluted below any useful threshold — the operator's
    // reason to exist
    val page = ((1 to 24).map(i => s"p$i") ++ Seq("q1", "q2", "q3", "q4", "q5"))
      .mkString(" ")
    val quote = "q1 q2 q3 q4 q5"
    val d2 = Seq((1L, page), (2L, quote)).toDF("doc_id", "text")
    val cont = Dedup.overlapPairs(d2, threshold = 0.9).collect()
    assert(cont.length === 1 && cont(0).getDouble(3) === 1.0)
    assert(Dedup.exactJaccardPairs(d2, threshold = 0.4).collect().isEmpty,
      "Jaccard must miss the contained quote (that is the gap overlapPairs fills)")
  }

  test("exactJaccardPairs keeps pairs sitting EXACTLY at the threshold") {
    import spark.implicits._
    // |A| = 5 distinct shingles, |B| = 2, B ⊆ A → J = 2/5 = 0.4 exactly.
    // fp(0.4/1.4) > 2/7, so an un-epsiloned ceil((5+2)·q) = 3 > 2 would
    // drop this pair via the positional filter (exact-rational audit).
    val a = "alpha beta gamma delta echo foxtrot golf" // 5 3-gram shingles
    val b = "alpha beta gamma delta"                   // first 2 shingles
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.exactJaccardPairs(docs, threshold = 0.4).collect()
    assert(pairs.length === 1, "the J = τ boundary pair must survive")
    assert(pairs(0).getDouble(2) === 0.4)
    // and 0.8 (overshoots at size-sums divisible by 9 ⇒ audit class)
    val none = Dedup.exactJaccardPairs(docs, threshold = 0.5).collect()
    assert(none.isEmpty, "0.4 < 0.5 must not pass a higher threshold")
  }

  test("recommendedBands tracks the S-curve inflection") {
    // textbook case: 64 hashes, τ=0.5 → b=16, r=4 gives inflection exactly
    // (1/16)^(1/4) = 0.5
    assert(Dedup.recommendedBands(64, 0.5, margin = 1.0) === 16)
    // the default recall margin moves one step more sensitive
    assert(Dedup.recommendedBands(64, 0.5) === 32)
    // lower thresholds need more bands (more sensitive hashing)
    val b30 = Dedup.recommendedBands(64, 0.3)
    val b70 = Dedup.recommendedBands(64, 0.7)
    assert(b30 >= b70)
    assert(64 % b30 === 0 && 64 % b70 === 0)
    // IVF sizing: √N rounded to a power of two, floored
    assert(Similarity.recommendedLists(1000000) === 1024)
    assert(Similarity.recommendedLists(100) === 16)
  }

  test("decontaminate flags exactly the corpus docs sharing an n-gram with eval") {
    val spark2 = spark
    import spark2.implicits._
    val eval = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "prefix words then alpha beta gamma delta and more"), // shares the 4-gram
      (2L, "alpha beta gamma NOPE delta"),                       // breaks the window
      (3L, "completely unrelated content here")
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(corpus, eval, n = 4)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got === Map(1L -> true, 2L -> false, 3L -> false))
    // every corpus doc appears exactly once; eval docs never do
    assert(got.size === 3 && !got.contains(100L))
  }

  test("d3/d5 recall vs the exact d9 pairs meets the S-curve prediction (sf0.01)") {
    // d3 (MinHash LSH) and d5 (verified near-dup) have no SQL ground
    // truth, but d9 (exactJaccardPairs, oracle-green vs DuckDB's
    // quadratic join) IS their ground truth at the shared τ. Gate the
    // sketches on measured recall ≥ the S-curve-predicted catch rate for
    // the probes' geometry: 64 hashes in 16 bands of r=4 ⇒ per-pair
    // p(j) = 1 − (1 − j⁴)¹⁶ (cf. recommendedBands, which inverts the
    // same curve to pick the band count).
    val sf01 = "/root/testdata/sf0.01"
    val docs = graft.Tables.documents(spark, sf01)
    val exact = Dedup.exactJaccardPairs(docs, threshold = 0.4)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "no exact ground-truth pairs at sf0.01")

    def pCatch(j: Double): Double = 1.0 - math.pow(1.0 - math.pow(j, 4), 16)
    val predicted = exact.values.map(pCatch).sum / exact.size
    // 2σ binomial slack + 5 pp for the est-jaccard post-filter noise
    val sigma = math.sqrt(
      exact.values.map(j => pCatch(j) * (1 - pCatch(j))).sum) / exact.size
    val bound = predicted - 2 * sigma - 0.05

    val d3 = Dedup.minhashNearDups(docs, threshold = 0.3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d3Recall = exact.keys.count(d3.contains).toDouble / exact.size
    assert(d3Recall >= bound, s"d3 recall $d3Recall below predicted $bound")

    val d5 = Dedup.verifiedNearDups(docs, threshold = 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val d5Recall = exact.keys.count(d5.contains).toDouble / exact.size
    assert(d5Recall >= bound, s"d5 recall $d5Recall below predicted $bound")
    // d5's verify recomputes the same exact metric d9 uses, so every d5
    // pair must appear in the exact set (precision 1.0)
    assert((d5 -- exact.keySet).isEmpty, "d5 returned a pair d9 refutes")
  }

  test("hash-gate sampler: deterministic, strata outside rates dropped") {
    val df = graft.Tables.documents(spark, TestSpark.sfDir)
    val s1 = Scale.hashStratifiedSample(df, "lang", Map("en" -> 0.5, "de" -> 0.2))
    val s2 = Scale.hashStratifiedSample(df, "lang", Map("en" -> 0.5, "de" -> 0.2))
    assert(s1.select("doc_id").collect().map(_.getLong(0)).sorted
      === s2.select("doc_id").collect().map(_.getLong(0)).sorted)
    assert(s1.filter(!col("lang").isin("en", "de")).count() === 0)
    // changing the seed changes the sample (not a constant gate)
    val s3 = Scale.hashStratifiedSample(df, "lang", Map("en" -> 0.5, "de" -> 0.2),
      seed = 7L)
    assert(s3.select("doc_id").collect().map(_.getLong(0)).toSet
      !== s1.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("stratified sample: per-stratum counts are plausible and deterministic") {
    val q = graft.operators.PipelineQueries.defs("t7_stratified_sample")
    val a = q.fn(spark, graft.TestSpark.sfDir).collect()
    val b = q.fn(spark, graft.TestSpark.sfDir).collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)), "not deterministic")
    val counts = q.fn(spark, graft.TestSpark.sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = graft.Tables.documents(spark, graft.TestSpark.sfDir)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val fracs = Map("de" -> 0.5, "en" -> 0.5, "es" -> 0.2, "fr" -> 0.2, "zh" -> 0.1)
    fracs.foreach { case (lang, f) =>
      val got = counts.getOrElse(lang, 0L).toDouble
      val expect = totals(lang) * f
      assert(math.abs(got - expect) <= math.max(10, expect * 0.6),
        s"$lang: sampled $got vs expected ~$expect")
    }
  }

  // ---- deltaExact (incremental dedup) -------------------------------------

  test("deltaExact drops corpus dups and keeps lowest-id within-delta rep") {
    val corpus = Seq((0L, "alpha"), (1L, "beta")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha"),      // exact dup of corpus doc 0 → dropped
      (11L, "gamma"),      // fresh → kept
      (12L, "gamma"),      // within-delta re-fetch → dropped (11 is rep)
      (13L, "alpha"),      // second corpus dup → dropped (never revives 10)
      (14L, "epsilon")     // fresh → kept
    ).toDF("doc_id", "text")
    val kept = Dedup.deltaExact(corpus, delta)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(11L, 14L)))
  }

  test("deltaExact ≡ exact(corpus ∪ delta) restricted to delta ids") {
    // The incremental contract: with the corpus already deduped and its
    // ids below the delta's, one delta round must produce exactly what a
    // full re-dedup of the union would have kept from the delta.
    val corpus = Dedup.exact(Seq(
      (0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("doc_id", "text"))
    val delta = Seq(
      (10L, "beta"), (11L, "zeta"), (12L, "zeta"), (13L, "eta"), (14L, "alpha")
    ).toDF("doc_id", "text")
    val incremental = Dedup.deltaExact(corpus, delta)
      .select("doc_id").as[Long].collect().toSet
    val full = Dedup.exact(corpus.unionByName(delta))
      .select("doc_id").as[Long].collect().toSet.filter(_ >= 10L)
    assert(incremental === full)
  }

  test("deltaExact with an empty corpus degenerates to exact dedup") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val delta = Seq((5L, "x"), (6L, "x"), (7L, "y")).toDF("doc_id", "text")
    val kept = Dedup.deltaExact(corpus, delta)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(5L, 7L)))
  }

  // ---- deltaJaccardPairs (incremental near-dup ingest) ---------------------

  test("deltaJaccardPairs ≡ exactJaccardPairs(corpus ∪ delta) restricted to delta-touching pairs") {
    // the frozen-corpus-order losslessness proof: one delta round must
    // find exactly the union run's pairs that touch a delta id — cross
    // pairs AND delta-internal pairs, none lost to the frozen df ranking
    val all = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 200)
    val corpus = all.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"), col("text"))
    val delta = all.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val tau = 0.35
    val incremental = Dedup.deltaJaccardPairs(corpus, delta, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    val full = Dedup.exactJaccardPairs(corpus.unionByName(delta), threshold = tau)
      .filter(col("id_a") >= 1000L || col("id_b") >= 1000L)
      .orderBy("id_a", "id_b").collect()
    assert(incremental.map(_.toString).toSeq === full.map(_.toString).toSeq)
    assert(full.exists(r => r.getLong(0) < 1000L && r.getLong(1) >= 1000L),
      "fixture should contain at least one corpus-delta cross pair")
    assert(full.exists(r => r.getLong(0) >= 1000L),
      "fixture should contain at least one delta-internal pair")
  }

  test("deltaJaccardPairs finds pairs whose vocabulary is unseen in the corpus") {
    // delta-internal near-dups over df-0 tokens: the frozen order ranks
    // unseen tokens first (df 0, hash ties) on BOTH sides of the delta
    // triangle, so the shared-prefix guarantee still holds
    val corpus = Seq((0L, "completely different words here")).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "zyx wvu tsr qpo nml kji hgf"),
      (11L, "zyx wvu tsr qpo nml kji xyz"),   // 6/7 words shared with 10
      (12L, "unrelated payload nothing close")).toDF("doc_id", "text")
    val pairs = Dedup.deltaJaccardPairs(corpus, delta, threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((10L, 11L)))
    assert(!pairs.exists(p => p._1 == 12L || p._2 == 12L))
  }

  test("ingestRound: exact-drop, rep-keep, corpus-adjacency drop (non-transitive), cluster rep") {
    // half-overlap construction: J(P++Q, P++R) = 13/43 ≈ 0.302 for
    // 15-word halves with distinct tokens (13 shared windows of 28),
    // so τ = 0.25 links exactly the pairs built to share a half
    def seg(p: String) = (1 to 15).map(i => s"$p$i").mkString(" ")
    val A = seg("xx") + " " + seg("zz")
    val C = seg("cc") + " " + seg("qq")
    val corpus = Seq((0L, A)).toDF("doc_id", "text")
    val delta = Seq(
      (10L, A),                          // exact corpus dup → step-1 drop
      (11L, C),                          // fresh → kept
      (12L, C),                          // internal re-fetch → step-1 drop (11 is rep)
      (13L, seg("xx") + " " + seg("yy")),// shares a half with corpus A → step-3 drop
      (14L, seg("ww") + " " + seg("yy")),// shares a half with 13 ONLY — 13 is
                                         // dropped, and adjacency is direct, not
                                         // transitive → kept as a singleton
      (15L, seg("dd") + " " + seg("ee")),// within-batch near-dup pair (15,16):
      (16L, seg("dd") + " " + seg("ff")) // cluster keeps min id 15, drops 16
    ).toDF("doc_id", "text")
    val kept = Dedup.ingestRound(corpus, delta, threshold = 0.25)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(11L, 14L, 15L)))
  }

  test("deltaJaccardPairs identity holds on seeded randomized corpora") {
    // the fixture-based identity tests pin realistic data; this sweeps
    // deterministic random corpora over a TINY vocabulary so empty
    // docs, single-word docs, exact clones, and dense near-dup
    // structure all occur — any frozen-order edge the fixtures miss
    // shows up as a lost or phantom pair
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val vocab = (0 until 15).map(i => s"w${trial}x$i")
      def randDoc(): String =
        Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val all = (0L until 60L).map(i => (i, randDoc()))
      val corpus = all.filter(_._1 % 2 == 0).toDF("doc_id", "text")
      // odd originals re-ingested under fresh ids, plus exact clones of
      // a few corpus docs — random 3-gram sets rarely clear τ on their
      // own, and the guard below must never pass on an empty identity
      val clones = all.filter(t => t._1 % 10 == 0 && t._2.nonEmpty)
        .map { case (i, t) => (i + 2000L, t) }
      val delta = (all.filter(_._1 % 2 == 1)
        .map { case (i, t) => (i + 1000L, t) } ++ clones)
        .toDF("doc_id", "text")
      val tau = 0.3
      val inc = Dedup.deltaJaccardPairs(corpus, delta, threshold = tau)
        .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
      val full = Dedup.exactJaccardPairs(corpus.unionByName(delta), threshold = tau)
        .filter(col("id_a") >= 1000L || col("id_b") >= 1000L)
        .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
      assert(inc === full, s"trial $trial diverged")
      assert(full.nonEmpty,
        s"trial $trial produced no pairs — vocabulary too large to exercise the identity")
    }
  }

  test("deltaJaccardPairs with an empty corpus degenerates to exactJaccardPairs") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val delta = graft.Tables.documents(spark, TestSpark.sfDir)
      .filter(col("doc_id") < 120)
    val tau = 0.35
    val inc = Dedup.deltaJaccardPairs(corpus, delta, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    val full = Dedup.exactJaccardPairs(delta, threshold = tau)
      .orderBy("id_a", "id_b").collect()
    assert(inc.map(_.toString).toSeq === full.map(_.toString).toSeq)
    assert(full.nonEmpty)
  }

  test("t55 gate: LSH clustering refines the exact clustering; co-cluster pair recall floor; split rides the cluster") {
    // the scale-path twin of the t49 oracle probe: LSH-verified pairs
    // are a SUBSET of the exact pairs (same exact-Jaccard verify on
    // banded candidates), so every LSH cluster must sit INSIDE one
    // exact cluster (refinement — a violated edge would mean a fake
    // pair survived the verify), and the recall dial is the fraction
    // of exact co-cluster pairs the LSH path preserves.
    val docs = graft.Tables.documents(spark, TestSpark.sfDir)
    val tau = 0.3
    def clusterMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select(col("doc_id"),
          col("cluster_id").cast("long").as("cluster_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = clusterMap(Dedup.nearDupClustersExact(docs, threshold = tau))
    val lsh = clusterMap(Dedup.nearDupClusters(docs, threshold = tau))
    assert(exact.keySet === lsh.keySet, "both paths must label every doc")
    // refinement: docs sharing an LSH cluster share the exact cluster
    lsh.groupBy(_._2).foreach { case (cid, members) =>
      val exactLabels = members.keys.map(exact).toSet
      assert(exactLabels.size === 1,
        s"LSH cluster $cid spans exact clusters $exactLabels — a " +
          "verified-pair edge crossed exact-cluster lines")
    }
    // recall on co-cluster PAIRS (the leakage-relevant unit: a missed
    // pair is a potential cross-split leak)
    def coPairs(m: Map[Long, Long]): Set[(Long, Long)] =
      m.groupBy(_._2).values.flatMap { g =>
        val ids = g.keys.toSeq.sorted
        for (i <- ids.indices; j <- (i + 1) until ids.length)
          yield (ids(i), ids(j))
      }.toSet
    val exactPairs = coPairs(exact)
    val lshPairs = coPairs(lsh)
    assert(lshPairs.subsetOf(exactPairs),
      "LSH co-cluster pairs must be a subset of exact co-cluster pairs")
    assert(exactPairs.nonEmpty, "fixture must contain near-dup clusters")
    val recall = lshPairs.size.toDouble / exactPairs.size
    // measured 1.0 at sf0.01 (every exact pair survives the banding at
    // τ=0.3 on this fixture); floor pinned WELL below to gate collapse,
    // not noise
    assert(recall >= 0.8, s"LSH co-cluster pair recall $recall below floor")
    // the split gate rides the cluster id: members of one LSH cluster
    // land in one split (the leakage-free invariant the probe exists for)
    val split = Scale.assignSplit(
        Dedup.nearDupClusters(docs, threshold = tau)
          .withColumn("cluster_id", col("cluster_id").cast("long")),
        idCol = "cluster_id")
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    lsh.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keys.map(split).toSet.size === 1,
        s"cluster $cid members split across train/val/test")
    }
  }

  private val families = Seq(HashFamily.Seeded, HashFamily.Portable)

  test("near-dup pipelines never pair wordless documents, for either hash family") {
    // an empty and a punctuation-only text beside a real near-dup pair:
    // with no words there is no shingle evidence, yet the seeded MinHash
    // is all Long.MaxValue sentinels (estimate 1.0 between two such
    // docs) and the seeded SimHash 0 (hamming 0)
    val withWordless = docs.unionByName(Seq(
      (10L, ""),
      (11L, " ... !!! --- ")
    ).toDF("doc_id", "text"))
    val wordless = Set(10L, 11L)
    families.foreach { f =>
      val mh = Dedup.minhashNearDups(withWordless, threshold = 0.5, family = f)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val sh = Dedup.simhashNearDups(withWordless, maxHamming = 7, family = f)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(mh.contains((0L, 2L)) && sh.contains((0L, 2L)),
        s"$f: the real near-dup pair must still be found")
      assert(!(mh ++ sh).exists(p => wordless(p._1) || wordless(p._2)),
        s"$f: a wordless document was paired: minhash $mh simhash $sh")
    }
  }

  test("verifiedNearDups cuts on the unrounded Jaccard, for either hash family") {
    // 3-shingles {a b c, b c d} vs {a b c, b c d, c d e}: exact J = 2/3,
    // whose 6-d.p. round 0.666667 clears a 0.6666668 threshold the
    // true value misses
    val pair = Seq((0L, "a b c d"), (1L, "a b c d e")).toDF("doc_id", "text")
    families.foreach { f =>
      val cands = Dedup.minhashNearDups(pair, threshold = 0.6666668 * 0.6,
          family = f)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(cands === Set((0L, 1L)), s"$f: the pair must be an LSH candidate")
      assert(Dedup.verifiedNearDups(pair, threshold = 0.6666668, family = f)
        .count() === 0L, s"$f: J = 2/3 passed a 0.6666668 cut")
      val at = Dedup.verifiedNearDups(pair, threshold = 0.6, family = f)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(at.toSeq === Seq((0L, 1L, 0.666667)),
        s"$f: the emitted column keeps its 6-d.p. round")
    }
  }
}
