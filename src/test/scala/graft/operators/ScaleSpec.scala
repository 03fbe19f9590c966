package graft.operators

import graft.TestSpark
import graft.plans.FanOut
import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Rows of `prev`, counting how often Spark asks for the partitions. */
private class CountingRDD(prev: RDD[Row]) extends RDD[Row](prev) {
  override def compute(p: Partition, ctx: TaskContext): Iterator[Row] =
    firstParent[Row].iterator(p, ctx)
  override protected def getPartitions: Array[Partition] = {
    CountingRDD.calls.incrementAndGet()
    firstParent[Row].partitions
  }
}
private object CountingRDD { val calls = new AtomicInteger }

class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("salted join returns exactly the plain join result on skewed data") {
    import spark.implicits._
    // hot key 1L carries 10k rows; keys 2..100 one row each
    val probe = (Seq.fill(10000)(1L) ++ (2L to 100L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val build = (1L to 100L).map(k => (k, s"dim_$k")).toDF("k", "name")

    val plain = probe.join(build, "k")
    val salted = Scale.saltedJoin(probe, build, "k", saltFactor = 8)

    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("groupRunningSum equals the serial window in both directions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // duplicate order values (v = i·7 mod 101) force the id tie-break;
    // 8 slices force cross-slice offsets to matter
    val df = (1 to 500).map(i =>
      ((i % 3).toString, (i * 7 % 101).toLong, i.toLong)).toDF("g", "v", "id")
    for (desc <- Seq(true, false)) {
      val got = Scale.groupRunningSum(df, "g", "v", "id", "v",
          outCol = "cum", descending = desc, numSlices = 8)
        .select("g", "id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      val ord = if (desc) col("v").desc else col("v").asc
      val w = Window.partitionBy("g").orderBy(ord, col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = df.withColumn("cum", sum("v").over(w))
        .select("g", "id", "cum").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(got === want, s"descending=$desc")
    }
  }

  test("salted left-outer join preserves unmatched probe rows exactly once") {
    import spark.implicits._
    // hot key 1L dominates; keys 60..100 have NO build match
    val probe = (Seq.fill(5000)(1L) ++ (2L to 100L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val build = (1L to 59L).map(k => (k, s"dim_$k")).toDF("k", "name")

    val plain = probe.join(build, Seq("k"), "left_outer")
    val salted = Scale.saltedJoin(probe, build, "k", saltFactor = 8,
      joinType = "left_outer")

    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // build-preserving shapes must be rejected, not silently wrong
    intercept[IllegalArgumentException] {
      Scale.saltedJoin(probe, build, "k", joinType = "right_outer")
    }
    intercept[IllegalArgumentException] {
      Scale.saltedJoin(probe, build, "k", joinType = "full")
    }
  }

  test("bucketed tables join without any Exchange") {
    import spark.implicits._
    val facts = (1L to 1000L).map(k => (k % 50, k.toDouble)).toDF("k", "v")
    val dims = (0L until 50L).map(k => (k, s"d_$k")).toDF("k", "name")
    Scale.writeBucketed(facts, "graft_facts_b", "k", 8)
    Scale.writeBucketed(dims, "graft_dims_b", "k", 8)

    // disable broadcast so the planner must consider shuffle vs bucketing
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("graft_facts_b")
        .join(spark.table("graft_dims_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString()
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("Bucketed: true"), s"bucketing unused:\n$plan")
      assert(joined.count() === 1000)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("repartitionByRange produces range-partitioned output for ordered writes") {
    val li = graft.Tables.lineitem(spark, TestSpark.sfDir)
      .repartitionByRange(4, col("l_shipdate"))
    assert(li.rdd.getNumPartitions === 4)
    // per-partition min/max must not overlap (range partitioning)
    val bounds = li.select(col("l_shipdate").cast("timestamp").cast("long").as("d"))
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg(min("d").as("lo"), max("d").as("hi"))
      .orderBy("p").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    bounds.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2)
      case _ =>
    }
  }

  test("groupPercentRank: two-phase rank matches the serial window and fans out") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed fixture with heavy ties: scores are i % 50, 'web' dominates
    val docs = ((1L to 1800L).map(i => (i, "web", (i % 50).toInt)) ++
      (1801L to 1900L).map(i => (i, "books", (i % 9).toInt)) ++
      Seq((1901L, "one", 7))) // single-row group → pct 0.0
      .toDF("doc_id", "source", "score")
    val dist = Scale.groupPercentRank(docs, "source", "score", "doc_id",
      numSlices = 8)
    // reference: serial per-source window, row_number semantics
    val w = Window.partitionBy("source").orderBy("score", "doc_id")
    val n = Window.partitionBy("source")
    val serial = docs
      .withColumn("pct_rank", when(count(lit(1)).over(n) === 1, lit(0.0))
        .otherwise((row_number().over(w) - 1).cast("double") /
          (count(lit(1)).over(n) - 1).cast("double")))
    assert(dist.exceptAll(serial).count() === 0)
    assert(serial.exceptAll(dist).count() === 0)
    // fan-out gate: the big window partitions by (group, slice), never
    // the group alone
    val planStr = dist.queryExecution.executedPlan.toString()
    assert(planStr.contains("__slice"), s"no slice key in plan:\n$planStr")
    // slicing-independence
    val dist2 = Scale.groupPercentRank(docs, "source", "score", "doc_id",
      numSlices = 3)
    assert(dist2.exceptAll(serial).count() === 0)
  }

  test("zorderWrite: lossless round-trip, z key dropped, files span compact boxes") {
    import spark.implicits._
    val pts = (0L until 4096L).map(i => (i, (i % 64).toInt, ((i / 64) % 64).toInt))
      .toDF("id", "x", "y")
    val dir = graft.TestSpark.tempDir("graft_zw")
    Scale.zorderWrite(pts, "x", "y", dir, bits = 6, numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.columns.sorted.toSeq === Seq("id", "x", "y"))
    assert(back.count() === 4096L)
    assert(back.exceptAll(pts).count() === 0)
    // every file covers a compact 2-D box: no file spans the full grid
    // on BOTH axes (a hash-scattered layout spans 64 on both)
    val spans = back.withColumn("f", input_file_name())
      .groupBy("f").agg((max("x") - min("x")).as("sx"),
        (max("y") - min("y")).as("sy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(spans.forall { case (sx, sy) => sx < 64 || sy < 64 },
      s"a file spans the whole grid on both axes: ${spans.mkString(",")}")
  }

  test("packTokens: distributed prefix sum fans out a dominant source and matches the serial cumsum") {
    import spark.implicits._
    // skewed fixture: 'web' carries 95% of the rows, two tail sources
    val docs = ((1L to 1900L).map(i => (i, "web", s"doc $i word" * (i % 7).toInt)) ++
      (1901L to 1960L).map(i => (i, "books", s"tome $i text")) ++
      (1961L to 2000L).map(i => (i, "code", s"fn $i()")))
      .toDF("doc_id", "source", "text")
    val sliced = Scale.packTokensSliced(docs, tokensPerShard = 64,
      textCol = "text", idCol = "doc_id", shardKeyCol = "source", numSlices = 8)
    // the scale gate: the dominant source's cumsum spans many slices —
    // i.e. many parallel tasks, never one per-source serial window
    val webSlices = sliced.filter(col("source") === "web")
      .select("__slice").distinct().count()
    assert(webSlices > 1, s"dominant source collapsed to $webSlices slice(s)")
    // the big window partitions by (source, slice), not source alone
    val planStr = sliced.queryExecution.executedPlan.toString()
    assert(planStr.contains("__slice"), s"no slice key in plan:\n$planStr")
    // correctness: identical pack assignment to the reference serial
    // cumsum (single window per source)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val serial = docs.withColumn("n_tokens",
        coalesce(graft.functions.TextFunctions.tokenCount(col("text")), lit(0L)))
      .withColumn("pack_id",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / 64).cast("long"))
      .select("doc_id", "source", "n_tokens", "pack_id")
    val dist = Scale.packTokens(docs, tokensPerShard = 64)
      .select("doc_id", "source", "n_tokens", "pack_id")
    assert(dist.exceptAll(serial).count() === 0)
    assert(serial.exceptAll(dist).count() === 0)
    // slicing-independence: a different slice count gives the same packs
    val dist2 = Scale.packTokens(docs, tokensPerShard = 64, numSlices = 3)
      .select("doc_id", "source", "n_tokens", "pack_id")
    assert(dist2.exceptAll(serial).count() === 0)
    // null ids must not be dropped (a null slice key would vanish at the
    // offsets equi join) — they pin to slice 0; null SOURCES must not be
    // dropped either (the bounds/offsets joins are null-safe), and null
    // precomputed n_tokens coalesce to 0 instead of nulling the pack
    val withNull = docs.unionByName(
      Seq((null.asInstanceOf[java.lang.Long], "web", "null id doc"),
        (java.lang.Long.valueOf(9999L), null.asInstanceOf[String],
          "null source doc"))
        .toDF("doc_id", "source", "text"))
    val packedNull = Scale.packTokens(withNull, tokensPerShard = 64)
    assert(packedNull.count() === docs.count() + 2)
    assert(packedNull.filter(col("pack_id").isNull).count() === 0)
    val preTok = withNull.withColumn("n_tokens",
      when(col("doc_id") === 9999L, null).otherwise(lit(3L)))
    val packedPre = Scale.packTokens(preTok, tokensPerShard = 64)
    assert(packedPre.count() === docs.count() + 2)
    assert(packedPre.filter(col("pack_id").isNull).count() === 0)
  }

  test("chunkDocuments: bounded token slices, exact reconstruction, empty docs dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens → chunks of 4,4,2
      (2L, "  x   y  "),           // messy whitespace → 2 tokens, 1 chunk
      (3L, "   "),                 // no tokens → no chunks
      (4L, "solo")
    ).toDF("doc_id", "text")
    val got = Scale.chunkDocuments(docs, maxTokens = 4)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .orderBy("doc_id", "chunk_idx")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "e f g h", 4L), (1L, 2L, "i j", 2L),
      (2L, 0L, "x y", 2L),
      (4L, 0L, "solo", 1L)))
    // scan-local: no exchange in the plan
    val plan = Scale.chunkDocuments(docs, maxTokens = 4)
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange"), s"chunking shuffled:\n$plan")
  }

  test("chunkDocuments invariants on randomized docs: lossless, budgeted, complete") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (1 to 40).map { i =>
      val n = rnd.nextInt(30)
      (i.toLong, (1 to n).map(j => s"w${rnd.nextInt(99)}_$j").mkString(
        if (rnd.nextBoolean()) " " else "  \t "))
    }.toDF("doc_id", "text")
    val maxTok = 7
    val chunks = Scale.chunkDocuments(docs, maxTokens = maxTok)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .groupBy(_._1)
    val expected = docs.collect().map(r => (r.getLong(0),
      r.getString(1).trim.split("\\s+").filter(_.nonEmpty).toSeq)).toMap
    expected.foreach { case (id, toks) =>
      val cs = chunks.getOrElse(id, Array.empty).sortBy(_._2)
      if (toks.isEmpty) assert(cs.isEmpty, s"doc $id: chunks for empty doc")
      else {
        // lossless reconstruction in order, exact token accounting
        assert(cs.flatMap(_._3.split(" ")).toSeq === toks, s"doc $id text")
        assert(cs.map(_._4).sum === toks.size, s"doc $id token count")
        // every chunk within budget; all but the last exactly full
        assert(cs.forall(_._4 <= maxTok), s"doc $id over budget")
        assert(cs.dropRight(1).forall(_._4 === maxTok), s"doc $id ragged")
        assert(cs.map(_._2).toSeq === cs.indices.map(_.toLong), s"doc $id idx gap")
      }
    }
  }

  test("chunk → pack composition: long docs become bounded chunks in budgeted packs") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    // metadata columns survive chunking, so packing keys on them directly
    val chunks = Scale.chunkDocuments(docs, maxTokens = 64)
      .withColumn("cid", col("doc_id") * 10000 + col("chunk_idx"))
    val packed = Scale.packTokens(chunks, tokensPerShard = 512,
      textCol = "chunk_text", idCol = "cid", shardKeyCol = "source")
    // chunking preserved every token (n_tokens recomputed from chunk_text
    // must equal the slice accounting) …
    assert(packed.filter(col("n_tokens") =!= col("n_chunk_tokens")).count() === 0)
    // … and every (source, pack) respects the budget modulo one chunk
    val over = packed.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx"))
      .filter(col("tok") > lit(512) + col("mx"))
    assert(over.count() === 0, "pack over budget in composed pipeline")
  }

  test("epochShuffled: reproducible per epoch, different across epochs, range-sorted") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    def order(ep: Int): Seq[Long] = Scale.epochShuffled(docs, ep, numPartitions = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val e1a = order(1)
    assert(e1a === order(1), "same epoch must reproduce the same order")
    assert(e1a !== order(2), "different epochs must permute differently")
    assert(e1a.sorted === docs.select("doc_id").collect().map(_.getLong(0))
      .toSeq.sorted, "shuffle must be a permutation, not a resample")
    // scale path: range exchange + local sort, never a single global
    // sort — asserted on the FINAL adaptive plan (run first; AQE rule)
    val shuffled = Scale.epochShuffled(docs, 1, numPartitions = 4)
    shuffled.write.mode("overwrite").format("noop").save()
    val plan = shuffled.queryExecution.executedPlan.toString()
    assert(plan.contains("rangepartitioning"), s"no range exchange:\n$plan")
    // sortWithinPartitions prints as a non-global Sort (global=false)
    assert("Sort \\[__shuffle_key[^\\]]*\\], false,".r.findAllIn(plan).nonEmpty,
      s"partition-local sort missing:\n$plan")
    assert("Sort \\[__shuffle_key[^\\]]*\\], true,".r.findAllIn(plan).isEmpty,
      s"global sort would serialize the shuffle at scale:\n$plan")
  }

  test("writeTrainingMix: sample → dedup → chunk → pack → shards, end-to-end") {
    val docs = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    val rates = Map("en" -> 1.0, "de" -> 1.0, "fr" -> 0.5,
      "es" -> 0.5, "zh" -> 0.5)
    val out = graft.TestSpark.tempDir("graft_mix")
    Scale.writeTrainingMix(docs, out, rates, maxTokens = 64,
      tokensPerShard = 256)
    val back = spark.read.parquet(out)
    // row accounting: every sampled+deduped doc's chunks, nothing else
    val expected = Scale.chunkDocuments(
      Dedup.exact(Scale.hashStratifiedSample(docs, "lang", rates)),
      maxTokens = 64)
    assert(back.count() === expected.count())
    assert(back.count() > 0)
    // budget: every (source, pack) within tokensPerShard + one chunk
    val over = back.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx"))
      .filter(col("tok") > lit(256) + col("mx"))
    assert(over.count() === 0, "mix shard over budget")
    // layout: directory-per-(source, pack); no internal columns leaked
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("source=")))
    assert(!back.columns.exists(_.startsWith("__")),
      s"internal column leaked into shards: ${back.columns.mkString(",")}")
    // a precomputed doc-level n_tokens column must not collide with the
    // chunk-level rename (the ambiguous-reference regression)
    val out2 = graft.TestSpark.tempDir("graft_mix2")
    Scale.writeTrainingMix(docs.withColumn("n_tokens", lit(5L)), out2, rates,
      maxTokens = 64, tokensPerShard = 256)
    assert(spark.read.parquet(out2).count() === back.count())
    // ids that would wrap the packed chunk id raise instead of corrupting
    import spark.implicits._
    val bigId = Seq((1L << 50, "web", "en", "some text here"))
      .toDF("doc_id", "source", "lang", "text")
    intercept[Exception] {
      Scale.writeTrainingMix(bigId, graft.TestSpark.tempDir("graft_mix3"),
        Map("en" -> 1.0), maxTokens = 64, tokensPerShard = 256)
    }
  }

  test("training-shard writer: token-budgeted, partition-per-shard, deterministic") {
    import org.apache.spark.sql.functions._
    val out = graft.TestSpark.tempDir("graft_shards")
    val docs = graft.Tables.documents(spark, graft.TestSpark.sfDir)
    Scale.writeTrainingShards(docs, out, tokensPerShard = 512)
    val back = spark.read.parquet(out)
    assert(back.count() === docs.count(), "shard write lost documents")
    // every (source, pack) shard respects budget + one overflowing doc
    val sums = back.groupBy("source", "pack_id")
      .agg(sum("n_tokens").as("tok"), max("n_tokens").as("mx")).collect()
    sums.foreach { r =>
      assert(r.getLong(r.fieldIndex("tok")) <=
        512 + r.getLong(r.fieldIndex("mx")),
        s"shard over budget: $r")
    }
    // physical layout: one directory per (source, pack)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty && dirs.forall(_.getName.startsWith("source=")))
    // deterministic: second write produces identical shard assignment
    val out2 = graft.TestSpark.tempDir("graft_shards2")
    Scale.writeTrainingShards(docs, out2, tokensPerShard = 512)
    val a = back.select("doc_id", "pack_id").orderBy("doc_id").collect().toSeq
    val b = spark.read.parquet(out2).select("doc_id", "pack_id")
      .orderBy("doc_id").collect().toSeq
    assert(a.map(_.toString) === b.map(_.toString))
  }

  test("topKPerGroup equals the direct single-window formulation") {
    import spark.implicits._
    // skewed: group 'hot' has 5000 rows, others a handful
    val rows = (0L until 5000L).map(i => ("hot", i, (i * 7919) % 1001)) ++
      (0L until 30L).map(i => (s"g${i % 3}", 10000L + i, i))
    val df = rows.toDF("grp", "id", "score")
    val fast = Scale.topKPerGroup(df, "grp",
        Seq(col("score").desc, col("id")), k = 5, saltOn = col("id"))
      .orderBy("grp", "id").collect()
    import org.apache.spark.sql.expressions.Window
    val direct = df.withColumn("rn", row_number().over(
        Window.partitionBy("grp").orderBy(col("score").desc, col("id"))))
      .filter(col("rn") <= 5).drop("rn")
      .orderBy("grp", "id").collect()
    assert(fast.map(_.toString).toSeq === direct.map(_.toString).toSeq)
    // stage 1 actually fans the hot group out over >1 salt bucket
    assert(fast.length === direct.length && direct.nonEmpty)
  }

  test("fixedHoldout: exact stratum sizes, deterministic, id-stable") {
    import spark.implicits._
    val df = (0L until 600L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "strat")
    val h1 = Scale.fixedHoldout(df, "strat", nPerStratum = 10)
    val sizes = h1.groupBy("strat").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.toSet === Set(10L))
    val ids1 = h1.select("doc_id").collect().map(_.getLong(0)).sorted
    val ids2 = Scale.fixedHoldout(df, "strat", nPerStratum = 10)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids2))
    // repartitioning the input must not change the holdout
    val ids3 = Scale.fixedHoldout(df.repartition(13), "strat", nPerStratum = 10)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(ids1.sameElements(ids3))
  }

  test("assignSplit covers every row, is deterministic, enforces permilles") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => Tuple1(i)).toDF("doc_id")
    val s1 = Scale.assignSplit(df)
    assert(s1.filter(col("split").isNull).count() === 0)
    val byName = s1.groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet === Set("train", "val", "test"))
    // train permille 980 of 2000 rows → expect ≈1960; md5 gate keeps the
    // proportion within a loose concentration band
    assert(byName("train") > 1900 && byName("train") < 2000)
    val s2 = Scale.assignSplit(df).collect().map(_.toString).sorted
    assert(s1.collect().map(_.toString).sorted.sameElements(s2))
    intercept[IllegalArgumentException] {
      Scale.assignSplit(df, splits = Seq("a" -> 700, "b" -> 200))
    }
  }

  test("weightedSample: rate 0 drops, rate 1 keeps, fractional rate concentrates, clamps hold") {
    import spark.implicits._
    val df = (1L to 2000L).map(i => (i, i % 4)).toDF("doc_id", "grp")
    assert(Scale.weightedSample(df, lit(0.0)).isEmpty)
    assert(Scale.weightedSample(df, lit(1.0)).count() === 2000L)
    // out-of-range rates clamp instead of corrupting the permille gate
    assert(Scale.weightedSample(df, lit(7.5)).count() === 2000L)
    assert(Scale.weightedSample(df, lit(-3.0)).isEmpty)
    val half = Scale.weightedSample(df, lit(0.5)).count()
    assert(half > 900 && half < 1100, s"rate 0.5 kept $half of 2000")
    // per-row rates: grp/4 ⇒ expected 2000 · (0+1+2+3)/4/4 = 750
    val rowRate = Scale.weightedSample(df, col("grp").cast("double") / 4.0).count()
    assert(rowRate > 650 && rowRate < 850, s"row-rate kept $rowRate")
    // deterministic under repartitioning
    val a = Scale.weightedSample(df, lit(0.3)).collect().map(_.getLong(0)).sorted
    val b = Scale.weightedSample(df.repartition(13), lit(0.3))
      .collect().map(_.getLong(0)).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("budgetSelect: matches the serial window, fans out, nulls sort last") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // skewed fixture with ties on the order value and a null order row
    val docs = ((1L to 900L).map(i =>
        (i, "web", s"w $i txt" * (i % 5).toInt, Some((i % 40).toInt))) ++
      (901L to 950L).map(i => (i, "books", s"b $i body", Some(7))) ++
      Seq((951L, "web", "null-quality row", Option.empty[Int])))
      .toDF("doc_id", "source", "text", "n_chars")
    val budget = 300L
    val dist = Scale.budgetSelect(docs, budget, numSlices = 8)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
    val w = Window.partitionBy("source")
      .orderBy(col("n_chars").desc_nulls_last, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val serial = docs.withColumn("n_tokens",
        coalesce(graft.functions.TextFunctions.tokenCount(col("text")), lit(0L)))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
    assert(dist.exceptAll(serial).count() === 0)
    assert(serial.exceptAll(dist).count() === 0)
    // scale gate: the dominant source's selection spans multiple slices
    // before the budget filter (the big window never partitions by the
    // source alone)
    val planStr = dist.queryExecution.executedPlan.toString()
    assert(planStr.contains("__slice"), s"no slice key in plan:\n$planStr")
    // budget monotonicity: a bigger budget keeps a superset
    val wide = Scale.budgetSelect(docs, budget * 4, numSlices = 8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val narrow = dist.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(narrow.subsetOf(wide))
  }

  test("exactOrderStatistic: matches sort-based rank; duplicates, extremes, tiny tails") {
    import spark.implicits._
    // pseudo-random values with heavy duplicates and negatives
    val xs = (1 to 5000).map(i => ((i * 2654435761L) % 997).toDouble - 300.0)
    val df = xs.toDF("x").repartition(7)
    val sorted = xs.sorted
    for (q <- Seq(0.0, 0.1, 0.5, 0.9, 1.0)) {
      val expected = sorted(math.floor(q * (xs.size - 1)).toInt)
      // tailLimit 64 forces several refinement passes; 100000 none
      assert(Scale.exactOrderStatistic(df, "x", q, buckets = 16,
        tailLimit = 64) === expected, s"q=$q refined")
      assert(Scale.exactOrderStatistic(df, "x", q,
        tailLimit = 100000) === expected, s"q=$q tail-only")
    }
    // constant column short-circuits
    val const = Seq.fill(100)(42.0).toDF("x")
    assert(Scale.exactOrderStatistic(const, "x", 0.5, tailLimit = 10) === 42.0)
    // nulls/NaNs are excluded, not counted in ranks
    val withNull = (Seq(Some(1.0), None, Some(3.0), Some(Double.NaN),
      Some(2.0))).toDF("x")
    assert(Scale.exactOrderStatistic(withNull, "x", 1.0, tailLimit = 2) === 3.0)
  }

  test("weightedOrderStatistic: matches serial weighted rank; uniform weights ≡ unweighted") {
    import spark.implicits._
    val rows = (1 to 2000).map { i =>
      (((i * 48271L) % 211).toDouble, (i % 7 + 1).toLong)
    }
    val df = rows.toDF("x", "w").repartition(5)
    // serial reference: first value (ascending) with cumWeight >= q*W
    val sorted = rows.sortBy(_._1)
    val totalW = rows.map(_._2).sum
    def serial(q: Double): Double = {
      val t = math.max(q * totalW, 1.0)
      var acc = 0L
      sorted.find { case (_, w) => { acc += w; acc >= t } }.get._1
    }
    for (q <- Seq(0.0, 0.25, 0.5, 0.9, 1.0)) {
      assert(Scale.weightedOrderStatistic(df, "x", "w", q, buckets = 16,
        tailLimit = 32) === serial(q), s"q=$q refined")
      assert(Scale.weightedOrderStatistic(df, "x", "w", q,
        tailLimit = 100000) === serial(q), s"q=$q tail-only")
    }
    // uniform weights reduce to a plain quantile position
    val uni = rows.map(t => (t._1, 1L)).toDF("x", "w")
    // t = 0.5·n ⇒ first index with cum ≥ t is ⌈0.5·n⌉ − 1 (0-based)
    assert(Scale.weightedOrderStatistic(uni, "x", "w", 0.5, tailLimit = 16)
      === rows.map(_._1).sorted.apply(math.ceil(0.5 * rows.size).toInt - 1))
    // zero/negative weights are excluded
    val mixed = Seq((1.0, 0L), (2.0, 5L), (3.0, 0L)).toDF("x", "w")
    assert(Scale.weightedOrderStatistic(mixed, "x", "w", 1.0, tailLimit = 2) === 2.0)
  }

  test("slidingChunks: overlap, short docs, exact-window docs, trailing whitespace") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks: windows at 0, 4, 8? no — see below
      (2L, "a b c"),                                   // shorter than window
      (3L, (1 to 6).map(i => s"x$i").mkString(" ")),   // exactly one window
      (4L, "t1 t2 t3 t4 t5 t6 t7\n"),                  // trailing newline
      (5L, "   "))                                     // whitespace-only: no chunks
      .toDF("doc_id", "text")
    val out = Scale.slidingChunks(docs, windowTokens = 6, strideTokens = 4)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1 (10 toks, W=6, S=4): chunks = 1 + ceil(4/4) = 2 → [1..6], [5..10]
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).toSeq === Seq("w1 w2 w3 w4 w5 w6", "w5 w6 w7 w8 w9 w10"))
    assert(d1.map(_._4).toSeq === Seq(6L, 6L))
    // overlap: chunks share W − S = 2 tokens
    assert(d1(0)._3.split(" ").takeRight(2).toSeq === d1(1)._3.split(" ").take(2).toSeq)
    // doc 2: single short chunk
    assert(out.filter(_._1 == 2L).map(t => (t._3, t._4)).toSeq === Seq(("a b c", 3L)))
    // doc 3: exactly one full window, no phantom second chunk
    assert(out.filter(_._1 == 3L).map(_._4).toSeq === Seq(6L))
    // doc 4 (7 toks): [1..6], [5..7] — trailing newline adds no phantom token
    assert(out.filter(_._1 == 4L).map(_._4).toSeq === Seq(6L, 3L))
    // doc 5: no chunks
    assert(!out.exists(_._1 == 5L))
  }
  test("weightedReservoir: exact k, repartition-stable, heavy weights dominate, TakeOrdered plan") {
    import spark.implicits._
    // 999 weight-1 items + one weight-10^9 item: A-Res includes the
    // heavy item except with probability ~(1-u)^1e9 ≈ 0 — and for this
    // fixed salt the outcome is deterministic, so assert it outright
    val df = ((1L to 999L).map(i => (i, 1L)) :+ (1000L, 1000000000L))
      .toDF("doc_id", "w")
    val s1 = Scale.weightedReservoir(df, k = 10, weightCol = "w")
      .collect().map(_.getLong(0)).toSet
    val s2 = Scale.weightedReservoir(df.repartition(7), k = 10, weightCol = "w")
      .collect().map(_.getLong(0)).toSet
    assert(s1.size === 10)
    assert(s1 === s2, "sample must be partitioning-independent")
    assert(s1.contains(1000L), "the 10^9-weight item must be sampled")
    // zero/negative weights are excluded, k larger than corpus truncates
    val tiny = Seq((1L, 5L), (2L, 0L), (3L, -1L)).toDF("doc_id", "w")
    val got = Scale.weightedReservoir(tiny, k = 10, weightCol = "w")
      .collect().map(_.getLong(0)).toSeq
    assert(got === Seq(1L))
    // plan: per-partition heaps, never a global sort
    val q = Scale.weightedReservoir(df, k = 10, weightCol = "w")
    q.write.mode("overwrite").format("noop").save()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"weighted reservoir should be a TakeOrdered top-k:\n$plan")
  }
  test("weightedReservoirPerGroup: exact k per stratum, equals the serial window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val df = (1L to 600L).map(i => (i, s"src_${i % 3}", 1L + i % 7))
      .toDF("doc_id", "source", "w")
    val got = Scale.weightedReservoirPerGroup(df, "source", k = 5,
      weightCol = "w").collect()
      .map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got.groupBy(_._1).forall(_._2.size == 5), s"not 5 per group: $got")
    // serial-window twin over the identical key
    val u = (conv(substring(md5(concat(lit("wres"),
        col("doc_id").cast("string"))), 1, 13), 16, 10).cast("double") +
      lit(0.5)) / lit(4503599627370496.0)
    val key = log(u) / col("w").cast("double")
    val serial = df.withColumn("__k", key)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("source").orderBy(col("__k").desc, col("doc_id"))))
      .filter(col("__rn") <= 5)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(got === serial, "salted two-stage must equal the serial window")
  }

  /** Widths of the fan-out exchanges the planner put into `df`. */
  private def fanWidths(df: DataFrame): Seq[Int] =
    df.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
        e.outputPartitioning.numPartitions
    }

  /** `rows` documents of ~1 KB incompressible text in `files` parquet
    * files, and the bytes on disk. */
  private def textTable(rows: Int, files: Int): (DataFrame, Long) = {
    val dir = TestSpark.tempDir("fanout")
    spark.range(rows).select(col("id").as("doc_id"), concat_ws(" ",
        (0 until 16).map(i => sha2(concat(col("id").cast("string"), lit(i)), 256)): _*)
        .as("text"))
      .repartition(files).write.mode("overwrite").parquet(dir)
    val bytes = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    (spark.read.parquet(dir), bytes)
  }

  test("FanOut.scan: width is input bytes / 128 KB, capped at default parallelism") {
    val cap = spark.sparkContext.defaultParallelism
    val (small, smallBytes) = textTable(300, 1)
    val want = (smallBytes / FanOut.BytesPerTask).toInt
    assert(want >= 2 && want < cap, s"fixture sizing: $smallBytes B")
    assert(fanWidths(FanOut.scan(small)) === Seq(want))
    val (big, bigBytes) = textTable(2000, 1)
    assert(bigBytes / FanOut.BytesPerTask > cap)
    assert(fanWidths(FanOut.scan(big)) === Seq(cap))
    // the kernel above the marker still reads the same rows
    assert(FanOut.scan(small).select(length(col("text"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(16 * 64 + 15))
  }

  test("FanOut.scan: no exchange over an input that plans one, or one already as wide") {
    val (big, _) = textTable(2000, 1)
    assert(fanWidths(FanOut.scan(big.distinct())).isEmpty)
    assert(fanWidths(FanOut.scan(big.groupBy("doc_id").count())).isEmpty)
    val (split, _) = textTable(2000, spark.sparkContext.defaultParallelism)
    assert(fanWidths(FanOut.scan(split)).isEmpty)
  }

  test("FanOut.scan: a filter above the marker evaluates below its exchange") {
    val (small, _) = textTable(300, 1)
    val plan = FanOut.scan(small).filter(col("doc_id") % 2 === 0)
      .select(col("doc_id")).queryExecution.sparkPlan
    val ex = plan.collect { case e: ShuffleExchangeExec => e }
    assert(ex.size === 1 && ex.head.child.exists(_.isInstanceOf[FilterExec]), plan)
  }

  test("FanOut.pairs: candidate pairs keep the session width after AQE coalescing") {
    val width = FanOut.sessionWidth(spark)
    assert(width > 1)
    val cands = spark.range(1000)
      .select((col("id") % 50).as("id_a"), (col("id") % 50 + 1).as("id_b")).distinct()
    assert(cands.rdd.getNumPartitions < width, "AQE coalesces the narrow pairs")
    val fanned = FanOut.pairs(cands)
    assert(fanned.rdd.getNumPartitions === width)
    assert(fanned.count() === 50)
  }

  test("building a fanned operator plans nothing; running it plans the input once") {
    val docs = spark.createDataFrame(new CountingRDD(spark.sparkContext.parallelize(
        Seq(Row(1L, "the quick brown fox"), Row(2L, "the quick brown dog")), 2)),
      org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING"))
    CountingRDD.calls.set(0)
    val sigs = Dedup.signatures(docs)
    assert(CountingRDD.calls.get === 0, "the operator planned its input when built")
    assert(sigs.collect().length === 2)
    assert(CountingRDD.calls.get === 1)
  }
}
