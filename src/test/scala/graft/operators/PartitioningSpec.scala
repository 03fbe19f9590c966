package graft.operators

import graft.{Tables, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Storage-layout evidence for the 100 TB story: partition pruning on
  * partitioned writes, AQE skew-join handling, and the approximate
  * count-distinct error bound.
  */
class PartitioningSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("partitionBy write → day filter prunes partitions at the scan") {
    val dir = graft.TestSpark.tempDir("graft_part")
    Tables.events(spark, TestSpark.sfDir)
      .withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

    val read = spark.read.parquet(dir)
      .filter(col("day") === lit("2024-01-05").cast("date"))
    val plan = read.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [isnotnull(day"),
      s"no partition pruning:\n$plan")
    // only one day directory is touched: row count matches the source filter
    val expected = Tables.events(spark, TestSpark.sfDir)
      .filter(to_date(col("ts")) === lit("2024-01-05").cast("date")).count()
    assert(read.count() === expected && expected > 0)
  }

  test("IVF index written partitionBy(centroid_id) prunes probe lists at the scan") {
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val centroids = Similarity.ivfCentroids(emb, nCentroids = 8)
    val dir = graft.TestSpark.tempDir("graft_ivf")
    Similarity.ivfAssign(emb, centroids)
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)

    val probed = spark.read.parquet(dir)
      .filter(col("centroid_id").isin(0, 3))
    // the probed subset is exactly those two lists
    val expected = Similarity.ivfAssign(emb, centroids)
      .filter(col("centroid_id").isin(0, 3)).count()
    val probedCount = probed.count()
    assert(probedCount === expected && expected > 0)
    assert(probedCount < emb.count(), "probe did not shrink the scan")
    // plan asserted AFTER execution (final adaptive plan — CLAUDE.md rule)
    val plan = probed.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [centroid_id") ||
      plan.contains("PartitionFilters: [isnotnull(centroid_id"),
      s"probe-list filter not pruning partitions:\n$plan")
  }

  test("persisted IVFADC index: probed scan reads m-byte codes only; result == inline") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val cents = Similarity.ivfCentroids(emb, nCentroids = 8)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dir = graft.TestSpark.tempDir("graft_ivfadc_idx")
    Similarity.pqEncode(Similarity.ivfAssign(emb, cents), books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    val index = spark.read.parquet(dir)
    val got = Similarity.ivfAdcTopKIndexed(index, emb, 0L, 10, cents, books,
      nProbe = 3, rerank = 4)
    val rows = got.collect()
    val inline = Similarity.ivfAdcTopK(emb, 0L, 10, cents, books,
      nProbe = 3, rerank = 4).collect()
    assert(rows.map(_.toString).toSeq === inline.map(_.toString).toSeq,
      "persisted-index path must reproduce the inline composition exactly")
    // plan asserted AFTER execution (final adaptive plan — CLAUDE.md rule)
    val plan = got.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters: [centroid_id") ||
      plan.contains("PartitionFilters: [isnotnull(centroid_id"),
      s"probe-list filter not pruning index partitions:\n$plan")
    // the index scan reads ONLY (vec_id, pq_code) — never a vector
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(schemas.exists(s => s.contains("pq_code") && !s.contains("embedding")),
      s"no code-only index scan found in:\n$plan")
  }

  test("IVFADC index append: frozen-quantizer delta encode == full rebuild") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val cents = Similarity.ivfCentroids(emb, nCentroids = 8)
    val books = Similarity.pqCodebooks(emb, m = 8, ksub = 16)
    val dir = graft.TestSpark.tempDir("graft_ivfadc_append")
    // build from the first half, append the second half as a delta
    Similarity.pqEncode(Similarity.ivfAssign(
        emb.filter(col("vec_id") < 250), cents), books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    Similarity.ivfIndexAppend(emb.filter(col("vec_id") >= 250), dir,
      cents, books)
    val index = spark.read.parquet(dir)
    assert(index.count() === emb.count())
    // the appended index serves bit-identical top-k to the inline path
    val got = Similarity.ivfAdcTopKIndexed(index, emb, 0L, 10, cents, books,
      nProbe = 3, rerank = 4).collect().map(_.toString).toSeq
    val inline = Similarity.ivfAdcTopK(emb, 0L, 10, cents, books,
      nProbe = 3, rerank = 4).collect().map(_.toString).toSeq
    assert(got === inline,
      "append-built index must serve the same results as a full rebuild")
  }

  test("IVFADC index deletes: tombstone read == compacted read == rebuild; untouched partitions keep their files") {
    val emb = Similarity.l2Normalized(Tables.embeddings(spark, TestSpark.sfDir))
    val (cents, books) = Similarity.annQuantizers(emb, nCentroids = 16)
    val dir = graft.TestSpark.tempDir("graft_ivfadc_delete")
    Similarity.pqEncode(Similarity.ivfAssign(emb, cents), books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(dir)
    val index = spark.read.parquet(dir)
    val total = index.count()
    // tombstone every row of ONE list (the dynamic-overwrite edge that
    // would silently leave a stale partition) plus a spread of ids
    val lists = index.groupBy("centroid_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val wipedList = lists.head._1
    import spark.implicits._
    val wipedIds = index.filter(col("centroid_id") === wipedList)
      .select("vec_id").as[Long].collect().toSeq
    val spreadIds = Seq(0L, 7L, 42L, 99L).filterNot(wipedIds.contains)
    val tombstones = (wipedIds ++ spreadIds).toDF("vec_id")
    val nDeleted = wipedIds.size + spreadIds.size

    def topk(idx: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAdcTopKIndexed(idx, emb, 1L, 10, cents, books,
        nProbe = 16, rerank = 50).collect().map(_.toString).toSeq

    // read-path deletes: caller-side broadcast anti-join
    val tombstoneRead = topk(
      index.join(broadcast(tombstones), Seq("vec_id"), "left_anti"))

    // file mtimes of an untouched partition, before compaction
    val untouchedList = lists.map(_._1).filterNot(_ == wipedList).max
    def partFiles(cid: Int) = {
      val d = new java.io.File(s"$dir/centroid_id=$cid")
      if (!d.exists()) Map.empty[String, Long]
      else d.listFiles().map(f => f.getName -> f.lastModified()).toMap
    }
    val before = partFiles(untouchedList)
    assert(before.nonEmpty)

    val affected = Similarity.ivfIndexCompact(spark, dir, tombstones)
    assert(affected.contains(wipedList))
    assert(affected.size < lists.length,
      "compaction must not touch every list for a localized delete set")

    val compacted = spark.read.parquet(dir)
    assert(compacted.count() === total - nDeleted)
    assert(compacted.filter(col("centroid_id") === wipedList).count() === 0L)
    assert(!new java.io.File(s"$dir/centroid_id=$wipedList").exists(),
      "fully-tombstoned list must not leave a stale partition behind")
    assert(partFiles(untouchedList) === before,
      "unaffected partitions must keep their files byte-for-byte")

    // compacted read == tombstone read == full rebuild without the rows
    val rebuilt = graft.TestSpark.tempDir("graft_ivfadc_delete_rb")
    Similarity.pqEncode(Similarity.ivfAssign(
        emb.join(broadcast(tombstones), Seq("vec_id"), "left_anti"), cents),
        books)
      .select("vec_id", "centroid_id", "pq_code")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(rebuilt)
    val expected = topk(spark.read.parquet(rebuilt))
    assert(topk(compacted) === expected,
      "compacted index must serve the rebuild-without-deletes result")
    assert(tombstoneRead === expected,
      "tombstone read path must serve the rebuild-without-deletes result")
    // idempotence: compacting the same tombstones again is a no-op...
    // (the tombstoned rows are gone, so no list is affected)
    assert(Similarity.ivfIndexCompact(spark, dir, tombstones).isEmpty)
  }

  test("Z-order (morton) layout prunes 2-D box scans via row-group stats") {
    import spark.implicits._
    // 200k deterministic pseudo-random geo points
    val pts = spark.range(200000).select(
      (pmod(xxhash64(col("id"), lit(1)), lit(180000)) / 1000.0 - 90.0).as("lat"),
      (pmod(xxhash64(col("id"), lit(2)), lit(360000)) / 1000.0 - 180.0).as("lon"))
    val zDir = graft.TestSpark.tempDir("graft_zorder")
    val rDir = graft.TestSpark.tempDir("graft_random")
    // Z-ordered layout: range-partition + sort by the morton key → every
    // file/row-group gets a compact lat AND lon bounding box
    pts.withColumn("z", graft.weather.Geo.mortonCode(col("lat"), col("lon")))
      .repartitionByRange(16, col("z")).sortWithinPartitions("z")
      .drop("z").write.mode("overwrite").parquet(zDir)
    // control: same data, hash-scattered layout (every file spans the globe)
    pts.repartition(16).write.mode("overwrite").parquet(rDir)

    def scannedRows(dir: String): (Long, Long) = {
      val q = spark.read.parquet(dir)
        .filter(col("lat").between(10, 20) && col("lon").between(10, 20))
      val res = q.collect().length.toLong
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
        .get
      (scan.metrics("numOutputRows").value, res)
    }
    val (zScanned, zRows) = scannedRows(zDir)
    val (rScanned, rRows) = scannedRows(rDir)
    assert(zRows === rRows && zRows > 0, "both layouts must return the same rows")
    // the Z-ordered layout must let parquet min/max stats skip most row
    // groups; the scattered layout cannot skip any. Observed ~4× at 16
    // files; asserted at 3× so writer-side file sizing noise (which can
    // shift a box across a row-group boundary) does not flake the test.
    assert(zScanned < rScanned / 3,
      s"no layout pruning: z-ordered scanned $zScanned vs random $rScanned")
  }

  test("connector reports per-location partitioning: groupBy(lat, lon) aggregates shuffle-free") {
    // SupportsReportPartitioning + HasPartitionKey: the scan promises
    // all rows of one location live in one partition, so the grouped
    // aggregate needs no exchange (the generic complement to the
    // DailyRollupPushdown aggregate pushdown). Exchange elision happens
    // in EnsureRequirements — visible in the pre-AQE physical plan.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val df = spark.read.format("openmeteo")
        .option("path", s"${TestSpark.fixtures}/hourly_7d.json").load()
        .groupBy("latitude", "longitude")
        .agg(avg(col("temperature_2m")).as("t"), count(lit(1)).as("n"))
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"keyed scan should satisfy the grouped distribution in place:\n$p")
      assert(df.count() > 0)
      // pruning a key column must DISABLE the promise, not break it:
      // without longitude in the output the identity transform can't
      // resolve, so the scan reports unknown and the exchange returns
      val pruned = spark.read.format("openmeteo")
        .option("path", s"${TestSpark.fixtures}/hourly_7d.json").load()
        .select("latitude", "temperature_2m")
        .groupBy("latitude").agg(count(lit(1)).as("n"))
      assert(pruned.queryExecution.executedPlan.toString.contains("Exchange"),
        "lat-only grouping over a lat+lon-keyed scan must still shuffle")
      assert(pruned.count() > 0)
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("wx21 composition: keyed connector scan feeds the fleet agg exchange-free; grid join broadcasts") {
    // the wx21 probe's exact shape: per-location agg through the
    // KeyGroupedPartitioning-reporting scan (no exchange), then the J4
    // nearest-grid join against the aggregated fleet table (broadcast,
    // never a shuffle of the fleet side)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      import spark.implicits._
      val fleet = spark.read.format("openmeteo")
        .option("path", s"${TestSpark.fixtures}/hourly_7d.json").load()
        .groupBy("latitude", "longitude")
        .agg((round(sum("temperature_2m"), 4) / count(lit(1))).as("avg_temp"),
          count(lit(1)).as("n_hours"))
      assert(fleet.count() > 0)
      val aggPlan = fleet.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange"),
        s"fleet agg over the keyed scan must not shuffle:\n$aggPlan")
      val q = Seq((50.0, 14.5), (49.3, 16.5)).toDF("latitude", "longitude")
      val enriched = graft.weather.Geo.nearestGridPoint(q, fleet)
      assert(enriched.count() === 2)
      val plan = enriched.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastNestedLoopJoin"),
        s"grid join must broadcast the fleet side:\n$plan")
    } finally spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
  }

  test("AQE splits skewed join partitions at runtime") {
    import spark.implicits._
    // no manual repartition: AQE only rewrites ENSURE_REQUIREMENTS shuffles
    val skewed = (Seq.fill(200000)(1L) ++ (2L to 2000L)).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val dim = (1L to 2000L).map(k => (k, s"d_$k")).toDF("k", "name")
    val prevT = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    try {
      val joined = skewed.join(dim, "k")
      // collect() executes THIS QueryExecution (count() would build a new
      // one and leave the adaptive plan unfinalized)
      assert(joined.collect().length === 201999)
      val finalPlan = joined.queryExecution.executedPlan.toString()
      // AQE marks the rewritten join; presence of "skew=true" proves the
      // runtime split happened
      assert(finalPlan.contains("skew=true"), s"skew handling absent:\n$finalPlan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevT)
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("approx_count_distinct stays within the HLL++ error bound") {
    val rows = Relational3.defs("a19_approx_distinct")
      .fn(spark, TestSpark.sfDir).collect()
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact < 0.06,
        s"approx $approx vs exact $exact exceeds 6%")
    }
  }

  test("materialized bucketed edges: src-keyed agg and self-join skip the shuffle") {
    import spark.implicits._
    val edges = (1 to 400).map(i => ((i % 37).toLong, (i % 53).toLong))
      .toDF("src", "dst")
    val t = graft.operators.Graph.materializeEdges(edges,
      "g_edges_bucketed_test", TestSpark.tempDir("graft_gedges"), buckets = 4)
    try {
      assert(t.count() === 400L)
      // bucket layout IS the hash partitioning: the src agg plans no
      // exchange (assert on the FINAL adaptive plan — AQE lesson)
      val agg = t.groupBy("src").agg(count(lit(1)).as("deg"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"bucketed src agg should not shuffle:\n$aggPlan")
      // co-bucketed self-join: force the merge join (a broadcast would
      // dodge the shuffle trivially at test scale) — no exchange on
      // either side
      val j = t.as("a").hint("merge").join(t.as("b").hint("merge"), "src")
      j.collect()
      val jPlan = j.queryExecution.executedPlan.toString
      assert(jPlan.contains("SortMergeJoin"),
        s"merge join not planned:\n$jPlan")
      assert(!jPlan.contains("Exchange hashpartitioning"),
        s"co-bucketed self-join should not shuffle:\n$jPlan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS g_edges_bucketed_test"): Unit
    }
  }

  /** The stream→batch handoff scenario, parameterized over how the
    * index directory is SPELLED (`mkPath`): Spark's own `inputFiles`
    * reports "file:/a/b" while a recursive listing of a qualified
    * "file:///a/b" root yields a different textual form of the same
    * path — finalizeStreamedIndex's scheme/authority normalization is
    * exactly what makes the two compare equal, and running the whole
    * flow under a qualified URI pins it (an un-normalized compare
    * would classify EVERY committed file as an orphan and sweep the
    * index — loudly caught below).
    */
  private def streamedHandoffScenario(mkPath: String => String): Unit = {
    import org.apache.spark.sql.streaming.Trigger
    val feedDir = TestSpark.tempDir("graft_sfin_feed")
    val ckDir = TestSpark.tempDir("graft_sfin_ck")
    val idxRaw = TestSpark.tempDir("graft_sfin_idx")
    val idxDir = mkPath(idxRaw)
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    emb.filter(col("vec_id") < 40)
      .select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("embedding"))
      .write.mode("overwrite").json(feedDir)
    val schema = new org.apache.spark.sql.types.StructType()
      .add("vec_id", "long").add("embedding", "array<double>")
    val q = spark.readStream.schema(schema).json(feedDir)
      .withColumn("centroid_id", (col("vec_id") % 4).cast("int"))
      .writeStream.format("parquet").partitionBy("centroid_id")
      .option("path", idxDir).option("checkpointLocation", ckDir)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val built = spark.read.parquet(idxDir).count()
    assert(built === 40L)

    def delta = emb.filter(col("vec_id") >= 40 && col("vec_id") < 50)
      .select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("embedding"))
      .withColumn("centroid_id", (col("vec_id") % 4).cast("int"))

    // THE HAZARD: a batch append lands files outside the sink's commit
    // log, so the log-resolved read cannot see them
    delta.write.mode("append").partitionBy("centroid_id").parquet(idxDir)
    assert(spark.read.parquet(idxDir).count() === built,
      "batch append unexpectedly visible through the sink metadata log")

    // orphans that are NOT part-* files: a customized writer prefix at
    // the root, and a whole partition directory holding only strays
    // (the batched per-directory delete path) — both invisible to
    // log-resolved reads, both must be swept; a hidden marker must NOT
    val strayRoot = new java.io.File(idxRaw, "writer-custom-0001.parquet")
    val strayDirF = new java.io.File(idxRaw, "centroid_id=99")
    strayDirF.mkdir()
    val strayInDir = new java.io.File(strayDirF, "stray-task-0007.parquet")
    java.nio.file.Files.write(strayRoot.toPath, Array[Byte](1, 2, 3))
    java.nio.file.Files.write(strayInDir.toPath, Array[Byte](4, 5, 6))
    val hiddenMarker = new java.io.File(idxRaw, "_custom_marker")
    java.nio.file.Files.write(hiddenMarker.toPath, Array[Byte](7))
    // an all-orphan directory SHELTERING a hidden marker must not take
    // the batched recursive delete: the orphan file goes per-file, the
    // marker (and so the directory) survives
    val strayDirMarked = new java.io.File(idxRaw, "centroid_id=98")
    strayDirMarked.mkdir()
    val strayMarkedOrphan = new java.io.File(strayDirMarked, "stray-task-0008.parquet")
    java.nio.file.Files.write(strayMarkedOrphan.toPath, Array[Byte](8))
    val nestedMarker = new java.io.File(strayDirMarked, "_nested_marker")
    java.nio.file.Files.write(nestedMarker.toPath, Array[Byte](9))

    // the lifecycle APIs themselves refuse to touch the dir while the
    // sink log is present — forgetting the handoff is a hard error, not
    // a silent corruption
    import spark.implicits._
    val preCompact = intercept[IllegalArgumentException] {
      Similarity.ivfIndexCompact(spark, idxDir, Seq(0L).toDF("vec_id"))
    }
    assert(preCompact.getMessage.contains("_spark_metadata"))
    val preAppend = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(delta.drop("centroid_id"), idxDir,
        Array(Array(0.0)), Array(Array(Array(0.0))))
    }
    assert(preAppend.getMessage.contains("finalizeStreamedIndex"))

    // the handoff preserves exactly the committed view: never-visible
    // pre-finalize files are swept as orphans, whatever their name
    Similarity.finalizeStreamedIndex(spark, idxDir)
    assert(spark.read.parquet(idxDir).count() === built,
      "finalize must preserve exactly the sink-committed row set")
    assert(!strayRoot.exists(), "non-part-prefixed root orphan not swept")
    assert(!strayDirF.exists(),
      "all-orphan partition directory should go in one batched delete")
    assert(hiddenMarker.exists(),
      "hidden marker files are not data and must survive the sweep")
    assert(!strayMarkedOrphan.exists(),
      "orphan beside a hidden marker still swept (per-file path)")
    assert(nestedMarker.exists(),
      "hidden marker inside an all-orphan directory must survive — " +
        "the batched recursive delete must not take this directory")

    // appends AFTER the handoff are plain batch writes — fully visible
    delta.write.mode("append").partitionBy("centroid_id").parquet(idxDir)
    assert(spark.read.parquet(idxDir).count() === built + 10)

    // and compaction (a partition rewrite that deletes replaced files)
    // is safe on the finalized dir — on the raw sink dir it would strand
    // the metadata log pointing at deleted files
    val affected = Similarity.ivfIndexCompact(spark, idxDir,
      Seq(0L, 41L).toDF("vec_id"))
    assert(affected.nonEmpty)
    assert(spark.read.parquet(idxDir).count() === built + 10 - 2)
  }

  test("stream-built index handoff: finalizeStreamedIndex makes batch appends visible and compaction safe") {
    streamedHandoffScenario(identity)
  }

  test("stream-built index handoff under a qualified file:// URI (scheme/authority normalization)") {
    streamedHandoffScenario(raw => s"file://$raw")
  }

  test("delta-family plans: every candidate join is an equi join — no cartesian, no nested loop") {
    // the O(|Δ|) claim dies silently if a candidate stage ever plans as
    // a cross product; gate the shape for all three delta modalities
    // (the composed d21 ingest round is built from d20's machinery plus
    // semi joins and the separately-gated CC iteration — and its
    // clusters() stage executes eagerly, so it is not a lazily
    // explainable frame here)
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val corpusT = docs.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
    val deltaT = docs.filter(col("doc_id") % 2 === 1)
      .select((col("doc_id") + 1000002L).as("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, TestSpark.sfDir)
    val plans = Map(
      "d20" -> Dedup.deltaJaccardPairs(corpusT, deltaT, threshold = 0.35),
      "mm8" -> Multimodal.phashNearDupPairsDelta(
        Multimodal.mediaFromDocuments(corpusT),
        Multimodal.mediaFromDocuments(deltaT)),
      "s30" -> Similarity.nearDupPairsBucketedDelta(
        emb.filter(col("vec_id") < 150),
        emb.filter(col("vec_id") >= 150 && col("vec_id") < 200)
          .select((col("vec_id") + 1000L).as("vec_id"), col("embedding")),
        threshold = 0.25, nBits = 2, nTables = 6))
    plans.foreach { case (name, df) =>
      // run first: AQE re-plans at runtime, so only the FINAL adaptive
      // plan is authoritative (CLAUDE.md plan-gate discipline)
      df.write.format("noop").mode("overwrite").save()
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$name plans a nested-loop join:\n$p")
    }
  }

  /** Deletes every index-cache dir a spec of `kind` created: the base
    * path, its `__r` generations and any build leftover. */
  private def dropIndexCache(kind: String): Unit =
    Option(new java.io.File("/tmp").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"graft_idxcache_$kind"))
      .foreach(f => graft.Scratch.deleteQuietly(f.getPath))

  test("IndexCache corrupt-leftover repair promotes a fresh generation, never mutates the occupied path") {
    // Simulate the /tmp-reaper scenario: a completed cache entry loses
    // its _SUCCESS marker but keeps data files. A JVM that resolved the
    // base path before the marker vanished may still be scanning those
    // files, so the repair must NOT delete+rename over the base path —
    // it must serve a fresh generation directory and leave the corrupt
    // one byte-for-byte intact.
    val kind = "spec_repair_" + java.util.UUID.randomUUID().toString.take(8)
    try {
      val src = graft.TestSpark.tempDir("graft_idxcache_src")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(src, "data.bin"), Array[Byte](1, 2, 3))
      def build(p: String): Unit = {
        val d = new java.io.File(p)
        assert(d.mkdirs() || d.isDirectory)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p, "part-00000"), Array[Byte](9))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(p, "_SUCCESS"), Array.empty[Byte])
      }
      val first = IndexCache.persistedIndex(kind, src, "fp")(build)
      assert(new java.io.File(first, "_SUCCESS").exists())
      // reaper eats the marker; a sentinel marks the reader-held files
      assert(new java.io.File(first, "_SUCCESS").delete())
      java.nio.file.Files.write(
        java.nio.file.Paths.get(first, "reader-held"), Array[Byte](7))
      val repaired = IndexCache.persistedIndex(kind, src, "fp")(build)
      assert(repaired !== first,
        "repair must not serve (or overwrite) the corrupt base path")
      assert(new java.io.File(repaired, "_SUCCESS").exists() &&
        new java.io.File(repaired, "part-00000").exists())
      assert(new java.io.File(first, "reader-held").exists() &&
        new java.io.File(first, "part-00000").exists(),
        "corrupt base directory must remain untouched for in-flight readers")
      // later calls REDISCOVER the promoted generation: same path back,
      // no rebuild, no fresh __r directory per call
      val again = IndexCache.persistedIndex(kind, src, "fp") { _ =>
        fail("a completed repair generation exists — must not rebuild")
      }
      assert(again === repaired)
    } finally dropIndexCache(kind)
  }

  test("IndexCache repair race: two promoted generations converge on the first; in-flight reads survive; stale loser sweeps") {
    // The two-JVM interleave behind the r13 generation-repair fix:
    // JVM A resolves the base path and starts scanning; a reaper eats
    // _SUCCESS; A and B both rebuild and promote __r generations. The
    // contract: (1) every rediscovery converges on the lexicographically
    // FIRST completed generation; (2) neither the corrupt base nor the
    // losing generation is touched while young — A's in-flight scan of
    // the base and B's own serve of its loser must both complete;
    // (3) once past the age cutoff the losing generation is swept.
    val kind = "spec_race_" + java.util.UUID.randomUUID().toString.take(8)
    try {
      val spark = graft.TestSpark.spark
      import spark.implicits._
      val src = graft.TestSpark.tempDir("graft_idxcache_race_src")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(src, "data.bin"), Array[Byte](1, 2, 3))
      def build(p: String): Unit =
        Seq((1L, 10), (2L, 20)).toDF("vec_id", "centroid_id")
          .write.mode("overwrite").parquet(p)
      val base = IndexCache.persistedIndex(kind, src, "fp")(build)
      // JVM A resolves the base and holds a lazy scan over it
      val inFlight = spark.read.parquet(base)
      // reaper corrupts; JVM A's repair promotes generation A
      assert(new java.io.File(base, "_SUCCESS").delete())
      val genA = IndexCache.persistedIndex(kind, src, "fp")(build)
      assert(genA !== base)
      // JVM B lost the race: its complete generation sorts AFTER A
      // (simulated directly — persistedIndex in this JVM would rediscover
      // A instead of promoting)
      val genB = base + "__rzzzzzzzz-loser"
      build(genB)
      assert(new java.io.File(genB, "_SUCCESS").exists())
      // (1) rediscovery converges on the first generation, not B's
      val served = IndexCache.persistedIndex(kind, src, "fp") { _ =>
        fail("completed generations exist — must not rebuild")
      }
      assert(served === genA, s"expected convergence on $genA, got $served")
      // (2) young loser untouched (B may still be serving it), base
      // untouched (A's pre-corruption scan must complete)
      assert(new java.io.File(genB, "_SUCCESS").exists(),
        "young losing generation must survive rediscovery")
      assert(inFlight.count() === 2L,
        "in-flight scan of the corrupted base path must still complete")
      assert(spark.read.parquet(genB).count() === 2L,
        "the losing promoter's own serve path must still read")
      // (3) past the age cutoff the loser sweeps on the next rediscovery
      def backdate(f: java.io.File): Unit = {
        f.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000)
        ()
      }
      backdate(new java.io.File(genB))
      val after = IndexCache.persistedIndex(kind, src, "fp") { _ =>
        fail("completed generations exist — must not rebuild")
      }
      assert(after === genA)
      assert(!new java.io.File(genB).exists(),
        "stale losing generation must be swept on rediscovery")
      assert(new java.io.File(genA, "_SUCCESS").exists(),
        "the winning generation must never be swept")
    } finally dropIndexCache(kind)
  }

  test("persisted Jaccard postings index: parquet round-trip probes bit-identically") {
    // the deployment form of the text delta-ingest round: write the
    // buildJaccardIndex triple once (prefix postings partition-bucketed
    // on the probe key), read it back, and the indexed probe must equal
    // the in-memory run exactly — the persisted-index claim as a test,
    // not a scaladoc promise
    val docs = Tables.documents(spark, TestSpark.sfDir)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
      .select("doc_id", "text")
    val delta = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val tau = 0.35
    val (sh, pref, df) = Dedup.buildJaccardIndex(corpus, tau)
    val dir = graft.TestSpark.tempDir("graft_jacc_idx")
    sh.write.mode("overwrite").parquet(s"$dir/shingled")
    // the probe equi-joins on t — persist the postings keyed by it
    pref.repartition(col("t")).write.mode("overwrite").parquet(s"$dir/prefix")
    df.write.mode("overwrite").parquet(s"$dir/docfreq")
    val fromDisk = Dedup.deltaJaccardPairsIndexed(
        spark.read.parquet(s"$dir/shingled"),
        spark.read.parquet(s"$dir/prefix"),
        spark.read.parquet(s"$dir/docfreq"),
        delta, threshold = tau, builtAt = tau)
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    val inMemory = Dedup.deltaJaccardPairs(corpus, delta, threshold = tau)
      .orderBy("id_a", "id_b").collect().map(_.toString).toSeq
    assert(fromDisk === inMemory)
    assert(inMemory.nonEmpty, "fixture should produce delta-touching pairs")
  }
}
