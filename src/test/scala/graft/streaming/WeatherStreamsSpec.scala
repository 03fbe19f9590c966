package graft.streaming

import graft.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import WeatherStreams.Revision

/** MemoryStream-driven checks (SURVEY.md §5 item 5): revision upsert keeps
  * max issued_at; duplicates collapse; windowed aggs and sessionization
  * produce the expected shapes.
  */
class WeatherStreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def rev(issued: String, valid: String, temp: Double): Revision =
    Revision(50.0, 14.0, ts(valid), ts(issued), temp, 0.0)

  test("streaming replay anatomy: the st2-shaped AvailableNow run is few batches, lifecycle-dominated") {
    // evidence for the bench ledger's "streaming probes are
    // checkpoint/replay-structural" claim: run st2's own replay (its
    // parquet feed drops -> stream-stream interval join -> memory sink,
    // through the probes' replay harness) and read the per-batch
    // duration breakdown off the progress events.
    // Also a regression gate: an accidental per-file batching
    // (maxFilesPerTrigger = 1 over the 4+2 feed files would run 5
    // micro-batches) must trip the <= 3 bound — the healthy count is
    // exactly 1, the data batch: st2 skips the no-data
    // watermark-advance batch, since an inner join in append mode emits
    // every match in the data batch — and the join state must run on
    // the harness's pinned 8 state partitions.
    val replayed = StreamingQueries.intervalJoinReplay(spark, TestSpark.sfDir)
    val prog = replayed.query.recentProgress
    info(s"batches: ${prog.length}")
    prog.foreach { p =>
      info(s"batch ${p.batchId}: rows=${p.numInputRows} " +
        s"durations=${p.durationMs}")
    }
    assert(prog.length <= 3,
      s"AvailableNow replay ran ${prog.length} micro-batches — the " +
        "st-probe bench cost model assumes data + watermark-advance")
    val ops = replayed.query.lastProgress.stateOperators
    assert(ops.nonEmpty && ops.forall(_.numShufflePartitions == 8),
      s"state partitions: ${ops.map(_.numShufflePartitions).toSeq}")
    assert(replayed.rows.count() > 0)
  }

  test("stream-stream interval join pairs observations with their valid-hour forecast") {
    import spark.implicits._
    import WeatherStreams.Observation
    val forecasts = MemoryStream[Revision](spark)
    val obs = MemoryStream[Observation](spark)
    val q = WeatherStreams.forecastVsObserved(forecasts.toDS(), obs.toDS())
      .writeStream.format("memory").queryName("fva_out")
      .outputMode("append").start()
    try {
      forecasts.addData(
        rev("2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0),
        rev("2024-07-01 09:00:00", "2024-07-01 12:00:00", 20.6), // revision
        rev("2024-07-01 06:00:00", "2024-07-01 13:00:00", 22.0))
      obs.addData(
        Observation(50.0, 14.0, ts("2024-07-01 12:30:00"), 21.0), // in hour 12
        Observation(50.0, 14.0, ts("2024-07-01 14:30:00"), 25.0), // no forecast
        Observation(60.0, 10.0, ts("2024-07-01 12:15:00"), 5.0))  // other loc
      q.processAllAvailable()
      val out = spark.table("fva_out").collect()
      // REVISION CONTRACT: both revisions of hour 12 emit, tagged with
      // issued_at; downstream picks latest (or lead-time curves)
      assert(out.length === 2, s"expected both revisions, got ${out.toSeq}")
      val byIssue = out.map(r =>
        r.getAs[java.sql.Timestamp]("issued_at") -> r.getAs[Double]("error")).toMap
      assert(byIssue(ts("2024-07-01 06:00:00")) === 1.0)
      assert(math.abs(byIssue(ts("2024-07-01 09:00:00")) - 0.4) < 1e-9)
      assert(out.forall(_.getAs[Double]("observed_temp") === 21.0))
    } finally q.stop()
  }

  test("revision upsert emits newer revisions and drops stale ones") {
    import spark.implicits._
    val input = MemoryStream[Revision](spark)
    val q = WeatherStreams.latestRevisions(input.toDS())
      .writeStream.format("memory").queryName("upsert_out")
      .outputMode("update").start()
    try {
      input.addData(rev("2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0))
      q.processAllAvailable()
      input.addData(
        rev("2024-07-01 06:30:00", "2024-07-01 12:00:00", 21.5), // newer → emit
        rev("2024-07-01 05:00:00", "2024-07-01 12:00:00", 19.0)) // stale → drop
      q.processAllAvailable()
      val got = spark.table("upsert_out")
        .select("issued_at", "temperature_2m").collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1))
      assert(got.toSet === Set(
        "2024-07-01 06:00:00.0" -> 20.0,
        "2024-07-01 06:30:00.0" -> 21.5))
    } finally q.stop()
  }

  test("transformWithState upsert twin agrees with the fMGWS path (parity)") {
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[Revision](spark)
      val q = WeatherStreams.latestRevisionsTws(input.toDS())
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        input.addData(rev("2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0))
        q.processAllAvailable()
        input.addData(
          rev("2024-07-01 06:30:00", "2024-07-01 12:00:00", 21.5), // newer → emit
          rev("2024-07-01 05:00:00", "2024-07-01 12:00:00", 19.0)) // stale → drop
        q.processAllAvailable()
        val got = spark.table("tws_out")
          .select("issued_at", "temperature_2m").collect()
          .map(r => r.getTimestamp(0).toString -> r.getDouble(1))
        // identical emission set to the latestRevisions fMGWS test above
        assert(got.toSet === Set(
          "2024-07-01 06:00:00.0" -> 20.0,
          "2024-07-01 06:30:00.0" -> 21.5))
      } finally q.stop()
    } finally prevProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("dropDuplicatesWithinWatermark collapses duplicate deliveries") {
    import spark.implicits._
    val input = MemoryStream[Revision](spark)
    val q = WeatherStreams.dedupRevisions(input.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val r = rev("2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0)
      input.addData(r, r)
      q.processAllAvailable()
      input.addData(r) // re-delivered in a later batch, still within watermark
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() === 1)
    } finally q.stop()
  }

  test("windowed means aggregate revisions into valid-time windows") {
    import spark.implicits._
    val input = MemoryStream[Revision](spark)
    val q = WeatherStreams.windowedMeans(input.toDS(), "1 hour")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("update").start()
    try {
      input.addData(
        rev("2024-07-01 06:00:00", "2024-07-01 12:10:00", 20.0),
        rev("2024-07-01 06:00:00", "2024-07-01 12:40:00", 22.0),
        rev("2024-07-01 06:00:00", "2024-07-01 13:05:00", 30.0))
      q.processAllAvailable()
      val got = spark.table("win_out")
        .select("ts", "temp_mean", "n_obs").collect()
        .map(r => (r.getTimestamp(0).toString, r.getDouble(1), r.getLong(2))).toSet
      assert(got === Set(
        ("2024-07-01 12:00:00.0", 21.0, 2L),
        ("2024-07-01 13:00:00.0", 30.0, 1L)))
    } finally q.stop()
  }

  test("session windows split on the gap") {
    import spark.implicits._
    case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)](spark)
    val q = WeatherStreams.sessionize(
      input.toDS().toDF("user_id", "ts", "value"), gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("complete").start()
    try {
      input.addData(
        (7L, ts("2024-07-01 10:00:00"), 1.0),
        (7L, ts("2024-07-01 10:10:00"), 2.0), // same session
        (7L, ts("2024-07-01 11:30:00"), 3.0), // gap > 30 min → new session
        (8L, ts("2024-07-01 10:05:00"), 4.0))
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sorted === Array((7L, 1L), (7L, 2L), (8L, 1L)))
    } finally q.stop()
  }

  test("foreachBatch merge keeps max issued_at per key across batches") {
    import spark.implicits._
    val existing = Seq(
      rev("2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0)).toDF()
    val batch = Seq(
      rev("2024-07-01 06:30:00", "2024-07-01 12:00:00", 21.5),
      rev("2024-07-01 05:00:00", "2024-07-01 12:00:00", 19.0),
      rev("2024-07-01 06:00:00", "2024-07-01 13:00:00", 25.0)).toDF()
    val merged = WeatherStreams.mergeBatch(existing, batch)
      .select("ts_valid", "temperature_2m").collect()
      .map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toSet
    assert(merged === Set(
      "2024-07-01 12:00:00.0" -> 21.5,
      "2024-07-01 13:00:00.0" -> 25.0))
  }

  test("st4 contract: digest set is batch-count independent under multi-batch replay") {
    // The sf-dir probe replays in ONE AvailableNow micro-batch, where
    // dropDuplicatesWithinWatermark alone guarantees uniqueness. This
    // forces the multi-batch case (maxFilesPerTrigger=1): a text recurs
    // AFTER the watermark evicted its dedup state, so the stream emits
    // its digest twice — and the probe's terminal DISTINCT is what keeps
    // the contract. Asserts both halves: the raw sink really does hold a
    // duplicate (the hazard is real), and DISTINCT restores uniqueness.
    import org.apache.spark.sql.streaming.Trigger
    val dir = java.nio.file.Files.createTempDirectory("graft_st4_contract")
    val dropDir = new java.io.File(dir.toFile, "drop"); dropDir.mkdirs()
    val outDir = new java.io.File(dir.toFile, "out").toString
    val ckDir = new java.io.File(dir.toFile, "ck").toString
    def drop(name: String, docId: Long, text: String, ts: String,
        mtime: Long): Unit = {
      val f = new java.io.File(dropDir, name)
      val json = s"""{"doc_id":$docId,"text":"$text","ingest_ts":"$ts"}"""
      java.nio.file.Files.write(f.toPath, (json + "\n").getBytes("UTF-8"))
      f.setLastModified(mtime)
    }
    // alpha at 00:00; beta at 00:30 advances the watermark past alpha's
    // state expiry (10-minute delay → wm 00:20 > expiry 00:10); state
    // eviction runs at END of batch, so one more filler batch (delta)
    // must commit before alpha's recurrence sees empty state and
    // re-emits
    val t0 = 1700000000000L
    drop("f0.json", 400L, "alpha", "2024-01-01 00:00:00", t0)
    drop("f1.json", 401L, "beta", "2024-01-01 00:30:00", t0 + 60000)
    drop("f2.json", 402L, "delta", "2024-01-01 00:50:00", t0 + 120000)
    drop("f3.json", 403L, "alpha", "2024-01-01 01:00:00", t0 + 180000)
    import spark.implicits._
    val history = Seq((1L, "gamma")).toDF("doc_id", "text")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ingest_ts",
        org.apache.spark.sql.types.TimestampType)))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .json(dropDir.toString)
      .withColumn("digest", md5(col("text")))
      .withWatermark("ingest_ts", "10 minutes")
      .dropDuplicatesWithinWatermark("digest")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.Dedup.incrementalNew(batch.drop("digest"), history)
          .select(md5(col("text")).as("digest"))
          .write.mode("append").parquet(outDir)
      }
      .option("checkpointLocation", ckDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val raw = spark.read.parquet(outDir)
    assert(raw.count() === 4,
      "expected the watermark-evicted digest to be re-emitted across batches")
    assert(raw.select("digest").distinct().count() === 3,
      "terminal DISTINCT must restore digest uniqueness")
  }

  test("tws state-schema evolution: avro checkpoint restarts after an additive ValueState field") {
    // st13's forward-compatibility claim, proven: run 1 is the REAL
    // production path (latestRevisionsTws) writing an avro-encoded
    // RocksDB checkpoint; run 2 restarts from that checkpoint with a
    // processor whose ValueState adds a nullable field (RevisionV2) and
    // is fed ONLY a stale revision — dropping it requires decoding the
    // run-1 state value through the evolved schema (a lost state would
    // wrongly crown the stale row); run 3 feeds a strict improvement,
    // proving the evolved state still updates and emits.
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.streaming.Trigger
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val encodingKey = "spark.sql.streaming.stateStore.encodingFormat"
    val prevProvider = spark.conf.getOption(providerKey)
    val prevEncoding = spark.conf.getOption(encodingKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(encodingKey, "avro")
    val dir = java.nio.file.Files.createTempDirectory("graft_tws_evo")
    val dropDir = new java.io.File(dir.toFile, "drop"); dropDir.mkdirs()
    val outDir = new java.io.File(dir.toFile, "out").toString
    val ckDir = new java.io.File(dir.toFile, "ck").toString
    def drop(name: String, issued: String, valid: String, temp: Double): Unit = {
      val json = s"""{"latitude":50.0,"longitude":14.0,"ts_valid":"$valid",""" +
        s""""issued_at":"$issued","temperature_2m":$temp,"precipitation":0.0}"""
      java.nio.file.Files.write(new java.io.File(dropDir, name).toPath,
        (json + "\n").getBytes("UTF-8")): Unit
    }
    val schema = implicitly[org.apache.spark.sql.Encoder[Revision]].schema
    def run(evolved: Boolean): Unit = {
      val src = spark.readStream.schema(schema).json(dropDir.toString)
        .as[Revision]
      val out =
        if (evolved) WeatherStreamsSpec.evolvedUpsert(src)
        else WeatherStreams.latestRevisionsTws(src)
      val q = out.writeStream
        .foreachBatch { (b: Dataset[Revision], _: Long) =>
          b.toDF().write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckDir)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    try {
      drop("f0.json", "2024-07-01 06:00:00", "2024-07-01 12:00:00", 20.0)
      run(evolved = false) // production schema commits the checkpoint
      drop("f1.json", "2024-07-01 05:00:00", "2024-07-01 12:00:00", 19.0)
      run(evolved = true)  // stale vs RESTORED state → must NOT emit
      drop("f2.json", "2024-07-01 06:30:00", "2024-07-01 12:00:00", 21.5)
      run(evolved = true)  // strict improvement → must emit
      val got = spark.read.parquet(outDir)
        .select("issued_at", "temperature_2m").collect()
        .map(r => r.getTimestamp(0).toString -> r.getDouble(1))
      assert(got.toSet === Set(
        "2024-07-01 06:00:00.0" -> 20.0,
        "2024-07-01 06:30:00.0" -> 21.5),
        s"schema-evolved restart broke the upsert contract: ${got.toSeq}")
      assert(!got.exists(_._2 == 19.0),
        "stale revision emitted — run-1 state was not decoded after evolution")
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None    => spark.conf.unset(providerKey)
      }
      prevEncoding match {
        case Some(v) => spark.conf.set(encodingKey, v)
        case None    => spark.conf.unset(encodingKey)
      }
    }
  }

  test("st16 contract: streamed IVF assignment is batch-count independent (zero state)") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, graft.TestSpark.sfDir)
    val dir = java.nio.file.Files.createTempDirectory("graft_st16_contract")
    val dropDir = new java.io.File(dir.toFile, "drop").toString
    val ckDir = new java.io.File(dir.toFile, "ck").toString
    emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("embedding"))
      .repartition(4).write.mode("overwrite").json(dropDir)
    val centRows = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    val cents = centRows.map(_._2)
    val centIds = org.apache.spark.sql.functions.array(
      centRows.toIndexedSeq.map(p => lit(p._1)): _*)
    val eSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    // FORCE one file per micro-batch: 4 files → 4 batches; the in-row
    // assignment carries no state, so the union of batch outputs must
    // equal the single-batch replay AND the batch-side expression
    val q = spark.readStream.schema(eSchema)
      .option("maxFilesPerTrigger", 1).json(dropDir)
      .select(col("vec_id"),
        element_at(centIds, graft.functions.Vectors.nearestCentroid(
          col("embedding"), cents, roundTo = 6) + 1).cast("int").as("centroid_id"))
      .writeStream.format("memory").queryName("st16_contract")
      .outputMode("append")
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val streamed = spark.table("st16_contract").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batch = emb
      .select(col("vec_id"),
        element_at(centIds, graft.functions.Vectors.nearestCentroid(
          Similarity.asDouble(col("embedding")), cents, roundTo = 6) + 1)
          .cast("int").as("centroid_id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed.size === emb.count())
    assert(streamed === batch,
      "multi-batch streamed assignment must equal the batch expression")
  }

  test("block-stream ingest applies the catalog schema to file drops") {
    val stream = WeatherStreams.readBlockStream(spark, TestSpark.fixtures)
    assert(stream.isStreaming)
    val q = graft.weather.WeatherOps.toWide(stream)
      .writeStream.format("memory").queryName("ingest_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // hourly_7d (2 locs × 168 h) + edge_dst_nulls (47) files match the schema;
      // daily-only and 15-min files contribute null/empty hourly structs.
      assert(spark.table("ingest_out").count() >= 2 * 7 * 24)
    } finally q.stop()
  }

  test("st17 crash-replay: batchId-keyed overwrite is idempotent when the sink write commits but the checkpoint does not") {
    // The exact failure window the st17 fix targets: foreachBatch
    // completes its parquet write, then the driver dies BEFORE the
    // batch's checkpoint commit (offset log ahead of commit log). On
    // restart Spark re-executes the SAME batchId — a bare append would
    // duplicate every (qid, vec_id) row; the batch=<id> subdir
    // OVERWRITE must rewrite in place. The crash is injected by
    // throwing AFTER the write inside foreachBatch: the write is
    // durably committed, the checkpoint commit never happens — the
    // same on-disk state a kill -9 in that window leaves.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.operators.{Scale, Similarity}
    val dir = java.nio.file.Files.createTempDirectory("graft_st17_replay")
    val dropDir = new java.io.File(dir.toFile, "drop"); dropDir.mkdirs()
    val outDir = new java.io.File(dir.toFile, "out").toString
    val ckDir = new java.io.File(dir.toFile, "ck").toString
    val emb = graft.Tables.embeddings(spark, TestSpark.sfDir)
    val corpus = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"),
        Similarity.asDouble(col("embedding")).as("qv"))
      .coalesce(1).write.mode("overwrite").json(dropDir.toString)
    val qSchema = new org.apache.spark.sql.types.StructType()
      .add("qid", "long").add("qv", "array<double>")
    WeatherStreamsSpec.st17CrashArmed = true
    def serve(): Unit = {
      val q = spark.readStream.schema(qSchema).json(dropDir.toString)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val scored = corpus.join(broadcast(batch),
              col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              round(Similarity.cosine(col("v"), col("qv")), 6).as("sim"))
          Scale.topKPerGroup(scored, "qid",
              Seq(col("sim").desc, col("vec_id")), 10,
              saltOn = col("vec_id"))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
          if (WeatherStreamsSpec.st17CrashArmed) {
            WeatherStreamsSpec.st17CrashArmed = false
            throw new RuntimeException(
              "injected crash between sink write and checkpoint commit")
          }
        }
        .option("checkpointLocation", ckDir)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val crash = intercept[StreamingQueryException](serve())
    assert(crash.getMessage.contains("injected crash"))
    // the batch's output is durably on disk, its checkpoint commit is not
    assert(spark.read.parquet(outDir).count() > 0,
      "crash must land AFTER the sink write committed")
    serve() // restart from the same checkpoint: replays the same batchId
    val out = spark.read.parquet(outDir).select("qid", "vec_id", "sim")
    val dups = out.groupBy("qid", "vec_id").count()
      .filter(col("count") > 1).count()
    assert(dups === 0L,
      "replayed batch appended duplicate (qid, vec_id) rows — " +
        "batchId-keyed overwrite is not idempotent")
    // and the replayed output IS the batch-side answer, exactly once
    val expected = Scale.topKPerGroup(
      corpus.join(broadcast(corpus.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"), col("v").as("qv"))),
        col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"),
          round(Similarity.cosine(col("v"), col("qv")), 6).as("sim")),
      "qid", Seq(col("sim").desc, col("vec_id")), 10,
      saltOn = col("vec_id"))
    assert(out.count() === expected.count())
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty,
      "replayed serve output must equal the batch top-k exactly once")
  }
}

object WeatherStreamsSpec {
  /** Arms the st17 crash-replay injection: reset by the first batch
    * that fires it (driver-side — foreachBatch bodies run on the
    * driver, so a plain volatile flag is visible to the query thread).
    */
  @volatile var st17CrashArmed: Boolean = false

  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

  /** [[WeatherStreams.Revision]] plus an ADDITIVE nullable field — the
    * avro state-schema-evolution scenario the tws test restarts into.
    */
  final case class RevisionV2(
      latitude: Double, longitude: Double,
      ts_valid: java.sql.Timestamp, issued_at: java.sql.Timestamp,
      temperature_2m: Double, precipitation: Double,
      n_revisions: Option[Long])

  /** `latestRevisionsTws`'s exact pipeline shape with the evolved
    * processor swapped in (checkpoint compatibility requires the same
    * operators and watermark).
    */
  def evolvedUpsert(revisions: Dataset[Revision]): Dataset[Revision] = {
    import revisions.sparkSession.implicits._
    revisions
      .withWatermark("issued_at", "2 hours")
      .groupByKey(r => (r.latitude, r.longitude, r.ts_valid.getTime))
      .transformWithState(new EvolvedLatestRevisionProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** The production processor's logic verbatim, but the "latest"
    * ValueState holds [[RevisionV2]]: restoring a run-1 checkpoint makes
    * the store evolve the value schema (nullable add — avro-legal) and
    * old values decode with `n_revisions = None`.
    */
  class EvolvedLatestRevisionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Double, Double, Long), Revision, Revision] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode,
      TimerValues, TTLConfig, ValueState}

    @transient private var latest: ValueState[RevisionV2] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      latest = getHandle.getValueState("latest",
        org.apache.spark.sql.Encoders.product[RevisionV2], TTLConfig.NONE)

    private def expiry(r: Revision): Long =
      r.issued_at.getTime + 4 * 3600 * 1000L
    private def toRev(v: RevisionV2): Revision =
      Revision(v.latitude, v.longitude, v.ts_valid, v.issued_at,
        v.temperature_2m, v.precipitation)

    override def handleInputRows(key: (Double, Double, Long),
        rows: Iterator[Revision], timers: TimerValues): Iterator[Revision] = {
      val newest = rows.reduceOption((a, b) =>
        if (a.issued_at.after(b.issued_at)) a else b)
      val currentV2 = if (latest.exists()) Some(latest.get()) else None
      val current = currentV2.map(toRev)
      val winner = (current ++ newest).reduceOption((a, b) =>
        if (a.issued_at.after(b.issued_at)) a else b)
      if (winner != current) {
        val w = winner.get
        current.foreach(c => getHandle.deleteTimer(expiry(c)))
        latest.update(RevisionV2(w.latitude, w.longitude, w.ts_valid,
          w.issued_at, w.temperature_2m, w.precipitation,
          Some(currentV2.flatMap(_.n_revisions).getOrElse(0L) + 1L)))
        getHandle.registerTimer(expiry(w))
        Iterator.single(w)
      } else Iterator.empty
    }

    override def handleExpiredTimer(key: (Double, Double, Long),
        timers: TimerValues, expired: ExpiredTimerInfo): Iterator[Revision] = {
      if (latest.exists() &&
          expiry(toRev(latest.get())) <= expired.getExpiryTimeInMs())
        latest.clear()
      Iterator.empty
    }
  }
}
