package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import graft.{QueryDef, Tables}
import graft.Scratch.{deleteQuietly, exitScopedDir, tempDir}
import graft.operators.Similarity
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming probes under the driver's CORRECTNESS gate (SURVEY.md §2.8).
  *
  * The streaming family was ScalaTest-only through round 4 — these probes
  * put the REAL Structured Streaming machinery (file-drop source →
  * stateful operator → sink) behind a deterministic batch replay so the
  * DuckDB oracle can check the outcome: the stream input derives from the
  * `events` table, the file-drop is replayed with an AvailableNow trigger,
  * and each probe's outcome is micro-batch-boundary independent by
  * construction (see the per-probe notes).
  *
  * Every probe runs through one replay harness ([[replay]], with the
  * [[memorySink]] and [[lastGeneration]] sinks on top of it), which owns
  * the checkpoint, the state-shuffle pin and the trigger.
  *
  * Replay hygiene: drop + checkpoint directories are deleted as soon as
  * the run terminates (the memory/file sink no longer needs them), so
  * repeated Verify/Bench invocations leave no /tmp garbage; file-sink
  * output directories the returned DataFrame still reads from are removed
  * by a JVM shutdown hook instead.
  */
object StreamingQueries {

  private val runSeq = new AtomicLong(0)

  /** Feeds are dropped as PARQUET since r15: the replay re-reads the drop
    * on every timed run, and parsing a 100k-row JSON feed per replay was
    * pure source-side overhead (guide §6 — columnar formats); parquet
    * also carries the events' microsecond timestamps natively, where the
    * JSON path needed an explicit microsecond timestampFormat on both
    * sides or the replay silently truncated issue times.
    */

  // Replay artifacts (drop feeds, EPHEMERAL checkpoints, file-sink
  // outputs) live under Scratch.root — tmpfs when available, since the
  // replay cost is dominated by many small fsync-ed files — and are
  // deleted within the probe or at JVM exit.

  /** A written feed: its drop directory and the schema it was written
    * with. A file stream source needs its schema up front; the untyped
    * readers take it from here instead of restating it.
    */
  private final case class Drop(dir: String, schema: StructType) {
    def stream(s: SparkSession): DataFrame =
      s.readStream.schema(schema).parquet(dir)
  }

  private val feedCache = new ConcurrentHashMap[String, Drop]()

  /** Write-once cached drop of `feed` in `partitions` files. A probe's
    * feed is a deterministic function of (probe, sfDir), so
    * re-invocations within one process (Bench's 1 cold + N timed runs)
    * reuse the first write and the timed runs measure the REPLAY —
    * source, state, sink — not the feed export. Cached dirs are cleaned
    * at JVM exit. st3, whose drop directory mutates mid-probe, links the
    * cached files into a fresh directory per run.
    */
  private def cachedDrop(key: String, feed: => DataFrame, partitions: Int): Drop =
    feedCache.computeIfAbsent(key, { _ =>
      val dir = exitScopedDir("graft_feed")
      val out = feed.repartition(partitions)
      out.write.mode("overwrite").parquet(dir)
      Drop(dir, out.schema)
    })

  /** The stateful operators allocate one state-store instance per shuffle
    * partition at checkpoint creation; at probe scale 32 of them are pure
    * task/HDFS-state overhead, so every replay pins the STREAM's state
    * partitioning to this. At cluster scale this knob goes UP with key
    * cardinality instead.
    */
  private val StatePartitions = 8

  /** The replay harness: runs `writer` to termination under an
    * AvailableNow trigger over an ephemeral checkpoint, deleted
    * afterwards — or over `checkpoint`, which the caller owns (st3
    * restarts from one). The state partitioning is pinned to
    * [[StatePartitions]] and `confs` are set for the run; all are
    * per-checkpoint properties, restored only after termination:
    * micro-batch planning reads them asynchronously after start(), so an
    * earlier restore races. `writer` is built inside that scope. Returns
    * the terminated query: every replay's `StreamingQueryProgress` is
    * readable here, in one place.
    */
  private def replay(s: SparkSession,
      confs: Seq[(String, String)] = Nil, checkpoint: Option[String] = None)(
      writer: => DataStreamWriter[_]): StreamingQuery = {
    val ckDir = checkpoint.getOrElse(tempDir("graft_ck"))
    val set = ("spark.sql.shuffle.partitions" -> StatePartitions.toString) +: confs
    val prev = set.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      set.foreach { case (k, v) => s.conf.set(k, v) }
      val q = writer.option("checkpointLocation", ckDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      q
    } finally {
      prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      if (checkpoint.isEmpty) deleteQuietly(ckDir)
    }
  }

  /** A terminated memory-sink replay: the query and the sink's rows. */
  private[streaming] final case class Replayed(query: StreamingQuery, rows: DataFrame)

  /** [[replay]] into a memory sink in output `mode`. Spark registers each
    * memory sink as a temp view named after its query, holding every
    * emitted row; the view is dropped once the sink read is analyzed (the
    * analyzed plan keeps the sink itself) or the replay fails, so a
    * process that replays repeatedly — a Bench map — does not keep one
    * view per run.
    */
  private def memorySink(s: SparkSession, tag: String, mode: String,
      confs: (String, String)*)(stream: => Dataset[_]): Replayed = {
    val name = s"graft_${tag}_sink_${runSeq.incrementAndGet()}"
    try Replayed(
      replay(s, confs)(
        stream.writeStream.format("memory").queryName(name).outputMode(mode)),
      s.table(name))
    finally { s.catalog.dropTempView(name); () }
  }

  /** [[replay]] through a foreachBatch sink that keeps a merged table as
    * one parquet directory per merge generation: batch n turns its rows
    * into a `partial`, `merge`s it into generation n − 1 and writes
    * generation n (overwriting the directory a job is reading would
    * corrupt it mid-job). Returns the last generation. A missing prior
    * generation fails the chain instead of silently restarting the table
    * from empty, and a replay that committed no batches fails with a
    * diagnosis instead of returning an empty table.
    */
  private[streaming] def lastGeneration(s: SparkSession, tag: String,
      checkpoint: Option[String] = None)(stream: => DataFrame)(
      partial: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val tableDir = exitScopedDir(s"graft_${tag}_table")
    replay(s, checkpoint = checkpoint)(stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val p = partial(batch)
        val prev = new java.io.File(s"$tableDir/gen=${batchId - 1}")
        require(batchId == 0 || prev.isDirectory,
          s"$tag: missing generation ${batchId - 1} under $tableDir")
        val state =
          if (prev.isDirectory) s.read.parquet(prev.toString) else p.limit(0)
        merge(state, p).write.mode("overwrite").parquet(s"$tableDir/gen=$batchId")
      }
      .outputMode("append"))
    val lastGen = new java.io.File(tableDir).listFiles()
      .filter(_.getName.startsWith("gen="))
      .map(_.getName.stripPrefix("gen=").toLong)
      .maxOption.getOrElse(
        sys.error(s"$tag: replay committed no batches (empty feed)"))
    s.read.parquet(s"$tableDir/gen=$lastGen")
  }

  /** The deterministic revision feed: events replayed as forecast
    * revisions. latitude buckets the users, the valid hour is the event
    * hour, and the event timestamp is the issue time; value collisions
    * within one (key, issued_at) collapse to max(value) so the winning
    * revision is unique. Mirrored 1:1 by the oracle's `rev` CTE.
    */
  private def revisionFeed(ev: DataFrame): DataFrame =
    ev.groupBy(
        (col("user_id") % 3).cast("double").as("latitude"),
        lit(10.0).as("longitude"),
        date_trunc("hour", col("ts")).as("ts_valid"),
        col("ts").as("issued_at"))
      .agg(max("value").as("temperature_2m"))
      .withColumn("precipitation", lit(0.0))

  /** The oracle twin of [[revisionFeed]] (DuckDB dialect). */
  private val RevCte =
    """rev AS (
      |  SELECT CAST(user_id % 3 AS DOUBLE) AS latitude, 10.0 AS longitude,
      |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts_valid,
      |         CAST(ts AS TIMESTAMP) AS issued_at,
      |         max(value) AS temperature_2m
      |  FROM events GROUP BY 1, 2, 3, 4)""".stripMargin

  /** [[revisionFeed]]'s drop (st1, st13, st5, st2, st3): several files so
    * the drop directory looks like a real feed (all are still one
    * AvailableNow batch; every outcome is batch-agnostic).
    */
  private def revisionDrop(s: SparkSession, d: String): Drop =
    cachedDrop(s"rev:$d", revisionFeed(Tables.events(s, d)), 4)

  private val RevEnc = org.apache.spark.sql.Encoders.product[WeatherStreams.Revision]
  private val ObsEnc = org.apache.spark.sql.Encoders.product[WeatherStreams.Observation]

  private def revisionStream(s: SparkSession, dropDir: String) =
    s.readStream.schema(RevEnc.schema)
      .parquet(dropDir).as[WeatherStreams.Revision](RevEnc)

  /** The revision-upsert oracle (st1, st13, st5): the max-issued_at
    * revision per key, computed relationally.
    */
  private val LatestRevisionSql =
    s"""WITH $RevCte,
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |      PARTITION BY latitude, longitude, ts_valid
      |      ORDER BY issued_at DESC) AS rn
      |  FROM rev)
      |SELECT latitude, longitude, ts_valid, issued_at,
      |       round(temperature_2m, 2) AS temperature
      |FROM ranked WHERE rn = 1
      |ORDER BY latitude, longitude, ts_valid""".stripMargin

  /** One revision per key in key order, temperature at 2 d.p. — the
    * columns [[LatestRevisionSql]] emits.
    */
  private def revisionRows(revs: DataFrame): DataFrame =
    revs.select(col("latitude"), col("longitude"), col("ts_valid"),
        col("issued_at"), round(col("temperature_2m"), 2).as("temperature"))
      .orderBy("latitude", "longitude", "ts_valid")

  /** st1/st13's reduction of an update stream's emitted rows to the final
    * winner per key: the stream may emit intermediate winners (one per
    * micro-batch that improves a key), but the LAST winner is the global
    * max-issued_at revision regardless of batching.
    */
  private def latestWinners(updates: DataFrame): DataFrame = {
    val w = Window.partitionBy("latitude", "longitude", "ts_valid")
      .orderBy(col("issued_at").desc)
    revisionRows(updates.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1))
  }

  /** The deterministic observation feed (st2/st10's observed side):
    * events collapse to per-(lat, lon, half-hour) max temperature.
    */
  private def observationFeed(ev: DataFrame): DataFrame =
    ev.groupBy(
        (col("user_id") % 3).cast("double").as("latitude"),
        lit(10.0).as("longitude"),
        (date_trunc("hour", col("ts")) +
          expr("INTERVAL 30 MINUTES")).as("obs_ts"))
      .agg(max("value").as("observed_temp"))

  /** The oracle twin of [[observationFeed]] (DuckDB dialect). */
  private val ObsCte =
    """obs AS (
      |  SELECT CAST(user_id % 3 AS DOUBLE) AS latitude, 10.0 AS longitude,
      |         date_trunc('hour', CAST(ts AS TIMESTAMP))
      |           + INTERVAL 30 MINUTE AS obs_ts,
      |         max(value) AS observed_temp
      |  FROM events GROUP BY 1, 2, 3)""".stripMargin

  private def observationDrop(s: SparkSession, d: String): Drop =
    cachedDrop(s"obs:$d", observationFeed(Tables.events(s, d)), 2)

  private def observationStream(s: SparkSession, dropDir: String) =
    s.readStream.schema(ObsEnc.schema)
      .parquet(dropDir).as[WeatherStreams.Observation](ObsEnc)

  /** st2's replay, shared with the replay-anatomy spec so that spec
    * measures this probe's exact shape.
    */
  private[streaming] def intervalJoinReplay(s: SparkSession, d: String): Replayed = {
    val (fDrop, oDrop) = (revisionDrop(s, d), observationDrop(s, d))
    // measured: 4 vs 8 state partitions is a wash here (11.76 vs
    // 11.72 s isolated) — the probe's cost is the per-run feed write +
    // checkpoint lifecycle, not store count; keep the uniform pin
    memorySink(s, "st2", "append")(WeatherStreams.forecastVsObserved(
      revisionStream(s, fDrop.dir), observationStream(s, oDrop.dir)))
  }

  /** (event_id, user_id) of every event (st7, st8). */
  private def eventUsersDrop(s: SparkSession, d: String): Drop =
    cachedDrop(s"eu:$d", Tables.events(s, d).select("event_id", "user_id"), 4)

  /** (vec_id, embedding) with the embedding double-cast BEFORE the drop
    * (st16, st18), so the stream reads exactly the doubles the oracle's
    * `CAST(embedding AS DOUBLE[])` computes.
    */
  private def embeddingDrop(s: SparkSession, d: String): Drop =
    cachedDrop(s"emb:$d", Tables.embeddings(s, d).select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("embedding")), 4)

  /** The oracle's IVF assignment (st16, st18): every embedding against
    * the 16 data-defined centroids (the 16 lowest-id embeddings), 6-d.p.
    * d², lowest id on ties; `a` rows with rn = 1 are the assignments.
    */
  private val IvfAssignCtes =
    """c AS (SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS cv
      |           FROM embeddings WHERE vec_id < 16),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |d AS (SELECT e.vec_id, c.centroid_id,
      |        round(list_sum(list_transform(range(len(v)),
      |          i -> (v[i+1] - cv[i+1]) * (v[i+1] - cv[i+1]))), 6) AS d2
      |      FROM e CROSS JOIN c),
      |a AS (SELECT vec_id, centroid_id,
      |        row_number() OVER (PARTITION BY vec_id
      |                           ORDER BY d2 ASC, centroid_id) AS rn
      |      FROM d)""".stripMargin

  /** The stream side of [[IvfAssignCtes]]: `centroid_id` of the
    * `embedding` column, by nearestCentroid with roundTo = 6 (6-d.p. d²,
    * lowest-id ties) against the centroids collected from `emb`.
    */
  private def ivfList(emb: DataFrame): Column = {
    val cents = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1)
    element_at(array(cents.toIndexedSeq.map(p => lit(p._1)): _*),
        graft.functions.Vectors.nearestCentroid(
          col("embedding"), cents.map(_._2), roundTo = 6) + 1)
      .cast("int").as("centroid_id")
  }

  def defs: Map[String, QueryDef] = Map(
    // Revision upsert through the live stream path: write the feed to a
    // drop directory, run readStream → latestRevisions
    // (flatMapGroupsWithState, Update mode) → memory sink to completion,
    // then reduce the emitted updates to the final winner per key
    // (latestWinners) — which is exactly what the oracle computes
    // relationally.
    "st1_stream_upsert" -> QueryDef.sql(LatestRevisionSql) { (s, d) =>
      val drop = revisionDrop(s, d)
      latestWinners(memorySink(s, "st1", "update")(
        WeatherStreams.latestRevisions(revisionStream(s, drop.dir))).rows)
    },

    // st1's twin on Spark 4's arbitrary-state API: the SAME feed, oracle,
    // and winner-reduction, but the upsert runs through
    // WeatherStreams.latestRevisionsTws (transformWithState + ValueState
    // + explicit event-time timers) over the RocksDB state store the new
    // API is built against. Green st1 + green st13 = the two stateful
    // APIs agree on the revision-upsert contract end-to-end.
    "st13_stream_upsert_tws" -> QueryDef.sql(LatestRevisionSql) { (s, d) =>
      val drop = revisionDrop(s, d)
      // the provider is read at query START and restored only after
      // termination, so the setting cannot leak into other probes' planning
      latestWinners(memorySink(s, "st13", "update",
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(
        WeatherStreams.latestRevisionsTws(revisionStream(s, drop.dir))).rows)
    },

    // Stream-stream interval join through the live path: the forecast
    // revision feed joins an observation feed (one observation per
    // (latitude, hour), 30 min into the hour) on location + the valid-hour
    // interval (WeatherStreams.forecastVsObserved). An inner stream-stream
    // join emits every matching pair exactly once in append mode, and the
    // whole drop is one AvailableNow batch (watermarks never pass data
    // mid-replay), so the emitted set is batch-boundary independent — the
    // oracle computes the identical interval join relationally.
    "st2_stream_interval_join" -> QueryDef.sql(
      s"""WITH $RevCte,
        |$ObsCte
        |SELECT o.latitude, o.longitude, r.ts_valid, r.issued_at, o.obs_ts,
        |       round(r.temperature_2m, 2) AS forecast_temp,
        |       round(o.observed_temp, 2) AS observed_temp,
        |       round(o.observed_temp - r.temperature_2m, 4) AS error
        |FROM obs o JOIN rev r
        |  ON o.latitude = r.latitude AND o.longitude = r.longitude
        | AND o.obs_ts >= r.ts_valid
        | AND o.obs_ts < r.ts_valid + INTERVAL 1 HOUR
        |ORDER BY o.latitude, r.ts_valid, r.issued_at""".stripMargin) { (s, d) =>
      intervalJoinReplay(s, d).rows
        .select(col("latitude"), col("longitude"), col("ts_valid"),
          col("issued_at"), col("obs_ts"),
          round(col("forecast_temp"), 2).as("forecast_temp"),
          round(col("observed_temp"), 2).as("observed_temp"), col("error"))
        .orderBy("latitude", "ts_valid", "issued_at")
    },

    // Watermark late-data drop through the live path: run 1 ingests the
    // on-time feed through dedupRevisions (dropDuplicatesWithinWatermark,
    // file sink), which commits watermark = max(issued_at) − 2 h to the
    // checkpoint; run 2 RESTARTS from the same checkpoint on a late
    // re-feed (every issue time shifted +1 minute — all new dedup keys)
    // and the engine itself drops the rows below the recovered watermark.
    // Both runs are single AvailableNow batches, and the watermark is a
    // pure function of the feed (Spark tracks event-time stats in
    // MILLISECONDS, hence the oracle's epoch_ms truncation), so the
    // keep-set is deterministic: on-time rows ∪ late rows at-or-above the
    // watermark — which the oracle computes relationally. Late rows whose
    // SHIFTED key collides with an on-time key are excluded from the
    // late feed (anti join, mirrored by the oracle's NOT EXISTS): such a
    // pair would carry a different temperature under an identical dedup
    // key, where the engine's keep-or-drop depends on run-1 state
    // retention but the oracle's row-level UNION keeps both — and the
    // 4-column ORDER BY would not be total over the tie. No such pair
    // exists in the current test data; the guard makes the contract
    // data-independent.
    "st3_stream_late_drop" -> QueryDef.sql(
      s"""WITH $RevCte,
        |late AS (
        |  SELECT l.latitude, l.longitude, l.ts_valid,
        |         l.issued_at + INTERVAL 1 MINUTE AS issued_at,
        |         l.temperature_2m
        |  FROM rev l
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM rev r
        |    WHERE r.latitude = l.latitude AND r.longitude = l.longitude
        |      AND r.ts_valid = l.ts_valid
        |      AND r.issued_at = l.issued_at + INTERVAL 1 MINUTE)),
        |wm AS (
        |  SELECT make_timestamp(epoch_ms(max(issued_at)) * 1000)
        |           - INTERVAL 2 HOUR AS w
        |  FROM rev)
        |SELECT latitude, longitude, ts_valid, issued_at,
        |       round(temperature_2m, 2) AS temperature
        |FROM (SELECT * FROM rev
        |      UNION
        |      SELECT * FROM late
        |      WHERE issued_at >= (SELECT w FROM wm))
        |ORDER BY latitude, longitude, ts_valid, issued_at""".stripMargin) { (s, d) =>
      // Both feeds are deterministic functions of (probe, sfDir): derive
      // and write each ONCE per process (r15 moved the feeds to parquet
      // precisely so timed runs measure the REPLAY). The late feed is
      // derived from the on-time drop itself, so deriving it re-runs no
      // events aggregation. st3's drop directory must still MUTATE
      // mid-probe (on-time feed, then late re-feed into the same source
      // path), so each run links the cached files into a fresh drop dir
      // instead of re-running the feed-derivation Spark jobs (≈ half the
      // probe's warm cost, none of it the recovery machinery under test).
      val onTime = revisionDrop(s, d)
      val late = cachedDrop(s"st3late:$d", {
        val feed = s.read.parquet(onTime.dir)
        feed
          .withColumn("issued_at",
            col("issued_at") + expr("INTERVAL 1 MINUTE"))
          .join(feed.select(col("latitude"), col("longitude"),
              col("ts_valid"), col("issued_at")),
            Seq("latitude", "longitude", "ts_valid", "issued_at"),
            "left_anti")
      }, 4)
      // hardlink the cached part files in (same tmpfs/scratch volume;
      // part-file UUIDs are write-unique so the two feeds never collide)
      def linkInto(src: String, dst: String): Unit =
        new java.io.File(src).listFiles().toSeq
          .filter(f => f.isFile && !f.getName.startsWith("_") &&
            !f.getName.startsWith("."))
          .foreach { f =>
            Files.createLink(
              java.nio.file.Paths.get(dst, f.getName), f.toPath)
          }

      val dropDir = tempDir("graft_st3_drop")
      val ckDir = tempDir("graft_st3_ck")
      val outDir = exitScopedDir("graft_st3_out") // read lazily by the result

      def run(): Unit = replay(s, checkpoint = Some(ckDir))(
        WeatherStreams.dedupRevisions(revisionStream(s, dropDir))
          .writeStream.format("parquet")
          .option("path", outDir)
          .outputMode("append"))
      try {
        linkInto(onTime.dir, dropDir)
        run() // run 1: commits watermark to the checkpoint
        linkInto(late.dir, dropDir)
        run() // run 2: recovered watermark drops the too-late rows
      } finally { deleteQuietly(dropDir); deleteQuietly(ckDir) }

      s.read.parquet(outDir)
        .select(col("latitude"), col("longitude"), col("ts_valid"),
          col("issued_at"), round(col("temperature_2m"), 2).as("temperature"))
        .orderBy("latitude", "longitude", "ts_valid", "issued_at")
    },

    // Streaming twin of d11 (incremental ingest dedup): the "new batch"
    // documents (doc_id ≥ 400) arrive as a stream, deduplicate in-stream
    // by content digest (dropDuplicatesWithinWatermark — one batch, so
    // every duplicate is within the watermark window), then each
    // micro-batch anti-joins the static history (doc_id < 400) via
    // Dedup.incrementalNew inside foreachBatch — the canonical
    // ingest-hygiene composition. Output is digest-granular (which
    // arrival the stream keeps per digest is batch-order dependent; the
    // digest set is not), so the oracle is the relational DISTINCT +
    // NOT EXISTS.
    "st4_stream_incremental_dedup" -> QueryDef.sql(
      """SELECT DISTINCT md5(n.text) AS digest FROM documents n
        |WHERE n.doc_id >= 400 AND NOT EXISTS (
        |  SELECT 1 FROM documents o
        |  WHERE o.doc_id < 400 AND md5(o.text) = md5(n.text))
        |ORDER BY digest""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val history = docs.filter(col("doc_id") < 400)
      // fabricated ingest time: a fixed epoch base + doc_id seconds (the
      // watermark axis for the within-watermark dedup)
      val drop = cachedDrop(s"st4:$d",
        docs.filter(col("doc_id") >= 400)
          .withColumn("ingest_ts",
            timestamp_seconds(lit(1704067200L) + col("doc_id")))
          .select("doc_id", "text", "ingest_ts"), 4)
      val outDir = exitScopedDir("graft_st4_out")

      replay(s)(drop.stream(s)
        .withColumn("digest", md5(col("text")))
        .withWatermark("ingest_ts", "10 minutes")
        .dropDuplicatesWithinWatermark("digest")
        .writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.Dedup.incrementalNew(batch.drop("digest"), history)
            .select(md5(col("text")).as("digest"))
            .write.mode("append").parquet(outDir)
        }
        .outputMode("append"))

      // terminal distinct: the oracle is SELECT DISTINCT, and in-stream
      // dropDuplicatesWithinWatermark only guarantees uniqueness within
      // one watermark window — if the replay ever split into multiple
      // micro-batches (e.g. maxFilesPerTrigger on the session) a digest
      // recurring >10 min apart would be emitted twice. The distinct
      // makes the contract batch-count independent.
      s.read.parquet(outDir).select("digest").distinct().orderBy("digest")
    },

    // foreachBatch upsert merge through the live path: each micro-batch
    // of revisions merges into a keyed parquet table via
    // WeatherStreams.mergeBatch (max-issued_at per key — the idempotent-
    // writer pattern for exactly-once upsert sinks). mergeBatch is
    // associative and idempotent in the revision order, so the final
    // table is the global argmax per key REGARDLESS of micro-batch
    // boundaries — the same relational oracle as st1, reached through
    // the sink-side merge instead of operator state.
    "st5_stream_merge_upsert" -> QueryDef.sql(LatestRevisionSql) { (s, d) =>
      val drop = revisionDrop(s, d)
      revisionRows(lastGeneration(s, "st5")(
        revisionStream(s, drop.dir).toDF())(identity, WeatherStreams.mergeBatch))
    },

    // Watermarked tumbling-window aggregation through the live path:
    // WeatherStreams.windowedMeans over 2-hour windows of valid time, in
    // Update mode to a memory sink — one AvailableNow batch emits each
    // window's aggregate exactly once (final, since all data is in the
    // batch). The oracle buckets ts_valid into the same epoch-aligned
    // 2-hour windows relationally. Only order-insensitive outputs are
    // compared (count, 2-d.p.-rounded sum); a raw avg would flip hashes
    // on summation order.
    "st6_stream_windowed_agg" -> QueryDef.sql(
      """WITH rev AS (
        |  SELECT CAST(user_id % 3 AS DOUBLE) AS latitude, 10.0 AS longitude,
        |         date_trunc('hour', CAST(ts AS TIMESTAMP)) AS ts_valid,
        |         CAST(ts AS TIMESTAMP) AS issued_at,
        |         max(value) AS temperature_2m,
        |         abs(min(value)) AS precipitation
        |  FROM events GROUP BY 1, 2, 3, 4)
        |SELECT latitude, longitude,
        |       make_timestamp((epoch(ts_valid)::BIGINT // 7200) * 7200 * 1000000) AS ts,
        |       round(sum(precipitation), 2) AS precip_sum,
        |       CAST(count(*) AS BIGINT) AS n_obs
        |FROM rev GROUP BY 1, 2, 3
        |ORDER BY latitude, longitude, ts""".stripMargin) { (s, d) =>
      // same revision feed, but with a non-trivial precipitation axis so
      // the windowed sum has signal (the upsert feed pins it to 0.0)
      val drop = cachedDrop(s"st6:$d",
        Tables.events(s, d).groupBy(
            (col("user_id") % 3).cast("double").as("latitude"),
            lit(10.0).as("longitude"),
            date_trunc("hour", col("ts")).as("ts_valid"),
            col("ts").as("issued_at"))
          .agg(max("value").as("temperature_2m"),
            abs(min("value")).as("precipitation")), 4)

      memorySink(s, "st6", "update")(WeatherStreams.windowedMeans(
          revisionStream(s, drop.dir), win = "2 hours", watermark = "4 hours"))
        .rows
        .select(col("latitude"), col("longitude"), col("ts"),
          round(col("precip_sum"), 2).as("precip_sum"), col("n_obs"))
        .orderBy("latitude", "longitude", "ts")
    },

    // The SpaceSaving heavy-hitters aggregate (a25's
    // TypedImperativeAggregate) running INSIDE Structured Streaming
    // state: mergeable summaries are exactly what a streaming global
    // aggregate wants — each micro-batch merges O(k) counters, never
    // keys × batches. Complete output mode, AvailableNow replay of the
    // events feed; capacity 4096 exceeds the distinct-user count at
    // every test SF, so the sketch stays in its EXACT regime and the
    // DuckDB GROUP BY oracle hash-checks the streamed result —
    // batch/stream parity for the custom aggregate.
    "st7_stream_heavy_hitters" -> QueryDef.sql(
      """SELECT CAST(user_id AS VARCHAR) AS user_id,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1
        |ORDER BY cnt DESC, user_id LIMIT 10""".stripMargin) { (s, d) =>
      val drop = eventUsersDrop(s, d)
      memorySink(s, "st7", "complete")(drop.stream(s)
          .agg(graft.functions.HeavyHitters
            .heavyHitters(col("user_id").cast("string"), 4096).as("hh")))
        .rows
        .select(explode(slice(col("hh"), 1, 10)).as("e"))
        .select(col("e.item").as("user_id"), col("e.count").as("cnt"))
        .orderBy(desc("cnt"), asc("user_id"))
    },

    // Stream-STATIC join — the remaining Structured Streaming join
    // shape (st2 covers stream-stream): the event stream enriches
    // against a static dimension (nation, via the deterministic
    // user→nation assignment) with a broadcast hash join per
    // micro-batch — the static side never enters state, which is the
    // entire scale story: a 100 TB stream joins a dimension at zero
    // state cost. Complete-mode count per nation; the oracle is the
    // plain relational join+agg.
    "st8_stream_static_join" -> QueryDef.sql(
      """SELECT n.n_name AS nation, CAST(count(*) AS BIGINT) AS cnt
        |FROM events e JOIN nation n ON n.n_nationkey = e.user_id % 25
        |GROUP BY 1 ORDER BY nation""".stripMargin) { (s, d) =>
      val drop = eventUsersDrop(s, d)
      val nation = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      memorySink(s, "st8", "complete")(drop.stream(s)
          .withColumn("n_nationkey", col("user_id") % 25)
          .join(broadcast(nation), Seq("n_nationkey"))
          .groupBy(col("n_name").as("nation"))
          .agg(count(lit(1)).cast("long").as("cnt")))
        .rows.select("nation", "cnt").orderBy("nation")
    },

    // Streaming DECONTAMINATION — the d10 hygiene pass at ingest time:
    // the train-doc feed replays through a scan-local shingle explode
    // and a broadcast left-semi join against the static eval 8-gram
    // set, emitting contamination evidence in APPEND mode with ZERO
    // streaming state — the static side never enters the state store,
    // so a 100 TB/day ingest pays only the broadcast (or, at benchmark-
    // battery scale, d14's scan-local Bloom prefilter in front of the
    // string verify — same swap, same answer). Per-doc flags are
    // batch-boundary independent (each decision reads one doc + the
    // static set), so the oracle is d10's relational hits list
    // unchanged. The sink read dedups evidence rows to flagged ids.
    "st14_stream_decontaminate" -> QueryDef.sql(
      """WITH ws AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '[^a-z0-9]+'),
        |                x -> x <> '') AS w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
        |         ELSE list_transform(range(len(w) - 7),
        |                i -> array_to_string(list_slice(w, i + 1, i + 8), ' ')) END) AS g
        |  FROM ws),
        |ev AS (SELECT DISTINCT unnest(g) AS t FROM sh WHERE doc_id % 7 = 0)
        |SELECT DISTINCT p.doc_id
        |FROM (SELECT doc_id, unnest(g) AS t FROM sh WHERE doc_id % 7 <> 0) p
        |JOIN ev USING (t)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val drop = cachedDrop(s"st14:$d",
        docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text"), 4)
      val evalSh = docs.filter(col("doc_id") % 7 === 0)
        .select(explode(array_distinct(
          graft.functions.Sketches.wordShinglesText(col("text"), 8))).as("g"))
        .distinct()
      memorySink(s, "st14", "append")(drop.stream(s)
          .select(col("doc_id"), explode(array_distinct(
            graft.functions.Sketches.wordShinglesText(col("text"), 8))).as("g"))
          .join(broadcast(evalSh), Seq("g"), "left_semi"))
        .rows.select("doc_id").distinct().orderBy("doc_id")
    },

    // SESSION windows through the live streaming path: the event feed
    // replays into groupBy(session_window(ts, 30 min), user_id) — the
    // state store MERGES adjacent windows as events arrive, the shape
    // per-user activity analytics runs on an endless stream (state is
    // bounded by the watermark: closed sessions evict). Session windows
    // stream in APPEND mode only: a session emits once the watermark
    // (max event time − 1 h, ms-truncated — the st3 lesson) passes its
    // end, so the oracle's islands twin applies the same
    // session_end ≤ wm cutoff — the last hour's sessions are still open
    // in state by DESIGN, exactly what a production stream would hold.
    // A session breaks where the gap is ≥ 30 min (Spark's window is
    // [start, last+gap), so an event AT the boundary starts a new one),
    // and session_end = last event + gap by the same definition.
    "st9_stream_session" -> QueryDef.sql(
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |wm AS (
        |  SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
        |    - INTERVAL 1 HOUR AS w FROM e),
        |m AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |HAVING max(ts) + INTERVAL 30 MINUTE <= (SELECT w FROM wm)
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      val drop = cachedDrop(s"st9:$d",
        Tables.events(s, d).select("event_id", "user_id", "ts"), 4)
      memorySink(s, "st9", "append")(drop.stream(s)
          .withWatermark("ts", "1 hour")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).cast("long").as("n_events"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"), col("n_events")))
        .rows
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    },

    // Stream-stream LEFT OUTER interval join (st2 is the inner shape):
    // observations keep flowing when no forecast exists for their hour —
    // the forecast-gap detector. Matched rows emit in the data batch;
    // an unmatched observation emits its null row only once the GLOBAL
    // watermark (min over both sides' column watermarks, ms-truncated)
    // proves no future forecast can match: the join condition bounds
    // ts_valid ≤ obs_ts, so eviction is obs_ts < wm. The forecast side
    // is restricted to latitude 0, making latitudes 1/2 permanent
    // no-match traffic. The oracle mirrors matched ∪ (unmatched below
    // the watermark) relationally; unmatched rows AT/ABOVE the watermark
    // are still open in state by design — a production stream would
    // emit them as the watermark advances.
    "st10_stream_left_outer" -> QueryDef.sql(
      s"""WITH $RevCte,
        |f AS (SELECT * FROM rev WHERE latitude = 0.0),
        |$ObsCte,
        |wm AS (
        |  SELECT least(
        |      make_timestamp(epoch_ms((SELECT max(obs_ts) FROM obs)) * 1000),
        |      make_timestamp(epoch_ms((SELECT max(ts_valid) FROM f)) * 1000))
        |    - INTERVAL 2 HOUR AS w),
        |j AS (
        |  SELECT o.latitude, o.longitude, o.obs_ts,
        |         round(o.observed_temp, 2) AS observed_temp,
        |         r.ts_valid, r.issued_at,
        |         round(r.temperature_2m, 2) AS forecast_temp
        |  FROM obs o JOIN f r
        |    ON o.latitude = r.latitude AND o.longitude = r.longitude
        |   AND o.obs_ts >= r.ts_valid
        |   AND o.obs_ts < r.ts_valid + INTERVAL 1 HOUR),
        |u AS (
        |  SELECT o.latitude, o.longitude, o.obs_ts,
        |         round(o.observed_temp, 2) AS observed_temp,
        |         CAST(NULL AS TIMESTAMP) AS ts_valid,
        |         CAST(NULL AS TIMESTAMP) AS issued_at,
        |         CAST(NULL AS DOUBLE) AS forecast_temp
        |  FROM obs o
        |  WHERE o.obs_ts < (SELECT w FROM wm)
        |    AND NOT EXISTS (SELECT 1 FROM f r
        |      WHERE o.latitude = r.latitude AND o.longitude = r.longitude
        |        AND o.obs_ts >= r.ts_valid
        |        AND o.obs_ts < r.ts_valid + INTERVAL 1 HOUR))
        |SELECT * FROM (SELECT * FROM j UNION ALL SELECT * FROM u)
        |ORDER BY latitude, obs_ts, issued_at NULLS FIRST""".stripMargin) { (s, d) =>
      val fDrop = cachedDrop(s"st10f:$d",
        revisionFeed(Tables.events(s, d)).filter(col("latitude") === 0.0), 2)
      val oDrop = observationDrop(s, d)

      memorySink(s, "st10", "append") {
        val f = revisionStream(s, fDrop.dir).toDF()
          .withWatermark("ts_valid", "2 hours")
          .select(col("latitude").as("f_lat"), col("longitude").as("f_lon"),
            col("ts_valid"), col("issued_at"),
            col("temperature_2m").as("forecast_temp"))
        val o = observationStream(s, oDrop.dir).toDF()
          .withWatermark("obs_ts", "2 hours")
        // NOTE (r16): the forecastVsObserved hour-equality key is NOT
        // applied here — on a LEFT OUTER stream-stream join the key
        // changes the engine's state-eviction predicates and with them
        // the null-emission set (measured: oracle mismatch at sf0.01),
        // where the inner st2 form emits the identical match set. The
        // serial per-location state probe stays: it is the cost of the
        // machinery this probe exists to cover.
        o.join(f,
            col("f_lat") === col("latitude") &&
              col("f_lon") === col("longitude") &&
              col("obs_ts") >= col("ts_valid") &&
              col("obs_ts") < col("ts_valid") + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .select(col("latitude"), col("longitude"), col("obs_ts"),
            col("observed_temp"), col("ts_valid"), col("issued_at"),
            col("forecast_temp"))
      }.rows
        .select(col("latitude"), col("longitude"), col("obs_ts"),
          round(col("observed_temp"), 2).as("observed_temp"),
          col("ts_valid"), col("issued_at"),
          round(col("forecast_temp"), 2).as("forecast_temp"))
        .orderBy(col("latitude"), col("obs_ts"), col("issued_at"))
    },

    // Streaming incremental aggregate-view maintenance — the e20
    // operator running LIVE: each micro-batch's per-(user, event_type)
    // partial (Incremental.aggState) merges into the previous parquet
    // generation via Incremental.mergeAggState (lastGeneration). The
    // merge is associative and commutative over partials, so the FINAL
    // generation equals the full recompute REGARDLESS of how AvailableNow
    // slices the drop into micro-batches — which is exactly what the
    // oracle computes, making the probe's green row a proof of
    // batch-boundary independence.
    "st11_stream_incremental_agg" -> QueryDef.sql(
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      val drop = cachedDrop(s"st11:$d",
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value")), 4)
      lastGeneration(s, "st11")(drop.stream(s))(
          graft.operators.Incremental.aggState,
          graft.operators.Incremental.mergeAggState)
        .select(col("user_id"), col("event_type"),
          col("cnt").cast("long").as("cnt"), col("sum_cents"))
        .orderBy("user_id", "event_type")
    },

    // Streaming INDEX BUILD — the ingest side of the ANN lifecycle run
    // as a stream: embedding batches arrive, each row is assigned to
    // its frozen IVF list in-row (st16's rounded nearestCentroid against
    // the data-defined 16-centroid quantizer, whose relational-argmin
    // equivalence st16's oracle proves), and the stream SINKS INTO THE
    // INDEX ITSELF — a parquet file sink partitioned by centroid_id:
    // an IVF-Flat index (raw embeddings; the pq_code lifecycle of
    // s22/s24/s27 shares the same list-partitioned layout with a
    // code-only schema). Exactly-once DURING the build: the sink's
    // _spark_metadata commit log makes the replay idempotent. That
    // same log would pin every later batch read to build-time files
    // (appends invisible, compaction corrupting), so after the stream
    // terminates the probe runs Similarity.finalizeStreamedIndex —
    // the explicit handoff that drops the log and any orphan files,
    // leaving the plain batch-owned layout. The probe then reads the
    // finalized index back and emits per-list occupancy + the total
    // row count; the oracle recomputes both relationally (per-list
    // counts are batch-boundary independent by construction).
    "st18_stream_index_build" -> QueryDef.sql(
      s"""WITH $IvfAssignCtes
        |SELECT CAST(centroid_id AS INTEGER) AS centroid_id,
        |  CAST(count(*) AS BIGINT) AS n_assigned,
        |  CAST((SELECT count(*) FROM e) AS BIGINT) AS n_index_rows
        |FROM a WHERE rn = 1 GROUP BY centroid_id
        |ORDER BY centroid_id""".stripMargin) { (s, d) =>
      val drop = embeddingDrop(s, d)
      val idxDir = exitScopedDir("graft_st18_idx")
      val list = ivfList(Tables.embeddings(s, d))
      replay(s)(drop.stream(s)
        .select(col("vec_id"), col("embedding"), list)
        .writeStream.format("parquet")
        .partitionBy("centroid_id")
        .option("path", idxDir)
        .outputMode("append"))
      Similarity.finalizeStreamedIndex(s, idxDir)
      val index = s.read.parquet(idxDir)
      val total = index.count()
      index.groupBy("centroid_id")
        .agg(count(lit(1)).as("n_assigned"))
        .withColumn("n_index_rows", lit(total))
        .orderBy("centroid_id")
    },

    // Streaming retrieval SERVING: query vectors arrive as a stream and
    // each micro-batch is served exact top-k against the STATIC corpus
    // inside foreachBatch (the stream-static serving composition every
    // retrieval deployment runs). Per-query results are batch-boundary
    // independent — each query is scored in exactly one micro-batch
    // against the immutable corpus — so the replayed output is
    // deterministic and the relational per-query top-k is a REAL
    // oracle. Scoring is the s1 contract (round(cosine, 6), ties to
    // the lower vec_id; batch side BROADCASTS against the corpus
    // scan); the ANN-accelerated swap-in at scale is s23/s26's
    // ivfAdcTopKBatch — identical shape, golden-gated there.
    "st17_stream_topk_serve" -> QueryDef.sql(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 100 = 0),
        |s AS (SELECT q.qid, e.vec_id,
        |        round(list_cosine_similarity(e.v, q.qv), 6) AS sim
        |      FROM q JOIN e ON e.vec_id <> q.qid),
        |r AS (SELECT *, row_number() OVER (PARTITION BY qid
        |        ORDER BY sim DESC, vec_id) AS rn FROM s)
        |SELECT qid, vec_id, sim FROM r WHERE rn <= 10
        |ORDER BY qid, sim DESC, vec_id""".stripMargin) { (s, d) =>
      import graft.operators.Scale
      val emb = Tables.embeddings(s, d)
      val corpus = emb.select(col("vec_id"),
        Similarity.asDouble(col("embedding")).as("v"))
      val drop = cachedDrop(s"st17:$d",
        emb.filter(col("vec_id") % 100 === 0)
          .select(col("vec_id").as("qid"),
            Similarity.asDouble(col("embedding")).as("qv")), 4)
      val outDir = exitScopedDir("graft_st17_out")
      replay(s)(drop.stream(s)
        .writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val scored = corpus.join(broadcast(batch),
              col("vec_id") =!= col("qid"))
            .select(col("qid"), col("vec_id"),
              round(Similarity.cosine(col("v"), col("qv")), 6).as("sim"))
          // batchId-keyed OVERWRITE, not a bare append: if a batch
          // completes the write but fails before the checkpoint
          // commit, the replayed batch rewrites the same subdir
          // instead of appending duplicate (qid, vec_id) rows — the
          // idempotent-foreachBatch convention the gen= probes use.
          Scale.topKPerGroup(scored, "qid",
              Seq(col("sim").desc, col("vec_id")), 10,
              saltOn = col("vec_id"))
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
        .outputMode("append"))
      s.read.parquet(outDir)
        .select("qid", "vec_id", "sim") // drop the batch= partition key
        .orderBy(col("qid"), col("sim").desc, col("vec_id"))
    },

    // Streaming ANN index ingest: a file-drop feed of embeddings is
    // assigned to FROZEN coarse-quantizer lists in-row — the
    // ivfIndexAppend encode shape as a stream, ZERO streaming state, so
    // the outcome is batch-boundary independent by construction.
    // Centroids are data-defined (the 16 lowest-id embeddings) so the
    // oracle is the s22 relational argmin; the stream side uses
    // nearestCentroid with roundTo = 6 (6-d.p. d², lowest-id ties) to
    // match the oracle's float contract exactly, over the double-cast
    // embeddingDrop.
    "st16_stream_ivf_assign" -> QueryDef.sql(
      s"""WITH $IvfAssignCtes
        |SELECT vec_id, CAST(centroid_id AS INTEGER) AS centroid_id
        |FROM a WHERE rn = 1
        |ORDER BY vec_id""".stripMargin) { (s, d) =>
      val drop = embeddingDrop(s, d)
      val list = ivfList(Tables.embeddings(s, d))
      memorySink(s, "st16", "append")(
          drop.stream(s).select(col("vec_id"), list))
        .rows.orderBy("vec_id")
    },

    // Streaming CUSUM volume monitor — e27 running LIVE: each
    // micro-batch's per-(type, day) count partial merges into the
    // previous parquet generation (lastGeneration; count-sum merging is
    // associative, so the final grid equals the batch groupBy no matter
    // how AvailableNow slices the feed), and the exact-integer CUSUM
    // closed form (Analytics3.cusumFromDaily) runs over the FINAL
    // generation — grid-sized, never event-sized. The oracle is e27's:
    // the green row proves the streamed changepoint statistic is
    // batch-boundary independent.
    "st15_stream_cusum" -> QueryDef.sql(
      """WITH d AS (
        |  SELECT event_type, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, cnt,
        |    count(*) OVER p AS n, sum(cnt) OVER p AS t
        |  FROM d WINDOW p AS (PARTITION BY event_type)),
        |y AS (
        |  SELECT *, 4 * n * cnt - 5 * t AS y FROM w),
        |pp AS (
        |  SELECT *, sum(y) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM y),
        |r AS (
        |  SELECT *, least(0, min(p)
        |    OVER (PARTITION BY event_type ORDER BY day)) AS mn
        |  FROM pp)
        |SELECT event_type, day, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(p - mn AS BIGINT) AS cusum,
        |  (p - mn) >= 8 * t AS alarm,
        |  CAST(p - mn AS DOUBLE) / CAST(4 * t AS DOUBLE) AS cusum_rel
        |FROM r
        |ORDER BY event_type, day""".stripMargin) { (s, d) =>
      val drop = cachedDrop(s"st15:$d",
        Tables.events(s, d)
          .select(col("event_id"), col("ts"), col("event_type")), 4)
      graft.operators.Analytics3.cusumFromDaily(
          lastGeneration(s, "st15")(drop.stream(s))(
            _.groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
              .agg(count(lit(1)).as("cnt")),
            (state, partial) => state.unionByName(partial)
              .groupBy(col("event_type"), col("day"))
              .agg(sum(col("cnt")).as("cnt"))))
        .orderBy("event_type", "day")
    },

    // Streaming JOIN-view maintenance — e23's live form: orders arrive
    // as a stream, each micro-batch joins the STATIC lineitem table
    // (the st8 stream-static broadcast-dimension pattern, inverted:
    // here the stream side is the small probe and the static side the
    // big fact) and the per-batch join partials merge into parquet
    // generations (lastGeneration). Orders are streamed in FULL, so the
    // final generation must equal the complete orders⋈lineitem
    // revenue view — the e23 oracle — regardless of micro-batch
    // slicing: the join distributes over the order-stream union and
    // the merge is associative.
    "st12_stream_join_view" -> QueryDef.sql(
      """SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val drop = cachedDrop(s"st12:$d",
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")), 4)
      val lines = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("o_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("__cents"))
      lastGeneration(s, "st12")(drop.stream(s))(
          _.join(lines, Seq("o_orderkey"))
            .groupBy("o_custkey")
            .agg(count(lit(1)).as("n_lines"),
              sum(col("__cents")).as("rev_cents")),
          (state, partial) => state.unionByName(partial)
            .groupBy("o_custkey")
            .agg(sum(col("n_lines")).as("n_lines"),
              sum(col("rev_cents")).as("rev_cents")))
        .select(col("o_custkey"), col("n_lines").cast("long").as("n_lines"),
          col("rev_cents"))
        .orderBy("o_custkey")
    })
}
