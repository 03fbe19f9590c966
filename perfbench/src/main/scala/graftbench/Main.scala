package graftbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. run.py launches it once per run with
  * `key=value` arguments; it sets up the session, runs one workload for
  * the requested seconds, and writes every raw sample to `out` as JSON.
  * Nothing is aggregated here: run.py checks outputs and computes the
  * metrics.
  *
  * Modes:
  *  - `run`: setup and warm-up, then the timed loop (traced or not);
  *  - `record`: run every operation of the workload once and write its
  *    row count and content hash (how expected.json is made);
  *  - `oracle`: write the DuckDB oracle SQL of every batch query and of
  *    every valid weather request (oracle_check.py runs them).
  */
object Main {

  /** Seconds a measured batch pass or wx block takes on the 4-core
    * reference box (about 9 s for a wx block, 12 s for a batch pass). */
  val NominalPassS = 10.0

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNanos(): Long = osBean.getProcessCpuTime

  private val jitBean = ManagementFactory.getCompilationMXBean

  /** Accumulated JIT compilation time of this JVM (ms). */
  def jitMillis(): Long = jitBean.getTotalCompilationTime

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation occupancy right after a full collection, in MB. A
    * collection lets Spark's ContextCleaner see the broadcasts and shuffles
    * that died, and it drops their blocks a little later; so collect again
    * (up to five times, 0.3 s apart) until the reading stops falling, and
    * the result does not depend on how far the cleaner lagged.
    */
  def liveHeapMb(): Double = {
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
      p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
        !p.getName.toLowerCase.contains("survivor") &&
        !p.getName.toLowerCase.contains("eden"))
    def collect(): Double = {
      System.gc()
      old.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }
    var last = collect()
    var rounds = 1
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(300)
      val now = collect()
      falling = now < last - 0.5
      last = math.min(last, now)
      rounds += 1
    }
    last
  }

  def session(cores: Int, runDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      // the session confs of graft.Bench
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep every file Spark writes inside the run directory
      .config("spark.local.dir", s"$runDir/local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def ops(spark: SparkSession, a: Args): Seq[Op] =
    if (a("workload") == "wx_tool_calls") Workloads.wxCatalog(spark, a("fixtures"))
    else Workloads.batchOps(spark, a("workload"), a("data"))

  /** The outcome of one operation, timed from build to collected rows. */
  final case class Outcome(buildS: Double, wallS: Double, cpuS: Double, jitS: Double,
      rows: Long, hash: String, rejected: Option[String], error: Option[String],
      startMs: Double, buildEndMs: Double, endMs: Double)

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def execute(op: Op): Outcome = {
    val c0 = cpuNanos()
    val j0 = jitMillis()
    def jit = (jitMillis() - j0) / 1e3
    val t0 = System.nanoTime()
    val m0 = nowMs()
    var tb = t0
    var mb = m0
    try {
      op.build() match {
        case Left(msg) =>
          tb = System.nanoTime(); mb = nowMs()
          val c1 = cpuNanos()
          Outcome((tb - t0) / 1e9, (tb - t0) / 1e9, (c1 - c0) / 1e9, jit, 0L, "", Some(msg),
            None, m0, mb, mb)
        case Right(df) =>
          tb = System.nanoTime(); mb = nowMs()
          val rows = df.collect()
          val t1 = System.nanoTime()
          val m1 = nowMs()
          val c1 = cpuNanos()
          val (n, h) = RowHash.of(df.schema, rows)
          Outcome((tb - t0) / 1e9, (t1 - t0) / 1e9, (c1 - c0) / 1e9, jit, n, h, None, None,
            m0, mb, m1)
      }
    } catch {
      case e: Throwable =>
        val t1 = System.nanoTime()
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}"
          .take(400)
        Outcome((tb - t0) / 1e9, (t1 - t0) / 1e9, (cpuNanos() - c0) / 1e9, jit, 0L, "", None,
          Some(msg), m0, mb, nowMs())
    }
  }

  def outcomeJson(o: Outcome): Json.Obj = Json.obj(
    "build_s" -> o.buildS, "wall_s" -> o.wallS, "cpu_s" -> o.cpuS, "jit_s" -> o.jitS,
    "rows" -> o.rows, "hash" -> o.hash, "rejected" -> o.rejected, "error" -> o.error,
    "start_ms" -> o.startMs, "build_end_ms" -> o.buildEndMs, "end_ms" -> o.endMs)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap)
    val out = new java.io.PrintWriter(a("out"), "UTF-8")
    val result = try a("mode") match {
      case "run"    => run(a)
      case "record" => record(a)
      case "oracle" => oracle(a)
      case m        => sys.error(s"unknown mode $m")
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        Json.obj("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    try out.println(Json.render(result)) finally out.close()
    // stream feeds and checkpoints are cleaned by the engine's shutdown hooks
    System.exit(0)
  }

  def record(a: Args): Json.Obj = {
    val spark = session(a("cores").toInt, a("run_dir"))
    val res = ops(spark, a).map { op =>
      val o = execute(op)
      Json.obj("name" -> op.name, "expect_error" -> op.expectError) ++ outcomeJson(o)
    }
    spark.stop()
    Json.obj("ops" -> res)
  }

  def oracle(a: Args): Json.Obj = {
    val sql = graft.SparkEntry.oracleSql
    Json.obj(
      "queries" -> Workloads.batch.values.flatten.toSeq.sorted.map(n => n -> sql.get(n)).toMap,
      "wx" -> graft.weather.WxCatalogOracles.sql)
  }

  def run(a: Args): Json.Obj = {
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val launchMs = a("launch_ms").toDouble
    val isWx = workload == "wx_tool_calls"

    // ---- setup: session and the discarded warm-up, one cold pass over
    // the operations. The JIT keeps compiling for minutes after it (every
    // later pass runs a little faster), so no warm-up that fits the budget
    // reaches a steady state; instead every run measures the same fixed
    // passes after the same warm-up, and the metrics take their median.
    val spark = session(cores, a("run_dir"))
    val sessionMs = nowMs()
    val catalog = ops(spark, a)
    catalog.foreach(execute)
    val setupS = (nowMs() - launchMs) / 1000.0
    val setupParts = Json.obj("session_s" -> (sessionMs - launchMs) / 1000.0,
      "cold_pass_s" -> (nowMs() - sessionMs) / 1000.0)
    val confs = spark.conf.getAll.filter { case (k, _) => k.startsWith("spark.sql") ||
      k == "spark.master" || k.startsWith("spark.local") }

    val tracer = new Tracer(spark)
    val rnd = new scala.util.Random(seed)
    val samples = ArrayBuffer.empty[Json.Obj]
    var liveHeap = 0.0
    val gc0 = gcMillis()
    var tracedGcMs = 0L
    var opId = 0
    val compileHist = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    // traced runs alternate untraced and traced blocks (calls or passes) so
    // the overhead of tracing is measured in the same run
    def block(traceOn: Boolean)(body: => Unit): Unit = {
      if (traceOn) tracer.attach() else tracer.detach()
      val g = gcMillis()
      body
      if (traceOn) tracedGcMs += gcMillis() - g
    }

    def timed(op: Op, pass: Int, traceOn: Boolean): Unit = {
      val id = opId
      opId += 1
      val (cc0, ct0, f0) = (compileHist.getCount, codegen.compileTime,
        graft.sources.openmeteo.CallCounters.get("forecast"))
      val o = if (traceOn) tracer.within(id)(execute(op)) else execute(op)
      samples += Json.obj("op" -> id, "name" -> op.name, "pass" -> pass,
        "traced" -> traceOn, "expect_error" -> op.expectError,
        "compiles" -> (compileHist.getCount - cc0),
        "compile_ns" -> (codegen.compileTime - ct0),
        "fetches" -> (graft.sources.openmeteo.CallCounters.get("forecast") - f0)) ++
        outcomeJson(o)
    }

    // Whole passes (wx: blocks of the mix) only, and a fixed number of
    // them: a pass or block takes about NominalPassS on the 4-core
    // reference box, so `seconds` buys round(seconds / NominalPassS). Every
    // run then does the same work, which keeps the metrics comparable (the
    // heap Spark retains for finished executions grows with their number).
    // A traced run needs an untraced unit on either side of a traced one:
    // later units run warmer, so one untraced unit would bias the overhead.
    val units = math.max(if (traced) 3 else 1, math.round(seconds / NominalPassS).toInt)
    val seq = if (isWx) Workloads.wxSequence(catalog, seed, units).iterator else Iterator.empty
    val tStart = System.nanoTime()
    for (p <- 0 until units) {
      val traceOn = traced && p % 2 == 1
      val pass = if (isWx) Seq.fill(Workloads.blockCalls(catalog))(catalog(seq.next()))
        else rnd.shuffle(catalog)
      block(traceOn)(pass.foreach(op => timed(op, p, traceOn)))
      liveHeap = math.max(liveHeap, liveHeapMb())
    }
    val measuredS = (System.nanoTime() - tStart) / 1e9
    tracer.detach()
    val gcS = (gcMillis() - gc0) / 1000.0

    val kernels = if (traced) Kernels.measure(spark, a("data")) else Map.empty[String, Double]
    // blocks still held by the block manager once the workload is done
    Thread.sleep(200)
    val storageMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
    spark.stop()

    Json.obj(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "setup_s" -> setupS, "setup_parts" -> setupParts, "measured_s" -> measuredS, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION, "confs" -> confs,
      "live_heap_mb" -> liveHeap, "gc_s" -> gcS, "traced_gc_s" -> tracedGcMs / 1000.0,
      "storage_mb" -> storageMb, "kernels_ns_per_row" -> kernels,
      "samples" -> samples.toSeq,
      "trace" -> (if (traced) tracer.toJson else Json.obj()))
  }
}

/** Per-row cost of the fused text kernels, measured from outside: a
  * select of the registered SQL function over the documents table into
  * the `noop` sink, minus a scan-only select of the same inputs.
  */
object Kernels {
  def measure(spark: SparkSession, dataDir: String, reps: Int = 5): Map[String, Double] = {
    val docs = graft.Tables.documents(spark, dataDir)
      .crossJoin(spark.range(32).toDF("copy"))
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("words"))
      .withColumn("sh", expr("shingle_hashes(words, 3)"))
      .withColumn("sh2", expr("shingle_hashes(slice(words, 2, size(words)), 3)"))
      .cache()
    val n = docs.count()
    docs.createOrReplaceTempView("graftbench_docs")
    def time(sel: String): Double = {
      val df = spark.sql(s"SELECT $sel FROM graftbench_docs")
      df.write.format("noop").mode("overwrite").save() // warm
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }.sorted
      ts(ts.size / 2)
    }
    val base = time("doc_id, text, words, sh, sh2")
    val kernels = Seq(
      "minhash_signature" -> "minhash_signature(words, 64, 3)",
      "simhash64_text" -> "simhash64_text(text)",
      "shingle_hashes" -> "shingle_hashes(words, 3)",
      "sorted_jaccard" -> "sorted_jaccard(sh, sh2)",
      "repetition_stats" -> "repetition_stats(text)")
    val res = kernels.map { case (k, e) =>
      k -> math.max(0.0, time(s"doc_id, text, words, sh, sh2, $e AS k") - base) / n
    }.toMap
    docs.unpersist(blocking = true)
    spark.catalog.dropTempView("graftbench_docs")
    res
  }
}
