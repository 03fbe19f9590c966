package graft

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Protocol (BASELINE.md): each query gets one discarded cold run, then
  * `SPARK_GRAFT_BENCH_RUNS` timed runs (default 3); the median is
  * reported. Queries are materialized through the `noop` sink — a bare
  * `count()` would let column pruning delete the very projections under
  * test.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    // ERROR, not WARN: benign localCheckpoint/MapPartitionsRDD WARNs land
    // on stderr AFTER the wire line in the driver's tail capture and break
    // its JSON parse (this failed four rounds running at WARN).
    val spark = Sessions.local(logLevel = "ERROR")

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Cumulative stop-the-world GC time of this JVM (ms). Per-query
    // deltas ride along in BENCH_FULL.json so band forensics can
    // separate DRIVER-JVM GC pressure (gc delta tracks the inflation)
    // from external box load (flat gc, inflated wall) — the r13 driver
    // tail showed GCLocker retries mid-map and the two causes were
    // indistinguishable from wall-clock alone.
    def gcMillis(): Long = {
      val it = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.iterator()
      var s = 0L
      while (it.hasNext) s += math.max(0L, it.next().getCollectionTime)
      s
    }

    // Per-query wall-clock offsets (seconds since bench start) ride along
    // in BENCH_FULL.json: a concurrent-load window on the box then shows
    // up as a contiguous TIME BAND of inflated queries instead of a
    // mystery per-query regression (the r5 forensics problem).
    val benchT0 = System.nanoTime()
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(name.startsWith) }
      .map { case (name, fn) =>
        val at = (System.nanoTime() - benchT0) / 1e9
        val (t, cold, gcSec) = try {
          def once(): Unit =
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          // the cold run is discarded from the headline median but kept
          // as a sub-metric: for the IndexCache-amortized ANN probes
          // (s23/s25/s26) cold ≈ fit + index build and the median ≈ the
          // serve path — the fit/serve split BASELINE.md documents
          val c = time(once())
          // gc delta spans ONLY the timed runs (sampled after the cold
          // run), so it corresponds to the median being judged — a cold
          // index build's GC must not be attributed to the serve path
          val gc0 = gcMillis()
          val samples = Seq.fill(runs)(time(once())).sorted
          (samples(samples.size / 2), c, (gcMillis() - gc0) / 1e3)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            (-1.0, -1.0, 0.0)
        }
        (name, t, at, cold, gcSec)
      }
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val full = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val startedAt = results.map { case (k, _, at, _, _) => "\"" + k + "\":" + fmt(at) }
      .mkString("{", ",", "}")
    val coldMap = results.map { case (k, _, _, c, _) => "\"" + k + "\":" + fmt(c) }
      .mkString("{", ",", "}")
    val gcMap = results.map { case (k, _, _, _, g) => "\"" + k + "\":" + fmt(g) }
      .mkString("{", ",", "}")
    val gcTotal = results.map(_._5).sum
    val heapGb = Runtime.getRuntime.maxMemory / (1024.0 * 1024 * 1024)
    // documented 2× run-to-run swing class (CLAUDE.md bench forensics):
    // iterative CC jobs and streaming checkpoint lifecycles — a >2×
    // reading on ONE sample of these rows is noise until reproduced
    // isolated; the tag lets the regression check read that directly
    // instead of re-deriving it from forensics each round
    val varianceClass = results.map(_._1).filter(n =>
        n.startsWith("st") ||
          Set("d7_neardup_clusters", "s12_semantic_dedup",
            "t49_cluster_safe_split", "t55_cluster_safe_split_lsh",
            "d21_ingest_round").contains(n))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver parses the LAST stdout line as JSON from a bounded tail
    // capture — the printed line must stay well under ~1.5 kB. Print the
    // headline subset (every FAILED query first — a crash must never be
    // invisible on the wire — then the slowest) and write the complete
    // per-query map (+ wall-clock start offsets) to a file.
    val (failed, ok) = results.partition(_._2 < 0)
    val headline = (failed ++ ok.sortBy(-_._2)).take(24)
      .map { case (k, v, _, _, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"queries":$full,"started_at":$startedAt,"cold":$coldMap,"gc":$gcMap,"gc_sec":${fmt(gcTotal)},"heap_gb":${fmt(heapGb)},"variance_class":$varianceClass,"sf":"$sfDir"}"""
    val wire = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"gc_sec":${fmt(gcTotal)},"queries":$headline,"sf":"$sfDir"}"""
    // BENCH_FULL.json is the canonical full-map artifact (BASELINE.md):
    // a SPARK_GRAFT_BENCH_ONLY-filtered run must never clobber it — those
    // go to BENCH_ONLY.json instead.
    val outFile = if (only.isEmpty) "BENCH_FULL.json" else "BENCH_ONLY.json"
    try {
      val w = new java.io.PrintWriter(outFile)
      try w.println(fullLine) finally w.close()
    } catch { case _: Exception => }
    // The wire line must be the very LAST output: stop Spark first so its
    // shutdown logging cannot trail the JSON in the driver's tail capture,
    // then print and flush. stop() is best-effort — a shutdown race must
    // never cost the wire line after all queries completed.
    try spark.stop() catch { case scala.util.control.NonFatal(_) => }
    println(wire)
    System.out.flush()
  }
}
