package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by the entry-point mains (Bench,
  * Verify, Profile, PlanDump, ScaleSoak) and the test suites: `local[n]`
  * with the shuffle width equal to the core count, UTC session time, AQE
  * on, no UI, and graft's extensions installed.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS`, else the JVM's available processors. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus, logLevel: String = "ERROR"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** `body` with each of `kvs` set on `s`'s session conf. On exit, thrown
    * or not, every key gets back the value it had before, and a key that
    * was unset before is unset again. */
  def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      kvs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
  }
}

/** Scratch space for probe artifacts that never outlive the JVM: index
  * directories of the lifecycle probes, streaming drop feeds, ephemeral
  * checkpoints and file-sink outputs.
  */
object Scratch {

  /** `SPARK_GRAFT_SCRATCH`, else `/dev/shm` when it has at least 512 MB
    * usable, else `java.io.tmpdir`. The probes write many small fsync-ed
    * files (parquet index partitions, WAL + offset logs, one state-store
    * delta per partition per batch), so tmpfs keeps disk latency out of
    * what they measure; containers commonly cap /dev/shm at 64 MB, hence
    * the space check. Production indexes and checkpoints live on durable
    * storage, never here.
    */
  lazy val root: java.nio.file.Path = {
    val pick = sys.env.get("SPARK_GRAFT_SCRATCH")
      .map(java.nio.file.Paths.get(_))
      .orElse {
        val shm = java.nio.file.Paths.get("/dev/shm")
        val usable = try {
          if (java.nio.file.Files.isDirectory(shm) &&
            java.nio.file.Files.isWritable(shm))
            java.nio.file.Files.getFileStore(shm).getUsableSpace
          else 0L
        } catch { case _: Exception => 0L }
        if (usable >= (512L << 20)) Some(shm) else None
      }
      .getOrElse(java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createDirectories(pick)
    pick
  }

  /** A fresh directory under [[root]]. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(root, prefix).toString

  /** A fresh directory under [[root]], removed at JVM exit. */
  def exitScopedDir(prefix: String): String = {
    val dir = tempDir(prefix)
    deleteOnExit(dir)
    dir
  }

  /** Recursive delete; never throws. */
  def deleteQuietly(dir: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val cs = f.listFiles()
      if (cs != null) cs.foreach(rec)
      f.delete(): Unit
    }
    try rec(new java.io.File(dir)) catch { case _: Exception => () }
  }

  private val onExit = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  // ONE hook draining the shared list — a hook per directory would hold
  // a live Thread (and its closure) for every probe run of a Bench map
  private lazy val exitHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => onExit.forEach(d => deleteQuietly(d))))

  /** Delete `dir` recursively at JVM exit. */
  def deleteOnExit(dir: String): Unit = {
    exitHook
    onExit.add(dir): Unit
  }
}
