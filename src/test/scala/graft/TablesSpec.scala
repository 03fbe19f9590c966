package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

/** `Tables.load` resolves a table's schema once per file: a repeated load
  * starts no schema-inference job, and a rewritten file or a changed
  * decoding conf resolves it again. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Spark jobs `body` starts (the listener bus drained before counting). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val ctx = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestListenerBus.drain(ctx)
    ctx.addSparkListener(listener)
    try { val r = body; TestListenerBus.drain(ctx); (r, jobs.get) }
    finally ctx.removeSparkListener(listener)
  }

  /** One parquet file at `path` in the given parquet message schema, with
    * one row per entry of `rows` (field name → value). */
  private def writeParquet(path: String, schema: String, rows: Seq[Seq[(String, Any)]]): Unit = {
    val message = MessageTypeParser.parseMessageType(schema)
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withType(message)
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    val groups = new SimpleGroupFactory(message)
    try rows.foreach { row =>
      val g = groups.newGroup()
      row.foreach {
        case (k, v: Long) => g.append(k, v)
        case (k, v: Int) => g.append(k, v)
        case (k, v: Double) => g.append(k, v)
        case (k, v: String) => g.append(k, v)
        case (k, v) => fail(s"unsupported test value $k = $v")
      }
      writer.write(g)
    } finally writer.close()
  }

  test("a repeated load starts no job before its action and reads the same rows") {
    val dir = TestSpark.tempDir("graft_tables_once")
    Files.copy(Paths.get(s"${TestSpark.sfDir}/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    val (first, firstJobs) = jobsOf(Tables.load(spark, dir, "orders"))
    assert(firstJobs > 0, "the first load must infer the schema")
    val (second, secondJobs) = jobsOf(Tables.load(spark, dir, "orders"))
    assert(secondJobs === 0)
    val raw = spark.read.parquet(s"$dir/orders.parquet")
    assert(second.schema === raw.schema)
    val key = col("o_orderkey")
    assert(second.orderBy(key).collect().toSeq === first.orderBy(key).collect().toSeq)
    assert(second.orderBy(key).collect().toSeq === raw.orderBy(key).collect().toSeq)
  }

  test("a file rewritten at the same path with another schema resolves again") {
    val dir = TestSpark.tempDir("graft_tables_rewrite")
    val path = s"$dir/t.parquet"
    writeParquet(path, "message t { required int64 a; required binary b (UTF8); }",
      Seq(Seq("a" -> 1L, "b" -> "x"), Seq("a" -> 2L, "b" -> "y")))
    assert(Tables.load(spark, dir, "t").columns.toSeq === Seq("a", "b"))
    writeParquet(path, "message t { required int32 k; required double v; }",
      Seq(Seq("k" -> 7, "v" -> 0.5)))
    val (rewritten, jobs) = jobsOf(Tables.load(spark, dir, "t"))
    assert(jobs > 0, "a rewritten file must resolve its schema again")
    assert(rewritten.schema === spark.read.parquet(path).schema)
    assert(rewritten.collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq === Seq((7, 0.5)))
  }

  test("a missing table fails with Spark's path error") {
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, TestSpark.tempDir("graft_tables_missing"), "absent"))
    assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
  }

  test("toggling nanosAsLong resolves the schema again") {
    val dir = TestSpark.tempDir("graft_tables_nanos")
    writeParquet(s"$dir/n.parquet", "message n { required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(Seq("ts" -> 1700000000123456789L)))
    Sessions.withConfs(spark, NanosAsLong -> "true") {
      assert(Tables.load(spark, dir, "n").schema("ts").dataType === LongType)
    }
    Sessions.withConfs(spark, NanosAsLong -> "false") {
      // without the conf Spark cannot decode TIMESTAMP(NANOS): a cached
      // LongType schema would have been served silently instead
      val e = intercept[Exception](Tables.load(spark, dir, "n"))
      assert(String.valueOf(e.getMessage).contains("TIMESTAMP(NANOS"), e.getMessage)
    }
    Sessions.withConfs(spark, NanosAsLong -> "true") {
      assert(Tables.load(spark, dir, "n").schema("ts").dataType === LongType)
    }
  }

  test("Tables.events leaves the caller's session confs as they are") {
    val saved = spark.conf.getOption(NanosAsLong)
    spark.conf.unset(NanosAsLong)
    try {
      Tables.events(spark, TestSpark.sfDir).collect()
      assert(!spark.conf.getAll.contains(NanosAsLong))
    } finally saved.foreach(spark.conf.set(NanosAsLong, _))
  }

  test("Tables.events decodes ts as before, for nanosecond and microsecond files") {
    val dir = TestSpark.tempDir("graft_tables_events")
    writeParquet(s"$dir/events.parquet",
      "message e { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }",
      Seq(Seq("event_id" -> 1L, "ts" -> 1700000000123456789L),
        Seq("event_id" -> 2L, "ts" -> 86400000000999L)))
    Seq(1, 2).foreach { _ =>
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      val micros = ev.orderBy("event_id").select(expr("unix_micros(ts)")).collect().map(_.getLong(0))
      assert(micros.toSeq === Seq(1700000000123456L, 86400000000L))
    }
    // the shipped testdata stores ts as naive microseconds (NTZ)
    val shipped = Tables.events(spark, TestSpark.sfDir)
    val raw = spark.read.parquet(s"${TestSpark.sfDir}/events.parquet")
    val expected = raw.withColumn("ts", timestamp_micros(expr(
      "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
    assert(raw.schema("ts").dataType.typeName === "timestamp_ntz")
    assert(shipped.schema === expected.schema)
    assert(shipped.orderBy("event_id").collect().toSeq ===
      expected.orderBy("event_id").collect().toSeq)
  }
}
