package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import java.util.concurrent.ConcurrentHashMap

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md / FIXTURES.md §B). One parquet file per table under the
  * scale-factor directory. All reads go through here so column pruning /
  * filter pushdown behavior can be asserted in one place.
  *
  * A table's schema is resolved once per file: `spark.read.parquet` infers
  * it with a one-task Spark job on every call, so `load` keeps the inferred
  * schema and reads with `spark.read.schema(cached)`. The cache is keyed on
  * the path and invalidated when the file's length or modification time
  * changes, or when any of the session's Parquet schema decoding confs
  * ([[schemaConfs]], `nanosAsLong` among them) differs.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The session confs that decide the schema Parquet inference returns
    * (the converter's type mappings and which footers it reads), each with
    * its default. */
  private val schemaConfs: Seq[(String, String)] = Seq(
    SQLConf.CASE_SENSITIVE,
    SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
    SQLConf.PARQUET_BINARY_AS_STRING,
    SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
    SQLConf.PARQUET_FIELD_ID_READ_ENABLED,
    SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
    SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION,
    SQLConf.VARIANT_ALLOW_READING_SHREDDED,
    SQLConf.PARQUET_SCHEMA_MERGING_ENABLED,
    SQLConf.PARQUET_SCHEMA_RESPECT_SUMMARIES
  ).map(e => (e.key, e.defaultValueString))

  /** What a cached schema was inferred from: the file's length and
    * modification time and the decoding confs. */
  private final case class Stamp(length: Long, modified: Long, confs: Seq[String])

  private val schemas = new ConcurrentHashMap[String, (Stamp, StructType)]()

  private def stampOf(spark: SparkSession, path: String): Option[Stamp] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option.when(fs.exists(p)) {
      val st = fs.getFileStatus(p)
      Stamp(st.getLen, st.getModificationTime,
        schemaConfs.map { case (k, default) => spark.conf.get(k, default) })
    }
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    def infer(): StructType = spark.read.parquet(path).schema
    // a missing path is not cached: inference raises Spark's own error
    stampOf(spark, path).fold(infer()) { stamp =>
      Option(schemas.get(path)).collect { case (`stamp`, schema) => schema }.getOrElse {
        val schema = infer()
        schemas.put(path, (stamp, schema))
        schema
      }
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) (which
    * Spark's vectorized reader rejects — read it as a nanos-since-epoch
    * long and floor-truncate to microseconds, matching DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast) or plain TIMESTAMP(MICROS) (read
    * natively). Dispatch on the decoded type so both generations of the
    * generated testdata load identically. The nanos decoding needs
    * `spark.sql.legacy.parquet.nanosAsLong=true` from session creation
    * (`build.sbt` `javaOptions`); this reader leaves the session's confs
    * as they are.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // isAdjustedToUTC=false parquet decodes as NTZ; anchor the naive
        // micros at the epoch explicitly (session-TZ independent — a
        // plain NTZ→TIMESTAMP cast would re-interpret in session time)
        raw.withColumn("ts", timestamp_micros(expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** A probe query: the Spark implementation plus (when SQL-expressible) the
  * equivalent ANSI SQL the driver runs in DuckDB over the same parquet
  * tables. Column names/aliases MUST match between the two (the driver
  * sorts columns by name before hashing).
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {
  def sql(o: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, Some(o))
  def noOracle(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, None)
}
