package graft.sources.openmeteo

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.DateTimeConstants.MICROS_PER_DAY
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.weather.WeatherSchemas

/** `openmeteo` DataSource V2 connector (SURVEY.md §4, Phase 3): the
  * reference's hand-built request construction re-expressed as Catalyst
  * pushdown against stable public `org.apache.spark.sql.connector` APIs.
  *
  *  - variable list in the request (`server.py:215-223`) ⇒
  *    [[SupportsPushDownRequiredColumns]]: pruned columns ARE the
  *    requested variables — unrequested arrays are never materialized.
  *  - `start_date`/`end_date` params (`server.py:354-358`) ⇒
  *    [[SupportsPushDownFilters]] on the time axis (`ts_local`, or `date`
  *    at daily granularity): range predicates are consumed by the scan
  *    (no post-scan Filter node) and become the remote time window.
  *  - the pre-aggregated `daily` block (`server.py:219-223`) ⇒
  *    `granularity=daily`. Aggregates over the hourly scan reach it
  *    through the Catalyst rule [[graft.plans.DailyRollupPushdown]],
  *    which rewrites them onto a daily scan; the connector itself has no
  *    aggregate pushdown.
  *  - one partition per location block, capped by `maxPartitions`
  *    (admission control for the quota-limited source, §4) — at scale the
  *    unit of parallelism is location × date-chunk, each an independent
  *    HTTP fetch on an executor.
  *  - per-scan `apiCalls` custom metric (S5) + JVM-wide [[CallCounters]].
  *
  * Usage:
  * {{{
  *   spark.read.format("openmeteo")
  *     .option("path", fixtureFile)        // offline block payloads
  *     .option("granularity", "hourly")    // or minutely_15
  *     .load()
  * }}}
  */
class OpenMeteoTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "openmeteo"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    OpenMeteoTable.wideSchema(OpenMeteoOptions(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new OpenMeteoTable(OpenMeteoOptions(new CaseInsensitiveStringMap(properties)))
}

final case class OpenMeteoOptions(path: String, granKey: String,
    variables: Seq[String], maxPartitions: Int,
    maxRetries: Int = 3, backoffBaseMs: Long = 1000L, rateLimitMs: Long = 0L,
    chaosFailFirst: Boolean = false, chunkDays: Int = 30,
    httpBaseUrl: Option[String] = None,
    locations: Seq[(Double, Double)] = Seq.empty) {
  /** Live planning: partitions derive from the explicit locations list
    * (one remote unit per location × chunk) — no local manifest at all.
    */
  def liveMode: Boolean = httpBaseUrl.isDefined && locations.nonEmpty

  /** Number of block units to plan over — the locations list in live
    * mode, otherwise one unit per non-empty fixture line (fails with a
    * clear message rather than a bare FileNotFoundException).
    */
  def blockUnitCount: Int =
    if (liveMode) locations.size
    else {
      val file = new java.io.File(path)
      require(file.exists(),
        s"openmeteo: block manifest not found at $path — pass either " +
          "'path' (offline) or 'locations' with 'httpBaseUrl' (live)")
      val src = scala.io.Source.fromFile(file, "UTF-8")
      try src.getLines().count(_.nonEmpty) finally src.close()
    }

  /** Planner-side (latitude, longitude) per block unit, when knowable
    * WITHOUT a remote fetch: the explicit locations list in live mode,
    * or a light regex extraction over the offline manifest lines (the
    * planner already reads the file to count blocks). `None` — and
    * runtime pruning disables — if any line hides its coordinates;
    * pruning must never guess.
    */
  def blockCoordinates: Option[IndexedSeq[(Double, Double)]] =
    if (liveMode) Some(locations.toIndexedSeq)
    else {
      val file = new java.io.File(path)
      if (!file.exists()) None
      else {
        val latR = """"latitude"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
        val lonR = """"longitude"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
        val src = scala.io.Source.fromFile(file, "UTF-8")
        try {
          val coords = src.getLines().filter(_.nonEmpty).map { line =>
            for {
              la <- latR.findFirstMatchIn(line).map(_.group(1).toDouble)
              lo <- lonR.findFirstMatchIn(line).map(_.group(1).toDouble)
            } yield (la, lo)
          }.toIndexedSeq
          if (coords.nonEmpty && coords.forall(_.isDefined))
            Some(coords.map(_.get))
          else None
        } catch { case scala.util.control.NonFatal(_) => None }
        finally src.close()
      }
    }
}

object OpenMeteoOptions {
  def apply(o: CaseInsensitiveStringMap): OpenMeteoOptions = {
    val gran = o.getOrDefault("granularity", "hourly")
    require(gran == WeatherSchemas.GranHourly ||
      gran == WeatherSchemas.GranMinutely15 || gran == WeatherSchemas.GranDaily,
      s"unsupported granularity '$gran' (hourly | minutely_15 | daily)")
    val vars = Option(o.get("variables"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(if (gran == WeatherSchemas.GranDaily)
        WeatherSchemas.defaultDailyNames
      else WeatherSchemas.defaultHourlyNames)
    // live location list: "lat,lon;lat,lon;…" (the locations×chunk
    // manifest a live deployment plans from — VERDICT r2 item 5)
    val locs = Option(o.get("locations")).map(_.split(";").toSeq
      .map(_.trim).filter(_.nonEmpty).map { pair =>
        val xs = pair.split(",").map(_.trim.toDouble)
        require(xs.length == 2, s"bad location '$pair' (want lat,lon)")
        (xs(0), xs(1))
      }).getOrElse(Seq.empty)
    OpenMeteoOptions(
      Option(o.get("path")).getOrElse(
        s"${graft.weather.WeatherEngine.defaultFixtureDir}/hourly_7d.json"),
      gran, vars, o.getInt("maxPartitions", 64),
      maxRetries = o.getInt("maxRetries", 3),
      backoffBaseMs = o.getLong("backoffBaseMs", 1000L),
      rateLimitMs = o.getLong("rateLimitMs", 0L),
      chaosFailFirst = o.getBoolean("chaosFailFirst", false),
      chunkDays = o.getInt("chunkDays", 30),
      httpBaseUrl = Option(o.get("httpBaseUrl")),
      locations = locs)
  }
}

class OpenMeteoTable(val opts: OpenMeteoOptions) extends Table with SupportsRead {
  override def name(): String = s"openmeteo(${opts.path})"
  override def schema(): StructType = OpenMeteoTable.wideSchema(opts)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new OpenMeteoScanBuilder(opts)
}

object OpenMeteoTable {
  /** Full wide schema. Sub-daily: location + local/UTC timestamps +
    * hourly variables. Daily (the source's pre-aggregated rollup,
    * `server.py:219-223`): location + date + daily variables.
    */
  def wideSchema(opts: OpenMeteoOptions): StructType = {
    val loc = Seq(
      StructField("latitude", DoubleType, nullable = false),
      StructField("longitude", DoubleType, nullable = false))
    if (opts.granKey == WeatherSchemas.GranDaily) {
      val varFields = opts.variables.map { v =>
        val dt = WeatherSchemas.dailyByName.get(v).map(_.dataType).getOrElse(DoubleType)
        StructField(v, dt, nullable = true)
      }
      StructType(loc ++ Seq(StructField("date", DateType, nullable = false)) ++ varFields)
    } else {
      val varFields = opts.variables.map { v =>
        val dt = WeatherSchemas.hourlyByName.get(v).map(_.dataType).getOrElse(DoubleType)
        StructField(v, dt, nullable = true)
      }
      StructType(loc ++ Seq(
        StructField("ts_local", TimestampNTZType, nullable = false),
        StructField("ts_utc", TimestampType, nullable = false)) ++ varFields)
    }
  }
}

class OpenMeteoScanBuilder(opts: OpenMeteoOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN {

  private var requiredSchema: StructType = OpenMeteoTable.wideSchema(opts)
  private var pushed: Array[Filter] = Array.empty
  private var tsLoMicros: Option[Long] = None
  private var tsHiMicros: Option[Long] = None // EXCLUSIVE upper micro bound
  private var limit: Option[Int] = None
  private var topN: Option[TopNPush] = None

  /** LIMIT reaches the scan: each partition stops fetching blocks once it
    * has emitted `limit` rows (partial pushdown — Spark still applies the
    * global limit), so a `LIMIT 10` over thousands of locations issues a
    * handful of fetches instead of all of them.
    */
  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY time LIMIT k reaches the scan (the "latest k readings"
    * shape, `server.py:235-249`'s smallest-possible-fetch semantics):
    * each partition emits only its time-extreme candidate rows instead
    * of full histories. Partial pushdown — Spark keeps the global
    * TakeOrdered — so acceptance only requires the retained candidate
    * set to be a SUPERSET of any global top-k. That holds for any sort
    * whose LEADING key is the block time axis, regardless of trailing
    * tie-break keys: the reader keeps every row tied with the k-th
    * candidate's time value (see [[OpenMeteoReader]]), and rows beyond
    * per-block position k are dominated by k same-block rows (block
    * times are strictly increasing). ts_utc qualifies too — per block
    * it is `ts_local − offset` with a constant offset, so block-local
    * monotonicity is preserved and the heap just keys on the UTC value.
    */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder], n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.SortDirection
    val timeAxis: Set[String] =
      if (opts.granKey == WeatherSchemas.GranDaily) Set("date")
      else Set("ts_local", "ts_utc")
    orders.headOption.map(_.expression()).exists {
      case r: NamedReference
          if r.fieldNames.length == 1 && timeAxis(r.fieldNames.head) =>
        topN = Some(TopNPush(r.fieldNames.head,
          orders.head.direction() == SortDirection.DESCENDING, n))
        true
      case _ => false
    }
  }

  /** Column pruning ⇒ the connector's "variables" request param (P1). */
  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  /** Range predicates on the time axis — `ts_local` of a sub-daily scan,
    * `date` of a daily one — become the remote start/end window (F4).
    * The window is kept in local micros either way; a day is its
    * midnight's micros, so `date <= d` ends the window at d + 1 day.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (timeCol, step) =
      if (opts.granKey == WeatherSchemas.GranDaily) ("date", MICROS_PER_DAY)
      else ("ts_local", 1L)
    val (accepted, rejected) = filters.partition {
      case GreaterThan(`timeCol`, v)        => toMicros(v).isDefined
      case GreaterThanOrEqual(`timeCol`, v) => toMicros(v).isDefined
      case LessThan(`timeCol`, v)           => toMicros(v).isDefined
      case LessThanOrEqual(`timeCol`, v)    => toMicros(v).isDefined
      case _ => false
    }
    accepted.foreach {
      case GreaterThan(_, v) =>
        tsLoMicros = Some(maxLo(toMicros(v).get + step))
      case GreaterThanOrEqual(_, v) =>
        tsLoMicros = Some(maxLo(toMicros(v).get))
      // Upper bounds normalize to an exclusive micro bound so combining
      // `<` and `<=` filters can never mis-inherit inclusivity
      // (LessThanOrEqual(X) ≡ LessThan(X + 1 step)).
      case LessThan(_, v) =>
        tsHiMicros = Some(minHi(toMicros(v).get))
      case LessThanOrEqual(_, v) =>
        tsHiMicros = Some(minHi(toMicros(v).get + step))
      case _ =>
    }
    pushed = accepted
    rejected // everything else still evaluated post-scan
  }
  private def maxLo(v: Long) = tsLoMicros.fold(v)(math.max(_, v))
  private def minHi(v: Long) = tsHiMicros.fold(v)(math.min(_, v))

  private def toMicros(v: Any): Option[Long] = v match {
    case t: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(t))
    case t: java.sql.Timestamp      => Some(DateTimeUtils.fromJavaTimestamp(t))
    case t: java.time.Instant       => Some(DateTimeUtils.instantToMicros(t))
    case d: java.time.LocalDate     => Some(d.toEpochDay * MICROS_PER_DAY)
    case d: java.sql.Date           => Some(DateTimeUtils.fromJavaDate(d) * MICROS_PER_DAY)
    case _                          => None
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new OpenMeteoScan(opts, requiredSchema, pushed, tsLoMicros, tsHiMicros,
      limit, topN)
}

/** Accepted TopN pushdown: leading sort key (a time-axis column), its
  * direction, and the limit.
  */
final case class TopNPush(keyCol: String, desc: Boolean, k: Int)

class OpenMeteoScan(opts: OpenMeteoOptions, schema: StructType,
    pushed: Array[Filter], lo: Option[Long], hi: Option[Long],
    limit: Option[Int] = None, topN: Option[TopNPush] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportPartitioning {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Keyed planning gate ([[SupportsReportPartitioning]]): the scan can
    * promise "all rows of one location live in one partition" only when
    * (a) every block's coordinates are knowable at planning, (b) the
    * pruned output still carries latitude AND longitude (the reported
    * identity transforms must resolve against the scan output), and
    * (c) a partition-per-block plan respects the parallelism cap (keyed
    * mode trades the strided block grouping for the key guarantee — at
    * a million locations the cap wins and the scan reports unknown).
    */
  private def keyedCoords: Option[IndexedSeq[(Double, Double)]] =
    if (schema.fieldNames.contains("latitude") &&
        schema.fieldNames.contains("longitude") &&
        opts.blockUnitCount <= opts.maxPartitions &&
        // chunk fan-out beats the key promise: Spark's partition
        // grouping would merge one location's date chunks back into a
        // single task, serializing exactly the long-history reads the
        // chunking exists to parallelize — so the promise is only made
        // when the (unpruned) plan wouldn't split chunks anyway
        chunkBounds(opts.blockUnitCount).size == 1)
      opts.blockCoordinates.filter(_.length == opts.blockUnitCount)
    else None

  /** Date-chunk slicing shared by [[planInputPartitions]] and the keyed
    * gate: `n` is the block count the parallelism-cap check runs
    * against. Chunking applies only when BOTH time bounds were pushed.
    */
  private def chunkBounds(n: Int): Seq[(Option[Long], Option[Long])] = {
    val chunkMicros = opts.chunkDays * MICROS_PER_DAY
    (lo, hi) match {
      case (Some(l), Some(h)) if opts.chunkDays > 0 && h - l > chunkMicros &&
          // never exceed the parallelism cap with chunking alone
          n.toLong * ((h - l + chunkMicros - 1) / chunkMicros) <= opts.maxPartitions =>
        val bounds = l.until(h, chunkMicros) :+ h
        bounds.init.zip(bounds.tail).map { case (a, b) => (Some(a), Some(b)) }
      case _ => Seq((lo, hi))
    }
  }

  /** Report per-location clustering so Spark drops the exchange under
    * any (latitude, longitude)-clustered operator — the generic
    * `groupBy(lat, lon)` complement to the [[graft.plans.DailyRollupPushdown]]
    * aggregate pushdown: grouped weather analytics over the connector
    * then aggregate IN PLACE, zero shuffle (requires
    * `spark.sql.sources.v2.bucketing.enabled`; gated by PartitioningSpec
    * on the final adaptive plan). Date-chunked partitions of one
    * location share a key — Spark's partition grouping merges them.
    */
  override def outputPartitioning(): Partitioning = keyedCoords match {
    case Some(cs) => new KeyGroupedPartitioning(
      Array(Expressions.identity("latitude"), Expressions.identity("longitude")),
      cs.length)
    case None => new UnknownPartitioning(0)
  }

  // Runtime (DPP-style) coordinate pruning: a join against a small
  // location dimension hands the scan the dim side's key set at
  // execution start; blocks at other coordinates are never fetched. For
  // a quota-limited remote source this converts a join's selectivity
  // directly into FEWER HTTP CALLS — the V2 analogue of partition
  // pruning on a lake table (same contract as Iceberg's
  // SparkBatchQueryScan). Pruning is advisory by API contract: the
  // join's own predicate still applies post-scan, so ignoring an
  // uninterpretable filter is always safe, while APPLYING one requires
  // the planner-side block coordinates to be definitively known.
  private var runtimeLat: Option[Set[Double]] = None
  private var runtimeLon: Option[Set[Double]] = None

  // only columns that SURVIVED pruning: Spark resolves these against the
  // scan's output, so advertising a pruned-away coordinate throws at
  // planning (found when a projection dropped longitude)
  override def filterAttributes(): Array[NamedReference] =
    schema.fieldNames.filter(n => n == "latitude" || n == "longitude")
      .map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    def numSet(vs: Array[Any]): Option[Set[Double]] = {
      val ds = vs.collect { case n: java.lang.Number => n.doubleValue() }
      if (ds.length == vs.length) Some(ds.toSet) else None // null/odd → no prune
    }
    def merge(cur: Option[Set[Double]], add: Option[Set[Double]]) =
      (cur, add) match {
        case (Some(a), Some(b)) => Some(a intersect b)
        case _ => cur.orElse(add)
      }
    filters.foreach {
      case In("latitude", vs) => runtimeLat = merge(runtimeLat, numSet(vs))
      case EqualTo("latitude", v: java.lang.Number) =>
        runtimeLat = merge(runtimeLat, Some(Set(v.doubleValue())))
      case In("longitude", vs) => runtimeLon = merge(runtimeLon, numSet(vs))
      case EqualTo("longitude", v: java.lang.Number) =>
        runtimeLon = merge(runtimeLon, Some(Set(v.doubleValue())))
      case _ => () // advisory: unrecognized runtime filters never prune
    }
  }

  override def description(): String = {
    val catalog = if (opts.granKey == WeatherSchemas.GranDaily)
      WeatherSchemas.dailyByName else WeatherSchemas.hourlyByName
    val vars = schema.fieldNames.filter(catalog.contains)
    s"openmeteo gran=${opts.granKey} RequestedVariables: [${vars.mkString(",")}] " +
      s"PushedTimeRange: [${lo.getOrElse("-inf")}, ${hi.getOrElse("+inf")}] " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      limit.map(n => s" PushedLimit: $n").getOrElse("") +
      topN.map(t => s" PushedTopN: ORDER BY ${t.keyCol} " +
        s"${if (t.desc) "DESC" else "ASC"} LIMIT ${t.k}").getOrElse("")
  }

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ApiCallsMetric)

  /** Partition = location block × date chunk (the connector's HTTP unit
    * at scale: one remote request per location and `chunkDays` window).
    * Date chunking applies when BOTH time bounds were pushed down — the
    * span is then known and is split into `chunkDays` slices, so long
    * histories for one location fan out across executors instead of
    * serializing into one task. `maxPartitions` caps PARALLELISM, never
    * coverage: when block×chunk units outnumber the cap, each partition
    * reads a strided group of blocks (chunk splits are dropped first —
    * correctness never depends on chunking).
    */
  override def planInputPartitions(): Array[InputPartition] = {
    // Live mode (httpBaseUrl + locations): the partition count is the
    // explicit location list — zero local reads, the deployment shape.
    // Offline mode: each non-empty fixture line is one block unit.
    val total = opts.blockUnitCount
    // runtime coordinate pruning (see filter()): keep only blocks whose
    // planner-known coordinates survive the delivered key sets
    val blocks: Array[Int] =
      if (runtimeLat.isEmpty && runtimeLon.isEmpty) (0 until total).toArray
      else opts.blockCoordinates match {
        case Some(cs) if cs.length == total =>
          (0 until total).filter { i =>
            runtimeLat.forall(_.contains(cs(i)._1)) &&
              runtimeLon.forall(_.contains(cs(i)._2))
          }.toArray
        case _ => (0 until total).toArray // coordinates not knowable → no prune
      }
    val n = blocks.length
    if (n == 0) return Array.empty
    val chunks = chunkBounds(n)
    keyedCoords match {
      case Some(cs) =>
        // keyed mode: one partition per (surviving block × chunk), each
        // carrying its location as the partition key — chunked splits of
        // one location share the key and regroup on the Spark side
        (for {
          b <- blocks.toSeq
          (cLo, cHi) <- chunks
        } yield KeyedOpenMeteoPartition(Array(b), cLo, cHi,
          Array(cs(b)._1, cs(b)._2)): InputPartition).toArray
      case None =>
        val parts = math.min(math.max(n, 1),
          math.max(opts.maxPartitions / chunks.size, 1))
        (for {
          p <- 0 until parts
          (cLo, cHi) <- chunks
        } yield OpenMeteoPartition((p until n by parts).map(blocks).toArray,
          cLo, cHi): InputPartition)
          .toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new OpenMeteoReaderFactory(opts, schema, lo, hi, limit, topN)
}

final case class OpenMeteoPartition(blockIndices: Array[Int],
    lo: Option[Long], hi: Option[Long]) extends InputPartition

/** [[OpenMeteoPartition]] plus its coordinate key — the
  * [[HasPartitionKey]] half of the keyed-planning contract (the other
  * half is the scan's reported [[KeyGroupedPartitioning]]). Key layout
  * must match the reported transforms element-for-element: (latitude,
  * longitude) doubles.
  */
final case class KeyedOpenMeteoPartition(blockIndices: Array[Int],
    lo: Option[Long], hi: Option[Long], key: Array[Double])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(key.map(Double.box).toIndexedSeq: _*)
}

class ApiCallsMetric extends CustomSumMetric {
  override def name(): String = "apiCalls"
  override def description(): String = "remote API calls issued by this scan"
}

final case class ApiCallsTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "apiCalls"
}

class OpenMeteoReaderFactory(opts: OpenMeteoOptions, schema: StructType,
    lo: Option[Long], hi: Option[Long], limit: Option[Int] = None,
    topN: Option[TopNPush] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      // chunk bounds already intersected with the pushed range at planning
      case p: OpenMeteoPartition =>
        new OpenMeteoReader(opts, schema, p.lo, p.hi, p.blockIndices, limit, topN)
      case p: KeyedOpenMeteoPartition =>
        new OpenMeteoReader(opts, schema, p.lo, p.hi, p.blockIndices, limit, topN)
      case other => throw new IllegalArgumentException(
        s"unexpected partition type: ${other.getClass}")
    }
}

/** Executor-side reader: each block in the partition is one fetch (the
  * connector's HTTP unit) issued THROUGH the [[Transport]] stack —
  * offline line source wrapped by [[RetryingTransport]] (and
  * [[RateLimitedTransport]] when `rateLimitMs` > 0) — so the
  * retry/backoff/admission policies govern real scans exactly as they
  * would around a live HTTP client. Each block is parsed once and
  * streamed out as pruned wide rows with the pushed time range applied
  * at the array index level.
  */
class OpenMeteoReader(opts: OpenMeteoOptions, schema: StructType,
    lo: Option[Long], hi: Option[Long],
    blockIndices: Array[Int], limit: Option[Int] = None,
    topN: Option[TopNPush] = None)
    extends PartitionReader[InternalRow] {

  private var blockCursor = 0
  private var pos = -1
  private var emitted = 0L
  private var times: Array[Long] = Array.empty
  private var keep: Array[Boolean] = Array.empty
  private var lat: Double = _
  private var lon: Double = _
  private var offsetSec: Long = _
  private var varArrays: Map[String, JsonNode] = Map.empty
  // One mapper per reader, not per block: ObjectMapper construction is
  // expensive and loadBlock sits on the scan hot path.
  private lazy val mapper = new ObjectMapper()
  private var fetches = 0L

  private lazy val transport: Transport = {
    // httpBaseUrl flips the scan to the LIVE transport (each block fetch
    // becomes one GET); otherwise the offline line source stands in.
    // The retry/rate-limit decorators are identical either way.
    val base: Transport = opts.httpBaseUrl match {
      case Some(url) => new HttpTransport(url)
      case None =>
        new LineOfflineTransport(opts.path, blockIndices, opts.chaosFailFirst)
    }
    val retried = new RetryingTransport(base,
      RetryPolicy(opts.maxRetries, opts.backoffBaseMs))
    if (opts.rateLimitMs > 0) new RateLimitedTransport(retried, opts.rateLimitMs)
    else retried
  }

  /** One remote request per block unit. Offline: the fixture line index.
    * Live: the reference's own param shape (`server.py:206-258`) —
    * coordinates, the requested variable list under the granularity key,
    * and the pushed time window as start/end dates.
    */
  private def fetchParams(blockIdx: Int): Map[String, String] =
    if (opts.liveMode) {
      val (plat, plon) = opts.locations(blockIdx)
      val catalog = if (opts.granKey == WeatherSchemas.GranDaily)
        WeatherSchemas.dailyByName else WeatherSchemas.hourlyByName
      val vars = schema.fieldNames.filter(catalog.contains)
      // without the window a server default one would silently truncate
      // the series (and any aggregate over it)
      val dates = Map(
        "start_date" -> lo.map(m => DateTimeUtils.microsToLocalDateTime(m)
          .toLocalDate.toString),
        "end_date" -> hi.map(m => DateTimeUtils.microsToLocalDateTime(m - 1L)
          .toLocalDate.toString)
      ).collect { case (k, Some(v)) => k -> v }
      Map("latitude" -> plat.toString, "longitude" -> plon.toString,
        opts.granKey -> vars.mkString(",")) ++ dates
    } else Map("block" -> blockIdx.toString)

  private def loadBlock(blockIdx: Int): Unit = {
    fetches += 1
    val line = transport.fetch(fetchParams(blockIdx))
    val root = mapper.readTree(line)
    lat = root.get("latitude").asDouble()
    lon = root.get("longitude").asDouble()
    offsetSec = root.get("utc_offset_seconds").asLong()
    val g = root.get(opts.granKey)
    if (g == null || g.isNull || g.get("time") == null) {
      times = Array.empty; keep = Array.empty; varArrays = Map.empty
    } else {
      val timeArr = g.get("time")
      times = (0 until timeArr.size()).map { i =>
        if (opts.granKey == WeatherSchemas.GranDaily)
          // DateType days since epoch
          java.time.LocalDate.parse(timeArr.get(i).asText()).toEpochDay
        else
          DateTimeUtils.localDateTimeToMicros(
            java.time.LocalDateTime.parse(timeArr.get(i).asText(),
              java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm")))
      }.toArray
      // the window is in local micros; a day starts at its midnight
      val micros = if (opts.granKey == WeatherSchemas.GranDaily)
        times.map(_ * MICROS_PER_DAY) else times
      keep = micros.map(t => lo.forall(t >= _) && hi.forall(t < _))
      varArrays = schema.fieldNames
        .filter(f => g.has(f)).map(f => f -> g.get(f)).toMap
    }
    pos = -1
  }

  override def next(): Boolean = topN match {
    case Some(t) =>
      if (topNRows == null) topNRows = collectTopN(t)
      val has = topNRows.hasNext
      if (has) topNCurrent = topNRows.next()
      has
    case None => streamNext()
  }

  private def streamNext(): Boolean = {
    // pushed limit: stop BEFORE fetching further blocks once satisfied
    if (limit.exists(emitted >= _)) return false
    while (true) {
      pos += 1
      while (pos < times.length && !keep(pos)) pos += 1
      if (pos < times.length) { emitted += 1; return true }
      if (blockCursor >= blockIndices.length) return false
      loadBlock(blockIndices(blockCursor))
      blockCursor += 1
    }
    false
  }

  // ---- TopN path: per-partition time-extreme candidates only ----
  private var topNRows: Iterator[InternalRow] = null
  private var topNCurrent: InternalRow = null

  /** The sort value of the current block's row at `p` for the pushed key:
    * times(p) for ts_local/date; UTC = local − block offset for ts_utc.
    * All three are strictly increasing within a block (offset is a
    * per-block constant), so per-block candidates are a positional
    * slice of the kept rows.
    */
  private def sortVal(p: Int, keyCol: String): Long =
    if (keyCol == "ts_utc") times(p) - offsetSec * 1000000L else times(p)

  /** Tie-inclusive per-partition top-k: per block take the k extreme
    * kept positions (rows beyond them are dominated by k same-block
    * rows), materialize them, then compact the running candidate set to
    * every row whose key is at least as extreme as the k-th candidate's.
    * Ties at the boundary are RETAINED — the global top-k under any
    * refinement of the time ordering (trailing tie-break keys belong to
    * Spark's kept TakeOrdered) is then always a subset of the emitted
    * rows. Bounded: with an hourly grid shared across locations the
    * retained set is ≤ blocksInPartition + k rows, each held as one
    * materialized row — never a full history.
    */
  private def collectTopN(t: TopNPush): Iterator[InternalRow] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, InternalRow)]()
    def compact(): Unit = if (buf.length > t.k) {
      val sorted =
        if (t.desc) buf.sortBy(-_._1) else buf.sortBy(_._1)
      val threshold = sorted(t.k - 1)._1
      buf.clear()
      buf ++= sorted.takeWhile(c =>
        if (t.desc) c._1 >= threshold else c._1 <= threshold)
    }
    blockIndices.foreach { bi =>
      loadBlock(bi)
      val kept = times.indices.filter(keep)
      val cand = if (t.desc) kept.takeRight(t.k) else kept.take(t.k)
      cand.foreach { p =>
        pos = p
        buf += ((sortVal(p, t.keyCol), materializeRow()))
      }
      compact()
    }
    buf.iterator.map(_._2)
  }

  override def get(): InternalRow =
    if (topN.isDefined) topNCurrent else materializeRow()

  private def materializeRow(): InternalRow = {
    val values = schema.fields.map { f =>
      f.name match {
        case "latitude"  => lat
        case "longitude" => lon
        case "ts_local"  => times(pos)
        case "ts_utc"    => times(pos) - offsetSec * 1000000L
        case "date"      => java.lang.Integer.valueOf(times(pos).toInt): Any
        case v =>
          varArrays.get(v) match {
            case Some(arr) if pos < arr.size() && !arr.get(pos).isNull =>
              // branches boxed individually: a bare Int/Double match
              // expression weak-lubs to Double and corrupts int columns
              f.dataType match {
                case IntegerType =>
                  java.lang.Integer.valueOf(arr.get(pos).asInt()): Any
                case StringType =>
                  UTF8String.fromString(arr.get(pos).asText()): Any
                case _ =>
                  java.lang.Double.valueOf(arr.get(pos).asDouble()): Any
              }
            case _ => null
          }
      }
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(ApiCallsTaskMetric(fetches))

  override def close(): Unit = ()
}
