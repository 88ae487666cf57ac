package graft.sources.sta

import graft.core.{Flags, Obs}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, In, LessThan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** S1/S2 — the SensorThings "sta" DataSource V2 (reference OData query
  * builder, `src/aums_data_request.py:36-77`; URL shape pinned
  * `tests/test_other.py:73-85`; threaded paged fetch `get_all_data`
  * `src/main.py:350-364`).
  *
  * v2 architecture: the scan COMPILES Catalyst pushdowns into the OData
  * request the reference builds by hand —
  *  - required columns  → the only ones the reader fills; the pruning
  *    happens in the reader, no `$select` is sent
  *  - time / stream filters → `$filter=phenomenonTime gt X and lt Y`,
  *    `datastream_id in (…)` (reference `filter_cfg_to_query`,
  *    `src/main.py:328-331`, pinned `tests/test_config.py:23-28`)
  *  - http transport: one paged fetch per datastream id
  *    (`$filter=… and Datastream/id eq k`), dealt round-robin over at
  *    most `defaultParallelism` input partitions; a partition with
  *    several fetches keeps up to 8 of them in flight at once
  *    ([[StaHttp.inFlight]]), each paging its stream in order, and
  *    emits their rows in fetch order, holding at most 8 streams' rows;
  *    a partition with one fetch pages it lazily.
  *
  * Two transports: "file" reads captured response JSON from the `path`
  * option (one response per file, one partition per file) and enforces
  * the pushed filters row by row; "http" GETs the `path` collection URL
  * with the compiled `$filter`, follows `@iot.nextLink` paging and
  * retries 5xx ([[StaHttp]]). Both flatten as `response_datastreams_to_df`
  * does (`src/aums_data_request.py:166`): one row per observation, with its
  * datastream's metadata; a datastream without observations gives none.
  *
  * Usage: `spark.read.format("graft.sources.sta").option("path", dir).load()`
  */
class StaSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StaSource.flatSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new StaTable(properties.get("path"),
      Option(properties.get("transport")).getOrElse("file"),
      Option(properties.get("datastreams")))
}

/** Registration alias: `spark.read.format("graft.sources.sta")` resolves
  * to `<package>.DefaultSource`.
  */
class DefaultSource extends StaSource

object StaSource {
  /** The flattened long-observations schema this source produces. */
  val flatSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField(Obs.DatastreamId, LongType),
      StructField("description", StringType),
      StructField(Obs.Units, StringType),
      StructField("observed_property_id", LongType),
      StructField(Obs.ObservationType, StringType),
      StructField("sensor", StringType),
      StructField(Obs.IotId, LongType),
      StructField(Obs.Result, DoubleType),
      StructField(Obs.Time, TimestampType),
      StructField(Obs.QcFlag, ByteType),
      StructField(Obs.Long_, DoubleType),
      StructField(Obs.Lat, DoubleType),
      StructField(Obs.FeatureId, LongType)))
  }

  /** Format a time filter value as the ISO-8601 literal OData expects
    * (Spark hands java.sql.Timestamp, or Instant under the Java-8 API
    * flag; a raw toString would emit '2024-01-01 00:15:00.0', which a
    * spec-compliant STA server rejects).
    */
  private def odataTime(v: Any): String = v match {
    case t: java.sql.Timestamp => t.toInstant.toString
    case i: java.time.Instant  => i.toString
    case s => s.toString
  }

  /** Compile pushed filters to the OData `$filter` string the reference
    * builds (`filter_cfg_to_query`): supported = time range on
    * phenomenonTime, IN on datastream_id. Everything else stays in Spark.
    */
  def compileODataFilter(filters: Seq[Filter]): (String, Seq[Filter], Seq[Filter]) = {
    // NOTE: IsNotNull is deliberately residual — it adds nothing to the
    // OData $filter, and a pushed (non-residual) filter must be fully
    // enforced by the reader, which cannot evaluate IsNotNull on a
    // column Spark pruned out of the required schema.
    val (pushable, residual) = filters.partition {
      case GreaterThan(Obs.Time, _) | LessThan(Obs.Time, _) => true
      case In(Obs.DatastreamId, _) => true
      case _ => false
    }
    val clauses = pushable.flatMap {
      case GreaterThan(Obs.Time, v) => Some(s"phenomenonTime gt ${odataTime(v)}")
      case LessThan(Obs.Time, v) => Some(s"phenomenonTime lt ${odataTime(v)}")
      case In(Obs.DatastreamId, vs) =>
        Some(vs.map(v => s"Datastream/id eq $v").mkString("(", " or ", ")"))
      case _ => None
    }
    (clauses.mkString(" and "), pushable, residual)
  }
}

/** @param transport "file" (captured response JSON, the test/sandbox
  *   path) or "http" (live paged GET against a SensorThings service —
  *   `path` is the collection URL, standard `@iot.nextLink` paging,
  *   bounded retries).
  * @param datastreams with http transport: comma-separated datastream ids
  *   — one paged fetch per id, grouped into at most `defaultParallelism`
  *   input partitions, each running up to 8 of its fetches at once (see
  *   [[StaScan.planInputPartitions]]); absent = one partition for the
  *   whole collection.
  */
class StaTable(path: String, transport: String = "file",
               datastreams: Option[String] = None) extends Table with SupportsRead {
  override def name(): String = s"sta($path)"
  override def schema(): StructType = StaSource.flatSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new StaScanBuilder(path, transport, datastreams)
}

class StaScanBuilder(path: String, transport: String = "file",
                     datastreams: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var requiredSchema: StructType = StaSource.flatSchema
  private var pushed: Array[Filter] = Array.empty
  private var odataFilter: String = ""

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (compiled, pushable, residual) = StaSource.compileODataFilter(filters.toSeq)
    odataFilter = compiled
    pushed = pushable.toArray
    residual.toArray // Spark re-applies these
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }
  override def build(): Scan =
    new StaScan(path, requiredSchema, odataFilter, pushed.toSeq, transport, datastreams)
}

class StaScan(path: String, required: StructType, odataFilter: String,
              pushedFilters: Seq[Filter] = Seq.empty,
              transport: String = "file",
              datastreams: Option[String] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"StaScan(transport=$transport, odataFilter=[$odataFilter])"

  /** File transport: one partition per captured response file.
    *
    * HTTP transport: one paged fetch per datastream id, each with its
    * own `Datastream/id eq k` filter. The fetches are dealt round-robin
    * over `min(#ids, defaultParallelism)` partitions, so every stage over
    * the scanned rows schedules at most one task per core instead of one
    * per stream. Within a partition up to 8 fetches are in flight at
    * once ([[StaHttp.inFlight]]): a task's round trips overlap instead of
    * waiting one after another, while the task holds at most 8 streams'
    * parsed rows and emits them in fetch order. Without ids: a single
    * whole-collection partition. Plans from the options alone: nothing
    * is fetched and no job runs here.
    */
  override def planInputPartitions(): Array[InputPartition] =
    if (transport == "http") {
      val ids = datastreams.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      if (ids.isEmpty)
        Array(StaPartition(path, Seq(odataFilter), pushedFilters, http = true))
      else {
        val filters = ids.map { id =>
          val idClause = s"Datastream/id eq $id"
          if (odataFilter.isEmpty) idClause else s"$odataFilter and $idClause"
        }
        val n = math.min(filters.size,
          SparkSession.active.sparkContext.defaultParallelism)
        Array.tabulate[InputPartition](n) { k =>
          StaPartition(path, filters.indices.filter(_ % n == k).map(filters),
            pushedFilters, http = true)
        }
      }
    } else {
      val dir = new java.io.File(path)
      val files =
        if (dir.isDirectory) dir.listFiles().filter(_.getName.endsWith(".json")).map(_.getPath)
        else Array(path)
      files.sorted.map(f => StaPartition(f, Seq.empty, pushedFilters): InputPartition)
    }
  override def createReaderFactory(): PartitionReaderFactory =
    new StaReaderFactory(required)
}

/** @param file a captured response file, or the collection URL (http)
  * @param odataFilters http: the compiled `$filter` of each paged fetch
  *   this partition runs, in order ("" = the unfiltered collection);
  *   empty for a file
  */
case class StaPartition(file: String, odataFilters: Seq[String],
                        pushed: Seq[Filter] = Seq.empty,
                        http: Boolean = false) extends InputPartition

class StaReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new StaPartitionReader(p.asInstanceOf[StaPartition], required)
}

/** Yields the flattened rows of one partition: one captured STA response
  * (file transport), or the rows of each of the partition's fetches in
  * fetch order (http transport: paged GET with retry, reference
  * `get_with_retry` `src/main.py:107`). Several fetches run through
  * [[StaHttp.inFlight]], which `close()` cancels.
  */
class StaPartitionReader(p: StaPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  import com.fasterxml.jackson.databind.JsonNode
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.DateTimeUtils
  import org.apache.spark.unsafe.types.UTF8String

  /** Epoch µs of a Filter value for the phenomenonTime column (Spark hands
    * java.sql.Timestamp, or java.time.Instant under the Java-8 API flag).
    */
  private def filterTimeUs(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos % 1000000) / 1000L
    case i: java.time.Instant  => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case l: java.lang.Long     => l
    case s =>
      val i = java.time.Instant.parse(s.toString)
      i.getEpochSecond * 1000000L + i.getNano / 1000L // full µs, not ms-truncated
  }

  /** Enforce the pushed (non-residual) predicates on a parsed row: Spark
    * does NOT re-apply non-residual DSv2 filters, so a pushed filter the
    * transport ignores silently returns unfiltered data. In production
    * the server enforces the compiled `$filter`; the file transport
    * enforces the same semantics here, row by row.
    */
  private def keep(dsId: java.lang.Long, timeUs: java.lang.Long): Boolean =
    p.pushed.forall {
      // a null column satisfies no comparison, as in SQL
      case GreaterThan(Obs.Time, v) => timeUs != null && timeUs > filterTimeUs(v)
      case LessThan(Obs.Time, v)    => timeUs != null && timeUs < filterTimeUs(v)
      case In(Obs.DatastreamId, vs) =>
        dsId != null && vs.exists(x => x.asInstanceOf[Number].longValue == dsId)
      case _ => true // unknown pushed shape: keep (never claimed pushable)
    }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val fieldIdx = required.fieldNames.zipWithIndex.toMap
  // the session's, which tasks carry: a time without an offset is read in it
  private val zone = java.time.ZoneId.of(SQLConf.get.sessionLocalTimeZone)

  // A field as from_json reads it under the declared type: absent, JSON
  // null, of another JSON type or (a rank) out of the vocabulary is null.
  private def long(n: JsonNode): java.lang.Long =
    if (n.isIntegralNumber && n.canConvertToLong) n.longValue else null
  private def double(n: JsonNode): Any = if (n.isNumber) n.doubleValue else null
  private def string(n: JsonNode): UTF8String =
    if (n.isMissingNode || n.isNull) null
    else UTF8String.fromString(if (n.isValueNode) n.asText else n.toString)

  /** µs since the epoch, as a string cast to timestamp gives it; a
    * string that is no timestamp fails the task, as the ANSI cast does.
    */
  private def time(n: JsonNode): java.lang.Long =
    if (n.isMissingNode || n.isNull) null
    else DateTimeUtils.stringToTimestamp(UTF8String.fromString(n.asText), zone).getOrElse(
      throw new IllegalArgumentException(s"phenomenonTime '${n.asText}' is not a timestamp"))
  /** The rank of an L20 wire code given as a number or a numeric string. */
  private def rank(n: JsonNode): Any =
    (if (n.isIntegralNumber && n.canConvertToInt) Some(n.intValue)
     else if (n.isTextual) n.textValue.trim.toIntOption else None)
      .flatMap(Flags.wireToRank.get).getOrElse(null)

  /** Flatten one response document (either transport) to rows. */
  private def parse(root: JsonNode): Iterator[InternalRow] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    root.path("Datastreams").forEach { d =>
      val dsId = long(d.path("@iot.id"))
      val dsCols = Seq(
        Obs.DatastreamId -> dsId,
        "description" -> string(d.path("description")),
        Obs.Units -> string(d.path("unitOfMeasurement").path("name")),
        "observed_property_id" -> long(d.path("ObservedProperty").path("@iot.id")),
        Obs.ObservationType -> string(d.path("ObservedProperty").path("name")),
        "sensor" -> string(d.path("Sensor").path("name")))
      d.path("Observations").forEach { o =>
        val row = new GenericInternalRow(required.length)
        def set(name: String, v: Any): Unit =
          fieldIdx.get(name).foreach(i => row.update(i, v))
        dsCols.foreach { case (name, v) => set(name, v) }
        set(Obs.IotId, long(o.path("@iot.id")))
        set(Obs.Result, double(o.path("result")))
        val timeUs = time(o.path("phenomenonTime"))
        set(Obs.Time, timeUs)
        set(Obs.QcFlag, rank(o.path("resultQuality")))
        val foi = o.path("FeatureOfInterest")
        val coords = foi.path("feature").path("coordinates")
        set(Obs.Long_, double(coords.path(0)))
        set(Obs.Lat, double(coords.path(1)))
        set(Obs.FeatureId, long(foi.path("@iot.id")))
        if (keep(dsId, timeUs)) out += row
      }
    }
    out.iterator
  }

  /** Standard SensorThings paging: follow `@iot.nextLink` until absent
    * (reference pages with $top/$skip, `get_all_data` src/main.py:350-364;
    * nextLink is the STA-spec equivalent and server-agnostic). Fetched
    * lazily: a partition with one fetch reads a page only when its rows
    * are asked for, so a `limit(n)` query stops paging once satisfied.
    * With several fetches each runs all of its pages, in order, on a
    * pool thread, at most 8 ahead of the rows handed to Spark.
    */
  private def httpPages(startUrl: String): Iterator[JsonNode] =
    new Iterator[JsonNode] {
      private var pending: Option[String] = Some(startUrl)
      override def hasNext: Boolean = pending.isDefined
      override def next(): JsonNode = {
        val root = mapper.readTree(StaHttp.get(pending.get))
        val nl = root.path("@iot.nextLink")
        pending = if (nl.isMissingNode || nl.isNull || nl.asText().isEmpty) None
                  else Some(nl.asText())
        root
      }
    }

  private def url(odataFilter: String): String =
    if (odataFilter.isEmpty) p.file
    else s"${p.file}${if (p.file.contains("?")) "&" else "?"}%24filter=${StaHttp.enc(odataFilter)}"

  private val fetches: Option[StaHttp.InFlight[Vector[InternalRow]]] =
    if (p.http && p.odataFilters.size > 1)
      Some(StaHttp.inFlight(p.odataFilters.map(f =>
        () => httpPages(url(f)).flatMap(parse).toVector)))
    else None

  private val rows: Iterator[InternalRow] = fetches match {
    case Some(f) => f.flatten
    case None if p.http => p.odataFilters.iterator.flatMap(f => httpPages(url(f))).flatMap(parse)
    case None => parse(mapper.readTree(new java.io.File(p.file)))
  }

  private var current: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = fetches.foreach(_.close())
}
