package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Jsons, JsonFlatten}
import graft.sources.{Fetcher, FileFetcher}

/** DataSource V2 "graft-api" format: JSON-over-HTTP(-shaped) scans as a
  * first-class Spark source (the v2 path SURVEY.md §4.2 flags as the
  * natural evolution of C6/C17's mapPartitions fetch).
  *
  *   spark.read.format("graft-api")
  *     .option("urls", "http://api/a,http://api/b")   // or newline-separated
  *     .option("fixtures", "/path/to/fixture/dir")     // offline Fetcher root
  *     .load()
  *
  * Schema is inferred ONCE on the driver from a bounded sample of URLs
  * (schemaSampleUrls, default 5); execution fetches each URL on EXECUTORS,
  * one partition per URL batch, flattening responses with the same C2
  * semantics as ingestion. Column pruning is pushed down (pruned fields are
  * never converted). Zero-egress default: a FileFetcher rooted at
  * `fixtures`; an HTTP Fetcher drops in where egress exists.
  */
class ApiDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-api"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val urls = ApiDataSource.urls(options)
    val sampleN = Option(options.get("schemaSampleUrls")).map(_.toInt).getOrElse(5)
    val fetcher = ApiDataSource.fetcher(options)
    val lines = urls.take(sampleN).flatMap { u =>
      fetcher.fetchWithRetry(u, maxSleepMs = 0).toSeq
        .flatMap(b => JsonFlatten.flattenToJsonLines(Jsons.parse(b)))
    }
    val spark = SparkSession.active
    import spark.implicits._
    if (lines.isEmpty) new StructType()
    else spark.read.json(spark.createDataset(lines)).schema
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // reject unsupported leaf types UP FRONT: the runtime converter nulls
    // cells on value drift (permissive contract), which would silently
    // null an ENTIRE column whose declared type it can never produce
    ApiDataSource.validateSupported(schema, path = "")
    new ApiTable(schema, new CaseInsensitiveStringMap(properties))
  }
}

object ApiDataSource {
  def urls(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("urls")).orElse(Option(options.get("url")))
      .map(_.split("[,\n]").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(throw new IllegalArgumentException("graft-api needs option urls (or url)"))

  def fetcher(options: CaseInsensitiveStringMap): Fetcher =
    new FileFetcher(Option(options.get("fixtures")).getOrElse(
      sys.env.getOrElse("GRAFT_FIXTURES",
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), "graft_fixtures").toString)))

  /** Leaf types the runtime converter can actually produce. */
  private[v2] def validateSupported(dt: org.apache.spark.sql.types.DataType, path: String): Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | LongType | IntegerType | DoubleType | BooleanType => ()
      case _: DecimalType => ()
      case ArrayType(e, _) => validateSupported(e, s"$path[]")
      case st: StructType =>
        st.fields.foreach(f => validateSupported(f.dataType, s"$path.${f.name}"))
      case other =>
        throw new IllegalArgumentException(
          s"graft-api cannot produce $other at '$path' — supported leaf types: " +
            "string, long, int, double, boolean, decimal (and arrays/structs of those)")
    }
  }
}

class ApiTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft-api"
  // the non-deprecated columns() accessor derives from this via its
  // default implementation (CatalogV2Util is private[sql])
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ApiScanBuilder(tableSchema, options)
}

class ApiScanBuilder(fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new ApiScan(required, options)
}

class ApiScan(schema: StructType, options: CaseInsensitiveStringMap)
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  private val urls = ApiDataSource.urls(options)
  private val fixtures = Option(options.get("fixtures")).getOrElse("")
  private val perPartition = Option(options.get("urlsPerPartition")).map(_.toInt).getOrElse(8)

  override def planInputPartitions(): Array[InputPartition] =
    urls.grouped(math.max(1, perPartition)).map(g => ApiPartition(g): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ApiReaderFactory(schema, fixtures)
}

case class ApiPartition(urls: Seq[String]) extends InputPartition

class ApiReaderFactory(schema: StructType, fixtures: String)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ApiPartition]
    val fetcher =
      if (fixtures.nonEmpty) new FileFetcher(fixtures)
      else graft.core.MagicTable.defaultFetcher
    new ApiPartitionReader(p.urls, schema, fetcher)
  }
}

/** Executor-side reader: fetch -> flatten (C2 semantics) -> convert flat
  * row maps to InternalRow per the (possibly pruned) schema, up to
  * [[Fetcher.MaxInFlight]] URLs of the batch at a time. Failed URLs
  * contribute no rows (the chain operator is the keep-provenance variant).
  */
class ApiPartitionReader(urls: Seq[String], schema: StructType, fetcher: Fetcher)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = Fetcher.concurrently(urls.iterator) { u =>
    fetcher.fetchWithRetry(u, maxSleepMs = 0).toSeq.flatMap { body =>
      JsonFlatten.flattenValue(Jsons.parse(body)).map(m => convertRow(m, schema))
    }
  }.flatten
  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()

  private def convertRow(m: Map[String, Any], st: StructType): InternalRow =
    new GenericInternalRow(st.fields.map(f => convert(m.get(f.name).orNull, f.dataType)))

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (x: String, StringType) => UTF8String.fromString(x)
    case (x, StringType) => UTF8String.fromString(String.valueOf(x))
    // permissive like the JSON reader: a fractional value in a column the
    // sample inferred as integral becomes null, never a silent truncation
    case (x: Number, LongType) =>
      val d = x.doubleValue()
      // range-check too: Number.longValue() SATURATES an out-of-long
      // double (1e300 -> Long.MaxValue) — fabricated extremes are worse
      // than a null cell
      if (d == math.floor(d) && !d.isInfinity &&
        d >= -9.223372036854775e18 && d <= 9.223372036854775e18) x.longValue()
      else null
    case (x: Number, IntegerType) =>
      // also range-check: intValue() would WRAP an out-of-int long
      if (x.doubleValue() == math.floor(x.doubleValue()) &&
        x.longValue() >= Int.MinValue && x.longValue() <= Int.MaxValue) x.intValue()
      else null
    case (x: Number, DoubleType) => x.doubleValue()
    case (x: Number, dt: DecimalType) =>
      org.apache.spark.sql.types.Decimal(BigDecimal(x.toString), dt.precision, dt.scale)
    case (x: Boolean, BooleanType) => x
    case (x: Seq[_], ArrayType(elem, _)) => new GenericArrayData(x.map(convert(_, elem)))
    case (x: scala.collection.Map[_, _], st: StructType) =>
      convertRow(x.map { case (k, vv) => k.toString -> vv }.toMap, st)
    case _ =>
      // permissive-mode contract: runtime type drift past the sampled
      // schema (a string where the sample said number, etc.) nulls the
      // CELL — it must not kill the scan like a thrown error would
      null
  }
}
