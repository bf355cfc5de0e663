package graft.sources.stac

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** S1 — DSv2 STAC catalog source (`spark.read.format("stac")`).
  *
  * The scan pushes the reference's `search_images` predicate set down into
  * the STAC `/search` request itself (`cube_builder/maestro.py:630-753`:
  * intersects bbox + datetime range + collections, `limit=1000` paging):
  * a `collection = 'X'` filter becomes the request's `collections`, date
  * bounds become `datetime`, and the four axis-aligned bbox comparisons
  * become the request `bbox`. Anything else (cloud cover, band IN, …)
  * stays a post-scan filter that Spark evaluates. Each input partition is
  * one (collection, date-chunk) search whose reader walks the page tokens
  * lazily — 1000 items at a time, never materializing the full catalog.
  *
  * Options: `path` (local JSON catalog via [[FileStacEndpoint]]) or `url`
  * (live server via [[HttpStacEndpoint]]); `pageSize` (default 1000);
  * `partitionMonths` (date-range chunk width per partition, default 1).
  */
class StacSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "stac"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StacTable.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new StacTable(properties.asScala.toMap)
}

object StacTable {
  /** The S1 asset-row schema: one row per (item, band asset), the rows
    * [[StacJson.featureRows]] parses. */
  val schema: StructType = StructType(Seq(
    StructField("sceneId", StringType),
    StructField("collection", StringType),
    StructField("platform", StringType),
    StructField("date", DateType),
    StructField("cloudCover", DoubleType),
    StructField("xmin", DoubleType),
    StructField("ymin", DoubleType),
    StructField("xmax", DoubleType),
    StructField("ymax", DoubleType),
    StructField("band", StringType),
    StructField("href", StringType)))

  def endpoint(options: Map[String, String]): StacEndpoint =
    options.get("path").map(new FileStacEndpoint(_))
      .orElse(options.get("url").map(new HttpStacEndpoint(_)))
      .getOrElse(throw new IllegalArgumentException(
        "stac source requires a 'path' (local catalog) or 'url' (server) option"))

  /** M6 — empty-period detection: periods (`p_start`, `p_end`) with no
    * asset row dated inside them (left anti-join on this schema's
    * `date`); these route to the S10 empty-raster generator.
    */
  def emptyPeriods(periods: DataFrame, assets: DataFrame): DataFrame =
    periods.join(assets,
      assets("date") >= periods("p_start") && assets("date") <= periods("p_end"),
      "left_anti")
}

class StacTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String =
    options.getOrElse("path", options.getOrElse("url", "stac"))
  override def schema(): StructType = StacTable.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new StacScanBuilder(options)
}

class StacScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = StacTable.schema

  private var collection: Option[String] = None
  private var startDate: Option[String] = None
  private var endDate: Option[String] = None
  private var maxCloud: Option[Double] = None
  // bbox query corners recovered from the canonical intersection predicate
  // (xmin < qx1 && xmax > qx0 && ymin < qy1 && ymax > qy0)
  private var qx0, qy0: Option[Double] = None
  private var qx1, qy1: Option[Double] = None

  private def dateStr(v: Any): Option[String] = v match {
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case s: String => Some(s)
    case _ => None
  }

  private def dbl(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case _ => None
  }

  /** Try to absorb one filter into the search request. */
  private def absorb(f: Filter): Boolean = f match {
    case sources.EqualTo("collection", v: String) =>
      collection = Some(v); true
    case sources.GreaterThanOrEqual("date", v) =>
      dateStr(v).exists { d => startDate = Some(d); true }
    case sources.LessThanOrEqual("date", v) =>
      dateStr(v).exists { d => endDate = Some(d); true }
    case sources.LessThan("xmin", v) => dbl(v).exists { d => qx1 = Some(d); true }
    case sources.GreaterThan("xmax", v) => dbl(v).exists { d => qx0 = Some(d); true }
    case sources.LessThan("ymin", v) => dbl(v).exists { d => qy1 = Some(d); true }
    case sources.GreaterThan("ymax", v) => dbl(v).exists { d => qy0 = Some(d); true }
    // eo:cloud_cover supports lte in the search query (maestro.py:630-637);
    // strict < is NOT absorbed — the request would readmit == rows
    case sources.LessThanOrEqual("cloudCover", v) =>
      dbl(v).exists { d => maxCloud = Some(d); true }
    case sources.And(l, r) => absorb(l) && absorb(r)
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition(absorb)
    pushed = accepted
    rejected
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    requiredSchema = required
  }

  override def build(): Scan = {
    val bbox = (qx0, qy0, qx1, qy1) match {
      case (Some(x0), Some(y0), Some(x1), Some(y1)) => Some((x0, y0, x1, y1))
      case _ => None
    }
    new StacScan(options, requiredSchema,
      collection.getOrElse(""), bbox, startDate, endDate, maxCloud, pushed)
  }
}

class StacScan(options: Map[String, String], required: StructType,
               collection: String,
               bbox: Option[(Double, Double, Double, Double)],
               startDate: Option[String], endDate: Option[String],
               maxCloud: Option[Double],
               pushed: Array[Filter])
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def description(): String = {
    val parts = Seq(
      Some(s"collection=${if (collection.isEmpty) "*" else collection}"),
      bbox.map(b => s"bbox=$b"),
      startDate.map(s => s"start=$s"), endDate.map(e => s"end=$e"),
      maxCloud.map(c => s"cloudCover<=$c"))
    s"STACScan(${parts.flatten.mkString(", ")}) " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  }

  /** One search per (collection, date-chunk). Chunking the datetime range
    * into per-month partitions spreads a long time series over the
    * cluster; each chunk still pages at `pageSize` within its reader.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val pageSize = options.get("pageSize").map(_.toInt).getOrElse(1000)
    val months = options.get("partitionMonths").map(_.toInt).getOrElse(1)
    val chunks: Seq[(Option[String], Option[String])] =
      (startDate, endDate) match {
        case (Some(s), Some(e)) =>
          val from = java.time.LocalDate.parse(s)
          val to = java.time.LocalDate.parse(e)
          Iterator.iterate(from)(_.plusMonths(months.toLong))
            .takeWhile(!_.isAfter(to))
            .map { c0 =>
              val c1 = c0.plusMonths(months.toLong).minusDays(1)
              (Some(c0.toString), Some((if (c1.isAfter(to)) to else c1).toString))
            }.toSeq
        case other => Seq(other)
      }
    chunks.map(c => StacInputPartition(options,
      StacSearch(collection, bbox, c._1, c._2, pageSize, maxCloud))
      : InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new StacReaderFactory(required)
}

case class StacInputPartition(options: Map[String, String], search: StacSearch)
    extends InputPartition

class StacReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[StacInputPartition]
    new StacPartitionReader(StacTable.endpoint(p.options), p.search, required)
  }
}

/** Pages through one search lazily: the next page is requested only when
  * the current one is exhausted, so memory stays O(pageSize) no matter how
  * many items the catalog matches.
  */
class StacPartitionReader(endpoint: StacEndpoint, search: StacSearch,
                          required: StructType)
    extends PartitionReader[InternalRow] {

  private var token: Option[String] = None
  private var exhausted = false
  private var page: Iterator[StacAssetRow] = Iterator.empty
  private var current: StacAssetRow = _

  private val fieldGetters: Array[StacAssetRow => Any] =
    required.fields.map(f => f.name match {
      case "sceneId" => (r: StacAssetRow) => UTF8String.fromString(r.sceneId)
      case "collection" => (r: StacAssetRow) => UTF8String.fromString(r.collection)
      case "platform" => (r: StacAssetRow) =>
        if (r.platform == null) null else UTF8String.fromString(r.platform)
      case "date" => (r: StacAssetRow) =>
        if (r.date == null || r.date.isEmpty) null
        else java.time.LocalDate.parse(r.date).toEpochDay.toInt
      case "cloudCover" => (r: StacAssetRow) => r.cloudCover
      case "xmin" => (r: StacAssetRow) => r.xmin
      case "ymin" => (r: StacAssetRow) => r.ymin
      case "xmax" => (r: StacAssetRow) => r.xmax
      case "ymax" => (r: StacAssetRow) => r.ymax
      case "band" => (r: StacAssetRow) => UTF8String.fromString(r.band)
      case "href" => (r: StacAssetRow) => UTF8String.fromString(r.href)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    })

  override def next(): Boolean = {
    while (!page.hasNext && !exhausted) {
      val result = endpoint.search(search, token)
      page = result.features.iterator
      token = result.nextToken
      exhausted = token.isEmpty
    }
    if (page.hasNext) { current = page.next(); true } else false
  }

  override def get(): InternalRow =
    InternalRow.fromSeq(fieldGetters.map(_(current)).toIndexedSeq)

  override def close(): Unit = ()
}
