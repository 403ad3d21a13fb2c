package graft.etl

import java.nio.file.Paths
import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for sheet grids (SURVEY.md §7.2 item 7): the
  * idiomatic-polish variant of the extract boundary, alongside the
  * driver-side [[LocalGridSource]].
  *
  *   spark.read.format("graft.etl.GridTableProvider")
  *     .option("path", fixtureDir).load()
  *
  * Schema: one row per raw sheet row —
  * `(spreadsheet_id, sheet_name, modified_time, _origin_row, cells)` with
  * `cells: array<string>` ragged exactly as extracted (trimming is the R7
  * transform, applied downstream by [[SheetGrid]], not by the scan).
  *
  * Scale design: one InputPartition per (spreadsheet, sheet) — the natural
  * parallel fetch unit of a real Sheets connector (each task would hold one
  * API call's grid). Column pruning via SupportsPushDownRequiredColumns;
  * equality filters on spreadsheet_id/sheet_name prune whole partitions at
  * planning (SupportsPushDownFilters), the connector-level analogue of the
  * reference's hand-authored `fields=`/query-param pushdown
  * (src/GoogleSheetsAgent.php:102-113).
  */
class GridTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GridTable.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GridTable(properties.get("path"))
  override def supportsExternalMetadata(): Boolean = false
}

object GridTable {
  val Schema: StructType = StructType(Seq(
    StructField("spreadsheet_id", StringType, nullable = false),
    StructField("spreadsheet_name", StringType, nullable = false),
    StructField("sheet_name", StringType, nullable = false),
    StructField("modified_time", StringType, nullable = false),
    StructField("_origin_row", LongType, nullable = false),
    StructField("cells", ArrayType(StringType, containsNull = false))))
}

final class GridTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft.etl.GridTableProvider requires option(\"path\", ...)")
  override def name(): String = s"grids(`$path`)"
  override def schema(): StructType = GridTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GridScanBuilder(path)
}

final class GridScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = GridTable.Schema
  private var idEq: Option[String] = None
  private var sheetEq: Option[String] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    filters.foreach {
      case EqualTo("spreadsheet_id", v: String) => idEq = Some(v)
      case EqualTo("sheet_name", v: String) => sheetEq = Some(v)
      case _ => ()
    }
    // partition pruning is an optimization; Spark re-checks all filters
    filters
  }

  override def pushedFilters(): Array[Filter] =
    (idEq.map(EqualTo("spreadsheet_id", _)) ++
      sheetEq.map(EqualTo("sheet_name", _))).toArray

  override def build(): Scan = new GridScan(path, required, idEq, sheetEq)
}

final case class GridPartition(file: String, spreadsheetId: String,
    spreadsheetName: String, sheetName: String, modifiedTime: String)
  extends InputPartition

final class GridScan(path: String, required: StructType,
    idEq: Option[String], sheetEq: Option[String]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GridScan(path=$path, pruned=${required.fieldNames.mkString(",")}, " +
      s"partitionFilters=[${pushedDesc}])"
  private def pushedDesc: String =
    (idEq.map("spreadsheet_id=" + _) ++ sheetEq.map("sheet_name=" + _)).mkString(", ")

  override def planInputPartitions(): Array[InputPartition] =
    GridFixture.all(path)
      .map(f => GridPartition(f.file, f.id, f.name, f.sheetName, f.modifiedTime))
      // planning-time partition pruning from the pushed equality filters
      .filter(g => idEq.forall(_ == g.spreadsheetId) &&
        sheetEq.forall(_ == g.sheetName))
      .toArray[InputPartition]

  override def createReaderFactory(): PartitionReaderFactory =
    new GridReaderFactory(required)
}

final class GridReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new GridReader(p.asInstanceOf[GridPartition], required)
}

/** [[GridSource]] backed by the DSv2 connector: the whole extract boundary
  * (discovery list, single-file meta, per-sheet grid) expressed as Spark
  * scans of [[GridTableProvider]] instead of driver-side file reads.
  *
  * Scale shape: discovery is a distributed agg over the scan (max
  * (modified_time, sheet) per spreadsheet, keyset tuple filter, TakeOrdered
  * — the same plan family as q12); `meta`/`grid` push their equality
  * filters into the scan, so planning prunes to exactly the partitions of
  * the requested spreadsheet/sheet (asserted by GridDataSourceSpec). The
  * grid collect is driver-bounded by the Sheets API model — one sheet's
  * cells — like every [[GridSource.grid]] implementation.
  */
final class Dsv2GridSource(spark: org.apache.spark.sql.SparkSession, dir: String)
    extends GridSource {
  import org.apache.spark.sql.functions.{col, struct, max}

  private def df: org.apache.spark.sql.DataFrame =
    spark.read.format("graft.etl.GridTableProvider").option("path", dir).load()

  /** Per-spreadsheet latest (modified_time, sheet) — the discovery rollup. */
  private def rollup(base: org.apache.spark.sql.DataFrame) =
    base.groupBy(col("spreadsheet_id"))
      .agg(max(struct(col("modified_time"), col("sheet_name"),
        col("spreadsheet_name"))).as("m"))
      .select(col("spreadsheet_id"), col("m.modified_time").as("modified_time"),
        col("m.spreadsheet_name").as("spreadsheet_name"))

  override def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta] =
    rollup(df)
      // keyset tuple filter, `>=` with id tie-break (reference
      // src/GoogleSheetsAgent.php:115-119)
      .filter(col("modified_time") > cursorModified ||
        (col("modified_time") === cursorModified && col("spreadsheet_id") >= cursorId))
      .orderBy("modified_time", "spreadsheet_id")
      .limit(count)
      .collect().toSeq
      .map(r => SpreadsheetMeta(r.getString(0), r.getString(1), r.getString(2)))

  override def meta(id: String): Option[SpreadsheetMeta] =
    rollup(df.filter(col("spreadsheet_id") === id)) // pruned to id's partitions
      .collect().headOption
      .map(r => SpreadsheetMeta(r.getString(0), r.getString(1), r.getString(2)))

  override def grid(id: String, sheetName: String): SheetGrid = {
    val rows = df
      .filter(col("spreadsheet_id") === id && col("sheet_name") === sheetName)
      .select("_origin_row", "cells")
      .orderBy("_origin_row")
      .collect()
    if (rows.isEmpty)
      throw new NoSuchElementException(s"No grid fixture: $id/$sheetName")
    SheetGrid.fromValues(rows.map(_.getSeq[String](1)).toSeq)
  }
}

final class GridReader(p: GridPartition, required: StructType)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[(Long, Seq[String])] =
    GridFixture.read(Paths.get(p.file)).values.iterator.zipWithIndex
      .map { case (row, i) => (i.toLong, row) }
  private var current: (Long, Seq[String]) = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = {
    val values = required.fieldNames.map {
      case "spreadsheet_id" => UTF8String.fromString(p.spreadsheetId)
      case "spreadsheet_name" => UTF8String.fromString(p.spreadsheetName)
      case "sheet_name" => UTF8String.fromString(p.sheetName)
      case "modified_time" => UTF8String.fromString(p.modifiedTime)
      case "_origin_row" => current._1
      case "cells" =>
        ArrayData.toArrayData(current._2.map(UTF8String.fromString).toArray)
    }
    new GenericInternalRow(values.asInstanceOf[Array[Any]])
  }

  override def close(): Unit = ()
}
