package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GridDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val dir: String = {
    val d = Files.createTempDirectory("gridsrc").toString
    def write(name: String, json: String): Unit =
      Files.writeString(Paths.get(d, name), json)
    write("a1.json",
      """{"spreadsheetId":"SHEETA","sheetName":"s1",
        |"modifiedTime":"2026-05-01T12:00:00.000Z",
        |"values":[["Name","Age"],["Alice","30"],["Bob"]]}""".stripMargin)
    write("a2.json",
      """{"spreadsheetId":"SHEETA","sheetName":"s2",
        |"modifiedTime":"2026-05-02T12:00:00.000Z",
        |"values":[["X"],["1"]]}""".stripMargin)
    write("b1.json",
      """{"spreadsheetId":"SHEETB","sheetName":"s1",
        |"modifiedTime":"2026-05-03T12:00:00.000Z",
        |"values":[["K","V"],["k1","v1"]]}""".stripMargin)
    d
  }

  private def load = spark.read.format("graft.etl.GridTableProvider")
    .option("path", dir).load()

  test("reads one row per raw sheet row with ragged cells and origin index") {
    val rows = load.filter(col("spreadsheet_id") === "SHEETA" &&
        col("sheet_name") === "s1")
      .orderBy("_origin_row")
      .select(col("_origin_row"), col("cells"))
      .collect()
    assert(rows.length == 3)
    assert(rows(0).getSeq[String](1) == Seq("Name", "Age"))
    assert(rows(2).getSeq[String](1) == Seq("Bob")) // ragged: no padding at scan
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
  }

  test("one input partition per sheet; equality filters prune partitions") {
    val all = new GridScan(dir, GridTable.Schema, None, None).planInputPartitions()
    assert(all.length == 3)
    val pruned = new GridScan(dir, GridTable.Schema,
      Some("SHEETA"), Some("s2")).planInputPartitions()
    assert(pruned.length == 1)
    assert(pruned.head.asInstanceOf[GridPartition].sheetName == "s2")
  }

  test("fixture readers close their directory streams: 200 lists and 200 plannings leave no descriptors open") {
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    val source = new LocalGridSource(dir)
    def plan(): Array[InputPartition] = new GridTableProvider()
      .getTable(GridTable.Schema, Array.empty, java.util.Map.of("path", dir))
      .asInstanceOf[GridTable]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toBatch.planInputPartitions()
    assert(source.list("", "", 10).size == 2 && plan().length == 3)
    val before = openFds()
    (1 to 200).foreach { _ => source.list("", "", 10); plan() }
    val grown = openFds() - before
    assert(grown < 40,
      s"$grown descriptors are still open after 200 lists and 200 plannings")
  }

  test("column pruning reaches the scan") {
    val df = load.select("sheet_name")
    val scan = df.queryExecution.executedPlan.toString
    assert(df.distinct().count() == 2)
    // the v2 scan's read schema must carry only the selected column
    assert(scan.contains("sheet_name") && !scan.contains("cells"))
  }

  test("per-sheet fetch prunes to one input partition of three") {
    assert(load.select("_origin_row", "cells").rdd.getNumPartitions == 3)
    val pruned = load.filter(col("spreadsheet_id") === "SHEETA" &&
        col("sheet_name") === "s1")
      .select("_origin_row", "cells")
    // planning-time partition pruning from the pushed equality filters:
    // the scan plans exactly the one matching (spreadsheet, sheet) file
    assert(pruned.rdd.getNumPartitions == 1)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("spreadsheet_id=SHEETA"))
  }

  test("full ETL e2e runs through the DSv2 connector (R28–R31 over a Spark scan)") {
    val wh = Files.createTempDirectory("graft-dsv2-wh").toString
    val src = new Dsv2GridSource(spark, dir)
    // extract-boundary parity with LocalGridSource
    assert(src.list("2001-01-01T00:00:00Z", "", 10).map(_.id)
      == Seq("SHEETA", "SHEETB")) // per-spreadsheet max modified, keyset order
    assert(src.meta("SHEETB").map(_.modifiedTime).contains("2026-05-03T12:00:00.000Z"))
    assert(src.meta("NOPE").isEmpty)

    val meta = new MetaStore(spark, s"$wh/meta")
    val targets = new TargetStore(spark, s"$wh/tables")
    meta.setUpAccounting()
    val tasks = new Tasks(src, meta, targets, loadTime = 1746100000L)
    tasks.setConfiguration(Seq(EtlConfig("SHEETA", "s1", "people",
      Seq("name" -> Right("Name"), "age" -> Right("Age")))))
    assert(tasks.findSomeUpdatedSpreadsheets() == 2)
    val loaded = tasks.loadSomeUpdatedSpreadsheets()
    assert(loaded.map(_.targetTable) == Seq("people"))
    val rows = targets.read("people").orderBy("_origin_row")
      .select("name", "age").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("Alice", "30"), ("Bob", null))) // ragged row null-padded
    assert(tasks.verifyOldestSpreadsheet())
    assert(tasks.loadSomeUpdatedSpreadsheets().isEmpty) // R16/R21 no-op rerun
  }

  test("full pipeline: DSv2 scan feeds the SheetGrid transform semantics") {
    val raw = load.filter(col("spreadsheet_id") === "SHEETA" &&
      col("sheet_name") === "s1").orderBy("_origin_row")
      .select("cells").collect().map(_.getSeq[String](0))
    val grid = SheetGrid.fromValues(raw.toSeq)
    val sel = grid.columnSelectorsFromHeaderRow(
      Seq(Right("Name"), Right("Age")), headerRow = 0)
    val projected = grid.toRows(sel, skipRows = 1)
    assert(projected == Vector(
      Vector(Some("Alice"), Some("30")), Vector(Some("Bob"), None)))
  }
}
