package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class GridDiscoveryStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def grid(id: String, sheet: String, modified: String): String =
    s"""{"spreadsheetId":"$id","sheetName":"$sheet",
       |"modifiedTime":"$modified","values":[["A"],["1"]]}""".stripMargin

  test("micro-batches advance the (modifiedTime, id) cursor; new files arrive incrementally") {
    val dir = Files.createTempDirectory("disc").toString
    Files.writeString(Paths.get(dir, "s1.json"),
      grid("AAA", "s1", "2026-01-01T00:00:00.000Z"))
    Files.writeString(Paths.get(dir, "s2.json"),
      grid("BBB", "s1", "2026-01-02T00:00:00.000Z"))
    val q = spark.readStream.format("graft.etl.GridDiscoveryProvider")
      .option("path", dir).load()
      .writeStream.format("memory").queryName("discovered")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val batch1 = spark.table("discovered")
        .select("spreadsheet_id").collect().map(_.getString(0)).sorted
      assert(batch1.toSeq == Seq("AAA", "BBB"))
      // a new modification arrives: only it is emitted in the next batch
      Files.writeString(Paths.get(dir, "s3.json"),
        grid("CCC", "s1", "2026-01-03T00:00:00.000Z"))
      q.processAllAvailable()
      val all = spark.table("discovered")
        .select("spreadsheet_id").collect().map(_.getString(0)).sorted
      assert(all.toSeq == Seq("AAA", "BBB", "CCC")) // no redelivery of AAA/BBB
    } finally q.stop()
  }

  test("discovery -> load stream resumes from the checkpointed cursor with exactly-once effects") {
    // The reference's §3.2 incremental protocol as an ACTUAL stream:
    // readStream over the discovery source → foreachBatch runs the real
    // load path (R17 seen-upsert → R16 filter → R31 loadSheet) →
    // Trigger.AvailableNow drains to the pinned high-water mark and
    // exits — the reference's bounded scheduled-run model. Restarting
    // against a mutated fixture set must resume from the CHECKPOINTED
    // (modifiedTime, id) offset: unchanged spreadsheets are never
    // redelivered, the mutated one reloads via partition overwrite
    // (replaced, not duplicated), and a no-change restart does nothing.
    val dir = Files.createTempDirectory("disc-e2e")
    val wh = Files.createTempDirectory("disc-e2e-wh").toString
    val ckpt = Files.createTempDirectory("disc-e2e-ckpt").toString
    val SidA = "A" * 44
    val SidB = "B" * 44
    val SidC = "C" * 44
    def fixture(file: String, id: String, modified: String, cell: String): Unit =
      Files.writeString(dir.resolve(file),
        s"""{"spreadsheetId":"$id","sheetName":"s1",
           |"modifiedTime":"$modified","name":"fx $id",
           |"values":[["h"],["$cell"]]}""".stripMargin)
    fixture("a.json", SidA, "2026-01-01T00:00:00.000Z", "a1")
    fixture("b.json", SidB, "2026-01-02T00:00:00.000Z", "b1")

    val configs = Seq(SidA -> "tgt_a", SidB -> "tgt_b", SidC -> "tgt_c").map {
      case (sid, tgt) => EtlConfig(sid, "s1", tgt, Seq("v" -> Right("h")))
    }
    val meta = new MetaStore(spark, MetaStorage.forUrl(spark, s"parquet:$wh/meta"))
    val targets = new TargetStore(spark, s"$wh/tables")
    meta.setUpAccounting()
    val tasks = new Tasks(new LocalGridSource(dir.toString), meta, targets,
      loadTime = 1746100000L)
    tasks.setConfiguration(configs)
    val loadedLog = scala.collection.mutable.ArrayBuffer.empty[String]

    def runStream(): Unit = {
      val q = spark.readStream.format("graft.etl.GridDiscoveryProvider")
        .option("path", dir.toString).load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val seen = batch.select("spreadsheet_id", "modified_time", "name")
            .collect()
            .map(r => SpreadsheetMeta(r.getString(0), r.getString(1), r.getString(2)))
            .toSeq
          // the production micro-batch composite (EtlMain --stream body)
          loadedLog ++= tasks.loadDiscoveredBatch(seen).map(_.targetTable)
          ()
        }
        .start()
      q.awaitTermination() // AvailableNow terminates once drained
    }

    // run 1: both spreadsheets discovered and loaded
    runStream()
    assert(loadedLog.sorted.toSeq == Seq("tgt_a", "tgt_b"))
    assert(targets.read("tgt_a").select("v").collect().map(_.getString(0)).toSeq == Seq("a1"))
    assert(targets.read("tgt_b").select("v").collect().map(_.getString(0)).toSeq == Seq("b1"))
    def hashOfA: Option[String] = {
      val sidA = meta.spreadsheetIdOf(SidA)
      meta.etlJobs.collect().find(j => j.spreadsheet_id == sidA && j.sheet_name == "s1")
        .map(_.raw_columns_rows_hash).filter(_.nonEmpty)
    }
    val hashA = hashOfA
    assert(hashA.isDefined)

    // mutate B (new cell, bumped modifiedTime) + a brand-new spreadsheet C
    fixture("b.json", SidB, "2026-01-03T00:00:00.000Z", "b2")
    fixture("c.json", SidC, "2026-01-04T00:00:00.000Z", "c1")
    loadedLog.clear()
    runStream()
    // cursor resumed from the checkpoint: A is NOT redelivered; B reloads
    // once; C loads once
    assert(loadedLog.sorted.toSeq == Seq("tgt_b", "tgt_c"))
    // partition overwrite replaced B's rows — no duplicate from redelivery
    assert(targets.read("tgt_b").select("v").collect().map(_.getString(0)).toSeq == Seq("b2"))
    assert(targets.read("tgt_c").select("v").collect().map(_.getString(0)).toSeq == Seq("c1"))
    assert(hashOfA == hashA) // A's accounting untouched

    // restart with nothing new: zero batches, zero loads
    loadedLog.clear()
    runStream()
    assert(loadedLog.isEmpty)
  }

  test("offset round-trips through JSON and orders lexically") {
    val a = CursorOffset("2026-01-01T00:00:00.000Z", "AAA")
    val b = CursorOffset.fromJson(a.json())
    assert(a == b)
    assert(CursorOffset.Epoch.lessThan(a))
    assert(a.lessThan(CursorOffset("2026-01-01T00:00:00.000Z", "AAB")))
  }
}
