package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The long-lived-stream aftercare loop (VERDICT r10 item 4): repeated
  * reload cycles through the REAL pipeline fragment a target table
  * (chunked per-job partition overwrites), the `--compact-every`
  * [[CompactCadence]] bounds the file count by cadence instead of stream
  * age, rows are identical across every compaction, and the next reload
  * still swaps only its own job's partition — with partition pruning
  * intact in the scan plan.
  */
class CompactCadenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val SidA = "1b33RL2nQJxdaHYxVmkk4lo3K1IKjSD3_ggnokrZCkx8"
  private val SidB = "2c44SM3oRKyebIZyWnll5mp4L2JLkTE4_hhopsaDlY99"

  private def writeFixture(dir: Path, file: String, id: String, modified: String,
      values: Seq[Seq[String]]): Unit = {
    def jarr(ss: Seq[String]) = ss.map(s => "\"" + s + "\"").mkString("[", ",", "]")
    val json = s"""{"spreadsheetId":"$id","sheetName":"Sheet1",
      |"modifiedTime":"$modified","name":"fixture $id",
      |"values":${values.map(jarr).mkString("[", ",", "]")}}""".stripMargin
    Files.writeString(dir.resolve(file), json)
  }

  // five data rows at rowsPerChunk=2 → ceil model gives 3 chunk files per
  // job partition on every load — the big-sheet fragmentation in miniature
  private def sheet(tag: String): Seq[Seq[String]] =
    Seq("A") +: (0 until 5).map(i => Seq(s"$tag-r$i"))

  test("reload cycles fragment; cadence compacts touched tables; pruning survives") {
    val dir = Files.createTempDirectory("graft-cadence")
    val wh = Files.createTempDirectory("graft-cadence-wh").toString
    val meta = new MetaStore(spark, MetaStorage.forUrl(spark, "memory:"))
    val targets = new TargetStore(spark, s"$wh/tables", rowsPerChunk = 2)
    meta.setUpAccounting()
    val tasks = new Tasks(new LocalGridSource(dir.toString), meta, targets,
      loadTime = 1746100000L)
    tasks.setConfiguration(Seq(
      EtlConfig(SidA, "Sheet1", "t", Seq("a" -> Right("A"))),
      EtlConfig(SidB, "Sheet1", "t", Seq("a" -> Right("A")))))
    val cadence = new CompactCadence(targets, every = 2)

    def cycle(n: Int): Seq[String] = {
      writeFixture(dir, "a.json", SidA, f"2026-05-$n%02dT00:00:00.000Z", sheet(s"a$n"))
      writeFixture(dir, "b.json", SidB, f"2026-05-$n%02dT00:00:00.000Z", sheet(s"b$n"))
      tasks.findSomeUpdatedSpreadsheets()
      val loaded = tasks.loadSomeUpdatedSpreadsheets()
      assert(loaded.size == 2, s"cycle $n should reload both sheets, got $loaded")
      cadence.onBatch(loaded)
    }

    assert(cycle(1).isEmpty)              // cadence=2: no fire on batch 1
    assert(targets.dataFileCount("t") == 6L, "2 jobs x 3 chunk files")

    val report = cycle(2)                 // fires: both cycles touched t
    assert(report.exists(_.contains("compacted t: 6 -> 2 file(s)")), report)
    assert(targets.dataFileCount("t") == 2L, "one file per job partition")
    // cycle 2's reload replaced the rows, THEN compact ran — rows must
    // equal the freshly-loaded cycle-2 state, merely re-laid-out
    assert(targets.read("t").collect().map(_.getAs[String]("a")).toSet ==
      (0 until 5).flatMap(i => Seq(s"a2-r$i", s"b2-r$i")).toSet)

    assert(cycle(3).isEmpty)              // counter at 3: no fire
    assert(targets.dataFileCount("t") == 6L, "re-fragmented by cycle 3's reloads")
    assert(cycle(4).nonEmpty)             // counter at 4: fires again
    assert(targets.dataFileCount("t") == 2L)

    // the layout survived compaction: a reload of ONLY sheet A swaps
    // job A's partition (3 fresh chunk files) and leaves job B's single
    // compacted file untouched
    writeFixture(dir, "a.json", SidA, "2026-05-09T00:00:00.000Z", sheet("a9"))
    tasks.findSomeUpdatedSpreadsheets()
    val onlyA = tasks.loadSomeUpdatedSpreadsheets()
    assert(onlyA.map(_.googleSpreadsheetId) == Seq(SidA))
    assert(targets.dataFileCount("t") == 4L, "3 new chunks for A + B's compacted 1")
    val bRows = targets.read("t").filter(s"a LIKE 'b%'")
      .collect().map(_.getAs[String]("a")).toSet
    assert(bRows == (0 until 5).map(i => s"b4-r$i").toSet,
      "job B's partition must be untouched by A's reload")

    // partition pruning is intact after the compact+reload interleaving
    val sidA = meta.spreadsheetIdOf(SidA)
    val jobA = meta.etlJobs.collect()
      .find(j => j.spreadsheet_id == sidA && j.sheet_name == "Sheet1").get.id
    val scan = targets.read("t").filter(s"_origin_etl_job_id = $jobA")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      plan.replaceAll("#\\d+L?", "").contains("(_origin_etl_job_id = " + jobA),
      plan.take(2000))
    assert(scan.collect().map(_.getAs[String]("a")).toSet ==
      (0 until 5).map(i => s"a9-r$i").toSet)
  }

  test("idle batches never advance the cadence counter") {
    val wh = Files.createTempDirectory("graft-cadence-idle").toString
    val targets = new TargetStore(spark, s"$wh/tables")
    val cadence = new CompactCadence(targets, every = 1)
    // nothing loaded → no compaction attempt even at cadence 1 (would
    // throw on the absent table if it ran)
    assert(cadence.onBatch(Nil).isEmpty)
    assert(cadence.onBatch(Nil).isEmpty)
  }
}
