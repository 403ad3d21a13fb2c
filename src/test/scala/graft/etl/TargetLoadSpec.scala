package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[TargetStore.loadJobRows]]'s staged swap on disk: every crash prefix of
  * a reload leaves the job's old rows or its new rows, never a missing
  * partition, and the next load leaves no stage behind. Another job's
  * partition is never touched.
  */
class TargetLoadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val Table = "t"
  private val Part = "_origin_etl_job_id=1"

  // v1 → v2 → v3: successive loads of job 1
  private def grid(tag: String, n: Int): Seq[Seq[Option[String]]] =
    (0 until n).map(i => Seq(Some(s"$tag$i")))
  private val v1 = grid("old", 5)
  private val v2 = grid("new", 3)
  private val v3 = grid("next", 4)

  /** (job, _origin_row, a) of the whole table. */
  private def rows(store: TargetStore): Set[(Long, Long, String)] =
    store.read(Table).selectExpr("CAST(_origin_etl_job_id AS BIGINT)", "_origin_row", "a")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  private def expect(job: Long, grid: Seq[Seq[Option[String]]]): Set[(Long, Long, String)] =
    grid.zipWithIndex.map { case (r, i) => (job, i.toLong, r.head.get) }.toSet

  private def fresh(): TargetStore =
    new TargetStore(spark, Files.createTempDirectory("graft-tload").toString, rowsPerChunk = 2)

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  /** A complete job-1 partition of `grid` at `dst`, as [[TargetStore.loadJobRows]] writes it. */
  private def partitionAt(dst: Path, grid: Seq[Seq[Option[String]]]): Unit = {
    val scratch = fresh()
    scratch.loadJobRows(Table, 1L, Seq("a"), grid)
    Files.createDirectories(dst.getParent)
    Files.move(Paths.get(scratch.path(Table), Part), dst)
  }

  /** Each on-disk state a crash can leave part way through a reload of
    * job 1 to v2 over a live v1, the rows the next read must return, and
    * how to build the state from the table and stage directories. */
  private val crashPrefixes: Seq[(String, Seq[Seq[Option[String]]], (Path, Path) => Unit)] = Seq(
    ("a half-written stage beside the intact live partition", v1, { (_, stage) =>
      partitionAt(stage.resolve(Part), v2)
      val files = list(stage.resolve(Part)).filter(_.toString.endsWith(".parquet"))
      val bytes = Files.readAllBytes(files.head)
      list(stage.resolve(Part)).foreach(Files.delete)
      // a writer's own part name: a load that does not clear the stage
      // swaps the truncated file in with its own
      Files.write(stage.resolve(Part).resolve("part-00000-5b1c6f0e.c000.snappy.parquet"),
        bytes.take(bytes.length / 2))
    }),
    ("a complete stage beside the intact live partition", v1, { (_, stage) =>
      partitionAt(stage.resolve(Part), v2)
    }),
    ("the live partition renamed aside beside a complete stage", v1, { (table, stage) =>
      partitionAt(stage.resolve(Part), v2)
      Files.move(table.resolve(Part), stage.resolve(s"$Part.old"))
    }),
    ("the new partition live beside the old copy left over", v2, { (table, stage) =>
      Files.createDirectories(stage)
      Files.move(table.resolve(Part), stage.resolve(s"$Part.old"))
      partitionAt(table.resolve(Part), v2)
    }))

  for ((state, expected, crash) <- crashPrefixes) {
    test(s"a crash in a reload leaves the old or the new rows: $state") {
      val store = fresh()
      store.loadJobRows(Table, 1L, Seq("a"), v1)
      store.loadJobRows(Table, 2L, Seq("a"), grid("other", 2))
      val table = Paths.get(store.path(Table))
      val stage = Paths.get(store.loadStage(Table))
      assert(!Files.exists(stage))
      crash(table, stage)

      // the next process opens the same root
      val reopened = new TargetStore(spark, table.getParent.toString, rowsPerChunk = 2)
      assert(rows(reopened) == expect(1L, expected) ++ expect(2L, grid("other", 2)))
      assert(reopened.rowCount(Table) == expected.size + 2)

      reopened.loadJobRows(Table, 1L, Seq("a"), v3)
      assert(rows(reopened) == expect(1L, v3) ++ expect(2L, grid("other", 2)))
      assert(reopened.dataFileCount(Table) == 3L, "2 chunk files for job 1, 1 for job 2")
      assert(!Files.exists(stage))
    }
  }

  test("a reload gives every file a fresh name and leaves no stage") {
    val store = fresh()
    def names(): Set[String] =
      list(Paths.get(store.path(Table), Part)).map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
    store.loadJobRows(Table, 1L, Seq("a"), v1)
    val first = names()
    assert(first.size == 3 && first.forall(_.matches("part-\\d{5}-[0-9a-f-]{36}\\.c000\\.snappy\\.parquet")), first)
    store.loadJobRows(Table, 1L, Seq("a"), v1)
    assert(names().size == 3 && names().intersect(first).isEmpty)
    assert(rows(store) == expect(1L, v1))
    assert(!Files.exists(Paths.get(store.loadStage(Table))))
  }
}
