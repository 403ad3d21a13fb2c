package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Target-table compaction (the EtlMain `--compact` verb): a table
  * fragmented by repeated per-job partition overwrites rewrites to one
  * file per job partition with identical rows, the partition LAYOUT
  * survives (a later reload still swaps only its own job's partition),
  * and additive schema evolution is preserved through the rewrite.
  */
class TargetCompactSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** The fixture writer: a Spark partition-overwrite write, as target
    * loads were written before loads moved to the driver. It replaces
    * exactly the partitions present in `df`, leaving all others
    * untouched, so a fixture can fragment a partition into many files. */
  private implicit class SparkWrites(store: TargetStore) {
    def replaceJobPartition(targetTable: String, df: DataFrame): Unit =
      df.write
        .partitionBy("_origin_etl_job_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(store.path(targetTable))
  }

  private def rows(store: TargetStore, t: String): Set[(Long, Long, String)] = {
    import spark.implicits._
    store.read(t).select("_origin_etl_job_id", "_origin_row", "a")
      .as[(Long, Long, String)].collect().toSet
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  test("compact merges per-job fragments, keeps rows and the partition layout") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact").toString
    val store = new TargetStore(spark, root)
    // job 1 arrives as an 8-fragment partition (a big sheet's chunked
    // load), job 2 as 4 fragments
    store.replaceJobPartition("t",
      (0 until 2000).map(i => (1L, i.toLong, s"v$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(8))
    store.replaceJobPartition("t",
      (0 until 100).map(i => (2L, i.toLong, s"w$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(4))
    val expected = rows(store, "t")

    val (before, after) = store.compact("t")
    assert(before == 12L, s"fixture should fragment to 12 files, got $before")
    assert(after == 2L, s"one file per job partition, got $after")
    assert(rows(store, "t") == expected, "compaction must not change rows")

    // the layout survives: a reload of job 2 swaps ONLY its partition
    store.replaceJobPartition("t",
      Seq((2L, 0L, "w0-reloaded")).toDF("_origin_etl_job_id", "_origin_row", "a"))
    val reloaded = rows(store, "t")
    assert(reloaded.filter(_._1 == 1L) == expected.filter(_._1 == 1L),
      "job 1's compacted partition must be untouched by job 2's reload")
    assert(reloaded.filter(_._1 == 2L) == Set((2L, 0L, "w0-reloaded")))
  }

  test("compact preserves additive schema evolution (old partitions stay null-padded)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact-ev").toString
    val store = new TargetStore(spark, root)
    store.replaceJobPartition("t",
      Seq((1L, 0L, "old")).toDF("_origin_etl_job_id", "_origin_row", "a")
        .repartition(3))
    // a later job adds column b — R18 additive evolution
    store.replaceJobPartition("t",
      Seq((2L, 0L, "new", "b0"))
        .toDF("_origin_etl_job_id", "_origin_row", "a", "b"))
    store.compact("t")
    val got = store.read("t").select("_origin_etl_job_id", "a", "b")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got == Set((1L, "old", None), (2L, "new", Some("b0"))))
  }

  test("a crash inside compact's swap: the rerun restores the lost partition from the complete stage") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact-crash").toString
    val store = new TargetStore(spark, root)
    store.replaceJobPartition("t",
      (0 until 300).map(i => (1L, i.toLong, s"v$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(3))
    store.replaceJobPartition("t",
      (0 until 20).map(i => (2L, i.toLong, s"w$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(2))
    store.replaceJobPartition("t",
      Seq((3L, 0L, "x0")).toDF("_origin_etl_job_id", "_origin_row", "a"))
    val expected = rows(store, "t")

    // the crash state: a complete stage (with its _SUCCESS), and the swap
    // stopped after deleting job 1's partition, before renaming its
    // staged copy in
    store.read("t").repartition(col("_origin_etl_job_id"))
      .write.partitionBy("_origin_etl_job_id").parquet(store.compactStage("t"))
    deleteTree(Paths.get(store.path("t"), "_origin_etl_job_id=1"))
    // job 3 is reloaded before the rerun: the stage's older rows must
    // not overwrite it
    store.replaceJobPartition("t",
      Seq((3L, 0L, "x0-reloaded")).toDF("_origin_etl_job_id", "_origin_row", "a"))

    store.compact("t")
    assert(rows(store, "t") ==
      expected.filter(_._1 != 3L) + ((3L, 0L, "x0-reloaded")))
    assert(store.dataFileCount("t") == 3L)
    assert(!Files.exists(Paths.get(store.compactStage("t"))))
  }

  test("compact discards an incomplete stage (no _SUCCESS)") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact-partial").toString
    val store = new TargetStore(spark, root)
    store.replaceJobPartition("t",
      (0 until 10).map(i => (1L, i.toLong, s"v$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(2))
    val expected = rows(store, "t")
    // a stage write that crashed: rows of a job the table never had
    Seq((9L, 0L, "junk")).toDF("_origin_etl_job_id", "_origin_row", "a")
      .write.partitionBy("_origin_etl_job_id").parquet(store.compactStage("t"))
    Files.delete(Paths.get(store.compactStage("t"), "_SUCCESS"))
    assert(store.compact("t") == ((2L, 1L)))
    assert(rows(store, "t") == expected)
    assert(!Files.exists(Paths.get(store.compactStage("t"))))
  }

  test("compact of a table whose only job was emptied writes nothing") {
    val root = Files.createTempDirectory("graft-tcompact-emptied").toString
    val store = new TargetStore(spark, root, rowsPerChunk = 2)
    store.loadJobRows("t", 1L, Seq("a"), (0 until 3).map(i => Seq(Some(s"v$i"))))
    store.loadJobRows("t", 1L, Seq("a"), Nil)
    assert(store.exists("t") && store.dataFileCount("t") == 0L)
    assert(store.compact("t") == ((0L, 0L)))
    assert(store.rowCount("t") == 0L)
    assert(!Files.exists(Paths.get(store.compactStage("t"))))
  }

  test("Spark-written and driver-written partitions read, count and compact as one table") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact-mixed").toString
    val store = new TargetStore(spark, root, rowsPerChunk = 2)
    store.replaceJobPartition("t",
      (0 until 6).map(i => (1L, i.toLong, s"v$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(2))
    store.replaceJobPartition("t",
      (0 until 3).map(i => (2L, i.toLong, s"w$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a"))
    val jobIdType = store.read("t").schema("_origin_etl_job_id").dataType

    // the reload adds a column whose normalized name keeps its space
    val added = Normalize.columnNames(Seq("A", "First Name"))
    assert(added == Seq("a", "first name"))
    store.loadJobRows("t", 2L, added, (0 until 5).map(i => Seq(Some(s"x$i"), Some(s"f$i"))))
    def all(): Set[(Long, Long, String, Option[String])] =
      store.read("t").select(col("_origin_etl_job_id").cast("bigint"), col("_origin_row"),
        col("a"), col("first name")).as[(Long, Long, String, Option[String])].collect().toSet
    val expected = (0 until 6).map(i => (1L, i.toLong, s"v$i", None)).toSet ++
      (0 until 5).map(i => (2L, i.toLong, s"x$i", Some(s"f$i")))
    assert(all() == expected)
    assert(store.read("t").schema("_origin_etl_job_id").dataType == jobIdType)
    assert(store.rowCount("t") == store.read("t").count())
    assert(store.rowCount("t") == 11L)

    // a crashed Spark write's staging dir is hidden from both counts
    val hidden = Paths.get(store.path("t"), ".spark-staging-0", "_origin_etl_job_id=1")
    Files.createDirectories(hidden)
    Files.list(Paths.get(store.path("t"), "_origin_etl_job_id=1")).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).foreach(f => Files.copy(f, hidden.resolve(f.getFileName)))
    assert(store.rowCount("t") == store.read("t").count() && store.rowCount("t") == 11L)
    deleteTree(Paths.get(store.path("t"), ".spark-staging-0"))

    assert(store.compact("t") == ((5L, 2L)))
    assert(all() == expected)
    assert(store.read("t").schema("_origin_etl_job_id").dataType == jobIdType)
    assert(store.rowCount("t") == 11L)
    assert(store.rowCount("absent") == 0L)
  }

  test("the --compact verb reports per-table outcomes and skips absent tables") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-tcompact-verb").toString
    val store = new TargetStore(spark, root)
    store.replaceJobPartition("present",
      (0 until 50).map(i => (1L, i.toLong, s"v$i"))
        .toDF("_origin_etl_job_id", "_origin_row", "a").repartition(5))
    val lines = EtlMain.compactTargets(store, Seq("present", "missing"), "all")
    assert(lines.exists(_.contains("compacted present: 5 -> 1 file(s)")), lines)
    assert(lines.exists(_.contains("skip missing")), lines)
    // explicit list selects only the named table
    val one = EtlMain.compactTargets(store, Seq("present", "missing"), "present")
    assert(one.size == 1 && one.head.contains("present"), one)
  }
}
