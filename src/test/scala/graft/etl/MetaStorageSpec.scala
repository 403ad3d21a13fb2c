package graft.etl

import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** [[SnapshotMetaStorage]] on disk: its driver-side parquet files and Spark's
  * parquet writer/reader read each other's snapshots, every crash prefix of
  * [[SnapshotMetaStorage.replace]] recovers to a whole snapshot, and an
  * unsupported column type is refused before anything is written. On both
  * backends, the row forms and the `DataFrame` forms read each other's
  * writes.
  */
class MetaStorageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import SparkTestSession.spark.implicits._

  private val Table = "__meta_etl_jobs"
  private val schema = Encoders.product[EtlJobRow].schema

  // v0 → v1 → v2 → v3: successive snapshots of one table
  private val v1 = Seq(
    EtlJobRow(1, 1, "2019 Expirations", "renewals_2019", "2026-05-01T12:00:00.000Z", "9f2c"),
    EtlJobRow(2, 1, "Ünïcode sheet", "t2", null, ""))
  private val v2 = v1 :+ EtlJobRow(3, 2, "Sheet1", "zoe", "2026-05-04T00:00:00.000Z", "77aa")
  private val v0 = v1.take(1)
  private val v3 = v2.map(j => j.copy(raw_columns_rows_hash = j.raw_columns_rows_hash + "!"))

  private def fresh(): SnapshotMetaStorage =
    new SnapshotMetaStorage(spark, Files.createTempDirectory("graft-meta").toString)

  private def rowsOf(df: DataFrame): Seq[EtlJobRow] = df.as[EtlJobRow].collect().toSeq

  private def names(dir: String): Set[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).toSet

  /** A complete snapshot of `rows` at `dst`, as [[SnapshotMetaStorage.replace]] writes it. */
  private def snapshotAt(dst: String, rows: Seq[EtlJobRow]): Unit = {
    val scratch = fresh()
    scratch.replace(Table, rows.toDF())
    Files.move(Paths.get(scratch.tablePath(Table)), Paths.get(dst))
  }

  for ((label, rows) <- Seq("rows" -> v2, "zero rows" -> Nil)) {

    test(s"a snapshot written by Spark's parquet writer reads back unchanged ($label)") {
      val storage = fresh()
      val dir = storage.tablePath(Table)
      rows.toDF().repartition(1).write.parquet(dir)
      val files = names(dir)
      assert(files("_SUCCESS") && files.exists(_.endsWith(".crc")) &&
        files.exists(f => f.startsWith("part-") && f.endsWith("-c000.snappy.parquet")), files)
      assert(storage.exists(Table))
      assert(rowsOf(storage.read(Table, schema)) == rows)
    }

    test(s"a snapshot written by replace reads through Spark's parquet reader ($label)") {
      val storage = fresh()
      storage.replace(Table, rows.toDF())
      val dir = storage.tablePath(Table)
      assert(rowsOf(spark.read.schema(schema).parquet(dir)) == rows)
      // the part file's footer carries the schema, also with no rows
      assert(spark.read.parquet(dir).schema.map(f => f.name -> f.dataType) ==
        schema.map(f => f.name -> f.dataType))
    }
  }

  test("read maps columns by name: an absent column reads as null") {
    val storage = fresh()
    v2.toDF().select("raw_columns_rows_hash", "id", "spreadsheet_id", "sheet_name", "target_table")
      .repartition(1).write.parquet(storage.tablePath(Table))
    assert(rowsOf(storage.read(Table, schema)) == v2.map(_.copy(google_modified = null)))
  }

  /** Each on-disk state a crash can leave part way through `replace(v2)`
    * over a live `v1`, the snapshot the next read must return, and how to
    * build the state. */
  private val crashPrefixes: Seq[(String, Seq[EtlJobRow], String => Unit)] = Seq(
    ("a half-written .tmp beside the intact live table", v1, { live =>
      snapshotAt(s"$live.tmp", v2)
      val tmp = Paths.get(s"$live.tmp")
      val part = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
      val bytes = Files.readAllBytes(part)
      Files.list(tmp).iterator().asScala.toSeq.foreach(Files.delete)
      // a writer's own part name, so a replace that does not clear `.tmp`
      // leaves the truncated file inside the next live snapshot
      Files.write(tmp.resolve("part-00000-5b1c6f0e-c000.snappy.parquet"),
        bytes.take(bytes.length / 2))
    }),
    ("a complete .tmp beside a leftover .old", v1, { live =>
      snapshotAt(s"$live.old", v0)
      snapshotAt(s"$live.tmp", v2)
    }),
    ("live renamed to .old beside a complete .tmp", v1, { live =>
      snapshotAt(s"$live.tmp", v2)
      Files.move(Paths.get(live), Paths.get(s"$live.old"))
    }),
    ("the new live table beside a leftover .old", v2, { live =>
      Files.move(Paths.get(live), Paths.get(s"$live.old"))
      snapshotAt(live, v2)
    }))

  for ((state, expected, crash) <- crashPrefixes) {
    test(s"a crash in replace leaves a whole snapshot: $state") {
      val storage = fresh()
      storage.replace(Table, v1.toDF())
      val live = storage.tablePath(Table)
      crash(live)

      // the next process opens the same root
      val reopened = new SnapshotMetaStorage(spark, Paths.get(live).getParent.toString)
      assert(reopened.exists(Table))
      assert(rowsOf(reopened.read(Table, schema)) == expected)

      reopened.replace(Table, v3.toDF())
      assert(rowsOf(reopened.read(Table, schema)) == v3)
      assert(rowsOf(spark.read.schema(schema).parquet(live)) == v3)
      assert(!Files.exists(Paths.get(s"$live.tmp")) && !Files.exists(Paths.get(s"$live.old")))
    }
  }

  private def backend(name: String): MetaStorage = name match {
    case "snapshot" => fresh()
    case "memory" => new InMemoryMetaStorage(spark)
  }

  for (name <- Seq("snapshot", "memory")) {

    test(s"[$name] readRows rows answer getAs by field name") {
      val storage = backend(name)
      storage.replace(Table, v2.toDF())
      val rows = storage.readRows(Table, schema)
      assert(rows.forall(_.schema == schema))
      assert(rows.map(_.getAs[String]("sheet_name")) == v2.map(_.sheet_name))
      assert(rows.map(EtlJobRow.fromRow) == v2)
    }

    test(s"[$name] a table written by replace reads back equal through readRows") {
      val storage = backend(name)
      for (rows <- Seq(v2, Nil, v3)) {
        storage.replace(Table, rows.toDF())
        assert(storage.readRows(Table, schema).map(EtlJobRow.fromRow) == rows)
      }
    }

    test(s"[$name] a table written by replaceRows reads back equal through read") {
      val storage = backend(name)
      for (rows <- Seq(v2, Nil, v3)) {
        storage.replaceRows(Table, schema, rows.map(EtlJobRow.toRow))
        assert(storage.exists(Table))
        assert(rowsOf(storage.read(Table, schema)) == rows)
        storage match {
          case s: SnapshotMetaStorage =>
            assert(rowsOf(spark.read.schema(schema).parquet(s.tablePath(Table))) == rows)
          case _ =>
        }
      }
    }

    test(s"[$name] replaceRows refuses an unsupported column type before it writes anything") {
      val storage = backend(name)
      storage.replaceRows(Table, schema, v1.map(EtlJobRow.toRow))
      val before = storage match {
        case s: SnapshotMetaStorage => names(s.tablePath(Table))
        case _ => Set.empty[String]
      }
      val bad = schema.add("score", DoubleType)
      val e = intercept[IllegalArgumentException] {
        storage.replaceRows(Table, bad, v2.map(j => Row.fromSeq(EtlJobRow.toRow(j).toSeq :+ 0.5)))
      }
      assert(e.getMessage.contains("score"), e.getMessage)
      storage match {
        case s: SnapshotMetaStorage =>
          val live = s.tablePath(Table)
          assert(!Files.exists(Paths.get(s"$live.tmp")) && !Files.exists(Paths.get(s"$live.old")))
          assert(names(live) == before)
        case _ =>
      }
      assert(storage.readRows(Table, schema).map(EtlJobRow.fromRow) == v1)
    }
  }

  test("replace refuses an unsupported column type before it writes or renames") {
    val storage = fresh()
    storage.replace(Table, v1.toDF())
    val live = storage.tablePath(Table)
    val before = names(live)
    val bad = v2.toDF().withColumn("score", lit(0.5))
    val e = intercept[IllegalArgumentException](storage.replace(Table, bad))
    assert(e.getMessage.contains("score"), e.getMessage)
    assert(!Files.exists(Paths.get(s"$live.tmp")) && !Files.exists(Paths.get(s"$live.old")))
    assert(names(live) == before)
    assert(rowsOf(storage.read(Table, schema)) == v1)
  }
}
