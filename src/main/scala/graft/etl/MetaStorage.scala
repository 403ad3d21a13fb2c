package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.parquet.schema.Type.Repetition
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Storage backend for the ETL accounting tables (R27; reference:
  * `src/DatabaseAgent.php:70-81` — the `agentForPdo` factory that picks a
  * sqlite or mysql agent from the connection's driver name).
  *
  * A backend provides whole-table read and atomic replace; the accounting
  * logic is in [[MetaStore]]. The tables are metadata-scale (one row per
  * spreadsheet or job), so both backends do their I/O on the driver over
  * plain rows: [[readRows]] and [[replaceRows]] hold the I/O and build no
  * `DataFrame`, run no Spark plan and launch no Spark job, and they are the
  * only forms [[MetaStore]]'s tick calls. [[read]] and [[replace]] are the
  * `DataFrame` adapters over them, for callers that want a Spark view.
  * Target DATA always goes through [[TargetStore]]'s distributed writes.
  * Two backends ship, mirroring the reference's two agents:
  *
  *   - [[SnapshotMetaStorage]] — durable parquet snapshot directories with
  *     write-temp-then-rename replace (the "mysql" role: the real
  *     warehouse);
  *   - [[InMemoryMetaStorage]] — a driver-held map (the "sqlite :memory:"
  *     role: tests and dry runs; the reference's own unit tests run its
  *     sqlite agent against `sqlite::memory:`,
  *     `tests/DatabaseAgentSqliteTest.php:17-30`).
  */
trait MetaStorage {

  /** True when the table has been created (by a prior replace). */
  def exists(table: String): Boolean

  /** Read the current contents with the given (authoritative) schema. */
  def read(table: String, schema: StructType): DataFrame

  /** Atomically replace the table's contents. Must fully materialize `df`
    * (which may read the table's current contents) BEFORE the old version
    * becomes unreachable — the no-read-while-overwrite contract.
    */
  def replace(table: String, df: DataFrame): Unit

  /** [[read]] as driver rows. Each row carries `schema`, so it answers
    * `getAs` by field name. The default adapts [[read]]; the shipped
    * backends override it and run no Spark plan. */
  def readRows(table: String, schema: StructType): Seq[Row] =
    read(table, schema).collect().toSeq

  /** [[replace]] from driver rows, in `schema`'s field order. The default
    * adapts [[replace]]; the shipped backends override it and run no Spark
    * plan. */
  def replaceRows(table: String, schema: StructType, rows: Seq[Row]): Unit =
    replace(table, SparkSession.active.createDataFrame(rows.asJava, schema))
}

object MetaStorage {

  /** Backend factory keyed on a URL-ish driver prefix, mirroring the
    * reference's dispatch on `PDO::ATTR_DRIVER_NAME`
    * (`src/DatabaseAgent.php:70-81`):
    *
    *   - `memory:` → [[InMemoryMetaStorage]]
    *   - `parquet:<root>`, a bare path, or any Hadoop filesystem scheme
    *     (`hdfs://`, `s3a://`, `file:/`, …) → [[SnapshotMetaStorage]]
    *     (Path.getFileSystem resolves the scheme, so a remote warehouse
    *     root needs no `parquet:` prefix);
    *   - anything else → error (the reference prints "Unexpected driver"
    *     and exits).
    */
  private val FsSchemes =
    Set("hdfs", "s3a", "s3", "gs", "abfs", "abfss", "wasb", "wasbs",
      "file", "viewfs", "o3fs", "oss")

  def forUrl(spark: SparkSession, url: String,
      naming: TableNaming = TableNaming.none): MetaStorage =
    url match {
      case u if u == "memory" || u.startsWith("memory:") =>
        new InMemoryMetaStorage(spark)
      case u if u.startsWith("parquet:") =>
        new SnapshotMetaStorage(spark, u.stripPrefix("parquet:"), naming)
      case u if FsSchemes.contains(u.takeWhile(_ != ':')) && u.contains(':') =>
        new SnapshotMetaStorage(spark, u, naming)
      case u if !u.matches("^[a-z][a-z0-9+.-]*:.*") => // bare path, no scheme
        new SnapshotMetaStorage(spark, u, naming)
      case other =>
        throw new IllegalArgumentException(
          s"Unexpected driver: ${other.takeWhile(_ != ':')}")
    }

  /** Refuses a column type other than bigint and string: the only types of
    * the accounting schemas, and all the snapshot store writes. Both
    * backends check, so a schema that runs on one runs on the other. */
  private[etl] def requireSupported(schema: StructType): Unit =
    schema.fields.find(f => f.dataType != LongType && f.dataType != StringType).foreach { f =>
      throw new IllegalArgumentException(
        s"Accounting column ${f.name} has unsupported type ${f.dataType.simpleString}; " +
          "the accounting store holds only bigint and string columns")
    }
}

/** Durable parquet-snapshot backend: each table is a directory of parquet
  * part files, replaced via write-temp-then-rename. The I/O runs on the
  * driver through parquet-hadoop, so no call launches a Spark job; the
  * format, the paths and the rename protocol are those of a Spark
  * `repartition(1).write.parquet` snapshot, and either side reads the
  * other's files. [[read]] and [[replace]] adapt the row forms: [[read]]
  * wraps the rows already read, [[replace]] collects its input first.
  * Columns must be `LongType` or `StringType`, the only types of the
  * accounting schemas.
  *
  * A crash between the two renames of [[replaceRows]] leaves only
  * `<table>.old`; every entry point first renames it back, so the last
  * committed snapshot survives (an uncommitted `.tmp` is discarded by the
  * next replace, and the §7.4 ordering makes that an idempotent redo).
  */
final class SnapshotMetaStorage(
    spark: SparkSession,
    root: String,
    naming: TableNaming = TableNaming.none) extends MetaStorage {

  def tablePath(table: String): String = s"$root/${naming.qualifiedPath(table)}"

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fs = new Path(root).getFileSystem(conf)

  /** The live snapshot, restored from `.old` if a replace crashed between
    * its renames. */
  private def live(table: String): Path = {
    val dst = new Path(tablePath(table))
    val old = new Path(tablePath(table) + ".old")
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    dst
  }

  override def exists(table: String): Boolean = fs.exists(live(table))

  /** Reads every part file (names starting with `_` or `.` are skipped, as
    * Spark skips `_SUCCESS` and `.crc`), mapping columns by name; an absent
    * column or a null cell reads as null. A snapshot with no part file is
    * an empty table. */
  override def readRows(table: String, schema: StructType): Seq[Row] = {
    MetaStorage.requireSupported(schema)
    val parts = fs.listStatus(live(table)).map(_.getPath).filter { p =>
      val name = p.getName
      name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")
    }.sortBy(_.getName)
    parts.toSeq.flatMap { part =>
      Using.resource(ParquetReader.builder(new GroupReadSupport, part).withConf(conf).build()) {
        reader => Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(g => new GenericRowWithSchema(schema.fields.map(cell(g, _)), schema)).toVector
      }
    }
  }

  override def read(table: String, schema: StructType): DataFrame =
    spark.createDataFrame(readRows(table, schema).asJava, schema)

  /** Writes `rows` as one part file into a cleared `.tmp` and swaps it in
    * by renames. An unsupported column type throws before anything is
    * written. */
  override def replaceRows(table: String, schema: StructType, rows: Seq[Row]): Unit = {
    MetaStorage.requireSupported(schema)
    val fileSchema = new MessageType("spark_schema", schema.fields.map(parquetField): _*)
    val dst = live(table)
    val tmp = new Path(tablePath(table) + ".tmp")
    val old = new Path(tablePath(table) + ".old")
    fs.delete(tmp, true) // a crashed replace may have left a partial part file
    // one part file even for zero rows: its footer carries the schema
    val part = HadoopOutputFile.fromPath(new Path(tmp, "part-00000.snappy.parquet"), conf)
    Using.resource(ExampleParquetWriter.builder(part).withConf(conf).withType(fileSchema)
        .withCompressionCodec(CompressionCodecName.SNAPPY).build()) { writer =>
      rows.foreach { r =>
        val g = new SimpleGroup(fileSchema)
        schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
          if (schema(i).dataType == LongType) g.add(i, r.getLong(i)) else g.add(i, r.getString(i))
        }
        writer.write(g)
      }
    }
    fs.delete(old, true)
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(tmp, dst)
    fs.delete(old, true)
  }

  /** Collects `df` (which may read the current snapshot) before the old
    * snapshot is replaced: no read-while-overwrite hazard. */
  override def replace(table: String, df: DataFrame): Unit =
    replaceRows(table, df.schema, df.collect().toSeq)

  /** The parquet column Spark writes for `f`, a bigint or string column: a
    * non-nullable field is `required`, a nullable one `optional`. */
  private def parquetField(f: StructField): Type = {
    val rep = if (f.nullable) Repetition.OPTIONAL else Repetition.REQUIRED
    if (f.dataType == LongType) Types.primitive(INT64, rep).named(f.name)
    else Types.primitive(BINARY, rep).as(LogicalTypeAnnotation.stringType()).named(f.name)
  }

  private def cell(g: Group, f: StructField): Any = {
    val t = g.getType
    if (!t.containsField(f.name)) null
    else {
      val i = t.getFieldIndex(f.name)
      if (g.getFieldRepetitionCount(i) == 0) null
      else if (f.dataType == LongType) g.getLong(i, 0)
      else g.getString(i, 0)
    }
  }
}

/** Driver-held backend for tests / dry runs (the reference's
  * `sqlite::memory:` role). [[replaceRows]] keeps the rows it is given,
  * materialized before the swap like the snapshot backend's rename, and
  * [[replace]] collects its input first, which is correct because
  * accounting tables are metadata-scale by contract. [[readRows]] maps the
  * stored columns to the asked schema by name, an absent one as null.
  */
final class InMemoryMetaStorage(spark: SparkSession) extends MetaStorage {

  private val tables =
    scala.collection.mutable.Map.empty[String, (StructType, Vector[Row])]

  override def exists(table: String): Boolean = synchronized {
    tables.contains(table)
  }

  override def readRows(table: String, schema: StructType): Seq[Row] = {
    MetaStorage.requireSupported(schema)
    val (stored, rows) = synchronized { tables.getOrElse(table, (schema, Vector.empty)) }
    val at = schema.fieldNames.map(stored.fieldNames.indexOf(_))
    rows.map(r => new GenericRowWithSchema(at.map(i => if (i < 0) null else r.get(i)), schema))
  }

  override def read(table: String, schema: StructType): DataFrame =
    spark.createDataFrame(readRows(table, schema).asJava, schema)

  override def replaceRows(table: String, schema: StructType, rows: Seq[Row]): Unit = {
    MetaStorage.requireSupported(schema)
    val materialized = rows.toVector // before the swap, like the rename
    synchronized { tables(table) = (schema, materialized) }
  }

  override def replace(table: String, df: DataFrame): Unit =
    replaceRows(table, df.schema, df.collect().toSeq)
}
