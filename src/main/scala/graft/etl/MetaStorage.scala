package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Storage backend for the ETL accounting tables (R27; reference:
  * `src/DatabaseAgent.php:70-81` — the `agentForPdo` factory that picks a
  * sqlite or mysql agent from the connection's driver name).
  *
  * A backend provides whole-table read and atomic replace; the accounting
  * logic is in [[MetaStore]]. The tables are metadata-scale (one row per
  * spreadsheet or job), so [[MetaStore]] decides over collected rows and a
  * driver-held backend is legitimate here; target DATA always goes
  * through [[TargetStore]]'s distributed writes. Two backends ship,
  * mirroring the reference's two agents:
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

  /** True when the table has been created (by a prior [[replace]]). */
  def exists(table: String): Boolean

  /** Read the current contents with the given (authoritative) schema. */
  def read(table: String, schema: StructType): DataFrame

  /** Atomically replace the table's contents. Must fully materialize `df`
    * (which may read the table's current contents) BEFORE the old version
    * becomes unreachable — the no-read-while-overwrite contract.
    */
  def replace(table: String, df: DataFrame): Unit
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
}

/** Durable parquet-snapshot backend: each table is a directory replaced via
  * write-temp-then-rename. A crash between the two renames of [[replace]]
  * leaves only `<table>.old`; every entry point first renames it back, so
  * the last committed snapshot survives (an uncommitted `.tmp` is
  * discarded, and the §7.4 ordering makes that an idempotent redo).
  */
final class SnapshotMetaStorage(
    spark: SparkSession,
    root: String,
    naming: TableNaming = TableNaming.none) extends MetaStorage {

  def tablePath(table: String): String = s"$root/${naming.qualifiedPath(table)}"

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The live snapshot, restored from `.old` if a replace crashed between
    * its renames. */
  private def live(table: String): Path = {
    val dst = new Path(tablePath(table))
    val old = new Path(tablePath(table) + ".old")
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    dst
  }

  override def exists(table: String): Boolean = fs.exists(live(table))

  // Explicit schema: a fresh snapshot dir may hold zero part files (Spark
  // skips empty-partition writes), so inference would fail/warn there.
  override def read(table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(live(table).toString)

  /** The write to `tmp` materializes the plan (which may read the current
    * snapshot) before the old snapshot is replaced — no read-while-overwrite
    * hazard.
    */
  override def replace(table: String, df: DataFrame): Unit = {
    val dst = live(table)
    val tmp = new Path(tablePath(table) + ".tmp")
    val old = new Path(tablePath(table) + ".old")
    // repartition(1), not coalesce: an empty Dataset has zero partitions and
    // coalesce would write no schema-bearing part file, breaking re-read.
    df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
    fs.delete(old, true)
    if (fs.exists(dst)) fs.rename(dst, old)
    fs.rename(tmp, dst)
    fs.delete(old, true)
  }
}

/** Driver-held backend for tests / dry runs (the reference's
  * `sqlite::memory:` role). Replace collects eagerly — the same
  * materialize-before-swap ordering as the snapshot backend — which is
  * correct because accounting tables are metadata-scale by contract.
  */
final class InMemoryMetaStorage(spark: SparkSession) extends MetaStorage {

  private val tables =
    scala.collection.mutable.Map.empty[String, (StructType, Seq[Row])]

  override def exists(table: String): Boolean = synchronized {
    tables.contains(table)
  }

  override def read(table: String, schema: StructType): DataFrame =
    synchronized {
      tables.get(table) match {
        case Some((sch, rows)) => spark.createDataFrame(rows.asJava, sch)
        case None => spark.createDataFrame(Seq.empty[Row].asJava, schema)
      }
    }

  override def replace(table: String, df: DataFrame): Unit = {
    val materialized = df.collect().toSeq // before the swap, like the rename
    synchronized { tables(table) = (df.schema, materialized) }
  }
}
