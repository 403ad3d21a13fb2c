package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Target-table storage (R18, R22, R23; SURVEY.md §1.1.3).
  *
  * Each target table is a parquet directory partitioned by
  * `_origin_etl_job_id`, so the reference's delete-then-reload
  * (`DELETE FROM t WHERE _origin_etl_job_id = ?` + chunked INSERTs,
  * reference: src/DatabaseAgentMysql.php:254-289) becomes a swap of one
  * job's partition directory that never touches other jobs' data. At
  * 100 TB / thousands of jobs this is the only shape that keeps reloads
  * O(changed sheet), not O(table).
  *
  * A load writes its partition on the driver ([[DriverParquet]]): a job's
  * rows are one grid the driver already holds, bounded by the Sheets data
  * model (~10M cells), so a load starts no Spark job. The files are those
  * of a Spark `partitionBy("_origin_etl_job_id")` write, and Spark-written
  * and driver-written partitions read together.
  *
  * Schema evolution is additive-only (reference:
  * src/DatabaseAgentMysql.php:171-178): new columns simply appear in new
  * partition files; reads use `mergeSchema` so old partitions surface the
  * new columns as null. Columns are never dropped or retyped — all data
  * columns are StringType (SURVEY.md §1.2: stringly-typed end-to-end; the
  * reference's VARCHAR(100) truncation is disabled, so no cap here either).
  *
  * One writer per table: loads and [[compact]] of one table must not run
  * concurrently.
  */
final class TargetStore(
    spark: SparkSession,
    root: String,
    naming: TableNaming = TableNaming.none,
    rowsPerChunk: Int = 100000) {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fs = new Path(root).getFileSystem(conf)

  /** Warehouse location for a target table, qualified per R26
    * (reference: src/DatabaseAgentMysql.php:154,193 qualify every target
    * table through `quotedFullyQualifiedTableName`): `tablePrefix` prepends
    * to the name, `schema` adds a directory level, so two prefixed/
    * schema'd configs sharing one warehouse root never collide.
    */
  def path(targetTable: String): String =
    s"$root/${naming.qualifiedPath(targetTable)}"

  /** Load one job's rows (R21–R23): `rows` are post-skip, null-padded,
    * all-string projections; `columnNames` are the already-normalized output
    * names (R12). `_origin_row` is the 0-based post-skip position
    * (SURVEY.md §7.4) — assigned here from the grid's row order. With no
    * rows the job's partition directory is deleted: the reference's
    * delete-then-insert leaves the job with no rows.
    *
    * The partition is written on the driver as `ceil(rows / rowsPerChunk)`
    * files (one per chunk: the fragmentation [[compact]] repairs), each
    * under a fresh name, into `<table>.__load_stage/_origin_etl_job_id=<id>`
    * (outside the table: a name inside it containing `=` would read as a
    * partition). Then the live partition is renamed aside into the stage,
    * the staged one renamed in, and the old copy deleted. A crash at any
    * point leaves the old rows or the new rows live, never neither: the
    * next [[loadJobRows]], [[read]] or [[compact]] first renames back a
    * partition left aside with nothing in its place, then deletes the
    * stage ([[settleLoad]]). A non-atomic directory rename (object stores)
    * weakens this to the store's own rename guarantee.
    */
  def loadJobRows(
      targetTable: String,
      jobId: Long,
      columnNames: Seq[String],
      rows: Seq[Seq[Option[String]]]): Unit = {
    settleLoad(targetTable)
    val part = s"_origin_etl_job_id=$jobId"
    val live = new Path(path(targetTable), part)
    if (rows.isEmpty) {
      fs.delete(live, true)
      return
    }
    val schema = StructType(
      StructField("_origin_row", LongType, nullable = false) +:
      columnNames.map(StructField(_, StringType, nullable = true)))
    val stage = new Path(loadStage(targetTable))
    val staged = new Path(stage, part)
    val aside = new Path(stage, part + ".old")
    rows.iterator.zipWithIndex.grouped(rowsPerChunk).zipWithIndex.foreach { case (chunk, c) =>
      val file = new Path(staged, f"part-$c%05d-${java.util.UUID.randomUUID}.c000.snappy.parquet")
      DriverParquet.write(conf, file, schema,
        chunk.map { case (r, i) => Row.fromSeq(i.toLong +: r.map(_.orNull)) })
    }
    fs.mkdirs(live.getParent)
    if (fs.exists(live)) rename(live, aside)
    rename(staged, live)
    fs.delete(stage, true)
  }

  /** Where [[loadJobRows]] stages a partition and sets the live one aside. */
  private[etl] def loadStage(targetTable: String): String =
    s"${path(targetTable)}.__load_stage"

  /** Settles a load a crash interrupted: a partition set aside whose live
    * copy is missing is renamed back (the swap stopped between its two
    * renames), then the stage, with any half-written or unswapped
    * partition and any superseded old copy, is deleted. */
  private def settleLoad(targetTable: String): Unit = {
    val stage = new Path(loadStage(targetTable))
    if (fs.exists(stage)) {
      fs.listStatus(stage).map(_.getPath).filter(_.getName.endsWith(".old")).foreach { aside =>
        val live = new Path(path(targetTable), aside.getName.stripSuffix(".old"))
        if (!fs.exists(live)) {
          fs.mkdirs(live.getParent)
          rename(aside, live)
        }
      }
      fs.delete(stage, true)
    }
  }

  private def rename(from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new java.io.IOException(s"Cannot rename $from to $to")

  /** Read a target table with additive schema merged across partitions. */
  def read(targetTable: String): DataFrame = {
    settleLoad(targetTable)
    spark.read.option("mergeSchema", "true").parquet(path(targetTable))
  }

  /** Rows in a target table, summed from its data files' parquet footers
    * on the driver (no Spark job); 0 for a table with no data file. */
  def rowCount(targetTable: String): Long = {
    settleLoad(targetTable)
    dataFiles(targetTable).map(DriverParquet.rowCount(conf, _)).sum
  }

  /** In-place small-file compaction of a target table (the EtlMain
    * `--compact` maintenance verb): every `_origin_etl_job_id` partition
    * rewrites to ONE file. Years of per-job partition overwrites
    * fragment a table into files far below the scan-efficient size —
    * the accumulation [[graft.Compaction]] describes — but the generic
    * compactor is NOT the tool here: its round-robin rewrite would
    * flatten the partition directories that make reloads a
    * metadata-only swap (R22). This one preserves the layout, and a
    * job partition is grid-bounded by the Sheets data model (~10M
    * cells), so one file per job is always under any sane target size.
    *
    * Two-hop rewrite: stage to a sibling dir (a Spark write cannot read
    * its own target), then dynamic-partition-overwrite back. That Spark
    * commit deletes each partition and then renames the staged copy in
    * (a load's swap sets the old copy aside first instead), so a crash
    * between the two leaves one partition missing from the table, while
    * the stage, marked complete by its `_SUCCESS`, still holds its rows. The
    * stage is therefore removed only after the swap returns, and every
    * run first settles a leftover one: a complete stage restores each
    * partition the table lacks (a partition still present is either
    * uncompacted with the same rows or reloaded since, and must not be
    * overwritten with staged rows), an incomplete stage is deleted.
    * Between a crash and the next run the lost partition reads as empty.
    * A table with no data file (its jobs all reloaded empty) is left as it
    * is. Returns (files before, files after).
    */
  def compact(targetTable: String): (Long, Long) = {
    settleLoad(targetTable)
    val p = path(targetTable)
    val stage = new Path(compactStage(targetTable))
    if (fs.exists(new Path(stage, "_SUCCESS")))
      fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.startsWith("_origin_etl_job_id="))
        .filterNot(part => fs.exists(new Path(p, part.getName)))
        .foreach { part =>
          fs.mkdirs(new Path(p))
          rename(part, new Path(p, part.getName))
        }
    fs.delete(stage, true)
    val before = dataFileCount(targetTable)
    if (before == 0) return (0L, 0L) // every job emptied: no schema to read
    read(targetTable)
      // one shuffle keyed on the partition column: each job's rows land
      // whole in one task, so partitionBy emits exactly one file per job
      .repartition(org.apache.spark.sql.functions.col("_origin_etl_job_id"))
      .write.partitionBy("_origin_etl_job_id")
      .mode("overwrite").parquet(stage.toString)
    spark.read.option("mergeSchema", "true").parquet(stage.toString)
      .write.partitionBy("_origin_etl_job_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(p)
    fs.delete(stage, true)
    (before, dataFileCount(targetTable))
  }

  /** Where [[compact]] stages a table's rewrite. */
  private[etl] def compactStage(targetTable: String): String =
    s"${path(targetTable)}.__compact_stage"

  /** Number of parquet data files under a target table — the
    * fragmentation signal the compaction cadence watches. */
  def dataFileCount(targetTable: String): Long = dataFiles(targetTable).size.toLong

  /** The table's parquet data files. Hidden names are skipped as Spark's
    * reader skips them: a `.` or `_` prefix (`_SUCCESS`, `.crc`, a crashed
    * Spark write's `.spark-staging-*`), except a `_`-name holding `=` (the
    * `_origin_etl_job_id=<id>` partitions). */
  private def dataFiles(targetTable: String): Seq[Path] = {
    def hidden(name: String) =
      name.startsWith(".") || (name.startsWith("_") && !name.contains("="))
    def walk(dir: Path): Seq[Path] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s.getPath).filter(_.getName.endsWith(".parquet"))
      }
    val p = new Path(path(targetTable))
    if (fs.exists(p)) walk(p) else Nil
  }

  def exists(targetTable: String): Boolean = fs.exists(new Path(path(targetTable)))
}
