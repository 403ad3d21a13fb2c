package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Target-table storage (R18, R22, R23; SURVEY.md §1.1.3).
  *
  * Each target table is a parquet directory partitioned by
  * `_origin_etl_job_id`, so the reference's delete-then-reload
  * (`DELETE FROM t WHERE _origin_etl_job_id = ?` + chunked INSERTs,
  * reference: src/DatabaseAgentMysql.php:254-289) becomes a *dynamic
  * partition overwrite* — a metadata-only swap of one job's partition that
  * never touches other jobs' data. At 100 TB / thousands of jobs this is
  * the only shape that keeps reloads O(changed sheet), not O(table).
  *
  * Schema evolution is additive-only (reference:
  * src/DatabaseAgentMysql.php:171-178): new columns simply appear in new
  * partition files; reads use `mergeSchema` so old partitions surface the
  * new columns as null. Columns are never dropped or retyped — all data
  * columns are StringType (SURVEY.md §1.2: stringly-typed end-to-end; the
  * reference's VARCHAR(100) truncation is disabled, so no cap here either).
  */
final class TargetStore(
    spark: SparkSession,
    root: String,
    naming: TableNaming = TableNaming.none,
    rowsPerChunk: Int = 100000) {

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
    * (SURVEY.md §7.4) — assigned here from the grid's row order.
    */
  def loadJobRows(
      targetTable: String,
      jobId: Long,
      columnNames: Seq[String],
      rows: Seq[Seq[Option[String]]]): Unit = {
    val schema = StructType(
      StructField("_origin_etl_job_id", LongType, nullable = false) +:
      StructField("_origin_row", LongType, nullable = false) +:
      columnNames.map(StructField(_, StringType, nullable = true)))
    val sparkRows = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(jobId +: i.toLong +: r.map(_.orNull))
    }
    // Grids are driver-bounded (Sheets API model); parallelize suffices.
    // `rowsPerChunk` sets the write fan-out for big sheets (one file per
    // chunk in the job's partition — the fragmentation `compact` repairs).
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(sparkRows.toSeq, math.max(1, rows.size / rowsPerChunk + 1)),
      schema)
    replaceJobPartition(targetTable, df)
  }

  /** Partition-overwrite write (R22+R23): replaces exactly the partitions
    * present in `df` (one job id), leaving all others untouched.
    */
  def replaceJobPartition(targetTable: String, df: DataFrame): Unit =
    df.write
      .partitionBy("_origin_etl_job_id")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path(targetTable))

  /** Read a target table with additive schema merged across partitions. */
  def read(targetTable: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path(targetTable))

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
    * its own target), then dynamic-partition-overwrite back — the SAME
    * per-partition swap a reload uses. That swap's commit deletes each
    * partition and then renames the staged copy in, so a crash between
    * the two leaves one partition missing from the table, while the
    * stage, marked complete by its `_SUCCESS`, still holds its rows. The
    * stage is therefore removed only after the swap returns, and every
    * run first settles a leftover one: a complete stage restores each
    * partition the table lacks (a partition still present is either
    * uncompacted with the same rows or reloaded since, and must not be
    * overwritten with staged rows), an incomplete stage is deleted.
    * Between a crash and the next run the lost partition reads as empty.
    * Returns (files before, files after).
    */
  def compact(targetTable: String): (Long, Long) = {
    val p = path(targetTable)
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(compactStage(targetTable))
    if (fs.exists(new Path(stage, "_SUCCESS")))
      fs.listStatus(stage).map(_.getPath)
        .filter(_.getName.startsWith("_origin_etl_job_id="))
        .filterNot(part => fs.exists(new Path(p, part.getName)))
        .foreach { part =>
          fs.mkdirs(new Path(p))
          if (!fs.rename(part, new Path(p, part.getName)))
            throw new java.io.IOException(s"Cannot restore $part into $p")
        }
    fs.delete(stage, true)
    val before = dataFileCount(targetTable)
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
  def dataFileCount(targetTable: String): Long = {
    val p = new Path(path(targetTable))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")) n += 1
      }
      n
    }
  }

  def exists(targetTable: String): Boolean = {
    val p = new Path(path(targetTable))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
