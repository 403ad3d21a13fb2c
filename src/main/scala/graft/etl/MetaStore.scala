package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}

/** `__meta_spreadsheets` row (SURVEY.md §1.1.2; reference:
  * src/DatabaseAgentMysql.php:98-106). `google_modified` is an RFC 3339
  * string compared lexically; `last_seen` is Unix seconds.
  */
final case class SpreadsheetSeen(
    id: Long,
    google_spreadsheet_id: String,
    google_modified: String,
    google_spreadsheet_name: String,
    last_seen: Long)

/** `__meta_etl_jobs` row (reference: src/DatabaseAgentMysql.php:111-124);
  * unique on (spreadsheet_id, sheet_name).
  */
final case class EtlJobRow(
    id: Long,
    spreadsheet_id: Long,
    sheet_name: String,
    target_table: String,
    google_modified: String,
    raw_columns_rows_hash: String)

/** The ETL accounting store (R14–R17, R19–R20, R25).
  *
  * Both tables are metadata-scale: one row per tracked spreadsheet and one
  * per configured (spreadsheet, sheet). Every operation is the reference's
  * small SQL upsert or lookup (src/DatabaseAgentMysql.php:24-230), done on
  * the driver: a method collects each table it needs at most once, decides
  * over the rows, and hands each table it changes to
  * [[MetaStorage.replace]] at most once. Physical storage stays behind the
  * [[MetaStorage]] trait (R27), so the same semantics run on any backend.
  *
  * Ordering invariant (SURVEY.md §7.4; the reference's "no partial effect"
  * contract, src/DatabaseAgent.php:136-142): per sheet, a new job row is
  * durable before its first data write ([[ensureJob]]), and the hash and
  * `google_modified` commit only after the data ([[commitJob]]). A crash in
  * between leaves a stale hash, so the next run redoes an idempotent reload.
  */
final class MetaStore(spark: SparkSession, storage: MetaStorage) {
  import spark.implicits._

  /** Parquet-snapshot convenience constructor (the default backend). */
  def this(spark: SparkSession, root: String) =
    this(spark, new SnapshotMetaStorage(spark, root))

  /** Snapshot backend with R26 name qualification: schema/prefix apply to
    * the accounting tables exactly as the reference qualifies them
    * (src/DatabaseAgentMysql.php:98,111 render accounting DDL through
    * `quotedFullyQualifiedTableName`), so two prefixed configs sharing one
    * warehouse root keep separate accounting too.
    */
  def this(spark: SparkSession, root: String, naming: TableNaming) =
    this(spark, new SnapshotMetaStorage(spark, root, naming))

  val SpreadsheetsTable = "__meta_spreadsheets"
  val EtlJobsTable = "__meta_etl_jobs"

  private val spreadsheetsSchema =
    org.apache.spark.sql.Encoders.product[SpreadsheetSeen].schema
  private val etlJobsSchema =
    org.apache.spark.sql.Encoders.product[EtlJobRow].schema

  /** Idempotent accounting DDL (R25; reference contract:
    * src/DatabaseAgent.php:119-124 "Calling this method twice shall not
    * cause data loss or error").
    */
  def setUpAccounting(): Unit = {
    if (!storage.exists(SpreadsheetsTable)) writeSpreadsheets(Nil)
    if (!storage.exists(EtlJobsTable)) writeJobs(Nil)
  }

  def spreadsheets: Dataset[SpreadsheetSeen] =
    storage.read(SpreadsheetsTable, spreadsheetsSchema).as[SpreadsheetSeen]

  def etlJobs: Dataset[EtlJobRow] =
    storage.read(EtlJobsTable, etlJobsSchema).as[EtlJobRow]

  private def writeSpreadsheets(rows: Seq[SpreadsheetSeen]): Unit =
    storage.replace(SpreadsheetsTable, rows.toDS().toDF())

  private def writeJobs(rows: Seq[EtlJobRow]): Unit =
    storage.replace(EtlJobsTable, rows.toDS().toDF())

  /** Checkpoint read (R14; reference: src/DatabaseAgentMysql.php:24-35):
    * greatest `(google_modified, google_spreadsheet_id)` lexical tuple.
    */
  def getGreatestModified(): Option[(String, String)] =
    spreadsheets.collect()
      .map(s => (s.google_modified, s.google_spreadsheet_id)).maxOption

  /** Audit pick (R15; reference: src/DatabaseAgentMysql.php:38-49): id with
    * smallest `last_seen` (id tie-break added for determinism — the
    * reference's bare `ORDER BY last_seen LIMIT 1` leaves ties unspecified).
    */
  def getOldestSeen(): Option[String] =
    spreadsheets.collect()
      .map(s => (s.last_seen, s.google_spreadsheet_id)).minOption.map(_._2)

  /** Upsert spreadsheets-seen (R17; reference:
    * src/DatabaseAgentMysql.php:130-149): last-writer-wins keyed on the
    * unique `google_spreadsheet_id`; new keys get fresh increasing ids,
    * `max(id) + rank` in `google_spreadsheet_id` order (reference keeps ids
    * increasing for insert speed, src/DatabaseAgent.php:17-18 — here they
    * are stable FK targets).
    */
  def setSpreadsheetsSeen(metas: Seq[SpreadsheetMeta], lastSeen: Long): Unit = {
    if (metas.isEmpty) return
    val existing = spreadsheets.collect()
    val idOf = existing.map(s => s.google_spreadsheet_id -> s.id).toMap
    val incoming = metas.map(m => m.id -> m).toMap // a later duplicate wins
    val maxId = existing.map(_.id).maxOption.getOrElse(0L)
    val newIds = incoming.keys.filterNot(idOf.contains).toSeq.sorted
      .zipWithIndex.map { case (k, i) => k -> (maxId + i + 1) }.toMap
    val upserted = incoming.values.map(m => SpreadsheetSeen(
      idOf.getOrElse(m.id, newIds(m.id)), m.id, m.modifiedTime, m.name, lastSeen))
    writeSpreadsheets(
      existing.filterNot(s => incoming.contains(s.google_spreadsheet_id)).toSeq ++ upserted)
  }

  def setSpreadsheetSeen(meta: SpreadsheetMeta, lastSeen: Long): Unit =
    setSpreadsheetsSeen(Seq(meta), lastSeen)

  /** Change filter (R16; reference: src/DatabaseAgentMysql.php:52-87):
    * keep jobs whose spreadsheet has been discovered and whose
    * (spreadsheet, sheet) is not already loaded at the current
    * `google_modified`. A configured spreadsheet beyond the discovery pages
    * read so far waits for the tick that discovers it; the cursor only
    * moves forward, so that tick comes.
    */
  def filterExtractable(jobs: Seq[EtlConfig]): Seq[EtlConfig] = {
    if (jobs.isEmpty) return jobs
    val byId = spreadsheets.collect().map(s => s.id -> s).toMap
    val discovered = byId.values.map(_.google_spreadsheet_id).toSet
    val upToDate = etlJobs.collect().flatMap(j => byId.get(j.spreadsheet_id)
      .filter(_.google_modified == j.google_modified)
      .map(s => (s.google_spreadsheet_id, j.sheet_name))).toSet
    jobs.filter(j => discovered(j.googleSpreadsheetId) &&
      !upToDate((j.googleSpreadsheetId, j.sheetName)))
  }

  /** Ensure the job row exists and return it: its id is the lineage FK,
    * and its `raw_columns_rows_hash` is the hash on record from before this
    * load (R19; reference: src/DatabaseAgentMysql.php:198-211), "" when
    * never loaded. Writes only a new row or a re-pointed `target_table`;
    * `google_modified` and the hash advance in [[commitJob]], after the
    * target data is durably written.
    */
  def ensureJob(googleSpreadsheetId: String, sheetName: String, targetTable: String): EtlJobRow = {
    val sid = spreadsheetIdOf(googleSpreadsheetId)
    val jobs = etlJobs.collect().toSeq
    jobs.find(j => j.spreadsheet_id == sid && j.sheet_name == sheetName) match {
      case Some(job) if job.target_table == targetTable => job
      case Some(job) => // target table may legitimately be re-pointed by config
        val moved = job.copy(target_table = targetTable)
        writeJobs(jobs.map(j => if (j.id == job.id) moved else j))
        moved
      case None =>
        val job = EtlJobRow(jobs.map(_.id).maxOption.getOrElse(0L) + 1, sid,
          sheetName, targetTable, "", "")
        writeJobs(jobs :+ job)
        job
    }
  }

  /** Post-load accounting commit (R20 upsert's hash/modified half;
    * reference: src/DatabaseAgentMysql.php:213-230 — the reference copies
    * the spreadsheet row's current `google_modified` into the job row).
    */
  def commitJob(googleSpreadsheetId: String, sheetName: String, hash: String): Unit = {
    val sheet = seen(googleSpreadsheetId)
    writeJobs(etlJobs.collect().toSeq.map(j =>
      if (j.spreadsheet_id == sheet.id && j.sheet_name == sheetName)
        j.copy(google_modified = sheet.google_modified, raw_columns_rows_hash = hash)
      else j))
  }

  def spreadsheetIdOf(googleSpreadsheetId: String): Long = seen(googleSpreadsheetId).id

  private def seen(googleSpreadsheetId: String): SpreadsheetSeen =
    spreadsheets.collect().find(_.google_spreadsheet_id == googleSpreadsheetId)
      .getOrElse(throw new NoSuchElementException(
        s"Spreadsheet not seen: $googleSpreadsheetId"))
}
