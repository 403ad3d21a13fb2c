package graft.etl

import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

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
  * contract, src/DatabaseAgent.php:136-142), per load phase
  * ([[loadStale]]): every job row the phase needs is durable before its
  * first data write, and the hashes and `google_modified` commit only after
  * its last. A crash in between leaves stale hashes, so the next run redoes
  * idempotent reloads into the same job partitions.
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

  /** One load phase (R16, R19–R20; reference:
    * src/DatabaseAgentMysql.php:52-87, 198-230) that collects each table once:
    *  1. keep the configured jobs whose spreadsheet has been discovered and
    *     whose (spreadsheet, sheet) is not loaded at the current
    *     `google_modified` (R16); an undiscovered spreadsheet waits for the
    *     tick that discovers it (the cursor only moves forward);
    *  2. ensure their job rows in config order — a new one gets `max(id) + 1`,
    *     a changed `target_table` is re-pointed — and write `__meta_etl_jobs`
    *     once if any row is new or re-pointed, before the first data write;
    *  3. `load` each, in order: it gets the row with the hash on record from
    *     before this load ("" when never loaded) and returns the sheet's hash;
    *  4. in one more replace, also when a load throws, commit the hash and the
    *     spreadsheet's `google_modified` of every job that finished.
    * Returns the kept jobs.
    */
  def loadStale(configs: Seq[EtlConfig])(load: (EtlConfig, EtlJobRow) => String): Seq[EtlConfig] = {
    if (configs.isEmpty) return Nil
    val sheets = spreadsheets.collect()
    val sidOf = sheets.map(s => s.google_spreadsheet_id -> s.id).toMap
    val modifiedOf = sheets.map(s => s.id -> s.google_modified).toMap
    val known = etlJobs.collect().toSeq
    val upToDate = known.filter(j => modifiedOf.get(j.spreadsheet_id).contains(j.google_modified))
      .map(j => (j.spreadsheet_id, j.sheet_name)).toSet
    val stale = configs.filter(c =>
      sidOf.get(c.googleSpreadsheetId).exists(sid => !upToDate((sid, c.sheetName))))

    val rows = mutable.LinkedHashMap.from(known.map(j => (j.spreadsheet_id, j.sheet_name) -> j))
    var maxId = known.map(_.id).maxOption.getOrElse(0L)
    val phase = stale.map { c =>
      val key = (sidOf(c.googleSpreadsheetId), c.sheetName)
      val job = rows.get(key) match {
        case Some(j) => j.copy(target_table = c.targetTable)
        case None => maxId += 1; EtlJobRow(maxId, key._1, key._2, c.targetTable, "", "")
      }
      rows(key) = job
      c -> job
    }
    if (rows.values.toSeq != known) writeJobs(rows.values.toSeq)

    val hashes = mutable.Map.empty[Long, String]
    try phase.foreach { case (c, job) => hashes(job.id) = load(c, job) }
    finally if (hashes.nonEmpty) writeJobs(rows.values.toSeq.map(j => hashes.get(j.id).fold(j)(h =>
      j.copy(google_modified = modifiedOf(j.spreadsheet_id), raw_columns_rows_hash = h))))
    stale
  }

  def spreadsheetIdOf(googleSpreadsheetId: String): Long =
    spreadsheets.collect().find(_.google_spreadsheet_id == googleSpreadsheetId)
      .getOrElse(throw new NoSuchElementException(
        s"Spreadsheet not seen: $googleSpreadsheetId")).id
}
