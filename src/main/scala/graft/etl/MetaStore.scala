package graft.etl

import org.apache.spark.sql.{Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
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

/** The stored form of [[SpreadsheetSeen]]: the table schema, and the row
  * codec that [[MetaStore]] decides over (by field name, no encoder). */
object SpreadsheetSeen {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("google_spreadsheet_id", StringType),
    StructField("google_modified", StringType),
    StructField("google_spreadsheet_name", StringType),
    StructField("last_seen", LongType, nullable = false)))

  def toRow(s: SpreadsheetSeen): Row =
    Row(s.id, s.google_spreadsheet_id, s.google_modified, s.google_spreadsheet_name, s.last_seen)

  def fromRow(r: Row): SpreadsheetSeen = SpreadsheetSeen(
    r.getAs[Long]("id"), r.getAs[String]("google_spreadsheet_id"),
    r.getAs[String]("google_modified"), r.getAs[String]("google_spreadsheet_name"),
    r.getAs[Long]("last_seen"))
}

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

/** The stored form of [[EtlJobRow]], as for [[SpreadsheetSeen]]. */
object EtlJobRow {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("spreadsheet_id", LongType, nullable = false),
    StructField("sheet_name", StringType),
    StructField("target_table", StringType),
    StructField("google_modified", StringType),
    StructField("raw_columns_rows_hash", StringType)))

  def toRow(j: EtlJobRow): Row = Row(j.id, j.spreadsheet_id, j.sheet_name, j.target_table,
    j.google_modified, j.raw_columns_rows_hash)

  def fromRow(r: Row): EtlJobRow = EtlJobRow(
    r.getAs[Long]("id"), r.getAs[Long]("spreadsheet_id"), r.getAs[String]("sheet_name"),
    r.getAs[String]("target_table"), r.getAs[String]("google_modified"),
    r.getAs[String]("raw_columns_rows_hash"))
}

/** The ETL accounting store (R14–R17, R19–R20, R25).
  *
  * Both tables are metadata-scale: one row per tracked spreadsheet and one
  * per configured (spreadsheet, sheet). Every operation is the reference's
  * small SQL upsert or lookup (src/DatabaseAgentMysql.php:24-230), decided
  * in process over plain case-class rows, with no Spark plan: the tick moves
  * rows to and from storage only through [[MetaStorage.readRows]] and
  * [[MetaStorage.replaceRows]], and a method hands each table it changes to
  * [[MetaStorage.replaceRows]] at most once. Physical storage stays behind
  * the [[MetaStorage]] trait (R27), so the same semantics run on any
  * backend.
  *
  * Tick-scoped copy: the store keeps one in-memory copy of each table. The
  * first use of a table reads it from storage; a replace that returns sets
  * the copy to the rows just written, and a replace that throws drops it,
  * so the next use reads storage again. Building a [[Tasks]] starts a fresh
  * copy ([[beginTick]]), so every scheduled run, idle ones included, reads
  * each table at most once and a cold run, whose [[setUpAccounting]] writes
  * both tables, reads none. The copy assumes a single writer: nothing but
  * this store changes the tables while a tick runs. Two concurrent
  * `EtlMain` runs over one warehouse were never supported (their commits
  * would race even without the copy). [[spreadsheets]] and [[etlJobs]]
  * bypass the copy and read storage.
  *
  * Ordering invariant (SURVEY.md §7.4; the reference's "no partial effect"
  * contract, src/DatabaseAgent.php:136-142), per load phase
  * ([[loadStale]]): every job row the phase needs is durable before its
  * first data write, and the hashes and `google_modified` commit only after
  * its last. A crash in between leaves stale hashes, so the next run redoes
  * idempotent reloads into the same job partitions.
  */
final class MetaStore(spark: SparkSession, storage: MetaStorage) {
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

  /** One accounting table and its tick-scoped copy. */
  private final class Table[T](name: String, schema: StructType,
      toRow: T => Row, fromRow: Row => T) {
    private var copy: Option[Vector[T]] = None

    def rows: Vector[T] = copy.getOrElse {
      val read = storage.readRows(name, schema).iterator.map(fromRow).toVector
      copy = Some(read)
      read
    }

    def replace(rows: Seq[T]): Unit = {
      copy = None // stays dropped if the replace throws
      storage.replaceRows(name, schema, rows.map(toRow))
      copy = Some(rows.toVector)
    }

    def forget(): Unit = copy = None
  }

  private val sheets = new Table[SpreadsheetSeen](SpreadsheetsTable,
    SpreadsheetSeen.schema, SpreadsheetSeen.toRow, SpreadsheetSeen.fromRow)
  private val jobs = new Table[EtlJobRow](EtlJobsTable,
    EtlJobRow.schema, EtlJobRow.toRow, EtlJobRow.fromRow)

  /** Drops the copy of both tables: the next use of each reads storage. */
  private[etl] def beginTick(): Unit = { sheets.forget(); jobs.forget() }

  /** Idempotent accounting DDL (R25; reference contract:
    * src/DatabaseAgent.php:119-124 "Calling this method twice shall not
    * cause data loss or error").
    */
  def setUpAccounting(): Unit = {
    if (!storage.exists(SpreadsheetsTable)) sheets.replace(Nil)
    if (!storage.exists(EtlJobsTable)) jobs.replace(Nil)
  }

  /** The stored table, read from storage (not the tick's copy). */
  def spreadsheets: Dataset[SpreadsheetSeen] =
    storage.read(SpreadsheetsTable, SpreadsheetSeen.schema).as(Encoders.product[SpreadsheetSeen])

  /** The stored table, read from storage (not the tick's copy). */
  def etlJobs: Dataset[EtlJobRow] =
    storage.read(EtlJobsTable, EtlJobRow.schema).as(Encoders.product[EtlJobRow])

  /** Checkpoint read (R14; reference: src/DatabaseAgentMysql.php:24-35):
    * greatest `(google_modified, google_spreadsheet_id)` lexical tuple.
    */
  def getGreatestModified(): Option[(String, String)] =
    sheets.rows.map(s => (s.google_modified, s.google_spreadsheet_id)).maxOption

  /** Audit pick (R15; reference: src/DatabaseAgentMysql.php:38-49): id with
    * smallest `last_seen` (id tie-break added for determinism — the
    * reference's bare `ORDER BY last_seen LIMIT 1` leaves ties unspecified).
    */
  def getOldestSeen(): Option[String] =
    sheets.rows.map(s => (s.last_seen, s.google_spreadsheet_id)).minOption.map(_._2)

  /** Upsert spreadsheets-seen (R17; reference:
    * src/DatabaseAgentMysql.php:130-149): last-writer-wins keyed on the
    * unique `google_spreadsheet_id`; new keys get fresh increasing ids,
    * `max(id) + rank` in `google_spreadsheet_id` order (reference keeps ids
    * increasing for insert speed, src/DatabaseAgent.php:17-18 — here they
    * are stable FK targets).
    */
  def setSpreadsheetsSeen(metas: Seq[SpreadsheetMeta], lastSeen: Long): Unit = {
    if (metas.isEmpty) return
    val existing = sheets.rows
    val idOf = existing.map(s => s.google_spreadsheet_id -> s.id).toMap
    val incoming = metas.map(m => m.id -> m).toMap // a later duplicate wins
    val maxId = existing.map(_.id).maxOption.getOrElse(0L)
    val newIds = incoming.keys.filterNot(idOf.contains).toSeq.sorted
      .zipWithIndex.map { case (k, i) => k -> (maxId + i + 1) }.toMap
    val upserted = incoming.values.map(m => SpreadsheetSeen(
      idOf.getOrElse(m.id, newIds(m.id)), m.id, m.modifiedTime, m.name, lastSeen))
    sheets.replace(existing.filterNot(s => incoming.contains(s.google_spreadsheet_id)) ++ upserted)
  }

  def setSpreadsheetSeen(meta: SpreadsheetMeta, lastSeen: Long): Unit =
    setSpreadsheetsSeen(Seq(meta), lastSeen)

  /** One load phase (R16, R19–R20; reference:
    * src/DatabaseAgentMysql.php:52-87, 198-230), decided over the tick's copy:
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
    val seen = sheets.rows
    val sidOf = seen.map(s => s.google_spreadsheet_id -> s.id).toMap
    val modifiedOf = seen.map(s => s.id -> s.google_modified).toMap
    val known = jobs.rows
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
    if (rows.values.toSeq != known) jobs.replace(rows.values.toSeq)

    val hashes = mutable.Map.empty[Long, String]
    try phase.foreach { case (c, job) => hashes(job.id) = load(c, job) }
    finally if (hashes.nonEmpty) jobs.replace(rows.values.toSeq.map(j => hashes.get(j.id).fold(j)(h =>
      j.copy(google_modified = modifiedOf(j.spreadsheet_id), raw_columns_rows_hash = h))))
    stale
  }

  def spreadsheetIdOf(googleSpreadsheetId: String): Long =
    sheets.rows.find(_.google_spreadsheet_id == googleSpreadsheetId)
      .getOrElse(throw new NoSuchElementException(
        s"Spreadsheet not seen: $googleSpreadsheetId")).id
}
