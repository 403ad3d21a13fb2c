package graft.etl

/** Orchestration (R28–R31; reference: src/Tasks.php).
  *
  * The discovery protocol is a checkpointed micro-batch stream
  * (SURVEY.md §2.1 Streaming): a totally-ordered log keyed by
  * `(modifiedTime, id)` with the cursor persisted in the warehouse itself
  * (R14), at-least-once delivery made safe by upsert (R17) + content-hash
  * skip (R21). The batch loop here is the faithful idiom; the same offsets
  * also back the Structured Streaming variant
  * ([[GridDiscoveryProvider]], SURVEY.md §7.5).
  *
  * Each load is one [[MetaStore.loadStale]] phase, which keeps the §7.4
  * order across the phase's sheets: job rows are written before the first
  * data write, and hashes are committed after the last.
  *
  * `loadTime` is captured once per run and stamps every `last_seen`
  * (reference: src/DatabaseAgent.php:86). Building a `Tasks` also starts
  * the accounting store's tick-scoped copy ([[MetaStore.beginTick]]): one
  * run reads each accounting table at most once.
  */
final class Tasks(
    source: GridSource,
    meta: MetaStore,
    targets: TargetStore,
    val loadTime: Long = System.currentTimeMillis() / 1000) {

  meta.beginTick()

  /** Default cursor epoch (reference: src/Tasks.php:36-41) — the
    * discovery stream's [[CursorOffset.Epoch]].
    */
  val defaultCursor: (String, String) =
    (CursorOffset.Epoch.modifiedTime, CursorOffset.Epoch.id)

  private var etlConfigs: Seq[EtlConfig] = Nil

  def loadConfiguration(path: String): Unit = setConfiguration(EtlConfig.fromFile(path))
  def configuration: Seq[EtlConfig] = etlConfigs

  /** Rejects two entries for one (spreadsheet, sheet): `__meta_etl_jobs` is
    * unique on that key, so one sheet feeds one target.
    */
  def setConfiguration(configs: Seq[EtlConfig]): Unit = {
    val keys = configs.map(c => (c.googleSpreadsheetId, c.sheetName))
    keys.diff(keys.distinct).headOption.foreach { case (id, sheet) =>
      throw new EtlConfigException(s"Two config entries for spreadsheet $id sheet $sheet")
    }
    etlConfigs = configs
  }

  /** Discovery micro-batch (R28; reference: src/Tasks.php:34-56): read the
    * persisted cursor, list ≤`count` spreadsheets from it (keyset `>=` +
    * tuple tie-break ⇒ deterministic paging through ties), upsert each as
    * seen. Returns how many were seen.
    */
  def findSomeUpdatedSpreadsheets(count: Int = 200): Int = {
    val (cursorModified, cursorId) = meta.getGreatestModified().getOrElse(defaultCursor)
    val found = source.list(cursorModified, cursorId, count)
    meta.setSpreadsheetsSeen(found, loadTime)
    found.size
  }

  /** Load loop (R29; reference: src/Tasks.php:58-65): filter configured jobs
    * to those discovered and stale or never loaded (R16), then load **in
    * order** — the cursor is min-based, so skipping is not allowed; any
    * failure aborts, after the sheets before it are committed.
    */
  def loadSomeUpdatedSpreadsheets(): Seq[EtlConfig] = meta.loadStale(etlConfigs)(loadSheet)

  /** Streaming micro-batch composite — the `foreachBatch` body of the
    * streaming discovery mode ([[GridDiscoveryProvider]], EtlMain
    * `--stream`): upsert the batch's discovered spreadsheets as seen
    * (R17), then filter THIS batch's configured jobs for staleness (R16)
    * and load them in order (R29/R31). Redelivery-safe: every effect is
    * an upsert or an idempotent hash-gated reload, so at-least-once
    * delivery from the stream yields exactly-once observable state —
    * the same §7.4 protocol the batch loop relies on.
    */
  def loadDiscoveredBatch(seen: Seq[SpreadsheetMeta]): Seq[EtlConfig] =
    if (seen.isEmpty) Nil
    else {
      meta.setSpreadsheetsSeen(seen, loadTime)
      val ids = seen.map(_.id).toSet
      meta.loadStale(etlConfigs.filter(c => ids(c.googleSpreadsheetId)))(loadSheet)
    }

  /** Access audit (R30; reference: src/Tasks.php:67-98): re-verify the
    * least-recently-seen spreadsheet; false ⇒ it became inaccessible.
    * Vacuously true when nothing is tracked.
    */
  def verifyOldestSpreadsheet(): Boolean =
    meta.getOldestSeen() match {
      case None => true
      case Some(id) =>
        source.meta(id) match {
          case None => false
          case Some(m) => meta.setSpreadsheetSeen(m, loadTime); true
        }
    }

  /** Per-sheet ETL composite (R31; reference: src/Tasks.php:100-143):
    * extract grid → resolve headers (errors wrapped with the spreadsheet
    * URL, reference :116-123) → normalize output names → hash-skip or
    * project/skip/pad → partition-overwrite load into `job`'s partition.
    * Returns the grid hash for the phase's accounting commit.
    */
  private def loadSheet(cfg: EtlConfig, job: EtlJobRow): String = {
    val grid = source.grid(cfg.googleSpreadsheetId, cfg.sheetName)
    val selectors =
      try grid.columnSelectorsFromHeaderRow(cfg.columnMapping.map(_._2), cfg.headerRow)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"${e.getMessage} in spreadsheet " +
          s"https://docs.google.com/spreadsheets/d/${cfg.googleSpreadsheetId} " +
          s"sheet ${cfg.sheetName}", e)
      }
    val outNames = Normalize.columnNames(cfg.columnMapping.map(_._1))

    // R19/R21: the job row carries the hash on record from before this load.
    if (job.raw_columns_rows_hash != grid.hash) {
      targets.loadJobRows(cfg.targetTable, job.id, outNames,
        grid.toRows(selectors, cfg.skipRows))
    }
    grid.hash
  }
}
