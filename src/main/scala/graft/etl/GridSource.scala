package graft.etl

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Spreadsheet metadata as surfaced by discovery (R1/R2).
  * `modifiedTime` is an RFC 3339 *string*, ordered lexically — never a
  * timestamp type (SURVEY.md §7.4 lexical-timestamp cursor).
  */
final case class SpreadsheetMeta(id: String, modifiedTime: String, name: String)

/** The extract boundary (SURVEY.md §2 R1–R5): list spreadsheets modified
  * since a keyset cursor, fetch one file's metadata, fetch a whole sheet
  * grid. Implementations: [[LocalGridSource]] (zero-egress fixtures) and a
  * REST-backed Google source (out of scope here — no egress; its retry
  * policy is [[Retry]]).
  */
trait GridSource {

  /** Discovery scan (R1; reference: src/GoogleSheetsAgent.php:91-123):
    * spreadsheets with `(modifiedTime, id) >= cursor`, ordered by that
    * tuple, at most `count`. The tuple re-filter is the keyset-pagination
    * guarantee (reference :115-119).
    */
  def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta]

  /** Single-file metadata (R2); None ⇒ inaccessible ("File not found"). */
  def meta(id: String): Option[SpreadsheetMeta]

  /** Full-grid extract (R3): the whole sheet as trimmed strings + raw hash. */
  def grid(id: String, sheetName: String): SheetGrid
}

/** One grid fixture file in the FIXTURES.md §1 shape ({spreadsheetId,
  * sheetName, modifiedTime, name?, values}); `name` defaults to the id.
  */
final case class GridFixture(file: String, id: String, sheetName: String,
    modifiedTime: String, name: String, values: Seq[Seq[String]])

/** The one reader of the fixture shape — [[LocalGridSource]], the DSv2
  * scan's planning and its partition reader all parse through it.
  */
object GridFixture {
  private val mapper = new ObjectMapper()

  def read(file: Path): GridFixture = {
    val n = mapper.readTree(Files.readAllBytes(file))
    val id = n.get("spreadsheetId").asText()
    GridFixture(file.toString, id, n.get("sheetName").asText(),
      n.get("modifiedTime").asText(),
      Option(n.get("name")).map(_.asText()).getOrElse(id),
      n.get("values").elements().asScala.map(row =>
        row.elements().asScala.map(_.asText()).toSeq).toSeq)
  }

  /** Every `.json` fixture in `dir`, in file-name order. The directory
    * stream is closed before the files are parsed: an open one holds a
    * descriptor, and discovery lists the directory on every tick.
    */
  def all(dir: String): Seq[GridFixture] =
    Using.resource(Files.list(Paths.get(dir)))(_.iterator().asScala
        .filter(_.toString.endsWith(".json")).toSeq.sortBy(_.toString))
      .map(read)
}

/** Fixture-backed source: a directory of [[GridFixture]] files, one per
  * (spreadsheet, sheet); a spreadsheet's modifiedTime is the max over its
  * sheets' files.
  */
final class LocalGridSource(dir: String) extends GridSource {
  private def bySpreadsheet: Seq[SpreadsheetMeta] =
    GridFixture.all(dir).groupBy(_.id).map { case (id, fs) =>
      val latest = fs.maxBy(f => (f.modifiedTime, f.sheetName))
      SpreadsheetMeta(id, latest.modifiedTime, latest.name)
    }.toSeq

  override def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta] =
    bySpreadsheet
      // keyset tuple filter, `>=` with id tie-break (reference :115-119)
      .filter(m => m.modifiedTime > cursorModified ||
        (m.modifiedTime == cursorModified && m.id >= cursorId))
      .sortBy(m => (m.modifiedTime, m.id))
      .take(count)

  override def meta(id: String): Option[SpreadsheetMeta] =
    bySpreadsheet.find(_.id == id)

  override def grid(id: String, sheetName: String): SheetGrid = {
    val f = GridFixture.all(dir).find(f => f.id == id && f.sheetName == sheetName)
      .getOrElse(throw new NoSuchElementException(s"No grid fixture: $id/$sheetName"))
    SheetGrid.fromValues(f.values)
  }
}

/** Retry/backoff middleware semantics (R4; reference:
  * src/GoogleSheetsAgent.php:30-64): ≤5 retries on retryable failures,
  * delay `1000·2^n + jitter(0..1000)` ms. Sleeper/jitter injectable so the
  * policy is unit-testable without wall-clock.
  */
object Retry {
  val MaxRetries = 5
  val RetryStatuses: Set[Int] = Set(429, 500, 502, 503, 504)

  /** Default retry predicate: transport-level failures only (the
    * reference's middleware retries connect exceptions and the
    * [[RetryStatuses]]; status-based retry needs the caller's response
    * model, so HTTP callers pass their own predicate — see
    * [[GoogleGridSource]]). A catch-all default would silently retry
    * non-transient bugs (parse errors, contract violations) five times
    * with exponential sleep before surfacing them.
    */
  def defaultRetryable(e: Throwable): Boolean = e.isInstanceOf[java.io.IOException]

  def delayMillis(retry: Int, jitter: Int => Int = scala.util.Random.nextInt): Long =
    1000L * (1L << retry) + jitter(1000)

  def apply[T](maxRetries: Int = MaxRetries,
               isRetryable: Throwable => Boolean = defaultRetryable,
               sleep: Long => Unit = Thread.sleep)(body: => T): T = {
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: Throwable if attempt < maxRetries && isRetryable(e) =>
          sleep(delayMillis(attempt)); attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
