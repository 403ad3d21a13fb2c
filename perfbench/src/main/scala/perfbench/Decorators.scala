package perfbench

import graft.etl.{GridSource, MetaStorage, SheetGrid, SpreadsheetMeta}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Wall time and call count of one decorated layer. */
final class CallClock {
  var seconds = 0.0
  var calls = 0L
  def apply[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { seconds += (System.nanoTime() - t0) / 1e9; calls += 1 }
  }
  def reset(): Unit = { seconds = 0.0; calls = 0L }
}

/** Times every call into the extract layer. */
final class TimedGridSource(inner: GridSource) extends GridSource {
  val clock = new CallClock
  override def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta] =
    clock(inner.list(cursorModified, cursorId, count))
  override def meta(id: String): Option[SpreadsheetMeta] = clock(inner.meta(id))
  override def grid(id: String, sheetName: String): SheetGrid = clock(inner.grid(id, sheetName))
}

/** Times and counts calls into the accounting storage. `read` only builds
  * a lazy plan; the Spark jobs it feeds are charged by [[Tracer]]. */
final class TimedMetaStorage(inner: MetaStorage) extends MetaStorage {
  val clock = new CallClock
  var reads = 0L
  var replaces = 0L
  override def exists(table: String): Boolean = clock(inner.exists(table))
  override def read(table: String, schema: StructType): DataFrame = {
    reads += 1; clock(inner.read(table, schema))
  }
  override def replace(table: String, df: DataFrame): Unit = {
    replaces += 1; clock(inner.replace(table, df))
  }
  def reset(): Unit = { clock.reset(); reads = 0L; replaces = 0L }
}

/** A deliberately broken extract (`--inject-fault tick`): the first sheet
  * extracted loses its last row, so the loaded table is wrong while the
  * tick itself still completes. */
final class LossyGridSource(inner: GridSource) extends GridSource {
  private var victim: Option[(String, String)] = None
  override def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta] =
    inner.list(cursorModified, cursorId, count)
  override def meta(id: String): Option[SpreadsheetMeta] = inner.meta(id)
  override def grid(id: String, sheetName: String): SheetGrid = {
    val g = inner.grid(id, sheetName)
    if (victim.isEmpty) victim = Some((id, sheetName))
    if (victim.contains((id, sheetName))) g.copy(rows = g.rows.dropRight(1)) else g
  }
}
