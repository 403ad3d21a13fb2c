package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The exactly-once micro-batch sink protocol shared by [[DocStream]] and
  * [[EmbedStream]] — ONE implementation of the safety-critical pieces
  * (commit markers, epoch listing, checkpoint-block release) so the two
  * streams cannot drift on crash semantics.
  *
  * Markers live on the SAME filesystem as the data, through the Hadoop
  * FileSystem API resolved from the index path: a driver-local
  * `java.nio.file` marker would silently break exactly-once for any
  * `s3a://`/`hdfs://` index or after a driver failover — the marker
  * would be written and checked on whichever machine happens to run the
  * batch while the data lands remotely.
  */
private[graft] object BatchProtocol {

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  private def markerPath(indexPath: String, batchId: Long) =
    new Path(s"$indexPath/_commits/$batchId")

  /** The compaction watermark's file-name prefix: ONE
    * `_commits/compacted_through=N` file replaces the N individual
    * markers of compacted epochs, so marker count is bounded by
    * compaction cadence exactly as data-file count is. The value lives
    * in the NAME (the file is empty) so [[copyCommits]] migrates it
    * verbatim with the markers.
    */
  private val WatermarkPrefix = "compacted_through="

  /** Highest batch id folded into a consolidated epoch (-1 if never
    * compacted). Max over watermark files: a crash between writing the
    * new watermark and deleting the old leaves both, and max is the
    * truth.
    */
  def compactedThrough(spark: SparkSession, indexPath: String): Long = {
    val f = fs(spark, indexPath)
    val dir = new Path(s"$indexPath/_commits")
    if (!f.exists(dir)) -1L
    else f.listStatus(dir).iterator.map(_.getPath.getName)
      .filter(_.startsWith(WatermarkPrefix))
      .map(_.stripPrefix(WatermarkPrefix).toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Has `batchId` fully committed (both sinks written)? An epoch at or
    * below the compaction watermark counts as committed even after its
    * individual marker is dropped — its bands live on in the
    * consolidated epoch, whose id can never equal a live batch id, so a
    * redelivered compacted batch would NOT exclude its own bands from
    * the index read and would silently emit nothing. The watermark
    * check is what keeps marker collapse from reopening that loss.
    */
  def committed(spark: SparkSession, indexPath: String, batchId: Long): Boolean =
    fs(spark, indexPath).exists(markerPath(indexPath, batchId)) ||
      (batchId >= 0 && batchId <= compactedThrough(spark, indexPath))

  /** Write the commit marker — the LAST step of a batch. */
  def commit(spark: SparkSession, indexPath: String, batchId: Long): Unit = {
    val f = fs(spark, indexPath)
    f.mkdirs(new Path(s"$indexPath/_commits"))
    f.create(markerPath(indexPath, batchId), true).close()
  }

  /** The `batch_id=N` epoch ids present under the index directory. */
  def epochIds(spark: SparkSession, indexPath: String): Seq[Long] = {
    val f = fs(spark, indexPath)
    val root = new Path(indexPath)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong)
  }

  /** Per-(session, root) memo of the root's INFERRED
    * parquet schema — the [[graft.Tables]] schema-memo stance for the
    * stream roots (r22): every serve paid a footer-inference job per
    * read, over a layout that is FROZEN per root kind (epochs add
    * partition VALUES, never columns). The value carries the root
    * directory's mtime ([[graft.Tables.atMtime]]), so a new/removed
    * epoch dir (the only events that could accompany a layout change)
    * re-infers; an in-place epoch overwrite
    * (crash redelivery) keeps the same writer schema by construction.
    * The memoized schema is the reader's own inference output — the
    * DataFrame is byte-identical.
    */
  private[graft] val rootSchemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, org.apache.spark.sql.types.StructType)]

  /** The index's SERVABLE rows: every epoch EXCEPT those superseded by
    * a present consolidated epoch. For each consolidated id c ≤ −2 the
    * epochs in [0, −c−2] are its merged originals, AND every LESS
    * negative consolidated id (an earlier consolidation at a lower
    * watermark) and the −1 re-band epoch are merged in too
    * ([[compactIndex]] folds `batch_id ≤ upToBatch`, negatives
    * included) — all left behind only by a compaction crash between
    * the consolidated rename and the epoch cleanup. So among ids ≤ −2
    * only the MOST negative (highest-watermark) one serves; −1 serves
    * only when no consolidated epoch exists at all (once one does, any
    * −1 beside it is either a merged leftover — masked here — or a
    * post-watermark re-band copy, which the migration protocol rules
    * out by re-banding BEFORE streaming resumes, never beside live
    * consolidations).
    *
    * Semi/anti-join consumers (the dedup index reads) are
    * duplicate-neutral and may read the raw union, but a consumer that
    * AGGREGATES index rows (the lexical serve's df/N/L/tf folds) or
    * returns them as RESULTS (the IVF probe's top-k) would double-count
    * through that crash window until the redelivered compaction cleans
    * up — such consumers must read through here. Returns None when the
    * root holds no epoch at all (a new deployment probed before its
    * first batch — "empty index", not a read error).
    */
  def readServable(spark: SparkSession, indexPath: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.functions.col
    val epochs = epochIds(spark, indexPath)
    if (epochs.isEmpty) None
    else {
      val consolidated = epochs.filter(_ <= -2)
      val raw = spark.read.schema(graft.Tables.atMtime(rootSchemaMemo,
        (spark.sparkContext.applicationId, indexPath),
        fs(spark, indexPath).getFileStatus(new Path(indexPath))
          .getModificationTime)(spark.read.parquet(indexPath).schema))
        .parquet(indexPath)
      Some(if (consolidated.isEmpty) raw
      else {
        val keep = consolidated.min // most negative = highest watermark
        val covered = -keep - 2
        raw.filter(col("batch_id").cast("long") === keep ||
          col("batch_id").cast("long") > covered)
      })
    }
  }

  /** Migration precondition: every stream epoch (id ≥ 0) must be
    * committed. Migrating an uncommitted epoch folds a crashed batch's
    * sketches into the new index without its marker — on redelivery the
    * batch would find itself in the index and emit nothing, the silent
    * loss the marker protocol exists to prevent. A hard error here turns
    * that into an operator instruction: resume the stream to completion
    * first.
    */
  def requireQuiesced(spark: SparkSession, indexPath: String): Unit = {
    val missing = epochIds(spark, indexPath)
      .filter(id => id >= 0 && !committed(spark, indexPath, id))
    require(missing.isEmpty,
      s"index $indexPath has uncommitted epochs ${missing.sorted.mkString(",")} — " +
        "resume the stream to completion before migrating")
  }

  /** Copy every commit marker from one index to another (migration). */
  def copyCommits(spark: SparkSession, fromIndex: String, toIndex: String): Unit = {
    val from = fs(spark, fromIndex)
    val to = fs(spark, toIndex)
    to.mkdirs(new Path(s"$toIndex/_commits"))
    val src = new Path(s"$fromIndex/_commits")
    if (from.exists(src)) from.listStatus(src).foreach { st =>
      to.create(new Path(s"$toIndex/_commits/${st.getPath.getName}"), true).close()
    }
  }

  /** Merge every committed epoch with id ≤ `upToBatch` into ONE
    * consolidated epoch `batch_id=-(upToBatch+2)`, bounding the index's
    * file and marker count by compaction CADENCE instead of stream age —
    * without it a year-long micro-batch stream is ~10⁵ epoch directories
    * of band-partitioned tiny files, and the per-batch pruned index read
    * pays one scan task per file.
    *
    * The consolidated id is negative (never collides with a live batch
    * id ≥ 0, so own-epoch exclusion still works), is not -1 (reserved by
    * the re-band migration epoch), and strictly decreases across
    * compactions (each must see a larger `upToBatch`), so a crashed
    * attempt's leftover never aliases a later one's target.
    *
    * Crash-ordering — every prefix of the step sequence leaves a correct,
    * readable index. Consumer requirement: semi/anti-join lookups (the
    * dedup index reads) are DUPLICATE-neutral and may read the raw
    * union; any consumer that aggregates index rows or returns them as
    * results (the lexical/positional serves, the IVF probe) must read
    * through [[readServable]], which drops epochs a present consolidated
    * epoch supersedes — otherwise a crash between steps 2 and 4 doubles
    * its counts until the redelivered compaction cleans up:
    *
    *   1. consolidated rows land under hidden `_compact_tmp` (invisible
    *      to every reader);
    *   2. one directory rename puts them live beside the epochs they
    *      duplicate (semi-join readers see each band row at most twice —
    *      same verdicts; aggregating readers exclude the superseded
    *      epochs via [[readServable]]);
    *   3. the watermark file makes the merged epochs' commit status
    *      independent of their individual markers;
    *   4. only then are merged epoch directories, their markers, and
    *      superseded watermark files deleted. A crash mid-cleanup leaves
    *      duplicates that the early-return path or the next compaction
    *      removes.
    *
    * Precondition (hard, as in the re-band migration): every stream
    * epoch committed. Merging an uncommitted epoch would fold a crashed
    * batch's bands in without its marker and its redelivery would find
    * itself and emit nothing. Run quiesced, or from inside the stream's
    * own `foreachBatch` AFTER commit (where quiescence holds by
    * construction — the cadence hook in the run entry points).
    *
    * Returns the number of epochs merged (0 if already compacted through
    * `upToBatch` or nothing to merge).
    *
    * `rowFilter` (default identity) is applied to the merged rows before
    * the consolidated write — the physical-purge hook for tombstoned
    * deletions ([[LexStream.deleteDocs]]): rows it drops leave the index
    * PERMANENTLY, so a filter must only drop rows whose absence the
    * serve already presents (masked rows), never live data.
    */
  def compactIndex(spark: SparkSession, indexPath: String, upToBatch: Long,
      partitionCols: Seq[String],
      rowFilter: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame
        = identity): Int = {
    import org.apache.spark.sql.functions.col
    require(upToBatch >= 0, s"upToBatch must be a stream batch id, got $upToBatch")
    requireQuiesced(spark, indexPath)
    val f = fs(spark, indexPath)
    val wm = compactedThrough(spark, indexPath)
    if (wm >= upToBatch) {
      // a previous attempt crashed mid-cleanup: its non-negative merged
      // epochs are provably in the consolidated epoch (any id ≤ watermark
      // present here predates the watermark — later redeliveries no-op on
      // committed()), so finishing their deletion is safe. So are STALE
      // CONSOLIDATED epochs (ids in (-(wm+2), -2]): each corresponds to a
      // watermark < wm, was therefore merged by the wm consolidation
      // (which folds every batch_id ≤ upToBatch, negatives included), and
      // can never reappear after it (compacting at a watermark ≤ wm
      // early-returns right here). Without this, a crash between the wm
      // rename and its cleanup leaves the old consolidated epoch beside
      // the new one FOREVER — readServable masks it, but raw-union
      // readers pay its files on every scan. The −1 re-band epoch is NOT
      // touched: it only ever lands in a fresh migration root
      // (rebandIndex writes to newIndexPath), so one found here beside a
      // watermark is a merged leftover too, but deleting it buys nothing
      // a later compaction doesn't, and the asymmetry keeps the
      // migration protocol's "never delete what you didn't write" rule.
      epochIds(spark, indexPath)
        .filter(id => (id >= 0 && id <= wm) || (id <= -2 && id > -(wm + 2)))
        .foreach(id => f.delete(new Path(s"$indexPath/batch_id=$id"), true))
      dropMarkersThrough(f, indexPath, wm)
      return 0
    }
    val epochs = epochIds(spark, indexPath).filter(_ <= upToBatch)
    if (epochs.isEmpty) return 0
    // the watermark marks every id ≤ upToBatch committed FOREVER — a
    // watermark beyond the highest stream epoch would make future
    // batches at those ids no-op as "already committed" and silently
    // drop their data. Only ids whose epochs exist may be marked.
    // (Checked after the early return: a replayed compaction whose
    // cleanup already removed the merged epochs must still no-op.)
    val maxStream = epochs.filter(_ >= 0)
    require(maxStream.nonEmpty && maxStream.max == upToBatch,
      s"upToBatch=$upToBatch must be an existing stream epoch " +
        s"(present: ${epochs.sorted.mkString(",")}) — a higher watermark would " +
        "mark unrun future batches as committed")
    val consolidated = -(upToBatch + 2)
    val merged = rowFilter(spark.read.parquet(indexPath)
      .filter(col("batch_id").cast("long") <= upToBatch)
      .drop("batch_id"))
      // crash leftovers are the only source of duplicate rows (a
      // consolidated epoch beside not-yet-deleted originals) — fold them
      // out so repeated crash cycles cannot accumulate copies
      .distinct()
    val tmp = s"$indexPath/_compact_tmp"
    // one shuffle keyed on the layout columns → each partition group
    // lands whole in one task → exactly one file per group, the
    // scan-task bound the per-batch pruned read wants
    merged.repartition(partitionCols.map(col): _*)
      .write.partitionBy(partitionCols: _*).mode("overwrite").parquet(tmp)
    val dest = new Path(s"$indexPath/batch_id=$consolidated")
    // dest can only pre-exist from a crashed attempt at this same
    // upToBatch that renamed but never watermarked — every merged epoch
    // is then still present (cleanup runs after the watermark), so the
    // complete-but-orphaned copy is safe to replace
    if (f.exists(dest)) f.delete(dest, true)
    require(f.rename(new Path(tmp), dest), s"rename $tmp -> $dest failed")
    f.mkdirs(new Path(s"$indexPath/_commits"))
    f.create(new Path(s"$indexPath/_commits/$WatermarkPrefix$upToBatch"), true)
      .close()
    epochs.filter(_ != consolidated)
      .foreach(id => f.delete(new Path(s"$indexPath/batch_id=$id"), true))
    dropMarkersThrough(f, indexPath, upToBatch)
    epochs.size
  }

  /** Physically rewrite EVERY epoch of the index minus the rows
    * `rowFilter` drops — the ON-DEMAND purge for an accumulated index
    * whose compaction cadence has already passed ([[compactIndex]]
    * early-returns at or below its watermark, so a takedown filed after
    * the last compaction would otherwise keep its rows on disk until the
    * NEXT compaction; GDPR-grade erasure wants them gone when the
    * operator says so). The batch-staged purge's epoch analogue
    * ([[graft.StagedTombstones.purge]] routes adopted stream roots
    * through here): consolidated epochs, the −1 re-band epoch, and live
    * stream epochs all rewrite — the index serves the same masked rows
    * before and after, only the FILES change.
    *
    * Epoch-by-epoch copy-on-write, each epoch's layout re-derived from
    * its own directory tree (so lexical `tb=`, band `b=/g=`, and IVF
    * `cell=` roots all purge through one implementation): the filtered
    * rows land under a hidden `_purge_tmp` (one file per partition
    * group, the compaction discipline), the live epoch steps aside to
    * `_purge_old=<id>`, the tmp renames in, the old copy is deleted.
    * Recovery preamble: a leftover `_purge_old=` with NO live epoch is a
    * crash between the two renames — its (complete, original) copy is
    * renamed back in and the rewrite re-runs; one WITH a live epoch is a
    * post-swap leftover and is deleted. The window between the two
    * renames leaves that one epoch offline until the re-run — the same
    * re-run-to-recover contract as the staged tables' catalog swap, and
    * the reason this runs only from an explicit purge call, quiesced
    * (precondition enforced), never inside the streaming cadence.
    * `rowFilter` must only drop rows whose absence the serve already
    * presents (masked rows) — [[compactIndex]]'s contract verbatim.
    * Returns the number of epochs rewritten.
    */
  def purgeIndex(spark: SparkSession, indexPath: String,
      rowFilter: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Int = {
    import org.apache.spark.sql.functions.col
    val f = fs(spark, indexPath)
    val root = new Path(indexPath)
    if (!f.exists(root)) return 0
    f.listStatus(root).filter(_.getPath.getName.startsWith("_purge_old="))
      .foreach { st =>
        val id = st.getPath.getName.stripPrefix("_purge_old=")
        val live = new Path(s"$indexPath/batch_id=$id")
        if (!f.exists(live))
          require(f.rename(st.getPath, live),
            s"purge recovery rename ${st.getPath} -> $live failed")
        else f.delete(st.getPath, true)
      }
    requireQuiesced(spark, indexPath)
    var n = 0
    epochIds(spark, indexPath).foreach { id =>
      val dir = new Path(s"$indexPath/batch_id=$id")
      if (hasParquet(f, dir)) {
        val cols = partitionColsOf(f, dir)
        val filtered = rowFilter(spark.read.parquet(dir.toString))
        val tmp = s"$indexPath/_purge_tmp"
        val keyed =
          if (cols.isEmpty) filtered.coalesce(1)
          else filtered.repartition(cols.map(col): _*)
        val w = keyed.write.mode("overwrite")
        (if (cols.isEmpty) w else w.partitionBy(cols: _*)).parquet(tmp)
        val old = new Path(s"$indexPath/_purge_old=$id")
        require(f.rename(dir, old), s"purge rename $dir -> $old failed")
        require(f.rename(new Path(tmp), dir),
          s"purge rename $tmp -> $dir failed")
        f.delete(old, true)
        n += 1
      }
    }
    n
  }

  /** Does the directory hold any parquet data file (recursively)? An
    * epoch written from an empty micro-batch is marker-only — reading it
    * would fail schema inference, and there is nothing to purge.
    */
  private def hasParquet(f: org.apache.hadoop.fs.FileSystem,
      dir: Path): Boolean = {
    val it = f.listFiles(dir, true)
    while (it.hasNext)
      if (it.next().getPath.getName.endsWith(".parquet")) return true
    false
  }

  /** The partition-column names of one epoch directory, re-derived from
    * its own `k=v` subdirectory chain — what lets ONE purge
    * implementation serve every index family without each family wiring
    * its layout through the takedown registry.
    */
  private def partitionColsOf(f: org.apache.hadoop.fs.FileSystem,
      epochDir: Path): Seq[String] = {
    @scala.annotation.tailrec
    def loop(p: Path, acc: Seq[String]): Seq[String] = {
      val subs = f.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter { q =>
          val n = q.getName
          n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
        }
      if (subs.isEmpty) acc
      else loop(subs.head, acc :+ subs.head.getName.split("=")(0))
    }
    loop(epochDir, Seq.empty)
  }

  /** Collapse the individual commit markers of batches ≤ `upToBatch`
    * into one `compacted_through` watermark WITHOUT touching data
    * epochs — the marker-count bound for sinks whose per-batch data is
    * either fine as-is or compacted separately ([[PackStream]] /
    * [[DocStream.processChunkBatch]] outputs): a year-long micro-batch
    * stream otherwise accumulates ~10⁵ marker files, one listStatus of
    * which becomes the slowest part of every `committed()` probe.
    * Safe because [[committed]] treats ids at or below the watermark as
    * committed regardless of data-epoch merging.
    *
    * Preconditions mirror [[compactIndex]]'s: every batch ≤ `upToBatch`
    * must be committed (collapsing an uncommitted id would make its
    * redelivery a silent no-op — data loss), and `upToBatch` must be an
    * EXISTING epoch (a higher watermark would mark unrun future batches
    * committed). Crash ordering: watermark first, then marker deletes —
    * a crash between leaves redundant markers that the next collapse
    * removes; `compactedThrough`'s max-wins read tolerates duplicate
    * watermark files the same way.
    */
  def collapseMarkers(spark: SparkSession, indexPath: String,
      upToBatch: Long): Unit = {
    require(upToBatch >= 0, s"upToBatch must be a stream batch id, got $upToBatch")
    val f = fs(spark, indexPath)
    if (compactedThrough(spark, indexPath) >= upToBatch) {
      dropMarkersThrough(f, indexPath, upToBatch)
      return
    }
    val epochs = epochIds(spark, indexPath).filter(_ >= 0)
    require(epochs.nonEmpty && epochs.max == upToBatch,
      s"upToBatch=$upToBatch must be the highest existing stream epoch " +
        s"(present: ${epochs.sorted.mkString(",")})")
    val uncommitted = epochs.filter(id => id <= upToBatch &&
      !committed(spark, indexPath, id))
    require(uncommitted.isEmpty,
      s"cannot collapse markers over uncommitted epochs ${uncommitted.sorted.mkString(",")}")
    f.mkdirs(new Path(s"$indexPath/_commits"))
    f.create(new Path(s"$indexPath/_commits/$WatermarkPrefix$upToBatch"), true)
      .close()
    dropMarkersThrough(f, indexPath, upToBatch)
  }

  /** Delete individual markers for epochs ≤ `upTo` and watermark files
    * older than `upTo` — all made redundant by the `upTo` watermark.
    */
  private def dropMarkersThrough(f: org.apache.hadoop.fs.FileSystem,
      indexPath: String, upTo: Long): Unit = {
    val dir = new Path(s"$indexPath/_commits")
    if (f.exists(dir)) f.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      val stale =
        if (n.startsWith(WatermarkPrefix))
          n.stripPrefix(WatermarkPrefix).toLong < upTo
        else scala.util.Try(n.toLong).toOption.exists(id => id >= 0 && id <= upTo)
      if (stale) f.delete(st.getPath, false)
    }
  }

}
