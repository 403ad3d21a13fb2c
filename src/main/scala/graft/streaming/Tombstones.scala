package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** Takedown tombstones for the ACCUMULATED streaming indexes — ONE
  * implementation of the deletion protocol shared by the lexical/
  * positional roots ([[LexStream]], key `doc_id`) and the IVF root
  * ([[EmbedStream]], key `vec_id`), so the two sides cannot drift on
  * erasure semantics. The physical index is never rewritten at request
  * time — a takedown against a year of epochs must not cost a year of
  * rewrites — instead:
  *
  *   1. [[delete]] lands the ids as a tombstone relation under the
  *      index root (`_tombstones/req=<requestId>` — underscore-prefixed,
  *      so the epoch reads never see it: the `_commits` discipline);
  *   2. every serve anti-joins its reads against [[ids]] (the masked
  *      rows vanish from candidates AND derived statistics — full
  *      erasure, "as if never arrived");
  *   3. the next compaction purges matching rows physically
  *      ([[BatchProtocol.compactIndex]]'s `rowFilter` hook) and
  *      [[consolidate]]s the per-request files into one, bounding
  *      tombstone file count by compaction cadence.
  *
  * Exactly-once by REQUEST IDENTITY: the write lands with overwrite, so
  * a redelivered request replaces itself (same ids → same rows) instead
  * of accumulating; distinct request ids accumulate as independent
  * takedowns. Deleting a never-arrived id is a harmless no-op; an id
  * that arrives AFTER its tombstone stays masked — takedown outranks
  * late arrival. Do not run [[delete]] concurrently with a compaction
  * of the same root (the `rebandIndex` quiesce discipline): a request
  * landing mid-purge would mask-only until the NEXT compaction.
  */
object Tombstones {

  private def tombRoot(indexPath: String) = s"$indexPath/_tombstones"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** Mark ids DELETED from the accumulated index at `indexPath`. Each
    * root masks independently — a paired deployment (lexical +
    * positional, or index + sidecar) calls this once per root.
    */
  def delete(spark: SparkSession, indexPath: String, ids: Seq[Long],
      requestId: String, keyCol: String = "doc_id"): Unit = {
    require(requestId.nonEmpty && requestId.matches("[A-Za-z0-9_-]+"),
      s"requestId must be [A-Za-z0-9_-]+, got '$requestId'")
    require(ids.nonEmpty, "a takedown request must name at least one id")
    import spark.implicits._
    ids.distinct.toDF(keyCol).coalesce(1)
      .write.mode("overwrite").parquet(s"${tombRoot(indexPath)}/req=$requestId")
  }

  /** One micro-batch of streaming takedown requests, exactly-once per
    * `batchId`: the batch's distinct ids land under requestId
    * `stream-<batchId>` in EVERY given index root — [[delete]]'s
    * request-identity contract makes redelivery self-replacing (same
    * batch → same rows, overwrite), and a crash between two roots just
    * redelivers into both (idempotent). The collect is request-sized
    * by nature — a takedown batch is a list of ids, not a corpus; the
    * write it feeds is one tiny file per root.
    */
  def processDeleteBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, indexPaths: Seq[String],
      keyCol: String = "doc_id",
      expandClustersDir: Option[String] = None): Unit = {
    // a null id names nothing — the same harmless no-op as a
    // never-arrived id. Filtered HERE, not crashed on: the NPE would
    // recur on every redelivery, crash-looping the whole takedown
    // queue on one malformed request row.
    val raw = batch.select(keyCol).filter(col(keyCol).isNotNull)
      .distinct().collect().map(_.getLong(0)).toSeq
    // cluster-complete expansion BEFORE filing (the q175 operator,
    // routed through the staged labels of the named corpus dir): the
    // expanded set lands under the batch's own request identity, so a
    // redelivered un-expanded batch re-expands to the same set and
    // self-replaces. Expansion is deterministic in (corpus, ids) — the
    // labels are frozen per corpus — so exactly-once survives it.
    val ids = expandClustersDir match {
      case Some(d) if raw.nonEmpty && keyCol == "doc_id" =>
        graft.StagedTombstones.expandToClusters(spark, d, raw)
      case _ => raw
    }
    if (ids.nonEmpty)
      indexPaths.foreach(p =>
        delete(spark, p, ids, s"stream-$batchId", keyCol))
  }

  /** Streaming takedown ingestion: a stream of deletion requests (one
    * `keyCol` id per row) folds into the tombstone relations of the
    * given index roots — the arrival path for takedown/GDPR queues,
    * beside the out-of-band [[delete]] API. Each serve over those
    * roots masks the ids from its next read on; the next compaction
    * purges physically. `expandClustersDir` names a corpus dir whose
    * staged near-dup cluster labels expand each request to CLUSTER
    * COMPLETENESS before filing (doc_id queues only — see
    * [[processDeleteBatch]]).
    */
  def runDeletes(requests: DataFrame, indexPaths: Seq[String],
      checkpoint: String, keyCol: String = "doc_id",
      expandClustersDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    requests.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processDeleteBatch(batch.sparkSession, batch, batchId,
          indexPaths, keyCol, expandClustersDir)
      }
      .start()

  /** The per-request id sets of a root — request-sized reads, for the
    * batch-side adoption bridge
    * ([[graft.StagedTombstones.adoptStreamRoot]]): the durable ledger's
    * requests re-filed against the session-staged serves under their
    * own identities.
    */
  private[graft] def requests(spark: SparkSession, indexPath: String,
      keyCol: String): Seq[(String, Seq[Long])] = {
    val f = fs(spark, indexPath)
    val root = new Path(tombRoot(indexPath))
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("req=")).toSeq.sortBy(_.getName)
      .map(p => (p.getName.stripPrefix("req="),
        spark.read.parquet(p.toString).select(keyCol)
          .filter(col(keyCol).isNotNull)
          .collect().map(_.getLong(0)).toSeq))
      .filter(_._2.nonEmpty)
  }

  /** The accumulated tombstone ids of an index root (None if no takedown
    * ever landed). Duplicate ids across requests are fine — the readers
    * anti-join, for which duplicates are verdict-neutral.
    */
  private[streaming] def ids(spark: SparkSession, indexPath: String,
      keyCol: String): Option[DataFrame] = {
    val f = fs(spark, indexPath)
    val root = new Path(tombRoot(indexPath))
    if (!f.exists(root)) None
    else {
      // a crashed FIRST delete can leave the root with no committed
      // request dir (only write temporaries, which the parquet reader
      // hides) — that is "no takedown landed yet", not a schema error;
      // the request's redelivery completes it
      val reqs = f.listStatus(root).map(_.getPath)
        .filter(_.getName.startsWith("req="))
      if (reqs.isEmpty) None
      else Some(spark.read.parquet(reqs.map(_.toString).toSeq: _*)
        .select(keyCol))
    }
  }

  /** Serve-side takedown mask: anti-join `rel` (any relation carrying
    * `keyCol`) against the root's tombstones. The tombstone side is the
    * broadcast side — takedown sets are request-sized (ids only), never
    * corpus-sized.
    */
  private[graft] def masked(spark: SparkSession, indexPath: String,
      rel: DataFrame, keyCol: String): DataFrame =
    ids(spark, indexPath, keyCol).fold(rel)(t =>
      rel.join(broadcast(t), Seq(keyCol), "left_anti"))

  /** Consolidate the per-request tombstone files into ONE request dir
    * (`req=compacted_<upToBatch>`, or the first free `_<k>`-suffixed
    * variant when a crashed attempt left that name taken), bounding
    * tombstone file count by compaction cadence. Content is preserved,
    * NOT dropped: rows matching the tombstones are purged only from
    * epochs the compaction merged — a tombstone may still be masking a
    * later live epoch (or a yet-to-arrive id), so the ids must outlive
    * the purge.
    *
    * Crash ordering — NOTHING readable is ever deleted before its
    * replacement is visible under the root: the distributed distinct
    * lands OUTSIDE the root first (invisible to readers), ONE rename
    * puts the complete id set live under a FRESH name that never
    * pre-exists (delete-then-rename onto a reused name would open a
    * window in which a crashed retry's sole-holder ids live only in the
    * invisible tmp dir — the next run overwrites tmp and the ids are
    * gone, resurfacing taken-down docs), and only then are the
    * superseded request dirs — a crashed attempt's leftover target
    * included, every one a subset of the new dir — deleted. Every
    * prefix leaves the full id set readable under the root (duplicates
    * are verdict-neutral to the anti-join readers).
    */
  private[graft] def consolidate(spark: SparkSession, indexPath: String,
      upToBatch: Long, keyCol: String): Unit = {
    val f = fs(spark, indexPath)
    val root = new Path(tombRoot(indexPath))
    if (!f.exists(root)) return
    val reqs = f.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith("req=")).toSeq
    val prefix = s"req=compacted_$upToBatch"
    // already consolidated: one dir at this watermark (base or a crashed
    // retry's `_<k>`-suffixed name — both are complete by construction).
    // EXACT match on the watermark: a bare startsWith would also accept
    // req=compacted_20 for upToBatch=2 (a different, later watermark)
    // and skip a consolidation it still owes.
    val atThisWatermark = reqs.headOption.exists(n =>
      n == prefix || n.matches(java.util.regex.Pattern.quote(prefix) + "_\\d+"))
    if (reqs.isEmpty || (reqs.size == 1 && atThisWatermark)) return
    val tmp = s"$indexPath/_tombstones_tmp"
    // the request dirs, not the `_`-named root Spark would take for hidden
    spark.read.parquet(reqs.map(r => s"${tombRoot(indexPath)}/$r"): _*).select(keyCol)
      .distinct().coalesce(1).write.mode("overwrite").parquet(tmp)
    val target = Iterator.from(0)
      .map(k => if (k == 0) prefix else s"${prefix}_$k")
      .find(n => !f.exists(new Path(s"${tombRoot(indexPath)}/$n"))).get
    require(f.rename(new Path(tmp), new Path(s"${tombRoot(indexPath)}/$target")),
      s"rename $tmp -> ${tombRoot(indexPath)}/$target failed")
    reqs.foreach(r =>
      f.delete(new Path(s"${tombRoot(indexPath)}/$r"), true))
  }
}
