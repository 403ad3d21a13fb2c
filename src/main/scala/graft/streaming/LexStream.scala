package graft.streaming

import graft.functions.TextFunctions._
import graft.queries.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the LEXICAL inverted index — the
  * [[DocStream]] band-index protocol applied to the BM25 serve substrate
  * ([[graft.queries.TextAnalysis]]'s staged postings/doclen/df), so
  * arriving documents become SERVABLE, not merely scorable against
  * frozen standing queries ([[DocStream.bm25Scored]]'s posture). A
  * retrospective-search deployment over a growing corpus runs exactly
  * this pair: micro-batches fold arrivals into a partitioned accumulated
  * index; ad-hoc queries serve from it with the batch serve's
  * byte-identical integer arithmetic (LexStreamSpec pins serve ≡ a batch
  * `ensureLexIndex` rebuild over the union corpus).
  *
  * Index layout — ONE relation, epoch- and term-bucket-partitioned
  * (`<lexPath>/batch_id=N/tb=B/`), two row kinds:
  *
  *   - postings rows `(doc_id, term, tf)` under `tb = hash(term) mod
  *     [[LexTermBuckets]]` — a query's candidate fetch partition-prunes
  *     to its terms' buckets exactly like the batch serve bucket-prunes
  *     its staged table, and df is DERIVED from the pruned postings
  *     (df(term) = count of postings rows), so no second relation needs
  *     incremental maintenance;
  *   - one doc-stat row per arriving document `(doc_id, term = NULL,
  *     tf = dl)` under the reserved `tb = -1` partition — the
  *     corpus scalars (N = stat rows, L = Σ dl) and the per-candidate
  *     dl join read ONLY this partition; null-text documents carry
  *     dl = 0 and still count into N, the batch index's convention
  *     (they shape idf, never candidacy).
  *
  * Exactly-once is [[BatchProtocol]] verbatim: the epoch write is
  * `overwrite` into the batch's own directory (redelivery replaces a
  * partial attempt instead of appending duplicates), the commit marker
  * lands LAST, and a fully-committed batch no-ops on redelivery. Unlike
  * the dedup stream there is no pre-batch index read — the fold is
  * append-only — so the single write + marker is the whole crash
  * surface. Epoch-count growth is bounded by [[compactLexIndex]]
  * (BatchProtocol's consolidated negative epoch, partitioned by `tb`),
  * run quiesced or on the `compactEvery` cadence inside the stream.
  * Each document is expected ONCE across the stream's lifetime (the
  * dedup stream's source contract); a source that re-sends a document
  * under two different batch ids would double-count its df/tf exactly
  * as it would double-insert a band row there.
  */
object LexStream {

  /** Term-bucket fan-out of the accumulated postings. Fixed per index
    * lifetime (the partition values are the index's layout — changing it
    * is a [[DocStream.rebandIndex]]-class migration, not a knob): a
    * serve prunes to ≤ query-term buckets of arbitrarily many epochs, so
    * the value trades per-epoch file count against prune selectivity.
    */
  val LexTermBuckets = 64

  /** Reserved `tb` partition holding the per-document stat rows. */
  private val StatBucket = -1

  private def termBucket(term: org.apache.spark.sql.Column) =
    pmod(hash(term), lit(LexTermBuckets)).cast("int")

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** The impact root's FROZEN corpus scalars — the avgdl quantization
    * `a` the per-epoch cut orders by and the per-term list depth `K` it
    * cuts at, adopted from the paired lex root's stats at the FIRST
    * batch and frozen as root markers (the [[LabelStream]] `_width=`
    * stance: cut keys must stay comparable across epochs, so a scalar
    * refresh is [[rebuildImpactIndex]], a migration — never a knob).
    */
  private[streaming] val APrefix = "_a="
  private[streaming] val KPrefix = "_k="

  /** The markers live under a hidden `_scalars/` dir (the `_commits`
    * pattern): a bare `_a=4` file at the root would read as a partition
    * path (the `=` defeats the hidden-file filter) and break the
    * epoch scan.
    */
  private def scalarsDir(impPath: String) = s"$impPath/_scalars"

  /** One scalar marker: write sequence, mtime, value, file name. A name is
    * `<prefix><seq>-<value>`. Sequence 0, the first write to a root (or
    * any marker of a root written before sequencing), is spelled
    * `<prefix><value>`.
    */
  private final case class Marker(seq: Long, mtime: Long, value: Long, name: String)

  private def markerName(prefix: String, seq: Long, value: Long) =
    if (seq == 0) s"$prefix$value" else s"$prefix$seq-$value"

  private def markers(f: org.apache.hadoop.fs.FileSystem, impPath: String,
      prefix: String): Seq[Marker] =
    f.listStatus(new org.apache.hadoop.fs.Path(scalarsDir(impPath))).toSeq
      .filter(_.getPath.getName.startsWith(prefix)).map { st =>
        val name = st.getPath.getName
        val body = name.stripPrefix(prefix)
        val (seq, value) = body.indexOf('-', 1) match {
          case -1 => (0L, body)
          case i => (body.take(i).toLong, body.drop(i + 1))
        }
        Marker(seq, st.getModificationTime, value.toLong, name)
      }

  /** The marker in force: highest sequence. Only sequence-0 markers can
    * tie, on a root whose pre-sequencing writer crashed between creating
    * the new marker and deleting the stale one; they keep that writer's
    * rule, newest mtime and then the larger value.
    */
  private def current(ms: Seq[Marker]): Option[Marker] =
    ms.maxByOption(m => (m.seq, m.mtime, m.value))

  private[streaming] def readMarker(spark: SparkSession, impPath: String,
      prefix: String): Option[Long] = {
    val f = fs(spark, impPath)
    if (!f.exists(new org.apache.hadoop.fs.Path(scalarsDir(impPath)))) None
    else current(markers(f, impPath, prefix)).map(_.value)
  }

  private[streaming] def writeScalars(spark: SparkSession, impPath: String, a: Long,
      k: Long): Unit = {
    val f = fs(spark, impPath)
    val root = new org.apache.hadoop.fs.Path(scalarsDir(impPath))
    f.mkdirs(root)
    // create-new-THEN-delete-stale (r21): a crash between the two leaves
    // both markers, never none, and the new one carries the next
    // sequence, so readMarker resolves the window to it in either
    // direction of change and whatever the mtimes say. A marker already
    // in force with this value is kept as it is. After the deletes,
    // assert exactly one marker per prefix: a survivor here means a
    // concurrent writer or a failed delete, and serving on silently
    // would reintroduce the ambiguity the protocol exists to close.
    Seq(APrefix -> a, KPrefix -> k).foreach { case (p, v) =>
      val now = current(markers(f, impPath, p))
      val keep = now.filter(_.value == v).map(_.name).getOrElse {
        val name = markerName(p, now.fold(0L)(_.seq + 1), v)
        f.create(new org.apache.hadoop.fs.Path(root, name), true).close()
        name
      }
      markers(f, impPath, p).filter(_.name != keep)
        .foreach(m => f.delete(new org.apache.hadoop.fs.Path(root, m.name), false))
      val left = markers(f, impPath, p).map(_.name)
      require(left == Seq(keep),
        s"impact root $impPath: marker write left ${left.mkString(",")} " +
          s"under $p — stale markers survived the delete pass")
    }
  }

  /** (N, L) of a lex root's stat partition — null-safe for an
    * all-null-text corpus (L = 0), N counts every arrived document.
    */
  private def statScalars(stats: DataFrame): (Long, Long) = {
    val r = stats.agg(count(lit(1)), sum("dl")).head
    (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
  }

  private def frozenScalars(spark: SparkSession, impPath: String,
      lexPath: String): (Long, Long) =
    (readMarker(spark, impPath, APrefix), readMarker(spark, impPath,
      KPrefix)) match {
      case (Some(a), Some(k)) => (a, k)
      case _ =>
        val servable = BatchProtocol.readServable(spark, lexPath)
          .getOrElse(sys.error(s"impact root $impPath adopts its frozen " +
            "scalars from the paired lex root's stats — fold the lex " +
            "batch first (the runLexIndex ordering)"))
        val (n, l) = statScalars(statRows(spark, lexPath, servable))
        val a = quantizedAvgDl(n, l)
        val k = TextAnalysis.impactKOf(spark, n)
        writeScalars(spark, impPath, a, k)
        (a, k)
    }

  /** Takedown: mark documents DELETED from an accumulated index (lexical
    * or positional root — each root masks independently; a paired
    * deployment calls this once per root). Full protocol in
    * [[Tombstones]]: the serves anti-join their reads (postings,
    * positions, AND the stat rows, so N/L/avgdl/df all read as if the
    * documents never arrived — LexStreamSpec pins the serve
    * byte-identical to a rebuild over the corpus minus the deletions),
    * and [[compactLexIndex]] purges physically.
    */
  def deleteDocs(spark: SparkSession, indexPath: String,
      docIds: Seq[Long], requestId: String): Unit =
    Tombstones.delete(spark, indexPath, docIds, requestId, "doc_id")

  private def masked(spark: SparkSession, indexPath: String,
      rel: DataFrame): DataFrame =
    Tombstones.masked(spark, indexPath, rel, "doc_id")

  /** The `foreachBatch` body, exactly-once per `batchId` — fold one
    * micro-batch of `(doc_id, …, text)` arrivals into the accumulated
    * index at `lexPath`.
    */
  def processLexBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, lexPath: String): Unit = {
    if (BatchProtocol.committed(spark, lexPath, batchId))
      return // replayed, fully committed
    // one pinned checkpoint: the tf aggregate and the stat projection
    // both read the ephemeral micro-batch source (the processBatch
    // discipline — and the same leak-proof release contract)
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      val tf = stable
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .withColumn("tb", termBucket(col("term")))
      // dl = size(tokens) ≡ Σ tf (same tokenizer); null text → 0, so
      // the document still counts into N — the batch index's convention
      val stats = stable.select(col("doc_id"),
        lit(null).cast("string").as("term"),
        coalesce(size(tokens(col("text"))), lit(0)).cast("long").as("tf"),
        lit(StatBucket).as("tb"))
      tf.unionByName(stats)
        .write.partitionBy("tb").mode("overwrite")
        .parquet(s"$lexPath/batch_id=$batchId")
      BatchProtocol.commit(spark, lexPath, batchId)
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** The positional layer's `foreachBatch` body — [[processLexBatch]]
    * for the phrase serve substrate: one (doc_id, term, pos) row per
    * token occurrence of the batch, same `tb` partitioning, same marker
    * protocol under the SEPARATE `posPath` index root (its own
    * `_commits`; the two layers commit independently and each is
    * idempotent, so a crash between them just recomputes the
    * uncommitted one on redelivery). No stat rows: adjacency needs no
    * corpus scalars, and null-text docs contribute no positions.
    */
  def processPosBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, posPath: String): Unit = {
    if (BatchProtocol.committed(spark, posPath, batchId))
      return // replayed, fully committed
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      stable
        .select(col("doc_id"),
          posexplode(tokens(col("text"))).as(Seq("pos", "term")))
        .select(col("doc_id"), col("term"), col("pos"),
          termBucket(col("term")).as("tb"))
        .write.partitionBy("tb").mode("overwrite")
        .parquet(s"$posPath/batch_id=$batchId")
      BatchProtocol.commit(spark, posPath, batchId)
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** The impact-ordered APPROXIMATE layer's `foreachBatch` body — the
    * [[graft.queries.TextAnalysis.ensureImpactIndex]] sidecar for the
    * ACCUMULATED index, so stream arrivals can join the
    * latency-bounded q182-style serve without waiting on a batch
    * re-stage. One epoch per batch under the SEPARATE `impPath` root
    * (own `_commits`, own tombstones — the [[processPosBatch]] layer
    * pairing), two row kinds sharing the postings `tb` partitioning:
    *
    *   - the batch's per-term TOP-[[frozenScalars]].K postings
    *     `(doc_id, term, tf, imp)`, cut by the integer impact under the
    *     root's frozen `a` — the union of per-epoch cuts contains every
    *     global top-K row (a row in the global top-K is in its own
    *     epoch's top-K a fortiori), so [[impactTopDocs]]' serve-time
    *     re-cut over the pruned union IS the top-K of all arrivals
    *     under the frozen scalars;
    *   - one df-delta row per batch term `(doc_id = NULL, term,
    *     tf = batch df, imp = NULL)` — summed at serve time these give
    *     the EXACT per-term df without the corpus-scale postings count
    *     the sidecar exists to avoid (the staged-df-table bound,
    *     streamed; the lex root derives df by scanning the query
    *     terms' postings, which is exactly the fetch a high-df term
    *     makes corpus-scale).
    *
    * The frozen (a, K) adopt from the paired lex root's stats at the
    * first batch — call AFTER [[processLexBatch]] (the [[runLexIndex]]
    * ordering). Exactly-once is [[BatchProtocol]] verbatim.
    */
  def processImpactBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, impPath: String, lexPath: String): Unit = {
    if (BatchProtocol.committed(spark, impPath, batchId))
      return // replayed, fully committed
    val (a, k) = frozenScalars(spark, impPath, lexPath)
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      val tf = stable
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      impactEpochRows(tf, tf.groupBy("doc_id").agg(sum("tf").as("dl")), a, k)
        .write.partitionBy("tb").mode("overwrite")
        .parquet(s"$impPath/batch_id=$batchId")
      BatchProtocol.commit(spark, impPath, batchId)
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** An impact-root epoch's rows over postings `post` (doc_id, term,
    * tf) with lengths `dl` (doc_id, dl): each term's top-`k` postings by
    * impact under `a`, plus one df-delta row per term, `tb`-partitioned
    * — the layout [[processImpactBatch]] writes per batch and
    * [[rebuildImpactIndex]] writes for the whole root.
    */
  private def impactEpochRows(post: DataFrame, dl: DataFrame, a: Long,
      k: Long): DataFrame =
    TextAnalysis.impactCut(TextAnalysis.withImpact(post, dl, a), k)
      .select(col("doc_id"), col("term"), col("tf"), col("imp"))
      .unionByName(dfDeltaRows(post))
      .withColumn("tb", termBucket(col("term")))

  /** One df-delta row (doc_id = NULL, term, tf = df, imp = NULL) per
    * term of the postings `post`.
    */
  private def dfDeltaRows(post: DataFrame): DataFrame =
    post.groupBy("term").agg(count(lit(1)).as("tf"))
      .select(lit(null).cast("long").as("doc_id"), col("term"),
        col("tf"), lit(null).cast("long").as("imp"))

  /** Streaming incremental lexical indexing: every micro-batch of
    * documents folds into `<lexPath>` — and, when `posPath` /
    * `impactPath` are given, into the positional and impact layers too
    * (ONE stream maintains all serve substrates, the production
    * retrieval-index shape) — under the exactly-once protocol;
    * `compactEvery > 0` self-compacts after every N-th commit
    * (quiescence holds by construction inside foreachBatch — the
    * [[DocStream.runNearDedup]] cadence contract). The impact layer
    * compacts AFTER the lex root in the same call — its consolidated df
    * layer recomputes from the lex root's just-purged postings, the
    * ordering [[compactImpactIndex]]'s serve-invariance needs.
    */
  def runLexIndex(docs: DataFrame, lexPath: String, checkpoint: String,
      compactEvery: Int = 0, posPath: Option[String] = None,
      impactPath: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processLexBatch(batch.sparkSession, batch, batchId, lexPath)
        posPath.foreach(p =>
          processPosBatch(batch.sparkSession, batch, batchId, p))
        impactPath.foreach(p =>
          processImpactBatch(batch.sparkSession, batch, batchId, p, lexPath))
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compactLexIndex(batch.sparkSession, lexPath, batchId)
          // the positional root shares the layout column AND the
          // tombstone protocol — one purging compaction for both layers
          posPath.foreach(p =>
            compactLexIndex(batch.sparkSession, p, batchId))
          impactPath.foreach { p =>
            compactImpactIndex(batch.sparkSession, p, lexPath, batchId)
            // the drift verdict rides the same cadence — the doubling
            // policy keeps total re-index work amortized-linear
            rebuildIfDrifted(batch.sparkSession, p, lexPath)
          }
          ()
        }
      }
      .start()

  /** Merge committed epochs ≤ `upToBatch` into one consolidated
    * `tb`-partitioned epoch (file count bounded by compaction cadence,
    * not stream age) — [[BatchProtocol.compactIndex]] with this index's
    * layout columns. Full ordering/crash contract there. Works verbatim
    * on a positional-layer root too (same layout column).
    *
    * Tombstoned rows are PURGED from the consolidated epoch (the
    * `rowFilter` hook — masking already hides them, so the purge changes
    * no serve), and the per-request tombstone files consolidate into one
    * ([[Tombstones.consolidate]] — ids are retained, they may still mask
    * epochs this compaction did not merge).
    */
  def compactLexIndex(spark: SparkSession, lexPath: String,
      upToBatch: Long): Int = {
    val n = BatchProtocol.compactIndex(spark, lexPath, upToBatch, Seq("tb"),
      rowFilter = rel => masked(spark, lexPath, rel))
    Tombstones.consolidate(spark, lexPath, upToBatch, "doc_id")
    n
  }

  /** Exact-phrase top-k against the ACCUMULATED positional layer — the
    * [[lexTopDocs]] posture for quoted queries: each external (qid,
    * qtext) query's first `k` tokens are the phrase, ranking and
    * arithmetic are the staged serve's verbatim (the shared
    * [[graft.queries.TextAnalysis.phraseAdjacencyTopDocs]] fold —
    * LexStreamSpec pins byte-parity against a batch q154/q158 rebuild
    * over the union corpus). The bounded driver read of the ≤
    * k·|queries| phrase terms buys the `tb` partition prune + term
    * literal-IN on every adjacency side.
    */
  def posTopDocs(spark: SparkSession, posPath: String,
      queries: DataFrame, k: Int = 2): DataFrame = {
    require(k >= 2, s"a phrase needs at least two tokens, got $k")
    val qp0 = queries.select(col("qid"), tokens(col("qtext")).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("qid") +:
        (1 to k).map(i => element_at(col("tk"), i).as(s"t$i")): _*)
    // ONE bounded collect (≤ |queries| rows) buys the phrase relation AS
    // a literal (the cappedTermRows discipline: the tokenize subtree
    // executes once here, not again inside the adjacency action) plus
    // the term/bucket literals for the pruned index read
    val rows = qp0.withColumn("tbs",
      array((1 to k).map(i => termBucket(col(s"t$i"))): _*)).collect()
    val qp = spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => org.apache.spark.sql.Row.fromSeq(
        r.toSeq.dropRight(1))): _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        ("qid BIGINT" +: (1 to k).map(i => s"t$i STRING")).mkString(", ")))
    val terms: Array[Any] =
      rows.flatMap(r => (1 to k).map(i => r.getString(i): Any)).distinct
    val tbs: Array[Any] =
      rows.flatMap(_.getSeq[Int](k + 1).map(Int.box(_): Any)).distinct
    // the serve AGGREGATES index rows, so it must exclude epochs a
    // crashed compaction left beside their consolidated copy (and an
    // epoch-less new index serves a defined empty, not a schema error)
    val servable = BatchProtocol.readServable(spark, posPath)
    if (terms.isEmpty || servable.isEmpty)
      queries.select(col("qid"), lit(0L).as("rnk"),
        lit(0L).as("doc_id"), lit(0L).as("phrase_tf")).limit(0)
    else
      TextAnalysis.phraseAdjacencyTopDocs(
        masked(spark, posPath, servable.get
          .filter(col("tb").isin(tbs: _*))
          .filter(col("term").isin(terms: _*))
          .select("doc_id", "term", "pos")),
        qp, k)
  }

  /** One-row observability card for an accumulated index root — the
    * ops read an index owner checks between serves (the q160 posture
    * for the INCREMENTAL substrate, where the staged card cannot see
    * epochs, markers, or takedowns): live stream epochs, whether a
    * consolidated epoch exists, the compaction watermark, row counts by
    * layer (postings vs the reserved stat partition — 0 on a positional
    * root, which carries no stats), and the takedown posture (request
    * files and distinct masked ids). Costs ONE pruned-column scan of
    * the index plus the bounded tombstone read; serves nothing itself,
    * so it is spec-verified against hand-built index states rather than
    * a DuckDB oracle (the accumulated roots exist only at runtime).
    */
  def indexCard(spark: SparkSession, indexPath: String): DataFrame = {
    import spark.implicits._
    val epochs = BatchProtocol.epochIds(spark, indexPath)
    val wm = BatchProtocol.compactedThrough(spark, indexPath)
    // servable counts (crash-leftover epochs a consolidated copy
    // supersedes are excluded — they are about to be cleaned up, and
    // double-counting them would false-alarm the ops check); an
    // epoch-less root is the defined all-zero card, not a schema error
    val (post, stat) = BatchProtocol.readServable(spark, indexPath) match {
      case None => (0L, 0L)
      case Some(idx) =>
        val r = idx
          .agg(sum(when(col("tb") =!= StatBucket, 1L).otherwise(0L)),
            sum(when(col("tb") === StatBucket, 1L).otherwise(0L))).head
        (Option(r.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L),
          Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L))
    }
    val (nReq, nTomb) = Tombstones.ids(spark, indexPath, "doc_id") match {
      case None => (0L, 0L)
      case Some(t) =>
        (t.select(input_file_name()).distinct().count(),
          t.distinct().count())
    }
    Seq((epochs.count(_ >= 0).toLong, epochs.exists(_ < 0), wm,
      post, stat, nReq, nTomb))
      .toDF("n_stream_epochs", "has_consolidated", "compacted_through",
        "n_postings_rows", "n_stat_rows", "n_tomb_files", "n_tomb_ids")
  }

  /** The accumulated index's doc-stat partition (one row per arrived
    * document) — `tb = -1` hits only the partition column, so the scan
    * reads no postings bucket. `idx` is the caller's servable read.
    */
  private def statRows(spark: SparkSession, lexPath: String,
      idx: DataFrame): DataFrame =
    masked(spark, lexPath, idx
      .filter(col("tb") === StatBucket)
      .select(col("doc_id"), col("tf").as("dl")))

  /** BM25 top-[[graft.queries.TextAnalysis.Bm25TopK]] per query against
    * the ACCUMULATED index — the batch serve's integer fixed point
    * (milli-scale log-free idf × centi-scale quantized tfn, int64
    * per-term products, order-independent sums) re-derived from the
    * incremental layout, byte-identical to a batch `ensureLexIndex`
    * rebuild over the union corpus (LexStreamSpec). `queries` is a
    * bounded `(qid BIGINT, qtext STRING)` relation of EXTERNAL query
    * strings — the ad-hoc form the batch q148 samples from the corpus.
    *
    * Plan shape mirrors the batch serve: the per-query term cap rides a
    * qid-partitioned window; ONE bounded driver read of the capped
    * terms (≤ |queries|·cap rows) buys BOTH the `tb` partition prune
    * and the term literal-IN on the postings read, so candidate work ∝
    * the query terms' postings across however many epochs hold them —
    * never the corpus; df folds from exactly those pruned rows; the
    * corpus scalars and dl come from the stat partition alone; the
    * final cut is a qid-partitioned window (WindowGroupLimit).
    */
  /** The per-query CAPPED term set — the batch serve's
    * [[TextAnalysis.cappedTerms]] plus each term's bucket — and its
    * bounded driver read (≤ |queries|·cap rows — the bm25Stage
    * discipline): the capped (qid, term) relation, the distinct term
    * literals, and their buckets, shared by the exact serve and the
    * impact serve, so no road can drift on what "the query's terms"
    * means.
    */
  private def cappedTermRows(queries: DataFrame)
      : (DataFrame, Array[Any], Array[Any]) = {
    // collected as the full capped (qid, term, tb) rows rather than just
    // the distinct (term, tb) pairs: qt then re-enters the serve plan as
    // a literal relation, so the tokenize → tf-count → window subtree
    // executes exactly once per serve instead of once in this collect
    // and AGAIN inside the main action's qtIdf broadcast (r21 — the
    // batch lexStageOver discipline; same action count, two fewer
    // exchanges per serve plan). Spark's own tokenizer/cap/bucket hash
    // produce the rows, so nothing can drift.
    val rows = TextAnalysis.cappedTerms(queries)
      .select(col("qid"), col("term"), termBucket(col("term")).as("tb"))
      .collect()
    val qt = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r.getLong(0), r.getString(1))): _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, term STRING"))
    (qt, rows.map(_.getString(1): Any).distinct,
      rows.map(r => Int.box(r.getInt(2)): Any).distinct)
  }

  /** The exact serve's lex-root inputs — servable epochs, masked stat
    * rows, and the (N, L) scalar fold (ONE bounded `.head` action) —
    * computed once per serve call, or once per AUDIT call when
    * [[impactRecallAudit]] shares them across its two member serves
    * (both read the same root in the same call frame, so the values are
    * identical by construction; r21). None = no committed epoch.
    */
  private def lexServeInputs(spark: SparkSession, lexPath: String)
      : Option[(DataFrame, DataFrame, Long, Long)] =
    BatchProtocol.readServable(spark, lexPath).map { sv =>
      val stats = statRows(spark, lexPath, sv)
      // N counts every arrived document (null text included — the batch
      // convention); L is null-safe for an all-null-text corpus
      val (n, l) = statScalars(stats)
      (sv, stats, n, l)
    }

  def lexTopDocs(spark: SparkSession, lexPath: String,
      queries: DataFrame): DataFrame = {
    // capped terms first: a term-less query set takes the defined-empty
    // road without paying the stat-fold action (the r21 advisor's note —
    // the old order ran lexServeInputs' .head before the isEmpty guard)
    val capped = cappedTermRows(queries)
    lexTopDocsFrom(spark, lexPath, queries, capped,
      if (capped._2.isEmpty) None else lexServeInputs(spark, lexPath))
  }

  private def lexTopDocsFrom(spark: SparkSession, lexPath: String,
      queries: DataFrame,
      capped: (DataFrame, Array[Any], Array[Any]),
      inputs: Option[(DataFrame, DataFrame, Long, Long)]): DataFrame = {
    val (qt, terms, tbs) = capped
    // aggregate-consumer discipline: exclude crash-superseded epochs,
    // and serve a defined empty on an epoch-less new index
    if (terms.isEmpty || inputs.isEmpty)
      // no query has a term (null/empty query strings) or no batch has
      // arrived: a defined empty serve with the contract schema, not an
      // empty-IN plan / schema-inference error
      queries.select(col("qid"), lit(0L).as("rnk"),
        lit(0L).as("doc_id"), lit(0L).as("score_u")).limit(0)
    else {
      val (servableLex, stats, n, l) = inputs.get
      // the takedown mask applies to candidates AND (via statRows) the
      // corpus scalars/dl, so a deleted doc vanishes from df and idf
      // exactly as a rebuild-without-it would have it
      val post = masked(spark, lexPath, servableLex
        .filter(col("tb").isin(tbs: _*))       // partition prune
        .filter(col("term").isin(terms: _*))   // row cut inside buckets
        .select("doc_id", "term", "tf"))
      // df derives from the pruned postings — the accumulated layout
      // maintains ONE relation, not three
      val dfq = post.groupBy("term").agg(count(lit(1)).as("df"))
      TextAnalysis.bm25RankCut(TextAnalysis.bm25Score((post, stats,
        TextAnalysis.termWeights(qt, dfq, n), quantizedAvgDl(n, l))))
    }
  }

  /** Impact-ordered APPROXIMATE BM25 against the accumulated pair —
    * q182's serve shape for stream arrivals: the candidate fetch reads
    * the impact root's pruned `(tb, term)` partitions and re-cuts each
    * term to the frozen K over the STORED impact order (≤ K·epochs rows
    * in, ≤ K out — epochs since compaction bound the read, never the
    * corpus), df folds from the root's df-delta rows (exact — see
    * [[processImpactBatch]]), and every SCORE rides the lex root's LIVE
    * masked stats exactly like [[lexTopDocs]] — only candidate
    * MEMBERSHIP is approximate, and [[impactRecallAudit]] measures that
    * drift as data (the q183 stance). Takedowns: candidates mask with
    * the impact root's OWN tombstones, stats/dl with the lex root's
    * (each root masks independently — the paired-deployment rule), and
    * the df fold subtracts the lex-deleted documents' still-present
    * term memberships (a doubly-pruned request-bounded probe), so df
    * equals the masked lex derivation until compaction realigns the
    * files (LexStreamSpec pins the masked serve against a batch
    * rebuild over the corpus minus the deletions).
    */
  def impactTopDocs(spark: SparkSession, lexPath: String, impPath: String,
      queries: DataFrame): DataFrame = {
    val capped = cappedTermRows(queries) // term-less guard before the fold
    impactTopDocsFrom(spark, lexPath, impPath, queries, capped,
      if (capped._2.isEmpty) None else lexServeInputs(spark, lexPath))
  }

  private def impactTopDocsFrom(spark: SparkSession, lexPath: String,
      impPath: String, queries: DataFrame,
      capped: (DataFrame, Array[Any], Array[Any]),
      inputs: Option[(DataFrame, DataFrame, Long, Long)]): DataFrame = {
    val (qt, terms, tbs) = capped
    val servableImp = BatchProtocol.readServable(spark, impPath)
    if (terms.isEmpty || servableImp.isEmpty || inputs.isEmpty)
      queries.select(col("qid"), lit(0L).as("rnk"),
        lit(0L).as("doc_id"), lit(0L).as("score_u")).limit(0)
    else {
      val (servableLex, stats, n, l) = inputs.get
      val k = readMarker(spark, impPath, KPrefix).getOrElse(
        sys.error(s"impact root $impPath has no frozen K marker — " +
          "no batch ever adopted scalars"))
      val pruned = servableImp.get
        .filter(col("tb").isin(tbs: _*))
        .filter(col("term").isin(terms: _*))
      // serve-time re-cut over the pruned union of per-epoch cuts = the
      // top-K of all arrivals under the frozen scalars (every global
      // top-K row survives its own epoch's cut); masking BEFORE the
      // re-cut lets survivors backfill a deleted head's slot from the
      // stored tail — the same rows a fresh cut over the reduced
      // arrivals would keep whenever the tail is stored
      val cand = TextAnalysis.impactCut(
          masked(spark, impPath, pruned.filter(col("doc_id").isNotNull)), k)
        .select("doc_id", "term", "tf")
      val dfAgg = pruned.filter(col("doc_id").isNull)
        .groupBy("term").agg(sum("tf").as("df0"))
      val dfq = Tombstones.ids(spark, lexPath, "doc_id") match {
        case None => dfAgg.select(col("term"), col("df0").as("df"))
        case Some(ids) =>
          val adj = servableLex
            .filter(col("tb").isin(tbs: _*))
            .filter(col("term").isin(terms: _*))
            .join(broadcast(ids.distinct()), Seq("doc_id"), "left_semi")
            .groupBy("term").agg(count(lit(1)).as("ddf"))
          dfAgg.join(adj, Seq("term"), "left")
            .select(col("term"),
              (col("df0") - coalesce(col("ddf"), lit(0L))).as("df"))
            .filter(col("df") > 0)
      }
      TextAnalysis.bm25RankCut(TextAnalysis.bm25Score((cand, stats,
        TextAnalysis.termWeights(qt, dfq, n), quantizedAvgDl(n, l))))
    }
  }

  /** The stream impact serve's recall audit — q183's fold over the
    * accumulated pair: per query, how much of the exact [[lexTopDocs]]
    * page the bounded [[impactTopDocs]] serve retains (integer
    * per-mille; n_exact ≥ 1 per emitted group, so the ANSI div is
    * safe). The number an operator reads before routing stream traffic
    * to the bounded road — and the MEASURED signal that the frozen
    * scalars have drifted past usefulness, [[rebuildImpactIndex]]'s
    * trigger (the q95/q183 stance: approximations ship beside their
    * exact baseline with the drift measured per corpus, not guessed).
    */
  def impactRecallAudit(spark: SparkSession, lexPath: String,
      impPath: String, queries: DataFrame): DataFrame = {
    // ONE capped-terms collect and ONE lex-root stat fold feed both
    // member serves (they share the queries relation and the lex root by
    // contract, so the rows and scalars are identical — r21); a
    // term-less query set skips the fold (the defined-empty road)
    val capped = cappedTermRows(queries)
    val inputs =
      if (capped._2.isEmpty) None else lexServeInputs(spark, lexPath)
    val exact = lexTopDocsFrom(spark, lexPath, queries, capped, inputs)
      .select(col("qid"), col("doc_id"))
    val approx = impactTopDocsFrom(spark, lexPath, impPath, queries, capped,
        inputs)
      .select(col("qid"), col("doc_id"), lit(1L).as("hit"))
    exact.join(approx, Seq("qid", "doc_id"), "left")
      .groupBy("qid").agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall_pm", expr("(n_hit * 1000) div n_exact"))
  }

  /** Merge the impact root's committed epochs ≤ `upToBatch` into one
    * consolidated `tb`-partitioned epoch — SERVE-INVARIANT by
    * construction (LexStreamSpec pins it): the per-term cut rows keep
    * their stored `imp` (frozen scalars — nothing re-orders), the
    * tombstoned candidates purge physically (masking already hid
    * them), and the df-delta layer is REPLACED by a fresh per-term
    * count over the paired lex root's masked servable postings — which
    * equals the old deltas minus the deleted documents' still-present
    * memberships, exactly what [[impactTopDocs]]' serve-time
    * adjustment computes. Contract: run beside (AFTER) the lex root's
    * own purging compaction in the same quiesced call at the stream's
    * max committed id — the [[runLexIndex]] cadence wiring — so the
    * recomputed df layer covers every arrival and sees the lex purge.
    */
  def compactImpactIndex(spark: SparkSession, impPath: String,
      lexPath: String, upToBatch: Long): Int = {
    val n = BatchProtocol.compactIndex(spark, impPath, upToBatch, Seq("tb"),
      rowFilter = rel => {
        val cut = masked(spark, impPath, rel.filter(col("doc_id").isNotNull))
          .select("doc_id", "term", "tf", "imp")
        val dfFresh = BatchProtocol.readServable(spark, lexPath) match {
          case None => rel.filter(col("doc_id").isNull)
            .select("doc_id", "term", "tf", "imp").limit(0)
          case Some(lx) =>
            dfDeltaRows(masked(spark, lexPath,
              lx.filter(col("tb") =!= StatBucket).select("doc_id", "term")))
        }
        // the layout column re-derives (tb is functional in term, so
        // the recompute equals the stored value on the kept rows)
        cut.unionByName(dfFresh)
          .withColumn("tb", termBucket(col("term")))
      })
    Tombstones.consolidate(spark, impPath, upToBatch, "doc_id")
    n
  }

  /** One-row scalar-drift card for an impact root — the q193 stance
    * for the STREAM sidecar: the frozen cut scalars vs the ones a
    * fresh adoption over today's lex stats would derive, plus the
    * drift verdict under `growthFactor` (the [[rebuildIfDrifted]]
    * policy's own test, so the card and the action cannot disagree).
    * Costs one stat-partition fold; serves nothing itself, so it is
    * spec-verified against hand-built roots rather than a DuckDB
    * oracle (the accumulated roots exist only at runtime — the
    * [[indexCard]] precedent).
    */
  def impactScalarsCard(spark: SparkSession, impPath: String,
      lexPath: String, growthFactor: Double = 2.0): DataFrame = {
    import spark.implicits._
    val aF = readMarker(spark, impPath, APrefix).getOrElse(0L)
    val kF = readMarker(spark, impPath, KPrefix).getOrElse(0L)
    val (n, l) = BatchProtocol.readServable(spark, lexPath)
      .map(lx => statScalars(statRows(spark, lexPath, lx)))
      .getOrElse((0L, 0L))
    val aC = quantizedAvgDl(n, l)
    val kC = TextAnalysis.impactKOf(spark, n)
    val drifted = kF > 0L && kC.toDouble >= growthFactor * kF
    Seq((aF, kF, aC, kC, n, if (drifted) 1L else 0L))
      .toDF("a_frozen", "k_frozen", "a_current", "k_current",
        "n_docs", "k_drifted")
  }

  /** The drift verdict, CONSUMED — the doubling-amortized maintenance
    * policy for the stream sidecar: rebuild when the freshly-derived K
    * has grown past `growthFactor`× the frozen one (K is monotone in
    * n, so this fires O(log corpus) times over the index's life; each
    * rebuild is linear, so total maintenance ≤
    * factor/(factor−1) × the final build — the classic doubling
    * argument). Runs on the [[runLexIndex]] compaction cadence, where
    * quiescence holds by construction; returns whether it rebuilt.
    * Rebuilding on EVERY derived-K change instead would re-index
    * near-continuously early in a stream's life for membership the
    * q195 audit shows barely moves — the factor is the knob between
    * recall freshness and maintenance cost.
    */
  def rebuildIfDrifted(spark: SparkSession, impPath: String,
      lexPath: String, growthFactor: Double = 2.0): Boolean = {
    val drifted = impactScalarsCard(spark, impPath, lexPath, growthFactor)
      .head.getAs[Long]("k_drifted") == 1L
    if (drifted) rebuildImpactIndex(spark, impPath, lexPath)
    drifted
  }

  /** Scalar-refresh MIGRATION for an impact root — the q193 rebuild
    * action, streamed: re-derive (a, K) from the lex root's CURRENT
    * masked stats and rebuild the whole sidecar from its servable
    * postings under them (per-term top-K at the new order — the one
    * operation the frozen-scalar epochs cannot express, because stored
    * cuts only ever drop rows). Rides [[BatchProtocol.compactIndex]]'s
    * crash-ordered protocol with a replace-all rowFilter, so every
    * crash window recovers by re-run; the markers rewrite LAST — a
    * crash between leaves rows cut at the new scalars served at the
    * old K (a prefix of the new cut: consistent, and the re-run
    * converges). Quiesced, like every migration ([[DocStream
    * .rebandIndex]]'s contract). No-op on an epoch-less root.
    */
  def rebuildImpactIndex(spark: SparkSession, impPath: String,
      lexPath: String): Unit = {
    BatchProtocol.requireQuiesced(spark, impPath)
    val epochs = BatchProtocol.epochIds(spark, impPath)
    if (epochs.isEmpty) return
    val lx = BatchProtocol.readServable(spark, lexPath).getOrElse(
      sys.error(s"impact root $impPath rebuilds from the paired lex " +
        s"root's postings — $lexPath holds no epochs"))
    val stats = statRows(spark, lexPath, lx)
    val (n, l) = statScalars(stats)
    val aNew = quantizedAvgDl(n, l)
    val kNew = TextAnalysis.impactKOf(spark, n)
    val post = masked(spark, lexPath, lx.filter(col("tb") =!= StatBucket)
      .select("doc_id", "term", "tf"))
    // the consolidation anchor: compactIndex folds THROUGH a live
    // stream epoch id. A root whose arrivals all compacted already has
    // none — append a committed EMPTY epoch one past the watermark (a
    // no-rows epoch is the redelivery convention, invisible to every
    // read) purely so the replace-all consolidation has its anchor.
    val upTo = epochs.filter(_ >= 0) match {
      case live if live.nonEmpty => live.max
      case _ =>
        val anchor = BatchProtocol.compactedThrough(spark, impPath) + 1
        fs(spark, impPath).mkdirs(
          new org.apache.hadoop.fs.Path(s"$impPath/batch_id=$anchor"))
        BatchProtocol.commit(spark, impPath, anchor)
        anchor
    }
    BatchProtocol.compactIndex(spark, impPath, upTo, Seq("tb"),
      rowFilter = _ => impactEpochRows(post, stats, aNew, kNew))
    Tombstones.consolidate(spark, impPath, upTo, "doc_id")
    writeScalars(spark, impPath, aNew, kNew)
  }
}
