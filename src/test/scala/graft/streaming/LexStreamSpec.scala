package graft.streaming

import graft.SparkTestSession
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The incremental lexical index's contract ([[LexStream]]): after any
  * number of micro-batches, the accumulated index SERVES byte-identically
  * to a batch `ensureLexIndex` rebuild over the union corpus (pinned
  * through q148 — the one audited batch serve), the exactly-once marker
  * protocol survives redelivery and mid-batch crashes, compaction never
  * changes a serve, and the serve reads only the query terms' buckets
  * plus the stat partition.
  */
class LexStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // three micro-batches; union ids 0..11 ⇒ q148's corpus-adaptive query
  // modulus is max(5, ceil(12/8)) = 5 ⇒ query docs {0, 5, 10} — one per
  // batch, including the null-text doc (a term-less query must serve
  // nothing on BOTH paths). Terms recur across batches so df only
  // matches if it accumulates across epochs.
  private val b0 = Seq(
    0L -> "zebra quark the the the",
    1L -> "zebra quark the here now",
    2L -> "the the the the",
    3L -> "alpha beta the")
  private val b1 = Seq(
    4L -> "zebra the filler filler",
    5L -> (null: String),
    6L -> "",
    7L -> "quark beta gamma")
  private val b2 = Seq(
    8L -> "alpha zebra quark",
    9L -> "delta epsilon",
    10L -> "quark beta the zebra",
    11L -> "the end")
  private val union = b0 ++ b1 ++ b2

  private def df(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  /** Fold the three fixture batches into a fresh index; returns its path. */
  private def foldFixture(): String = {
    val lex = Files.createTempDirectory("graft-lexidx").toString
    LexStream.processLexBatch(spark, df(b0), 0L, lex)
    LexStream.processLexBatch(spark, df(b1), 1L, lex)
    LexStream.processLexBatch(spark, df(b2), 2L, lex)
    lex
  }

  /** One parquet rebuild of the union corpus for the batch oracles. */
  private lazy val unionDir: String = {
    val dir = Files.createTempDirectory("graft-lexidx-union").toString
    df(union).write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** A corpus dir's batch-serve rows via a registered query (q148/
    * q154/q158 — the audited batch paths) with `score` the 4th column.
    */
  private def batchRowsIn(dir: String, q: String, score: String)
      : Set[(Long, Long, Long, Long)] = {
    val out = graft.SparkEntry.queries(q)(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long](score))).toSet
    spark.catalog.clearCache()
    out
  }

  private def batchRows(q: String, score: String)
      : Set[(Long, Long, Long, Long)] = batchRowsIn(unionDir, q, score)

  /** A rebuild oracle dir over the union corpus MINUS the given ids —
    * the takedown tests' ground truth ("as if they never arrived").
    */
  private def minusDir(ids: Set[Long]): String = {
    val dir = Files.createTempDirectory("graft-lexidx-minus").toString
    df(union.filterNot(t => ids(t._1))).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def batchServe(): Set[(Long, Long, Long, Long)] =
    batchRows("q148_bm25_topk", "score_u")

  /** The fixture's external query table: the sampled docs' texts. */
  private def fixtureQueries() = {
    import spark.implicits._
    union.filter(t => t._1 % 5 == 0).map { case (id, tx) => (id, tx) }
      .toDF("qid", "qtext")
  }

  private def streamServe(lex: String): Set[(Long, Long, Long, Long)] =
    LexStream.lexTopDocs(spark, lex, fixtureQueries())
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet

  test("the accumulated index serves byte-identically to a batch rebuild over the union corpus") {
    val lex = foldFixture()
    val batch = batchServe()
    val stream = streamServe(lex)
    assert(batch.nonEmpty, "fixture must rank something")
    assert(stream == batch,
      s"stream-only ${stream -- batch}; batch-only ${batch -- stream}")
    // the null-text query is term-less and absent on BOTH paths
    assert(!stream.exists(_._1 == 5L) && !batch.exists(_._1 == 5L))
  }

  test("a redelivered committed batch no-ops; a crash before the marker recomputes an identical epoch") {
    val lex = foldFixture()
    val expected = streamServe(lex)
    val rowsBefore = spark.read.parquet(lex).count()
    // redelivery of a fully-committed batch: marker short-circuits
    LexStream.processLexBatch(spark, df(b1), 1L, lex)
    assert(spark.read.parquet(lex).count() == rowsBefore)
    // crash AFTER the epoch write, BEFORE the marker: redelivery must
    // overwrite the orphan epoch with identical rows and re-commit
    Files.delete(java.nio.file.Paths.get(s"$lex/_commits/2"))
    LexStream.processLexBatch(spark, df(b2), 2L, lex)
    assert(BatchProtocol.committed(spark, lex, 2L))
    assert(spark.read.parquet(lex).count() == rowsBefore)
    assert(streamServe(lex) == expected, "recompute must serve identically")
  }

  test("compaction merges the epochs and the serve is unchanged") {
    val lex = foldFixture()
    val expected = streamServe(lex)
    val merged = LexStream.compactLexIndex(spark, lex, 2L)
    assert(merged == 3, s"expected 3 epochs merged, got $merged")
    val epochs = BatchProtocol.epochIds(spark, lex)
    assert(epochs == Seq(-4L), s"one consolidated epoch expected: $epochs")
    assert(streamServe(lex) == expected)
    // replayed committed batches still no-op through the watermark
    val rows = spark.read.parquet(lex).count()
    LexStream.processLexBatch(spark, df(b0), 0L, lex)
    assert(spark.read.parquet(lex).count() == rows)
  }

  test("the serve reads only the query terms' buckets and the stat partition") {
    import spark.implicits._
    val lex = foldFixture()
    // "delta" occurs once (doc 9): the postings scans may touch only its
    // term bucket's files; the dl scan only the tb=-1 stat partition
    val served = LexStream.lexTopDocs(spark, lex,
      Seq((100L, "delta")).toDF("qid", "qtext"))
    val rows = served.collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(9L))
    val bkt = spark.range(1)
      .select(pmod(hash(lit("delta")), lit(LexStream.LexTermBuckets))
        .cast("int")).head.getInt(0)
    def files(sub: String): Int = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(lex))
      try st.toArray.toSeq.map(_.toString)
        .count(p => p.endsWith(".parquet") && p.contains(sub))
      finally st.close()
    }
    val allowedPost = files(s"/tb=$bkt/")
    val allowedStat = files("/tb=-1/")
    val total = files("/tb=")
    assert(allowedPost > 0 && allowedPost + allowedStat < total,
      s"fixture degenerate: post=$allowedPost stat=$allowedStat total=$total")
    // unlike DocNearDupSpec's single-scan read, the serve plan is
    // adaptive: AQE wraps subtrees in leaf-like stage nodes that
    // TreeNode.collect does not descend into — recurse explicitly
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def collectScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => collectScans(a.executedPlan)
      case q: QueryStageExec => collectScans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(collectScans)
    }
    val scans = collectScans(served.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    scans.foreach { s =>
      val n = s.metrics("numFiles").value
      assert(n == allowedPost || n == allowedStat,
        s"scan read $n files; only $allowedPost (term bucket) or " +
          s"$allowedStat (stat partition) of $total are allowed")
    }
  }

  test("the accumulated positional layer serves phrases byte-identically to the staged rebuild, at k=2 and k=3") {
    val pos = Files.createTempDirectory("graft-posidx").toString
    LexStream.processPosBatch(spark, df(b0), 0L, pos)
    LexStream.processPosBatch(spark, df(b1), 1L, pos)
    LexStream.processPosBatch(spark, df(b2), 2L, pos)
    def streamRows(k: Int): Set[(Long, Long, Long, Long)] =
      LexStream.posTopDocs(spark, pos, fixtureQueries(), k)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSet
    val bi = batchRows("q154_phrase_topk", "phrase_tf")
    val tri = batchRows("q158_phrase3_topk", "phrase_tf")
    assert(bi.nonEmpty && tri.nonEmpty && bi != tri,
      "fixture must distinguish the bigram and trigram serves")
    assert(streamRows(2) == bi, s"k=2: ${streamRows(2)} vs $bi")
    assert(streamRows(3) == tri, s"k=3: ${streamRows(3)} vs $tri")
    // redelivery no-ops; compaction leaves the serve byte-identical
    val rows = spark.read.parquet(pos).count()
    LexStream.processPosBatch(spark, df(b1), 1L, pos)
    assert(spark.read.parquet(pos).count() == rows)
    assert(LexStream.compactLexIndex(spark, pos, 2L) == 3)
    assert(streamRows(2) == bi && streamRows(3) == tri,
      "compaction must not change a phrase serve")
  }

  test("runLexIndex end-to-end: one stream maintains both layers through its checkpoint and serves the fixture") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-lexrun").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = LexStream.runLexIndex(mem.toDF().toDF("doc_id", "text"),
      s"$base/lex", s"$base/ckpt", compactEvery = 2,
      posPath = Some(s"$base/pos"))
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch 1 hit the compactEvery=2 cadence: both layers hold the
    // consolidated epoch plus the post-compaction batch only
    assert(BatchProtocol.epochIds(spark, s"$base/lex").sorted == Seq(-3L, 2L))
    assert(BatchProtocol.epochIds(spark, s"$base/pos").sorted == Seq(-3L, 2L))
    assert(streamServe(s"$base/lex") == batchServe(),
      "the stream-maintained lexical layer must serve the batch rows")
    val bi = LexStream.posTopDocs(spark, s"$base/pos", fixtureQueries())
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSet
    assert(bi == batchRows("q154_phrase_topk", "phrase_tf"),
      "the stream-maintained positional layer must serve the batch rows")
  }

  /** Fold the fixture's lex + impact pair; returns (lexPath, impPath). */
  private def foldImpactFixture(): (String, String) = {
    val lex = Files.createTempDirectory("graft-impidx-lex").toString
    val imp = Files.createTempDirectory("graft-impidx").toString
    for ((b, id) <- Seq(b0, b1, b2).zipWithIndex) {
      LexStream.processLexBatch(spark, df(b), id.toLong, lex)
      LexStream.processImpactBatch(spark, df(b), id.toLong, imp, lex)
    }
    (lex, imp)
  }

  private def impactServe(lex: String, imp: String)
      : Set[(Long, Long, Long, Long)] =
    LexStream.impactTopDocs(spark, lex, imp, fixtureQueries())
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet

  test("impact layer: epochs append beside the lex root and the complete-list serve equals the exact one") {
    val (lex, imp) = foldImpactFixture()
    // the 12-doc fixture's dfs all sit far under the derived K floor
    // (64): every stored list is its complete postings, so the bounded
    // serve must equal the exact stream serve AND the batch rebuild —
    // the q182 complete-list identity, streamed
    val exact = batchServe()
    assert(impactServe(lex, imp) == exact,
      s"${impactServe(lex, imp)} vs $exact")
    // three epochs, each carrying cut rows AND per-term df-delta rows
    assert(BatchProtocol.epochIds(spark, imp).sorted == Seq(0L, 1L, 2L))
    val ep0 = spark.read.parquet(s"$imp/batch_id=0")
    assert(ep0.filter(col("doc_id").isNotNull).count() > 0 &&
      ep0.filter(col("doc_id").isNull).count() > 0,
      "an epoch must carry both the cut rows and the df-delta layer")
    // the frozen scalars adopted from the lex root's batch-0 stats
    val f = new org.apache.hadoop.fs.Path(imp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val markers = f.listStatus(new org.apache.hadoop.fs.Path(s"$imp/_scalars"))
      .map(_.getPath.getName).toSet
    assert(markers.exists(_.startsWith("_a=")) &&
      markers.exists(_.startsWith("_k=")), markers.toString)
    // redelivery of a committed batch no-ops
    val rows = spark.read.parquet(imp).count()
    LexStream.processImpactBatch(spark, df(b1), 1L, imp, lex)
    assert(spark.read.parquet(imp).count() == rows)
    // crash AFTER the epoch write, BEFORE the marker: the replay must
    // overwrite the orphan with identical rows (the frozen scalars
    // make the fold deterministic) and re-commit — serve unchanged
    val served = impactServe(lex, imp)
    Files.delete(java.nio.file.Paths.get(s"$imp/_commits/2"))
    LexStream.processImpactBatch(spark, df(b2), 2L, imp, lex)
    assert(BatchProtocol.committed(spark, imp, 2L))
    assert(spark.read.parquet(imp).count() == rows)
    assert(impactServe(lex, imp) == served,
      "crash-before-marker replay must converge to the same serve")
    // the audit reads 1000 per query on complete lists
    val audit = LexStream.impactRecallAudit(spark, lex, imp,
      fixtureQueries()).collect()
    assert(audit.nonEmpty &&
      audit.forall(_.getAs[Long]("recall_pm") == 1000L),
      audit.mkString(","))
  }

  test("impact layer: forced truncation serves the batch q182 page — list heads only") {
    import spark.implicits._
    // the RetrievalSpec q182 fixture, streamed in two batches whose
    // split keeps a(batch 0) = a(union) = 3, so the frozen cut equals
    // the batch staging's and the stream serve must equal the batch
    // q182 entry row-for-row: at K=1, alpha/beta's list heads (docs
    // 1/2, tf=3 at dl=3) beat the query doc itself — the self hit is
    // truncated away
    val data = Seq(
      (1L, "alpha alpha alpha"),
      (2L, "beta beta beta"),
      (3L, "golf hotel india juliet"),
      (4L, "mike november oscar papa"),
      (5L, "alpha beta"),
      (6L, "quebec romeo sierra tango"),
      (7L, "uniform victor whiskey xray"),
      (8L, "yankee zulu lima kilo"))
    val d = Files.createTempDirectory("graft-impidx-trunc-dir").toString
    data.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val lex = Files.createTempDirectory("graft-impidx-trunc-lex").toString
    val imp = Files.createTempDirectory("graft-impidx-trunc").toString
    spark.conf.set(graft.queries.TextAnalysis.ImpactKConf, "1")
    try {
      for ((b, id) <- data.splitAt(4).productIterator.toSeq
          .map(_.asInstanceOf[Seq[(Long, String)]]).zipWithIndex) {
        LexStream.processLexBatch(spark, df(b), id.toLong, lex)
        LexStream.processImpactBatch(spark, df(b), id.toLong, imp, lex)
      }
      val stream = LexStream.impactTopDocs(spark, lex, imp,
        Seq((5L, "alpha beta")).toDF("qid", "qtext"))
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
      val batch = graft.SparkEntry.queries("q182_impact_bm25_topk")(spark, d)
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
      assert(batch.map(_._3) == Set(1L, 2L),
        s"batch fixture must truncate to the list heads: $batch")
      assert(stream == batch, s"stream $stream vs batch $batch")
    } finally {
      spark.conf.unset(graft.queries.TextAnalysis.ImpactKConf)
      spark.catalog.clearCache()
    }
  }

  test("impact layer: deleteDocs masks candidates, df, and scalars; compaction purges without changing the serve") {
    val (lex, imp) = foldImpactFixture()
    // the paired-deployment rule: one request files to every root
    LexStream.deleteDocs(spark, lex, Seq(1L), "t1")
    LexStream.deleteDocs(spark, imp, Seq(1L), "t1")
    // complete lists ⇒ the masked bounded serve equals the full
    // rebuild-minus oracle — candidates, df (the delta-row adjustment),
    // idf, and avgdl all must move, not just the dropped row
    val oracle = batchRowsIn(minusDir(Set(1L)), "q148_bm25_topk", "score_u")
    assert(oracle.nonEmpty && impactServe(lex, imp) == oracle,
      s"${impactServe(lex, imp)} vs $oracle")
    // paired compaction (lex first — the runLexIndex ordering): the
    // serve is byte-identical, the tombstoned rows are physically gone,
    // and the recomputed df layer equals the adjusted one
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 3)
    assert(LexStream.compactImpactIndex(spark, imp, lex, 2L) == 3)
    assert(BatchProtocol.epochIds(spark, imp) == Seq(-4L))
    assert(spark.read.parquet(imp).filter(col("doc_id") === 1L).count() == 0,
      "compaction must purge the tombstoned candidate rows")
    assert(impactServe(lex, imp) == oracle,
      "the paired compaction must not change the bounded serve")
  }

  test("impact layer: rebuildImpactIndex is the scalar-drift action — the stale cut re-derives from the lex root") {
    import spark.implicits._
    val data = Seq(
      (1L, "alpha alpha alpha"),
      (2L, "beta beta beta"),
      (3L, "golf hotel india juliet"),
      (5L, "alpha beta"))
    val lex = Files.createTempDirectory("graft-impidx-reb-lex").toString
    val imp = Files.createTempDirectory("graft-impidx-reb").toString
    // adopt under a DRIFTED K (the conf override models a frozen K the
    // corpus has outgrown): the serve truncates the self hit away
    spark.conf.set(graft.queries.TextAnalysis.ImpactKConf, "1")
    try {
      LexStream.processLexBatch(spark, df(data.take(2)), 0L, lex)
      LexStream.processImpactBatch(spark, df(data.take(2)), 0L, imp, lex)
      LexStream.processLexBatch(spark, df(data.drop(2)), 1L, lex)
      LexStream.processImpactBatch(spark, df(data.drop(2)), 1L, imp, lex)
    } finally spark.conf.unset(graft.queries.TextAnalysis.ImpactKConf)
    val qs = Seq((5L, "alpha beta")).toDF("qid", "qtext")
    def serve() = LexStream.impactTopDocs(spark, lex, imp, qs)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
    val exact = LexStream.lexTopDocs(spark, lex, qs)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
    assert(serve() != exact && !serve().exists(_._3 == 5L),
      s"the drifted cut must truncate the self hit: ${serve()}")
    // the drift CARD reads the same state the action tests: frozen
    // K=1 vs derived K=64 ⇒ drifted under the doubling policy
    val pre = LexStream.impactScalarsCard(spark, imp, lex).collect().head
    assert(pre.getAs[Long]("k_frozen") == 1L &&
      pre.getAs[Long]("k_current") == 64L &&
      pre.getAs[Long]("k_drifted") == 1L, pre.toString)
    // the verdict CONSUMED: rebuildIfDrifted re-derives (a, K) from
    // the lex root's current stats (derived K = floor 64 > every df ⇒
    // complete lists) and rebuilds — the bounded serve now equals the
    // exact one
    assert(LexStream.rebuildIfDrifted(spark, imp, lex),
      "a 64× K growth must trigger the doubling-policy rebuild")
    assert(serve() == exact, s"post-rebuild ${serve()} vs $exact")
    // post-rebuild the card certifies current and the policy no-ops
    val post = LexStream.impactScalarsCard(spark, imp, lex).collect().head
    assert(post.getAs[Long]("k_frozen") == 64L &&
      post.getAs[Long]("k_drifted") == 0L, post.toString)
    assert(!LexStream.rebuildIfDrifted(spark, imp, lex),
      "a current sidecar must not rebuild")
    // and the consolidated-only root rebuilds through its anchor epoch
    // (idempotent re-run converges)
    LexStream.rebuildImpactIndex(spark, imp, lex)
    assert(serve() == exact, "rebuild re-run drifted")
    spark.catalog.clearCache()
  }

  test("runLexIndex maintains the impact layer on the same stream and cadence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft-lexrun-imp").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = LexStream.runLexIndex(mem.toDF().toDF("doc_id", "text"),
      s"$base/lex", s"$base/ckpt", compactEvery = 2,
      impactPath = Some(s"$base/imp"))
    try {
      mem.addData(b0: _*); q.processAllAvailable()
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    assert(BatchProtocol.epochIds(spark, s"$base/imp").sorted
      == Seq(-3L, 2L))
    assert(impactServe(s"$base/lex", s"$base/imp") == batchServe(),
      "the stream-maintained impact layer must serve the exact rows " +
        "on complete lists")
  }

  test("takedown: deleteDocs erases a document from the serve — scores, df and corpus scalars included") {
    val lex = foldFixture()
    // doc 1 is a top hit for query 0 AND carries zebra/quark/the/here/
    // now df mass: its erasure must move SCORES (idf/avgdl), not just
    // drop a row — which only the full rebuild-minus oracle can confirm
    LexStream.deleteDocs(spark, lex, Seq(1L), "takedown-1")
    val oracle = batchRowsIn(minusDir(Set(1L)), "q148_bm25_topk", "score_u")
    val stream = streamServe(lex)
    assert(oracle.nonEmpty && !oracle.exists(_._3 == 1L))
    assert(stream == oracle,
      s"stream-only ${stream -- oracle}; oracle-only ${oracle -- stream}")
    // a redelivered request replaces itself; a second request accumulates
    LexStream.deleteDocs(spark, lex, Seq(1L), "takedown-1")
    assert(streamServe(lex) == oracle, "redelivered request must no-op")
    LexStream.deleteDocs(spark, lex, Seq(4L, 99L), "takedown-2")
    val oracle2 = batchRowsIn(minusDir(Set(1L, 4L)), "q148_bm25_topk", "score_u")
    assert(streamServe(lex) == oracle2,
      "accumulated takedowns must compose; a never-arrived id must no-op")
  }

  test("takedown: compaction purges tombstoned rows physically without changing the serve") {
    val lex = foldFixture()
    LexStream.deleteDocs(spark, lex, Seq(1L), "t1")
    LexStream.deleteDocs(spark, lex, Seq(2L), "t2")
    val oracle = batchRowsIn(minusDir(Set(1L, 2L)), "q148_bm25_topk", "score_u")
    assert(streamServe(lex) == oracle)
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 3)
    // physical erasure: no row of the deleted docs survives anywhere
    assert(spark.read.parquet(lex)
      .filter(col("doc_id").isin(1L, 2L)).count() == 0,
      "compaction must purge tombstoned rows from the consolidated epoch")
    assert(streamServe(lex) == oracle, "the purge must not change the serve")
    // tombstone files consolidated to one request dir; ids retained
    // (they may still mask epochs a compaction did not merge)
    val f = new org.apache.hadoop.fs.Path(lex)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val reqs = f.listStatus(new org.apache.hadoop.fs.Path(s"$lex/_tombstones"))
      .map(_.getPath.getName).toSeq
    assert(reqs == Seq("req=compacted_2"), reqs.toString)
    // a post-compaction arrival of a tombstoned doc stays masked:
    // takedown outranks late arrival
    LexStream.processLexBatch(spark,
      df(Seq(1L -> "zebra quark the here now")), 3L, lex)
    assert(streamServe(lex) == oracle,
      "a tombstoned doc arriving after the purge must stay masked")
  }

  test("takedown: the positional layer masks and purges under the same tombstone protocol") {
    val pos = Files.createTempDirectory("graft-posidx-del").toString
    LexStream.processPosBatch(spark, df(b0), 0L, pos)
    LexStream.processPosBatch(spark, df(b1), 1L, pos)
    LexStream.processPosBatch(spark, df(b2), 2L, pos)
    // doc 1 carries the query-0 bigram "zebra quark": its takedown must
    // drop it from the phrase serve
    LexStream.deleteDocs(spark, pos, Seq(1L), "t1")
    val oracle = batchRowsIn(minusDir(Set(1L)), "q154_phrase_topk", "phrase_tf")
    def streamRows(): Set[(Long, Long, Long, Long)] =
      LexStream.posTopDocs(spark, pos, fixtureQueries())
        .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSet
    assert(oracle.nonEmpty && streamRows() == oracle,
      s"${streamRows()} vs $oracle")
    assert(LexStream.compactLexIndex(spark, pos, 2L) == 3)
    assert(spark.read.parquet(pos).filter(col("doc_id") === 1L).count() == 0)
    assert(streamRows() == oracle, "the purge must not change the phrase serve")
  }

  test("takedown: a tombstone root with no committed request (crashed first delete) serves unmasked") {
    val lex = foldFixture()
    // simulate the crash residue: the root exists, no req= dir landed
    val f = new org.apache.hadoop.fs.Path(lex)
      .getFileSystem(spark.sessionState.newHadoopConf())
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$lex/_tombstones"))
    assert(streamServe(lex) == batchServe(),
      "an empty tombstone root must read as 'no takedown', not error")
  }

  test("streaming takedowns: runDeletes folds request batches into both layers; redelivery no-ops") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val lex = foldFixture()
    val pos = Files.createTempDirectory("graft-posidx-rund").toString
    LexStream.processPosBatch(spark, df(b0), 0L, pos)
    LexStream.processPosBatch(spark, df(b1), 1L, pos)
    LexStream.processPosBatch(spark, df(b2), 2L, pos)
    val ckpt = Files.createTempDirectory("graft-rund-ckpt").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val q = Tombstones.runDeletes(mem.toDF().toDF("doc_id"),
      Seq(lex, pos), ckpt)
    try {
      mem.addData(1L); q.processAllAvailable()
      mem.addData(4L, 99L); q.processAllAvailable()
    } finally q.stop()
    // both layers serve the rebuild-minus truth (99 never arrived)
    val lexOracle =
      batchRowsIn(minusDir(Set(1L, 4L)), "q148_bm25_topk", "score_u")
    assert(streamServe(lex) == lexOracle)
    val posOracle =
      batchRowsIn(minusDir(Set(1L, 4L)), "q154_phrase_topk", "phrase_tf")
    val posServe = LexStream.posTopDocs(spark, pos, fixtureQueries())
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSet
    assert(posServe == posOracle)
    // a redelivered batch replaces itself: same request file set, same
    // serve (the request-identity exactly-once contract)
    Tombstones.processDeleteBatch(spark,
      Seq(4L, 99L).toDF("doc_id"), 1L, Seq(lex, pos))
    assert(streamServe(lex) == lexOracle, "redelivery must not change a serve")
    val f = new org.apache.hadoop.fs.Path(lex)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val reqs = f.listStatus(
        new org.apache.hadoop.fs.Path(s"$lex/_tombstones"))
      .map(_.getPath.getName).toSet
    assert(reqs == Set("req=stream-0", "req=stream-1"), reqs.toString)
  }

  test("indexCard reads the accumulated index's state through fold, takedown, and compaction") {
    val lex = foldFixture()
    def card() = LexStream.indexCard(spark, lex).collect()(0)
    val c0 = card()
    assert(c0.getAs[Long]("n_stream_epochs") == 3L &&
      !c0.getAs[Boolean]("has_consolidated") &&
      c0.getAs[Long]("compacted_through") == -1L, c0.toString)
    // one stat row per arrived doc (12, null text included); postings
    // rows = distinct (doc, term) pairs > 0
    assert(c0.getAs[Long]("n_stat_rows") == 12L &&
      c0.getAs[Long]("n_postings_rows") > 0L, c0.toString)
    assert(c0.getAs[Long]("n_tomb_files") == 0L &&
      c0.getAs[Long]("n_tomb_ids") == 0L)
    LexStream.deleteDocs(spark, lex, Seq(1L), "t1")
    LexStream.deleteDocs(spark, lex, Seq(1L, 2L), "t2")
    val c1 = card()
    // requests overlap on id 1: two files, two DISTINCT masked ids;
    // row counts are PHYSICAL (masking hides rows from serves, not
    // from the card's accounting)
    assert(c1.getAs[Long]("n_tomb_files") == 2L &&
      c1.getAs[Long]("n_tomb_ids") == 2L, c1.toString)
    assert(c1.getAs[Long]("n_stat_rows") == 12L)
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 3)
    val c2 = card()
    assert(c2.getAs[Long]("n_stream_epochs") == 0L &&
      c2.getAs[Boolean]("has_consolidated") &&
      c2.getAs[Long]("compacted_through") == 2L, c2.toString)
    // the purge removed docs 1/2's stat rows; tombstones consolidated
    // to one file, ids retained
    assert(c2.getAs[Long]("n_stat_rows") == 10L, c2.toString)
    assert(c2.getAs[Long]("n_tomb_files") == 1L &&
      c2.getAs[Long]("n_tomb_ids") == 2L, c2.toString)
  }

  test("a compaction crash between rename and cleanup (duplicate epochs) does not double the serve") {
    val lex = foldFixture()
    val expected = streamServe(lex)
    // snapshot the stream epochs, compact, then restore the snapshots —
    // exactly the state a crash between the consolidated-epoch rename
    // and the epoch cleanup leaves behind (the watermark file marks the
    // restored epochs committed, so no markers are needed)
    val src = java.nio.file.Paths.get(lex)
    val snap = Files.createTempDirectory("graft-lexidx-snap")
    def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      val st = java.nio.file.Files.walk(from)
      try st.forEach { p =>
        val t = to.resolve(from.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } finally st.close()
    }
    Seq(0L, 1L, 2L).foreach(id => copyTree(src.resolve(s"batch_id=$id"),
      snap.resolve(s"batch_id=$id")))
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 3)
    Seq(0L, 1L, 2L).foreach(id => copyTree(snap.resolve(s"batch_id=$id"),
      src.resolve(s"batch_id=$id")))
    assert(BatchProtocol.epochIds(spark, lex).sorted == Seq(-4L, 0L, 1L, 2L))
    // the serve aggregates df/N/L/tf — duplicate epochs would double all
    // four and diverge every score; readServable must exclude them
    assert(streamServe(lex) == expected,
      "a crash-leftover duplicate epoch must not change the serve")
    val card = LexStream.indexCard(spark, lex).collect()(0)
    assert(card.getAs[Long]("n_stat_rows") == 12L, card.toString)
    // the redelivered compaction's early-return path finishes the cleanup
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 0)
    assert(BatchProtocol.epochIds(spark, lex) == Seq(-4L))
    assert(streamServe(lex) == expected)
  }

  test("consolidate retry: a crashed attempt's sole-holder target is never deleted before its replacement is visible") {
    val lex = foldFixture()
    // the advice scenario: a prior consolidate at upToBatch=2 renamed its
    // target live and crashed mid-cleanup AFTER deleting some superseded
    // request dirs — id 1 now survives ONLY in the target
    LexStream.deleteDocs(spark, lex, Seq(1L), "compacted_2")
    LexStream.deleteDocs(spark, lex, Seq(2L), "t2")
    val oracle = batchRowsIn(minusDir(Set(1L, 2L)), "q148_bm25_topk", "score_u")
    assert(streamServe(lex) == oracle)
    // the retry consolidates under a FRESH name (the taken base name is
    // a superseded dir to it) and both ids survive
    assert(LexStream.compactLexIndex(spark, lex, 2L) == 3)
    val f = new org.apache.hadoop.fs.Path(lex)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val reqs = f.listStatus(new org.apache.hadoop.fs.Path(s"$lex/_tombstones"))
      .map(_.getPath.getName).toSeq
    assert(reqs == Seq("req=compacted_2_1"), reqs.toString)
    assert(streamServe(lex) == oracle,
      "both takedown ids must survive the retry consolidation")
    // a further consolidate at the same watermark recognizes the
    // suffixed name as already consolidated (no churn)
    Tombstones.consolidate(spark, lex, 2L, "doc_id")
    val reqs2 = f.listStatus(new org.apache.hadoop.fs.Path(s"$lex/_tombstones"))
      .map(_.getPath.getName).toSeq
    assert(reqs2 == Seq("req=compacted_2_1"), reqs2.toString)
  }

  test("consolidate reads the request dirs: no ignored-paths warning, the same keys") {
    val root = Files.createTempDirectory("graft-tomb-consolidate").toString
    Tombstones.delete(spark, root, Seq(1L, 2L), "a")
    Tombstones.delete(spark, root, Seq(2L, 3L), "b")
    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "consolidate-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.execution.datasources.DataSource")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    appender.start()
    logger.addAppender(appender)
    try Tombstones.consolidate(spark, root, 5L, "doc_id")
    finally { logger.removeAppender(appender); appender.stop() }
    assert(!warnings.asScala.exists(_.contains("paths were ignored")), warnings)
    assert(Tombstones.requests(spark, root, "doc_id").map { case (r, ids) => r -> ids.toSet } ==
      Seq("compacted_5" -> Set(1L, 2L, 3L)))
  }

  test("a null id in a takedown request batch is ignored, not a crash loop") {
    val lex = foldFixture()
    val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT")
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(1L), org.apache.spark.sql.Row(null))
    val batch = spark.createDataFrame(rows, schema)
    Tombstones.processDeleteBatch(spark, batch, 0L, Seq(lex))
    assert(streamServe(lex) ==
      batchRowsIn(minusDir(Set(1L)), "q148_bm25_topk", "score_u"),
      "the non-null id must mask; the null row must be a no-op")
  }

  test("an epoch-less index root reports an all-zero card and serves a defined empty") {
    import spark.implicits._
    val lex = Files.createTempDirectory("graft-lexidx-empty").toString
    val card = LexStream.indexCard(spark, lex).collect()(0)
    assert(card.getAs[Long]("n_stream_epochs") == 0L &&
      !card.getAs[Boolean]("has_consolidated") &&
      card.getAs[Long]("compacted_through") == -1L &&
      card.getAs[Long]("n_postings_rows") == 0L &&
      card.getAs[Long]("n_stat_rows") == 0L, card.toString)
    val served = LexStream.lexTopDocs(spark, lex,
      Seq((1L, "anything")).toDF("qid", "qtext"))
    assert(served.collect().isEmpty &&
      served.columns.toSeq == Seq("qid", "rnk", "doc_id", "score_u"))
    val phr = LexStream.posTopDocs(spark, lex,
      Seq((1L, "two tokens")).toDF("qid", "qtext"))
    assert(phr.collect().isEmpty &&
      phr.columns.toSeq == Seq("qid", "rnk", "doc_id", "phrase_tf"))
  }

  test("degenerate inputs: term-less queries and an all-null-text corpus serve a defined empty") {
    import spark.implicits._
    val lex = foldFixture()
    // null/empty-only query set: no terms -> the contract-schema empty
    val e1 = LexStream.lexTopDocs(spark, lex,
      Seq((1L, null: String)).toDF("qid", "qtext"))
    assert(e1.collect().isEmpty &&
      e1.columns.toSeq == Seq("qid", "rnk", "doc_id", "score_u"))
    // all-null-text corpus: stat rows exist (N=2, L=0), no postings —
    // a real query finds no candidates, and the L=0 fold must not crash
    val lex2 = Files.createTempDirectory("graft-lexidx-null").toString
    LexStream.processLexBatch(spark,
      Seq((1L, null: String), (2L, null: String)).toDF("doc_id", "text"),
      0L, lex2)
    val e2 = LexStream.lexTopDocs(spark, lex2,
      Seq((1L, "anything")).toDF("qid", "qtext"))
    assert(e2.collect().isEmpty)
  }

  test("a both-markers crash window resolves to the NEWEST marker, even when its value is lower (r22)") {
    // the shrink direction the old max-value fold silently lost: a
    // rebuild lowering K (takedowns reduced N) crashes between
    // create-new and delete-stale, leaving _k=64 (stale) beside _k=32
    // (new, newer mtime) — the serve must adopt 32, not max-fold to 64
    val imp = Files.createTempDirectory("graft-impmarker").toString
    LexStream.writeScalars(spark, imp, 4L, 64L)
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix)
      .contains(64L))
    // simulate the crash window by hand: create the LOWER new marker
    // with a strictly newer mtime, leave the stale one in place
    val f = new org.apache.hadoop.fs.Path(imp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val stale = new org.apache.hadoop.fs.Path(s"$imp/_scalars/_k=64")
    val fresh = new org.apache.hadoop.fs.Path(s"$imp/_scalars/_k=32")
    f.create(fresh, true).close()
    f.setTimes(stale, f.getFileStatus(fresh).getModificationTime - 10, -1)
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix)
      .contains(32L),
      "the newest marker must win the both-files window, not the largest")
    // the next completed writeScalars heals the window: one marker per
    // prefix afterwards (the r22 post-delete assertion), newest wins
    LexStream.writeScalars(spark, imp, 4L, 32L)
    assert(f.listStatus(new org.apache.hadoop.fs.Path(s"$imp/_scalars"))
      .map(_.getPath.getName).count(_.startsWith("_k=")) == 1)
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix)
      .contains(32L))
    // ties on mtime fall back to max value — the growth direction
    val tieA = new org.apache.hadoop.fs.Path(s"$imp/_scalars/_a=9")
    f.create(tieA, true).close()
    val t0 = f.getFileStatus(tieA).getModificationTime
    f.setTimes(new org.apache.hadoop.fs.Path(s"$imp/_scalars/_a=4"), t0, -1)
    assert(LexStream.readMarker(spark, imp, LexStream.APrefix)
      .contains(9L))
  }

  test("a both-markers crash window resolves by write sequence, not mtime: a shrink at equal mtimes reads the newer, lower value") {
    val imp = Files.createTempDirectory("graft-impmarker-seq").toString
    val f = new org.apache.hadoop.fs.Path(imp)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def names = f.listStatus(new org.apache.hadoop.fs.Path(s"$imp/_scalars"))
      .map(_.getPath.getName).filterNot(_.startsWith(".")).toSet
    LexStream.writeScalars(spark, imp, 4L, 64L)
    LexStream.writeScalars(spark, imp, 4L, 128L) // K grows: sequence 1
    assert(names == Set("_a=4", "_k=1-128"))
    // a rebuild shrinking K to 32 crashes between create-new (sequence 2)
    // and delete-stale; both markers carry one mtime
    val stale = new org.apache.hadoop.fs.Path(s"$imp/_scalars/_k=1-128")
    val fresh = new org.apache.hadoop.fs.Path(s"$imp/_scalars/_k=2-32")
    f.create(fresh, true).close()
    val t0 = f.getFileStatus(fresh).getModificationTime
    f.setTimes(stale, t0, -1)
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix).contains(32L))
    // nor does a newer mtime on the stale marker win
    f.setTimes(stale, t0 + 60000L, -1)
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix).contains(32L))
    // the next completed write keeps the marker in force and heals the window
    LexStream.writeScalars(spark, imp, 4L, 32L)
    assert(names == Set("_a=4", "_k=2-32"))
    assert(LexStream.readMarker(spark, imp, LexStream.KPrefix).contains(32L))
  }

  test("the serve takes the query side as a collected literal — no tokenize subtree in the main action (r21)") {
    val lex = foldFixture()
    val served = LexStream.lexTopDocs(spark, lex, fixtureQueries())
    served.collect() // finalize AQE before inspecting (the plan-pin rule)
    val plan = served.queryExecution.executedPlan.toString
    // the capped (qid, term) rows enter the scoring plan as a local
    // relation (cappedTermRows' one bounded collect)…
    assert(plan.contains("LocalTableScan"), plan.take(2000))
    // …so the qtext tokenize chain (split(lower(trim(…)))) executes only
    // inside that collect, never again in the serve action — the shape
    // that re-embedded it was two extra exchanges per serve
    assert(!plan.contains("split(lower(trim"), plan.take(2000))
    spark.catalog.clearCache()
  }
}
