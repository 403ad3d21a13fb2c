package graft.queries

import graft.{SparkEntry, SparkTestSession, SqlCatalog, StagedTombstones}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The batch-staged takedown contract ([[graft.StagedTombstones]]): a
  * serve after `deleteDocs`/`deleteVecs` equals a RE-STAGE over the
  * corpus minus the deletions — candidates AND every corpus-derived
  * statistic (df, N, L, avgdl) read as if the documents never arrived.
  *
  * Per family:
  *   - lexical (BM25/phrase/proximity/snippets/index card): compared
  *     BYTE-IDENTICAL against a fresh staging of a physically reduced
  *     corpus directory (the strongest form — stats included);
  *   - catalog SQL forms: the `graft_bm25` table function
  *     over the refreshed views, same reduced-corpus ground truth;
  *   - vector probes (q68 staged IVF, q91/q122 IVF-PQ): codes are pure
  *     per-row functions of (vector, FROZEN codebooks), so a
  *     frozen-model re-stage over the reduced corpus IS a row filter of
  *     the staged table by construction; the spec pins the observable
  *     half — deleted ids vanish, survivors keep scores and relative
  *     order (mask BEFORE the top-k cut, so lower candidates backfill).
  *
  * Exactly-once by request identity: a redelivered requestId REPLACES
  * its prior payload; distinct ids accumulate; a never-staged id is a
  * harmless no-op.
  */
class StagedTakedownSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** 12 docs, ids 0..11: the corpus-adaptive query modulus is
    * max(5, ceil(12/8)) = 5 → queries {0, 5, 10}; after removing the
    * takedown ids {3, 7} it is max(5, ceil(10/8)) = 5 → the SAME query
    * sample, so masked-vs-restaged results are directly comparable.
    */
  private val docRows = Seq(
    0L -> "zebra quark the lattice prism",
    1L -> "zebra quark the here now",
    2L -> "the the the the lattice",
    3L -> "zebra lattice prism prism filler",
    4L -> "alpha beta the prism",
    5L -> "quark lattice alpha zebra gamma",
    6L -> "gamma prism zebra quark",
    7L -> "quark quark lattice gamma here",
    8L -> "here now alpha beta zebra",
    9L -> "prism gamma filler now quark",
    10L -> "lattice zebra now here alpha",
    11L -> "beta gamma quark prism the")

  private val delDocs = Seq(3L, 7L)

  /** 16 well-formed 64-dim vectors (one shared direction + per-id
    * perturbation — every probe cell holds plenty of candidates).
    */
  private def embRows(ids: Seq[Long]): Seq[(Long, Seq[java.lang.Float])] =
    ids.map { i =>
      (i, (1 to 64).map(j => java.lang.Float.valueOf(
        (math.sin(j) + 0.05 * math.sin(i * 64 + j)).toFloat)))
    }

  private def mkCorpus(del: Set[Long]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-staged-takedown").toString
    // a deterministic source column (q170's impact card groups by it);
    // every other query here projects doc_id/text only
    docRows.filterNot(r => del(r._1))
      .map(r => (r._1, r._2, s"src${r._1 % 3}"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$d/documents.parquet")
    embRows(0L until 16L).toDF("vec_id", "embedding")
      .write.parquet(s"$d/embeddings.parquet")
    d
  }

  // the full corpus (masked at serve time) and its physically re-staged
  // ground truth (takedown ids never written)
  private lazy val dirA = mkCorpus(Set.empty)
  private lazy val dirB = mkCorpus(delDocs.toSet)

  private def run(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq

  private def servedIds(q: String): Seq[Long] =
    SparkEntry.queries(q)(spark, dirA).collect()
      .map(_.getAs[Long]("vec_id")).toSeq

  private val lexQueries = Seq("q148_bm25_topk", "q154_phrase_topk",
    "q158_phrase3_topk", "q159_proximity_topk", "q161_phrase_snippets",
    "q160_lex_index_card", "q163_retrieval_selfcheck",
    // the WHOLE feedback loop satisfies the re-stage identity too: a
    // masked doc can neither serve nor act as feedback, and the
    // expansion idf/df read the adjusted statistics; the L2 re-rank
    // reads the masked page AND the masked positional index
    "q178_prf_topk", "q181_feature_rerank")

  test("lex family: serve after deleteDocs is byte-identical to a re-stage over corpus minus deletions") {
    try {
      StagedTombstones.deleteDocs(spark, dirA, delDocs, "req1")
      for (q <- lexQueries)
        assert(run(q, dirA) == run(q, dirB),
          s"$q masked serve drifted from the re-staged ground truth")
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("explicit-tomb serves (the q172 path) equal the registry path and touch no session state") {
    val qids = {
      import spark.implicits._
      Seq(0L, 5L, 10L).toDF("qid")
    }
    val explicitServe = TextAnalysis.bm25TopDocs(spark, dirA, qids,
      Some(StagedTombstones.resolveDocs(spark, dirA, delDocs)))
      .collect().map(_.toString).sorted.toSeq
    // no registry entry was created by the explicit path
    assert(StagedTombstones.docTomb(spark, dirA).isEmpty)
    assert(explicitServe == run("q148_bm25_topk", dirB))
    spark.catalog.clearCache()
  }

  test("catalog SQL: bm25Sql over refreshed views matches the re-staged catalog; band/ivfpq views mask membership") {
    import spark.implicits._
    val qtexts = docRows.filter(r => Seq(0L, 5L, 10L).contains(r._1))
      .toDF("qid", "qtext")
    qtexts.createOrReplaceTempView("takedown_q")
    try {
      SqlCatalog.register(spark, dirA)
      StagedTombstones.deleteDocs(spark, dirA, delDocs, "reqC")
      val masked = spark.sql("SELECT * FROM graft_bm25('takedown_q')")
        .collect().map(_.toString).sorted.toSeq
      val bandDocs = spark.table("graft_band_index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(delDocs.forall(!bandDocs.contains(_)),
        "takedown ids still present in graft_band_index")
      StagedTombstones.deleteVecs(spark, dirA, Seq(2L, 9L), "reqV")
      val ivfIds = spark.table("graft_ivfpq_index")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(!ivfIds.contains(2L) && !ivfIds.contains(9L),
        "takedown vec ids still present in graft_ivfpq_index")
      SqlCatalog.register(spark, dirB)
      val restaged = spark.sql("SELECT * FROM graft_bm25('takedown_q')")
        .collect().map(_.toString).sorted.toSeq
      assert(masked == restaged,
        "graft_bm25 through the mask drifted from the re-staged catalog")
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("vector probes mask BEFORE the top-k cut: deleted ids vanish, survivors keep order, tail backfills") {
    val pre68 = servedIds("q68_ann_ivf_staged")
    val pre122 = SparkEntry.queries("q122_ann_serve_batch")(spark, dirA)
      .collect().groupBy(_.getAs[Long]("qid"))
      .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rnk"))
        .map(_.getAs[Long]("vec_id")).toSeq }
    assert(pre68.nonEmpty)
    val del = pre68.filter(_ != 0L).take(2)
    assert(del.size == 2, s"fixture too small: pre-serve was $pre68")
    try {
      StagedTombstones.deleteVecs(spark, dirA, del, "reqV1")
      val post91 = servedIds("q91_ann_ivf_adc")
      assert(del.forall(!post91.contains(_)), "q91 served a deleted vector")
      val post68 = servedIds("q68_ann_ivf_staged")
      val survivors = pre68.filterNot(del.contains)
      assert(del.forall(!post68.contains(_)), "q68 served a deleted vector")
      assert(post68.take(survivors.size) == survivors,
        s"mask reordered surviving candidates: pre=$pre68 del=$del post=$post68")
      assert(post68.size >= survivors.size, "mask lost non-deleted candidates")
      val post122 = SparkEntry.queries("q122_ann_serve_batch")(spark, dirA)
        .collect().groupBy(_.getAs[Long]("qid"))
        .map { case (q, rs) => q -> rs.sortBy(_.getAs[Long]("rnk"))
          .map(_.getAs[Long]("vec_id")).toSeq }
      for ((qid, preIds) <- pre122) {
        val postIds = post122.getOrElse(qid, Seq.empty)
        val surv = preIds.filterNot(del.contains)
        assert(del.forall(!postIds.contains(_)), s"qid $qid served a deleted vector")
        assert(postIds.take(surv.size) == surv,
          s"qid $qid: mask reordered survivors: pre=$preIds del=$del post=$postIds")
      }
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("a deleted in-index query vector stops probing (empty serve, never a crash)") {
    try {
      StagedTombstones.deleteVecs(spark, dirA, Seq(0L), "reqQ")
      assert(SparkEntry.queries("q68_ann_ivf_staged")(spark, dirA).collect().isEmpty)
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("a redelivered requestId REPLACES its payload; distinct ids accumulate") {
    try {
      StagedTombstones.deleteDocs(spark, dirA, Seq(3L), "r1")
      StagedTombstones.deleteDocs(spark, dirA, Seq(7L), "r1") // redelivery
      assert(StagedTombstones.docTomb(spark, dirA).map(_.ids.toSet)
        .contains(Set(7L)), "redelivered requestId did not replace itself")
      StagedTombstones.deleteDocs(spark, dirA, Seq(3L), "r2") // distinct id
      val t = StagedTombstones.docTomb(spark, dirA).get
      assert(t.ids.toSet == Set(3L, 7L))
      // both docs present in the corpus → both adjust the stats
      assert(t.nDel == 2L && t.lDel == 10L,
        s"per-doc facts drifted: nDel=${t.nDel} lDel=${t.lDel}")
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("a never-staged id is a harmless no-op (masks nothing, adjusts nothing)") {
    val before = run("q148_bm25_topk", dirA)
    try {
      StagedTombstones.deleteDocs(spark, dirA, Seq(999999L), "rx")
      val t = StagedTombstones.docTomb(spark, dirA).get
      assert(t.nDel == 0L && t.lDel == 0L && t.dfDelta.isEmpty,
        "an absent id must not adjust corpus statistics")
      assert(run("q148_bm25_topk", dirA) == before)
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("adoptStreamRoot: the durable streaming ledger's requests mask the batch-staged serves") {
    import graft.streaming.Tombstones
    val root = Files.createTempDirectory("graft-adopt-ledger").toString
    try {
      // the deployment's durable ledger: one doc takedown filed against
      // the streaming root (out-of-band API; runDeletes lands the same
      // shape), plus a vec takedown on a second root
      Tombstones.delete(spark, root, delDocs, "gdpr-77", "doc_id")
      assert(StagedTombstones.adoptStreamRoot(spark, dirA, root) == 1)
      for (q <- Seq("q148_bm25_topk", "q160_lex_index_card"))
        assert(run(q, dirA) == run(q, dirB),
          s"$q did not mask the adopted ledger")
      // re-adoption self-replaces: same requests, same card
      val before = StagedTombstones.card(spark, dirA).collect().head.toString
      assert(StagedTombstones.adoptStreamRoot(spark, dirA, root) == 1)
      assert(StagedTombstones.card(spark, dirA).collect().head.toString
        == before, "re-adoption must be idempotent")
      // a consolidated root adopts as the superset request; the stale
      // per-request adoption overlaps by id without double-adjusting
      Tombstones.consolidate(spark, root, 0L, "doc_id")
      StagedTombstones.adoptStreamRoot(spark, dirA, root)
      val t = StagedTombstones.docTomb(spark, dirA).get
      assert(t.ids.toSet == delDocs.toSet && t.nDel == 2L && t.lDel == 10L,
        s"consolidated adoption double-adjusted: $t")
      assert(run("q148_bm25_topk", dirA) == run("q148_bm25_topk", dirB))
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("the posture card reads the registry state the serves mask with") {
    def cardRow = StagedTombstones.card(spark, dirA).collect().head
    try {
      val empty = cardRow
      assert((0 until 6).forall(i => empty.getLong(i) == 0L),
        s"a request-less registry must read all-zero: $empty")
      StagedTombstones.deleteDocs(spark, dirA, Seq(3L, 7L, 999999L), "c1")
      StagedTombstones.deleteVecs(spark, dirA, Seq(2L, 9L), "c2")
      val c = cardRow
      assert(c.getAs[Long]("n_doc_requests") == 1L)
      assert(c.getAs[Long]("n_doc_ids") == 3L) // the absent id still masks
      assert(c.getAs[Long]("n_docs_present") == 2L)
      assert(c.getAs[Long]("tok_mass_deleted") == 10L)
      assert(c.getAs[Long]("n_vec_requests") == 1L)
      assert(c.getAs[Long]("n_vec_ids") == 2L)
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("a takedown against a non-current dir never repoints the published catalog views") {
    try {
      SqlCatalog.register(spark, dirA)
      SqlCatalog.register(spark, dirB) // dirB now OWNS the view names
      def viewDocs = spark.table("graft_lex_doclen")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val before = viewDocs
      assert(!before.contains(3L) && before.contains(4L),
        s"fixture: views must read dirB (no doc 3) before the takedown: $before")
      // a takedown against dirA must mask dirA's SERVES but leave the
      // catalog views on dirB — the old refresh repointed them at dirA
      StagedTombstones.deleteDocs(spark, dirA, Seq(4L), "wrongdir")
      assert(viewDocs == before,
        "a takedown against a non-current dir repointed the shared views")
      // the CURRENT dir's takedowns still refresh the views
      StagedTombstones.deleteDocs(spark, dirB, Seq(4L), "rightdir")
      assert(!viewDocs.contains(4L),
        "a takedown against the current dir must refresh the views")
    } finally {
      StagedTombstones.reset(spark, dirA)
      StagedTombstones.reset(spark, dirB)
      SqlCatalog.register(spark, dirA) // restore the suite's usual owner
    }
    spark.catalog.clearCache()
  }

  test("adoptStreamRoot: two roots whose sanitized names collide adopt as DISTINCT requests") {
    import graft.streaming.Tombstones
    val base = Files.createTempDirectory("graft-adopt-collide").toString
    // '/a/b' and '/a_b' both sanitize to '_a_b' — the raw-path hash in
    // the adoption tag must keep them distinct request identities
    val root1 = s"$base/a/b"
    val root2 = s"$base/a_b"
    try {
      Tombstones.delete(spark, root1, Seq(3L), "gdpr-1", "doc_id")
      Tombstones.delete(spark, root2, Seq(7L), "gdpr-1", "doc_id")
      assert(StagedTombstones.adoptStreamRoot(spark, dirA, root1) == 1)
      assert(StagedTombstones.adoptStreamRoot(spark, dirA, root2) == 1)
      val t = StagedTombstones.docTomb(spark, dirA).get
      assert(t.ids.toSet == Set(3L, 7L),
        s"colliding root tags replaced each other's adoption: ${t.ids}")
      // re-adoption of either root still self-replaces (deterministic tag)
      assert(StagedTombstones.adoptStreamRoot(spark, dirA, root1) == 1)
      assert(StagedTombstones.docTomb(spark, dirA).get.ids.toSet
        == Set(3L, 7L))
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }

  test("purge: staged files physically shed the masked rows; every serve result is unchanged") {
    import org.apache.spark.sql.functions.col
    // a fresh corpus: purge REWRITES the staged tables for its dir, so
    // the suite's shared fixture must not be touched
    val pd = mkCorpus(Set.empty)
    val tag = pd.replaceAll("[^a-zA-Z0-9]", "_")
    val tagB = dirB.replaceAll("[^a-zA-Z0-9]", "_")
    val serves = Seq("q148_bm25_topk", "q154_phrase_topk",
      "q159_proximity_topk", "q160_lex_index_card", "q68_ann_ivf_staged",
      "q91_ann_ivf_adc", "q122_ann_serve_batch",
      // the impact serve's purge invariance holds HERE because no list
      // is truncated at the derived K (floor 64 ≫ every df in this
      // fixture): the purge drops masked rows from complete lists,
      // byte-identical to the masked read, and the post-purge K-drift
      // consult (ensureImpactIndex consuming the q193 verdict) reads
      // current and re-cuts nothing. A purge that SHRINKS a truncated
      // list instead re-cuts at the next ensure — RetrievalSpec's q193
      // case pins that repair path.
      "q182_impact_bm25_topk")
    try {
      StagedTombstones.deleteDocs(spark, pd, delDocs, "pg1")
      val preVec = SparkEntry.queries("q68_ann_ivf_staged")(spark, pd)
        .collect().map(_.getAs[Long]("vec_id"))
      val delV = preVec.filter(_ != 0L).take(2).toSeq
      StagedTombstones.deleteVecs(spark, pd, delV, "pg2")
      val before = serves.map(q => q -> run(q, pd)).toMap
      // the masked impact serve returns no masked doc (the honest half
      // of the posture — candidates anti-join like every lexical read)
      val impIds = SparkEntry.queries("q182_impact_bm25_topk")(spark, pd)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(delDocs.forall(!impIds.contains(_)),
        "the masked impact serve returned a masked doc")
      StagedTombstones.purge(spark, pd)
      // 1. the staged FILES hold zero masked rows (read the tables raw)
      for (t <- Seq(s"graft_lex_postings_$tag", s"graft_lex_doclen_$tag",
          s"graft_lex_pos_$tag", s"graft_lex_impact_$tag"))
        assert(spark.table(t)
          .filter(col("doc_id").isin(delDocs.map(Long.box): _*))
          .count() == 0, s"$t still holds masked doc rows post-purge")
      for (t <- Seq(s"graft_q91_ivfpq_$tag", s"graft_q68_ivf_$tag"))
        assert(spark.table(t)
          .filter(col("vec_id").isin(delV.map(Long.box): _*))
          .count() == 0, s"$t still holds masked vec rows post-purge")
      // the rewritten df table equals a fresh staging over the reduced
      // corpus (dirB's) — the strongest stats check
      run("q148_bm25_topk", dirB) // ensure dirB's lex index is staged
      def dfRows(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(dfRows(s"graft_lex_df_$tag") == dfRows(s"graft_lex_df_$tagB"),
        "purged df table drifted from the reduced-corpus staging")
      // 2. the satisfied requests retired to the purged ledger
      assert(StagedTombstones.docTomb(spark, pd).isEmpty,
        "purge must clear the active doc registry")
      val c = StagedTombstones.card(spark, pd).collect().head
      assert(c.getAs[Long]("n_doc_requests") == 0L &&
        c.getAs[Long]("n_vec_requests") == 0L &&
        c.getAs[Long]("n_doc_ids_purged") == 2L &&
        c.getAs[Long]("n_vec_ids_purged") == 2L, s"card drifted: $c")
      // 3. every serve reads the same bytes it served through the mask
      for (q <- serves)
        assert(run(q, pd) == before(q), s"$q changed across the purge")
      // 4. a REDELIVERED satisfied request re-adjusts nothing
      StagedTombstones.deleteDocs(spark, pd, delDocs, "pg1")
      assert(StagedTombstones.docTomb(spark, pd).get.nDel == 0L,
        "a redelivered purged request re-adjusted the corpus stats")
      for (q <- Seq("q148_bm25_topk", "q160_lex_index_card"))
        assert(run(q, pd) == before(q), s"$q drifted after redelivery")
      // 5. a NEW request naming an already-purged id adjusts nothing
      StagedTombstones.deleteDocs(spark, pd, Seq(delDocs.head), "pg3")
      assert(run("q148_bm25_topk", pd) == before("q148_bm25_topk"),
        "a new request over a purged id double-adjusted the serve")
      // 6. corpus-derived surfaces (the band view recomputes from the
      // raw documents) keep masking the purged ids
      SqlCatalog.register(spark, pd)
      val bandDocs = spark.table("graft_band_index")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(delDocs.forall(!bandDocs.contains(_)),
        "purged ids resurfaced in the corpus-derived band view")
    } finally StagedTombstones.reset(spark, pd)
    spark.catalog.clearCache()
  }

  test("purge reaches the adopted sidecar root: every epoch sheds the masked vec_ids, the masked serve is unchanged") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.{EmbedStream, Tombstones}
    val pd = mkCorpus(Set.empty)
    val root = Files.createTempDirectory("graft-purge-sidecar").toString
    try {
      val cents = Similarity.kmeansCentroids(spark, pd)
      val books = Similarity.pqCodebooks(spark, pd)
      val odd = graft.Tables(spark, pd, "embeddings")
        .filter(col("vec_id") % 2 === 1)
      EmbedStream.processAdcBatch(spark,
        odd.filter(col("vec_id") % 4 === 1), 0L, root, cents, books)
      EmbedStream.processAdcBatch(spark,
        odd.filter(col("vec_id") % 4 === 3), 1L, root, cents, books)
      // half the root is already consolidated (epoch 0 → batch_id=-2),
      // half live (epoch 1): a compaction CANNOT purge the consolidated
      // half again (compactIndex early-returns at its watermark), which
      // is exactly the gap purgeIndex closes — both epoch kinds rewrite
      EmbedStream.compactIvfIndex(spark, root, 0L)
      // one request arrived stream-side; one lands batch-side only,
      // AFTER the adoption bridged the root in
      Tombstones.delete(spark, root, Seq(1L), "gdpr-9", "vec_id")
      assert(StagedTombstones.adoptStreamRoot(spark, pd, root,
        vecSide = true) == 1)
      StagedTombstones.deleteVecs(spark, pd, Seq(3L, 7L), "pv1")
      // the union-serve leg a composed probe adds: the root's servable
      // epochs through BOTH mask layers (root tombstones + registry)
      def serve = Similarity.adcTopK(spark, pd,
        StagedTombstones.maskedVecs(spark, pd,
          EmbedStream.adcServable(spark, root).get),
        cents, books).collect().map(_.toString).sorted.toSeq
      val before = serve
      StagedTombstones.purge(spark, pd)
      // 1. the sidecar FILES hold zero masked vec_ids — the adopted
      // stream request's AND the batch-side request's
      val raw = spark.read.parquet(root).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(Seq(1L, 3L, 7L).forall(!raw.contains(_)),
        s"masked vec_ids still on the sidecar's disk: $raw")
      assert(raw.nonEmpty, "purge must keep the unmasked sidecar rows")
      // 2. the serve reads the same bytes it served through the masks
      assert(serve == before, "sidecar serve changed across the purge")
      // 3. the batch-side erasure is now DURABLE in the root's own
      // ledger: a fresh adoption (a later session) re-masks those ids
      val reqs = Tombstones.requests(spark, root, "vec_id").toMap
      assert(reqs.get("purge-batch-registry").exists(
        ids => Seq(3L, 7L).forall(ids.contains)),
        s"purge did not file the registry ids durably: $reqs")
      // 4. idempotent: a re-run purges nothing further and changes nothing
      StagedTombstones.deleteVecs(spark, pd, Seq(3L), "pv2") // purged id
      StagedTombstones.purge(spark, pd)
      assert(serve == before, "purge re-run over a purged id drifted")
    } finally StagedTombstones.reset(spark, pd)
    spark.catalog.clearCache()
  }

  test("purge reaches an adopted PRODUCTION label root: epochs shed the masked ids, the serve equals the reduced re-cluster") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pd = mkCorpus(Set.empty)
    try {
      // a production label deployment over this corpus: docs 0..9 adopt
      // as the base (honestly clustered from their own sketches at the
      // base-derived width), docs 10..11 arrive as a stream epoch
      val root = Files.createTempDirectory("graft-takedown-labelroot").toString
      val baseDocs = docRows.filter(_._1 <= 9L).toDF("doc_id", "text")
      val baseLabels = graft.queries.Dedup.labelsFromSketches(spark,
        graft.queries.Similarity.sketch64(baseDocs), 8)
      graft.streaming.LabelStream.initRoot(spark, root, baseDocs,
        baseLabels, 8)
      graft.streaming.LabelStream.processLabelBatch(spark,
        docRows.filter(_._1 >= 10L).toDF("doc_id", "text"), 0L, root)
      StagedTombstones.adoptLabelRoot(spark, pd, root)
      StagedTombstones.deleteDocs(spark, pd, delDocs, "lr1")
      StagedTombstones.purge(spark, pd)
      // 1. no file under the root carries the masked ids anymore —
      // base, band index, and stream epochs (the latter retire into
      // the re-clustered base)
      for (sub <- Seq("base", "bands")) {
        val ids = spark.read.parquet(s"$root/$sub")
          .select("doc_id").as[Long].collect().toSet
        assert(delDocs.forall(!ids.contains(_)),
          s"$sub still holds masked label-root rows post-purge")
        assert(ids.nonEmpty, s"$sub must keep the surviving rows")
      }
      assert(graft.streaming.BatchProtocol
        .epochIds(spark, s"$root/stream").isEmpty,
        "the purge must retire the label-root stream epochs")
      // 2. the served labels equal a fresh re-cluster of the reduced
      // corpus (every doc, arrivals included, minus the takedowns)
      val reduced = docRows.filterNot(r => delDocs.contains(r._1))
        .toDF("doc_id", "text")
      val expect = graft.queries.Dedup.labelsFromSketches(spark,
          graft.queries.Similarity.sketch64(reduced), 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val served = graft.streaming.LabelStream.servableLabels(spark, root)
        .collect().map(r =>
          r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(served == expect,
        s"label-root serve must equal the reduced re-cluster: $served")
      // 3. the erasure is durable in the root's own ledger (a later
      // session's re-adoption re-masks the ids)
      val reqs = graft.streaming.Tombstones.requests(spark, root, "doc_id")
        .toMap
      assert(reqs.get("purge-batch-registry").exists(
        ids => delDocs.forall(ids.contains)),
        s"purge did not file the registry ids into the root's ledger: $reqs")
      // 4. idempotent: a purge re-run over an already-purged id
      StagedTombstones.deleteDocs(spark, pd, Seq(delDocs.head), "lr2")
      StagedTombstones.purge(spark, pd)
      assert(graft.streaming.LabelStream.servableLabels(spark, root)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Long]("cluster_id")).toMap == expect,
        "purge re-run over the label root drifted")
    } finally StagedTombstones.reset(spark, pd)
    spark.catalog.clearCache()
  }

  test("purge drops and re-clusters the staged label tables over the mask-filtered corpus") {
    import org.apache.spark.sql.functions.col
    val pd = mkCorpus(Set.empty)
    val tag = pd.replaceAll("[^a-zA-Z0-9]", "_")
    // the staged label tables and every cluster consumer, compared
    // against a FRESHLY RE-CLUSTERED reduced corpus (dirB) — the
    // strongest form: min-ids, cluster sizes, and chains through a
    // deleted bridge must all match a clustering that never saw the
    // purged documents, which a filtered rewrite of the old labels
    // could not satisfy
    // q191 rides along: its card masks the purged ledger (the builds it
    // certifies do), so post-purge it must read exactly what a corpus
    // that never held the purged docs reads — widths, bucket count,
    // crossings, verdict
    val labelQueries = Seq("q150_clusters64", "q43_neardup_clusters",
      "q151_survivors64", "q177_dedup_card", "q164_diverse_topk",
      "q170_takedown_impact", "q175_takedown_expand",
      "q191_append_drift_card")
    try {
      // stage BOTH label families pre-purge (the eager-rebuild path)
      run("q150_clusters64", pd)
      run("q43_neardup_clusters", pd)
      StagedTombstones.deleteDocs(spark, pd, delDocs, "lb1")
      StagedTombstones.purge(spark, pd)
      // 1. the staged label FILES hold zero masked doc_ids
      for (t <- Seq(s"graft_q150_labels_$tag", s"graft_q43_labels_$tag"))
        assert(spark.table(t)
          .filter(col("doc_id").isin(delDocs.map(Long.box): _*))
          .count() == 0, s"$t still holds masked label rows post-purge")
      // 2. every label consumer over the purged session equals the same
      // query over the re-clustered reduced corpus
      for (q <- labelQueries)
        assert(run(q, pd) == run(q, dirB),
          s"$q over the purged session drifted from the re-clustered " +
            "reduced corpus")
      // 3. a label family never staged before the purge still builds
      // REDUCED on its next ensure (the purged ledger masks the build):
      // drop the 64-bit family to simulate a session that never staged
      // it, re-ensure, and the masked ids must stay absent
      spark.sql(s"DROP TABLE `graft_q150_labels_$tag`")
      assert(run("q150_clusters64", pd) == run("q150_clusters64", dirB),
        "a post-purge fresh label build resurrected the purged documents")
    } finally StagedTombstones.reset(spark, pd)
    spark.catalog.clearCache()
  }

  test("purge drops the appended demo families and their rebuilds exclude the purged ids physically") {
    // the growth demos (q184 staged labels, the q187–q190 appended
    // index families, the q192 stream root) are session artifacts
    // DERIVED from the raw corpus: purge's erasure for them is a drop,
    // and the next ensure must rebuild over the corpus minus the
    // purged ledger — never resurrect the erased rows from the raw
    // files (the never-staged-family posture, pinned physically here)
    val pd = mkCorpus(Set.empty)
    val tag = pd.replaceAll("[^a-zA-Z0-9]", "_")
    try {
      Seq("q184_label_append", "q187_lex_append_topk",
        "q190_vec_append_serve", "q192_label_stream").foreach(q =>
        SparkEntry.queries(q)(spark, pd).count())
      graft.Caches.release(spark)
      StagedTombstones.deleteDocs(spark, pd, delDocs, "dm1")
      val delV = Seq(2L, 9L)
      StagedTombstones.deleteVecs(spark, pd, delV, "dm2")
      StagedTombstones.purge(spark, pd)
      Seq(s"graft_lexapp_postings_$tag", s"graft_lexapp_pos_$tag",
        s"graft_lexapp_impact_$tag", s"graft_lexapp_done_$tag",
        s"graft_q184_labels_$tag", s"graft_ivfapp_$tag",
        s"graft_ivfapp_done_$tag").foreach(t =>
        assert(!spark.catalog.tableExists(t), s"$t must drop at purge"))
      // rebuilds: the label artifacts never hold the purged docs again
      for (q <- Seq("q184_label_append", "q192_label_stream")) {
        val ids = SparkEntry.queries(q)(spark, pd).collect()
          .map(_.getAs[Long]("doc_id")).toSet
        assert(delDocs.forall(!ids.contains(_)),
          s"$q rebuild must exclude the purged docs: $ids")
        assert(ids.nonEmpty, s"$q rebuild must still label the survivors")
      }
      graft.Caches.release(spark)
      // the rebuilt lexapp FILES hold zero purged rows (not just the
      // serve — the physical claim)
      SparkEntry.queries("q187_lex_append_topk")(spark, pd).count()
      val post = spark.table(s"graft_lexapp_postings_$tag")
        .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
      assert(delDocs.forall(!post.contains(_)),
        s"rebuilt appended postings must hold zero purged rows: $post")
      // the rebuilt vector demo neither serves nor stores purged vecs
      val served = SparkEntry.queries("q190_vec_append_serve")(spark, pd)
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(delV.forall(!served.contains(_)),
        s"q190 rebuild must exclude the purged vecs: $served")
      val stored = spark.table(s"graft_ivfapp_$tag")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(delV.forall(!stored.contains(_)),
        s"rebuilt appended codes must hold zero purged rows")
      graft.Caches.release(spark)
    } finally spark.catalog.clearCache()
  }

  test("purge re-run after a crashed swap recovers the serve table and converges (no double subtraction)") {
    import org.apache.spark.sql.functions.col
    val pd = mkCorpus(Set.empty)
    val tag = pd.replaceAll("[^a-zA-Z0-9]", "_")
    val tagB = dirB.replaceAll("[^a-zA-Z0-9]", "_")
    val checks = Seq("q148_bm25_topk", "q160_lex_index_card",
      "q159_proximity_topk")
    try {
      StagedTombstones.deleteDocs(spark, pd, delDocs, "cr1")
      val before = checks.map(q => q -> run(q, pd)).toMap
      // first purge attempt: the full lexical rewrite lands (a re-run
      // repeats every one of these steps — the old delta-subtraction df
      // and N/L folds would subtract twice here; the recompute-from-state
      // forms converge instead)
      TextAnalysis.purgeLex(spark, pd,
        StagedTombstones.docTomb(spark, pd).get)
      // ...then the attempt "crashes" inside the df table's swap: its
      // completed rewrite sits under the scratch name, the serve table is
      // dropped, the rename never ran — the exact state the advisor's
      // scenario names (every lexical serve would now throw, and the old
      // purge would have silently retired the masks over it)
      val dfT = s"graft_lex_df_$tag"
      val nb = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(dfT))
        .bucketSpec.get.numBuckets
      graft.Bucketing.stage(spark.table(dfT), s"${dfT}__rewrite", "term", nb)
      spark.sql(s"DROP TABLE `$dfT`")
      // the re-run recovers the swap, re-applies the idempotent rewrites,
      // recomputes df/N/L, verifies every table exists, THEN retires
      StagedTombstones.purge(spark, pd)
      assert(spark.catalog.tableExists(dfT),
        "purge re-run must recover the dropped df table")
      assert(StagedTombstones.docTomb(spark, pd).isEmpty,
        "re-run purge must retire the satisfied requests")
      // the UNMASKED post-purge serves equal the pre-purge masked serves
      // byte-for-byte — double subtraction anywhere would break this
      for (q <- checks)
        assert(run(q, pd) == before(q),
          s"$q drifted across the crashed-and-rerun purge")
      // and the recovered df table equals a fresh reduced-corpus staging
      run("q148_bm25_topk", dirB) // ensure dirB's lex index is staged
      def dfRows(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(dfRows(dfT) == dfRows(s"graft_lex_df_$tagB"),
        "recovered df table drifted from the reduced-corpus staging")
    } finally StagedTombstones.reset(spark, pd)
    spark.catalog.clearCache()
  }

  test("cluster-complete expansion: requests expand to the full near-dup family before filing, batch and streamed") {
    import spark.implicits._
    import graft.streaming.Tombstones
    // a planted near-dup family (identical texts 10=11=12) beside
    // distinct docs — the q175 shape with a known member set; extra
    // distinct docs keep the serves non-trivial
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val fam = Seq(10L -> t, 11L -> t, 12L -> t)
    val rest = Seq(
      99L -> "completely different content about spark catalyst planning",
      1L -> "zebra quark lattice prism here now",
      2L -> "alpha beta gamma delta prism quark")
    def mk(rows: Seq[(Long, String)]): String = {
      val d = Files.createTempDirectory("graft-expand").toString
      rows.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
      embRows(rows.map(_._1)).toDF("vec_id", "embedding")
        .write.parquet(s"$d/embeddings.parquet")
      d
    }
    val d = mk(fam ++ rest)
    val dMinusFam = mk(rest)
    try {
      // the operator itself: one family member pulls in the whole
      // family; untouched/absent ids pass through as themselves
      assert(StagedTombstones.expandToClusters(spark, d, Seq(11L))
        == Seq(10L, 11L, 12L))
      assert(StagedTombstones.expandToClusters(spark, d, Seq(99L, 424242L))
        == Seq(99L, 424242L))
      // batch filing: the expanded delete serves exactly like a
      // re-stage over the corpus minus the WHOLE family
      StagedTombstones.deleteDocs(spark, d, Seq(11L), "exp1",
        expandClusters = true)
      assert(StagedTombstones.docTomb(spark, d).get.ids.toSet
        == Set(10L, 11L, 12L), "expansion must file the member set")
      for (q <- Seq("q148_bm25_topk", "q160_lex_index_card"))
        assert(run(q, d) == run(q, dMinusFam),
          s"$q: expanded delete drifted from the family-less re-stage")
      // streamed filing: the expansion happens BEFORE the tombstone
      // lands, under the batch's own request identity
      implicit val sqlCtx = spark.sqlContext
      val root = Files.createTempDirectory("graft-expand-root").toString
      val ckpt = Files.createTempDirectory("graft-expand-ckpt").toString
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val q = Tombstones.runDeletes(mem.toDF().toDF("doc_id"), Seq(root),
        ckpt, expandClustersDir = Some(d))
      try { mem.addData(11L); q.processAllAvailable() } finally q.stop()
      val reqs = Tombstones.requests(spark, root, "doc_id")
      assert(reqs.map(_._1) == Seq("stream-0"))
      assert(reqs.head._2.toSet == Set(10L, 11L, 12L),
        s"the filed tombstone must carry the expanded set: ${reqs.head._2}")
      // redelivery of the un-expanded batch re-expands deterministically
      Tombstones.processDeleteBatch(spark, Seq(11L).toDF("doc_id"), 0L,
        Seq(root), "doc_id", Some(d))
      assert(Tombstones.requests(spark, root, "doc_id").head._2.toSet
        == Set(10L, 11L, 12L))
    } finally StagedTombstones.reset(spark, d)
    spark.catalog.clearCache()
  }

  test("expandToClusters reproduces q175's member set on the shared testdata corpus") {
    val dir = "/root/testdata/sf0.001"
    val q175 = SparkEntry.queries("q175_takedown_expand")(spark, dir)
      .collect()
    val reqIds = q175.map(_.getAs[Long]("doc_id")).distinct.toSeq
    val memberSet = q175.map(_.getAs[Long]("member_id")).toSet
    assert(reqIds.nonEmpty && memberSet.nonEmpty)
    assert(StagedTombstones.expandToClusters(spark, dir, reqIds).toSet
      == memberSet,
      "the expansion operator drifted from the oracle-checked q175")
    spark.catalog.clearCache()
  }

  test("catalog hybridSql through the masks equals the re-staged catalog with the same vec mask") {
    import spark.implicits._
    // the production request shape: each query doc's own text + vector
    val qids = Seq(0L, 5L, 10L)
    val hq = docRows.filter(r => qids.contains(r._1)).toDF("qid", "qtext")
      .join(embRows(qids).toDF("vqid", "qvec"),
        org.apache.spark.sql.functions.col("qid") ===
          org.apache.spark.sql.functions.col("vqid"))
      .select("qid", "qtext", "qvec")
    hq.createOrReplaceTempView("takedown_hyb_q")
    def served = spark.sql("SELECT * FROM graft_hybrid('takedown_hyb_q')")
      .collect().map(_.toString).sorted.toSeq
    try {
      SqlCatalog.register(spark, dirA)
      StagedTombstones.deleteDocs(spark, dirA, delDocs, "hq1")
      StagedTombstones.deleteVecs(spark, dirA, delDocs, "hq2")
      val masked = served
      // ground truth: the reduced corpus re-staged (doc side physical)
      // with the SAME vec-side mask (dirB carries every vector)
      SqlCatalog.register(spark, dirB)
      StagedTombstones.deleteVecs(spark, dirB, delDocs, "hq3")
      assert(masked == served,
        "graft_hybrid through the masks drifted from the re-staged catalog")
    } finally {
      StagedTombstones.reset(spark, dirA)
      StagedTombstones.reset(spark, dirB)
      SqlCatalog.register(spark, dirA)
    }
    spark.catalog.clearCache()
  }

  test("q176: under the active takedown no read path serves a masked doc and the hybrid still fuses") {
    import org.apache.spark.sql.functions.col
    // fixture arithmetic: 12 docs / 16 vecs, both moduli are
    // max(5, ceil(n/8)) = 5 → masked residue-1 ids {1, 6, 11} on both
    // sides, query residue-0 ids {0, 5, 10(, 15)}
    val card = SparkEntry.queries("q176_takedown_eval_card")(spark, dirA)
      .collect().map(r => r.getAs[String]("path") -> r).toMap
    assert(card.keySet == Set("lexical", "semantic", "hybrid"))
    assert(card.values.forall(_.getAs[Long]("n_queries") > 0L),
      "every path must still serve under the mask")
    // the legs the card folds, rebuilt through the audited surfaces
    val delIds = Seq(1L, 6L, 11L)
    val tomb = Some(StagedTombstones.resolveDocs(spark, dirA, delIds))
    val lex = TextAnalysis.bm25TopDocs(spark, dirA,
      TextAnalysis.docModQids(spark, dirA), tomb)
    assert(lex.filter(col("doc_id")
      .isin(delIds.map(Long.box): _*)).count() == 0,
      "the lexical path served a masked doc")
    val cents = Similarity.kmeansCentroids(spark, dirA)
    val books = Similarity.pqCodebooks(spark, dirA)
    val idxT = Similarity.ensureIvfPqIndex(spark, dirA, cents, books)
    val sem = Similarity.adcServeBatch(spark, dirA,
      StagedTombstones.masked(spark, spark.table(idxT),
        Some(delIds), "vec_id"), cents, books)
    assert(sem.filter(col("vec_id")
      .isin(delIds.map(Long.box): _*)).count() == 0,
      "the semantic path served a masked vector")
    val hybLex = TextAnalysis.bm25TopDocs(spark, dirA,
      spark.read.parquet(s"$dirA/embeddings.parquet")
        .filter(col("vec_id") % 5 === 0).select(col("vec_id").as("qid")),
      tomb).select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk"))
    val hyb = Similarity.rrfFuse(hybLex,
      sem.select(col("qid"), col("vec_id").as("doc_id"),
        col("rnk").as("sem_rnk"))).collect()
    assert(hyb.forall(r => !delIds.contains(r.getAs[Long]("doc_id"))),
      "the hybrid path served a masked doc")
    // fusion still fuses: some served doc carries BOTH legs' ranks
    assert(hyb.exists(r => !r.isNullAt(r.fieldIndex("lex_rnk")) &&
      !r.isNullAt(r.fieldIndex("sem_rnk"))),
      "no both-modality rows — the masked fusion degenerated")
    spark.catalog.clearCache()
  }

  test("overlapping ids across requests merge by id — never double-adjust") {
    try {
      StagedTombstones.deleteDocs(spark, dirA, Seq(3L, 7L), "o1")
      StagedTombstones.deleteDocs(spark, dirA, Seq(7L), "o2") // overlap
      val t = StagedTombstones.docTomb(spark, dirA).get
      assert(t.ids.toSet == Set(3L, 7L))
      assert(t.nDel == 2L && t.lDel == 10L,
        s"overlap double-counted: nDel=${t.nDel} lDel=${t.lDel}")
      for (q <- Seq("q148_bm25_topk", "q160_lex_index_card"))
        assert(run(q, dirA) == run(q, dirB),
          s"$q drifted under overlapping requests")
    } finally StagedTombstones.reset(spark, dirA)
    spark.catalog.clearCache()
  }
}
