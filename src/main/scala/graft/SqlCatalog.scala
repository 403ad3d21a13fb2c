package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's SQL surface beside the native FUNCTIONS
  * [[GraftExtensions]] registers (`vec_dot`, `simhash32`, …): the staged
  * and derived RELATIONS they compose with, published as views, and the
  * retrieval SERVES as table functions over the Scala plans.
  *
  * `register(spark, dir)` publishes, for one testdata-shaped corpus dir:
  *   - `graft_ivfpq_index` — the staged cell-bucketed IVF-PQ code table
  *     (vec_id, cell, code0..code7) the q91/q122 serves scan (a
  *     `WHERE cell IN (…)` probe bucket-prunes through the view);
  *   - `graft_centroids` (cell, cvec, cnrm) and `graft_pq_codebooks`
  *     (m, k, cvec) — the frozen quantizer and PQ codebooks;
  *   - `graft_band_index` — the un-capped simhash band rows (doc_id,
  *     simhash, b, bk, band_width) at the corpus-adaptive width (q116's
  *     input, [[graft.queries.Similarity.bandRelation]]);
  *   - `graft_pack_manifest` — q119's loader artifact;
  *   - `graft_lex_postings` / `graft_lex_doclen` / `graft_lex_df` /
  *     `graft_lex_stats` / `graft_lex_pos` / `graft_lex_impact` — the
  *     staged lexical index family, postings and positions bucketed by
  *     TERM (a `WHERE term IN (…)` fetch bucket-prunes);
  *   - `graft_nb_model` — q168's trained hashed-NB weights;
  *   - `graft_cluster_labels` — q150's staged near-dup cluster labels.
  * Member-data views read through the session's takedown masks and
  * re-publish on [[refreshAfterTakedown]]; model views (centroids,
  * codebooks, NB weights) are frozen. Views are TEMPORARY: the indexes
  * are staged once per (session, dir); the band/manifest views recompute
  * on read (their persists follow the [[Caches]] release contract).
  *
  * The serves ([[ServeFunctions]]) rank a query view against the dir
  * last registered through the same plan the Scala road builds, e.g.
  * `SELECT * FROM graft_bm25('qview')` or `graft_phrase('qview', 3)`.
  *
  * The documented examples (SqlCatalogSpec runs both verbatim):
  *
  * {{{
  *   -- band-occupancy health (q116's aggregate) in pure SQL
  *   SELECT b, COUNT(*) AS n_buckets, MAX(cnt) AS max_bucket
  *   FROM (SELECT b, bk, COUNT(*) AS cnt FROM graft_band_index
  *         WHERE bk IS NOT NULL GROUP BY b, bk)
  *   GROUP BY b ORDER BY b
  *
  *   -- a query vector's IVF probe, end to end: nearest centroid by
  *   -- native vec_dot, then the bucket-pruned cell scan
  *   SELECT i.* FROM graft_ivfpq_index i WHERE i.cell =
  *     (SELECT c.cell FROM graft_centroids c CROSS JOIN q
  *      ORDER BY vec_dot(c.cvec, CAST(q.qv AS ARRAY<DOUBLE>)) / c.cnrm
  *        DESC, c.cell LIMIT 1)
  * }}}
  */
object SqlCatalog {

  val ViewNames: Seq[String] = Seq("graft_ivfpq_index", "graft_centroids",
    "graft_pq_codebooks", "graft_band_index", "graft_pack_manifest",
    "graft_lex_postings", "graft_lex_doclen", "graft_lex_df",
    "graft_lex_stats", "graft_lex_pos", "graft_lex_impact",
    "graft_nb_model", "graft_cluster_labels")

  /** The (application, dir) pairs whose views are live, so a takedown
    * against a dir that never registered is a catalog no-op. The value
    * memoizes the staged IVF-PQ table name: a refresh never re-trains.
    */
  private val published =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** The dir whose views are CURRENTLY published, per application: the
    * view names are shared, so the LAST [[register]] owns them. A
    * takedown against an earlier dir cannot repoint the views, and the
    * serve table functions rank against this dir.
    */
  private[graft] val current =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The serve table functions [[GraftExtensions]] registers: each maps
    * (session, the dir [[register]] last published, the caller's view,
    * k) to the matching Scala serve, so `graft_bm25('qview')` plans
    * exactly the DataFrame [[queries.TextAnalysis.bm25TopDocsFor]]
    * builds. Views hold (qid, qtext); (qid, qvec) for `graft_adc`;
    * (qid, qtext, qvec) for the hybrids; (doc_id, text) for `graft_nb`,
    * which scores against `graft_nb_model`. Only [[PhraseServes]] read
    * k. The bodies name the serve objects, so registering the functions
    * initializes none of them.
    */
  private[graft] val ServeFunctions
      : Map[String, (SparkSession, String, DataFrame, Int) => DataFrame] = Map(
    "graft_bm25" -> ((s, d, q, _) => queries.TextAnalysis.bm25TopDocsFor(s, d, q)),
    "graft_impact" -> ((s, d, q, _) => queries.TextAnalysis.impactTopDocsFor(s, d, q)),
    "graft_prf" -> ((s, d, q, _) => queries.TextAnalysis.prfTopDocsFor(s, d, q)),
    "graft_rerank" -> ((s, d, q, _) => queries.TextAnalysis.rerankTopDocsFor(s, d, q)),
    "graft_phrase" -> ((s, d, q, k) => queries.TextAnalysis.phraseTopDocsFor(s, d, q, k)),
    "graft_snippet" ->
      ((s, d, q, k) => queries.TextAnalysis.phraseSnippetTopDocsFor(s, d, q, k)),
    "graft_proximity" ->
      ((s, d, q, _) => queries.TextAnalysis.proximityTopDocsFor(s, d, q)),
    "graft_diverse" -> ((s, d, q, _) => queries.Dedup.diverseTopDocsFor(s, d, q)),
    "graft_adc" -> ((s, d, q, _) => queries.Similarity.adcTopDocsFor(s, d, q)),
    "graft_hybrid" -> ((s, d, q, _) => queries.Similarity.hybridTopDocsFor(s, d, q)),
    "graft_bounded_hybrid" ->
      ((s, d, q, _) => queries.Similarity.boundedHybridTopDocsFor(s, d, q)),
    "graft_nb" -> ((s, _, q, _) => queries.TextAnalysis.nbScore(q.select("doc_id"),
      queries.TextAnalysis.nbBucketTokens(q), s.table("graft_nb_model"))))

  /** The serves whose optional second argument is the phrase length k. */
  private[graft] val PhraseServes = Set("graft_phrase", "graft_snippet")

  /** Publish the catalog views for `dir`; returns the view names. */
  def register(spark: SparkSession, dir: String): Seq[String] = {
    val cents = queries.Similarity.kmeansCentroids(spark, dir)
    val books = queries.Similarity.pqCodebooks(spark, dir)
    val idxT = queries.Similarity.ensureIvfPqIndex(spark, dir, cents, books)
    val s = spark
    import s.implicits._
    cents.toSeq.map { case (k, v, n) => (k.toLong, v, n) }
      .toDF("cell", "cvec", "cnrm")
      .createOrReplaceTempView("graft_centroids")
    // the frozen PQ codebooks (64 rows) — the ADC distance-table
    // side; a FROZEN model like the centroids (takedowns never retrain)
    queries.Similarity.pqCodebookRows(spark, dir)
      .toDF("m", "k", "cvec")
      .createOrReplaceTempView("graft_pq_codebooks")
    // the loader manifest is a PACKING artifact, not a serve over
    // member rows: a takedown re-cut would shift every chunk offset —
    // that IS a re-pack, which rides the corpus-rewrite cadence like
    // every derived artifact (the StagedTombstones purge posture)
    queries.Curation.queries("q119_pack_manifest")(spark, dir)
      .createOrReplaceTempView("graft_pack_manifest")
    // the trained hashed-NB quality model (q168): ≤ NbBuckets rows —
    // the broadcastable weight table `graft_nb` scores any document
    // relation against. A FROZEN model (like the centroids/codebooks):
    // takedowns remove member DATA from serves immediately; model
    // refresh rides the normal retrain cadence
    val docs = Tables(spark, dir, "documents").select(col("doc_id"), col("text"))
    queries.TextAnalysis.nbBucketWeights(
        queries.TextAnalysis.nbBucketTokens(docs),
        functions.QualityRules.annotate(docs).select(col("doc_id"), col("pass")))
      .createOrReplaceTempView("graft_nb_model")
    published.put((spark.sparkContext.applicationId, dir), idxT)
    current.put(spark.sparkContext.applicationId, dir)
    publishMaskableViews(spark, dir, idxT)
    ViewNames
  }

  /** Re-publish every catalog view that reads MEMBER rows so it reads
    * through the current takedown tombstones of (session, `dir`) — the
    * hook [[StagedTombstones.deleteDocs]]/[[StagedTombstones.deleteVecs]]
    * fire (temp views capture their plan at creation). No-op unless
    * [[register]] ran for this (session, dir) AND `dir` is the
    * application's CURRENTLY published dir. Cheap: every staged table
    * exists, the lexical scalars are memoized, and the masks are
    * broadcast anti-joins over request-sized id sets.
    */
  def refreshAfterTakedown(spark: SparkSession, dir: String): Unit = {
    val app = spark.sparkContext.applicationId
    if (dir == current.get(app)) {
      val idxT = published.get((app, dir))
      if (idxT != null) publishMaskableViews(spark, dir, idxT)
    }
  }

  private def publishMaskableViews(spark: SparkSession, dir: String,
      idxT: String): Unit = {
    val s = spark
    import s.implicits._
    val docTomb = StagedTombstones.docTomb(spark, dir)
    StagedTombstones.maskedVecs(spark, dir, spark.table(idxT))
      .createOrReplaceTempView("graft_ivfpq_index")
    // band rows are member-derived (doc_id + its simhash): a takedown
    // masks them like any other candidate surface. This view recomputes
    // from the CORPUS, so it masks the purged ids too
    // ([[StagedTombstones.maskableDocIds]]) — a purge rewrites the
    // staged tables, not the corpus
    val (bands, w) = queries.Similarity.bandRelation(spark, dir)
    StagedTombstones.masked(spark,
        bands.withColumn("band_width", lit(w)),
        StagedTombstones.maskableDocIds(spark, dir), "doc_id")
      .createOrReplaceTempView("graft_band_index")
    // the staged lexical inverted index (q148's serve substrate):
    // postings bucketed by term — a `WHERE term IN (…)` candidate fetch
    // bucket-prunes through the view like the serve path's does (the
    // takedown anti-join sits above the pruned scan)
    val (post, dl, df, n, l) = queries.TextAnalysis.lexRead(spark, dir, docTomb)
    post.createOrReplaceTempView("graft_lex_postings")
    dl.createOrReplaceTempView("graft_lex_doclen")
    df.createOrReplaceTempView("graft_lex_df")
    // the positional layer (term-bucketed like the postings; the same
    // takedown mask) — the positional serves' substrate
    queries.TextAnalysis.posRead(spark, dir, docTomb)
      .createOrReplaceTempView("graft_lex_pos")
    // the impact-ordered sidecar (q182's bounded candidate lists; the
    // same takedown mask — see impactRead's documented cut posture)
    queries.TextAnalysis.impactRead(spark, dir, docTomb)
      .createOrReplaceTempView("graft_lex_impact")
    // the staged at-scale cluster labels (q150's artifact — built once
    // per session+dir), the diversified serve's suppression side. Member-
    // derived rows, masked like the band view (purged ids included:
    // a label row names a document)
    StagedTombstones.masked(spark,
        queries.Dedup.ensureClusterLabels64(spark, dir),
        StagedTombstones.maskableDocIds(spark, dir), "doc_id")
      .createOrReplaceTempView("graft_cluster_labels")
    // the corpus scalars a BM25 statement needs beside the index: N
    // documents (null text included — they shape idf), L tokens, and
    // the serve's pre-quantized average document length a = max(1,
    // L div max(1, N)) — one broadcastable row, so a SQL BM25 needs
    // no documents scan. Takedown deltas are already folded in by
    // [[queries.TextAnalysis.lexRead]].
    Seq((n, l, functions.TextFunctions.quantizedAvgDl(n, l)))
      .toDF("n", "l", "a").createOrReplaceTempView("graft_lex_stats")
  }
}
