package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Named SQL surfaces over the engine's staged and derived relations —
  * the composition layer for users who live in `spark.sql` rather than
  * the Scala API: [[GraftExtensions]] already registers the native
  * FUNCTIONS (`vec_dot`, `simhash32`, …); this registers the RELATIONS
  * they compose with, so the serving/audit reads need no Scala at all.
  *
  * `register(spark, dir)` publishes, for one testdata-shaped corpus
  * directory:
  *
  *   - `graft_ivfpq_index` — the staged IVF-PQ code table
  *     (vec_id, cell, code0..code7), the SAME cell-bucketed catalog
  *     table the q91/q122 serve paths scan (a view over it, so a
  *     `WHERE cell IN (…)` probe still bucket-prunes);
  *   - `graft_centroids` — the bounded k-means quantizer table
  *     (cell, cvec, cnrm): broadcast-sized, the dimension side of any
  *     SQL probe plan;
  *   - `graft_band_index` — the corpus's un-capped simhash band rows
  *     (doc_id, simhash, b, bk, band_width) at the corpus-adaptive
  *     width ([[graft.queries.Similarity.bandRelation]] — q116's exact
  *     input), for near-dup candidate joins and occupancy audits;
  *   - `graft_pack_manifest` — q119's loader artifact (chunk rows with
  *     offsets) as a queryable relation;
  *   - `graft_pq_codebooks` — the frozen PQ codebook rows (m, k, cvec):
  *     PqM·PqK = 64 rows, the distance-table side of [[adcSql]];
  *   - `graft_lex_postings` / `graft_lex_doclen` / `graft_lex_df` /
  *     `graft_lex_pos` — the staged lexical index family (q148's and
  *     the positional serves' substrate): postings and positions
  *     hash-bucketed by TERM (a `WHERE term IN (…)` fetch bucket-prunes
  *     through the view), per-doc lengths, per-term document
  *     frequencies.
  *
  *   - `graft_cluster_labels` — the staged at-scale near-dup cluster
  *     labels (q150's doc_id-bucketed artifact), the suppression side
  *     of [[diverseSql]].
  *
  * Complete SERVE STATEMENTS over those views — each hash-matching its
  * Scala twin on the same queries: [[bm25Sql]] (lexical top-k),
  * [[phraseSql]]/[[snippetSql]]/[[proximitySql]] (the positional
  * family), [[adcSql]] (the batched IVF-PQ vector serve),
  * [[hybridSql]] (the fused RAG page), [[diverseSql]] (the
  * cluster-diversified page), [[prfSql]] (the feedback-expanded page),
  * [[rerankSql]] (the L2 feature-boosted page), [[nbSql]] (hashed-NB
  * quality scoring).
  * Member-data views read through the session's takedown masks and
  * re-publish on [[refreshAfterTakedown]]; model views (centroids,
  * codebooks, NB weights) are frozen.
  *
  * The documented example (SqlCatalogSpec runs both verbatim):
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
  *
  * Views are TEMPORARY (session-scoped): the index is a real staged
  * table built once per (session, dir); the band/manifest views are
  * plan-backed and recompute on read (their internal persists follow
  * the [[Caches]] consumer-release contract — after a release, a
  * re-read is a cache miss, never an error).
  */
object SqlCatalog {

  val ViewNames: Seq[String] = Seq("graft_ivfpq_index", "graft_centroids",
    "graft_pq_codebooks", "graft_band_index", "graft_pack_manifest",
    "graft_lex_postings", "graft_lex_doclen", "graft_lex_df",
    "graft_lex_stats", "graft_lex_pos", "graft_lex_impact",
    "graft_nb_model", "graft_cluster_labels")

  /** A complete hashed-NB quality-scoring statement over
    * `graft_nb_model` (q168's trained ≤ NbBuckets-row weight table) — score
    * any (doc_id BIGINT, text STRING) relation in pure SQL with the
    * model the Scala paths trained: token → 60-bit portable hash →
    * bucket → weight, summed per document; untokenizable docs keep
    * their row with null model columns (q168's left-join convention).
    * The bucket arithmetic is the engine's `portableHash60 %
    * NbBuckets` spelled in native SQL (sha2 hex prefix via conv), so
    * the statement hash-matches q168's n_tokens/nb_score/nb_pass on
    * the same corpus (SqlCatalogSpec pins it).
    */
  def nbSql(docview: String): String =
    s"""WITH toks AS (SELECT doc_id,
       |    explode(split(lower(trim(text)), '\\\\s+')) AS tok
       |  FROM $docview WHERE text IS NOT NULL),
       |bt AS (SELECT doc_id,
       |  CAST(conv(substring(sha2(tok, 256), 1, 15), 16, 10) AS BIGINT)
       |    % ${queries.TextAnalysis.NbBuckets} AS b FROM toks),
       |sc AS (SELECT bt.doc_id, COUNT(*) AS n_tokens,
       |  SUM(m.w) AS nb_score
       |  FROM bt JOIN graft_nb_model m USING (b) GROUP BY bt.doc_id)
       |SELECT d.doc_id, sc.n_tokens, sc.nb_score,
       |  CASE WHEN sc.n_tokens IS NOT NULL THEN sc.nb_score > 0 END AS nb_pass
       |FROM $docview d LEFT JOIN sc USING (doc_id)""".stripMargin

  /** A complete BM25 top-k statement over the lexical catalog views —
    * the serve path as ONE composable SQL text (the r13 gap: the views
    * published the index but no statement ranked through it). `qview`
    * names any relation with (qid BIGINT, qtext STRING) — a temp view
    * of ad-hoc query strings, a query log table, anything in the
    * catalog. The arithmetic is q148's integer fixed point verbatim
    * (milli-scale log-free idf, centi-scale quantized tfn from
    * `graft_lex_stats`' pre-quantized `a`, int64 per-term products), so
    * the statement hash-matches the Scala serve on the same queries
    * (SqlCatalogSpec pins it against q148's own sample). The per-query
    * term cap and top-k cut are the serve's constants, inlined so the
    * text stands alone.
    *
    * Plan note: a dynamic query table joins postings on term — correct
    * at any scale but unpruned; a latency-sensitive point serve should
    * inline its term list as `WHERE term IN (…)` on
    * `graft_lex_postings` (the literal form the Scala path drives),
    * which bucket-prunes through the view (spec-pinned mechanism).
    */
  def bm25Sql(qview: String): String =
    lexPageSql(qview, "graft_lex_postings")

  /** The impact-ordered APPROXIMATE BM25 serve as one SQL statement —
    * q182's contract for the catalog road: [[bm25Sql]]'s text with the
    * candidate fetch redirected to `graft_lex_impact` (the staged
    * per-term top-K lists), so the scan is bounded at K·|query terms|
    * rows where the exact statement reads the terms' full postings.
    * Hash-matches [[queries.TextAnalysis.impactTopDocsFor]] on the same
    * queries (RetrievalSpec pins the three-road identity with q182).
    */
  def impactSql(qview: String): String =
    lexPageSql(qview, "graft_lex_impact")

  /** The one body of [[bm25Sql]] and [[impactSql]]. */
  private def lexPageSql(qview: String, postView: String): String =
    s"""WITH ${bm25ScoreCtes(qview, postView)}
       |${topPerQidSql(PageCols, "sc", queries.TextAnalysis.Bm25TopK)}""".stripMargin

  /** [[functions.TextFunctions.idfM]] as SQL text over column references. */
  private[graft] def idfMSql(df: String, n: String): String =
    s"(2*$n - 2*$df + 1) * 1000 div (2*$df + 1)"

  /** [[functions.TextFunctions.termScore]] as SQL text over column references. */
  private[graft] def termScoreSql(tf: String, dl: String, a: String): String =
    s"(2200 * $a * $tf) div (10 * $a * $tf + 3 * $a + 9 * $dl)"

  /** [[queries.TextAnalysis.topPerQid]] as SQL text: `cols` (with
    * `rnk` in scope) of `from`'s first `k` rows per qid by `score`.
    */
  private def topPerQidSql(cols: String, from: String, k: Long,
      score: String = "score_u"): String =
    s"""SELECT $cols FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY $score DESC, doc_id) AS rnk FROM $from) r
       |WHERE rnk <= $k""".stripMargin

  /** The ranked-page projection of the BM25 statements. */
  private val PageCols = "qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u"

  /** The shared query-terms → scored-candidates CTE chain (ending in
    * `sc`, scored but UNCUT) over the candidate view `postView` — one
    * scoring text for every lexical statement; [[diverseSql]] must
    * suppress duplicates BEFORE the rank cut (cutting first could only
    * shrink the page, never backfill it).
    */
  private def bm25ScoreCtes(qview: String,
      postView: String = "graft_lex_postings"): String =
    s"""qt0 AS (SELECT qid, term, COUNT(*) AS qtf
       |  FROM (SELECT qid, explode(split(lower(trim(qtext)), '\\\\s+')) AS term
       |        FROM $qview)
       |  GROUP BY qid, term),
       |qt AS (SELECT qid, term FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY qtf DESC, term) AS rn FROM qt0)
       |  WHERE rn <= ${queries.TextAnalysis.Bm25QTermCap}),
       |sc AS (SELECT qt.qid, p.doc_id,
       |  SUM((${idfMSql("f.df", "s.n")})
       |    * (${termScoreSql("p.tf", "d.dl", "s.a")}))
       |    AS score_u
       |  FROM $postView p JOIN qt USING (term)
       |    JOIN graft_lex_df f USING (term)
       |    JOIN graft_lex_doclen d USING (doc_id), graft_lex_stats s
       |  GROUP BY 1, 2)""".stripMargin

  /** The pseudo-relevance-feedback expansion serve as ONE SQL statement
    * — q178's contract for the catalog road: [[bm25Sql]]'s scoring over
    * `qview`, the top-[[queries.TextAnalysis.PrfFbDocs]] hits fed back,
    * their postings rows mining the
    * [[queries.TextAnalysis.PrfExpTerms]] best expansion terms
    * (feedback tf mass × the serve's milli-scale idf, candidates capped
    * at [[queries.TextAnalysis.PrfCandCap]] per query), and the
    * weighted union re-ranked through the identical arithmetic
    * (original [[queries.TextAnalysis.PrfOrigW]] : expansion
    * [[queries.TextAnalysis.PrfExpW]]). Hash-matches
    * [[queries.TextAnalysis.prfTopDocsFor]] on the same queries
    * (RetrievalSpec pins the three-road identity with q178). Plan note:
    * the feedback term fetch joins the postings view on doc_id — a
    * term-bucketed table, so that read is unpruned (the Scala road
    * fetches the ≤ sample·fbDocs feedback TEXTS by id-pushdown
    * instead); the statement trades that for statement-self-containment
    * exactly like [[bm25Sql]]'s dynamic-query plan note.
    */
  def prfSql(qview: String): String =
    s"""WITH ${bm25ScoreCtes(qview)},
       |serve1 AS (${topPerQidSql("qid, doc_id", "sc",
             queries.TextAnalysis.PrfFbDocs)}),
       |fbt AS (SELECT s1.qid, p.term, SUM(p.tf) AS fw0
       |  FROM serve1 s1 JOIN graft_lex_postings p USING (doc_id)
       |  GROUP BY s1.qid, p.term),
       |expc AS (SELECT qid, term, fw0 FROM
       |  (SELECT f.*, ROW_NUMBER() OVER (PARTITION BY f.qid
       |     ORDER BY f.fw0 DESC, f.term) AS crn
       |   FROM fbt f WHERE NOT EXISTS (SELECT 1 FROM qt
       |     WHERE qt.qid = f.qid AND qt.term = f.term)) z
       |  WHERE crn <= ${queries.TextAnalysis.PrfCandCap}),
       |expw AS (SELECT expc.qid, expc.term, expc.fw0,
       |  ${idfMSql("f.df", "s.n")} AS idf_m
       |  FROM expc JOIN graft_lex_df f USING (term), graft_lex_stats s),
       |expt AS (SELECT qid, term, idf_m,
       |    CAST(${queries.TextAnalysis.PrfExpW} AS BIGINT) AS w FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY fw0 * idf_m DESC, term) AS ern FROM expw) z
       |  WHERE ern <= ${queries.TextAnalysis.PrfExpTerms}),
       |origt AS (SELECT qt.qid, qt.term,
       |  ${idfMSql("f.df", "s.n")} AS idf_m,
       |  CAST(${queries.TextAnalysis.PrfOrigW} AS BIGINT) AS w
       |  FROM qt JOIN graft_lex_df f USING (term), graft_lex_stats s),
       |qt2 AS (SELECT * FROM origt UNION ALL SELECT * FROM expt),
       |sc2 AS (SELECT qt2.qid, p.doc_id,
       |  SUM(qt2.w * qt2.idf_m
       |    * (${termScoreSql("p.tf", "d.dl", "s.a")}))
       |    AS score_u
       |  FROM graft_lex_postings p JOIN qt2 USING (term)
       |    JOIN graft_lex_doclen d USING (doc_id), graft_lex_stats s
       |  GROUP BY 1, 2)
       |${topPerQidSql(PageCols, "sc2", queries.TextAnalysis.Bm25TopK)}""".stripMargin

  /** The L1→L2 feature re-rank as ONE SQL statement — q181's contract
    * for the catalog road: [[bm25Sql]]'s page over `qview`, then the
    * two positional features of each query's first two tokens computed
    * over `graft_lex_pos` for the PAGE's documents only (the lead join
    * carries the page restriction), folded into the scale-free
    * multiplicative integer boost. Hash-matches
    * [[queries.TextAnalysis.rerankTopDocsFor]] on the same queries
    * (RetrievalSpec pins the three-road identity with q181). Same plan
    * note as [[bm25Sql]] for the dynamic query table.
    */
  def rerankSql(qview: String): String =
    s"""WITH ${bm25ScoreCtes(qview)},
       |page AS (${topPerQidSql("qid, doc_id, score_u", "sc",
             queries.TextAnalysis.Bm25TopK)}),
       |qpv AS (SELECT qid, split(lower(trim(qtext)), '\\\\s+') AS tk
       |  FROM $qview),
       |qpx AS (SELECT qid, element_at(tk, 1) AS t1, element_at(tk, 2) AS t2
       |  FROM qpv WHERE size(tk) >= 2),
       |lead0 AS (SELECT qpx.qid, p1.doc_id, p1.pos, qpx.t2
       |  FROM graft_lex_pos p1 JOIN qpx ON p1.term = qpx.t1
       |  JOIN page pg ON pg.qid = qpx.qid AND pg.doc_id = p1.doc_id),
       |ph AS (SELECT l.qid, l.doc_id, COUNT(*) AS phrase_tf
       |  FROM lead0 l JOIN graft_lex_pos p2 ON p2.doc_id = l.doc_id
       |    AND p2.term = l.t2 AND p2.pos = l.pos + 1
       |  GROUP BY 1, 2),
       |px AS (SELECT l.qid, l.doc_id, COUNT(*) AS prox_tf
       |  FROM lead0 l JOIN graft_lex_pos p2 ON p2.doc_id = l.doc_id
       |    AND p2.term = l.t2 AND p2.pos > l.pos
       |    AND p2.pos <= l.pos + ${queries.TextAnalysis.ProxWindow}
       |  GROUP BY 1, 2),
       |fx AS (SELECT pg.qid, pg.doc_id, pg.score_u,
       |  COALESCE(ph.phrase_tf, 0L) AS phrase_tf,
       |  COALESCE(px.prox_tf, 0L) AS prox_tf
       |  FROM page pg
       |  LEFT JOIN ph ON ph.qid = pg.qid AND ph.doc_id = pg.doc_id
       |  LEFT JOIN px ON px.qid = pg.qid AND px.doc_id = pg.doc_id),
       |rr AS (SELECT *, score_u + (score_u div 1000) *
       |  (${queries.TextAnalysis.RerankPhraseBoostPm} *
       |     least(phrase_tf, ${queries.TextAnalysis.RerankFeatCap}) +
       |   ${queries.TextAnalysis.RerankProxBoostPm} *
       |     least(prox_tf, ${queries.TextAnalysis.RerankFeatCap}))
       |  AS final_u FROM fx)
       |${topPerQidSql(s"$PageCols, phrase_tf, prox_tf, final_u", "rr",
             queries.TextAnalysis.Bm25TopK, "final_u")}""".stripMargin

  /** The near-dup-DIVERSIFIED lexical serve as ONE SQL statement —
    * q164's contract for the catalog road: [[bm25Sql]]'s scoring over
    * the same `qview`, then at most ONE document per near-dup cluster
    * (the staged at-scale labels published as `graft_cluster_labels`)
    * with the cluster's best-scoring copy kept (ties to min doc_id) and
    * lower-ranked DISTINCT documents backfilling the freed ranks before
    * the top-k cut. Hash-matches [[queries.Dedup.diverseTopDocsFor]] on
    * the same queries (RetrievalSpec pins the three-road identity with
    * q164).
    */
  def diverseSql(qview: String): String =
    s"""WITH ${bm25ScoreCtes(qview)},
       |dj AS (SELECT sc.qid, sc.doc_id, cl.cluster_id, sc.score_u
       |  FROM sc JOIN graft_cluster_labels cl USING (doc_id)),
       |dp AS (SELECT qid, doc_id, cluster_id, score_u FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, cluster_id
       |     ORDER BY score_u DESC, doc_id) AS pr FROM dj) z WHERE pr = 1)
       |${topPerQidSql("qid, CAST(rnk AS BIGINT) AS rnk, doc_id, cluster_id, score_u",
             "dp", queries.TextAnalysis.Bm25TopK)}""".stripMargin

  /** The (application, dir) pairs whose views are live — the state
    * [[refreshAfterTakedown]] consults so a takedown against a dir that
    * never registered views is a catalog no-op (the serve-path masks
    * still apply; there is just nothing published to refresh).
    * The value memoizes the staged IVF-PQ table name so a refresh never
    * re-trains the quantizer/codebooks.
    */
  private val published =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** The dir whose views are CURRENTLY published, per application — the
    * view names are shared catalog state, so only the LAST [[register]]
    * owns them: [[refreshAfterTakedown]] consults this so a takedown
    * against a previously-registered dir cannot silently repoint the
    * views at the wrong corpus (the serve-path masks of that dir still
    * apply; the catalog just keeps serving the corpus the user last
    * registered).
    */
  private val current =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The complete batched ADC serve as ONE SQL statement — the
    * [[bm25Sql]] posture for the VECTOR read path: `qview` names any
    * (qid BIGINT, qvec ARRAY<FLOAT|DOUBLE>) relation, and the statement
    * runs q122's whole pipeline in native SQL — query guards (64-dim,
    * no null element, non-zero non-NaN norm — the NaN check is explicit
    * because SQL's NaN-greatest double order makes `NaN > 0` TRUE while
    * the driver path's IEEE comparison is false: an invalid vector
    * serves nothing, never crashes), per-query 2-cell probe plans
    * against
    * `graft_centroids` (cosine via native `vec_dot`; a NaN affinity
    * sorts first under SQL's NaN-greatest double order — the engine's
    * own convention), per-(query, subspace, code) distance tables
    * against the frozen `graft_pq_codebooks` (sequential IEEE folds —
    * `aggregate` over `zip_with`, the driver path's exact operation
    * order), candidates from the takedown-masked `graft_ivfpq_index`,
    * and the per-query top-10 cut. Hash-matches
    * [[queries.Similarity]]'s q122 serve on the same queries
    * (RetrievalSpec pins it). Plan note: the cell fetch joins the index
    * view on the probe table — correct at any scale but unpruned; a
    * latency-sensitive point serve inlines `WHERE cell IN (…)` (the
    * Scala path's literal form), which prunes through the view.
    */
  def adcSql(qview: String): String = {
    val sub = queries.Similarity.PqSubDim
    val codeJoins = (0 until queries.Similarity.PqM).map(m =>
      s"JOIN tbl t$m ON t$m.qid = c.qid AND t$m.m = $m AND t$m.k = c.code$m")
      .mkString("\n    ")
    val adcSum = (0 until queries.Similarity.PqM).map(m => s"t$m.td")
      .mkString(" + ")
    s"""WITH q0 AS (SELECT qid, CAST(qvec AS ARRAY<DOUBLE>) AS v FROM $qview),
       |qn AS (SELECT qid, v, sqrt(vec_dot(v, v)) AS nrm FROM q0
       |  WHERE size(v) = 64 AND NOT exists(v, x -> x IS NULL)
       |    AND vec_dot(v, v) > 0 AND NOT isnan(vec_dot(v, v))),
       |qc AS (SELECT qid, cell FROM
       |  (SELECT q.qid, c.cell, ROW_NUMBER() OVER (PARTITION BY q.qid
       |     ORDER BY vec_dot(c.cvec, q.v) / (q.nrm * c.cnrm) DESC, c.cell)
       |     AS rn FROM qn q CROSS JOIN graft_centroids c) z
       |  WHERE rn <= 2),
       |tbl AS (SELECT q.qid, b.m, b.k,
       |  aggregate(zip_with(slice(q.v, b.m * $sub + 1, $sub), b.cvec,
       |    (x, y) -> (x - y) * (x - y)), 0D, (acc, d) -> acc + d) AS td
       |  FROM qn q CROSS JOIN graft_pq_codebooks b),
       |cand AS (SELECT qc.qid, i.*
       |  FROM graft_ivfpq_index i JOIN qc ON i.cell = qc.cell),
       |sc AS (SELECT c.qid, c.vec_id, $adcSum AS adc
       |  FROM cand c
       |    $codeJoins)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY adc, vec_id) AS rnk FROM sc) r
       |WHERE rnk <= 10""".stripMargin
  }

  /** The full hybrid RAG serve as ONE SQL statement — [[bm25Sql]] and
    * [[adcSql]] fused by q149's exact-lcm integer RRF: `qview` names
    * any (qid BIGINT, qtext STRING, qvec ARRAY<FLOAT|DOUBLE>) relation
    * — the production request shape (a query string plus the caller's
    * embedding) — and the statement returns the fused page with both
    * legs' ranks beside the score. Single-modality queries degrade
    * exactly like the engine: an invalid vector's query still serves
    * lexically (adcSql's guards drop only its semantic leg), a
    * term-less query still serves semantically. Hash-matches
    * [[queries.Similarity.hybridTopDocsFor]] on the same queries
    * (RetrievalSpec pins the three-way identity with q149).
    */
  def hybridSql(qview: String): String =
    hybridSqlFrom(bm25Sql(qview), qview)

  /** The BOUNDED hybrid serve as ONE SQL statement — q185's contract
    * for the catalog road: [[hybridSql]]'s fusion with the lexical leg
    * redirected to [[impactSql]] (the staged per-term top-K lists), so
    * BOTH legs' scans are bounded at any corpus — the exact statement's
    * lexical candidate fetch tracks the query terms' dfs. Hash-matches
    * [[queries.Similarity.boundedHybridTopDocsFor]] on the same queries
    * (RetrievalSpec pins the three-road identity with q185).
    */
  def boundedHybridSql(qview: String): String =
    hybridSqlFrom(impactSql(qview), qview)

  private def hybridSqlFrom(lexSql: String, qview: String): String =
    s"""WITH lex AS ($lexSql),
       |sem AS (${adcSql(qview)}),
       |fused AS (SELECT COALESCE(l.qid, s.qid) AS qid,
       |    COALESCE(l.doc_id, s.vec_id) AS doc_id,
       |    COALESCE(${queries.Similarity.RrfScale}
       |        div (${queries.Similarity.RrfK} + l.rnk), 0) +
       |    COALESCE(${queries.Similarity.RrfScale}
       |        div (${queries.Similarity.RrfK} + s.rnk), 0) AS rrf_u,
       |    l.rnk AS lex_rnk, s.rnk AS sem_rnk
       |  FROM lex l FULL OUTER JOIN sem s
       |    ON s.qid = l.qid AND s.vec_id = l.doc_id)
       |${topPerQidSql("qid, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf_u, lex_rnk, sem_rnk",
             "fused", queries.Similarity.RrfTopK, "rrf_u")}""".stripMargin

  /** The positional serve family as complete SQL statements over
    * `graft_lex_pos` — [[bm25Sql]]'s contract for quoted/slop queries:
    * `qview` names any (qid BIGINT, qtext STRING) relation, each query
    * string's first `k` tokens are the phrase (sub-k queries serve
    * nothing — the engine's cut), and the adjacency/slop predicate
    * chain is the Scala serve's fold spelled as self-joins, so the
    * statement hash-matches [[queries.TextAnalysis.phraseTopDocsFor]]
    * and friends on the same queries (SqlCatalogSpec pins all three).
    * Same plan note as [[bm25Sql]]: a dynamic query table joins the
    * positional view on term — correct at any scale but unpruned; a
    * latency-sensitive point serve inlines `WHERE term IN (…)`, which
    * bucket-prunes through the view (the Scala path's literal form).
    */
  def phraseSql(qview: String, k: Int = 2): String = {
    require(k >= 2, s"a phrase needs at least two tokens, got $k")
    positionalSql(qview, k, "phrase_tf", phraseJoins(k))
  }

  /** [[phraseSql]] plus the snippet anchor: each hit's first-occurrence
    * token offset (0-based — the engine's convention), q161's contract.
    */
  def snippetSql(qview: String, k: Int = 2): String = {
    require(k >= 2, s"a phrase needs at least two tokens, got $k")
    positionalSql(qview, k, "phrase_tf", phraseJoins(k),
      extraAgg = ", CAST(MIN(p1.pos) AS BIGINT) AS first_pos",
      extraCols = ", first_pos")
  }

  /** The ordered within-N proximity serve (q159's contract): t2 within
    * [[queries.TextAnalysis.ProxWindow]] tokens AFTER t1.
    */
  def proximitySql(qview: String): String =
    positionalSql(qview, 2, "prox_tf",
      "JOIN graft_lex_pos p2 ON p2.doc_id = p1.doc_id" +
        " AND p2.term = qp.t2 AND p2.pos > p1.pos" +
        s" AND p2.pos <= p1.pos + ${queries.TextAnalysis.ProxWindow}")

  private def phraseJoins(k: Int): String =
    (2 to k).map(i => s"JOIN graft_lex_pos p$i ON p$i.doc_id = p1.doc_id" +
      s" AND p$i.pos = p1.pos + ${i - 1} AND p$i.term = qp.t$i")
      .mkString("\n  ")

  private def positionalSql(qview: String, k: Int, cnt: String,
      matchJoins: String, extraAgg: String = "",
      extraCols: String = ""): String = {
    val tsel = (1 to k).map(i => s"element_at(tk, $i) AS t$i").mkString(", ")
    s"""WITH qt AS (SELECT qid, split(lower(trim(qtext)), '\\\\s+') AS tk
       |  FROM $qview),
       |qp AS (SELECT qid, $tsel FROM qt WHERE size(tk) >= $k),
       |m AS (SELECT qp.qid, p1.doc_id, COUNT(*) AS $cnt$extraAgg
       |  FROM graft_lex_pos p1 JOIN qp ON p1.term = qp.t1
       |  $matchJoins
       |  GROUP BY qp.qid, p1.doc_id)
       |${topPerQidSql(s"qid, CAST(rnk AS BIGINT) AS rnk, doc_id, $cnt$extraCols",
             "m", queries.TextAnalysis.Bm25TopK, cnt)}""".stripMargin
  }

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
    // the frozen PQ codebooks (64 rows) — [[adcSql]]'s distance-table
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
    // the broadcastable weight table [[nbSql]] scores any document
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
    * fire after registering a request (temp views capture their plan at
    * creation, so a mask added later needs a re-publish to be seen).
    * No-op unless [[register]] ran for this (session, dir) AND `dir` is
    * the application's CURRENTLY published dir (register(dirA) then
    * register(dirB) leaves the shared view names owned by dirB — a
    * later takedown against dirA must not repoint them back at dirA's
    * corpus; dirA's serve-path masks still apply, there is just nothing
    * of dirA's published to refresh). Cheap by construction: every
    * staged table already exists, the lexical scalars are memoized, and
    * the masks themselves are broadcast anti-joins over request-sized
    * id sets.
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
    // takedown mask) — the substrate [[phraseSql]]/[[proximitySql]]/
    // [[snippetSql]] rank through
    queries.TextAnalysis.posRead(spark, dir, docTomb)
      .createOrReplaceTempView("graft_lex_pos")
    // the impact-ordered sidecar (q182's bounded candidate lists; the
    // same takedown mask — see impactRead's documented cut posture)
    queries.TextAnalysis.impactRead(spark, dir, docTomb)
      .createOrReplaceTempView("graft_lex_impact")
    // the staged at-scale cluster labels (q150's artifact — built once
    // per session+dir), [[diverseSql]]'s suppression side. Member-
    // derived rows, masked like the band view (purged ids included:
    // a label row names a document)
    StagedTombstones.masked(spark,
        queries.Dedup.ensureClusterLabels64(spark, dir),
        StagedTombstones.maskableDocIds(spark, dir), "doc_id")
      .createOrReplaceTempView("graft_cluster_labels")
    // the corpus scalars a BM25 statement needs beside the index: N
    // documents (null text included — they shape idf), L tokens, and
    // the serve's pre-quantized average document length a = max(1,
    // L div max(1, N)) — one broadcastable row, so [[bm25Sql]] needs
    // no documents scan. Takedown deltas are already folded in by
    // [[queries.TextAnalysis.lexRead]].
    Seq((n, l, functions.TextFunctions.quantizedAvgDl(n, l)))
      .toDF("n", "l", "a").createOrReplaceTempView("graft_lex_stats")
  }
}
