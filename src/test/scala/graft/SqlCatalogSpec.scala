package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL composition layer: [[SqlCatalog.register]] publishes the
  * staged/derived relations as named views, and the documented examples
  * (a pure-SQL band-health aggregate; a pure-SQL IVF probe composing
  * the native `vec_dot` with the centroid and index views) must run
  * verbatim and agree with the Scala-side operators.
  */
class SqlCatalogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val names: Seq[String] = SqlCatalog.register(spark, dir)

  test("register publishes every catalog view") {
    assert(names == SqlCatalog.ViewNames)
    names.foreach(n => assert(spark.catalog.tableExists(n), n))
  }

  test("band view: one row per (doc, band) at the adaptive width; q116's SQL aggregate runs") {
    names
    val nDocs = Tables(spark, dir, "documents").count()
    val w = spark.sql("SELECT DISTINCT band_width FROM graft_band_index")
      .head.getInt(0)
    val nb = 32 / w
    assert(spark.sql("SELECT COUNT(*) FROM graft_band_index")
      .head.getLong(0) == nDocs * nb)
    // the documented pure-SQL health aggregate (q116's shape)
    val health = spark.sql(
      """SELECT b, COUNT(*) AS n_buckets, MAX(cnt) AS max_bucket
        |FROM (SELECT b, bk, COUNT(*) AS cnt FROM graft_band_index
        |      WHERE bk IS NOT NULL GROUP BY b, bk)
        |GROUP BY b ORDER BY b""".stripMargin).collect()
    assert(health.length == nb)
    assert(health.forall(_.getAs[Long]("n_buckets") > 0L))
    spark.catalog.clearCache()
  }

  test("pure-SQL IVF probe: vec_dot over the centroid view picks the index's own cell") {
    names
    // the first indexed vector is its own best probe: the SQL argmax
    // (native vec_dot against the centroid view, ties to the lowest
    // cell) must land on exactly the cell the staged index recorded
    val probe = spark.table("graft_ivfpq_index")
      .orderBy("vec_id").limit(1).collect()(0)
    val qid = probe.getAs[Long]("vec_id")
    val expectCell = probe.getAs[Long]("cell")
    Tables(spark, dir, "embeddings")
      .filter(col("vec_id") === qid).select(col("embedding").as("qv"))
      .createOrReplaceTempView("q")
    val got = spark.sql(
      """SELECT i.* FROM graft_ivfpq_index i WHERE i.cell =
        |  (SELECT c.cell FROM graft_centroids c CROSS JOIN q
        |   ORDER BY vec_dot(c.cvec, CAST(q.qv AS ARRAY<DOUBLE>)) / c.cnrm
        |     DESC, c.cell LIMIT 1)""".stripMargin).collect()
    assert(got.nonEmpty)
    assert(got.forall(_.getAs[Long]("cell") == expectCell))
    assert(got.exists(_.getAs[Long]("vec_id") == qid),
      "the probed cell must contain the query vector itself")
    spark.catalog.clearCache()
  }

  test("index view preserves the staged table's bucketed scan") {
    names
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = spark.sql("SELECT * FROM graft_ivfpq_index WHERE cell IN (0, 1)")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p.take(1500))
      assert(!p.contains("embeddings.parquet"),
        "the view must scan the staged codes, not the raw vectors")
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
  }

  test("lexical index views: postings/doclen/df agree and a term fetch bucket-prunes") {
    names
    // internal consistency a SQL user can rely on: df is the postings'
    // per-term doc count, doclen the per-doc tf mass
    assert(spark.sql(
      """SELECT COUNT(*) FROM
        |  (SELECT term, COUNT(*) AS c FROM graft_lex_postings GROUP BY term) p
        |  JOIN graft_lex_df d USING (term) WHERE p.c <> d.df""".stripMargin)
      .head.getLong(0) == 0L)
    assert(spark.sql(
      """SELECT COUNT(*) FROM
        |  (SELECT doc_id, SUM(tf) AS s FROM graft_lex_postings GROUP BY doc_id) p
        |  JOIN graft_lex_doclen d USING (doc_id) WHERE p.s <> d.dl""".stripMargin)
      .head.getLong(0) == 0L)
    // a term-restricted fetch through the view bucket-prunes like the
    // serve path (mechanism pin, q148's)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      val df = spark.sql(
        "SELECT * FROM graft_lex_postings WHERE term IN ('the', 'and')")
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("Bucketed: true"), p.take(1500))
      assert(p.contains("SelectedBucketsCount"), p.take(1500))
    } finally
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    spark.catalog.clearCache()
  }

  /** Publishes `q_ext`: the query sample q148 uses (document-modulus),
    * as an EXTERNAL (qid, qtext) relation — the form a query log
    * arrives in.
    */
  private def qExt(): Unit = {
    val nd = Tables(spark, dir, "documents").count()
    val qmod = math.max(5L, (nd + 7) / 8)
    Tables(spark, dir, "documents")
      .filter(col("doc_id") % qmod === 0)
      .select(col("doc_id").as("qid"), col("text").as("qtext"))
      .createOrReplaceTempView("q_ext")
  }

  test("pure-SQL BM25 top-k over the lexical views hash-matches the Scala serve") {
    names
    qExt()
    val sql = spark.sql("SELECT * FROM graft_bm25('q_ext')")
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
    val scala = SparkEntry.queries("q148_bm25_topk")(spark, dir)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).toSet
    assert(sql.nonEmpty && sql == scala,
      s"sql-only ${sql -- scala}; scala-only ${scala -- sql}")
    spark.catalog.clearCache()
  }

  test("pure-SQL hashed-NB scoring over the model view hash-matches q168") {
    names
    // score the corpus itself through the catalog: every doc's
    // n_tokens/nb_score/nb_pass must equal the registered operator's
    // (graft_nb scores against the published graft_nb_model view)
    Tables(spark, dir, "documents").select("doc_id", "text")
      .createOrReplaceTempView("d_ext")
    def key(r: org.apache.spark.sql.Row) = (r.getAs[Long]("doc_id"),
      if (r.isNullAt(1)) null else r.getAs[Long]("n_tokens"),
      if (r.isNullAt(2)) null else r.getAs[Long]("nb_score"),
      if (r.isNullAt(3)) null else r.getAs[Boolean]("nb_pass"))
    val sql = spark.sql("SELECT * FROM graft_nb('d_ext')")
      .select("doc_id", "n_tokens", "nb_score", "nb_pass")
      .collect().map(key).toSet
    val scala = SparkEntry.queries("q168_nb_hashed")(spark, dir)
      .select("doc_id", "n_tokens", "nb_score", "nb_pass")
      .collect().map(key).toSet
    graft.Caches.release(spark)
    assert(sql.nonEmpty && sql == scala,
      s"sql-only ${(sql -- scala).take(3)}; scala-only ${(scala -- sql).take(3)}")
    spark.catalog.clearCache()
  }

  test("serve table functions: a self-join on qid analyzes and pairs each top hit with its page") {
    names
    qExt()
    // both sides plan the same serve: the analyzer must give the spliced
    // plans distinct expression ids, or the join condition is ambiguous
    val page = SparkEntry.queries("q148_bm25_topk")(spark, dir).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"))).toSeq
    val expected = (for {
      (q, 1L, top) <- page
      (q2, r, d) <- page if q2 == q
    } yield (q, top, r, d)).toSet
    val got = spark.sql(
      """SELECT a.qid, a.doc_id AS top, b.rnk, b.doc_id
        |FROM graft_bm25('q_ext') a JOIN graft_bm25('q_ext') b
        |  ON a.qid = b.qid
        |WHERE a.rnk = 1""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got.nonEmpty && got == expected,
      s"sql-only ${got -- expected}; expected-only ${expected -- got}")
    spark.catalog.clearCache()
  }

  test("serve table functions: a bad call fails with a message naming the function") {
    names
    qExt()
    def failure(sql: String): String =
      intercept[Exception](spark.sql(sql).collect()).getMessage
    val nonLiteral = failure("SELECT * FROM graft_bm25(concat('q_', 'ext'))")
    assert(nonLiteral.contains("graft_bm25") && nonLiteral.contains("literal"),
      nonLiteral)
    val column = failure("SELECT * FROM graft_bm25(q_ext)")
    assert(column.contains("graft_bm25"), column)
    val missing = failure("SELECT * FROM graft_bm25('no_such_qview')")
    assert(missing.contains("graft_bm25") && missing.contains("no_such_qview"),
      missing)
    val shortPhrase = failure("SELECT * FROM graft_phrase('q_ext', 1)")
    assert(shortPhrase.contains("graft_phrase"), shortPhrase)
    val snippetK = failure("SELECT * FROM graft_snippet('q_ext', 'two')")
    assert(snippetK.contains("graft_snippet") && snippetK.contains("literal"),
      snippetK)
    val app = spark.sparkContext.applicationId
    val published = SqlCatalog.current.remove(app)
    try {
      val early = failure("SELECT * FROM graft_bm25('q_ext')")
      assert(early.contains("graft_bm25") &&
        early.contains("SqlCatalog.register"), early)
    } finally if (published != null) SqlCatalog.current.put(app, published)
  }

  test("cluster-labels view serves the staged q150 artifact") {
    names
    val viaView = spark.table("graft_cluster_labels").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    val viaEntry = SparkEntry.queries("q150_clusters64")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"))).toSet
    assert(viaView == viaEntry)
  }

  test("manifest view exposes q119's loader artifact") {
    names
    val rows = spark.sql(
      "SELECT chunk_id, COUNT(*) AS n FROM graft_pack_manifest GROUP BY chunk_id")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n") >= 1L))
    spark.catalog.clearCache()
  }
}
