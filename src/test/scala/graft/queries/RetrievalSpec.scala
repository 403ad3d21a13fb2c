package graft.queries

import graft.SparkTestSession
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Planted-ranking contract of the lexical (BM25) read path, q148: the
  * integer fixed-point scoring must realize the BM25 orderings — rare
  * (high-idf) term matches dominate common-term frequency, the query
  * document retrieves itself first, documents sharing nothing are
  * absent — and the per-query term cap must drop exactly the
  * lowest-(qtf, term) terms.
  *
  * Fixtures are sized so the corpus-adaptive query modulus
  * (max(5, ceil(n/8)) — the q95/q122 sampling discipline) samples
  * exactly doc 0 as the query.
  */
class RetrievalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = Files.createTempDirectory("graft-retrieval").toString
    rows.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("q148: rare-term matches outrank common-term frequency; self first; no-overlap docs absent") {
    // query doc 0: two rare terms (zebra df=3, quark df=2) + a stopword
    // ("the", df=5 -> near-zero idf). doc 1 matches both rare terms,
    // doc 3 one, doc 2 only hammers the stopword (tf=8), doc 4 shares
    // only the stopword. BM25's idf discipline must produce
    // self > both-rare > one-rare > stopword-tf > stopword-once.
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "the the the the the the the the",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the"))
    val rows = graft.SparkEntry.queries("q148_bm25_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.forall(_.getAs[Long]("qid") == 0L))
    val ranked = rows.map(_.getAs[Long]("doc_id")).toSeq
    assert(ranked == Seq(0L, 1L, 3L, 2L, 4L),
      s"got $ranked; scores ${rows.map(_.getAs[Long]("score_u")).toSeq}")
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == (1L to 5L),
      "ranks must be contiguous from 1")
    assert(rows.forall(_.getAs[Long]("score_u") > 0L))
    spark.catalog.clearCache()
  }

  test("q148: the term cap keeps exactly the top-(qtf, term) query terms") {
    // the query doc carries 20 distinct terms: t01..t16 at qtf=2,
    // t17..t20 at qtf=1 — the cap (16) must keep exactly t01..t16, so a
    // doc matching ONLY dropped terms scores nothing and is absent
    // while a doc matching one kept term surfaces.
    val kept = (1 to 16).map(i => f"t$i%02d t$i%02d").mkString(" ")
    val dropped = (17 to 20).map(i => f"t$i%02d").mkString(" ")
    val dir = corpus(Seq(
      0L -> s"$kept $dropped",
      1L -> dropped,
      2L -> "t01 filler"))
    val rows = graft.SparkEntry.queries("q148_bm25_topk")(spark, dir)
      .collect()
    val docs = rows.map(_.getAs[Long]("doc_id")).toSet
    assert(docs == Set(0L, 2L),
      s"dropped-term-only doc must be absent, kept-term doc present: $docs")
    spark.catalog.clearCache()
  }

  test("q154: adjacency ranks, not co-occurrence; ties to doc_id; separated words absent") {
    // query doc 0's phrase = "alpha beta". doc 1 carries the bigram
    // twice, docs 0 and 3 once each (tie -> doc_id order), doc 2 has
    // BOTH words but never adjacent — the case the bag model (q148)
    // structurally cannot distinguish — and must be absent.
    val dir = corpus(Seq(
      0L -> "alpha beta gamma",
      1L -> "alpha beta alpha beta",
      2L -> "alpha gamma beta alpha",
      3L -> "x alpha beta y",
      4L -> "delta epsilon"))
    val rows = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.forall(_.getAs[Long]("qid") == 0L))
    val ranked = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSeq
    assert(ranked == Seq(1L -> 2L, 0L -> 1L, 3L -> 1L), s"got $ranked")
    spark.catalog.clearCache()
  }

  test("q154: overlapping occurrences count as position pairs (t1 = t2)") {
    // the phrase "a a" over runs of a's: a run of length n holds n-1
    // overlapping occurrences — the position-pair convention both
    // engines share (a scan-and-consume matcher would read n div 2)
    val dir = corpus(Seq(
      0L -> "a a",
      1L -> "a a a",
      2L -> "a b a",
      3L -> "a a a a",
      4L -> "b b"))
    val rows = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    val ranked = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf"))).toSeq
    assert(ranked == Seq(3L -> 3L, 1L -> 2L, 0L -> 1L), s"got $ranked")
    spark.catalog.clearCache()
  }

  test("q154: a query with fewer than two tokens has no phrase and serves nothing") {
    val dir = corpus(Seq(
      0L -> "solo",
      1L -> "alpha beta",
      2L -> "alpha beta gamma",
      3L -> "some words here",
      4L -> "more words"))
    val rows = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect()
    assert(rows.isEmpty, s"one-token query must serve nothing: ${rows.toSeq}")
    spark.catalog.clearCache()
  }

  test("q158: the trigram serve rejects the planted bigram-only document the k=2 serve falsely matches") {
    // query doc 0's trigram = "alpha beta gamma". doc 1 carries the
    // FIRST TWO tokens adjacent but "gamma" elsewhere — a bigram serve
    // structurally matches it; the k=3 fold must not. doc 2 carries the
    // full trigram.
    val dir = corpus(Seq(
      0L -> "alpha beta gamma tail",
      1L -> "alpha beta x gamma",
      2L -> "x alpha beta gamma y",
      3L -> "alpha gamma beta",
      4L -> "filler words only"))
    val tri = graft.SparkEntry.queries("q158_phrase3_topk")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(tri == Set(0L, 2L), s"trigram must serve exactly the true matches: $tri")
    val bi = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(bi.contains(1L),
      s"the planted document must be a bigram false match for the test to bite: $bi")
    spark.catalog.clearCache()
  }

  test("q159: proximity hits what the exact phrase misses, ranks by qualifying pair count, order is directional") {
    // query doc 0's pair = ("alpha", "beta"). doc 1 separates them by
    // 2 tokens (phrase misses, proximity hits); doc 2 holds TWO
    // qualifying pairs (one adjacent + the same beta reachable from a
    // second alpha) and must outrank doc 1; doc 3 has beta BEFORE alpha
    // only — directional, must be absent; doc 4 separates them past the
    // window (5) and must be absent.
    val dir = corpus(Seq(
      0L -> "alpha beta",
      1L -> "alpha x y beta",
      2L -> "alpha alpha beta",
      3L -> "beta then alpha",
      4L -> "alpha a b c d e beta"))
    val rows = graft.SparkEntry.queries("q159_proximity_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    val ranked = rows.map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("prox_tf"))).toSeq
    assert(ranked == Seq(2L -> 2L, 0L -> 1L, 1L -> 1L), s"got $ranked")
    val phrase = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!phrase.contains(1L),
      s"doc 1 must be an exact-phrase miss for the test to bite: $phrase")
    spark.catalog.clearCache()
  }

  test("q159: a window of 1 degenerates to the exact bigram") {
    val dir = corpus(Seq(
      0L -> "alpha beta gamma",
      1L -> "alpha beta alpha beta",
      2L -> "alpha x beta",
      3L -> "x alpha beta y",
      4L -> "beta alpha"))
    import org.apache.spark.sql.functions.col
    val qids = graft.Tables(spark, dir, "documents")
      .filter(col("doc_id") === 0L).select(col("doc_id").as("qid"))
    val prox = TextAnalysis.proximityTopDocs(spark, dir, qids, win = 1L)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("prox_tf")))
      .toSet
    val phrase = TextAnalysis.phraseTopDocs(spark, dir, qids)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("phrase_tf")))
      .toSet
    assert(prox == phrase && prox.nonEmpty,
      s"win=1 must equal the exact bigram serve: prox=$prox phrase=$phrase")
    spark.catalog.clearCache()
  }

  test("q161: snippet anchors are the 0-based first-occurrence offsets, ranking unchanged from q154") {
    // query doc 0's phrase "alpha beta": doc 0 anchors at offset 0;
    // doc 1 carries it twice, first at offset 1; doc 2 never adjacent
    val dir = corpus(Seq(
      0L -> "alpha beta gamma",
      1L -> "x alpha beta alpha beta",
      2L -> "alpha gamma beta",
      3L -> "no match here",
      4L -> "also nothing"))
    val rows = graft.SparkEntry.queries("q161_phrase_snippets")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    val got = rows.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("phrase_tf"), r.getAs[Long]("first_pos"))).toSeq
    assert(got == Seq((1L, 2L, 1L), (0L, 1L, 0L)), s"got $got")
    // the ranking column set is q154's exactly
    val q154 = graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)
      .collect().map(r => (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"))).toSet
    assert(q154 == rows.map(r =>
      (r.getAs[Long]("rnk"), r.getAs[Long]("doc_id"))).toSet)
    spark.catalog.clearCache()
  }

  test("q163: the self-check card reads all-self on the planted fixture") {
    // the q148 fixture: one sampled query (doc 0), which retrieves
    // itself first — the card must read 1/1/1000
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "the the the the the the the the",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the"))
    val r = graft.SparkEntry.queries("q163_retrieval_selfcheck")(spark, dir)
      .collect() match { case Array(x) => x }
    assert(r.getAs[Long]("n_queries") == 1L &&
      r.getAs[Long]("n_self_top1") == 1L &&
      r.getAs[Long]("self_top1_pm") == 1000L, r.toString)
    spark.catalog.clearCache()
  }

  test("q164: a duplicate family is served once, its best copy kept, distinct docs backfill the freed ranks") {
    // docs 1 and 2 are byte-identical near-dup twins (one 64-bit
    // cluster); both match the query's rare terms, so the plain q148
    // serve ranks BOTH (self, twin, twin, one-rare, stopword-only).
    // The diversified serve must keep exactly one twin — the
    // best-scoring copy, ties to MIN doc_id — and docs 3/4 must
    // backfill to contiguous ranks, not vanish with the page.
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "zebra quark the here now",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the"))
    val plain = graft.SparkEntry.queries("q148_bm25_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("doc_id"))
    assert(plain.toSeq == Seq(0L, 1L, 2L, 3L, 4L),
      s"fixture must make the undiversified serve rank both twins: ${plain.toSeq}")
    val rows = graft.SparkEntry.queries("q164_diverse_topk")(spark, dir)
      .collect().sortBy(_.getAs[Long]("rnk"))
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == Seq(0L, 1L, 3L, 4L),
      s"got ${rows.map(_.getAs[Long]("doc_id")).toSeq}")
    assert(rows.map(_.getAs[Long]("rnk")).toSeq == (1L to 4L),
      "backfilled ranks must be contiguous from 1")
    assert(rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
      .toMap == Map(0L -> 0L, 1L -> 1L, 3L -> 3L, 4L -> 4L),
      "the kept twin carries its cluster's canonical (min) label")
    spark.catalog.clearCache()
  }

  test("q160: the index card's envelopes are the hand-computed corpus facts") {
    // the q148 fixture: N=5 docs, L=25 tokens, a=5; df = zebra 3,
    // quark 2, the 5, here/now/filler/alpha/beta 1 -> 8 terms,
    // 15 postings, max_df 5; heavy bar N div 2 = 2 -> {zebra, the}
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "the the the the the the the the",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the"))
    val r = graft.SparkEntry.queries("q160_lex_index_card")(spark, dir)
      .collect() match { case Array(x) => x }
    assert(r.getAs[Long]("n_docs") == 5L && r.getAs[Long]("n_tokens") == 25L &&
      r.getAs[Long]("avgdl_q") == 5L, r.toString)
    assert(r.getAs[Long]("n_terms") == 8L &&
      r.getAs[Long]("n_postings") == 15L &&
      r.getAs[Long]("max_df") == 5L &&
      r.getAs[Long]("n_heavy_terms") == 2L, r.toString)
    spark.catalog.clearCache()
  }

  test("q167: the per-path eval card carries one row per serve path; the lexical row IS q163's card") {
    // the q149 fixture (docs + embeddings, vec 0 zero-norm): the card
    // must emit exactly the three deployed paths, its lexical row must
    // equal the standalone q163 card (shared fold — no drift), and the
    // zero-norm query drops from the SEMANTIC sample only (n_queries:
    // lexical counts it, semantic cannot)
    import spark.implicits._
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "the the the the the the the the",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the",
      5L -> "gamma delta words here",
      6L -> "gamma delta other words",
      7L -> "epsilon words",
      8L -> "unrelated tokens entirely",
      9L -> "more filler text rows"))
    (0L until 10L).map { i =>
      val v: Seq[java.lang.Float] =
        if (i == 0L) Seq.fill(64)(java.lang.Float.valueOf(0f))
        else (1 to 64).map(j =>
          java.lang.Float.valueOf(math.sin(i * 64 + j).toFloat))
      (i, v, i.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val card = graft.SparkEntry.queries("q167_serve_eval_card")(spark, dir)
      .collect().map(r => r.getAs[String]("path") ->
        ((r.getAs[Long]("n_queries"), r.getAs[Long]("n_self_top1"),
          r.getAs[Long]("self_top1_pm")))).toMap
    val q163 = graft.SparkEntry.queries("q163_retrieval_selfcheck")(spark, dir)
      .collect() match { case Array(x) =>
        (x.getAs[Long]("n_queries"), x.getAs[Long]("n_self_top1"),
          x.getAs[Long]("self_top1_pm")) }
    graft.Caches.release(spark)
    assert(card.keySet == Set("lexical", "semantic", "hybrid"), card.toString)
    assert(card("lexical") == q163,
      s"the card's lexical row must equal q163: ${card("lexical")} vs $q163")
    assert(card("lexical")._1 == 2L, "both sampled queries serve lexically")
    assert(card("semantic")._1 == 1L,
      "the zero-norm query must drop from the semantic sample only")
    assert(card("hybrid")._1 == 2L, "the fused path serves both queries")
    spark.catalog.clearCache()
  }

  test("q149: a query with an invalid vector still serves lexically (query-level single modality)") {
    // the documented full-outer posture one level up: q122 drops a
    // zero-norm query vector from the SEMANTIC side, but the query's
    // text still ranks documents — the fused list exists with sem_rnk
    // all null. 10 docs so the modulus (5) samples qids {0, 5}: vec 0
    // is the invalid (zero-norm) query, vec 5 a valid one (which also
    // keeps the quantizer's own sample non-degenerate).
    import spark.implicits._
    val dir = corpus(Seq(
      0L -> "zebra quark the the the",
      1L -> "zebra quark the here now",
      2L -> "the the the the the the the the",
      3L -> "zebra the filler filler",
      4L -> "alpha beta the",
      5L -> "gamma delta words here",
      6L -> "gamma delta other words",
      7L -> "epsilon words",
      8L -> "unrelated tokens entirely",
      9L -> "more filler text rows"))
    (0L until 10L).map { i =>
      val v: Seq[java.lang.Float] =
        if (i == 0L) Seq.fill(64)(java.lang.Float.valueOf(0f))
        else (1 to 64).map(j =>
          java.lang.Float.valueOf(math.sin(i * 64 + j).toFloat))
      (i, v, i.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = graft.SparkEntry.queries("q149_hybrid_rrf")(spark, dir).collect()
    graft.Caches.release(spark)
    val q0 = rows.filter(_.getAs[Long]("qid") == 0L)
    assert(q0.nonEmpty, "the invalid-vector query must still serve")
    assert(q0.forall(_.isNullAt(q0.head.fieldIndex("sem_rnk"))),
      "a zero-norm query vector cannot produce semantic ranks")
    assert(q0.forall(r => !r.isNullAt(r.fieldIndex("lex_rnk"))),
      "every fused row of a lexical-only query carries a lexical rank")
    // single-list RRF is rank-monotone: the fused order IS the lexical
    // order (lex_rnk reads 1..n down the fused ranking)
    val lexSeq = q0.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("lex_rnk")).toSeq
    assert(lexSeq == (1L to q0.length).toSeq, s"got $lexSeq")
    // the valid-vector query serves BOTH modalities in the same output
    val q5 = rows.filter(_.getAs[Long]("qid") == 5L)
    assert(q5.exists(r => !r.isNullAt(r.fieldIndex("sem_rnk"))),
      "the valid-vector query must carry semantic ranks")
  }

  test("RrfScale is the exact lcm of the attainable rank offsets") {
    // the zero-floor-loss guarantee: SCALE/(K+rank) must be an exact
    // integer for every rank a top-10 list can hold, and SCALE must be
    // the MINIMAL such scale (the lcm) — a larger multiple would still
    // be exact but would shrink int64 headroom for no reason
    val ds = (Similarity.RrfK + 1) to (Similarity.RrfK + Similarity.RrfTopK)
    assert(ds.forall(d => Similarity.RrfScale % d == 0L))
    val lcm = ds.foldLeft(1L)((a, d) => a / BigInt(a).gcd(BigInt(d)).toLong * d)
    assert(Similarity.RrfScale == lcm)
    // the coupling the scale depends on: the fused cut and the input
    // lists' depth share one value — raising either without re-deriving
    // the lcm reintroduces floor loss at the new ranks
    assert(Similarity.RrfTopK == TextAnalysis.Bm25TopK.toLong)
  }

  test("q152 agreement card: intersections are exactly q149's both-modality rows") {
    val dir = "/root/testdata/sf0.001"
    val card = graft.SparkEntry.queries("q152_retrieval_agreement")(spark, dir)
      .collect().map(r => r.getAs[Long]("qid") ->
        ((r.getAs[Long]("n_lex"), r.getAs[Long]("n_sem"),
          r.getAs[Long]("inter"), r.getAs[Long]("uni"),
          r.getAs[Long]("jaccard_pm")))).toMap
    graft.Caches.release(spark)
    val fused = graft.SparkEntry.queries("q149_hybrid_rrf")(spark, dir).collect()
    graft.Caches.release(spark)
    // a doc in both lists always survives the fused cut
    // (2·SCALE/(K+k) > SCALE/(K+1)), so q149's both-rank rows ARE the
    // intersection the card counts
    val bothByQid = fused
      .filter(r => !r.isNullAt(r.fieldIndex("lex_rnk")) &&
        !r.isNullAt(r.fieldIndex("sem_rnk")))
      .groupBy(_.getAs[Long]("qid")).view.mapValues(_.length.toLong).toMap
    card.foreach { case (qid, (nl, ns, inter, uni, jpm)) =>
      assert(inter == bothByQid.getOrElse(qid, 0L),
        s"qid $qid: card inter $inter vs q149 both-rank ${bothByQid.get(qid)}")
      assert(uni == nl + ns - inter)
      assert(jpm == inter * 1000L / uni)
      assert(nl <= 10L && ns <= 10L)
    }
    assert(card.nonEmpty)
  }

  test("q149 fusion: exact integer RRF; a doc ranked by only one modality still surfaces") {
    val dir = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q149_hybrid_rrf")(spark, dir).collect()
    assert(rows.nonEmpty)
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    // every emitted score is EXACTLY the sum of the exact reciprocals
    // of the ranks present — the integer-RRF contract
    rows.foreach { r =>
      val expect =
        opt(r, "lex_rnk").map(k => Similarity.RrfScale / (Similarity.RrfK + k)).getOrElse(0L) +
        opt(r, "sem_rnk").map(k => Similarity.RrfScale / (Similarity.RrfK + k)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_u") == expect, r.toString)
    }
    // the fusion's reason to exist: the two read paths disagree on this
    // corpus, and docs surfaced by ONLY the lexical or ONLY the
    // semantic list must still appear in the fused top-10
    assert(rows.exists(r => opt(r, "lex_rnk").isEmpty), "no sem-only rows")
    assert(rows.exists(r => opt(r, "sem_rnk").isEmpty), "no lex-only rows")
    assert(rows.exists(r => opt(r, "lex_rnk").nonEmpty && opt(r, "sem_rnk").nonEmpty),
      "no both-modality rows on the real corpus")
    // per-query ranks are contiguous from 1 and ordered by (score desc,
    // doc_id) — the deterministic-serve contract
    rows.groupBy(_.getAs[Long]("qid")).values.foreach { qs =>
      val sorted = qs.sortBy(_.getAs[Long]("rnk"))
      assert(sorted.map(_.getAs[Long]("rnk")).toSeq == (1L to qs.length).toSeq)
      val key = sorted.map(r => (-r.getAs[Long]("rrf_u"), r.getAs[Long]("doc_id"))).toSeq
      assert(key == key.sorted, s"fused order must follow (rrf_u desc, doc_id): $key")
    }
    graft.Caches.release(spark)
  }

  /** External-query serve forms (the literal (qid, qtext) road) and the
    * catalog SQL statements must rank IDENTICALLY to the corpus-sampled
    * serves when fed the sampled documents' own texts — one scoring
    * definition, three entry roads (sampled Scala, external Scala,
    * catalog SQL).
    */
  test("external-query and catalog-SQL serve forms match the corpus-sampled serves on the sampled texts") {
    val spark2 = spark
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qtexts = docs
      .join(TextAnalysis.docModQids(spark, dir),
        docs("doc_id") === org.apache.spark.sql.functions.col("qid"))
      .select(org.apache.spark.sql.functions.col("qid"),
        docs("text").as("qtext"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    def entry(q: String) = graft.SparkEntry.queries(q)(spark, dir)
    assert(rows(TextAnalysis.bm25TopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q148_bm25_topk")), "bm25TopDocsFor drifted from q148")
    assert(rows(TextAnalysis.phraseTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q154_phrase_topk")), "phraseTopDocsFor drifted from q154")
    assert(rows(TextAnalysis.phraseTopDocsFor(spark, dir, qtexts, 3)) ==
      rows(entry("q158_phrase3_topk")), "phraseTopDocsFor(3) drifted from q158")
    assert(rows(TextAnalysis.proximityTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q159_proximity_topk")), "proximityTopDocsFor drifted from q159")
    assert(rows(TextAnalysis.phraseSnippetTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q161_phrase_snippets")), "phraseSnippetTopDocsFor drifted from q161")
    assert(rows(Dedup.diverseTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q164_diverse_topk")), "diverseTopDocsFor drifted from q164")
    // catalog SQL road: the published statements over the same queries
    graft.SqlCatalog.register(spark, dir)
    qtexts.createOrReplaceTempView("retrieval_ext_q")
    assert(rows(spark.sql("SELECT * FROM graft_bm25('retrieval_ext_q')")) ==
      rows(entry("q148_bm25_topk")), "graft_bm25 drifted from q148")
    assert(rows(spark.sql("SELECT * FROM graft_phrase('retrieval_ext_q')")) ==
      rows(entry("q154_phrase_topk")), "graft_phrase drifted from q154")
    assert(rows(spark.sql("SELECT * FROM graft_phrase('retrieval_ext_q', 3)")) ==
      rows(entry("q158_phrase3_topk")), "graft_phrase(3) drifted from q158")
    assert(rows(spark.sql("SELECT * FROM graft_proximity('retrieval_ext_q')")) ==
      rows(entry("q159_proximity_topk")), "graft_proximity drifted from q159")
    assert(rows(spark.sql("SELECT * FROM graft_snippet('retrieval_ext_q')")) ==
      rows(entry("q161_phrase_snippets")), "graft_snippet drifted from q161")
    assert(rows(spark.sql("SELECT * FROM graft_diverse('retrieval_ext_q')")) ==
      rows(entry("q164_diverse_topk")), "graft_diverse drifted from q164")
    assert(rows(TextAnalysis.prfTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q178_prf_topk")), "prfTopDocsFor drifted from q178")
    assert(rows(spark.sql("SELECT * FROM graft_prf('retrieval_ext_q')")) ==
      rows(entry("q178_prf_topk")), "graft_prf drifted from q178")
    assert(rows(TextAnalysis.rerankTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q181_feature_rerank")), "rerankTopDocsFor drifted from q181")
    assert(rows(spark.sql("SELECT * FROM graft_rerank('retrieval_ext_q')")) ==
      rows(entry("q181_feature_rerank")), "graft_rerank drifted from q181")
    assert(rows(TextAnalysis.impactTopDocsFor(spark, dir, qtexts)) ==
      rows(entry("q182_impact_bm25_topk")), "impactTopDocsFor drifted from q182")
    assert(rows(spark.sql("SELECT * FROM graft_impact('retrieval_ext_q')")) ==
      rows(entry("q182_impact_bm25_topk")), "graft_impact drifted from q182")
    spark.catalog.clearCache()
  }

  test("q182/q183: forced truncation serves only list heads, the audit reads the overlap, an un-truncated build equals q148") {
    import spark.implicits._
    // ids 1..8 → qmod = max(5, ceil(8/8)) = 5 → the one query is doc 5
    // ("alpha beta"). At impactK=1 each term's list keeps ONE posting —
    // the highest integer tf-normalization, and docs 1/2 (tf=3 at
    // dl=3) beat the query doc itself (tf=1 at dl=2): the approximate
    // page is exactly the two list heads, the self hit is truncated
    // away, and the audit reads 2-of-3 (exact candidates {1,2,5}).
    val data = Seq(
      (1L, "alpha alpha alpha"),
      (2L, "beta beta beta"),
      (3L, "golf hotel india juliet"),
      (4L, "mike november oscar papa"),
      (5L, "alpha beta"),
      (6L, "quebec romeo sierra tango"),
      (7L, "uniform victor whiskey xray"),
      (8L, "yankee zulu lima kilo"))
    def mk(): String = {
      val d = java.nio.file.Files.createTempDirectory("graft-impact").toString
      data.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
      d
    }
    val dTrunc = mk()
    val dFull = mk()
    spark.conf.set(TextAnalysis.ImpactKConf, "1")
    try {
      val page = graft.SparkEntry.queries("q182_impact_bm25_topk")(
        spark, dTrunc).collect()
      assert(page.map(_.getAs[Long]("qid")).toSet == Set(5L))
      assert(page.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L),
        s"K=1 page must be exactly the two list heads, got " +
          page.map(_.getAs[Long]("doc_id")).toSet)
      val audit = graft.SparkEntry.queries("q183_impact_recall_audit")(
        spark, dTrunc).collect()
      assert(audit.length == 1)
      val a0 = audit.head
      assert(a0.getAs[Long]("n_exact") == 3L &&
        a0.getAs[Long]("n_hit") == 2L &&
        a0.getAs[Long]("recall_pm") == 666L, s"audit drifted: $a0")
    } finally spark.conf.unset(TextAnalysis.ImpactKConf)
    // the derived K on the same texts (floor 64 > any df): lists are
    // complete and the approximate serve equals the exact one
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.SparkEntry.queries("q182_impact_bm25_topk")(spark, dFull)) ==
      rows(graft.SparkEntry.queries("q148_bm25_topk")(spark, dFull)),
      "an un-truncated impact serve must equal the exact serve")
    spark.catalog.clearCache()
  }

  test("q193: the card certifies a fresh sidecar; a purge-shrunk stale list re-cuts at the next ensure") {
    import spark.implicits._
    import org.apache.spark.sql.functions.countDistinct
    // the real corpus: a fresh staging is list-for-list the formula's
    // cut, so the card must certify it (the oracle's fresh universe)
    val dir = "/root/testdata/sf0.001"
    val card = graft.SparkEntry.queries("q193_impact_k_card")(spark, dir)
      .collect()
    assert(card.length == 1)
    val c0 = card.head
    assert(c0.getAs[Long]("n_stale") == 0L && c0.getAs[Long]("k_current") == 1L,
      s"a fresh sidecar must read current: $c0")
    assert(c0.getAs[Long]("n_terms") ==
      spark.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.explode(
          graft.functions.TextFunctions.tokens(
            org.apache.spark.sql.functions.col("text"))).as("t"))
        .agg(countDistinct("t")).head.getLong(0),
      "the card must cover the whole vocabulary")
    // the staleness path the card exists for: a TRUNCATED list (df=3,
    // K=2 keeps docs 1 and 5 — doc 3's imp loses to doc 5's shorter
    // dl) shrinks below the cut when a purge erases a member; the
    // re-derived df still reads 2, so a fresh staging would keep 2
    // postings where the rewritten list holds 1 — stale, and ONLY
    // alpha is (beta's post-purge list is its complete postings)
    val d = java.nio.file.Files.createTempDirectory("graft-kdrift").toString
    Seq(
      (1L, "alpha alpha alpha"),
      (2L, "beta beta beta"),
      (3L, "alpha golf hotel india"),
      (5L, "alpha beta"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    spark.conf.set(TextAnalysis.ImpactKConf, "2")
    try {
      val pre = graft.SparkEntry.queries("q193_impact_k_card")(spark, d)
        .collect().head
      assert(pre.getAs[Long]("k_derived") == 2L &&
        pre.getAs[Long]("n_stale") == 0L &&
        pre.getAs[Long]("k_current") == 1L,
        s"pre-purge the conf-cut sidecar is current: $pre")
      graft.StagedTombstones.deleteDocs(spark, d, Seq(5L), "kd1")
      graft.StagedTombstones.purge(spark, d)
      // the raw post-purge state IS stale (read the tables directly —
      // the card's own ensure would repair first): alpha's truncated
      // list shrank to 1 posting where least(df, K) = 2
      val tag = d.replaceAll("[^a-zA-Z0-9]", "_")
      import org.apache.spark.sql.functions.{col, count, least, lit}
      def staleTerms(): Set[String] = spark
        .table(s"graft_lex_impact_$tag").groupBy("term")
        .agg(count(lit(1)).as("len"))
        .join(spark.table(s"graft_lex_df_$tag"), Seq("term"))
        .filter(col("len") < least(col("df"), lit(2L)))
        .select("term").collect().map(_.getString(0)).toSet
      assert(staleTerms() == Set("alpha"),
        s"the purge-shrunk truncated list must BE stale: ${staleTerms()}")
      // the verdict is CONSUMED: the next ensure (inside the card)
      // re-cuts the sidecar, the card flips back to 1, and the
      // repaired table is COLUMN-identical to a fresh staging over the
      // reduced corpus
      val post = graft.SparkEntry.queries("q193_impact_k_card")(spark, d)
        .collect().head
      assert(post.getAs[Long]("n_stale") == 0L &&
        post.getAs[Long]("k_current") == 1L,
        s"the ensure must consume the stale verdict and re-cut: $post")
      assert(staleTerms().isEmpty, "the re-cut left a stale list behind")
      val dFresh = java.nio.file.Files
        .createTempDirectory("graft-kdrift-fresh").toString
      Seq(
        (1L, "alpha alpha alpha"),
        (2L, "beta beta beta"),
        (3L, "alpha golf hotel india"))
        .toDF("doc_id", "text").write.parquet(s"$dFresh/documents.parquet")
      val tagF = dFresh.replaceAll("[^a-zA-Z0-9]", "_")
      graft.SparkEntry.queries("q182_impact_bm25_topk")(spark, dFresh)
        .collect() // stages the fresh family
      def rows(t: String): Set[(String, Long, Long, Long)] = spark.table(t)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(rows(s"graft_lex_impact_$tag") ==
        rows(s"graft_lex_impact_$tagF"),
        "the repaired sidecar must be column-identical to a fresh " +
          "staging over the reduced corpus")
    } finally {
      spark.conf.unset(TextAnalysis.ImpactKConf)
      graft.StagedTombstones.reset(spark, d)
    }
    spark.catalog.clearCache()
  }

  test("q178 PRF: the expansion recalls a document sharing NO surface term with the query") {
    import spark.implicits._
    // ids 1..8 → qmod = max(5, ceil(8/8)) = 5 → the one query is doc 5.
    // Doc 1 bridges: it matches the query AND carries the expansion
    // term; doc 2 is the target — zero query terms, rich in the bridge
    // term. One-shot BM25 cannot reach it; the feedback loop must.
    val d = java.nio.file.Files.createTempDirectory("graft-prf").toString
    Seq(
      (1L, "alpha bravo zulu zulu"),
      (2L, "zulu zulu zulu yankee"),
      (3L, "golf hotel india juliet kilo"),
      (4L, "mike november oscar papa"),
      (5L, "alpha bravo"),
      (6L, "quebec romeo sierra tango"),
      (7L, "uniform victor whiskey xray"),
      (8L, "one two three four five"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    def served(q: String): Seq[Long] =
      graft.SparkEntry.queries(q)(spark, d).collect()
        .sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("doc_id")).toSeq
    val oneShot = served("q148_bm25_topk")
    assert(!oneShot.contains(2L),
      s"fixture broken: one-shot BM25 must miss the no-shared-term doc: $oneShot")
    val prf = served("q178_prf_topk")
    assert(prf.contains(2L),
      s"the expansion must recall the no-shared-term doc: $prf")
    // the original intent still outvotes: a doc matching BOTH original
    // terms (the query's own) ranks above the expansion-only recall —
    // the 2:1 weighting's contract. (The bridge doc may top the page:
    // it genuinely matches all three weighted terms.)
    assert(prf.indexOf(5L) >= 0 && prf.indexOf(5L) < prf.indexOf(2L),
      s"an expansion-only match outranked an original-terms match: $prf")
    spark.catalog.clearCache()
  }

  test("q178 PRF with no new feedback terms ranks exactly like q148") {
    // every feedback doc's vocabulary ⊆ the query's own terms → zero
    // expansion candidates → round 2 is round 1 at weight 2 (identical
    // order, scores exactly doubled)
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-prf0").toString
    Seq(
      (5L, "alpha bravo charlie"),
      (1L, "alpha bravo alpha bravo"),
      (2L, "charlie alpha"),
      (3L, "delta echo foxtrot"),
      (4L, "golf hotel india"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val base = graft.SparkEntry.queries("q148_bm25_topk")(spark, d)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).sorted.toSeq
    val prf = graft.SparkEntry.queries("q178_prf_topk")(spark, d)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score_u"))).sorted.toSeq
    assert(prf == base.map { case (q, r, doc, s0) =>
      (q, r, doc, s0 * TextAnalysis.PrfOrigW) },
      s"no-expansion PRF must be q148 at weight ${TextAnalysis.PrfOrigW}")
    spark.catalog.clearCache()
  }

  test("q179 Rocchio: a valid re-probe for every q122 query, and the feedback provably moves pages") {
    val dir = "/root/testdata/sf0.001"
    def pages(q: String): Map[Long, Seq[Long]] =
      graft.SparkEntry.queries(q)(spark, dir).collect()
        .groupBy(_.getAs[Long]("qid"))
        .map { case (k, rs) =>
          // ranks contiguous from 1 — the deterministic-serve contract
          val sorted = rs.sortBy(_.getAs[Long]("rnk"))
          assert(sorted.map(_.getAs[Long]("rnk")).toSeq ==
            (1L to rs.length).toSeq, s"$q qid $k ranks not contiguous")
          val adcs = sorted.map(_.getAs[Double]("adc")).toSeq
          assert(adcs == adcs.sorted, s"$q qid $k not adc-ascending")
          k -> sorted.map(_.getAs[Long]("vec_id")).toSeq
        }
    val base = pages("q122_ann_serve_batch")
    val roc = pages("q179_rocchio_ann")
    // same query population: round 1 always finds the query itself
    // (self-cosine tops its own cell), so no valid query loses its q'
    assert(roc.keySet == base.keySet,
      "Rocchio must serve exactly the q122 query population")
    // and the feedback is not a no-op: the corpus has near-twin
    // structure, so pulled queries re-rank (52/80 rows at sf0.001)
    assert(roc != base, "the feedback step never moved any page")
    graft.Caches.release(spark)
  }

  test("q181 L2 re-rank: positional boosts reorder bm25 ties, membership never changes") {
    import spark.implicits._
    // docs 1/2/3 are permutations of the same three tokens → identical
    // BM25 stats → q148 ties broken by doc_id (1, 2, 3). The L2 stage
    // must reorder by evidence: 1 has the phrase (adjacent), 2 only the
    // ordered within-window pair, 3 the terms in the WRONG order (no
    // ordered pair at all)
    val d = java.nio.file.Files.createTempDirectory("graft-rerank").toString
    Seq(
      (1L, "alpha bravo kilo"),
      (2L, "alpha kilo bravo"),
      (3L, "bravo kilo alpha"),
      (4L, "golf hotel india juliet"),
      (5L, "alpha bravo"),
      (6L, "mike november oscar papa"),
      (7L, "quebec romeo sierra tango"),
      (8L, "uniform victor whiskey xray"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    val rows = graft.SparkEntry.queries("q181_feature_rerank")(spark, d)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("rnk"), r.getAs[Long]("phrase_tf"),
          r.getAs[Long]("prox_tf"), r.getAs[Long]("final_u"),
          r.getAs[Long]("score_u"))).toMap
    // membership == the q148 page
    val page = graft.SparkEntry.queries("q148_bm25_topk")(spark, d)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(rows.keySet == page, "L2 re-ranking changed page membership")
    val (r1, r2, r3) = (rows(1L), rows(2L), rows(3L))
    assert(r1._5 == r2._5 && r2._5 == r3._5,
      s"fixture broken: the permutations must tie on bm25: $rows")
    assert(r1._2 == 1L && r1._3 >= 1L, s"doc 1 must carry the phrase: $r1")
    assert(r2._2 == 0L && r2._3 == 1L, s"doc 2 must carry only the pair: $r2")
    assert(r3._2 == 0L && r3._3 == 0L, s"doc 3 must carry nothing: $r3")
    assert(r1._4 > r2._4 && r2._4 > r3._4,
      "the boosts must strictly separate phrase > proximity > bag")
    assert(r1._1 < r2._1 && r2._1 < r3._1,
      s"the re-rank must order phrase > proximity > bag: $rows")
    spark.catalog.clearCache()
  }

  test("q180 feedback eval card: one row per family member, the bm25 row IS q163's fold") {
    val dir = "/root/testdata/sf0.001"
    val card = graft.SparkEntry.queries("q180_feedback_eval_card")(spark, dir)
      .collect().map(r => r.getAs[String]("path") -> r).toMap
    assert(card.keySet == Set("bm25", "prf", "rocchio"))
    val q163 = graft.SparkEntry.queries("q163_retrieval_selfcheck")(spark, dir)
      .collect().head
    val b = card("bm25")
    assert(b.getAs[Long]("n_queries") == q163.getAs[Long]("n_queries") &&
      b.getAs[Long]("n_self_top1") == q163.getAs[Long]("n_self_top1") &&
      b.getAs[Long]("self_top1_pm") == q163.getAs[Long]("self_top1_pm"),
      "the card's bm25 row drifted from q163's shared fold")
    graft.Caches.release(spark)
  }

  test("catalog adcSql: the pure-SQL ADC serve matches q122 on the sampled query vectors") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    graft.SqlCatalog.register(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qmod = math.max(5L, (emb.count() + 7) / 8)
    emb.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .createOrReplaceTempView("retrieval_adc_q")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(spark.sql("SELECT * FROM graft_adc('retrieval_adc_q')")) ==
      rows(graft.SparkEntry.queries("q122_ann_serve_batch")(spark, dir)),
      "graft_adc drifted from the q122 serve")
    spark.catalog.clearCache()
  }

  test("catalog adcSql: a NaN-element query vector serves nothing (the driver road's IEEE semantics)") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    graft.SqlCatalog.register(spark, dir)
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    // qid 7001: a 64-dim vector with one NaN element — vec_dot(v, v) is
    // NaN, which SQL's NaN-greatest order ranks ABOVE 0, so without the
    // explicit isnan guard the statement would serve NaN-scored rows
    // while collectQueryVecs' driver-side `dot > 0` serves nothing.
    // qid 7000: a valid corpus vector, proving the guard drops ONLY the
    // degenerate query.
    val valid = emb.orderBy("vec_id").limit(1)
      .select(lit(7000L).as("qid"),
        col("embedding").cast("array<double>").as("qvec"))
    val poisoned = valid.select(lit(7001L).as("qid"),
      transform(col("qvec"),
        (x, i) => when(i === 0, lit(Double.NaN)).otherwise(x)).as("qvec"))
    valid.unionByName(poisoned).createOrReplaceTempView("retrieval_nan_q")
    val served = spark.sql("SELECT * FROM graft_adc('retrieval_nan_q')")
      .select("qid").collect().map(_.getLong(0)).toSet
    assert(served == Set(7000L),
      s"the NaN query must serve nothing, the valid one must serve: $served")
    // the Scala road agrees: the guarded collect drops the NaN vector
    val qrows = Similarity.collectQueryVecs(
      spark.table("retrieval_nan_q"))
    assert(qrows.map(_._1).toSeq == Seq(7000L),
      "driver-road guards must drop exactly the NaN query")
    spark.catalog.clearCache()
  }

  test("hybridTopDocsFor: the external (qtext, qvec) road matches q149 on the sampled pairs") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    val qmod = math.max(5L, (n + 7) / 8)
    // the sampled queries' own (text, embedding) pairs — qids lacking a
    // document row carry a null qtext (they serve semantically only,
    // exactly q149's inner-join drop on the lexical side)
    val queries = emb.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")),
        col("qid") === col("doc_id"), "left")
      .select(col("qid"), col("text").as("qtext"), col("qvec"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val truth = rows(graft.SparkEntry.queries("q149_hybrid_rrf")(spark, dir))
    assert(rows(Similarity.hybridTopDocsFor(spark, dir, queries)) == truth,
      "hybridTopDocsFor drifted from q149")
    // the third road: the whole fused serve as ONE catalog SQL text
    graft.SqlCatalog.register(spark, dir)
    queries.createOrReplaceTempView("retrieval_hybrid_q")
    assert(rows(spark.sql("SELECT * FROM graft_hybrid('retrieval_hybrid_q')"))
      == truth, "graft_hybrid drifted from q149")
    spark.catalog.clearCache()
  }

  test("q187: the appended index serves exactly like the fresh full staging, physically incrementally, idempotently") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val appended = rows(graft.SparkEntry.queries("q187_lex_append_topk")(
      spark, dir))
    assert(appended == rows(graft.SparkEntry.queries("q148_bm25_topk")(
      spark, dir)), "the appended index must serve exactly like q148")
    // the approximate layer: the bounded re-cut must reproduce the
    // fresh sidecar's serve exactly — and the real corpus exercises
    // the subtle path (the derived K GROWS with the append, 336→368
    // here, so the truncated stopword lists re-cut under the union
    // scalars while untouched complete lists pass through)
    assert(rows(graft.SparkEntry.queries("q188_impact_append_topk")(
      spark, dir)) ==
      rows(graft.SparkEntry.queries("q182_impact_bm25_topk")(spark, dir)),
      "the appended impact sidecar must serve exactly like q182")
    // COLUMN identity, not just serve identity: the append re-derives
    // kept rows' stored `imp` under the union scalar, so the appended
    // table is row-for-row the fresh staging (same corpus, same derived
    // K, same a) — a consumer reading `imp` directly cannot drift
    val itag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    assert(rows(spark.table(s"graft_lexapp_impact_$itag")) ==
      rows(spark.table(s"graft_lex_impact_$itag")),
      "appended impact rows must be column-identical to the fresh staging")
    // the positional layer: pure accretion
    assert(rows(graft.SparkEntry.queries("q189_pos_append_topk")(
      spark, dir)) ==
      rows(graft.SparkEntry.queries("q154_phrase_topk")(spark, dir)),
      "the appended positional index must serve exactly like q154")
    // physical-append pin: stage writes exactly ONE file per bucket,
    // the delta append adds at most one more per touched bucket — a
    // file count strictly between nb and 2·nb proves the old shard's
    // files survived and the delta landed BESIDE them (a silent full
    // re-stage would read exactly nb again); row count equals the
    // fresh postings table's (the additive identity, physically)
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val postT = s"graft_lexapp_postings_$tag"
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(postT))
    val nb = meta.bucketSpec.get.numBuckets
    def files(): Int = {
      val p = java.nio.file.Paths.get(new java.net.URI(meta.location.toString))
      val st = java.nio.file.Files.list(p)
      try st.filter(_.toString.endsWith(".parquet")).count().toInt
      finally st.close()
    }
    val nf = files()
    assert(nf > nb && nf <= 2 * nb,
      s"append must add files beside the staged ones: $nf files, $nb buckets")
    assert(spark.table(postT).count() ==
      spark.table(s"graft_lex_postings_$tag").count(),
      "appended postings must hold exactly the fresh staging's rows")
    // idempotent re-entry: the done marker makes a second consumer a
    // pure read — same rows, same files, no double append
    assert(rows(graft.SparkEntry.queries("q187_lex_append_topk")(
      spark, dir)) == appended, "re-entry must serve identically")
    assert(files() == nf, "re-entry must not append again")
    spark.catalog.clearCache()
  }

  test("q190: the appended vector index serves exactly like the fresh staging, physically incrementally, idempotently") {
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val appended = rows(graft.SparkEntry.queries("q190_vec_append_serve")(
      spark, dir))
    assert(appended == rows(graft.SparkEntry.queries("q122_ann_serve_batch")(
      spark, dir)),
      "the appended code table must serve exactly like q122")
    // physical-append pin (the q187 discipline): stage writes one file
    // per bucket, the delta encode adds at most one more per touched
    // cell bucket — and the appended rows must equal the fresh index's
    val tag = dir.replaceAll("[^a-zA-Z0-9]", "_")
    val idxT = s"graft_ivfapp_$tag"
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(idxT))
    val nb = meta.bucketSpec.get.numBuckets
    def files(): Int = {
      val p = java.nio.file.Paths.get(new java.net.URI(meta.location.toString))
      val st = java.nio.file.Files.list(p)
      try st.filter(_.toString.endsWith(".parquet")).count().toInt
      finally st.close()
    }
    val nf = files()
    assert(nf > nb && nf <= 2 * nb,
      s"append must add files beside the staged ones: $nf files, $nb buckets")
    assert(spark.table(idxT).count() ==
      spark.table(s"graft_q91_ivfpq_$tag").count(),
      "appended codes must hold exactly the fresh staging's rows")
    assert(rows(graft.SparkEntry.queries("q190_vec_append_serve")(
      spark, dir)) == appended, "re-entry must serve identically")
    assert(files() == nf, "re-entry must not append again")
    spark.catalog.clearCache()
  }

  test("q185: external and catalog roads match the registered serve on the real corpus") {
    import org.apache.spark.sql.functions._
    // the real corpus's derived K TRUNCATES its stopword lists (that is
    // the point of the sidecar — q183/q186 measure it), so this test
    // pins the three-road identity AT that truncation; the ≡q149
    // identity is pinned on the un-truncated fixture below
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val truth = rows(graft.SparkEntry.queries("q185_bounded_hybrid")(
      spark, dir))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val qmod = math.max(5L, (emb.count() + 7) / 8)
    val queries = emb.filter(col("vec_id") % qmod === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      .join(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")),
        col("qid") === col("doc_id"), "left")
      .select(col("qid"), col("text").as("qtext"), col("qvec"))
    assert(rows(Similarity.boundedHybridTopDocsFor(spark, dir, queries))
      == truth, "boundedHybridTopDocsFor drifted from q185")
    graft.SqlCatalog.register(spark, dir)
    queries.createOrReplaceTempView("retrieval_bhybrid_q")
    assert(rows(spark.sql(
        "SELECT * FROM graft_bounded_hybrid('retrieval_bhybrid_q')"))
      == truth, "graft_bounded_hybrid drifted from q185")
    spark.catalog.clearCache()
  }

  test("q185: under forced truncation the semantic leg backfills a lexically-truncated hit") {
    import spark.implicits._
    // 10 docs → qmod 5 → qids {0, 5}. Query doc 5 is "alpha beta";
    // docs 1/2 are the K=1 list heads (tf=3 at dl=3 beats everything);
    // doc 7 matches BOTH query terms (a top exact-BM25 hit) but is the
    // head of neither list, so K=1 truncates it from the lexical leg —
    // and its embedding is IDENTICAL to the query's, so the fused page
    // must recover it through the semantic leg: lex_rnk null, sem_rnk
    // set. That re-entry is exactly why q186 audits the FUSED page
    // rather than re-using q183's per-leg read.
    val texts = Seq(
      0L -> "golf hotel india juliet",
      1L -> "alpha alpha alpha",
      2L -> "beta beta beta",
      3L -> "mike november oscar papa",
      4L -> "quebec romeo sierra tango",
      5L -> "alpha beta",
      6L -> "uniform victor whiskey xray",
      7L -> "alpha beta filler filler",
      8L -> "yankee zulu lima kilo",
      9L -> "echo foxtrot delta charlie")
    val d = java.nio.file.Files.createTempDirectory("graft-bhyb").toString
    texts.toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    (0L until 10L).map { i =>
      val src = if (i == 7L) 5L else i
      val v = (1 to 64).map(j =>
        java.lang.Float.valueOf(math.sin(src * 64 + j).toFloat))
      (i, v, i.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$d/embeddings.parquet")
    spark.conf.set(TextAnalysis.ImpactKConf, "1")
    try {
      val fused = graft.SparkEntry.queries("q185_bounded_hybrid")(spark, d)
        .collect().filter(_.getAs[Long]("qid") == 5L)
      val d7 = fused.filter(_.getAs[Long]("doc_id") == 7L)
      assert(d7.length == 1, "doc 7 must re-enter the fused page")
      assert(d7.head.isNullAt(d7.head.fieldIndex("lex_rnk")),
        "K=1 must truncate doc 7 from the lexical leg")
      assert(!d7.head.isNullAt(d7.head.fieldIndex("sem_rnk")),
        "doc 7 must surface through the semantic leg")
      // the audit's folds agree with a hand intersection of the pages
      val exRows = graft.SparkEntry.queries("q149_hybrid_rrf")(spark, d)
        .collect().filter(_.getAs[Long]("qid") == 5L)
      val ex = exRows.map(_.getAs[Long]("doc_id")).toSet
      val exD7 = exRows.filter(_.getAs[Long]("doc_id") == 7L)
      assert(exD7.nonEmpty &&
        !exD7.head.isNullAt(exD7.head.fieldIndex("lex_rnk")),
        "the exact hybrid must rank doc 7 lexically")
      val ap = fused.map(_.getAs[Long]("doc_id")).toSet
      val audit = graft.SparkEntry.queries("q186_bounded_hybrid_recall")(
        spark, d).collect().filter(_.getAs[Long]("qid") == 5L).head
      assert(audit.getAs[Long]("n_exact") == ex.size.toLong &&
        audit.getAs[Long]("n_hit") == ex.intersect(ap).size.toLong,
        s"audit drifted: $audit vs exact=$ex approx=$ap")
    } finally spark.conf.unset(TextAnalysis.ImpactKConf)
    // the same corpus under the DERIVED K (floor 64 > every df at 10
    // docs): complete lists, so the bounded fusion must equal q149
    // exactly and the audit reads 1000 — the approximation composes,
    // it doesn't re-rank
    val dFull = java.nio.file.Files.createTempDirectory("graft-bhyb2")
      .toString
    texts.toDF("doc_id", "text").write.parquet(s"$dFull/documents.parquet")
    (0L until 10L).map { i =>
      val src = if (i == 7L) 5L else i
      val v = (1 to 64).map(j =>
        java.lang.Float.valueOf(math.sin(src * 64 + j).toFloat))
      (i, v, i.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dFull/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.SparkEntry.queries("q185_bounded_hybrid")(spark, dFull))
      == rows(graft.SparkEntry.queries("q149_hybrid_rrf")(spark, dFull)),
      "un-truncated q185 must equal q149")
    val full = graft.SparkEntry.queries("q186_bounded_hybrid_recall")(
      spark, dFull).collect()
    assert(full.nonEmpty && full.forall(_.getAs[Long]("recall_pm") == 1000L),
      "un-truncated fused recall must read 1000 everywhere")
    spark.catalog.clearCache()
  }
}
