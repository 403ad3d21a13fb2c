package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators over `documents` (the training-data
  * pipeline surface), each DuckDB-oracle-mirrored.
  *
  * Scale notes: everything here is per-row (embarrassingly parallel, no
  * shuffle) except q21 (hash groupBy — one shuffle on the hash key) and
  * q22 (candidate generation by shared rare n-gram — the join key is the
  * n-gram, so work is proportional to true collisions, not |docs|²; at
  * 100 TB the same plan holds with the n-gram length tuned up so bucket
  * sizes stay bounded).
  */
object TextAnalysis {

  /** LSH hygiene cap (q22): a candidate key shared by more than this many
    * docs is a skewed quadratic bucket (a stopword-like 6-gram contributes
    * O(n²) candidate pairs while discriminating nothing), so such keys are
    * dropped before the self-join. Standard banding practice; the DuckDB
    * oracle applies the identical cap.
    */
  val MaxBucketDocs = 50

  /** q125's containment admission: a directed pair is flagged when ≥
    * this per-mille of the inner doc's distinct 3-grams appear in the
    * outer doc — the standard 0.8 sub-document duplication bar.
    */
  val ContainPm = 800L

  /** q99 winnowing window: each run of this many consecutive shingle
    * hashes contributes its minimum to the document fingerprint
    * (Schleimer/Wilkerson/Aiken's winnowing guarantee: any shared
    * substring of ≥ window+shingle−1 chars yields a shared fingerprint).
    */
  private[queries] val WinnowWindow = 4

  /** q106's target source for importance weighting — the distribution
    * documents are scored AGAINST (a real pipeline points this at its
    * high-quality target domain; any source value works, the operator
    * is target-agnostic).
    */
  private[queries] val DsirTarget = "src0"

  /** q66 sample bound: the quantile sketch's admission modulus derives
    * from `count(*)` so the sample holds ~this many rows at ANY corpus
    * (exactly [[graft.queries.Similarity]]'s SampleCap discipline).
    */
  private[queries] val QSketchCap = 500L

  /** q148/q149: per-query term cap of the lexical (BM25) read path — a
    * query's distinct terms are cut to this many by (query-tf DESC,
    * term ASC) before any corpus-sized work, so the candidate fan-out
    * and the fixed-point score sum are bounded per query at ANY corpus
    * (and the kernel's int64 headroom proof holds — see
    * [[graft.functions.TextFunctions.idfM]]: ≤ cap terms × the
    * per-term score bound).
    */
  private[graft] val Bm25QTermCap = 16

  /** q148/q149: documents returned per query by the lexical serve. */
  private[graft] val Bm25TopK = 10

  /** q158's quoted-phrase length (q154 is the k = 2 member). */
  private[queries] val PhraseK = 3

  /** q178 (pseudo-relevance-feedback expansion): how many round-1 hits
    * feed back, the per-query candidate cap that bounds the driver's
    * term read (the Bm25QTermCap discipline for the feedback side), how
    * many expansion terms join the query, and the integer weights that
    * keep the original intent dominant (2:1 — the expansion can bring
    * NEW documents in but cannot outvote two original-term matches).
    */
  /** q181 (L2 feature re-rank): multiplicative per-mille boosts for the
    * positional features, and the per-feature occurrence cap that keeps
    * a pathological repeat from owning the boost. Per-mille OF THE BM25
    * SCORE, so the weights are scale-free (an absolute boost constant
    * would be wrong at every other corpus size); max combined boost
    * (50·8 + 20·8)/1000 = 56% keeps int64 headroom at the 100 TB score
    * bound (1.56 × 5·10¹⁶ ≪ 2⁶³).
    */
  private[graft] val RerankPhraseBoostPm = 50L
  private[graft] val RerankProxBoostPm = 20L
  private[graft] val RerankFeatCap = 8L

  /** Floor of the per-term impact-list depth for the approximate BM25
    * serve (q182) — see [[impactKFor]] for the corpus-adaptive
    * derivation.
    */
  private[graft] val ImpactKFloor = 64L

  /** Session-conf override of the impact-list depth (specs set a tiny
    * K to force truncation on fixture corpora; unset = derived).
    */
  private[graft] val ImpactKConf = "graft.lex.impactK"

  /** Per-term impact-list depth: max([[ImpactKFloor]], 16·⌈√n_docs⌉) —
    * the IVF ~√n discipline applied to list depth. Sub-linear in the
    * corpus, so the serve's candidate fetch (K·|query terms| rows) stays
    * latency-bounded where one corpus-scale-df term makes the exact
    * q148 fetch corpus-sized (the q160 max-df envelope's warning case):
    * at 10¹⁰ documents a pathological term's list is ~1.6·10⁶ rows —
    * four orders of magnitude under its postings. The factor is
    * MEASURED, not guessed (sf0.01, 500 docs, stopword-heavy query
    * terms with df up to 0.8·n — the hardest shape for truncation,
    * since every pruned common-term posting silently removes a real
    * score contribution): 8·√n read recall@10 = 350 pm, 16·√n = 675 pm,
    * 32·√n = lossless only because the lists then exceed the corpus.
    * 16 keeps honest drift visible at test scale (q183 publishes it as
    * data, the q95 stance) while the 100 TB read bound is what the
    * sidecar exists for. IEEE sqrt is correctly rounded, so the SQL
    * oracle's identical formula derives the identical K.
    */
  private[graft] def impactKFor(s: SparkSession, dir: String): Long =
    impactKOf(s, Tables.rowCount(s, dir, "documents"))

  /** The impact-list depth for an explicit document count — factored so
    * the appended demo family derives its old-shard K from the shard's
    * own count (the honest pre-growth parameter the append then
    * extends). The conf override applies to both, so the forced-K
    * fixtures exercise either family.
    */
  private[graft] def impactKOf(s: SparkSession, nDocs: Long): Long =
    s.conf.getOption(ImpactKConf).map(_.toLong).getOrElse(
      math.max(ImpactKFloor,
        16L * math.ceil(math.sqrt(nDocs.toDouble)).toLong))

  private[graft] val PrfFbDocs = 3
  private[graft] val PrfCandCap = 32
  private[graft] val PrfExpTerms = 2
  private[graft] val PrfOrigW = 2L
  private[graft] val PrfExpW = 1L

  /** The corpus-adaptive document-modulus query sample shared by every
    * lexical serve (q148/q154/q158/q159): ~8 query documents at any
    * scale (the q95/q122 sampling discipline), mirrored in SQL by
    * [[sqlDocModQs]].
    */
  /** The known-item self-check fold over any ranked serve (qid, rnk,
    * <idCol>, …): of the queries that served at all, the per-mille
    * share retrieving THEMSELVES at rank 1 — ONE definition shared by
    * q163 (the lexical card) and the per-path serve-eval card (q167 in
    * [[Similarity]]), so the eval arithmetic cannot drift across paths.
    */
  private[queries] def selfCheckFold(serve: DataFrame,
      idCol: String): DataFrame =
    serve.agg(count_distinct(col("qid")).as("n_queries"),
        coalesce(sum(when(col("rnk") === 1 &&
            col(idCol) === col("qid"), 1L)), lit(0L)).as("n_self_top1"))
      .select(col("n_queries"), col("n_self_top1"),
        when(col("n_queries") >= 1,
          expr("(n_self_top1 * 1000) div n_queries")).as("self_top1_pm"))

  /** Builds (once per session+dir) the staged PRODUCTION QUERY SAMPLE —
    * one tiny `(side, qid, qtext, qvec)` table holding the doc-side
    * sample (the corpus-adaptive residue-0 modulus every lexical serve
    * and eval card queries with) and the vec-side sample (the same
    * modulus on the embeddings — the batched ANN serves' and hybrid
    * legs' qids + query vectors). Before this table, EVERY serve and
    * eval card re-derived its sample from the raw corpus (two counts,
    * a documents/embeddings scan, a driver collect — ~25 call sites per
    * correctness pass); now the derivation runs once and every consumer
    * reads ≤ ~16 rows. The rows are BY CONSTRUCTION the derivations'
    * own output, so every oracle stays byte-identical. Purge posture:
    * the sample is CALLER-side query material, not index content (the
    * q172 stance: a deleted query document still queries — the
    * takedown removes it from the INDEX, not from the caller's hands),
    * so it derives from the raw corpus exactly as the per-call
    * derivations always did; a physical purge still DROPS the staged
    * copy with the demo family ([[dropAppendedLex]]) — the engine
    * retains no erased text — and the next ensure is the caller
    * re-sending its queries.
    */
  private[queries] def ensureQuerySample(s: SparkSession,
      dir: String): String = {
    val t = graft.Staged.name("qsample", dir)
    graft.Staged.ensure(s, t) {
      // a side whose table the corpus dir does not carry (a
      // documents-only or embeddings-only fixture) is the defined
      // empty sample, not a read error
      val empty = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "side STRING, qid BIGINT, qtext STRING, qvec ARRAY<FLOAT>"))
      val doc =
        try {
          val docs = Tables(s, dir, "documents")
          val nd = docs.count()
          val dmod = math.max(5L, (nd + 7) / 8)
          docs.filter(col("doc_id") % dmod === 0)
            .select(lit("doc").as("side"), col("doc_id").as("qid"),
              col("text").as("qtext"),
              lit(null).cast("array<float>").as("qvec"))
        } catch {
          // narrowed (r21): only "the corpus dir carries no such
          // table" reads as the defined empty sample — a malformed
          // read surfaces
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" ||
                e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
        }
      val vec =
        try {
          val embs = Tables(s, dir, "embeddings")
          val ne = embs.count()
          val vmod = math.max(5L, (ne + 7) / 8)
          embs.filter(col("vec_id") % vmod === 0)
            .select(lit("vec").as("side"), col("vec_id").as("qid"),
              lit(null).cast("string").as("qtext"),
              col("embedding").cast("array<float>").as("qvec"))
        } catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" ||
                e.getCondition == "UNABLE_TO_INFER_SCHEMA" => empty
        }
      doc.unionByName(vec).coalesce(1).write.saveAsTable(t)
    }
    t
  }

  private[queries] def docModQids(s: SparkSession, dir: String): DataFrame =
    s.table(ensureQuerySample(s, dir))
      .filter(col("side") === "doc").select(col("qid"))

  /** q87: how many byte-pair-encoding merge rounds to induce. Three keeps
    * the unrolled oracle CTE chain readable; the operator is
    * round-agnostic (production BPE runs tens of thousands — each round
    * is the same bounded-driver-read job, and [[bpeTrain]]'s checkpoint
    * cadence bounds plan lineage at any round count).
    */
  private[queries] val BpeRounds = 3

  /** The per-symbol delimiter of the BPE representation: every symbol is
    * individually enclosed (<D>a<D><D>b<D>), so one plain single-pass
    * `replace` of <D>a<D><D>b<D> with <D>ab<D> IS the greedy
    * non-overlapping merge on both engines (see the q87 entry).
    */
  private[queries] val BpeD = "\u0001"

  /** Checkpoint cadence of [[bpeTrain]]: every this many merge rounds the
    * vocabulary representation is localCheckpoint'd and the previous
    * checkpoint's blocks freed — the chained-replace lineage otherwise
    * grows one Project per round, which at production round counts (10⁴)
    * overwhelms the analyzer long before the (bounded) vocabulary data
    * costs anything. Plan depth is then ≤ the cadence at ANY round
    * count; BpeSpec pins a 64-round run.
    */
  private[queries] val BpeCheckpointEvery = 8

  /** The (word, n, s) BPE vocabulary relation: corpus word frequencies
    * with each word's [[BpeD]]-delimited symbol string. BPE trains on
    * word FREQUENCIES, so the corpus collapses to this ONE vocabulary
    * shuffle up front; persisted because every training round re-reads
    * it. Caller releases via the [[graft.Caches]] contract.
    */
  private def bpeVocab(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .withColumn("s", regexp_replace(col("word"), "(.)", s"$BpeD$$1$BpeD"))
      .persist()

  /** Vocabulary bound under which [[bpeTrain]] runs its merge loop
    * driver-side: one Spark job per merge round is the correct shape
    * when the VOCABULARY is big, but a production tokenizer runs ~32k
    * merge rounds — 32k sequential job launches over a relation that is
    * usually ≤ a few hundred thousand rows. The `Dedup.propagateMin`
    * escape hatch applies: PROVE the bound with one count, then collect
    * the (word, n, s) rows once and run the identical greedy loop in
    * plain Scala — zero jobs per round, byte-identical merges (the
    * comparator below mirrors Spark's UTF8String byte order). Above the
    * cap the distributed per-round argmax path runs unchanged.
    */
  private[graft] val BpeDriverVocabCap = 65536L

  /** UTF-8 byte-order string comparison — Spark's `asc` on StringType
    * orders UTF8String bytes unsigned (= code-point order), which
    * differs from java.lang.String's UTF-16 comparison for
    * supplementary characters; the driver-side argmax must tie-break
    * EXACTLY like the distributed `orderBy(asc("a"), asc("b"))`.
    */
  private def utf8Cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** The BPE training loop over a [[bpeVocab]]-shaped (word, n, s)
    * relation: each round finds the most frequent adjacent symbol pair
    * (weighted by word frequency, ties to the lexicographically first
    * pair) and merges it greedily left-to-right in every word. Below
    * [[BpeDriverVocabCap]] (proven by one count) the loop runs
    * driver-side over the collected vocabulary — zero jobs per round,
    * the shape that makes 32k-merge production vocabularies feasible;
    * above it, each round is a narrow re-split + a map-side-combined
    * SUM + a TakeOrdered(1) argmax — the driver reads exactly one row
    * per round (the q58 bounded-read discipline). Both paths produce
    * identical merge tables and representations (BpeSpec pins the
    * equality). Returns the merge table and the final representation
    * with every learned merge applied — the trained ENCODER (q90
    * counts its symbols per word).
    */
  private[graft] def bpeTrain(vocab: DataFrame, rounds: Int,
      driverVocabCap: Long = BpeDriverVocabCap)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val D = BpeD
    if (vocab.count() <= driverVocabCap)
      return bpeTrainDriver(vocab, rounds)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var rep: DataFrame = vocab.select(col("word"), col("n"), col("s"))
    var prevIds: Set[Int] = Set.empty
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val sy = filter(split(col("s"), D), x => x =!= "")
      val top = rep
        .select(col("n"), sy.as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("n"),
          explode(transform(sequence(lit(1), size(col("sy")) - 1),
            i => struct(element_at(col("sy"), i).as("a"),
              element_at(col("sy"), i + lit(1)).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect() // ONE bounded driver row per round
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r.toLong, a, b, cnt))
        // lit()-bound literals — symbols come from corpus text and
        // never pass through a SQL parser
        rep = rep.withColumn("s", call_function("replace", col("s"),
          lit(D + a + D + D + b + D), lit(D + a + b + D)))
        if (r % BpeCheckpointEvery == 0) {
          // bound the replace-chain lineage: eager-checkpoint the
          // (vocabulary-bounded) representation, then free the PREVIOUS
          // checkpoint's blocks once the new one is materialized — the
          // Dedup round discipline. The final checkpoint's blocks are
          // released by the consumer's Caches.release hook.
          val sc = rep.sparkSession.sparkContext
          val before = sc.getPersistentRDDs.keySet.toSet
          rep = rep.localCheckpoint()
          val added = sc.getPersistentRDDs.keySet.toSet -- before
          prevIds.foreach(id =>
            sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
          prevIds = added
        }
        r += 1
      }
    }
    (merges.result(), rep)
  }

  /** [[bpeTrain]]'s driver-side fast path: the SAME greedy algorithm
    * over the collected (word, n, s) vocabulary — per round one
    * adjacent-pair count (frequency-weighted), one (cnt DESC, a, b)
    * argmax under the UTF-8 byte comparator, one left-to-right
    * non-overlapping literal replace (java.lang.String.replace — the
    * same single-pass semantics as the engines' `replace`). Exactly
    * TWO Spark actions total (the caller's proof count + this collect)
    * at ANY round count — the job-per-round tax the distributed path
    * pays is what this exists to remove; BpeSpec bounds the job count
    * at ≥1024 rounds and pins merge-table equality against the
    * distributed trainer.
    */
  private def bpeTrainDriver(vocab: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    val D = BpeD
    var cur: Array[(String, Long, String)] =
      vocab.select(col("word"), col("n"), col("s")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val counts = new java.util.HashMap[(String, String), java.lang.Long]
      cur.foreach { case (_, n, s) =>
        val sy = s.split(D).filter(_.nonEmpty)
        var i = 0
        while (i < sy.length - 1) {
          counts.merge((sy(i), sy(i + 1)), java.lang.Long.valueOf(n),
            (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        import scala.jdk.CollectionConverters._
        // total order ⇒ the HashMap's nondeterministic iteration order
        // cannot reach the result
        val best = counts.entrySet.asScala.reduceLeft { (x, y) =>
          val c = java.lang.Long.compare(y.getValue, x.getValue)
          val better =
            if (c != 0) c > 0
            else {
              val ca = utf8Cmp(y.getKey._1, x.getKey._1)
              if (ca != 0) ca < 0 else utf8Cmp(y.getKey._2, x.getKey._2) < 0
            }
          if (better) y else x
        }
        val (a, b) = best.getKey
        merges += ((r.toLong, a, b, best.getValue.longValue))
        val find = D + a + D + D + b + D
        val repl = D + a + b + D
        cur = cur.map { case (w, n, s) => (w, n, s.replace(find, repl)) }
        r += 1
      }
    }
    val sess = vocab.sparkSession
    import sess.implicits._
    (merges.result(), cur.toSeq.toDF("word", "n", "s"))
  }

  /** Per-word trained-token count under a FROZEN merge table — the
    * encode expression behind the streaming dual of q90
    * ([[graft.streaming.DocStream.bpeEncoded]]). Applying the merges in
    * round order to a word's original symbol string replays exactly the
    * replace sequence [[bpeTrain]] applied incrementally (round r's
    * replace sees merges 1..r−1 already applied in both formulations),
    * so the count equals the batch encoder's for every word.
    */
  private[graft] def bpeTokenCount(word: Column,
      merges: Seq[(String, String)]): Column = {
    val sym0 = regexp_replace(word, "(.)", s"$BpeD$$1$BpeD")
    val merged = merges.foldLeft(sym0) { case (c, (a, b)) =>
      call_function("replace", c,
        lit(BpeD + a + BpeD + BpeD + b + BpeD), lit(BpeD + a + b + BpeD))
    }
    size(filter(split(merged, BpeD), x => x =!= "")).cast("long")
  }

  /** Per-doc counts under a frozen merge table, stateless and narrow —
    * the q90 output schema without the corpus join (each word occurrence
    * pays the replace chain here; the vocabulary-side amortization is a
    * batch luxury a stateless stream map does not have). The coalesce
    * mirrors q90's left-join re-admission of null-text docs as 0/0.
    */
  private[graft] def bpeEncodedCounts(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        coalesce(size(col("tk")).cast("long"), lit(0L)).as("n_words"),
        coalesce(aggregate(col("tk"), lit(0L),
          (acc, w) => acc + bpeTokenCount(w, merges)), lit(0L))
          .as("n_bpe_tokens"))

  /** The q126 per-mille Column over exact (n_words, n_bpe_tokens) long
    * sums — ONE definition shared by the batch card and the streaming
    * register read-out ([[graft.streaming.DocStream.fertilityRegisters]]),
    * so the two paths cannot disagree on the ratio's arithmetic.
    */
  private[graft] val fertilityPm: Column =
    expr("CAST((n_bpe_tokens * 1000) div n_words AS BIGINT)")

  /** q74 retrieval-chunk window (tokens) and stride: 32-token windows
    * every 24 tokens — 8 tokens of overlap so no boundary sentence is
    * lost to a cut, the standard RAG chunking shape. Starts are the
    * multiples of the stride below the doc length, so every token is
    * covered and the tail window may run short.
    */
  private[queries] val ChunkWin = 32
  private[queries] val ChunkStride = 24

  /** The q74 window arithmetic over a MATERIALIZED (doc_id, tk, n)
    * relation — shared with the streaming dual
    * ([[graft.streaming.DocStream.processChunkBatch]]) so batch and
    * stream cannot drift on starts, tail handling, or the chunk hash.
    * The caller owns materialization (persist / pinned checkpoint):
    * un-materialized, CollapseProject folds the tokenizer into the
    * Generate and re-runs the regex split per emitted chunk (the
    * q71/q22 trap).
    */
  private[graft] def chunkRows(tokRel: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tokRel.select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0L), col("n") - lit(1L),
          lit(ChunkStride.toLong))).as("start"))
      .select(col("doc_id"),
        expr(s"start div $ChunkStride").as("chunk_idx"),
        col("start"),
        least(lit(ChunkWin.toLong), col("n") - col("start")).as("chunk_len"),
        sha2(concat_ws(" ",
          slice(col("tk"), (col("start") + lit(1L)).cast("int"),
            lit(ChunkWin))), 256).as("chunk_hash"))

  /** q66's admission + sampled length histogram — ONE definition of the
    * hash seed and the grouping, shared with the streaming dual
    * ([[graft.streaming.DocStream.quantileSketch]]) so the two paths
    * cannot drift. Admission is key-pure (a document's membership never
    * depends on arrival order or corpus state); the histogram is
    * map-side combined, and its size is bounded by |langs| × distinct
    * lengths — the VALUE space, not the sample or corpus size.
    */
  private[graft] def sampledLengthHist(docs: DataFrame, mod: Long): DataFrame =
    docs.filter(portableHash60(col("doc_id").cast("string"), 7) % mod === 0)
      .groupBy(col("lang"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))

  /** q100's corpus-facing stage — the (source, tok, cs) occurrence-count
    * relation, ONE definition shared by the batch drift report and the
    * streaming dual ([[graft.streaming.DocStream.sourceTokenCounts]]).
    * Counts are ADDITIVE, so the identical aggregation runs stateful
    * over an unbounded stream (update mode) with state bounded by
    * |sources| × vocabulary — the VALUE space (Heaps-law growth), not
    * the corpus; the drift report is then [[driftFromCounts]] as a tiny
    * batch step over the emitted table, exactly the q53/q66/q86
    * sketch-on-stream split.
    */
  private[graft] def sourceTokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))

  /** The drift report over a [[sourceTokenCounts]]-shaped relation —
    * everything here is vocabulary-sized: corpus counts are the
    * per-source counts summed over sources, totals fold out of the
    * aggregates as broadcast scalars, and the per-term floors are the
    * q88/q100 integer-exact log2.
    */
  private[graft] def driftFromCounts(cs: DataFrame): DataFrame = {
    val cc = cs.groupBy("tok").agg(sum("cs").as("cc"))
    val total = cc.agg(sum("cc").as("t_total")) // 1 row, lazy
    val st = cs.groupBy("source").agg(sum("cs").as("s_total"))
    cs.join(broadcast(st), "source")
      .join(cc, "tok")
      .crossJoin(broadcast(total))
      .select(col("source"), col("cs"), col("s_total"),
        (length(conv(expr("t_total div cc"), 10, 2)) - 1)
          .cast("long").as("bc"),
        (length(conv(expr("s_total div cs"), 10, 2)) - 1)
          .cast("long").as("bs"))
      .groupBy("source")
      .agg(max("s_total").as("n_tokens"),
        sum(col("cs") * col("bc")).as("sum_bc"),
        sum(col("cs") * col("bs")).as("sum_bs"))
      .select(col("source"), col("n_tokens"),
        (col("sum_bc").cast("double") / col("n_tokens").cast("double"))
          .as("mean_corpus_bits"),
        (col("sum_bs").cast("double") / col("n_tokens").cast("double"))
          .as("mean_source_bits"),
        ((col("sum_bc") - col("sum_bs")).cast("double")
          / col("n_tokens").cast("double")).as("drift_bits"))
  }

  /** q50 patterns — Java-regex ∩ RE2 common syntax only (shared verbatim
    * with the DuckDB mirror; DuckDB standard strings do not process
    * backslash escapes, so the literal text matches what Spark compiles).
    */
  private val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PiiUrl = """https?://[^\s]+"""
  private val PiiIp = """\b([0-9]{1,3}\.){3}[0-9]{1,3}\b"""

  /** Gopher's "required word" stopword list (see
    * [[graft.functions.QualityRules.Stops]]) — referenced here for the
    * q45 oracle mirror.
    */
  private def GopherStops = graft.functions.QualityRules.Stops

  /** q55 Bloom geometry: 3 sha-seeded hashes into 64 words × 64 bits.
    * At n admitted documents the false-positive rate is
    * (1 − e^(−3n/4096))³ — ~1.6% at n=400.
    */
  private[queries] val BloomWords = 64
  private[queries] val BloomK = 3

  /** q54 count-min geometry: 4 sha-seeded hash rows × 1024 cells —
    * ε = e/1024 ≈ 0.27% of the token mass as one-sided overcount, δ =
    * e^-4. Fixed counter state regardless of vocabulary size.
    */
  private[queries] val CmsDepth = 4
  private[queries] val CmsWidth = 1024L

  /** The q53 HLL register table `(lang, reg, mr)` over `(lang, tok)`
    * rows — ONE definition shared by the batch estimate (q53) and the
    * streaming dual ([[graft.streaming.DocStream.vocabSketch]]). The
    * register max is MONOTONE, so the identical aggregation runs
    * stateful over an unbounded stream with state bounded at
    * |langs|·64 rows and needs no watermark.
    */
  private[graft] def hllRegisters(langTok: DataFrame): DataFrame =
    langTok
      .select(col("lang"), portableHash(col("tok")).as("hv"))
      .select(col("lang"),
        col("hv").bitwiseAND(lit(63L)).as("reg"),
        when(shiftright(col("hv"), 6) > 0,
          lit(27) - length(bin(shiftright(col("hv"), 6))))
          .otherwise(lit(27)).cast("long").as("rho"))
      .groupBy("lang", "reg").agg(max("rho").as("mr"))

  /** q53 linear-counting table: the 64 possible small-range estimates
    * m·ln(m/V) for V = 1..64 empty registers, each decomposed into the
    * exact dyadic fraction (mant, 2^k) its double value IS — both engines
    * reconstruct the identical double as one integer division (power-of-
    * two denominators divide exactly), so the correction branch needs no
    * runtime ln and no decimal literal on either side.
    */
  private[queries] val HllLc: Seq[(Long, Long)] = (1 to 64).map { v =>
    var x = 64.0 * math.log(64.0 / v)
    var p = 1L
    // terminates for every finite double: doubling shifts the binary
    // point until the 53-bit significand is integral — at which point the
    // value is ≤ 2^53 (exactly Long-representable), so no magnitude
    // clause is needed (one would loop forever on an integral value
    // above it, since doubling only grows the number)
    while (x != math.rint(x)) { x *= 2; p *= 2 }
    (x.toLong, p)
  }

  /** q22's staged hashed-gram relation (g3 = word-3-gram hashes for the
    * similarity measure, g6 = word-6-gram candidate keys; persisted —
    * the consumer's Caches.release hook frees it) plus the capped
    * 6-gram candidate pairs, factored so the Jaccard (q22) and
    * containment (q125) pair queries share ONE definition of
    * "candidate". Bucket-frequency cap: the semi join keeps only keys
    * under [[MaxBucketDocs]]; the count is a two-phase agg on the same
    * key the self-join shuffles on, so the extra pass is one
    * map-side-combined aggregation, and the worst bucket after it is
    * MaxBucketDocs² pairs, not n².
    */
  private def gramPairStage(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val docs = Tables.wide(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        array_distinct(wordNgrams(col("tk"), 3)).as("g3s"),
        array_distinct(wordNgrams(col("tk"), 6)).as("g6s"))
      // distinct AFTER hashing (not just on the gram strings): an
      // intra-doc 32-bit gram-hash collision would otherwise leave a
      // duplicate in g3, and q125's size(array_intersect) (dedup
      // semantics) would disagree with its size(g3) denominator —
      // post-hash distinct gives numerator and denominator ONE
      // convention, mirrored in the oracle (list_distinct outside
      // list_transform in sqlGramCandCtes)
      .select(col("doc_id"),
        array_distinct(transform(col("g3s"), g => portableHash(g))).as("g3"),
        array_distinct(transform(col("g6s"), g => portableHash(g))).as("g6"))
      .persist() // gram sets feed the candidate self-join + two lookups
    val keys = docs.select(col("doc_id"), explode(col("g6")).as("g"))
    val rareKeys = keys.groupBy("g")
      .agg(count(lit(1)).as("kc")).filter(col("kc") <= MaxBucketDocs)
      .select("g")
    val capped = keys.join(rareKeys, Seq("g"), "left_semi")
    val cand = capped.alias("a").join(capped.alias("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    (docs, cand)
  }

  /** Shared BM25 lexical serving core — rank documents for each query in
    * `qids` (one bigint column `qid` naming a corpus document whose text
    * IS the query; sample-sized, broadcastable) and return the top
    * [[Bm25TopK]] per query as (qid, rnk, doc_id, score_u). The text
    * half of the production RAG read path; q148 runs it standalone,
    * q149 fuses it with the ANN serve (q122) — ONE lexical
    * implementation, audited once.
    *
    * Scoring is the lexical family's integer-exact BM25 kernel,
    * [[graft.functions.TextFunctions.idfM]] ·
    * [[graft.functions.TextFunctions.termScore]] (the arithmetic and its
    * int64 headroom are documented there, once).
    *
    * Plan shape (the inverted-index discipline — no corpus-wide sort
    * anywhere): ONE (doc,term) tf build feeds L, per-doc lengths, the
    * query-term df counts, and the candidate fan-out; query terms and
    * their df are ≤ |sample|·cap rows and BROADCAST, so candidates
    * arrive by a map-side equi-join on term — work ∝ postings of the
    * query's terms, never the corpus; dl attaches by one doc_id
    * equi-join; the per-query cut is a qid-partitioned window
    * (WindowGroupLimit: ≤ top-k rows per task cross the final
    * shuffle). Query-side tf weighting is deliberately omitted (the
    * common short-query BM25 form); qtf only ranks the term cap.
    */
  /** Per-(application, dir) memo of the lexical corpus scalars (N docs,
    * L tokens) so a session that finds the staged index already built
    * does not re-aggregate it for two numbers.
    */
  private val lexStats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]

  /** Builds (once per session+dir) the STAGED lexical inverted index —
    * the `ensureIvfPqIndex` discipline applied to the lexical read
    * path: postings (doc_id, term, tf) hash-bucketed by TERM (a query's
    * candidate fetch bucket-prunes to its terms' buckets), per-doc
    * lengths bucketed by doc_id, and the per-term document frequencies
    * bucketed by term. The corpus pays ONE tokenize + aggregate at
    * build; every subsequent serve in the session is a term-pruned
    * bucketed scan — throughput scales with queries at one index build,
    * the same reason the vector side stages its codes. Returns
    * (postings, doclen, df) table names plus (N, L).
    */
  private[graft] def ensureLexIndex(s: SparkSession, dir: String)
      : (String, String, String, Long, Long) = {
    val Seq(postT, dlT, dfT) =
      Seq("lex_postings", "lex_doclen", "lex_df").map(graft.Staged.name(_, dir))
    graft.Staged.ensure(s, postT, dlT, dfT)(
      stageLexFrom(s, Tables.wide(s, dir, "documents"), postT, dlT, dfT))
    val (n, l) = lexStats.computeIfAbsent(
      (s.sparkContext.applicationId, dir), _ => {
        // N counts ALL documents (null text included — they shape idf);
        // L folds the doc-count-sized length table, null-safe for an
        // all-null-text corpus (empty dl relation -> L = 0)
        val nd = Tables.rowCount(s, dir, "documents")
        val ld = Option(s.table(dlT).agg(sum("dl")).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        (nd, ld)
      })
    (postT, dlT, dfT, n, l)
  }

  /** ONE tokenize→tf build + three bucketed stages over an explicit
    * documents relation — [[ensureLexIndex]]'s staging body, factored
    * so the appended-index demo (q187) stages its old-shard family
    * through the identical definition. Corpus-adaptive layout (the
    * bandWidthFor discipline): the count materializes the persisted tf
    * once — the stages reread cache. dl/df are ≤ tf rows and share the
    * postings' serve (one term-pruned read per query), so one derived
    * count sizes all three — a term-pruned read at 100 TB is then
    * 1-of-b of a bounded bucket, never 1-of-8 of a petabyte.
    */
  private def stageLexFrom(s: SparkSession, docs: DataFrame,
      postT: String, dlT: String, dfT: String): Unit = {
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist() // staging scaffolding only — released before return
    val nb = graft.Bucketing.bucketCountFor(tf.count())
    graft.Bucketing.stage(tf, postT, "term", nb)
    graft.Bucketing.stage(
      tf.groupBy("doc_id").agg(sum("tf").as("dl")), dlT, "doc_id", nb)
    graft.Bucketing.stage(
      tf.groupBy("term").agg(count(lit(1)).as("df")), dfT, "term", nb)
    tf.unpersist()
  }

  /** Incremental lexical-index maintenance, batch side — the GROWTH
    * half of the staged-index discipline (purgeLex is the delete half;
    * `LexStream` is the micro-batch dual at its own index root): a
    * corpus that grows by a delta must not re-tokenize and re-stage the
    * whole index. The delta pays ONE tokenize of ITS documents; its
    * postings/doclen rows APPEND into the existing bucketed tables
    * (Spark datasource bucketed tables take hash-placed append files —
    * pruned serves keep reading 1-of-b buckets, now with one more file
    * per touched bucket; the write repartitions to the table's bucket
    * count so each task emits one bucket's file, the
    * [[graft.Bucketing.stage]] anti-fragmentation discipline); the df
    * table is RECOMPUTED from the appended postings (the purgeLex
    * stance — idempotent under [[graft.Bucketing.rewriteInPlace]]'s
    * crash recovery, where a delta merge would double-add). N/L are
    * additive and the caller's stats memo carries them. EXACT by
    * construction at any corpus: postings/doclen/df/N/L of the appended
    * family all equal a full re-stage over the union (doc sets are
    * disjoint, df/N/L are additive) — q187 pins the serve identity with
    * q148's own oracle text.
    */
  private[graft] def appendLexIndex(s: SparkSession, postT: String,
      dlT: String, dfT: String, deltaDocs: DataFrame): Unit = {
    val tf = deltaDocs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist() // feeds both appends — released below
    val nb = s.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(postT))
      .bucketSpec.map(_.numBuckets).getOrElse(8)
    tf.repartition(nb, col("term"))
      .select("doc_id", "term", "tf").write.insertInto(postT)
    tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      .repartition(nb, col("doc_id"))
      .select("doc_id", "dl").write.insertInto(dlT)
    tf.unpersist()
    graft.Bucketing.rewriteInPlace(s, dfT,
      _ => s.table(postT).groupBy("term").agg(count(lit(1)).as("df")))
  }

  /** Per-(application, dir) memo of the appended demo family's corpus
    * scalars — the [[lexStats]] discipline for the q187 family.
    */
  private val lexAppStats =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Long, Long)]

  /** Per-(application, dir) accumulated (lex, impact) stream roots for
    * q194 — built once (two arrival epochs each), then every read
    * serves the roots (the q192 labelRoots discipline); tracked so a
    * takedown purge physically drops them with the demo family.
    */
  private val q194Roots = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (String, String)]

  /** The appended demo family's tables, its `done` marker last. */
  private def appendedLexFamily(dir: String): Seq[String] =
    Seq("postings", "doclen", "df", "pos", "impact", "done")
      .map(t => graft.Staged.name(s"lexapp_$t", dir))

  /** Builds (once per session+dir) the APPENDED demo index family:
    * the seven-eighths shard stages through [[stageLexFrom]], then the
    * residue-3 delta shard (q184's corpus-growth split) APPENDS through
    * [[appendLexIndex]] — the family then covers the full corpus and
    * q187 serves q148's sample through it against q148's own oracle
    * text. The `done` marker makes re-entry (bench reps, a second
    * consumer) a pure read: an append must run exactly once, so the
    * marker lands only after the df rewrite completes, and a partial
    * family without it is dropped and rebuilt.
    */
  private def ensureAppendedLex(s: SparkSession, dir: String)
      : (String, String, String, String, String, Long, Long) = {
    val family @ Seq(postT, dlT, dfT, posT, impT, doneT) =
      appendedLexFamily(dir)
    graft.Staged.ensure(s, family: _*) {
      // the family builds over the corpus MINUS the purged ledger —
      // the ensureLabels never-staged posture: a purge DROPS this demo
      // family ([[dropAppendedLex]]) and the rebuild must not
      // resurrect the erased documents from the raw corpus (with no
      // purges the mask folds away)
      val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
      val docs = graft.StagedTombstones.masked(s,
        Tables.wide(s, dir, "documents"),
        if (purged.isEmpty) None else Some(purged), "doc_id")
      val oldDocs = docs.filter(col("doc_id") % 8 =!= 3)
      val deltaDocs = docs.filter(col("doc_id") % 8 === 3)
      // the pre-growth family: lex + positional + impact layers staged
      // over the old shard with the shard's own honest parameters
      stageLexFrom(s, oldDocs, postT, dlT, dfT)
      stagePosFrom(s, oldDocs, posT)
      val nOld = oldDocs.count()
      val lOld = Option(s.table(dlT).agg(sum("dl")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      val kOld = impactKOf(s, nOld)
      stageImpactFrom(s, impT, postT, dlT, kOld, quantizedAvgDl(nOld, lOld))
      // the growth: every layer appends incrementally
      appendLexIndex(s, postT, dlT, dfT, deltaDocs)
      appendPosIndex(s, posT, deltaDocs)
      val nNew = Tables.rowCount(s, dir, "documents")
      val lNew = Option(s.table(dlT).agg(sum("dl")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      appendImpactIndex(s, impT, postT, dlT, deltaDocs,
        kOld, impactKOf(s, nNew), quantizedAvgDl(nNew, lNew))
      val ss = s
      import ss.implicits._
      Seq(1L).toDF("done").write.saveAsTable(doneT)
    }
    val (n, l) = lexAppStats.computeIfAbsent(
      (s.sparkContext.applicationId, dir), _ => {
        // N over the corpus minus the purged ledger (the family's own
        // build universe); L folds the family's (already reduced) dl
        val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
        val nd = graft.StagedTombstones.masked(s,
          Tables(s, dir, "documents"),
          if (purged.isEmpty) None else Some(purged), "doc_id").count()
        val ld = Option(s.table(dlT).agg(sum("dl")).head.get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L)
        (nd, ld)
      })
    (postT, dlT, dfT, posT, impT, n, l)
  }

  /** The takedown purge's hook for the appended demo family
    * (q187–q189): the tables are session demos DERIVED from the raw
    * corpus, so physical erasure is a DROP — the next
    * [[ensureAppendedLex]] rebuilds them over the corpus minus the
    * purged ledger (the never-staged-family posture of the label
    * purge). Idempotent; also clears the family's stats memo so the
    * rebuild recomputes N over the reduced universe.
    */
  private[graft] def dropAppendedLex(s: SparkSession, dir: String): Unit = {
    graft.Staged.drop(s, appendedLexFamily(dir): _*)
    graft.Staged.drop(s, graft.Staged.name("qsample", dir))
    lexAppStats.remove((s.sparkContext.applicationId, dir))
    // the q194 stream-root pair is the same class of session demo —
    // physical erasure is the root deletion, and the next ensure
    // re-ingests over the corpus minus the purged ledger
    Option(q194Roots.remove((s.sparkContext.applicationId, dir)))
      .foreach { case (lr, ir) =>
        Seq(lr, ir).foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        }
      }
  }

  /** The lexical index's SERVE-TIME read surface: [[ensureLexIndex]]'s
    * staged relations read THROUGH a takedown tombstone
    * ([[graft.StagedTombstones]]) — postings and doc lengths mask the
    * deleted ids (broadcast anti-join, request-sized right side), the
    * df table subtracts the deleted documents' term memberships
    * (broadcast left join on the request-sized delta, zero-df terms
    * drop out — a re-staged index would not hold them), and the corpus
    * scalars shed the deleted documents' counts. With no tombstone the
    * staged relations pass through UNTOUCHED (fold on None), so every
    * pinned serve plan is byte-identical until a takedown actually
    * lands. StagedTakedownSpec pins the contract: a serve through this
    * surface equals a full re-stage over the corpus minus the deletions.
    */
  private[graft] def lexRead(s: SparkSession, dir: String,
      tomb: Option[graft.StagedTombstones.DocTomb])
      : (DataFrame, DataFrame, DataFrame, Long, Long) = {
    val (postT, dlT, dfT, n, l) = ensureLexIndex(s, dir)
    lexMaskOver(s, s.table(postT), s.table(dlT), s.table(dfT), n, l, tomb)
  }

  /** The tombstone-masking fold over EXPLICIT lexical index relations —
    * [[lexRead]]'s body factored so an index family staged under
    * another name (the appended demo family, q187) reads through the
    * IDENTICAL takedown surface: postings/doclen mask the deleted ids,
    * df subtracts the request-sized term deltas, N/L shed the deleted
    * counts. With no tombstone the relations pass through untouched.
    */
  private def lexMaskOver(s: SparkSession, post0: DataFrame,
      dl0: DataFrame, df0: DataFrame, n: Long, l: Long,
      tomb: Option[graft.StagedTombstones.DocTomb])
      : (DataFrame, DataFrame, DataFrame, Long, Long) =
    tomb.fold((post0, dl0, df0, n, l)) { t =>
      val ss = s
      import ss.implicits._
      val post = graft.StagedTombstones.masked(s, post0, Some(t.ids), "doc_id")
      val dl = graft.StagedTombstones.masked(s, dl0, Some(t.ids), "doc_id")
      val df =
        if (t.dfDelta.isEmpty) df0
        else df0
          .join(broadcast(t.dfDelta.toDF("term", "ddf")), Seq("term"), "left")
          .select(col("term"),
            (col("df") - coalesce(col("ddf"), lit(0L))).as("df"))
          .filter(col("df") > 0)
      (post, dl, df, n - t.nDel, l - t.lDel)
    }

  /** The lexical half of [[graft.StagedTombstones.purge]]: physically
    * rewrite the staged postings/doclen/positions tables of
    * (session, dir) minus the tombstone's documents, RECOMPUTE the df
    * table from the purged postings (zero-df terms drop out — the
    * re-stage identity [[lexRead]] computes at read time, applied to
    * the files), and RECOMPUTE the memoized N/L corpus scalars from the
    * purged doclen table and a bounded purged-id corpus probe — so the
    * post-purge UNMASKED read equals the pre-purge masked read
    * byte-for-byte. Every step is IDEMPOTENT by construction (masks
    * drop already-dropped ids to a no-op; df/L are re-derived from the
    * tables they describe; N re-probes the corpus against the full
    * purged-id union) — re-running after a crash, including through
    * [[graft.Bucketing.rewriteInPlace]]'s scratch-recovery path,
    * converges to the same state instead of subtracting a delta twice.
    * A table not yet staged is staged FIRST (the corpus still holds the
    * rows until its own rewrite) and then purged, so a later ensure
    * within the session cannot resurrect the deleted documents.
    * Returns the rewritten table names for [[graft.StagedTombstones
    * .purge]]'s post-rewrite existence check.
    */
  private[graft] def purgeLex(s: SparkSession, dir: String,
      t: graft.StagedTombstones.DocTomb): Seq[String] = {
    val (postT, dlT, dfT, _, _) = ensureLexIndex(s, dir)
    val posT = ensurePosIndex(s, dir)
    // staged BEFORE the postings rewrite, so the purged lists are the
    // pre-purge lists minus the masked docs (q182's documented posture)
    // rather than a silent re-cut over the purged postings
    val impT = ensureImpactIndex(s, dir)
    // the rewrites mask the FULL purged-id union (this tomb + every
    // previously purged request), not just this tomb's ids: a purge
    // re-run after a mid-swap crash finds the dropped table missing
    // and the ensure* above RE-STAGES it from the raw corpus — which
    // still holds every previously erased document — so a t.ids-only
    // mask would silently resurrect the earlier purges' rows in the
    // restaged table (StagedTakedownSpec pins the two-purge crash
    // sequence). Dropping an already-absent id is a no-op, so the
    // union costs nothing on the normal path.
    val allPurged =
      (t.ids ++ graft.StagedTombstones.purgedDocIds(s, dir)).distinct
    val dropDocs = (rel: DataFrame) =>
      graft.StagedTombstones.masked(s, rel, Some(allPurged), "doc_id")
    graft.Bucketing.rewriteInPlace(s, postT, dropDocs)
    graft.Bucketing.rewriteInPlace(s, dlT, dropDocs)
    graft.Bucketing.rewriteInPlace(s, posT, dropDocs)
    graft.Bucketing.rewriteInPlace(s, impT, dropDocs)
    // df := count-per-term over the purged postings — the identical
    // aggregate the original staging ran, so the rewrite is a recompute,
    // not a delta subtraction (idempotent under re-runs by construction)
    graft.Bucketing.rewriteInPlace(s, dfT, _ =>
      s.table(postT).groupBy("term").agg(count(lit(1)).as("df")))
    // N/L likewise: L is the purged doclen table's own sum; N is the
    // corpus count minus the docs the full purged-id union (the same
    // `allPurged` the rewrites masked) actually names — a
    // request-sized id-pushdown probe, never a delta fold
    val present = Tables(s, dir, "documents")
      .filter(col("doc_id").isin(allPurged.map(Long.box): _*)).count()
    val nd = Tables.rowCount(s, dir, "documents")
    val ld = Option(s.table(dlT).agg(sum("dl")).head.get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    lexStats.put((s.sparkContext.applicationId, dir), (nd - present, ld))
    // the rewrite may have shrunk a truncated list below the fresh
    // cut — clear the K-drift memo so the NEXT ensure consults the
    // q193 verdict and re-cuts if so (the purge itself stays the
    // honest erasure event: lists minus deletions, never a silent
    // re-cut inside the purge)
    impactCurrent.remove((s.sparkContext.applicationId, dir))
    Seq(postT, dlT, dfT, posT, impT)
  }

  /** [[ensurePosIndex]]'s serve-time read surface — the positional
    * member of [[lexRead]]'s contract (membership-only: positions carry
    * no corpus-derived statistics).
    */
  private[graft] def posRead(s: SparkSession, dir: String,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    graft.StagedTombstones.masked(
      s, s.table(ensurePosIndex(s, dir)), tomb.map(_.ids), "doc_id")

  /** The session's registered takedowns for `dir` — the tombstone every
    * REGISTRY-driven serve entry reads through (q172 passes an explicit
    * one instead, keeping the correctness dump independent of session
    * state).
    */
  private def registryTomb(s: SparkSession, dir: String)
      : Option[graft.StagedTombstones.DocTomb] =
    graft.StagedTombstones.docTomb(s, dir)

  /** [[bm25TopDocs]]'s staging half — ONE definition of "the corpus's
    * postings and the queries' weighted terms", shared by the batch
    * serve and the frozen-statistic extraction the streaming
    * standing-query scorer runs on ([[bm25FrozenStats]]). Reads the
    * STAGED index ([[ensureLexIndex]]); the query terms are collected
    * (≤ sample·cap rows — the q122 probe-plan discipline) so both the
    * candidate fetch and the df lookup are LITERAL-IN pruned bucketed
    * scans. Returns (candidate postings — already restricted to the
    * query terms; dl; qtIdf = (qid, term, idf_m) with the log-free
    * milli-scale idf; a = avgdl quantized to whole tokens).
    */
  /** The corpus-sampled query texts (qid, qtext) — the q148-family
    * sample contract realized as the SAME (qid, qtext) relation the
    * EXTERNAL-query serve forms ([[bm25TopDocsFor]] and friends) take,
    * so both roads derive terms/phrases through one definition.
    */
  /** Session memo of the sampled (qid, qtext) rows, keyed by the exact
    * qid set: the sample roads (doc-side, vec-side, their union) are all
    * ≤ ~16 ids by construction, and the raw corpus parquet under a dir
    * never changes within a session, so the fetched rows are a constant
    * — the [[ensureQuerySample]] amortization carried one derivation
    * step further (r21; query material, never index content: masks and
    * purges intentionally do not affect what a caller queries with).
    */
  private val qtextRowsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Seq[Long]), Array[org.apache.spark.sql.Row]]

  private def corpusQTexts(s: SparkSession, dir: String,
      qids: DataFrame): DataFrame = {
    // the bounded driver read that buys the id pushdown: every caller's
    // qid relation is sample-derived (≤ ~16 rows), so collecting it here
    // replaces a full documents scan + broadcast join in EVERY serve
    // plan with one In(doc_id, …)-pruned fetch, memoized per session —
    // at corpus scale the old shape re-scanned the documents table per
    // serve just to fetch the sample's texts (r21, guide §6: the filter
    // now reaches the scan as PushedFilters). The contract is explicit,
    // not positional (the r21 advisor's note): the qid column is named,
    // nulls drop (the old inner join dropped them), duplicates collapse
    // (every current caller passes a distinct single-column relation, so
    // both are latent — pinned here rather than assumed)
    val ids = qids.select(col("qid")).filter(col("qid").isNotNull)
      .distinct().collect().map(_.getLong(0)).toSeq.sorted
    val rows = qtextRowsMemo.computeIfAbsent(
      (s.sparkContext.applicationId, dir, ids), _ =>
        Tables(s, dir, "documents")
          .filter(col("doc_id").isin(ids.map(Long.box): _*))
          .select(col("doc_id").as("qid"), col("text").as("qtext"))
          .collect())
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, qtext STRING"))
  }

  /** Per-query weighted terms (qid, term, qtf) of a (qid, qtext)
    * relation — the query half of the BM25 stage.
    */
  private def queryTermsOf(qtexts: DataFrame): DataFrame =
    qtexts
      .select(col("qid"), explode(tokens(col("qtext"))).as("term"))
      .groupBy("qid", "term").agg(count(lit(1)).as("qtf"))

  private def bm25Stage(s: SparkSession, dir: String, qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb])
      : (DataFrame, DataFrame, DataFrame, Long) =
    bm25StageFor(s, dir, corpusQTexts(s, dir, qids), tomb)

  /** The per-query CAPPED term set (qid, term) of a (qid, qtext)
    * relation — the query side every lexical serve ranks with, batch
    * and stream ([[graft.streaming.LexStream]] adds its term bucket).
    */
  private[graft] def cappedTerms(qtexts: DataFrame): DataFrame = {
    val qt0 = queryTermsOf(qtexts)
    val wq = Window.partitionBy("qid").orderBy(desc("qtf"), asc("term"))
    qt0.withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= Bm25QTermCap).select("qid", "term")
  }

  /** [[cappedTerms]] materialized as a bounded literal: ONE collect of
    * the capped (qid, term) pairs (≤ |sample|·[[Bm25QTermCap]] rows by
    * the window cut) returned as (a local relation, the distinct terms
    * for the literal-IN prune). The rows are [[cappedTerms]]'s own
    * output — Spark's tokenizer, Spark's cap — so nothing can drift;
    * the serve plans just stop re-deriving them per consumer (r21).
    */
  private def localQTerms(s: SparkSession,
      qtexts: DataFrame): (DataFrame, Array[Any]) = {
    val rows = cappedTerms(qtexts).collect()
    val qt = s.createDataFrame(java.util.Arrays.asList(rows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, term STRING"))
    (qt, rows.map(_.getString(1)).distinct.map(t => t: Any))
  }

  private def bm25StageFor(s: SparkSession, dir: String, qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb])
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val rels = lexRead(s, dir, tomb)
    lexStageOver(rels._1, rels, qtexts)
  }

  /** The BM25 staging half over EXPLICIT (masked) index relations `rels`
    * — ONE definition of the capped query terms, the bounded driver read
    * that buys the literal-IN prune of the candidate relation `cands`
    * (the postings for the exact serve, the impact lists for q182), the
    * broadcast df lookup and the idf weights, for the staged index and
    * the appended demo family (q187/q188) alike, so the approximate
    * serve can never drift from the arithmetic it approximates.
    */
  private def lexStageOver(cands: DataFrame,
      rels: (DataFrame, DataFrame, DataFrame, Long, Long),
      qtexts: DataFrame): (DataFrame, DataFrame, DataFrame, Long) = {
    val (_, dlRel, dfRel, n, l) = rels
    // the bounded driver read that buys the prune — collected as the
    // capped (qid, term) PAIRS (≤ |sample|·cap rows by the window cut)
    // rather than just the distinct terms: qt then re-enters the scoring
    // plan as a literal relation, so the tokenize → tf-count → window
    // subtree executes exactly once per serve instead of once in the
    // terms collect and AGAIN inside the main action's qtIdf broadcast
    // (r21; same action count, two fewer exchanges in the serve plan)
    val (qt, terms) = localQTerms(qtexts.sparkSession, qtexts)
    (cands.filter(col("term").isin(terms: _*)), dlRel,
      termWeights(qt, dfRel.filter(col("term").isin(terms: _*)), n),
      quantizedAvgDl(n, l))
  }

  /** The (qid, term, idf_m) weights of capped query terms `qt` against
    * their (term, df) rows in an N-document corpus — the query side of
    * every lexical serve's score, batch and stream.
    */
  private[graft] def termWeights(qt: DataFrame, dfq: DataFrame,
      n: Long): DataFrame =
    qt.join(broadcast(dfq), Seq("term"))
      .withColumn("idf_m", idfM(col("df"), lit(n)))
      .select("qid", "term", "idf_m")

  /** The scored-but-uncut half of the BM25 serve over a staged
    * (candidates, dl, qtIdf, a) tuple: every candidate (qid, doc_id,
    * score_u) — bounded by the postings of the queries' terms, never
    * the corpus — each posting scoring `weight` (its term's idf_m, or a
    * weighted idf_m) times the kernel's
    * [[graft.functions.TextFunctions.termScore]]. ONE arithmetic for the
    * corpus-sampled, external-query, appended and stream roads; the
    * diversified serve (q164 in [[Dedup]]) takes it uncut to suppress
    * near-dup cluster twins BEFORE the cut.
    */
  private[graft] def bm25Score(
      staged: (DataFrame, DataFrame, DataFrame, Long),
      weight: Column = col("idf_m")): DataFrame = {
    val (tf, dl, qtIdf, a) = staged
    tf.join(broadcast(qtIdf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .withColumn("tscore", weight * termScore(col("tf"), col("dl"), lit(a)))
      .groupBy("qid", "doc_id").agg(sum("tscore").as("score_u"))
  }

  /** The per-query rank cut every lexical-family page ends with: rank
    * each qid's rows by `scoreCol` descending, ties to the lowest
    * doc_id, keep the first `k` as a long `rnk`, and project `cols`.
    */
  private[graft] def topPerQid(scored: DataFrame, scoreCol: String, k: Long,
      cols: String*): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(desc(scoreCol), asc("doc_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(cols.head, cols.tail: _*)
  }

  /** The BM25 page: [[topPerQid]] at [[Bm25TopK]] over scored
    * (qid, doc_id, score_u) rows.
    */
  private[graft] def bm25RankCut(scored: DataFrame): DataFrame =
    topPerQid(scored, "score_u", Bm25TopK, "qid", "rnk", "doc_id", "score_u")

  private[queries] def bm25ScoredDocs(s: SparkSession, dir: String,
      qids: DataFrame): DataFrame =
    bm25ScoredDocs(s, dir, qids, registryTomb(s, dir))

  private[queries] def bm25ScoredDocs(s: SparkSession, dir: String,
      qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    bm25Score(bm25Stage(s, dir, qids, tomb))

  private[queries] def bm25TopDocs(s: SparkSession, dir: String,
      qids: DataFrame): DataFrame =
    bm25TopDocs(s, dir, qids, registryTomb(s, dir))

  private[queries] def bm25TopDocs(s: SparkSession, dir: String,
      qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    bm25RankCut(bm25ScoredDocs(s, dir, qids, tomb))

  /** Pseudo-relevance-feedback expansion serve (q178, the RM3-family
    * read): run the audited q148 BM25 serve, treat each query's top
    * [[PrfFbDocs]] hits as relevant, mine their texts for the
    * [[PrfExpTerms]] best expansion terms (feedback tf mass × the
    * serve's own milli-scale idf — the standard tf-idf relevance-model
    * surrogate, integer-exact), and re-rank with the expanded weighted
    * term set (original terms [[PrfOrigW]] : expansion [[PrfExpW]], so
    * expansion recalls NEW documents but cannot outvote the original
    * intent). Everything is the q148 machinery re-entered: one staged
    * index, one idf/tfn arithmetic, one rank cut — the expansion layer
    * adds a bounded id-pushdown TEXT fetch of the feedback docs
    * (≤ sample·[[PrfFbDocs]] rows, the takedown-probe discipline) and
    * one more literal-IN pruned candidate fetch. Driver reads stay
    * bounded by construction: feedback ids ≤ sample·fbDocs, candidate
    * terms capped per query at [[PrfCandCap]] by feedback-tf BEFORE the
    * collect (the Bm25QTermCap discipline), final terms ≤
    * sample·(cap + expTerms). A query whose feedback yields no new
    * terms re-ranks exactly like q148 (scores ×[[PrfOrigW]], same
    * order); a term-less query serves nothing at both rounds.
    */
  private[queries] def prfTopDocs(s: SparkSession, dir: String,
      qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    prfTopDocsForQ(s, dir, corpusQTexts(s, dir, qids), tomb)

  /** The EXTERNAL-query PRF serve — q178 for a literal (qid BIGINT,
    * qtext STRING) relation: the [[bm25TopDocsFor]] contract for the
    * feedback-expansion read (RetrievalSpec pins it equal to q178 on
    * the sampled documents' own texts; `graft_prf` serves it in SQL).
    */
  def prfTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    prfTopDocsForQ(s, dir, qtexts, registryTomb(s, dir))

  private def prfTopDocsForQ(s: SparkSession, dir: String,
      qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    prfFromPage(s, dir, qtexts, tomb,
      bm25RankCut(bm25Score(bm25StageFor(s, dir, qtexts, tomb))))

  /** q180's fused lexical legs — ONE executed q148 statement feeding
    * BOTH the bm25 card row and the PRF feedback stage (the q176
    * union-serve precedent; verdict r17 ask #2). The page is bounded by
    * its rank cut (≤ sample·k rows at any corpus), so it collects once
    * and re-enters as a LITERAL relation for both consumers — the two
    * legs run in separate actions, which exchange reuse cannot fuse,
    * but a bounded collect can. Returns (the bm25 page, the PRF serve
    * fed from that same page).
    */
  private[queries] def bm25AndPrfPages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val qtexts = corpusQTexts(s, dir, docModQids(s, dir))
    val tomb = registryTomb(s, dir)
    val page = bm25RankCut(bm25Score(bm25StageFor(s, dir, qtexts, tomb)))
    val lit = s.createDataFrame(
      java.util.Arrays.asList(page.collect(): _*), page.schema)
    (lit, prfFromPage(s, dir, qtexts, tomb, lit))
  }

  /** The feedback/expansion layer over an ALREADY-COMPUTED round-1 page
    * — q178's entry passes the audited q148 serve it just built
    * ([[prfTopDocsForQ]]); the feedback eval card passes the literal
    * page that also feeds its bm25 row ([[bm25AndPrfPages]]), so the
    * card never executes the serve statement twice. The page's feedback
    * cut is collected ONCE (≤ sample·[[PrfFbDocs]] rows under the rank
    * cut — the probe-plan discipline) and re-enters as a literal
    * relation, so the round-1 plan executes exactly once per serve no
    * matter how many downstream stages read it (the old shape
    * re-executed it inside every feedback collect).
    */
  private[queries] def prfFromPage(s: SparkSession, dir: String,
      qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb],
      page: DataFrame): DataFrame = {
    val (post, dlRel, dfRel, n, l) = lexRead(s, dir, tomb)
    // round 1 = the caller's page, cut to the feedback depth, collected
    // once (bounded by the rank cut)
    val fbRows: Seq[(Long, Long)] = page.filter(col("rnk") <= PrfFbDocs)
      .select("qid", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ss = s
    import ss.implicits._
    val fb = fbRows.toDF("qid", "doc_id")
    // the feedback docs' term mass: a bounded id-pushdown text fetch
    val fbIds = fbRows.map(_._2).distinct
    val fbTf = Tables(s, dir, "documents")
      .filter(col("doc_id").isin(fbIds.map(Long.box): _*))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("ftf"))
    // the capped query terms as a bounded literal (the lexStageOver
    // discipline): one collect feeds the anti-join, the round-2 original
    // term weights, AND the origTerms prune — the old shape re-derived
    // the tokenize→window subtree in each and paid a separate distinct
    // collect for origTerms (r21)
    val (qt, origTerms) = localQTerms(s, qtexts)
    val wc = Window.partitionBy("qid").orderBy(desc("fw0"), asc("term"))
    // the CAPPED candidate set (≤ sample·PrfCandCap rows by the window
    // cut), collected ONCE and re-entered as a literal (r22): the old
    // shape collected its distinct terms in one action and then
    // re-executed the whole feedback subtree (the bounded documents
    // fetch + tokenize + fold + anti-join + window) AGAIN inside the
    // expansion-winner collect — exchange reuse never spans actions, a
    // bounded literal does (the lexStageOver discipline). Spark's own
    // tokenizer/cap produce the rows, so nothing can drift.
    val candRows: Array[org.apache.spark.sql.Row] = fb.join(fbTf, Seq("doc_id"))
      .groupBy("qid", "term").agg(sum("ftf").as("fw0"))
      .join(qt, Seq("qid", "term"), "left_anti") // never re-add a query term
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= PrfCandCap)
      .select("qid", "term", "fw0")
      .collect()
    val expCand = s.createDataFrame(
      java.util.Arrays.asList(candRows: _*),
      org.apache.spark.sql.types.StructType.fromDDL(
        "qid BIGINT, term STRING, fw0 BIGINT"))
    val candTerms: Array[Any] =
      candRows.map(_.getString(1)).distinct.map(t => t: Any)
    val we = Window.partitionBy("qid").orderBy(desc("ew"), asc("term"))
    // the winning expansion terms, COLLECTED (≤ sample·PrfExpTerms rows
    // — the probe-plan discipline): the round-2 scoring plan then takes
    // them as a broadcast literal instead of re-embedding the whole
    // round-1 serve, and the final postings fetch prunes to winners
    // only, never the 32-wide candidate set. This action now costs one
    // pruned df fetch + a window over the literal candidates (r22).
    val expRows: Seq[(Long, String, Long)] = expCand
      .join(broadcast(dfRel.filter(col("term").isin(candTerms: _*))),
        Seq("term"))
      .withColumn("idf_m", idfM(col("df"), lit(n)))
      .withColumn("ew", col("fw0") * col("idf_m"))
      .withColumn("ern", row_number().over(we))
      .filter(col("ern") <= PrfExpTerms)
      .select(col("qid"), col("term"), col("idf_m"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSeq
    val exp = expRows.toDF("qid", "term", "idf_m")
      .withColumn("w", lit(PrfExpW))
    // round 2: the weighted expanded term set through the one scoring
    // arithmetic (origTerms came with the qt literal — no extra collect)
    val orig = termWeights(qt,
        dfRel.filter(col("term").isin(origTerms: _*)), n)
      .withColumn("w", lit(PrfOrigW))
    val qtW = orig.unionByName(exp)
    val allTerms: Array[Any] =
      (origTerms ++ expRows.map(_._2)).distinct
    bm25RankCut(bm25Score((post.filter(col("term").isin(allTerms: _*)),
      dlRel, qtW, quantizedAvgDl(n, l)), col("w") * col("idf_m")))
  }

  /** L1→L2 feature re-rank (q181) — the production serving LADDER: a
    * cheap high-recall stage (the audited q148 BM25 page) then a
    * feature-rich precision stage over the BOUNDED page only. Per page
    * document, two positional features of the query's first two tokens
    * — exact-adjacency count (q154's semantics) and ordered
    * within-[[ProxWindow]] pair count (q159's) — fold into a
    * multiplicative integer boost: final = score + (score div 1000) ·
    * (50·min(phrase,8) + 20·min(prox,8)). Re-ranking never changes page
    * MEMBERSHIP (that is L1's job), only order; a sub-two-token query
    * keeps its BM25 order (no phrase → zero boosts). Plan shape: the
    * feature joins are the positional family's term-pruned bucketed
    * scans with the lead side semi-joined to the broadcast page FIRST —
    * feature work is page-bounded (≤ sample·top-k docs), never
    * corpus-bounded; ONE lead relation feeds both features.
    */
  private[queries] def featureRerank(s: SparkSession, dir: String,
      qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    featureRerankForQ(s, dir, corpusQTexts(s, dir, qids), tomb)

  /** The EXTERNAL-query L2 re-rank — q181 for a literal (qid BIGINT,
    * qtext STRING) relation (the [[bm25TopDocsFor]] contract for the
    * serving ladder; RetrievalSpec pins it equal to q181 on the sampled
    * documents' own texts; `graft_rerank` serves it in SQL).
    */
  def rerankTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    featureRerankForQ(s, dir, qtexts, registryTomb(s, dir))

  private def featureRerankForQ(s: SparkSession, dir: String,
      qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame = {
    val page = bm25RankCut(bm25Score(bm25StageFor(s, dir, qtexts, tomb)))
    val qp = phraseTableFor(qtexts, 2)
    val terms = phraseTerms(qp, 2)
    val boosted =
      if (terms.isEmpty)
        page.withColumn("phrase_tf", lit(0L))
          .withColumn("prox_tf", lit(0L))
      else {
        val post = posRead(s, dir, tomb).filter(col("term").isin(terms: _*))
        val lead = post.join(broadcast(qp), col("term") === col("t1"))
          .select(col("qid"), col("doc_id"), col("pos"), col("t2"))
          .join(broadcast(page.select("qid", "doc_id")),
            Seq("qid", "doc_id"), "left_semi")
        val next = post.select(col("doc_id").as("doc_n"),
          col("term").as("term_n"), col("pos").as("pos_n"))
        val ph = lead.join(next, col("doc_n") === col("doc_id") &&
            col("term_n") === col("t2") &&
            col("pos_n") === col("pos") + 1)
          .groupBy("qid", "doc_id").agg(count(lit(1)).as("phrase_tf"))
        val px = lead.join(next, col("doc_n") === col("doc_id") &&
            col("term_n") === col("t2") &&
            col("pos_n") > col("pos") &&
            col("pos_n") <= col("pos") + ProxWindow)
          .groupBy("qid", "doc_id").agg(count(lit(1)).as("prox_tf"))
        page.join(ph, Seq("qid", "doc_id"), "left")
          .join(px, Seq("qid", "doc_id"), "left")
          .withColumn("phrase_tf", coalesce(col("phrase_tf"), lit(0L)))
          .withColumn("prox_tf", coalesce(col("prox_tf"), lit(0L)))
      }
    // the page holds ≤ Bm25TopK rows per qid, so the cut only re-ranks
    topPerQid(boosted
      .withColumn("final_u", expr(
        s"score_u + (score_u div 1000) * " +
          s"($RerankPhraseBoostPm * least(phrase_tf, $RerankFeatCap) + " +
          s"$RerankProxBoostPm * least(prox_tf, $RerankFeatCap))")),
      "final_u", Bm25TopK,
      "qid", "rnk", "doc_id", "score_u", "phrase_tf", "prox_tf", "final_u")
  }

  /** Builds (once per session+dir) the IMPACT-ORDERED sidecar of the
    * staged lexical index (q182's substrate): per term, the
    * [[impactKFor]] postings with the highest integer tf-normalization
    * (the per-posting score bound — idf is term-constant, so the
    * within-term order is the true impact order), ties to the lowest
    * doc_id, staged term-bucketed exactly like the postings it
    * shadows. The scale rationale: q148's exact serve fetches the FULL
    * postings of every query term, and the q160 max-df envelope is the
    * measured warning that one high-df term makes that fetch
    * corpus-scale at 100 TB; the impact lists bound it at
    * [[impactKFor]]·|terms| rows per query with the classic
    * impact-ordered trade (recall drift measured by q183, not
    * guessed). Derived from the staged postings/doclen tables (ONE
    * corpus-stats snapshot — the avgdl quantization `a` is the exact
    * serve's own), so a post-purge build can never resurrect purged
    * documents.
    */
  private[graft] def ensureImpactIndex(s: SparkSession, dir: String): String = {
    val impT = graft.Staged.name("lex_impact", dir)
    val memoKey = (s.sparkContext.applicationId, dir)
    graft.Staged.ensure(s, impT) {
      val (postT, dlT, _, n, l) = ensureLexIndex(s, dir)
      stageImpactFrom(s, impT, postT, dlT, impactKFor(s, dir),
        quantizedAvgDl(n, l))
      impactCurrent.put(memoKey, java.lang.Boolean.TRUE) // fresh ≡ current
    }
    if (!impactCurrent.containsKey(memoKey)) {
      // CONSUME the q193 K-drift verdict instead of only publishing it
      // — the rebuild ACTION the admission card exists to trigger: a
      // purge rewrite can shrink a truncated list below the cut a
      // fresh staging would keep (the card's measured staleness), and
      // a deployment that only MEASURED would serve the stale sidecar
      // until an operator read the card. Staleness is the card's own
      // test (stored length < least(df, K) for any term); when it
      // holds, the sidecar re-stages at the current (K, a)
      // (RetrievalSpec pins column identity with a fresh reduced-corpus
      // staging + the card flipping back to 1). Scope honestly stated
      // (r21, the advisor's note): this consult repairs exactly the
      // shrink-below-cut direction q193 tests — a purge that only
      // lowers the derived K or shifts avgdl while every stored list
      // still reaches least(df, K) is NOT stale by the card's test and
      // keeps its (K, a) — a DEEPER cut under the older ordering, not
      // the fresh staging's cut. Scoring always rides live stats and
      // q182 is approximate by contract, so that residual membership
      // drift stays inside q183's measured-drift envelope; it is
      // measured, not repaired, here.
      // One sidecar-sized aggregate, once per (session, dir);
      // [[purgeLex]] clears the memo, the only in-session event that
      // can shrink stored lists. A current sidecar is untouched, so
      // every pinned serve plan is byte-identical until a purge lands.
      // The lex ensure restores a df table a crashed purge swap left
      // under its scratch name, so the consult reads the complete one.
      val (postT, dlT, dfT, n, l) = ensureLexIndex(s, dir)
      val k = impactKFor(s, dir)
      graft.Staged.restage(s, impT)(!impactCurrent.containsKey(memoKey) &&
        s.table(impT).groupBy("term")
          .agg(count(lit(1)).as("len"))
          .join(s.table(dfT), Seq("term"))
          .filter(col("len") < least(col("df"), lit(k)))
          .limit(1).count() > 0)(
        stageImpactFrom(s, impT, postT, dlT, k, quantizedAvgDl(n, l)))
      impactCurrent.put(memoKey, java.lang.Boolean.TRUE)
    }
    impT
  }

  /** Per-(application, dir) memo that the staged impact sidecar passed
    * the q193 K-drift admission check this session — cleared by
    * [[purgeLex]] (the one in-session event that shrinks stored
    * lists), so the next ensure re-consults the verdict and repairs.
    */
  private val impactCurrent = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.lang.Boolean]

  /** The per-term top-K cut over a staged postings/doclen pair — the
    * [[ensureImpactIndex]] staging body, factored so the appended demo
    * family (q188) stages its old-shard sidecar through the identical
    * definition with the shard's own (K, a).
    */
  private def stageImpactFrom(s: SparkSession, impT: String, postT: String,
      dlT: String, k: Long, a: Long): Unit = {
    val lists = impactCut(withImpact(s.table(postT), s.table(dlT), a), k)
      .select("term", "doc_id", "tf", "imp")
    graft.Bucketing.stage(lists, impT, "term",
      graft.Bucketing.bucketCountFor(s.table(postT).count()))
  }

  /** Postings (doc_id, term, tf) joined to their (doc_id, dl) lengths
    * with each posting's integer impact `imp` under the quantized
    * average length `a` — the kernel's
    * [[graft.functions.TextFunctions.termScore]] (idf is term-constant,
    * so it is the within-term score order).
    */
  private[graft] def withImpact(post: DataFrame, dl: DataFrame,
      a: Long): DataFrame =
    post.join(dl, Seq("doc_id"))
      .withColumn("imp", termScore(col("tf"), col("dl"), lit(a)))

  /** The per-term impact cut: each term's `k` rows with the highest
    * `imp`, ties to the lowest doc_id — ONE definition for the batch
    * sidecar's staging and append and the stream sidecar's epoch,
    * rebuild and serve-time cuts.
    */
  private[graft] def impactCut(rel: DataFrame, k: Long): DataFrame = {
    val w = Window.partitionBy("term").orderBy(desc("imp"), asc("doc_id"))
    rel.withColumn("irn", row_number().over(w)).filter(col("irn") <= k)
  }

  /** Incremental maintenance of the impact sidecar under a corpus
    * append — the [[appendLexIndex]] stance for the APPROXIMATE layer,
    * where blind row-append would be wrong (a delta posting can enter a
    * term's top-K, and the derived K itself grows with n). The re-cut
    * set is bounded: a term needs re-cutting only if the delta touched
    * its postings (delta vocabulary) or its old list was TRUNCATED at
    * the old K (list length ≥ kOld — its tail may re-enter under the
    * larger kNew, and its membership was ordered under the old corpus
    * scalars). Every other term's list IS its complete postings
    * (df < kOld ≤ kNew), and a complete list is exact under any K or
    * `a` — its MEMBERSHIP survives untouched while its stored `imp`
    * re-derives under the union scalar aNew in the same rewrite, so
    * the appended table is COLUMN-identical to a fresh staging, not
    * merely serve-identical (the serve recomputes scores from tf/dl
    * under the live masked stats either way, but a consumer reading
    * `imp` directly must not see cut-time-scoped values).
    * So the appended sidecar serves exactly like a fresh
    * full-corpus staging — q188's oracle is q182's text verbatim —
    * while the re-cut window runs over the re-cut terms' postings
    * only, never the corpus, and the physical rewrite is sidecar-sized
    * (≤ K·|vocab| rows, the q182 card's four-orders-under-postings
    * bound). Idempotent under [[graft.Bucketing.rewriteInPlace]]'s
    * crash recovery: the re-cut set re-derives from the (stable)
    * appended postings and the current lists — a recovered re-run
    * re-cuts the same terms to the same rows.
    */
  private[graft] def appendImpactIndex(s: SparkSession, impT: String,
      postT: String, dlT: String, deltaDocs: DataFrame,
      kOld: Long, kNew: Long, aNew: Long): Unit = {
    val deltaVocab = deltaDocs
      .select(explode(tokens(col("text"))).as("term")).distinct()
    val truncated = s.table(impT).groupBy("term")
      .agg(count(lit(1)).as("len")).filter(col("len") >= kOld)
      .select("term")
    val recut = deltaVocab.union(truncated).distinct()
    graft.Bucketing.rewriteInPlace(s, impT, t => {
      val fresh = impactCut(withImpact(
          s.table(postT).join(recut, Seq("term"), "left_semi"),
          s.table(dlT), aNew), kNew)
        .select("term", "doc_id", "tf", "imp")
      // non-re-cut terms keep their MEMBERSHIP (complete lists are exact
      // under any K) but their stored `imp` re-derives under the union
      // scalar aNew — without this the appended sidecar is only
      // serve-identical to a fresh staging (the serve recomputes from
      // tf/dl), and any future consumer reading `imp` directly (an
      // impact-mass card) would silently drift. The recompute is
      // sidecar-sized: one dl join over the kept rows, never a corpus
      // read (RetrievalSpec pins column identity with the fresh staging).
      val kept = withImpact(t.join(recut, Seq("term"), "left_anti")
          .select("term", "doc_id", "tf"), s.table(dlT), aNew)
        .select("term", "doc_id", "tf", "imp")
      kept.union(fresh)
    })
  }

  /** The impact sidecar's serve-time read surface — candidates masked
    * against a takedown tombstone like every lexical read. TAKEDOWN
    * POSTURE (the one documented divergence from [[lexRead]]'s
    * byte-identical re-stage contract): masked documents vanish from
    * the lists and every SCORE rides the masked df/N/L statistics (so
    * no masked doc serves and surviving scores are re-stage-exact),
    * but the per-term cut is NOT re-run — a fresh re-stage over the
    * reduced corpus could admit different tail documents into a
    * truncated list (the cut depends on the corpus-wide `a`). q182 is
    * an APPROXIMATE serve by contract; its membership drift under
    * erasure is the same class of drift q183 exists to measure, and
    * re-cutting at read time would cost exactly the full-postings scan
    * the sidecar exists to avoid. StagedTakedownSpec pins the honest
    * half: no masked doc served, membership = staged lists minus
    * deletions, survivor scores equal the exact serve's. The drift is
    * also BOUNDED IN TIME: after a physical purge shrinks a truncated
    * list, the next [[ensureImpactIndex]] consults the q193 staleness
    * measure and re-cuts the sidecar fresh — the measured drift
    * self-heals at the next ensure instead of waiting on an operator.
    */
  private[graft] def impactRead(s: SparkSession, dir: String,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    graft.StagedTombstones.masked(
      s, s.table(ensureImpactIndex(s, dir)), tomb.map(_.ids), "doc_id")

  /** q182's staging half — [[bm25StageFor]] with the candidate fetch
    * redirected to the impact lists: same capped query terms, same
    * masked df/idf and corpus scalars, same literal term-IN prune
    * (bucket-pruned on the term-bucketed sidecar), but the fetch is
    * bounded at [[impactKFor]]·|terms| rows by the staged cut instead of
    * the terms' full postings (PlanQualitySpec pins the bound on the
    * executed plan's filter).
    */
  private def impactStageFor(s: SparkSession, dir: String,
      qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb])
      : (DataFrame, DataFrame, DataFrame, Long) =
    lexStageOver(impactRead(s, dir, tomb).select("term", "doc_id", "tf"),
      lexRead(s, dir, tomb), qtexts)

  private[queries] def impactTopDocs(s: SparkSession, dir: String,
      qids: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    impactTopDocsForQ(s, dir, corpusQTexts(s, dir, qids), tomb)

  /** [[impactTopDocs]] under the session's registered takedown mask —
    * the [[bm25TopDocs]] two-overload shape, so the bounded-hybrid
    * fusion (q185) rides the same mask discipline as every other
    * consumer of the lexical family.
    */
  private[queries] def impactTopDocs(s: SparkSession, dir: String,
      qids: DataFrame): DataFrame =
    impactTopDocs(s, dir, qids, registryTomb(s, dir))

  /** The EXTERNAL-query impact-ordered serve — q182 for a literal
    * (qid BIGINT, qtext STRING) relation (the [[bm25TopDocsFor]]
    * contract for the approximate road; RetrievalSpec pins it equal to
    * q182 on the sampled documents' own texts; `graft_impact` serves it
    * in SQL).
    */
  def impactTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    impactTopDocsForQ(s, dir, qtexts, registryTomb(s, dir))

  private def impactTopDocsForQ(s: SparkSession, dir: String,
      qtexts: DataFrame,
      tomb: Option[graft.StagedTombstones.DocTomb]): DataFrame =
    bm25RankCut(bm25Score(impactStageFor(s, dir, qtexts, tomb)))

  /** The EXTERNAL-query BM25 serve — the q148 ranking for a literal
    * (qid BIGINT, qtext STRING) relation (an ad-hoc query string, a
    * query log, anything NOT sampled from the corpus), and the plan
    * `graft_bm25('qview')` serves in SQL ([[graft.SqlCatalog]]). Same
    * staged index, same integer arithmetic, same per-query cap and cut,
    * same takedown mask — RetrievalSpec pins it equal to q148 when fed
    * the sampled documents' own texts.
    */
  def bm25TopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    bm25RankCut(bm25ScoredDocsFor(s, dir, qtexts))

  private[queries] def bm25ScoredDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    bm25Score(bm25StageFor(s, dir, qtexts, registryTomb(s, dir)))

  /** The frozen lexical statistics the streaming standing-query scorer
    * ([[graft.streaming.DocStream.bm25Scored]]) applies to arriving
    * documents: the quantized average document length and the bounded
    * (qid, term, idf_m) weighted-term table, BOTH from the batch corpus
    * via the SAME [[bm25Stage]] the batch serve runs — the frozen-
    * statistic dual discipline (q102/q109's shape: corpus-global stats
    * train batch-side, the stream applies them statelessly). The
    * collect is ≤ sample·cap rows by construction.
    */
  private[graft] def bm25FrozenStats(s: SparkSession, dir: String,
      qids: DataFrame): (Long, Seq[(Long, String, Long)]) = {
    val (_, _, qtIdf, a) = bm25Stage(s, dir, qids, registryTomb(s, dir))
    val terms = qtIdf.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    (a, terms)
  }

  /** Builds (once per session+dir) the STAGED positional postings —
    * the positional layer of the lexical index family
    * ([[ensureLexIndex]] holds the tf/dl/df layer): one (doc_id, term,
    * pos) row per token occurrence, hash-bucketed by TERM so a phrase
    * serve's candidate fetch bucket-prunes to the phrase's terms
    * exactly like the BM25 serve prunes its postings. Positions are the
    * tokenizer's 0-based offsets; only position DIFFERENCES enter any
    * operator (adjacency is base-free), so the base convention never
    * leaves this relation. The corpus pays ONE tokenize at build; every
    * phrase query in the session is a term-pruned bucketed scan.
    */
  private[graft] def ensurePosIndex(s: SparkSession, dir: String): String = {
    val posT = graft.Staged.name("lex_pos", dir)
    graft.Staged.ensure(s, posT)(
      stagePosFrom(s, Tables.wide(s, dir, "documents"), posT))
    posT
  }

  /** The positional staging body over an explicit documents relation —
    * [[ensurePosIndex]]'s build, factored for the appended demo family
    * (q189). Corpus-adaptive layout from the relation's own count (the
    * ensureLexIndex discipline): the positional table is the largest of
    * the lexical family (one row per token OCCURRENCE), so a pinned
    * count is where a fixed layout hurts first.
    */
  private def stagePosFrom(s: SparkSession, docs: DataFrame,
      posT: String): Unit = {
    val pos = docs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .select("doc_id", "term", "pos")
      .persist() // staging scaffolding only — released before return
    graft.Bucketing.stage(pos, posT,
      "term", graft.Bucketing.bucketCountFor(pos.count()))
    pos.unpersist()
  }

  /** The positional layer's append — positions are per-document rows
    * (only position DIFFERENCES enter any operator, so the 0-based
    * per-doc offsets never interact across documents): a delta corpus's
    * rows APPEND as hash-placed bucket files exactly like the postings'
    * ([[appendLexIndex]]), and the appended table equals a fresh full
    * staging row-for-row — q189's oracle is q154's text verbatim.
    */
  private[graft] def appendPosIndex(s: SparkSession, posT: String,
      deltaDocs: DataFrame): Unit = {
    val nb = s.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(posT))
      .bucketSpec.map(_.numBuckets).getOrElse(8)
    deltaDocs
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .select("doc_id", "term", "pos")
      .repartition(nb, col("term"))
      .write.insertInto(posT)
  }

  /** The phrase/proximity query table — the first `k` tokens of each
    * query document's text as columns t1..tk (queries with fewer than
    * `k` tokens have no phrase and serve nothing; null/empty text falls
    * out of the same cut). ≤ |sample| rows, the broadcast side of every
    * positional serve.
    */
  private def phraseQueries(s: SparkSession, dir: String,
      qids: DataFrame, k: Int): DataFrame =
    phraseTableFor(corpusQTexts(s, dir, qids), k)

  /** The (qid, t1..tk) phrase table of a (qid, qtext) relation — the
    * first `k` tokens of each query string (sub-k queries have no
    * phrase and serve nothing; null/empty text falls out of the same
    * cut). ONE definition for the corpus-sampled and external roads.
    */
  private def phraseTableFor(qtexts: DataFrame, k: Int): DataFrame =
    qtexts
      .select(col("qid"), tokens(col("qtext")).as("tk"))
      .filter(size(col("tk")) >= k)
      .select(col("qid") +:
        (1 to k).map(i => element_at(col("tk"), i).as(s"t$i")): _*)

  /** The bounded driver read that buys the positional prune (q148's
    * discipline): the ≤ k·|sample| distinct phrase terms.
    */
  private def phraseTerms(qp: DataFrame, k: Int): Array[Any] =
    qp.select(explode(array((1 to k).map(i => col(s"t$i")): _*)).as("t"))
      .distinct().collect().map(_.getString(0))

  /** A defined empty serve with the positional-family contract schema
    * (degenerate corpus: no query has a phrase), not an empty-IN plan.
    */
  private def emptyPhraseServe(qids: DataFrame, cnt: String): DataFrame =
    qids.select(col("qid"), lit(0L).as("rnk"),
      lit(0L).as("doc_id"), lit(0L).as(cnt)).limit(0)

  /** Exact-phrase ranked retrieval — the positional member of the
    * lexical serve family (BM25 ranks bags of terms; a quoted query
    * must rank ADJACENCY, which tf postings structurally cannot see).
    * Each query in `qids` (the q148 sample contract: a bigint `qid`
    * column naming a corpus document) contributes the first `k` tokens
    * of its text as the quoted phrase; documents rank by occurrence
    * count of that exact k-gram (overlapping occurrences count — both
    * engines count position tuples), top [[Bm25TopK]] per query, ties
    * to doc_id. Queries with fewer than `k` tokens (null/empty text
    * included) have no phrase and serve nothing — the oracle mirrors
    * the same cut. q154 runs the bigram; q158 the trigram — ONE fold,
    * any quoted length.
    *
    * Plan shape (the positional-index discipline): the phrase table is
    * ≤ |sample| rows and BROADCAST; ONE bounded driver read of its
    * distinct terms buys a LITERAL-IN bucket prune on the staged
    * positional postings ([[ensurePosIndex]]); the adjacency test is a
    * fold of k−1 EQUI-joins of the pruned postings with themselves on
    * (doc_id, term, pos + i) — work ∝ postings of the phrase terms,
    * never the corpus, and a phrase with ANY rare term prunes the whole
    * chain to that term's postings; the per-query cut is a
    * qid-partitioned window (WindowGroupLimit). No corpus-wide sort, no
    * documents scan in the serve stage.
    */
  /** The adjacency fold + per-query cut over an already-pruned
    * positional relation `post(doc_id, term, pos)` and a broadcastable
    * phrase table `qp(qid, t1..tk)` — ONE implementation shared by the
    * staged-index serve ([[phraseTopDocs]]) and the accumulated
    * streaming index's serve ([[graft.streaming.LexStream]]): token i of
    * the phrase must sit at pos + (i−1); each fold step consumes one t_i
    * column and keeps the anchor (qid, doc_id, pos).
    */
  /** The raw adjacency matches — one (qid, doc_id, pos) anchor row per
    * phrase occurrence (the fold itself; both cuts below aggregate it).
    */
  private def phraseAdjacencyMatches(post: DataFrame, qp: DataFrame,
      k: Int): DataFrame = {
    val lead = post.join(broadcast(qp), col("term") === col("t1"))
      .select(col("qid") +: col("doc_id") +: col("pos") +:
        (2 to k).map(i => col(s"t$i")): _*)
    (2 to k).foldLeft(lead) { (acc, i) =>
      val next = post.select(col("doc_id").as("doc_n"),
        col("term").as("term_n"), col("pos").as("pos_n"))
      acc.join(next, col("doc_n") === col("doc_id") &&
          col("term_n") === col(s"t$i") &&
          col("pos_n") === col("pos") + (i - 1))
        .drop("doc_n", "term_n", "pos_n", s"t$i")
    }
  }

  private[graft] def phraseAdjacencyTopDocs(post: DataFrame, qp: DataFrame,
      k: Int): DataFrame =
    topPerQid(phraseAdjacencyMatches(post, qp, k)
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("phrase_tf")),
      "phrase_tf", Bm25TopK, "qid", "rnk", "doc_id", "phrase_tf")

  /** q161: the phrase serve with the SNIPPET ANCHOR — the q154 ranking
    * plus each hit's first occurrence offset (min anchor position,
    * 0-based token offset into the document), the number a result
    * renderer needs to cut the keyword-in-context window without
    * re-reading the document text. Offsets are the one place the
    * positional base LEAVES the index, so the convention is pinned
    * here: 0-based (the tokenizer's own), oracle shifts its 1-based
    * ranges down. Same pruned inputs, same fold, ONE extra min in the
    * same aggregate — the serve pays nothing for the snippet.
    */
  /** The snippet fold over an already-pruned positional relation — the
    * [[phraseAdjacencyTopDocs]] aggregate plus the min first-occurrence
    * anchor, shared by the corpus-sampled and external-query serves.
    */
  private def phraseSnippetFold(post: DataFrame, qp: DataFrame,
      k: Int): DataFrame =
    topPerQid(phraseAdjacencyMatches(post, qp, k)
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("phrase_tf"),
          min("pos").cast("long").as("first_pos")),
      "phrase_tf", Bm25TopK, "qid", "rnk", "doc_id", "phrase_tf", "first_pos")

  /** ONE positional-family serve body for both query roads: build the
    * phrase table, collect its bounded term set, prune the masked
    * positional index, fold. `fold` is the family member (adjacency
    * top-k, snippet fold, proximity fold); `empty` the member's defined
    * empty serve for phrase-less query sets.
    */
  private def positionalServe(s: SparkSession, dir: String, qp: DataFrame,
      k: Int, empty: => DataFrame)(
      fold: (DataFrame, DataFrame) => DataFrame): DataFrame =
    positionalServeOver(posRead(s, dir, registryTomb(s, dir)), qp, k,
      empty)(fold)

  /** The positional serve skeleton over an EXPLICIT (masked) positional
    * relation — the [[lexStageOver]] factoring for the positional
    * family, so the appended demo family (q189) serves through the
    * identical term-pruned definition.
    */
  private def positionalServeOver(posRel: DataFrame, qp: DataFrame,
      k: Int, empty: => DataFrame)(
      fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val terms = phraseTerms(qp, k)
    if (terms.isEmpty) empty
    else fold(posRel.filter(col("term").isin(terms: _*)), qp)
  }

  private def emptySnippetServe(qids: DataFrame): DataFrame =
    qids.select(col("qid"), lit(0L).as("rnk"), lit(0L).as("doc_id"),
      lit(0L).as("phrase_tf"), lit(0L).as("first_pos")).limit(0)

  private[queries] def phraseSnippetTopDocs(s: SparkSession, dir: String,
      qids: DataFrame, k: Int = 2): DataFrame =
    positionalServe(s, dir, phraseQueries(s, dir, qids, k), k,
      emptySnippetServe(qids))(phraseSnippetFold(_, _, k))

  /** External-query snippet serve (q161 for a literal (qid, qtext)
    * relation — the [[bm25TopDocsFor]] contract for the snippet member).
    */
  def phraseSnippetTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame, k: Int = 2): DataFrame =
    positionalServe(s, dir, phraseTableFor(qtexts, k), k,
      emptySnippetServe(qtexts))(phraseSnippetFold(_, _, k))

  private[queries] def phraseTopDocs(s: SparkSession, dir: String,
      qids: DataFrame, k: Int = 2): DataFrame = {
    require(k >= 2, s"a phrase needs at least two tokens, got $k")
    positionalServe(s, dir, phraseQueries(s, dir, qids, k), k,
      emptyPhraseServe(qids, "phrase_tf"))(phraseAdjacencyTopDocs(_, _, k))
  }

  /** External-query exact-phrase serve (q154 at k = 2, q158 at k = 3,
    * any quoted length — the [[bm25TopDocsFor]] contract for the phrase
    * member: each query string's first `k` tokens are the quoted
    * phrase).
    */
  def phraseTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame, k: Int = 2): DataFrame = {
    require(k >= 2, s"a phrase needs at least two tokens, got $k")
    positionalServe(s, dir, phraseTableFor(qtexts, k), k,
      emptyPhraseServe(qtexts, "phrase_tf"))(phraseAdjacencyTopDocs(_, _, k))
  }

  /** The frozen standing-phrase set the streaming phrase scorer
    * ([[graft.streaming.DocStream.phraseScored]]) applies to arrivals —
    * each sampled query's first `k` tokens, extracted through the SAME
    * [[phraseQueries]] the batch serve stages (sub-k queries fall out of
    * the same cut), ≤ |sample| rows collected. The
    * [[bm25FrozenStats]] posture for the positional family.
    */
  private[graft] def phraseFrozen(s: SparkSession, dir: String,
      qids: DataFrame, k: Int = 2): Seq[(Long, Seq[String])] =
    phraseQueries(s, dir, qids, k).collect()
      .map(r => r.getLong(0) -> (1 to k).map(i => r.getString(i)).toSeq)
      .sortBy(_._1).toSeq

  /** q159's proximity window: "t2 within this many tokens AFTER t1" —
    * the standard ordered-slop operator (w = 1 degenerates to the exact
    * bigram, pinned by RetrievalSpec).
    */
  private[graft] val ProxWindow = 5L

  /** Within-N-tokens proximity retrieval — the relaxation sitting
    * between the bag model (q148: anywhere in the document) and the
    * exact phrase (q154/q158: adjacent): each query contributes its
    * first two tokens, and documents rank by the count of ordered
    * position pairs where t2 follows t1 within `win` tokens
    * (1 ≤ p2 − p1 ≤ win; every qualifying pair counts, both engines).
    * Top [[Bm25TopK]] per query, ties to doc_id; sub-two-token queries
    * serve nothing (the phrase family's cut).
    *
    * Plan shape: identical to [[phraseTopDocs]] except the adjacency
    * equality relaxes to a range residual — the join still keys on the
    * (doc_id) equi component over term-pruned postings, so the range
    * never touches more than the phrase terms' postings.
    */
  /** The ordered-slop fold over an already-pruned positional relation —
    * shared by the corpus-sampled and external-query proximity serves.
    */
  private def proximityFold(post: DataFrame, qp: DataFrame,
      win: Long): DataFrame = {
    val lead = post.join(broadcast(qp), col("term") === col("t1"))
      .select(col("qid"), col("doc_id"), col("pos"), col("t2"))
    val next = post.select(col("doc_id").as("doc_n"),
      col("term").as("term_n"), col("pos").as("pos_n"))
    topPerQid(lead.join(next, col("doc_n") === col("doc_id") &&
          col("term_n") === col("t2") &&
          col("pos_n") > col("pos") && col("pos_n") <= col("pos") + win)
        .groupBy("qid", "doc_id").agg(count(lit(1)).as("prox_tf")),
      "prox_tf", Bm25TopK, "qid", "rnk", "doc_id", "prox_tf")
  }

  private[queries] def proximityTopDocs(s: SparkSession, dir: String,
      qids: DataFrame, win: Long = ProxWindow): DataFrame = {
    require(win >= 1, s"proximity window must be positive, got $win")
    positionalServe(s, dir, phraseQueries(s, dir, qids, 2), 2,
      emptyPhraseServe(qids, "prox_tf"))(proximityFold(_, _, win))
  }

  /** External-query proximity serve (q159 for a literal (qid, qtext)
    * relation — t2 within `win` tokens after t1, both from the query
    * string's first two tokens).
    */
  def proximityTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame, win: Long = ProxWindow): DataFrame = {
    require(win >= 1, s"proximity window must be positive, got $win")
    positionalServe(s, dir, phraseTableFor(qtexts, 2), 2,
      emptyPhraseServe(qtexts, "prox_tf"))(proximityFold(_, _, win))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // language-ID: stopword-hit argmax with fixed tie-break priority
    "q17_lang_id" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val scores = langScores(toks)
      val Seq(en, es, de, fr) = scores.map(_._2)
      Tables(s, dir, "documents").select(
        col("doc_id"),
        en.as("s_en"), es.as("s_es"), de.as("s_de"), fr.as("s_fr"),
        when(en >= greatest(es, de, fr), "en")
          .when(es >= greatest(de, fr), "es")
          .when(de >= fr, "de")
          .otherwise("fr").as("lang_guess"))
    }),

    // quality scoring: length/punct/stopword ratios, all int-derived
    // doubles. Ratios are guarded against empty documents (nChars/nTok =
    // 0 ⇒ NULL, mirrored in the oracle): under Spark 4's default ANSI
    // mode an unguarded divide KILLS the job on the first empty doc —
    // the row-3-billion failure mode DegenerateTextSpec pins down.
    "q18_quality_score" -> ((s, dir) => {
      val t = trim(col("text"))
      val toks = tokens(col("text"))
      val nTok = size(toks).cast("long")
      val nChars = length(t).cast("long")
      val alnumSpace = length(regexp_replace(t, "[^a-zA-Z0-9 ]", "")).cast("long")
      val stops = stopwordHits(toks, stopwordsByLang.head._2)
      val stopRatio = when(nTok > 0,
        stops.cast("double") / nTok.cast("double")).otherwise(lit(null))
      val punctRatio = when(nChars > 0,
        (nChars - alnumSpace).cast("double") / nChars.cast("double")).otherwise(lit(null))
      val lenScore = least(lit(1.0), nTok.cast("double") / lit(50.0))
      Tables(s, dir, "documents").select(
        col("doc_id"), nTok.as("n_tokens"), nChars.as("n_chars"),
        stopRatio.as("stopword_ratio"), punctRatio.as("punct_ratio"),
        (stopRatio * lit(0.4) + lenScore * lit(0.6)).as("quality"))
    }),

    // token counting: whitespace + BPE-ish regex tokens
    "q19_token_count" -> ((s, dir) => {
      Tables(s, dir, "documents").select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        regexTokenCount(col("text")).as("n_re_tokens"))
    }),

    // document fingerprint: min portable-hash over char 8-shingles
    "q20_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents").select(
        col("doc_id"),
        array_min(transform(charShingles(col("text"), 8),
          s => portableHash(s))).as("fingerprint"))
    }),

    // exact dedup: keep min doc_id per content hash
    "q21_dedup_exact" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
        .select("keep_id", "n_dups")
    }),

    // near-dup by word-3gram Jaccard, candidates via shared word-6gram.
    // Shingles are hashed to 64-bit ints first (standard shingle hashing):
    // join keys and the per-pair intersections compare longs, not ~40-char
    // gram strings — at corpus scale that's the difference between an
    // integer shuffle and a string shuffle. The oracle hashes identically,
    // so counts match exactly (a 32-bit collision would merge the same
    // pair of grams in both engines).
    "q22_ngram_jaccard" -> ((s, dir) => {
      val (docs, cand) = gramPairStage(s, dir)
      val withSets = cand
        .join(docs.select(col("doc_id").as("doc_a"), col("g3").as("ga")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("g3").as("gb")), "doc_b")
      withSets
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
        .withColumn("uni",
          size(col("ga")).cast("long") + size(col("gb")).cast("long") - col("inter"))
        .withColumn("jaccard", col("inter").cast("double") / col("uni").cast("double"))
        .filter(col("jaccard") >= 0.2)
        .select("doc_a", "doc_b", "inter", "uni", "jaccard")
    }),

    // asymmetric gram containment — the sub-document duplication signal
    // symmetric Jaccard (q22) structurally misses: a 10-gram snippet
    // quoted inside a 1000-gram page has Jaccard ~0.01 (never clears any
    // symmetric bar) but containment 1.0. Per DIRECTED pair where ≥
    // [[ContainPm]]‰ of the inner doc's distinct 3-grams appear in the
    // outer doc: the boilerplate-envelope / quoted-snippet / subset-page
    // detector a scrub pipeline runs beside the near-dup pass. The SAME
    // [[gramPairStage]] candidates (capped 6-gram equi-join — a
    // contained doc shares all its 6-grams, so true subsets always
    // collide; work ∝ collisions, never n²), one intersection per
    // UNORDERED pair, then both directions emitted from the same row
    // (an inline explode, no second join or re-intersection). Integer
    // per-mille on the exact gram counts — cross-engine hash-exact.
    "q125_gram_containment" -> ((s, dir) => {
      val (docs, cand) = gramPairStage(s, dir)
      val withSets = cand
        .join(docs.select(col("doc_id").as("doc_a"), col("g3").as("ga")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("g3").as("gb")), "doc_b")
        .withColumn("inter", size(array_intersect(col("ga"), col("gb"))).cast("long"))
        .select(col("doc_a"), col("doc_b"), col("inter"),
          size(col("ga")).cast("long").as("na"),
          size(col("gb")).cast("long").as("nb"))
      withSets
        .select(explode(array(
          struct(col("doc_a").as("inner_doc"), col("doc_b").as("outer_doc"),
            col("inter"), col("na").as("n_inner")),
          struct(col("doc_b").as("inner_doc"), col("doc_a").as("outer_doc"),
            col("inter"), col("nb").as("n_inner")))).as("e"))
        .select("e.*")
        // a div n ≥ k ⟺ a ≥ k·n for positive ints — candidates imply
        // ≥ 6 tokens, so n_inner ≥ 4 > 0
        .filter(col("inter") * 1000L >= lit(ContainPm) * col("n_inner"))
        .withColumn("containment_pm",
          expr("CAST((inter * 1000) div n_inner AS BIGINT)"))
    }),

    // corpus vocabulary: top-20 tokens by document frequency. The corpus-
    // statistics shape: explode distinct tokens (narrow) → two-phase count
    // (ONE shuffle on the token) → TakeOrdered top-k with a total
    // tie-break. At 100 TB this is the plan you want verbatim: the
    // explode is map-side, the count combines before the exchange, and
    // no global sort ever materializes.
    "q40_vocab_topk" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(array_distinct(tokens(col("text")))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("doc_freq"))
        .orderBy(desc("doc_freq"), asc("token"))
        .limit(20)
    }),

    // tokenizer training — the first [[BpeRounds]] rows of a byte-pair-
    // encoding merge table over the corpus vocabulary: each round finds
    // the most frequent adjacent symbol pair (weighted by word
    // frequency, ties to the lexicographically first pair) and merges
    // it greedily left-to-right in every word. BPE trains on the
    // word-frequency table, so the corpus collapses to ONE vocabulary
    // shuffle up front; each round is then a narrow re-split + a
    // map-side-combined SUM + a TakeOrdered(1) argmax — the driver
    // reads exactly one row per round (the q58 bounded-read
    // discipline). The symbol sequence is a string with EVERY symbol
    // individually enclosed in \u0001 delimiters (<D>a<D><D>b<D>), so
    // one plain single-pass `replace` of <D>a<D><D>b<D> with <D>ab<D>
    // IS the greedy non-overlapping merge: matches cannot share a
    // boundary (each symbol owns its delimiters), a pair cannot match a
    // longer symbol's prefix (the trailing <D> is in the search), and
    // both engines' replace scans left-to-right without rescanning
    // replacements — the oracle runs literally the same algorithm on
    // the same strings.
    "q87_bpe_merges" -> ((s, dir) => {
      import s.implicits._
      val (merges, _) = bpeTrain(bpeVocab(s, dir), BpeRounds)
      // the merge table is ≤ BpeRounds rows BY CONSTRUCTION — the one
      // legitimately driver-built result in the suite (like q12's
      // one-row cursor), produced from the bounded per-round argmaxes
      merges.toDF("round", "lhs", "rhs", "n")
    }),

    // apply the trained tokenizer — encode every document under q87's
    // merge table and emit per-doc trained-vocab token counts, the token
    // unit a real pipeline packs/budgets/chunks in. Encoding happens on
    // the VOCABULARY (each distinct word pays the replace chain ONCE —
    // [[bpeTrain]]'s final representation over the word-frequency
    // relation, never per occurrence), then a fact⋈dim equi-join
    // stitches per-word token counts back to the corpus words and one
    // map-side-combined SUM folds them per document — the q88 two-join
    // shape. The left join re-admits documents whose words all vanish
    // (none at this corpus; belt and braces at any).
    "q90_bpe_encode" -> ((s, dir) => {
      val (_, rep) = bpeTrain(bpeVocab(s, dir), BpeRounds)
      val wt = rep.select(col("word"),
        size(filter(split(col("s"), BpeD), x => x =!= ""))
          .cast("long").as("w_toks"))
      val perDoc = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .join(wt, Seq("word"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("w_toks").as("n_bpe_tokens"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_words"), lit(0L)).as("n_words"),
          coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
    }),

    // tokenizer fertility card — the evaluation a tokenizer owner reads
    // before shipping a vocab: per source, how many trained-vocab tokens
    // each whitespace word costs (fertility, integer per-mille — a
    // vocabulary trained on one source mix inflates token budgets on
    // another; sources whose fertility diverges are the ones the next
    // training round re-mixes over). q90's encode verbatim (the SAME
    // vocabulary-first chain — the card audits THE tokenizer, not a
    // reimplementation) restricted to tokenizable docs, one source
    // equi-join, ONE map-combined aggregate to ≤ |sources| rows; the
    // per-mille floor-divide runs on the exact long sums, so the card
    // cross-engine hash-matches (a float ratio could not).
    "q126_tokenizer_fertility" -> ((s, dir) => {
      val enc = queries("q90_bpe_encode")(s, dir).filter(col("n_words") > 0)
      Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(enc, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_words").as("n_words"),
          sum("n_bpe_tokens").as("n_bpe_tokens"))
        .withColumn("fertility_pm", fertilityPm)
    }),

    // per-source lexical diversity — the distinct-n card (the text-gen
    // diversity metric applied to a corpus): of each source's word
    // 3-grams, how many are distinct (a low ratio = templated /
    // boilerplate-heavy source — the mixture signal BESIDE volume: a
    // big source of repeated grams carries less signal than its token
    // mass suggests). Grams hash to 32-bit ints first (integer shuffle,
    // the q22 convention; collisions merge identically in both
    // engines); ONE two-phase distinct-count agg on (source, gram),
    // per-mille on the exact longs.
    // Split shape (measured 2.6 s → the sha is the CPU, the q99 note):
    // the TOTAL needs no hashing at all — it is one narrow sum of array
    // sizes — and only the per-doc DISTINCT grams pay the sha before
    // the corpus-level distinct (per-doc dedup commutes with corpus
    // dedup), so the hash count drops to the unique-per-doc mass.
    "q140_source_diversity" -> ((s, dir) => {
      // the totals side needs only the COUNT of word 3-grams — which is
      // max(0, n_tokens − 2) by definition — never the gram STRINGS, so
      // it is a narrow integer aggregate over the token count. The old
      // form persisted the full gram arrays to share them between the
      // two sides; materializing corpus-sized string arrays to read ONE
      // size per row cost more than the second tokenize it saved (a
      // null condition falls to otherwise(0), matching the old
      // coalesce-on-null-text convention).
      val totals = Tables(s, dir, "documents")
        .select(col("source"),
          when(size(tokens(col("text"))) >= 3,
            size(tokens(col("text"))) - 2).otherwise(0)
            .cast("long").as("ng"))
        .groupBy("source").agg(sum("ng").as("n_grams"))
      val distinct = Tables.wide(s, dir, "documents")
        .select(col("source"),
          explode(array_distinct(wordNgrams(tokens(col("text")), 3)))
            .as("gstr"))
        .select(col("source"), portableHash(col("gstr")).as("g"))
        .groupBy("source")
        .agg(countDistinct("g").as("n_distinct"))
      // inner join: a gram-less source has no distinct row and is
      // absent, exactly as the oracle's GROUP BY over zero rows
      totals.join(distinct, Seq("source"))
        .withColumn("distinct_pm",
          expr("CAST((n_distinct * 1000) div n_grams AS BIGINT)"))
    }),

    // per-source PII incidence — the privacy card beside q80's profile:
    // how many of each source's documents carry emails / URLs / IPs,
    // and the clean share (the number a release review reads before
    // shipping a source; q50 scans per doc, q51 scrubs — this is the
    // per-stratum exposure report that decides WHICH sources need the
    // scrub pass at all). q50's verdicts verbatim (the card audits THE
    // scanner), one source equi-join, ONE map-combined agg to
    // ≤ |sources| rows.
    "q141_pii_incidence" -> ((s, dir) => {
      val scan = queries("q50_pii_scan")(s, dir)
      Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(scan, Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") > 0, 1L).otherwise(0L)).as("n_email_docs"),
          sum(when(col("n_urls") > 0, 1L).otherwise(0L)).as("n_url_docs"),
          sum(when(col("n_ips") > 0, 1L).otherwise(0L)).as("n_ip_docs"),
          sum(when(col("clean"), 1L).otherwise(0L)).as("n_clean"))
        .withColumn("clean_pm",
          expr("CAST((n_clean * 1000) div n_docs AS BIGINT)"))
    }),

    // language-ID evaluation — the labeled-corpus confusion card for
    // the q17 classifier: documents carry a lang LABEL, q17 guesses
    // one; per (label, guess) cell the doc count and the within-label
    // per-mille share (the diagonal is recall — the number an operator
    // owner watches before trusting q17's verdicts to route a corpus).
    // The classifier under audit is q17 ITSELF (shared derivation, not
    // a reimplementation); ONE map-combined agg to ≤ |langs|² rows, the
    // share over a matrix-sized window.
    "q135_langid_confusion" -> ((s, dir) => {
      val guesses = queries("q17_lang_id")(s, dir)
        .select(col("doc_id"), col("lang_guess"))
      val w = Window.partitionBy("lang")
      Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(guesses, Seq("doc_id"))
        .groupBy("lang", "lang_guess").agg(count(lit(1)).as("n_docs"))
        .withColumn("lang_total", sum("n_docs").over(w))
        .withColumn("share_pm",
          expr("CAST((n_docs * 1000) div lang_total AS BIGINT)"))
        .select("lang", "lang_guess", "n_docs", "share_pm")
    }),

    // banded-sketch precision audit — does "simhash hamming ≤ 8"
    // actually mean near-duplicate HERE? Per hamming value: the q27
    // pair count and how many of those pairs the exact 3-gram Jaccard
    // (q22's ≥ 0.2 bar) confirms — the calibration curve that tells an
    // operator owner where to set the hamming cut for THIS corpus
    // (q116 reads band mechanics; this reads the sketch's semantic
    // precision). Both inputs are the shared audited pair generators;
    // the stitch is one ordered-pair-key left join + ONE map-combined
    // agg to ≤ 9 rows.
    "q136_sketch_precision" -> ((s, dir) => {
      val sim = Similarity.queries("q27_simhash_pairs")(s, dir)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
      val jac = queries("q22_ngram_jaccard")(s, dir)
        .select(col("doc_a"), col("doc_b"), lit(1).as("cj"))
      sim.join(jac, Seq("doc_a", "doc_b"), "left")
        .groupBy("hamming")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("cj").isNotNull, 1L).otherwise(0L)).as("n_confirmed"))
    }),

    // per-document repetition ratio: 1 − |distinct 2-grams|/|2-grams| —
    // the standard repeated-text corpus-quality signal. Narrow per-row
    // array ops, zero shuffles; the ratio guards empty/short docs (ANSI).
    "q41_repetition" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), wordNgrams(col("tk"), 2).as("g2"))
        .select(col("doc_id"),
          size(col("g2")).cast("long").as("n_g2"),
          size(array_distinct(col("g2"))).cast("long").as("n_distinct"))
        .withColumn("repetition",
          when(col("n_g2") > 0, lit(1.0) -
            col("n_distinct").cast("double") / col("n_g2").cast("double"))
            .otherwise(lit(null)))
    }),

    // duplicate n-gram coverage — the corpus-INTERNAL duplication signal
    // behind exact-substring dedup decisions (the Dolma/RedPajama-style
    // "fraction of this document that also appears elsewhere" quality
    // column): per document, the share of its DISTINCT word 5-grams that
    // occur in at least one OTHER document. q41 measures repetition
    // inside a document; this measures it across the corpus — the pair
    // q22/q25 act on, reduced to a per-doc scalar a curation filter can
    // threshold. Plan shape at 100 TB: grams are hashed to 60 bits
    // BEFORE the shuffle (15-byte keys, not gram strings; 32 bits would
    // collide at corpus gram counts and inflate sharing), the gram-
    // frequency aggregate is two-phase, and per-doc distinctness makes
    // count(*) the document frequency with no count-distinct state. A
    // stopword-run gram shared by millions of docs is a hot key in the
    // stitch-back join — AQE skew-split territory, same class as q22's
    // capped buckets.
    "q71_dup_ngrams" -> ((s, dir) => {
      // the q22 discipline: materialize the hashed gram sets BEFORE the
      // explode — without the barrier, CollapseProject folds the
      // tokenizer into the Generate and re-runs the regex split per
      // emitted gram (measured 22 s for 250k grams at sf0.1 vs ~1 s
      // materialized; PERF.md #2's trap in Generate form)
      val grams = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), array_distinct(wordNgrams(col("tk"), 5)).as("g5s"))
        .select(col("doc_id"),
          transform(col("g5s"), g => portableHash60(g)).as("g5h"))
        .persist()
      val expl = grams.select(col("doc_id"), explode(col("g5h")).as("h"))
      val shared = expl
        .join(expl.groupBy("h").agg(count(lit(1)).as("n_docs"))
            .filter(col("n_docs") >= 2),
          Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared0"))
      grams.select(col("doc_id"), size(col("g5h")).cast("long").as("n_g5"))
        .join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_g5"),
          coalesce(col("n_shared0"), lit(0L)).as("n_shared"),
          when(col("n_g5") > 0,
            coalesce(col("n_shared0"), lit(0L)).cast("double")
              / col("n_g5").cast("double")).as("dup_frac"))
    }),

    // longest duplicated PASSAGE — the positional sharpening of q71:
    // q71 reports what FRACTION of a doc's grams exist elsewhere; this
    // reports the longest CONSECUTIVE run of corpus-shared 5-gram
    // positions (a run of L shared grams ≈ an L+4-word duplicated
    // passage) — the signal behind exact-substring dedup decisions
    // (Lee et al.-style): a doc 20% duplicated in one contiguous block
    // is a copy-paste; 20% scattered singles is just common phrasing.
    // Plan at 100 TB: doc frequency is q71's two-phase agg over 60-bit
    // hashes of per-doc DISTINCT grams (a doc repeating itself is not
    // "shared"); shared POSITIONS come from one semi-join of the
    // positional explode against the DF≥2 keys; the run length is the
    // gaps-and-islands window (pos − row_number) PARTITIONED BY doc —
    // each window sees only one doc's shared positions, never a
    // corpus-wide sort.
    "q94_dup_passage" -> ((s, dir) => {
      // positional gram hashes, materialized (the q71/q22 Generate
      // discipline — they feed the DF agg, the positional explode, and
      // the final length projection)
      val pg = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), wordNgrams(col("tk"), 5).as("g5s"))
        .select(col("doc_id"),
          transform(col("g5s"), g => portableHash60(g)).as("g5h"))
        .persist()
      val shared = pg
        .select(col("doc_id"), explode(array_distinct(col("g5h"))).as("h"))
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("h")
      val sharedPos = pg
        .select(col("doc_id"), posexplode(col("g5h")).as(Seq("pos", "h")))
        .join(shared, Seq("h"), "left_semi")
        .select(col("doc_id"), col("pos"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val runs = sharedPos
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
        .groupBy("doc_id").agg(max("run").as("longest0"))
      pg.select(col("doc_id"), size(col("g5h")).cast("long").as("n_g5"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_g5"),
          coalesce(col("longest0"), lit(0L)).as("longest_run"),
          when(coalesce(col("longest0"), lit(0L)) > 0,
            coalesce(col("longest0"), lit(0L)) + lit(4L))
            .otherwise(lit(0L)).as("passage_tokens"))
    }),

    // winnowing fingerprint overlap — the positional robust-hash member
    // of the near-dup family (Schleimer et al.'s MOSS scheme): hash every
    // char 8-shingle, slide a [[WinnowWindow]]-wide window over the
    // positional hash sequence, keep each window's MIN — the selected
    // (distinct) mins are the fingerprint, with the winnowing guarantee
    // that any copied substring of ≥ window+shingle−1 = 11 chars yields
    // a shared fingerprint in both docs. Where q20 keeps ONE global min
    // (pure identity) and q25 keeps 12 seeded mins (set resemblance),
    // winnowing keeps ~n/window POSITION-LOCAL mins, so overlap COUNTS
    // localized plagiarism q25's corpus-level resemblance dilutes away.
    // Plan at 100 TB: fingerprints are narrow per-row; pairs come from
    // the q22 capped-bucket equi-join (work ∝ true fingerprint
    // collisions, never n²); each doc's fps are distinct, so the pair
    // count agg IS the intersection size — no per-pair set re-scan, no
    // candidate `distinct` shuffle.
    "q99_winnow_pairs" -> ((s, dir) => {
      // wide scan: per-shingle sha hashing is the CPU (the q53/q54 note)
      val docs = Tables.wide(s, dir, "documents")
        .select(col("doc_id"),
          transform(charShingles(col("text"), 8),
            sh => portableHash(sh)).as("h"))
        .select(col("doc_id"),
          array_distinct(
            when(size(col("h")) < WinnowWindow,
              array(array_min(col("h"))))
              .otherwise(transform(
                sequence(lit(1), size(col("h")) - lit(WinnowWindow - 1)),
                i => array_min(slice(col("h"), i, lit(WinnowWindow))))))
            .as("fps"))
        .persist() // feeds the key explode + the two size lookups
      val keys = docs.select(col("doc_id"), explode(col("fps")).as("f"))
      // the q22 bucket-frequency cap: a fingerprint shared by >cap docs
      // is a boilerplate window (discriminates nothing, costs O(cap²))
      val rare = keys.groupBy("f").agg(count(lit(1)).as("kc"))
        .filter(col("kc") <= MaxBucketDocs).select("f")
      val capped = keys.join(rare, Seq("f"), "left_semi")
      capped.alias("a").join(capped.alias("b"),
          col("a.f") === col("b.f") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
        .join(docs.select(col("doc_id").as("doc_a"),
          size(col("fps")).cast("long").as("na")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"),
          size(col("fps")).cast("long").as("nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_shared"),
          (col("n_shared").cast("double") /
            least(col("na"), col("nb")).cast("double")).as("overlap"))
        // report threshold (the q22 jaccard≥0.2 convention): below it,
        // shared fingerprints are common-phrase noise, and the report
        // would grow toward n² on templated corpora
        .filter(col("overlap") >= 0.2)
    }),

    // sliding-window retrieval chunking — the indexing-side prep of a
    // RAG pipeline: each document becomes overlapping [[ChunkWin]]-token
    // windows every [[ChunkStride]] tokens, each with a content hash (the
    // chunk's identity in a vector store — dedup and upsert key by it).
    // Narrow per-row explode, ZERO shuffles at any corpus size; output
    // is ~n/stride rows per doc. The q71/q22 Generate discipline: the
    // token arrays are materialized BEFORE the explode — un-persisted,
    // CollapseProject folds the tokenizer into the Generate and re-runs
    // the regex split per emitted chunk (PERF.md #2's trap).
    "q74_chunk_windows" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n"))
        .persist()
      chunkRows(t)
    }),

    // quality-rule filter: the published Gopher-style document heuristics
    // via the shared [[graft.functions.QualityRules]] Columns (ONE rule
    // definition for this oracle-checked operator and its streaming dual
    // — they cannot diverge). Zero shuffles; see QualityRules for the
    // determinism contract.
    "q45_quality_filter" -> ((s, dir) => {
      graft.functions.QualityRules.annotate(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .select("doc_id", "n_words", "mean_word_len", "frac_alpha",
          "n_stop_distinct", "pass")
    }),

    // Naive-Bayes quality classifier — classifier INFERENCE at corpus
    // scale, bootstrapped the way production quality models are: the
    // cheap rule gate (q45 — ONE definition, referenced not re-derived)
    // labels the corpus, a token-level model trains in ONE vocabulary
    // aggregate, and every document scores by the sum of its tokens'
    // add-one-smoothed class log-likelihood ratios. All integer (the
    // q61 binary-digit-count floor-log2 — libm never runs):
    // w(t) = bits(c1+1) − bits(T1+V) − bits(c0+1) + bits(T0+V), where
    // c1/c0 are t's occurrence counts in pass/fail docs, T1/T0 the
    // class token masses, V the vocabulary size; nb_score = Σ w over
    // the doc's token OCCURRENCES, nb_pass = score > 0. Emitting
    // gate_pass beside nb_pass makes the distillation fidelity
    // measurable downstream. Untokenizable (null-text) docs keep their
    // row with null model columns — the q18 convention.
    //
    // Shape at 100 TB: the exploded occurrences stage once (persist —
    // they feed training and scoring); training is one map-side-
    // combined vocabulary aggregate; the totals fold to a 1-row
    // broadcast; scoring is the q61 fact⋈vocab equi-join (hot keys are
    // AQE-skew territory, like any fact-dim join) + one map-combined
    // per-doc sum. Zero driver actions.
    "q166_nb_quality" -> ((s, dir) => {
      val lab = graft.functions.QualityRules.annotate(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("pass"))
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .persist() // released by the consumer's Caches.release hook
      val vc = t.join(lab, Seq("doc_id"))
        .groupBy("tok").agg(
          sum(when(col("pass"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("pass"), 0L).otherwise(1L)).as("c0"))
      val tot = vc.agg(sum("c1").as("t1"), sum("c0").as("t0"),
        count(lit(1)).as("v")) // 1 row, lazy
      def bits(e: String) = s"(length(conv($e, 10, 2)) - 1)"
      val w = vc.crossJoin(broadcast(tot))
        .select(col("tok"), expr(
          s"CAST(${bits("c1 + 1")} - ${bits("t1 + v")} - " +
            s"${bits("c0 + 1")} + ${bits("t0 + v")} AS BIGINT)").as("w"))
      val sc = t.join(w, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("w").as("nb_score"))
      lab.join(sc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("pass").as("gate_pass"),
          col("n_tokens"), col("nb_score"),
          when(col("n_tokens").isNotNull, col("nb_score") > 0).as("nb_pass"))
    }),

    // hashed-bucket NB classifier — q166 over a FIXED-SIZE statistic,
    // exactly the q109-beside-q106 relationship: tokens hash into
    // [[NbBuckets]] buckets, the weight table is ≤ NbBuckets rows AT
    // ANY CORPUS SIZE (broadcastable scoring stitch — q166's vocabulary
    // join can only shuffle), and the table COLLECTS into the frozen
    // 512 KiB vector the streaming dual applies to arrivals
    // ([[graft.streaming.DocStream.nbScored]] — the model serves a
    // stream the rule gate would have to re-derive per row). On a
    // collision-free vocabulary the bucket statistics coincide with
    // q166's exact ones (v = occupied buckets = |vocab|), so q168 ≡
    // q166 there — spec-pinned; under collisions weights blur exactly
    // as hashed classifiers accept.
    "q168_nb_hashed" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val lab = graft.functions.QualityRules.annotate(docs)
        .select(col("doc_id"), col("pass"))
      val bt = nbBucketTokens(docs)
        .persist() // feeds training AND the stitch; consumer releases
      nbScore(lab, bt, nbBucketWeights(bt, lab))
        .select(col("doc_id"), col("pass").as("gate_pass"),
          col("n_tokens"), col("nb_score"), col("nb_pass"))
    }),

    // PII-pattern scan: per-document counts of email / URL / IPv4-shaped
    // spans — the detection half of a scrubbing pass (redaction is the
    // same patterns through regexp_replace). Patterns stay inside the
    // Java-regex ∩ RE2 common syntax (no lookaround, no backrefs) so both
    // engines count identical spans. Narrow per-row, zero shuffles;
    // `clean` is the all-zero conjunction, null-coalesced like q45's pass.
    "q50_pii_scan" -> ((s, dir) => {
      def hits(pat: String) =
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long")
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          hits(PiiEmail).as("n_emails"),
          hits(PiiUrl).as("n_urls"),
          hits(PiiIp).as("n_ips"))
        .withColumn("clean", coalesce(
          col("n_emails") === 0 && col("n_urls") === 0 && col("n_ips") === 0,
          lit(false)))
    }),

    // PII redaction — the scrub half of q50: the same three patterns
    // through regexp_replace (all-occurrence semantics on both engines;
    // DuckDB needs the explicit 'g' flag), applied in a FIXED order
    // (email → URL → IP) with each pattern's count taken on the exact
    // intermediate its replace sees — so the counts are the replacement
    // counts and scan(redact(x)) is zero by construction (pinned in
    // PiiScanSpec). Narrow per-row, zero shuffles, like q50.
    "q51_pii_redact" -> ((s, dir) => {
      def hits(c: Column, pat: String) =
        size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("n_emails", hits(col("text"), PiiEmail))
        .withColumn("r1", regexp_replace(col("text"), PiiEmail, "[EMAIL]"))
        .withColumn("n_urls", hits(col("r1"), PiiUrl))
        .withColumn("r2", regexp_replace(col("r1"), PiiUrl, "[URL]"))
        .withColumn("n_ips", hits(col("r2"), PiiIp))
        .withColumn("redacted", regexp_replace(col("r2"), PiiIp, "[IP]"))
        .select("doc_id", "redacted", "n_emails", "n_urls", "n_ips")
    }),

    // per-document top-3 terms by tf-idf. The idf avoids ln() — libm vs
    // JVM log differ by ulps across engines — by ranking on the exact
    // rational tf·N/df realized as ONE IEEE division of exactly-
    // representable int64s (identical in any engine). Shape: explode →
    // two-phase (doc,term) count → term-keyed df count reusing the same
    // relation → equi-join on term → per-doc window top-3. Every shuffle
    // is on the key it aggregates (term) or ranks (doc_id); nothing
    // corpus-sized is ever broadcast.
    "q46_tfidf_top_terms" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val n = docs.count() // corpus size: one count(*), baked as a literal
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .persist() // feeds the df aggregate AND the join below
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id")
        .orderBy(desc("score"), asc("term"))
      tf.join(df, "term")
        .withColumn("score",
          (col("tf") * lit(n)).cast("double") / col("df").cast("double"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score")
    }),

    // lexical ranked retrieval — BM25 top-10 documents per text query,
    // the missing half of the RAG read path beside the vector serve
    // (q122): all scoring/plan detail in [[bm25TopDocs]]. Queries are a
    // corpus-adaptive modulus sample of the documents themselves (~8 at
    // any scale — the q95/q122 sampling discipline), so the batch shape
    // is the production one: many queries, ONE tf/postings build.
    "q148_bm25_topk" -> ((s, dir) =>
      bm25TopDocs(s, dir, docModQids(s, dir))),

    // exact-phrase ranked retrieval — the quoted-query serve BM25's bag
    // model cannot answer (same document-modulus query sample as q148;
    // all semantics and plan detail in [[phraseTopDocs]]).
    "q154_phrase_topk" -> ((s, dir) =>
      phraseTopDocs(s, dir, docModQids(s, dir))),

    // trigram exact-phrase serve — the SAME adjacency fold at k = 3: a
    // 3-token quoted query, the case a bigram-only serve would falsely
    // match on any document carrying just the first two tokens adjacent
    // (RetrievalSpec plants exactly that document).
    "q158_phrase3_topk" -> ((s, dir) =>
      phraseTopDocs(s, dir, docModQids(s, dir), PhraseK)),

    // ordered within-N proximity serve — "t2 within ProxWindow tokens
    // after t1": the slop operator between the bag model and the exact
    // phrase (all semantics and plan detail in [[proximityTopDocs]]).
    "q159_proximity_topk" -> ((s, dir) =>
      proximityTopDocs(s, dir, docModQids(s, dir))),

    // phrase serve + snippet anchor — q154's ranking carrying each
    // hit's first-occurrence token offset (all semantics and the
    // base-convention pin in [[phraseSnippetTopDocs]]).
    "q161_phrase_snippets" -> ((s, dir) =>
      phraseSnippetTopDocs(s, dir, docModQids(s, dir))),

    // retrieval self-check card — the known-item sanity eval a serve
    // owner runs after every index build: of the sampled queries that
    // serve at all, how many retrieve THEMSELVES at rank 1 (each query
    // is a corpus document, so it is its own ideal hit). A self-top1
    // share far from 1000 per-mille means scoring/staging broke before
    // any external eval set would say so. One fold over the ≤ sample·k
    // serve output — the serve itself is the only real work.
    "q163_retrieval_selfcheck" -> ((s, dir) =>
      selfCheckFold(bm25TopDocs(s, dir, docModQids(s, dir)), "doc_id")),

    // the batch-staged takedown read path (the q170 streaming card's
    // serve-side dual): the q148 BM25 serve read through an EXPLICIT
    // takedown tombstone over a corpus-adaptive id set (doc_id % tmod =
    // 1, ~8 ids at any scale — request-sized, the shape a real takedown
    // arrives in). The serve must equal a full re-stage over the corpus
    // minus the deletions: candidates, df, and the N/L/avgdl scalars
    // all shed the deleted documents (deleted QUERY docs still query —
    // the request deletes them from the INDEX, not from the caller's
    // hands). Explicit tomb ([[graft.StagedTombstones.resolveDocs]]),
    // not the session registry, so the correctness dump is independent
    // of session state; StagedTakedownSpec pins the registry path
    // (deleteDocs → same result) plus redelivery/no-op semantics.
    // Plan: the request probe is one id-pushdown bounded read; the mask
    // is a broadcast anti-join under the same term-pruned bucketed scan
    // q148 runs — a takedown never re-reads the corpus.
    "q172_takedown_bm25" -> ((s, dir) => {
      val nd = Tables.rowCount(s, dir, "documents")
      val tmod = math.max(5L, (nd + 7) / 8)
      val delIds = Tables(s, dir, "documents")
        .filter(col("doc_id") % tmod === 1).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSeq.sorted
      val tomb =
        if (delIds.isEmpty) None
        else Some(graft.StagedTombstones.resolveDocs(s, dir, delIds))
      bm25TopDocs(s, dir, docModQids(s, dir), tomb)
    }),

    // pseudo-relevance-feedback expansion serve — the RM3-family
    // production read between one-shot BM25 (q148) and the semantic
    // fusion (q149): the engine's OWN top hits mine the vocabulary the
    // query didn't say, recalling documents that share no surface term
    // with the query (see [[prfTopDocs]] for the arithmetic and the
    // bounded-read discipline). Reads the session registry's takedown
    // tomb like every lexical serve.
    "q178_prf_topk" -> ((s, dir) =>
      prfTopDocs(s, dir, docModQids(s, dir), registryTomb(s, dir))),

    // the L1→L2 serving ladder: the q148 page re-ranked by its
    // positional features under scale-free integer boosts (see
    // [[featureRerank]] — membership never changes, only order)
    "q181_feature_rerank" -> ((s, dir) =>
      featureRerank(s, dir, docModQids(s, dir), registryTomb(s, dir))),

    // impact-ordered APPROXIMATE BM25 serve — q148's ranking with the
    // candidate fetch bounded at ImpactK·|terms| rows by the staged
    // per-term impact lists ([[ensureImpactIndex]]): the serve shape
    // that stays latency-bounded when one query term's df is
    // corpus-scale (the q160 envelope's warning case). Same query
    // sample, cap, arithmetic, and cut as q148 — only candidate
    // MEMBERSHIP is approximate, and q183 measures that drift as data.
    "q182_impact_bm25_topk" -> ((s, dir) =>
      impactTopDocs(s, dir, docModQids(s, dir), registryTomb(s, dir))),

    // the impact serve's recall audit — per query, how much of the
    // exact q148 page the bounded q182 serve retains (the q95
    // pattern: the scale path ships beside its exact baseline with the
    // drift measured per rebuild, not guessed). Integer per-mille;
    // n_exact ≥ 1 per emitted group so the ANSI div is safe.
    "q183_impact_recall_audit" -> ((s, dir) => {
      val tomb = registryTomb(s, dir)
      val qids = docModQids(s, dir)
      val exact = bm25TopDocs(s, dir, qids, tomb)
        .select(col("qid"), col("doc_id"))
      val approx = impactTopDocs(s, dir, qids, tomb)
        .select(col("qid"), col("doc_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("qid", "doc_id"), "left")
        .groupBy("qid").agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall_pm", expr("(n_hit * 1000) div n_exact"))
    }),

    // impact-sidecar K-drift admission card — the q191 stance applied
    // to q182's artifact: the derived K grows with n and
    // [[appendImpactIndex]] re-cuts only the terms it can SEE are
    // truncated (length ≥ the kOld the caller passed), so across many
    // appends without a rebuild — or after a purge rewrite shrinks a
    // truncated list below every later kOld — a term's stored list can
    // silently lag the K a fresh staging would cut at. This card
    // MEASURES that lag instead of assuming it away: per term, the
    // stored list length vs least(df, K_derived) — a fresh staging
    // keeps exactly that many postings — folded to ONE row: the
    // derived K, the deepest stored list, the term count, how many
    // terms are STALE (stored < fresh), and the verdict bit
    // (k_current = 1 ⇒ the sidecar is list-for-list what a fresh
    // staging at today's K holds; 0 ⇒ rebuild — and the verdict is
    // CONSUMED, not just published: [[ensureImpactIndex]] runs the
    // same staleness test after any purge and re-cuts, so this card
    // reads 0 only between the purge and the next ensure). Reads the
    // sidecar's own staged universe (postings-derived df, the tables a
    // purge physically rewrites — ImpactCard reads the machine state,
    // not the raw corpus). Plan: two map-combined aggregates over the
    // two staged narrow tables, one broadcast join, a 1-row fold — all
    // integers, cross-engine exact. The oracle models the fresh
    // staging, where stored ≡ least(df, K) per construction.
    "q193_impact_k_card" -> ((s, dir) => {
      val impT = ensureImpactIndex(s, dir)
      val (_, _, dfT, _, _) = ensureLexIndex(s, dir)
      val k = impactKFor(s, dir)
      s.table(impT).groupBy("term").agg(count(lit(1)).as("len"))
        .join(s.table(dfT), Seq("term"))
        .agg(
          count(lit(1)).as("n_terms"),
          coalesce(max("len"), lit(0L)).as("k_max_stored"),
          coalesce(sum(when(col("len") < least(col("df"), lit(k)), 1L)
            .otherwise(0L)), lit(0L)).as("n_stale"))
        .select(lit(k).as("k_derived"), col("k_max_stored"),
          col("n_terms"), col("n_stale"),
          when(col("n_stale") === 0L, 1L).otherwise(0L).as("k_current"))
    }),

    // the appended-index serve — incremental lexical-index maintenance
    // demonstrated end to end: the seven-eighths shard stages, the
    // residue-3 delta APPENDS (one delta tokenize, bucket-placed
    // append files, df recomputed — never a full re-stage), and q148's
    // sample serves through the appended family via the IDENTICAL
    // masked read + staging + arithmetic + cut. The oracle is q148's
    // text VERBATIM — an appended index that serves any differently
    // from a fresh full staging is wrong (postings/doclen/df/N/L are
    // all exactly additive under disjoint doc sets).
    "q187_lex_append_topk" -> ((s, dir) => {
      val (postT, dlT, dfT, _, _, n, l) = ensureAppendedLex(s, dir)
      val rels = lexMaskOver(s, s.table(postT), s.table(dlT), s.table(dfT),
        n, l, registryTomb(s, dir))
      bm25RankCut(bm25Score(lexStageOver(rels._1, rels,
        corpusQTexts(s, dir, docModQids(s, dir)))))
    }),

    // the STREAMING impact sidecar — q182's latency-bounded serve
    // shape for stream arrivals ([[graft.streaming.LexStream
    // .processImpactBatch]]): the corpus arrives as two exactly-once
    // epochs beside an accumulated lex root (the seven-eighths mass,
    // then the residue-3 late shard — the q192 arrival split), each
    // epoch stores its per-term top-K cut under the (a, K) FROZEN at
    // the first batch plus a per-term df-delta layer, and the serve
    // re-cuts the pruned union at the frozen K while every score rides
    // the lex root's LIVE stats. The oracle models exactly that
    // layered machine: membership = per-term top-K(a0, K0) over the
    // union postings (the union of per-epoch cuts contains every
    // global winner — the pigeonhole the sidecar's exactness rests
    // on), scalars a0/K0 derived from the FIRST batch's corpus,
    // scoring df/N/L/a from the full union — cross-engine integer
    // exact. Scalar drift is [[graft.streaming.LexStream
    // .rebuildImpactIndex]]'s job (spec-pinned), deliberately off this
    // hash-checked path: a mid-stream rebuild re-derives the cut
    // scalars, which no closed-form SQL over the raw corpus models.
    "q194_impact_stream_topk" -> ((s, dir) => {
      val (lexRoot, impRoot) = q194Roots.computeIfAbsent(
        (s.sparkContext.applicationId, dir), _ => {
          val lr = Dedup.warehouseDir(s, graft.Staged.name("q194_lex", dir))
          val ir = Dedup.warehouseDir(s, graft.Staged.name("q194_imp", dir))
          // the roots' universe excludes the purged ledger (a purge
          // deletes the roots — [[dropAppendedLex]] — and the rebuild
          // must not re-ingest erased documents)
          val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
          val docs = graft.StagedTombstones.masked(s,
            Tables(s, dir, "documents"),
            if (purged.isEmpty) None else Some(purged), "doc_id")
            .select(col("doc_id"), col("text"))
          for ((b, id) <- Seq(docs.filter(col("doc_id") % 8 =!= 3),
              docs.filter(col("doc_id") % 8 === 3)).zipWithIndex) {
            graft.streaming.LexStream.processLexBatch(s, b, id.toLong, lr)
            graft.streaming.LexStream.processImpactBatch(s, b, id.toLong,
              ir, lr)
          }
          (lr, ir)
        })
      graft.streaming.LexStream.impactTopDocs(s, lexRoot, impRoot,
        corpusQTexts(s, dir, docModQids(s, dir)))
    }),

    // the stream pair's measured-recall audit — q183's stance over the
    // accumulated roots ([[graft.streaming.LexStream
    // .impactRecallAudit]]): per query, how much of the exact
    // accumulated-index page (byte-identical to batch q148 —
    // LexStreamSpec's standing pin) the bounded q194 serve retains.
    // The number an operator reads before routing stream traffic to
    // the bounded road, and the measured trigger for
    // rebuildImpactIndex when the frozen scalars drift. Shares q194's
    // session roots — the expensive ingest is paid once.
    "q195_impact_stream_recall" -> ((s, dir) => {
      queries("q194_impact_stream_topk")(s, dir) // ensures the roots
      val (lexRoot, impRoot) =
        q194Roots.get((s.sparkContext.applicationId, dir))
      graft.streaming.LexStream.impactRecallAudit(s, lexRoot, impRoot,
        corpusQTexts(s, dir, docModQids(s, dir)))
    }),

    // the appended family's APPROXIMATE layer — the impact sidecar
    // maintained under the same corpus growth ([[appendImpactIndex]]:
    // re-cut only the delta-vocabulary and previously-truncated terms;
    // every other list is complete postings, exact under any K/a) and
    // served through the identical staging — the oracle is q182's text
    // verbatim (K and stats derive from the grown corpus, exactly what
    // the fresh build computes)
    "q188_impact_append_topk" -> ((s, dir) => {
      val (postT, dlT, dfT, _, impT, n, l) = ensureAppendedLex(s, dir)
      val tomb = registryTomb(s, dir)
      val imp = graft.StagedTombstones.masked(
        s, s.table(impT), tomb.map(_.ids), "doc_id")
      bm25RankCut(bm25Score(lexStageOver(imp.select("term", "doc_id", "tf"),
        lexMaskOver(s, s.table(postT), s.table(dlT), s.table(dfT), n, l,
          tomb),
        corpusQTexts(s, dir, docModQids(s, dir)))))
    }),

    // the appended family's POSITIONAL layer — positions are
    // per-document rows, so the delta appends exactly like the
    // postings ([[appendPosIndex]]) and the phrase serve through the
    // appended table must equal q154 byte-for-byte (its oracle text,
    // verbatim)
    "q189_pos_append_topk" -> ((s, dir) => {
      val (_, _, _, posT, _, _, _) = ensureAppendedLex(s, dir)
      val qids = docModQids(s, dir)
      val posRel = graft.StagedTombstones.masked(
        s, s.table(posT), registryTomb(s, dir).map(_.ids), "doc_id")
      positionalServeOver(posRel, phraseQueries(s, dir, qids, 2), 2,
        emptyPhraseServe(qids, "phrase_tf"))(phraseAdjacencyTopDocs(_, _, 2))
    }),

    // intra-document repetition card — the Gopher repetition-rule
    // family beside q45's length/alpha/stopword gates: boilerplate and
    // crawler-loop documents are flagged by WITHIN-document repetition
    // long before any cross-document dedup sees them. Per doc, three
    // integer per-mille shares (the q127 fixed-point discipline —
    // floats never hash-match): the most-frequent token's share of the
    // token mass, and the duplicate share of word 2-grams / 3-grams
    // (1 − distinct/total over the gram count). Sub-n docs yield NULL
    // for the metrics their gram space cannot define (and null text
    // yields all-null metrics but keeps its row — the q18 convention).
    // Plan: gram shares are array-only per-row projections (layered
    // columns, no lambda recompute — the PERF §2 lesson); only max_tf
    // pays a (doc_id, tok) map-combined aggregate; ONE doc_id join
    // stitches them.
    "q162_repetition_card" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"),
          wordNgrams(col("tk"), 2).as("g2"), wordNgrams(col("tk"), 3).as("g3"))
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens"),
          size(array_distinct(col("g2"))).cast("long").as("d2"),
          size(array_distinct(col("g3"))).cast("long").as("d3"))
      val tf = docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .groupBy("doc_id").agg(max("tf").as("max_tf"))
      base.join(tf, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          when(col("n_tokens") >= 1,
            expr("(max_tf * 1000) div n_tokens")).as("top_tok_pm"),
          when(col("n_tokens") >= 2,
            expr("((n_tokens - 1 - d2) * 1000) div (n_tokens - 1)"))
            .as("dup_2gram_pm"),
          when(col("n_tokens") >= 3,
            expr("((n_tokens - 2 - d3) * 1000) div (n_tokens - 2)"))
            .as("dup_3gram_pm"))
    }),

    // lexical index health card — the q116/q117/q153 discipline applied
    // to the STAGED inverted index (the relation every lexical serve
    // rides): one row of integer-exact envelopes an index owner
    // watches. n_terms/n_postings bound serve fan-out; max_df and
    // n_heavy_terms (df > N div 2, idf ≈ 0 — candidate mass with no
    // ranking power, the "stopword budget") flag when a term cap or
    // stop-list is due; avgdl_q is the serve's own quantized scalar, so
    // the card audits exactly what q148 scores with. Plan: the memoized
    // corpus scalars + ONE map-combined fold of the df table (bounded
    // by the term VALUE SPACE, never corpus-tracking) — the oracle
    // recomputes the same envelopes from raw text, so the card also
    // cross-checks the staged index against its definition.
    "q160_lex_index_card" -> ((s, dir) => {
      val (_, _, dfRel, n, l) = lexRead(s, dir, registryTomb(s, dir))
      val a = quantizedAvgDl(n, l)
      dfRel
        .agg(
          count(lit(1)).as("n_terms"),
          coalesce(sum("df"), lit(0L)).as("n_postings"),
          coalesce(max("df"), lit(0L)).as("max_df"),
          coalesce(sum(when(col("df") > n / 2, 1L).otherwise(0L)), lit(0L))
            .as("n_heavy_terms"))
        .select(lit(n).as("n_docs"), lit(l).as("n_tokens"),
          lit(a).as("avgdl_q"), col("n_terms"), col("n_postings"),
          col("max_df"), col("n_heavy_terms"))
    }),

    // bounded-space quantile SKETCH — the quantile member of the sketch
    // family (HLL q53, count-min q54, Bloom q55): per-language
    // p25/p50/p75/p95 of document length estimated from a key-uniform
    // hash-admitted sample whose size is ABSOLUTELY bounded (~QSketchCap
    // rows at ANY corpus — the admission modulus derives from count(*),
    // the sampleModFor discipline). KLL's compaction is randomized and
    // engine-local; the deterministic, mergeable, cross-engine-exact
    // form of bounded-space quantile estimation is this
    // admit-by-60-bit-hash coreset (rate-exact past 2^32 — the
    // portableHash60 lesson) + q47's exact histogram rank selection over
    // it. Rank error is the standard sampling bound O(1/√cap),
    // spec-pinned against the exact quartiles; state at 100 TB is the
    // bounded sample, never the corpus.
    "q66_quantile_sketch" -> ((s, dir) => {
      val n = Tables.rowCount(s, dir, "documents")
      val mod = math.max(1L, (n + QSketchCap - 1) / QSketchCap)
      val hist = sampledLengthHist(Tables(s, dir, "documents"), mod)
      val cumW = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum("cnt").over(cumW))
        .withColumn("ns", sum("cnt").over(Window.partitionBy("lang")))
        .groupBy("lang").agg(
          max(col("ns")).as("n_sample"),
          // `div`, not `/` (see q47): integer rank ceil(q·ns)
          min(when(col("cum") >= expr("(ns + 3) div 4"), col("n_chars"))).as("p25"),
          min(when(col("cum") >= expr("(ns + 1) div 2"), col("n_chars"))).as("p50"),
          min(when(col("cum") >= expr("(ns * 3 + 3) div 4"), col("n_chars"))).as("p75"),
          min(when(col("cum") >= expr("(ns * 19 + 19) div 20"), col("n_chars"))).as("p95"))
    }),

    // per-language document-length quartiles, percentile_disc semantics:
    // the value at integer rank ceil(q·n) of the per-group value order —
    // rank selection, never interpolation (interpolated quantiles do
    // engine-specific float arithmetic; rank selection is exact).
    //
    // Shape: HISTOGRAM rank selection, not a row window. A
    // `Window.partitionBy(lang)` over rows sorts the whole corpus inside
    // ≤|langs| tasks — ~25 TB through one task per language at the north
    // star. Instead: groupBy(lang, n_chars).count() (map-side combined,
    // the only shuffle the row data ever crosses carries the histogram,
    // sized by distinct lengths), then a cumulative sum over the tiny
    // per-language histogram. The value at rank r is the smallest
    // n_chars whose cumulative count reaches r — identical answers to
    // the row formulation (ties share one histogram row), same oracle.
    "q47_length_quartiles" -> ((s, dir) => {
      val hist = Tables(s, dir, "documents")
        .groupBy(col("lang"), col("n_chars"))
        .agg(count(lit(1)).as("cnt"))
      val cumW = Window.partitionBy("lang").orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      hist
        .withColumn("cum", sum("cnt").over(cumW))
        .withColumn("n", sum("cnt").over(Window.partitionBy("lang")))
        .groupBy("lang").agg(
          max(col("n")).as("n_docs"),
          // `div`, not `/`: Spark's `/` on int64 yields DOUBLE and the
          // rank inequality would compare against 2.25-style non-integers
          min(when(col("cum") >= expr("(n + 3) div 4"), col("n_chars"))).as("q1_chars"),
          min(when(col("cum") >= expr("(n + 1) div 2"), col("n_chars"))).as("median_chars"),
          min(when(col("cum") >= expr("(n * 3 + 3) div 4"), col("n_chars"))).as("q3_chars"))
    }),

    // per-language vocabulary cardinality: exact distinct count AND a
    // deterministic 64-register HyperLogLog sketch, side by side — the
    // sketch is the 100 TB shape (state = 64 registers per group flowing
    // through ONE map-side-combined shuffle on (lang, register); the
    // exact count drags every distinct token through an exchange and
    // exists here as the in-query accuracy baseline the spec bounds).
    //
    // Determinism: the standard HLL estimate is float-hostile (register
    // harmonic mean = an unordered 2^-M sum; the small-range correction
    // needs ln). This formulation keeps EVERY aggregate integral —
    // register rho from the bit length of the sha-hash suffix (length of
    // bin(w), exact in both engines), the harmonic denominator as the
    // exact dyadic integer Σ 2^(27−M_j) (absent registers contribute
    // 2^27) — so the raw estimate is THREE float ops from exact
    // integers: (709/1000) · 2^39 / S. The small-range branch
    // (raw ≤ 2.5m with empty registers → m·ln(m/V)) has only 64 possible
    // values, precomputed in [[HllLc]] as exact dyadic fractions
    // mant/2^k — the identical doubles reconstruct in SQL as integer
    // divisions, so neither engine evaluates ln and neither parses a
    // decimal literal (the DuckDB DECIMAL-literal double-rounding trap).
    "q53_vocab_hll" -> ((s, dir) => {
      // wide scan: per-token sha hashing dominates (see q54)
      val toks = Tables.wide(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      val sums = hllRegisters(toks)
        .groupBy("lang").agg(
          (sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(27 - mr AS INT))")) +
            (lit(64L) - count(lit(1))) * lit(1L << 27)).as("sint"),
          count(lit(1)).as("nreg"))
      val raw = lit(709).cast("double") / lit(1000).cast("double") *
        lit(549755813888L).cast("double") / col("sint").cast("double")
      val v = (lit(64L) - col("nreg")).cast("int")
      toks.groupBy("lang").agg(countDistinct("tok").as("n_exact"))
        .join(sums, "lang")
        .withColumn("raw", raw)
        .select(col("lang"), col("n_exact"),
          when(col("raw") <= lit(160).cast("double") && v > 0,
            element_at(typedLit(HllLc.map { case (m, p) =>
              m.toDouble / p.toDouble }), v))
            .otherwise(col("raw")).as("n_hll"))
    }),

    // heavy hitters: the corpus's exact top-10 tokens with their
    // count-min-sketch estimates beside the exact counts. The sketch is
    // the 100 TB shape for frequency queries: counter state is the FIXED
    // 4×1024 grid (one map-side-combined shuffle on (row, cell)) however
    // large the vocabulary, where the exact count must key a shuffle by
    // every distinct token. All-integer — hashes are sha-derived
    // ([[portableHash]] row seeds), counters are counts, the estimate is
    // a min over 4 cells — so cross-engine parity is exact by
    // construction. CMS guarantees estimate ≥ truth; the spec bounds the
    // one-sided error at ε·N (ε = e/1024).
    "q54_heavy_hitters" -> ((s, dir) => {
      // wide scan: the token explode + 4 seeded hashes per occurrence is
      // the CPU; a single-row-group local file would run it one-threaded
      val toks = Tables.wide(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
      def cellCols(depth: Int) = array((0 until depth).map(d =>
        struct(lit(d.toLong).as("d"),
          (portableHash(col("tok"), d) % CmsWidth).as("cell"))): _*)
      val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      val top = exact.orderBy(desc("n_exact"), asc("tok")).limit(10)
      val cells = toks
        .select(explode(cellCols(CmsDepth)).as("x"))
        .select(col("x.d").as("d"), col("x.cell").as("cell"))
        .groupBy("d", "cell").agg(count(lit(1)).as("cnt"))
      top
        .select(col("tok"), col("n_exact"), explode(cellCols(CmsDepth)).as("x"))
        .select(col("tok"), col("n_exact"),
          col("x.d").as("d"), col("x.cell").as("cell"))
        .join(cells, Seq("d", "cell"))
        .groupBy("tok", "n_exact").agg(min("cnt").as("n_cms"))
        .select(col("tok"), col("n_exact"), col("n_cms"))
    }),

    // Bloom-filter admission probe: build a 4096-bit Bloom over the
    // content hashes of the admitted shard (here lang='en') via the
    // native [[graft.functions.BloomBitsAgg]] (fixed 512-byte buffer per
    // partition, merged — never a per-position shuffle), then probe
    // EVERY document: "is this content maybe already admitted?" — the
    // at-scale membership primitive (the filter broadcasts at any corpus
    // size; a semi-join against the admitted set shuffles it). Bloom
    // guarantees no false negatives; the spec bounds the false-positive
    // rate the 3-hash/4096-bit geometry promises. All-integer positions
    // (sha-seeded, mod 4096) ⇒ exact cross-engine parity; the DuckDB
    // mirror rebuilds the identical word array with bit_or.
    "q55_bloom_admitted" -> ((s, dir) => {
      def positions = array((0 until BloomK).map(j =>
        portableHash(col("text"), j) % lit(BloomWords * 64L)): _*)
      // wide scan: three full-text sha hashes per document (see q54)
      val docs = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val bloom = docs.filter(col("lang") === "en")
        .select(positions.as("ps"))
        .agg(graft.functions.SketchFunctions.bloomBits(col("ps"), BloomWords)
          .as("bloom"))
      docs
        .select(col("doc_id"),
          coalesce(col("lang") === "en", lit(false)).as("admitted"),
          explode(positions).as("p"))
        .join(broadcast(bloom))
        .withColumn("hit", expr(
          "(element_at(bloom, CAST(p div 64 AS INT) + 1) & " +
            "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) != 0"))
        .groupBy("doc_id", "admitted").agg(min(col("hit")).as("maybe_admitted"))
        .select("doc_id", "admitted", "maybe_admitted")
    }),

    // composed prep pipeline: exact-dedup -> quality score -> language
    // filter — the realistic end-to-end shape of training-data prep. One
    // shuffle (the dedup window on the content hash); scoring and filters
    // are narrow. The cluster-aware variant (q52, in [[Dedup]]) swaps the
    // exact-hash dedup for q43's transitive clusters and reuses
    // [[prepScore]] verbatim.
    "q36_prep_pipeline" -> ((s, dir) => {
      val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
      val deduped = Tables(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "text")
      prepScore(deduped)
    }),

    // mean token surprisal — the integer-exact stand-in for perplexity
    // filtering (CCNet ranks documents by LM perplexity; the cheap
    // corpus-internal analog ranks by mean inverse token frequency).
    // Rare-token-heavy documents (OCR noise, mangled encodings, word
    // salad) score HIGH; boilerplate scores LOW. Surprisal per token is
    // floor(log2(T / c)) — computed as binary-digit-count-minus-one of
    // the integer quotient, so NEITHER engine evaluates libm log (the
    // q46 discipline: ulp-divergent math never reaches the compare); the
    // only double is one final division of two exact integers per doc.
    //
    // Shape at scale: the exploded token relation is staged once
    // (persist — it feeds the vocabulary count and the scoring join;
    // unpersisted, the tokenize+explode map — the costliest stage —
    // runs twice); the vocabulary aggregate is one map-side-combined
    // shuffle; T folds out of the vocabulary relation (sum of counts —
    // corpus-size-independent, no extra row-level pass); the per-token
    // bits column joins back via a 1-row broadcast (scalar-subquery
    // shape) + a fact⋈vocab equi-join whose hot keys ("the") are
    // AQE-skew territory, same as any fact-dim join; the per-doc mean is
    // a second map-side-combined shuffle. Zero driver actions.
    "q61_mean_surprisal" -> ((s, dir) => {
      val t = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .persist() // released by the consumer's Caches.release hook
      val counts = t.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = counts.agg(sum("c").as("t_total")) // 1 row, lazy
      val bits = counts.crossJoin(broadcast(total))
        .select(col("tok"),
          (length(conv(expr("t_total div c"), 10, 2)) - 1)
            .cast("long").as("bits"))
      t.join(bits, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("bits").as("sum_bits"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sum_bits").cast("double") / col("n_tokens").cast("double"))
            .as("mean_surprisal"))
    }),

    // context-conditional (bigram LM) surprisal — q61 one order up: per
    // token, floor(log2(c(context·) / c(context,token))) under the MLE
    // bigram model, averaged per document. This is the classic cheap
    // stand-in for the perplexity filters real pipelines run with a
    // trained LM: boilerplate with predictable continuations scores near
    // 0 even when its unigrams are rare, and incoherent token salad
    // scores high even over common words — exactly what q61 cannot see.
    // Same integer-exact log2 (binary digit count of an integer
    // quotient; c(a·) ≥ c(a,b) so the quotient is ≥ 1), so both engines
    // agree bit-for-bit. Plan: the exploded bigram relation persists
    // (it feeds BOTH count aggregates and the stitch join); two
    // map-side-combined shuffles build the bigram and context counts;
    // the stitch is two fact⋈dim equi-joins (hot contexts = AQE skew
    // territory, as q61); one final per-doc agg. Zero driver actions.
    "q88_bigram_surprisal" -> ((s, dir) => {
      val bi = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), explode(wordNgrams(col("tk"), 2)).as("g"))
        // tokens are whitespace-split, so the gram's first space splits
        // context from continuation exactly
        .withColumn("a", substring_index(col("g"), " ", 1))
        .persist() // released by the consumer's Caches.release hook
      val cg = bi.groupBy("g").agg(count(lit(1)).as("cg"))
      val ca = bi.groupBy("a").agg(count(lit(1)).as("ca"))
      bi.join(cg, "g").join(ca, "a")
        .select(col("doc_id"),
          (length(conv(expr("ca div cg"), 10, 2)) - 1).cast("long").as("bits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("bits").as("sum_bits"))
        .select(col("doc_id"), col("n_bigrams"),
          (col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
            .as("mean_bigram_surprisal"))
    }),

    // per-source vocabulary drift — the distribution-shift monitor a
    // multi-source pipeline runs before mixing: for each source, the
    // mean per-occurrence difference between CORPUS surprisal
    // floor(log2(T/c_corpus(t))) and IN-SOURCE surprisal
    // floor(log2(T_s/c_s(t))). Positive drift ⇒ the source's tokens are
    // rarer corpus-wide than within the source — a distinctive
    // vocabulary (the integer-exact stand-in for KL(source‖corpus):
    // same Σ p_s·log(ratio) shape, floors taken per term so both
    // engines agree bit-for-bit; both quotients are ≥1 since counts
    // never exceed their totals). Plan at 100 TB: corpus rows cross
    // exactly ONE map-side-combined shuffle — the (source, tok) count
    // ([[sourceTokenCounts]], the relation the streaming dual maintains
    // as state); everything downstream ([[driftFromCounts]]) runs over
    // vocabulary-sized data (the corpus-wide counts are the per-source
    // counts summed over sources), totals ride 1-row / |sources|-row
    // broadcasts, and the stitch is one fact⋈vocab equi-join (hot
    // tokens = AQE skew territory, the q61 note). Zero driver actions.
    "q100_source_drift" -> ((s, dir) =>
      driftFromCounts(
        sourceTokenCounts(Tables.wide(s, dir, "documents"))
          .persist())), // released by the consumer's Caches.release hook

    // retrieval chunking in TRAINED-tokenizer units — q74's window
    // arithmetic over the BPE token stream instead of whitespace words,
    // completing the token-unit-agnostic story (q93 proved packing is;
    // this proves chunking is — both consume q87's trained vocabulary).
    // The per-doc trained-token ARRAY is assembled vocabulary-first:
    // each distinct word pays the replace chain ONCE on the (bounded)
    // vocabulary relation, a fact⋈dim equi-join stitches symbol lists
    // onto word occurrences, and ONE doc_id shuffle reassembles them in
    // document order (position-sorted collect_list — per-doc state, the
    // only new cost over q74). The window arithmetic itself is the
    // SHARED [[chunkRows]] — batch, stream, and both token units cannot
    // drift on starts, tail handling, or the chunk hash.
    "q103_chunk_trained" -> ((s, dir) => {
      val (_, rep) = bpeTrain(bpeVocab(s, dir), BpeRounds)
      val wl = rep.select(col("word"),
        filter(split(col("s"), BpeD), x => x =!= "").as("syms"))
      val t = Tables(s, dir, "documents")
        .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "word")))
        .join(wl, Seq("word"))
        .groupBy("doc_id")
        .agg(flatten(transform(
          array_sort(collect_list(struct(col("pos"), col("syms")))),
          x => x.getField("syms"))).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n"))
        .persist() // the q74 Generate discipline; released by the consumer
      chunkRows(t)
    }),

    // duplicated-SPAN scrub accounting — the ACTION q71/q94 inform: the
    // Lee-et-al-style exact-substring dedup removes every token span
    // covered by a corpus-shared 5-gram; this emits, per document, how
    // many tokens that removal would take and what remains. A shared
    // gram at token position p covers positions [p, p+4]; covered mass
    // is the union length of those intervals — islands split where
    // consecutive shared positions gap by >4 (interval coverage is then
    // contiguous inside an island, so union length = Σ island
    // (last−first+5), exact, no double count). Plan at 100 TB: q94's
    // two-phase doc-frequency agg over 60-bit hashes of per-doc
    // DISTINCT grams + one positional semi-join; the island windows
    // (lag, running sum) are PARTITIONED BY doc — never a corpus-wide
    // sort; final stitch is one doc_id equi-join.
    "q104_span_scrub" -> ((s, dir) => {
      val pg = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
          wordNgrams(col("tk"), 5).as("g5s"))
        .select(col("doc_id"), col("n_tokens"),
          transform(col("g5s"), g => portableHash60(g)).as("g5h"))
        .persist() // feeds DF agg, positional explode, final stitch
      val shared = pg
        .select(col("doc_id"), explode(array_distinct(col("g5h"))).as("h"))
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("h")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val prev = lag("pos", 1).over(w)
      val cov = pg
        .select(col("doc_id"), posexplode(col("g5h")).as(Seq("pos", "h")))
        .join(shared, Seq("h"), "left_semi")
        .select(col("doc_id"), col("pos"))
        .withColumn("newi",
          when(prev.isNull || col("pos") - prev > 4, 1L).otherwise(0L))
        .withColumn("isl", sum("newi")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "isl")
        .agg((max("pos") - min("pos") + lit(5)).cast("long").as("clen"))
        .groupBy("doc_id").agg(sum("clen").as("covered0"))
      pg.select(col("doc_id"), col("n_tokens"))
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered0"), lit(0L)).as("covered_tokens"),
          (col("n_tokens") - coalesce(col("covered0"), lit(0L)))
            .as("retained_tokens"),
          when(col("n_tokens") > 0,
            coalesce(col("covered0"), lit(0L)).cast("double")
              / col("n_tokens").cast("double")).as("scrub_frac"))
    }),

    // duplicated-span scrub APPLICATION — q104 accounts for the removal;
    // this performs it: emit each document's surviving text with every
    // token position covered by a corpus-shared 5-gram cut out (the
    // Lee-et-al exact-substring dedup output corpus). Same shared-gram
    // and island machinery as q104; islands then expand to their covered
    // position sets (disjoint BY CONSTRUCTION — islands split at gap >4,
    // so interval ends never reach the next island's start: the expand
    // cannot duplicate a position), surviving tokens fall out of one
    // (doc_id, pos) ANTI equi-join, and the text reassembles per doc via
    // the q103 position-sorted collect_list discipline. Plan at 100 TB:
    // the DF agg is q104's two-phase shuffle; islands/positions ride
    // doc-partitioned windows and per-doc-bounded sequence explodes —
    // never a corpus-wide sort; the stitch is one doc_id equi-join. Docs
    // that scrub to nothing (or tokenize to nothing) re-admit with NULL
    // text and 0 retained — distinguishable from a legitimately empty
    // string token.
    "q108_scrub_apply" -> ((s, dir) => {
      val pg = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), col("tk"),
          transform(wordNgrams(col("tk"), 5), g => portableHash60(g)).as("g5h"))
        .persist() // feeds DF agg, positional explodes; consumer releases
      val shared = pg
        .select(col("doc_id"), explode(array_distinct(col("g5h"))).as("h"))
        .groupBy("h").agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 2)
        .select("h")
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val prev = lag("pos", 1).over(w)
      val covPos = pg
        .select(col("doc_id"), posexplode(col("g5h")).as(Seq("pos", "h")))
        .join(shared, Seq("h"), "left_semi")
        .select(col("doc_id"), col("pos"))
        .withColumn("newi",
          when(prev.isNull || col("pos") - prev > 4, 1L).otherwise(0L))
        .withColumn("isl", sum("newi")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("doc_id", "isl")
        .agg(min("pos").cast("long").as("s"),
          (max("pos") + lit(4)).cast("long").as("e"))
        .select(col("doc_id"), explode(sequence(col("s"), col("e"))).as("pos"))
      val kept = pg
        .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "word")))
        .withColumn("pos", col("pos").cast("long"))
        .join(covPos, Seq("doc_id", "pos"), "left_anti")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("retained_tokens"),
          array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("word")))),
            x => x.getField("word")), " ").as("scrubbed_text"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("retained_tokens"), lit(0L)).as("retained_tokens"),
          col("scrubbed_text"))
    }),

    // retrieval chunking of the SCRUBBED corpus — the real RAG ingest
    // path chains dedup before chunking (chunking a corpus with
    // duplicated passages indexes the same evidence many times and
    // crowds retrieval results); q114 runs q74's shared [[chunkRows]]
    // window arithmetic over q108's surviving text. scrubbed_text is a
    // canonical space-joined token list by construction, so re-splitting
    // reproduces the kept tokens exactly — proving the scrub output is
    // a first-class corpus any token-consuming operator can ingest.
    // Fully-scrubbed and untokenizable docs chunk to nothing (q74's
    // contract).
    "q114_chunk_scrubbed" -> ((s, dir) => {
      val t = queries("q108_scrub_apply")(s, dir)
        .filter(col("scrubbed_text").isNotNull)
        .select(col("doc_id"), tokens(col("scrubbed_text")).as("tk"))
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n"))
        .filter(col("n") > 0)
        .persist() // the q74 Generate discipline; released by the consumer
      chunkRows(t)
    }),

    // DSIR-style importance weights — the per-DOCUMENT companion of
    // q100's per-source drift: score every document by how much better
    // the TARGET source's unigram distribution explains its tokens than
    // the corpus-wide one (Xie et al.'s data-selection-by-importance-
    // resampling shape, reduced to the same integer-exact surprisal
    // analogue as q100/q88). Per token, w = floor(log2(T/c_corpus)) −
    // floor(log2((T_t+V)/(c_target+1))) — corpus bits minus add-one-
    // smoothed target bits (smoothing keeps out-of-target tokens finite
    // and the quotient ≥1; both engines floor identically). A positive
    // per-doc mean ⇒ the doc looks more like the target than like the
    // corpus — the resampling key. Plan at 100 TB: the exploded token
    // relation stages once (feeds both count aggs AND the stitch); the
    // corpus and target aggs are map-side-combined shuffles; the scalar
    // totals (T, V, T_t) ride broadcast 1-row joins; the stitch is one
    // fact⋈vocab equi-join (hot tokens = AQE skew territory, the q61
    // note) and one map-side-combined per-doc SUM. Zero driver actions.
    "q106_dsir_weights" -> ((s, dir) => {
      val t = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
        .persist() // released by the consumer's Caches.release hook
      val cc = t.groupBy("tok").agg(count(lit(1)).as("cc"))
      val tc = t.filter(col("source") === DsirTarget)
        .groupBy("tok").agg(count(lit(1)).as("tc"))
      val stats = cc.agg(sum("cc").as("t_total"),
        count(lit(1)).as("v")) // 1 row: corpus mass + vocab size
      val tt = tc.agg(coalesce(sum("tc"), lit(0L)).as("tg_total")) // 1 row
      val wtok = cc.join(tc, Seq("tok"), "left")
        .crossJoin(broadcast(stats)).crossJoin(broadcast(tt))
        .select(col("tok"),
          ((length(conv(expr("t_total div cc"), 10, 2)) - 1) -
            (length(conv(
              expr("(tg_total + v) div (coalesce(tc, 0L) + 1L)"), 10, 2)) - 1))
            .cast("long").as("w"))
      val perDoc = t.join(wtok, "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("w").as("sum_bits"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            col("sum_bits").cast("double") / col("n_tokens").cast("double"))
            .as("mean_importance_bits"))
    }),

    // hashed-bucket DSIR — q106's importance weights over a FIXED-SIZE
    // statistic: tokens hash into [[DsirBuckets]] buckets (Xie et al.'s
    // actual construction — hashed n-gram counts, not an unbounded
    // vocabulary), the per-bucket weight table is ≤ DsirBuckets rows AT
    // ANY CORPUS SIZE, and the scoring stitch becomes a BROADCAST join
    // (q106's vocabulary join can only shuffle). On a collision-free
    // corpus the bucket statistics coincide with the exact ones, so q109
    // ≡ q106 there (spec-pinned); under collisions weights blur exactly
    // as the importance-resampling literature accepts. This is the
    // statistic the streaming dual freezes: an 8 KiB weight vector with
    // CONSTANT per-task footprint — the benchBloom posture, where exact
    // q106 weights are vocabulary-sized and unboundable on a stream.
    "q109_dsir_hashed" -> ((s, dir) => {
      val t = dsirBucketTokens(Tables.wide(s, dir, "documents"))
        .persist() // feeds the weight aggs AND the stitch; consumer releases
      val perDoc = t.join(broadcast(dsirBucketWeights(t)), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("w").as("sum_bits"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            col("sum_bits").cast("double") / col("n_tokens").cast("double"))
            .as("mean_importance_bits"))
    }))

  /** q109's hashed-bucket width. 1024 keeps the frozen weight vector at
    * 8 KiB; small test vocabularies land collision-free (where q109's
    * statistics coincide with q106's exact ones), real corpora blur
    * within the accepted importance-resampling trade.
    */
  private[graft] val DsirBuckets = 1024

  /** The hashed-bucket token relation q109 and the streaming freeze
    * share: (doc_id, source, b = portableHash60(tok) % [[DsirBuckets]]).
    */
  /** q168's hashed-bucket width. 65536 (a 512 KiB frozen vector — still
    * broadcast-trivial) and NOT DsirBuckets' 1024, for a MEASURED
    * reason (CompositeScaleSpec's two 50k regimes): when class signal
    * is DISTRIBUTED over many tokens, hashing costs nothing at either
    * width (50000/50000 gate agreement even at 1024); when it
    * CONCENTRATES in a few features (the gate's two stopwords), 1024
    * buckets dilute them below the ~0-weight bulk and the pass class
    * collapses — and even at 65536 a single unlucky collision halves a
    * load-bearing feature's weight (measured: "with" 13 → 4). The wide
    * table minimizes that collision PROBABILITY (~3% per feature at a
    * 2k vocabulary, shrinking with width); it cannot remove it — a
    * concentrated-signal deployment should use the exact q166 or audit
    * its feature buckets. Importance weights (q109) tolerate blur;
    * classification boundaries only tolerate it under distributed
    * signal.
    */
  private[graft] val NbBuckets = 65536

  /** q168's token→bucket projection: one row per token OCCURRENCE with
    * its hashed bucket — the dsirBucketTokens shape without the source
    * column. Shared with the streaming freeze
    * ([[graft.streaming.DocStream.nbWeightVector]]) so batch and stream
    * cannot drift on hashing. `width` exists for the scale sweep's
    * dilution measurement; production paths use the default.
    */
  private[graft] def nbBucketTokens(docs: DataFrame,
      width: Int = NbBuckets): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), (portableHash60(col("tok")) % width).as("b"))

  /** Per occupied bucket, q166's class log-likelihood-ratio weight over
    * bucket counts: w(b) = bits(c1+1) − bits(T1+V) − bits(c0+1) +
    * bits(T0+V), V = occupied-bucket count (the vocabulary-size
    * analogue, so the smoothing matches q166's on a collision-free
    * corpus). ≤ [[NbBuckets]] rows by construction — broadcastable
    * anywhere, collectable by the streaming freeze.
    */
  private[graft] def nbBucketWeights(bt: DataFrame, lab: DataFrame): DataFrame = {
    val vc = bt.join(lab, Seq("doc_id"))
      .groupBy("b").agg(
        sum(when(col("pass"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("pass"), 0L).otherwise(1L)).as("c0"))
    val tot = vc.agg(sum("c1").as("t1"), sum("c0").as("t0"),
      count(lit(1)).as("v")) // 1 row, lazy
    def bits(e: String) = s"(length(conv($e, 10, 2)) - 1)"
    vc.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"CAST(${bits("c1 + 1")} - ${bits("t1 + v")} - " +
          s"${bits("c0 + 1")} + ${bits("t0 + v")} AS BIGINT)").as("w"))
  }

  /** q168's scoring stitch, shared with the `graft_nb` table function:
    * each `docs` row (doc_id, …) with its tokens' count `n_tokens`, the
    * summed bucket weight `nb_score` and `nb_pass` (score > 0) appended
    * — `bt` is the documents' [[nbBucketTokens]], `weights` a (b, w)
    * table from [[nbBucketWeights]] (≤ NbBuckets rows, broadcast). A
    * document with no token keeps its row with null model columns.
    */
  private[graft] def nbScore(docs: DataFrame, bt: DataFrame,
      weights: DataFrame): DataFrame = {
    val sc = bt.join(broadcast(weights), "b")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("nb_score"))
    docs.join(sc, Seq("doc_id"), "left")
      .withColumn("nb_pass",
        when(col("n_tokens").isNotNull, col("nb_score") > 0))
  }

  private[graft] def dsirBucketTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
        explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("source"),
        (portableHash60(col("tok")) % DsirBuckets).as("b"))

  /** Per non-empty bucket, q106's importance weight over bucket counts:
    * w(b) = floor-log2(T/cc_b) − floor-log2((T_t+V_b)/(tc_b+1)), V_b =
    * non-empty bucket count (the vocabulary-size analogue, so the
    * smoothing mass matches q106's on a collision-free corpus). ≤
    * [[DsirBuckets]] rows by construction — broadcastable anywhere,
    * collectable by the streaming freeze.
    */
  private[graft] def dsirBucketWeights(t: DataFrame): DataFrame = {
    val cc = t.groupBy("b").agg(count(lit(1)).as("cc"))
    val tc = t.filter(col("source") === DsirTarget)
      .groupBy("b").agg(count(lit(1)).as("tc"))
    val stats = cc.agg(sum("cc").as("t_total"), count(lit(1)).as("v"))
    val tt = tc.agg(coalesce(sum("tc"), lit(0L)).as("tg_total"))
    cc.join(tc, Seq("b"), "left")
      .crossJoin(broadcast(stats)).crossJoin(broadcast(tt))
      .select(col("b"),
        ((length(conv(expr("t_total div cc"), 10, 2)) - 1) -
          (length(conv(
            expr("(tg_total + v) div (coalesce(tc, 0L) + 1L)"), 10, 2)) - 1))
          .cast("long").as("w"))
  }

  /** The prep pipeline's score-and-filter stage over a deduped
    * `(doc_id, text)` relation: q36's scoring expressions, factored so
    * the exact-hash (q36) and cluster-aware (q52) pipelines share ONE
    * definition — they cannot diverge. Narrow per-row, zero shuffles.
    */
  private[queries] def prepScore(deduped: DataFrame): DataFrame = {
    val scored = deduped
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        stopwordHits(col("tk"), stopwordsByLang.head._2).as("stops"),
        col("tk"))
    val Seq(en, es, de, fr) = langScores(col("tk")).map(_._2)
    scored
      .withColumn("lang_guess",
        when(en >= greatest(es, de, fr), "en")
          .when(es >= greatest(de, fr), "es")
          .when(de >= fr, "de").otherwise("fr"))
      .withColumn("quality",
        (col("stops").cast("double") / col("n_tokens").cast("double")) * 0.4 +
          least(lit(1.0), col("n_tokens").cast("double") / 50.0) * 0.6)
      .filter(col("lang_guess") === "en" && col("quality") >= 0.5)
      .select("doc_id", "n_tokens", "quality")
  }

  /** SQL mirror of [[prepScore]] over a CTE named `src` holding
    * `(doc_id, text)` — shared by the q36 and q52 oracles (chain ends in
    * `f`; callers select `doc_id, n_tokens, quality FROM f`).
    */
  private[queries] def sqlPrepScore(src: String): String =
    s"""sc AS (SELECT doc_id, $Toks AS tk FROM $src),
       |m AS (SELECT doc_id, len(tk) AS n_tokens,
       |  len(list_filter(tk, x -> x IN ${sqlStops("en")})) AS stops,
       |  len(list_filter(tk, x -> x IN ${sqlStops("en")})) AS s_en,
       |  len(list_filter(tk, x -> x IN ${sqlStops("es")})) AS s_es,
       |  len(list_filter(tk, x -> x IN ${sqlStops("de")})) AS s_de,
       |  len(list_filter(tk, x -> x IN ${sqlStops("fr")})) AS s_fr FROM sc),
       |f AS (SELECT doc_id, n_tokens,
       |  (CAST(stops AS DOUBLE)/CAST(n_tokens AS DOUBLE))*0.4
       |    + least(1.0, CAST(n_tokens AS DOUBLE)/50.0)*0.6 AS quality,
       |  CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
       |       WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
       |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_guess FROM m)""".stripMargin

  private[queries] def sqlStops(lang: String): String =
    stopwordsByLang.toMap.apply(lang).map(w => s"'$w'").mkString("(", ",", ")")

  /** q45's Gopher-rule chain as CTEs ending in
    * `qp(doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct,
    * pass)`.
    */
  private[queries] def sqlQualityCtes: String =
    s"""t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |m AS (SELECT doc_id,
       |  len(tk) AS n_words,
       |  CAST(list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS BIGINT) AS sum_len,
       |  len(list_filter(tk, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
       |  len(list_filter(${GopherStops.map(w => s"'$w'").mkString("[", ",", "]")},
       |    w -> list_contains(tk, w))) AS n_stop_distinct
       |  FROM t),
       |r AS (SELECT doc_id, n_words,
       |  CASE WHEN n_words > 0
       |    THEN CAST(sum_len AS DOUBLE)/CAST(n_words AS DOUBLE) END AS mean_word_len,
       |  CASE WHEN n_words > 0
       |    THEN CAST(n_alpha AS DOUBLE)/CAST(n_words AS DOUBLE) END AS frac_alpha,
       |  n_stop_distinct FROM m),
       |qp AS (SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct,
       |  COALESCE(n_words BETWEEN 50 AND 100000
       |    AND mean_word_len BETWEEN 3.0 AND 10.0
       |    AND frac_alpha > 0.8
       |    AND n_stop_distinct >= 2, false) AS pass FROM r)""".stripMargin

  // DuckDB mirrors. Shared fragments (Curation's mirrors reuse these):
  private[queries] val Toks = """regexp_split_to_array(lower(trim(text)), '\s+')"""

  /** The corpus-adaptive document-modulus query sample (~8 queries at
    * any scale — the q95/q122 sampling discipline) as oracle SQL: ONE
    * definition shared by every lexical serve oracle (q148 BM25, q154
    * phrase) so "which documents are queries" cannot drift between the
    * family's members.
    */
  private[queries] val sqlDocModQs: String =
    """SELECT doc_id AS qid FROM documents,
      |  (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS qmod FROM documents) qm
      |  WHERE doc_id % qmod = 0""".stripMargin

  /** The ONE oracle-side mirror of the engine's portable hash
    * ([[graft.functions.TextFunctions]]' `hashPrefix`): hex prefix of
    * sha-256 cast to BIGINT, 8 hex chars for the 32-bit width, 15 for
    * the 60-bit. Seed keying (`||'#N'`) is the caller's job, exactly as
    * on the Spark side. Curation's and Similarity's mirrors delegate
    * here — one definition, no drift.
    */
  private[queries] def sqlHashPrefix(e: String, hexChars: Int): String =
    s"CAST('0x'||substr(sha256($e),1,$hexChars) AS BIGINT)"
  private[queries] val SqlHash = (e: String) => sqlHashPrefix(e, 8)
  private[queries] val SqlHash60 = (e: String) => sqlHashPrefix(e, 15)

  /** [[gramPairStage]]'s SQL mirror: the tokenize → hashed-gram →
    * capped-candidate chain through the per-doc gram relation `g` and
    * the unordered candidate pairs `cand` — ONE definition shared by
    * the Jaccard (q22) and containment (q125) pair oracles.
    */
  private lazy val sqlGramCandCtes: String =
    s"""t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |gs AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(tk) < 3 THEN []
       |    ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-2+1)] END) AS g3s,
       |  list_distinct(CASE WHEN len(tk) < 6 THEN []
       |    ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]||' '||tk[i+5]
       |          for i in range(1, len(tk)-5+1)] END) AS g6s FROM t),
       |g AS (SELECT doc_id,
       |  list_distinct(list_transform(g3s, x -> ${SqlHash("x")})) AS g3,
       |  list_distinct(list_transform(g6s, x -> ${SqlHash("x")})) AS g6 FROM gs),
       |k AS (SELECT doc_id, unnest(g6) AS gg FROM g),
       |rare AS (SELECT gg FROM k GROUP BY gg HAVING COUNT(*) <= $MaxBucketDocs),
       |kc AS (SELECT k.doc_id, k.gg FROM k JOIN rare USING (gg)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kc a JOIN kc b ON a.gg = b.gg AND a.doc_id < b.doc_id)""".stripMargin

  /** The complete q50 oracle statement — a val so the per-source PII
    * incidence oracle (q141) embeds the IDENTICAL scan text as a
    * subquery.
    */
  private lazy val sqlPiiScanSql: String =
    s"""WITH m AS (SELECT doc_id,
       |  len(regexp_extract_all(text, '$PiiEmail')) AS n_emails,
       |  len(regexp_extract_all(text, '$PiiUrl')) AS n_urls,
       |  len(regexp_extract_all(text, '$PiiIp')) AS n_ips
       |  FROM documents)
       |SELECT doc_id, n_emails, n_urls, n_ips,
       |  COALESCE(n_emails = 0 AND n_urls = 0 AND n_ips = 0, false) AS clean
       |FROM m""".stripMargin

  /** The complete q22 oracle statement — a val so the sketch-precision
    * oracle (q136) embeds the IDENTICAL Jaccard-pair text as a subquery.
    */
  private lazy val sqlJaccardPairsSql: String =
    s"""WITH $sqlGramCandCtes,
       |j AS (SELECT doc_a, doc_b,
       |  len(list_filter(x.g3, e -> list_contains(y.g3, e))) AS inter,
       |  len(x.g3) + len(y.g3)
       |    - len(list_filter(x.g3, e -> list_contains(y.g3, e))) AS uni
       |  FROM cand JOIN g x ON x.doc_id = doc_a JOIN g y ON y.doc_id = doc_b)
       |SELECT doc_a, doc_b, inter, uni,
       |  CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) AS jaccard
       |FROM j WHERE CAST(inter AS DOUBLE)/CAST(uni AS DOUBLE) >= 0.2""".stripMargin

  /** q87/q90 oracle fragments — ONE SQL text for the trainer and the
    * encoder built on it, so they cannot drift. [[bpeV0]] is the
    * (word, n, s) vocabulary CTE prefix (tk kept with doc_id so the
    * encoder can re-join words to documents); [[bpePm]] is round r's
    * pair-count + argmax CTE pair (`p$r`, `m$r`) over representation
    * `from`; [[bpeVm]] is round r's merged representation `v$r` — the
    * chr(1)-enclosed single-pass replace, the SAME algorithm
    * [[bpeTrain]] runs.
    */
  private def bpeV0: String =
    s"""tk AS (SELECT doc_id, $Toks AS tk FROM documents),
       |w AS (SELECT unnest(tk) AS word FROM tk),
       |v0 AS (SELECT word, COUNT(*) AS n,
       |  regexp_replace(word, '(.)', chr(1) || '\\1' || chr(1), 'g') AS s
       |  FROM w GROUP BY word)""".stripMargin

  private def bpePm(r: Int, from: String): String =
    s"""p$r AS (SELECT t.sy[u.i] AS a, t.sy[u.i + 1] AS b,
       |    CAST(SUM(t.n) AS BIGINT) AS cnt
       |  FROM (SELECT n, list_filter(string_split(s, chr(1)), x -> x <> '') AS sy
       |        FROM $from) t,
       |  UNNEST(range(1, len(t.sy))) AS u(i)
       |  GROUP BY 1, 2),
       |m$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin

  private def bpeVm(r: Int): String =
    s"""v$r AS (SELECT v${r - 1}.word, v${r - 1}.n,
       |  CASE WHEN m$r.a IS NULL THEN v${r - 1}.s ELSE
       |    replace(v${r - 1}.s, chr(1)||m$r.a||chr(1)||chr(1)||m$r.b||chr(1),
       |      chr(1)||m$r.a||m$r.b||chr(1)) END AS s
       |  FROM v${r - 1} LEFT JOIN m$r ON TRUE)""".stripMargin

  /** The training chain alone — `tk`/`w`/`v0` through the final merged
    * representation `v$BpeRounds` — factored out so oracles that need
    * the representation in a DIFFERENT shape than per-word counts (q103
    * needs each word's SYMBOL LIST, in document order) still run the
    * IDENTICAL training SQL.
    */
  private[queries] def bpeRepCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      bpePm(r, s"v${r - 1}") + ",\n" + bpeVm(r)
    }.mkString(",\n")
    s"$bpeV0,\n$rounds"
  }

  /** The full encode chain ending in per-doc counts `pd` (doc_id,
    * n_words, n_bpe_tokens) — the q90 oracle's body, exposed so
    * Curation's trained-token packing oracle (q93) consumes the
    * IDENTICAL training + encode SQL.
    */
  private[queries] def bpeEncodedCtes: String =
    s"""$bpeRepCtes,
       |wt AS (SELECT word,
       |  CAST(len(list_filter(string_split(s, chr(1)), x -> x <> '')) AS BIGINT) AS w_toks
       |  FROM v$BpeRounds),
       |dw AS (SELECT doc_id, unnest(tk) AS word FROM tk),
       |pd AS (SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(wt.w_toks) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN wt USING (word) GROUP BY dw.doc_id)""".stripMargin

  /** The q104 shared-gram island chain through `il` (doc_id, 1-based
    * shared-gram start pos, island id) plus the token (`t`) and hashed
    * (`ph`) relations — factored so the scrub ACCOUNTING (q104) and
    * APPLICATION (q108) oracles share one definition of "covered".
    */
  private[queries] def scrubCtes: String =
    s"""t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |g AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
       |  CASE WHEN len(tk) < 5 THEN []
       |  ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]
       |        for i in range(1, len(tk)-4+1)] END AS g5s FROM t),
       |ph AS (SELECT doc_id, n_tokens,
       |  list_transform(g5s, x -> ${SqlHash60("x")}) AS g5h FROM g),
       |c AS (SELECT h FROM (SELECT h, COUNT(*) AS n_docs FROM
       |    (SELECT doc_id, unnest(list_distinct(g5h)) AS h FROM ph) u2
       |  GROUP BY h) q WHERE n_docs >= 2),
       |sp AS (SELECT doc_id, pos FROM
       |    (SELECT ph.doc_id, i.j AS pos, ph.g5h[CAST(i.j AS INT)] AS h
       |     FROM ph, UNNEST(range(1, len(ph.g5h) + 1)) AS i(j)) u
       |  WHERE h IN (SELECT h FROM c)),
       |ni AS (SELECT doc_id, pos,
       |  CASE WHEN LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |    OR pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 4
       |  THEN 1 ELSE 0 END AS newi FROM sp),
       |il AS (SELECT doc_id, pos, SUM(newi) OVER (PARTITION BY doc_id
       |  ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM ni)""".stripMargin

  /** [[scrubCtes]] extended through the SURVIVOR relation `kp` (doc_id,
    * 1-based pos, word — the tokens an exact-substring scrub keeps):
    * islands widen to interval bounds, covered positions expand, kept
    * tokens anti-select. Shared by the scrub application (q108) and the
    * scrubbed-corpus chunking (q114) so "what survives" has ONE SQL
    * definition.
    */
  private[queries] def scrubKeptCtes: String =
    s"""$scrubCtes,
       |iv AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(pos) + 4 AS e
       |  FROM il GROUP BY doc_id, isl),
       |cp AS (SELECT doc_id, unnest(range(s, e + 1)) AS pos FROM iv),
       |tp AS (SELECT t.doc_id, i.j AS pos, t.tk[CAST(i.j AS INT)] AS word
       |  FROM t, UNNEST(range(1, len(t.tk) + 1)) AS i(j)),
       |kp AS (SELECT tp.doc_id, tp.pos, tp.word FROM tp
       |  WHERE NOT EXISTS (SELECT 1 FROM cp
       |    WHERE cp.doc_id = tp.doc_id AND cp.pos = tp.pos))""".stripMargin

  /** The q106 importance chain through per-doc sums `pd` (doc_id,
    * n_tokens, sum_bits) — factored so Curation's budgeted DSIR
    * selection oracle (q107) consumes the IDENTICAL weighting SQL.
    */
  private[queries] def dsirCtes: String =
    s"""t AS (SELECT doc_id, source, unnest($Toks) AS tok FROM documents),
       |cc AS (SELECT tok, COUNT(*) AS cc FROM t GROUP BY tok),
       |stats AS (SELECT CAST(SUM(cc) AS BIGINT) AS t_total,
       |  CAST(COUNT(*) AS BIGINT) AS v FROM cc),
       |tc AS (SELECT tok, COUNT(*) AS tc FROM t
       |  WHERE source = '$DsirTarget' GROUP BY tok),
       |tt AS (SELECT COALESCE(CAST(SUM(tc) AS BIGINT), 0) AS tg_total FROM tc),
       |wt AS (SELECT cc.tok,
       |  CAST((length(bin(t_total // cc.cc)) - 1)
       |    - (length(bin((tg_total + v) // (COALESCE(tc.tc, 0) + 1))) - 1)
       |    AS BIGINT) AS w
       |  FROM cc LEFT JOIN tc USING (tok), stats, tt),
       |pd AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(wt.w) AS BIGINT) AS sum_bits
       |  FROM t JOIN wt USING (tok) GROUP BY t.doc_id)""".stripMargin

  /** [[bm25TopDocs]]'s SQL mirror, parameterized by the query-sample
    * definition (a SELECT yielding one `qid` column) so the standalone
    * lexical serve (q148, document-modulus sample) and the hybrid
    * fusion (q149, embedding-modulus sample) rank through ONE scoring
    * text. A complete statement — embed as a derived table to compose.
    */
  /** The CTE list (no leading WITH) ending at `sc` = the scored
    * candidates (qid, doc_id, score_u) — [[bm25ScoredDocs]]' oracle
    * text. Exposed without the WITH so callers outside this module
    * (the q164 diversified serve in [[Dedup]]) can splice it into
    * their own chain after other CTEs.
    */
  private[queries] def sqlBm25Ctes(qsSql: String): String =
    s"""t AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
       |av AS (SELECT n, GREATEST(1, l // GREATEST(n, 1)) AS a FROM
       |  (SELECT (SELECT COUNT(*) FROM documents) AS n,
       |          (SELECT COUNT(*) FROM t) AS l) nl),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
       |qs AS ($qsSql),
       |qt0 AS (SELECT t.doc_id AS qid, t.term, COUNT(*) AS qtf
       |  FROM t JOIN qs ON t.doc_id = qs.qid GROUP BY 1, 2),
       |qt AS (SELECT qid, term FROM (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY qid ORDER BY qtf DESC, term) AS rn FROM qt0) z
       |  WHERE rn <= $Bm25QTermCap),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (SELECT qt.qid, tf.doc_id,
       |  CAST(SUM(((2*n - 2*df + 1) * 1000 // (2*df + 1))
       |    * ((2200 * a * tf.tf) // (10 * a * tf.tf + 3 * a + 9 * dl.dl)))
       |    AS BIGINT) AS score_u
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id), av
       |  GROUP BY 1, 2)""".stripMargin

  private[queries] def sqlBm25TopDocs(qsSql: String): String =
    s"""WITH ${sqlBm25Ctes(qsSql)}
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc) r
       |WHERE rnk <= $Bm25TopK""".stripMargin

  /** q182's oracle: the q148 chain with the impact-list cut between the
    * postings and the scoring — per term, the [[impactKFor]] postings
    * with the highest integer tf-normalization (ties to the lowest
    * doc_id), exactly the staged sidecar's build (K re-derived from the
    * corpus count with the identical max/ceil/sqrt formula); candidates
    * then score through the unmodified q148 arithmetic.
    */
  private[queries] def sqlImpactTopDocs(qsSql: String): String =
    s"""WITH ${sqlBm25Ctes(qsSql)},
       |imp0 AS (SELECT tf.term, tf.doc_id, tf.tf,
       |  (2200 * a * tf.tf) // (10 * a * tf.tf + 3 * a + 9 * dl.dl) AS imp
       |  FROM tf JOIN dl USING (doc_id), av),
       |impl AS (SELECT term, doc_id, tf FROM (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY term ORDER BY imp DESC, doc_id) AS irn FROM imp0) z
       |  WHERE irn <= (SELECT GREATEST($ImpactKFloor,
       |    16 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) FROM documents)),
       |isc AS (SELECT qt.qid, impl.doc_id,
       |  CAST(SUM(((2*n - 2*df + 1) * 1000 // (2*df + 1))
       |    * ((2200 * a * impl.tf) // (10 * a * impl.tf + 3 * a + 9 * dl.dl)))
       |    AS BIGINT) AS score_u
       |  FROM impl JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id), av
       |  GROUP BY 1, 2)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM isc) r
       |WHERE rnk <= $Bm25TopK""".stripMargin

  /** q194's oracle — the STREAMING impact sidecar's layered machine in
    * closed form: candidate membership is the per-term top-K cut under
    * the scalars FROZEN at the first batch (`a0`/`k0` derive from the
    * residue-≠3 arrival mass — the adoption split), while df/N/L/a for
    * SCORING derive from the full union (the serve recomputes scores
    * under live stats; only membership rides the frozen cut). The
    * union-of-per-epoch-cuts = global-top-K identity (every global
    * winner survives its own epoch's cut a fortiori) is what lets one
    * window over the union postings model the multi-epoch machine.
    */
  /** The q194/q195 SHARED CTE chain (…, isc) — ONE builder both oracles
    * append their final SELECT to (r21, the advisor's fix: the old
    * recall builder string-sliced the serve oracle at
    * `lastIndexOf("SELECT qid,")`, so any rewording of the final SELECT
    * — or a new CTE containing that literal — would silently mis-slice
    * the chain and corrupt the q195 oracle).
    */
  private def sqlImpactStreamCtes(qsSql: String): String =
    s"""${sqlBm25Ctes(qsSql)},
       |av0 AS (SELECT GREATEST(1, l0 // GREATEST(n0, 1)) AS a0 FROM
       |  (SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 8 <> 3) AS n0,
       |          (SELECT COUNT(*) FROM t WHERE doc_id % 8 <> 3) AS l0) nl),
       |k0 AS (SELECT GREATEST($ImpactKFloor,
       |  16 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
       |  FROM documents WHERE doc_id % 8 <> 3),
       |imp0 AS (SELECT tf.term, tf.doc_id, tf.tf,
       |  (2200 * a0 * tf.tf) // (10 * a0 * tf.tf + 3 * a0 + 9 * dl.dl) AS imp
       |  FROM tf JOIN dl USING (doc_id), av0),
       |impl AS (SELECT term, doc_id, tf FROM (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY term ORDER BY imp DESC, doc_id) AS irn FROM imp0) z
       |  WHERE irn <= (SELECT k FROM k0)),
       |isc AS (SELECT qt.qid, impl.doc_id,
       |  CAST(SUM(((2*n - 2*df + 1) * 1000 // (2*df + 1))
       |    * ((2200 * a * impl.tf) // (10 * a * impl.tf + 3 * a + 9 * dl.dl)))
       |    AS BIGINT) AS score_u
       |  FROM impl JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id), av
       |  GROUP BY 1, 2)""".stripMargin

  private[queries] def sqlImpactStreamTopDocs(qsSql: String): String =
    s"""WITH ${sqlImpactStreamCtes(qsSql)}
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM isc) r
       |WHERE rnk <= $Bm25TopK""".stripMargin

  /** q195's oracle — q183's recall fold with both pages in closed form:
    * the exact page is the accumulated index's serve (byte-identical to
    * the batch q148 staging, so its CTE is the shared `sc`), the
    * bounded page is q194's frozen-cut machine (`isc` via
    * [[sqlImpactStreamTopDocs]]'s CTEs). Integer per-mille; n_exact ≥ 1
    * per emitted group, so the ANSI div is safe.
    */
  private[queries] def sqlImpactStreamRecall(qsSql: String): String = {
    // the shared CTE chain (…, isc) re-headed as the recall fold over
    // the two ranked cuts — no string surgery (see sqlImpactStreamCtes)
    s"""WITH ${sqlImpactStreamCtes(qsSql)},
       |ex AS (SELECT qid, doc_id FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc) r
       |  WHERE rnk <= $Bm25TopK),
       |ap AS (SELECT qid, doc_id FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM isc) r
       |  WHERE rnk <= $Bm25TopK)
       |SELECT qid, n_exact, n_hit,
       |  CAST((n_hit * 1000) // n_exact AS BIGINT) AS recall_pm FROM
       |  (SELECT ex.qid, COUNT(*) AS n_exact,
       |     CAST(SUM(CASE WHEN ap.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       |       AS BIGINT) AS n_hit
       |   FROM ex LEFT JOIN ap ON ex.qid = ap.qid AND ex.doc_id = ap.doc_id
       |   GROUP BY 1) g""".stripMargin
  }

  /** q172's oracle: the BM25 serve re-staged over the corpus MINUS a
    * takedown set — the ground truth the engine's tombstone mask must
    * hash-match. The index side (tf/dl/df/N/L) reads `live`; the query
    * side (`qs`/`qt0`) reads the FULL corpus (a deleted query document
    * still queries — the takedown removes it from the index, not from
    * the caller), mirroring [[bm25Stage]]'s raw-corpus query read.
    */
  private[queries] def sqlBm25TopDocsTakedown(qsSql: String,
      delSql: String): String =
    s"""WITH del AS ($delSql),
       |live AS (SELECT * FROM documents
       |  WHERE doc_id NOT IN (SELECT doc_id FROM del)),
       |t AS (SELECT doc_id, unnest($Toks) AS term FROM live),
       |tq AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
       |av AS (SELECT n, GREATEST(1, l // GREATEST(n, 1)) AS a FROM
       |  (SELECT (SELECT COUNT(*) FROM live) AS n,
       |          (SELECT COUNT(*) FROM t) AS l) nl),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
       |qs AS ($qsSql),
       |qt0 AS (SELECT tq.doc_id AS qid, tq.term, COUNT(*) AS qtf
       |  FROM tq JOIN qs ON tq.doc_id = qs.qid GROUP BY 1, 2),
       |qt AS (SELECT qid, term FROM (SELECT *, ROW_NUMBER() OVER
       |  (PARTITION BY qid ORDER BY qtf DESC, term) AS rn FROM qt0) z
       |  WHERE rn <= $Bm25QTermCap),
       |dfq AS (SELECT term, COUNT(*) AS df FROM tf
       |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
       |sc AS (SELECT qt.qid, tf.doc_id,
       |  CAST(SUM(((2*n - 2*df + 1) * 1000 // (2*df + 1))
       |    * ((2200 * a * tf.tf) // (10 * a * tf.tf + 3 * a + 9 * dl.dl)))
       |    AS BIGINT) AS score_u
       |  FROM tf JOIN qt USING (term) JOIN dfq USING (term)
       |    JOIN dl USING (doc_id), av
       |  GROUP BY 1, 2)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc) r
       |WHERE rnk <= $Bm25TopK""".stripMargin

  /** q172's takedown request set in oracle SQL — the corpus-adaptive
    * ~8-id modulus sample on residue 1 (residue 0 is the query sample's;
    * overlap is possible and intended — a doc can be both query and
    * takedown).
    */
  private[queries] val sqlTakedownIds: String =
    """SELECT doc_id FROM documents,
      |  (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS tmod FROM documents) tm
      |  WHERE doc_id % tmod = 1""".stripMargin

  /** The positional serve family's oracle generator — 1-based positions
    * via the scrubCtes range idiom (adjacency offsets cancel, so the
    * base convention never shows); the `len(tk) >= k` cut mirrors the
    * Spark side's no-phrase drop (null text tokenizes to NULL → len
    * NULL → excluded on both engines). `matchJoins` supplies the
    * position predicate chain over anchor `p1` — exact adjacency for
    * the phrase members, the BETWEEN residual for proximity — so all
    * three oracles (q154/q158/q159) rank through ONE text.
    */
  private def sqlPositionalTopDocs(k: Int, cnt: String,
      matchJoins: String, extraAgg: String = "",
      extraCols: String = ""): String = {
    val tsel = (1 to k).map(i => s"tk[$i] AS t$i").mkString(", ")
    s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
       |qs AS ($sqlDocModQs),
       |qp AS (SELECT t.doc_id AS qid, $tsel
       |  FROM t JOIN qs ON t.doc_id = qs.qid WHERE len(tk) >= $k),
       |tp AS (SELECT doc_id, i.j AS pos, tk[CAST(i.j AS INT)] AS word
       |  FROM t, UNNEST(range(1, len(tk) + 1)) AS i(j)),
       |m AS (SELECT qp.qid, p1.doc_id, COUNT(*) AS $cnt$extraAgg
       |  FROM qp JOIN tp p1 ON p1.word = qp.t1
       |  $matchJoins
       |  GROUP BY 1, 2)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, $cnt$extraCols FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY $cnt DESC, doc_id) AS rnk FROM m) r
       |WHERE rnk <= $Bm25TopK""".stripMargin
  }

  /** The exact k-gram member of [[sqlPositionalTopDocs]]: token i at
    * anchor position + (i − 1).
    */
  private def sqlPhraseTopDocs(k: Int): String =
    sqlPositionalTopDocs(k, "phrase_tf",
      (2 to k).map(i => s"JOIN tp p$i ON p$i.doc_id = p1.doc_id" +
        s" AND p$i.pos = p1.pos + ${i - 1} AND p$i.word = qp.t$i")
        .mkString("\n  "))

  def oracleSql: Map[String, String] = Map(
    "q17_lang_id" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_filter(tk, x -> x IN ${sqlStops("en")})) AS s_en,
         |  len(list_filter(tk, x -> x IN ${sqlStops("es")})) AS s_es,
         |  len(list_filter(tk, x -> x IN ${sqlStops("de")})) AS s_de,
         |  len(list_filter(tk, x -> x IN ${sqlStops("fr")})) AS s_fr FROM t)
         |SELECT doc_id, s_en, s_es, s_de, s_fr,
         |  CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
         |       WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_guess
         |FROM s""".stripMargin,

    "q18_quality_score" ->
      s"""WITH t AS (SELECT doc_id, trim(text) AS tt, $Toks AS tk FROM documents),
         |m AS (SELECT doc_id,
         |  len(tk) AS n_tokens, length(tt) AS n_chars,
         |  length(regexp_replace(tt, '[^a-zA-Z0-9 ]', '', 'g')) AS alnum_space,
         |  len(list_filter(tk, x -> x IN ${sqlStops("en")})) AS stops FROM t)
         |SELECT doc_id, n_tokens, n_chars,
         |  CASE WHEN n_tokens > 0
         |    THEN CAST(stops AS DOUBLE)/CAST(n_tokens AS DOUBLE) END AS stopword_ratio,
         |  CASE WHEN n_chars > 0
         |    THEN CAST(n_chars - alnum_space AS DOUBLE)/CAST(n_chars AS DOUBLE) END AS punct_ratio,
         |  CASE WHEN n_tokens > 0
         |    THEN CAST(stops AS DOUBLE)/CAST(n_tokens AS DOUBLE) END*0.4
         |    + least(1.0, CAST(n_tokens AS DOUBLE)/50.0)*0.6 AS quality
         |FROM m""".stripMargin,

    "q19_token_count" ->
      s"""SELECT doc_id,
         |  len($Toks) AS n_ws_tokens,
         |  len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_re_tokens
         |FROM documents""".stripMargin,

    "q20_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS tt FROM documents),
        |sh AS (SELECT doc_id, CASE WHEN length(tt) < 8 THEN [tt]
        |  ELSE [substr(tt, i, 8) for i in range(1, length(tt)-7+1)] END AS ss FROM t)
        |SELECT doc_id,
        |  list_min(list_transform(ss,
        |    s -> ${SqlHash("s")})) AS fingerprint
        |FROM sh""".stripMargin,

    "q21_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY sha256(text)""".stripMargin,

    "q22_ngram_jaccard" -> sqlJaccardPairsSql,

    // the q22 gram construction × source, hashed, one distinct-count agg
    "q140_source_diversity" ->
      s"""WITH t AS (SELECT source, $Toks AS tk FROM documents),
         |gs AS (SELECT source,
         |  unnest(CASE WHEN len(tk) < 3 THEN []
         |    ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-2+1)] END) AS gstr
         |  FROM t),
         |g AS (SELECT source, ${SqlHash("gstr")} AS g FROM gs)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(COUNT(DISTINCT g) AS BIGINT) AS n_distinct,
         |  CAST((COUNT(DISTINCT g) * 1000) // COUNT(*) AS BIGINT) AS distinct_pm
         |FROM g GROUP BY source""".stripMargin,

    // the q17 chain joined to the label, matrix-sized share window
    "q135_langid_confusion" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |s AS (SELECT doc_id,
         |  len(list_filter(tk, x -> x IN ${sqlStops("en")})) AS s_en,
         |  len(list_filter(tk, x -> x IN ${sqlStops("es")})) AS s_es,
         |  len(list_filter(tk, x -> x IN ${sqlStops("de")})) AS s_de,
         |  len(list_filter(tk, x -> x IN ${sqlStops("fr")})) AS s_fr FROM t),
         |g AS (SELECT doc_id,
         |  CASE WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
         |       WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_guess
         |  FROM s),
         |m AS (SELECT d.lang, g.lang_guess, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM documents d JOIN g ON g.doc_id = d.doc_id
         |  GROUP BY d.lang, g.lang_guess)
         |SELECT lang, lang_guess, n_docs,
         |  CAST((n_docs * 1000) // SUM(n_docs) OVER (PARTITION BY lang)
         |    AS BIGINT) AS share_pm
         |FROM m""".stripMargin,

    // the two shared pair statements as subqueries, one ordered-pair
    // left join, grouped by hamming
    "q136_sketch_precision" ->
      s"""WITH spairs AS (WITH ${Similarity.SqlSimhashPairCtes}
         |  ${Similarity.SqlSimhashPairSelect.replace("\n", " ")}),
         |jp AS (SELECT doc_a, doc_b FROM ($sqlJaccardPairsSql))
         |SELECT s.hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(CASE WHEN jp.doc_a IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_confirmed
         |FROM spairs s LEFT JOIN jp
         |  ON jp.doc_a = s.doc_a AND jp.doc_b = s.doc_b
         |GROUP BY s.hamming""".stripMargin,

    // the shared candidate CTEs, one intersection per unordered pair,
    // both directions unioned, the integer per-mille bar
    "q125_gram_containment" ->
      s"""WITH $sqlGramCandCtes,
         |j AS (SELECT doc_a, doc_b,
         |  CAST(len(list_filter(x.g3, e -> list_contains(y.g3, e))) AS BIGINT)
         |    AS inter,
         |  CAST(len(x.g3) AS BIGINT) AS na, CAST(len(y.g3) AS BIGINT) AS nb
         |  FROM cand JOIN g x ON x.doc_id = doc_a JOIN g y ON y.doc_id = doc_b),
         |d AS (SELECT doc_a AS inner_doc, doc_b AS outer_doc, inter,
         |    na AS n_inner FROM j
         |  UNION ALL SELECT doc_b, doc_a, inter, nb FROM j)
         |SELECT inner_doc, outer_doc, inter, n_inner,
         |  CAST((inter * 1000) // n_inner AS BIGINT) AS containment_pm
         |FROM d WHERE inter * 1000 >= $ContainPm * n_inner""".stripMargin,

    "q40_vocab_topk" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($Toks) AS tk FROM documents),
         |u AS (SELECT unnest(tk) AS token FROM t)
         |SELECT token, COUNT(*) AS doc_freq FROM u
         |GROUP BY token ORDER BY doc_freq DESC, token LIMIT 20""".stripMargin,

    // the BpeRounds merge rounds unrolled as CTE blocks; the per-symbol
    // chr(1)-enclosed representation and the single-pass replace are the
    // SAME algorithm the Spark side runs (see the q87 operator comment)
    "q87_bpe_merges" -> {
      val rounds = (1 to BpeRounds).map { r =>
        bpePm(r, s"v${r - 1}") + (if (r < BpeRounds) ",\n" + bpeVm(r) else "")
      }.mkString(",\n")
      val out = (1 to BpeRounds).map { r =>
        s"SELECT CAST($r AS BIGINT) AS round, a AS lhs, b AS rhs, cnt AS n FROM m$r"
      }.mkString("\nUNION ALL ")
      s"WITH $bpeV0,\n$rounds\n$out"
    },

    // the same training chain carried through the FINAL round's merge
    // (v$BpeRounds), then per-word trained-token counts joined back to
    // the per-doc word list — the relational mirror of encoding on the
    // vocabulary and stitching counts to occurrences
    "q90_bpe_encode" ->
      s"""WITH $bpeEncodedCtes
         |SELECT d.doc_id, COALESCE(pd.n_words, CAST(0 AS BIGINT)) AS n_words,
         |  COALESCE(pd.n_bpe_tokens, CAST(0 AS BIGINT)) AS n_bpe_tokens
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,

    // the same encode chain grouped by source; per-mille floor-divide on
    // the exact long sums (pd only holds docs with ≥1 word, matching the
    // Spark side's n_words > 0 filter)
    "q126_tokenizer_fertility" ->
      s"""WITH $bpeEncodedCtes
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(pd.n_words) AS BIGINT) AS n_words,
         |  CAST(SUM(pd.n_bpe_tokens) AS BIGINT) AS n_bpe_tokens,
         |  CAST((SUM(pd.n_bpe_tokens) * 1000) // SUM(pd.n_words) AS BIGINT)
         |    AS fertility_pm
         |FROM pd JOIN documents d ON d.doc_id = pd.doc_id
         |GROUP BY d.source""".stripMargin,

    "q41_repetition" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(tk) < 2 THEN []
         |  ELSE [tk[i]||' '||tk[i+1] for i in range(1, len(tk)-1+1)] END AS g2 FROM t)
         |SELECT doc_id, len(g2) AS n_g2, len(list_distinct(g2)) AS n_distinct,
         |  CASE WHEN len(g2) > 0 THEN 1.0 -
         |    CAST(len(list_distinct(g2)) AS DOUBLE)/CAST(len(g2) AS DOUBLE)
         |  END AS repetition
         |FROM g""".stripMargin,

    // 60-bit gram hashing mirrors portableHash60 (seed 0 — no suffix);
    // per-doc distinct grams make COUNT(*) the document frequency
    "q71_dup_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) < 5 THEN []
         |  ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]
         |        for i in range(1, len(tk)-4+1)] END) AS g5s FROM t),
         |e AS (SELECT doc_id, ${SqlHash60("gr")} AS h
         |  FROM (SELECT doc_id, unnest(g5s) AS gr FROM g) u),
         |c AS (SELECT h FROM (SELECT h, COUNT(*) AS n_docs FROM e GROUP BY h) q
         |  WHERE n_docs >= 2),
         |sdoc AS (SELECT doc_id, COUNT(*) AS n_shared FROM e
         |  WHERE h IN (SELECT h FROM c) GROUP BY doc_id),
         |b AS (SELECT doc_id, CAST(len(g5s) AS BIGINT) AS n_g5 FROM g)
         |SELECT b.doc_id, b.n_g5, COALESCE(s.n_shared, 0) AS n_shared,
         |  CASE WHEN b.n_g5 > 0
         |    THEN CAST(COALESCE(s.n_shared, 0) AS DOUBLE)/CAST(b.n_g5 AS DOUBLE)
         |  END AS dup_frac
         |FROM b LEFT JOIN sdoc s ON s.doc_id = b.doc_id""".stripMargin,

    // POSITIONAL grams (no list_distinct) drive the run; doc frequency
    // still counts per-doc distinct grams (u2), exactly as the Spark side
    "q94_dup_passage" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, CASE WHEN len(tk) < 5 THEN []
         |  ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3]||' '||tk[i+4]
         |        for i in range(1, len(tk)-4+1)] END AS g5s FROM t),
         |ph AS (SELECT doc_id, list_transform(g5s, x -> ${SqlHash60("x")}) AS g5h FROM g),
         |c AS (SELECT h FROM (SELECT h, COUNT(*) AS n_docs FROM
         |    (SELECT doc_id, unnest(list_distinct(g5h)) AS h FROM ph) u2
         |  GROUP BY h) q WHERE n_docs >= 2),
         |sp AS (SELECT doc_id, pos FROM
         |    (SELECT ph.doc_id, i.j AS pos, ph.g5h[CAST(i.j AS INT)] AS h
         |     FROM ph, UNNEST(range(1, len(ph.g5h) + 1)) AS i(j)) u
         |  WHERE h IN (SELECT h FROM c)),
         |r AS (SELECT doc_id,
         |    pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM sp),
         |runs AS (SELECT doc_id, MAX(cnt) AS longest0 FROM
         |  (SELECT doc_id, grp, COUNT(*) AS cnt FROM r GROUP BY doc_id, grp) z
         |  GROUP BY doc_id)
         |SELECT p.doc_id, CAST(len(p.g5h) AS BIGINT) AS n_g5,
         |  COALESCE(runs.longest0, 0) AS longest_run,
         |  CASE WHEN COALESCE(runs.longest0, 0) > 0
         |    THEN COALESCE(runs.longest0, 0) + 4 ELSE 0 END AS passage_tokens
         |FROM ph p LEFT JOIN runs ON runs.doc_id = p.doc_id""".stripMargin,

    // the q20 shingle/hash chain, then window-min selection (list
    // slicing is 1-based inclusive, truncating like Spark's slice — the
    // q74 parity note) and the q22 cap/join/count pair discipline
    "q99_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, lower(trim(text)) AS tt FROM documents),
         |sh AS (SELECT doc_id, CASE WHEN length(tt) < 8 THEN [tt]
         |  ELSE [substr(tt, i, 8) for i in range(1, length(tt)-7+1)] END AS ss FROM t),
         |hs AS (SELECT doc_id, list_transform(ss, s -> ${SqlHash("s")}) AS h FROM sh),
         |fp AS (SELECT doc_id, list_distinct(
         |  CASE WHEN len(h) < $WinnowWindow THEN [list_min(h)]
         |  ELSE [list_min(h[i:i+${WinnowWindow - 1}])
         |        for i in range(1, len(h)-$WinnowWindow+2)] END) AS fps FROM hs),
         |k AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |rare AS (SELECT f FROM k GROUP BY f HAVING COUNT(*) <= $MaxBucketDocs),
         |kc AS (SELECT k.doc_id, k.f FROM k JOIN rare USING (f)),
         |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM kc a JOIN kc b ON a.f = b.f AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |n AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS nf FROM fp)
         |SELECT p.doc_a, p.doc_b, p.n_shared,
         |  CAST(p.n_shared AS DOUBLE) / CAST(least(na.nf, nb.nf) AS DOUBLE)
         |    AS overlap
         |FROM p JOIN n na ON na.doc_id = p.doc_a
         |  JOIN n nb ON nb.doc_id = p.doc_b
         |WHERE p.n_shared >= 2
         |  AND CAST(p.n_shared AS DOUBLE)
         |    / CAST(least(na.nf, nb.nf) AS DOUBLE) >= 0.2""".stripMargin,

    // list slicing is 1-based inclusive in DuckDB and truncates at the
    // end like Spark's slice; sha256 ≡ sha2(·,256) (the q15 parity)
    "q74_chunk_windows" ->
      s"""WITH t0 AS (SELECT doc_id, $Toks AS tk FROM documents),
         |t AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n
         |  FROM t0 WHERE len(tk) > 0),
         |st AS (SELECT doc_id, tk, n,
         |  unnest(range(0, n, $ChunkStride)) AS start FROM t)
         |SELECT doc_id, start // $ChunkStride AS chunk_idx, start,
         |  least($ChunkWin, n - start) AS chunk_len,
         |  sha256(array_to_string(tk[start+1 : start+$ChunkWin], ' ')) AS chunk_hash
         |FROM st""".stripMargin,

    "q50_pii_scan" -> sqlPiiScanSql,

    // the q50 statement as a subquery, grouped per source
    "q141_pii_incidence" ->
      s"""WITH ps AS ($sqlPiiScanSql)
         |SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN ps.n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_email_docs,
         |  CAST(SUM(CASE WHEN ps.n_urls > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_url_docs,
         |  CAST(SUM(CASE WHEN ps.n_ips > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_ip_docs,
         |  CAST(SUM(CASE WHEN ps.clean THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_clean,
         |  CAST((SUM(CASE WHEN ps.clean THEN 1 ELSE 0 END) * 1000)
         |    // COUNT(*) AS BIGINT) AS clean_pm
         |FROM ps JOIN documents d USING (doc_id)
         |GROUP BY d.source""".stripMargin,

    "q51_pii_redact" ->
      s"""WITH t1 AS (SELECT doc_id,
         |  len(regexp_extract_all(text, '$PiiEmail')) AS n_emails,
         |  regexp_replace(text, '$PiiEmail', '[EMAIL]', 'g') AS r1
         |  FROM documents),
         |t2 AS (SELECT doc_id, n_emails,
         |  len(regexp_extract_all(r1, '$PiiUrl')) AS n_urls,
         |  regexp_replace(r1, '$PiiUrl', '[URL]', 'g') AS r2 FROM t1),
         |t3 AS (SELECT doc_id, n_emails, n_urls,
         |  len(regexp_extract_all(r2, '$PiiIp')) AS n_ips,
         |  regexp_replace(r2, '$PiiIp', '[IP]', 'g') AS redacted FROM t2)
         |SELECT doc_id, redacted, n_emails, n_urls, n_ips FROM t3""".stripMargin,

    "q46_tfidf_top_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY doc_id, term),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |sc AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |  CAST(tf.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE)
         |    / CAST(df.df AS DOUBLE) AS score
         |  FROM tf JOIN df USING (term)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |  ORDER BY score DESC, term) AS rn FROM sc)
         |SELECT doc_id, term, tf, df, score FROM r WHERE rn <= 3""".stripMargin,

    "q148_bm25_topk" -> sqlBm25TopDocs(sqlDocModQs),

    // the impact-ordered approximate serve: the q148 chain with the
    // per-term top-ImpactK cut between postings and scoring
    "q182_impact_bm25_topk" -> sqlImpactTopDocs(sqlDocModQs),
    "q194_impact_stream_topk" -> sqlImpactStreamTopDocs(sqlDocModQs),
    "q195_impact_stream_recall" -> sqlImpactStreamRecall(sqlDocModQs),

    // q148's text VERBATIM — the appended index's exactness contract
    // IS the identity with a fresh full staging (see appendLexIndex)
    "q187_lex_append_topk" -> sqlBm25TopDocs(sqlDocModQs),

    // q182's text VERBATIM — the bounded re-cut reproduces the fresh
    // sidecar's serve exactly (see appendImpactIndex)
    "q188_impact_append_topk" -> sqlImpactTopDocs(sqlDocModQs),

    // q154's text VERBATIM — positional rows are per-document, the
    // append is pure accretion (see appendPosIndex)
    "q189_pos_append_topk" -> sqlPhraseTopDocs(2),

    // recall@k of the impact serve against the exact page, per query —
    // two full chains with clashing CTE names compose as nested WITHs
    "q183_impact_recall_audit" ->
      s"""WITH ex AS (${sqlBm25TopDocs(sqlDocModQs)}),
         |ap AS (${sqlImpactTopDocs(sqlDocModQs)}),
         |j AS (SELECT ex.qid, COUNT(*) AS n_exact,
         |  CAST(COALESCE(SUM(CASE WHEN ap.doc_id IS NOT NULL THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.doc_id = ex.doc_id
         |  GROUP BY ex.qid)
         |SELECT qid, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST((n_hit * 1000) // n_exact AS BIGINT) AS recall_pm
         |FROM j""".stripMargin,

    // the K-drift card's oracle models the FRESH staging (the oracle
    // session never appends or purges): a fresh per-term cut keeps
    // exactly least(df, K) postings, so the stored length IS that and
    // the stale count is identically zero — the engine side measures
    // the live sidecar against the same formula
    "q193_impact_k_card" ->
      s"""WITH t AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |kk AS (SELECT GREATEST($ImpactKFloor,
         |  16 * CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k FROM documents),
         |dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df
         |  FROM t GROUP BY term),
         |ln AS (SELECT LEAST(df, (SELECT k FROM kk)) AS len FROM dft)
         |SELECT (SELECT k FROM kk) AS k_derived,
         |  CAST(COALESCE(MAX(len), 0) AS BIGINT) AS k_max_stored,
         |  CAST(COUNT(*) AS BIGINT) AS n_terms,
         |  CAST(0 AS BIGINT) AS n_stale,
         |  CAST(1 AS BIGINT) AS k_current
         |FROM ln""".stripMargin,

    // the takedown-masked serve: the same ranking re-staged over the
    // corpus minus the request's ids (the engine masks instead — same
    // rows by contract)
    "q172_takedown_bm25" -> sqlBm25TopDocsTakedown(sqlDocModQs, sqlTakedownIds),

    // the q148 page, then the two positional features computed over the
    // PAGE's documents only (the lead join carries the page restriction)
    // and the scale-free multiplicative boost — non-negative operands,
    // so `//` ≡ `div`
    "q181_feature_rerank" ->
      s"""WITH ${sqlBm25Ctes(sqlDocModQs)},
         |page AS (SELECT qid, doc_id, score_u FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc) r
         |  WHERE rnk <= $Bm25TopK),
         |tkx AS (SELECT doc_id, $Toks AS tk FROM documents),
         |qpx AS (SELECT t.doc_id AS qid, t.tk[1] AS t1, t.tk[2] AS t2
         |  FROM tkx t JOIN qs ON t.doc_id = qs.qid WHERE len(t.tk) >= 2),
         |tpx AS (SELECT doc_id, i.j AS pos, tk[CAST(i.j AS INT)] AS word
         |  FROM tkx, UNNEST(range(1, len(tk) + 1)) AS i(j)),
         |lead0 AS (SELECT qpx.qid, p1.doc_id, p1.pos, qpx.t2
         |  FROM qpx JOIN tpx p1 ON p1.word = qpx.t1
         |  JOIN page pg ON pg.qid = qpx.qid AND pg.doc_id = p1.doc_id),
         |ph AS (SELECT l.qid, l.doc_id, COUNT(*) AS phrase_tf
         |  FROM lead0 l JOIN tpx p2 ON p2.doc_id = l.doc_id
         |    AND p2.word = l.t2 AND p2.pos = l.pos + 1
         |  GROUP BY 1, 2),
         |px AS (SELECT l.qid, l.doc_id, COUNT(*) AS prox_tf
         |  FROM lead0 l JOIN tpx p2 ON p2.doc_id = l.doc_id
         |    AND p2.word = l.t2 AND p2.pos > l.pos
         |    AND p2.pos <= l.pos + $ProxWindow
         |  GROUP BY 1, 2),
         |fx AS (SELECT pg.qid, pg.doc_id, pg.score_u,
         |  CAST(COALESCE(ph.phrase_tf, 0) AS BIGINT) AS phrase_tf,
         |  CAST(COALESCE(px.prox_tf, 0) AS BIGINT) AS prox_tf
         |  FROM page pg
         |  LEFT JOIN ph ON ph.qid = pg.qid AND ph.doc_id = pg.doc_id
         |  LEFT JOIN px ON px.qid = pg.qid AND px.doc_id = pg.doc_id),
         |rr AS (SELECT *, score_u + (score_u // 1000) *
         |  ($RerankPhraseBoostPm * LEAST(phrase_tf, $RerankFeatCap) +
         |   $RerankProxBoostPm * LEAST(prox_tf, $RerankFeatCap)) AS final_u
         |  FROM fx)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u,
         |  phrase_tf, prox_tf, CAST(final_u AS BIGINT) AS final_u FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY final_u DESC, doc_id) AS rnk FROM rr) r""".stripMargin,

    // the shared q148 CTE chain (scored candidates in `sc`), then the
    // feedback loop spelled relationally: top-3 hits per query, their
    // term mass from the SAME `tf`, candidates capped at 32 by feedback
    // tf (the collect-bound mirror), idf-weighted top-2 winners, and
    // the weighted union re-scored through the identical arithmetic
    "q178_prf_topk" ->
      s"""WITH ${sqlBm25Ctes(sqlDocModQs)},
         |serve1 AS (SELECT qid, doc_id FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc) r
         |  WHERE rnk <= $PrfFbDocs),
         |fbt AS (SELECT s1.qid, tf.term, CAST(SUM(tf.tf) AS BIGINT) AS fw0
         |  FROM serve1 s1 JOIN tf USING (doc_id)
         |  GROUP BY s1.qid, tf.term),
         |expc AS (SELECT qid, term, fw0 FROM
         |  (SELECT f.*, ROW_NUMBER() OVER (PARTITION BY f.qid
         |     ORDER BY f.fw0 DESC, f.term) AS crn
         |   FROM fbt f WHERE NOT EXISTS (SELECT 1 FROM qt
         |     WHERE qt.qid = f.qid AND qt.term = f.term)) z
         |  WHERE crn <= $PrfCandCap),
         |dfe AS (SELECT term, COUNT(*) AS df FROM tf
         |  WHERE term IN (SELECT term FROM expc) GROUP BY term),
         |expw AS (SELECT expc.qid, expc.term,
         |  (2*n - 2*df + 1) * 1000 // (2*df + 1) AS idf_m,
         |  expc.fw0 * ((2*n - 2*df + 1) * 1000 // (2*df + 1)) AS ew
         |  FROM expc JOIN dfe USING (term), av),
         |expt AS (SELECT qid, term, idf_m, CAST($PrfExpW AS BIGINT) AS w FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY ew DESC, term) AS ern FROM expw) z
         |  WHERE ern <= $PrfExpTerms),
         |origt AS (SELECT qt.qid, qt.term,
         |  (2*n - 2*df + 1) * 1000 // (2*df + 1) AS idf_m,
         |  CAST($PrfOrigW AS BIGINT) AS w
         |  FROM qt JOIN dfq USING (term), av),
         |qt2 AS (SELECT * FROM origt UNION ALL SELECT * FROM expt),
         |sc2 AS (SELECT qt2.qid, tf.doc_id,
         |  CAST(SUM(qt2.w * qt2.idf_m
         |    * ((2200 * a * tf.tf) // (10 * a * tf.tf + 3 * a + 9 * dl.dl)))
         |    AS BIGINT) AS score_u
         |  FROM tf JOIN qt2 USING (term) JOIN dl USING (doc_id), av
         |  GROUP BY 1, 2)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, score_u FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY score_u DESC, doc_id) AS rnk FROM sc2) r
         |WHERE rnk <= $Bm25TopK""".stripMargin,

    // the positional serve family: ONE generated text per member (k = 2
    // bigram, k = 3 trigram, the within-N proximity) — the shared CTE
    // chain in [[sqlPositionalTopDocs]].
    "q154_phrase_topk" -> sqlPhraseTopDocs(2),

    "q158_phrase3_topk" -> sqlPhraseTopDocs(PhraseK),

    "q159_proximity_topk" -> sqlPositionalTopDocs(2, "prox_tf",
      s"JOIN tp p2 ON p2.doc_id = p1.doc_id AND p2.word = qp.t2" +
        s" AND p2.pos BETWEEN p1.pos + 1 AND p1.pos + $ProxWindow"),

    // the snippet serve: the bigram text + MIN first-occurrence anchor,
    // the oracle's 1-based range shifted to the engine's 0-based offset
    "q161_phrase_snippets" -> sqlPositionalTopDocs(2, "phrase_tf",
      "JOIN tp p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1" +
        " AND p2.word = qp.t2",
      extraAgg = ", CAST(MIN(p1.pos) - 1 AS BIGINT) AS first_pos",
      extraCols = ", first_pos"),

    // the self-check folds the embedded serve statement (nested-WITH)
    "q163_retrieval_selfcheck" ->
      s"""WITH serve AS (${sqlBm25TopDocs(sqlDocModQs)})
         |SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
         |  CAST(COALESCE(SUM(CASE WHEN rnk = 1 AND doc_id = qid
         |    THEN 1 END), 0) AS BIGINT) AS n_self_top1,
         |  CAST(CASE WHEN COUNT(DISTINCT qid) >= 1
         |    THEN (COALESCE(SUM(CASE WHEN rnk = 1 AND doc_id = qid
         |      THEN 1 END), 0) * 1000) // COUNT(DISTINCT qid) END
         |    AS BIGINT) AS self_top1_pm
         |FROM serve""".stripMargin,

    // per-doc repetition shares: gram totals are n−1 / n−2 (the engine
    // counts gram SLOTS, not distinct grams, in the denominator)
    "q162_repetition_card" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |m AS (SELECT doc_id, len(tk) AS n,
         |  len(list_distinct(CASE WHEN len(tk) < 2 THEN []
         |    ELSE [tk[i]||' '||tk[i+1] for i in range(1, len(tk)-1+1)] END)) AS d2,
         |  len(list_distinct(CASE WHEN len(tk) < 3 THEN []
         |    ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2]
         |          for i in range(1, len(tk)-2+1)] END)) AS d3
         |  FROM t WHERE tk IS NOT NULL),
         |tf AS (SELECT doc_id, MAX(c) AS max_tf FROM
         |  (SELECT doc_id, tok, COUNT(*) AS c FROM
         |    (SELECT doc_id, unnest(tk) AS tok FROM t) GROUP BY doc_id, tok)
         |  GROUP BY doc_id)
         |SELECT d.doc_id, CAST(m.n AS BIGINT) AS n_tokens,
         |  CAST(CASE WHEN m.n >= 1 THEN (tf.max_tf * 1000) // m.n END
         |    AS BIGINT) AS top_tok_pm,
         |  CAST(CASE WHEN m.n >= 2
         |    THEN ((m.n - 1 - m.d2) * 1000) // (m.n - 1) END
         |    AS BIGINT) AS dup_2gram_pm,
         |  CAST(CASE WHEN m.n >= 3
         |    THEN ((m.n - 2 - m.d3) * 1000) // (m.n - 2) END
         |    AS BIGINT) AS dup_3gram_pm
         |FROM documents d
         |  LEFT JOIN m USING (doc_id) LEFT JOIN tf USING (doc_id)""".stripMargin,

    // the card recomputed from raw text — auditing the staged index
    // against its definition is the point
    "q160_lex_index_card" ->
      s"""WITH t AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |nl AS (SELECT (SELECT COUNT(*) FROM documents) AS n,
         |               (SELECT COUNT(*) FROM t) AS l),
         |agg AS (SELECT COUNT(*) AS n_terms,
         |  CAST(COALESCE(SUM(df), 0) AS BIGINT) AS n_postings,
         |  COALESCE(MAX(df), 0) AS max_df FROM df),
         |hv AS (SELECT COUNT(*) AS n_heavy FROM df, nl WHERE df > n // 2)
         |SELECT CAST(n AS BIGINT) AS n_docs, CAST(l AS BIGINT) AS n_tokens,
         |  CAST(GREATEST(1, l // GREATEST(n, 1)) AS BIGINT) AS avgdl_q,
         |  CAST(n_terms AS BIGINT) AS n_terms,
         |  CAST(n_postings AS BIGINT) AS n_postings,
         |  CAST(max_df AS BIGINT) AS max_df,
         |  CAST(n_heavy AS BIGINT) AS n_heavy_terms
         |FROM nl, agg, hv""".stripMargin,

    "q47_length_quartiles" ->
      """WITH r AS (SELECT lang, n_chars,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
        |  COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM documents)
        |SELECT lang, MAX(n) AS n_docs,
        |  MIN(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS q1_chars,
        |  MIN(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median_chars,
        |  MIN(CASE WHEN rn = (n * 3 + 3) // 4 THEN n_chars END) AS q3_chars
        |FROM r GROUP BY lang""".stripMargin,

    // CASTs around the window SUMs: DuckDB widens SUM(BIGINT) to HUGEINT
    // (the q49 lesson); the admission hash is the 15-hex-char 60-bit
    // prefix with the '#7' seed suffix (the portableHash60 mirror)
    "q66_quantile_sketch" ->
      s"""WITH md AS (SELECT GREATEST(1, (count(*) + ${QSketchCap - 1}) // $QSketchCap) AS m
         |  FROM documents),
         |samp AS (SELECT lang, n_chars FROM documents, md
         |  WHERE ${SqlHash60("CAST(doc_id AS VARCHAR)||'#7'")} % m = 0),
         |h AS (SELECT lang, n_chars, COUNT(*) AS cnt FROM samp GROUP BY lang, n_chars),
         |c AS (SELECT lang, n_chars,
         |  CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT) AS cum,
         |  CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS ns FROM h)
         |SELECT lang, MAX(ns) AS n_sample,
         |  MIN(CASE WHEN cum >= (ns + 3) // 4 THEN n_chars END) AS p25,
         |  MIN(CASE WHEN cum >= (ns + 1) // 2 THEN n_chars END) AS p50,
         |  MIN(CASE WHEN cum >= (ns * 3 + 3) // 4 THEN n_chars END) AS p75,
         |  MIN(CASE WHEN cum >= (ns * 19 + 19) // 20 THEN n_chars END) AS p95
         |FROM c GROUP BY lang""".stripMargin,

    "q45_quality_filter" ->
      s"""WITH $sqlQualityCtes
         |SELECT doc_id, n_words, mean_word_len, frac_alpha, n_stop_distinct, pass
         |FROM qp""".stripMargin,

    // the q45 gate chain labels the occurrences; bin() digit count is
    // the shared floor-log2 (the q61 convention); SUMs widen to HUGEINT
    // so the q72 CAST convention applies
    "q166_nb_quality" ->
      s"""WITH $sqlQualityCtes,
         |nt AS (SELECT doc_id, unnest($Toks) AS tok FROM documents),
         |ntl AS (SELECT nt.doc_id, nt.tok, qp.pass
         |  FROM nt JOIN qp USING (doc_id)),
         |nvc AS (SELECT tok,
         |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |  CAST(SUM(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT) AS c0
         |  FROM ntl GROUP BY tok),
         |ntot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
         |  CAST(SUM(c0) AS BIGINT) AS t0,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM nvc),
         |nw AS (SELECT tok,
         |  (length(bin(c1 + 1)) - 1) - (length(bin(t1 + v)) - 1)
         |  - (length(bin(c0 + 1)) - 1) + (length(bin(t0 + v)) - 1) AS w
         |  FROM nvc, ntot),
         |nsc AS (SELECT nt.doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(nw.w) AS BIGINT) AS nb_score
         |  FROM nt JOIN nw USING (tok) GROUP BY 1)
         |SELECT qp.doc_id, qp.pass AS gate_pass, nsc.n_tokens, nsc.nb_score,
         |  CASE WHEN nsc.n_tokens IS NOT NULL THEN nsc.nb_score > 0 END AS nb_pass
         |FROM qp LEFT JOIN nsc ON nsc.doc_id = qp.doc_id""".stripMargin,

    // q166's statement with the token space hashed into NbBuckets (the
    // q109 mirror: SqlHash60 % buckets)
    "q168_nb_hashed" ->
      s"""WITH $sqlQualityCtes,
         |nt AS (SELECT doc_id, ${SqlHash60("tok")} % $NbBuckets AS b FROM
         |  (SELECT doc_id, unnest($Toks) AS tok FROM documents) u),
         |ntl AS (SELECT nt.doc_id, nt.b, qp.pass
         |  FROM nt JOIN qp USING (doc_id)),
         |nvc AS (SELECT b,
         |  CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |  CAST(SUM(CASE WHEN pass THEN 0 ELSE 1 END) AS BIGINT) AS c0
         |  FROM ntl GROUP BY b),
         |ntot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t1,
         |  CAST(SUM(c0) AS BIGINT) AS t0,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM nvc),
         |nw AS (SELECT b,
         |  (length(bin(c1 + 1)) - 1) - (length(bin(t1 + v)) - 1)
         |  - (length(bin(c0 + 1)) - 1) + (length(bin(t0 + v)) - 1) AS w
         |  FROM nvc, ntot),
         |nsc AS (SELECT nt.doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(nw.w) AS BIGINT) AS nb_score
         |  FROM nt JOIN nw USING (b) GROUP BY 1)
         |SELECT qp.doc_id, qp.pass AS gate_pass, nsc.n_tokens, nsc.nb_score,
         |  CASE WHEN nsc.n_tokens IS NOT NULL THEN nsc.nb_score > 0 END AS nb_pass
         |FROM qp LEFT JOIN nsc ON nsc.doc_id = qp.doc_id""".stripMargin,

    "q55_bloom_admitted" ->
      s"""WITH adm AS (SELECT text FROM documents WHERE lang = 'en'),
         |ep AS (SELECT ${SqlHash("CASE WHEN j = 0 THEN text ELSE text||'#'||j END")}
         |    % ${BloomWords * 64} AS p
         |  FROM adm, range(0, $BloomK) rj(j)),
         |words AS (SELECT p // 64 AS w,
         |    bit_or(CAST(1 AS HUGEINT) << CAST(p % 64 AS INTEGER)) AS bits
         |  FROM ep GROUP BY 1),
         |cp AS (SELECT d.doc_id, COALESCE(d.lang = 'en', false) AS admitted,
         |  ${SqlHash("CASE WHEN j = 0 THEN d.text ELSE d.text||'#'||j END")}
         |    % ${BloomWords * 64} AS p
         |  FROM documents d, range(0, $BloomK) rj(j)),
         |probe AS (SELECT cp.doc_id, cp.admitted,
         |  CASE WHEN cp.p IS NULL THEN NULL
         |    ELSE COALESCE((w.bits & (CAST(1 AS HUGEINT) << CAST(cp.p % 64 AS INTEGER))) != 0, false)
         |  END AS hit
         |  FROM cp LEFT JOIN words w ON w.w = cp.p // 64)
         |SELECT doc_id, admitted, MIN(hit) AS maybe_admitted
         |FROM probe GROUP BY doc_id, admitted""".stripMargin,

    "q54_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($Toks) AS tok FROM documents),
         |e AS (SELECT tok, COUNT(*) AS n_exact FROM t GROUP BY tok),
         |top AS (SELECT tok, n_exact FROM e ORDER BY n_exact DESC, tok LIMIT 10),
         |k AS (SELECT tok, d,
         |  ${SqlHash("CASE WHEN d = 0 THEN tok ELSE tok||'#'||d END")} % $CmsWidth AS cell
         |  FROM t, range(0, $CmsDepth) r(d)),
         |c AS (SELECT d, cell, COUNT(*) AS cnt FROM k GROUP BY d, cell),
         |tk AS (SELECT top.tok, top.n_exact, d,
         |  ${SqlHash("CASE WHEN d = 0 THEN top.tok ELSE top.tok||'#'||d END")} % $CmsWidth AS cell
         |  FROM top, range(0, $CmsDepth) r(d))
         |SELECT tk.tok, tk.n_exact, CAST(MIN(c.cnt) AS BIGINT) AS n_cms
         |FROM tk JOIN c USING (d, cell)
         |GROUP BY tk.tok, tk.n_exact""".stripMargin,

    "q53_vocab_hll" ->
      s"""WITH t AS (SELECT lang, unnest($Toks) AS tok FROM documents),
         |h AS (SELECT lang, ${SqlHash("tok")} AS hv FROM t),
         |r AS (SELECT lang, hv & 63 AS reg,
         |  CASE WHEN (hv >> 6) > 0 THEN 27 - length(bin(hv >> 6)) ELSE 27 END AS rho
         |  FROM h),
         |m AS (SELECT lang, reg, MAX(rho) AS mr FROM r GROUP BY lang, reg),
         |s AS (SELECT lang, CAST(SUM(CAST(1 AS BIGINT) << CAST(27 - mr AS INTEGER))
         |    + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 27) AS BIGINT) AS sint,
         |  64 - COUNT(*) AS v
         |  FROM m GROUP BY lang),
         |e AS (SELECT lang, COUNT(DISTINCT tok) AS n_exact FROM t GROUP BY lang),
         |est AS (SELECT lang,
         |  CAST(709 AS DOUBLE)/CAST(1000 AS DOUBLE) * CAST(549755813888 AS DOUBLE)
         |    / CAST(sint AS DOUBLE) AS raw, v FROM s)
         |SELECT e.lang, e.n_exact,
         |  CASE WHEN est.raw <= CAST(160 AS DOUBLE) AND est.v > 0
         |    THEN CASE est.v ${HllLc.zipWithIndex.map { case ((m, p), i) =>
                s"WHEN ${i + 1} THEN CAST($m AS DOUBLE)/CAST($p AS DOUBLE)"
              }.mkString(" ")} END
         |  ELSE est.raw END AS n_hll
         |FROM e JOIN est USING (lang)""".stripMargin,

    "q36_prep_pipeline" ->
      s"""WITH dd AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text, ROW_NUMBER() OVER (
         |    PARTITION BY sha256(text) ORDER BY doc_id) AS rn FROM documents) t
         |  WHERE rn = 1),
         |${sqlPrepScore("dd")}
         |SELECT doc_id, n_tokens, quality FROM f
         |WHERE lang_guess = 'en' AND quality >= 0.5""".stripMargin,

    // bin() digit count mirrors Spark's conv(x, 10, 2) length: both
    // render the minimal binary form, so length-1 = floor(log2) exactly
    "q61_mean_surprisal" ->
      s"""WITH tk AS (SELECT doc_id, $Toks AS tk FROM documents),
         |t AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
         |c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t_total FROM c),
         |b AS (SELECT t.doc_id, length(bin(t_total // c.c)) - 1 AS bits
         |  FROM t JOIN c USING (tok), tot)
         |SELECT doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS mean_surprisal
         |FROM b GROUP BY doc_id""".stripMargin,

    // the q41 bigram-list shape + q61's bin() digit count; split_part
    // recovers the context exactly because tokens are whitespace-split
    "q88_bigram_surprisal" ->
      s"""WITH tk AS (SELECT doc_id, $Toks AS tk FROM documents),
         |gd AS (SELECT doc_id, CASE WHEN len(tk) < 2 THEN []
         |  ELSE [tk[i]||' '||tk[i+1] for i in range(1, len(tk)-1+1)] END AS g2 FROM tk),
         |bb AS (SELECT doc_id, g, split_part(g, ' ', 1) AS a
         |  FROM (SELECT doc_id, unnest(g2) AS g FROM gd) u),
         |cg AS (SELECT g, COUNT(*) AS cg FROM bb GROUP BY g),
         |ca AS (SELECT a, COUNT(*) AS ca FROM bb GROUP BY a),
         |j AS (SELECT bb.doc_id, length(bin(ca.ca // cg.cg)) - 1 AS bits
         |  FROM bb JOIN cg USING (g) JOIN ca USING (a))
         |SELECT doc_id, COUNT(*) AS n_bigrams,
         |  CAST(SUM(bits) AS DOUBLE) / COUNT(*) AS mean_bigram_surprisal
         |FROM j GROUP BY doc_id""".stripMargin,

    // q61's bin() digit count, applied twice (corpus and in-source
    // totals); SUM products widen to HUGEINT, so the q72 CAST convention
    "q100_source_drift" ->
      s"""WITH tk AS (SELECT source, $Toks AS tk FROM documents),
         |t AS (SELECT source, unnest(tk) AS tok FROM tk),
         |cc AS (SELECT tok, COUNT(*) AS cc FROM t GROUP BY tok),
         |tot AS (SELECT CAST(SUM(cc) AS BIGINT) AS t_total FROM cc),
         |cs AS (SELECT source, tok, COUNT(*) AS cs FROM t GROUP BY source, tok),
         |st AS (SELECT source, CAST(SUM(cs) AS BIGINT) AS s_total
         |  FROM cs GROUP BY source),
         |j AS (SELECT cs.source, cs.cs, st.s_total,
         |  length(bin(t_total // cc.cc)) - 1 AS bc,
         |  length(bin(st.s_total // cs.cs)) - 1 AS bs
         |  FROM cs JOIN st USING (source) JOIN cc USING (tok), tot),
         |a AS (SELECT source, MAX(s_total) AS n_tokens,
         |  CAST(SUM(cs * bc) AS BIGINT) AS sum_bc,
         |  CAST(SUM(cs * bs) AS BIGINT) AS sum_bs FROM j GROUP BY source)
         |SELECT source, n_tokens,
         |  CAST(sum_bc AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_corpus_bits,
         |  CAST(sum_bs AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_source_bits,
         |  CAST(sum_bc - sum_bs AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS drift_bits
         |FROM a""".stripMargin,

    // the q87/q90 training chain verbatim (bpeRepCtes), then the
    // representation as SYMBOL LISTS, document-order reassembly
    // (list(... ORDER BY pos) + flatten — the collect_list/array_sort
    // mirror), and q74's chunk arithmetic over the trained stream
    "q103_chunk_trained" ->
      s"""WITH $bpeRepCtes,
         |wl AS (SELECT word,
         |  list_filter(string_split(s, chr(1)), x -> x <> '') AS syms
         |  FROM v$BpeRounds),
         |dw AS (SELECT tk.doc_id, u.i AS pos, tk.tk[u.i] AS word
         |  FROM tk, UNNEST(range(1, len(tk.tk) + 1)) AS u(i)),
         |dt AS (SELECT dw.doc_id,
         |  flatten(list(wl.syms ORDER BY dw.pos)) AS btk
         |  FROM dw JOIN wl USING (word) GROUP BY dw.doc_id),
         |t AS (SELECT doc_id, btk AS tk, CAST(len(btk) AS BIGINT) AS n
         |  FROM dt WHERE len(btk) > 0),
         |st AS (SELECT doc_id, tk, n,
         |  unnest(range(0, n, $ChunkStride)) AS start FROM t)
         |SELECT doc_id, start // $ChunkStride AS chunk_idx, start,
         |  least($ChunkWin, n - start) AS chunk_len,
         |  sha256(array_to_string(tk[start+1 : start+$ChunkWin], ' ')) AS chunk_hash
         |FROM st""".stripMargin,

    // q94's positional-gram chain, then interval-union length by
    // gaps-and-islands: islands split where shared positions gap by >4,
    // union length = Σ island (last−first+5)
    "q104_span_scrub" ->
      s"""WITH $scrubCtes,
         |iv AS (SELECT doc_id, isl,
         |  CAST(MAX(pos) - MIN(pos) + 5 AS BIGINT) AS clen
         |  FROM il GROUP BY doc_id, isl),
         |cov AS (SELECT doc_id, CAST(SUM(clen) AS BIGINT) AS covered0
         |  FROM iv GROUP BY doc_id)
         |SELECT p.doc_id, p.n_tokens,
         |  COALESCE(cov.covered0, 0) AS covered_tokens,
         |  p.n_tokens - COALESCE(cov.covered0, 0) AS retained_tokens,
         |  CASE WHEN p.n_tokens > 0
         |    THEN CAST(COALESCE(cov.covered0, 0) AS DOUBLE)
         |      / CAST(p.n_tokens AS DOUBLE) END AS scrub_frac
         |FROM ph p LEFT JOIN cov ON cov.doc_id = p.doc_id""".stripMargin,

    // the q104 island chain verbatim ([[scrubCtes]]), islands expanded
    // to their covered 1-based positions, surviving tokens anti-selected
    // and re-joined in position order
    "q108_scrub_apply" ->
      s"""WITH $scrubKeptCtes,
         |k AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS retained_tokens,
         |  string_agg(word, ' ' ORDER BY pos) AS scrubbed_text
         |  FROM kp GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(k.retained_tokens, 0) AS retained_tokens,
         |  k.scrubbed_text
         |FROM documents d LEFT JOIN k ON k.doc_id = d.doc_id""".stripMargin,

    // the q108 survivor chain ([[scrubKeptCtes]]) reassembled into
    // per-doc arrays, then q74's chunk tail verbatim over them
    "q114_chunk_scrubbed" ->
      s"""WITH $scrubKeptCtes,
         |ka AS (SELECT doc_id, list(word ORDER BY pos) AS tk2
         |  FROM kp GROUP BY doc_id),
         |kn AS (SELECT doc_id, tk2 AS tk, CAST(len(tk2) AS BIGINT) AS n
         |  FROM ka WHERE len(tk2) > 0),
         |st AS (SELECT doc_id, tk, n,
         |  unnest(range(0, n, $ChunkStride)) AS start FROM kn)
         |SELECT doc_id, start // $ChunkStride AS chunk_idx, start,
         |  least($ChunkWin, n - start) AS chunk_len,
         |  sha256(array_to_string(tk[start+1 : start+$ChunkWin], ' ')) AS chunk_hash
         |FROM st""".stripMargin,

    // the q100 count/total chain plus the add-one-smoothed target side;
    // left joins re-admit out-of-target tokens (tc→0) and empty docs
    "q106_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT d.doc_id,
         |  COALESCE(pd.n_tokens, 0) AS n_tokens,
         |  COALESCE(pd.sum_bits, 0) AS sum_bits,
         |  CASE WHEN COALESCE(pd.n_tokens, 0) > 0
         |    THEN CAST(pd.sum_bits AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE)
         |  END AS mean_importance_bits
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,

    // the q106 chain with tokens pre-hashed into DsirBuckets buckets —
    // the smoothing constant v becomes the non-empty bucket count
    "q109_dsir_hashed" ->
      s"""WITH t AS (SELECT doc_id, source,
         |    ${SqlHash60("tok")} % $DsirBuckets AS b FROM
         |  (SELECT doc_id, source, unnest($Toks) AS tok FROM documents) u),
         |cc AS (SELECT b, COUNT(*) AS cc FROM t GROUP BY b),
         |stats AS (SELECT CAST(SUM(cc) AS BIGINT) AS t_total,
         |  CAST(COUNT(*) AS BIGINT) AS v FROM cc),
         |tc AS (SELECT b, COUNT(*) AS tc FROM t
         |  WHERE source = '$DsirTarget' GROUP BY b),
         |tt AS (SELECT COALESCE(CAST(SUM(tc) AS BIGINT), 0) AS tg_total FROM tc),
         |wt AS (SELECT cc.b,
         |  CAST((length(bin(t_total // cc.cc)) - 1)
         |    - (length(bin((tg_total + v) // (COALESCE(tc.tc, 0) + 1))) - 1)
         |    AS BIGINT) AS w
         |  FROM cc LEFT JOIN tc USING (b), stats, tt),
         |pd AS (SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(wt.w) AS BIGINT) AS sum_bits
         |  FROM t JOIN wt USING (b) GROUP BY t.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(pd.n_tokens, 0) AS n_tokens,
         |  COALESCE(pd.sum_bits, 0) AS sum_bits,
         |  CASE WHEN COALESCE(pd.n_tokens, 0) > 0
         |    THEN CAST(pd.sum_bits AS DOUBLE) / CAST(pd.n_tokens AS DOUBLE)
         |  END AS mean_importance_bits
         |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin)
}
