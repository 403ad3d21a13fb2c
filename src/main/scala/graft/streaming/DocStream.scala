package graft.streaming

import graft.functions.TextFunctions._
import graft.functions.SketchFunctions.simHash32
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming duals of the training-data prep pipeline (batch:
  * q17/q18/q36 in [[graft.queries.TextAnalysis]]) over a document stream
  * `(doc_id, ingest_ts timestamp, text)`.
  *
  * Scoring and language-ID are the *same Column expressions* as the batch
  * queries — narrow, per-row, stateless, so the streaming and batch paths
  * cannot diverge. Exact dedup becomes
  * `dropDuplicatesWithinWatermark` on the content hash: the state store
  * holds one hash per distinct document inside the watermark horizon
  * (state is bounded by horizon × arrival rate, the streaming form of the
  * batch hash-groupBy; batch keeps min doc_id, streaming keeps the first
  * arrival — identical sets when ids arrive in order).
  */
/** One scored arrival inside [[DocStream.budgetAdmitted]]'s stateful
  * admission (top-level so its Encoder is stable).
  */
private[streaming] case class ScoredDoc(doc_id: Long, n_tokens: Long,
    quality: Double, shard: Int)

/** Per-shard admission state: tokens admitted so far, and whether the
  * shard has hit its first overflow (admission closes permanently —
  * q58's cumsum-≤-budget semantics).
  */
private[streaming] case class ShardBudget(used: Long, exhausted: Boolean)

object DocStream {

  /** Per-row scoring: token count, quality, language argmax — exactly the
    * q36 scoring expressions.
    */
  def scored(docs: DataFrame): DataFrame = {
    val scoredTk = docs
      .select(col("*"), tokens(col("text")).as("tk"))
      .select(col("*"),
        size(col("tk")).cast("long").as("n_tokens"),
        stopwordHits(col("tk"), stopwordsByLang.head._2).as("stops"))
    val Seq(en, es, de, fr) = langScores(col("tk")).map(_._2)
    scoredTk
      .withColumn("lang_guess",
        when(en >= greatest(es, de, fr), "en")
          .when(es >= greatest(de, fr), "es")
          .when(de >= fr, "de").otherwise("fr"))
      .withColumn("quality",
        (col("stops").cast("double") / col("n_tokens").cast("double")) * 0.4 +
          least(lit(1.0), col("n_tokens").cast("double") / 50.0) * 0.6)
      .drop("tk", "stops")
  }

  /** Streaming exact dedup on the content hash, state expiring with the
    * watermark.
    */
  def deduped(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ingest_ts", watermark)
      .withColumn("content_hash", sha2(col("text"), 256))
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("content_hash")

  /** The full prep dual (q36 semantics on a stream): dedup → score →
    * keep English documents above the quality bar.
    */
  def prep(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    scored(deduped(docs, watermark))
      .filter(col("lang_guess") === "en" && col("quality") >= 0.5)
      .select("doc_id", "n_tokens", "quality")

  /** Streaming quality-rule filter — the q45 semantics on a stream, via
    * the SAME [[graft.functions.QualityRules]] Columns the batch operator
    * uses (stateless, narrow, per-row: nothing about the rules changes
    * under streaming execution). Keeps documents passing every rule.
    */
  def qualityFiltered(docs: DataFrame): DataFrame =
    graft.functions.QualityRules.annotate(docs)
      .filter(col("pass"))
      .drop("n_words", "mean_word_len", "frac_alpha", "n_stop_distinct", "pass")

  /** Streaming hash-split — q56's train/val/test assignment over a doc
    * stream via the SAME [[graft.queries.Curation]] Columns the batch
    * operator uses. The bucket is a pure function of the document KEY
    * (sha-derived hash mod 100), so it is stateless under streaming
    * execution by construction: a document's split never depends on
    * arrival order, what else is in the stream, or how the stream is
    * repartitioned — the property that keeps downstream eval sets stable
    * while the corpus grows batch by batch.
    */
  def split(docs: DataFrame): DataFrame = {
    val bucket = graft.queries.Curation.bucketCol(col("doc_id"))
    docs.withColumn("bucket", bucket)
      .withColumn("split", graft.queries.Curation.splitCol(col("bucket")))
  }

  /** Streaming token-budget admission — the streaming face of q58's
    * selection, sharing its [[graft.queries.Curation.scoredTokens]]
    * scoring verbatim. Batch q58 ranks the WHOLE corpus by quality and
    * keeps the prefix whose running token total fits the budget; a
    * stream cannot rank documents it has not seen, so the streaming
    * contract is greedy with q58's ordering applied where ordering
    * exists:
    *
    *   - within a micro-batch, arrivals rank (quality DESC, doc_id) —
    *     exactly q58's sort — and admit while the running total fits;
    *   - across batches the running total is persistent state;
    *   - admission stops PERMANENTLY at the first overflow, q58's
    *     cumsum-≤-budget semantics (skip-and-continue would instead
    *     bias the admitted tail toward short documents).
    *
    * The budget is explicit (a stream has no corpus total to halve), and
    * is sharded over `shards` deterministic doc_id shards, each admitting
    * against its integer share: state is two values per shard FOREVER
    * (no watermark needed), and no single task ever sorts more than its
    * shard of one micro-batch. With `shards = 1` and the corpus in one
    * batch, the admitted set IS q58's selection at the same budget
    * (DocStreamSpec pins this parity).
    */
  def budgetAdmitted(docs: DataFrame, budgetTokens: Long,
      shards: Int = 64): DataFrame =
    shardedAdmission(graft.queries.Curation.scoredTokens(docs),
      budgetTokens, shards)

  /** Streaming DSIR-budget admission — the streaming face of q107
    * exactly as [[budgetAdmitted]] is q58's: the SAME sharded greedy
    * admission core ([[shardedAdmission]] — one audited machinery, two
    * ranking keys, mirroring how batch q58/q107 share
    * `budgetedPrefixSelect`), ranked by [[dsirScored]]'s importance
    * against a FROZEN weight vector instead of quality. Untokenizable
    * docs are out before admission (q107's n_tokens > 0 filter); the
    * budget is explicit for [[budgetAdmitted]]'s reason. With
    * `shards = 1` and the corpus in one batch, the admitted set IS
    * q107's selection at the same budget over the reference corpus
    * (DocStreamSpec pins this parity).
    */
  def dsirAdmitted(docs: DataFrame, warr: Array[Long], budgetTokens: Long,
      shards: Int = 64): DataFrame =
    shardedAdmission(
      dsirScored(docs, warr).filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          col("mean_importance_bits").as("quality")),
      budgetTokens, shards)
      .withColumnRenamed("quality", "importance")

  /** The sharded greedy admission core behind [[budgetAdmitted]] and
    * [[dsirAdmitted]]: `scored` is a streaming (doc_id, n_tokens,
    * quality-as-rank) relation; admission is greedy under (rank DESC,
    * doc_id) within each micro-batch shard, persistent running totals
    * per shard, permanent exhaustion at first overflow.
    */
  private def shardedAdmission(scored0: DataFrame, budgetTokens: Long,
      shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val s = scored0.sparkSession
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import s.implicits._
    // integer budget split: the first (budget mod shards) shards carry
    // one extra token of allowance, so the shard caps sum to the budget
    // exactly and shards=1 degenerates to the full budget
    def shardCap(i: Int): Long =
      budgetTokens / shards + (if (i < (budgetTokens % shards).toInt) 1L else 0L)
    val scored = scored0
      .withColumn("shard",
        (portableHash(col("doc_id").cast("string"), 2) % shards).cast("int"))
      .as[ScoredDoc]
    scored.groupByKey(_.shard)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[ScoredDoc],
         state: org.apache.spark.sql.streaming.GroupState[ShardBudget]) =>
          val st = state.getOption.getOrElse(ShardBudget(0L, exhausted = false))
          val cap = shardCap(shard)
          var used = st.used
          var exhausted = st.exhausted
          // q58's ordering within the visible horizon; the sort holds one
          // shard of one micro-batch, never the stream
          val admitted = rows.toIndexedSeq
            .sortBy(r => (-r.quality, r.doc_id))
            .flatMap { r =>
              if (!exhausted && used + r.n_tokens <= cap) {
                used += r.n_tokens
                Some(r)
              } else {
                exhausted = true // first overflow closes the shard for good
                None
              }
            }
          state.update(ShardBudget(used, exhausted))
          admitted.iterator
      }
      .toDF("doc_id", "n_tokens", "quality", "shard")
      .drop("shard")
  }

  /** Streaming decontamination — q57's verdicts over a doc stream
    * against a FIXED evaluation set. A document's verdict is a pure
    * function of (document, eval set): the eval set is a static
    * benchmark asset, so the streaming form is STATELESS — no
    * aggregation state, no watermark, exact q57 semantics per arrival.
    *
    * The eval set is benchmark-sized BY DEFINITION (the same argument
    * that broadcasts it in the batch plan), so it is folded ONCE — at
    * stream construction, a single bounded driver read — into a sorted
    * gram-hash array literal (one Literal node of primitive longs, not
    * the per-plane literal forest PERF.md warns about). A stream-static
    * join here instead would re-run the whole tokenize→gram→hash→agg
    * fold of the eval relation on EVERY micro-batch: Spark re-evaluates
    * the static side per trigger. The overlap count is then a per-row
    * `array_intersect` in the SAME hashed 8-gram space as the batch
    * operator ([[graft.queries.Curation.gramStage]] — per-doc grams are
    * distinct, so the intersect size IS q57's n_overlap). Per-row cost
    * is linear in the eval-set size; if an eval set ever outgrows a
    * row-side probe, the batch operator's exploded equi-join inside
    * `foreachBatch` is the fallback shape.
    *
    * @param benchGrams static relation with a `g` column of hashed
    *                   8-grams — e.g. `gramStage(evalDocs,
    *                   Seq.empty).select(explode($"g8").as("g"))`;
    *                   evaluated once, here, not per batch.
    */
  def decontaminated(docs: DataFrame, benchGrams: DataFrame): DataFrame = {
    val bench = benchGrams.agg(collect_set(col("g")).as("bench_g8"))
      .head.getSeq[Long](0).sorted.toArray
    graft.queries.Curation.gramStage(docs, docs.columns.toSeq.filter(_ != "text"))
      // null text ⇒ null gram array ⇒ null intersect: a null-text doc is
      // CLEAN (0, false) exactly as in the batch operator's left join
      .withColumn("n_overlap",
        coalesce(size(array_intersect(col("g8"), typedLit(bench))).cast("long"),
          lit(0L)))
      .withColumn("contaminated", col("n_overlap") > 0)
      .drop("g8")
  }

  /** The frozen eval-set bloom filter the streaming decontaminator
    * probes — built with the SAME probe positions
    * ([[graft.queries.Curation.bloomProbes]]) and the SAME
    * [[graft.functions.SketchFunctions.bloomBits]] aggregate as batch
    * q102's filter, evaluated ONCE at stream construction (the eval set
    * is static; re-benchmarking is a new stream). An empty eval set
    * yields the all-zero filter (nothing flags).
    */
  def benchBloom(benchGrams: DataFrame): Array[Long] = {
    val row = benchGrams
      .select(array(graft.queries.Curation.bloomProbes(col("g")): _*).as("ps"))
      .agg(graft.functions.SketchFunctions.bloomBits(col("ps"),
        graft.queries.Curation.BloomDecontamWords).as("bloom"))
      .head
    row.getSeq[Long](0).toArray
  }

  /** Streaming bloom decontamination — q102's verdicts over an unbounded
    * doc stream against a FROZEN eval filter. Where [[decontaminated]]
    * carries the exact eval-gram array in every task, this carries the
    * fixed-size filter ([[benchBloom]]'s 16 KiB literal at the default
    * words) — the variant whose per-task footprint is CONSTANT however
    * large the eval set grows, the same trade batch q102 makes against
    * q57. Stateless narrow per-row: the per-doc count collapses into the
    * gram array (each doc arrives whole), so there is no shuffle, no
    * state, and any output mode works; the SHARED probe/bit-test
    * definitions ([[graft.queries.Curation.bloomProbes]]/`bloomHit`)
    * make a stream verdict bit-identical to the batch one. One-sided
    * error exactly as batch: n_maybe ≥ the exact overlap, never below.
    */
  def bloomDecontaminated(docs: DataFrame, bloom: Array[Long]): DataFrame = {
    val blit = typedLit(bloom.toSeq)
    graft.queries.Curation.gramStage(docs,
        docs.columns.toSeq.filter(_ != "text"))
      // null text ⇒ null gram array ⇒ null filter result: clean, as in
      // the batch operator's left join
      .withColumn("n_maybe",
        coalesce(size(filter(col("g8"), g =>
          graft.queries.Curation.bloomProbes(g)
            .map(p => graft.queries.Curation.bloomHit(blit, p))
            .reduce(_ && _))).cast("long"), lit(0L)))
      .withColumn("maybe_contaminated", col("n_maybe") > 0)
      .drop("g8")
  }

  /** Freeze a reference corpus's SHARED 5-gram set into a Bloom filter:
    * per-doc DISTINCT 5-grams, document frequency ≥ 2 — q104/q108's
    * definition of "shared", over the gram strings — folded through the
    * native `BloomBitsAgg` into
    * [[graft.queries.Curation.BloomDecontamWords]]·64 bits. 16 KiB at
    * the default width, CONSTANT however large the reference corpus
    * grows — the [[benchBloom]] posture for the duplication index.
    */
  def sharedGramBloom(refDocs: DataFrame): Array[Long] = {
    val sh = refDocs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(wordNgrams(col("tk"), 5))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    val row = sh
      .select(array(graft.queries.Curation.bloomProbes(col("g")): _*).as("ps"))
      .agg(graft.functions.SketchFunctions.bloomBits(col("ps"),
        graft.queries.Curation.BloomDecontamWords).as("bloom"))
      .head
    row.getSeq[Long](0).toArray
  }

  /** Streaming duplicated-span scrub — q108's ACTION over an unbounded
    * stream against a FROZEN shared-gram filter. Stateless narrow
    * per-row: each doc arrives whole, so the whole island machinery
    * collapses into array ops — hit gram positions expand to their
    * [p, p+4] covered sets (the batch islands are just the efficient
    * SQL form of this union), survivors fall out of a positional array
    * filter, and the text reassembles in place. No shuffle, no state,
    * any output mode; per-task footprint is the 16 KiB filter CONSTANT
    * in reference-corpus size (where carrying the exact shared-gram set
    * would grow with the corpus). One-sided error exactly as q102's:
    * Bloom false positives can only OVER-scrub (stream coverage ⊇ the
    * frozen reference's exact coverage — never a missed duplicated
    * span); novel duplication between stream arrivals is invisible by
    * design — the filter is a decontamination index against the
    * REFERENCE corpus's duplication, the causal streaming contract.
    */
  def bloomScrubbed(docs: DataFrame, bloom: Array[Long]): DataFrame = {
    val blit = typedLit(bloom.toSeq)
    def hit(g: Column): Column =
      graft.queries.Curation.bloomProbes(g)
        .map(p => graft.queries.Curation.bloomHit(blit, p))
        .reduce(_ && _)
    docs
      .withColumn("tk", tokens(col("text")))
      // hit gram start positions expand to [i, i+4]; the union of those
      // intervals IS the covered set (null slots = non-hit grams)
      .withColumn("cov", array_distinct(flatten(filter(
        transform(wordNgrams(col("tk"), 5),
          (g, i) => when(hit(g), sequence(i, i + lit(4)))),
        x => x.isNotNull))))
      .withColumn("kept",
        filter(col("tk"), (w, i) => not(array_contains(col("cov"), i))))
      .withColumn("retained_tokens",
        when(col("kept").isNotNull, size(col("kept")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("scrubbed_text",
        when(size(col("kept")) > 0, array_join(col("kept"), " ")))
      .drop("tk", "cov", "kept", "text") // the scrub replaces the payload
  }

  /** Freeze q109's hashed DSIR statistic from a reference corpus into a
    * dense weight vector: warr(b) for every bucket, 0 where the
    * reference is silent (no evidence → neutral score for tokens landing
    * there). [[graft.queries.TextAnalysis.DsirBuckets]] longs — 8 KiB at
    * the default width, CONSTANT in corpus and vocabulary size (the
    * [[benchBloom]] posture; q106's exact weight table is
    * vocabulary-sized and unboundable on a stream).
    */
  def dsirWeightVector(refDocs: DataFrame): Array[Long] = {
    val arr = new Array[Long](graft.queries.TextAnalysis.DsirBuckets)
    graft.queries.TextAnalysis.dsirBucketWeights(
        graft.queries.TextAnalysis.dsirBucketTokens(refDocs))
      .collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Streaming hashed-DSIR scoring — q109's per-document importance over
    * an unbounded stream against a FROZEN weight vector. Stateless
    * narrow per-row: each doc arrives whole, so the per-doc fold
    * collapses into the token array (no shuffle, no state, any output
    * mode), and the shared hash/bucket definitions
    * ([[graft.queries.TextAnalysis.dsirBucketTokens]]'s
    * `portableHash60 % DsirBuckets`) make a stream score bit-identical
    * to batch q109 over the reference corpus. Null text re-admits with
    * 0/0/null exactly as the batch left join does.
    */
  def dsirScored(docs: DataFrame, warr: Array[Long]): DataFrame = {
    val wlit = typedLit(warr.toSeq)
    val buckets = graft.queries.TextAnalysis.DsirBuckets
    docs.withColumn("tk", tokens(col("text")))
      .withColumn("n_tokens",
        when(col("tk").isNotNull, size(col("tk")).cast("long"))
          .otherwise(lit(0L)))
      // element_at is 1-based; the bucket index is < DsirBuckets by
      // construction (portableHash60 is non-negative), so the ANSI-mode
      // lookup cannot miss
      .withColumn("sum_bits",
        coalesce(aggregate(
          transform(col("tk"), t => element_at(wlit,
            (portableHash60(t) % buckets + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x), lit(0L)))
      .withColumn("mean_importance_bits",
        when(col("n_tokens") > 0,
          col("sum_bits").cast("double") / col("n_tokens").cast("double")))
      .drop("tk", "text") // the scores replace the payload, the
                          // bloomDecontaminated output convention
  }

  /** The frozen hashed-NB quality model (q168's ≤ NbBuckets weight
    * table as a dense 512 KiB vector, 0 where no training token landed —
    * neutral, the [[dsirWeightVector]] posture): trained batch-side
    * from the reference corpus via the SHARED bucket/weight definitions
    * ([[graft.queries.TextAnalysis.nbBucketTokens]] /
    * `nbBucketWeights`), labels from the q45 rule gate — so the stream
    * applies THE model the batch q168 would, bit-identically.
    */
  def nbWeightVector(refDocs: DataFrame): Array[Long] = {
    val docs = refDocs.select(col("doc_id"), col("text"))
    val lab = graft.functions.QualityRules.annotate(docs)
      .select(col("doc_id"), col("pass"))
    val arr = new Array[Long](graft.queries.TextAnalysis.NbBuckets)
    graft.queries.TextAnalysis.nbBucketWeights(
        graft.queries.TextAnalysis.nbBucketTokens(docs), lab)
      .collect().foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** Streaming hashed-NB quality scoring — q168's verdicts over an
    * unbounded stream against the FROZEN model: this is what the
    * distillation exists for (the q45 gate needs the full rule chain
    * per row; the model is one frozen-vector lookup per token).
    * Stateless narrow per-row, the [[dsirScored]] shape: no shuffle, no
    * state, any output mode; the shared hash/bucket definitions make a
    * stream score bit-identical to batch q168 over the same corpus.
    * Untokenizable docs emit n_tokens 0 with null verdict — the batch
    * left-join convention (batch null n_tokens ≡ stream 0 — both mean
    * "no evidence", and nb_pass is null in both).
    */
  def nbScored(docs: DataFrame, warr: Array[Long]): DataFrame = {
    val wlit = typedLit(warr.toSeq)
    val buckets = graft.queries.TextAnalysis.NbBuckets
    docs.withColumn("tk", tokens(col("text")))
      .withColumn("n_tokens",
        when(col("tk").isNotNull, size(col("tk")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("nb_score",
        coalesce(aggregate(
          transform(col("tk"), t => element_at(wlit,
            (portableHash60(t) % buckets + 1).cast("int"))),
          lit(0L), (acc, x) => acc + x), lit(0L)))
      .withColumn("nb_pass",
        when(col("n_tokens") > 0, col("nb_score") > 0))
      .drop("tk", "text")
  }

  /** Streaming vocabulary-cardinality sketch: q53's HLL register table
    * over an unbounded doc stream, via the SAME
    * [[graft.queries.TextAnalysis.hllRegisters]] definition the batch
    * estimate uses. Register max-rho is monotone, so the stateful
    * aggregation needs no watermark and its state is bounded at
    * |langs|·64 rows forever — the sketch-on-stream shape (run with
    * complete/update output; the estimate derivation is q53's tiny
    * 64-row batch step over the emitted table).
    */
  def vocabSketch(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.hllRegisters(
      docs.select(col("lang"), explode(tokens(col("text"))).as("tok")))

  /** Streaming quantile-sketch histogram: q66's hash-admitted length
    * histogram over an unbounded doc stream, via the SAME
    * [[graft.queries.TextAnalysis.sampledLengthHist]] definition the
    * batch operator uses. Admission is a pure function of the document
    * KEY (stateless — membership never depends on arrival order), so
    * the stateful part is only the histogram aggregation, whose state
    * is bounded by |langs| × distinct lengths — the VALUE space,
    * forever, like [[vocabSketch]]'s registers (run with
    * complete/update output; the quantile derivation is q66's tiny
    * rank-selection batch step over the emitted histogram). The
    * admission modulus is explicit — a stream has no corpus count to
    * derive it from, the [[budgetAdmitted]] argument.
    */
  def quantileSketch(docs: DataFrame, admissionMod: Long): DataFrame =
    graft.queries.TextAnalysis.sampledLengthHist(docs, admissionMod)

  /** Streaming per-source minhash registers: q86's signature table over
    * an unbounded doc stream, via the SAME
    * [[graft.queries.Similarity.sourceDocSigs]] /
    * [[graft.queries.Similarity.sourceSigRegisters]] definitions the
    * batch matrix uses. Register values are monotone — elementwise MIN
    * of per-doc signatures, the minhash union property — so the
    * stateful aggregation needs no watermark and its state is bounded
    * at |sources| × 12 rows forever, like [[vocabSketch]]'s registers
    * (run with complete/update output; the |sources|²-bounded pair
    * matrix is q86's tiny batch step over the emitted table).
    */
  def sourceMinhash(docs: DataFrame): DataFrame =
    graft.queries.Similarity.sourceSigRegisters(
      graft.queries.Similarity.sourceDocSigs(docs))

  /** Streaming per-source token counts: q100's corpus-facing stage over
    * an unbounded doc stream, via the SAME
    * [[graft.queries.TextAnalysis.sourceTokenCounts]] definition the
    * batch drift report uses. Counts are additive, so the stateful
    * aggregation needs no watermark; state is bounded by |sources| ×
    * vocabulary — the VALUE space (Heaps-law growth), never the stream
    * length (run with complete/update output; the drift report is
    * q100's vocabulary-sized [[graft.queries.TextAnalysis
    * .driftFromCounts]] batch step over the emitted table — the
    * q53/q66/q86 sketch-on-stream split).
    */
  def sourceTokenCounts(docs: DataFrame): DataFrame =
    graft.queries.TextAnalysis.sourceTokenCounts(docs)

  /** Streaming tokenizer application — q90's per-doc trained-token
    * counts under a FROZEN merge table. Training is inherently batch
    * (q87's per-round argmax is corpus-global); deployment is the
    * standard split: a batch job trains the merges, the stream APPLIES
    * them. Stateless narrow per-row — the merge table is a bounded
    * driver literal baked into the expression
    * ([[graft.queries.TextAnalysis.bpeTokenCount]], the exact replay of
    * the batch replace sequence), so there is no shuffle, no state, and
    * any output mode works. Each word occurrence pays the replace chain
    * here (the batch q90 amortizes it over the vocabulary — a luxury a
    * stateless stream map does not have; for a high-rate stream the
    * upgrade path is a vocabulary state store, not a different count).
    */
  def bpeEncoded(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    graft.queries.TextAnalysis.bpeEncodedCounts(docs, merges)

  /** Streaming fertility registers — q126's per-source (n_docs, n_words,
    * n_bpe_tokens) sums as ADDITIVE stream state under a FROZEN merge
    * table (the [[bpeEncoded]] train-batch/apply-stream split): state =
    * |sources| rows forever (the strata space, never the stream length;
    * update/complete mode, no watermark). The per-mille card is the
    * shared [[graft.queries.TextAnalysis.fertilityPm]] Column over the
    * emitted registers — the q115 sums-then-tiny-batch-step posture —
    * and the encode is the per-row [[graft.queries.TextAnalysis
    * .bpeTokenCount]] replay, already pinned equal to batch q90's
    * vocabulary-first encode, so streamed fertility is bit-identical to
    * the batch card (DocStreamSpec). Untokenizable (null-text) docs drop
    * exactly as the batch card's n_words > 0 filter does.
    */
  def fertilityRegisters(docs: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val tk = tokens(col("text"))
    docs.select(col("source"), size(tk).cast("long").as("n_words"),
        aggregate(tk, lit(0L),
          (acc, w) => acc + graft.queries.TextAnalysis.bpeTokenCount(w, merges))
          .as("n_bpe_tokens"))
      .filter(col("n_words") > 0)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_words").as("n_words"),
        sum("n_bpe_tokens").as("n_bpe_tokens"))
  }

  // ---- incremental near-dedup (the q27 semantics against history) ---------

  /** Sub-partition count for the band-key bucket `g = bk mod BkBuckets`.
    * The index is laid out `batch_id=N/b=B/g=G/…`: `b` alone has too few
    * values to prune anything (every batch touches all bands), so the
    * band KEY is bucketed into `g` and a micro-batch's index read is
    * filtered to the (b, g) groups its own bands occupy — partition
    * pruning by file, with the pushed key set bounded by
    * `bands × BkBuckets`, never by batch size.
    */
  private[streaming] val BkBuckets = 64

  /** Band rows `(doc_id, simhash, b, bk, g)` from an existing sketch
    * column — the q27 banding with a fixed width. The width is an
    * INDEX-LIFETIME constant (unlike batch q27's corpus-adaptive width):
    * band keys must stay comparable across every batch that ever wrote to
    * the index. Widening for a bigger target corpus is
    * [[rebandIndex]] — a pass over the stored `(doc_id, simhash)` pairs;
    * the sketches are in the index, so re-banding never re-reads text.
    */
  private[streaming] def bandsFromSketch(sketches: DataFrame, w: Int,
      bits: Int = 32): DataFrame = {
    val nb = bits / w
    val mask = (1L << w) - 1
    // arithmetic shiftright is safe even for a sign-bit-set 64-bit
    // sketch ([[MediaStream]]'s packed dHash): the & mask discards every
    // sign-extension bit whenever w + shift ≤ 64, which bits/w bands
    // guarantee
    sketches
      .select(col("doc_id"), col("simhash"), explode(array(
        (0 until nb).map(b => struct(lit(b).as("b"),
          shiftright(col("simhash"), w * b).bitwiseAND(lit(mask)).as("bk"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.b").as("b"), col("x.bk").as("bk"))
      .withColumn("g", pmod(col("bk"), lit(BkBuckets)).cast("int"))
  }

  /** Dedup a batch's band rows against the admitted index — the 100 TB
    * shape of "dedup the new crawl against everything already admitted"
    * without ever re-pairing the corpus:
    *
    *   1. band-join the batch against the admitted index (equi-join on
    *      `(b, bk)`, hamming ≤ 8 verify) — work is proportional to true
    *      band collisions, and the index read is pruned to the batch's
    *      own (b, g) partitions, never a corpus scan;
    *   2. within-batch near-dups resolve greedily to the smallest doc_id:
    *      a document sharing a band with a smaller-id batch document at
    *      hamming ≤ 8 is dropped. Greedy over-drops only along transitive
    *      chains (C≈B dropped because B≈A) — the same direction the batch
    *      clustering (q43) resolves them, where B bridges A and C into one
    *      component;
    *   3. survivors' band rows are the index delta.
    *
    * Returns the surviving band rows (the index delta).
    */
  private def dedupBands(bands: DataFrame, index: DataFrame): DataFrame = {
    val crossDup = bands.alias("n").join(index.alias("i"),
        col("n.b") === col("i.b") && col("n.bk") === col("i.bk") &&
        bit_count(col("n.simhash").bitwiseXOR(col("i.simhash"))) <= 8,
        "left_semi")
      .select("doc_id").distinct()
    val survBands = bands.join(crossDup, Seq("doc_id"), "left_anti")
    val withinDup = survBands.alias("a").join(survBands.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id") &&
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 8)
      .select(col("b.doc_id").as("doc_id")).distinct()
    survBands.join(withinDup, Seq("doc_id"), "left_anti")
  }

  private def emptyIndex(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, simhash BIGINT, b INT, bk BIGINT"))

  /** The admitted index as batch `batchId` must see it: every batch's
    * partition EXCEPT its own (a crashed earlier attempt may have written
    * `batch_id=<batchId>` without committing — recompute must not read its
    * own partial output), pruned to the (b, g) groups the batch's bands
    * occupy. Both predicates hit only partition columns, so the scan reads
    * only matching `batch_id=…/b=…/g=…` files (pinned by DocNearDupSpec
    * against the scan's numFiles metric).
    */
  private[streaming] def prunedIndex(spark: SparkSession, indexPath: String,
      batchId: Long, groups: Seq[(Int, Int)]): DataFrame = {
    val keys = groups.map { case (b, g) => b * BkBuckets + g }
    try spark.read.parquet(indexPath)
      .filter(col("batch_id").cast("long") =!= lit(batchId))
      .filter((col("b") * lit(BkBuckets) + col("g")).isin(keys: _*))
      .select("doc_id", "simhash", "b", "bk")
    catch { case _: org.apache.spark.sql.AnalysisException =>
      emptyIndex(spark) // first batch: the index directory does not exist yet
    }
  }

  /** The `foreachBatch` body, exactly-once per `batchId`:
    *
    *   - both sinks are batch-scoped partition directories
    *     (`<path>/batch_id=N`) written with overwrite — a redelivered
    *     batch replaces its own previous (possibly partial) output
    *     instead of appending duplicates;
    *   - the index read excludes `batch_id=N` itself, so a recompute
    *     after a crash between the two writes sees the exact pre-batch
    *     index and reproduces the same survivors;
    *   - a commit marker (`<indexPath>/_commits/N`, written LAST) makes a
    *     fully-committed batch a no-op on redelivery.
    *
    * Crash between any two steps therefore loses nothing and duplicates
    * nothing: survivors-first ordering plus own-batch exclusion means the
    * worst case is a clean recompute of an identical batch.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String, bandWidth: Int = 8): Unit = {
    if (BatchProtocol.committed(spark, indexPath, batchId))
      return // replayed, fully committed
    // a foreachBatch micro-batch is backed by an EPHEMERAL source — the
    // within-batch band self-join needs a stable base, and the two writes
    // below must not re-pull the source; one checkpoint pins both. The
    // checkpoint registers PINNED atomically: a concurrent Caches.release
    // (another query in the session completing) must not sweep the
    // blocks — they are the batch's only copy (lineage is truncated) —
    // and every step from here on runs inside the try whose finally
    // frees the pins, so no failure path can leak them
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try processPinnedBatch(spark, stable, batchId, indexPath, outPath, bandWidth)
    finally
      // release the batch's pinned localCheckpoint blocks on EVERY path —
      // a stream otherwise leaks one permanently-pinned block set per
      // failed micro-batch, unreclaimable by any later release
      graft.CheckpointBlocks.free(spark, stableIds)
  }

  private def processPinnedBatch(spark: SparkSession, stable: DataFrame,
      batchId: Long, indexPath: String, outPath: String,
      bandWidth: Int): Unit = {
    val sk = stable
      .withColumn("simhash",
        simHash32(transform(array_distinct(tokens(col("text"))), t => portableHash(t))))
      .select(col("doc_id"), col("simhash"))
    processSketched(spark, stable, sk, batchId, indexPath, outPath,
      bandWidth, bits = 32)
  }

  /** The sketch-agnostic tail of a near-dedup micro-batch — everything
    * after the sketch column exists, shared by the text stream (32-bit
    * simhash) and [[MediaStream]] (packed 64-bit dHash): representative
    * collapse, banding, pruned index read, cross/within dedup, the
    * survivors-first two-write protocol, and the commit marker.
    *
    * Mass-cluster hygiene, LOSSLESS (unlike batch q27's frequency cap):
    * exact-sketch duplicates collapse to their min-id representative
    * BEFORE banding. Identical sketches share every band key at
    * hamming 0, so a batch holding a 10k-copy document would otherwise
    * put 10k rows in one bucket and the within-batch self-join would
    * enumerate ~5·10^7 pairs — the quadratic-bucket failure the batch
    * operators cap away. The collapse is one map-side-combined shuffle
    * on the sketch and preserves the greedy semantics exactly: a member
    * is a dup of its smaller-id representative, and any near-dup
    * verdict against the representative applies to every member
    * (identical sketch ⇒ identical hamming to any third document).
    * Null sketches (null text / empty payload) pass through uncollapsed
    * — their band keys are null, which never equi-join, so such rows
    * are always admitted.
    */
  private[streaming] def processSketched(spark: SparkSession,
      stable: DataFrame, sk: DataFrame, batchId: Long, indexPath: String,
      outPath: String, bandWidth: Int, bits: Int): Unit = {
    val reps = sk.filter(col("simhash").isNotNull)
      .groupBy("simhash").agg(min("doc_id").as("doc_id"))
      .select("doc_id", "simhash")
      .union(sk.filter(col("simhash").isNull))
    val bands = bandsFromSketch(reps, bandWidth, bits)
      .persist() // feeds the prune-key collect, the cross-join, the self-join
    try {
      // the batch's own (b, g) groups — bounded by bands × BkBuckets, the
      // driver-side footprint of the pruning filter at ANY batch size.
      // Null g (a null-text document's null sketch) stays out of the
      // collect — getInt on a null was a per-batch NPE — and out of the
      // prune set; null band keys never equi-join anything anyway, so
      // such documents are always admitted, the pre-collapse behavior.
      val groups = bands.filter(col("g").isNotNull)
        .select("b", "g").distinct()
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      val index = prunedIndex(spark, indexPath, batchId, groups)
      val keptBands = dedupBands(bands, index)
      val survivors = stable.join(
        keptBands.select("doc_id", "simhash").distinct(), Seq("doc_id"))
      // survivors FIRST: if the crash lands between the writes, redelivery
      // recomputes against the unchanged index and overwrites this
      // directory with identical rows — index-first would instead find the
      // batch's own bands and silently drop it forever
      survivors.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      // the index write drops null-key band rows (null-text sketches):
      // a null bk can never equi-join, so they would only accumulate as
      // dead rows in every epoch — survivors above joins the UNFILTERED
      // keptBands, so null-sketch documents are still admitted
      keptBands.filter(col("g").isNotNull)
        .write.partitionBy("b", "g").mode("overwrite")
        .parquet(s"$indexPath/batch_id=$batchId")
      BatchProtocol.commit(spark, indexPath, batchId)
    } finally bands.unpersist() // staged bands: cache, not data — caller frees the pins
  }

  /** Merge the index's committed epochs ≤ `upToBatch` into one
    * consolidated `(b, g)`-partitioned epoch and collapse their markers
    * into a single watermark file — the maintenance pass that bounds a
    * long-running stream's index file count by compaction CADENCE, not
    * stream age. Crash-safe at every step and a no-op on replay; full
    * ordering contract at [[BatchProtocol.compactIndex]]. Run quiesced
    * (like [[rebandIndex]]), or let the stream do it itself via
    * `runNearDedup(compactEvery = …)`.
    *
    * The SURVIVORS directory (`outPath`) fragments the same way — one
    * `batch_id=N` dir of task-count files per micro-batch — and once
    * the index watermark covers an epoch its redelivery no-ops
    * ([[BatchProtocol.committed]]), so that part of the tree is
    * immutable: compact it with the layout-preserving
    * [[graft.Compaction.compactPartitioned]] (new directory + one
    * atomic swap; epoch dirs and `batch_id` values survive verbatim).
    */
  def compactIndex(spark: SparkSession, indexPath: String,
      upToBatch: Long): Int =
    BatchProtocol.compactIndex(spark, indexPath, upToBatch, Seq("b", "g"))

  /** Streaming incremental near-dedup: survivors accumulate under
    * `<outPath>/batch_id=*`, the sketch index under
    * `<indexPath>/batch_id=*` partitioned by `(b, g)` for pruned reads,
    * and [[processBatch]]'s marker protocol makes each batch's BOTH
    * writes exactly-once across restarts and mid-batch crashes.
    *
    * `compactEvery > 0` self-compacts the index after every N-th batch
    * commits (batch ids N-1, 2N-1, …): inside `foreachBatch`, after
    * [[processBatch]] returns, every epoch ≤ the current batch is
    * committed by construction — the quiesced precondition
    * [[compactIndex]] needs holds without stopping the stream. The
    * index then never holds more than ~N+1 epochs. Compaction cost is
    * one rewrite of the (survivor-sized) index per N batches —
    * amortized, that is one extra index write per N batch writes.
    */
  def runNearDedup(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, bandWidth: Int = 8, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch.sparkSession, batch, batchId, indexPath, outPath,
          bandWidth)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compactIndex(batch.sparkSession, indexPath, batchId); ()
        }
      }
      .start()

  /** Standing-query lexical scoring — the streaming dual of the BM25
    * serve (q148): prospective search / alerting, "score every ARRIVING
    * document against the standing query set" (the batch serve answers
    * a query against the standing corpus; this is the transpose a feed
    * or routing pipeline runs). Stateless per-row under FROZEN corpus
    * statistics ([[graft.queries.TextAnalysis.bm25FrozenStats]] — the
    * q102/q109 frozen-statistic posture: the quantized avgdl `a` and
    * the bounded (qid, term, idf_m) table train batch-side; an arriving
    * document's df does not move them, the documented staleness the
    * family owns). Emits (doc_id, qid, score_u) for every query an
    * arrival MATCHES — shares ≥ 1 query term, the batch serve's
    * candidate rule, so a zero-idf term still matches at score 0 — in
    * any output mode: no shuffle, no state, no watermark.
    *
    * The arithmetic is the lexical kernel's
    * ([[graft.functions.TextFunctions.termScore]] times the frozen
    * idf_m, per-term int64 products summed exactly) so stream scores
    * hash-equal the batch serve's on the same document
    * (RetrievalStreamSpec pins the fixture's hand-computed scores on
    * both paths); query terms bind as `lit` Columns (corpus text never
    * meets a SQL parser). Per-row cost is
    * |terms ≤ sample·cap| array scans — the bounded standing-query
    * contract.
    */
  def bm25Scored(docs: DataFrame, a: Long,
      queryTerms: Seq[(Long, String, Long)]): DataFrame = {
    val tk = tokens(col("text"))
    val dl = size(tk).cast("long")
    val scoreCols = queryTerms.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (qid, ts) =>
        val parts = ts.map { case (_, term, idf) =>
          val tf = size(filter(tk, x => x === lit(term))).cast("long")
          (tf, lit(idf) * termScore(tf, dl, lit(a)))
        }
        struct(lit(qid).as("qid"),
          parts.map(_._2).reduce(_ + _).as("score_u"),
          // total query-term hits: the MATCH predicate, kept separate
          // from the score so a zero-idf (everywhere-present) term
          // still matches — exactly the batch serve's candidate rule
          // (inner join on term), which ranks such docs at score 0
          parts.map(_._1).reduce(_ + _).as("hits"))
      }
    if (scoreCols.isEmpty)
      // no standing queries: a statically-empty stateless projection —
      // limit(0) would plan a streaming global limit (unsupported in
      // Update mode) and contradict the no-state contract
      docs.select(col("doc_id"), lit(0L).as("qid"),
        lit(0L).as("score_u")).filter(lit(false))
    else
      docs
        .select(col("doc_id"), explode(array(scoreCols: _*)).as("x"))
        .select(col("doc_id"), col("x.qid").as("qid"),
          col("x.score_u").as("score_u"), col("x.hits").as("hits"))
        .filter(col("hits") > 0) // null text folds null -> dropped
        .select("doc_id", "qid", "score_u")
  }

  /** Standing-PHRASE scoring — the q154/q158 dual, completing the
    * prospective-search pair beside [[bm25Scored]]: score every arriving
    * document against a FROZEN standing-phrase set (alerting on quoted
    * queries — "tell me when this exact phrase appears"). `phrases` is
    * the bounded (qid, tokens) table the batch side extracts
    * ([[graft.queries.TextAnalysis.phraseFrozen]] — ≤ |sample| rows,
    * any phrase length ≥ 2, mixed lengths fine). Emits (doc_id, qid,
    * phrase_tf) for every phrase occurring ≥ once in the arrival — the
    * batch candidate rule — counting overlapping occurrences exactly
    * like the positional serve counts position tuples
    * (RetrievalStreamSpec pins stream ≡ batch occurrence counts).
    *
    * Stateless per-row: each phrase is one anchor scan of the arrival's
    * own token array (a filtered 0..n−k anchor sequence, all Column
    * code) — no index, no shuffle, no watermark; per-row cost ∝
    * |phrases| · |tokens|, the bounded standing-set contract. Null/short
    * text folds to zero matches and emits nothing.
    */
  def phraseScored(docs: DataFrame,
      phrases: Seq[(Long, Seq[String])]): DataFrame = {
    require(phrases.forall(_._2.length >= 2),
      "a standing phrase needs at least two tokens")
    val tk = tokens(col("text"))
    def occurrences(p: Seq[String]): Column =
      when(size(tk) >= p.length,
        size(filter(sequence(lit(0), size(tk) - lit(p.length)),
          i => p.zipWithIndex.map { case (t, j) =>
            element_at(tk, i + lit(j + 1)) === lit(t)
          }.reduce(_ && _))).cast("long"))
        .otherwise(lit(0L)) // incl. null text: null size -> otherwise
    val scoreCols = phrases.sortBy(_._1).map { case (qid, p) =>
      struct(lit(qid).as("qid"), occurrences(p).as("phrase_tf"))
    }
    if (scoreCols.isEmpty)
      // no standing phrases: the bm25Scored statically-empty discipline
      docs.select(col("doc_id"), lit(0L).as("qid"),
        lit(0L).as("phrase_tf")).filter(lit(false))
    else
      docs
        .select(col("doc_id"), explode(array(scoreCols: _*)).as("x"))
        .select(col("doc_id"), col("x.qid").as("qid"),
          col("x.phrase_tf").as("phrase_tf"))
        .filter(col("phrase_tf") > 0)
  }

  /** Standing-PROXIMITY scoring — the q159 dual beside [[phraseScored]]:
    * each arriving document scores against a frozen set of ordered term
    * pairs, counting position pairs where the second term follows the
    * first within `win` tokens (1 ≤ Δ ≤ win — q159's exact pair
    * convention, RetrievalStreamSpec pins stream ≡ batch counts).
    * `pairs` reuses [[graft.queries.TextAnalysis.phraseFrozen]]'s
    * (qid, tokens) shape at exactly two tokens. Stateless per-row: an
    * anchor scan of the arrival's own token array with a window slice
    * per anchor (all Column code; per-row cost ∝ pairs × tokens × win —
    * the bounded standing-set contract). Emits matches only.
    */
  def proximityScored(docs: DataFrame, pairs: Seq[(Long, Seq[String])],
      win: Long = graft.queries.TextAnalysis.ProxWindow): DataFrame = {
    require(win >= 1, s"proximity window must be positive, got $win")
    require(pairs.forall(_._2.length == 2),
      "a standing proximity query is exactly an ordered term pair")
    val tk = tokens(col("text"))
    val n = size(tk)
    def pairCount(t1: String, t2: String): Column =
      when(n >= 2,
        aggregate(
          // anchors: positions of t1 that still have a follower slot
          filter(sequence(lit(1), n - 1),
            i => element_at(tk, i) === lit(t1)),
          lit(0L),
          (acc, i) => acc + size(filter(
            // win is a Long literal, so this sequence is BIGINT-typed
            // and its lambda var needs the int cast element_at requires
            sequence(i + 1, least(i + lit(win), n)),
            j => element_at(tk, j.cast("int")) === lit(t2))).cast("long")))
        .otherwise(lit(0L)) // incl. null text: null size -> otherwise
    val scoreCols = pairs.sortBy(_._1).map { case (qid, Seq(t1, t2)) =>
      struct(lit(qid).as("qid"), pairCount(t1, t2).as("prox_tf"))
    }
    if (scoreCols.isEmpty)
      docs.select(col("doc_id"), lit(0L).as("qid"),
        lit(0L).as("prox_tf")).filter(lit(false))
    else
      docs
        .select(col("doc_id"), explode(array(scoreCols: _*)).as("x"))
        .select(col("doc_id"), col("x.qid").as("qid"),
          col("x.prox_tf").as("prox_tf"))
        .filter(col("prox_tf") > 0)
  }

  /** Band-occupancy health card over the PERSISTED stream index — q116's
    * semantics (the batch family's audit) applied to the accumulated
    * `(b, bk)` rows, so the [[rebandIndex]] decision has a signal BEFORE
    * recall collapses: the index width is a lifetime constant, and the
    * number an index owner watches is exactly q116's — per band, the
    * bucket histogram's shape (max occupancy, buckets past the batch
    * family's quadratic-bucket threshold [[graft.queries.Similarity.MaxBandDocs]]
    * and the row mass inside them). A bucket past the threshold makes
    * [[dedupBands]]'s band equi-join quadratic in that bucket — the
    * stream has no frequency cap (it collapses exact-sketch duplicates
    * instead), so growing hot buckets here mean the corpus outgrew the
    * width and the next maintenance window should migrate.
    *
    * Read on a live index (any committed epoch set — epochs partition
    * the survivor set, so rows are unique per (doc_id, b) and the
    * histogram needs no dedup; legacy null-sketch dead rows are
    * excluded like [[rebandIndex]] does). Plan: ONE map-side-combined
    * (b, bk) count over the pruned-column index scan (never the text,
    * never the sketches), then a ≤ bands-row fold — q116's exact
    * aggregate shape, output schema identical so dashboards point at
    * either family.
    */
  def indexBandHealth(spark: SparkSession, indexPath: String,
      bandWidth: Int): DataFrame =
    graft.queries.Similarity.bandHealthCard(
      spark.read.parquet(indexPath)
        .select(col("b"), col("bk"))
        .filter(col("bk").isNotNull),
      bandWidth)

  /** Index migration: re-band the stored `(doc_id, simhash)` sketches at a
    * new band width — the documented path when the target corpus outgrows
    * the width the index was built with. Never re-reads text: the sketches
    * ARE the index. The result lands under the reserved migration epoch
    * `batch_id=-1` (stream batch ids are ≥ 0, so a stream resumed against
    * the new path can never collide with it), partitioned `(b, g)` like
    * any other epoch.
    *
    * Run on a quiesced stream with every batch committed: the commit
    * markers migrate with the data, so a redelivered committed batch
    * still no-ops at the new path — without them it would recompute
    * against an index already holding its own sketches and emit nothing.
    */
  def rebandIndex(spark: SparkSession, indexPath: String, newIndexPath: String,
      newBandWidth: Int): Unit = {
    // hard precondition, not just documentation: migrating an
    // uncommitted epoch folds a crashed batch's sketches into the new
    // index without its marker — its redelivery would find itself and
    // emit nothing (see BatchProtocol.requireQuiesced)
    BatchProtocol.requireQuiesced(spark, indexPath)
    // markers copy BEFORE the data lands: if the migration crashes
    // between the two steps, the new index has markers but no sketches —
    // redelivered committed batches still no-op (no loss; a re-run of
    // this idempotent migration completes the data). Data-first would
    // leave committed sketches without markers, and a redelivered batch
    // finding itself in epoch -1 would emit nothing: silent loss.
    BatchProtocol.copyCommits(spark, indexPath, newIndexPath)
    val sketches = spark.read.parquet(indexPath)
      .select("doc_id", "simhash")
      .filter(col("simhash").isNotNull) // legacy null-sketch dead rows
      .distinct()
    bandsFromSketch(sketches, newBandWidth)
      .write.partitionBy("b", "g").mode("overwrite")
      .parquet(s"$newIndexPath/batch_id=-1")
  }

  // ---- streaming dual of q71: incremental duplicate-gram coverage --------

  /** Gram-bucket count for the gram-index partition `g = h mod GBuckets`
    * — the [[BkBuckets]] discipline applied to the 60-bit gram hash: the
    * per-batch pruning filter's driver footprint is bounded at GBuckets
    * keys at ANY batch size, and probes read only the batch's own `g`
    * partitions.
    */
  private[streaming] val GBuckets = 64

  /** Per-doc distinct hashed 5-gram sets — the SAME derivation as batch
    * q71 (tokens → distinct word 5-grams → 60-bit portable hash), so the
    * streaming and batch signals cannot drift.
    */
  private def gramSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(wordNgrams(col("tk"), 5)).as("g5s"))
      .select(col("doc_id"),
        transform(col("g5s"), g => portableHash60(g)).as("g5h"))

  /** The `foreachBatch` body of [[runDupCoverage]], exactly-once per
    * `batchId` via the shared [[BatchProtocol]] — [[processBatch]]'s
    * crash-ordering applied to a third index shape: coverage rows land
    * FIRST (a post-crash recompute sees the unchanged pre-batch index
    * and reproduces them bit-identically), the batch's distinct gram
    * hashes land second (partitioned by `g` for pruned probes), the
    * commit marker last.
    *
    * Semantics are the CAUSAL form of q71: each document's `dup_frac`
    * counts its distinct 5-grams already present in STRICTLY EARLIER
    * batches — "how much of this arrival is already in the corpus", the
    * admission-time signal, where batch q71 answers the corpus-global
    * question after the fact. Within-batch sharing deliberately does not
    * count: a batch is one atomic arrival, and counting it would make a
    * document's score depend on how the source happened to chunk the
    * stream.
    */
  def processGramBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      indexPath: String, outPath: String): Unit = {
    if (BatchProtocol.committed(spark, indexPath, batchId)) return
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      // the q71 Generate lesson (PERF.md #8): materialize the hashed
      // gram sets BEFORE the explode, or CollapseProject folds the
      // tokenizer into the Generate and re-runs it per emitted gram
      val grams = gramSets(stable).persist()
      try {
        val expl = grams.select(col("doc_id"), explode(col("g5h")).as("h"))
          .withColumn("g", pmod(col("h"), lit(GBuckets.toLong)).cast("int"))
        // ≤ GBuckets rows at ANY batch size — the bounded driver read
        // that keys the pruned index scan
        val groups = expl.select("g").distinct()
          .collect().map(_.getInt(0)).toSeq
        val index =
          try spark.read.parquet(indexPath)
            .filter(col("batch_id").cast("long") =!= lit(batchId))
            .filter(col("g").isin(groups: _*))
            .select("h")
          catch { case _: org.apache.spark.sql.AnalysisException =>
            // first batch: the index directory does not exist yet
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              org.apache.spark.sql.types.StructType.fromDDL("h BIGINT"))
          }
        val seen = expl.join(index, Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("n_seen0"))
        val coverage = grams
          .select(col("doc_id"), size(col("g5h")).cast("long").as("n_g5"))
          .join(seen, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_g5"),
            coalesce(col("n_seen0"), lit(0L)).as("n_seen"),
            when(col("n_g5") > 0,
              coalesce(col("n_seen0"), lit(0L)).cast("double")
                / col("n_g5").cast("double")).as("dup_frac"))
        coverage.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        expl.select("h", "g").distinct()
          .write.partitionBy("g").mode("overwrite")
          .parquet(s"$indexPath/batch_id=$batchId")
        BatchProtocol.commit(spark, indexPath, batchId)
      } finally { grams.unpersist(); () }
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** Streaming incremental dup-gram coverage — the q71 dual: coverage
    * rows accumulate under `<outPath>/batch_id=*`, the distinct-gram
    * index under `<indexPath>/batch_id=*` partitioned by `g`.
    * `compactEvery` behaves as in [[runNearDedup]] (gram rows feed only
    * semi-join probes, so epoch-merge duplicates are verdict-neutral and
    * the consolidated epoch's `distinct()` folds them).
    */
  def runDupCoverage(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processGramBatch(batch.sparkSession, batch, batchId, indexPath, outPath)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          BatchProtocol.compactIndex(batch.sparkSession, indexPath, batchId,
            Seq("g")); ()
        }
      }
      .start()

  /** Streaming retrieval chunking — the q74 dual. A chunk is a pure
    * function of its document alone (window starts, tail, and hash all
    * derive from the one doc's tokens), so the dual is STATELESS — no
    * index, no cursor; exact q74 rows per arrival through the shared
    * [[graft.queries.TextAnalysis.chunkRows]] arithmetic. It still runs
    * as a `foreachBatch` sink rather than a plain transformation for
    * two reasons: the chunk arithmetic needs a materialization barrier
    * under the Generate (a streaming plan cannot persist mid-plan, a
    * pinned batch can — the q71/q22 trap would otherwise re-tokenize
    * per emitted chunk), and the marker protocol makes redelivery
    * produce byte-identical epochs instead of appended duplicates.
    */
  def processChunkBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
      outPath: String): Unit = {
    if (BatchProtocol.committed(spark, outPath, batchId)) return
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      val t = stable
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .filter(size(col("tk")) > 0)
        .select(col("doc_id"), col("tk"), size(col("tk")).cast("long").as("n"))
        .persist()
      try {
        graft.queries.TextAnalysis.chunkRows(t)
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        BatchProtocol.commit(spark, outPath, batchId)
      } finally t.unpersist()
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** Continuous chunking over a document stream: q74 rows land under
    * `<outPath>/batch_id=N`, markers under `<outPath>/_commits`.
    * `collapseEvery` bounds marker-file count exactly as in
    * [[PackStream.runPacking]].
    */
  def runChunks(docs: DataFrame, outPath: String, checkpoint: String,
      collapseEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processChunkBatch(batch.sparkSession, batch, batchId, outPath)
        if (collapseEvery > 0 && (batchId + 1) % collapseEvery == 0)
          BatchProtocol.collapseMarkers(batch.sparkSession, outPath, batchId)
      }
      .start()

  /** Streaming per-epoch stratified re-balance — the windowed variant
    * that completes the streaming curation family. Batch q59's target is
    * the CORPUS-GLOBAL minimum stratum count — anti-causal on a stream
    * (SURVEY.md §"streaming curation duals"), so the streaming contract
    * re-balances each data EPOCH (= micro-batch, the same epoch unit the
    * packing/chunking streams use) to ITS OWN smallest stratum, with
    * q59's exact admission rule ([[graft.queries.Curation
    * .stratifiedAdmit]]: seeded 60-bit hash mod stratum count < target).
    * Causal by construction — an epoch's sample depends only on that
    * epoch's documents — and with the whole corpus in one batch the
    * admitted set IS batch q59's (pinned by StratifiedStreamSpec).
    * Per-epoch work is one count aggregate (|langs| rows), a one-row
    * driver read for the min, and a per-row integer filter — the batch
    * plan's shape at epoch scope.
    */
  def processStratifiedBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outPath: String): Unit = {
    if (BatchProtocol.committed(spark, outPath, batchId)) return
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      val counts = stable.groupBy("lang").agg(count(lit(1)).as("n_l"))
      // empty epoch → NULL min → target 0 admits nothing (the q59 guard)
      val target = Option(counts.agg(min("n_l")).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      stable.join(counts, "lang")
        .filter(graft.queries.Curation.stratifiedAdmit(
          col("doc_id"), col("n_l"), lit(target)))
        .select("doc_id", "lang")
        .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      BatchProtocol.commit(spark, outPath, batchId)
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** Continuous per-epoch stratified sampling: admitted `(doc_id, lang)`
    * rows land under `<outPath>/batch_id=N`, markers under
    * `<outPath>/_commits`; `collapseEvery` bounds marker-file count as in
    * [[runChunks]].
    */
  def runStratifiedSample(docs: DataFrame, outPath: String,
      checkpoint: String, collapseEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processStratifiedBatch(batch.sparkSession, batch, batchId, outPath)
        if (collapseEvery > 0 && (batchId + 1) % collapseEvery == 0)
          BatchProtocol.collapseMarkers(batch.sparkSession, outPath, batchId)
      }
      .start()

  /** Streaming per-epoch curriculum ordering — the q85 dual, completing
    * the loader-order streaming family next to [[PackStream]]: each data
    * epoch (= micro-batch) ranks ITS arrivals easy-first through the
    * SHARED [[graft.queries.Curation.curriculumPositions]] discipline,
    * and positions CONTINUE across epochs through the one-scalar
    * position cursor carried in a `_cursor/N=` filename ([[CursorFile]]
    * — the PackStream protocol verbatim: data first, cursor second,
    * marker last, superseded files pruned post-commit). The global
    * easy-first rank is anti-causal on a stream (a later easy doc can't
    * displace an emitted position), so the causal contract is
    * epoch-local ordering with a gapless global position space — what a
    * data loader consuming epochs as they close actually needs. With
    * the whole corpus in one batch the positions ARE batch q85's
    * (CurriculumStreamSpec).
    */
  def processCurriculumBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outPath: String): Unit = {
    if (BatchProtocol.committed(spark, outPath, batchId)) return
    val (stable, stableIds) = graft.CheckpointBlocks.pinnedCheckpoint(batch)
    try {
      val scored = graft.queries.Curation.scoredTokens(stable).persist()
      try {
        val cursor = CursorFile.before(spark, outPath, batchId)
        val (positions, ranked) =
          graft.queries.Curation.curriculumPositions(scored, cursor)
        positions
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        CursorFile.advance(spark, outPath, batchId, cursor + ranked)
        BatchProtocol.commit(spark, outPath, batchId)
        CursorFile.prune(spark, outPath, batchId)
      } finally scored.unpersist()
    } finally graft.CheckpointBlocks.free(spark, stableIds)
  }

  /** Continuous per-epoch curriculum ordering: `(doc_id, quality, pos)`
    * rows land under `<outPath>/batch_id=N`, the position cursor under
    * `<outPath>/_cursor`, markers under `<outPath>/_commits`;
    * `collapseEvery` bounds marker-file count as in [[runChunks]].
    */
  def runCurriculum(docs: DataFrame, outPath: String, checkpoint: String,
      collapseEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processCurriculumBatch(batch.sparkSession, batch, batchId, outPath)
        if (collapseEvery > 0 && (batchId + 1) % collapseEvery == 0)
          BatchProtocol.collapseMarkers(batch.sparkSession, outPath, batchId)
      }
      .start()
}
