package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline scalar functions for large-scale training-data prep, all
  * composed from codegen'd built-ins (no UDFs — every expression here stays
  * inside whole-stage codegen and is oracle-mirrorable in ANSI SQL).
  *
  * Determinism contract: everything integer-derived or per-row IEEE double —
  * no aggregation-order dependence, so results hash-match DuckDB exactly.
  */
object TextFunctions {

  /** Whitespace tokens of the lowercased, trimmed text. */
  def tokens(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Word n-grams joined by single spaces; empty array when < n tokens.
    * (Guarded: Spark's `sequence(1, 0)` would generate a DESCENDING range.)
    */
  def wordNgrams(toks: Column, n: Int): Column = {
    val gram = (i: Column) =>
      concat_ws(" ", (0 until n).map(k => element_at(toks, i + lit(k))): _*)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - lit(n - 1)), gram))
  }

  /** Character k-shingles of the lowercased trimmed text. */
  def charShingles(text: Column, k: Int): Column = {
    val t = lower(trim(text))
    when(length(t) < k, array(t))
      .otherwise(transform(sequence(lit(1), length(t) - lit(k - 1)),
        i => t.substr(i, lit(k))))
  }

  /** Engine-portable 32-bit string hash: the first 8 hex chars of SHA-256,
    * read as an unsigned int in a long. Chosen over murmur/xxhash because
    * every SQL engine computes the identical value (DuckDB:
    * `CAST('0x'||substr(sha256(s),1,8) AS BIGINT)`), which keys the oracle
    * parity of every sketch built on it. Seeded variants append `#<seed>`.
    */
  def portableHash(s: Column, seed: Int = 0): Column = hashPrefix(s, seed, 8)

  /** The ONE definition behind both hash widths: seed-keyed sha-256,
    * first `hexChars` hex digits as a non-negative long. The keying
    * convention (`#<seed>` suffix) lives only here and in the oracle
    * mirrors' `||'#N'`.
    */
  private def hashPrefix(s: Column, seed: Int, hexChars: Int): Column = {
    val keyed = if (seed == 0) s else concat(s, lit(s"#$seed"))
    conv(substring(sha2(keyed, 256), 1, hexChars), 16, 10).cast("long")
  }

  /** 60-bit [[portableHash]] (first 15 hex chars of SHA-256, < 2^60):
    * for `hash % n_stratum < target` admission rates that must stay
    * rate-exact when a stratum can exceed 2^32 rows — there the 32-bit
    * hash saturates (`hash % n == hash`) and the admitted fraction
    * silently becomes `target/2^32` instead of `target/n`. 60 bits
    * covers any real stratum while the DuckDB mirror stays a plain
    * hex-prefix cast (15 hex digits parse into a BIGINT without
    * overflow).
    */
  def portableHash60(s: Column, seed: Int = 0): Column = hashPrefix(s, seed, 15)

  /** Driver-side [[portableHash]] of a literal string — the identical
    * value (first 4 bytes of SHA-256, read unsigned), for baking derived
    * constants into plans without a foldable sha-expression forest.
    */
  def portableHashLocal(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** The lexical family's BM25 kernel — the ONE Column statement of the
    * scoring arithmetic every Spark road calls (batch, appended, impact
    * and stream serves; the stream standing-query scorer; the
    * `graft_*` SQL table functions, which plan those serves), and the
    * DuckDB oracle re-states it independently.
    *
    * Scoring is Okapi BM25 (k1 = 6/5, b = 3/4) under this repo's
    * integer-exact discipline — no libm log, no float sums, every score
    * an int64 so the per-term sum is order-independent and cross-engine
    * hash-exact:
    *  - idf_m ([[idfM]]): the Robertson–Spärck Jones odds
    *    (N−df+½)/(df+½) with the log dropped (q46's exact-rational idf
    *    ordering — monotone in the same direction, rank-equivalent per
    *    term), doubled to integers (2N−2df+1)/(2df+1) and divided at
    *    milli scale.
    *  - tfn_c ([[termScore]]): tf·(k1+1)/(tf + k1(1−b) + k1·b·dl/avgdl)
    *    with avgdl quantized to whole tokens A = max(1, L div N);
    *    multiplying through by 10A makes every operand integral —
    *    (2200·A·tf) div (10·A·tf + 3A + 9·dl) at centi scale.
    *  - per-term score = idf_m · tfn_c; int64 headroom at the 100 TB
    *    north star (N ≈ 2·10¹⁰ docs): idf_m ≤ 1.4·10¹³ (df ≥ 1),
    *    tfn_c ≤ 220, term product ≤ 3·10¹⁵, query sum ≤
    *    [[graft.queries.TextAnalysis.Bm25QTermCap]]·that ≈ 5·10¹⁶ ≪ 2⁶³.
    *
    * Every operand is non-negative, so Spark's truncating `div` (called
    * as a function — no SQL text, so corpus-derived literals never meet
    * a parser) equals DuckDB's flooring `//` (Bm25KernelSpec pins both
    * on hand-computed rows).
    */
  def idfM(df: Column, n: Column): Column =
    call_function("div", (lit(2) * n - lit(2) * df + lit(1)) * lit(1000),
      lit(2) * df + lit(1))

  /** The centi-scale tf-normalization tfn_c of one (term, document)
    * posting — see [[idfM]] for the arithmetic. A posting's serve score
    * is `idf_m · termScore`; since idf is term-constant, termScore alone
    * is also the posting's IMPACT, the within-term order of the impact
    * sidecars.
    */
  def termScore(tf: Column, dl: Column, a: Column): Column =
    call_function("div", lit(2200) * a * tf,
      lit(10) * a * tf + lit(3) * a + lit(9) * dl)

  /** The kernel's quantized average document length A = max(1, L div
    * N) of an N-document, L-token corpus — the `a` of [[termScore]].
    */
  def quantizedAvgDl(n: Long, l: Long): Long = math.max(1L, l / math.max(1L, n))

  /** Count of tokens matching a stopword set (language-ID / quality input). */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, t => t.isin(stopwords: _*))).cast("long")

  /** Language-ID by stopword-hit argmax with a fixed tie-break priority
    * (en > es > de > fr) — an n-gram-heuristic classifier shape, all ints.
    */
  val stopwordsByLang: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "les", "et", "des", "une", "dans"))

  def langScores(toks: Column): Seq[(String, Column)] =
    stopwordsByLang.map { case (lang, words) => lang -> stopwordHits(toks, words) }

  /** BPE-ish token count: alnum runs plus isolated non-alnum-non-space
    * symbols — the standard cheap proxy for subword token counts.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
}
