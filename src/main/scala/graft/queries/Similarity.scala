package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.SketchFunctions.{minHash, simHash32}
import graft.functions.VectorFunctions.vecDot
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + sketch dedup: minhash+LSH banding, simhash, cosine
  * near-dup, brute-force ANN and hyperplane-LSH ANN over the `embeddings`
  * table (64-dim float vectors).
  *
  * Cross-engine float determinism: every dot product is a *sequential
  * left-to-right* fold over the array seeded with 0.0 (Spark: the native
  * [[graft.functions.VecDot]] expression; DuckDB
  * `list_aggregate(...,'sum')` — the same IEEE operation sequence), with
  * elements cast to double first, so sums are bit-identical and no rounding
  * fudge is needed. Hash-derived quantities use [[portableHash]] (sha-256
  * prefix) which both engines compute identically.
  *
  * Scale notes: brute-force pair generation (q28) and full-scan top-k (q29)
  * are the small-N baselines; the banding/bucketing variants (q25, q27,
  * q30) are the 100 TB shapes — candidate work scales with true collisions
  * because the join key is the band/bucket, and the per-row sketches are
  * embarrassingly parallel projections with no shuffle.
  */
object Similarity {

  // ---- Spark-side primitives ---------------------------------------------

  // Dot products go through the native [[graft.functions.VecDot]]
  // expression — a codegen'd primitive loop with the exact sequential-fold
  // IEEE semantics of DuckDB's `list_aggregate(..., 'sum')`. Measured at
  // sf0.1: 2M-pair cosine via built-in array lambdas ≈ 50 s (interpreted
  // in the join condition); via VecDot < 2 s. Every cosine is written as
  // vecDot(a,b)/(nrm_a*nrm_b) over per-row norms computed once at the
  // scan (never per pair), with nrm > 0 guarding ANSI divide-by-zero.

  /** Minhash seed family: one sha-derived 32-bit base hash per n-gram (the
    * expensive part, computed once), then 12 affine rehashes
    * `(a_j·h + b_j) mod P` over the 31-bit Mersenne prime — pure int64
    * arithmetic, exact in both engines. Max intermediate
    * (P−1)·(2^32−1)+(P−1) < 2^63, so no overflow on either side.
    */
  private val MersenneP = 2147483647L
  private def hashA(j: Int): Long = (j * 2654435761L) % MersenneP
  private def hashB(j: Int): Long = (j * 40503L) % MersenneP

  /** q149: RRF's rank-damping offset (the standard K = 60). */
  private[graft] val RrfK = 60L

  /** q149: the fused list depth — the SAME constant the zero-floor-loss
    * scale is built over ([[RrfScale]] = lcm(K+1 .. K+RrfTopK)): raising
    * the cut without re-deriving the scale would silently reintroduce
    * floor loss at the new ranks (RetrievalSpec pins the coupling and
    * the equality with the input lists' depth).
    */
  private[graft] val RrfTopK = 10L

  /** q149: the RRF fixed-point scale — lcm(K+1 .. K+RrfTopK) = lcm(61..70),
    * so SCALE/(K+rank) is an EXACT int64 for every attainable rank:
    * integer reciprocal-rank fusion with ZERO floor loss (a float
    * 1/(K+r) would be the usual cross-engine ulp hazard; a floor-div at
    * a non-divisible scale would silently order-perturb near-ties).
    * Divisibility is spec-pinned (RetrievalSpec). Headroom: one
    * reciprocal ≤ SCALE/61 ≈ 2.3·10¹², a two-list sum ≤ 4.7·10¹².
    */
  private[graft] val RrfScale = 142813628717760L

  /** 32-bit simhash over the distinct whitespace tokens of `text`: one
    * native single-pass vote ([[graft.functions.SimHash32]]) over the
    * portable token hashes. (The built-in formulation — 32 `aggregate()`
    * lambdas over the same array — costs 32 interpreted passes per doc;
    * the native expression is the q26/q27 sketch-CPU hot path.)
    */
  private def simhash32(text: Column): Column =
    simHash32(transform(array_distinct(tokens(text)), t => portableHash(t)))

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * hash32("plane<p>_<i>") / 2^31 - 1. Computed driver-side (same sha-256
    * prefix as the SQL mirror — integer-exact, /2^31 and −1.0 are exact
    * IEEE ops) so the plan carries 384 plain double literals instead of a
    * sha-expression forest for Catalyst to constant-fold on every run.
    */
  private def planeComp(p: Int, i: Int): Double =
    portableHashLocal(s"plane${p}_$i").toDouble / 2147483648.0 - 1.0

  /** Dot of a 64-dim vector column with plane p: native VecDot against the
    * plane baked as a literal double array. (The sign decides the bucket,
    * so VecDot's 0.0 seed vs the SQL mirror's plain left-assoc sum is
    * indistinguishable — +0.0/−0.0 both land in the ≥0 bucket.)
    */
  private def planeDot(p: Int, v: Column): Column =
    vecDot(v, typedLit((1 to 64).map(i => planeComp(p, i))))

  /** Hyperplane-LSH bucket id from `planes` sign bits. */
  private def lshBucket(v: Column, planes: Int): Column =
    (0 until planes).map(p => when(planeDot(p, v) >= 0.0, lit(1L << p)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Corpus-adaptive LSH key width: the smallest bit width `w` in
    * `[lo, hi]` whose `2^w` keyspace keeps expected bucket occupancy
    * `n / 2^w` at or under `targetOcc` (`hi` when none does — beyond
    * `2^hi · targetOcc` rows the keyspace stops growing and a wider
    * sketch/`hi` is needed). Capped LSH only works when the keyspace
    * grows with the corpus: a fixed width means occupancy eventually
    * exceeds the frequency cap in EVERY bucket and the query silently
    * returns zero pairs at exactly the scale the operator exists for.
    *
    * Pure integer arithmetic — `2^w · targetOcc ≥ n` — so the DuckDB
    * mirrors derive the bit-identical width from `count(*)` (a
    * `COALESCE(MIN(j), hi)` search over `range(lo, hi+1)`), with no
    * float `log2` boundary wobble on either side.
    */
  private[queries] def adaptiveBits(n: Long, targetOcc: Long, lo: Int, hi: Int): Int =
    (lo to hi).find(j => (1L << j) * targetOcc >= n).getOrElse(hi)

  /** q39 banding parameters: NdFamilies independent hyperplane families of
    * k sign bits each (family f uses planes f·k … f·k+k−1 of the shared
    * deterministic plane sequence). A pair is a candidate if it shares a
    * bucket in ANY family — the banded-LSH recall amplification (L bands
    * of k bits).
    *
    * Sizing: k is derived from the corpus count per run —
    * `adaptiveBits(n, VecTargetOcc, NdPlanesMin, NdPlanesMax)` — so
    * 2^k buckets per family keep typical occupancy UNDER [[MaxVecBucket]]
    * at ANY corpus. A fixed k=4 silently zeroed q39 at sf0.1's 2000
    * vectors (16 buckets, ~125 occupancy ⇒ every bucket capped); the
    * adaptive rule yields the same k=6 the r3 constants hard-coded at
    * sf0.01/sf0.1 (hash-stable) and k=10 at 20k vectors, up to k=40
    * (≈ 3.5e13 vectors) before the bound binds. L=20 holds recall ≈ 0.67
    * at cos 0.35 for k=6 (1−(1−p⁶)²⁰, p=1−θ/π) and ≈ 1 for true
    * near-dups at any k here; production recall targets at billion-vector
    * corpora would raise L alongside k — the adaptive k preserves the
    * invariant this operator actually needs: candidates survive the cap.
    */
  private[queries] val NdFamilies = 20 // visible to AnnRecallSpec's per-family measurement
  private val NdPlanesMin = 6
  private val NdPlanesMax = 40
  private val VecTargetOcc = 32

  /** Bucket cap (q39): same hygiene as q22/q25 — a bucket holding more
    * than this many vectors is a quadratic skew risk and is dropped.
    */
  val MaxVecBucket = 50

  /** q75's neighborhood size: 3 nearest candidates per vector — enough
    * to seed a graph index or a semantic-dedup pass at test scale; the
    * operator is k-agnostic (the rank cut is the only place it appears).
    */
  private[queries] val KnnK = 3

  /** q84's negatives per anchor: the top-2 most similar OTHER-label
    * candidates — the contrastive-training mining depth at test scale;
    * like [[KnnK]] the operator is k-agnostic.
    */
  private[queries] val HardNegK = 2

  /** q76's semantic-duplicate threshold. 0.35 on the synthetic
    * embeddings plays the role SemDeDup's ~0.95+ plays on real encoder
    * output: high enough that most in-cell pairs survive as distinct,
    * low enough that the removal path is actually exercised.
    */
  private[queries] val SemTau = 0.35

  /** Planes per q39 family for an n-vector corpus. */
  private[queries] def ndPlanesFor(n: Long): Int =
    adaptiveBits(n, VecTargetOcc, NdPlanesMin, NdPlanesMax)

  /** All NdFamilies family buckets in one native pass
    * ([[graft.functions.HyperplaneBands]]): family f's bucket is k sign
    * bits of planes f·k … f·k+k−1, bit-identical to the composed
    * when(vecDot ≥ 0) form (same fold, same plane literals) but ONE
    * expression node instead of NdFamilies·k VecDots over 64-literal
    * arrays — the composed tree's thousands of literal nodes dominated
    * q39's per-run plan analysis/optimization time.
    */
  private[queries] def famBuckets(k: Int, v: Column): Column =
    graft.functions.VectorFunctions.hyperplaneBands(v,
      Array.tabulate(NdFamilies * k * 64)(x => planeComp(x / 64, x % 64 + 1)),
      NdFamilies, k)

  // ---- q35 coarse quantizer: deterministic spherical k-means -------------

  /** Every `sampleModFor(n)`-th vector trains the quantizer (at 100 TB you
    * train on a sample, not the corpus; the modulus is the deterministic
    * sample). The modulus is derived from the corpus count so the
    * driver-collected training set is ABSOLUTELY bounded at ~[[SampleCap]]
    * vectors — a fixed fraction of a 100 TB embeddings table is a driver
    * OOM, not a sample. Integer ceil-division mirrors the oracle's
    * `GREATEST(5, (count(*) + 399) // 400)` exactly; at sf0.01/sf0.1 the
    * formula yields the same modulus 5 the r3 constant hard-coded.
    */
  private val IvfCellsMin = 8
  private val SampleCap = 400
  private val KmeansIters = 2

  /** q128's quantile-grid cell width over the fixed-point squared norm:
    * sq div 2^32. Norm components floor onto the q115 2^20 grid, so
    * sq ≤ dims·2^40 and the histogram is ≤ dims·256 cells at ANY corpus
    * size — the per-source quantile window sorts a constant-bounded row
    * set (~0.1% norm resolution, plenty for a health envelope).
    */
  private val SqCell = 4294967296L

  private[queries] def sampleModFor(n: Long): Long =
    math.max(5L, (n + SampleCap - 1) / SampleCap)

  /** IVF cell count for an n-vector corpus: the classic ~√n sizing
    * (balancing cell-list length against cells probed), as the smallest
    * c in [[[IvfCellsMin]], [[SampleCap]]] with c² ≥ n — the same
    * integer-search discipline as [[adaptiveBits]], so the DuckDB mirror
    * derives the bit-identical count from `count(*)` with no float sqrt.
    * Capped at the sample size (you cannot train more cells than sample
    * vectors; past ~160k vectors the sample, not the cell count, is the
    * next knob). 8 cells over 10^10 vectors is no quantizer — a fixed
    * count was the r4 verdict's remaining unscaled constant here.
    */
  private[queries] def ivfCellsFor(n: Long): Int =
    (IvfCellsMin to SampleCap).find(c => c.toLong * c >= n).getOrElse(SampleCap)

  /** Deterministic seeded k-means over the sample, driver-side: init = the
    * `IvfCells` lowest-vec_id sample vectors, then `KmeansIters` Lloyd
    * steps assigning by cosine (argmax, ties to the lowest cell) and
    * re-centering on the member mean. Every float op is an exact IEEE
    * mirror of the DuckDB oracle's CTE chain: dots and per-dimension
    * member sums are sequential left folds (members in vec_id order), the
    * mean is one double/int64 divide, so both engines derive bit-identical
    * centroids from the same parquet and the probe results hash-match.
    * Returns (cell, centroid, centroidNorm).
    */
  /** Session memo of the trained IVF quantizer (and [[pqCodebooks]]'
    * twin below) — the OTHER HALF of the staged index artifact (r22):
    * [[ensureIvfPqIndex]] stages the coded corpus ONCE per session, but
    * every serve construction still re-ran the deterministic k-means
    * training (an embeddings count, a bounded sample collect, and the
    * driver Lloyd iterations) only to reproduce the exact centroids the
    * staged index was built with. A production vector store loads the
    * quantizer WITH the index — retraining it per query was redundancy,
    * not serve work. The training is deterministic over the immutable
    * corpus sample (vec_id-ordered folds, fixed iteration count), so the
    * memoized value is byte-identical to every per-call derivation; the
    * embeddings file's mtime rides in the key, so an in-session corpus
    * rewrite (spec fixtures) retrains. No query result and no
    * per-query state is memoized — the ADC distance tables and probe
    * plans still derive per serve from these frozen constants.
    */
  /** Two daemon threads for independent card-member CONSTRUCTION (guide
    * §2.6: "2-3 jobs in flight is plenty — enough to fill the tail, not
    * so many that they fight"). Construction only — every timed action
    * still runs on the caller's thread; the pool just overlaps one
    * member's bounded driver collects with another's stage tails.
    */
  private[queries] lazy val memberPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(2,
        (r: Runnable) => {
          val t = new Thread(r, "graft-card-member")
          t.setDaemon(true)
          t
        }))

  /** Per-(session, dir) trained quantizers, each with the embeddings'
    * mtime it was trained at ([[Tables.atMtime]]).
    */
  private[graft] val centsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Array[(Int, Seq[Double], Double)])]
  private[graft] val booksMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Long, Array[Array[Array[Double]]])]

  private[graft] def kmeansCentroids(s: SparkSession,
      dir: String): Array[(Int, Seq[Double], Double)] =
    Tables.atMtime(centsMemo, (s.sparkContext.applicationId, dir),
      Tables.mtimeOf(s, dir, "embeddings"))(trainKmeansCentroids(s, dir))

  private def trainKmeansCentroids(s: SparkSession, dir: String): Array[(Int, Seq[Double], Double)] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val n = Tables.rowCount(s, dir, "embeddings")
    val sampleMod = sampleModFor(n)
    val samp: Array[(Long, Array[Double])] = Tables(s, dir, "embeddings")
      .filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .filter { case (_, v) => dot(v, v) > 0 } // zero-norm guard (see q28)
      .sortBy(_._1)
    // a sample smaller than the cell target trains that many cells (the
    // SQL mirror's `WHERE k < cells` truncates identically); an empty
    // sample (no non-zero vectors) is a contract error, not a hang
    var cents: Array[Array[Double]] = samp.take(ivfCellsFor(n)).map(_._2)
    require(cents.nonEmpty,
      "IVF quantizer needs at least one non-zero sample vector")
    val nCells = cents.length
    for (_ <- 0 until KmeansIters) {
      val members =
        Array.fill(nCells)(scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
      for ((_, v) <- samp) { // samp is vec_id-ordered ⇒ member order is too
        val vn = math.sqrt(dot(v, v))
        var best = 0; var bestC = Double.NegativeInfinity
        for (k <- 0 until nCells) {
          val ccos = dot(v, cents(k)) / (vn * math.sqrt(dot(cents(k), cents(k))))
          if (ccos > bestC) { bestC = ccos; best = k } // strict > = ties to low k
        }
        members(best) += v
      }
      cents = cents.zipWithIndex.map { case (old, k) =>
        val ms = members(k)
        if (ms.isEmpty) old // lost cell keeps its centroid
        else Array.tabulate(64) { i =>
          var acc = 0.0; ms.foreach(v => acc += v(i)) // vec_id-ordered fold
          acc / ms.length
        }
      }
    }
    cents.zipWithIndex.map { case (c, k) => (k, c.toSeq, math.sqrt(dot(c, c))) }
  }

  // ---- q65 product quantization: per-subspace L2 codebooks ---------------

  /** PQ geometry: the 64-dim vector splits into [[PqM]] subspaces of
    * [[PqSubDim]] dims; each subspace gets its own [[PqK]]-entry codebook
    * (deterministic L2 Lloyd steps over the SAME bounded modulus sample
    * the IVF quantizer trains on). A vector's code is then PqM small
    * ints — 64 float32s (256 B) become 4 codes (PqM·log2(PqK) = 16
    * bits), the compression step AFTER int8 (q63) in a production vector
    * index. PqK is a compression-rate knob, not a corpus-tracking
    * parameter (production PQ uses K=256; 16 keeps the relational
    * training mirror 16× lighter at identical semantics).
    */
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16

  /** q179 (Rocchio vector feedback): how many round-1 ADC hits pull the
    * query vector (the q178 feedback depth, semantic side).
    */
  private[graft] val RocchioFbK = 3
  private val PqK = 16

  /** The frozen PQ codebooks as rows (m, k, centroid) — the
    * broadcast-sized relation [[graft.SqlCatalog]] publishes so the ADC
    * serve is expressible in pure SQL (PqM·PqK = 64 rows).
    */
  private[graft] def pqCodebookRows(s: SparkSession, dir: String)
      : Seq[(Long, Long, Seq[Double])] =
    pqCodebooks(s, dir).zipWithIndex.flatMap { case (book, m) =>
      book.zipWithIndex.map { case (c, k) => (m.toLong, k.toLong, c.toSeq) }
    }.toSeq

  /** Deterministic per-subspace L2 k-means, driver-side — the PQ
    * codebook trainer. Mirrors [[kmeansCentroids]]'s discipline exactly:
    * modulus sample (bounded at ~[[SampleCap]] rows at ANY corpus), init
    * = the first [[PqK]] sample subvectors in vec_id order, KmeansIters
    * Lloyd steps, every float op an exact IEEE mirror of the oracle's
    * CTE chain (squared-difference folds i=1..16, member-mean folds in
    * vec_id order, strict `<` argmin = ties to the lowest code). L2, not
    * cosine: subvectors legitimately have zero norm (a zero SLICE of a
    * nonzero vector), and L2 has no divide to guard. Returns
    * codebooks(m)(k) = centroid.
    */
  private[graft] def pqCodebooks(s: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    Tables.atMtime(booksMemo, (s.sparkContext.applicationId, dir),
      Tables.mtimeOf(s, dir, "embeddings"))(trainPqCodebooks(s, dir))

  private def trainPqCodebooks(s: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val n = Tables.rowCount(s, dir, "embeddings")
    val mod = sampleModFor(n)
    // null-element vectors can't train (the driver-side unboxing below
    // has no null slot) — excluded here and in the oracle's psamp alike
    val samp: Array[Array[Double]] = Tables(s, dir, "embeddings")
      .filter(col("vec_id") % mod === 0 && size(col("embedding")) === 64 &&
        !exists(col("embedding"), _.isNull))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    require(samp.nonEmpty, "PQ codebooks need at least one 64-dim sample vector")
    Array.tabulate(PqM) { m =>
      val subs = samp.map(v => v.slice(m * PqSubDim, (m + 1) * PqSubDim))
      var cents = subs.take(PqK).map(_.clone())
      for (_ <- 0 until KmeansIters) {
        val members = Array.fill(cents.length)(
          scala.collection.mutable.ArrayBuffer.empty[Array[Double]])
        for (v <- subs) { // samp is vec_id-ordered ⇒ member order is too
          var best = 0; var bestD = Double.PositiveInfinity
          for (k <- cents.indices) {
            var d = 0.0; var i = 0
            while (i < PqSubDim) {
              val t = v(i) - cents(k)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = k } // strict < = ties to low k
          }
          members(best) += v
        }
        cents = cents.zipWithIndex.map { case (old, k) =>
          val ms = members(k)
          if (ms.isEmpty) old // lost code keeps its centroid
          else Array.tabulate(PqSubDim) { i =>
            var acc = 0.0; ms.foreach(v => acc += v(i)) // vec_id-ordered fold
            acc / ms.length
          }
        }
      }
      cents
    }
  }

  /** The shared PQ assignment pipeline (q65 codes, q67 ADC): per
    * subspace m, the 16 squared distances of the row's slice to the
    * codebook (`d<m>`) and their minimum (`mn<m>`). The distance matrix
    * is ONE native [[graft.functions.SubspaceSqDists]] pass — the
    * codegen'd triple loop that replaced the m·k interpreted
    * `aggregate`∘`zip_with` folds (the VecDotMany upgrade path applied;
    * PqNativeSpec pins bitwise parity against the composed lambda
    * form, and the oracle CTEs compute the identical IEEE sequence).
    * Shuffle-free, narrow, per-row.
    */
  private def pqDistances(emb: DataFrame,
      books: Array[Array[Array[Double]]]): DataFrame = {
    // codebooks hold ≤ PqK entries (a sample smaller than PqK trains
    // one code per sample vector) — the codes count is the ACTUAL one
    val dd = graft.functions.VectorFunctions.subspaceSqDists(
      col("embedding"), books.flatten.flatten, PqM, books(0).length, PqSubDim)
    emb.select(col("vec_id"), size(col("embedding")).as("dims"), dd.as("dall"))
      .select(
        (col("vec_id") +: col("dims") +:
          (0 until PqM).map(m => element_at(col("dall"), m + 1).as(s"d$m"))) ++
        (0 until PqM).map(m =>
          array_min(element_at(col("dall"), m + 1)).as(s"mn$m")): _*)
  }

  private val MinhashFns = 12
  private val BandSize = 4 // 3 bands of 4

  /** LSH hygiene cap (q25): a band key shared by more than this many docs
    * is a skewed quadratic bucket — it contributes O(n²) candidate pairs
    * while discriminating nothing — so it is dropped before the band
    * self-join. The DuckDB oracle applies the identical cap.
    */
  val MaxBandDocs = 50

  /** q27 band width (bits) for an n-document corpus: smallest w in [8, 16]
    * with expected occupancy n/2^w ≤ 25, so ~4·occupancy stays under
    * [[MaxBandDocs]] across the (up to 4) bands. 8 ⇒ 4 bands of 8 bits —
    * exactly the r3 constants at sf0.01/sf0.1 (hash-stable).
    */
  private[queries] def bandWidthFor(n: Long): Int = adaptiveBits(n, 25, 8, 16)

  /** q42 band width over the 64-bit fingerprint: smallest w in {8, 16, 32}
    * with occupancy n/2^w ≤ 25. Powers of 8 only, so a band never
    * straddles the lo/hi half boundary; w=32 carries the keyspace to
    * ~10^11 documents.
    */
  private[queries] def bandWidth64For(n: Long): Int =
    Seq(8, 16, 32).find(j => (1L << j) * 25 >= n).getOrElse(32)

  /** The q39 candidate machinery, shared with q75: corpus-adaptive
    * hyperplane families ([[ndPlanesFor]] — no constant retuning between
    * sf0.01 and a 100× corpus), family buckets computed INSIDE the
    * persisted projection (the band relation feeds the frequency-cap
    * aggregate AND both sides of the candidate self-join — unpersisted,
    * the bucket column recomputes 3× per row), [[MaxVecBucket]]-capped
    * buckets, and a band equi-join for candidates (work ∝ true
    * collisions, never n²). Returns (persisted embedding projection,
    * distinct vec_a < vec_b candidate pairs); the projection is released
    * by the consumer's Caches.release hook.
    */
  /** q115's corpus-facing stage — the fixed-point (source, pos, c)
    * centroid-sum relation over a (source, embedding) input. Sums are
    * ADDITIVE, so the IDENTICAL aggregation runs stateful over an
    * unbounded stream (update/complete mode, no watermark) with state
    * bounded at |sources|·dims longs forever — the `sourceTokenCounts`
    * posture; the matrix is [[matrixFromSums]]'s tiny batch step over
    * the emitted table. Shared with the streaming dual
    * ([[graft.streaming.EmbedStream.centroidSums]]).
    */
  private[graft] def sourceCentroidSums(rows: DataFrame): DataFrame =
    rows
      .select(col("source"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .filter(col("v").isNotNull)
      .select(col("source"), col("pos"),
        floor(col("v").cast("double") * 1048576.0).cast("long").as("q"))
      .groupBy("source", "pos").agg(sum("q").as("c"))

  /** The |sources|·dims-sized cosine-matrix step over materialized
    * centroid sums: decimal(38,0) dot/norm folds, one deterministic
    * double division, zero-norm sources excluded. The caller owns
    * materialization of `cs` (consumed by the norms AND both sides of
    * the pair join).
    */
  private[graft] def matrixFromSums(cs: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val n2 = cs.groupBy("source").agg(sum(dec(col("c")) * dec(col("c"))).as("nn"))
    val dt = cs.alias("a").join(cs.alias("b"),
        col("a.pos") === col("b.pos") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(sum(dec(col("a.c")) * dec(col("b.c"))).as("dd"))
    dt.join(broadcast(n2.select(col("source").as("source_a"),
        col("nn").as("na"))), Seq("source_a"))
      .join(broadcast(n2.select(col("source").as("source_b"),
        col("nn").as("nb"))), Seq("source_b"))
      .filter(col("na") > 0 && col("nb") > 0)
      .select(col("source_a"), col("source_b"),
        (col("dd").cast("double") /
          sqrt(col("na").cast("double") * col("nb").cast("double")))
          .as("cos"))
  }

  /** The corpus's un-capped band rows `(doc_id, simhash, b, bk)` at the
    * corpus-adaptive width, plus the width — q27's banding before the
    * frequency cap, factored so the band-health audit (q116) and the
    * SQL catalog surface ([[graft.SqlCatalog]]'s `graft_band_index`
    * view) read ONE definition. Narrow (sketch + explode, no shuffle);
    * a null-text document carries a null sketch/bk, which never
    * equi-joins — the family's standing convention.
    */
  private[graft] def bandRelation(s: SparkSession, dir: String)
      : (DataFrame, Int) = {
    val w = bandWidthFor(Tables.rowCount(s, dir, "documents"))
    val nb = 32 / w
    val bands = Tables.wide(s, dir, "documents")
      .select(col("doc_id"), simhash32(col("text")).as("simhash"))
      .select(col("doc_id"), col("simhash"), explode(array(
        (0 until nb).map(b => struct(lit(b).as("b"),
          shiftright(col("simhash"), w * b)
            .bitwiseAND(lit((1L << w) - 1)).as("bk"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"),
        col("x.b").as("b"), col("x.bk").as("bk"))
    (bands, w)
  }

  /** The corpus's un-capped 64-bit band rows
    * `(doc_id, lo, hi, b, bk)` at the corpus-adaptive width — the
    * [[bandRelation]] factoring for the two-half sketch, shared by the
    * q42 pair generator and the q153 health audit. Layered projections
    * (see q25): tokens and the distinct set become named columns before
    * the hash lambdas touch them; the sketch is persisted (it feeds
    * both sides of q42's band self-join; caller releases via Caches).
    */
  private[graft] def band64Relation(s: SparkSession, dir: String)
      : (DataFrame, Int) =
    band64RelationOver(Tables.wide(s, dir, "documents"),
      Tables.rowCount(s, dir, "documents"))

  /** [[band64Relation]] over an EXPLICIT documents relation and count —
    * the corpus entry above passes the raw table; the takedown label
    * rebuild ([[Dedup.rebuildLabelsAfterPurge]]) passes the
    * mask-filtered corpus, so the re-banding (width included — it
    * derives from the REDUCED count) equals one over a corpus that
    * never held the purged documents.
    */
  private[graft] def band64RelationOver(docs: DataFrame, n: Long)
      : (DataFrame, Int) = {
    val w = bandWidth64For(n)
    val sim = sketch64(docs)
      .persist() // released by the consumer's Caches.release hook
    (bandsFromSketches(sim, w), w)
  }

  /** The two-half 64-bit sketch projection (doc_id, lo, hi) of a
    * documents relation — [[band64RelationOver]]'s sketch half,
    * factored so the streaming label maintenance
    * ([[graft.streaming.LabelStream]]) can PERSIST an arrival's sketch
    * in its epoch and band later batches from storage instead of
    * re-reading texts. Null/absent text sketches to null — such a
    * document never bands (the q42 posture) but still labels.
    */
  private[graft] def sketch64(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), array_distinct(col("tk")).as("dtk"))
      .select(col("doc_id"),
        simHash32(transform(col("dtk"), t => portableHash(t))).as("lo"),
        simHash32(transform(col("dtk"), t => portableHash(t, 1))).as("hi"))

  /** The band expansion of a (doc_id, lo, hi) sketch relation at an
    * EXPLICIT width — [[band64RelationOver]]'s second half, factored
    * for consumers that band from stored sketches under a frozen width
    * (the streaming label dual) or at a caller-chosen width (the
    * incremental append's union-derived one).
    */
  private[graft] def bandsFromSketches(sim: DataFrame, w: Int): DataFrame = {
    val nb = 64 / w
    val nbLo = 32 / w
    val mask = (1L << w) - 1
    sim.select(col("doc_id"), col("lo"), col("hi"), explode(array(
      (0 until nb).map { b =>
        val bk =
          if (b < nbLo) shiftright(col("lo"), w * b).bitwiseAND(lit(mask))
          else shiftright(col("hi"), w * (b - nbLo)).bitwiseAND(lit(mask))
        struct(lit(b).as("b"), bk.as("bk"))
      }: _*)).as("x"))
      .select(col("doc_id"), col("lo"), col("hi"),
        col("x.b").as("b"), col("x.bk").as("bk"))
  }

  /** q27's pair generator over an EXPLICIT documents relation and count
    * — ONE definition shared by the corpus entry and the takedown label
    * rebuild ([[Dedup.rebuildLabelsAfterPurge]] passes the mask-filtered
    * corpus, so the re-pairing equals one over a corpus that never held
    * the purged documents — band width, caps, and sketches all derive
    * from the reduced relation).
    *
    * Band width grows with the corpus (adaptiveBits): at ≤6.4k docs the
    * classic 4 bands of 8 bits; past the point where 4·n/2^w occupancy
    * would exceed the cap, wider bands (up to 2 of 16 bits — 65,536
    * buckets, good to ~1.6M docs; beyond that a 32-bit sketch has no
    * more keyspace to give and a 64-bit simhash is the upgrade path).
    * Without this, cap + fixed 1,024-bucket keyspace = every bucket
    * dropped and silent zero pairs at ~100× the bench corpus.
    */
  private[queries] def simhash32PairsOver(docs: DataFrame,
      n: Long): DataFrame = {
    val w = bandWidthFor(n)
    val nb = 32 / w
    val sim = docs
      .select(col("doc_id"), simhash32(col("text")).as("simhash"))
      .persist() // sketch feeds both sides of the band self-join
    val bands = sim.select(col("doc_id"), col("simhash"), explode(array(
      (0 until nb).map(b => struct(lit(b).as("b"),
        shiftright(col("simhash"), w * b).bitwiseAND(lit((1L << w) - 1)).as("bk"))): _*)).as("x"))
      .select(col("doc_id"), col("simhash"), col("x.b").as("b"), col("x.bk").as("bk"))
    // band-frequency cap, same hygiene as q22/q25/q39: a band key held
    // by >MaxBandDocs docs is a quadratic bucket (near-identical
    // clusters WILL pool in one).
    val rare = bands.groupBy("b", "bk")
      .agg(count(lit(1)).as("kc")).filter(col("kc") <= MaxBandDocs)
      .select("b", "bk")
    val capped = bands.join(rare, Seq("b", "bk"), "left_semi")
    // hamming filter BEFORE the distinct: a pair collides in up to 4
    // bands, so filtering first shrinks the dedup shuffle 4× (bit_count
    // on a long is nearly free; hamming is functionally determined by
    // the pair, so distinct-after-filter is the same set).
    capped.alias("a").join(capped.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .distinct()
  }

  /** q42's pair generator over an explicit documents relation and count
    * — the [[simhash32PairsOver]] factoring for the 64-bit two-half
    * sketch (hamming ≤ 8 of 64, the stricter Manku-style threshold).
    */
  private[queries] def simhash64PairsOver(docs: DataFrame,
      n: Long): DataFrame = {
    val (bands, _) = band64RelationOver(docs, n)
    val rare = bands.groupBy("b", "bk")
      .agg(count(lit(1)).as("kc")).filter(col("kc") <= MaxBandDocs)
      .select("b", "bk")
    val capped = bands.join(rare, Seq("b", "bk"), "left_semi")
    capped.alias("a").join(capped.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
          bit_count(col("a.hi").bitwiseXOR(col("b.hi"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 8) // before distinct — see q27
      .distinct()
  }

  /** The band-occupancy health aggregate over a `(b, bk)` band relation
    * — ONE definition of the card (per band: bucket count, max
    * occupancy, buckets/rows past [[MaxBandDocs]], total rows), shared
    * by the batch audit (q116) and the stream-index audit
    * ([[graft.streaming.DocStream.indexBandHealth]]) so the two
    * families cannot drift on what "band health" means. Two
    * map-side-combined aggregates, ≤ bands rows out.
    */
  private[graft] def bandHealthCard(bands: DataFrame, width: Int): DataFrame =
    bands.groupBy("b", "bk").agg(count(lit(1)).as("kc"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_buckets"),
        max("kc").as("max_bucket"),
        sum(when(col("kc") > MaxBandDocs, 1L).otherwise(0L)).as("n_capped"),
        sum(when(col("kc") > MaxBandDocs, col("kc")).otherwise(0L))
          .as("docs_capped"),
        sum("kc").as("n_docs"))
      .select(col("b").cast("long").as("band"),
        lit(width.toLong).as("band_width"), col("n_buckets"),
        col("max_bucket"), col("n_capped"), col("docs_capped"),
        col("n_docs"))

  /** Builds (once per session+dir) the staged IVF-PQ index — q35's cell
    * assignment + q65's code assignment in one narrow pass, staged
    * hash-bucketed on `cell` — and returns the table name. Shared by
    * the single-query (q91) and batched (q122) serving paths.
    */
  /** The IVF-PQ coded rows `(vec_id, cell, code0..codeM-1)` of an
    * arbitrary `(vec_id, embedding)` relation under FROZEN models — ONE
    * definition of "what a vector's index entry is", shared by the
    * batch staging ([[ensureIvfPqIndex]]) and the streaming sidecar
    * ([[graft.streaming.EmbedStream.processAdcBatch]]), so an arrival
    * encoded in a micro-batch is bit-identical to the same vector in a
    * full re-stage. A pure per-row projection (zero shuffle): cell =
    * the frozen-centroid cosine argmax (ties to the lowest cell — the
    * q35 discipline); codes = per-subspace L2 argmin against the frozen
    * codebooks. Codeless rows drop: zero-norm (no direction — the q28
    * guard), non-64-dim, and null-ELEMENT vectors (no complete code
    * word — the q67 guard).
    */
  private[graft] def pqCodes(e0: DataFrame,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val e = e0
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .filter(col("nrm") > 0) // zero-norm guard (see q28)
    val ccosArr = zip_with(
      graft.functions.VectorFunctions.vecDotMany(col("embedding"),
        cents.flatMap(_._2).toArray, cents.length),
      typedLit(cents.map(_._3).toSeq),
      (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn)))
    val dd = graft.functions.VectorFunctions.subspaceSqDists(
      col("embedding"), books.flatten.flatten, PqM, books(0).length, PqSubDim)
    e.select(col("vec_id"), size(col("embedding")).as("dims"),
        ccosArr.as("ccos"), dd.as("dall"))
      .select(Seq(col("vec_id"), col("dims"),
        (array_position(col("ccos"), array_max(col("ccos"))) - 1)
          .cast("long").as("cell")) ++
        (0 until PqM).map(m => element_at(col("dall"), m + 1).as(s"d$m")) ++
        (0 until PqM).map(m =>
          array_min(element_at(col("dall"), m + 1)).as(s"mn$m")): _*)
      // codeless rows aren't in the index: non-64-dim vectors and
      // null-ELEMENT vectors (no complete code word — the q67 guard)
      .filter(col("dims") === 64)
      .filter((0 until PqM).map(m => col(s"mn$m").isNotNull).reduce(_ && _))
      .select(col("vec_id") +: col("cell") +:
        (0 until PqM).map(m =>
          (array_position(col(s"d$m"), col(s"mn$m")) - 1)
            .cast("long").as(s"code$m")): _*)
  }

  /** Per-(application, dir) memo of q173's accumulated-ADC root so
    * repeated serves (Verify + re-runs in one session) fold the arrival
    * batches once — the ensure* discipline for a filesystem artifact.
    */
  private val adcRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** q91's SERVE half over an arbitrary coded relation `(vec_id, cell,
    * code0..codeM-1)` — factored so the staged single-table read (q91),
    * and the staged+accumulated union read (q173 /
    * [[graft.streaming.EmbedStream.adcServable]]) rank through ONE
    * implementation. Everything driver-side is bounded (the
    * centroid/codebook tables and one 1-row query read); the cluster
    * side is a cell-pruned scan of `codes` with O(m) integer lookups
    * per row and a TakeOrdered top-k. `codes` is by-name: the scan is
    * built only when the query survives its guards (a missing or
    * degenerate query serves a defined empty — the q67 semantics).
    */
  private[graft] def adcTopK(s: SparkSession, dir: String,
      codes: => DataFrame,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]]): DataFrame = {
    // one bounded 1-row read: the query vector (a missing/degenerate
    // query empties the probe, never crashes — the q67 semantics)
    val qOpt = Tables(s, dir, "embeddings")
      .filter(col("vec_id") === 0 && size(col("embedding")) === 64 &&
        !exists(col("embedding"), _.isNull))
      .select(col("embedding"))
      .collect().headOption
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    qOpt.filter(qv => dot(qv, qv) > 0) match {
      case None =>
        Tables(s, dir, "embeddings")
          .select(col("vec_id"), lit(null).cast("long").as("cell"),
            lit(null).cast("double").as("adc"))
          .limit(0)
      case Some(qv) =>
        val qn = math.sqrt(dot(qv, qv))
        // probe planning, driver-side against the bounded centroid
        // table — the exact IEEE sequence of the oracle's qc CTE
        // (ORDER BY ccos DESC, cent_id; a NaN affinity sorts first
        // like SQL's NaN-greatest double order)
        val probed: Array[Long] = cents.map { case (k, c, cn) =>
            val cc = dot(qv, c.toArray) / (qn * cn)
            (k.toLong, if (cc.isNaN) Double.PositiveInfinity else cc)
          }.sortBy { case (k, cc) => (-cc, k) }.take(2).map(_._1)
        // the query's m·k distance tables, computed ONCE (the ADC point)
        val tables: Array[Array[Double]] = Array.tabulate(PqM) { m =>
          books(m).map { c =>
            var d = 0.0; var i = 0
            while (i < PqSubDim) {
              val t = qv(m * PqSubDim + i) - c(i); d += t * t; i += 1
            }
            d
          }
        }
        codes
          .filter(col("cell").isin(probed.map(Long.box): _*))
          .select(col("vec_id"), col("cell"),
            (0 until PqM).map(m =>
              element_at(typedLit(tables(m).toSeq),
                (col(s"code$m") + 1).cast("int"))).reduce(_ + _).as("adc"))
          .orderBy(asc("adc"), asc("vec_id"))
          .limit(10)
    }
  }

  /** q122's BATCHED serve half over an arbitrary coded relation — the
    * [[adcTopK]] factoring for the whole-query-batch plan, so the
    * staged-only entry and a staged+accumulated union
    * ([[graft.streaming.EmbedStream.adcServable]]) serve through ONE
    * implementation. `codes` is by-name: the scan is built only when
    * the query sample is non-empty.
    */
  /** The vec-side production query sample's qids — read from the
    * session-staged sample table ([[TextAnalysis.ensureQuerySample]]):
    * the same corpus-adaptive residue-0 modulus every serve previously
    * re-derived per call (an embeddings count + scan each), derived
    * once per session and read as ≤ ~8 rows everywhere.
    */
  private def sampleVecQids(s: SparkSession, dir: String): DataFrame =
    s.table(TextAnalysis.ensureQuerySample(s, dir))
      .filter(col("side") === "vec").select(col("qid"))

  /** The vec-side sample's (qid, vector) driver rows — the bounded read
    * every batched vector serve plans from (q91's guards via
    * [[collectQueryVecs]]), off the staged sample table. Memoized per
    * (session, dir) — the qtextRowsMemo stance (r21): the staged sample
    * is session-immutable and the rows are caller-side QUERY material
    * (≤ ~16 vectors), byte-identical to what every serve re-collected
    * per call; no query result and no index content is memoized, and
    * masks/purges intentionally never affect what a caller queries with.
    */
  private val sampleVecRowsMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String), Array[(Long, Array[Double])]]

  private def sampleVecRows(s: SparkSession, dir: String)
      : Array[(Long, Array[Double])] =
    sampleVecRowsMemo.computeIfAbsent((s.sparkContext.applicationId, dir),
      _ => collectQueryVecs(s.table(TextAnalysis.ensureQuerySample(s, dir))
        .filter(col("side") === "vec")
        .select(col("qid"), col("qvec"))))

  private[graft] def adcServeBatch(s: SparkSession, dir: String,
      codes: => DataFrame,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]]): DataFrame =
    adcServeBatchQ(s, dir, codes, cents, books, sampleVecRows(s, dir))

  /** q149's serve body over an already-built semantic list — factored
    * so a caller can feed ONE q122 DataFrame to several consumers
    * (identical subtrees in one plan → Spark's exchange reuse runs the
    * batched ANN serve once). The eval cards (q167/q176) fuse through
    * [[rrfFuse]] directly so their lexical legs can also share one
    * union-sample serve.
    */
  private def hybridServe(s: SparkSession, dir: String, qids: DataFrame,
      sem: DataFrame): DataFrame =
    rrfFuse(
      TextAnalysis.bm25TopDocs(s, dir, qids)
        .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")),
      sem.select(col("qid"), col("vec_id").as("doc_id"),
        col("rnk").as("sem_rnk")))

  /** The exact-lcm integer RRF fusion + cut of two ranked lists — ONE
    * fusion arithmetic for the corpus-sampled q149 and the
    * external-query [[hybridTopDocsFor]]: score = Σ SCALE/(K + rank)
    * per contributing list (a doc only one modality surfaces still
    * scores), every reciprocal an exact int64.
    */
  private[queries] def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame =
    TextAnalysis.topPerQid(lex.join(sem, Seq("qid", "doc_id"), "full_outer")
        .withColumn("rrf_u",
          coalesce(expr(s"$RrfScale div (${RrfK}L + lex_rnk)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div (${RrfK}L + sem_rnk)"), lit(0L))),
      "rrf_u", RrfTopK, "qid", "rnk", "doc_id", "rrf_u", "lex_rnk", "sem_rnk")

  /** The EXTERNAL-query hybrid serve — q149 for a literal (qid BIGINT,
    * qtext STRING, qvec ARRAY<FLOAT|DOUBLE>) relation: the production
    * RAG read shape, where a request arrives as a query STRING plus its
    * own EMBEDDING (computed by the caller's encoder, not sampled from
    * the corpus). The lexical leg is [[TextAnalysis.bm25TopDocsFor]];
    * the semantic leg is [[adcTopDocsFor]] over the literal vectors
    * (q91's guards — an invalid/zero vector still serves lexically, the
    * query-level single-modality posture);
    * fusion is the shared [[rrfFuse]]. RetrievalSpec pins it equal to
    * q149 when fed the sampled documents' own (text, embedding) pairs.
    */
  def hybridTopDocsFor(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    hybridFor(s, dir, queries, TextAnalysis.bm25TopDocsFor)

  /** The BOUNDED external-query hybrid serve — [[hybridTopDocsFor]]
    * with the lexical leg redirected to the impact-ordered sidecar
    * ([[TextAnalysis.impactTopDocsFor]], q182's K·terms candidate
    * bound): the production read whose EVERY leg is latency-bounded at
    * any corpus (the semantic leg's probe set is already bucket-pruned
    * by construction), where [[hybridTopDocsFor]]'s exact lexical leg
    * tracks the query terms' dfs — the q160 max-df envelope's
    * corpus-scale warning case. Fusion is the shared [[rrfFuse]];
    * RetrievalSpec pins it equal to q185 on the sampled documents' own
    * (text, embedding) pairs and equal to [[hybridTopDocsFor]] under an
    * un-truncated impact build.
    */
  def boundedHybridTopDocsFor(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    hybridFor(s, dir, queries, TextAnalysis.impactTopDocsFor)

  /** The external-query hybrids' one body: the lexical serve `lexServe`
    * over the (qid, qtext) half fused with [[adcTopDocsFor]] over the
    * (qid, qvec) half.
    */
  private def hybridFor(s: SparkSession, dir: String, queries: DataFrame,
      lexServe: (SparkSession, String, DataFrame) => DataFrame): DataFrame =
    rrfFuse(
      lexServe(s, dir, queries.select(col("qid"), col("qtext")))
        .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")),
      adcTopDocsFor(s, dir, queries)
        .select(col("qid"), col("vec_id").as("doc_id"),
          col("rnk").as("sem_rnk")))

  /** The EXTERNAL-query batched ADC serve — q122 for a literal (qid
    * BIGINT, qvec ARRAY<FLOAT|DOUBLE>) relation: per-query probes
    * planned from the caller's vectors under q91's guards
    * ([[collectQueryVecs]] — an invalid, zero or NaN vector serves
    * nothing), candidates from the takedown-masked staged IVF-PQ index,
    * the (qid; adc, vec_id) top-10 cut. The semantic leg of both
    * external-query hybrids; `graft_adc` serves it in SQL.
    */
  def adcTopDocsFor(s: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val cents = kmeansCentroids(s, dir)
    val books = pqCodebooks(s, dir)
    val idxT = ensureIvfPqIndex(s, dir, cents, books)
    adcServeBatchQ(s, dir,
      graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT)),
      cents, books,
      collectQueryVecs(queries.select(col("qid"), col("qvec"))))
  }

  /** The bounded (qid, vector) read every batched vector serve plans
    * from — q91's guards (64-dim, no null element, non-zero norm)
    * applied to ANY (qid, qvec) relation, qid-ordered so the driver's
    * per-query IEEE fold order is deterministic. The relation is
    * request-sized by contract (a query batch, never a corpus).
    */
  private[graft] def collectQueryVecs(q: DataFrame)
      : Array[(Long, Array[Double])] = {
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    q.select(col("qid"), col("qvec").cast("array<double>").as("qvec"))
      .filter(size(col("qvec")) === 64 && !exists(col("qvec"), _.isNull))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .filter { case (_, v) => dot(v, v) > 0 }
      .sortBy(_._1)
  }

  /** [[adcServeBatch]]'s serve half for LITERAL query vectors — the
    * external-query road of the batched ANN serve (and the semantic leg
    * of [[hybridTopDocsFor]]).
    */
  private[graft] def adcServeBatchQ(s: SparkSession, dir: String,
      codes: => DataFrame,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]],
      qrows: Array[(Long, Array[Double])]): DataFrame = {
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      if (qrows.isEmpty) {
        Tables(s, dir, "embeddings")
          .select(col("vec_id").as("qid"), lit(null).cast("long").as("rnk"),
            col("vec_id"), lit(null).cast("double").as("adc"))
          .limit(0)
      } else {
        // per-query probe plan + m·k distance tables — the exact IEEE
        // sequence of q91's driver half, once per sampled query
        val probes: Seq[(Long, Long)] = qrows.toSeq.flatMap { case (qid, qv) =>
          val qn = math.sqrt(dot(qv, qv))
          cents.map { case (k, c, cn) =>
              val cc = dot(qv, c.toArray) / (qn * cn)
              (k.toLong, if (cc.isNaN) Double.PositiveInfinity else cc)
            }.sortBy { case (k, cc) => (-cc, k) }.take(2)
            .map(t => (qid, t._1)).toSeq
        }
        val dmap: Map[Long, Seq[Seq[Double]]] = qrows.map { case (qid, qv) =>
          qid -> (0 until PqM).map { m =>
            books(m).map { c =>
              var d = 0.0; var i = 0
              while (i < PqSubDim) {
                val t = qv(m * PqSubDim + i) - c(i); d += t * t; i += 1
              }
              d
            }.toSeq
          }
        }.toMap
        import s.implicits._
        val probesDf = probes.toDF("qid", "cell")
        val cellsIn = probes.map(_._2).distinct
        val dlit = typedLit(dmap)
        val cand = codes
          .filter(col("cell").isin(cellsIn.map(Long.box): _*))
          .join(broadcast(probesDf), Seq("cell"))
          .select(col("qid"), col("vec_id"),
            (0 until PqM).map(m =>
              element_at(element_at(element_at(dlit, col("qid")), m + 1),
                (col(s"code$m") + 1).cast("int"))).reduce(_ + _).as("adc"))
        val w = Window.partitionBy("qid").orderBy(asc("adc"), asc("vec_id"))
        cand.withColumn("rnk", row_number().over(w).cast("long"))
          .filter(col("rnk") <= 10)
          .select("qid", "rnk", "vec_id", "adc")
      }
  }

  /** Builds (once per session+dir) q68's staged IVF cell table — the
    * (vec_id, embedding, nrm, cell) relation hash-bucketed by cell, the
    * assignment the q35 compute path persists at rest. Factored out of
    * the q68 entry so the physical takedown purge ([[purgeVecs]]) can
    * ensure it exists before rewriting it.
    */
  private[graft] def ensureIvfCellTable(s: SparkSession,
      dir: String): String = {
    val idxT = graft.Staged.name("q68_ivf", dir)
    graft.Staged.ensure(s, idxT) {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
      val ccosArr =
        zip_with(
          graft.functions.VectorFunctions.vecDotMany(col("embedding"),
            cents.flatMap(_._2).toArray, cents.length),
          typedLit(cents.map(_._3).toSeq),
          (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn)))
      val cells = e.select(col("vec_id"), col("embedding"), col("nrm"),
        ccosArr.as("ccos"))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          (array_position(col("ccos"), array_max(col("ccos"))) - 1)
            .cast("long").as("cell"))
      // corpus-adaptive layout from the embeddings count (the
      // ensureIvfPqIndex discipline)
      graft.Bucketing.stage(cells, idxT, "cell", graft.Bucketing
        .bucketCountFor(Tables.rowCount(s, dir, "embeddings")))
    }
    idxT
  }

  /** Builds (once per session+dir) the APPENDED IVF-PQ demo family —
    * the q187 batch-append stance for the VECTOR side, completing the
    * growth story across every staged artifact (labels q184, lexical
    * q187–q189, vectors here; the streaming sidecar q173 is the
    * micro-batch dual): the seven-eighths shard's codes stage, then
    * the residue-3 delta encodes under the SAME frozen centroid/PQ
    * models through the ONE shared [[pqCodes]] definition and APPENDS
    * as hash-placed bucket files — 256 B of float32 per delta vector
    * never touches the historical index, and the appended table equals
    * a fresh full staging row-for-row (codes are deterministic per
    * vector under frozen models — the q173 identity, batch-side).
    * Frozen models retrain on their own cadence (the ensureIvfPqIndex
    * posture); q190's oracle is q122's text verbatim.
    */
  private def ensureAppendedIvf(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]]): String = {
    val Seq(idxT, doneT) = appendedIvfFamily(dir)
    graft.Staged.ensure(s, idxT, doneT) {
      // the family builds over the embeddings MINUS the purged ledger
      // (the dropAppendedLex posture, vector side): a purge DROPS this
      // demo family and the rebuild must not resurrect erased vectors
      val purged = graft.StagedTombstones.purgedVecIds(s, dir).toSeq
      val emb = graft.StagedTombstones.masked(s,
        Tables(s, dir, "embeddings"),
        if (purged.isEmpty) None else Some(purged), "vec_id")
      graft.Bucketing.stage(
        pqCodes(emb.filter(col("vec_id") % 8 =!= 3), cents, books),
        idxT, "cell", graft.Bucketing.bucketCountFor(
          Tables.rowCount(s, dir, "embeddings")))
      val meta = s.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(idxT))
      val nb = meta.bucketSpec.map(_.numBuckets).getOrElse(8)
      pqCodes(emb.filter(col("vec_id") % 8 === 3), cents, books)
        .repartition(nb, col("cell"))
        .select(s.table(idxT).columns.map(col): _*)
        .write.insertInto(idxT)
      val ss = s
      import ss.implicits._
      Seq(1L).toDF("done").write.saveAsTable(doneT)
    }
    idxT
  }

  /** The takedown purge's hook for the appended vector demo (q190) —
    * the [[graft.queries.TextAnalysis.dropAppendedLex]] posture: DROP
    * the session-derived tables; the next ensure rebuilds them over
    * the embeddings minus the purged ledger.
    */
  private[graft] def dropAppendedIvf(s: SparkSession, dir: String): Unit =
    graft.Staged.drop(s, appendedIvfFamily(dir): _*)

  /** The appended vector demo's code table and its `done` marker. */
  private def appendedIvfFamily(dir: String): Seq[String] =
    Seq("ivfapp", "ivfapp_done").map(graft.Staged.name(_, dir))

  /** The vector half of [[graft.StagedTombstones.purge]]: physically
    * rewrite BOTH staged vector-serve tables of (session, dir) — the
    * IVF-PQ code table (q91/q122/q174's substrate) and the q68 IVF cell
    * table — minus the masked ids, preserving each table's bucket
    * layout. A table not yet staged is staged FIRST (from the corpus,
    * which still holds the rows until its own rewrite) and then
    * purged, so a later ensure cannot resurrect the deleted vectors
    * within the session. Vector serves carry no corpus-derived
    * statistics, so the rewrite is membership-only. Returns the
    * rewritten table names for [[graft.StagedTombstones.purge]]'s
    * post-rewrite existence check.
    */
  private[graft] def purgeVecs(s: SparkSession, dir: String,
      ids: Seq[Long]): Seq[String] = {
    val drop = (rel: org.apache.spark.sql.DataFrame) =>
      graft.StagedTombstones.masked(s, rel, Some(ids), "vec_id")
    val pqT = ensureIvfPqIndex(s, dir, kmeansCentroids(s, dir),
      pqCodebooks(s, dir))
    val cellT = ensureIvfCellTable(s, dir)
    graft.Bucketing.rewriteInPlace(s, pqT, drop)
    graft.Bucketing.rewriteInPlace(s, cellT, drop)
    Seq(pqT, cellT)
  }

  private[graft] def ensureIvfPqIndex(s: SparkSession, dir: String,
      cents: Array[(Int, Seq[Double], Double)],
      books: Array[Array[Array[Double]]]): String = {
    val idxT = graft.Staged.name("q91_ivfpq", dir)
    graft.Staged.ensure(s, idxT) {
      val coded = pqCodes(Tables(s, dir, "embeddings"), cents, books)
      // corpus-adaptive layout (the ensureLexIndex discipline), derived
      // from the embeddings row count — a metadata-only parquet count
      // that upper-bounds the coded rows without recomputing the codes
      graft.Bucketing.stage(coded, idxT, "cell", graft.Bucketing
        .bucketCountFor(Tables.rowCount(s, dir, "embeddings")))
    }
    idxT
  }

  /** The shared full-corpus IVF cell assignment — q35's argmax
    * discipline (cosine against the broadcast deterministic k-means
    * centroids, ties to the lowest cell) over every non-zero-norm
    * vector. Returns the PERSISTED (vec_id, cell) relation (consumed
    * more than once by q101's cap + cut and by q117's report; the
    * caller's Caches.release frees it) and the trained cell count.
    */
  /** The shuffle-free per-row IVF cell assignment against a FROZEN
    * centroid table — the narrow map the cell consumers route through,
    * factored over an arbitrary (vec_id, embedding, nrm) relation so
    * the streaming dual ([[graft.streaming.EmbedStream.ivfAssigned]])
    * assigns arriving vectors with the IDENTICAL argmax (ties to the
    * lowest cell — the q35 discipline). Zero-norm rows are the caller's
    * filter (the q28 guard).
    */
  private[graft] def assignCells(e: DataFrame,
      cents: Array[(Int, Seq[Double], Double)]): DataFrame =
    e.select(col("vec_id"),
        zip_with(
          graft.functions.VectorFunctions.vecDotMany(col("embedding"),
            cents.flatMap(_._2).toArray, cents.length),
          typedLit(cents.map(_._3).toSeq),
          (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn))).as("ccos"))
      .select(col("vec_id"),
        (array_position(col("ccos"), array_max(col("ccos"))) - 1)
          .cast("long").as("cell"))

  private def ivfCellAssignments(s: SparkSession, dir: String)
      : (DataFrame, Int) = {
    val e = Tables.wide(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .persist()
      .filter(col("nrm") > 0) // zero-norm guard (see q28)
    val cents = kmeansCentroids(s, dir)
    val cells = assignCells(e, cents).persist()
    (cells, cents.length)
  }

  /** The q75 kNN graph — every vector's top-[[KnnK]] banded neighbors
    * as (vec_id, rnk, nbr, cos) — factored so the label probe (q157)
    * votes over the IDENTICAL graph the standalone query emits. Scores
    * each UNDIRECTED pair once (cos is symmetric), then mirrors the
    * scored row with a MAP-SIDE explode — a union of the scored
    * relation with its swap would re-evaluate the embedding-fetch
    * joins once per branch (union branches share no computation),
    * doubling the expensive stage to produce cheap row copies. The
    * per-vector cut is a PARTITIONED window (never a global sort).
    */
  private def knnEdges(s: SparkSession, dir: String): DataFrame = {
    val (e, cand) = bandedVecCandidates(s, dir)
    val scored = cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
    val directed = scored.select(explode(array(
        struct(col("vec_a"), col("vec_b"), col("cos")),
        struct(col("vec_b").as("vec_a"), col("vec_a").as("vec_b"),
          col("cos")))).as("p"))
      .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
        col("p.cos").as("cos"))
    val w = Window.partitionBy("vec_a").orderBy(desc("cos"), asc("vec_b"))
    directed.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= KnnK)
      .select(col("vec_a").as("vec_id"), col("rnk"),
        col("vec_b").as("nbr"), col("cos"))
  }

  private def bandedVecCandidates(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val k = ndPlanesFor(Tables.rowCount(s, dir, "embeddings"))
    val e = Tables.wide(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"), col("label"),
      sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"),
      famBuckets(k, col("embedding")).as("bks"))
      .persist() // feeds banding + both candidate-pair lookups
      .filter(col("nrm") > 0) // zero-norm guard (see q28)
    val bands = e.select(col("vec_id"), posexplode(col("bks")))
      .select(col("vec_id"), col("pos").cast("long").as("fam"), col("col").as("bk"))
    val rare = bands.groupBy("fam", "bk")
      .agg(count(lit(1)).as("kc")).filter(col("kc") <= MaxVecBucket)
      .select("fam", "bk")
    val capped = bands.join(rare, Seq("fam", "bk"), "left_semi")
    val cand = capped.alias("a").join(capped.alias("b"),
        col("a.fam") === col("b.fam") && col("a.bk") === col("b.bk") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    (e, cand)
  }

  /** The per-doc (source, sg) minhash signature projection feeding q86
    * and its streaming dual — ONE definition of the tokenize → shingle →
    * hash → minhash chain, so batch and stream cannot drift. The caller
    * owns materialization (the q25 persist lesson: consumed lazily more
    * than once, the chain re-runs per consumer).
    */
  private[graft] def sourceDocSigs(docs: DataFrame): DataFrame = {
    val sig = minHash(col("hs"),
      (1 to MinhashFns).map(hashA), (1 to MinhashFns).map(hashB), MersenneP)
    docs
      .select(col("source"), tokens(col("text")).as("tk"))
      .select(col("source"), array_distinct(wordNgrams(col("tk"), 3)).as("g3"))
      .select(col("source"), transform(col("g3"), g => portableHash(g)).as("hs"))
      .select(col("source"), sig.as("sg"))
  }

  /** The per-(source, pos) register table over materialized per-doc
    * signatures: elementwise MIN — the minhash union property, so a
    * source's signature is ONE map-side-combined aggregate whose state
    * is |sources|·[[MinhashFns]] longs at any corpus. Shared with the
    * streaming dual ([[graft.streaming.DocStream.sourceMinhash]]),
    * where the monotone MIN is exactly the bounded no-watermark state.
    */
  private[graft] def sourceSigRegisters(docSigs: DataFrame): DataFrame =
    docSigs
      .filter(col("sg").getItem(0).isNotNull)
      .select(col("source"), posexplode(col("sg")))
      .groupBy(col("source"), col("pos"))
      .agg(min("col").as("mh"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // minhash + LSH banding near-dup candidates with estimated Jaccard
    "q25_minhash_lsh" -> ((s, dir) => {
      // Layered projections, deliberately: an expression referenced inside
      // a higher-order-function lambda is re-evaluated PER ELEMENT (Spark's
      // subexpression elimination skips lambda bodies), so tokens/grams
      // must become named columns before any lambda touches them. The
      // 12-seed signature is ONE native pass over the hash array
      // ([[graft.functions.MinHashAffine]]) instead of 12 transform+min
      // array materializations.
      val sig = minHash(col("hs"),
        (1 to MinhashFns).map(hashA), (1 to MinhashFns).map(hashB), MersenneP)
      // persist: the signature feeds the band self-join AND two signature
      // lookups — without it the sketch is recomputed up to 5×. At cluster
      // scale this is the stage you'd materialize to a staging table.
      // The filter sits ABOVE the persist: pushed below it, its condition
      // would re-derive the whole sketch chain per row instead of reading
      // the cached signature (empty gram set ⇔ array_min = null).
      val docs = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("tk"))
        .select(col("doc_id"), array_distinct(wordNgrams(col("tk"), 3)).as("g3"))
        .select(col("doc_id"), transform(col("g3"), g => portableHash(g)).as("hs"))
        .select(col("doc_id"), sig.as("sg"))
        .persist()
        .filter(col("sg").getItem(0).isNotNull)
      val bands = docs.select(col("doc_id"), explode(array(
        (0 until MinhashFns / BandSize).map(b => struct(
          lit(b).as("b"),
          array_join(transform(slice(col("sg"), b * BandSize + 1, BandSize),
            x => x.cast("string")), ",").as("bk"))): _*)).as("x"))
        .select(col("doc_id"), col("x.b").as("b"), col("x.bk").as("bk"))
      // band-frequency cap: two-phase count on the join key, then a semi
      // join — bounds the worst bucket at MaxBandDocs² pairs instead of n².
      val rareBands = bands.groupBy("b", "bk")
        .agg(count(lit(1)).as("kc")).filter(col("kc") <= MaxBandDocs)
        .select("b", "bk")
      val capped = bands.join(rareBands, Seq("b", "bk"), "left_semi")
      val cand = capped.alias("a").join(capped.alias("b"),
          col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      cand
        .join(docs.select(col("doc_id").as("doc_a"), col("sg").as("sa")), "doc_a")
        .join(docs.select(col("doc_id").as("doc_b"), col("sg").as("sb")), "doc_b")
        .withColumn("matches",
          size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
            x => x)).cast("long"))
        .select(col("doc_a"), col("doc_b"), col("matches"),
          (col("matches").cast("double") / lit(MinhashFns.toDouble)).as("est_jaccard"))
    }),

    // source-level similarity matrix — estimated Jaccard between every
    // pair of SOURCES' 3-gram shingle sets, from per-source minhash
    // signatures: the cross-dataset overlap diagnostic run before mixing
    // corpora (two crawls sharing half their shingles shouldn't both be
    // up-weighted as independent). Uses the minhash union property —
    // MinHash(A ∪ B) = elementwise-min of member signatures — so a
    // source's signature is ONE map-side-combined MIN aggregate over its
    // docs' q25 signatures (state = |sources|·12 longs at any corpus);
    // the pair matrix is |sources|² rows, bounded by the stratum
    // vocabulary like q80. No banding needed: the comparison universe is
    // the source list itself, not the corpus.
    "q86_source_minhash" -> ((s, dir) => {
      // the q25 persist lesson, verbatim: the per-doc signature must be
      // CACHED before anything consumes it — unpersisted, the null
      // filter pushes below the projection and re-derives the whole
      // tokenize→gram→hash→minhash chain per row, and the posexplode
      // re-evaluates its child per emitted element, so the sketch chain
      // ran ~13× (measured 10 s at sf0.1; ~1 s cached). The self-join
      // above duplicates only the cheap 240-row aggregate over this
      // cache, never the chain.
      val docSigs = sourceDocSigs(Tables.wide(s, dir, "documents")).persist()
      val sigs = sourceSigRegisters(docSigs)
      sigs.alias("a").join(sigs.alias("b"),
          col("a.pos") === col("b.pos") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(sum(when(col("a.mh") === col("b.mh"), 1L).otherwise(0L))
          .as("n_match"))
        .select(col("source_a"), col("source_b"), col("n_match"),
          (col("n_match").cast("double") / lit(MinhashFns.toDouble))
            .as("est_jaccard"))
    }),

    // per-document 32-bit simhash
    "q26_simhash" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), simhash32(col("text")).as("simhash"))
    }),

    // simhash near-dup pairs: corpus-adaptive band candidates, hamming <= 8
    "q27_simhash_pairs" -> ((s, dir) =>
      simhash32PairsOver(Tables.wide(s, dir, "documents"),
        Tables.rowCount(s, dir, "documents"))),

    // 64-bit simhash near-dup pairs: the q27 semantics with double the
    // fingerprint — the upgrade path past the 32-bit sketch's band-
    // keyspace ceiling (~1.6M docs). The fingerprint is a (lo, hi) PAIR
    // of independent 32-bit simhashes over differently-seeded token
    // hashes: two bigint columns sidestep every 64-bit sign/overflow
    // portability trap (DuckDB errors on signed overflow where the JVM
    // wraps), each half reuses the native one-pass SimHash32 vote, and
    // hamming is the sum of the halves' bit counts. Bands are 8/16/32
    // bits wide (corpus-adaptive, never straddling the half boundary);
    // hamming <= 8 of 64 is the stricter Manku-style threshold.
    "q42_simhash64_pairs" -> ((s, dir) =>
      simhash64PairsOver(Tables.wide(s, dir, "documents"),
        Tables.rowCount(s, dir, "documents"))),

    // embedding cosine near-dup: brute-force pairs above threshold.
    // Norms are computed once per ROW (and the projection persisted), not
    // per pair — at n vectors that's n sqrt-folds instead of n², and the
    // per-pair work is a single codegen'd 64-term dot.
    "q28_cosine_neardup" -> ((s, dir) => {
      // nrm > 0: a zero-norm vector has no direction AND is an ANSI
      // DIVIDE_BY_ZERO job-killer in the cosine — excluded up front (the
      // filter reads the cached nrm column, above the persist). Same
      // guard in every cosine operator and its oracle.
      val e = Tables.wide(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"), col("label"),
        sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .persist()
        .filter(col("nrm") > 0)
      e.alias("a").join(e.alias("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          col("a.label").as("label_a"), col("b.label").as("label_b"),
          (vecDot(col("a.embedding"), col("b.embedding")) /
            (col("a.nrm") * col("b.nrm"))).as("cos"))
        .filter(col("cos") >= 0.35)
    }),

    // brute-force ANN: top-10 by cosine to the vec_id=0 query vector
    "q29_ann_topk" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qn"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          (vecDot(col("embedding"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // IVF ANN: coarse quantizer (~√n centroid cells via [[ivfCellsFor]],
    // nprobe=2). Centroids come from [[kmeansCentroids]] — deterministic
    // seeded k-means over a modulus sample, computed driver-side
    // (quantizer training is always a sample-then-broadcast step) and
    // baked as literal arrays, so cell assignment is a SHUFFLE-FREE
    // narrow map: one native dot per cell + an argmax when-chain per row.
    // Probing touches only the 2 cells nearest the query; the final
    // top-k is TakeOrdered.
    "q35_ann_ivf" -> ((s, dir) => {
      val e = Tables.wide(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .persist()
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      // the per-cell cosines are ONE native matrix-dot node
      // ([[graft.functions.VecDotMany]]) + a 1-literal norm zip — not c
      // VecDots over 64-literal arrays and an O(c²) argmax chain, whose
      // plan-analysis tax dominated the query once the adaptive cell
      // count reached ~√n (the q39 literal-forest lesson; measured
      // 1.66 s → the fused form at sf0.1's 45 cells). Each dot keeps
      // VecDot's exact fold; ccos_c = dot_c/(nrm·cn_c), identical ops.
      // the when-guard inside the lambda is ANSI armor, not semantics:
      // zero-norm rows are filtered above, but the optimizer is free to
      // evaluate this projection under a fused predicate BEFORE that
      // filter (observed via DegenerateEmbeddingsSpec), and an unguarded
      // divide then kills the job on the first zero-norm vector
      val withCos = e.select(col("vec_id"), col("embedding"), col("nrm"),
        zip_with(
          graft.functions.VectorFunctions.vecDotMany(col("embedding"),
            cents.flatMap(_._2).toArray, cents.length),
          typedLit(cents.map(_._3).toSeq),
          (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn))).as("ccos"))
      // argmax with ties to the lowest cell = first index attaining the
      // max (array_position is 1-based; SQL double equality makes the
      // tie-break identical to the oracle's ORDER BY ccos DESC, cent_id)
      val cells = withCos.select(col("vec_id"), col("embedding"), col("nrm"),
        (array_position(col("ccos"), array_max(col("ccos"))) - 1)
          .cast("long").as("cell"))
      val qCells = withCos.filter(col("vec_id") === 0)
        .select(posexplode(col("ccos")))
        .select(col("pos").cast("long").as("cent_id"), col("col").as("ccos"))
        .orderBy(desc("ccos"), asc("cent_id")).limit(2)
        .select(col("cent_id").as("qcell"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("nrm").as("qn"))
      cells.join(broadcast(qCells), col("cell") === col("qcell"), "left_semi")
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("cell"),
          (vecDot(col("embedding"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // The IVF index AT REST — the physical form a 100 TB vector index
    // takes, and the second [[graft.Bucketing]] consumer: the assigned
    // (cell, vector) table is staged hash-bucketed on `cell`, so a probe
    // is a BUCKET-PRUNED scan — the nprobe=2 literal IN on the bucket
    // column reads only the probed cells' buckets before any row is
    // touched (file-count pruning; q35 keeps the compute-side assignment
    // as the build step this staging persists). The probe cells are
    // resolved driver-side first (a 2-row bounded read — query planning
    // in any ANN system), because only a LITERAL predicate on the bucket
    // key prunes at the scan; a join against the cell list would read
    // every bucket. Semantics — and therefore the oracle — are exactly
    // q35's: same centroids, same assignment, same probe arithmetic.
    "q68_ann_ivf_staged" -> ((s, dir) => {
      val idxT = ensureIvfCellTable(s, dir)
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      def ccosArr =
        zip_with(
          graft.functions.VectorFunctions.vecDotMany(col("embedding"),
            cents.flatMap(_._2).toArray, cents.length),
          typedLit(cents.map(_._3).toSeq),
          (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn)))
      // serve-time takedown mask (StagedTombstones contract: the probe
      // equals a re-stage over the corpus minus the deletions; the
      // query row masks too — a deleted vector stops being servable
      // as either candidate OR in-index query). No-takedown sessions
      // pass through untouched (fold on None), keeping the pinned plan.
      val idx = graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT))
      val qRow = idx.filter(col("vec_id") === 0)
      val qCells: Array[Long] = qRow
        .select(posexplode(ccosArr))
        .select(col("pos").cast("long").as("cent_id"), col("col").as("ccos"))
        .orderBy(desc("ccos"), asc("cent_id")).limit(2)
        .collect().map(_.getLong(0))
      val q = qRow.select(col("embedding").as("qv"), col("nrm").as("qn"))
      idx.filter(col("cell").isin(qCells.map(Long.box): _*))
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("cell"),
          (vecDot(col("embedding"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // The COMPOSED production ANN read path: IVF probe (q68's staged,
    // cell-bucketed index) then ADC (q67's query-side distance tables)
    // over ONLY the probed cells' PQ codes — one query, both halves.
    // The staged table holds (vec_id, cell, code0..3): 64 float32s
    // (256 B) per vector become one bucket key + 4 small ints, the form
    // a 100 TB vector index actually ships. At query time everything
    // driver-side is bounded (the centroid/codebook tables and one
    // 1-row query-vector read — query planning in any ANN system);
    // the cluster-side work is a bucket-pruned scan of ≤nprobe cells
    // (file-count pruning on the literal cell IN — PlanQualitySpec pins
    // SelectedBucketsCount) with O(m) integer table lookups per row and
    // a TakeOrdered top-k. No full-corpus scan, no shuffle, no
    // vector arithmetic at read time.
    "q91_ann_ivf_adc" -> ((s, dir) => {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureIvfPqIndex(s, dir, cents, books)
      // takedown mask over the pruned scan (anti-join above the
      // bucket-pruned read; pass-through when no takedown landed)
      adcTopK(s, dir,
        graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT)),
        cents, books)
    }),

    // The accumulated-ADC union serve: the q91 read path when the
    // deployment is BOTH halves at once — a session-staged code table
    // over the historical corpus PLUS a streaming sidecar of arrivals
    // encoded under the SAME frozen models
    // ([[graft.streaming.EmbedStream.processAdcBatch]] — each
    // micro-batch's vectors become (vec_id, cell, code0..3) epochs
    // under the exactly-once marker protocol, read back through
    // `readServable` so a crashed compaction never double-serves).
    // Here the corpus plays both roles, split by vec_id parity: even
    // ids stage, odd ids arrive as two micro-batches — and because
    // [[pqCodes]] is the ONE encoding definition, the union serve must
    // equal q91's full re-stage over the whole corpus EXACTLY, which is
    // what the oracle (q91's own text, verbatim) checks. Plan: the
    // union is two cell-pruned scans (the staged side bucket-prunes,
    // the accumulated side partition-prunes on cell=) under one
    // TakeOrdered — arrivals never trigger a re-stage.
    "q173_adc_union_serve" -> ((s, dir) => {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val stagedT = graft.Staged.name("q173_staged", dir)
      graft.Staged.ensure(s, stagedT)(
        graft.Bucketing.stage(
          pqCodes(Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 2 === 0), cents, books),
          stagedT, "cell", graft.Bucketing
            .bucketCountFor(Tables.rowCount(s, dir, "embeddings"))))
      val root = adcRoots.computeIfAbsent(
        (s.sparkContext.applicationId, dir), _ => {
          // warehouse-rooted, not driver-local: executors on a real
          // cluster must read the accumulated epochs (the q192/q194
          // demo-root discipline)
          val r = Dedup.warehouseDir(s, graft.Staged.name("q173_root", dir))
          val odd = Tables(s, dir, "embeddings")
            .filter(col("vec_id") % 2 === 1)
          graft.streaming.EmbedStream.processAdcBatch(s,
            odd.filter(col("vec_id") % 4 === 1), 0L, r, cents, books)
          graft.streaming.EmbedStream.processAdcBatch(s,
            odd.filter(col("vec_id") % 4 === 3), 1L, r, cents, books)
          r
        })
      val accum = graft.streaming.EmbedStream.adcServable(s, root)
        .getOrElse(s.table(stagedT).limit(0))
      adcTopK(s, dir, s.table(stagedT).unionByName(accum), cents, books)
    }),

    // the vector-side takedown read (q172's posture for the ANN
    // family): q91's probe through an EXPLICIT takedown set —
    // membership-only (vector serves carry no corpus-derived
    // statistics, so the mask is a pure broadcast anti-join over the
    // request-sized ids; frozen models untouched — the
    // StagedTombstones erasure posture). The deleted set is the
    // corpus-adaptive residue-1 modulus sample (~8 ids at any scale,
    // the shape a real request arrives in); the query vector (id 0,
    // residue 0) survives, so the probe itself still plans.
    "q174_takedown_adc" -> ((s, dir) => {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureIvfPqIndex(s, dir, cents, books)
      val n = Tables.rowCount(s, dir, "embeddings")
      val tmod = math.max(5L, (n + 7) / 8)
      val delIds = Tables(s, dir, "embeddings")
        .filter(col("vec_id") % tmod === 1).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSeq.sorted
      adcTopK(s, dir,
        graft.StagedTombstones.masked(s, s.table(idxT),
          if (delIds.isEmpty) None else Some(delIds), "vec_id"),
        cents, books)
    }),

    // BATCHED ANN serving — the production read shape q91 demonstrates
    // for one query, for a whole query batch in ONE plan: a q95-style
    // modulus query sample, per-query probe plans and ADC distance
    // tables computed driver-side against the bounded centroid/codebook
    // tables (the q91 discipline, ≤ sample-size rows read), the staged
    // index scanned ONCE pruned to the UNION of probed cells (literal
    // IN → bucket pruning), one broadcast equi-join fanning candidates
    // out per query, the per-(query, code) distance via a sample-sized
    // map literal, and the top-10 cut under a window PARTITIONED BY
    // query — per-key top-k, never a global sort. Throughput scales
    // with queries at one index scan, the reason batch serving exists.
    "q122_ann_serve_batch" -> ((s, dir) => {
      val cents = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureIvfPqIndex(s, dir, cents, books)
      // takedown mask over the pruned scan (see q91)
      adcServeBatch(s, dir,
        graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT)),
        cents, books)
    }),

    // the appended VECTOR index — q187's batch-append stance for the
    // ADC serve substrate: the old shard's codes staged, the delta
    // encoded under the frozen models ([[pqCodes]], the q173 shared
    // definition) and appended as bucket files, then the IDENTICAL
    // batched serve over the appended table. Oracle = q122's text
    // verbatim — an appended code table that serves any differently
    // from a fresh full staging is wrong (codes are deterministic per
    // vector under frozen models)
    "q190_vec_append_serve" -> ((s, dir) => {
      val cents = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureAppendedIvf(s, dir, cents, books)
      adcServeBatch(s, dir,
        graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT)),
        cents, books)
    }),

    // HYBRID retrieval — reciprocal-rank fusion of the two serve paths
    // this engine now has: the lexical BM25 list (q148's shared
    // `bm25TopDocs`, queried with each sampled vector's companion
    // document text) and the semantic ANN list (q122's batched serve),
    // fused per query by RRF: score = Σ_lists SCALE/(K + rank) with
    // K = [[RrfK]] — the standard production composition (a doc only
    // one modality surfaces still scores; one ranked high by BOTH
    // outranks either list's tail). Exactness discipline: SCALE =
    // [[RrfScale]] = lcm(K+1 .. K+top-k), so every reciprocal is an
    // EXACT int64 (zero floor loss — pinned by RetrievalSpec) and the
    // two-term sum is integer, cross-engine hash-exact. Scale shape:
    // both inputs are ≤ sample·top-k rows; the fusion is one
    // (qid, doc_id) full-outer equi-join of two bounded relations plus
    // a qid-partitioned window — the expensive work (ONE postings
    // build, ONE pruned index scan) already happened inside the two
    // audited serve paths this composes.
    "q149_hybrid_rrf" -> ((s, dir) => {
      // ONE query-id sample for both modalities (the session-staged
      // sample table): q122 reads the same rows and additionally drops
      // invalid vectors (len≠64/null/zero-norm) from the SEMANTIC side
      // only — such a query still serves lexically, the
      // single-modality posture at the query level too
      hybridServe(s, dir, sampleVecQids(s, dir),
        queries("q122_ann_serve_batch")(s, dir))
    }),

    // the BOUNDED hybrid serve — q149 with its one unbounded leg closed:
    // the exact BM25 leg's candidate fetch tracks the query terms' dfs
    // (corpus-scale for a high-df term — the q160 envelope's warning),
    // so the production fused read at 100 TB swaps it for the
    // impact-ordered sidecar (q182 — candidates ≤ K·terms rows at any
    // corpus) while the semantic leg (q122) is already bucket-pruned by
    // construction. Same query sample, same exact-lcm RRF, same cut —
    // ONLY the lexical candidate fetch changes, so q186's audit
    // attributes every fused-page drift to the impact truncation alone.
    // Under an un-truncated impact build the fusion is exactly q149
    // (spec-pinned) — the approximation composes, it doesn't re-rank.
    "q185_bounded_hybrid" -> ((s, dir) => {
      val qids = sampleVecQids(s, dir)
      rrfFuse(
        TextAnalysis.impactTopDocs(s, dir, qids)
          .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")),
        queries("q122_ann_serve_batch")(s, dir)
          .select(col("qid"), col("vec_id").as("doc_id"),
            col("rnk").as("sem_rnk")))
    }),

    // the bounded hybrid's recall audit — q183's stance lifted to the
    // FUSED page (the q95 pattern: every approximation ships beside its
    // exact baseline with the drift measured per corpus, not guessed):
    // per query, how much of the exact q149 fused page the bounded q185
    // serve retains. The number an operator reads before routing
    // production traffic to the bounded path — fusion can MASK lexical
    // truncation (a dropped lexical hit often re-enters through the
    // semantic leg), so the fused recall is the deployment-relevant
    // one, not q183's per-leg read. One equi-join + one map-combined
    // fold over two ≤ sample·k pages; integer per-mille; n_exact ≥ 1
    // per emitted group so the ANSI div is safe.
    "q186_bounded_hybrid_recall" -> ((s, dir) => {
      // ONE q122 DataFrame feeds BOTH fusions (the q167/q176/q180
      // shared-leg discipline): the two hybrids differ only in their
      // lexical leg, so building them from the shared semantic list
      // runs the batched ANN serve once inside the audit instead of
      // twice — each fusion is still the registered machinery
      // ([[rrfFuse]] over the registered legs), so the audit audits
      // the real paths
      val qids = sampleVecQids(s, dir)
      val sem = queries("q122_ann_serve_batch")(s, dir)
        .select(col("qid"), col("vec_id").as("doc_id"),
          col("rnk").as("sem_rnk"))
      val exact = rrfFuse(
        TextAnalysis.bm25TopDocs(s, dir, qids)
          .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")), sem)
        .select(col("qid"), col("doc_id"))
      val approx = rrfFuse(
        TextAnalysis.impactTopDocs(s, dir, qids)
          .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")), sem)
        .select(col("qid"), col("doc_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("qid", "doc_id"), "left")
        .groupBy("qid").agg(
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .withColumn("recall_pm", expr("(n_hit * 1000) div n_exact"))
    }),

    // retrieval modality-agreement card — the audit a hybrid deployment
    // reads beside q149: per query, how much the lexical and semantic
    // top-k SETS overlap (integer per-mille Jaccard). Near-1000 means
    // fusion adds nothing (one read path could be turned off);
    // near-zero means the modalities see different corpora and the
    // fused K needs headroom. Same bounded inputs as q149 (two
    // ≤ sample·k lists), ONE (qid, doc_id) full-outer equi-join and a
    // map-combined per-qid fold to ≤ |sample| rows; all-integer, so the
    // card is cross-engine hash-exact. Consistency is spec-pinned
    // against q149 itself: the intersection counted here is exactly
    // q149's both-modality row set (a doc in both lists always
    // outranks every single-modality doc — 2·SCALE/(K+k) > SCALE/(K+1)
    // for k ≤ 10 — so the fused cut never drops one).
    "q152_retrieval_agreement" -> ((s, dir) => {
      val qids = sampleVecQids(s, dir)
      val lex = TextAnalysis.bm25TopDocs(s, dir, qids)
        .select(col("qid"), col("doc_id"), lit(1L).as("in_lex"))
      val sem = queries("q122_ann_serve_batch")(s, dir)
        .select(col("qid"), col("vec_id").as("doc_id"), lit(1L).as("in_sem"))
      lex.join(sem, Seq("qid", "doc_id"), "full_outer")
        .groupBy("qid").agg(
          sum(coalesce(col("in_lex"), lit(0L))).as("n_lex"),
          sum(coalesce(col("in_sem"), lit(0L))).as("n_sem"),
          sum(coalesce(col("in_lex"), lit(0L)) *
            coalesce(col("in_sem"), lit(0L))).as("inter"))
        .withColumn("uni", col("n_lex") + col("n_sem") - col("inter"))
        // a row exists only if ≥ 1 list contributed, so uni ≥ 1 and the
        // ANSI div is safe; non-negative operands, floor ≡ truncate
        .withColumn("jaccard_pm",
          expr("CAST((inter * 1000) div uni AS BIGINT)"))
    }),

    // per-path serve eval card — q163's known-item self-check run over
    // ALL THREE deployed read paths side by side (lexical BM25,
    // semantic batched-ANN, hybrid RRF), each on its own production
    // query sample: the one-screen "which serve path degraded after
    // this index build" answer. The fold is the SHARED
    // [[TextAnalysis.selfCheckFold]] (one eval arithmetic, three
    // serves); each serve is the registered operator itself, so the
    // card audits the real paths, not reimplementations. Cost = the
    // three audited serves + three 1-row folds; the union is 3 rows.
    "q167_serve_eval_card" -> ((s, dir) => {
      def card(path: String, serve: DataFrame, idCol: String) =
        TextAnalysis.selfCheckFold(serve, idCol)
          .select(lit(path).as("path"), col("n_queries"),
            col("n_self_top1"), col("self_top1_pm"))
      // ONE q122 DataFrame feeds both the semantic row and the hybrid
      // fusion — the identical subtrees let exchange reuse run the
      // batched ANN serve once inside the card instead of twice (the
      // hybrid row previously invoked the whole q149 entry, rebuilding
      // the serve it sat next to) — and ONE lexical serve over the
      // UNION of the two query samples feeds both the lexical row and
      // the hybrid leg (BM25 ranks per-qid independently, so the
      // semi-join splits are byte-identical to per-sample serves): one
      // postings fetch instead of two
      val sem = queries("q122_ann_serve_batch")(s, dir)
      val docQids = TextAnalysis.docModQids(s, dir)
      val hybQids = sampleVecQids(s, dir)
      val lexAll = TextAnalysis.bm25TopDocs(s, dir,
        docQids.unionByName(hybQids).distinct())
      val hyb = rrfFuse(
        lexAll.join(broadcast(hybQids), Seq("qid"), "left_semi")
          .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")),
        sem.select(col("qid"), col("vec_id").as("doc_id"),
          col("rnk").as("sem_rnk")))
      card("lexical",
          lexAll.join(broadcast(docQids), Seq("qid"), "left_semi"),
          "doc_id")
        .unionByName(card("semantic", sem, "vec_id"))
        .unionByName(card("hybrid", hyb, "doc_id"))
    }),

    // Rocchio vector feedback serve — q178's semantic twin (the other
    // half of the feedback family): run the audited q122 batched ADC
    // serve, treat each query's top [[RocchioFbK]] hits as relevant,
    // move the query vector toward their centroid (q' = q + mean(fb) —
    // the classic Rocchio step at α = β = 1), and re-probe with the
    // updated vector through the IDENTICAL probe/ADC machinery
    // (adcServeBatchQ — same guards, same distance tables, same cut).
    // Queries whose round 1 found nothing keep q' = q. Determinism
    // across engines: the per-dimension feedback mean folds in vec_id
    // order (the PQ codebook training's proven cross-engine pattern)
    // and every downstream distance is the same sequential IEEE fold
    // q122 already hash-matches with. Bounded reads: feedback ids ≤
    // sample·k, their vectors one id-pushdown fetch; q' math is
    // driver-side over ≤ sample rows (the probe-plan discipline).
    "q179_rocchio_ann" -> ((s, dir) => {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureIvfPqIndex(s, dir, cents, books)
      def codes = graft.StagedTombstones.maskedVecs(s, dir, s.table(idxT))
      val fbMap: Map[Long, Seq[Long]] =
        adcServeBatch(s, dir, codes, cents, books)
          .filter(col("rnk") <= RocchioFbK).select("qid", "vec_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).map { case (q, rs) =>
            q -> rs.map(_._2).toSeq.sorted }
      val fbIds = fbMap.values.flatten.toSeq.distinct
      val fbVecs: Map[Long, Array[Double]] =
        if (fbIds.isEmpty) Map.empty
        else Tables(s, dir, "embeddings")
          .filter(col("vec_id").isin(fbIds.map(Long.box): _*))
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          .collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val qrows = sampleVecRows(s, dir)
      def dot(a: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * a(i); i += 1 }
        acc
      }
      val qrows2 = qrows.map { case (qid, q) =>
        val ids = fbMap.getOrElse(qid, Seq.empty)
        if (ids.isEmpty) (qid, q)
        else {
          val qp = new Array[Double](q.length)
          var d = 0
          while (d < q.length) {
            var acc = 0.0
            ids.foreach(i => acc += fbVecs(i)(d)) // vec_id-asc fold
            qp(d) = q(d) + acc / ids.size
            d += 1
          }
          (qid, qp)
        }
      }.filter { case (_, v) => dot(v) > 0 } // a cancelled q' serves nothing
      adcServeBatchQ(s, dir, codes, cents, books, qrows2)
    }),

    // feedback eval card — q167's per-path pattern for the FEEDBACK
    // family: the one-shot BM25 serve, its PRF expansion (q178), and
    // the Rocchio vector re-probe (q179) folded through the shared
    // known-item self-check side by side. The question it answers is
    // the feedback loop's classic risk: expansion buys recall — does it
    // DRIFT the original intent (self-top1 falling after feedback is
    // query drift, the signal to damp β or the expansion weight)? One
    // fold per path, each serve the registered operator itself.
    "q180_feedback_eval_card" -> ((s, dir) => {
      def card(path: String, serve: DataFrame, idCol: String) =
        TextAnalysis.selfCheckFold(serve, idCol)
          .select(lit(path).as("path"), col("n_queries"),
            col("n_self_top1"), col("self_top1_pm"))
      // the rocchio member's CONSTRUCTION (q179's round-1 ADC serve
      // collect, its feedback-vector fetch, and the re-probe planning)
      // is independent of the bm25/prf member until the final 3-row
      // union, so it builds on a second driver thread while
      // bm25AndPrfPages runs its own bounded collects (r22, guide §2.6
      // — one member's driver actions back-fill the other's stage
      // tails). Its stagings (the IVF-PQ index, and the query sample
      // the bm25 member also stages) go through graft.Staged.ensure,
      // locked per name, and the quantizer and sample memos it
      // fills are computeIfAbsent maps. The member is awaited in a
      // `finally`, so no job of it runs after this entry returns or
      // throws (a bm25 failure propagates once the member has finished).
      val rocchioF = scala.concurrent.Future(
        queries("q179_rocchio_ann")(s, dir))(memberPool)
      // ONE executed q148 statement: the bounded page collects once and
      // feeds BOTH the bm25 row and q178's feedback stage (the q176
      // union-serve fusion, extended across actions — verdict r17 #2)
      val (bm25Page, prfServe) =
        try TextAnalysis.bm25AndPrfPages(s, dir)
        finally scala.concurrent.Await.ready(rocchioF,
          scala.concurrent.duration.Duration.Inf)
      val rocchio = scala.concurrent.Await.result(rocchioF,
        scala.concurrent.duration.Duration.Inf)
      card("bm25", bm25Page, "doc_id")
        .unionByName(card("prf", prfServe, "doc_id"))
        .unionByName(card("rocchio", rocchio, "vec_id"))
    }),

    // takedown-aware serve-eval card — q167's per-path known-item
    // self-check run UNDER AN ACTIVE TAKEDOWN (the q172/q174
    // corpus-adaptive residue-1 requests, doc side and vec side):
    // the one-screen proof that the three read paths degrade
    // CONSISTENTLY after an erasure — no path serves a masked
    // document, a masked query document still queries (the request
    // deletes it from the INDEX, not the caller's hands), and the
    // hybrid fusion still fuses the two masked legs through the
    // shared exact-lcm RRF. Explicit tombs ([[graft.StagedTombstones
    // .resolveDocs]] / a literal vec mask), never the session
    // registry — the correctness dump stays independent of session
    // state (the q172 discipline). Cost = q176's three masked serves
    // + three 1-row folds; ONE masked q122 DataFrame feeds both the
    // semantic row and the hybrid leg (the q167 exchange-reuse
    // shape).
    "q176_takedown_eval_card" -> ((s, dir) => {
      def card(path: String, serve: DataFrame, idCol: String) =
        TextAnalysis.selfCheckFold(serve, idCol)
          .select(lit(path).as("path"), col("n_queries"),
            col("n_self_top1"), col("self_top1_pm"))
      // the residue-1 erasure request, derived in ONE action (r22 —
      // VERDICT item 3): both sides' ids come back from a single tagged
      // union collect instead of two counts + two id collects (the
      // counts ride the session row-count statistic). Deliberately NOT
      // memoized — the entry's documented stance is that the correctness
      // dump stays independent of session state, so the request
      // re-derives per call; it just derives in one job now. Each side's
      // filter still reaches its own parquet scan as a pushed predicate.
      val nd = Tables.rowCount(s, dir, "documents")
      val ne = Tables.rowCount(s, dir, "embeddings")
      val dmod = math.max(5L, (nd + 7) / 8)
      val vmod = math.max(5L, (ne + 7) / 8)
      val delRows = Tables(s, dir, "documents")
        .filter(col("doc_id") % dmod === 1)
        .select(lit("d").as("side"), col("doc_id").as("id"))
        .unionByName(Tables(s, dir, "embeddings")
          .filter(col("vec_id") % vmod === 1)
          .select(lit("v").as("side"), col("vec_id").as("id")))
        .collect()
      val delDocs = delRows.filter(_.getString(0) == "d")
        .map(_.getLong(1)).toSeq.sorted
      val delVecs = delRows.filter(_.getString(0) == "v")
        .map(_.getLong(1)).toSeq.sorted
      val tomb =
        if (delDocs.isEmpty) None
        else Some(graft.StagedTombstones.resolveDocs(s, dir, delDocs))
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val books = pqCodebooks(s, dir)
      val idxT = ensureIvfPqIndex(s, dir, cents, books)
      val sem = adcServeBatch(s, dir,
        graft.StagedTombstones.masked(s, s.table(idxT),
          if (delVecs.isEmpty) None else Some(delVecs), "vec_id"),
        cents, books)
      // ONE masked lexical serve over the UNION of the two query
      // samples (the BM25 ranking is per-qid independent, so the split
      // serves are byte-identical to per-sample serves — the q167
      // exchange-reuse shape, applied to the expensive leg): one
      // postings fetch instead of two
      val docQids = TextAnalysis.docModQids(s, dir)
      val hybQids = sampleVecQids(s, dir)
      val lexAll = TextAnalysis.bm25TopDocs(s, dir,
        docQids.unionByName(hybQids).distinct(), tomb)
      val lex = lexAll.join(broadcast(docQids), Seq("qid"), "left_semi")
      val hyb = rrfFuse(
        lexAll.join(broadcast(hybQids), Seq("qid"), "left_semi")
          .select(col("qid"), col("doc_id"), col("rnk").as("lex_rnk")),
        sem.select(col("qid"), col("vec_id").as("doc_id"),
          col("rnk").as("sem_rnk")))
      card("lexical", lex, "doc_id")
        .unionByName(card("semantic", sem, "vec_id"))
        .unionByName(card("hybrid", hyb, "doc_id"))
    }),

    // ANN index-quality audit — recall@10 of the IVF probe against the
    // exact cosine baseline, per sampled query: the eval a production
    // vector store runs after every index rebuild (a quantizer
    // regression that kept per-query determinism would otherwise ship
    // silently; AnnRecallSpec pins ONE query's recall in tests — this
    // measures the distribution as data, over a corpus-adaptive sample).
    // Plan at 100 TB: the query sample is modulus-bounded (~8 rows,
    // broadcast); the exact side is the sample×corpus scan an eval
    // honestly costs (run rarely, not per query), with its top-10 cut
    // TWO-PHASE — a local rank inside each scan partition keyed
    // (qid, partition) first, so no task ever sorts more than its own
    // slice, then the global rank over ≤10·partitions·|sample|
    // survivors; the IVF side reuses the q35 cell assignment and ranks
    // only the probed cells' members. No corpus-sized single-key sort
    // anywhere.
    "q95_ann_recall_audit" -> ((s, dir) => {
      val cents: Array[(Int, Seq[Double], Double)] = kmeansCentroids(s, dir)
      val n = Tables.rowCount(s, dir, "embeddings")
      val qmod = math.max(5L, (n + 7) / 8) // ≤ ~8 sampled queries
      val e = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
        .persist() // feeds the sample, both scans, and the assignment
      val qs = e.filter(col("vec_id") % qmod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"),
          col("nrm").as("qn"))
      val sc = e.crossJoin(broadcast(qs))
        .select(col("qid"), col("vec_id"),
          (vecDot(col("embedding"), col("qv")) / (col("nrm") * col("qn")))
            .as("cos"))
      val wq = Window.partitionBy("qid").orderBy(desc("cos"), asc("vec_id"))
      // two-phase exact top-10: any global top-10 row is top-10 of its
      // own partition, so the local cut loses nothing and the global
      // window's input is survivor-sized
      val wl = Window.partitionBy("qid", "pid")
        .orderBy(desc("cos"), asc("vec_id"))
      val exact = sc.withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(wl)).filter(col("lrn") <= 10)
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
      val ccosArr = zip_with(
        graft.functions.VectorFunctions.vecDotMany(col("embedding"),
          cents.flatMap(_._2).toArray, cents.length),
        typedLit(cents.map(_._3).toSeq),
        (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn)))
      val cells = e.select(col("vec_id"), ccosArr.as("ccos"))
        .select(col("vec_id"),
          (array_position(col("ccos"), array_max(col("ccos"))) - 1)
            .cast("long").as("cell"))
      val qcells = e.filter(col("vec_id") % qmod === 0)
        .select(col("vec_id").as("qid"), posexplode(ccosArr))
        .withColumn("rn", row_number().over(
          Window.partitionBy("qid").orderBy(desc("col"), asc("pos"))))
        .filter(col("rn") <= 2)
        .select(col("qid"), col("pos").cast("long").as("qcell"))
      val ivf = sc
        .join(cells, Seq("vec_id"))
        .join(qcells, col("cell") === col("qcell") &&
          sc("qid") === qcells("qid"))
        .select(sc("qid").as("qid"), col("vec_id"), col("cos"))
        .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
        .select(col("qid"), col("vec_id"))
      val nh = exact.join(ivf, Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit"))
      exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
        .join(ivf.groupBy("qid").agg(count(lit(1)).as("n_ivf")),
          Seq("qid"), "left")
        .join(nh, Seq("qid"), "left")
        .select(col("qid").as("query_id"), col("n_exact"),
          coalesce(col("n_ivf"), lit(0L)).as("n_ivf"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)).cast("double") /
            col("n_exact").cast("double")).as("recall"))
    }),

    // Embedding-quality audit — label separation over banded candidate
    // pairs: per label, how many candidate pairs are intra- vs
    // inter-label and how many of each clear the cos ≥ 0.35 closeness
    // bar. Healthy embeddings show intra_close/intra_cand ≫
    // inter_close/inter_cand; an embedding regression (collapsed space,
    // shuffled labels) flattens the gap — the audit a pipeline runs
    // before trusting q75/q84's neighbor structure. Counts only:
    // threshold counts are integer-exact and order-independent where a
    // float MEAN could never hash-match (the q80 lesson). Plan: the
    // shared q39/q75/q84 banded candidates (work ∝ true collisions),
    // one exact cosine per pair, a ≤2-row ownership explode, ONE
    // map-side-combined aggregation on the (bounded) label vocabulary.
    "q96_label_separation" -> ((s, dir) => {
      val (e, cand) = bandedVecCandidates(s, dir)
      val pairs = cand
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
          col("label").as("label_a"), col("nrm").as("na")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
          col("label").as("label_b"), col("nrm").as("nb")), "vec_b")
        .filter(col("label_a").isNotNull && col("label_b").isNotNull)
        .select(col("label_a"), col("label_b"),
          (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      // each pair is owned by its endpoint labels: one intra row, or
      // one inter row per distinct endpoint label
      val owned = pairs.select(explode(
          when(col("label_a") === col("label_b"),
            array(struct(col("label_a").as("label"),
              lit(true).as("intra"), col("cos").as("cos"))))
          .otherwise(array(
            struct(col("label_a").as("label"),
              lit(false).as("intra"), col("cos").as("cos")),
            struct(col("label_b").as("label"),
              lit(false).as("intra"), col("cos").as("cos"))))).as("x"))
        .select(col("x.label").as("label"), col("x.intra").as("intra"),
          col("x.cos").as("cos"))
      owned.groupBy("label").agg(
        sum(when(col("intra"), 1L).otherwise(0L)).as("n_intra_cand"),
        sum(when(col("intra") && col("cos") >= 0.35, 1L).otherwise(0L))
          .as("n_intra_close"),
        sum(when(!col("intra"), 1L).otherwise(0L)).as("n_inter_cand"),
        sum(when(!col("intra") && col("cos") >= 0.35, 1L).otherwise(0L))
          .as("n_inter_close"))
    }),

    // Scale-safe cosine near-dup (the q28 semantics in the 100 TB shape):
    // hyperplane-LSH banding generates candidates via a bucket equi-join —
    // work proportional to true bucket collisions, never the n²/2 all-pairs
    // nested loop — then one exact codegen'd cosine per surviving pair.
    // q28 stays as the labeled brute-force baseline; this is the plan
    // you'd run on a real corpus. Candidate buckets are capped like
    // q22/q25. (LSH is approximate: recall ~0.7 at the 0.35 threshold,
    // rising toward 1 for true near-dups — the standard trade.)
    "q39_cosine_neardup_lsh" -> ((s, dir) => {
      val (e, cand) = bandedVecCandidates(s, dir)
      cand
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
          col("label").as("label_a"), col("nrm").as("na")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
          col("label").as("label_b"), col("nrm").as("nb")), "vec_b")
        .select(col("vec_a"), col("vec_b"), col("label_a"), col("label_b"),
          (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
        .filter(col("cos") >= 0.35)
    }),

    // band-health audit — the operational report behind every banded
    // operator (q22/q25/q27/q39/q42/q92 all live on the same cap
    // discipline): per simhash band family, how many buckets exist, how
    // big the worst one is, how many buckets the [[MaxBandDocs]] cap
    // drops, and how much document mass sits inside them (the
    // lost-recall mass — the number an operator owner watches to decide
    // whether the corpus outgrew its band width BEFORE pair counts
    // silently collapse). The q27 band chain verbatim up to the bucket
    // histogram; the report is two map-combined aggregates, ≤ 4 rows.
    "q116_band_health" -> ((s, dir) => {
      val (bands, w) = bandRelation(s, dir)
      bandHealthCard(bands, w)
    }),

    // the 64-bit family's band-health card — q116 for the AT-SCALE
    // sketch: q150/q151 made the 64-bit pair graph the dedup chain a
    // big corpus runs, so ITS bucket occupancy is the one the operator
    // owner actually watches (the 32-bit card q116 audits the family
    // whose keyspace the corpus outgrows first). The SAME
    // [[bandHealthCard]] aggregate over [[band64Relation]]; at any
    // corpus the 64-bit keyspace keeps expected occupancy ≤ 25 through
    // ~10¹¹ docs (bandWidth64For), so a non-zero capped-bucket count
    // here is the true hot-cluster signal, not keyspace exhaustion.
    "q153_band64_health" -> ((s, dir) => {
      val (bands, w) = band64Relation(s, dir)
      bandHealthCard(bands, w)
    }),

    // per-source embedding-centroid similarity matrix — the SEMANTIC
    // member of the source-similarity family (q86 sketches lexical
    // overlap, q89 counts exact near-dup pairs; this reads topical
    // closeness even with zero shared text). Cross-row float sums are
    // order-dependent, so the centroid uses integer fixed-point: each
    // component floors onto a 2^20 grid (a POWER-OF-TWO scale — the
    // float→double product is exact, both engines floor identically),
    // per-(source, dim) sums are exact longs, and the cosine folds
    // dot/norms in decimal(38,0) (HUGEINT on the oracle side) before
    // ONE deterministic double division — the q69 no-float-sums
    // discipline. Cosine is scale-invariant, so the un-divided sums ARE
    // the centroid directions. Plan at 100 TB: corpus rows cross
    // exactly one map-combined (source, dim) aggregate; everything
    // after is |sources|·dims-sized, the matrix ≤ |sources|².
    "q115_source_centroids" -> ((s, dir) => {
      val src = Tables(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("source"))
      matrixFromSums(sourceCentroidSums(
        Tables.wide(s, dir, "embeddings").join(src, Seq("vec_id")))
        .persist()) // feeds norms + both sides of the pair join
    }),

    // semantic cross-split decontamination — the embedding member of the
    // leakage family (q57/q102 are exact-gram, q79 is simhash pairs):
    // flag TRAIN vectors sitting within cosine 0.35 of any val/test
    // vector — eval content a model could have memorized from training
    // data. Pairs are q39's capped banded candidates verbatim (work ∝
    // true collisions, never n²), split assignment is q56's shared hash
    // threshold over vec_id, the per-vector fold is one map-combined agg
    // after the pair mirror, and every train vector re-admits through a
    // left join (clean ⇒ 0 / null / false — q57's verdict-table shape).
    "q110_semantic_decontam" -> ((s, dir) => {
      val pairs = queries("q39_cosine_neardup_lsh")(s, dir)
        .select("vec_a", "vec_b", "cos")
      val sp = Tables(s, dir, "embeddings").select(col("vec_id"),
        Curation.splitCol(Curation.bucketCol(col("vec_id"))).as("split"))
      val both = pairs.select(col("vec_a").as("vec_id"),
          col("vec_b").as("other"), col("cos"))
        .unionByName(pairs.select(col("vec_b").as("vec_id"),
          col("vec_a").as("other"), col("cos")))
      val fl = both
        .join(sp, Seq("vec_id"))
        .join(sp.select(col("vec_id").as("other"),
          col("split").as("o_split")), Seq("other"))
        .filter(col("split") === "train" && col("o_split") =!= "train")
        .groupBy("vec_id")
        .agg(count(lit(1)).as("n_eval_near"), max("cos").as("max_eval_cos"))
      sp.filter(col("split") === "train").select("vec_id")
        .join(fl, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_eval_near"), lit(0L)).as("n_eval_near"),
          col("max_eval_cos"),
          (coalesce(col("n_eval_near"), lit(0L)) > 0).as("contaminated"))
    }),

    // approximate KNN-graph construction — every vector's top-k nearest
    // neighbors (not one query's, as q29/q30/q35 answer): the build step
    // of graph ANN indexes and the input to SemDeDup-style semantic
    // dedup. Candidates are the SAME capped banded equi-join as q39
    // (work ∝ true collisions, never n²), directed both ways so each
    // endpoint ranks its own neighborhood, then a rank-3 cut per vector
    // via a PARTITIONED window (the per-key top-k never becomes a global
    // sort). Approximate by construction: a neighbor outside every
    // shared band is unseen — the same recall contract AnnRecallSpec
    // pins for the banding family.
    "q75_knn_graph" -> ((s, dir) => knnEdges(s, dir)),

    // kNN label probe — the embedding-space health eval a training
    // pipeline runs after (re)embedding a corpus: predict every labeled
    // vector's class by the MAJORITY label of its q75 neighbors
    // (ties to the smaller label — the argmax discipline) and report
    // per-class accuracy in integer per-mille. A collapsing or drifted
    // embedding space scores near-chance here long before a downstream
    // model does — the cheap leave-one-out probe beside q96's
    // separation margin. ONE shared kNN build ([[knnEdges]] — the
    // audited capped-banded chain), labels attach by two vec_id
    // equi-joins, the vote argmax is a vec_id-partitioned window, the
    // card folds to ≤ |labels| rows (value-space bounded). Unlabeled
    // vectors neither vote nor score; vectors with no surviving banded
    // neighbor are outside the probe (the q75 recall contract).
    "q157_knn_label_probe" -> ((s, dir) => {
      val g = knnEdges(s, dir)
      val lbl = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val votes = g.join(
          lbl.select(col("vec_id").as("nbr"), col("label").as("nbr_label")),
          "nbr")
        .filter(col("nbr_label").isNotNull)
        .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("nv"))
      val w = Window.partitionBy("vec_id").orderBy(desc("nv"), asc("nbr_label"))
      val pred = votes.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("nbr_label").as("pred"))
      pred.join(lbl, "vec_id").filter(col("label").isNotNull)
        .groupBy("label").agg(
          count(lit(1)).as("n_voted"),
          sum(when(col("pred") === col("label"), lit(1L)).otherwise(lit(0L)))
            .as("n_correct"))
        .withColumn("acc_pm", expr("n_correct * 1000 div n_voted"))
        .select("label", "n_voted", "n_correct", "acc_pm")
    }),

    // contrastive hard-negative mining — for each anchor vector, the
    // [[HardNegK]] most similar candidates with a DIFFERENT label: the
    // pair-construction step of contrastive/metric training (and the
    // dual of q75, which ranks without the label cut). Highly-similar
    // other-label neighbors are exactly the negatives a random sampler
    // almost never draws. Same scale posture as q75: the SAME capped
    // banded equi-join candidates (work ∝ true collisions, never n²),
    // the label inequality applied BEFORE the mirror (half the scored
    // rows drop pre-explode), map-side pair mirroring, and a rank cut
    // under a PARTITIONED window — no global sort. Null-label vectors
    // mine nothing and serve as nobody's negative (<> is null-rejecting
    // on both engines).
    "q84_hard_negatives" -> ((s, dir) => {
      val (e, cand) = bandedVecCandidates(s, dir)
      val scored = cand
        .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
          col("label").as("la"), col("nrm").as("na")), "vec_a")
        .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
          col("label").as("lb"), col("nrm").as("nb")), "vec_b")
        .filter(col("la") =!= col("lb"))
        .select(col("vec_a"), col("vec_b"),
          (vecDot(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cos"))
      val directed = scored.select(explode(array(
          struct(col("vec_a"), col("vec_b"), col("cos")),
          struct(col("vec_b").as("vec_a"), col("vec_a").as("vec_b"),
            col("cos")))).as("p"))
        .select(col("p.vec_a").as("vec_a"), col("p.vec_b").as("vec_b"),
          col("p.cos").as("cos"))
      val w = Window.partitionBy("vec_a").orderBy(desc("cos"), asc("vec_b"))
      directed.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= HardNegK)
        .select(col("vec_a").as("vec_id"), col("rnk"),
          col("vec_b").as("neg"), col("cos"))
    }),

    // semantic dedup — SemDeDup's shape (Abbas et al. 2023): cluster the
    // corpus (here: the shared deterministic IVF cells — k-means cells
    // ARE the paper's clusters), then within each cluster drop every
    // vector with a SMALLER-id near-duplicate at cosine ≥ [[SemTau]].
    // One-step greedy min-id (each removal points at a kept-or-removed
    // smaller id), not the transitive closure — q43/q44 own that
    // semantics for documents. Scale posture: the pair join's equi-key
    // is the CELL (never a cartesian across cells); per-cell work is
    // quadratic in cell size BY DESIGN — the cluster count is the knob
    // that bounds it (SemDeDup runs 50k clusters at web scale;
    // [[ivfCellsFor]] grows ~√n), and the removal anti-join is the only
    // other shuffle.
    "q76_semantic_dedup" -> ((s, dir) => {
      val e = Tables.wide(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .persist()
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
      val cents = kmeansCentroids(s, dir)
      val withCos = e.select(col("vec_id"), col("embedding"), col("nrm"),
        zip_with(
          graft.functions.VectorFunctions.vecDotMany(col("embedding"),
            cents.flatMap(_._2).toArray, cents.length),
          typedLit(cents.map(_._3).toSeq),
          (d, cn) => when(col("nrm") > 0, d / (col("nrm") * cn))).as("ccos"))
      // argmax with ties to the lowest cell — the q35 discipline
      val cells = withCos.select(col("vec_id"), col("embedding"), col("nrm"),
        (array_position(col("ccos"), array_max(col("ccos"))) - 1)
          .cast("long").as("cell"))
        .persist() // feeds both sides of the in-cell pair join + the output
      val removed = cells.alias("a").join(cells.alias("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .filter(vecDot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")) >= SemTau)
        .select(col("b.vec_id").as("vec_id")).distinct()
      cells.select("vec_id", "cell")
        .join(removed, Seq("vec_id"), "left_anti")
    }),

    // cluster-balanced sampling — the domain-balancing step a curation
    // pipeline runs AFTER clustering (cf. the cluster-skew pruning in
    // SemDeDup-adjacent recipes): assign every vector to its IVF cell
    // (the shared deterministic quantizer — cells ARE the domains),
    // cap every cell at the CEIL-MEAN cell size, and admit by
    // deterministic hash-rank within the cell — over-represented
    // domains downsample to the mean, small domains survive whole, and
    // the admitted set is reproducible bit-for-bit (the q59/q81 seeded
    // hash-order discipline; no RNG). Plan at 100 TB: assignment is the
    // q35 shuffle-free narrow map against broadcast centroids; the cap
    // folds out of ONE map-combined aggregate (a 1-row broadcast); the
    // rank cut is a window PARTITIONED BY cell (~√n groups of bounded
    // size — never a global sort, the q84 discipline).
    "q101_cluster_balanced" -> ((s, dir) => {
      val (cells, _) = ivfCellAssignments(s, dir)
      val cap = cells.agg(count(lit(1)).as("cnt"),
          countDistinct("cell").as("nc"))
        .select(expr("(cnt + nc - 1) div nc").as("cap")) // 1 row, lazy
      val w = Window.partitionBy("cell")
        .orderBy(portableHash60(col("vec_id").cast("string"), 11),
          col("vec_id"))
      cells.withColumn("rnk", row_number().over(w).cast("long"))
        .crossJoin(broadcast(cap))
        .filter(col("rnk") <= col("cap"))
        .select("vec_id", "cell", "rnk")
    }),

    // IVF cell-health audit — q116's counterpart for the quantized index
    // family (q35/q68/q76/q91/q101 all route through the same cells):
    // per assigned cell, the member count and corpus share, beside the
    // TRAINED cell count (rows missing vs n_cells = lost/empty cells —
    // dead centroids; a cell holding a large share = the probe-cost
    // skew an IVF owner re-trains over). The full-corpus assignment is
    // the shared shuffle-free narrow map against broadcast centroids;
    // the report is ONE map-combined aggregate, ≤ n_cells rows.
    "q117_ivf_health" -> ((s, dir) => {
      val (cells, nCells) = ivfCellAssignments(s, dir)
      val tot = cells.agg(count(lit(1)).as("tot")) // 1 row, lazy
      cells.groupBy("cell").agg(count(lit(1)).as("n_members"))
        .crossJoin(broadcast(tot))
        .select(col("cell"), col("n_members"),
          lit(nCells.toLong).as("n_cells"),
          (col("n_members").cast("double") / col("tot").cast("double"))
            .as("share"))
    }),

    // coverage reconciliation — the referential-integrity card between
    // the corpus and its embedding table, and the FULL OUTER join shape
    // in one: matched pairs, documents without vectors (a failed embed
    // partition — those docs silently vanish from every ANN/semantic
    // operator), and orphaned vectors (a write without a doc — stale
    // index mass). The check an embedding-pipeline owner runs after
    // every embed job; one outer equi-join + ONE map-combined fold to a
    // single row. The healthy corpus reads (n, 0, 0) — which is exactly
    // the invariant worth confirming.
    "q143_embedding_coverage" -> ((s, dir) => {
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(Tables(s, dir, "embeddings").select(col("vec_id")),
          col("doc_id") === col("vec_id"), "full_outer")
        .agg(
          sum(when(col("doc_id").isNotNull && col("vec_id").isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when(col("vec_id").isNull, 1L).otherwise(0L)).as("n_doc_only"),
          sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("n_vec_only"))
    }),

    // embedding-health audit — the third member of the index-operations
    // family (q116 reads band health, q117 IVF cell health; this reads
    // the VECTORS themselves, per source): null vectors, null-element
    // vectors (the PQ-poison class the r10 fix guards), zero-norm
    // vectors (outside every cosine operator by the q28 guard), and the
    // squared-norm quartile envelope — an embedding batch whose norms
    // drift is the first sign of a broken producer, caught BEFORE it
    // skews IVF training. Determinism: norms on the q115 fixed-point
    // grid (floor(x·2^20), per-row integer q² fold — exact cross-engine,
    // ≤ 2^44 at 64 dims so the long never wraps); quantiles on a
    // BOUNDED cell grid (sq div 2^32 — ≤ dims·256 cells at ANY corpus,
    // so the per-source histogram window sorts a constant-bounded row
    // set, the q58 grid philosophy; q47's exact-value histogram would
    // be corpus-sized here because float norms are almost all distinct).
    // ONE map-combined count agg + ONE bounded-histogram window pass
    // over the persisted health projection.
    "q128_embedding_health" -> ((s, dir) => {
      val src = Tables(s, dir, "documents")
        .select(col("doc_id").as("vec_id"), col("source"))
      val qarr = transform(col("embedding"),
        x => floor(x.cast("double") * lit(1048576)).cast("long"))
      val hasNullElem = exists(col("embedding"), x => x.isNull)
      val base = Tables.wide(s, dir, "embeddings")
        .join(src, Seq("vec_id"))
        .select(col("source"),
          col("embedding").isNull.as("nv"),
          when(col("embedding").isNull, lit(false)).otherwise(hasNullElem)
            .as("ne"),
          when(col("embedding").isNotNull && !hasNullElem,
            aggregate(qarr, lit(0L), (acc, q) => acc + q * q)).as("sq"))
        .persist() // counts + quantile histogram read it twice
      val counts = base.groupBy("source").agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("nv"), 1L).otherwise(0L)).as("n_null_vec"),
        sum(when(col("ne"), 1L).otherwise(0L)).as("n_null_elem"),
        sum(when(col("sq") === 0L, 1L).otherwise(0L)).as("n_zero_norm"))
      val hist = base.filter(col("sq").isNotNull)
        .groupBy(col("source"), expr(s"sq div ${SqCell}L").as("cell"))
        .agg(count(lit(1)).as("cnt"))
      val cumW = Window.partitionBy("source").orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val quart = hist.withColumn("cum", sum("cnt").over(cumW))
        .withColumn("n", sum("cnt").over(Window.partitionBy("source")))
        .groupBy("source").agg(
          (min(when(col("cum") >= expr("(n + 3) div 4"), col("cell")))
            * SqCell).as("q1_sq"),
          (min(when(col("cum") >= expr("(n + 1) div 2"), col("cell")))
            * SqCell).as("median_sq"),
          (min(when(col("cum") >= expr("(n * 3 + 3) div 4"), col("cell")))
            * SqCell).as("q3_sq"))
      counts.join(quart, Seq("source"), "left")
    }),

    // LSH ANN: 6 hyperplane sign bits -> bucket; rank within query's bucket
    "q30_ann_lsh" -> ((s, dir) => {
      val e = Tables.wide(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          lshBucket(col("embedding"), 6).as("bucket"),
          sqrt(vecDot(col("embedding"), col("embedding"))).as("nrm"))
        .filter(col("nrm") > 0) // zero-norm guard (see q28)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("qv"), col("bucket").as("qbucket"),
          col("nrm").as("qn"))
      e.join(broadcast(q), col("bucket") === col("qbucket"))
        .select(col("vec_id"), col("bucket"),
          (vecDot(col("embedding"), col("qv")) / (col("nrm") * col("qn"))).as("cos"))
        .orderBy(desc("cos"), asc("vec_id"))
        .limit(10)
    }),

    // int8 scalar quantization — the storage form of a production vector
    // index (4× memory vs float32; the standard first compression step
    // before IVF/PQ). Per vector: scale = max|x|/127, q_i = round-half-up
    // of x_i/scale, so q ∈ [-127, 127] by construction. Zero-shuffle,
    // per-row, and cross-engine exact: float→double converts are exact,
    // max is rounding-free, and the divide and floor are single
    // correctly-rounded IEEE ops both engines perform identically. The
    // scale is a NAMED projection before the quantize lambda references
    // it — inlined, the lambda would recompute the array max once per
    // element (the PERF.md layering lesson). Output carries the per-
    // vector scale plus integer aggregates of the quantized array
    // (sum/min/max — the hashable fingerprint of the full int8 payload).
    "q63_quantize_int8" -> ((s, dir) => {
      val rawScale =
        array_max(transform(col("embedding"), x => abs(x.cast("double")))) / 127.0
      val base = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          // a NaN element (failed feature extraction — the degenerate
          // case every cosine operator guards) makes the max NaN; under
          // Spark's NaN ordering `NaN > 0` is TRUE, so unguarded it
          // would flow into the divide and floor(NaN) — null the scale
          // instead, which routes the vector to the zero-code path.
          // An Inf element is the same trap one step later: scale=Inf
          // passes the NaN check but Inf/Inf=NaN reaches floor — Spark
          // would emit zero codes while the DuckDB mirror hard-fails
          // CAST(floor(nan) AS BIGINT). Null any non-finite scale
          // (scale ≥ 0 by construction, so +Inf is the only infinity).
          when(!isnan(rawScale) && rawScale < lit(Double.PositiveInfinity),
            rawScale).as("scale"))
      val quantized = base.select(col("vec_id"), col("scale"),
        when(col("scale") > 0,
          transform(col("embedding"),
            x => floor(x.cast("double") / col("scale") + lit(0.5))))
          // an all-zero vector has no direction and scale 0: its int8
          // form is all zeros, not a divide-by-zero (ANSI job-killer)
          .otherwise(transform(col("embedding"), _ => lit(0L))).as("q"))
      quantized.select(col("vec_id"), col("scale"),
        // guarded sum: DuckDB's list_aggregate of an EMPTY list is NULL
        // while an unconditional fold's init would be 0 — emit null for
        // empty/null code arrays so the engines agree
        when(size(col("q")) > 0,
          aggregate(col("q"), lit(0L), (a, b) => a + b)).as("q_sum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
    }),

    // product quantization — the compression step AFTER int8 (q63) in a
    // production vector index: each vector becomes PqM codebook indices
    // plus its exact squared reconstruction error. Codebooks are trained
    // driver-side on the bounded modulus sample ([[pqCodebooks]] — at
    // 100 TB quantizer training is always sample-then-broadcast) and
    // baked as literals, so assignment is a SHUFFLE-FREE narrow per-row
    // map: for each subspace, 16 squared-distance folds against the
    // codebook via ONE native [[graft.functions.SubspaceSqDists]] pass
    // (codegen'd triple loop — the q35/VecDotMany upgrade path,
    // applied), argmin with ties to the lowest code (array_position of
    // the min — the q35 argmax discipline, inverted). The native folds
    // are exact IEEE mirrors of the oracle's CTEs (squared-difference
    // sums i=1..16, then err = e0+e1+e2+e3 left-assoc; PqNativeSpec
    // pins bitwise parity with the composed lambda form). Non-64-dim
    // vectors (truncated feature extraction) yield null codes on both
    // engines rather than a divergent partial distance; a null ELEMENT
    // nulls its own subspace's code (and err) on both engines — the
    // oracle's guarded fold mirrors SubspaceSqDists' null-poisoning.
    "q65_pq_codes" -> ((s, dir) => {
      val withMin = pqDistances(Tables(s, dir, "embeddings"), pqCodebooks(s, dir))
      withMin.select(
        col("vec_id") +:
        (0 until PqM).map(m =>
          when(col("dims") === 64,
            (array_position(col(s"d$m"), col(s"mn$m")) - 1).cast("long"))
            .as(s"code$m")) :+
        when(col("dims") === 64,
          (0 until PqM).map(m => col(s"mn$m")).reduce(_ + _)).as("err"): _*)
    }),

    // ADC (asymmetric distance computation) ANN top-k over the PQ codes
    // — the production READ path of a PQ index, and why q65's codes
    // exist: at query time the m·k exact query-to-centroid distances are
    // computed ONCE (driver-side — one bounded 1-row query-vector read,
    // the quantizer-training discipline) and baked as literal lookup
    // tables; each corpus vector then costs O(m) table lookups on its
    // CODES, never a 64-dim dot — at 100 TB the scan touches the 16-bit
    // code table (16× less IO than float32 vectors) and stays
    // shuffle-free, with the final top-k a TakeOrdered. Approximate by
    // construction (distance to the reconstruction, not the vector);
    // exact cross-engine: the tables are the same squared-difference
    // folds as training, the lookup is integer indexing, and the ADC
    // sum adds the m entries in subspace order.
    "q67_ann_adc" -> ((s, dir) => {
      val books = pqCodebooks(s, dir)
      val qRow = Tables(s, dir, "embeddings")
        .filter(col("vec_id") === 0 && size(col("embedding")) === 64 &&
          !exists(col("embedding"), _.isNull)) // a null element = no query
        .select(col("embedding"))
        .collect().headOption
      qRow match {
        // a missing/truncated query vector is an empty answer, not a
        // crash — the q29/q35 semantics, where the empty query side
        // empties the probe (no early `return`: a non-local return from
        // a stored lambda throws NonLocalReturnControl at call time)
        case None =>
          Tables(s, dir, "embeddings")
            .select(col("vec_id"), lit(null).cast("double").as("adc"))
            .limit(0)
        case Some(row) =>
          val qv: Array[Double] = row.getSeq[Float](0).map(_.toDouble).toArray
          val tables: Array[Array[Double]] = Array.tabulate(PqM) { m =>
            books(m).map { c =>
              var d = 0.0; var i = 0
              while (i < PqSubDim) {
                val t = qv(m * PqSubDim + i) - c(i); d += t * t; i += 1
              }
              d
            }
          }
          pqDistances(Tables(s, dir, "embeddings"), books)
            .filter(col("dims") === 64) // codeless rows aren't in the index
            // a null-ELEMENT vector has no complete code word either —
            // filter BEFORE the table lookup: element_at with a null
            // index does NOT null-propagate (codegen reads the index
            // slot's 0-default and fabricates a finite value), so the
            // guard must be on the mins, not on a null adc afterwards
            .filter((0 until PqM).map(m => col(s"mn$m").isNotNull).reduce(_ && _))
            .select(col("vec_id"),
              (0 until PqM).map { m =>
                element_at(typedLit(tables(m).toSeq),
                  array_position(col(s"d$m"), col(s"mn$m")).cast("int"))
              }.reduce(_ + _).as("adc"))
            .orderBy(asc("adc"), asc("vec_id"))
            .limit(10)
      }
    }),

    // per-DIMENSION calibrated int8 quantization — the production
    // alternative to q63's per-row scale: one symmetric scale per
    // embedding dimension, calibrated over the whole corpus (what a
    // serving-time quantizer ships, so all vectors share one code space
    // and dot products stay comparable). Two stages, both cheap at
    // 100 TB: calibration is a two-phase max(abs) aggregate whose
    // shuffle carries #partitions × dims rows (map-side combined; dims
    // is the SCHEMA width, not data size), read back as ≤dims driver
    // rows — the same bounded sample-then-broadcast posture as
    // [[pqCodebooks]]; assignment is a SHUFFLE-FREE narrow per-row
    // transform against the baked scale literals. Determinism: scale =
    // absmax/127 (exact IEEE divide), codes floor(x/scale + 0.5); a
    // non-finite per-dim scale (NaN/Inf element seen in calibration) is
    // nulled — that dim's codes go null and null-poison q_sum through
    // the unguarded fold, mirrored by the oracle's all-or-null CASE
    // (q63's finite-guard discipline, applied per-dim).
    "q73_calibrated_int8" -> ((s, dir) => {
      val base = Tables(s, dir, "embeddings")
      val cal = base
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim").agg(max(abs(col("x").cast("double"))).as("absmax"))
        .collect()
        .map(r => r.getInt(0) ->
          (if (r.isNullAt(1)) None else {
            val sc = r.getDouble(1) / 127.0
            if (java.lang.Double.isFinite(sc)) Some(sc) else None
          }))
        .toMap
      if (cal.isEmpty)
        // empty corpus: a defined empty result, not an element_at on an
        // empty literal (rows are zero either way; keep the schema)
        base.select(col("vec_id"), lit(null).cast("bigint").as("q_sum"),
          lit(null).cast("bigint").as("q_min"),
          lit(null).cast("bigint").as("q_max")).limit(0)
      else {
        // posexplode emits every position 0..len-1 (null elements
        // included), so dims 0..maxDim all have a calibration row —
        // the ANSI element_at below cannot go out of range
        val maxDim = cal.keys.max
        val scales = typedLit((0 to maxDim).map(cal(_)))
        val codes = transform(col("embedding"), (x, i) => {
          val sc = element_at(scales, i + lit(1))
          when(sc.isNull, lit(null).cast("bigint"))
            .when(sc > 0, floor(x.cast("double") / sc + lit(0.5)))
            .otherwise(lit(0L))
        })
        base.select(col("vec_id"), codes.as("q"))
          .select(col("vec_id"),
            // unguarded fold: a null code null-poisons the sum (the
            // per-dim analogue of q63's empty-list guard; array_min/max
            // skip nulls on both engines)
            when(size(col("q")) > 0,
              aggregate(col("q"), lit(0L), (a, b) => a + b)).as("q_sum"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max"))
      }
    }))

  // ---- DuckDB mirrors ----------------------------------------------------

  // the shared hex-prefix mirror (TextAnalysis.sqlHashPrefix — one
  // definition, no drift)
  private def sqlHash(s: String): String = TextAnalysis.SqlHash(s)

  /** Sequential-fold dot in double (mirrors dotd). */
  private def sqlDot(a: String, b: String): String =
    s"list_aggregate(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)), 'sum')"

  private def sqlPlaneDot(p: Int, v: String): String =
    (1 to 64).map(i =>
      s"(CAST(${sqlHash(s"'plane${p}_$i'")} AS DOUBLE)/CAST(2147483648 AS DOUBLE) - 1.0)" +
      s"*CAST($v[$i] AS DOUBLE)").mkString(" + ")

  private def sqlBucket(v: String, planes: Int): String =
    (0 until planes).map(p =>
      s"(CASE WHEN ${sqlPlaneDot(p, v)} >= 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE 0 END)")
      .mkString(" + ")

  /** q39's banding CTEs (mirrors [[ndPlanesFor]] + [[famBucket]]): `kp`
    * derives the per-family plane count k from `count(*)` with the same
    * integer search as the Scala side; `pl` generates the shared
    * deterministic plane sequence relationally (the identical
    * sha-256-prefix components [[planeComp]] bakes as literals); `bands`
    * assembles family f's bucket as the sum of sign bits of planes
    * f·k+j, j < k. Relational — not one unrolled expression per plane —
    * so ONE SQL text covers every k the corpus count can derive.
    */
  /** The full q75 kNN chain through `knn` (src, rnk, dst, cos) —
    * factored so the label probe (q157) votes over the IDENTICAL SQL
    * graph (mirrors the Scala-side [[knnEdges]] factoring).
    */
  private def sqlKnnCtes: String =
    s"""e AS (SELECT * FROM (SELECT vec_id, embedding,
       |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
       |  WHERE nrm > 0),
       |$sqlVecBands,
       |rare AS (SELECT fam, bk FROM bands GROUP BY fam, bk HAVING COUNT(*) <= $MaxVecBucket),
       |bc AS (SELECT bands.vec_id, bands.fam, bands.bk FROM bands JOIN rare USING (fam, bk)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bc a JOIN bc b ON a.fam = b.fam AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |d AS (SELECT vec_a AS src, vec_b AS dst FROM cand
       |  UNION ALL SELECT vec_b, vec_a FROM cand),
       |sc AS (SELECT d.src, d.dst,
       |  ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
       |  FROM d JOIN e x ON x.vec_id = d.src JOIN e y ON y.vec_id = d.dst),
       |knn AS (SELECT src, rnk, dst, cos FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
       |     ORDER BY cos DESC, dst) AS rnk FROM sc) t
       |  WHERE rnk <= $KnnK)""".stripMargin

  private def sqlVecBands: String =
    s"""kp AS (SELECT CAST(COALESCE(MIN(j), $NdPlanesMax) AS BIGINT) AS k
       |  FROM range($NdPlanesMin, ${NdPlanesMax + 1}) t(j)
       |  WHERE (CAST(1 AS BIGINT) << j) * $VecTargetOcc >= (SELECT count(*) FROM embeddings)),
       |pl AS (SELECT p, list_transform(range(1, 65), i ->
       |    CAST(${sqlHash("'plane'||p||'_'||i")} AS DOUBLE)
       |      / CAST(2147483648 AS DOUBLE) - 1.0) AS pvec
       |  FROM range(0, ${NdFamilies * NdPlanesMax}) t(p)),
       |bands AS (SELECT e.vec_id, fam.f AS fam,
       |    SUM(CASE WHEN ${sqlDot("e.embedding", "pl.pvec")} >= 0.0
       |        THEN (CAST(1 AS BIGINT) << CAST(jj.j AS INTEGER)) ELSE CAST(0 AS BIGINT) END) AS bk
       |  FROM e, kp, range(0, $NdFamilies) fam(f), range(0, $NdPlanesMax) jj(j), pl
       |  WHERE jj.j < kp.k AND pl.p = fam.f * kp.k + jj.j
       |  GROUP BY e.vec_id, fam.f)""".stripMargin

  /** One Lloyd step as chained CTEs (mirrors one [[kmeansCentroids]]
    * iteration): cosine-argmax assignment with ties to the lowest cell,
    * then per-dimension member sums over `list(v ORDER BY vec_id)` — the
    * same sequential fold order as the Scala side — divided by the count.
    * A cell with no members keeps its previous centroid.
    */
  private def sqlKmeansIter(n: Int): String = {
    val prev = s"c${n - 1}"
    s"""a$n AS (SELECT s.vec_id, s.v, c.k,
       |  ${sqlDot("s.v", "c.cvec")} / (sqrt(${sqlDot("s.v", "s.v")}) * sqrt(${sqlDot("c.cvec", "c.cvec")})) AS ccos
       |  FROM samp s CROSS JOIN $prev c),
       |asg$n AS (SELECT vec_id, v, k FROM (SELECT vec_id, v, k,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, k) AS rn FROM a$n) t WHERE rn = 1),
       |m$n AS (SELECT k, list(v ORDER BY vec_id) AS vs, count(*) AS cnt FROM asg$n GROUP BY k),
       |c$n AS (SELECT p.k, CASE WHEN m.k IS NULL THEN p.cvec
       |  ELSE list_transform(range(1, 65), i -> list_aggregate(list_transform(m.vs, vv -> vv[i]), 'sum') / m.cnt)
       |  END AS cvec FROM $prev p LEFT JOIN m$n m ON m.k = p.k)""".stripMargin
  }

  /** The full quantizer-training CTE chain ending in centroid table `cq`.
    * The sample modulus is derived from `count(*)` (integer ceil-division,
    * mirrors [[sampleModFor]] exactly) so the sample stays ~[[SampleCap]]
    * rows at any corpus.
    */
  private def sqlKmeans: String =
    s"""samp AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id % (SELECT GREATEST(5,
       |      (count(*) + ${SampleCap - 1}) // $SampleCap) FROM embeddings) = 0
       |    AND ${sqlDot("embedding", "embedding")} > 0),
       |ncells AS (SELECT CAST(COALESCE(MIN(j), $SampleCap) AS BIGINT) AS c
       |  FROM range($IvfCellsMin, ${SampleCap + 1}) t(j)
       |  WHERE j*j >= (SELECT count(*) FROM embeddings)),
       |c0 AS (SELECT k, cvec FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k,
       |  v AS cvec FROM samp) t WHERE k < (SELECT c FROM ncells)),
       |${(1 to KmeansIters).map(sqlKmeansIter).mkString(",\n")},
       |cq AS (SELECT k AS cent_id, cvec,
       |  sqrt(${sqlDot("cvec", "cvec")}) AS cnrm FROM c$KmeansIters)""".stripMargin

  /** Sequential squared-L2 fold over a [[PqSubDim]]-dim pair (mirrors the
    * trainer's and assigner's while-loops: i = 1..16, (a_i−c_i)², summed
    * left to right). All-or-null on the vector side: DuckDB's list
    * `'sum'` SKIPS null entries, so an embedding slice containing a null
    * element would get a partial-sum distance here while the Spark side
    * ([[graft.functions.SubspaceSqDists]]) nulls the whole subspace —
    * the guard makes a null element poison the fold on both engines.
    * The centroid side `c` is aggregate-built and never null.
    */
  private def sqlSqDist(a: String, c: String): String =
    s"CASE WHEN len(list_filter($a, x -> x IS NULL)) = 0 THEN " +
      s"list_aggregate(list_transform(range(1, ${PqSubDim + 1}), " +
      s"i -> ($a[i] - $c[i])*($a[i] - $c[i])), 'sum') END"

  /** The (vec_id, m, subv) explosion of `src` into per-subspace
    * double-cast slices — the relational form of [[pqCodebooks]]'s
    * `v.slice(m·16, m·16+16)`.
    */
  private def sqlPqSubs(src: String, extra: String): String =
    s"""(SELECT vec_id, m,
       |  list_transform(range(1, ${PqSubDim + 1}), i -> CAST(embedding[m*$PqSubDim + i] AS DOUBLE)) AS subv
       |  FROM $src, range(0, $PqM) t(m)
       |  WHERE len(embedding) = 64$extra)""".stripMargin

  /** One per-subspace L2 Lloyd step (mirrors one [[pqCodebooks]]
    * iteration — the [[sqlKmeansIter]] pattern with (m, k) codebooks and
    * squared distance instead of cosine): assignment by min d2 with ties
    * to the lowest code, then per-dimension member-mean folds over
    * `list(subv ORDER BY vec_id)`. A code with no members keeps its
    * previous centroid.
    */
  private def sqlPqIter(n: Int): String = {
    val prev = s"pc${n - 1}"
    s"""pa$n AS (SELECT s.vec_id, s.m, s.subv, c.k,
       |  ${sqlSqDist("s.subv", "c.cvec")} AS d2
       |  FROM psamp s JOIN $prev c ON c.m = s.m),
       |pasg$n AS (SELECT vec_id, m, subv, k FROM (SELECT *,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM pa$n) t WHERE rn = 1),
       |pm$n AS (SELECT m, k, list(subv ORDER BY vec_id) AS vs, count(*) AS cnt FROM pasg$n GROUP BY m, k),
       |pc$n AS (SELECT p.m, p.k, CASE WHEN q.k IS NULL THEN p.cvec
       |  ELSE list_transform(range(1, ${PqSubDim + 1}), i -> list_aggregate(list_transform(q.vs, vv -> vv[i]), 'sum') / q.cnt)
       |  END AS cvec FROM $prev p LEFT JOIN pm$n q ON q.m = p.m AND q.k = p.k)""".stripMargin
  }

  /** The IVF probe query (q35 AND q68 — staging is physical, not
    * semantic, so one SQL text serves both and they cannot drift).
    */
  private def SqlIvfProbe: String =
    s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
       |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
       |  WHERE nrm > 0),
       |$sqlKmeans,
       |a AS (SELECT e.vec_id, e.embedding, e.nrm, cq.cent_id,
       |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
       |  FROM e CROSS JOIN cq),
       |cells AS (SELECT vec_id, embedding, nrm, cent_id AS cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
       |qc AS (SELECT cent_id FROM a WHERE vec_id = 0
       |  ORDER BY ccos DESC, cent_id LIMIT 2),
       |q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0)
       |SELECT cells.vec_id, cells.cell,
       |  ${sqlDot("cells.embedding", "q.qv")}/(cells.nrm*q.qn) AS cos
       |FROM cells, q WHERE cells.cell IN (SELECT cent_id FROM qc)
       |ORDER BY cos DESC, cells.vec_id LIMIT 10""".stripMargin

  private val Toks = """regexp_split_to_array(lower(trim(text)), '\s+')"""
  private val SqlG3 =
    s"""list_distinct(CASE WHEN len(tk) < 3 THEN []
       |    ELSE [tk[i]||' '||tk[i+1]||' '||tk[i+2] for i in range(1, len(tk)-2+1)] END)""".stripMargin

  // Outer CAST matters: DuckDB's list 'sum' widens BIGINT -> HUGEINT, and a
  // HUGEINT result column reaches the driver's pandas compare as float64 —
  // numerically equal to Spark's int64 but hash-different (round-1 q26 red).
  private val SqlSimhash =
    """CAST(list_aggregate(list_transform(range(0, 32), b ->
      |  CASE WHEN list_aggregate(list_transform(th, h ->
      |    CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END), 'sum') > 0
      |  THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END), 'sum') AS BIGINT)""".stripMargin

  /** q27's CTE chain (sketch → adaptive band width → capped bands →
    * candidate pairs) and its final pair select, exposed as fragments so
    * [[Dedup]]'s transitive-closure oracles can reuse the identical pair
    * semantics as a `pairs AS (...)` CTE — one SQL text, no drift between
    * the pair operator and the clustering built on it.
    */
  private[queries] val SqlSimhashPairCtes: String =
    s"""t AS (SELECT doc_id,
       |  list_transform(list_distinct($Toks), x -> ${sqlHash("x")}) AS th
       |  FROM documents),
       |s AS (SELECT doc_id, $SqlSimhash AS simhash FROM t),
       |wp AS (SELECT CAST(COALESCE(MIN(j), 16) AS BIGINT) AS w FROM range(8, 17) t(j)
       |  WHERE (CAST(1 AS BIGINT) << j) * 25 >= (SELECT count(*) FROM documents)),
       |bands AS (SELECT doc_id, simhash, b,
       |    (simhash >> CAST(w*b AS INTEGER)) & ((CAST(1 AS BIGINT) << CAST(w AS INTEGER)) - 1) AS bk
       |  FROM s, wp, range(0, 4) t(b) WHERE b < 32 // w),
       |rare AS (SELECT b, bk FROM bands GROUP BY b, bk HAVING COUNT(*) <= $MaxBandDocs),
       |bc AS (SELECT bands.doc_id, bands.simhash, bands.b, bands.bk
       |  FROM bands JOIN rare USING (b, bk)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sim_a, b.simhash AS sim_b
       |  FROM bc a JOIN bc b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  /** The 64-bit (two-half simhash) band CTE chain up to the un-capped
    * `bands` relation — ONE SQL text shared by the q42 pair oracle and
    * the q153 band-health oracle (the 32-bit family's
    * [[SqlSimhashPairCtes]] factoring, one sketch wider).
    */
  private[queries] lazy val Sql64BandCtes: String =
    s"""t AS (SELECT doc_id,
       |  list_transform(list_distinct($Toks), x -> ${sqlHash("x")}) AS h1,
       |  list_transform(list_distinct($Toks), x -> ${sqlHash("x||'#1'")}) AS h2
       |  FROM documents),
       |s AS (SELECT doc_id, ${SqlSimhash.replace("th", "h1")} AS lo,
       |  ${SqlSimhash.replace("th", "h2")} AS hi FROM t),
       |wp AS (SELECT CAST(COALESCE(MIN(j), 32) AS BIGINT) AS w
       |  FROM (VALUES (8),(16),(32)) t(j)
       |  WHERE (CAST(1 AS BIGINT) << j) * 25 >= (SELECT count(*) FROM documents)),
       |bands AS (SELECT doc_id, lo, hi, b,
       |    CASE WHEN b < 32 // w
       |      THEN (lo >> CAST(w*b AS INTEGER)) & ((CAST(1 AS BIGINT) << CAST(w AS INTEGER)) - 1)
       |      ELSE (hi >> CAST(w*(b - 32 // w) AS INTEGER)) & ((CAST(1 AS BIGINT) << CAST(w AS INTEGER)) - 1)
       |    END AS bk
       |  FROM s, wp, range(0, 8) t(b) WHERE b < 64 // w)""".stripMargin

  private[queries] val SqlSimhashPairSelect: String =
    """SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
      |FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 8""".stripMargin

  /** The complete q149 oracle statement — a val so the serve-eval card
    * (q167) embeds the IDENTICAL fused-serve text (the
    * sqlAnnServeBatchSql composition discipline, one level up).
    */
  /** The embedding-modulus query-id sample in oracle SQL — the qid set
    * of q122/q149's hybrid lexical leg.
    */
  private[queries] val sqlEmbModQs: String =
    """SELECT vec_id AS qid FROM embeddings,
      |  (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS qmod FROM embeddings) qm
      |  WHERE vec_id % qmod = 0""".stripMargin

  /** The RRF fusion of an arbitrary lexical-leg and semantic-leg
    * statement — factored so the takedown-masked eval card (q176)
    * fuses the MASKED legs through the identical arithmetic q149 uses.
    */
  private def sqlHybridRrfFrom(lexSql: String, semSql: String): String =
    s"""WITH lex AS (SELECT qid, doc_id, rnk AS lex_rnk FROM
       |  ($lexSql) bl),
       |sem AS (SELECT qid, vec_id AS doc_id, rnk AS sem_rnk FROM
       |  ($semSql) bs),
       |f AS (SELECT COALESCE(lex.qid, sem.qid) AS qid,
       |  COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rnk, sem_rnk
       |  FROM lex FULL JOIN sem
       |    ON lex.qid = sem.qid AND lex.doc_id = sem.doc_id),
       |sc AS (SELECT qid, doc_id, lex_rnk, sem_rnk,
       |  COALESCE($RrfScale // ($RrfK + lex_rnk), 0) +
       |  COALESCE($RrfScale // ($RrfK + sem_rnk), 0) AS rrf_u FROM f)
       |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, rrf_u, lex_rnk,
       |  sem_rnk FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |     ORDER BY rrf_u DESC, doc_id) AS rnk FROM sc) r
       |WHERE rnk <= $RrfTopK""".stripMargin

  /** The complete q149 oracle statement — built from the factored legs
    * so the serve-eval card (q167) embeds the IDENTICAL fused-serve
    * text (the sqlAnnServeBatchSql composition discipline, one level
    * up).
    */
  private lazy val sqlHybridRrfSql: String =
    sqlHybridRrfFrom(TextAnalysis.sqlBm25TopDocs(sqlEmbModQs),
      sqlAnnServeBatchSql)

  /** The complete q185 oracle statement — the IDENTICAL fusion builder
    * over the impact-serve text (q182's chain with the embedding-modulus
    * sample) and the same batched-ANN text, so the bounded hybrid's
    * oracle audits the two REGISTERED legs plus q149's own RRF
    * arithmetic, nothing reimplemented.
    */
  private lazy val sqlBoundedHybridSql: String =
    sqlHybridRrfFrom(TextAnalysis.sqlImpactTopDocs(sqlEmbModQs),
      sqlAnnServeBatchSql)

  /** The complete q122 oracle statement — a val so the hybrid-fusion
    * oracle (q149) embeds the IDENTICAL batched-ANN text as a
    * subquery (the sqlJaccardPairsSql composition discipline).
    * [[sqlAnnServeBatch]] exposes the `__MASK__` hook (the sqlIvfAdc
    * pattern) so the takedown eval card's semantic leg is THIS text
    * minus the deleted members.
    */
  private def sqlAnnServeBatch(maskPred: String): String =
    sqlAnnServeBatchBase.replace("__MASK__", maskPred)

  private lazy val sqlAnnServeBatchSql: String = sqlAnnServeBatch("")

  private lazy val sqlAnnServeBatchBase: String =
    s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |a AS (SELECT e.vec_id, e.nrm, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |qmodc AS (SELECT GREATEST(5, (count(*) + 7) // 8) AS qmod FROM embeddings),
         |qids AS (SELECT vec_id AS qid FROM e, qmodc
         |  WHERE vec_id % qmod = 0 AND len(embedding) = 64
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |qc AS (SELECT qid, cent_id AS cell FROM
         |  (SELECT q.qid, a.cent_id, ROW_NUMBER() OVER (PARTITION BY q.qid
         |     ORDER BY a.ccos DESC, a.cent_id) AS rn
         |   FROM qids q JOIN a ON a.vec_id = q.qid) t WHERE rn <= 2),
         |$sqlPqChain,
         |qsubs AS (SELECT p.vec_id AS qid, p.m, p.subv AS qsv
         |  FROM pall p JOIN qids ON qids.qid = p.vec_id),
         |tbl AS (SELECT q.qid, q.m, c.k, ${sqlSqDist("q.qsv", "c.cvec")} AS td
         |  FROM qsubs q JOIN pc$KmeansIters c ON c.m = q.m),
         |adcj AS (SELECT t.qid, b.vec_id, b.m, t.td
         |  FROM pbest b JOIN tbl t ON t.m = b.m AND t.k = b.k),
         |v AS (SELECT qid, vec_id,
         |  ${(0 until PqM).map(m =>
              s"MAX(CASE WHEN m = $m THEN td END)").mkString(" + ")} AS adc
         |  FROM adcj GROUP BY qid, vec_id),
         |cand AS (SELECT v.qid, v.vec_id, v.adc
         |  FROM v JOIN cells ON cells.vec_id = v.vec_id
         |  JOIN qc ON qc.qid = v.qid AND qc.cell = cells.cell
         |  WHERE v.adc IS NOT NULL__MASK__)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY adc, vec_id) AS rnk FROM cand) t
         |WHERE rnk <= 10""".stripMargin

  /** The composed probe→ADC oracle (q91) — ONE text shared with q173
    * (whose staged/streamed split must serve exactly this full
    * re-stage) and, via `maskPred`, with q174 (whose takedown mask is
    * this text minus the deleted members).
    */
  private def sqlIvfAdc(maskPred: String): String = sqlIvfAdcBase
    .replace("__MASK__", maskPred)

  private lazy val sqlIvfAdcSql: String = sqlIvfAdc("")

  /** The complete q179 oracle statement — a val so the feedback
    * eval card (q180) embeds the IDENTICAL Rocchio text.
    */
  private lazy val sqlRocchioSql: String =
    s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |a AS (SELECT e.vec_id, e.nrm, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |$sqlPqChain,
         |serve1 AS (SELECT qid, vec_id FROM ($sqlAnnServeBatchSql) s0
         |  WHERE rnk <= $RocchioFbK),
         |fbv AS (SELECT s1.qid, e.vec_id,
         |  list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM serve1 s1 JOIN e ON e.vec_id = s1.vec_id),
         |fbl AS (SELECT qid, list(v ORDER BY vec_id) AS vs,
         |  COUNT(*) AS cnt FROM fbv GROUP BY qid),
         |qmodc AS (SELECT GREATEST(5, (count(*) + 7) // 8) AS qmod
         |  FROM embeddings),
         |qids AS (SELECT vec_id AS qid FROM e, qmodc
         |  WHERE vec_id % qmod = 0 AND len(embedding) = 64
         |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
         |qv0 AS (SELECT q.qid,
         |  list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v0
         |  FROM qids q JOIN e ON e.vec_id = q.qid),
         |qp0 AS (SELECT qv0.qid, CASE WHEN f.cnt IS NULL THEN qv0.v0
         |    ELSE list_transform(range(1, 65), i -> qv0.v0[i] +
         |      list_aggregate(list_transform(f.vs, vv -> vv[i]), 'sum')
         |        / f.cnt) END AS v
         |  FROM qv0 LEFT JOIN fbl f USING (qid)),
         |qpn AS (SELECT qid, v, sqrt(${sqlDot("v", "v")}) AS nrm
         |  FROM qp0 WHERE ${sqlDot("v", "v")} > 0
         |    AND NOT isnan(${sqlDot("v", "v")})),
         |roca AS (SELECT qpn.qid, cq.cent_id,
         |  ${sqlDot("qpn.v", "cq.cvec")}/(qpn.nrm*cq.cnrm) AS ccos
         |  FROM qpn CROSS JOIN cq),
         |rocqc AS (SELECT qid, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY ccos DESC, cent_id) AS rn FROM roca) t WHERE rn <= 2),
         |rocsub AS (SELECT qid, m,
         |  list_transform(range(1, ${PqSubDim + 1}),
         |    i -> v[m*$PqSubDim + i]) AS qsv
         |  FROM qpn, range(0, $PqM) t(m)),
         |roctbl AS (SELECT q.qid, q.m, c.k,
         |  ${sqlSqDist("q.qsv", "c.cvec")} AS td
         |  FROM rocsub q JOIN pc$KmeansIters c ON c.m = q.m),
         |rocadcj AS (SELECT t.qid, b.vec_id, b.m, t.td
         |  FROM pbest b JOIN roctbl t ON t.m = b.m AND t.k = b.k),
         |rocv AS (SELECT qid, vec_id,
         |  ${(0 until PqM).map(m =>
              s"MAX(CASE WHEN m = $m THEN td END)").mkString(" + ")} AS adc
         |  FROM rocadcj GROUP BY qid, vec_id),
         |roccand AS (SELECT rocv.qid, rocv.vec_id, rocv.adc
         |  FROM rocv JOIN cells ON cells.vec_id = rocv.vec_id
         |  JOIN rocqc ON rocqc.qid = rocv.qid AND rocqc.cell = cells.cell
         |  WHERE rocv.adc IS NOT NULL)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY adc, vec_id) AS rnk FROM roccand) t
         |WHERE rnk <= 10""".stripMargin

  /** The per-path self-check fold in oracle SQL (q163's arithmetic) —
    * ONE text shared by the q167 card and its takedown twin (q176).
    */
  private def sqlServeFold(path: String, src: String,
      idCol: String): String =
    s"""SELECT '$path' AS path,
       |  CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
       |  CAST(COALESCE(SUM(CASE WHEN rnk = 1 AND $idCol = qid
       |    THEN 1 END), 0) AS BIGINT) AS n_self_top1,
       |  CAST(CASE WHEN COUNT(DISTINCT qid) >= 1
       |    THEN (COALESCE(SUM(CASE WHEN rnk = 1 AND $idCol = qid
       |      THEN 1 END), 0) * 1000) // COUNT(DISTINCT qid) END
       |    AS BIGINT) AS self_top1_pm
       |FROM $src""".stripMargin

  private lazy val sqlIvfAdcBase: String =
    s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
       |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
       |  WHERE nrm > 0),
       |$sqlKmeans,
       |a AS (SELECT e.vec_id, e.nrm, cq.cent_id,
       |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
       |  FROM e CROSS JOIN cq),
       |cells AS (SELECT vec_id, cent_id AS cell FROM
       |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
       |qc AS (SELECT cent_id FROM a WHERE vec_id = 0
       |  ORDER BY ccos DESC, cent_id LIMIT 2),
       |$sqlPqChain,
       |qsub AS (SELECT m, subv AS qsv FROM pall WHERE vec_id = 0),
       |tbl AS (SELECT q.m, c.k, ${sqlSqDist("q.qsv", "c.cvec")} AS td
       |  FROM qsub q JOIN pc$KmeansIters c ON c.m = q.m),
       |adcj AS (SELECT b.vec_id, b.m, t.td
       |  FROM pbest b JOIN tbl t ON t.m = b.m AND t.k = b.k),
       |v AS (SELECT vec_id,
       |  ${(0 until PqM).map(m =>
            s"MAX(CASE WHEN m = $m THEN td END)").mkString(" + ")} AS adc
       |  FROM adcj GROUP BY vec_id)
       |SELECT cells.vec_id, cells.cell, v.adc
       |FROM cells JOIN v ON v.vec_id = cells.vec_id
       |WHERE cells.cell IN (SELECT cent_id FROM qc) AND v.adc IS NOT NULL__MASK__
       |ORDER BY v.adc, cells.vec_id LIMIT 10""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q25_minhash_lsh" ->
      s"""WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, $SqlG3 AS g3 FROM t),
         |hh AS (SELECT doc_id, list_transform(g3, x -> ${sqlHash("x")}) AS hs
         |  FROM g WHERE len(g3) > 0),
         |sig AS (SELECT doc_id, [${(1 to MinhashFns).map(j =>
              s"list_min(list_transform(hs, h -> (${hashA(j)}*h + ${hashB(j)}) % $MersenneP))")
              .mkString(",\n         |   ")}] AS sg
         |  FROM hh),
         |bands AS (SELECT doc_id, b,
         |  array_to_string(sg[(b*$BandSize+1):(b*$BandSize+$BandSize)], ',') AS bk
         |  FROM sig, range(0, ${MinhashFns / BandSize}) t(b)),
         |rare AS (SELECT b, bk FROM bands GROUP BY b, bk HAVING COUNT(*) <= $MaxBandDocs),
         |bc AS (SELECT bands.doc_id, bands.b, bands.bk FROM bands JOIN rare USING (b, bk)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bc a JOIN bc b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id),
         |m AS (SELECT doc_a, doc_b,
         |  len(list_filter(range(1, ${MinhashFns + 1}), i -> x.sg[i] = y.sg[i])) AS matches
         |  FROM cand JOIN sig x ON x.doc_id = doc_a JOIN sig y ON y.doc_id = doc_b)
         |SELECT doc_a, doc_b, matches,
         |  CAST(matches AS DOUBLE)/${MinhashFns}.0 AS est_jaccard FROM m""".stripMargin,

    // per-source signature = elementwise MIN over the q25 per-doc
    // signatures (the minhash union property), then the pairwise match
    // count; SUM(int) CAST back to BIGINT per the convention
    "q86_source_minhash" ->
      s"""WITH t AS (SELECT source, doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT source, doc_id, $SqlG3 AS g3 FROM t),
         |hh AS (SELECT source, doc_id, list_transform(g3, x -> ${sqlHash("x")}) AS hs
         |  FROM g WHERE len(g3) > 0),
         |sig AS (SELECT source, doc_id, [${(1 to MinhashFns).map(j =>
              s"list_min(list_transform(hs, h -> (${hashA(j)}*h + ${hashB(j)}) % $MersenneP))")
              .mkString(",\n         |   ")}] AS sg
         |  FROM hh),
         |sm AS (SELECT source, i.j AS pos, MIN(sg[i.j]) AS mh
         |  FROM sig, range(1, ${MinhashFns + 1}) i(j) GROUP BY source, i.j)
         |SELECT a.source AS source_a, b.source AS source_b,
         |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
         |  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
         |    / ${MinhashFns}.0 AS est_jaccard
         |FROM sm a JOIN sm b ON a.pos = b.pos AND a.source < b.source
         |GROUP BY a.source, b.source""".stripMargin,

    "q26_simhash" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_transform(list_distinct($Toks), x -> ${sqlHash("x")}) AS th
         |  FROM documents)
         |SELECT doc_id, $SqlSimhash AS simhash FROM t""".stripMargin,

    "q27_simhash_pairs" ->
      s"WITH $SqlSimhashPairCtes\n$SqlSimhashPairSelect",

    "q42_simhash64_pairs" ->
      s"""WITH $Sql64BandCtes,
         |rare AS (SELECT b, bk FROM bands GROUP BY b, bk HAVING COUNT(*) <= $MaxBandDocs),
         |bc AS (SELECT bands.doc_id, bands.lo, bands.hi, bands.b, bands.bk
         |  FROM bands JOIN rare USING (b, bk)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.lo AS lo_a, a.hi AS hi_a, b.lo AS lo_b, b.hi AS hi_b
         |  FROM bc a JOIN bc b ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(lo_a, lo_b)) + bit_count(xor(hi_a, hi_b)) <= 8""".stripMargin,

    "q28_cosine_neardup" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  a.label AS label_a, b.label AS label_b,
         |  ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.35""".stripMargin,

    "q29_ann_topk" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |q AS (SELECT embedding AS qv, nrm AS qn FROM e WHERE vec_id = 0)
         |SELECT vec_id, ${sqlDot("embedding", "qv")} / (nrm * qn) AS cos
         |FROM e, q
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q35_ann_ivf" -> SqlIvfProbe,

    // the staged/bucketed layout is an implementation detail of the
    // Spark plan; the semantics are q35's probe verbatim
    "q68_ann_ivf_staged" -> SqlIvfProbe,

    // composed probe→ADC: the q35/q68 cell CTEs pick the probed cells,
    // the q65/q67 PQ chain supplies codes and the query's distance
    // tables, and the final select is ADC restricted to vectors whose
    // cell is probed — one SQL text built from BOTH shared chains, so
    // neither half can drift from its standalone operator
    "q91_ann_ivf_adc" -> sqlIvfAdcSql,

    // the staged/streamed SPLIT is an implementation detail of the
    // engine's read path (one shared pqCodes encoding on both sides);
    // the semantics are q91's full re-stage verbatim — that identity is
    // exactly what the entry exists to check
    "q173_adc_union_serve" -> sqlIvfAdcSql,

    // the takedown-masked probe: q91's text minus the request's
    // members (membership-only — frozen models and probe planning
    // untouched, exactly the engine's anti-join)
    "q174_takedown_adc" -> sqlIvfAdc(
      """
        |  AND cells.vec_id NOT IN (SELECT vec_id FROM embeddings,
        |    (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS tmod FROM embeddings) tm
        |    WHERE vec_id % tmod = 1)""".stripMargin),

    // the q91 chain keyed by qid over the q95 query sample (the
    // factored sqlAnnServeBatchSql — shared with the q149 fusion)
    "q122_ann_serve_batch" -> sqlAnnServeBatchSql,

    // q122's text VERBATIM — the appended code table's exactness
    // contract IS the identity with a fresh full staging (frozen
    // models, deterministic codes; see ensureAppendedIvf)
    "q190_vec_append_serve" -> sqlAnnServeBatchSql,

    // the Rocchio loop: round 1 is the q122 statement embedded VERBATIM
    // (nested-WITH, its own scope), the feedback centroid folds per
    // dimension in vec_id order (the PQ-training list pattern), and the
    // re-probe re-runs the probe/distance-table/candidate chain against
    // the SAME shared quantizer/codebook CTEs
    "q179_rocchio_ann" -> sqlRocchioSql,

    // the three feedback-family serve statements embedded VERBATIM
    // (the q167 composition pattern), one shared fold per path
    "q180_feedback_eval_card" ->
      s"""WITH bserve AS (${TextAnalysis.sqlBm25TopDocs(
            TextAnalysis.sqlDocModQs)}),
         |pserve AS (${TextAnalysis.oracleSql("q178_prf_topk")}),
         |rserve AS ($sqlRocchioSql)
         |${sqlServeFold("bm25", "bserve", "doc_id")}
         |UNION ALL
         |${sqlServeFold("prf", "pserve", "doc_id")}
         |UNION ALL
         |${sqlServeFold("rocchio", "rserve", "vec_id")}""".stripMargin,

    // both serve paths embedded VERBATIM as derived tables (the
    // factored sqlAnnServeBatchSql + TextAnalysis.sqlBm25TopDocs with
    // the embedding-modulus sample), so the fusion oracle audits THE
    // two read paths, not reimplementations; the RRF arithmetic is the
    // exact-lcm integer form
    "q149_hybrid_rrf" -> sqlHybridRrfSql,

    // the identical fusion builder over the impact-serve text and the
    // batched-ANN text — ONLY the lexical leg changes vs q149
    "q185_bounded_hybrid" -> sqlBoundedHybridSql,

    // recall@k of the bounded fused page against the exact one — the
    // q183 fold with both hybrid chains embedded verbatim (nested WITHs)
    "q186_bounded_hybrid_recall" ->
      s"""WITH ex AS ($sqlHybridRrfSql),
         |ap AS ($sqlBoundedHybridSql),
         |j AS (SELECT ex.qid, COUNT(*) AS n_exact,
         |  CAST(COALESCE(SUM(CASE WHEN ap.doc_id IS NOT NULL THEN 1
         |    ELSE 0 END), 0) AS BIGINT) AS n_hit
         |  FROM ex LEFT JOIN ap ON ap.qid = ex.qid AND ap.doc_id = ex.doc_id
         |  GROUP BY ex.qid)
         |SELECT qid, CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CAST((n_hit * 1000) // n_exact AS BIGINT) AS recall_pm
         |FROM j""".stripMargin,

    // all three serve statements embedded VERBATIM (nested-WITH), one
    // q163 fold per path
    "q167_serve_eval_card" ->
      s"""WITH lexserve AS (${TextAnalysis.sqlBm25TopDocs(
            TextAnalysis.sqlDocModQs)}),
         |semserve AS ($sqlAnnServeBatchSql),
         |hybserve AS ($sqlHybridRrfSql)
         |${sqlServeFold("lexical", "lexserve", "doc_id")}
         |UNION ALL
         |${sqlServeFold("semantic", "semserve", "vec_id")}
         |UNION ALL
         |${sqlServeFold("hybrid", "hybserve", "doc_id")}""".stripMargin,

    // q167's card under the takedown: each leg is the corresponding
    // TAKEDOWN oracle text — the lexical legs re-stage over the corpus
    // minus the doc-side request (q172's text, both qid samples), the
    // semantic leg is the batched serve minus the vec-side request
    // (q174's mask in q122's text), and the hybrid fuses the two masked
    // legs through the identical RRF builder — so the card audits the
    // masked read paths, not reimplementations
    "q176_takedown_eval_card" -> {
      val semMasked = sqlAnnServeBatch(
        """
          |  AND v.vec_id NOT IN (SELECT vec_id FROM embeddings,
          |    (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS tmod FROM embeddings) tm
          |    WHERE vec_id % tmod = 1)""".stripMargin)
      s"""WITH lexserve AS (${TextAnalysis.sqlBm25TopDocsTakedown(
            TextAnalysis.sqlDocModQs, TextAnalysis.sqlTakedownIds)}),
         |semserve AS ($semMasked),
         |hybserve AS (${sqlHybridRrfFrom(
            TextAnalysis.sqlBm25TopDocsTakedown(sqlEmbModQs,
              TextAnalysis.sqlTakedownIds), semMasked)})
         |${sqlServeFold("lexical", "lexserve", "doc_id")}
         |UNION ALL
         |${sqlServeFold("semantic", "semserve", "vec_id")}
         |UNION ALL
         |${sqlServeFold("hybrid", "hybserve", "doc_id")}""".stripMargin
    },

    // the same two embedded serve statements as q149, folded to the
    // per-qid set-overlap card
    "q152_retrieval_agreement" ->
      s"""WITH lex AS (SELECT qid, doc_id FROM
         |  (${TextAnalysis.sqlBm25TopDocs(
              """SELECT vec_id AS qid FROM embeddings,
                |  (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS qmod FROM embeddings) qm
                |  WHERE vec_id % qmod = 0""".stripMargin)}) bl),
         |sem AS (SELECT qid, vec_id AS doc_id FROM
         |  ($sqlAnnServeBatchSql) bs),
         |f AS (SELECT COALESCE(l.qid, s.qid) AS qid,
         |  CASE WHEN l.qid IS NOT NULL THEN 1 ELSE 0 END AS in_lex,
         |  CASE WHEN s.qid IS NOT NULL THEN 1 ELSE 0 END AS in_sem
         |  FROM lex l FULL JOIN sem s
         |    ON l.qid = s.qid AND l.doc_id = s.doc_id),
         |g AS (SELECT qid, CAST(SUM(in_lex) AS BIGINT) AS n_lex,
         |  CAST(SUM(in_sem) AS BIGINT) AS n_sem,
         |  CAST(SUM(in_lex * in_sem) AS BIGINT) AS inter
         |  FROM f GROUP BY qid)
         |SELECT qid, n_lex, n_sem, inter,
         |  n_lex + n_sem - inter AS uni,
         |  (inter * 1000) // (n_lex + n_sem - inter) AS jaccard_pm
         |FROM g""".stripMargin,

    // the exact side is ranked over the full (sample × corpus) cos
    // relation, the IVF side over the same relation restricted to the
    // probed cells' members — ONE cos definition (sc) for both, so the
    // two rankings cannot drift; cells/quantizer are the shared
    // sqlKmeans chain
    "q95_ann_recall_audit" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |qmodc AS (SELECT GREATEST(5, (count(*) + 7) // 8) AS qmod FROM embeddings),
         |qs AS (SELECT vec_id AS qid, embedding AS qv, nrm AS qn
         |  FROM e, qmodc WHERE vec_id % qmod = 0),
         |sc AS (SELECT qs.qid, e.vec_id,
         |  ${sqlDot("e.embedding", "qs.qv")}/(e.nrm*qs.qn) AS cos
         |  FROM e CROSS JOIN qs),
         |exact AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
         |  FROM sc) t WHERE rn <= 10),
         |a AS (SELECT e.vec_id, e.nrm, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |qc AS (SELECT qid, cent_id FROM (SELECT qid, cent_id,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ccos DESC, cent_id) AS rn
         |  FROM (SELECT qs.qid, cq.cent_id,
         |    ${sqlDot("qs.qv", "cq.cvec")}/(qs.qn*cq.cnrm) AS ccos
         |    FROM qs CROSS JOIN cq) z) t WHERE rn <= 2),
         |ivf AS (SELECT qid, vec_id FROM (SELECT sc.qid, sc.vec_id,
         |  ROW_NUMBER() OVER (PARTITION BY sc.qid ORDER BY sc.cos DESC, sc.vec_id) AS rn
         |  FROM sc JOIN cells ON cells.vec_id = sc.vec_id
         |  JOIN qc ON qc.qid = sc.qid AND qc.cent_id = cells.cell) t
         |  WHERE rn <= 10),
         |ne AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact FROM exact GROUP BY qid),
         |ni AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_ivf FROM ivf GROUP BY qid),
         |nh AS (SELECT exact.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
         |  FROM exact JOIN ivf USING (qid, vec_id) GROUP BY exact.qid)
         |SELECT ne.qid AS query_id, ne.n_exact,
         |  COALESCE(ni.n_ivf, 0) AS n_ivf, COALESCE(nh.n_hit, 0) AS n_hit,
         |  CAST(COALESCE(nh.n_hit, 0) AS DOUBLE)/CAST(ne.n_exact AS DOUBLE) AS recall
         |FROM ne LEFT JOIN ni ON ni.qid = ne.qid
         |  LEFT JOIN nh ON nh.qid = ne.qid""".stripMargin,

    "q39_cosine_neardup_lsh" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlVecBands,
         |rare AS (SELECT fam, bk FROM bands GROUP BY fam, bk HAVING COUNT(*) <= $MaxVecBucket),
         |bc AS (SELECT bands.vec_id, bands.fam, bands.bk FROM bands JOIN rare USING (fam, bk)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bc a JOIN bc b ON a.fam = b.fam AND a.bk = b.bk AND a.vec_id < b.vec_id)
         |SELECT cand.vec_a, cand.vec_b, x.label AS label_a, y.label AS label_b,
         |  ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |FROM cand JOIN e x ON x.vec_id = cand.vec_a JOIN e y ON y.vec_id = cand.vec_b
         |WHERE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.35""".stripMargin,

    // the q27 band CTEs verbatim (unreferenced tail CTEs stay
    // unevaluated), bucket histogram, per-family report
    "q116_band_health" ->
      s"""WITH $SqlSimhashPairCtes,
         |kch AS (SELECT b, bk, CAST(COUNT(*) AS BIGINT) AS kc
         |  FROM bands GROUP BY b, bk)
         |SELECT b AS band, (SELECT w FROM wp) AS band_width,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(MAX(kc) AS BIGINT) AS max_bucket,
         |  CAST(SUM(CASE WHEN kc > $MaxBandDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
         |  CAST(SUM(CASE WHEN kc > $MaxBandDocs THEN kc ELSE 0 END) AS BIGINT) AS docs_capped,
         |  CAST(SUM(kc) AS BIGINT) AS n_docs
         |FROM kch GROUP BY b""".stripMargin,

    // q116's aggregate tail verbatim over the factored 64-bit band CTEs
    "q153_band64_health" ->
      s"""WITH $Sql64BandCtes,
         |kch AS (SELECT b, bk, CAST(COUNT(*) AS BIGINT) AS kc
         |  FROM bands GROUP BY b, bk)
         |SELECT b AS band, (SELECT w FROM wp) AS band_width,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(MAX(kc) AS BIGINT) AS max_bucket,
         |  CAST(SUM(CASE WHEN kc > $MaxBandDocs THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
         |  CAST(SUM(CASE WHEN kc > $MaxBandDocs THEN kc ELSE 0 END) AS BIGINT) AS docs_capped,
         |  CAST(SUM(kc) AS BIGINT) AS n_docs
         |FROM kch GROUP BY b""".stripMargin,

    // fixed-point centroid sums (power-of-two scale, exact on both
    // engines), HUGEINT dot/norm folds, one double division at the end
    "q115_source_centroids" ->
      s"""WITH src AS (SELECT d.source, e.embedding
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         |comp AS (SELECT source, i.j AS pos,
         |  CAST(floor(embedding[CAST(i.j AS INT)] * 1048576) AS BIGINT) AS q
         |  FROM src, UNNEST(range(1, len(embedding) + 1)) AS i(j)
         |  WHERE embedding[CAST(i.j AS INT)] IS NOT NULL),
         |cs AS (SELECT source, pos, CAST(SUM(q) AS BIGINT) AS c
         |  FROM comp GROUP BY source, pos),
         |n2 AS (SELECT source,
         |  SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS nn
         |  FROM cs GROUP BY source),
         |dt AS (SELECT a.source AS source_a, b.source AS source_b,
         |  SUM(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS dd
         |  FROM cs a JOIN cs b ON a.pos = b.pos AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT source_a, source_b,
         |  CAST(dd AS DOUBLE) / sqrt(CAST(na.nn AS DOUBLE) * CAST(nb.nn AS DOUBLE)) AS cos
         |FROM dt JOIN n2 na ON na.source = dt.source_a
         |  JOIN n2 nb ON nb.source = dt.source_b
         |WHERE na.nn > 0 AND nb.nn > 0""".stripMargin,

    // q39's candidate/cosine CTEs, pairs mirrored both ways, q56's split
    // thresholds over vec_id, verdicts re-admitted per train vector
    "q110_semantic_decontam" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlVecBands,
         |rare AS (SELECT fam, bk FROM bands GROUP BY fam, bk HAVING COUNT(*) <= $MaxVecBucket),
         |bc AS (SELECT bands.vec_id, bands.fam, bands.bk FROM bands JOIN rare USING (fam, bk)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bc a JOIN bc b ON a.fam = b.fam AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |p AS (SELECT cand.vec_a, cand.vec_b,
         |  ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |  FROM cand JOIN e x ON x.vec_id = cand.vec_a JOIN e y ON y.vec_id = cand.vec_b
         |  WHERE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= 0.35),
         |bi AS (SELECT vec_a AS vec_id, vec_b AS other, cos FROM p
         |  UNION ALL SELECT vec_b AS vec_id, vec_a AS other, cos FROM p),
         |sp AS (SELECT vec_id,
         |  CASE WHEN ${TextAnalysis.SqlHash("CAST(vec_id AS VARCHAR)")} % 100 < ${Curation.TrainPct} THEN 'train'
         |       WHEN ${TextAnalysis.SqlHash("CAST(vec_id AS VARCHAR)")} % 100 < ${Curation.ValPct} THEN 'val'
         |       ELSE 'test' END AS split FROM embeddings),
         |fl AS (SELECT bi.vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_near,
         |  MAX(bi.cos) AS max_eval_cos
         |  FROM bi JOIN sp s ON s.vec_id = bi.vec_id
         |    JOIN sp o ON o.vec_id = bi.other
         |  WHERE s.split = 'train' AND o.split <> 'train'
         |  GROUP BY bi.vec_id)
         |SELECT t.vec_id, COALESCE(fl.n_eval_near, 0) AS n_eval_near,
         |  fl.max_eval_cos,
         |  COALESCE(fl.n_eval_near, 0) > 0 AS contaminated
         |FROM (SELECT vec_id FROM sp WHERE split = 'train') t
         |LEFT JOIN fl ON fl.vec_id = t.vec_id""".stripMargin,

    // q39's candidate CTEs; SUM counts CAST per the convention; null
    // labels excluded on both sides before ownership
    "q96_label_separation" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlVecBands,
         |rare AS (SELECT fam, bk FROM bands GROUP BY fam, bk HAVING COUNT(*) <= $MaxVecBucket),
         |bc AS (SELECT bands.vec_id, bands.fam, bands.bk FROM bands JOIN rare USING (fam, bk)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bc a JOIN bc b ON a.fam = b.fam AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |p AS (SELECT x.label AS label_a, y.label AS label_b,
         |  ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |  FROM cand JOIN e x ON x.vec_id = cand.vec_a
         |  JOIN e y ON y.vec_id = cand.vec_b
         |  WHERE x.label IS NOT NULL AND y.label IS NOT NULL),
         |o AS (SELECT label_a AS label, (label_a = label_b) AS intra, cos FROM p
         |  UNION ALL SELECT label_b, false, cos FROM p WHERE label_a <> label_b)
         |SELECT label,
         |  CAST(SUM(CASE WHEN intra THEN 1 ELSE 0 END) AS BIGINT) AS n_intra_cand,
         |  CAST(SUM(CASE WHEN intra AND cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_intra_close,
         |  CAST(SUM(CASE WHEN NOT intra THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_cand,
         |  CAST(SUM(CASE WHEN NOT intra AND cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_inter_close
         |FROM o GROUP BY label""".stripMargin,

    "q30_ann_lsh" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  ${sqlBucket("embedding", 6)} AS bucket,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |q AS (SELECT embedding AS qv, bucket AS qbucket, nrm AS qn
         |  FROM e WHERE vec_id = 0)
         |SELECT vec_id, bucket, ${sqlDot("embedding", "qv")} / (nrm * qn) AS cos
         |FROM e, q WHERE bucket = qbucket
         |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // CAST around list_aggregate sum: DuckDB widens BIGINT-list sums to
    // HUGEINT (the q49 lesson). NaN scale nulls out (the Spark side's
    // isnan guard, mirrored); list_aggregate of an empty list is already
    // NULL, matching the Spark side's guarded fold.
    "q63_quantize_int8" ->
      """WITH s0 AS (SELECT vec_id, embedding,
        |  list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale0
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |  CASE WHEN isfinite(scale0) THEN scale0 END AS scale FROM s0),
        |q AS (SELECT vec_id, scale,
        |  CASE WHEN scale > 0
        |    THEN list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))
        |    ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
        |  FROM s)
        |SELECT vec_id, scale,
        |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
        |  list_min(q) AS q_min, list_max(q) AS q_max
        |FROM q""".stripMargin,

    // PQ: train per-subspace codebooks relationally (the identical
    // modulus sample, init, and Lloyd steps as the Spark driver), then
    // assign by min squared distance with ties to the lowest code and
    // pivot the PqM codes into columns. err sums the per-subspace minima
    // in subspace order (left-assoc, matching the Spark reduce).
    "q65_pq_codes" ->
      s"""WITH $sqlPqChain,
         |pv AS (SELECT vec_id,
         |  ${(0 until PqM).map(m =>
              s"CAST(MAX(CASE WHEN m = $m THEN k END) AS BIGINT) AS code$m").mkString(",\n         |  ")},
         |  ${(0 until PqM).map(m =>
              s"MAX(CASE WHEN m = $m THEN d2 END)").mkString(" + ")} AS err
         |  FROM pbest GROUP BY vec_id)
         |SELECT e.vec_id, ${(0 until PqM).map(m => s"pv.code$m").mkString(", ")}, pv.err
         |FROM embeddings e LEFT JOIN pv USING (vec_id)""".stripMargin,

    // ADC: the same training + assignment chain, then the query's
    // per-subspace distance TABLES (qsub/tbl — computed once, the ADC
    // point) joined to each vector's codes and summed in subspace order.
    "q67_ann_adc" ->
      s"""WITH $sqlPqChain,
         |qsub AS (SELECT m, subv AS qsv FROM pall WHERE vec_id = 0),
         |tbl AS (SELECT q.m, c.k, ${sqlSqDist("q.qsv", "c.cvec")} AS td
         |  FROM qsub q JOIN pc$KmeansIters c ON c.m = q.m),
         |a AS (SELECT b.vec_id, b.m, t.td
         |  FROM pbest b JOIN tbl t ON t.m = b.m AND t.k = b.k),
         |v AS (SELECT vec_id,
         |  ${(0 until PqM).map(m =>
              s"MAX(CASE WHEN m = $m THEN td END)").mkString(" + ")} AS adc
         |  FROM a GROUP BY vec_id)
         |SELECT vec_id, adc FROM v WHERE adc IS NOT NULL
         |ORDER BY adc, vec_id LIMIT 10""".stripMargin,

    // per-dim calibration: parallel unnests zip value with position;
    // the all-or-null CASE on q_sum mirrors the Spark fold's
    // null-poisoning; the left join re-admits null/empty embeddings.
    "q73_calibrated_int8" ->
      """WITH ex AS (SELECT vec_id, unnest(embedding) AS x,
        |  unnest(range(1, len(embedding)+1)) AS dim FROM embeddings),
        |cal AS (SELECT dim, max(abs(CAST(x AS DOUBLE)))/127.0 AS scale0
        |  FROM ex GROUP BY dim),
        |cal2 AS (SELECT dim,
        |  CASE WHEN isfinite(scale0) THEN scale0 END AS scale FROM cal),
        |codes AS (SELECT vec_id,
        |  CASE WHEN scale IS NULL THEN NULL
        |       WHEN scale > 0
        |         THEN CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT)
        |       ELSE CAST(0 AS BIGINT) END AS q
        |  FROM ex JOIN cal2 USING (dim)),
        |agg AS (SELECT vec_id,
        |  CASE WHEN COUNT(*) = COUNT(q) THEN CAST(SUM(q) AS BIGINT) END AS q_sum,
        |  MIN(q) AS q_min, MAX(q) AS q_max FROM codes GROUP BY vec_id)
        |SELECT e.vec_id, a.q_sum, a.q_min, a.q_max
        |FROM embeddings e LEFT JOIN agg a USING (vec_id)""".stripMargin,

    // KNN graph: the q39 candidate CTEs, directed both ways, rank-3 cut
    // per source via ROW_NUMBER (cos DESC, nbr — the argmax tie
    // discipline for exactly-equal doubles)
    "q75_knn_graph" ->
      s"""WITH $sqlKnnCtes
         |SELECT src AS vec_id, rnk, dst AS nbr, cos FROM knn""".stripMargin,

    // label probe: the IDENTICAL knn chain, neighbor labels joined,
    // majority vote per vector (nv DESC, label — the argmax tie
    // discipline), per-class accuracy in floor per-mille
    "q157_knn_label_probe" ->
      s"""WITH $sqlKnnCtes,
         |v AS (SELECT k.src AS vec_id, emb.label AS nbr_label,
         |  COUNT(*) AS nv FROM knn k JOIN embeddings emb
         |    ON emb.vec_id = k.dst
         |  WHERE emb.label IS NOT NULL GROUP BY 1, 2),
         |p AS (SELECT vec_id, nbr_label AS pred FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY nv DESC, nbr_label) AS rn FROM v) z WHERE rn = 1)
         |SELECT e2.label, CAST(COUNT(*) AS BIGINT) AS n_voted,
         |  CAST(SUM(CASE WHEN p.pred = e2.label THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN p.pred = e2.label THEN 1 ELSE 0 END) * 1000
         |    // COUNT(*) AS BIGINT) AS acc_pm
         |FROM p JOIN embeddings e2 USING (vec_id)
         |WHERE e2.label IS NOT NULL GROUP BY e2.label""".stripMargin,

    // hard negatives: the q75 candidate CTEs with the label-inequality
    // cut (null-rejecting <>, matching Spark's =!=) and the rank-2 cut
    "q84_hard_negatives" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding, label,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlVecBands,
         |rare AS (SELECT fam, bk FROM bands GROUP BY fam, bk HAVING COUNT(*) <= $MaxVecBucket),
         |bc AS (SELECT bands.vec_id, bands.fam, bands.bk FROM bands JOIN rare USING (fam, bk)),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM bc a JOIN bc b ON a.fam = b.fam AND a.bk = b.bk AND a.vec_id < b.vec_id),
         |d AS (SELECT vec_a AS src, vec_b AS dst FROM cand
         |  UNION ALL SELECT vec_b, vec_a FROM cand),
         |sc AS (SELECT d.src, d.dst,
         |  ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |  FROM d JOIN e x ON x.vec_id = d.src JOIN e y ON y.vec_id = d.dst
         |  WHERE x.label <> y.label)
         |SELECT src AS vec_id, rnk, dst AS neg, cos FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY src
         |     ORDER BY cos DESC, dst) AS rnk FROM sc) t
         |WHERE rnk <= $HardNegK""".stripMargin,

    // semantic dedup: the shared IVF cell-assignment CTEs (one SQL text
    // with q35/q68 — no drift), in-cell smaller-id near-dup removal
    "q76_semantic_dedup" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |a AS (SELECT e.vec_id, e.embedding, e.nrm, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, embedding, nrm, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |removed AS (SELECT DISTINCT y.vec_id
         |  FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $SemTau)
         |SELECT vec_id, cell FROM cells
         |WHERE vec_id NOT IN (SELECT vec_id FROM removed)""".stripMargin,

    // the shared IVF cell-assignment CTEs, then the ceil-mean cap (pure
    // integer) and the seeded hash-rank cut — mirrors the Spark window
    "q101_cluster_balanced" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |a AS (SELECT e.vec_id, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |cap AS (SELECT (COUNT(*) + COUNT(DISTINCT cell) - 1)
         |    // COUNT(DISTINCT cell) AS cap FROM cells),
         |r AS (SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY cell
         |  ORDER BY ${TextAnalysis.SqlHash60("CAST(vec_id AS VARCHAR)||'#11'")},
         |    vec_id) AS rnk FROM cells)
         |SELECT r.vec_id, r.cell, r.rnk FROM r, cap
         |WHERE r.rnk <= cap.cap""".stripMargin,

    // the q101 assignment CTEs verbatim, member histogram beside the
    // trained cell count
    // the plain full outer join, one fold
    "q143_embedding_coverage" ->
      """SELECT
        |  CAST(SUM(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        |  CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_doc_only,
        |  CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_vec_only
        |FROM documents d FULL JOIN embeddings e ON e.vec_id = d.doc_id""".stripMargin,

    // per-row integer q² fold on the q115 grid, counts + the bounded
    // cell-grid quantile windows; empty lists COALESCE to sq 0
    "q128_embedding_health" ->
      s"""WITH src AS (SELECT d.source, e.embedding
         |  FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
         |m AS (SELECT source,
         |  embedding IS NULL AS nv,
         |  CASE WHEN embedding IS NULL THEN FALSE
         |    ELSE len(list_filter(embedding, x -> x IS NULL)) > 0 END AS ne,
         |  CASE WHEN embedding IS NOT NULL
         |      AND len(list_filter(embedding, x -> x IS NULL)) = 0
         |    THEN COALESCE(CAST(list_sum(list_transform(
         |      list_transform(embedding,
         |        x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)),
         |      q -> q * q)) AS BIGINT), 0)
         |  END AS sq
         |  FROM src),
         |c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vecs,
         |  CAST(SUM(CASE WHEN nv THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vec,
         |  CAST(SUM(CASE WHEN ne THEN 1 ELSE 0 END) AS BIGINT) AS n_null_elem,
         |  CAST(SUM(CASE WHEN sq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm
         |  FROM m GROUP BY source),
         |h AS (SELECT source, sq // 4294967296 AS cell, COUNT(*) AS cnt
         |  FROM m WHERE sq IS NOT NULL GROUP BY 1, 2),
         |r AS (SELECT source, cell,
         |  SUM(cnt) OVER (PARTITION BY source ORDER BY cell
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |  SUM(cnt) OVER (PARTITION BY source) AS n FROM h),
         |qt AS (SELECT source,
         |  CAST(MIN(CASE WHEN cum >= (n + 3) // 4 THEN cell END)
         |    * 4294967296 AS BIGINT) AS q1_sq,
         |  CAST(MIN(CASE WHEN cum >= (n + 1) // 2 THEN cell END)
         |    * 4294967296 AS BIGINT) AS median_sq,
         |  CAST(MIN(CASE WHEN cum >= (n * 3 + 3) // 4 THEN cell END)
         |    * 4294967296 AS BIGINT) AS q3_sq
         |  FROM r GROUP BY source)
         |SELECT c.source, c.n_vecs, c.n_null_vec, c.n_null_elem,
         |  c.n_zero_norm, qt.q1_sq, qt.median_sq, qt.q3_sq
         |FROM c LEFT JOIN qt ON qt.source = c.source""".stripMargin,

    "q117_ivf_health" ->
      s"""WITH e AS (SELECT * FROM (SELECT vec_id, embedding,
         |  sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings) t
         |  WHERE nrm > 0),
         |$sqlKmeans,
         |a AS (SELECT e.vec_id, cq.cent_id,
         |  ${sqlDot("e.embedding", "cq.cvec")}/(e.nrm*cq.cnrm) AS ccos
         |  FROM e CROSS JOIN cq),
         |cells AS (SELECT vec_id, cent_id AS cell FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |     ORDER BY ccos DESC, cent_id) AS rn FROM a) t WHERE rn = 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS tot FROM cells),
         |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS ncells FROM cq)
         |SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  (SELECT ncells FROM nc) AS n_cells,
         |  CAST(COUNT(*) AS DOUBLE) / (SELECT CAST(tot AS DOUBLE) FROM tot) AS share
         |FROM cells GROUP BY cell""".stripMargin)

  /** The shared PQ CTE chain (training sample → codebooks after
    * KmeansIters Lloyd steps → per-vector best codes) used by both q65
    * and q67 — one SQL text, no drift between the code operator and the
    * ADC search built on it.
    */
  private def sqlPqChain: String =
    s"""psamp AS (SELECT * FROM ${sqlPqSubs("embeddings",
          s"""
     | AND len(list_filter(embedding, x -> x IS NULL)) = 0
     | AND vec_id % (SELECT GREATEST(5, (count(*) + ${SampleCap - 1}) // $SampleCap) FROM embeddings) = 0""".stripMargin)} t0),
       |pc0 AS (SELECT m, k, subv AS cvec FROM (SELECT m, subv,
       |  ROW_NUMBER() OVER (PARTITION BY m ORDER BY vec_id) - 1 AS k FROM psamp) t WHERE k < $PqK),
       |${(1 to KmeansIters).map(sqlPqIter).mkString(",\n")},
       |pall AS (SELECT * FROM ${sqlPqSubs("embeddings", "")} t1),
       |pd AS (SELECT s.vec_id, s.m, c.k, ${sqlSqDist("s.subv", "c.cvec")} AS d2
       |  FROM pall s JOIN pc$KmeansIters c ON c.m = s.m),
       |pbest AS (SELECT vec_id, m, k, d2 FROM (SELECT *,
       |  ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rn FROM pd) t
       |  WHERE rn = 1 AND d2 IS NOT NULL)""".stripMargin
}
