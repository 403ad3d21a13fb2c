package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transitive near-dup clustering — the step a training-data pipeline runs
  * AFTER pair generation: near-duplication is transitive in practice (A≈B,
  * B≈C ⇒ the three are one content cluster even when A/C's sketches differ
  * by more than the pair threshold), so the dedup deliverable is connected
  * components over the pair graph, then one kept document per component.
  *
  * q43 assigns every document its component id (the component's minimum
  * doc_id — a deterministic canonical representative); q44 reduces that to
  * the survivor report (kept doc + cluster size), the transitive analogue
  * of q21's exact-hash (keep_id, n_dups).
  *
  * Algorithm: adaptive. The directed edge count (materialized anyway to
  * size the loop's partitioning) picks the execution path, the same way a
  * join picks broadcast under a size bound: at or below
  * `graft.dedup.localEdgeThreshold` (default 2M edges ≈ 32 MB) the
  * components come from a driver union-find over the collected edge list —
  * one job instead of 5–7 scheduled rounds; above it, iterative min-label
  * propagation (label(u) ← min over N(u) ∪ {u}), the standard Pregel-style
  * connected-components formulation (DedupSpec pins the two paths
  * label-identical on the same graph):
  *   - per round: ONE shuffle join (labels into edge sources) + ONE
  *     map-side-combined min-aggregation on doc_id — both partition on the
  *     keys they shuffle on, no broadcast of anything corpus-sized;
  *   - rounds are bounded by the largest component's diameter. Near-dup
  *     components are dense content clusters (diameter 1–3); the frequency
  *     caps inherited from q27 also bound |E| ≤ bands·cap·n, so each round
  *     is linear in the corpus. Adversarial long-chain graphs cannot run
  *     the loop O(diameter) long: past [[JumpAfter]] rounds every round
  *     also composes the label table with itself (pointer jumping), which
  *     halves the remaining chain depth per round — the O(log n) guarantee
  *     class of alternating large-star/small-star contraction (Kiveris
  *     et al., "Connected Components in MapReduce and Beyond", 2014),
  *     realized with the join/agg primitives this loop already has and
  *     spec-pinned on a 200-node path;
  *   - every round truncates lineage (localCheckpoint — on a cluster,
  *     `checkpoint` against the job's checkpoint dir): without truncation
  *     the iterated plan doubles per round and Catalyst analysis, not the
  *     data, becomes the bottleneck;
  *   - convergence is exact (a changed-label count hitting zero), not a
  *     fixed round budget — labels only ever decrease, so the loop
  *     terminates at the true component minimum that the DuckDB
  *     recursive-CTE oracle computes independently.
  *
  * Reference surface: the reference engine has no graph operator; this is
  * north-star extension surface (SURVEY.md §2 "beyond the reference"), fed
  * by q27's pair semantics so the oracle chain stays one SQL text.
  */
object Dedup {

  /** Converged (doc_id, cluster_id) labels over the q27 near-dup graph:
    * cluster_id = min doc_id reachable through hamming≤8 pairs (documents
    * with no near-dup partner are their own singleton cluster). Also
    * returns the round count (spec-pinned: near-dup graphs converge in a
    * handful of rounds). This is the raw BUILD — consumers go through
    * the staged [[ensureClusterLabels]] so the session pays it once.
    */
  private[graft] def clusterLabelsWithRounds(s: SparkSession, dir: String)
      : (DataFrame, Int) =
    propagateMin(s,
      Similarity.queries("q27_simhash_pairs")(s, dir)
        .select(col("doc_a"), col("doc_b")),
      Tables(s, dir, "documents").select(col("doc_id")))

  /** Builds (once per session+dir) the STAGED cluster-label table — the
    * `ensureIvfPqIndex` discipline applied to the clustering chain: the
    * transitive closure is a corpus-scale iterative job whose output is
    * a narrow (doc_id, cluster_id) relation consumed by every
    * cluster-aware operator (survivor picks, soft-dedup weights,
    * cluster-prep, the diversified serve, takedown expansion/impact),
    * so it is a MATERIALIZED ARTIFACT of the corpus, not a per-query
    * cost — at 100 TB, re-running connected components per downstream
    * read is exactly the re-stage-per-request cost the staged index
    * family exists to avoid. Hash-bucketed by doc_id (the key every
    * consumer equi-joins on), corpus-adaptive bucket count; the build's
    * checkpoint/persist scaffolding is freed once the table is written.
    */
  private def ensureLabels(s: SparkSession, dir: String, family: String,
      pairsOf: (DataFrame, Long) => DataFrame): DataFrame = {
    val lblT = graft.Staged.name(s"${family}_labels", dir)
    graft.Staged.ensure(s, lblT)(stageLabels(s, dir, lblT, pairsOf, Nil))
    s.table(lblT)
  }

  /** [[ensureLabels]]' build: the closure over the corpus minus `extraMask`
    * and the purged ledger, staged as `lblT`.
    */
  private def stageLabels(s: SparkSession, dir: String, lblT: String,
      pairsOf: (DataFrame, Long) => DataFrame, extraMask: Seq[Long]): Unit = {
    // the clustering universe is the corpus MINUS every id a purge has
    // already physically erased (plus the in-flight purge's ids, passed
    // by rebuildLabelsAfterPurge before its requests retire): the
    // closure over the reduced relation IS a re-clustering of a corpus
    // that never held them — min-ids, sizes, and even the band width
    // re-derive. With no purged ids the mask folds away and the build
    // is byte-identical to the historical full-corpus staging.
    val maskIds = (extraMask ++
      graft.StagedTombstones.purgedDocIds(s, dir)).distinct
    val mask = if (maskIds.isEmpty) None else Some(maskIds)
    def maskDocs(rel: DataFrame): DataFrame =
      graft.StagedTombstones.masked(s, rel, mask, "doc_id")
    val docs = maskDocs(Tables(s, dir, "documents").select(col("doc_id")))
    val n =
      if (maskIds.isEmpty) Tables.rowCount(s, dir, "documents")
      else docs.count()
    val before = s.sparkContext.getPersistentRDDs.keySet.toSet
    val (labels, _) = propagateMin(s,
      pairsOf(maskDocs(Tables.wide(s, dir, "documents")), n), docs)
    graft.Bucketing.stage(labels, lblT, "doc_id",
      graft.Bucketing.bucketCountFor(n))
    // the loop's persisted blocks (pair-query persists, the final
    // round's checkpoint) are build scaffolding once the table exists
    (s.sparkContext.getPersistentRDDs.keySet.toSet -- before).foreach(
      id => s.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(false)))
  }

  private def pairs32(docs: DataFrame, n: Long): DataFrame =
    Similarity.simhash32PairsOver(docs, n).select(col("doc_a"), col("doc_b"))

  private def pairs64(docs: DataFrame, n: Long): DataFrame =
    Similarity.simhash64PairsOver(docs, n).select(col("doc_a"), col("doc_b"))

  /** The staged 32-bit (q43-family) cluster labels of (session, dir). */
  private[graft] def ensureClusterLabels(s: SparkSession,
      dir: String): DataFrame =
    ensureLabels(s, dir, "q43", pairs32)

  /** The staged 64-bit (q150) at-scale cluster labels of (session, dir)
    * — the label source the takedown/serve composites read.
    */
  private[graft] def ensureClusterLabels64(s: SparkSession,
      dir: String): DataFrame =
    ensureLabels(s, dir, "q150", pairs64)

  /** The takedown purge's hook for the label DEMO artifacts — the
    * q184 staged appended labels and the q192 stream roots: both are
    * session demos derived from the raw corpus, so physical erasure is
    * a drop/delete; the next ensure rebuilds over the corpus minus the
    * purged ledger (their builds mask it). Idempotent.
    */
  private[graft] def dropAppendedDemos(s: SparkSession, dir: String): Unit = {
    graft.Staged.drop(s, graft.Staged.name("q184_labels", dir))
    Seq(labelRoots, q184BandRoots).foreach(m =>
      Option(m.remove((s.sparkContext.applicationId, dir)))
        .foreach { r =>
          val p = new org.apache.hadoop.fs.Path(r)
          val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) fs.delete(p, true)
        })
  }

  /** The takedown purge's LABEL half: drop each staged cluster-label
    * table that exists and rebuild its closure over the mask-filtered
    * corpus — physical erasure for the (doc_id, cluster_id) rows too,
    * with the same byte-identity discipline the lexical family
    * satisfies (reference semantics: the delete-by-predicate reload,
    * `src/DatabaseAgentMysql.php:254-261`). A filtered rewrite of the
    * old labels would NOT be honest erasure accounting: min-id labels
    * and cluster sizes change when members leave, and transitive
    * chains through a deleted bridge document must SPLIT — only a
    * re-clustering of the reduced corpus gives the label set a fresh
    * session over the reduced corpus would compute
    * (StagedTakedownSpec pins the equality per consumer). `maskIds`
    * carries the in-flight purge's ids — the caller invokes this
    * BEFORE retiring its requests to the purged ledger, so a crash
    * anywhere re-runs the whole (idempotent) rebuild; a family never
    * staged skips the eager rebuild and builds reduced on its next
    * ensure ([[ensureLabels]] masks the purged ledger). Returns the
    * rebuilt table names for the purge's existence check.
    */
  private[graft] def rebuildLabelsAfterPurge(s: SparkSession, dir: String,
      maskIds: Seq[Long]): Seq[String] = {
    Seq(("q43", pairs32 _), ("q150", pairs64 _)).flatMap {
      case (family, pf) =>
        // drop and rebuild under the label table's lock: an ensure on
        // another thread (graft_diverse reaches the q150 labels) waits
        // for the masked rebuild instead of staging unmasked labels
        val lblT = graft.Staged.name(s"${family}_labels", dir)
        if (graft.Staged.restage(s, lblT)(true)(
            stageLabels(s, dir, lblT, pf, maskIds))) Some(lblT)
        else None
    }
  }

  /** Incremental 64-bit label maintenance — the APPEND half of the
    * staged-label discipline (the purge rebuild is the delete half): a
    * corpus that grows by a delta should not re-run the iterative
    * closure over the whole pair graph, because at 100 TB the closure
    * is the single most expensive build in the dedup chain and the
    * delta is typically ≪ corpus. The standard incremental
    * connected-components step:
    *
    *   1. band both sides at the UNION-derived width and recompute the
    *      frequency caps over the union band relation — admission is
    *      then exactly what a fresh union build would compute for every
    *      delta-involving pair;
    *   2. generate ONLY the pairs touching a delta document (delta×all
    *      band equi-join — work ∝ the delta's true collisions, never
    *      corpus²);
    *   3. CONTRACT old endpoints to their cluster label (each staged
    *      cluster_id is the component's min doc_id, so a cluster is a
    *      super-node whose id IS its members' min) and run the shared
    *      [[propagateMin]] over the contracted graph — nodes = delta
    *      ids ∪ touched cluster ids, a request-of-collisions-sized
    *      problem;
    *   4. relabel: old labels re-root through the contracted
    *      components (two old clusters bridged by a delta doc merge to
    *      the true union min), delta docs take their component label,
    *      untouched delta docs stitch as singletons.
    *
    * EXACTNESS CONTRACT: the result equals a fresh clustering of the
    * union corpus whenever the growth neither changes the derived band
    * width nor pushes a band bucket past [[Similarity.MaxBandDocs]]
    * (then old-old pair admission is unchanged and delta admission is
    * recomputed exactly — both edge sets match the fresh build's;
    * DedupSpec pins the identity, and the q184 oracle IS the fresh
    * union closure). Past either boundary the append is the documented
    * frozen-parameter approximation — previously-merged clusters never
    * split (append only adds edges) — and the rebuild signal is the
    * band-occupancy card (q153) reading buckets past the cap: the
    * ensureIvfPqIndex "frozen models retrain on their own cadence"
    * stance applied to the label artifact.
    *
    * Cost shape at scale: THIS form (explicit relations) pays one
    * linear old-side banding pass per call — it exists for callers that
    * band inline. The staged paths don't: [[ensureAppendedLabels]]
    * stages the old shard's band relation once beside the labels
    * ([[graft.streaming.LabelBandIndex]], the closed r18 increment) and
    * probes only the delta's (b, g) partitions, and the streaming dual
    * ([[graft.streaming.LabelStream]]) appends one band epoch per batch
    * with the same pruned probe — old-side banding is paid once at
    * stage/adoption time, never per append. The closure runs over the
    * contracted graph only, either way.
    */
  private[graft] def appendLabels64(s: SparkSession, oldLabels: DataFrame,
      oldDocs: DataFrame, newDocs: DataFrame, nUnion: Long): DataFrame = {
    val (oldBands, _) = Similarity.band64RelationOver(oldDocs, nUnion)
    val (newBands, _) = Similarity.band64RelationOver(newDocs, nUnion)
    appendLabelsFromBands(s, oldLabels, oldBands, newBands,
      newDocs.select(col("doc_id")))
  }

  /** The contracted-closure CORE of an incremental label append over
    * EXPLICIT band relations — factored below [[appendLabelsFromBands]]
    * so the streaming dual ([[graft.streaming.LabelStream]]) can
    * compose the delta labels and the cluster remap WITHOUT ever
    * materializing the corpus-wide re-rooted label set (its epochs
    * carry only the delta rows and the CHANGED prior labels).
    *
    * `endpointLabelsOf` resolves the current (doc_id, cluster_id) label
    * of an explicit OLD-endpoint id relation — the batch path passes a
    * semi-join over its one-row-per-doc label table; the stream passes
    * a broadcast-probed last-write-wins fold over its stored epochs, so
    * neither side shuffles anything corpus-sized here (the probe id set
    * is collision-bounded).
    *
    * Returns (delta labels, remap): remap maps every touched old
    * cluster_id (and delta node id — harmless, delta ids never appear
    * as old cluster ids) to its contracted component root.
    */
  private[graft] def appendComponents(s: SparkSession,
      endpointLabelsOf: DataFrame => DataFrame,
      oldBands: DataFrame, newBands: DataFrame,
      newIds0: DataFrame): (DataFrame, DataFrame) = {
    val cols = Seq("doc_id", "lo", "hi", "b", "bk").map(col)
    val all = oldBands.select(cols: _*).union(newBands.select(cols: _*))
    // frequency caps over the union band relation: EXACT even when
    // oldBands is a PRUNED index read (only the delta's (b, g) groups) —
    // a bucket with at least one delta row lives entirely inside the
    // pruned partitions (same b, same g), so its count is the true
    // union count; a bucket with no delta row can admit no
    // delta-involving pair, so its cap verdict is irrelevant
    val rare = all.groupBy("b", "bk")
      .agg(count(lit(1)).as("kc"))
      .filter(col("kc") <= Similarity.MaxBandDocs)
      .select("b", "bk")
    val capped = all.join(rare, Seq("b", "bk"), "left_semi")
    val newIds = newIds0.select(col("doc_id"))
    val newSide = capped.join(newIds, Seq("doc_id"), "left_semi")
    // delta-involving pairs: delta×all on the shared band key (a
    // new-new pair surfaces from both sides — the distinct folds it);
    // hamming before distinct, the q27/q42 shuffle discipline. Persisted:
    // feeds the endpoint-id probe AND the contraction (callers free the
    // block via their getPersistentRDDs diff — the ensureLabels
    // discipline).
    val pairs = newSide.alias("a").join(capped.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
          bit_count(col("a.hi").bitwiseXOR(col("b.hi"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .select("doc_a", "doc_b")
      .distinct()
      .persist()
    // the pairs' OLD endpoints (delta ids have no old label) — the only
    // ids whose current label the contraction needs, collision-bounded
    val endIds = pairs.select(col("doc_a").as("doc_id"))
      .union(pairs.select(col("doc_b").as("doc_id")))
      .distinct()
      .join(newIds, Seq("doc_id"), "left_anti")
    val endLbl = endpointLabelsOf(endIds)
    // contract old endpoints to their cluster super-node (delta ids
    // pass through — they have no old label), drop intra-cluster loops
    val lblA = endLbl.select(col("doc_id").as("doc_a"),
      col("cluster_id").as("ca"))
    val lblB = endLbl.select(col("doc_id").as("doc_b"),
      col("cluster_id").as("cb"))
    val contracted = pairs
      .join(lblA, Seq("doc_a"), "left").join(lblB, Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val nodes = newIds
      .union(contracted.select(col("doc_a").as("doc_id")))
      .union(contracted.select(col("doc_b").as("doc_id")))
      .distinct()
    val (re, _) = propagateMin(s, contracted, nodes)
    val remap = re.select(col("doc_id").as("cluster_id"),
      col("cluster_id").as("root"))
    val newFinal = re.join(newIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("cluster_id"))
    (newFinal, remap)
  }

  /** [[appendLabels64]]'s full-relabel form over EXPLICIT band
    * relations: the [[appendComponents]] core plus the corpus-wide
    * re-root of the old labels (two old clusters bridged by a delta doc
    * merge to the true union min). `newIds` is the delta's id set (its
    * null-text documents band nowhere but still label as singletons).
    */
  private[graft] def appendLabelsFromBands(s: SparkSession,
      oldLabels: DataFrame, oldBands: DataFrame, newBands: DataFrame,
      newIds0: DataFrame): DataFrame = {
    val (newFinal, remap) = appendComponents(s,
      ids => oldLabels.join(ids, Seq("doc_id"), "left_semi"),
      oldBands, newBands, newIds0)
    // re-root the old labels through the contracted components; delta
    // docs take their component label (their own id if untouched)
    val oldFinal = oldLabels.join(remap, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("cluster_id")).as("cluster_id"))
    oldFinal.union(newFinal)
  }

  /** Fresh transitive clustering from a STORED (doc_id, lo, hi) sketch
    * relation at an EXPLICIT band width — the re-cluster a label-stream
    * PURGE runs ([[graft.streaming.LabelStream.purgeRoot]]): texts are
    * never re-read (the sketches ARE the stored state, the rebandIndex
    * stance), the width is the root's frozen one, and the pair
    * semantics are [[Similarity.simhash64PairsOver]]'s verbatim
    * (cap ≤ MaxBandDocs per bucket, hamming ≤ 8, a < b, distinct) so
    * the result equals a fresh closure over a corpus that never held
    * the purged documents whenever the frozen width matches the
    * reduced-derived one (the stream's documented frozen-model
    * boundary). Null-sketch docs band nowhere and label as singletons.
    */
  private[graft] def labelsFromSketches(s: SparkSession, sk: DataFrame,
      w: Int): DataFrame = {
    val bands = Similarity.bandsFromSketches(
      sk.filter(col("lo").isNotNull), w)
    val rare = bands.groupBy("b", "bk")
      .agg(count(lit(1)).as("kc"))
      .filter(col("kc") <= Similarity.MaxBandDocs)
      .select("b", "bk")
    val capped = bands.join(rare, Seq("b", "bk"), "left_semi")
    val pairs = capped.alias("a").join(capped.alias("b"),
        col("a.b") === col("b.b") && col("a.bk") === col("b.bk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.lo").bitwiseXOR(col("b.lo"))) +
          bit_count(col("a.hi").bitwiseXOR(col("b.hi"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= 8)
      .select("doc_a", "doc_b")
      .distinct()
    propagateMin(s, pairs, sk.select(col("doc_id")))._1
  }

  /** Cap crossings of a growth step, computed over the DELTA-PRUNED
    * band pair — the q191 card's n_crossed without the full corpus
    * banding: a bucket that crosses WITH the growth (old occupancy ≤
    * cap < union occupancy) necessarily gained delta rows, so it lives
    * wholly inside the delta's (b, g) partitions and the pruned union
    * counts it exactly (the [[appendComponents]] cap argument, reused
    * for the verdict — DedupSpec pins the 49/50 boundary).
    */
  private[graft] def capCrossings(oldBands: DataFrame,
      newBands: DataFrame): Long =
    oldBands.select(col("b"), col("bk"), lit(1L).as("old"))
      .union(newBands.select(col("b"), col("bk"), lit(0L).as("old")))
      .groupBy("b", "bk")
      .agg(count(lit(1)).as("kc"), sum("old").as("kold"))
      .filter(col("kold") <= Similarity.MaxBandDocs &&
        col("kc") > Similarity.MaxBandDocs)
      .count()

  /** Builds (once per session+dir) the STAGED appended-label table —
    * q184's artifact: the seven-eighths shard clusters with its own
    * honest parameters (the pre-existing staged labels a growing
    * corpus already holds), the residue-3 delta appends through
    * [[appendLabels64]], and the result stages doc_id-bucketed exactly
    * like [[ensureClusterLabels64]]'s (it IS the same artifact — the
    * append and the fresh closure produce identical labels, the q184
    * oracle/DedupSpec identity). Bench reps then measure the staged
    * read, the q150 amortization; the one-time build cost is the old
    * closure + the append (PERF.md reports both).
    *
    * The q191 drift card's verdict is CONSUMED here, not just
    * published: before paying the old closure + append, the ensure
    * runs the card's own exactness test (width drift is a driver
    * compare of the derived widths; cap crossings come from
    * [[capCrossings]] over the pruned band pair). Verdict 1 is the
    * append's exactness GUARANTEE — append. Verdict 0 only withdraws
    * the guarantee, and the card's documented conservative read is
    * operational: stage the fresh union closure instead — which is the
    * session's own q150 artifact, so the "rebuild" is one staged copy,
    * never a second closure (DedupSpec pins the action on a planted
    * cap-crossing growth where append and fresh genuinely diverge).
    */
  private def ensureAppendedLabels(s: SparkSession, dir: String): DataFrame = {
    val lblT = graft.Staged.name("q184_labels", dir)
    graft.Staged.ensure(s, lblT) {
      // build universe = corpus minus the purged ledger (the
      // ensureLabels posture): a purge DROPS this demo artifact
      // ([[dropAppendedDemos]]) and the rebuild must not resurrect
      // erased documents from the raw corpus
      val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
      val docs = graft.StagedTombstones.masked(s,
        Tables.wide(s, dir, "documents"),
        if (purged.isEmpty) None else Some(purged), "doc_id")
      val oldDocs = docs.filter(col("doc_id") % 8 =!= 3)
      val newDocs = docs.filter(col("doc_id") % 8 === 3)
      val nUnion =
        if (purged.isEmpty) Tables.rowCount(s, dir, "documents")
        else docs.count()
      val before = s.sparkContext.getPersistentRDDs.keySet.toSet
      // scaffolding frees in a FINALLY (the LabelStream.processLabelBatch
      // discipline): an exception mid-build must not leak the pair
      // persists / closure checkpoints until a global Caches.release
      try {
        // the old shard's band relation STAGES beside the labels as a
        // (b, g)-partitioned artifact ([[graft.streaming.LabelBandIndex]]
        // — one layout with the stream index), and the append probes
        // ONLY the delta's own groups: the old side banding is paid
        // once at stage time, never per append (DedupSpec pins the
        // pruned probe's numFiles). Width is union-derived — the
        // append's exactness contract holds only there anyway; a
        // long-lived deployment freezes it instead (the LabelStream
        // stance) and acts on q191 exactly as this ensure does below.
        val wU = Similarity.bandWidth64For(nUnion)
        val bandDir = warehouseDir(s, graft.Staged.name("q184_bands", dir))
        q184BandRoots.put((s.sparkContext.applicationId, dir), bandDir)
        graft.streaming.LabelBandIndex.write(s, bandDir,
          Similarity.sketch64(oldDocs), wU)
        val newBands = Similarity.bandsFromSketches(
          Similarity.sketch64(newDocs).filter(col("lo").isNotNull), wU)
        val oldBands = graft.streaming.LabelBandIndex.prunedRead(s, bandDir,
          graft.streaming.LabelBandIndex.groupsOf(newBands))
        val nOld = oldDocs.count()
        // the q191 verdict, consulted BEFORE paying the closure: exact
        // ⇒ append; crossed ⇒ the fresh union closure (q150's staged
        // artifact — one copy, not a second build)
        val exact = Similarity.bandWidth64For(nOld) == wU &&
          capCrossings(oldBands, newBands) == 0L
        val appended =
          if (exact) {
            val (oldLabels, _) = propagateMin(s,
              Similarity.simhash64PairsOver(oldDocs, nOld)
                .select(col("doc_a"), col("doc_b")),
              oldDocs.select(col("doc_id")))
            appendLabelsFromBands(s, oldLabels, oldBands,
              newBands, newDocs.select(col("doc_id")))
          } else ensureClusterLabels64(s, dir)
            .select(col("doc_id"), col("cluster_id"))
        graft.Bucketing.stage(appended, lblT, "doc_id",
          graft.Bucketing.bucketCountFor(nUnion))
      } finally
        (s.sparkContext.getPersistentRDDs.keySet.toSet -- before).foreach(
          id => s.sparkContext.getPersistentRDDs.get(id)
            .foreach(_.unpersist(false)))
    }
    s.table(lblT)
  }

  /** After this many plain propagation rounds the loop escalates: each
    * further round ALSO composes the label table with itself
    * (label ← label∘label, pointer jumping), so the distance every label
    * still has to travel halves per round — O(log diameter) convergence
    * on adversarial long-chain graphs (DedupSpec pins a 200-node path at
    * ≤ 20 rounds) while the common dense near-dup case (diameter 1–3,
    * converged long before round 8) never pays the extra self-join that
    * made always-on jumping a measured regression (PERF.md round 4).
    * Same O(log n) guarantee class as alternating large-star/small-star
    * (Kiveris et al. 2014) with the primitives this loop already has.
    */
  private val JumpAfter = 8

  /** Directed-edge-count bound under which the component computation runs
    * as a driver-side union-find over the collected edge list instead of
    * the iterative join loop. Same adaptive contract as Spark's broadcast
    * threshold: the edge count is already materialized (the loop needs it
    * to size its partitioning), and below the bound the whole graph is
    * provably driver-safe — 2M directed edges × 16 B ≈ 32 MB, one job,
    * versus 5–7 rounds of join+agg+checkpoint whose fixed scheduling cost
    * dwarfs a small graph. Above the bound (any real 100 TB corpus) the
    * distributed loop runs unchanged. Override with the
    * `graft.dedup.localEdgeThreshold` session conf (specs set 0 to force
    * the distributed path; DedupSpec pins both paths label-identical).
    */
  private val LocalEdgeThresholdConf = "graft.dedup.localEdgeThreshold"
  private val LocalEdgeThresholdDefault = 2000000L

  /** Driver union-find (path halving, union-by-min) over a collected edge
    * list — byte-for-byte the same labeling contract as the distributed
    * loop: every node labels to its component's MINIMUM doc_id.
    */
  private def unionFindLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) {
        parent.put(r, parent.get(parent.get(r)))
        r = parent.get(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      // union-by-min keeps every root the component minimum, so find()
      // lands on the canonical label directly
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    parent.keySet().forEach(k => out += (k -> find(k)))
    out.toSeq
  }

  /** Min-label propagation over an explicit `(doc_a, doc_b)` pair set —
    * the loop behind q43/q44/q52, factored so specs can drive it with
    * adversarial synthetic graphs. `docs` is the full corpus id set used
    * to stitch untouched documents back in as singletons.
    */
  private[queries] def propagateMin(s: SparkSession, pairs: DataFrame,
      docs: DataFrame): (DataFrame, Int) = {
    // undirected graph = both edge directions; persisted once, read every
    // round (at cluster scale: a staging table partitioned by src)
    val edges0 = pairs
      .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .persist()
    val edgeCount = edges0.count()
    // an all-unique corpus has NO pair graph: every document is its own
    // singleton and the loop must not start (an empty label table has a
    // NULL mass — iterating on it is a crash, not a fixpoint)
    if (edgeCount == 0L) {
      edges0.unpersist()
      return (docs.select(col("doc_id"), col("doc_id").as("cluster_id")), 0)
    }
    val localThreshold = s.conf.getOption(LocalEdgeThresholdConf)
      .map(_.toLong).getOrElse(LocalEdgeThresholdDefault)
    if (edgeCount <= localThreshold) {
      // small-graph fast path: collect + union-find on the driver (the
      // count above proves the bound), stitch singletons exactly as the
      // distributed exit does. rounds = 0 signals the path taken.
      val es = edges0.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges0.unpersist()
      import s.implicits._
      val labels = unionFindLabels(es).toDF("doc_id", "cluster_id")
      val full = docs.select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      return (full, 0)
    }
    // Size the loop's partitioning to the graph, not the session default:
    // every round shuffles tables proportional to |E|, and a fixed-width
    // shuffle pays ~width tasks of scheduling latency per round even when
    // the graph is tiny (7 rounds × 32 empty-ish tasks dwarfed the data
    // locally). ~500k edges per partition, clamped to the session's
    // parallelism — at a real corpus this saturates the cluster, at bench
    // scale it collapses the round to a couple of single-task stages.
    val p = math.max(1, math.min(s.sparkContext.defaultParallelism,
      (edgeCount / 500000L).toInt + 1))
    val edges = edges0.repartition(p, col("src")).persist()
    edges.count()
    edges0.unpersist()
    // only edge-endpoint documents can ever receive a smaller label:
    // singletons are final (their own id) the moment the pair set is
    // known, so the iteration runs over the touched subset — at a real
    // corpus the overwhelming majority of documents never enters a round
    val touched = edges.select(col("src").as("doc_id")).distinct()
    // each round's localCheckpoint persists RDD blocks that nothing
    // releases once the round is superseded — over many rounds (or many
    // queries in one session) that's a slow storage leak. The checkpoint
    // API gives no unpersist handle, so track the block-backed RDD ids
    // via getPersistentRDDs deltas and free the previous round once the
    // next is materialized.
    def persistedIds: Set[Int] =
      s.sparkContext.getPersistentRDDs.keySet.toSet
    def freeIds(ids: Set[Int]): Unit = ids.foreach { id =>
      s.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false))
    }
    val beforeInit = persistedIds
    var labels = touched
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .repartition(p, col("doc_id"))
      .localCheckpoint()
    var labelIds = persistedIds -- beforeInit
    // convergence by exact label-mass comparison: labels only ever
    // DECREASE elementwise, so the label sum strictly decreases until the
    // fixpoint — one map-side-combined agg over the just-materialized
    // checkpoint, no join. decimal(38,0): exact at any corpus (an int64
    // sum would wrap at ~10^7 docs × 10^11 ids).
    def mass(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
    var prevMass = mass(labels)
    var rounds = 0
    var converged = false
    while (!converged) {
      rounds += 1
      // propagate each node's current label to its neighbors, then take
      // the min of (own label, neighbor labels) — partial-aggregated
      // map-side before the one exchange on doc_id. (AQE stays ON here:
      // measured at sf0.1 it runtime-broadcasts this join and beats the
      // static plan by ~25% per round — see PERF.md round 4.)
      val prop = edges.join(labels, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      // LAZY checkpoint: the mass probe below materializes the round's
      // labels AND computes the convergence sum in ONE job — an eager
      // checkpoint would spend a separate job per round on
      // materialization. The explicit repartition keeps the agg at the
      // graph-sized width p (its hash distribution satisfies the
      // groupBy, so no extra exchange). Measured and rejected: pointer
      // jumping (label∘label per cycle) cut rounds 7→5 at sf0.1 but the
      // extra self-join shuffle per cycle cost more than the rounds it
      // saved (5.3 s vs 3.4 s warm) — see PERF.md round 4.
      val before = persistedIds
      val merged = labels.union(prop)
        .repartition(p, col("doc_id"))
        .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
      val acc =
        if (rounds <= JumpAfter) merged
        else {
          // escalated round: compose the label table with itself so every
          // label jumps straight to its current root — halves the
          // remaining chain depth per round. cluster_id always names a
          // touched doc (own id or a neighbor's), so the inner join is
          // total. The intermediate checkpoint keeps the self-join from
          // recomputing the merge twice; its blocks are freed with the
          // round's (diff-tracked below).
          val m = merged.localCheckpoint(false)
          val lookup = m.select(col("doc_id").as("root_id"),
            col("cluster_id").as("root_cluster"))
          m.join(lookup, col("cluster_id") === col("root_id"))
            .select(col("doc_id"), col("root_cluster").as("cluster_id"))
        }
      val next = acc.localCheckpoint(false) // truncate lineage: plan stays O(1)/round
      val nextMass = mass(next) // materializes the lazy checkpoint
      val nextIds = persistedIds -- before
      freeIds(labelIds) // the superseded round's blocks — next is live now
      labelIds = nextIds
      converged = nextMass.compareTo(prevMass) == 0
      prevMass = nextMass
      labels = next
    }
    edges.unpersist()
    // stitch the untouched majority back in as singleton clusters
    val all = docs.select(col("doc_id"))
    val full = all.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
    (full, rounds)
  }

  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    ensureClusterLabels(s, dir)

  /** Per-(application, dir) label-stream roots for q192 — built once
    * (adopt + two arrival epochs), then every read serves the root
    * (the adcRoots discipline).
    */
  private val labelRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** Per-(application, dir) staged band directories of the q184 build —
    * the old shard's (b, g)-partitioned band artifact
    * ([[graft.streaming.LabelBandIndex]]); tracked so a takedown purge
    * physically drops it with the rest of the demo family.
    */
  private[queries] val q184BandRoots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]

  /** A warehouse-rooted directory for a staged DEMO artifact (the q184
    * band index, the q192 stream root): on a real cluster the session
    * warehouse is shared storage every executor can read, where a
    * driver-local temp dir is not — so the demo paths exercise the
    * production layout. Clears an orphan left by an earlier JVM
    * ([[graft.Staged.clear]]).
    */
  private[queries] def warehouseDir(s: SparkSession, name: String): String = {
    // scoped by applicationId (r21, the advisor's concurrency fix): the
    // bare deterministic name meant two sessions sharing a warehouse and
    // corpus dir would delete each other's LIVE demo roots through the
    // orphan cleanup below — with the id in the path, the cleanup can
    // only ever clear this application's own earlier leftovers (a
    // re-created session id re-uses its path; distinct sessions never
    // collide). Dead sessions may leave orphans, which is the ordinary
    // temp-artifact trade and strictly safer than cross-session deletes.
    graft.Staged.clear(s,
      s"${name}_${graft.Staged.tag(s.sparkContext.applicationId)}")
  }

  /** The near-dup-diversified cut (q164's defining half): suppress each
    * (query, cluster)'s non-best twins BEFORE the per-query rank cut —
    * so lower-ranked DISTINCT documents backfill the page — then cut.
    * Shared by the corpus-sampled entry and [[diverseTopDocsFor]].
    */
  private def diversifiedCut(s: SparkSession, dir: String,
      scored: DataFrame): DataFrame = {
    val labels = queries("q150_clusters64")(s, dir)
    val wc = Window.partitionBy("qid", "cluster_id")
      .orderBy(desc("score_u"), asc("doc_id"))
    TextAnalysis.topPerQid(scored.join(labels, Seq("doc_id"))
        .withColumn("pr", row_number().over(wc)).filter(col("pr") === 1),
      "score_u", TextAnalysis.Bm25TopK,
      "qid", "rnk", "doc_id", "cluster_id", "score_u")
  }

  /** External-query diversified serve — q164 for a literal (qid BIGINT,
    * qtext STRING) relation (the [[TextAnalysis.bm25TopDocsFor]]
    * contract): the same BM25 scoring over the staged index, the same
    * cluster-twin suppression before the cut. The cluster map is the
    * corpus-scale q150 build (not a per-query cost — it amortizes over
    * every serve in the session exactly as the staged index does).
    */
  def diverseTopDocsFor(s: SparkSession, dir: String,
      qtexts: DataFrame): DataFrame =
    diversifiedCut(s, dir, TextAnalysis.bm25ScoredDocsFor(s, dir, qtexts))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // transitive near-dup cluster assignment: every document labeled with
    // the min doc_id of its connected component in the q27 pair graph
    "q43_neardup_clusters" -> ((s, dir) => clusterLabels(s, dir)),

    // the AT-SCALE clustering chain: identical transitive machinery
    // ([[propagateMin]] — bounded rounds, pointer-jump escalation,
    // driver fast path under the proven edge bound) over the 64-BIT
    // pair graph (q42) instead of the 32-bit one (q27/q43).
    // CompositeScaleSpec MEASURED why this member exists: at 50k docs
    // the 32-bit sketch's hamming ≤ 8 bar admits band candidates of
    // unrelated documents at the birthday rate (~19% given a shared
    // 11-bit band) and the q43 graph over-merges far beyond the true
    // duplicates; the 64-bit bar's rate (~2·10⁻⁶) keeps the edge set ∝
    // true collisions, so these labels are the ones a 100 TB dedup run
    // feeds to the survivor/weight/budget composites (which all
    // parametrize over a label relation of this exact shape). Served
    // from the STAGED table ([[ensureClusterLabels64]]) — the session
    // pays the closure once; q151/q164/q170/q175 read the artifact.
    "q150_clusters64" -> ((s, dir) => ensureClusterLabels64(s, dir)),

    // incremental label maintenance ([[appendLabels64]]): the corpus
    // split into a staged seven-eighths and a late-arriving delta
    // shard (doc_id % 8 = 3 — the corpus-growth analogue of the
    // takedown sample's residue), the old half clustered with its own
    // honest parameters, then the delta APPENDED — delta-involving
    // pairs only, old clusters contracted to super-nodes, the shared
    // propagateMin over the collision-sized contracted graph. The
    // oracle is q150's fresh union closure VERBATIM — the identity is
    // the point (the q173 stance for the label artifact): appending
    // the shard must equal re-clustering the grown corpus, because at
    // 100 TB the append is what actually runs. Staged once per
    // (session, dir) under the ensureClusterLabels discipline (the
    // appended labels are the SAME materialized corpus artifact a
    // fresh closure stages — q150's bench amortization applies).
    "q184_label_append" -> ((s, dir) => ensureAppendedLabels(s, dir)),

    // streaming label maintenance ([[graft.streaming.LabelStream]] —
    // the q173 stance for the label artifact): the seven-eighths base
    // ADOPTS (sketches + its honestly-parameterized staged labels, band
    // width frozen), the residue-3 delta ARRIVES as two exactly-once
    // epochs, and the served last-write-wins labels must equal the
    // fresh union closure — q150's oracle text VERBATIM, the identity
    // is the point. Each epoch stores only the batch's sketch+label
    // rows plus the CHANGED prior labels (arrival-collision-sized,
    // never corpus-sized); texts are never re-read after adoption.
    "q192_label_stream" -> ((s, dir) => {
      val root = labelRoots.computeIfAbsent(
        (s.sparkContext.applicationId, dir), _ => {
          val r = warehouseDir(s, graft.Staged.name("q192_root", dir))
          // the root's universe excludes the purged ledger (a purge
          // deletes the root — [[dropAppendedDemos]] — and the rebuild
          // must not re-adopt erased documents)
          val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
          val docs = graft.StagedTombstones.masked(s,
            Tables.wide(s, dir, "documents"),
            if (purged.isEmpty) None else Some(purged), "doc_id")
          val base = docs.filter(col("doc_id") % 8 =!= 3)
          val nBase = base.count()
          val (baseLabels, _) = propagateMin(s,
            Similarity.simhash64PairsOver(base, nBase)
              .select(col("doc_a"), col("doc_b")),
            base.select(col("doc_id")))
          graft.streaming.LabelStream.initRoot(s, r, base, baseLabels,
            Similarity.bandWidth64For(nBase))
          val delta = docs.filter(col("doc_id") % 8 === 3)
            .select(col("doc_id"), col("text"))
          graft.streaming.LabelStream.processLabelBatch(s,
            delta.filter(col("doc_id") % 16 === 3), 0L, r)
          // consolidation sits ON the oracle path: epoch 0 folds into a
          // fresh base (crash-safe automated re-adoption) and the second
          // arrival appends AGAINST the consolidated band index — the
          // served labels must still equal the fresh union closure, so
          // the driver's hash check exercises adoption, append,
          // consolidation, and the post-consolidation append in one row
          graft.streaming.LabelStream.consolidate(s, r)
          graft.streaming.LabelStream.processLabelBatch(s,
            delta.filter(col("doc_id") % 16 === 11), 1L, r)
          r
        })
      graft.streaming.LabelStream.servableLabels(s, root)
    }),

    // append-exactness drift card — the REBUILD SIGNAL beside q184
    // (the q183/q186 stance for the label append): the append is exact
    // while corpus growth neither changes the derived band width nor
    // pushes a band bucket past the cap, and this card MEASURES both
    // boundaries for the residue-3 split instead of assuming them. One
    // row: the old shard's and union's derived widths, the bucket
    // count, how many buckets CROSSED the cap with the growth (old
    // occupancy ≤ cap < union occupancy — exactly the buckets whose
    // old-old pairs a fresh build would drop but the append kept), and
    // the verdict bit. append_exact = 1 is a GUARANTEE (sufficient
    // condition) — keep appending; 0 only WITHDRAWS the guarantee: the
    // divergence surface is confined to the crossed buckets' old-old
    // pairs, which may still be redundant (covered by other bands or
    // past the hamming bar) — MEASURED at sf0.01, where the card reads
    // one crossed bucket yet the q184 fresh-closure identity still
    // holds. The conservative read is the operational one: 0 means
    // re-cluster — and the verdict is CONSUMED, not just published:
    // [[ensureAppendedLabels]] runs the same exactness test (width
    // compare + [[capCrossings]] over its pruned band pair) and stages
    // the fresh union closure instead of the append when it reads 0.
    // Plan: ONE narrow union band build + two map-combined aggregates
    // to one row — all integers, cross-engine exact.
    "q191_append_drift_card" -> ((s, dir) => {
      // the card certifies q184/q192 BUILDS, and those builds mask the
      // purged ledger — measuring widths/crossings over the raw corpus
      // would let a bucket that is cap-crossed raw but under-cap masked
      // read as not-crossed for a build sitting exactly at the boundary,
      // so the card's universe is the builds' own (documented divergence
      // from the unmasked SQL oracle: they coincide until a purge, and
      // the oracle session never purges)
      val purged = graft.StagedTombstones.purgedDocIds(s, dir).toSeq
      val docs = graft.StagedTombstones.masked(s,
        Tables.wide(s, dir, "documents"),
        if (purged.isEmpty) None else Some(purged), "doc_id")
      val nOld = docs.filter(col("doc_id") % 8 =!= 3).count()
      val nU =
        if (purged.isEmpty) Tables.rowCount(s, dir, "documents")
        else docs.count()
      val wOld = Similarity.bandWidth64For(nOld)
      val wU = Similarity.bandWidth64For(nU)
      val (bands, _) = Similarity.band64RelationOver(docs, nU)
      bands
        .groupBy("b", "bk").agg(
          count(lit(1)).as("kc"),
          sum(when(col("doc_id") % 8 =!= 3, 1L).otherwise(0L)).as("kold"))
        .agg(
          count(lit(1)).as("n_buckets"),
          coalesce(sum(when(col("kold") <= Similarity.MaxBandDocs &&
            col("kc") > Similarity.MaxBandDocs, 1L).otherwise(0L)), lit(0L))
            .as("n_crossed"))
        .select(lit(wOld.toLong).as("w_old"), lit(wU.toLong).as("w_union"),
          col("n_buckets"), col("n_crossed"),
          when(lit(wOld == wU) && col("n_crossed") === 0L, 1L)
            .otherwise(0L).as("append_exact"))
    }),

    // survivor report: one row per component — the kept (minimum) doc_id
    // and how many documents merged into it. `keep_id = doc_id` rows of
    // q43 are the post-dedup corpus; this is its accounting view.
    "q44_dedup_survivors" -> ((s, dir) =>
      clusterLabels(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .select(col("cluster_id").as("keep_id"), col("cluster_size"))),

    // cluster-aware prep pipeline — the production training-data flow the
    // clustering exists for: q36's shape with the exact-hash dedup swapped
    // for q43's transitive near-dup clusters (keep the minimum doc_id per
    // component — strictly stronger than exact-hash: identical texts share
    // a sketch, so every q36 drop is also a q52 drop), then the SAME
    // score-and-filter stage ([[TextAnalysis.prepScore]] — one
    // definition, zero drift). The cluster filter is a narrow predicate
    // on the label table; the semi join to fetch survivor text shuffles
    // on doc_id (broadcast at bench scale via AQE).
    "q52_cluster_prep" -> ((s, dir) => {
      val kept = clusterLabels(s, dir)
        .filter(col("doc_id") === col("cluster_id"))
        .select("doc_id")
      TextAnalysis.prepScore(
        Tables(s, dir, "documents").join(kept, Seq("doc_id"), "left_semi")
          .select("doc_id", "text"))
    }),

    // quality-aware survivor selection — the PRODUCTION pick q44's
    // min-id deliberately simplifies away: within each near-dup
    // component, keep the highest-quality document (q18's score — ONE
    // definition, referenced not re-derived), ties broken by min
    // doc_id, nulls (untokenizable docs) last. This is what a real
    // dedup pass ships: the cluster's best copy, not its smallest id.
    // Plan shape: the label table joins the per-doc quality column on
    // doc_id (equi-join), and the pick is a window PARTITIONED BY
    // cluster — each window sees one component's rows, never a
    // corpus-wide sort; cluster_size rides the same partition as a
    // windowed count, so the whole report is ONE shuffle past the
    // shared clustering.
    "q105_quality_survivors" -> ((s, dir) =>
      qualitySurvivorsFrom(s, dir, clusterLabels(s, dir))),

    // the at-scale survivor pick: the IDENTICAL quality-argmax
    // ([[qualitySurvivorsFrom]] — ONE pick implementation under two
    // label sources) over q150's 64-bit cluster labels — the
    // "dedup at scale, keep the best copy" read a 100 TB run actually
    // executes, with the label source whose edges track true
    // collisions (see q150's rationale).
    "q151_survivors64" -> ((s, dir) =>
      qualitySurvivorsFrom(s, dir, queries("q150_clusters64")(s, dir))),

    // takedown-impact card — the blast-radius report an operator reads
    // BEFORE approving a deletion batch (the [[graft.streaming.Tombstones]]
    // protocol is the execution half; this is the decision half): per
    // source, how many requested documents there are, their token mass,
    // and how many are their cluster's KEPT copy (q151's at-scale
    // survivor pick — deleting a survivor decapitates a cluster whose
    // other copies were already dropped; deleting a non-survivor copy
    // is free). The request here is the corpus-adaptive id sample (the
    // q148 discipline — the operator parametrizes over any bounded id
    // relation). Plan: the request side broadcasts (request-sized); the
    // q151 build is the honest corpus-scale cost; ONE map-combined
    // aggregate to ≤ |sources| rows.
    // cluster-complete takedown expansion — the operator between q170
    // (the impact card) and the tombstone protocols: a GDPR/takedown
    // request names ids, but the corpus may carry near-verbatim COPIES
    // of the same content, and an erasure that honors intent expands
    // the request to each id's whole near-dup cluster (q150's at-scale
    // labels) BEFORE filing. Emits one row per (requested id, cluster
    // member) — the member set IS the expanded id list the tombstone
    // APIs (`StagedTombstones.deleteDocs`, `Tombstones.delete`) take;
    // a singleton expands to itself; a never-clustered request id is
    // still its own cluster (q150 labels every document). Request =
    // the corpus-adaptive residue-1 modulus sample (q172/q174's
    // takedown-request shape). Plan: the honest q150 corpus-scale
    // build + ONE equi-join of the labels relation against the
    // request's broadcast cluster list — member fan-out is
    // request-sized, never corpus-tracking.
    "q175_takedown_expand" -> ((s, dir) => {
      val nd = Tables.rowCount(s, dir, "documents")
      val tmod = math.max(5L, (nd + 7) / 8)
      val req = Tables(s, dir, "documents")
        .filter(col("doc_id") % tmod === 1).select(col("doc_id"))
      val labels = queries("q150_clusters64")(s, dir)
      val reqClusters = labels.join(broadcast(req), Seq("doc_id"))
        .select(col("doc_id").as("req_id"), col("cluster_id"))
      labels.select(col("cluster_id"), col("doc_id").as("member_id"))
        .join(broadcast(reqClusters), Seq("cluster_id"))
        .select(col("req_id").as("doc_id"), col("cluster_id"),
          col("member_id"))
    }),

    "q170_takedown_impact" -> ((s, dir) => {
      val req = TextAnalysis.docModQids(s, dir)
        .select(col("qid").as("doc_id"))
      val surv = queries("q151_survivors64")(s, dir)
        .select(col("keep_id").as("doc_id"), lit(1L).as("is_surv"))
      Tables.wide(s, dir, "documents")
        .join(broadcast(req), Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          coalesce(size(graft.functions.TextFunctions.tokens(col("text")))
            .cast("long"), lit(0L)).as("n_tokens"))
        .join(surv, Seq("doc_id"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("token_mass"),
          sum(coalesce(col("is_surv"), lit(0L))).as("n_survivors"))
        // n_docs ≥ 1 per emitted group, so the ANSI div is safe
        .withColumn("survivor_pm",
          expr("(n_survivors * 1000) div n_docs"))
    }),

    // near-dup-diversified retrieval serve — what a production serve
    // returns when the corpus still carries duplicate families: q148's
    // BM25 ranking with at most ONE document per near-dup cluster
    // (q150's at-scale labels), lower-scored distinct documents
    // backfilling the freed ranks. The suppression must run on the
    // scored-but-UNCUT candidates ([[TextAnalysis.bm25ScoredDocs]]) —
    // diversifying after the top-k cut could only shrink the page,
    // never backfill it. Within a cluster the kept hit is the
    // best-scoring copy (ties to min doc_id — the serve's own order).
    // Plan shape: candidates are postings-bounded (never corpus-sized),
    // the label join is an equi-join on doc_id, and both windows
    // partition by qid (+cluster) — no corpus-wide sort anywhere.
    "q164_diverse_topk" -> ((s, dir) =>
      diversifiedCut(s, dir, TextAnalysis.bm25ScoredDocs(
        s, dir, TextAnalysis.docModQids(s, dir)))),

    // dedup corpus-health card — the one-row "how duplicated is this
    // corpus" read over the staged at-scale labels (q150's artifact, so
    // the card is ~free once any cluster consumer ran): document count,
    // cluster count, the largest near-dup family, and the duplicate
    // share in integer per-mille (documents that are NOT their
    // cluster's canonical copy — exactly the rows a q151 survivor pass
    // would drop). The number a curation owner reads before/after a
    // dedup pass and the capacity signal for takedown-expansion blast
    // radius (a large max_cluster means one request can expand wide).
    // Plan: ONE map-combined count per cluster then a 1-row fold —
    // no window, no sort, nothing corpus-wide but the staged scan.
    "q177_dedup_card" -> ((s, dir) => {
      val sizes = queries("q150_clusters64")(s, dir)
        .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      sizes.agg(
          coalesce(sum("csize"), lit(0L)).as("n_docs"),
          count(lit(1)).as("n_clusters"),
          coalesce(max("csize"), lit(0L)).as("max_cluster"))
        .withColumn("dup_docs", col("n_docs") - col("n_clusters"))
        .withColumn("dup_pm",
          when(col("n_docs") >= 1, expr("(dup_docs * 1000) div n_docs")))
    }),

    // soft dedup — the REWEIGHTING alternative to dropping duplicates
    // (q44/q105 keep one copy per component; this keeps every copy and
    // divides its sampling mass by the component size, so a document
    // duplicated k times contributes the same expected training mass as
    // a unique one while retaining all k provenance rows — the
    // "duplicates down-weighted, not destroyed" policy a pipeline wants
    // when near-dups carry distinct metadata or licensing). Weights are
    // integer parts-per-million (1e6 div cluster_size — exact on both
    // engines; a float 1/k could never hash-match), so singletons weigh
    // exactly 1e6 and a k-cluster's copies sum to ≤ 1e6 with the
    // remainder a documented floor loss. Plan shape: the shared q43
    // labels + ONE windowed count partitioned by cluster — each window
    // sees one component's rows (bounded by the largest near-dup
    // cluster, never corpus-wide), no self-join back.
    "q127_soft_dedup" -> ((s, dir) => {
      clusterLabels(s, dir)
        .select(col("doc_id"), col("cluster_id"),
          count(lit(1)).over(Window.partitionBy("cluster_id"))
            .as("cluster_size"))
        .withColumn("weight_ppm",
          expr("CAST(1000000 div cluster_size AS BIGINT)"))
    }),

    // link analysis beside the components: PageRank over the near-dup
    // pair graph (a document central to many near-dup relations is the
    // cluster's natural representative candidate — the ranking signal
    // q44's min-id pick deliberately ignores). Cross-engine float
    // PageRank is impossible to hash-match (per-node sums are unordered
    // float adds), so this is INTEGER FIXED-POINT PageRank: ranks in
    // units of 10^-12, damping 85/100, every step an integer multiply /
    // floor-divide / integer sum — order-independent and bit-identical
    // on both engines by construction. Dangling mass is not
    // redistributed (isolated docs hold the base rank — documented,
    // deterministic). Plan shape per iteration: ONE shuffle join
    // (ranks into edge sources) + ONE map-side-combined integer sum —
    // the q43 round shape; 3 fixed iterations compose as a single
    // declarative plan (an open-ended loop would checkpoint per round
    // exactly as propagateMin does).
    "q69_pagerank" -> ((s, dir) => {
      val ScaleV = 1000000000000L
      val Iters = 3
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val n = Tables.rowCount(s, dir, "documents")
      if (n == 0L) docs.select(col("doc_id"), lit(0L).as("rank"))
      else {
        val base = ((ScaleV / n) * 15L) / 100L
        val pairs = Similarity.queries("q27_simhash_pairs")(s, dir)
          .select(col("doc_a"), col("doc_b"))
        val edges = pairs
          .union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
          .toDF("src", "dst")
          .persist() // read every iteration (cluster scale: a staged table)
        val degrees = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        var p = docs.select(col("doc_id"), lit(ScaleV / n).as("rank"))
        for (_ <- 1 to Iters) {
          val contribs = edges
            .join(p.select(col("doc_id").as("src"), col("rank")), "src")
            .join(degrees, "src")
            // floor-divide ladder, NOT float: deterministic at any scale
            .select(col("dst"), expr("((rank * 85) div 100) div deg").as("c"))
          p = docs
            .join(contribs.groupBy("dst").agg(sum(col("c")).as("sc")),
              col("doc_id") === col("dst"), "left")
            .select(col("doc_id"),
              (lit(base) + coalesce(col("sc"), lit(0L))).as("rank"))
        }
        p
      }
    }),

    // triangle support beside PageRank: per document, the number of
    // near-dup triangles it sits in — the local clustering signal that
    // separates a document inside a dense copy-clique (template spam,
    // mirrored sites) from one on a thin near-dup chain, which q44's
    // cluster_size alone cannot (both can share a component). The
    // standard distributed formulation: ordered edges (a<b from q27's
    // pair contract), wedges by ONE equi-join on the shared middle
    // vertex, closed by a second equi-join against the edge list — every
    // triangle a<b<c counted exactly once, never an enumeration of
    // vertex neighborhoods. Per-node degree is already bounded by q27's
    // band caps (a capped bucket admits ≤ MaxBandDocs docs), which is
    // what bounds the wedge blowup at corpus scale; hot middles beyond
    // that are AQE skew-split territory.
    "q77_triangle_support" -> ((s, dir) => {
      val edges = Similarity.queries("q27_simhash_pairs")(s, dir)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
        .persist() // feeds all three sides of the wedge-close join
      val tri = edges.alias("e1")
        .join(edges.alias("e2"), col("e1.b") === col("e2.a"))
        .join(edges.alias("e3"),
          col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
        .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
      tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("triangles"))
    }))

  /** The quality-argmax survivor pick over an arbitrary
    * (doc_id, cluster_id) label relation — ONE implementation shared by
    * q105 (32-bit labels) and q151 (q150's 64-bit labels): one doc_id
    * equi-join of the shared q18 quality, ONE cluster-partitioned
    * window carrying rank and size in the same shuffle.
    */
  private def qualitySurvivorsFrom(s: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    val quality = TextAnalysis.queries("q18_quality_score")(s, dir)
      .select(col("doc_id"), col("quality"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc_nulls_last, col("doc_id").asc)
    labels.join(quality, "doc_id")
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        row_number().over(w).as("rk"),
        count(lit(1)).over(Window.partitionBy("cluster_id"))
          .as("cluster_size"))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("cluster_size"), col("quality").as("keep_quality"))
  }

  // DuckDB mirrors: transitive closure as a recursive CTE over the SAME
  // pair CTE chain q27's oracle uses (Similarity.SqlSimhashPairCtes) —
  // `walk` reaches (id, lbl) whenever lbl's doc can reach id through the
  // symmetrized pair graph, so MIN(lbl) per id is the component minimum.
  // UNION (not UNION ALL) in the recursive member is the fixpoint/
  // termination condition.
  private[queries] def sqlClusters: String =
    s"""WITH RECURSIVE ${Similarity.SqlSimhashPairCtes},
       |pairs AS (${Similarity.SqlSimhashPairSelect.replace("\n", " ")}),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       |clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
       |  FROM walk GROUP BY id)""".stripMargin

  /** [[sqlClusters]]'s 64-bit twin: the recursive closure with the q42
    * oracle statement embedded verbatim as the pair source; ends in the
    * same `clusters` CTE so the survivor tail composes over either.
    */
  private[queries] def sqlClusters64: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM
       |  (${Similarity.oracleSql("q42_simhash64_pairs")}) z),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id),
       |clusters AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id
       |  FROM walk GROUP BY id)""".stripMargin

  /** The survivor-pick tail over a `clusters` CTE — q105/q151's shared
    * SQL text (the q18 quality derivation + the cluster-partitioned
    * rank/size window).
    */
  private def sqlSurvivorTail: String =
    s"""qt AS (SELECT doc_id, trim(text) AS tt, ${TextAnalysis.Toks} AS tk
       |  FROM documents),
       |qm AS (SELECT doc_id, len(tk) AS n_tokens,
       |  len(list_filter(tk, x -> x IN ${TextAnalysis.sqlStops("en")})) AS stops
       |  FROM qt),
       |qq AS (SELECT doc_id,
       |  CASE WHEN n_tokens > 0
       |    THEN CAST(stops AS DOUBLE)/CAST(n_tokens AS DOUBLE) END*0.4
       |    + least(1.0, CAST(n_tokens AS DOUBLE)/50.0)*0.6 AS quality FROM qm),
       |r AS (SELECT c.cluster_id, c.doc_id, qq.quality,
       |  ROW_NUMBER() OVER (PARTITION BY c.cluster_id
       |    ORDER BY qq.quality DESC NULLS LAST, c.doc_id) AS rk,
       |  COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
       |  FROM clusters c JOIN qq ON qq.doc_id = c.doc_id)
       |SELECT cluster_id, doc_id AS keep_id,
       |  CAST(cluster_size AS BIGINT) AS cluster_size,
       |  quality AS keep_quality
       |FROM r WHERE rk = 1""".stripMargin

  /** One integer PageRank step: per-edge floor-divided contributions,
    * exact integer sums (HUGEINT cast back — the q49 lesson), base rank
    * stitched onto every document via left join (isolated docs receive
    * no contributions).
    */
  private def sqlPrIter(i: Int): String = {
    val prev = s"pr${i - 1}"
    s"""prc$i AS (SELECT e.dst, ((p.rank * 85) // 100) // g.deg AS c
       |  FROM edges e JOIN $prev p ON p.doc_id = e.src JOIN deg g ON g.src = e.src),
       |prs$i AS (SELECT dst, CAST(SUM(c) AS BIGINT) AS sc FROM prc$i GROUP BY dst),
       |pr$i AS (SELECT d.doc_id,
       |  (SELECT ((1000000000000 // n) * 15) // 100 FROM nn) + COALESCE(s.sc, 0) AS rank
       |  FROM documents d LEFT JOIN prs$i s ON s.dst = d.doc_id)""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q43_neardup_clusters" ->
      s"$sqlClusters\nSELECT doc_id, cluster_id FROM clusters",

    // the same recursive closure over the 64-bit pair graph — the q42
    // oracle statement embedded VERBATIM as the pair source (the
    // nested-WITH composition discipline), so the at-scale chain
    // audits THE q42 operator
    "q150_clusters64" ->
      s"$sqlClusters64\nSELECT doc_id, cluster_id FROM clusters",

    // the FRESH union closure, verbatim — the incremental append's
    // exactness contract IS this identity (see appendLabels64: exact
    // whenever the growth moves no band parameter past its boundary,
    // which holds for the 1/8-shard split at the verified scales)
    "q184_label_append" ->
      s"$sqlClusters64\nSELECT doc_id, cluster_id FROM clusters",

    // the fresh union closure, verbatim — the streamed arrivals must
    // label exactly like a fresh re-cluster of the grown corpus (the
    // q173 identity stance; same conditional boundary as q184,
    // measured by q191)
    "q192_label_stream" ->
      s"$sqlClusters64\nSELECT doc_id, cluster_id FROM clusters",

    // the factored 64-bit band CTEs (union width via wp), the old
    // shard's width derived the same way over the reduced count, and
    // the cap-crossing fold — all integers
    "q191_append_drift_card" ->
      s"""WITH ${Similarity.Sql64BandCtes},
         |wold AS (SELECT CAST(COALESCE(MIN(j), 32) AS BIGINT) AS w
         |  FROM (VALUES (8),(16),(32)) t(j)
         |  WHERE (CAST(1 AS BIGINT) << j) * 25 >=
         |    (SELECT count(*) FROM documents WHERE doc_id % 8 != 3)),
         |kch AS (SELECT b, bk, CAST(COUNT(*) AS BIGINT) AS kc,
         |  CAST(SUM(CASE WHEN doc_id % 8 != 3 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS kold
         |  FROM bands GROUP BY b, bk)
         |SELECT (SELECT w FROM wold) AS w_old, (SELECT w FROM wp) AS w_union,
         |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |  CAST(COALESCE(SUM(CASE WHEN kold <= ${Similarity.MaxBandDocs}
         |    AND kc > ${Similarity.MaxBandDocs} THEN 1 ELSE 0 END), 0)
         |    AS BIGINT) AS n_crossed,
         |  CAST(CASE WHEN (SELECT w FROM wold) = (SELECT w FROM wp)
         |    AND COALESCE(SUM(CASE WHEN kold <= ${Similarity.MaxBandDocs}
         |      AND kc > ${Similarity.MaxBandDocs} THEN 1 ELSE 0 END), 0) = 0
         |    THEN 1 ELSE 0 END AS BIGINT) AS append_exact
         |FROM kch""".stripMargin,

    // the diversified serve: the q150 closure and the q148 scored
    // candidates spliced into ONE chain (sqlBm25Ctes carries no WITH
    // for exactly this composition), then cluster-suppress BEFORE the
    // rank cut
    "q164_diverse_topk" ->
      s"""$sqlClusters64,
         |${TextAnalysis.sqlBm25Ctes(TextAnalysis.sqlDocModQs)},
         |dj AS (SELECT sc.qid, sc.doc_id, cl.cluster_id, sc.score_u
         |  FROM sc JOIN clusters cl USING (doc_id)),
         |dp AS (SELECT qid, doc_id, cluster_id, score_u FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid, cluster_id
         |     ORDER BY score_u DESC, doc_id) AS pr FROM dj) z WHERE pr = 1)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, doc_id, cluster_id,
         |  score_u FROM
         |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |     ORDER BY score_u DESC, doc_id) AS rnk FROM dp) r
         |WHERE rnk <= ${TextAnalysis.Bm25TopK}""".stripMargin,

    "q69_pagerank" ->
      s"""WITH ${Similarity.SqlSimhashPairCtes},
         |prpairs AS (${Similarity.SqlSimhashPairSelect.replace("\n", " ")}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prpairs
         |  UNION ALL SELECT doc_b, doc_a FROM prpairs),
         |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
         |nn AS (SELECT count(*) AS n FROM documents),
         |pr0 AS (SELECT doc_id, (SELECT 1000000000000 // n FROM nn) AS rank
         |  FROM documents),
         |${(1 to 3).map(sqlPrIter).mkString(",\n")}
         |SELECT doc_id, rank FROM pr3""".stripMargin,

    "q44_dedup_survivors" ->
      s"""$sqlClusters
         |SELECT cluster_id AS keep_id, COUNT(*) AS cluster_size
         |FROM clusters GROUP BY cluster_id""".stripMargin,

    // the same cluster CTE chain; weight = integer ppm floor-divide by
    // the component's windowed count
    "q127_soft_dedup" ->
      s"""$sqlClusters
         |SELECT doc_id, cluster_id,
         |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |    AS cluster_size,
         |  CAST(1000000 // COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
         |    AS weight_ppm
         |FROM clusters""".stripMargin,

    // the SAME cluster CTE chain + q18's quality SQL verbatim, picked by
    // a per-cluster window (quality DESC NULLS LAST, doc_id)
    "q105_quality_survivors" ->
      s"$sqlClusters,\n$sqlSurvivorTail",

    // the identical pick text over the 64-bit cluster CTE — the SQL
    // twin of the ONE-implementation-two-label-sources factoring
    "q151_survivors64" ->
      s"$sqlClusters64,\n$sqlSurvivorTail",

    // the q151 statement embedded VERBATIM (nested-WITH) as the
    // survivor source; request = the shared doc-modulus sample
    // the q150 closure embedded verbatim, then the request's clusters
    // fanned to their full member sets
    "q175_takedown_expand" ->
      s"""$sqlClusters64,
         |req AS (SELECT doc_id FROM documents,
         |  (SELECT GREATEST(5, (COUNT(*) + 7) // 8) AS tmod FROM documents) tm
         |  WHERE doc_id % tmod = 1),
         |rc AS (SELECT r.doc_id, c.cluster_id
         |  FROM req r JOIN clusters c ON c.doc_id = r.doc_id)
         |SELECT rc.doc_id, rc.cluster_id, m.doc_id AS member_id
         |FROM rc JOIN clusters m ON m.cluster_id = rc.cluster_id""".stripMargin,

    // the same 64-bit closure, folded to per-cluster sizes then ONE
    // card row; every SUM CAST back from HUGEINT (the convention)
    "q177_dedup_card" ->
      s"""$sqlClusters64,
         |cs AS (SELECT cluster_id, COUNT(*) AS csize
         |  FROM clusters GROUP BY cluster_id)
         |SELECT CAST(COALESCE(SUM(csize), 0) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(COALESCE(MAX(csize), 0) AS BIGINT) AS max_cluster,
         |  CAST(COALESCE(SUM(csize), 0) - COUNT(*) AS BIGINT) AS dup_docs,
         |  CAST(CASE WHEN COALESCE(SUM(csize), 0) >= 1
         |    THEN ((COALESCE(SUM(csize), 0) - COUNT(*)) * 1000)
         |      // COALESCE(SUM(csize), 0) END AS BIGINT) AS dup_pm
         |FROM cs""".stripMargin,

    "q170_takedown_impact" ->
      s"""WITH sv AS ($sqlClusters64,
         |$sqlSurvivorTail),
         |rq AS (${TextAnalysis.sqlDocModQs}),
         |rd AS (SELECT d.doc_id, d.source,
         |  COALESCE(len(${TextAnalysis.Toks}), 0) AS n_tokens
         |  FROM documents d JOIN rq ON d.doc_id = rq.qid)
         |SELECT rd.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(rd.n_tokens) AS BIGINT) AS token_mass,
         |  CAST(SUM(CASE WHEN sv.keep_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_survivors,
         |  CAST((SUM(CASE WHEN sv.keep_id IS NOT NULL THEN 1 ELSE 0 END)
         |    * 1000) // COUNT(*) AS BIGINT) AS survivor_pm
         |FROM rd LEFT JOIN sv ON sv.keep_id = rd.doc_id
         |GROUP BY rd.source""".stripMargin,

    "q52_cluster_prep" ->
      s"""$sqlClusters,
         |kept AS (SELECT d.doc_id, d.text FROM documents d
         |  JOIN clusters c ON c.doc_id = d.doc_id AND c.doc_id = c.cluster_id),
         |${TextAnalysis.sqlPrepScore("kept")}
         |SELECT doc_id, n_tokens, quality FROM f
         |WHERE lang_guess = 'en' AND quality >= 0.5""".stripMargin,

    // the same ordered-wedge formulation over the shared pair CTEs:
    // each a<b<c triangle closes once, then explodes to its members
    "q77_triangle_support" ->
      s"""WITH ${Similarity.SqlSimhashPairCtes},
         |tpairs AS (${Similarity.SqlSimhashPairSelect.replace("\n", " ")}),
         |ed AS (SELECT doc_a AS a, doc_b AS b FROM tpairs),
         |tri AS (SELECT e1.a, e1.b, e2.b AS c
         |  FROM ed e1 JOIN ed e2 ON e1.b = e2.a
         |  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
         |x AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
         |SELECT doc_id, COUNT(*) AS triangles FROM x GROUP BY doc_id""".stripMargin)
}
