package graft

import org.apache.spark.sql.DataFrame

/** Bucketed staging — the co-located-join primitive for relations that
  * are joined on the same key repeatedly (the warehouse form of "pay the
  * shuffle once"). A table written with [[stage]] is hash-bucketed and
  * per-bucket sorted on the join key; any later equi-join between two
  * tables staged with the SAME key and bucket count satisfies both
  * sides' distribution requirements from the files alone, so the join
  * plans with ZERO Exchange operators (and zero per-query Sort when the
  * sort matches) — at 100 TB that is the difference between re-shuffling
  * the fact table on every query and never shuffling it again.
  *
  * Equality filters on the bucket key also prune at the BUCKET level
  * (the scan reads 1 of N buckets before any row is touched), the
  * file-count analogue of partition pruning for high-cardinality keys
  * that would explode a directory-per-value layout.
  *
  * Both properties are machine-pinned by BucketingSpec against the
  * physical plans, not assumed.
  *
  * Spark bucketing is a property of MANAGED tables (`saveAsTable`): the
  * bucket spec lives in the catalog, which is how readers learn the
  * files' distribution. Plain `parquet(path)` writes cannot carry it.
  */
object Bucketing {

  /** Default per-bucket row target for [[bucketCountFor]]: ~1M rows of a
    * narrow staged relation is tens of MB per bucket file — small enough
    * that a pruned point read is cheap, large enough that the file count
    * stays bounded.
    */
  val DefaultBucketRows: Long = 1L << 20

  /** Corpus-adaptive bucket count: the smallest power-of-two b in
    * [minBuckets, maxBuckets] with rows ≤ targetRows·b — the
    * `bandWidthFor` discipline applied to staged-table layout. A FIXED
    * count is wrong at both ends: at bench scale it's fine, but a
    * key-pruned serve over a petabyte postings table pinned at 8 buckets
    * reads 1/8 of a petabyte per term; derived from `count(*)`, the
    * pruned read stays proportionally small at any corpus. Powers of two
    * only (doubling from a power-of-two floor), so the derived count is
    * deterministic in the row count alone — same corpus, same layout,
    * any session. The cap bounds write-side file count (stage emits
    * exactly one file per bucket).
    */
  def bucketCountFor(rows: Long, targetRows: Long = DefaultBucketRows,
      minBuckets: Int = 8, maxBuckets: Int = 4096): Int = {
    require(targetRows >= 1, s"targetRows must be positive, got $targetRows")
    require(minBuckets >= 1 && (minBuckets & (minBuckets - 1)) == 0,
      s"minBuckets must be a positive power of two, got $minBuckets")
    require(maxBuckets >= minBuckets,
      s"maxBuckets $maxBuckets < minBuckets $minBuckets")
    var b = minBuckets
    while (b < maxBuckets && rows > targetRows * b.toLong) b *= 2
    b
  }

  /** Rewrite staged table `name` in place as `transform(current rows)`,
    * preserving its catalog bucket spec (count, key, sort) — the
    * physical-purge primitive: a takedown's masked rows leave the files,
    * not just the reads. The transformed rows stage under a scratch name
    * first (the source table must stay readable while the rewrite job
    * runs), then one catalog DROP + RENAME swaps it in — for a managed
    * table the rename moves the staged directory, so the data is written
    * exactly once. No-op if `name` does not exist AND no rewrite scratch
    * of it exists.
    *
    * Crash safety — the DROP→RENAME swap is two catalog operations, so a
    * crash between them leaves `name` missing with the completed rewrite
    * parked under the scratch name. Re-running recovers: the scratch
    * table (a full transformed copy by construction — it is only ever
    * staged COMPLETE before the drop) is renamed back in
    * ([[Staged.restored]], which every ensure runs too), then the
    * rewrite re-runs over it. That re-run applies `transform` to
    * already-transformed rows, so every transform passed here must be
    * IDEMPOTENT (the purge family's are: anti-join masks drop
    * already-dropped ids to a no-op, and the df rewrite recomputes from
    * the postings table rather than subtracting a delta). A scratch left
    * by an abort BEFORE the drop sits beside the intact `name` and is
    * simply re-staged over (stage() owns its name).
    */
  def rewriteInPlace(spark: org.apache.spark.sql.SparkSession, name: String,
      transform: DataFrame => DataFrame): Unit = {
    val tmp = Staged.scratch(name)
    // a crashed swap's scratch is restored under the serve name and the
    // rewrite re-runs over it (idempotent-transform contract above)
    if (!Staged.restored(spark, name)) return
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name))
    val spec = meta.bucketSpec.getOrElse(sys.error(
      s"$name is not a staged bucketed table"))
    val key = spec.bucketColumnNames.head
    stage(transform(spark.table(name)), tmp, key, spec.numBuckets)
    spark.sql(s"DROP TABLE `$name`")
    spark.sql(s"ALTER TABLE `$tmp` RENAME TO `$name`")
  }

  /** Stage `df` as managed table `name`, hash-bucketed AND per-bucket
    * sorted by `key` — exactly ONE file per bucket. Without the
    * key-repartition first, EVERY write task emits a file for every
    * bucket it holds rows for (tasks × buckets files): a 10k-task fact
    * scan at 1024 buckets would fragment into millions of small files,
    * recreating at write time the problem [[Compaction]] exists to fix —
    * and a bucketed table cannot be compacted by a plain rewrite without
    * destroying its catalog bucket spec. `repartition(buckets, key)`
    * uses the same murmur3-pmod placement as the bucket spec, so each
    * task holds exactly one bucket's rows.
    */
  def stage(df: DataFrame, name: String, key: String, buckets: Int): Unit = {
    Staged.clear(df.sparkSession, name) // staging OWNS the name
    df.repartition(buckets, df(key))
      .write
      .bucketBy(buckets, key)
      .sortBy(key)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(name)
  }
}
