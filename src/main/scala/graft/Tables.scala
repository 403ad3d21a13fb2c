package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Testdata table readers (TESTDATA.md). Plain parquet scans — filters and
  * projections placed on top reach the scan via Catalyst pushdown, which is
  * the whole point: every query here must show PushedFilters/ReadSchema
  * pruning in `.explain("formatted")` before it counts as done.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) memo of the INFERRED parquet schema: the
    * testdata files under a dir never change within a session, so the
    * first read infers (footer read + listing) and every
    * later read supplies the identical schema explicitly — the
    * declared-schema read a catalog table gets for free, removing the
    * per-read inference work from every query that re-reads a base table
    * (r21). The memoized schema is the reader's own inference output, so
    * the resulting DataFrame is byte-identical. The value carries the
    * path's modification time ([[atMtime]]): an in-session writer
    * replacing a base-table file bumps the mtime and the next read
    * re-infers instead of silently reading nulls through a stale schema.
    */
  private[graft] val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), (Long, org.apache.spark.sql.types.StructType)]

  /** Per-(session, dir, table) memo of the table's ROW COUNT —
    * the catalog row-count statistic a real table format (Iceberg/Delta)
    * serves from manifest metadata, and parquet itself stores in every
    * footer. ~27 query constructions derive corpus-adaptive parameters
    * (band widths, sample moduli, bucket counts, request residues) from
    * a base table's count; each previously paid a metadata count JOB per
    * construction over data that is immutable within the session (and
    * the mtime the value carries invalidates it if it is not). The
    * value is the reader's own count over the raw parquet — never a filtered, masked, or
    * derived relation — so every downstream parameter is byte-identical
    * to the per-call derivation.
    */
  private[graft] val countMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), (Long, Long)]

  /** `memo`'s value for `key` at modification time `mtime`, computed when
    * the entry is absent or was recorded at another mtime. The new value
    * replaces the superseded one, so a memo keeps one entry per key
    * however often the file behind it is rewritten.
    */
  private[graft] def atMtime[K, V](
      memo: java.util.concurrent.ConcurrentHashMap[K, (Long, V)], key: K,
      mtime: Long)(value: => V): V =
    memo.compute(key, (_, old) =>
      if (old != null && old._1 == mtime) old else (mtime, value))._2

  private[graft] def mtimeOf(spark: SparkSession, dir: String, name: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    try p.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(p).getModificationTime
    catch { case _: java.io.FileNotFoundException => -1L } // read will fail loudly
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses natively;
    // with spark.sql.legacy.parquet.nanosAsLong=true (set in every session
    // builder of this project) it reads as nanos-since-epoch LongType, which
    // we truncate to µs — the same truncation DuckDB's CAST(ts AS TIMESTAMP)
    // applies, keeping oracle comparisons exact.
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(atMtime(schemaMemo,
      (spark.sparkContext.applicationId, dir, name),
      mtimeOf(spark, dir, name))(spark.read.parquet(path).schema))
      .parquet(path)
    if (name == "events" &&
        df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else df
  }

  /** The base table's row count (see [[countMemo]]): one metadata count
    * job per (session, dir, table) and mtime, then a constant. Callers use
    * this ONLY for corpus-adaptive parameter derivation over the raw
    * base tables — a masked/filtered relation's count must still run
    * per call (it depends on the mask, not just the table).
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    atMtime(countMemo, (spark.sparkContext.applicationId, dir, name),
      mtimeOf(spark, dir, name))(apply(spark, dir, name).count())

  /** Table scan rebalanced across all cores. The local fixture files are a
    * single parquet row-group, so the scan yields ONE partition and any
    * CPU-heavy sketch/pair stage on top runs single-threaded. Used only
    * where per-row compute dwarfs the one-time row exchange (sketches,
    * pair generation); at cluster scale the scan already yields thousands
    * of partitions and the repartition is a cheap width adjustment.
    */
  def wide(spark: SparkSession, dir: String, name: String): DataFrame =
    apply(spark, dir, name).repartition(spark.sparkContext.defaultParallelism)
}
