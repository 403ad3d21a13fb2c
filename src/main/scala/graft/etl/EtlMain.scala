package graft.etl

import org.apache.spark.sql.SparkSession

/** CLI entry point — the reference's `bin/google-sheets-etl` role, wired to
  * the REAL sequence the stale reference CLI intended (SURVEY.md §0.1):
  * loadConfiguration → setUpAccounting → findSomeUpdatedSpreadsheets →
  * loadSomeUpdatedSpreadsheets → verifyOldestSpreadsheet.
  *
  * Usage: EtlMain <source> <etlConfig.json> <warehouseDir>
  *                [--schema S] [--prefix P] [--meta URL] [--stream CKPT]
  *
  * `<source>` selects the grid source behind the [[GridSource]] trait
  * (reference: bin/google-sheets-etl:15-39 for the argv contract this
  * mirrors — key file, schema, destination):
  *   - a directory → zero-egress [[LocalGridSource]] over grid fixtures;
  *   - a service-account key `.json` file → [[GoogleGridSource]] over the
  *     Drive + Sheets REST APIs (requires network egress).
  *
  * `--schema` / `--prefix` set [[TableNaming]] (R26) for BOTH the target
  * and accounting tables — the reference's `$database->schema` /
  * `$database->tablePrefix` caller-set agent fields
  * (src/DatabaseAgent.php:53-61, and bin/google-sheets-etl:22 passes a
  * schema at construction). `--meta URL` selects the accounting backend
  * via [[MetaStorage.forUrl]] (R27; default: parquet snapshots under
  * `<warehouseDir>/meta`).
  *
  * `--compact all|t1,t2` is a maintenance verb: instead of a load run,
  * compact the named target tables (`all` = every configured target) via
  * the layout-preserving [[TargetStore.compact]], then exit — the
  * scheduled aftercare for the small files the per-job partition
  * overwrites accumulate.
  *
  * `--stream CKPT` runs discovery as a Structured Streaming query instead
  * of the batch loop: [[GridDiscoveryProvider]] under
  * `Trigger.AvailableNow` drains everything past the checkpointed
  * `(modifiedTime, id)` offset into `foreachBatch` →
  * [[Tasks.loadDiscoveredBatch]], then exits — same bounded scheduled-run
  * model, but the cursor lives in the Spark checkpoint at CKPT rather
  * than the warehouse argmax (R14). Effects are identical and idempotent
  * either way (§7.4); directory sources only.
  *
  * `--compact-every N` (with `--stream`) runs the [[CompactCadence]]
  * aftercare inline: every N micro-batches that loaded at least one
  * sheet, the touched target tables are compacted in place — so a
  * long-lived discovery stream's target file counts stay bounded by the
  * cadence instead of growing with stream age.
  */
/** Streaming aftercare cadence (`--stream` + `--compact-every N`): a
  * long-lived discovery stream fragments its target tables through
  * chunked per-job partition overwrites; this counter compacts each
  * TOUCHED table after every N loaded micro-batches, so the file count
  * of a target is bounded by the cadence, not by stream age — the same
  * contract the streaming index keeps via `BatchProtocol.compactIndex`.
  * Idle batches (nothing loaded) don't advance the counter: an
  * all-quiet night never triggers a pointless full-table rewrite.
  */
private[etl] final class CompactCadence(targets: TargetStore, every: Int) {
  require(every > 0, s"compact-every must be positive, got $every")
  private var loadedBatches = 0
  private val touched = scala.collection.mutable.Set.empty[String]

  /** Observe one micro-batch's loads; returns compaction report lines
    * (empty when the cadence doesn't fire). */
  def onBatch(loaded: Seq[EtlConfig]): Seq[String] = {
    if (loaded.nonEmpty) {
      loadedBatches += 1
      touched ++= loaded.map(_.targetTable)
    }
    if (loaded.nonEmpty && loadedBatches % every == 0 && touched.nonEmpty) {
      val report = touched.toSeq.sorted.map { t =>
        val (before, after) = targets.compact(t)
        s"[graft-etl] compacted $t: $before -> $after file(s)"
      }
      touched.clear()
      report
    } else Nil
  }
}

object EtlMain {
  def main(args: Array[String]): Unit = {
    val (positional, flags) = parseArgs(args)
    if (positional.length != 3) {
      System.err.println("usage: EtlMain <fixturesDir|googleKey.json> <etlConfig.json> <warehouseDir> [--schema S] [--prefix P] [--meta URL] [--stream CKPT] [--compact all|t1,t2] [--compact-every N]")
      sys.exit(1)
    }
    val Seq(sourceArg, configPath, warehouse) = positional
    val naming = TableNaming(flags.get("schema"), flags.get("prefix"))
    val source: GridSource =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sourceArg)))
        new LocalGridSource(sourceArg)
      else new GoogleGridSource(
        ServiceAccount.fromJson(java.nio.file.Files.readString(
          java.nio.file.Paths.get(sourceArg))),
        new HttpTransport.Default)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // deployment requirement for a resident service cycling this
      // operator catalog: the default 100-entry codegen cache evicts
      // once >100 distinct plans are in flight and every re-run pays
      // janino recompilation (~50% wall on the full catalog — measured,
      // PERF.md §12.2). Same setting the bench session runs.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val metaUrl = flags.getOrElse("meta", s"$warehouse/meta")
      val meta = new MetaStore(spark, MetaStorage.forUrl(spark, metaUrl, naming))
      val targets = new TargetStore(spark, s"$warehouse/tables", naming)
      flags.get("compact") match {
        case Some(spec) =>
          // maintenance verb: compact and exit — no discovery, no loads.
          // A branch, not a `return` from a lambda: non-local return
          // unwinds via NonLocalReturnControl and breaks silently if the
          // closure is ever deferred (the q67 trap).
          compactTargets(targets,
            EtlConfig.fromFile(configPath).map(_.targetTable).distinct, spec)
            .foreach(println)
        case None =>
          runLoad(spark, source, meta, targets, sourceArg, configPath, flags)
      }
    } finally spark.stop()
  }

  /** The default (non-`--compact`) body: configure, discover, load,
    * audit, report — one scheduler tick of the reference's cron pair
    * (§7.2), batch or `--stream` checkpointed micro-batch.
    */
  private def runLoad(spark: SparkSession, source: GridSource,
      meta: MetaStore, targets: TargetStore, sourceArg: String,
      configPath: String, flags: Map[String, String]): Unit = {
    val tasks = new Tasks(source, meta, targets)
    tasks.loadConfiguration(configPath)
    meta.setUpAccounting()
    val loaded: Seq[EtlConfig] = flags.get("stream") match {
      case Some(ckpt) =>
        require(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sourceArg)),
          "--stream requires a fixture-directory source")
        val acc = Seq.newBuilder[EtlConfig]
        val cadence = flags.get("compact-every")
          .map(n => new CompactCadence(targets, n.toInt))
        val q = spark.readStream.format("graft.etl.GridDiscoveryProvider")
          .option("path", sourceArg).load()
          .writeStream
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
            val seen = batch.select("spreadsheet_id", "modified_time", "name")
              .collect()
              .map(r => SpreadsheetMeta(r.getString(0), r.getString(1), r.getString(2)))
              .toSeq
            println(s"[graft-etl] batch $id discovered ${seen.size} spreadsheet(s)")
            val loaded = tasks.loadDiscoveredBatch(seen)
            acc ++= loaded
            cadence.foreach(_.onBatch(loaded).foreach(println))
            ()
          }
          .start()
        q.awaitTermination() // AvailableNow exits once drained
        acc.result()
      case None =>
        val found = tasks.findSomeUpdatedSpreadsheets()
        println(s"[graft-etl] discovered $found spreadsheet(s)")
        tasks.loadSomeUpdatedSpreadsheets()
    }
    loaded.foreach(j => println(
      s"[graft-etl] loaded ${j.googleSpreadsheetId}/${j.sheetName} -> ${j.targetTable}"))
    println(s"[graft-etl] loaded ${loaded.size} sheet(s)")
    val ok = tasks.verifyOldestSpreadsheet()
    println(s"[graft-etl] access audit: ${if (ok) "ok" else "INACCESSIBLE"}")
    loaded.map(_.targetTable).distinct.foreach { t =>
      println(s"[graft-etl] $t now has ${targets.rowCount(t)} row(s)")
    }
  }

  /** The `--compact` maintenance body (R22 aftercare): compact the named
    * target tables — `"all"` = every table the config declares — via the
    * layout-preserving [[TargetStore.compact]]. Years of per-job
    * partition overwrites fragment targets into many small files; this
    * verb is the scheduled counterpart of the load loop that caused it.
    * Returns the report lines (testable without a CLI run).
    */
  private[etl] def compactTargets(targets: TargetStore,
      configured: Seq[String], spec: String): Seq[String] = {
    val chosen = if (spec == "all") configured else spec.split(",").toSeq
    chosen.map { t =>
      if (targets.exists(t)) {
        val (before, after) = targets.compact(t)
        s"[graft-etl] compacted $t: $before -> $after file(s)"
      } else s"[graft-etl] skip $t: no data"
    }
  }

  private val KnownFlags =
    Set("schema", "prefix", "meta", "stream", "compact", "compact-every")

  /** Split argv into positional args and `--name value` flag pairs.
    * Unknown flags are contract errors — a typo'd `--shcema` silently
    * ignored would load into the wrong namespace.
    */
  private[etl] def parseArgs(args: Array[String]): (Seq[String], Map[String, String]) = {
    val pos = Seq.newBuilder[String]
    val flags = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (a.startsWith("--")) {
        val name = a.stripPrefix("--")
        require(KnownFlags.contains(name),
          s"Unknown flag $a (known: ${KnownFlags.toSeq.sorted.map("--" + _).mkString(", ")})")
        require(i + 1 < args.length, s"Missing value for flag $a")
        flags += (name -> args(i + 1))
        i += 2
      } else { pos += a; i += 1 }
    }
    (pos.result(), flags.result())
  }
}
