package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.etl._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** ETL workloads: tick sequences over the generated fixtures.
  *
  * A tick is the batch body of `graft.etl.EtlMain` driven through the
  * public [[Tasks]] API: load the config, set up accounting, discover,
  * load the stale sheets, audit the oldest spreadsheet. One sequence, on a
  * fresh warehouse and a fresh copy of the base fixtures, is a cold tick,
  * `idleTicks` idle ticks, then the delta fixtures are copied in and a
  * delta tick runs. Each tick's time covers the tick alone; the checks
  * after it are untimed.
  *
  * A run is one sequence, and its cold tick is the first work of a fresh
  * JVM, as for a scheduled `EtlMain` run: it pays class loading, code
  * generation and JIT warm-up, and that is part of what it measures.
  */
final class EtlBench(spark: SparkSession, spec: JsonNode, tracer: Tracer) {
  private val work = spec.get("work").asText()
  private val trace = spec.get("trace").asBoolean()
  private val idleTicks = spec.get("idle_ticks").asInt()
  private val fault = spec.get("fault").asText()
  private val fixtures = Paths.get(spec.get("fixtures").asText())
  private val config = fixtures.resolve("config.json").toString
  private val targetNames = EtlConfig.fromFile(config).map(_.targetTable).distinct

  def run(): Map[String, Any] = {
    val measureStart = System.currentTimeMillis()
    val ticks = sequence()
    Map("measure_start_ms" -> measureStart,
      "heap_peak_mb" -> Harness.heapPeakMb(), "ticks" -> ticks)
  }

  private def sequence(): Seq[Map[String, Any]] = {
    val dir = Paths.get(work, "sequence")
    val grids = dir.resolve("grids")
    copyJson(fixtures.resolve("base"), grids)
    val local = new LocalGridSource(grids.toString)
    val plain: GridSource = if (fault == "tick") new LossyGridSource(local) else local
    val source = new TimedGridSource(plain)
    val rawStorage = new SnapshotMetaStorage(spark, dir.resolve("wh/meta").toString)
    val storage = new TimedMetaStorage(rawStorage)
    // an untraced run drives the program without decorators or listener
    val meta = new MetaStore(spark, if (trace) storage else rawStorage)
    val targets = new TargetStore(spark, dir.resolve("wh/tables").toString)
    val kinds = "cold" +: Seq.fill(idleTicks)("idle") :+ "delta"
    val out = Seq.newBuilder[Map[String, Any]]
    var failed = false
    for (kind <- kinds if !failed) {
      if (kind == "delta") copyJson(fixtures.resolve("delta"), grids)
      val rec = tick(kind, plain, source, storage, meta, targets)
      out += rec
      failed = rec("error") != None // a broken warehouse voids the rest
    }
    deleteTree(dir)
    out.result()
  }

  private def tick(kind: String, plain: GridSource, timed: TimedGridSource,
      storage: TimedMetaStorage, meta: MetaStore, targets: TargetStore): Map[String, Any] = {
    val before = partitions(targets)
    timed.clock.reset()
    storage.reset()
    if (trace) tracer.start()
    val t0 = System.nanoTime()
    val outcome =
      try {
        val tasks = new Tasks(if (trace) timed else plain, meta, targets)
        tasks.loadConfiguration(config)
        meta.setUpAccounting()
        tasks.findSomeUpdatedSpreadsheets()
        val loaded = tasks.loadSomeUpdatedSpreadsheets()
        Right((loaded, tasks.verifyOldestSpreadsheet()))
      } catch { case e: Throwable => Left(Harness.errorText(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] $kind tick: $secs%.3f s")
    val layerRec =
      if (!trace) None
      else Some(Map(
        "extract_s" -> timed.clock.seconds,
        "extract_calls" -> timed.clock.calls,
        "meta_storage_s" -> storage.clock.seconds,
        "meta_reads" -> storage.reads,
        "meta_replaces" -> storage.replaces,
        "modules" -> tracer.stop().map { case (k, v) => k -> Harness.layerJson(v) }))
    outcome match {
      case Left(err) =>
        Map("kind" -> kind, "seconds" -> secs, "error" -> Some(err),
          "layers" -> layerRec)
      case Right((loaded, auditOk)) =>
        val after = partitions(targets)
        val jobs = jobKeys(meta)
        val rewritten = after.keySet.filter(k => !before.get(k).contains(after(k)))
        val filesWritten = rewritten.toSeq.map(k => (after(k) -- before.getOrElse(k, Set.empty)).size).sum
        val tables =
          if (kind == "idle" && rewritten.isEmpty) None // nothing written, nothing to re-read
          else Some(targetNames.filter(targets.exists).map(t => t -> fingerprint(targets, t, jobs)).toMap)
        Map("kind" -> kind, "seconds" -> secs, "error" -> None,
          "loaded" -> loaded.map(j => Seq(j.googleSpreadsheetId, j.sheetName)),
          "audit_ok" -> auditOk,
          "rewritten" -> rewritten.toSeq.map { case (_, id) => jobs.get(id).map { case (g, s) => Seq(g, s) } },
          "files_written" -> filesWritten,
          "tables" -> tables,
          "layers" -> layerRec)
    }
  }

  /** (target, job id) -> the partition's data files as (name, size, mtime). */
  private def partitions(targets: TargetStore): Map[(String, Long), Set[(String, Long, Long)]] =
    targetNames.flatMap { t =>
      val root = Paths.get(targets.path(t))
      if (!Files.isDirectory(root)) Nil
      else list(root).filter(_.getFileName.toString.startsWith("_origin_etl_job_id=")).map { p =>
        (t, p.getFileName.toString.split("=")(1).toLong) ->
          list(p).filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => (f.getFileName.toString, Files.size(f), Files.getLastModifiedTime(f).toMillis)).toSet
      }
    }.toMap

  /** Job id -> (spreadsheet id, sheet name), read from the accounting. */
  private def jobKeys(meta: MetaStore): Map[Long, (String, String)] = {
    val ids = meta.spreadsheets.collect().map(s => s.id -> s.google_spreadsheet_id).toMap
    meta.etlJobs.collect().map(j => j.id -> (ids.getOrElse(j.spreadsheet_id, "?"), j.sheet_name)).toMap
  }

  /** Row count and order-independent SHA-256 fingerprint of one target
    * table, in the encoding `etl_fixtures.row_digest` uses. */
  private def fingerprint(targets: TargetStore, t: String,
      jobs: Map[Long, (String, String)]): Map[String, Any] = {
    val df = targets.read(t)
    val cols = df.columns.filterNot(_.startsWith("_origin_")).sorted
    val rows = df.select(("_origin_etl_job_id" +: "_origin_row" +: cols.toSeq).map(df.col): _*).collect()
    val digests = rows.map { r =>
      // the partition column's type is inferred from directory names
      val (gid, sheet) = jobs.getOrElse(r.getAs[Number](0).longValue, ("?", "?"))
      val parts = Seq(gid, sheet, r.getAs[Number](1).longValue.toString) ++ cols.indices.map { i =>
        cols(i) + "=" + (if (r.isNullAt(i + 2)) "\u0000" else r.getString(i + 2))
      }
      sha256(parts.mkString("\u001f"))
    }
    Map("rows" -> rows.length, "fp" -> sha256(digests.sorted.mkString("\n")))
  }

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  private def list(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def copyJson(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    list(from).filter(_.toString.endsWith(".json")).foreach { f =>
      Files.copy(f, to.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }
}
