package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{Caches, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

/** Query workloads: a named roster from `graft.SparkEntry.queries`, each
  * timed on full materialization (a `noop` write), one at a time.
  *
  * Set-up materializes every roster query once into parquet for the
  * oracle check; that pass also pays the JVM's first-use costs. Then a
  * fixed number of timed passes run the whole roster in order; the
  * per-query median over them damps what warm-up is left. A query's time covers building its DataFrame and the write;
  * in a traced pass the split between the two is taken at the start of the
  * write's SQL execution.
  */
final class QueryBench(spark: SparkSession, spec: JsonNode, tracer: Tracer) {
  private val data = spec.get("data").asText()
  private val out = spec.get("out").asText()
  private val timedPasses = spec.get("passes").asInt()
  private val trace = spec.get("trace").asBoolean()
  private val fault = spec.get("fault").asText()
  private val roster = spec.get("roster").elements().asScala.map(_.asText()).toSeq

  /** The roster query's DataFrame; `--inject-fault query` makes the first
    * roster query answer with no rows. */
  private def build(q: String): DataFrame = {
    val df = SparkEntry.queries(q)(spark, data)
    if (fault == "query" && q == roster.head) df.filter(lit(false)) else df
  }

  def run(): Map[String, Any] = {
    val tc = System.nanoTime()
    val checked = roster.map { q =>
      val err =
        try { build(q).coalesce(1).write.mode("overwrite").parquet(s"$out/$q"); None }
        catch { case e: Throwable => Some(Harness.errorText(e)) }
      Caches.release(spark)
      q -> err
    }.toMap
    System.err.println(f"[perfbench] checked pass ${(System.nanoTime() - tc) / 1e9}%.1f s")
    val measureStart = System.currentTimeMillis()
    Harness.resetHeapPeak()
    val passes = Seq.newBuilder[Map[String, Any]]
    // a traced run alternates untraced and traced passes
    for (n <- 1 to timedPasses) {
      val traced = trace && n % 2 == 0
      if (traced) tracer.start()
      val runs = roster.map(q => q -> timed(q, traced)).toMap
      val modules =
        if (traced) Some(tracer.stop().map { case (k, v) => k -> Harness.layerJson(v) }) else None
      passes += Map("traced" -> traced, "queries" -> runs, "modules" -> modules)
    }
    Map("measure_start_ms" -> measureStart,
      "heap_peak_mb" -> Harness.heapPeakMb(),
      "oracle_sql" -> roster.map(q => q -> SparkEntry.oracleSql.get(q)).toMap,
      "checked" -> checked, "passes" -> passes.result())
  }

  private def timed(q: String, traced: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    var built = 0.0
    var writeCall = 0L
    val err =
      try {
        val df = build(q)
        built = (System.nanoTime() - t0) / 1e9
        writeCall = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(Harness.errorText(e)) }
    val secs = (System.nanoTime() - t0) / 1e9
    Caches.release(spark)
    val plan =
      if (!traced || err.isDefined) None
      else tracer.executionStarts.find(_ >= writeCall)
        .map(start => math.min(secs, built + (start - writeCall) / 1000.0))
    Map("seconds" -> secs, "error" -> err, "plan_s" -> plan)
  }
}
