package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark harness JVM: `Harness <spec.json> <result.json>`.
  *
  * `run.py` generates the inputs and writes the spec; this process sets up
  * one Spark session (`local[4]`), runs the workload's operations one at a
  * time (a closed loop with one client), and writes raw observations
  * (timings, layer counters, output fingerprints) for `run.py` to check
  * and reduce to metrics.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val spec = Json.read(args(0))
    val family = spec.get("family").asText()
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    // the query session is the one graft.Bench builds; the ETL session is
    // the one graft.etl.EtlMain builds
    if (family == "query") builder.config("spark.sql.extensions", "graft.GraftExtensions")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext)
    try {
      val result = family match {
        case "etl" => new EtlBench(spark, spec, tracer).run()
        case "query" => new QueryBench(spark, spec, tracer).run()
      }
      Json.write(args(1), result)
    } finally spark.stop()
  }

  /** Heap pools' peak use in MB since JVM start or [[resetHeapPeak]]. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetHeapPeak(): Unit = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
  }

  def layerJson(l: LayerStats): Map[String, Any] = Map(
    "seconds" -> l.seconds, "jobs" -> l.jobs, "stages" -> l.stages,
    "tasks" -> l.tasks, "shuffle_bytes" -> l.shuffleBytes,
    "spill_bytes" -> l.spillBytes, "input_bytes" -> l.inputBytes,
    "rows_written" -> l.rowsWritten, "bytes_written" -> l.bytesWritten)

  def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
}

object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new File(path))

  def write(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), toJava(value))

  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case o: Option[_] => o.map(toJava).orNull
    case s: Iterable[_] =>
      val j = new java.util.ArrayList[AnyRef]()
      s.foreach(x => j.add(toJava(x)))
      j
    case other => other.asInstanceOf[AnyRef]
  }
}
