package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Counters and busy time of one layer over one measured interval. */
final class LayerStats {
  var seconds = 0.0 // wall time of the layer's root SQL executions
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var rowsWritten = 0L
  var bytesWritten = 0L
}

/** Assigns every Spark job, stage and SQL execution to the program module
  * at its user call site, from outside the program: the long call site
  * Spark records for an execution (or for a job's first stage) names the
  * innermost `graft.*` frame that started it.
  *
  * Modules: `MetaStore`, `MetaStorage`, `TargetStore`, `GridSource`,
  * `query` (anything under graft.queries), `other`.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var recording = false

  private val execModule = mutable.Map.empty[Long, String]
  private val execStart = mutable.Map.empty[Long, Long]
  private val stageModule = mutable.Map.empty[Int, String]
  private val layers = mutable.Map.empty[String, LayerStats]
  /** Start times (ms) of root executions, in order, for plan/exec splits. */
  private val starts = mutable.ArrayBuffer.empty[Long]

  private def layer(name: String): LayerStats = layers.getOrElseUpdate(name, new LayerStats)

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart if recording =>
        val module = Tracer.moduleOf(s.details)
        execModule(s.executionId) = module
        if (s.rootExecutionId.forall(_ == s.executionId)) {
          execStart(s.executionId) = s.time
          starts += s.time
        }
      case e: SparkListenerSQLExecutionEnd =>
        execStart.remove(e.executionId).foreach { t0 =>
          layer(execModule.getOrElse(e.executionId, "other")).seconds += (e.time - t0) / 1000.0
        }
      case _ =>
    }
  }

  override def onJobStart(job: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val props = Option(job.properties)
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(p.getProperty("spark.sql.execution.id")))).map(_.toLong)
      val module = execId.flatMap(execModule.get).getOrElse(
        Tracer.moduleOf(job.stageInfos.headOption.map(_.details).getOrElse("")))
      layer(module).jobs += 1
      job.stageIds.foreach(stageModule(_) = module)
    }
  }

  override def onStageCompleted(done: SparkListenerStageCompleted): Unit = synchronized {
    stageModule.remove(done.stageInfo.stageId).foreach { module =>
      val l = layer(module)
      val m = done.stageInfo.taskMetrics
      l.stages += 1
      l.tasks += done.stageInfo.numTasks
      if (m != null) {
        l.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        l.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        l.inputBytes += m.inputMetrics.bytesRead
        l.rowsWritten += m.outputMetrics.recordsWritten
        l.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Start recording: attach to the session's listener bus. */
  def start(): Unit = {
    sc.addSparkListener(this)
    recording = true
  }

  /** Stop recording, wait for queued events, detach, and return and clear
    * the per-module stats recorded since [[start]]. */
  def stop(): Map[String, LayerStats] = {
    recording = false
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(this)
    synchronized {
      val out = layers.toMap
      layers.clear(); starts.clear(); execModule.clear(); execStart.clear(); stageModule.clear()
      out
    }
  }

  /** Start times (ms) of the root executions recorded since [[start]]. */
  def executionStarts: Seq[Long] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(starts.toSeq)
  }
}

object Tracer {
  private val Frame = """^\s*(?:at\s+)?(graft\.[\w.$]+)\((\w+)\.scala:\d+\)""".r.unanchored

  /** The layer of the innermost `graft.*` frame of a long call site. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.collectFirst { case Frame(method, file) => (method, file) } match {
      case Some((method, _)) if method.startsWith("graft.queries.") => "query"
      case Some((_, file @ ("MetaStore" | "MetaStorage" | "TargetStore" | "GridSource"))) => file
      case _ => "other"
    }
}
