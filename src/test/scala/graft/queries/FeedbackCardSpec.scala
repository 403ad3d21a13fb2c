package graft.queries

import graft.{SparkEntry, SparkTestSession}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** q180's member threading: the rocchio member builds on a second driver
  * thread while the bm25/prf member runs, and the entry must not return
  * (or throw) while that member can still launch Spark jobs.
  */
class FeedbackCardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** sf0.001 without `documents.parquet`: the bm25 member fails, the
    * embeddings-only rocchio member does not.
    */
  private def docLessCopy(): Path = {
    val dir = Files.createTempDirectory("graft-q180-nodocs")
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach { p =>
      if (p.getFileName.toString != "documents.parquet")
        Files.copy(p, dir.resolve(p.getFileName))
    }
    dir
  }

  test("q180: a failing bm25 member propagates and no member job runs after the call") {
    val dir = docLessCopy()
    // the query sample both members read, staged first: the bm25 member
    // then fails at its first documents read while the rocchio member
    // still has its quantizer to train
    TextAnalysis.ensureQuerySample(spark, dir.toString)
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      // a micro-batch of a stream another suite left running is not q180's
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties == null ||
            j.properties.getProperty("sql.streaming.queryId") == null)
          starts.add(j.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val err = intercept[org.apache.spark.sql.AnalysisException](
        SparkEntry.queries("q180_feedback_eval_card")(spark, dir.toString))
      val returnedAt = System.currentTimeMillis()
      assert(err.getMessage.contains("documents"), err.getMessage)
      // listener delivery is async — poll until the job count has been
      // stable for two seconds, so a member still running would show
      var last = -1
      var stableFor = 0
      var spins = 0
      while (stableFor < 8 && spins < 480) {
        Thread.sleep(250)
        val n = starts.size
        if (n == last) stableFor += 1 else { last = n; stableFor = 0 }
        spins += 1
      }
      val after = starts.toArray.map(_.asInstanceOf[Long]).count(_ > returnedAt)
      assert(after == 0, s"$after Spark jobs started after q180 threw")
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      Files.list(dir).forEach(p => Files.delete(p))
      Files.delete(dir)
    }
  }
}
