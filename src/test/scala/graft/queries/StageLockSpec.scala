package graft.queries

import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** The check-then-create stagings the `graft_*` table functions reach
  * from any `spark.sql` thread run under [[graft.Bucketing.withStageLock]]:
  * concurrent first calls on a corpus with no staged table stage it
  * once, and every caller gets the table back.
  */
class StageLockSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** A copy of the sf0.001 documents under a new dir: nothing staged. */
  private def freshCorpus(): String = {
    val d = Files.createTempDirectory("graft-stage-lock")
    Files.copy(Paths.get(s"$sf/documents.parquet"), d.resolve("documents.parquet"))
    d.toString
  }

  /** `body` on `n` threads released together; rethrows any failure. */
  private def concurrently[A](n: Int)(body: => A): Seq[A] = {
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(n)
    try {
      val calls = (1 to n).map(_ => pool.submit(new Callable[A] {
        def call(): A = { start.await(); body }
      }))
      start.countDown()
      calls.map(_.get(10, TimeUnit.MINUTES))
    } finally pool.shutdownNow()
  }

  test("two concurrent first calls of ensurePosIndex and ensureImpactIndex both return the staged table") {
    val dir = freshCorpus()
    val pos = concurrently(2)(TextAnalysis.ensurePosIndex(spark, dir))
    assert(pos.distinct.size == 1 && spark.catalog.tableExists(pos.head))
    // one staging: the copy's rows are the original corpus's, not doubled
    assert(spark.table(pos.head).count() ==
      spark.table(TextAnalysis.ensurePosIndex(spark, sf)).count())
    val imp = concurrently(2)(TextAnalysis.ensureImpactIndex(spark, dir))
    assert(imp.distinct.size == 1 && spark.catalog.tableExists(imp.head))
    assert(spark.table(imp.head).count() ==
      spark.table(TextAnalysis.ensureImpactIndex(spark, sf)).count())
    spark.catalog.clearCache()
  }
}
