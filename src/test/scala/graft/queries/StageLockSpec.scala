package graft.queries

import graft.SparkTestSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** Every check-then-create staging runs through [[graft.Staged.ensure]]:
  * concurrent first calls on a corpus with no staged table stage it
  * once, every caller gets the table back, and a family with a member
  * missing is rebuilt whole instead of served half-built.
  */
class StageLockSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** A copy of sf0.001 tables under a new dir: nothing staged. */
  private def freshCorpus(tables: String*): String = {
    val d = Files.createTempDirectory("graft-stage-lock")
    (if (tables.isEmpty) Seq("documents") else tables).foreach(t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"), d.resolve(s"$t.parquet")))
    d.toString
  }

  private def rows(t: String): Set[org.apache.spark.sql.Row] =
    spark.table(t).collect().toSet

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

  test("two concurrent first calls of ensureIvfCellTable, ensureClusterLabels64 and the q173 sidecar stage once") {
    val dir = freshCorpus("documents", "embeddings")
    val cell = concurrently(2)(Similarity.ensureIvfCellTable(spark, dir))
    assert(cell.distinct.size == 1 &&
      rows(cell.head) == rows(Similarity.ensureIvfCellTable(spark, sf)))
    val labels = concurrently(2)(
      Dedup.ensureClusterLabels64(spark, dir).collect().toSet)
    assert(labels.distinct.size == 1 &&
      labels.head == Dedup.ensureClusterLabels64(spark, sf).collect().toSet)
    val q173 = concurrently(2)(graft.SparkEntry
      .queries("q173_adc_union_serve")(spark, dir).collect().toSet)
    assert(q173.distinct.size == 1 && q173.head == graft.SparkEntry
      .queries("q173_adc_union_serve")(spark, sf).collect().toSet)
    assert(rows(graft.Staged.name("q173_staged", dir)) ==
      rows(graft.Staged.name("q173_staged", sf)))
    spark.catalog.clearCache()
  }

  test("ensureLexIndex restages a family whose doclen table went missing; the stats still read") {
    val dir = freshCorpus()
    val (postT, dlT, dfT, n, l) = TextAnalysis.ensureLexIndex(spark, dir)
    val before = Seq(postT, dlT, dfT).map(rows)
    spark.sql(s"DROP TABLE `$dlT`")
    assert(TextAnalysis.ensureLexIndex(spark, dir) == (postT, dlT, dfT, n, l))
    assert(Seq(postT, dlT, dfT).map(rows) == before)
    val (_, dl, _, n2, l2) = TextAnalysis.lexRead(spark, dir, None)
    assert((n2, l2) == (n, l) &&
      dl.agg(org.apache.spark.sql.functions.sum("dl")).head.getLong(0) == l)
    spark.catalog.clearCache()
  }

  test("q64 with its items table dropped restages and still answers its oracle") {
    val dir = freshCorpus("orders", "lineitem")
    val q64 = () => graft.SparkEntry.queries("q64_bucketed_join")(spark, dir)
      .collect().toSet
    val first = q64()
    spark.sql(s"DROP TABLE `${graft.Staged.name("q64_items", dir)}`")
    val again = q64()
    // the oracle text over the copy's tables
    Seq("orders", "lineitem").foreach(t =>
      graft.Tables(spark, dir, t).createOrReplaceTempView(t))
    val oracle =
      try spark.sql(graft.SparkEntry.oracleSql("q64_bucketed_join"))
        .collect().toSet
      finally Seq("orders", "lineitem").foreach(spark.catalog.dropTempView)
    assert(first == oracle && again == oracle)
  }

  test("a purge's label rebuild holds the label lock: a concurrent ensureClusterLabels64 reads the masked rebuild") {
    import org.apache.spark.sql.functions.col
    val dir = freshCorpus()
    val labels = () => Dedup.ensureClusterLabels64(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = labels()
    // mask the members of the largest cluster: their removal re-labels
    // the cluster, so an unmasked staging differs from the rebuild
    val mask = full.groupBy(_._2).values.maxBy(_.size).keys.toSeq.sorted
    assert(mask.size > 1)
    val reduced = Files.createTempDirectory("graft-stage-lock").toString
    graft.Tables(spark, dir, "documents")
      .filter(!col("doc_id").isin(mask.map(Long.box): _*))
      .write.parquet(s"$reduced/documents.parquet")
    val expect = Dedup.ensureClusterLabels64(spark, reduced).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = Executors.newSingleThreadExecutor()
    try {
      // a graft_diverse statement on another thread keeps ensuring the
      // labels for the whole length of the rebuild
      val racer = pool.submit(new Callable[Int] {
        def call(): Int = {
          var n = 0
          while (!done.get) { Dedup.ensureClusterLabels64(spark, dir); n += 1 }
          n
        }
      })
      val rebuilt =
        try Dedup.rebuildLabelsAfterPurge(spark, dir, mask)
        finally done.set(true)
      assert(racer.get(10, TimeUnit.MINUTES) > 0)
      assert(rebuilt.contains(graft.Staged.name("q150_labels", dir)))
    } finally pool.shutdownNow()
    assert(labels() == expect)
    spark.catalog.clearCache()
  }
}
