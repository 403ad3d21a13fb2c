package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The mtime-checked memos ([[Tables.atMtime]]) keep one entry per key:
  * a file rewritten in one session replaces its memo entry instead of
  * leaving one dead entry per superseded mtime.
  */
class MtimeMemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def entries[K <: Product](m: java.util.concurrent.ConcurrentHashMap[K, _],
      path: String): Int =
    m.keySet.asScala.count(_.productElement(1) == path)

  /** Give `path` a modification time of its own, whatever the clock's grain. */
  private def touch(path: String, k: Int): Unit =
    new java.io.File(path).setLastModified(1000000000000L + k * 60000L)

  test("a table rewritten 3 times in one session holds 1 schema and 1 count entry, both current") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-memo").toString
    for (k <- 1 to 3) {
      (1 to k).map(i => (i.toLong, s"v$k")).toDF("doc_id", s"c$k")
        .write.mode("overwrite").parquet(s"$dir/t.parquet")
      touch(s"$dir/t.parquet", k)
      assert(Tables.rowCount(spark, dir, "t") == k)
      assert(Tables(spark, dir, "t").columns.toSeq == Seq("doc_id", s"c$k"))
    }
    assert(entries(Tables.schemaMemo, dir) == 1)
    assert(entries(Tables.countMemo, dir) == 1)
  }

  test("embeddings rewritten 3 times in one session hold 1 quantizer entry each") {
    val dir = Files.createTempDirectory("graft-memo").toString
    val emb = Paths.get(s"$dir/embeddings.parquet")
    Files.copy(Paths.get(s"$sf/embeddings.parquet"), emb)
    val first = queries.Similarity.kmeansCentroids(spark, dir)
    for (k <- 1 to 3) {
      touch(emb.toString, k)
      assert(queries.Similarity.kmeansCentroids(spark, dir).map(_._3).toSeq ==
        first.map(_._3).toSeq)
      queries.Similarity.pqCodebooks(spark, dir)
    }
    assert(entries(queries.Similarity.centsMemo, dir) == 1)
    assert(entries(queries.Similarity.booksMemo, dir) == 1)
  }

  test("a stream root whose epochs change 3 times holds 1 schema entry") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-memo").resolve("root").toString
    for (k <- 0 until 3) {
      Seq((k.toLong, s"x$k")).toDF("id", "v")
        .write.parquet(s"$root/batch_id=$k")
      touch(root, k)
      assert(streaming.BatchProtocol.readServable(spark, root).get.count() ==
        k + 1)
    }
    assert(entries(streaming.BatchProtocol.rootSchemaMemo, root) == 1)
  }
}
