package graft.functions

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The lexical BM25 kernel, pinned once for every road: the Column
  * functions ([[TextFunctions.idfM]], [[TextFunctions.termScore]])
  * evaluate literal rows to hand-computed integers, and Spark's
  * truncating `div` equals the DuckDB oracle's flooring `//`
  * (`Math.floorDiv`) on them.
  */
class Bm25KernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** (case, n, df, tf, dl, a, idf_m, tfn_c) — idf_m and tfn_c by hand. */
  private val rows = Seq(
    ("df = n", 100L, 100L, 3L, 50L, 40L, 4L, 149L),
    ("tf = 1", 500L, 7L, 1L, 12L, 20L, 65800L, 119L),
    ("large dl", 500L, 40L, 2L, 100000L, 20L, 11370L, 0L),
    ("a = 1", 3L, 1L, 1L, 1L, 1L, 1666L, 100L),
    // the 100 TB north star the headroom argument starts from
    ("headroom", 20000000000L, 1L, 1000L, 1000L, 1000L,
      13333333333000L, 219L))

  private lazy val input = {
    val s = spark
    import s.implicits._
    rows.map { case (c, n, df, tf, dl, a, _, _) => (c, n, df, tf, dl, a) }
      .toDF("c", "n", "df", "tf", "dl", "a")
  }

  private def byCase(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private val expected: Map[String, (Long, Long)] =
    rows.map { case (c, _, _, _, _, _, idf, tfn) => c -> (idf, tfn) }.toMap

  test("Column kernel: idfM and termScore give the hand-computed integers") {
    val got = byCase(input.select(col("c"),
      TextFunctions.idfM(col("df"), col("n")),
      TextFunctions.termScore(col("tf"), col("dl"), col("a"))))
    assert(got == expected)
  }

  test("truncating div equals flooring // on the kernel's non-negative operands") {
    rows.foreach { case (c, n, df, tf, dl, a, idf, tfn) =>
      assert(Math.floorDiv((2 * n - 2 * df + 1) * 1000, 2 * df + 1) == idf, c)
      assert(Math.floorDiv(2200 * a * tf, 10 * a * tf + 3 * a + 9 * dl) == tfn, c)
    }
  }

  test("int64 headroom: a query of Bm25QTermCap north-star terms sums without overflow") {
    val cap = graft.queries.TextAnalysis.Bm25QTermCap
    // ANSI arithmetic throws on overflow, so a clean evaluation is the proof
    val sum = input.filter(col("c") === "headroom")
      .select(lit(cap.toLong) * TextFunctions.idfM(col("df"), col("n")) *
        TextFunctions.termScore(col("tf"), col("dl"), col("a")))
      .head.getLong(0)
    assert(sum == cap * 13333333333000L * 219L)
    assert(sum < 50000000000000000L) // ≈ 5·10¹⁶ ≪ 2⁶³
  }
}
