package graft

import graft.functions.{BloomBitsAgg, HyperplaneBands, MinHashAffine, SimHash32, VecDot, VecDotMany}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions registering the engine's native functions for SQL
  * users (`spark.sql.extensions=graft.GraftExtensions`):
  *
  *   SELECT vec_dot(a.embedding, b.embedding) FROM ...
  *   SELECT simhash32(token_hashes) FROM ...
  *   SELECT vec_dot_many(embedding, array(...), 2) FROM ...
  *   SELECT hyperplane_bands(embedding, array(...), 20, 6) FROM ...
  *   SELECT minhash_affine(hashes, array(...), array(...), p) FROM ...
  *   SELECT bloom_bits(positions, 64) FROM ... GROUP BY ...
  *
  * and the retrieval serves as table functions over the views
  * [[SqlCatalog.register]] publishes ([[SqlCatalog.ServeFunctions]]):
  *
  *   SELECT * FROM graft_bm25('qview')
  *   SELECT * FROM graft_phrase('qview', 3)
  *
  * Matrix / seed parameters must be FOLDABLE literals (they configure the
  * expression, mirroring the DataFrame helpers' plain-Scala arguments —
  * a per-row plane matrix has no meaning). The DataFrame API reaches the
  * same expressions without extensions via
  * [[graft.functions.VectorFunctions]] / [[graft.functions.SketchFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def foldableArray(e: Expression, fn: String): ArrayData = {
    require(e.foldable, s"$fn: matrix/seed arguments must be literals")
    e.eval().asInstanceOf[ArrayData]
  }

  private def doubles(e: Expression, fn: String): Array[Double] = {
    require(e.dataType.isInstanceOf[ArrayType] &&
      e.dataType.asInstanceOf[ArrayType].elementType == DoubleType,
      s"$fn: expected array<double>, got ${e.dataType.sql}")
    foldableArray(e, fn).toDoubleArray()
  }

  private def longs(e: Expression, fn: String): Array[Long] = {
    require(e.dataType.isInstanceOf[ArrayType] &&
      e.dataType.asInstanceOf[ArrayType].elementType == LongType,
      s"$fn: expected array<bigint>, got ${e.dataType.sql}")
    foldableArray(e, fn).toLongArray()
  }

  private def int(e: Expression, fn: String): Int = {
    require(e.foldable, s"$fn: size arguments must be literals")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def long(e: Expression, fn: String): Long = {
    require(e.foldable, s"$fn: size arguments must be literals")
    e.eval().asInstanceOf[Number].longValue()
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "vec_dot takes exactly 2 arguments")
        VecDot(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("simhash32"),
      new ExpressionInfo(classOf[SimHash32].getName, "simhash32"),
      (children: Seq[Expression]) => {
        require(children.length == 1, "simhash32 takes exactly 1 argument")
        SimHash32(children.head)
      }))
    ext.injectFunction((
      new FunctionIdentifier("vec_dot_many"),
      new ExpressionInfo(classOf[VecDotMany].getName, "vec_dot_many"),
      (children: Seq[Expression]) => {
        require(children.length == 3,
          "vec_dot_many(vec, mat array<double>, vectors int)")
        VecDotMany(children.head, doubles(children(1), "vec_dot_many"),
          int(children(2), "vec_dot_many"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bands"),
      new ExpressionInfo(classOf[HyperplaneBands].getName, "hyperplane_bands"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "hyperplane_bands(vec, planes array<double>, families int, planesPerFam int)")
        HyperplaneBands(children.head, doubles(children(1), "hyperplane_bands"),
          int(children(2), "hyperplane_bands"), int(children(3), "hyperplane_bands"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("minhash_affine"),
      new ExpressionInfo(classOf[MinHashAffine].getName, "minhash_affine"),
      (children: Seq[Expression]) => {
        require(children.length == 4,
          "minhash_affine(hashes, as array<bigint>, bs array<bigint>, p bigint)")
        MinHashAffine(children.head,
          longs(children(1), "minhash_affine").toSeq,
          longs(children(2), "minhash_affine").toSeq,
          long(children(3), "minhash_affine"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("bloom_bits"),
      new ExpressionInfo(classOf[BloomBitsAgg].getName, "bloom_bits"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "bloom_bits(positions array<bigint>, words int)")
        BloomBitsAgg(children.head, int(children(1), "bloom_bits"))
      }))
    SqlCatalog.ServeFunctions.keys.foreach { fn =>
      ext.injectTableFunction((new FunctionIdentifier(fn),
        new ExpressionInfo(classOf[ServeCall].getName, fn),
        GraftExtensions.serveCall(fn) _))
    }
    ext.injectResolutionRule(s => new GraftExtensions.ResolveServeCalls(s))
  }
}

object GraftExtensions {

  /** Resolves a call of the table function `fn`: checks its arguments
    * (a string literal view name; for [[SqlCatalog.PhraseServes]] an
    * optional integer literal k ≥ 2, default 2) and defers the plan to
    * [[ResolveServeCalls]] — Spark runs this step under the session
    * catalog's lock, and a serve's first call may stage an index.
    */
  private[graft] def serveCall(fn: String)(args: Seq[Expression]): LogicalPlan = {
    val takesK = SqlCatalog.PhraseServes(fn)
    val usage = if (takesK) s"$fn('view'[, k])" else s"$fn('view')"
    require(args.nonEmpty && args.length <= (if (takesK) 2 else 1),
      s"$usage: got ${args.length} arguments")
    val view = args.head match {
      case Literal(v: UTF8String, _: StringType) => v.toString
      case e => throw new IllegalArgumentException(
        s"$usage: the view must be a string literal, got ${e.sql}")
    }
    val k = args.lift(1).fold(2) {
      case Literal(v: Int, IntegerType) => v
      case e => throw new IllegalArgumentException(
        s"$usage: k must be an integer literal, got ${e.sql}")
    }
    require(k >= 2, s"$fn: a phrase needs at least two tokens, got $k")
    ServeCall(fn, view, k)
  }

  /** The analyzer rule that turns each [[ServeCall]] into its
    * [[SqlCatalog.ServeFunctions]] plan over the dir
    * [[SqlCatalog.register]] last published for the application
    * (building it may run the serve's bounded driver collects, as
    * building the Scala DataFrame does).
    */
  private[graft] final class ResolveServeCalls(spark: SparkSession)
      extends Rule[LogicalPlan] {
    def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
      case c: ServeCall =>
        val dir = SqlCatalog.current.get(spark.sparkContext.applicationId)
        if (dir == null) throw new IllegalStateException(
          s"${c.fn}: no corpus is published for this application; " +
            "call SqlCatalog.register(spark, dir) first")
        require(spark.catalog.tableExists(c.view),
          s"${c.fn}: no table or view named '${c.view}'")
        SqlCatalog.ServeFunctions(c.fn)(spark, dir, spark.table(c.view), c.k)
          .queryExecution.analyzed
    }
  }
}

/** A `graft_*` table-function call whose serve plan
  * [[GraftExtensions.ResolveServeCalls]] has not built yet.
  */
private[graft] final case class ServeCall(fn: String, view: String, k: Int)
    extends LeafNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
}
