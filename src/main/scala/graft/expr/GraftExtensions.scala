package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Engine extension point: registers graft's native Catalyst
  * expressions with the session's function registry, so SQL users (and
  * `expr()` strings in manifests) can call them directly — e.g.
  * `SELECT shingle_hashes(tokens, 3) FROM docs`.
  *
  * Wire-up is the standard Spark mechanism, either of:
  *   - `withExtensions(new GraftExtensions)` on the session builder
  *     (what `graft.Sessions.builder` does for every session here), or
  *   - `--conf spark.sql.extensions=graft.expr.GraftExtensions` on an
  *     unmodified spark-submit/cluster deployment.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.shingleHashes)
    ext.injectFunction(GraftExtensions.vecDot)
    // plan-level: top-k-per-group operator + the window-idiom rewrite
    ext.injectPlannerStrategy(_ => graft.plans.GraftTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.GraftTopKRule)
    // expression-level: composed dot-product idiom -> native VecDot
    ext.injectOptimizerRule(_ => graft.plans.GraftVecDotRule)
  }
}

object GraftExtensions {
  /** shingle_hashes(tokens array<string>, n int-literal) -> array<long>.
    * The shingle size must be a literal: it shapes the generated code
    * (see ShingleHashes), exactly like the built-in `sequence` step.
    */
  val shingleHashes: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
    (args: Seq[Expression]) => args match {
      case Seq(child, Literal(n: Int, IntegerType)) => ShingleHashes(child, n)
      case Seq(child) => ShingleHashes(child, 3)
      case _ => throw new IllegalArgumentException(
        "shingle_hashes(tokens array<string>, n int literal = 3)")
    })

  /** vec_dot(a array<double>, b array<double>) -> double (sequential
    * fold; see VecDot).
    */
  val vecDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (args: Seq[Expression]) => args match {
      case Seq(a, b) =>
        // widen any numeric array to array<double> (VecDot itself only
        // type-checks — AbstractDataType is private[sql] in Spark 4)
        val dbl = org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)
        VecDot(org.apache.spark.sql.catalyst.expressions.Cast(a, dbl),
          org.apache.spark.sql.catalyst.expressions.Cast(b, dbl))
      case _ => throw new IllegalArgumentException(
        "vec_dot(a array<double>, b array<double>)")
    })
}
