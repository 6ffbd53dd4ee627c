package graft

import graft.functions.{CosineSimilarity, DotProduct, RollingHash, SortedInterUnion, SortedJaccard, TokenRollingHashes}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/**
 * SparkSessionExtensions entry point: registers graft's native expressions
 * for SQL use in any session built with
 *
 * {{{
 *   spark.sql.extensions=graft.GraftExtensions
 * }}}
 *
 * or a session builder's `withExtensions(new GraftExtensions)`. This is
 * the idiomatic injection path for a library shipping custom Catalyst
 * expressions (SURVEY.md §7.3) — no session-mutating registration calls
 * needed at call sites.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(clazz: Class[_], name: String) =
    new ExpressionInfo(clazz.getCanonicalName, null, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      info(classOf[DotProduct], "vec_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_cosine"),
      info(classOf[CosineSimilarity], "vec_cosine"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("vec_l2sq"),
      info(classOf[graft.functions.VecL2Sq], "vec_l2sq"),
      (es: Seq[Expression]) => graft.functions.VecL2Sq(es(0), es(1))))
    ext.injectFunction((
      FunctionIdentifier("rolling_hash"),
      info(classOf[RollingHash], "rolling_hash"),
      (es: Seq[Expression]) => RollingHash(es(0))))
    ext.injectFunction((
      FunctionIdentifier("token_hashes"),
      info(classOf[TokenRollingHashes], "token_hashes"),
      (es: Seq[Expression]) => TokenRollingHashes(es(0))))
    ext.injectFunction((
      FunctionIdentifier("sorted_jaccard"),
      info(classOf[SortedJaccard], "sorted_jaccard"),
      // SQL parses `0.5` as a DecimalType literal and `1` as integral —
      // accept every numeric literal form, not just Double
      (es: Seq[Expression]) => SortedJaccard(es(0), es(1), es(2) match {
        case Literal(v: Double, _) => v
        case Literal(v: Float, _) => v.toDouble
        case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
        case Literal(v: Int, _) => v.toDouble
        case Literal(v: Long, _) => v.toDouble
        case Literal(v: Short, _) => v.toDouble
        case Literal(v: Byte, _) => v.toDouble
        case other => throw new IllegalArgumentException(
          s"sorted_jaccard threshold must be a numeric literal, got $other")
      })))
    ext.injectFunction((
      FunctionIdentifier("sorted_inter_union"),
      info(classOf[SortedInterUnion], "sorted_inter_union"),
      (es: Seq[Expression]) => SortedInterUnion(es(0), es(1))))
  }
}
