package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface for graft's custom Catalyst expressions, so
  * `spark.sql("SELECT kmer_encode(s, 'ACDE...')")` works next to the Column
  * API. Register either via a session builder's
  * `.withExtensions(new GraftExtensions)` or
  * `GraftExtensions.register(spark)` on a live session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  private def kmerEncodeBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "kmer_encode(str, alphabet) takes 2 arguments")
    val alphabet = args(1) match {
      case Literal(s: UTF8String, _) => s.toString
      case other => throw new IllegalArgumentException(
        s"kmer_encode alphabet must be a string literal, got $other")
    }
    bio.KmerCodec.KmerEncode(args.head, alphabet)
  }

  private def dotBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "dot_product(a, b) takes 2 arguments")
    ops.Similarity.DotProduct(args.head, args(1))
  }

  private def lirBuilder(args: Seq[Expression]): Expression = {
    require(args.length == 2, "longest_identity_run(a, b) takes 2 arguments")
    ops.TextAnalysis.LongestIdentityRun(args.head, args(1))
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)] = Seq(
    (FunctionIdentifier("kmer_encode"),
      new ExpressionInfo(classOf[bio.KmerCodec.KmerEncode].getName, "kmer_encode"),
      kmerEncodeBuilder _),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[ops.Similarity.DotProduct].getName, "dot_product"),
      dotBuilder _),
    (FunctionIdentifier("longest_identity_run"),
      new ExpressionInfo(classOf[ops.TextAnalysis.LongestIdentityRun].getName,
        "longest_identity_run"),
      lirBuilder _))

  /** Register on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        id.funcName, builder, "scala_udf")
    }
}
