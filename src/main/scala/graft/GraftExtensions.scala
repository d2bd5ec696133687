package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.ArrayDot

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so `spark.sql` users (the
  * reference's passthrough surface) can call them too. Enable with
  * `spark.sql.extensions=graft.GraftExtensions` (or `withExtensions(new
  * GraftExtensions)` on a session builder), then:
  *
  * {{{
  * spark.sql("SELECT array_dot(a, b) FROM vectors")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.arrayDotDescriptor)
    e.injectFunction(GraftExtensions.arrayCosineDescriptor)
    e.injectFunction(GraftExtensions.shinglesDescriptor)
    e.injectFunction(GraftExtensions.minhashSignatureDescriptor)
    e.injectFunction(GraftExtensions.simhashSignatureDescriptor)
    // declarative HOF dot products compile to the fast ArrayDot loop
    e.injectOptimizerRule(_ => functions.RewriteHofDotProduct)
  }
}

object GraftExtensions {
  val arrayDotDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_dot"),
    new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
    (children: Seq[Expression]) => ArrayDot(children(0), children(1)))

  /** array_cosine(a, b): composed from ArrayDot at expression-build time
    * — dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))) — so SQL users get
    * the codegen'd loop three times, no UDF. Null-propagating like its
    * parts (ArrayDot mirrors the HOF null semantics). The divide is
    * LEGACY-mode so a zero-norm input yields SQL NULL — the cosineUdf
    * defined-null contract — instead of ANSI DIVIDE_BY_ZERO (Spark 4
    * default).
    */
  val arrayCosineDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("array_cosine"),
    new ExpressionInfo(classOf[ArrayDot].getName, "array_cosine"),
    (children: Seq[Expression]) => {
      import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Multiply, Sqrt}
      val (a, b) = (children(0), children(1))
      Divide(ArrayDot(a, b),
        Multiply(Sqrt(ArrayDot(a, a)), Sqrt(ArrayDot(b, b))), EvalMode.LEGACY)
    })

  val shinglesDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingles"),
    new ExpressionInfo(classOf[functions.Shingles].getName, "shingles"),
    (children: Seq[Expression]) => {
      val k = children.lift(1) match {
        case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
        case None => 3
        case other => throw new IllegalArgumentException(
          s"shingles(text, k): k must be an int literal, got $other")
      }
      functions.Shingles(children.head, k)
    })

  /** minhash_signature(text[, k]): the fused shingle+seeded-md5-minima
    * signature ([[functions.MinhashSignature]]) with the engine's default
    * 6 seeds — the SQL face of the dedup ingest tier.
    */
  val minhashSignatureDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[functions.MinhashSignature].getName, "minhash_signature"),
    (children: Seq[Expression]) => {
      val k = children.lift(1) match {
        case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
        case None => 3
        case other => throw new IllegalArgumentException(
          s"minhash_signature(text, k): k must be an int literal, got $other")
      }
      functions.MinhashSignature(children.head, k,
        functions.MinhashSignature.defaultSeeds)
    })

  /** simhash_signature(text[, k]): the fused 32-bit distinct-shingle
    * SimHash ([[functions.SimhashSignature]]).
    */
  val simhashSignatureDescriptor: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_signature"),
    new ExpressionInfo(classOf[functions.SimhashSignature].getName, "simhash_signature"),
    (children: Seq[Expression]) => {
      val k = children.lift(1) match {
        case Some(org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _)) => v
        case None => 3
        case other => throw new IllegalArgumentException(
          s"simhash_signature(text, k): k must be an int literal, got $other")
      }
      functions.SimhashSignature(children.head, k)
    })

  /** Register on an existing session (tests / REPL convenience). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Seq(arrayDotDescriptor, arrayCosineDescriptor, shinglesDescriptor,
      minhashSignatureDescriptor, simhashSignatureDescriptor).foreach {
      case (id, _, builder) =>
        spark.sessionState.functionRegistry.createOrReplaceTempFunction(
          id.funcName, builder, "scala_udf")
    }
}
