package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Public extension hook installing graft's native expressions into the
  * SQL function registry: `builder.withExtensions(new GraftExtensions)`
  * (GraftSession does this) or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.shingleHashes)
    ext.injectFunction(GraftExtensions.simhash64)
    ext.injectFunction(GraftExtensions.minhashSignature)
    ext.injectFunction(GraftExtensions.vectorDot)
    ext.injectFunction(GraftExtensions.langId)
    ext.injectFunction(GraftExtensions.jaccardSim)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    ext.injectPlannerStrategy(_ => new graft.plans.PostingPairsStrategy)
  }
}

object GraftExtensions {

  val shingleHashes
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingle_hashes"),
    new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: shingle_hashes(text, n)")
      val n = args(1) match {
        case Literal(v: Int, _) => v
        case other =>
          throw new IllegalArgumentException(
            s"shingle_hashes: n must be an INT literal, got $other")
      }
      ShingleHashes(args.head, n)
    })

  val simhash64
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash64"),
    new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: simhash64(text)")
      SimHash64(args.head)
    })

  val minhashSignature
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_signature"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
    (args: Seq[Expression]) => {
      require(args.length == 3, "usage: minhash_signature(text, n, k)")
      (args(1), args(2)) match {
        case (Literal(n: Int, _), Literal(k: Int, _)) =>
          MinHashSignature(args.head, n, k)
        case other =>
          throw new IllegalArgumentException(
            s"minhash_signature: n and k must be INT literals, got $other")
      }
    })

  val vectorDot
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vector_dot"),
    new ExpressionInfo(classOf[VectorDot].getName, "vector_dot"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: vector_dot(a, b)")
      VectorDot(args.head, args(1))
    })

  val langId
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("lang_id"),
    new ExpressionInfo(classOf[LangId].getName, "lang_id"),
    (args: Seq[Expression]) => {
      require(args.length == 1, "usage: lang_id(text)")
      LangId(args.head)
    })

  val jaccardSim
  : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("jaccard_sim"),
    new ExpressionInfo(classOf[JaccardSim].getName, "jaccard_sim"),
    (args: Seq[Expression]) => {
      require(args.length == 2, "usage: jaccard_sim(a, b)")
      JaccardSim(args.head, args(1))
    })
}
