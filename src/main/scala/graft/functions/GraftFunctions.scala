package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graftbridge.Bridge

/** Registration surface for graft's native Catalyst expressions.
  *
  * Two entry points:
  *  - [[GraftExtensions]], which [[graft.GraftSession]] installs on every
  *    session it builds (or `spark.sql.extensions=graft.functions.GraftExtensions`
  *    for sessions built elsewhere);
  *  - [[GraftFunctions]] column API + runtime registration for an
  *    already-built session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach(ext.injectFunction)
}

object GraftFunctions {

  private type Descriptor =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private[functions] val minhashSigDescriptor: Descriptor = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_sig"),
    { args: Seq[Expression] =>
      args match {
        case Seq(c, Literal(k: Int, _), Literal(len: Int, _)) =>
          MinHashSignature(c, k, len)
        case Seq(c) => MinHashSignature(c, 4, 5)
        case _ => throw new IllegalArgumentException(
          "minhash_sig(text[, k, shingle_len]) — k and shingle_len must be int literals")
      }
    })

  private[functions] val md5MinhashSigDescriptor: Descriptor = (
    FunctionIdentifier("md5_minhash_sig"),
    new ExpressionInfo(classOf[Md5MinHashSignature].getName, "md5_minhash_sig"),
    { args: Seq[Expression] =>
      args match {
        case Seq(c, Literal(k: Int, _), Literal(len: Int, _)) =>
          Md5MinHashSignature(c, k, len)
        case Seq(c) => Md5MinHashSignature(c, 4, 5)
        case _ => throw new IllegalArgumentException(
          "md5_minhash_sig(text[, k, shingle_len]) — k and shingle_len must be int literals")
      }
    })

  private[functions] val dotQ30Descriptor: Descriptor = (
    FunctionIdentifier("dot_q30"),
    new ExpressionInfo(classOf[DotQ30].getName, "dot_q30"),
    { args: Seq[Expression] =>
      args match {
        case Seq(a, b) => DotQ30(a, b)
        case _ => throw new IllegalArgumentException("dot_q30(vec_a, vec_b)")
      }
    })

  private[functions] val pyLiteralListDescriptor: Descriptor = (
    FunctionIdentifier("py_literal_list"),
    new ExpressionInfo(classOf[PyLiteralListParse].getName, "py_literal_list"),
    { args: Seq[Expression] =>
      args match {
        case Seq(c) => PyLiteralListParse(c)
        case _ => throw new IllegalArgumentException("py_literal_list(text)")
      }
    })

  private[functions] val nfcNormalizeDescriptor: Descriptor = (
    FunctionIdentifier("nfc_normalize"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
    { args: Seq[Expression] =>
      args match {
        case Seq(c) => NfcNormalize(c)
        case _ => throw new IllegalArgumentException("nfc_normalize(text)")
      }
    })

  private[functions] val hashedScoreDescriptor: Descriptor = (
    FunctionIdentifier("hashed_quality_score"),
    new ExpressionInfo(classOf[HashedLinearScoreQ30].getName, "hashed_quality_score"),
    { args: Seq[Expression] =>
      // SQL surface binds the deterministic seeded weight table (the
      // column API takes arbitrary learned weights)
      args match {
        case Seq(c, Literal(n: Int, _), Literal(seed: Long, _)) =>
          HashedLinearScoreQ30(c, graft.ext.TextStats.seededWeightsQ30(n, seed))
        case Seq(c, Literal(n: Int, _)) =>
          HashedLinearScoreQ30(c, graft.ext.TextStats.seededWeightsQ30(n))
        case Seq(c) =>
          HashedLinearScoreQ30(c, graft.ext.TextStats.seededWeightsQ30(64))
        case _ => throw new IllegalArgumentException(
          "hashed_quality_score(text[, n_buckets, seed]) — literals only")
      }
    })

  /** All native functions exposed to SQL (extension + runtime registry). */
  private[functions] val descriptors: Seq[Descriptor] = Seq(
    minhashSigDescriptor, md5MinhashSigDescriptor, dotQ30Descriptor,
    pyLiteralListDescriptor, nfcNormalizeDescriptor, hashedScoreDescriptor)

  /** Column API: k-long MinHash signature of a string column. */
  def minhashSig(c: Column, k: Int = 4, shingleLen: Int = 5): Column =
    Bridge.column(MinHashSignature(Bridge.expression(c), k, shingleLen))

  /** Column API: fused hashed-feature linear score (raw Q30 long sum). */
  def hashedScore(c: Column, weightsQ30: Seq[Long]): Column =
    Bridge.column(HashedLinearScoreQ30(Bridge.expression(c), weightsQ30))

  /** Runtime registration for sessions built without the extension. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
