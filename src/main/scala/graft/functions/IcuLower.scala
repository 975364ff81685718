package graft.functions

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `lower(s)` without Spark's collation layer. Under UTF8_BINARY with the
  * default ICU case mappings, Spark 4.1's `lower` lowercases through
  * `CollationAwareUTF8String.toLowerCase`, and the first call in a JVM runs
  * that class's static initializer: it title-cases all 1,114,112 code
  * points through ICU to build a lookup table `lower` never reads. On a
  * metadata-scale ingest that one-off table was ~23% of the run's Java
  * CPU samples (PERF.md "Fixed costs the data never needed").
  *
  * Semantics are exactly that function's: full-ASCII input lowercases
  * byte-wise, anything else goes through the same
  * `UCharacter.toLowerCase(String)` call (full case mapping: `İ` → `i̇`,
  * final sigma by context, Kelvin sign → `k`); invalid UTF-8 is replaced as
  * `UTF8String.toValidString` replaces it. */
case class IcuLower(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "icu_lower"

  override protected def nullSafeEval(input: Any): Any =
    IcuLower.lower(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IcuLower.lower($c)")

  override protected def withNewChildInternal(newChild: Expression): IcuLower =
    copy(child = newChild)
}

object IcuLower {
  def lower(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(u.toValidString))
}
