package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for `private[sql]` Column↔Expression conversion —
  * the standard extension-point bridge for libraries shipping native
  * Catalyst expressions (same approach as spark packages like spark-xml
  * pre-merge). Nothing else from the private API surface is touched. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `StructType.asNullable` (private[spark]): the schema a parquet
    * round-trip reports — every field (incl. nested) nullable. Used to
    * supply the known schema on stage read-backs without an inference
    * job. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** The VALUE column under a sort wrapper: `col.desc` wraps the column
    * node in an sql-internal SortOrder, which is Unevaluable if it leaks
    * into a value expression (e.g. hashing a caller's order columns to
    * derive a deterministic salt). Plain value columns pass through. */
  def sortChild(c: Column): Column = c.node match {
    case org.apache.spark.sql.internal.SortOrder(child, _, _, _) => Column(child)
    case _ => c
  }
}
