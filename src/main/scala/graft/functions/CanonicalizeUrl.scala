package graft.functions

import graft.core.UrlCanon
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for URL canonicalization (P1/F1) — the
  * engine's hottest scalar function (applied to every frontier candidate).
  * A custom `Expression` with `doGenCode` instead of a Scala UDF: stays
  * inside whole-stage codegen (no UDF closure invocation, no extra
  * null-wrapping, no encoder round-trip), null-safe via UnaryExpression's
  * null-propagating eval.
  *
  * Semantics are exactly `UrlCanon.canonicalize` (urllib.parse-pinned,
  * see UrlCanonSpec) — the generated code calls the same static method the
  * sequential oracle uses, so codegen and interpreted paths cannot drift.
  */
case class CanonicalizeUrl(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(UrlCanon.canonicalize(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.core.UrlCanon.canonicalize($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): CanonicalizeUrl =
    copy(child = newChild)
}

object functions {
  import org.apache.spark.sql.GraftColumnBridge

  /** Column API for the native expression. */
  def canon_url(c: Column): Column =
    GraftColumnBridge.column(CanonicalizeUrl(GraftColumnBridge.expression(c)))

  /** SQL registration: SELECT canon_url(url). */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "canon_url", exprs => CanonicalizeUrl(exprs.head), "scala_udf")
}
