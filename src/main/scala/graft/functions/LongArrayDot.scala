package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: dot product of two `array<long>` columns.
  *
  * The Spark-built-in spelling, `aggregate(zip_with(a, b, _*_), 0L, _+_)`,
  * runs on the interpreted higher-order-function path (lambda dispatch
  * per element, no whole-stage codegen). This expression generates a
  * tight primitive loop inside the codegen'd stage — the preference
  * ladder is built-ins > native Expression > UDF, and built-ins
  * genuinely can't express "codegen'd array loop" here.
  *
  * Semantics: null if either side is null; element-wise product summed
  * over the shorter length (callers pass equal-length quantized
  * embeddings; products of ×1e4-quantized floats stay far below 2^63).
  */
case class LongArrayDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "long_array_dot"

  private def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  }
  /** Nullable when a NULL ELEMENT can surface (nulls the whole dot), not
    * just when an input is null — without this, non-nullable inputs make
    * codegen render `ev.isNull` as the constant `false` and the
    * generated assignment fails to compile, silently falling back to
    * interpreted eval (a real regression caught by janino
    * "not an rvalue" errors in round 2).
    */
  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable(left) || elemNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0
    var s = 0L
    while (i < n) {
      // a NULL element nullifies the whole dot product (DuckDB
      // list_dot_product semantics) — getLong on a null slot would
      // silently read garbage
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // only emit the element-null branch when an element CAN be null:
      // with containsNull=false arrays the check is dead code, and the
      // `ev.isNull` assignment would not even compile (constant false)
      val nullBreak =
        if (elemNullable(left) || elemNullable(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $s = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullBreak
         |  $s += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongArrayDot =
    copy(left = newLeft, right = newRight)
}

object LongArrayDot {
  /** Column API: dot product of two long-array columns. */
  def dotQ(a: Column, b: Column): Column =
    Bridge.column(LongArrayDot(Bridge.expression(a), Bridge.expression(b)))
}
