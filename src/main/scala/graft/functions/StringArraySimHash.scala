package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: engine-neutral 64-bit SimHash signature of
  * a token array (Charikar 2002), in one narrow-map kernel call per row.
  *
  * Per token: base hash h folds `(a·131 + codepoint) mod 1e9+7` over the
  * token's codepoints (the same engine-neutral family as
  * [[StringArrayFingerprint]]). Per bit j∈[0,64): mix
  * `y = (h·668265263 + (j+1)·2654435761) mod 1000003`, vote +1 when
  * `y² mod 1000003` is odd, else −1; signature bit j is set when the
  * vote sum over all tokens (with multiplicity) is ≥ 0.
  *
  * The SQUARE before the parity is load-bearing: the parity of a plain
  * LCG `(h·c1 + j·c2) mod p` is near-linear in its additive term — for
  * two tokens the 64 bit differences collapse to "always equal or always
  * complementary, except where the mod wraps", which correlates document
  * signatures so badly that ~11% of UNRELATED document pairs landed
  * within Hamming 6 on the test corpus (measured; vs 0.03% with the
  * squared mix — the same discrimination as xxhash64 votes). Squaring
  * makes the parity quadratic in the shift, restoring per-bit
  * independence while staying pure integer arithmetic that DuckDB can
  * restate verbatim — which an engine hash such as xxhash64 is not.
  *
  * Overflow audit (ANSI mode throws on Long overflow): h < 1e9+7, so
  * h·668265263 < 6.7e17; (j+1)·2654435761 < 1.7e11; y < 1000003, so
  * y² < 1.1e12 — all far under 2^62.
  *
  * Null semantics: null array → null; a null token poisons the signature
  * → null (matches the fold spelling and the oracle, where nulls cannot
  * occur).
  */
case class StringArraySimHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "string_array_simhash"
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    StringArraySimHash.kernel(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val res = ctx.freshName("res")
      s"""
         |Object $res = graft.functions.StringArraySimHash.kernel($v);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((Long) $res).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): StringArraySimHash =
    copy(child = newChild)
}

object StringArraySimHash {
  /** Token base-hash modulus (shared with StringArrayFingerprint). */
  final val M = 1000000007L
  /** Bit-mix modulus and multipliers — public so the SQL oracle and the
    * built-in reference spelling state the SAME constants once.
    */
  final val P = 1000003L
  final val C1 = 668265263L
  final val C2 = 2654435761L

  def kernel(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      val s = arr.getUTF8String(i).toString
      var h = 0L
      var j = 0
      while (j < s.length) {
        val cp = s.codePointAt(j)
        h = (h * 131 + cp) % M
        j += Character.charCount(cp)
      }
      var b = 0
      while (b < 64) {
        val y = (h * C1 + (b + 1) * C2) % P
        if ((y * y % P & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) >= 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  /** Column API: engine-neutral 64-bit simhash of a token array. */
  def simhash(toks: Column): Column =
    Bridge.column(StringArraySimHash(Bridge.expression(toks)))
}
