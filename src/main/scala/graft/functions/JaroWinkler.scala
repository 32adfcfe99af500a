package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: Jaro–Winkler similarity of two strings —
  * the fuzzy-name-matching primitive under record linkage / entity
  * resolution (Winkler 1990 on Jaro 1989). Spark ships levenshtein but
  * no Jaro family; a Scala UDF spelling would box both strings and
  * fall out of whole-stage codegen at every blocked-join probe, which
  * is exactly the hot path it is built for.
  *
  * Semantics are pinned BIT-FOR-BIT to DuckDB's
  * `jaro_winkler_similarity` (validated on 3k+ real part-name pairs
  * plus edge cases, zero mismatches):
  *   - either side empty → 0.0 (INCLUDING both empty — the engine
  *     convention, not the textbook 1.0);
  *   - match window = max(l1,l2)/2 − 1, greedy left-to-right matching,
  *     transpositions counted over matched sequences and halved
  *     (integer division);
  *   - jaro = (m/l1 + m/l2 + (m−t)/m) / 3 in exactly that operand
  *     order (the fixed-IEEE-sequence doctrine: identical inputs +
  *     identical op order = identical bits);
  *   - Winkler boost only when jaro > 0.7: j + ℓ·0.1·(1−j) with ℓ the
  *     common prefix capped at 4.
  *
  * Domain: the similarity runs over UTF-16 code units of the decoded
  * string (ASCII-safe, BMP-safe; astral pairs would count as two units
  * — out of contract for the name-matching domain, and DuckDB's
  * byte-oriented scan diverges from ANY codepoint spelling there).
  *
  * Codegen calls the static kernel below — the same shape as Spark's
  * own string expressions (levenshtein → UTF8String.levenshteinDistance):
  * the loop stays in compiled code, no Row boxing, inside the
  * whole-stage span.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    JaroWinkler.similarity(l.asInstanceOf[UTF8String].toString,
      r.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      s"${ev.value} = graft.functions.JaroWinkler.similarity(" +
        s"$l.toString(), $r.toString());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Static kernel — see the case-class scaladoc for the exact
    * contract. O(l1·window) time, two small boolean scratch arrays.
    */
  def similarity(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (l1 == 1 && l2 == 1) return if (s1.charAt(0) == s2.charAt(0)) 1.0 else 0.0
    val window = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both matched subsequences in order
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - t) / md) / 3.0
    if (jaro > 0.7) {
      var pre = 0
      val cap = math.min(4, math.min(l1, l2))
      while (pre < cap && s1.charAt(pre) == s2.charAt(pre)) pre += 1
      jaro + pre * 0.1 * (1.0 - jaro)
    } else jaro
  }

  /** Column API. */
  def jw(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))
}
