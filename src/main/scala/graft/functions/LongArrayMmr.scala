package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Native per-group MMR greedy selection: from one query's candidate
  * pool `array<struct<n_id bigint, rel bigint, cv array<bigint>>>`,
  * pick `k` results maximizing `relW·rel − penW·max_{s∈selected}
  * dot(cv, cv_s)` (ties to the smaller n_id), returning
  * `array<struct<n_id, pick_order, mmr_score>>` in pick order.
  *
  * This replaces the k−1 GLOBAL driver-coordinated rounds the
  * DataFrame spelling needed (each round: an anti-join, a penalty
  * join, two aggregates, and a lineage truncation — ~3 jobs per round
  * over the whole pool frame): the greedy recurrence is sequential
  * WITHIN a query but independent ACROSS queries, so one bounded
  * per-group evaluation (pool ≤ the retrieval depth, 20 here) inside
  * an ordinary aggregate scales with |queries| instead of serializing
  * on k driver rounds. Same integers as the round spelling: the
  * argmax compares (mmr, −n_id) exactly like `max(struct(mmr, −n_id))`,
  * dot products are the LongArrayDot plain-sum, and the weighted mix
  * uses multiplyExact/subtractExact so overflow stays LOUD like the
  * ANSI column arithmetic it replaces. Round 1's recorded score is
  * `relW·rel` (no penalty term exists yet), matching the old
  * `m.mmr * 7`.
  *
  * Evaluated (CodegenFallback) — acceptable off the corpus-sized hot
  * path because it runs once per QUERY GROUP over a bounded pool; the
  * corpus-sized work (pool retrieval) stays in codegen'd operators.
  */
case class LongArrayMmr(child: Expression, k: Int, relW: Int, penW: Int)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(
        StructField(_, LongType, _, _),
        StructField(_, LongType, _, _),
        StructField(_, ArrayType(LongType, _), _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<struct<bigint, bigint, array<bigint>>>, " +
        s"got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_id", LongType, nullable = false),
    StructField("pick_order", LongType, nullable = false),
    StructField("mmr_score", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "long_array_mmr"

  /** The pool's struct field names, for naming a NULL in the error. */
  @transient private lazy val fieldNames: Array[String] =
    child.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fieldNames

  /** The pool type admits NULLs (the real query's fields are nullable
    * parquet columns and expressions), but the selection has no NULL
    * semantics: getLong/toLongArray would read a NULL as 0 and rank it.
    * A NULL candidate, field or `cv` element fails the query instead.
    */
  private def nullInput(what: String, i: Int): Nothing =
    throw new IllegalArgumentException(
      s"$prettyName: NULL $what in candidate $i of the pool")

  override def nullSafeEval(c: Any): Any = {
    val arr = c.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val rels = new Array[Long](n)
    val vecs = new Array[Array[Long]](n)
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) nullInput("candidate", i)
      val row = arr.getStruct(i, 3)
      var f = 0
      while (f < 3) {
        if (row.isNullAt(f)) nullInput(s"field ${fieldNames(f)}", i)
        f += 1
      }
      val cv = row.getArray(2)
      var j = 0
      while (j < cv.numElements()) {
        if (cv.isNullAt(j)) nullInput(s"${fieldNames(2)} element $j", i)
        j += 1
      }
      ids(i) = row.getLong(0)
      rels(i) = row.getLong(1)
      vecs(i) = cv.toLongArray()
      i += 1
    }
    val picked = new Array[Boolean](n)
    val sel = new Array[Int](math.min(k, n))
    val out = new Array[Any](math.min(k, n))
    var r = 0
    while (r < out.length) {
      var best = -1
      var bestScore = 0L
      i = 0
      while (i < n) {
        if (!picked(i)) {
          // penalty = max dot against the already-selected set; round 1
          // has no penalty term (score = relW·rel), matching the round
          // spelling's first argmax over rel alone
          var score = Math.multiplyExact(rels(i), relW.toLong)
          if (r > 0) {
            var pen = Long.MinValue
            var s = 0
            while (s < r) {
              val v = vecs(sel(s))
              val w = vecs(i)
              val m = math.min(v.length, w.length)
              var d = 0L
              var j = 0
              while (j < m) { d += v(j) * w(j); j += 1 }
              if (d > pen) pen = d
              s += 1
            }
            score = Math.subtractExact(score,
              Math.multiplyExact(pen, penW.toLong))
          }
          // argmax on (score, −n_id): ties to the smaller id — exactly
          // max(struct(mmr, -n_id))
          if (best < 0 || score > bestScore ||
              (score == bestScore && ids(i) < ids(best))) {
            best = i
            bestScore = score
          }
        }
        i += 1
      }
      picked(best) = true
      sel(r) = best
      out(r) = InternalRow(ids(best), (r + 1).toLong, bestScore)
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      newChild: Expression): LongArrayMmr = copy(child = newChild)
}

object LongArrayMmr {
  /** Column API: greedy MMR selection over a packed candidate pool. */
  def mmrSelect(cands: Column, k: Int, relW: Int, penW: Int): Column =
    Bridge.column(LongArrayMmr(Bridge.expression(cands), k, relW, penW))
}
