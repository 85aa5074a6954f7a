package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: cut every token covered by a k-token
  * window starting at one of `starts` out of an array<string> token
  * column and re-join the rest single-spaced —
  * struct<n_removed: int, clean_text: string>.
  *
  * Purpose: passage removal needs, per document, the tokens NOT
  * covered by any duplicated window. A document and its window starts
  * are both bounded, so one row holding both decides the cut locally,
  * with no token-granular shuffle: a difference array over the starts
  * (+1 at the clamped window start, −1 past its end) and one
  * prefix-sum sweep over the tokens, O(tokens + starts), no sort.
  *
  * Semantics match the relational token-explode / anti-join / ordered
  * regroup exactly (pinned in PassageDedupSpec): windows are clamped to
  * [0, size) (starts past the end or wholly before 0 cut nothing),
  * duplicate and null starts are harmless, `n_removed` counts covered
  * tokens, and `clean_text` is `concat_ws(' ', kept tokens)` — null
  * token elements count as kept but are skipped by the join, and a
  * fully covered document yields ''. Null tokens or null starts →
  * null (callers pass an empty start array for an uncut document).
  */
case class PassageCut(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  require(k >= 1, s"passage_cut needs k >= 1, got $k")

  override def dataType: DataType = PassageCut.ResultType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "passage_cut requires array<string> tokens and array<int> " +
            s"starts, got ${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(tokens: Any, starts: Any): Any =
    PassageCut.cut(tokens.asInstanceOf[ArrayData],
      starts.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PassageCut.cut($a, $b, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PassageCut =
    copy(left = newLeft, right = newRight)
}

object PassageCut {

  val ResultType: StructType = StructType(Seq(
    StructField("n_removed", IntegerType, nullable = false),
    StructField("clean_text", StringType, nullable = false)))

  private val Sep = UTF8String.fromString(" ")

  /** The linear sweep; shared by interpreted eval and generated code. */
  def cut(tokens: ArrayData, starts: ArrayData, k: Int): InternalRow = {
    val n = tokens.numElements()
    // depth(i) = number of windows covering token i, built as a
    // difference array; long arithmetic keeps s + k from overflowing
    val depth = new Array[Int](n + 1)
    var j = 0
    while (j < starts.numElements()) {
      if (!starts.isNullAt(j)) {
        val s = starts.getInt(j).toLong
        val lo = math.max(s, 0L)
        val hi = math.min(s + k, n.toLong)
        if (lo < hi) {
          depth(lo.toInt) += 1
          depth(hi.toInt) -= 1
        }
      }
      j += 1
    }
    var removed = 0
    var cover = 0
    var i = 0
    while (i < n) {
      cover += depth(i)
      depth(i) = cover
      if (cover > 0) removed += 1
      i += 1
    }
    val kept = new Array[UTF8String](n - removed)
    var w = 0
    i = 0
    while (i < n) {
      if (depth(i) == 0) {
        kept(w) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
        w += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](removed, UTF8String.concatWs(Sep, kept: _*)))
  }

  /** Column-API entry point: `passage_cut(tokens, starts, k)`. */
  def passage_cut(tokens: Column, starts: Column, k: Int): Column =
    GraftSqlShim.toColumn(
      PassageCut(GraftSqlShim.toExpression(tokens),
        GraftSqlShim.toExpression(starts), k))
}
