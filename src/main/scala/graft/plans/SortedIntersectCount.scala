package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Intersection size of two SORTED arrays (string or long elements) via
  * a merge scan —
  * O(n+m) comparisons, no per-call hash-set allocation. Equals
  * `size(array_intersect(a, b))` when both sides are `array_sort`ed and
  * distinct (shingle sets): array_intersect builds a hash set per CALL,
  * which on an all-pairs Jaccard join means one hash set per PAIR; the
  * merge scan turns the hot loop into pointer-chasing-free comparisons.
  * Exact integer result → oracle-identical wherever it stands in for the
  * HOF. Built only through `Dedup.sortedIntersectCount`.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) => true
    case _ => false
  }

  private lazy val longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = elemOk(left.dataType) && elemOk(right.dataType) &&
      left.dataType.asInstanceOf[ArrayType].elementType ==
        right.dataType.asInstanceOf[ArrayType].elementType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect_count expects two arrays of string or of bigint " +
        s"with matching element types, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sorted_intersect_count"

  /** Null elements: callers feed this SORTED-DISTINCT inputs, so each
    * side holds at most one null and array_sort places it LAST.
    * The merge scan therefore stops at the first null slot, and — matching
    * `size(array_intersect(...))` — counts one extra when BOTH sides end
    * with a null (array_intersect keeps null iff both arrays contain it). */
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val nx = x.numElements(); val ny = y.numElements()
    while (i < nx && j < ny && !x.isNullAt(i) && !y.isNullAt(j)) {
      val cmp =
        if (longElems) java.lang.Long.compare(x.getLong(i), y.getLong(j))
        else x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    if (nx > 0 && ny > 0 && x.isNullAt(nx - 1) && y.isNullAt(ny - 1)) c += 1
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val cmp = ctx.freshName("cmp")
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val cmpExpr =
        if (longElems) s"java.lang.Long.compare($x.getLong($i), $y.getLong($j))"
        else s"$x.getUTF8String($i).compareTo($y.getUTF8String($j))"
      s"""
         |int $nx = $x.numElements(); int $ny = $y.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $nx && $j < $ny && !$x.isNullAt($i) && !$y.isNullAt($j)) {
         |  int $cmp = $cmpExpr;
         |  if ($cmp == 0) { $c++; $i++; $j++; }
         |  else if ($cmp < 0) { $i++; } else { $j++; }
         |}
         |if ($nx > 0 && $ny > 0 && $x.isNullAt($nx - 1) && $y.isNullAt($ny - 1)) { $c++; }
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
