package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Number of positions where two MinHash signatures (bigint arrays) hold
  * the same non-null value — the numerator of `Dedup.estJaccard`, as one
  * codegen'd loop instead of an interpreted `aggregate(zip_with(...))`
  * tree. Same result as that form, kept as the reference in
  * MinHashMd5Spec: NULL when either array is NULL; over unequal lengths
  * only the common prefix can match (zip_with pads the shorter side with
  * nulls, and a null never matches). */
case class SignatureMatchCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"graft_sig_match_count expects two arrays of bigint, got (${l.simpleString}, ${r.simpleString})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_sig_match_count"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var i = 0; var c = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i) && x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val c = ctx.freshName("c")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |int $c = 0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$x.isNullAt($i) && !$y.isNullAt($i) && $x.getLong($i) == $y.getLong($i)) { $c++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
