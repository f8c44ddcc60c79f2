package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All multi-table LSH bucket ids for one embedding in a single fused
  * loop: element t of the output is table t's bucket (sign bit per
  * hyperplane packed into a long). Replaces `nTables × nPlanes`
  * independent zip_with+aggregate dot-product trees with one pass that
  * reads the vector once — the bucket computation is the per-row hot loop
  * of LSH indexing at corpus scale.
  *
  * Each plane is a left-to-right double fold with a `>= 0` sign, the
  * bucket function the DuckDB oracles replay. The plane matrix is baked
  * into the expression (the md5-derived `Similarity.md5Planes`), not a
  * child.
  */
case class HyperplaneBuckets(child: Expression, planes: Array[Array[Array[Double]]])
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_buckets expects array<float>, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_hyperplane_buckets"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // Fail loudly on a dimension mismatch: truncating would silently
    // hash into wrong buckets.
    if (planes.nonEmpty && planes(0).nonEmpty && planes(0)(0).length != n)
      throw new IllegalArgumentException(
        s"graft_hyperplane_buckets: embedding dim $n != hyperplane dim ${planes(0)(0).length}; " +
          "build the planes at the corpus dimension (Similarity.md5Planes)")
    val vec = new Array[Double](n)
    var i = 0
    while (i < n) { vec(i) = arr.getFloat(i).toDouble; i += 1 }
    val out = new Array[Any](planes.length)
    var t = 0
    while (t < planes.length) {
      val table = planes(t)
      var bucket = 0L
      var j = 0
      while (j < table.length) {
        val p = table(j)
        var d = 0.0
        var k = 0
        while (k < n) { d += vec(k) * p(k); k += 1 }
        if (d >= 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
