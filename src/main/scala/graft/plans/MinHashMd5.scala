package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Oracle-replayable MinHash signature of a shingle array in one pass —
  * the kernel behind `Dedup.withMinhashSignatureMd5`. Per shingle it takes
  * ONE md5 digest of the UTF-8 bytes and reads both hash halves straight
  * off the digest bytes:
  *  - `h1` = the high 60 bits (hex chars 1–15), `Dedup.md5Hash60`;
  *  - `h2` = the 56 bits of hex chars 17–30, `Dedup.md5Hash56`;
  * and in the same loop folds the k Kirsch–Mitzenmacher minima
  * `sig[j] = min(h1 + j·h2)`. Any engine replays it from
  * `CAST(('0x' || substring(md5(t), ...)) AS BIGINT)` (`MinhashSql`).
  * With `withHashes` the result is `struct<sig, sh>`, `sh` being the
  * sorted distinct `h1` set (the hashed shingle set an exact-Jaccard
  * verify ships as 8-byte longs); otherwise it is the bare signature.
  *
  * Null semantics are those of the declarative form (k
  * `array_min(transform(...))` trees, kept as the reference in
  * MinHashMd5Spec):
  *  - NULL array → NULL;
  *  - empty array → NULL signature, so zero-shingle docs band nowhere
  *    (`sh` is then `[]`);
  *  - null elements are skipped; an array of nulls only gives k NULL
  *    slots, and `sh` carries one trailing null (array_distinct +
  *    array_sort order).
  *
  * k ≤ 64: with h1 < 2^60 and h2 < 2^56, h1 + 64·h2 < 2^63, so no slot
  * (nor the running sum past the last one) overflows a signed long. */
case class MinHashMd5(child: Expression, k: Int, withHashes: Boolean)
  extends UnaryExpression {

  require(k >= 1 && k <= 64, s"graft_minhash_md5 needs 1 <= k <= 64, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_md5 expects array<string>, got ${other.simpleString}")
  }
  override def nullable: Boolean = true
  override def dataType: DataType =
    if (withHashes) MinHashMd5.SigAndHashesType else MinHashMd5.SigType
  override def prettyName: String = "graft_minhash_md5"

  override protected def nullSafeEval(input: Any): Any =
    MinHashMd5.sign(input.asInstanceOf[ArrayData], k, withHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r = ctx.freshName("r")
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |Object $r = ${MinHashMd5.getClass.getName}.MODULE$$.sign($a, $k, $withHashes);
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = (${CodeGenerator.javaType(dataType)}) $r;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashMd5 {
  val SigType: ArrayType = ArrayType(LongType, containsNull = true)
  val SigAndHashesType: StructType = StructType(Seq(
    StructField("sig", SigType), StructField("sh", SigType)))

  /** One digest per thread: a MessageDigest is stateful, and the same
    * expression instance can be evaluated by several threads at once
    * (constant folding of a plan two concurrent queries share). */
  private val digest = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** Big-endian unsigned read of `n` digest bytes from `off`. */
  private def bytesAt(d: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L
    var i = 0
    while (i < n) { v = (v << 8) | (d(off + i) & 0xffL); i += 1 }
    v
  }

  /** One row: the signature (`ArrayData`, or null), or with `withHashes`
    * the `(sig, sh)` row. Shared by the interpreted and generated paths. */
  def sign(arr: ArrayData, k: Int, withHashes: Boolean): AnyRef = {
    val md = digest.get()
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    val h1s = if (withHashes) new Array[Long](n) else null
    val d = new Array[Byte](16)
    var m = 0
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        md.update(arr.getUTF8String(t).getByteBuffer)
        md.digest(d, 0, 16)
        val h1 = bytesAt(d, 0, 8) >>> 4
        val h2 = bytesAt(d, 8, 7)
        var g = h1
        var j = 0
        while (j < k) {
          if (g < mins(j)) mins(j) = g
          g += h2
          j += 1
        }
        if (withHashes) h1s(m) = h1
        m += 1
      }
      t += 1
    }
    val sig: ArrayData =
      if (n == 0) null
      else if (m == 0) new GenericArrayData(new Array[Any](k))
      else UnsafeArrayData.fromPrimitiveArray(mins)
    if (!withHashes) sig
    else {
      java.util.Arrays.sort(h1s, 0, m)
      var u = 0
      var i = 0
      while (i < m) {
        if (u == 0 || h1s(i) != h1s(u - 1)) { h1s(u) = h1s(i); u += 1 }
        i += 1
      }
      val sh: ArrayData =
        if (m == n) UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h1s, u))
        else new GenericArrayData(Array.tabulate[Any](u + 1)(i => if (i < u) h1s(i) else null))
      new GenericInternalRow(Array[Any](sig, sh)): InternalRow
    }
  }
}
