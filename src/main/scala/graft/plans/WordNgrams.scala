package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-grams (space-joined token windows) of a string in ONE pass:
  * tokenize on single spaces (empties dropped), emit every `n`-token
  * window joined with `" "`; `distinct = true` keeps first occurrences
  * (`array_distinct` semantics). Docs with fewer than `n` tokens
  * collapse to `[all tokens joined]` — the shingling convention of
  * [[graft.functions.TextFunctions.wordShingles]].
  *
  * Replaces `transform(sequence(1, size(ts)-n+1), i -> concat_ws(" ",
  * element_at(ts, i), …))`, which materializes the token array, then
  * per window evaluates n interpreted `element_at` lambdas and a
  * `concat_ws` — the dominant cost of corpus-wide word shingling
  * (MinHash prep, decontamination). This kernel normalizes the text to
  * a single-spaced `joined` string once and slices each window as one
  * substring of it: O(len) + O(windows) with no lambda interpretation.
  */
case class WordNgrams(child: Expression, n: Int, distinct: Boolean)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1, s"n-gram length must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_word_ngrams expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override protected def nullSafeEval(input: Any): Any = {
    val str = input.asInstanceOf[UTF8String].toString
    // One pass: build the single-spaced join of the non-empty tokens
    // plus each token's start offset within it.
    val joined = new java.lang.StringBuilder(str.length)
    var nTok = 0
    var starts = new Array[Int](math.max(8, str.length / 4))
    var i = 0
    val len = str.length
    while (i < len) {
      if (str.charAt(i) != ' ') {
        val tokStart = i
        while (i < len && str.charAt(i) != ' ') i += 1
        if (nTok == starts.length) starts = java.util.Arrays.copyOf(starts, nTok * 2)
        if (nTok > 0) joined.append(' ')
        starts(nTok) = joined.length()
        joined.append(str, tokStart, i)
        nTok += 1
      } else i += 1
    }
    val js = joined.toString
    if (nTok < n) return new GenericArrayData(Array[Any](UTF8String.fromString(js)))
    val total = nTok - n + 1
    // window j = tokens [j, j+n): substring of `js` from starts(j) to
    // one char before starts(j+n) (the separating space), or end.
    def windowEnd(j: Int): Int = if (j + n == nTok) js.length else starts(j + n) - 1
    if (distinct) {
      val seen = new java.util.LinkedHashSet[String](total * 2)
      var j = 0
      while (j < total) { seen.add(js.substring(starts(j), windowEnd(j))); j += 1 }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](total)
      var j = 0
      while (j < total) { out(j) = UTF8String.fromString(js.substring(starts(j), windowEnd(j))); j += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
