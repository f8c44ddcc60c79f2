package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Unigram

/** r15: the narrow zero-job unigram DP forms must be BIT-IDENTICAL to the
  * unrolled relational reference implementations they replaced inside
  * [[Unigram.train]]/[[Unigram.trainEm]] — same rows, same doubles, same
  * decimals, on the real corpus vocabulary. */
class UnigramNarrowSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def vocab = {
    val toks = graft.queries.Tables.table(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "" && col("w").rlike("^[a-z0-9]+$"))
      .filter(length(col("w")) <= Unigram.MaxWordLen)
    toks.groupBy("w").agg(count(lit(1)).as("wc"))
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).sortBy(_.mkString("\u0000")).toSeq

  test("probsMap / probsMicroMap equal the relational probability frames bit-for-bit") {
    val words = vocab.localCheckpoint()
    val cnt = Unigram.seed(words, Unigram.MaxPieceLen, 80).localCheckpoint()
    val rel = Unigram.probs(cnt).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val nar = Unigram.probsMap(cnt)
    assert(nar.keySet == rel.keySet)
    assert(nar.forall { case (k, v) =>
      java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(rel(k)) })

    import org.apache.spark.sql.types.DecimalType
    val cntMicro = cnt.select(col("piece"),
      (col("n").cast(DecimalType(38, 0)) * lit(Unigram.EmUnit)).as("n"))
      .localCheckpoint()
    val relM = Unigram.probsMicro(cntMicro).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val narM = Unigram.probsMicroMap(cntMicro)
    assert(narM.keySet == relM.keySet)
    assert(narM.forall { case (k, v) =>
      java.lang.Double.doubleToRawLongBits(v) ==
        java.lang.Double.doubleToRawLongBits(relM(k)) })
  }

  test("viterbiNarrow is row/bit-identical to the unrolled relational viterbi") {
    val words = vocab.localCheckpoint()
    val cnt = Unigram.seed(words, Unigram.MaxPieceLen, 80).localCheckpoint()
    val rel = Unigram.viterbi(words, Unigram.probs(cnt),
      Unigram.MaxWordLen, Unigram.MaxPieceLen)
    val nar = Unigram.viterbiNarrow(words, Unigram.probsMap(cnt),
      Unigram.MaxWordLen, Unigram.MaxPieceLen)
    assert(nar.columns.toSeq == rel.columns.toSeq)
    val (r, n) = (sortedRows(rel), sortedRows(nar))
    assert(n.size == r.size)
    n.zip(r).foreach { case (a, b) => assert(a == b, s"narrow $a != relational $b") }
  }

  test("fbArrays matches forward and backward frames bit-for-bit") {
    val words = vocab.localCheckpoint()
    val cnt = Unigram.seed(words, Unigram.MaxPieceLen, 80).localCheckpoint()
    val pm = Unigram.probsMap(cnt)
    val p = Unigram.probs(cnt).localCheckpoint()
    val fb = Unigram.fbArrays(words, pm, Unigram.MaxWordLen, Unigram.MaxPieceLen)
      .localCheckpoint()
    val narF = fb.select(col("w"), col("wc"),
      posexplode(col("alphas")).as(Seq("pos0", "a")))
      .filter(col("a").isNotNull)
      .select(col("w"), col("wc"), col("pos0").cast("int").as("pos"), col("a"))
    val narB = fb.select(col("w"), col("wc"),
      posexplode(col("betas")).as(Seq("r0", "b")))
      .filter(col("b").isNotNull)
      .select(col("w"), col("wc"), col("r0").cast("int").as("r"), col("b"))
    val relF = Unigram.forward(words, p, Unigram.MaxWordLen, Unigram.MaxPieceLen)
    val relB = Unigram.backward(words, p, Unigram.MaxWordLen, Unigram.MaxPieceLen)
    assert(sortedRows(narF) == sortedRows(relF))
    assert(sortedRows(narB) == sortedRows(relB))
  }

  test("expectedCountsNarrow equals the relational expectedCounts (decimal-exact)") {
    val words = vocab.localCheckpoint()
    import org.apache.spark.sql.types.DecimalType
    val kept = Unigram.seed(words, Unigram.MaxPieceLen, 80)
      .select(col("piece"),
        (col("n").cast(DecimalType(38, 0)) * lit(Unigram.EmUnit)).as("n"))
      .localCheckpoint()
    val pm = Unigram.probsMicroMap(kept)
    val p = Unigram.probsMicro(kept).localCheckpoint()
    val f = Unigram.forward(words, p, Unigram.MaxWordLen, Unigram.MaxPieceLen)
    val b = Unigram.backward(words, p, Unigram.MaxWordLen, Unigram.MaxPieceLen)
    val rel = Unigram.expectedCounts(words, p, f, b, kept, Unigram.MaxPieceLen)
    val fb = Unigram.fbArrays(words, pm, Unigram.MaxWordLen, Unigram.MaxPieceLen)
    val nar = Unigram.expectedCountsNarrow(fb, pm, kept, Unigram.MaxPieceLen)
    assert(sortedRows(nar) == sortedRows(rel))
  }
}
