package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Ivf, Similarity}

/** Every native kernel is a Catalyst expression built by its operator,
  * so a frame resolves in whatever session it belongs to, whichever
  * session the thread has active, and gives the same values everywhere.
  * Invalid kernel arguments fail when the frame is built. */
class KernelBuildSpec extends AnyFunSuite {
  import TestSpark.spark

  /** The four kernel-backed operators over frames of `s`, each collected
    * in a fixed order. */
  private def kernelRows(s: SparkSession): Seq[Seq[Row]] = {
    import s.implicits._
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f, 2.0f), Seq(1.0f, 1.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f), Seq(3.0f, -1.0f, 0.5f)),
      (2L, Seq(-2.0f, 1.5f, 0.25f), Seq(-2.0f, 1.5f, 0.25f))).toDF("id", "a", "b")
    val cos = vecs.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
    val scored = Seq((0L, 1L, 0.5), (0L, 2L, 0.9), (0L, 3L, 0.9), (1L, 4L, 0.1))
      .toDF("qid", "vec_id", "sim")
    val top = Similarity.rankTopK(scored, 2)
    val sets = Seq((0L, Seq("a", "b", "d"), Seq("b", "c", "d")), (1L, Seq("x"), Seq.empty[String]))
      .toDF("id", "l", "r")
    val inter = sets.select(col("id"), Dedup.sortedIntersectCount(col("l"), col("r")).as("n"))
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "café über 世界"), (2L, ""))
      .toDF("doc_id", "text")
    val fp = docs.select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
    Seq(cos, top, inter, fp).map(sorted)
  }

  private def sorted(f: DataFrame): Seq[Row] =
    f.orderBy(f.columns.toSeq.map(col): _*).collect().toSeq

  test("kernels resolve on an unregistered newSession() child while the registered session is active") {
    val child = GraftSession.local(4).newSession()
    SparkSession.setActiveSession(spark)
    val inChild = kernelRows(child)
    val inRegistered = kernelRows(spark)
    assert(inChild == inRegistered)
    assert(inRegistered.forall(_.nonEmpty))
  }

  test("invalid kernel arguments throw IllegalArgumentException when the frame is built") {
    import spark.implicits._
    val docs = Seq(Tuple1("the cat sat")).toDF("text")
    intercept[IllegalArgumentException](docs.select(TextFunctions.charNgrams(col("text"), 0, distinct = true)))
    intercept[IllegalArgumentException](docs.select(TextFunctions.wordNgrams(col("text"), 0, distinct = false)))
    val emb = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val centers = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val index = Ivf.fromCenters(emb, centers)
    val queries = emb.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    intercept[IllegalArgumentException](Ivf.topK(index, queries, k = 1, nProbe = centers.length + 1))
    // in range it builds and runs
    assert(Ivf.topK(index, queries, k = 1, nProbe = centers.length).count() == 2)
  }
}
