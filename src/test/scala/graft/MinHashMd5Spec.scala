package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Bit identity of the native MinHash kernels against the declarative
  * forms they replaced, which live on here as the reference:
  *  - signature: `md5Hash60`/`md5Hash56` per shingle, then k
  *    `array_min(transform(h1 + j·h2))` trees, NULL for an empty array;
  *  - hashed shingle set: `array_sort(array_distinct(transform(md5Hash60)))`;
  *  - estimate: `aggregate(zip_with(==))` over the two signatures.
  * Each comparison runs through generated code and through the
  * interpreted path. */
class MinHashMd5Spec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def refHalves(shingles: Column): Column = transform(shingles, t =>
    struct(Dedup.md5Hash60(t).as("h1"), Dedup.md5Hash56(t).as("h2")))

  private def refSig(shingles: Column, k: Int): Column =
    when(size(refHalves(shingles)) > 0, array((0 until k).map(j =>
      array_min(transform(refHalves(shingles),
        h => h.getField("h1") + lit(j.toLong) * h.getField("h2")))): _*))

  private def refHashes(shingles: Column): Column =
    array_sort(array_distinct(transform(shingles, t => Dedup.md5Hash60(t))))

  private def refEst(a: Column, b: Column, k: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / k

  /** Run `body` on generated code only (a compile error fails instead of
    * falling back), then on the interpreted expression path only. */
  private def bothPaths(body: => Unit): Unit = {
    def withConf(kv: (String, String)*): Unit = {
      val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { kv.foreach { case (k, v) => spark.conf.set(k, v) }; body }
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    withConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.getLong(0))

  /** Kernel vs reference over an `(id, sh)` frame: both signature forms
    * (with and without the hashed set) and the hashed set itself. */
  private def assertSignaturesMatch(docs: DataFrame, k: Int): Unit = {
    val kern = Dedup.withMinhashSignatureMd5(docs, col("sh"), k, hashedName = Some("shh"))
      .select(col("id"), col("sig"), col("shh"))
    val sigOnly = Dedup.withMinhashSignatureMd5(docs, col("sh"), k).select("id", "sig")
    val ref = docs.select(col("id"), refSig(col("sh"), k).as("sig"), refHashes(col("sh")).as("shh"))
    assert(kern.schema == ref.schema, s"${kern.schema.treeString} vs ${ref.schema.treeString}")
    val want = rows(ref)
    assert(rows(kern) == want)
    assert(rows(sigOnly) == want.map(r => Row(r.get(0), r.get(1))))
  }

  private def corpus: DataFrame =
    spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id"), TextFunctions.wordShingles(col("text"), 2).as("sh"))

  private val planted: Seq[(Long, Seq[String])] = Seq(
    (1L, Seq.empty[String]),                          // empty array
    (2L, Seq("a b", null, "b c")),                    // a null element
    (3L, Seq("only one")),                            // a single shingle
    (4L, Seq("a b", "b c", "a b", "a b", "c d")),     // repeated shingles
    (5L, Seq[String](null, null)),                    // nulls only
    (6L, null),                                       // NULL array
    (7L, Seq("", "ü ß", "\u0000x")))                  // empty, non-ASCII, NUL bytes

  // parallelize, not a local Seq: the optimizer would fold a projection
  // over a LocalRelation itself, and the generated-code path never runs
  private def plantedDf: DataFrame =
    spark.sparkContext.parallelize(planted, 2).toDF("id", "sh")

  test("md5 MinHash kernel equals the declarative signature on the corpus at k = 8 and k = 32") {
    val docs = corpus
    assert(docs.count() > 100)
    bothPaths {
      assertSignaturesMatch(docs, 8)
      assertSignaturesMatch(docs, 32)
    }
  }

  test("md5 MinHash kernel equals the declarative signature on planted edge rows") {
    bothPaths {
      assertSignaturesMatch(plantedDf, 8)
      assertSignaturesMatch(plantedDf, 32)
    }
    val got = rows(Dedup.withMinhashSignatureMd5(plantedDf, col("sh"), 8, hashedName = Some("shh"))
      .select("id", "sig", "shh")).map(r => r.getLong(0) -> r).toMap
    assert(got(1L).isNullAt(1) && got(1L).getSeq[Long](2).isEmpty)
    assert(got(6L).isNullAt(1) && got(6L).isNullAt(2))
    assert(got(5L).getSeq[Any](1) == Seq.fill(8)(null))
    assert(got(4L).getSeq[Long](2).size == 3)
  }

  test("md5 MinHash kernel rejects k past the overflow-free range") {
    intercept[IllegalArgumentException] {
      graft.plans.MinHashMd5(org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
        65, withHashes = false)
    }
  }

  test("signature match-count estimate equals aggregate(zip_with) with NULL and unequal-length signatures") {
    val pairs = spark.sparkContext.parallelize(Seq[(Long, Seq[java.lang.Long], Seq[java.lang.Long])](
      (1L, Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),       // 3 of 4
      (2L, Seq(1L, 2L, 3L, 4L), Seq(1L, 2L)),               // unequal: prefix only
      (3L, Seq(1L, 2L), Seq(1L, 2L, 3L, 4L)),               // unequal, other side
      (4L, null, Seq(1L, 2L, 3L, 4L)),                      // NULL signature
      (5L, Seq(1L, 2L), null),
      (6L, null, null),
      (7L, Seq(null, 2L, null, 4L), Seq(null, 2L, 5L, 4L)), // null slots never match
      (8L, Seq(), Seq())), 2).toDF("id", "a", "b")
    val sigs = Dedup.withMinhashSignatureMd5(corpus, col("sh"), 32).select("id", "sig")
    val corpusPairs = sigs.as("x").join(sigs.as("y"), col("x.id") % 25 === col("y.id") % 25)
      .select(col("x.id").as("id"), col("x.sig").as("a"), col("y.sig").as("b"))
    bothPaths {
      Seq(pairs -> 4, corpusPairs -> 32).foreach { case (df, k) =>
        val kern = df.select(col("id"), col("a"), col("b"), Dedup.estJaccard(col("a"), col("b"), k).as("est"))
        val ref = df.select(col("id"), col("a"), col("b"), refEst(col("a"), col("b"), k).as("est"))
        assert(kern.schema == ref.schema)
        assert(kern.exceptAll(ref).isEmpty && ref.exceptAll(kern).isEmpty)
      }
    }
    val est = rows(pairs.select(col("id"), Dedup.estJaccard(col("a"), col("b"), 4).as("est")))
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(est == Map(1L -> Some(0.75), 2L -> Some(0.5), 3L -> Some(0.5), 4L -> None,
      5L -> None, 6L -> None, 7L -> Some(0.5), 8L -> Some(0.0)))
  }
}
