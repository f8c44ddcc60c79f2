package graft

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.plans._

/** ScalaCheck property tests of the native kernels against straightforward
  * reference implementations — no SparkSession, direct `eval` on literal
  * children, hundreds of generated cases per law (the seeded-random specs
  * cover the integrated paths; this covers the kernels' own input space,
  * including unicode and adversarial shapes). */
class KernelPropertiesSpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, min: Int = 300): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: $res")
  }

  private val asciiText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '), Gen.const('.')))
      .map(_.mkString)
  private val unicodeText: Gen[String] = Gen.oneOf(
    asciiText,
    Gen.listOf(Gen.oneOf('a', 'é', '世', '界', 'ü')).map(_.mkString))

  test("Fingerprint64 equals the scalar codepoint reference on arbitrary strings") {
    def reference(s: String): Long = {
      var sum = 0L; var i = 0; var pos = 0
      while (pos < s.length) {
        val cp = s.codePointAt(pos)
        sum += cp.toLong * ((i % 64) + 1)
        pos += Character.charCount(cp); i += 1
      }
      sum
    }
    check("fingerprint", Prop.forAll(unicodeText) { s =>
      Fingerprint64(Literal.create(s, StringType)).eval(null) == reference(s)
    })
  }

  test("CharNgrams equals sliding-window reference (all and distinct) on arbitrary strings") {
    def reference(s: String, n: Int, distinct: Boolean): Seq[String] = {
      val cps = s.codePoints().toArray
      if (cps.length < n) Seq(s)
      else {
        val all = (0 to cps.length - n).map(i => new String(cps, i, n))
        if (distinct) all.distinct else all
      }
    }
    check("charNgrams", Prop.forAll(unicodeText, Gen.choose(1, 5), Gen.oneOf(true, false)) {
      (s, n, distinct) =>
        val out = CharNgrams(Literal.create(s, StringType), n, distinct)
          .eval(null).asInstanceOf[ArrayData]
        (0 until out.numElements()).map(out.getUTF8String(_).toString) ==
          reference(s, n, distinct)
    })
  }

  test("TopKAgg.Heap keeps exactly the k best under (score desc, id asc)") {
    val entries = Gen.listOf(Gen.zip(Gen.choose(0, 20).map(_ / 4.0), Gen.choose(0L, 50L)))
    check("heap", Prop.forAll(entries, Gen.choose(1, 12)) { (es, k) =>
      val heap = new TopKAgg.Heap(k)
      es.foreach { case (s, id) => heap.offer(s, id) }
      val want = es.sortBy { case (s, id) => (-s, id) }.take(k)
      heap.sortedBestFirst().toSeq == want
    })
  }

  test("TopKAgg.Heap merge equals offering the union") {
    val entries = Gen.listOf(Gen.zip(Gen.choose(0, 20).map(_ / 4.0), Gen.choose(0L, 50L)))
    check("heapMerge", Prop.forAll(entries, entries, Gen.choose(1, 10)) { (a, b, k) =>
      val h1 = new TopKAgg.Heap(k); a.foreach { case (s, i) => h1.offer(s, i) }
      val h2 = new TopKAgg.Heap(k); b.foreach { case (s, i) => h2.offer(s, i) }
      h2.foreach(h1.offer)
      val all = new TopKAgg.Heap(k); (a ++ b).foreach { case (s, i) => all.offer(s, i) }
      h1.sortedBestFirst().toSeq == all.sortedBestFirst().toSeq
    })
  }

  test("CentroidProbes equals sort-based reference (ties to lower id)") {
    val dim = 6
    val vecGen = Gen.listOfN(dim, Gen.choose(-5, 5).map(_.toFloat))
    val centersGen = Gen.choose(2, 8).flatMap(k =>
      Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-5, 5).map(_.toDouble))))
    check("centroidProbes", Prop.forAll(vecGen, centersGen) { (v, cs) =>
      val centers = cs.map(_.toArray).toArray
      Prop.forAll(Gen.choose(1, centers.length)) { nProbe =>
        val out = CentroidProbes(
            Literal.create(v.toArray, ArrayType(FloatType)), centers, nProbe)
          .eval(null).asInstanceOf[ArrayData]
        val got = (0 until out.numElements()).map(out.getInt)
        val want = centers.zipWithIndex.map { case (c, j) =>
          (c.zip(v).map { case (ci, vi) => val d = vi - ci; d * d }.sum, j)
        }.sortBy { case (d, j) => (d, j) }.take(nProbe).map(_._2).toSeq
        got == want
      }
    }, min = 150)
  }

  test("HyperplaneBuckets equals per-table naive dot-product signs") {
    val dim = 5
    val vecGen = Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toFloat))
    val planesGen = Gen.choose(1, 3).flatMap(t => Gen.listOfN(t,
      Gen.choose(1, 6).flatMap(p => Gen.listOfN(p,
        Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toDouble))))))
    check("hyperplane", Prop.forAll(vecGen, planesGen) { (v, ps) =>
      val planes = ps.map(_.map(_.toArray).toArray).toArray
      val out = HyperplaneBuckets(
          Literal.create(v.toArray, ArrayType(FloatType)), planes)
        .eval(null).asInstanceOf[ArrayData]
      val got = (0 until out.numElements()).map(out.getLong)
      val want = planes.toSeq.map { table =>
        table.zipWithIndex.map { case (p, j) =>
          val dot = p.zip(v).map { case (pi, vi) => pi * vi.toDouble }.sum
          if (dot >= 0) 1L << j else 0L
        }.foldLeft(0L)(_ | _)
      }
      got == want
    }, min = 200)
  }

  test("MinHashSignature: length k, permutation-invariant, element-wise dominated by supersets") {
    val toks = Gen.nonEmptyListOf(Gen.identifier.map(_.take(6)))
    def sig(xs: Seq[String], k: Int): Seq[Long] = {
      val out = MinHashMd5(
          Literal.create(xs, ArrayType(StringType)), k, withHashes = false)
        .eval(null).asInstanceOf[ArrayData]
      (0 until out.numElements()).map(out.getLong)
    }
    check("minhash", Prop.forAll(toks, toks, Gen.choose(1, 16), Gen.choose(0L, 1L << 30)) {
      (a, extra, k, seed) =>
        val sa = sig(a, k)
        val shuffled = sig(new scala.util.Random(seed).shuffle(a), k)
        val superset = sig(a ++ extra, k)
        sa.length == k && sa == shuffled &&
          sa.zip(superset).forall { case (x, y) => y <= x } // min over more tokens
    }, min = 200)
  }

  test("CosineSimilarity equals the documented left-fold reference bit-for-bit") {
    val vec = Gen.choose(1, 8).flatMap(d =>
      Gen.listOfN(d, Gen.choose(-4, 4).map(_.toFloat)))
    // Kernel contract: each norm over its WHOLE vector, dot over the
    // common prefix (mismatched dims only matter for dirty data — equal
    // dims is the real case and the two coincide there).
    def reference(a: Seq[Float], b: Seq[Float]): Double = {
      val na = a.map(x => x.toDouble * x.toDouble).foldLeft(0.0)(_ + _)
      val nb = b.map(x => x.toDouble * x.toDouble).foldLeft(0.0)(_ + _)
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }
        .foldLeft(0.0)(_ + _)
      if (na > 0 && nb > 0) dot / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    check("cosine", Prop.forAll(vec, vec) { (a, b) =>
      val got = CosineSimilarity(
          Literal.create(a, ArrayType(FloatType)),
          Literal.create(b, ArrayType(FloatType)))
        .eval(null).asInstanceOf[Double]
      // bit-exact: zero-norm → 0.0, else identical fold
      java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(reference(a, b))
    })
  }

  test("SortedIntersectCount equals set intersection on sorted distinct arrays") {
    val tok = Gen.listOf(Gen.choose('a', 'f').map(_.toString))
    check("sortedIntersect", Prop.forAll(tok, tok) { (a, b) =>
      SortedIntersectCount(
          Literal.create(a.distinct.sorted, ArrayType(StringType)),
          Literal.create(b.distinct.sorted, ArrayType(StringType)))
        .eval(null) == (a.toSet intersect b.toSet).size
    })
    // the long-element variant (hashed-shingle verify joins) obeys the
    // same law with numeric ordering
    val lng = Gen.listOf(Gen.choose(-20L, 20L))
    check("sortedIntersectLong", Prop.forAll(lng, lng) { (a, b) =>
      SortedIntersectCount(
          Literal.create(a.distinct.sorted, ArrayType(LongType)),
          Literal.create(b.distinct.sorted, ArrayType(LongType)))
        .eval(null) == (a.toSet intersect b.toSet).size
    })
  }

  test("WordNgrams equals split/sliding/distinct reference on arbitrary spacing") {
    import org.apache.spark.unsafe.types.UTF8String
    // words with messy spacing: runs of spaces, leading/trailing, unicode
    val messyText: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.oneOf("key", "agg", "row", "a", "世界", "naïve").map(w => w),
      Gen.const(" "), Gen.const("  "))).map(_.mkString(" "))
    def reference(s: String, n: Int): Seq[String] = {
      val toks = s.split(" ", -1).filter(_.nonEmpty).toSeq
      if (toks.length < n) Seq(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSeq.distinct
    }
    check("wordNgrams", Prop.forAll(messyText, Gen.choose(1, 4)) { (s, n) =>
      val out = WordNgrams(Literal.create(s, StringType), n, distinct = true)
        .eval(null).asInstanceOf[ArrayData]
      (0 until out.numElements()).map(out.getUTF8String(_).toString) ==
        reference(s, n)
    })
    // non-distinct keeps duplicate windows in order
    val dup = WordNgrams(Literal.create("a b a b a", StringType), 2, distinct = false)
      .eval(null).asInstanceOf[ArrayData]
    assert((0 until dup.numElements()).map(dup.getUTF8String(_).toString) ==
      Seq("a b", "b a", "a b", "b a"))
    assert(WordNgrams(Literal(null, StringType), 2, distinct = true).eval(null) == null)
    // empty/blank text collapses to [""] like concat_ws over no tokens
    val blank = WordNgrams(Literal(UTF8String.fromString("   "), StringType), 2, true)
      .eval(null).asInstanceOf[ArrayData]
    assert((0 until blank.numElements()).map(blank.getUTF8String(_).toString) == Seq(""))
  }

  test("NormalizeNfc equals java.text.Normalizer NFC and is idempotent") {
    import org.apache.spark.unsafe.types.UTF8String
    val decomposable: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const(" "),
      Gen.const("e\u0301"), Gen.const("i\u0308"), // decomposed base + mark
      Gen.const("\u00e9"), Gen.const("\u212b"),   // composed é, Angstrom sign
      Gen.const("\u4e16"))).map(_.mkString)        // CJK (NFC-inert)
    def evalNfc(s: String): String =
      NormalizeNfc(Literal.create(s, StringType)).eval(null)
        .asInstanceOf[UTF8String].toString
    check("nfc-reference", Prop.forAll(decomposable) { s =>
      evalNfc(s) == java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    })
    check("nfc-idempotent", Prop.forAll(decomposable) { s =>
      evalNfc(evalNfc(s)) == evalNfc(s)
    })
    // ASCII fast path returns the input reference untouched (zero-alloc).
    val in = UTF8String.fromString("plain ascii only")
    val out = NormalizeNfc(Literal(in, StringType)).eval(null).asInstanceOf[AnyRef]
    assert(out eq in)
    assert(NormalizeNfc(Literal(null, StringType)).eval(null) == null)
  }
}
