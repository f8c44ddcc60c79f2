package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def corpus = Seq(
    (0L, base),
    (1L, base),                                          // exact dup of 0
    (2L, base + " tomorrow"),                            // near dup of 0
    (3L, "completely different words about spark catalyst optimizer rules engine"),
    (4L, "dog lazy the over jumps fox brown quick the again and again today")  // reordered bag-dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup on bag-of-words collapses exact and reordered dups") {
    val groups = Dedup.exactGroups(corpus, "doc_id", Dedup.bagOfWordsKey(col("text")))
      .as[(String, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(groups.map(g => (g._2, g._3)) == Seq((0L, 3L), (2L, 1L), (3L, 1L)))
  }

  test("minhash estimate tracks true jaccard; exact dups estimate 1.0") {
    val sh = corpus.select(col("doc_id"), TextFunctions.wordShingles(col("text"), 2).as("sh"))
    val sigs = Dedup.withMinhashSignatureMd5(sh, col("sh"), 64)
    val pairs = Dedup.attachSides(Dedup.lshPairs(sigs, sigs, Seq((16, 4))), sigs, sigs, "sig")
      .withColumn("est", Dedup.estJaccard(col("sig_a"), col("sig_b"), 64))
      .select("id_a", "id_b", "est").as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((0L, 1L)) == 1.0)                   // identical shingles
    assert(pairs.get((0L, 2L)).exists(_ > 0.6))      // near dup caught with high estimate
    assert(!pairs.contains((0L, 3L)))                // unrelated doc not a candidate
  }

  test("empty shingle arrays get a NULL md5 signature and never form LSH pairs") {
    // three zero-shingle docs + two real dups: without the guard the empty
    // docs collide into one band bucket (md5('') or the bare xxhash seed)
    // and emit spurious pairs; with it they drop, matching the oracle's
    // explode+GROUP BY semantics.
    val docs = Seq(
      (0L, Seq("a b", "b c")), (1L, Seq("a b", "b c")),
      (10L, Seq.empty[String]), (11L, Seq.empty[String]), (12L, Seq.empty[String])
    ).toDF("doc_id", "sh")
    val sigs = Dedup.withMinhashSignatureMd5(docs, col("sh"), 8)
    val nullSigs = sigs.filter(col("sig").isNull)
      .select("doc_id").as[Long].collect().toSet
    assert(nullSigs == Set(10L, 11L, 12L))
    val pairs = Dedup.lshPairs(sigs, sigs, Seq((4, 2)))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1L)), s"spurious empty-doc pairs: $pairs")
  }

  test("simhash: identical docs hash equal; unrelated docs far in Hamming") {
    val sketches = Dedup.simhash60Md5(corpus, "doc_id", TextFunctions.tokens(col("text")))
    val sk = sketches.as[(Long, Long)].collect().toMap
    assert(sk(0L) == sk(1L))
    assert(java.lang.Long.bitCount(sk(0L) ^ sk(2L)) <= 6)
    assert(java.lang.Long.bitCount(sk(0L) ^ sk(3L)) > 10)
    val pairs = Dedup.simhashPairs(sketches, "doc_id", "simhash", maxHamming = 6,
        nBands = 4, bandBits = 15)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)))
    assert(!pairs.contains((0L, 3L)) && !pairs.contains((1L, 3L)))
  }

  test("LSH ANN recall vs brute force on clustered vectors") {
    val rng = new scala.util.Random(123)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopKPlanes(vecs, queries, k = 5,
        Similarity.md5Planes(nPlanes = 6, nTables = 4, dim = 64))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall too low")
  }

  test("LSH ANN works on a non-64-d corpus and rejects a wrong dim") {
    val rng = new scala.util.Random(77)
    val centers = Array.fill(4)(Array.fill(24)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopKPlanes(vecs, queries, k = 5,
        Similarity.md5Planes(nPlanes = 6, nTables = 4, dim = 24))
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"24-d recall $recall too low")
    // wrong dim must fail loudly, not silently truncate the bucket signal
    val boom = intercept[Exception] {
      Similarity.lshTopKPlanes(vecs, queries, k = 5,
        Similarity.md5Planes(nPlanes = 6, nTables = 4, dim = 64)).collect()
    }
    assert(boom.getMessage != null)
  }

  test("IVF ANN recall vs brute force on clustered vectors") {
    val rng = new scala.util.Random(321)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val index = graft.operators.Ivf.build(vecs, nLists = 8)
    val approx = graft.operators.Ivf.topK(index, queries, k = 5, nProbe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall $recall too low")
    // sampled training (cap << corpus) must keep recall: same corpus, tiny cap
    val sampled = graft.operators.Ivf.build(vecs, nLists = 8, sampleCap = 120)
    val approx2 = graft.operators.Ivf.topK(sampled, queries, k = 5, nProbe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall2 = (exact & approx2).size.toDouble / exact.size
    assert(recall2 >= 0.8, s"sampled-IVF recall $recall2 too low")
    assert(sampled.assigned.count() == 400, "assignment must still cover every vector")
  }

  test("mine_contrastive_pairs: labels partition by threshold, both classes non-vacuous") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.TextQueries.mineContrastivePairs.spark(spark, sf)
      .select("id_a", "id_b", "true_jaccard", "label")
      .as[(Long, Long, Double, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (a, b, tj, label) =>
      assert(a < b, s"pair ($a,$b) not canonical-ordered")
      if (label == "positive") assert(tj >= 0.5, s"positive at jaccard $tj")
      else { assert(label == "hard_negative"); assert(tj < 0.2, s"negative at $tj") }
    }
    assert(out.map(p => (p._1, p._2)).distinct.length == out.length, "duplicate pairs")
    assert(out.exists(_._4 == "positive"), "no positives mined")
    assert(out.exists(_._4 == "hard_negative"), "no hard negatives mined")
    // every positive is a pair the dedup-banding (stricter 8x4) would
    // verify at its own threshold — the two band geometries agree on
    // what high similarity means
    val dedupPairs = graft.queries.TextQueries.dedupMinhashLsh.spark(spark, sf)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val positives = out.filter(_._4 == "positive").map(p => (p._1, p._2)).toSet
    assert(positives.subsetOf(dedupPairs),
      s"positives ${positives -- dedupPairs} unseen by the dedup banding")
  }

  test("canonicalizeUrl applies each normalization rule exactly") {
    import graft.functions.TextFunctions.canonicalizeUrl
    val cases = Seq(
      // fragment stripped
      ("https://a.com/p#frag", "https://a.com/p"),
      // default port collapsed (with and without a path)
      ("https://A.com:443/p", "https://a.com/p"),
      ("https://a.com:443", "https://a.com"),
      // non-default port kept
      ("https://a.com:8443/p", "https://a.com:8443/p"),
      // leading utm with successor: next param promoted to "?"
      ("https://a.com/p?utm_source=x&q=1", "https://a.com/p?q=1"),
      // lone utm params dropped entirely
      ("https://a.com/p?utm_source=x&utm_campaign=y", "https://a.com/p"),
      // non-leading utm removed, real params kept
      ("https://a.com/p?q=1&utm_medium=z&r=2", "https://a.com/p?q=1&r=2"),
      // trailing slash trimmed once; host lowercased, path case kept
      ("https://WWW.A.com/Docs/", "https://www.a.com/Docs"),
      // non-utm URLs untouched
      ("http://a.com/p?q=1", "http://a.com/p?q=1"))
    val got = cases.map(_._1).toDF("url")
      .select(canonicalizeUrl(col("url"))).as[String].collect()
    cases.zip(got).foreach { case ((in, want), have) =>
      assert(have == want, s"$in → $have, expected $want")
    }
  }

  test("dedup_spans removes every occurrence of corpus-duplicate 8-grams") {
    val span = "alpha bravo charlie delta echo foxtrot golf hotel"
    val out = graft.SparkEntry.queries("dedup_spans")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_tok", "n_dup_tok", "clean")
      .as[(Long, Long, Long, String)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, nTok, nDup, clean) =>
      // token accounting: clean holds exactly the uncovered tokens
      val nClean = clean.split(" ").count(_.nonEmpty)
      assert(nClean == nTok - nDup, s"doc $id: $nClean != $nTok - $nDup")
      // the planted span is a corpus-wide duplicate → fully scrubbed
      if (id % 7 == 0) {
        assert(nDup >= 8, s"doc $id: planted span not detected")
        assert(!clean.contains(span), s"doc $id: planted span survived")
      }
    }
    // non-vacuous: some docs lose tokens, most docs keep some text
    assert(out.exists(_._3 > 0) && out.exists(r => r._4.nonEmpty))
  }

  test("md5PlaneInts matches the engine md5 recipe (LSH oracle replay contract)") {
    // The generated DuckDB oracle regenerates plane component (t,j,i) as
    // CAST(('0x' || substring(md5('graft-lsh:t:j:i'),1,15)) AS BIGINT);
    // the JVM-side generator must produce the identical integer.
    val ints = Similarity.md5PlaneInts(2, 2, 3)
    for (t <- 0 until 2; j <- 0 until 2; i <- 0 until 3) {
      val viaSql = spark.sql(
        s"SELECT conv(substring(md5('graft-lsh:$t:$j:$i'), 1, 15), 16, 10)")
        .first().getString(0).toLong
      assert(viaSql == ints(t)(j)(i), s"plane int ($t,$j,$i) diverges")
    }
  }

  test("trained-config recall floor: >= 0.9 for ALL FOUR Lloyd/trained methods") {
    // The retired ann_recall query's machinery, kept as sbt evidence: the
    // ENGINE-TRAINED production configs (Lloyd centroids, trained PQ
    // codebooks) are inherently oracle-free, so their floor lives here
    // while the registered hash-certified floor is ann_recall_tiers. The
    // builder filters on recall >= 0.9 before emitting, so four rows ⟺
    // all headline ANN queries (ivf, ivfpq, lsh, pq) hold the floor on
    // the real embeddings table with their registered parameters.
    val out = graft.queries.SimilarityQueries.trainedRecallFloor(spark, "/root/testdata/sf0.001")
      .select("method", "k", "recall")
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq("ivf", "ivfpq", "lsh", "pq"), s"missing method row: ${out.mkString(",")}")
    out.foreach { case (m, k, r) =>
      assert(k == 5L)
      assert(r >= 0.9, s"$m recall $r below floor")
    }
  }

  test("matryoshka funnel: brute-force-identical at full prefix; recall >= 0.9 on MRL-shaped embeddings") {
    // Law 1 — prefixDim = dim makes the coarse pass exact, so the funnel
    // must return exactly the brute-force top-k.
    val rng = new scala.util.Random(7)
    val flat = (0 until 300).map(i =>
      (i.toLong, Seq.fill(32)(rng.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val qFlat = flat.filter(col("vec_id") % 60 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val bf = graft.operators.Similarity.bruteForceTopK(flat, qFlat, 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val full = graft.operators.Similarity.matryoshkaTopK(flat, qFlat, 5,
        prefixDim = 32, shortlist = 10)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(full == bf, "full-prefix funnel diverged from brute force")

    // Law 2 — on embeddings WITH the MRL property (variance decaying
    // geometrically along the dimension index, the distribution
    // matryoshka training produces), the REGISTERED parameters
    // (prefix 16/64, shortlist 20) hold the 0.9 recall floor that the
    // information-flat test table cannot (see the ann_matryoshka_topk
    // scaladoc: measured 0.15-0.42 there — a data property, not an
    // operator defect).
    val decay = 0.8
    val mrl = (0 until 500).map { i =>
      (i.toLong,
        Array.tabulate(64)(d => (rng.nextGaussian() * math.pow(decay, d)).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qMrl = mrl.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = graft.operators.Similarity.bruteForceTopK(mrl, qMrl, 5)
      .select(col("qid"), col("vec_id"))
    val approx = graft.operators.Similarity.matryoshkaTopK(mrl, qMrl, 5,
        prefixDim = 16, shortlist = 20)
      .select(col("qid"), col("vec_id"))
    val total = truth.count()
    val hits = approx.join(truth, Seq("qid", "vec_id"), "left_semi").count()
    assert(hits.toDouble / total >= 0.9,
      s"matryoshka recall ${hits.toDouble / total} below floor on MRL-shaped embeddings")
  }

  test("lloydIterations matches an independent reference (ties, empty clusters, early exit)") {
    // Independent re-implementation of the CONTRACT: argmin assignment
    // with ties to the lowest center index, per-cluster means, empty
    // clusters keep their previous center, stop when an iteration's
    // assignment equals the previous one (initially all-zero) or maxIter.
    def reference(points: Array[Array[Double]], init: Array[Array[Double]],
                  maxIter: Int): Array[Array[Double]] = {
      val centers = init.map(_.clone())
      var prev = Array.fill(points.length)(0)
      var it = 0
      var changed = true
      while (it < maxIter && changed) {
        val assign = points.map { p =>
          val ds = centers.map(c =>
            c.indices.map(t => (p(t) - c(t)) * (p(t) - c(t))).sum)
          ds.indexOf(ds.min) // first occurrence = lowest index on ties
        }
        changed = !(assign sameElements prev)
        for (ci <- centers.indices) {
          val members = points.zip(assign).collect { case (p, a) if a == ci => p }
          if (members.nonEmpty)
            centers(ci) = Array.tabulate(centers(ci).length)(t =>
              members.map(_(t)).sum / members.length)
        }
        prev = assign
        it += 1
      }
      centers
    }
    val rng = new scala.util.Random(7)
    // integer-valued coordinates: every per-cluster sum is exact, so the
    // two implementations' doubles must agree EXACTLY
    def intPoints(n: Int, dim: Int) =
      Array.fill(n)(Array.fill(dim)(rng.nextInt(10).toDouble))
    for (trial <- 1 to 5) {
      val pts = intPoints(40 + trial * 7, 3)
      val init = intPoints(5, 3)
      val got = graft.operators.Ivf.lloydIterations(pts, init, maxIter = 4)
      val want = reference(pts, init, maxIter = 4)
      assert(got.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq, s"trial $trial")
    }
    // empty cluster keeps its initial center (a far-away outlier center)
    val pts = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(0.0, 1.0))
    val init = Array(Array(0.0, 0.0), Array(1000.0, 1000.0))
    val out = graft.operators.Ivf.lloydIterations(pts, init, maxIter = 3)
    assert(out(1).toSeq == Seq(1000.0, 1000.0))
    // k = 1 converges to the global mean and early-exits
    val one = graft.operators.Ivf.lloydIterations(pts, Array(Array(9.0, 9.0)), maxIter = 8)
    assert(one(0).toSeq == Seq((0.0 + 1.0 + 0.0) / 3, (0.0 + 0.0 + 1.0) / 3))
    // full lloyd (seeding + iterations) stays deterministic for a seed
    val detPts = pts ++ intPoints(30, 2)
    val a = graft.operators.Ivf.lloyd(detPts, 3, seed = 5L, maxIter = 6)
    val b = graft.operators.Ivf.lloyd(detPts, 3, seed = 5L, maxIter = 6)
    assert(a.length == 3 && a.forall(_.length == 2))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("IVF index save/load round-trips; loaded index answers identically") {
    val rng = new scala.util.Random(99)
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val built = graft.operators.Ivf.build(vecs, nLists = 4)
    val dir = TestDirs.create("graft_ivf").toString
    graft.operators.Ivf.save(built, dir)
    val loaded = graft.operators.Ivf.load(spark, dir)
    assert(loaded.centers.map(_.toSeq).toSeq == built.centers.map(_.toSeq).toSeq)
    // list-partitioned layout on disk → probed-list directory pruning
    val dirs = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.forall(_.startsWith("list_id=")) && dirs.nonEmpty)
    val a = graft.operators.Ivf.topK(built, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    val b = graft.operators.Ivf.topK(loaded, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("filtered IVF search equals an index rebuilt over only the allowed vectors") {
    val rng = new scala.util.Random(7)
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val fixed = Array.tabulate(4)(c => centers(c).map(_.toDouble))
    val full = graft.operators.Ivf.fromCenters(vecs, fixed)
    val allowed = vecs.filter(col("vec_id") % 3 === 0).select("vec_id")
    val filtered = graft.operators.Ivf.topKFiltered(full, queries, allowed,
      k = 5, nProbe = 2).as[(Long, Long, Long, Double)].collect().toSet
    assert(filtered.nonEmpty)
    // every hit satisfies the predicate
    assert(filtered.forall(_._3 % 3 == 0), "a disallowed vector leaked into results")
    // structural law: per-vector assignment under a fixed codebook means
    // pre-filtering the shared index == building an index over the subset
    val subIndex = graft.operators.Ivf.fromCenters(
      vecs.filter(col("vec_id") % 3 === 0), fixed)
    val rebuilt = graft.operators.Ivf.topK(subIndex, queries, k = 5, nProbe = 2)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(filtered == rebuilt, "shared-index filter diverged from subset rebuild")
  }

  test("IVF incremental add: appended vectors are probed like built ones") {
    val rng = new scala.util.Random(41)
    val centers = Array.fill(4)(Array.fill(16)(rng.nextGaussian()))
    def mk(ids: Range) = ids.map { i =>
      val c = centers(i % 4)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.1).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val initial = mk(0 until 150)
    val extra = mk(150 until 200)
    val queries = extra.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val grown = graft.operators.Ivf.addVectors(
      graft.operators.Ivf.build(initial, nLists = 4), extra)
    assert(grown.assigned.count() == 200)
    // a query vector's own near-twin cluster members (old AND new) surface
    val got = graft.operators.Ivf.topK(grown, queries, k = 5, nProbe = 2)
      .select("qid", "vec_id").as[(Long, Long)].collect()
    assert(got.nonEmpty)
    val byQ = got.groupBy(_._1)
    byQ.values.foreach { hits =>
      assert(hits.exists(_._2 < 150) , "old corpus absent from results")
    }
    // appended rows landed in valid lists of the existing quantizer
    val listsOfExtra = grown.assigned.filter(col("vec_id") >= 150)
      .select("vec_id", "list_id").as[(Long, Int)].collect().toMap
    assert(listsOfExtra.size == 50 && listsOfExtra.values.toSet.subsetOf(Set(0, 1, 2, 3)))
  }

  test("brute-force top-k is exact, self-excluded, rank-ordered") {
    val vecs = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(-1f, 0f, 0f))).toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val got = Similarity.bruteForceTopK(vecs, q, k = 3)
      .select("rank", "vec_id").as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got.map(_._2) == Seq(1L, 2L, 3L))
  }

  test("approx_count_distinct stays within 5% of exact on events") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.RelationalQueries.approxDistinctFull(spark, sf)
      .as[(String, Long, Long, Boolean)].collect()
    // one row per event_type, NONE dropped: a sketch regression must show
    // as within_bound=false, never as a missing group
    val nGroups = graft.queries.Tables.table(spark, sf, "events")
      .select("event_type").distinct().count()
    assert(rows.length.toLong == nGroups && nGroups == 5L,
      s"expected $nGroups group rows, got ${rows.length}")
    rows.foreach { case (tpe, exact, approx, within) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.05,
        s"$tpe: approx $approx vs exact $exact drifts > 5%")
      assert(within, s"$tpe: within_bound verdict disagrees with the data")
    }
  }

  test("connected components equal union-find on random graphs, chains, singletons") {
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // path-compress fully, then min-id per root IS the component label
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val rng = new scala.util.Random(13)
    val n = 120
    // random edges + a 15-node chain (diameter test) + isolated tail nodes
    val edges = Seq.fill(60)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter(e => e._1 != e._2) ++ (85L until 99L).map(i => (i, i + 1))
    val nodes = (0L until n.toLong).toDF("id")
    val edgeDf = edges.toDF("src", "dst")
    val got = graft.operators.Components.connectedComponents(nodes, edgeDf)
      .as[(Long, Long)].collect().toMap
    val want = unionFind(n, edges)
    assert(got == want)
    assert(got(110L) == 110L) // isolated node keeps its own label
    assert(got(99L) == got(85L)) // chain fully collapsed
  }

  test("approx quantile sketch lands within 3% RANK of the target quantile") {
    // The sketch returns an actual data point while exact percentiles
    // interpolate, so compare in rank space (the GK accuracy guarantee),
    // not value space: the fraction of values <= the sketch's answer must
    // sit within 3% of the target quantile.
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.RelationalQueries.approxQuantilesFull(spark, sf)
      .as[(String, Long, Double, Double, Boolean)].collect()
    val values = graft.queries.Tables.table(spark, sf, "events")
      .select(col("event_type"), col("value")).as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    // 3 quantiles × every group, NONE dropped: a rank regression must show
    // as within_bound=false, never as a missing row
    assert(rows.length == values.size * 3 && rows.length == 15,
      s"expected ${values.size * 3} rows, got ${rows.length}")
    val targets = Seq(0.5, 0.9, 0.99)
    rows.foreach { case (tpe, idx, a, rankFrac, within) =>
      val vs = values(tpe)
      val q = targets(idx.toInt)
      val rank = vs.count(_ <= a).toDouble / vs.length
      assert(math.abs(rank - q) <= 0.03 + 1.0 / vs.length,
        s"$tpe q=$q: sketch answer $a has true rank $rank")
      assert(math.abs(rankFrac - rank) <= 1e-9 && within,
        s"$tpe q=$q: emitted rank_frac $rankFrac / verdict $within disagree with data rank $rank")
    }
  }

  test("dedup_image_dhash emits exactly the planted pixel-real pair set") {
    val rows = SparkEntry.queries("dedup_image_dhash")(spark, "/root/testdata/sf0.001")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val planted = Set(0L, 50L, 100L, 150L, 200L, 250L).map(id => (id, id + 10000L))
    // every planted twin pairs up through decode → downsample → dHash → banded join
    assert(planted.subsetOf(rows), s"missing planted pairs: ${planted -- rows}")
    // and no pair involves a planted twin id except its own original
    val twinPairs = rows.filter { case (a, b) => a >= 10000L || b >= 10000L }
    assert(twinPairs == planted, s"unexpected twin pairs: ${twinPairs -- planted}")
  }

  test("text functions: shingles, ratios, fingerprint determinism") {
    val df = Seq(("ab", "the cat sat")).toDF("short", "text")
    val sh = df.select(TextFunctions.charShingles(col("short"), 3).as("s")).as[Seq[String]].head()
    assert(sh == Seq("ab")) // shorter than n collapses to [text]
    val ws = df.select(TextFunctions.wordShingles(col("text"), 2).as("s")).as[Seq[String]].head()
    assert(ws == Seq("the cat", "cat sat"))
    val fp1 = df.select(TextFunctions.fingerprint(col("text")).as("f")).as[Long].head()
    val fp2 = df.select(TextFunctions.fingerprint(col("text")).as("f")).as[Long].head()
    assert(fp1 == fp2 && fp1 != 0L)
    val fpRev = Seq(Tuple1("sat cat the")).toDF("text")
      .select(TextFunctions.fingerprint(col("text")).as("f")).as[Long].head()
    assert(fpRev != fp1) // order-sensitive
  }

  test("bounded-heap top-k aggregate matches the window-rank form") {
    import org.apache.spark.sql.expressions.Window
    // Duplicate scores on purpose: ties must break by id asc in both forms.
    val rng = new scala.util.Random(7)
    val rows = for { q <- 0L to 5L; i <- 0L until 200L }
      yield (q, i, rng.nextInt(50) / 10.0)
    val paired = rows.toDF("qid", "vec_id", "sim")
    val native = Similarity.rankTopK(paired, 10, "qid", "vec_id")
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id").asc)
    val windowed = paired.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id"), col("sim"))
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(native.length == 60)
    assert(native.toSeq == windowed.toSeq)
    // Fewer rows than k: returns all, still ranked.
    val tiny = Seq((0L, 1L, 0.5), (0L, 2L, 0.9)).toDF("qid", "vec_id", "sim")
    val tinyTop = Similarity.rankTopK(tiny, 10, "qid", "vec_id")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._2)
    assert(tinyTop.toSeq == Seq((0L, 1L, 2L, 0.9), (0L, 2L, 1L, 0.5)))
  }

  test("CentroidProbes matches the declarative array_sort argmin order") {
    val rng = new scala.util.Random(3)
    val centers = Array.fill(8)(Array.fill(16)(rng.nextGaussian()))
    val vecs = Seq.tabulate(50)(i => (i.toLong, Seq.fill(16)(rng.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val native = vecs.select(col("vec_id"),
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.CentroidProbes(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("embedding")), centers, 3))
          .as("probes"))
      .as[(Long, Seq[Int])].collect().toMap
    val declarative = {
      val scored = array(centers.zipWithIndex.map { case (ctr, j) =>
        struct(
          aggregate(zip_with(col("embedding"), array(ctr.map(lit): _*),
            (x, c) => { val d = x.cast("double") - c; d * d }),
            lit(0.0), (acc, v) => acc + v).as("d"),
          lit(j).as("list_id"))
      }: _*)
      vecs.select(col("vec_id"),
          transform(slice(array_sort(scored), 1, 3), s => s.getField("list_id")).as("probes"))
        .as[(Long, Seq[Int])].collect().toMap
    }
    assert(native == declarative)
  }

  test("text functions are total on null/empty/whitespace input under ANSI mode") {
    // Dirty corpora have null and empty text rows; every scalar must map
    // them to null/0/empty — never throw (Spark 4 runs ANSI by default).
    val dirty = Seq(Tuple1(null: String), Tuple1(""), Tuple1("   "), Tuple1("ok text"))
      .toDF("text")
    val out = dirty.select(
      TextFunctions.tokenCount(col("text")).as("n"),
      TextFunctions.qualityScore(col("text")).as("q"),
      TextFunctions.langIdHeuristic(col("text")).as("lang"),
      TextFunctions.repetitionRatio(col("text")).as("rep"),
      TextFunctions.piiScrub(col("text")).as("clean"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.charShingles(col("text"), 3).as("sh"))
      .collect()
    assert(out.length == 4)
    // null text: string/long scalars null, ratio-style scores defined
    assert(out(0).isNullAt(0) && out(0).isNullAt(4) && out(0).isNullAt(5))
    assert(out(0).getString(2) == "und" && out(0).getDouble(3) == 0.0)
    // empty text: zero tokens, zero fingerprint, empty scrub, no shingles
    assert(out(1).getLong(0) == 0L && out(1).getLong(5) == 0L)
    assert(out(1).getString(4) == "" && out(1).getSeq[String](6) == Seq("")) // short-doc collapse
    // whitespace-only: no tokens but position-weighted fp of the spaces
    assert(out(2).getLong(0) == 0L && out(2).getLong(5) == 192L)
    assert(out(3).getLong(0) == 2L)
  }

  test("CharNgrams kernel matches the declarative substr form") {
    def hofNgrams(text: Column, n: Int, distinct: Boolean): Column = {
      val all = transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))
      when(length(text) >= n, if (distinct) array_distinct(all) else all)
        .otherwise(array(text))
    }
    val samples = Seq("the cat sat on the mat", "café über 世界 café", "ab", "", "aaaa")
      .map(Tuple1(_)).toDF("text")
    for (n <- Seq(2, 3); d <- Seq(true, false)) {
      val rows = samples.select(
          TextFunctions.charNgrams(col("text"), n, d).as("native"),
          hofNgrams(col("text"), n, d).as("hof"))
        .as[(Seq[String], Seq[String])].collect()
      rows.foreach { case (nat, hof) => assert(nat == hof, s"n=$n distinct=$d") }
    }
    val nullRow = Seq(Tuple1(null: String)).toDF("text")
      .select(TextFunctions.charNgrams(col("text"), 3, distinct = true)).collect().head
    assert(nullRow.isNullAt(0))
  }

  test("native fingerprint kernel matches the declarative HOF form") {
    // The O(n) kernel must be value-identical to the O(n²) substr form it
    // replaces, across ASCII, multi-byte codepoints, >64-char weight
    // wraparound, empty, and null.
    def hofFingerprint(text: Column): Column =
      aggregate(
        transform(sequence(lit(1), length(text)),
          i => (ascii(text.substr(i, lit(1))) * ((i - 1) % 64 + 1)).cast("long")),
        lit(0L), (acc, x) => acc + x)
    val samples = Seq("the cat sat", "café über 世界",
      "a" * 200, "", "x").map(Tuple1(_)).toDF("text")
    val rows = samples.select(
        TextFunctions.fingerprint(col("text")).as("native"),
        hofFingerprint(col("text")).as("hof"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, h) => assert(n == h, s"native $n != hof $h") }
    val nullRow = Seq(Tuple1(null: String)).toDF("text")
      .select(TextFunctions.fingerprint(col("text")).as("f"))
      .collect().head
    assert(nullRow.isNullAt(0))
  }

  test("embedding_stats: degenerate detection exact, norm stats match a driver recompute") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.SimilarityQueries.embeddingStatsQ.spark(spark, sf).collect()
    assert(out.nonEmpty)
    val raw = graft.queries.Tables.table(spark, sf, "embeddings")
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val byLabel = raw.groupBy(_._2)
    out.foreach { r =>
      val rows = byLabel(r.getInt(0))
      assert(r.getLong(1) == rows.length)
      // degenerate = exactly the synthesized vec_id % 17 == 0 rows (the
      // real corpus has no zero vectors at these scales)
      assert(r.getLong(2) == rows.count(_._1 % 17 == 0))
      def norm(v: Array[Float]): Double = {
        var s = 0.0; v.foreach(x => s += x.toDouble * x.toDouble); math.sqrt(s)
      }
      val live = rows.filter(_._1 % 17 != 0).map(t => norm(t._3))
      assert(math.abs(r.getDouble(3) - live.sum / live.length) < 1e-5) // mean
      assert(math.abs(r.getDouble(4) - live.min) < 1e-6)
      assert(math.abs(r.getDouble(5) - live.max) < 1e-6)
    }
    assert(out.map(_.getLong(2)).sum > 0) // detection path non-vacuous
  }

  test("lshCrossPairs: planted twins flag against their own test source; clean rows stay clean") {
    // Train corpus: 40 well-separated one-hot-ish vectors + a near-twin of
    // each test vector; test corpus: 8 vectors. The decontamination law:
    // every twin's best match is its own source at sim ≈ 1; no clean train
    // vector reaches the 0.99 gate against any test vector.
    val dim = 16
    def unit(i: Int): Array[Float] = {
      val a = new Array[Float](dim); a(i % dim) = 1f; a((i + 7) % dim) = 0.1f; a
    }
    val test = (0 until 8).map(i => (100L + i, unit(2 * i))).toDF("tid", "tvec")
    val twins = (0 until 8).map { i =>
      val v = unit(2 * i).map(x => x * 1.001f); (1000L + i, v)
    }
    val clean = (0 until 40).map(i => (i.toLong, unit(2 * i + 1)))
    val train = (clean ++ twins).toDF("vec_id", "embedding")
    val pm = Similarity.md5Planes(6, 4, dim, "spec-decon")
    val pairs = Similarity.lshCrossPairs(train, test, pm)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val flagged = pairs.filter(_._3 >= 0.99)
    // every twin flags against exactly its own source
    assert(flagged.map(p => (p._1, p._2)).toSet ==
      (0 until 8).map(i => (1000L + i, 100L + i)).toSet)
    // clean rows never reach the gate
    assert(!flagged.exists(_._1 < 1000L))
  }

  test("lsh_calibration: candidate sets nest strict ⊆ permissive; metrics are consistent") {
    // A (4×8) band collision means 8 consecutive signature positions agree,
    // which implies both constituent (8×4) bands agree, which implies all
    // four constituent (16×2) bands agree — candidates must nest.
    val spark = TestSpark.spark
    val sh = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), array_sort(TextFunctions.wordShingles(col("text"), 2)).as("sh"))
    val sigs = Dedup.withMinhashSignatureMd5(sh, col("sh"), 32).select("doc_id", "sig")
    def cands(b: Int, r: Int): Set[(Long, Long)] =
      Dedup.lshPairs(sigs, sigs, Seq((b, r)))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val (c16, c8, c4) = (cands(16, 2), cands(8, 4), cands(4, 8))
    assert(c4.subsetOf(c8) && c8.subsetOf(c16), "banding candidate sets must nest")
    assert(c4.nonEmpty && c16.size > c8.size, "sweep classes vacuous")
    // the registered report agrees with the recomputed candidate counts
    val rep = graft.queries.TextQueries.lshCalibrationQ
      .spark(spark, "/root/testdata/sf0.001")
      .select("bands", "rpb", "n_candidates", "n_true", "precision_ppm", "recall_vs_pool_ppm")
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(rep((16, 2))._1 == c16.size && rep((8, 4))._1 == c8.size && rep((4, 8))._1 == c4.size)
    rep.values.foreach { case (nc, nt, prec, rec) =>
      assert(nt <= nc && prec == nt * 1000000L / nc && rec <= 1000000L)
    }
  }

  test("corpusCount memoizes per (session, plan): a second auto-depth stage runs zero count jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    // the real call-site shape: queries read through Tables.table, which
    // serves one shared frame per (session, path) — so a fresh table()
    // call canonicalizes to the same memo key
    def frame() = graft.queries.Tables
      .table(TestSpark.spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val n1 = Similarity.corpusCount(frame())
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestSpark.spark.sparkContext.addSparkListener(listener)
    try {
      // a FRESH frame over the same source canonicalizes to the same key
      // — the memoized count must run no job at all
      val n2 = Similarity.corpusCount(frame())
      assert(n2 == n1)
      Thread.sleep(3000) // listener-bus delivery grace (events post in ms)
      assert(jobs.get() == 0,
        s"memoized corpusCount ran ${jobs.get()} job(s); expected zero")
    } finally TestSpark.spark.sparkContext.removeSparkListener(listener)
  }

  test("ann_binary_topk: recall@5 vs brute force holds the 0.9 floor") {
    val spark = TestSpark.spark
    val emb = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val bf = Similarity.bruteForceTopK(emb, q, 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val got = graft.queries.SimilarityQueries.annBinaryTopK
      .spark(spark, "/root/testdata/sf0.001")
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (bf & got).size.toDouble / bf.size
    // scaled shortlist (max(100, n/4)) holds the same 0.9 floor the
    // hash-checked ann_recall_tiers row certifies
    assert(recall >= 0.9, s"binary-quantized recall $recall below floor")
  }

  test("embedding_pool: pooling preserves direction and matches a driver-side ordered fold") {
    val spark = TestSpark.spark
    val out = graft.queries.SimilarityQueries.embeddingPool
      .spark(spark, "/root/testdata/sf0.001")
      .select("vec_id", "pooled_c0", "pooled_norm", "cos_orig").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    val raw = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, c0, nrm, cos) =>
      val e = raw(id)
      // driver-side ordered fold: chunks 0..3, zero-init, then /4
      val pooled = Array.tabulate(64) { i =>
        var acc = 0.0
        (0 until 4).foreach { c =>
          acc += e(i).toDouble * (1.0 + (((i * (c + 1)) % 7) - 3).toDouble / 100.0)
        }
        acc / 4.0
      }
      assert(c0 == pooled(0), s"vec $id c0")
      assert(math.abs(nrm - math.sqrt(pooled.map(x => x * x).sum)) < 1e-9)
      // perturbations are small and symmetric-ish: direction preserved
      assert(cos > 0.99, s"vec $id cos_orig $cos")
    }
  }

  test("ivf_probe_sweep: recall is monotone in probe budget; full probe is exactly brute force") {
    val out = graft.queries.SimilarityQueries.ivfProbeSweep
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("n_probe", "hits", "recall_ppm").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // more probes can only add candidates → recall is monotone
    out.sliding(2).foreach { case Array(a, b) => assert(a._3 <= b._3); case _ => }
    // probing every list IS brute force — the anchor row must be exact
    assert(out.last._3 == 1000000L, s"full-probe recall ${out.last._3} != 1e6")
    // the curve is non-trivial: the 1-probe row misses something
    assert(out.head._3 < 1000000L)
  }

  test("dedup_containment: catches a subset pair that Jaccard misses; unrelated docs stay out") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "intro words alpha beta gamma delta trailing content here extra"),
      (3L, "totally unrelated text body with different words")
    ).toDF("doc_id", "text")
    val pairs = graft.queries.TextQueries.containmentPairs(docs).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    // orientation: A = the smaller shingle set
    assert(p.getLong(0) == 1L && p.getLong(1) == 2L)
    val (na, nb, inter) = (p.getLong(2), p.getLong(3), p.getLong(4))
    assert(na == 3L && nb == 9L && inter == 3L)
    assert(p.getLong(5) == 1000000L, "full subset => containment 1.0")
    // the same pair under resemblance: J = 3/9 = 0.33, far below the 0.6
    // near-dup gate — exactly the dup class containment exists to catch
    assert(inter.toDouble / (na + nb - inter) < 0.6)
  }

  test("knn_graph: edges are mutual, once each, with true cosine and in-range ranks") {
    val sf = "/root/testdata/sf0.001"
    val edges = graft.queries.SimilarityQueries.knnGraphQ.spark(TestSpark.spark, sf).cache()
    val rows = edges.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "each edge emits once, src < dst")
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 5)
      assert(r.getLong(4) >= 1 && r.getLong(4) <= 5)
      assert(r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001)
    }
    // the reported sim IS the exact cosine of the two endpoint vectors
    val emb = graft.queries.Tables.table(TestSpark.spark, sf, "embeddings")
    val checked = edges
      .join(emb.select(col("vec_id").as("src"), col("embedding").as("ea")), "src")
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("eb")), "dst")
      .withColumn("truth", Similarity.cosine(col("ea"), col("eb")))
      .filter(col("truth") =!= col("sim"))
      .count()
    assert(checked == 0L, s"$checked edges carry a sim != exact cosine")
  }

  test("knn_graph: edge recall >= 0.9 against brute-force mutual-kNN truth at BOTH scales") {
    // sf0.1 is the scale where the constant-L seed actually diverges from
    // the depth-coupled ann_lsh config — the floor there certifies that
    // the NN-descent rounds recover what the cheaper seed gives up
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val emb = graft.queries.Tables.table(TestSpark.spark, sf, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val approx = graft.queries.SimilarityQueries.knnGraphQ.spark(TestSpark.spark, sf)
        .select("src", "dst").as[(Long, Long)].collect().toSet
      val exact = Similarity.bruteForceTopK(emb,
          emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")), k = 5)
        .select("qid", "vec_id").as[(Long, Long)].collect().toSet
      val truth = exact.collect { case (a, b) if a < b && exact((b, a)) => (a, b) }
      assert(truth.nonEmpty)
      val hit = truth.count(approx)
      assert(hit * 10 >= truth.size * 9,
        s"$sf: graph recall ${hit.toDouble / truth.size} below 0.9 (${truth.size} true edges)")
    }
  }

  test("nnDescentRound: qid-sliced chunking is exact (rows identical for every chunk count)") {
    // the single-JVM working-set bound (chunks > 1) must be a pure
    // materialization schedule: a point's entire adjacency lands in its
    // slice, so per-qid candidates, pre-scored rows, and both ranking
    // windows are unchanged — identical output for chunks 1, 3, 7
    val sf = "/root/testdata/sf0.001"
    val emb = graft.queries.Tables.table(TestSpark.spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planes = Similarity.md5Planes(63, 1, 64, "graft-chunk-test")
    val codes = emb.select(col("vec_id"),
      Similarity.projectionCodes(col("embedding"), planes).as("code")).localCheckpoint()
    val codeSim = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      Similarity.hammingSimWords(a, b, 1, 63)
    val seed = Similarity.hammingShortlistTopK(
      Similarity.lshCandidatePairsPlanes(emb,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        Similarity.md5Planes(4, 4, 64)),
      emb, codes, k = 8, shortlist = 24, codeSim = codeSim).localCheckpoint()
    def round(chunks: Int) = Similarity
      .nnDescentRound(seed, emb, codes, k = 8, shortlist = 24,
        codeSim = codeSim, chunks = chunks)
      .select("qid", "vec_id", "sim", "rank")
      .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    val base = round(1)
    assert(base.nonEmpty)
    for (c <- Seq(3, 7))
      assert(round(c).toSeq == base.toSeq, s"chunks=$c diverged from unchunked")
  }

  test("nnDescent proposal pack: (q,w)↔long round-trips across the 32-bit boundary") {
    // the proposal dedup ships shiftleft(q,32)|w — bijective iff ids are
    // nonnegative and < 2³²; pin the exact boundary values, including
    // pairs whose packed long is NEGATIVE (q ≥ 2³¹), which is where a
    // signed shift-right would corrupt the unpack
    import TestSpark.spark.implicits._
    val pairs = Seq((0L, 0L), (0L, 4294967295L), (1L, 2147483648L),
      (2147483647L, 1L), (2147483648L, 2147483647L), (4294967295L, 4294967295L))
    val got = pairs.toDF("q", "w")
      .select(shiftleft(col("q"), 32).bitwiseOR(col("w")).as("qc"))
      .select(shiftrightunsigned(col("qc"), 32).as("q"),
        col("qc").bitwiseAND(lit(0xFFFFFFFFL)).as("w"))
      .as[(Long, Long)].collect().toSeq
    assert(got == pairs)
  }

  test("nnDescentRound: packed proposal exchange is id-shift-equivariant (ids above 2^31)") {
    // end-to-end pin that the packed path survives ids whose packed long
    // is negative: shifting every vec_id by 2³¹ must shift the output
    // ids and change NOTHING else (codes/sims depend only on embeddings;
    // all tie-breaks are order-preserving under a constant shift)
    val sf = "/root/testdata/sf0.001"
    val shift = 2147483648L // 2^31
    val embBase = graft.queries.Tables.table(TestSpark.spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planes = Similarity.md5Planes(63, 1, 64, "graft-chunk-test")
    val codeSim = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      Similarity.hammingSimWords(a, b, 1, 63)
    def graph(emb: org.apache.spark.sql.DataFrame) = {
      val codes = emb.select(col("vec_id"),
        Similarity.projectionCodes(col("embedding"), planes).as("code")).localCheckpoint()
      val seed = Similarity.hammingShortlistTopK(
        Similarity.lshCandidatePairsPlanes(emb,
          emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          Similarity.md5Planes(4, 4, 64)),
        emb, codes, k = 8, shortlist = 24, codeSim = codeSim).localCheckpoint()
      Similarity.nnDescentRound(seed, emb, codes, k = 8, shortlist = 24,
          codeSim = codeSim)
        .select("qid", "vec_id", "sim", "rank")
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    }
    val base = graph(embBase)
    val shifted = graph(embBase.select((col("vec_id") + shift).as("vec_id"), col("embedding")))
    assert(base.nonEmpty)
    assert(shifted.toSeq == base.map(r => (r._1 + shift, r._2 + shift, r._3, r._4)).toSeq,
      "packed exchange diverged under the 2^31 id shift")
  }

  test("nnDescentRound: pack guard — ids at/above 2^32 fall back unpacked, rows still exact") {
    // shiftleft(q,32)|w is bijective ONLY for ids < 2³²: above it, w's
    // high bits bleed into q and distinct() merges distinct proposals
    // (the r12 probe-salt corruption, ADVICE r12). The build-time domain
    // check must catch such ids — whether derived by the fallback topk
    // agg or supplied via idBound — route the exchange unpacked, and
    // leave the output exactly shift-equivariant.
    val sf = "/root/testdata/sf0.001"
    val shift = 5000000000L // > 2^32: packing would corrupt
    val embBase = graft.queries.Tables.table(TestSpark.spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val planes = Similarity.md5Planes(63, 1, 64, "graft-chunk-test")
    val codeSim = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      Similarity.hammingSimWords(a, b, 1, 63)
    def graph(emb: org.apache.spark.sql.DataFrame, idBound: Option[(Long, Long)]) = {
      val codes = emb.select(col("vec_id"),
        Similarity.projectionCodes(col("embedding"), planes).as("code")).localCheckpoint()
      val seed = Similarity.hammingShortlistTopK(
        Similarity.lshCandidatePairsPlanes(emb,
          emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
          Similarity.md5Planes(4, 4, 64)),
        emb, codes, k = 8, shortlist = 24, codeSim = codeSim).localCheckpoint()
      Similarity.nnDescentRound(seed, emb, codes, k = 8, shortlist = 24,
          codeSim = codeSim, idBound = idBound)
        .select("qid", "vec_id", "sim", "rank")
        .as[(Long, Long, Double, Long)].collect().sortBy(r => (r._1, r._4))
    }
    // baseline: in-domain ids, packed exchange (agg-derived bound)
    val base = graph(embBase, idBound = None)
    assert(base.nonEmpty)
    val expected = base.map(r => (r._1 + shift, r._2 + shift, r._3, r._4)).toSeq
    val embBig = embBase.select((col("vec_id") + shift).as("vec_id"), col("embedding"))
    // guard via the fallback topk agg (no idBound supplied)
    assert(graph(embBig, idBound = None).toSeq == expected,
      "agg-derived guard failed to protect ids above 2^32")
    // guard via a caller-supplied out-of-domain idBound
    val hi = embBase.agg(org.apache.spark.sql.functions.max(col("vec_id")))
      .head().getLong(0) + shift
    assert(graph(embBig, idBound = Some((shift, hi))).toSeq == expected,
      "idBound-supplied guard failed to protect ids above 2^32")
    // and an in-domain idBound packs exactly like the agg-derived bound
    val hiSmall = hi - shift
    assert(graph(embBase, idBound = Some((0L, hiSmall))).toSeq == base.toSeq,
      "in-domain idBound path diverged from the agg-derived baseline")
  }

  test("lshCalibrationReport: verify-join chunking is exact (report identical for chunks 0/1/3/7)") {
    // the id_a-sliced verify join (single-JVM working-set bound) must be a
    // pure materialization schedule: tj is a per-pair function and the
    // slices partition the distinct pair set, so every aggregate above the
    // union — candidate counts, precision, pooled recall — is unchanged.
    // chunks = 0 exercises the auto-sizing path (1 slice at this corpus).
    val docs = graft.queries.Tables
      .table(TestSpark.spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id"), col("text"))
    def report(chunks: Int) = graft.queries.TextQueries
      .lshCalibrationReport(docs, chunks)
      .orderBy("bands", "rpb")
      .collect().map(_.toSeq).toSeq
    val base = report(1)
    assert(base.length == 3)
    for (c <- Seq(0, 3, 7))
      assert(report(c) == base, s"chunks=$c diverged from unchunked")
  }

  test("coreset_kcenter: seed is min id, centers distinct, radius non-increasing") {
    val out = graft.queries.SimilarityQueries.coresetKcenterQ
      .spark(TestSpark.spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 8)
    assert(out.map(_.getLong(0)).toSeq == (1L to 8L))
    // seed = lowest vec_id in the table (0 in the testdata)
    assert(out.head.getLong(1) == 0L)
    assert(out.head.isNullAt(2))
    assert(out.map(_.getLong(1)).distinct.length == 8, "centers must be distinct")
    val radii = out.drop(1).map(_.getDouble(2))
    radii.foreach(r => assert(r >= 0.0 && r <= 2.0))
    // greedy farthest-point: each pick's coverage radius can only shrink
    radii.sliding(2).foreach { case Array(a, b) => assert(b <= a + 1e-12); case _ => }
    // non-degenerate: the selection actually covers (radius drops below the first pick)
    assert(radii.last < radii.head)
  }
}
