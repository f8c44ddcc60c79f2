package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Laws for the dataset-level curation operators (dedup_semantic /
  * dedup_representative / corpus_overlap carry the oracle evidence; these
  * pin the operator guarantees on constructed inputs). */
class DatasetOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val semPlanes = Similarity.md5Planes(8, 4, 16, "graft-semdedup-spec")

  test("lshNearDupPairs finds every exact twin and verifies every pair") {
    val rng = new scala.util.Random(11)
    val centers = Array.fill(6)(Array.fill(16)(rng.nextGaussian()))
    val base = (0 until 120).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.3).toFloat).toSeq)
    }
    // exact twins: identical vectors bucket identically in EVERY table,
    // so candidate recall for them is structural, not probabilistic
    val twins = base.filter(_._1 % 10 == 0).map { case (id, v) => (id + 1000L, v) }
    val corpus = (base ++ twins).toDF("vec_id", "embedding")
    val pairs = Similarity.lshNearDupPairs(corpus, threshold = 0.999, semPlanes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val wantTwins = base.filter(_._1 % 10 == 0).map { case (id, _) => (id, id + 1000L) }.toSet
    assert(wantTwins.subsetOf(pairs),
      s"missed twin pairs: ${wantTwins -- pairs}")
    // every emitted pair really is >= threshold (exact verification ran)
    val sims = Similarity.lshNearDupPairs(corpus, threshold = 0.999, semPlanes)
      .select("sim").as[Double].collect()
    assert(sims.forall(_ >= 0.999))
  }

  test("lshNearDupPairs emits each candidate pair once (multi-table dedup)") {
    val v = Seq(0.5f, -1.0f, 2.0f, 0.25f) ++ Seq.fill(12)(0.1f)
    val corpus = Seq((1L, v), (2L, v), (3L, v)).toDF("vec_id", "embedding")
    val rows = Similarity.lshNearDupPairs(corpus, threshold = 0.5, semPlanes)
      .select("id_a", "id_b").as[(Long, Long)].collect().toList
    assert(rows.sorted == List((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("KMV bottom-k Jaccard estimate: exact on identical sets, 3-sigma on known overlap") {
    val k = 32
    val a = (0 until 300).map(i => ("A", s"item$i"))
    val b = (150 until 450).map(i => ("B", s"item$i")) // J = 150/450 = 1/3
    val c = (0 until 300).map(i => ("C", s"item$i"))   // identical to A
    val ex = (a ++ b ++ c).toDF("source", "t")
    val bk = Dedup.bottomKSketch(ex, "source", "t", k).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(bk.values.forall(hs => hs.length == k && hs == hs.sorted))
    def est(x: String, y: String): Double =
      Seq((bk(x), bk(y))).toDF("ha", "hb")
        .select(Dedup.kmvJaccardEst(col("ha"), col("hb"), k)).as[Double].head()
    assert(est("A", "C") == 1.0)
    val e = est("A", "B")
    // sigma = sqrt(J(1-J)/k) ~= 0.083; allow 3 sigma around 1/3
    assert(math.abs(e - 1.0 / 3.0) <= 0.25, s"KMV estimate $e too far from 1/3")
  }

  test("KMV estimate is EXACT below sketch capacity (denominator is |union|, not k)") {
    val k = 32
    val small = (0 until 10).map(i => ("S1", s"w$i")) ++
      (0 until 10).map(i => ("S2", s"w$i")) ++           // identical to S1
      (5 until 15).map(i => ("S3", s"w$i"))              // J(S1,S3) = 5/15
    val bk = Dedup.bottomKSketch(small.toDF("source", "t"), "source", "t", k).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    def est(x: String, y: String): Double =
      Seq((bk(x), bk(y))).toDF("ha", "hb")
        .select(Dedup.kmvJaccardEst(col("ha"), col("hb"), k)).as[Double].head()
    assert(est("S1", "S2") == 1.0, s"identical small sets must estimate 1.0, got ${est("S1", "S2")}")
    assert(est("S1", "S3") == 5.0 / 15.0, s"below capacity the estimate is exact")
  }

  test("bottomKSketch merge law: bottom-k of a union = re-sketch of concatenated input") {
    val k = 16
    val a = (0 until 200).map(i => ("A", s"x$i"))
    val b = (100 until 300).map(i => ("B", s"x$i"))
    val merged = (a ++ b).map { case (_, t) => ("M", t) }
    val ex = (a ++ b ++ merged).toDF("source", "t")
    val bk = Dedup.bottomKSketch(ex, "source", "t", k).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val mergedFromSketches = (bk("A") ++ bk("B")).distinct.sorted.take(k)
    assert(bk("M") == mergedFromSketches)
  }

  test("snakeShards: dense unique ranks, pure rank arithmetic, balanced totals") {
    import graft.operators.Sharding
    val rng = new scala.util.Random(5)
    val docs = (0 until 500).map(i => (i.toLong, 10L + rng.nextInt(990)))
      .toDF("doc_id", "n_tokens")
    val out = Sharding.snakeShards(docs, 8, "n_tokens", "doc_id")
      .select("doc_id", "n_tokens", "rank", "shard")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._3).sorted.toSeq == (0L until 500L))
    // rank order IS (n_tokens desc, doc_id asc)
    val byRank = out.sortBy(_._3)
    assert(byRank.map(r => (-r._2, r._1)).toSeq == byRank.map(r => (-r._2, r._1)).sortBy(identity).toSeq)
    // shard is the snake function of rank
    out.foreach { case (_, _, rank, shard) =>
      val want = if ((rank / 8) % 2 == 0) rank % 8 else 7 - rank % 8
      assert(shard == want)
    }
    // balance: max-min shard token totals within one item's weight
    val totals = out.groupBy(_._4).map(_._2.map(_._2).sum)
    assert(totals.max - totals.min <= out.map(_._2).max,
      s"shard totals spread ${totals.max - totals.min} exceeds max doc size")
  }

  test("dedup_representative law on testdata: one rep per cluster, max quality, tie to min id") {
    val out = graft.queries.DatasetQueries.dedupRepresentative
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("doc_id", "comp", "quality", "rep_id", "keep")
      .as[(Long, Long, Double, Long, Int)].collect()
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (comp, members) =>
      val keeps = members.filter(_._5 == 1)
      assert(keeps.length == 1, s"cluster $comp has ${keeps.length} reps")
      val rep = keeps.head
      val maxQ = members.map(_._3).max
      assert(rep._3 == maxQ, s"cluster $comp rep quality ${rep._3} < max $maxQ")
      val minIdAtMax = members.filter(_._3 == maxQ).map(_._1).min
      assert(rep._1 == minIdAtMax && members.forall(_._4 == rep._1))
    }
  }

  test("dedup_soft_weights law: cluster mass 1, exact 1/m weights, same partition as representative") {
    val out = graft.queries.DatasetQueries.dedupSoftWeights
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("doc_id", "comp", "cluster_size", "weight", "n_tok", "eff_tokens")
      .as[(Long, Long, Long, Double, Long, Double)].collect()
    val byComp = out.groupBy(_._2)
    byComp.foreach { case (comp, ms) =>
      assert(ms.forall(_._3 == ms.length),
        s"cluster $comp reports size ${ms.head._3} but has ${ms.length} members")
      // the defining SoftDeDup invariant: each cluster contributes one
      // document's worth of mass (weight column is rounded to 9 dp)
      assert(math.abs(ms.map(_._4).sum - 1.0) < 1e-6,
        s"cluster $comp mass ${ms.map(_._4).sum} != 1")
      ms.foreach(m => assert(math.abs(m._4 - 1.0 / m._3.toDouble) < 1e-8))
    }
    val singles = out.filter(_._3 == 1)
    assert(singles.nonEmpty && singles.forall(m => m._4 == 1.0 && m._6 == m._5.toDouble),
      "singleton docs must keep full weight and full token mass")
    assert(out.exists(_._3 > 1), "no multi-member cluster — planted dups not clustered")
    // policy-layer-only difference: identical cluster partition to
    // dedup_representative (both build on nearDupClusters)
    val repComp = graft.queries.DatasetQueries.dedupRepresentative
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("doc_id", "comp").as[(Long, Long)].collect().toMap
    assert(out.forall(m => repComp(m._1) == m._2), "cluster partitions diverge")
  }

  test("dedup_semantic law on testdata: every planted twin loses to its original") {
    // planted twins live at max(vec_id)+1 and up (the collision-proof
    // offset the query derives — a fixed constant would collide once the
    // corpus outgrows it)
    val off = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .agg(org.apache.spark.sql.functions.max(col("vec_id"))).head.getLong(0) + 1L
    val out = graft.queries.DatasetQueries.dedupSemantic
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("vec_id", "comp", "keep").as[(Long, Long, Int)].collect()
    val planted = out.filter(_._1 >= off)
    assert(planted.nonEmpty)
    planted.foreach { case (id, comp, keep) =>
      assert(keep == 0 && comp == id - off,
        s"twin $id: comp=$comp keep=$keep (want comp=${id - off} keep=0)")
    }
    assert(out.filter(_._1 < off).forall(_._3 == 1))
  }

  test("semdedupLevels: integer depth rule — smallest L with 96·8^L ≥ n, clamped") {
    import graft.queries.DatasetQueries.semdedupLevels
    assert(semdedupLevels(1) == 1)
    assert(semdedupLevels(768) == 1)   // 96·8 = 768 holds at L=1
    assert(semdedupLevels(769) == 2)   // one past the boundary adds a level
    assert(semdedupLevels(96L << 6) == 2)
    assert(semdedupLevels(Long.MaxValue / 2) == 6) // cap
    // monotone: more data never means fewer levels
    val ls = Seq(100L, 1000L, 10000L, 100000L, 10000000L).map(semdedupLevels)
    assert(ls == ls.sorted)
  }

  test("semdedup laws on testdata: one drop per twin pair, cell minima survive") {
    val off = TestSpark.spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .agg(max(col("vec_id"))).head.getLong(0) + 1L
    val out = graft.queries.DatasetQueries.semdedupQ
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("vec_id", "cluster", "cent_sim", "kept")
      .as[(Long, Long, Double, Int)].collect()
    assert(out.length == 550 && out.map(_._1).distinct.length == 550)
    val byId = out.map(r => r._1 -> r).toMap
    // every planted pair that shares a cell loses EXACTLY one member
    // (at sf0.001 no natural pair reaches eps=0.5 — measured max 0.513
    // only between twin and source — so twins are the only dup sets)
    val pairs = out.filter(_._1 >= off).map(t => (byId(t._1 - off), t))
    assert(pairs.nonEmpty)
    pairs.foreach { case (orig, twin) =>
      if (orig._2 == twin._2)
        assert(orig._4 + twin._4 == 1, s"pair ${orig._1}/${twin._1}: kept ${orig._4}+${twin._4}")
      else assert(orig._4 == 1 && twin._4 == 1)
    }
    // the top-priority member of every cell (lowest cent_sim, then lowest
    // vec_id) has no higher-priority neighbor, so it must survive
    out.groupBy(_._2).foreach { case (_, ms) =>
      val top = ms.minBy(m => (m._3, m._1))
      assert(top._4 == 1, s"cell ${top._2} top-priority ${top._1} was dropped")
    }
    // drops = exactly the co-located twin pairs (no natural pair reaches
    // eps at this scale), and the prune is non-vacuous
    val coCell = pairs.count { case (o, t) => o._2 == t._2 }
    val nDropped = out.count(_._4 == 0)
    assert(coCell > 0 && nDropped == coCell,
      s"dropped $nDropped, co-located twin pairs $coCell")
  }

  test("autoPlanesExact: depth grows with log2 of the count, clamped to the floor") {
    // small corpora sit at the floor
    assert(Similarity.autoPlanesExact(1000L) == 8)
    // 64M rows at target occupancy 64 → ceil(log2(1M)) = 20 planes
    assert(Similarity.autoPlanesExact(64L * 1024 * 1024) == 20)
    // doubling the corpus adds exactly one plane (the halving lever)
    val p1 = Similarity.autoPlanesExact(1L << 26)
    val p2 = Similarity.autoPlanesExact(1L << 27)
    assert(p2 == p1 + 1)
    // the cap holds for absurd row counts
    assert(Similarity.autoPlanesExact(Long.MaxValue / 4) == 24)
  }

  test("corpus_drift law: stopword buckets drift, most of the grid is stable") {
    import graft.functions.TextFunctions
    val out = graft.queries.DatasetQueries.corpusDrift
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("bucket", "drifted").as[(Long, Int)].collect().toMap
    val drifted = out.count(_._2 == 1)
    assert(drifted > 0, "no bucket drifted — the planted shift is invisible")
    assert(drifted < out.size, "every bucket drifted — the statistic is saturated")
    // the synthesized shift drops exactly the stopwords from snapshot B;
    // the HIGH-FREQUENCY ones ('the', 'a' — hundreds of occurrences at
    // every scale) must clear the χ²₁ critical value. Rare stopwords
    // legitimately may not: a 3-count bucket cannot reach 3.84, which is
    // the statistic working, not a defect.
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions._
    Seq("the", "a").foreach { w =>
      val b = spark.range(1).select(
        TextFunctions.hashBucket(lit(w), "graft-drift", 64)).head().getLong(0)
      assert(out.getOrElse(b, 0) == 1, s"bucket of '$w' ($b) not flagged as drifted")
    }
  }

  test("data_card: shares sum to ~1e6, dup rate and dominant lang match direct recomputation") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.DatasetQueries.dataCardQ.spark(spark, sf).collect()
    assert(out.nonEmpty)
    // ppm token shares: floor-division rounds each down by < 1 ppm
    val shareSum = out.map(_.getLong(3)).sum
    assert(shareSum <= 1000000L && shareSum >= 1000000L - out.length)
    // independent per-source recompute from the raw table
    val docs = graft.queries.Tables.table(spark, sf, "documents")
      .select("doc_id", "source", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3).split(" ").filter(_.nonEmpty)))
    val bySource = docs.groupBy(_._2)
    out.foreach { r =>
      val rows = bySource(r.getString(0))
      assert(r.getLong(1) == rows.length) // n_docs
      assert(r.getLong(2) == rows.map(_._4.length.toLong).sum) // n_tokens
      // dup rate: docs minus distinct bag-of-words keys
      val dups = rows.length - rows.map(_._4.distinct.sorted.mkString(" ")).distinct.length
      assert(r.getLong(6) == dups.toLong * 1000000L / rows.length, s"dup_ppm ${r.getString(0)}")
      // dominant language is a true argmax with lang-asc tie-break
      val langCounts = rows.groupBy(_._3).view.mapValues(_.length).toMap
      val dom = langCounts.toSeq.minBy { case (l, c) => (-c, l) }._1
      assert(r.getString(5) == dom)
      assert(r.getLong(4) == langCounts.size) // n_langs
    }
  }

  test("multimodal_clip_filter laws: synthesis polarity drives the gate; reason is first-failing") {
    val out = graft.queries.ExtensionQueries.multimodalClipFilter
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("doc_id", "lang", "clip_sim", "lang_ok", "sim_ok", "kept", "reason")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (id, lang, sim) = (r.getLong(0), r.getString(1), r.getDouble(2))
      val (lok, sok, kept, reason) = (r.getInt(3), r.getInt(4), r.getInt(5), r.getString(6))
      // aligned synthesis ⇒ near +1; negated ⇒ near −1 (nothing near the gate)
      if (id % 3 == 0) assert(sim > 0.99) else assert(sim < -0.99)
      assert(lok == (if (lang == "en") 1 else 0))
      assert(sok == (if (sim >= 0.28) 1 else 0))
      assert(kept == lok * sok)
      assert(reason == (if (lok == 0) "lang" else if (sok == 0) "low_sim" else "kept"))
    }
    // all three reason classes fire
    assert(out.map(_.getString(6)).toSet == Set("lang", "low_sim", "kept"))
  }

  test("pipeline_multimodal funnel: stage monotonicity, reason consistency, shard balance") {
    val out = graft.queries.ExtensionQueries.pipelineMultimodal
      .spark(TestSpark.spark, "/root/testdata/sf0.001")
      .select("doc_id", "gate_ok", "dup_ok", "shard", "reason").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getString(4)))
    assert(out.map(_._5).toSet == Set("lang", "low_sim", "dup", "kept"))
    out.foreach { case (id, gate, dup, shard, reason) =>
      // funnel monotonicity: a later stage can only pass if every earlier one did
      if (dup == 1) assert(gate == 1, s"doc $id: dup passed without gate")
      // shard iff fully kept
      assert((shard >= 0) == (gate == 1 && dup == 1), s"doc $id shard presence")
      // reason is the first failing stage
      val expected = if (gate == 0) Set("lang", "low_sim")
                     else if (dup == 0) Set("dup") else Set("kept")
      assert(expected.contains(reason), s"doc $id reason $reason")
    }
    // kept docs deal round-robin into 4 shards: count spread ≤ 1
    val counts = out.filter(_._4 >= 0).groupBy(_._4).map(_._2.length)
    assert(counts.size == 4 && counts.max - counts.min <= 1)
  }

  test("source_dedup_matrix recomputes from raw docs; pair counts are exact cross products") {
    val spark = TestSpark.spark
    val out = graft.queries.DatasetQueries.sourceDedupMatrix
      .spark(spark, "/root/testdata/sf0.001")
      .select("src_a", "src_b", "n_dup_pairs", "n_shared_groups").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(out.nonEmpty, "no cross-source dup groups — matrix vacuous")
    val docs = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("source", "text").collect()
      .map(r => (r.getString(0),
        r.getString(1).split(" ").filter(_.nonEmpty).distinct.sorted.mkString(" ")))
    val bySrc = docs.groupBy(_._2).view.mapValues(_.groupBy(_._1).view.mapValues(_.length).toMap)
    val expect = scala.collection.mutable.Map[(String, String), (Long, Long)]()
    bySrc.foreach { case (_, srcCounts) =>
      val ss = srcCounts.keys.toSeq.sorted
      for (i <- ss.indices; j <- i + 1 until ss.length) {
        val k = (ss(i), ss(j))
        val (p, g) = expect.getOrElse(k, (0L, 0L))
        expect(k) = (p + srcCounts(ss(i)).toLong * srcCounts(ss(j)), g + 1)
      }
    }
    assert(out == expect.toMap)
  }

  test("dataset_fingerprint: order-free (partitioning invariant), content- and id-sensitive") {
    val docs = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "source", "n_chars", "text")
    def fp(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long, Long)] =
      graft.queries.DatasetQueries.datasetFingerprint(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val base = fp(docs)
    assert(base.nonEmpty)
    // same multiset of docs, any partitioning/order => identical receipt
    assert(fp(docs.repartition(7, col("doc_id"))) == base)
    assert(fp(docs.orderBy(col("text"))) == base)
    // flipping one document's text moves exactly that source's checksum
    val victim = docs.orderBy("doc_id").limit(1).collect().head
    val (vid, vsrc) = (victim.getLong(0), victim.getString(1))
    val mutated = fp(docs.withColumn("text",
      when(col("doc_id") === vid, concat(col("text"), lit(" x"))).otherwise(col("text"))))
    assert(mutated(vsrc)._3 != base(vsrc)._3, "content change must move the checksum")
    assert((mutated - vsrc) == (base - vsrc), "other sources untouched")
    // remapping one doc_id (same text) also moves it — identity is (id, text)
    val remapped = fp(docs.withColumn("doc_id",
      when(col("doc_id") === vid, lit(10000000L)).otherwise(col("doc_id"))))
    assert(remapped(vsrc)._3 != base(vsrc)._3, "id remap must move the checksum")
  }

  test("quality_topk_per_source: per-source kept = floor(3n/10), ranks contiguous, scores sorted") {
    val out = graft.queries.SelectionQueries.qualityTopkPerSource
      .spark(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val n = rows.head._4
      assert(rows.forall(_._4 == n))
      assert(rows.length == (3 * n / 10).toInt, s"$src kept ${rows.length} of $n")
      val ranks = rows.map(_._3).sorted
      assert(ranks.toSeq == (1L to rows.length.toLong), s"$src ranks not contiguous")
      // scores non-increasing in rank order
      val byRank = rows.sortBy(_._3).map(_._2)
      byRank.sliding(2).foreach { case Array(a, b) => assert(b <= a); case _ => }
    }
  }

  test("heavyHitters: null tokens are skipped, not fed to the count-min sketch") {
    val toks = Seq("a", null, "b", "a", null, "a").toDF("token")
    val got = graft.queries.TextQueries.heavyHitters(toks)
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, "a", 3L, true), (2L, "b", 1L, true)))
  }

  test("heavyHitters: empty input gives an empty report") {
    val toks = Seq.empty[String].toDF("token")
    assert(graft.queries.TextQueries.heavyHitters(toks).collect().isEmpty)
  }

  test("session-keyed memos: a second session on one context resolves its own frames") {
    // The memo/cache layer (Tables frame cache, nearDupClusters chain
    // memo, corpusCount memo) keys strictly on the SparkSession: a
    // multi-tenant service runs one session per job on a shared context,
    // and a cross-session cache hit would hand tenant B frames resolved
    // under tenant A's session state. The law itself lives in
    // graft.ops.MemoLaws, shared VERBATIM with graft.MemoProbe so the
    // same assertions also run under SPARK_GRAFT_MASTER=local-cluster —
    // there the content check fetches both sessions' checkpoint blocks
    // from real executor JVMs, which this local[n] suite cannot.
    graft.ops.MemoLaws.sessionIsolation(spark, "/root/testdata/sf0.001")
  }
}
