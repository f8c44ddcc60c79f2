package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BloomPrune

/** Laws for the round-5 scale operators: Bloom-filter join pruning and
  * line-level dedup (the registered queries carry the oracle evidence;
  * these pin the operator-level guarantees on adversarial inputs). */
class ScaleOpsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("bloom filter admits every inserted key (no false negatives)") {
    val keys = (0L until 300L).map(_ * 7 + 3).toDF("k")
    val bits = BloomPrune.buildBits(keys, col("k"), nHashes = 3, mBits = 4096)
    val pass = keys.filter(BloomPrune.mightContain(col("k"), bits, 3, 4096)).count()
    assert(pass == 300L)
  }

  test("bloom false-positive rate stays near theory on disjoint probes") {
    val keys = (0L until 200L).toDF("k")
    val bits = BloomPrune.buildBits(keys, col("k"), nHashes = 3, mBits = 4096)
    val probes = (10000L until 20000L).toDF("k")
    val fp = probes.filter(BloomPrune.mightContain(col("k"), bits, 3, 4096)).count()
    // theory: (1 - e^(-3*200/4096))^3 ≈ 0.25% — allow a generous 2%
    assert(fp < 200L, s"false-positive rate ${fp / 10000.0} too high")
  }

  test("prunedJoin equals the plain semi-join, bit for bit") {
    val big = (0L until 5000L).map(i => (i, i % 617)).toDF("id", "key")
    val small = Seq(5L, 11L, 77L, 154L, 609L, 616L).toDF("skey")
    val got = BloomPrune.prunedJoin(big, "key", small, "skey")
      .select("id", "key").as[(Long, Long)].collect().toSet
    val want = big.join(small, col("key") === col("skey"), "left_semi")
      .select("id", "key").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("PQ: 4-byte codes, deterministic encode, ADC recall on clustered vectors") {
    import graft.operators.{Pq, Similarity}
    val rng = new scala.util.Random(7)
    val centers = Array.fill(8)(Array.fill(64)(rng.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(v => (v + rng.nextGaussian() * 0.15).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    // 4-bit codes here (16 centroids): the coarse config that NEEDS the
    // re-rank; the registered query uses the 8-bit (256) default
    val cb = Pq.train(vecs, dim = 64, nCentroids = 16)
    assert(cb.nSub == 4 && cb.subDim == 16 && cb.centers.forall(_.length == 16))
    val codes = Pq.encode(vecs, cb).select("vec_id", "code")
    val c1 = codes.as[(Long, Seq[Int])].collect().toMap
    val c2 = Pq.encode(vecs, cb).select("vec_id", "code")
      .as[(Long, Seq[Int])].collect().toMap
    assert(c1 == c2 && c1.values.forall(c => c.length == 4 && c.forall(j => j >= 0 && j < 16)))
    val queries = vecs.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val truth = Similarity.bruteForceTopK(vecs, queries, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Pq.adcRerankTopK(codes, vecs, queries, cb, k = 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (approx & truth).size.toDouble / truth.size
    assert(recall >= 0.9, s"PQ shortlist+rerank recall@5 $recall below floor")
  }

  test("dedup_incremental: exact batch copies of corpus docs verdict exact_dup") {
    // Verdict-consistency law against an independent computation: a batch
    // doc (id % 5 == 0) whose bag-of-words equals some existing doc's MUST
    // be exact_dup with the earliest such existing doc; docs verdicted
    // 'new' must have no bag-of-words twin in the corpus.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.queries.Tables.table(spark, sf, "documents")
      .select("doc_id", "text").as[(Long, String)].collect()
    def bag(t: String) = t.split(" ").filter(_.nonEmpty).distinct.sorted.mkString(" ")
    val existingByBag = docs.filter(_._1 % 5 != 0)
      .groupBy(d => bag(d._2)).map { case (b, ds) => b -> ds.map(_._1).min }
    val rows = SparkEntry.queries("dedup_incremental")(spark, sf)
      .as[(Long, String, Option[Long])].collect()
    assert(rows.nonEmpty && rows.forall(_._1 % 5 == 0))
    val textOf = docs.toMap
    rows.foreach { case (id, verdict, matchId) =>
      existingByBag.get(bag(textOf(id))) match {
        case Some(exp) =>
          assert(verdict == "exact_dup" && matchId.contains(exp),
            s"doc $id: expected exact_dup->$exp, got $verdict->$matchId")
        case None =>
          assert(verdict != "exact_dup", s"doc $id: spurious exact_dup")
      }
      if (verdict == "new") assert(matchId.isEmpty)
    }
  }

  test("audioEnergy windows match hand-computed energy and peak") {
    import graft.multimodal.Multimodal
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    // 7 bytes with win=4 → windows [abcz] and [aaa] (partial tail)
    val bytes = "abczaaa".getBytes("UTF-8")
    val items = Seq(Multimodal.MediaItem(1L, "audio", "/m/1.pcm", bytes))
      .toDS()
    val got = Multimodal.audioEnergy(items, win = 4).collect().toSeq
      .sortBy(_.window_idx)
    // centered at 97: a=0 b=1 c=2 z=25
    assert(got == Seq(
      Multimodal.AudioWindow(1L, 0L, 4L, 0 + 1 + 4 + 625, 25L),
      Multimodal.AudioWindow(1L, 1L, 3L, 0L, 0L)))
  }

  test("dedup_lines matches an independent in-memory reference") {
    // Independent Scala reimplementation on the same corpus: plant the nav
    // line, segment at 10 tokens, count lines corpus-wide, drop lines with
    // count >= 5 (the nav AND any lines of corpus-duplicated docs), rejoin.
    val nav = "home about contact privacy terms sitemap login search menu footer"
    val texts = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    val segs: Map[Long, Seq[String]] = texts.map { case (id, text) =>
      val t = if (id % 4 == 0) s"$nav $text" else text
      val toks = t.split(" ").filter(_.nonEmpty)
      id -> toks.grouped(10).map(_.mkString(" ")).toSeq
    }
    val lineCounts = segs.values.flatten.groupBy(identity).map { case (l, ls) => l -> ls.size }
    val want = segs.map { case (id, lines) =>
      val kept = lines.filter(l => lineCounts(l) < 5)
      id -> ((lines.size - kept.size).toLong, kept.mkString(" "))
    }
    val rows = SparkEntry.queries("dedup_lines")(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_removed", "clean").as[(Long, Long, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, nRemoved, clean) =>
      assert((nRemoved, clean) == want(id), s"doc $id diverged from reference")
    }
    // the planted nav line is boilerplate everywhere it appears
    assert(rows.forall { case (id, n, c) => id % 4 != 0 || (n >= 1 && !c.contains(nav)) })
  }

  test("validate_expectations: one row per constraint, accounting exact, clean TPC-H passes") {
    val sf = "/root/testdata/sf0.001"
    val rows = graft.queries.MiscQueries.validateExpectationsQ.spark(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 7)
    assert(rows.map(_._1).distinct.length == 7)
    val n = graft.queries.Tables.table(spark, sf, "lineitem").count()
    rows.foreach { case (name, nRows, nFailed, ppm) =>
      assert(nRows == n, s"$name checked $nRows of $n rows")
      assert(nFailed >= 0 && nFailed <= nRows)
      assert(ppm == (nRows - nFailed) * 1000000L / nRows, s"$name ppm accounting")
    }
    // synthesized TPC-H testdata satisfies the lineitem invariants
    assert(rows.forall(_._3 == 0L), s"clean corpus must pass: ${rows.filter(_._3 > 0).mkString(",")}")
  }

  test("ExecClasspath.absolute resolves every entry against the driver CWD") {
    // local-cluster executors run from their own work dirs, so a relative
    // classpath entry (plain `java -cp target/...`) vanishes there; the
    // probes hand executors this absolutized rendering instead
    val entries = graft.ops.ExecClasspath.absolute
      .split(java.io.File.pathSeparator).filter(_.nonEmpty)
    assert(entries.nonEmpty)
    assert(entries.forall(e => new java.io.File(e).isAbsolute),
      entries.filterNot(e => new java.io.File(e).isAbsolute).mkString(","))
    // and it never drops entries relative to the real classpath
    val raw = System.getProperty("java.class.path")
      .split(java.io.File.pathSeparator).filter(_.nonEmpty)
    assert(entries.length == raw.length)
  }

  test("salt-period law: every probe salt family's claimed size is its real period") {
    // The r12 lesson, promoted to a law: a salt family whose nominal size
    // exceeds its real period silently turns a scale probe into an
    // adversarial near-copy corpus. For each family, materialize the FULL
    // orbit (claimed-size members, one vector each) and require exact
    // pairwise distinctness — plus, where the period is the documented
    // bound, that the first out-of-family member really does alias.
    import graft.ops.ProbeSalts
    def assertDistinctOrbit(name: String, claimed: Int, member: Int => Seq[Any]): Unit = {
      val orbit = (0 until claimed).map(member)
      val firstDup = orbit.zipWithIndex.groupBy(_._1).values
        .filter(_.size > 1).map(_.map(_._2)).headOption
      assert(orbit.distinct.size == claimed,
        s"$name: claimed family size $claimed but members ${firstDup.getOrElse(Nil)} alias")
    }
    // text alphabet permutations: 312 distinct, replica 0 = identity
    assertDistinctOrbit("textPermutation", ProbeSalts.textFamilySize,
      r => Seq(ProbeSalts.textPermutation(r)))
    assert(ProbeSalts.textPermutation(0) == "abcdefghijklmnopqrstuvwxyz")
    // out-of-family replica fails with the family-size message, not an
    // ArrayIndexOutOfBoundsException (r13 ADVICE: the shared salt API
    // must guard its own domain, not rely on caller pre-checks)
    val eTex = intercept[IllegalArgumentException] {
      ProbeSalts.textPermutation(ProbeSalts.textFamilySize)
    }
    assert(eTex.getMessage.contains(s"[0, ${ProbeSalts.textFamilySize})"))
    intercept[IllegalArgumentException] { ProbeSalts.textPermutation(-1) }
    // embedding coordinate permutations: evaluate the Column formula over
    // the full (rep, i) grid and check 2048 distinct index vectors
    val spark2 = TestSpark.spark
    import spark2.implicits._
    def orbitOf(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column,
                claimed: Int): Map[Int, Seq[Int]] =
      spark2.range(claimed.toLong).select(col("id").cast("int").as("rep"))
        .withColumn("i", explode(lit((0 until 64).toArray)))
        .select(col("rep"), col("i"), f(col("rep"), col("i")).cast("int").as("j"))
        .as[(Int, Int, Int)].collect()
        .groupBy(_._1).map { case (r, rows) =>
          r -> rows.sortBy(_._2).map(_._3).toSeq
        }
    val coordOrbit = orbitOf(ProbeSalts.coordPermutation, ProbeSalts.coordFamilySize)
    assertDistinctOrbit("coordPermutation", ProbeSalts.coordFamilySize, coordOrbit(_))
    // each member must also be a BIJECTION of 1..64 (geometry-preserving)
    coordOrbit.foreach { case (r, v) =>
      assert(v.sorted == (1 to 64), s"coordPermutation($r) is not a bijection")
    }
    // the deliberately aliased pre-r12 pairing MUST fail the law at its
    // real period (64): the negative case that proves the law detects
    val aliased = orbitOf(ProbeSalts.coordPermutationAliased, 128)
    assert((0 until 128).map(aliased(_)).distinct.size < 128,
      "negative case failed: the aliased family read as distinct")
    assert(aliased(64) == aliased(0), "aliased family's period moved from 64")
    assertDistinctOrbit("coordPermutationAliased(≤64)", 64, aliased(_))
    // direction (amplitude) salt: 23 distinct factor vectors, and the
    // documented period bound is REAL — replica 23 aliases replica 0
    val dirOrbit = orbitOf((r, i) =>
      (ProbeSalts.directionFactor(r, i) * 1e9).cast("long"), 24)
    assertDistinctOrbit("directionFactor", ProbeSalts.directionFamilySize, dirOrbit(_))
    assert(dirOrbit(23) == dirOrbit(0),
      "direction salt's documented period-23 bound is no longer the alias point")
  }

  test("ExecMem.resolve: derives the default from the master's worker memory, fails fast on oversize") {
    import graft.ops.ExecMem
    // no env override: default is min(20 GiB, worker memory) — the r12
    // footgun was a 20g default silently deadlocking 13312 MB workers
    assert(ExecMem.resolve("local-cluster[4,8,13312]", Map.empty) == "13312m")
    assert(ExecMem.resolve("local-cluster[2,16,26624]", Map.empty) == "20480m")
    assert(ExecMem.resolve("local-cluster[ 4 , 8 , 13312 ]", Map.empty) == "13312m")
    // unparseable / non-cluster masters keep the 20 GiB default
    assert(ExecMem.resolve("local[32]", Map.empty) == "20480m")
    // explicit value within the worker budget passes through verbatim
    assert(ExecMem.resolve("local-cluster[4,8,13312]",
      Map("SPARK_GRAFT_EXEC_MEM" -> "12g")) == "12g")
    assert(ExecMem.resolve("local-cluster[2,16,26624]",
      Map("SPARK_GRAFT_EXEC_MEM" -> "24g")) == "24g")
    // oversize explicit value fails FAST instead of hanging the launch
    val e = intercept[IllegalArgumentException] {
      ExecMem.resolve("local-cluster[4,8,13312]",
        Map("SPARK_GRAFT_EXEC_MEM" -> "20g"))
    }
    assert(e.getMessage.contains("worker memory"))
    // every Spark-legal byte-string spelling parses (r13 ADVICE: '20gb',
    // '512k', '1t' threw a raw NumberFormatException from toLong)
    assert(ExecMem.asMb("20gb") == 20480L)
    assert(ExecMem.asMb("1t") == 1024L * 1024L)
    assert(ExecMem.asMb("2tb") == 2048L * 1024L)
    assert(ExecMem.asMb("512k") == 1L)     // sub-MiB rounds UP (never 0)
    assert(ExecMem.asMb("2048kb") == 2L)
    assert(ExecMem.asMb("13312") == 13312L)
    assert(ExecMem.asMb(" 12G ") == 12288L)
    // the oversize gate fires through the suffix forms too
    val e2 = intercept[IllegalArgumentException] {
      ExecMem.resolve("local-cluster[4,8,13312]",
        Map("SPARK_GRAFT_EXEC_MEM" -> "20gb"))
    }
    assert(e2.getMessage.contains("worker memory"))
    // garbage fails with the READABLE message, not a NumberFormatException
    val e3 = intercept[IllegalArgumentException] {
      ExecMem.resolve("local-cluster[4,8,13312]",
        Map("SPARK_GRAFT_EXEC_MEM" -> "lots"))
    }
    assert(e3.getMessage.contains("not a Spark memory string"))
    // r14 ADVICE: Spark-legal bare-bytes values ('104857600b') parse as
    // bytes (ceil to MiB, never 0), instead of throwing
    assert(ExecMem.asMb("104857600b") == 100L)
    assert(ExecMem.asMb("104857601b") == 101L) // ceil, not floor
    assert(ExecMem.asMb("100b") == 1L)         // sub-MiB bytes round UP
    // r14 ADVICE: negative values fail fast with the positive-size
    // message instead of vacuously passing the oversize gate and dying
    // later in an opaque Spark launch error
    for (bad <- Seq("-12g", "-1", "-104857600b", "0", "0g")) {
      val eNeg = intercept[IllegalArgumentException] { ExecMem.asMb(bad) }
      assert(eNeg.getMessage.contains("not a positive memory size"), s"$bad: ${eNeg.getMessage}")
    }
  }

  test("StreamProbe bucket width: divide-first survives spans where multiply-first overflows") {
    // r14 ADVICE: (ts-outMin)*nFiles overflows Long around mult~220 on a
    // 30-day ns span × 16 files — the negative bucket id matched no
    // output file and silently dropped events from the probe stream.
    val dayNs = 86400L * 1000000000L
    val outSpan = 250L * 30L * dayNs // the overflow regime: ~6.5e17 ns
    val nFiles = 16
    assert((outSpan - 1L) * nFiles < 0L,
      "precondition lost: this span no longer overflows multiply-first")
    val w = StreamProbe.bucketWidthFor(outSpan, nFiles)
    assert(w > 0L)
    // every in-span offset lands in [0, nFiles); the last lands at the top
    for (off <- Seq(0L, 1L, outSpan / 2, outSpan - 2L, outSpan - 1L)) {
      val b = off / w
      assert(b >= 0L && b < nFiles, s"offset $off → bucket $b out of range")
    }
    assert((outSpan - 1L) / w == nFiles - 1L)
    // and exact-division spans still fill all buckets contiguously
    val wExact = StreamProbe.bucketWidthFor(1600L, nFiles)
    assert(wExact == 100L && (0L until 1600L).map(_ / wExact).distinct == (0L until 16L))
  }

  test("LSH table-growth law: registered scales unchanged, geometric past the crossover, capped") {
    // r14 recall-at-scale finding: the linear tables rule held the 0.9
    // floor at registered scales but decayed to 0.697/0.619 recall@5 at
    // the 50x/100x probe depths; per-table collision needs tables x(1/p)
    // per extra plane (p = per-plane agreement, measured 0.70-0.73).
    // The law: min(1024, max(linear, 12*(3/2)^e)) — max() pins every
    // oracle-certified registered config to the measured linear values.
    import graft.queries.SimilarityQueries.lshDepthForCount
    assert(lshDepthForCount(20L) == (3, 12))    // sf0.001
    assert(lshDepthForCount(200L) == (3, 12))   // sf0.01
    assert(lshDepthForCount(2000L) == (5, 36))  // sf0.1 — the certified floor config
    // crossover: e=4 ties at 60, e=5 the geometric branch takes over
    assert(lshDepthForCount(64L << 7) == (7, 60))
    assert(lshDepthForCount((64L << 7) + 1L) == (8, 91))
    // the r14 probe tiers (50x/100x of sf0.1 embeddings)
    assert(lshDepthForCount(100000L) == (11, 307))
    assert(lshDepthForCount(200000L) == (12, 461))
    // cap at 1024 (e=11, >1M vectors): past it route to binary/ivf/knn
    assert(lshDepthForCount(1000000L) == (14, 1024))
    assert(lshDepthForCount(100000000L)._2 == 1024)
  }

  test("sublinear ANN parameter laws: registered scales pinned, sqrt growth, scan fraction falls") {
    // r14 verdict task 1: scaledShortlist = n/4 and fixed ivf lists/probe
    // made per-query cost Θ(n) — "a linear scan wearing an index
    // costume". The laws below follow the lshTablesFor playbook: max/min
    // branches pin every registered scale EXACTLY on the certified
    // values; past the crossover the sqrt branch takes over and the scan
    // FRACTION falls as the corpus grows. The r15 50×/100× recall probe
    // carries the recall-floor evidence; this pins the arithmetic.
    import graft.queries.SimilarityQueries.{shortlistForCount,
      ivfConfigForCount, tiersIvfConfigForCount, isqrt}
    // isqrt is the IEEE-exact integer root at the regime edges
    assert(isqrt(0) == 0 && isqrt(1) == 1 && isqrt(3) == 1 && isqrt(4) == 2)
    assert(isqrt(2000) == 44 && isqrt(100000) == 316 && isqrt(200000) == 447)
    assert(isqrt((1L << 40) - 1) == 1048575L && isqrt(1L << 40) == 1048576L)
    // shortlist law: registered scales keep the certified n/4 values
    assert(shortlistForCount(20) == 100)    // sf0.001
    assert(shortlistForCount(200) == 100)   // sf0.01
    assert(shortlistForCount(2000) == 500)  // sf0.1 — the certified config
    // crossover at n = 16·(4k)² = 6400; sqrt branch at the probe depths
    assert(shortlistForCount(6400) == 1600)   // both branches agree here
    assert(shortlistForCount(100000) == 6320) // 20·316: 6.3% scan (was 25%)
    assert(shortlistForCount(200000) == 8940) // 20·447: 4.5% scan
    // scan fraction FALLS strictly across doublings past the crossover
    val slFrac = Seq(10000L, 20000L, 40000L, 100000L, 200000L, 1000000L)
      .map(n => shortlistForCount(n).toDouble / n)
    assert(slFrac.sliding(2).forall(p => p(1) < p(0)), slFrac.mkString(","))
    // tiers (md5-replayable) IVF law: registered 8 lists / probe 4 pinned
    assert(tiersIvfConfigForCount(20) == ((8, 4)))
    assert(tiersIvfConfigForCount(200) == ((8, 4)))
    assert(tiersIvfConfigForCount(2000) == ((8, 4)))
    // occupancy floor governs 2048 < n < 65536; sqrt beyond
    assert(tiersIvfConfigForCount(4096) == ((16, 8)))
    assert(tiersIvfConfigForCount(16384) == ((64, 16)))
    assert(tiersIvfConfigForCount(100000) == ((316, 34))) // 50× probe depth
    assert(tiersIvfConfigForCount(200000) == ((447, 42))) // 100× probe depth
    // production (Lloyd) law: registered 16/12 pinned, same growth shape
    assert(ivfConfigForCount(20) == ((16, 12)))
    assert(ivfConfigForCount(2000) == ((16, 12)))
    assert(ivfConfigForCount(100000) == ((316, 34)))
    // the 4096-list cap (SQL-twin center-generation bound) binds
    assert(ivfConfigForCount(3000000000L)._1 == 4096)
    assert(tiersIvfConfigForCount(3000000000L) == ((4096, 128)))
    // probed fraction (probe/lists ≈ scanned corpus fraction under
    // balanced lists) never rises, and falls ~4× by the 100× depth
    val pf = Seq(2000L, 4096L, 16384L, 65536L, 100000L, 200000L).map { n =>
      val (l, p) = tiersIvfConfigForCount(n); p.toDouble / l
    }
    assert(pf.sliding(2).forall(w => w(1) <= w(0)), pf.mkString(","))
    assert(pf.last < 0.1 && pf.head == 0.5)
  }
}
