package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.SelectionQueries

/** Laws for the data-selection queries (the DuckDB oracle carries the
  * value evidence; these pin the operator-level guarantees). All five run
  * against the real sf0.001 driver testdata so non-vacuousness is checked
  * on the same inputs the correctness gate uses. */
class SelectionSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  test("cluster_assign: labels are true argmaxes and sizes partition the corpus") {
    val out = SelectionQueries.clusterAssign.spark(spark, sf).cache()
    val n = out.count()
    // sizes sum back to the corpus: every vector got exactly one label
    val sumSizes = out.groupBy("cluster").agg(first("n_members").as("m"))
      .agg(sum("m")).head().getLong(0)
    assert(sumSizes == n)
    // more than one cluster is actually populated (non-vacuous codebook)
    assert(out.select("cluster").distinct().count() > 1)
    // INDEPENDENT argmax reference: recompute every cosine driver-side in
    // plain Scala (float-cast centroids, left-fold double math) and check
    // label + similarity per vector — a wrong struct field or a broken
    // tie-break cannot agree with this
    val cents = SelectionQueries.centroids.map(_.map(_.toFloat))
    def cosine(v: Array[Float], c: Array[Float]): Double = {
      var na = 0.0; var nb = 0.0; var d = 0.0
      for (i <- v.indices) { na += v(i).toDouble * v(i).toDouble }
      for (i <- c.indices) { nb += c(i).toDouble * c(i).toDouble }
      for (i <- 0 until math.min(v.length, c.length)) { d += v(i).toDouble * c(i).toDouble }
      if (na > 0.0 && nb > 0.0) d / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val vecs = queries.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = out.select("vec_id", "cluster", "sim").collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (id, cl, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val sims = cents.map(c => cosine(vecs(id), c))
      val best = sims.max
      val wantCluster = sims.indexWhere(_ == best)
      assert(cl == wantCluster, s"vec $id: cluster $cl, reference $wantCluster")
      assert(math.abs(sim - best) < 1e-6, s"vec $id: sim $sim vs reference $best")
    }
    out.unpersist()
  }

  test("sample_temperature: min-token source keeps everything, rates anti-monotone in size") {
    val out = SelectionQueries.sampleTemperature.spark(spark, sf)
      .select("source", "n_tokens", "rate", "n_docs", "n_kept")
      .collect()
    val minTok = out.map(_.getLong(1)).min
    out.foreach { r =>
      val (tok, rate, nDocs, nKept) = (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4))
      if (tok == minTok) assert(rate == 1.0, s"min source rate must be 1.0, got $rate")
      assert(nKept <= nDocs)
      assert(rate > 0.0 && rate <= 1.0)
    }
    // anti-monotone: more tokens => no higher rate
    val sorted = out.sortBy(_.getLong(1))
    sorted.sliding(2).foreach { w =>
      assert(w(1).getDouble(2) <= w(0).getDouble(2) + 1e-12)
    }
  }

  test("quality_gopher: rules are non-vacuous and pass is their conjunction") {
    val out = SelectionQueries.qualityGopher.spark(spark, sf).cache()
    val rules = Seq("rule_words", "rule_mean_wl", "rule_stopwords",
      "rule_alpha", "rule_repetition")
    val agg = out.agg(
      sum(col("pass")).as("npass"),
      rules.map(r => sum(col(r)).as(r)): _*
    ).head()
    val n = out.count()
    val sums = rules.zipWithIndex.map { case (r, i) => r -> agg.getLong(i + 1) }.toMap
    assert(agg.getLong(0) > 0, "no document passes all rules")
    assert(agg.getLong(0) < n, "every document passes — gate is vacuous")
    // every rule accepts SOMETHING (a stuck-at-0 rule would zero the gate)
    rules.foreach(r => assert(sums(r) > 0, s"$r rejects every document"))
    // the rules that CAN fire on this corpus really do reject documents
    // (mean-word-length and alpha are vacuously true here: the synthetic
    // vocabulary is all-alphabetic with mean length in [3,10])
    Seq("rule_words", "rule_stopwords", "rule_repetition").foreach(r =>
      assert(sums(r) < n, s"$r accepts every document — stuck at 1"))
    // conjunction law: pass == AND of the five rules, row by row
    val bad = out.filter(
      (col("pass") === 1) =!=
        rules.map(r => col(r) === 1).reduce(_ && _)).count()
    assert(bad == 0)
    out.unpersist()
  }

  test("html_strip: output has no markup, entities decoded, body text preserved") {
    val out = SelectionQueries.htmlStrip.spark(spark, sf).cache()
    assert(out.filter(col("text_out").contains("<") ||
      col("text_out").contains(">")).count() == 0)
    assert(out.filter(col("text_out").contains("&amp;")).count() == 0)
    // script/style payloads must not leak into the extracted text
    assert(out.filter(col("text_out").contains("track(") ||
      col("text_out").contains("margin:0")).count() == 0)
    // the body text survives: extracted text ends with the doc's own text
    // (entities decoded back to the original " and "), after the h1 title
    val docs = queries.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val joined = out.join(docs, "doc_id")
      .filter(!col("text_out").endsWith(regexp_replace(col("text"), " +", " ")))
    assert(joined.count() == 0)
    out.unpersist()
  }

  test("bpe_pair_counts: top pairs are real 2-grams with positive descending counts") {
    val out = SelectionQueries.bpePairCounts.spark(spark, sf).collect()
    assert(out.length == 30)
    assert(out.forall(r => r.getString(0).length == 2 && r.getLong(1) > 0))
    // descending by count (ties broken by pair asc → non-increasing counts)
    out.map(_.getLong(1)).sliding(2).foreach(w => assert(w(1) <= w(0)))
  }

  test("pipeline_select: reason names the first failing stage, selected = conjunction") {
    val out = SelectionQueries.pipelineSelect.spark(spark, sf).cache()
    val bad = out.filter(
      (col("selected") === 1) =!=
        (col("gate_ok") === 1 && col("dsir_ok") === 1 && col("temp_ok") === 1)).count()
    assert(bad == 0)
    val reasonBad = out.filter(
      (col("reason") === "gate" && col("gate_ok") === 1) ||
      (col("reason") === "dsir" && (col("gate_ok") === 0 || col("dsir_ok") === 1)) ||
      (col("reason") === "mix" && (col("gate_ok") === 0 || col("dsir_ok") === 0 || col("temp_ok") === 1)) ||
      (col("reason") === "kept" && col("selected") === 0)).count()
    assert(reasonBad == 0)
    // the funnel is non-vacuous: some docs survive, some fall at a stage
    val n = out.count()
    val nSel = out.filter(col("selected") === 1).count()
    assert(nSel > 0 && nSel < n, s"funnel vacuous: $nSel of $n")
    out.unpersist()
  }

  test("dsir_weights: target-slice mean weight exceeds non-target mean") {
    val out = SelectionQueries.dsirWeights.spark(spark, sf).cache()
    val means = out.groupBy("is_target").agg(avg("weight").as("w"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(means.contains(0) && means.contains(1),
      s"target split is vacuous: $means")
    assert(means(1) > means(0),
      s"importance weights do not favor the target slice: $means")
    // weights are strictly positive (product of positive ratios)
    assert(out.filter(col("weight") <= 0.0).count() == 0)
    out.unpersist()
  }

  test("mix_epochs: uniform targets, 4-epoch cap, realized-token consistency") {
    val out = SelectionQueries.mixEpochs.spark(spark, sf).collect()
    assert(out.nonEmpty)
    // uniform mixture: every source gets the same token target
    assert(out.map(_.getAs[Long]("target_tokens")).distinct.length == 1)
    out.foreach { r =>
      val nt = r.getAs[Long]("n_tokens")
      val tgt = r.getAs[Long]("target_tokens")
      val ep = r.getAs[Double]("epochs")
      val realized = r.getAs[Long]("realized_tokens")
      val capped = r.getAs[Int]("capped")
      assert(ep > 0.0 && ep <= 4.0, s"epochs out of range: $ep")
      if (capped == 1) {
        // at the repetition ceiling: exactly 4 epochs of the source
        assert(ep == 4.0 && realized == 4L * nt, s"capped row mismatch: $r")
      } else {
        // uncapped: realized lands on the target (float round-trip ±1)
        assert(math.abs(realized - tgt) <= 1, s"uncapped row off target: $r")
      }
    }
  }

  test("bpe_encode matches an independent plain-Java replaceAll encoder") {
    val docs = queries.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    // independent merge-table derivation: weighted adjacent char pairs
    val wc = docs.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val pairCounts = wc.toSeq.flatMap { case (w, c) =>
      w.sliding(2).filter(_.length == 2).map(_ -> c)
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      .filter { case (p, _) => p.matches("^[a-z0-9]{2}$") }
    val merges = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.take(8).map(_._1)
    def encode(w: String): String =
      merges.foldLeft(w.replaceAll("(.)", "$1 ").trim) { (acc, p) =>
        acc.replaceAll(s"${p(0)} ${p(1)}", p)
      }
    val want = docs.map { case (id, toks) =>
      val encs = toks.map(encode)
      (id, toks.length.toLong, encs.map(_.split(" ").length.toLong).sum,
        encs.headOption.orNull)
    }.sortBy(_._1).toSeq
    val got = SelectionQueries.bpeEncode.spark(spark, sf)
      .select("doc_id", "n_words", "n_symbols", "enc_first").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == want)
    // non-vacuous: some document actually gained a multi-char symbol
    assert(got.exists { case (_, nw, ns, _) => ns < nw * 10 && ns > 0 } &&
      got.exists(_._4 != null))
    assert(got.exists { case (id, _, _, _) =>
      val toks = docs.toMap.apply(id)
      toks.nonEmpty && encode(toks.head).split(" ").exists(_.length > 1)
    }, "no merge ever fired — merge table is vacuous")
  }

  test("bm25_topk matches an independent driver-side scorer exactly") {
    val terms = Seq("dup", "data", "the")
    val docs = queries.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    val n = docs.length.toLong
    val totalLen = docs.map(_._2.length.toLong).sum
    val avgdl = totalLen.toDouble / n.toDouble
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    def score(toks: Seq[String]): Double = {
      val dl = toks.length.toLong
      val parts = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val idf = ((n - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)
        (idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))
      }
      (parts(0) + parts(1)) + parts(2)
    }
    val want = docs.map { case (id, toks) => (id, score(toks)) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
    val got = SelectionQueries.bm25TopK.spark(spark, sf)
      .select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"ranking mismatch: got ${got.map(_._1).toSeq} want ${want.map(_._1).toSeq}")
    got.zip(want).foreach { case ((_, gs), (_, ws)) =>
      assert(math.abs(gs - ws) < 1e-6, s"score drift: $gs vs $ws")
    }
    // the rare high-idf term dominates: every doc containing it outranks
    // the best doc without it (idf('dup') is ~30x the common terms')
    val dupIds = docs.filter(_._2.contains("dup")).map(_._1).toSet
    if (dupIds.nonEmpty && dupIds.size <= 20)
      assert(dupIds.subsetOf(got.map(_._1).toSet),
        "every doc containing the rare term should make the top-20")
  }

  test("bpe_fertility: per-lang rollup consistent with per-doc encode counts, fertility >= 1") {
    val perDoc = SelectionQueries.bpeEncode.spark(spark, sf)
      .select("doc_id", "n_words", "n_symbols")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val langs = queries.Tables.table(spark, sf, "documents")
      .select("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = SelectionQueries.bpeFertility.spark(spark, sf)
      .select("lang", "n_docs", "n_words", "n_symbols", "fertility")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(out.length > 1, "need multiple languages for a per-lang metric")
    val byLang = perDoc.groupBy(d => langs(d._1))
    out.foreach { case (lang, nDocs, nWords, nSyms, fert) =>
      val docs = byLang(lang)
      assert(nDocs == docs.length && nWords == docs.map(_._2).sum &&
        nSyms == docs.map(_._3).sum, s"rollup mismatch for $lang")
      // merges never cross word boundaries: at least one symbol per word,
      // at most one per character (merges only shrink)
      assert(fert >= 1.0, s"$lang fertility $fert < 1")
      assert(math.abs(fert - nSyms.toDouble / nWords.toDouble) < 1e-6)
    }
    // merges actually fired somewhere: total symbols < total characters
    val totalChars = queries.Tables.table(spark, sf, "documents")
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.regexp_replace(col("text"), " ", ""))))
      .head().getLong(0)
    assert(out.map(_._4).sum < totalChars, "no merge ever reduced symbol count")
  }

  test("pipeline_pretrain: funnel monotone, reason = first failing stage, shards only for kept") {
    val out = SelectionQueries.pipelinePretrain.spark(spark, sf)
      .select("doc_id", "gate_ok", "dedup_ok", "temp_ok", "kept", "reason", "shard")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getString(5), r.getLong(6)))
    assert(out.nonEmpty)
    out.foreach { case (id, g, d, t, k, reason, shard) =>
      // verdicts are a funnel: a stage can only pass if every earlier one did
      assert(d <= g && t <= d && k == t, s"doc $id funnel not monotone: $g $d $t $k")
      val expected =
        if (g == 0) "gate" else if (d == 0) "dup" else if (t == 0) "mix" else "kept"
      assert(reason == expected, s"doc $id reason $reason != $expected")
      assert((shard >= 0) == (k == 1), s"doc $id shard $shard vs kept $k")
      if (k == 1) assert(shard < 8)
    }
    // every funnel stage actually fires on the testdata
    Seq("gate", "dup", "mix", "kept").foreach(r =>
      assert(out.exists(_._6 == r), s"reason '$r' never occurs — stage vacuous"))
    // the snake deal balances kept-doc counts within 1 across shards
    val byShard = out.filter(_._5 == 1).groupBy(_._7).map(_._2.size)
    assert(byShard.max - byShard.min <= 1, s"shard counts unbalanced: $byShard")
  }

  test("mix_doremi: weights normalize, order by excess, realized tokens within budget") {
    val out = SelectionQueries.mixDoremi.spark(spark, sf)
      .select("source", "n_tokens", "excess", "w1", "w2", "w3", "realized_tokens")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(out.length > 1)
    // each round's weights form a distribution
    Seq[Int](3, 4, 5).foreach { i =>
      val s = out.map(r => i match { case 3 => r._4; case 4 => r._5; case _ => r._6 }).sum
      assert(math.abs(s - 1.0) < 1e-6, s"round weights sum $s != 1")
    }
    // the multiplicative update preserves the excess ordering: more
    // excess => weakly more weight, every round (1 + eta*e is monotone)
    val byExcess = out.sortBy(_._3)
    byExcess.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._4 <= hi._4 + 1e-12 && lo._6 <= hi._6 + 1e-12,
          s"weight ordering violates excess ordering: $lo vs $hi")
      case _ =>
    }
    // up-weighting sharpens round over round for the max-excess source
    val top = byExcess.last
    assert(top._6 >= top._4 - 1e-12, "max-excess weight should not decay across rounds")
    // realized tokens stay within the half-corpus budget
    val budget = out.map(_._2).sum / 2
    assert(out.map(_._7).sum <= budget && out.forall(_._7 >= 0))
  }

  test("rrf_fusion matches an independently recomputed two-arm fusion") {
    val terms = Seq("dup", "data", "the")
    val docs = queries.Tables.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq)
    // lexical arm: the same independent BM25 scorer as the bm25_topk law
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n.toDouble
    val df = terms.map(t => t -> docs.count(_._2.contains(t)).toLong).toMap
    def bm25(toks: Seq[String]): Double = {
      val parts = terms.map { t =>
        val tf = toks.count(_ == t).toDouble
        val idf = ((n - df(t)).toDouble + 0.5) / (df(t).toDouble + 0.5)
        (idf * (tf * 2.2)) / (tf + 1.2 * (0.25 + 0.75 * (toks.length.toDouble / avgdl)))
      }
      (parts(0) + parts(1)) + parts(2)
    }
    val rankLex = docs.map { case (id, toks) => (id, bm25(toks)) }
      .sortBy { case (id, s) => (-s, id) }.take(50).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // dense arm: cosine against the vec_id-0 embedding, self excluded
    val vecs = queries.Tables.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qv = vecs.find(_._1 == 0L).get._2
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i).toDouble }
      for (i <- a.indices) { na += a(i).toDouble * a(i).toDouble }
      for (i <- b.indices) { nb += b(i).toDouble * b(i).toDouble }
      if (na > 0 && nb > 0) d / (math.sqrt(na) * math.sqrt(nb)) else 0.0
    }
    val rankSem = vecs.filter(_._1 != 0L).map { case (id, v) => (id, cos(v, qv)) }
      .sortBy { case (id, s) => (-s, id) }.take(50).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // fusion: 1/(60+rank) summed over the arms that retrieved the doc
    val want = (rankLex.keySet ++ rankSem.keySet).toSeq.map { id =>
      val r = rankLex.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        rankSem.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0)
      (id, rankLex.getOrElse(id, 0L), rankSem.getOrElse(id, 0L), r)
    }.sortBy { case (id, _, _, r) => (-r, id) }.take(20)
    val got = SelectionQueries.rrfFusion.spark(spark, sf)
      .select("doc_id", "rank_lex", "rank_sem", "rrf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq,
      s"fused ranking mismatch: got ${got.map(_._1).toSeq} want ${want.map(_._1).toSeq}")
    got.zip(want).foreach { case ((_, gl, gs, gr), (_, wl, ws, wr)) =>
      assert(gl == wl && gs == ws, s"arm ranks drift: ($gl,$gs) vs ($wl,$ws)")
      assert(math.abs(gr - wr) < 1e-9, s"rrf drift: $gr vs $wr")
    }
    // both arms genuinely contribute to the fused top-20
    assert(got.exists(g => g._2 > 0 && g._3 == 0) || got.exists(g => g._2 > 0 && g._3 > 0))
    assert(got.exists(_._3 > 0), "dense arm never fires in the fused list")
  }

  test("mix_anneal: eligibility is the true mean comparison, budgets conserve") {
    val out = graft.queries.SelectionQueries.mixAnneal.spark(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(out.nonEmpty)
    // both eligibility classes fire
    assert(out.exists(_._4 == 1) && out.exists(_._4 == 0))
    // independent recompute of the eligibility rule
    val docs = graft.queries.Tables.table(spark, sf, "documents")
      .select(col("source"),
        graft.functions.TextFunctions.tokenCount(col("text")).as("nt"),
        size(array_distinct(graft.functions.TextFunctions.tokens(col("text"))))
          .cast("long").as("q")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._1).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._2).sum, rs.map(_._3).sum)).toMap
    val (corpusDocs, corpusTok, corpusQ) =
      (docs.length.toLong, docs.map(_._2).sum, docs.map(_._3).sum)
    out.foreach { case (src, nDocs, nTok, elig, main, anneal, sched) =>
      val (d, t, q) = bySrc(src)
      assert(nDocs == d && nTok == t)
      assert(elig == (if (q * corpusDocs >= corpusQ * d) 1 else 0), s"$src eligibility")
      assert((anneal > 0) == (elig == 1))
      assert(sched == main + anneal)
    }
    // budget conservation: floor divisions under-allocate by < 1 per source
    val totalBudget = corpusTok / 2
    val annealBudget = totalBudget / 10
    assert(out.map(_._5).sum <= totalBudget - annealBudget)
    assert(out.map(_._6).sum <= annealBudget)
    assert(out.map(_._6).sum >= annealBudget - out.count(_._4 == 1))
  }

  test("perplexity_buckets: per-lang terciles balanced, score-monotone, covering") {
    val out = graft.queries.TextQueries.perplexityBucketsQ.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    assert(out.nonEmpty)
    out.groupBy(_._2).foreach { case (lang, rows) =>
      val n = rows.length
      // tercile sizes from the integer split differ by at most 1
      val sizes = Seq("head", "middle", "tail").map(b => rows.count(_._4 == b))
      assert(sizes.sum == n)
      assert(sizes.max - sizes.min <= 1, s"$lang tercile sizes $sizes")
      // score-monotone: every head score >= every middle score >= every tail
      // score (ranking is (score desc, id asc), so boundary ties can only
      // produce EQUAL scores across adjacent buckets, never inversions)
      def worst(b: String) = rows.filter(_._4 == b).map(_._3).min
      def best(b: String) = rows.filter(_._4 == b).map(_._3).max
      assert(worst("head") >= best("middle") - 1e-12)
      assert(worst("middle") >= best("tail") - 1e-12)
    }
    // every scored doc got exactly one bucket
    val scored = graft.queries.TextQueries.lmScored(
      graft.queries.Tables.table(spark, sf, "documents")).count()
    assert(out.length == scored)
  }

  test("cluster_balance: shares account for the corpus, deviation and verdicts recompute") {
    val out = SelectionQueries.clusterBalance
      .spark(spark, "/root/testdata/sf0.001")
      .select("cluster", "n_members", "share_ppm", "dev_ppm", "over_rep").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(out.map(_._1).toSeq == (0L until 8L))
    val n = out.map(_._2).sum
    // assignment partition: members across clusters == corpus size
    val corpus = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "embeddings").count()
    assert(n == corpus)
    out.foreach { case (_, m, share, dev, over) =>
      assert(share == m * 1000000L / n)
      assert(dev == math.abs(share - 125000L))
      assert(over == (if (share > 125000L) 1 else 0))
    }
    // floor-division shares sum to ≤ 1e6 within 8 ulps
    val s = out.map(_._3).sum
    assert(s <= 1000000L && s > 1000000L - 8)
  }

  test("curriculum_order: rank is the (n_tokens, doc_id) total order; terciles balance") {
    val out = SelectionQueries.curriculumOrder
      .spark(spark, "/root/testdata/sf0.001")
      .select("doc_id", "n_tokens", "rank", "phase").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val n = out.length
    assert(out.map(_._3).sorted.toSeq == (1L to n.toLong))
    // rank respects the easy→hard order
    val byRank = out.sortBy(_._3)
    byRank.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 < b._2 || (a._2 == b._2 && a._1 < b._1)); case _ => }
    // phases are contiguous rank blocks of near-equal size
    val sizes = out.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.length == 3 && sizes.max - sizes.min <= 1)
    byRank.foreach { case (_, _, r, p) => assert(p == 3 * (r - 1) / n + 1) }
  }

  test("Bpe.train: canonical rounds match a hand-computed trace; leftmost-first overlap rule") {
    import spark.implicits._
    import graft.operators.Bpe
    // vocab {aaab: 2, ab: 3}; round 1 pairs: (a,a)=4, (a,b)=5 → merge ab;
    // round 2: (a,a)=2 ties (a,ab)=2 → (a,a) wins the (sym, nsym) order;
    // round 3: only (aa,ab)=2 remains → the word reassembles
    val vocab = Seq(("aaab", 2L), ("ab", 3L)).toDF("w", "wc")
    val (merges, rows) = Bpe.train(vocab, 3)
    assert(merges.map(m => (m.left, m.right, m.n)) ==
      Seq(("a", "b", 5L), ("a", "a", 2L), ("aa", "ab", 2L)))
    val fin = rows.orderBy("w", "pos").select("w", "sym")
      .as[(String, String)].collect().toSeq
    assert(fin == Seq(("aaab", "aaab"), ("ab", "ab")))
    // canonical scan semantics: "aaaa" under merge (a,a) → [aa, aa]
    // (odd-rank matches within a run), never [aa, a, a]
    val (m2, rows2) = Bpe.train(Seq(("aaaa", 1L)).toDF("w", "wc"), 1)
    assert(m2.head.left == "a" && m2.head.right == "a" && m2.head.n == 3L)
    assert(rows2.orderBy("pos").select("sym").as[String].collect().toSeq ==
      Seq("aa", "aa"))
    // determinism: the corpus-learned table is identical across runs
    def corpusMerges() = {
      val v = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      Bpe.train(v, 4)._1
    }
    assert(corpusMerges() == corpusMerges())
  }

  test("Bpe.trainWordPiece: likelihood score diverges from BPE; ## merge semantics") {
    import spark.implicits._
    import graft.operators.Bpe
    // (x,##y) is the most FREQUENT pair (10) but x,y are ubiquitous
    // (occ 30 each → score 10·10¹²/900 ≈ 1.1e10); (q,##z) occurs twice
    // with q,z occurring ONLY there (occ 2 each → score 2·10¹²/4 = 5e11)
    // — WordPiece merges qz first, BPE would merge xy. The long-tail
    // property the likelihood score exists for.
    val vocab = Seq(("xy", 10L), ("xa", 20L), ("yb", 20L), ("qz", 2L))
      .toDF("w", "wc")
    val (wp, _) = Bpe.trainWordPiece(vocab, 1)
    assert(wp.head.left == "q" && wp.head.right == "##z" &&
      wp.head.n == 2L && wp.head.score == 500000000000L,
      s"got ${wp.head}")
    val (bp, _) = Bpe.train(vocab, 1)
    assert(bp.head.left == "y" && bp.head.right == "b" ||
      bp.head.left == "x" && bp.head.right == "a",
      s"BPE should pick a count-20 pair, got ${bp.head}")
    // ## continuation semantics: "abc" → a, ##b, ##c; "bc" → b, ##c.
    // Singles: a:5, ##b:5, ##c:6, b:1. Round 1 scores: (a,##b)
    // 5e12/25 = 2e11 beats (##b,##c) 5e12/30 ≈ 1.67e11 → merge "ab"
    // (## strips from the right side: a‖##b → ab). Round 2: (ab,##c)
    // 5e12/30 ties (b,##c) 1e12/6 exactly — n desc breaks it (5 > 1)
    // → "abc" reassembles.
    val v2 = Seq(("abc", 5L), ("bc", 1L)).toDF("w", "wc")
    val (wp2, rows2) = Bpe.trainWordPiece(v2, 2)
    assert(wp2.map(m => (m.left, m.right)) == Seq(("a", "##b"), ("ab", "##c")),
      s"got ${wp2.map(m => (m.left, m.right))}")
    val fin = rows2.orderBy("w", "pos").select("w", "sym")
      .as[(String, String)].collect().toSeq
    assert(fin.contains(("abc", "abc")), s"got $fin")
    // determinism across runs on real data
    def corpusWp() = {
      val v = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      Bpe.trainWordPiece(v, 3)._1
    }
    assert(corpusWp() == corpusWp())
  }

  test("wordpiece_train_fertility: fertility >= 1, word-bounded, all langs covered") {
    import spark.implicits._
    val out = graft.queries.SelectionQueries.wordpieceTrainFertility
      .spark(spark, "/root/testdata/sf0.001")
      .select("lang", "n_docs", "n_words", "n_symbols", "fertility")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(out.nonEmpty && out.map(_._1).distinct.length == out.length)
    out.foreach { case (lang, nd, nw, ns, f) =>
      // every word emits >= 1 symbol and <= its character count; after 5
      // merges fertility must sit strictly between 1 and the raw
      // chars-per-word mean
      assert(nd > 0 && nw >= nd && ns >= nw, s"$lang: docs=$nd words=$nw syms=$ns")
      assert(f >= 1.0 && math.abs(f - ns.toDouble / nw.toDouble) < 1e-5,
        s"$lang fertility $f inconsistent with $ns/$nw")
    }
    // the trained tokenizer compresses: fertility under the 5-round
    // trainer is strictly below untrained chars-per-word
    val raw = graft.queries.Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
      .agg(avg(length(col("w")))).head.getDouble(0)
    assert(out.forall(_._5 < raw), s"fertility not below raw chars/word $raw")
  }

  test("Unigram.viterbi: global optimum diverges from greedy/merge-based segmentation") {
    import spark.implicits._
    import graft.operators.Unigram
    // p(ab) > p(a), so a greedy longest/likeliest-first segmenter (and a
    // BPE-style merge application, which would have learned the frequent
    // "ab" merge) produces ab|c. Viterbi optimizes GLOBALLY:
    // a|bc = 0.1·0.3 = 0.03 beats ab|c = 0.2·0.001 = 2e-4 — the defining
    // behavioral difference of the unigram-LM family from BPE/WordPiece.
    val words = Seq(("abc", 1L)).toDF("w", "wc")
    val pieces = Seq(("a", 0.1), ("b", 0.01), ("c", 0.001),
      ("ab", 0.2), ("bc", 0.3)).toDF("piece", "p")
    val got = Unigram.viterbi(words, pieces, 3, 4)
      .select("path", "k", "prob").as[(String, Long, Double)].head()
    assert(got == (("a|bc", 2L, 0.1 * 0.3)), s"got $got")
    // tie-break: 0.5·0.5 and 1.0·0.25 are both exactly 0.25 in IEEE —
    // fewer pieces (k asc) must win
    val words2 = Seq(("aa", 1L)).toDF("w", "wc")
    val pieces2 = Seq(("a", 0.5), ("aa", 0.25)).toDF("piece", "p")
    val got2 = Unigram.viterbi(words2, pieces2, 2, 4)
      .select("path", "k").as[(String, Long)].head()
    assert(got2 == (("aa", 1L)), s"got $got2")
  }

  test("Unigram.train: coverage, path reassembly, count consistency, determinism") {
    import spark.implicits._
    import graft.operators.Unigram
    val words = graft.queries.Tables.table(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) <= 8)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val (cntF, fin) = Unigram.train(words)
    val segs = fin.select("w", "wc", "k", "path")
      .as[(String, Long, Long, String)].collect()
    val nWords = words.count()
    assert(segs.length == nWords, "every word must receive a segmentation")
    segs.foreach { case (w, _, k, path) =>
      val ps = path.split('|')
      assert(ps.mkString == w, s"path $path does not reassemble $w")
      assert(ps.length == k, s"k=$k but path $path has ${ps.length} pieces")
    }
    // counts are exactly the weighted piece occurrences of the paths,
    // and the kept vocabulary covers every used piece
    val kept = cntF.select("piece", "n").as[(String, Long)].collect().toMap
    val recount = segs.flatMap { case (_, wc, _, path) =>
      path.split('|').map(_ -> wc) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
    recount.foreach { case (p, n) =>
      assert(kept.getOrElse(p, -1L) == n, s"piece $p: kept=${kept.get(p)} used=$n")
    }
    // non-vacuous: the trainer actually selects multi-char pieces
    assert(kept.exists { case (p, n) => p.length >= 2 && n > 0 })
    // deterministic end to end
    val (cntF2, _) = Unigram.train(words)
    assert(cntF2.select("piece", "n").as[(String, Long)].collect().toMap == kept)
  }

  test("Unigram.forward: full-word mass equals the brute-force sum over segmentations") {
    import spark.implicits._
    import graft.operators.Unigram
    // "abc" with pieces {a,b,c,ab,bc}: the three segmentations are
    // a|b|c, ab|c, a|bc — α(3) must equal their probability sum (the
    // DP's fixed-tree grouping may differ from the naive sum's by IEEE
    // association only, so compare within 1e-12)
    val words = Seq(("abc", 1L)).toDF("w", "wc")
    val pieces = Seq(("a", 0.1), ("b", 0.01), ("c", 0.001),
      ("ab", 0.2), ("bc", 0.3)).toDF("piece", "p")
    val af = Unigram.forward(words, pieces, 3, 4)
      .filter(col("pos") === 3).select("a").as[Double].head()
    val want = 0.1 * 0.01 * 0.001 + 0.2 * 0.001 + 0.1 * 0.3
    assert(math.abs(af - want) <= 1e-12, s"alpha=$af want=$want")
    // backward full-suffix mass must agree with forward full-prefix mass
    val bf = Unigram.backward(words, pieces, 3, 4)
      .filter(col("r") === 3).select("b").as[Double].head()
    assert(math.abs(bf - want) <= 1e-12, s"beta=$bf want=$want")
  }

  test("Unigram full-EM: expected counts diverge from Viterbi counts (mass splits across segmentations)") {
    import spark.implicits._
    import org.apache.spark.sql.types.DecimalType
    import graft.operators.Unigram
    // one word "ab", seed pieces {a, b, ab}, uniform smoothed p = 1/3:
    // Viterbi routes ALL mass through [ab] (1/3 > 1/9) — a and b count 0;
    // the full-EM E-step splits posterior mass: P(ab)=3/4, P(a|b)=1/4,
    // so a and b each carry ~250000 micro-units and ab ~750000 — the
    // family-defining difference between the hard and soft trainers.
    val words = Seq(("ab", 1L)).toDF("w", "wc")
    val hard = Unigram.train(words, emRounds = 1)._1
      .select("piece", "n").as[(String, Long)].collect().toMap
    assert(hard == Map("a" -> 0L, "b" -> 0L, "ab" -> 1L), s"hard=$hard")
    val cnt0 = Unigram.seed(words, 4, 80)
      .select(col("piece"),
        (col("n").cast(DecimalType(38, 0)) * lit(Unigram.EmUnit)).as("n"))
    val p = Unigram.probsMicro(cnt0)
    val f = Unigram.forward(words, p, 8, 4)
    val b = Unigram.backward(words, p, 8, 4)
    val em = Unigram.expectedCounts(words, p, f, b, cnt0, 4)
      .select(col("piece"), col("n").cast("long")).as[(String, Long)]
      .collect().toMap
    // quantization floor may sit one ulp under the exact rational
    for (k <- Seq("a", "b"))
      assert(math.abs(em(k) - 250000L) <= 10, s"em($k)=${em(k)}")
    assert(math.abs(em("ab") - 750000L) <= 10, s"em(ab)=${em("ab")}")
    // posterior mass conservation: expected pieces per word ∈ [1, 2]
    val totalEm = em.values.sum
    assert(totalEm >= 1000000L - 10 && totalEm <= 2000000L,
      s"total expected mass $totalEm outside [1e6, 2e6]")
    // the full trainer is deterministic end to end
    def emRun() = Unigram.trainEm(words, emRounds = 1)
      .select(col("piece"), col("n").cast("long")).as[(String, Long)]
      .collect().toMap
    val r1 = emRun()
    assert(r1("a") > 0 && r1("b") > 0, s"soft counts must split mass: $r1")
    assert(r1("ab") > r1("a"), s"dominant path must keep the larger share: $r1")
    assert(emRun() == r1, "trainEm must be deterministic")
  }
}
