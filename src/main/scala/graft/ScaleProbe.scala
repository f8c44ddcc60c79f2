package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Models
import graft.operators.{Components, Dedup}

/** Scale probe: times each heavy operator family at 1× and 10× of the
  * sf0.1 inputs and prints the wall-clock ratio (linear scaling ⇒ ≈ 10,
  * plus fixed overhead ⇒ usually < 10). The bench criterion alone is
  * self-referential at one scale; this is the cheap local check that no
  * family is superlinear BEYOND bench scale, before a real cluster finds
  * out.
  *
  * 10× inputs are synthesized from the real sf0.1 parquet — replicate
  * with id offsets; document text is `translate`-salted per replica so
  * replicas are shingle-disjoint and pair densities stay linear (a naive
  * copy would make every doc a 10-way exact dup and inflate the pair
  * space quadratically — measuring an adversarial corpus, not scale).
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [mult] [family,family,...]
  */
object ScaleProbe {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Replicate a frame `mult`× with offset ids (and optionally salted
    * text: per-replica consonant rotation keeps token statistics
    * isomorphic but shingle-disjoint across replicas). */
  private def replicate(df: DataFrame, mult: Int, idCol: String,
                        saltText: Boolean): DataFrame = {
    if (mult <= 1) return df
    // per-replica alphabet permutation from the AFFINE family
    // ([[graft.ops.ProbeSalts.textPermutation]] — 312 distinct members,
    // orbit-distinctness spec-verified by the salt-period law): up to
    // 312 replicas are pairwise shingle-disjoint. A plain rotation
    // family has only 26 members — replica 26 would alias replica 0 and
    // the probe would measure an adversarial near-copy corpus, not scale.
    import graft.ops.ProbeSalts
    require(!saltText || mult <= ProbeSalts.textFamilySize,
      s"text-salted replication supports at most ${ProbeSalts.textFamilySize} replicas, got $mult")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val reps = df.withColumn("_rep", explode(lit((0 until mult).toArray)))
    val shifted = reps.withColumn(idCol, col(idCol) + col("_rep").cast("long") * 100000000L)
    val salted =
      if (!saltText) shifted
      else shifted.withColumn("text",
        // deterministic, length-preserving, token-statistics-isomorphic
        (0 until mult).foldLeft(col("text")) { (c, r) =>
          when(col("_rep") === r,
            translate(col("text"), alpha, ProbeSalts.textPermutation(r))).otherwise(c)
        })
    salted.drop("_rep")
  }

  def main(args: Array[String]): Unit = {
    // A real cluster sizes shuffle partitions to the data (the SCALE.md
    // partition-sizing discipline); a probe that pins 32 partitions while
    // multiplying the input 20× measures spill, not the operator. Override
    // with SPARK_GRAFT_SHUFFLE for payload-heavy families whose
    // per-partition bytes outgrow memory.
    // SPARK_GRAFT_MASTER=local-cluster[2,16,24576] runs the probe on TWO
    // executor JVMs (same cores, the heap SHARDED) — the measurement that
    // separates "per-JVM heap pressure" from algorithmic growth: a real
    // cluster shards the shuffle working set across executor heaps by
    // construction, and single-JVM local[32] cannot show that.
    val spark = GraftSession.fromEnv(defaultCores = 32)
    // Cluster-wide CPU: sum of task executorCpuTime — the only CPU number
    // that survives the move to multi-process masters (process CPU of
    // this JVM covers just the driver there). Printed alongside process
    // CPU; the two agree within noise on local[32].
    val taskCpuNs = new java.util.concurrent.atomic.AtomicLong(0)
    // Shuffle-write volume (records + bytes across all tasks): the
    // EXCHANGE cost a process boundary prices in SerDe — the knn_graph
    // 100× lesson. Write-side only (read-side double-counts retries).
    val shufRecs = new java.util.concurrent.atomic.AtomicLong(0)
    val shufBytes = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          taskCpuNs.addAndGet(t.taskMetrics.executorCpuTime)
          shufRecs.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
          shufBytes.addAndGet(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    })
    import spark.implicits._
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 10

    // Per-replica affine COORDINATE PERMUTATION for embedding corpora:
    // j = (i·mult(r) + shift(r)) mod 64 with mult = 2·((r >> 6) mod 32)+1
    // (odd ⇒ bijective mod 2^k) and shift = r mod 64 — 32 multipliers ×
    // 64 shifts = 2048 DISTINCT permutations walked in a 2048-cycle.
    // The original pairing (mult = 2r+1, shift = r) had PERIOD 64: mult
    // and mult+64 act identically mod 64, so replica r ≥ 64 duplicated
    // replica r−64 EXACTLY (cross-band cosine 1.0) and a 100× corpus
    // carried 36 twin band pairs — an adversarial near-copy corpus, not
    // scale (the same artifact class the text salt's affine family note
    // documents). Replicas 0–63 keep the identity multiplier, so every
    // ≤ 64× row measured before the fix is unaffected; A/B and topology
    // ratios at 100× shared the aliased corpus on both sides and stand.
    // The period-64 pairing survives only as the salt-period law's
    // negative control (ProbeSalts.coordPermutationAliased).

    def docs(m: Int) = replicate(
      spark.read.parquet(s"$dir/documents.parquet"), m, "doc_id", saltText = true)
    def manifest(m: Int) = replicate(
      graft.queries.Tables.manifest(spark, dir), m, "video_id", saltText = false)

    def families: Seq[(String, Int => Unit)] = Seq(
      "tiling_e1" -> { m =>
        noop(new graft.pipelines.VideoSlicing(
            () => new Models.FakeVideoTool, segDur = 300.0, minDur = 60.0)
          .runWithKnownDurations(manifest(m)))
      },
      "curation" -> { m =>
        noop(new graft.pipelines.CorpusCuration().curate(docs(m)))
      },
      "minhash_lsh" -> { m =>
        val feat = Dedup.minhashFeatures(docs(m))
        noop(Dedup.attachSides(Dedup.lshPairs(feat, feat, Seq((8, 4))), feat, feat, "sig")
          .filter(Dedup.estJaccard(col("sig_a"), col("sig_b"), 32) >= 0.5))
      },
      "components" -> { m =>
        // chains of 5 over n nodes: structure (diameter, degree) constant
        // across scales, node/edge count scales with m
        val n = 100000L * m
        val nodes = spark.range(n).select(col("id"))
        val edges = spark.range(n).filter(col("id") % 5 =!= 0)
          .select(col("id").as("src"), (col("id") - 1).as("dst"))
        noop(Components.connectedComponents(nodes, edges))
      },
      "frame_mining" -> { m =>
        // the composed E3 chain via the SHARED stage builder (replica id
        // offsets are divisible by 100, so the %100 sample fraction is
        // exactly scale-invariant)
        val mf = manifest(m).filter(col("video_id") % 100 === 0)
          .withColumn("total_frames", floor(col("total_duration") * 24).cast("long"))
          .select("video_id", "total_frames")
        noop(graft.queries.PipelineQueries.frameMiningRun(mf))
      },
      "bg_curation" -> { m =>
        // the composed E4 chain via the SHARED stage builder: the
        // part-derived image frame replicates with offset ids while h/w
        // keep the ORIGINAL key's values, so every gate's pass-fraction
        // is exactly scale-invariant and survivor volume scales with m
        noop(graft.queries.PipelineQueries.bgCurationSummary(
          replicate(graft.queries.PipelineQueries.bgCurationImages(spark, dir),
            m, "image_id", saltText = false)))
      },
      "line_dedup" -> { m =>
        // dedup_lines via the SHARED stage builder: salted replicas keep
        // line counts linear; the planted nav header is one boilerplate
        // line across every replica
        noop(graft.queries.TextQueries.dedupLinesSorted(
          docs(m).select(col("doc_id"), col("text"))))
      },
      "bloom_prune" -> { m =>
        // fixed small side, replicated big side: the scan-side prune work
        // must scale linearly in the big side alone
        val small = spark.read.parquet(s"$dir/customer.parquet")
          .filter(col("c_acctbal") > 9000).select(col("c_custkey").as("key"))
        val big = replicate(
          spark.read.parquet(s"$dir/orders.parquet"), m, "o_orderkey", saltText = false)
        noop(graft.operators.BloomPrune.prunedJoin(big, "o_custkey", small, "key"))
      },
      "star_components" -> { m =>
        // chains of 100 (past the label-propagation bound): component
        // structure constant, node/edge count scales with m — rounds stay
        // O(log component size), per-round work linear
        val n = 20000L * m
        val nodes = spark.range(n).select(col("id"))
        val edges = spark.range(n).filter(col("id") % 100 =!= 0)
          .select(col("id").as("src"), (col("id") - 1).as("dst"))
        noop(Components.connectedComponents(nodes, edges,
          algorithm = Components.StarContraction))
      },
      "pq_ann" -> { m =>
        // exhaustive-ADC shape: corpus×queries aggregate with 4 table
        // lookups per candidate (queries fixed, so time ∝ corpus)
        val emb = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val queries = emb.filter(col("vec_id") < 100000000L && col("vec_id") % 50 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
        val cb = graft.operators.Pq.train(emb, dim = 64)
        val codes = graft.operators.Pq.encode(emb, cb)
        noop(graft.operators.Pq.adcRerankTopK(codes, emb, queries, cb, k = 5,
          shortlist = 60))
      },
      "semantic_dedup" -> { m =>
        // replicas are direction-salted (per-replica elementwise factors,
        // amplitude 0.07 → cross-replica cosine ≲ 0.95) so only each
        // replica's PLANTED twins pass the 0.99 gate and the verified
        // pair count stays linear — a naive copy would make every vector
        // an m-way exact dup and square the pair space. The salt period
        // must EXCEED the replica count: with `% p`, replicas r and r+p
        // get identical per-component factors (same direction, cosine
        // exactly 1.0) and every cross-replica vector pair passes the
        // gate — the 20× probe measured exactly that artifact at the old
        // period 11 (ratio 24 from nine aligned replica pairs), not an
        // operator defect
        require(m <= 23, s"semantic_dedup direction salt has period 23, got $m replicas")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val base = emb0.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              graft.ops.ProbeSalts.directionFactor(rep, i)).cast("float")))
          .localCheckpoint(false)
        val planted = base.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + lit(1000000L)).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(1000.0)))
                .cast("float")).as("embedding"))
        val corpus = base.unionByName(planted)
        // the SHARED stage builder (count → auto depth → planes → pairs →
        // components) — the probe measures the shipped query's plan,
        // including the corpus-sized depth that is the saturation lever
        noop(graft.queries.DatasetQueries.semanticComponents(corpus))
      },
      "corpus_overlap" -> { m =>
        // corpus_overlap via the SHARED stage builder — 20 sources, m× the
        // distinct shingles per source: times the bottom-k window sketch
        // and the exact intersect join at set sizes the sketch exists to
        // avoid
        noop(graft.queries.DatasetQueries.corpusOverlapPairs(
          docs(m).select(col("source"), col("text"))))
      },
      "dedup_corpus" -> { m =>
        // the composed exact → minhash-LSH → components → verdict chain:
        // the registered pipeline_dedup_corpus body over the one near-dup
        // builder (Dedup.nearDupClusters), so the probe measures exactly
        // the shipped plan
        noop(graft.queries.PipelineQueries.dedupCorpusVerdicts(docs(m)))
      },
      "incremental_dedup" -> { m =>
        // the dedup_incremental shape via the SHARED stage builder: a
        // batch (every 5th doc) against the corpus band index — salted
        // replicas keep batch fraction and bucket occupancy constant
        // (replica id offset is divisible by 5)
        noop(graft.queries.TextQueries.incrementalVerdicts(
          graft.ops.Parallelism.ensure(docs(m))))
      },
      "star_hub" -> { m =>
        // one massive hub (degree n/2 — the near-dup graph of a
        // template-heavy crawl) plus length-100 chains: large-star is
        // designed to contract exactly this neighborhood; the probe
        // watches for a skewed-reducer blowup as the hub degree scales
        val n = 20000L * m
        val nodes = spark.range(n).select(col("id"))
        val spokes = spark.range(1L, n / 2).select(col("id").as("src"), lit(0L).as("dst"))
        val chains = spark.range(n / 2, n).filter(col("id") % 100 =!= 0)
          .select(col("id").as("src"), (col("id") - 1).as("dst"))
        noop(Components.connectedComponents(nodes, spokes.unionByName(chains),
          algorithm = Components.StarContraction))
      },
      "dsir_selection" -> { m =>
        // the dsir_weights shape via the SAME stage builders the shipped
        // query uses (SelectionQueries) — the probe can't drift from the
        // query: explode → two bucket aggs (bounded 64-row collect) →
        // narrow left-fold scoring pass. Salted replicas rotate words
        // across buckets; token volume scales with m
        import graft.queries.SelectionQueries
        val d = graft.ops.Parallelism.ensure(docs(m)).select(col("doc_id"), col("text"))
          .withColumn("toks", graft.functions.TextFunctions.tokens(col("text")))
          .withColumn("is_target", SelectionQueries.dsirIsTarget(col("toks")))
          .localCheckpoint(false)
        val ratios = SelectionQueries.dsirRatioTable(d)
        noop(d.select(col("doc_id"),
          SelectionQueries.dsirWeightCol(col("toks"), ratios).as("weight")))
      },
      "pagerank" -> { m =>
        // the link_pagerank shape via the SHARED chain builder: 3 integer
        // power iterations over a graph whose node/edge count scales with
        // m (structure constant: out-degree ~2-3 plus the planted hub).
        // Watches the per-iteration dst-sum shuffle AND the hub reducer
        // (in-degree ~n) for skew blowup as the graph scales.
        val n = 500000L * m
        noop(graft.queries.MiscQueries.pagerankRanked(
          spark.range(n).select(col("id").as("doc_id"))))
      },
      "asof_join" -> { m =>
        // the join_asof union+window shape: n keys × ~10 rows/side per
        // key — per-key window partitions stay CONSTANT size while key
        // count scales with m (the state-bounded design claim). Watches
        // for any corpus-sized window partition sneaking in.
        val n = 50000L * m
        val left = spark.range(n).select((col("id") % (n / 10)).as("k"),
          (col("id") * 7 % 1000).as("lt"), col("id").as("lid"))
        val right = spark.range(n).select((col("id") % (n / 10)).as("k"),
          (col("id") * 3 % 1000).as("rt"), col("id").as("rid"))
        noop(graft.operators.AsOfJoin.asof(left, right, "k", "lt", "rt", "lid", "rid"))
      },
      "range_join" -> { m =>
        // the join_range binned equi-join: interval fan-out ∝ span/bin
        // (constant ~4 bins/interval here), each (point, interval) pair
        // meets in exactly one bin. Linear in points + intervals; the
        // probe watches for a BroadcastNestedLoopJoin cliff if the bin
        // pre-join ever stops pruning.
        val n = 100000L * m
        val points = spark.range(n).select((col("id") % 100000 * 0.01).as("v"))
        val ivals = spark.range(n / 10).select(
          (col("id") % 10000 * 0.1).as("lo"),
          (col("id") % 10000 * 0.1 + 0.35).as("hi"), col("id").as("ival_id"))
        noop(graft.operators.RangeJoin.pointInInterval(points, ivals, binWidth = 0.1))
      },
      "sft_funnel" -> { m =>
        // the pipeline_sft composed chain via the SHARED stage builder:
        // narrow gate → bag-of-words hash-agg dedup → turn explode →
        // snake-shard distributed sort. Salted replicas keep the dup
        // groups per-replica (linear), matching a real sharded corpus.
        noop(graft.queries.AlignmentQueries.sftFunnel(
          graft.ops.Parallelism.ensure(docs(m))))
      },
      "global_rank" -> { m =>
        // the epoch_shuffle / shard_assign rank machinery: range-
        // partitioned distributed sort + zipWithIndex over 2 epochs ×
        // corpus. Watches that global ranking stays a distributed sort
        // (n log n with bounded per-task memory), never a single-task
        // window funnel.
        val d = docs(m).select(col("doc_id"))
          .withColumn("epoch", explode(sequence(lit(0L), lit(1L))))
          .withColumn("h", md5(concat(lit("graft-epoch:"), col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string"))))
        noop(graft.operators.Sharding.globalRank(d,
          Seq(col("epoch").asc, col("h").asc, col("doc_id").asc)))
      },
      "decon_semantic" -> { m =>
        // decontaminate_semantic via the SHARED stage builder: direction-
        // salted replicas (the semantic_dedup discipline) keep cross-
        // replica cosines below the 0.99 gate, so flagged counts stay
        // linear while the auto-depth cross-pairs join absorbs the
        // bucket-occupancy growth. Test fraction (vec_id % 7) is scale-
        // invariant; the broadcast side grows with m — the probe watches
        // the linear-in-train claim.
        require(m <= 23, s"direction salt has period 23, got $m replicas")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val base = emb0.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              graft.ops.ProbeSalts.directionFactor(rep, i)).cast("float")))
          .localCheckpoint(false)
        noop(graft.queries.DatasetQueries.decontaminationVerdicts(base))
      },
      "dup_ngrams" -> { m =>
        // dup_ngram_fraction via the SHARED stage builder: salted replicas
        // are 8-gram-disjoint, so document frequencies and dup fractions
        // are per-replica constants — occurrence volume scales with m,
        // verdicts stay identical per replica
        noop(graft.queries.TextQueries.dupNgramVerdicts(
          graft.ops.Parallelism.ensure(docs(m)).select(col("doc_id"), col("text"))))
      },
      "lsh_calib" -> { m =>
        // lsh_calibration via the SHARED stage builder: one signature
        // build + three band joins; salted replicas keep per-config
        // candidate densities linear
        noop(graft.queries.TextQueries.lshCalibrationReport(
          graft.ops.Parallelism.ensure(docs(m)).select(col("doc_id"), col("text"))))
      },
      "mm_funnel" -> { m =>
        // pipeline_multimodal via the SHARED stage builder: pair join +
        // CLIP gate (narrow) → survivor hash-agg dedup → kept-set snake
        // sort. Embeddings replicate unsalted (the gate keys on doc_id
        // parity and lang — scale-invariant fractions); captions salt so
        // dedup groups stay per-replica.
        val emb = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
          .select(col("vec_id").as("doc_id"), col("embedding"))
        val caps = docs(m).select(col("doc_id"), col("lang"), col("text"))
        noop(graft.queries.ExtensionQueries.multimodalFunnel(caps.join(emb, "doc_id")))
      },
      "interval_overlap" -> { m =>
        // join_interval_overlap via the SHARED stage builder. Per-replica
        // TIME SHIFT keeps per-bin interval density constant (the natural
        // scale-up: longer history, same traffic) — an unshifted copy
        // would square the pair count. Every 1000th interval stretches
        // 100× to probe the long-interval bin fan-out (hub bins) the
        // claim-ownership rule and AQE skew handling must absorb.
        // Tables.table normalizes ts to a nanosecond-epoch long (the raw
        // parquet type has changed across testdata generations)
        val ev0 = replicate(graft.queries.Tables.table(spark, dir, "events")
          .select(col("event_id"), expr("ts div 1000000000").as("t"), col("value")),
          m, "event_id", saltText = false)
        val rep = (col("event_id") / 100000000L).cast("long")
        val ev = ev0.withColumn("t", col("t") + rep * 10000000L)
          .withColumn("value",
            when(col("event_id") % 1000 === 0, col("value") * 100).otherwise(col("value")))
        noop(graft.queries.RelationalQueries.intervalOverlapRollup(ev))
      },
      "source_matrix" -> { m =>
        // source_dedup_matrix via the SHARED stage builder: salted
        // replicas are content-hash-disjoint, so per-source group counts
        // scale linearly and the per-group #sources² self-join fan-out
        // stays constant — the probe watches the content-hash shuffle.
        noop(graft.queries.DatasetQueries.sourceMatrixFrom(
          graft.ops.Parallelism.ensure(docs(m)).select(col("source"), col("text"))))
      },
      "hits" -> { m =>
        // hits_scores via the SHARED round builder: node/edge count scales
        // with m, structure constant (out-degree 2-3 + the planted hub
        // whose IN-degree is n — the probe watches the per-iteration sum
        // shuffles for a hub-reducer blowup; integer micro-unit sums let
        // map-side combine absorb the hub key).
        val n = 200000L * m
        noop(graft.queries.MiscQueries.hitsScored(
          spark.range(n).select(col("id").as("doc_id"))))
      },
      "containment" -> { m =>
        // dedup_containment via the SHARED stage builder: salted replicas
        // are shingle-disjoint, so per-shingle document frequencies are
        // per-replica constants and the rare-shingle index join's pair
        // volume stays linear in m (the df <= 50 prune is the registered
        // fan-out bound the probe exercises).
        noop(graft.queries.TextQueries.containmentPairs(
          graft.ops.Parallelism.ensure(docs(m)).select(col("doc_id"), col("text"))))
      },
      "bpe_train" -> { m =>
        // canonical BPE training (operators/Bpe): per-round work is
        // bounded by the DISTINCT vocabulary; salted replicas rotate the
        // alphabet so vocab size scales ~m (each replica contributes its
        // own word forms) while per-word windows stay word-length
        // bounded. 4 rounds, constant across scales.
        val vocab = graft.ops.Parallelism.ensure(docs(m))
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wc"))
        val (_, encoded) = graft.operators.Bpe.train(vocab, 4)
        noop(encoded.groupBy("w").agg(count(lit(1)).as("n_sym")))
      },
      "wordpiece_train" -> { m =>
        // WordPiece training: bpe_train's loop plus a singles agg and a
        // pair-singles join per round — still DISTINCT-vocab-bounded
        val vocab = graft.ops.Parallelism.ensure(docs(m))
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$"))
          .groupBy("w").agg(count(lit(1)).as("wc"))
        val (_, encoded) = graft.operators.Bpe.trainWordPiece(vocab, 4)
        noop(encoded.groupBy("w").agg(count(lit(1)).as("n_sym")))
      },
      "unigram_train" -> { m =>
        // unigram-LM (SentencePiece-style) hard-EM training
        // (operators/Unigram, registered config): after the one
        // corpus-sized word-count agg the DP is DISTINCT-vocab-bounded
        // (per-(word, position) states, seed-bounded broadcast pieces);
        // salted replicas rotate the alphabet so vocab size scales ~m
        // while per-word windows stay word-length-bounded.
        val vocab = graft.ops.Parallelism.ensure(docs(m))
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$") &&
            length(col("w")) <= graft.operators.Unigram.MaxWordLen)
          .groupBy("w").agg(count(lit(1)).as("wc"))
        val (cntF, _) = graft.operators.Unigram.train(vocab)
        noop(cntF)
      },
      "unigram_train_em" -> { m =>
        // the full-EM (forward/backward) variant: same vocab bound, two
        // DP directions + the vocab-bounded span join per round
        val vocab = graft.ops.Parallelism.ensure(docs(m))
          .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
          .filter(col("w").rlike("^[a-z0-9]+$") &&
            length(col("w")) <= graft.operators.Unigram.MaxWordLen)
          .groupBy("w").agg(count(lit(1)).as("wc"))
        noop(graft.operators.Unigram.trainEm(vocab))
      },
      "bt_rating" -> { m =>
        // Bradley-Terry fit via the SHARED chain: replicas shift user_id
        // into disjoint bands, so per-user windows stay the same length
        // and match volume scales linearly; the #event_type player set —
        // and with it the MM-loop cost — is constant across scales (the
        // structural claim: 100 TB of events enters only through the one
        // match aggregation)
        val ev0 = replicate(graft.queries.Tables.table(spark, dir, "events")
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value")), m, "event_id", saltText = false)
        val rep = (col("event_id") / 100000000L).cast("long")
        noop(graft.queries.AlignmentQueries.btRatings(
          ev0.withColumn("user_id", col("user_id") + rep * 100000000L)))
      },
      "knn_graph" -> { m =>
        // mutual-kNN graph via the SHARED chain. Replica salt here must be
        // a PER-REPLICA COORDINATE PERMUTATION, not the 0.07 direction
        // salt: permutation is orthogonal (within-replica geometry is
        // bit-preserved) while cross-replica cosine collapses to ~0 — the
        // amplitude salt leaves cross-replica cosine ≈ 0.95, which still
        // agrees per hyperplane with p ≈ 0.9, so at depth 10 every
        // replica's clusters alias into the same buckets (p ≈ 0.35/table
        // × 96 tables) and candidate volume goes quadratic in replicas —
        // the first 20× run measured exactly that artifact (wall 260×),
        // an adversarial corpus of near-copies, not scale. Permutation
        // family + its 2048-replica period: [[permuteCoord]].
        require(m <= 2048, s"coordinate-permutation salt has period 2048, got $m")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val corpus = emb0.withColumn("embedding",
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"), graft.ops.ProbeSalts.coordPermutation(rep, i))))
        // DENSIFY replica ids (rep·nBase + orig) so the id domain stays
        // < 2³² at every tier and the probe measures the SHIPPED packed
        // proposal exchange: the r12 1e8-stride salt exceeded the pack
        // domain above 43 replicas, so the 50×/100× tiers silently ran a
        // corrupted pack (ADVICE r12); with the pack-domain guard they
        // would now fall back unpacked — either way not the shipped
        // config. Bijective per replica (orig < 1e8 by construction, and
        // orig < nBase ≤ 1e8 for the parquet ids), so the graph is the
        // same up to id relabeling.
        val nBase = spark.read.parquet(s"$dir/embeddings.parquet")
          .agg(max(col("vec_id"))).head().getLong(0) + 1L // bounded: 1-row agg
        val dense = corpus.withColumn("vec_id",
          (col("vec_id") / 100000000L).cast("long") * nBase +
            col("vec_id") % 100000000L)
        noop(graft.queries.SimilarityQueries.knnGraphEdges(dense))
      },
      "recall_tiers" -> { m =>
        // Recall-at-scale (r13 verdict task 1): the registered retrieval
        // tiers at EXACTLY the ann_recall_tiers configurations (SHARED
        // builder SimilarityQueries.recallProbeTiers — the probe cannot
        // drift from the certified machinery) scored against exact
        // brute-force truth on a BOUNDED fixed query sample while the
        // corpus scales m×. Throughput tiers answer "does it stay fast";
        // this family answers the other 100 TB ANN question: does RECALL
        // survive the occupancy/probe-ratio shift of a bigger corpus.
        // Corpus salt = knn_graph's coordinate permutation (within-
        // replica geometry bit-preserved, cross-replica cosine ~0) with
        // densified ids. Prints RECALL lines; this family's timing
        // columns time the whole recall computation, not a shipped query.
        require(m <= 2048, s"coordinate-permutation salt has period 2048, got $m")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val corpus = emb0.withColumn("embedding",
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"), graft.ops.ProbeSalts.coordPermutation(rep, i))))
        val nBase = spark.read.parquet(s"$dir/embeddings.parquet")
          .agg(max(col("vec_id"))).head().getLong(0) + 1L // bounded: 1-row agg
        val emb = corpus.withColumn("vec_id",
          (col("vec_id") / 100000000L).cast("long") * nBase +
            col("vec_id") % 100000000L)
          .localCheckpoint(false)
        val k = graft.queries.SimilarityQueries.recallProbeK
        // fixed bounded query sample: every 50th ORIGINAL id from the
        // first (up to) 10 replicas — ≤ ~400 queries at every scale, so
        // the exact brute-force truth stays a bounded slice (400 × n
        // cosines) while the CORPUS side grows m×
        val qReps = math.min(m, 10).toLong
        val q = emb.filter((col("vec_id") % nBase) % 50 === 0 &&
            col("vec_id") < lit(nBase * qReps))
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
          .localCheckpoint(false)
        val nQ = q.count()
        val nCorpus = graft.operators.Similarity.corpusCount(emb)
        val truth = graft.operators.Similarity.bruteForceTopK(emb, q, k)
          .select(col("qid"), col("vec_id")).localCheckpoint(false)
        for ((tier, topk, scan) <- graft.queries.SimilarityQueries.recallProbeTiers(emb, q)) {
          val r = topk.select(col("qid"), col("vec_id"))
            .join(truth, Seq("qid", "vec_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .crossJoin(broadcast(truth.agg(count(lit(1)).as("total"))))
            .select(col("hits"), col("total"),
              expr("hits * 1000000 div total").as("recall_ppm"))
            .head() // bounded: 1-row recall agg
          // measured scan evidence (r14 verdict task 1): total first-stage
          // candidate rows over the query sample — divide by nQ (not by
          // present rows: a query with zero candidates counts as zero)
          val scanCols = scan.map { s =>
            val tot = s.agg(coalesce(sum(col("cand_rows")), lit(0L)))
              .head().getLong(0) // bounded: 1-row scan agg
            val perQ = if (nQ > 0) tot / nQ else 0L
            val ppm = if (nQ > 0 && nCorpus > 0) tot * 1000000L / nQ / nCorpus else 0L
            s" cand_per_q=$perQ scan_ppm=$ppm"
          }.getOrElse("")
          println(s"RECALL m=$m tier=$tier k=$k queries=$nQ hits=${r.getLong(0)} " +
            s"total=${r.getLong(1)} recall_ppm=${r.getLong(2)}$scanCols")
        }
      },
      "coreset_kcenter" -> { m =>
        // greedy k-center via the SHARED chain: k bounded rounds of one
        // narrow broadcast pass + a TakeOrdered top-1 — cost is k·O(n)
        // by construction; same direction salt as knn_graph
        require(m <= 23, s"coreset salt has period 23, got $m")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val corpus = emb0.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            (x.cast("double") *
              graft.ops.ProbeSalts.directionFactor(rep, i)).cast("float")))
        noop(graft.queries.SimilarityQueries.coresetCenters(corpus))
      },
      "semdedup" -> { m =>
        // SemDeDup via the SHARED chain: count-derived routing depth
        // (8·L cosines per vector, occupancy-bounded cell self-join) —
        // work is n·log(cells) + n·occupancy by construction. Replica
        // salt is the knn_graph COORDINATE PERMUTATION (bijective per
        // replica, within-replica geometry bit-preserved, cross-replica
        // cosine ~0): the amplitude salt leaves cross-replica cosine
        // high enough that replicas of one source co-locate in the same
        // routing cells, growing occupancy ∝ replicas — an adversarial
        // near-copy corpus, not scale. The query's own %10 planted twins
        // still fire the prune per replica.
        require(m <= 2048, s"coordinate-permutation salt has period 2048, got $m")
        val emb0 = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val rep = (col("vec_id") / 100000000L).cast("int")
        val base = emb0.withColumn("embedding",
          transform(col("embedding"), (_, i) =>
            element_at(col("embedding"), graft.ops.ProbeSalts.coordPermutation(rep, i))))
          .localCheckpoint(false)
        // Twin offset derived from the per-replica max id (mirrors the
        // registered query's max(vec_id)+1) — a fixed 1e6 offset would
        // silently collide with genuine ids once a base dataset carries
        // ≥ 1e6 embeddings per replica band.
        val bandWidth = 100000000L
        val maxInBand = base.agg(max(col("vec_id") % bandWidth)).head().getLong(0) // bounded: 1-row agg
        require(2 * maxInBand + 1 < bandWidth,
          s"planted-twin offset ${maxInBand + 1} would cross the replica band")
        val planted = base.filter(col("vec_id") % 10 === 0)
          .select((col("vec_id") + lit(maxInBand + 1)).as("vec_id"),
            transform(col("embedding"), (x, i) =>
              (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(1000.0)))
                .cast("float")).as("embedding"))
        noop(graft.queries.DatasetQueries.semdedupVerdicts(base.unionByName(planted)))
      },
      "dispatch_floor" -> { m =>
        // per-task dispatch floor (r12 verdict task 6): a data-free
        // narrow map across 32·m one-row tasks. (wall(m)−wall(1)) /
        // (32·(m−1)) is the scheduler+launch+result cost a tiny-stage
        // query pays PER TASK on the chosen topology — the direct price
        // of the cluster sweep's 1.6-3.7× narrow-map readings (all
        // sub-1.5 s absolute). No shuffle, no scan: the job is pure
        // dispatch.
        noop(spark.range(0L, 32L * m, 1L, 32 * m)
          .select((col("id") * 2 + 1).as("x")))
      },
      "cluster_assign" -> { m =>
        // nearest-centroid assignment (the shipped argmax entries): one
        // narrow pass + size rollup, time ∝ corpus × centroids
        import graft.queries.SelectionQueries
        val emb = replicate(spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")), m, "vec_id", saltText = false)
        val assigned = emb.select(col("vec_id"),
            array_max(array(SelectionQueries.clusterArgmaxEntries(col("embedding")): _*))
              .as("best"))
          .select(col("vec_id"), (-col("best.nc")).cast("long").as("cluster"))
        noop(assigned.join(assigned.groupBy("cluster")
          .agg(count(lit(1)).as("n_members")), "cluster"))
      })

    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    only.foreach { names =>
      val unknown = names -- families.map(_._1).toSet
      require(unknown.isEmpty,
        s"unknown families: ${unknown.mkString(",")} (have: ${families.map(_._1).mkString(",")})")
    }
    // Wall-clock on a shared host absorbs noisy-neighbor contention (one
    // family was measured 6× apart across identical runs); JVM process
    // CPU time is steadier, so print BOTH ratios and trust cpu when they
    // disagree.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuTime(f: => Unit): (Double, Double, Double, Long, Double) = {
      // Quiesce the async listener bus at BOTH endpoints of the delta:
      // task-end stragglers from the preceding warmup/family would
      // otherwise land after k0 is read and inflate the measured task CPU.
      Thread.sleep(1500)
      val c0 = osBean.getProcessCpuTime; val k0 = taskCpuNs.get
      val r0 = shufRecs.get; val b0 = shufBytes.get
      val t0 = System.nanoTime()
      f
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // drain async listener events before reading task CPU
      (wall, (osBean.getProcessCpuTime - c0) / 1e9, (taskCpuNs.get - k0) / 1e9,
        shufRecs.get - r0, (shufBytes.get - b0) / 1e6)
    }
    println(f"${"family"}%-14s ${"t_1x"}%8s ${"t_" + mult + "x"}%8s ${"ratio"}%7s ${"cpu_1x"}%8s ${"cpu_" + mult + "x"}%9s ${"cpuRatio"}%8s ${"tcpu_1x"}%8s ${"tcpu_" + mult + "x"}%9s ${"tcpuRatio"}%9s ${"srecM_" + mult + "x"}%10s ${"sMB_" + mult + "x"}%10s")
    families.filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, run) =>
      run(1) // warm codegen/JIT on the small size before timing
      val (t1, c1, k1, _, _) = cpuTime(run(1))
      val (tM, cM, kM, rM, bM) = cpuTime(run(mult))
      println(f"$name%-14s $t1%8.2f ${tM}%8.2f ${tM / t1}%7.2f $c1%8.1f $cM%9.1f ${cM / c1}%8.2f $k1%8.1f $kM%9.1f ${kM / k1}%9.2f ${rM / 1e6}%10.1f $bM%10.0f")
    }
    spark.stop()
  }
}
