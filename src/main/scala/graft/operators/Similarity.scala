package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Embedding similarity search: exact brute-force cosine top-k (broadcast
  * the query set against a distributed candidate scan) and an LSH-bucketed
  * approximate variant (random-hyperplane signs → bucket equi-join).
  *
  * Scale design: brute-force is a broadcast-nested-loop over the candidate
  * scan — linear in corpus size, no shuffle of the big side, and the top-k
  * is a bounded-heap aggregate per query id. The LSH path turns the
  * all-pairs problem into an equi-join on bucket id: one shuffle keyed by
  * bucket, candidate work proportional to bucket occupancy. Stand-in for
  * the reference's AdaFace embedding similarity
  * (common/transform/similarity_op.py:7-24).
  */
object Similarity {

  /** Left-fold dot product in double precision — association is the
    * documented left-to-right fold so any engine replays it bit-exactly. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Cosine similarity, 0.0 when either norm is 0 (reference's missing-
    * input default, common/transform/similarity_op.py:16-21): the native
    * codegen expression [[graft.plans.CosineSimilarity]], whose left-fold
    * math is bit-identical to [[cosineHof]]. */
  def cosine(a: Column, b: Column): Column =
    ColumnBridge.column(graft.plans.CosineSimilarity(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Declarative HOF cosine (the documented-fold reference form). */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val na = l2Norm(a)
    val nb = l2Norm(b)
    when(na > 0 && nb > 0, d / (na * nb)).otherwise(lit(0.0))
  }

  /** Top-k `(qid, rank, id, sim)` rows from scored pairs, ties broken by
    * id asc: the [[graft.plans.TopKAgg]] bounded-heap aggregate — a
    * sort-free O(n log k) single pass whose map-side partial ships one
    * k-entry buffer per query per partition and needs no Window node (the
    * window form, even with Spark's InferWindowGroupLimit pruning, fully
    * sorts every scored row locally before the limit). */
  def rankTopK(paired: DataFrame, k: Int,
               qidCol: String = "qid", idCol: String = "vec_id"): DataFrame =
    paired.groupBy(qidCol)
      .agg(ColumnBridge.column(graft.plans.TopKAgg(
        ColumnBridge.expression(col("sim")), ColumnBridge.expression(col(idCol)),
        ColumnBridge.expression(lit(k))).toAggregateExpression()).as("topk"))
      .select(col(qidCol), posexplode(col("topk")).as(Seq("pos", "entry")))
      .select(col(qidCol), (col("pos") + 1).cast("long").as("rank"),
        col("entry.id").as(idCol), col("entry.score").as("sim"))

  /** Exact top-k neighbors for each query vector (excluding self):
    * broadcast queries × candidate scan → cosine → bounded-heap rank. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val paired = candidates.join(broadcast(queries), col(idCol) =!= col(qidCol))
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(paired, k, qidCol, idCol)
  }

  /** Matryoshka (MRL) coarse-to-fine retrieval (Kusupati et al.,
    * "Matryoshka Representation Learning", NeurIPS'22): score every
    * candidate on the first `prefixDim` dimensions only (an MRL-trained
    * embedding front-loads information, so the prefix is itself a valid
    * lower-capacity embedding), keep a `shortlist` per query, then re-rank
    * the shortlist with full-dimension exact cosine. The coarse pass does
    * `prefixDim/dim` of the flop work and — in a columnar store with the
    * prefix materialized separately — reads that fraction of the bytes;
    * the expensive full vectors are fetched for `shortlist` rows per
    * query only. Complements IVF/PQ/LSH: those prune CANDIDATES, this
    * prunes DIMENSIONS, and they compose (coarse-probe an IVF list with
    * prefixes, re-rank survivors at full width).
    *
    * Both stages are the documented left-fold cosine with (sim desc, id
    * asc) ties, so an external engine replays the full funnel — shortlist
    * membership included — bit-for-bit. */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     prefixDim: Int, shortlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(prefixDim >= 1 && shortlist >= k,
      s"need prefixDim >= 1 and shortlist ($shortlist) >= k ($k)")
    val pref = corpus.select(col(idCol), slice(col(vecCol), 1, prefixDim).as("pvec"))
    val qpref = queries.select(col("qid"), slice(col("qvec"), 1, prefixDim).as("qpvec"))
    val coarse = pref.join(broadcast(qpref), col(idCol) =!= col("qid"))
      .withColumn("sim", cosine(col("pvec"), col("qpvec")))
    val short = rankTopK(coarse, shortlist, "qid", idCol)
      .select(col("qid"), col(idCol))
    val rer = short
      .join(corpus.select(col(idCol), col(vecCol)), idCol)
      .join(broadcast(queries), "qid")
      .withColumn("sim", cosine(col(vecCol), col("qvec")))
    rankTopK(rer, k, "qid", idCol)
  }

  /** Oracle-replayable hyperplanes: component (t,j,i) is the high 60 bits
    * of md5("salt:t:j:i") as a long — EXACT in SQL text, so an external
    * engine regenerates the planes bit-for-bit and replays the buckets.
    * [[md5Planes]] maps h → u = h/2^60·2−1 ∈ [−1,1): long→double
    * conversion and the division by a power of two are IEEE-identical in
    * any engine. Uniform symmetric components are a valid sign-random-
    * projection family (the recall floor is certified empirically by
    * `ann_recall_tiers` either way). */
  def md5PlaneInts(nPlanes: Int, nTables: Int, dim: Int,
                   salt: String = "graft-lsh"): Array[Array[Array[Long]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nTables, nPlanes, dim) { (t, j, i) =>
      val hex = md.digest(s"$salt:$t:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
  }

  /** [[md5PlaneInts]] scaled to doubles (2^60 is a power of two — the
    * division is exact-rounding-identical everywhere). */
  def md5Planes(nPlanes: Int, nTables: Int, dim: Int,
                salt: String = "graft-lsh"): Array[Array[Array[Double]]] =
    md5PlaneInts(nPlanes, nTables, dim, salt).map(_.map(_.map(h =>
      h.toDouble / (1L << 60).toDouble * 2.0 - 1.0)))

  /** LSH hyperplane count sized for a target mean bucket occupancy —
    * the 100 TB depth lever the 20× scale probe quantifies: with a FIXED
    * plane count, occupancy grows with the corpus and bucket-join
    * candidate work approaches n²/2^planes; each extra plane halves
    * occupancy, so planes must grow with log₂(n). From a KNOWN exact
    * count n: planes = the smallest p in [minPlanes, maxPlanes] with
    * targetOccupancy·2^p ≥ n. Pure integer doubling, no libm — an
    * external engine reproduces the chosen depth from the same COUNT(*)
    * with no last-ulp ambiguity (ceil(log2(x)) in floats can differ
    * across engines exactly at the power-of-two boundaries this rule
    * lands on). Costs one count pass at query build ([[corpusCount]]
    * memoizes it per session). */
  def autoPlanesExact(n: Long, targetOccupancy: Long = 64L,
                      minPlanes: Int = 8, maxPlanes: Int = 24): Int = {
    require(n >= 0 && targetOccupancy > 0 && minPlanes >= 1 &&
      maxPlanes >= minPlanes && maxPlanes <= 40)
    var p = minPlanes
    while (p < maxPlanes && (targetOccupancy << p) < n) p += 1
    p
  }

  /** Session-memoized exact corpus count for the auto-depth call sites:
    * a composed pipeline invoking several [[autoPlanesExact]]-sized
    * stages over the SAME frame (same canonicalized analyzed plan, same
    * session) pays ONE count job instead of one per stage. Keyed by the
    * canonicalized plan, so replicated/filtered variants still count
    * separately (their n genuinely differs). INVARIANT: inputs are
    * immutable within a session — a path whose files change after the
    * first count would serve a stale n; call `countMemo.clear()` after
    * external writes (the registered queries never count a frame they
    * also rewrite). Bounded: one long per distinct counted frame. */
  private[graft] val countMemo = new graft.ops.SessionMemo[
    org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long]

  def corpusCount(df: DataFrame): Long =
    countMemo(df.sparkSession, df.queryExecution.analyzed.canonicalized)(df.count())

  /** Multi-table hyperplane bucketing: each row explodes into `nTables`
    * (table_idx, bucket) keys, one independent plane set per table —
    * classic (L tables × k bits) LSH. A neighbor is a candidate if ANY
    * table agrees on all k sign bits, which recovers the recall a single
    * table loses when one hyperplane slices through a cluster. One fused
    * native expression ([[graft.plans.HyperplaneBuckets]]). */
  private def tableBuckets(vec: Column, planeMatrix: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(
      graft.plans.HyperplaneBuckets(ColumnBridge.expression(vec), planeMatrix))

  /** Approximate top-k: candidates restricted to rows sharing any LSH
    * table bucket with the query, then exact cosine rank over the
    * deduplicated candidate set. One shuffle keyed by (table, bucket);
    * candidate work scales with bucket occupancy, not corpus². Pass
    * [[md5Planes]] at the corpus dimension for a fully oracle-replayable
    * bucket function; the native kernel rejects vectors of another
    * length instead of silently truncating the bucket signal. */
  def lshTopKPlanes(candidates: DataFrame, queries: DataFrame, k: Int,
                    planeMatrix: Array[Array[Array[Double]]],
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    // ship-arrays-late (the lshNearDupPairs lesson): the bucket join and
    // the cross-table pair dedup move BARE IDS only; the two float
    // vectors attach AFTER dedup, so each surviving pair ships them
    // exactly once. With queries ≈ the corpus itself (knn_graph) the old
    // vectors-through-dedup shape moved ~2 orders of magnitude more
    // shuffle bytes. No broadcast hints: AQE picks broadcast when the
    // query side is genuinely small (the ann_*_topk probes) and falls
    // back to a shuffle join when it is the corpus.
    // candidate generation is THE shared builder (lshCandidatePairsPlanes)
    // — the scan-fraction probe counts the same frame this ranks, so the
    // measured candidate mass can never drift from the shipped join
    val candidatePairs =
      lshCandidatePairsPlanes(candidates, queries, planeMatrix,
        idCol, vecCol, qidCol, qvecCol)
    val paired = candidatePairs
      .join(candidates.select(col(idCol), col(vecCol)), idCol)
      .join(queries.select(col(qidCol), col(qvecCol)), qidCol)
      .withColumn("sim", cosine(col(vecCol), col(qvecCol)))
    rankTopK(paired, k, qidCol, idCol)
  }

  /** 63-bit sign-pattern code (dims 1..63 — 63 keeps every partial sum
    * below 2^63 so the bit-build folds identically in engines with
    * checked int64 overflow): the compact-code representation the
    * Hamming prefilter stages score against. 8 bytes per vector vs 512
    * for the 64-dim double array — the shuffle-payload ratio that makes
    * corpus-sized candidate scoring memory-hierarchy-friendly. */
  def signCode63(vec: Column): Column =
    aggregate(
      transform(sequence(lit(1), lit(63)), i =>
        when(element_at(vec, i) >= 0,
          call_function("shiftleft", lit(1L), i - 1)).otherwise(lit(0L))),
      lit(0L), (a, b) => a + b)

  /** Hamming similarity of two sign codes (affine flip of popcount so
    * higher = more similar, matching cosine's direction). */
  def hammingSim(codeA: Column, codeB: Column): Column =
    lit(64.0) - call_function("bit_count", codeA.bitwiseXOR(codeB)).cast("double")

  /** Multi-word sign-projection code: `planeMatrix` tables each pack
    * their plane-sign bits into one long (the [[tableBuckets]] kernel),
    * so 4 tables x 63 planes = a 252-bit code in 32 bytes. More bits
    * than [[signCode63]] is what a NEAR-ORTHOGONAL corpus needs: for
    * neighbor cosine s the per-bit agreement is 1 - acos(s)/pi (only
    * ~0.61 at s = 0.35 vs 0.5 random), so ranking SNR grows as sqrt(bits)
    * - 63 coordinate signs separate true neighbors by ~1.8 sigma (recall
    * 0.79 measured), 252 projection bits by ~3.6 sigma (floor holds). */
  def projectionCodes(vec: Column, planeMatrix: Array[Array[Array[Double]]]): Column =
    tableBuckets(vec, planeMatrix)

  /** Hamming similarity over multi-word codes — element_at + xor +
    * popcount per word, all codegen-friendly scalar expressions (a
    * zip_with/aggregate HOF form evaluates interpreted, the measured
    * ~40x-per-pair trap SCALE.md documents). */
  def hammingSimWords(a: Column, b: Column, words: Int, bitsPerWord: Int): Column =
    lit((words * bitsPerWord).toDouble) - (0 until words).map(t =>
      call_function("bit_count",
        element_at(a, t + 1).bitwiseXOR(element_at(b, t + 1))).cast("double"))
      .reduce(_ + _)

  /** Compact-code candidate scoring — the two-stage kernel behind every
    * corpus-sized candidate set (ann_binary_topk's shape, factored for
    * reuse): rank BARE-ID candidate pairs by sign-code Hamming
    * similarity (ties by id — one xor+popcount per pair, 8-byte codes
    * through the join instead of 512-byte vectors), keep `shortlist`
    * per query, fetch float vectors for the survivors ONLY and
    * exact-cosine re-rank, folding in `preScored` rows (pairs whose
    * exact sim is already known — e.g. the previous NN-descent list,
    * which therefore never pays a second cosine) before the final
    * top-k. Both stages replay in SQL (codes, xor, popcount, both
    * ranks, the documented-fold cosine). */
  def hammingShortlistTopK(candPairs: DataFrame, emb: DataFrame, codes: DataFrame,
                           k: Int, shortlist: Int,
                           preScored: Option[DataFrame] = None,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           codeSim: (Column, Column) => Column = hammingSim): DataFrame = {
    val ham = candPairs
      .join(codes.select(col(idCol), col("code")), idCol)
      .join(codes.select(col(idCol).as("qid"), col("code").as("qcode")), "qid")
      .select(col("qid"), col(idCol), codeSim(col("code"), col("qcode")).as("sim"))
    val short = rankTopK(ham, shortlist, "qid", idCol).select(col("qid"), col(idCol))
    val exact = short
      .join(emb.select(col(idCol), col(vecCol)), idCol)
      .join(emb.select(col(idCol).as("qid"), col(vecCol).as("qvec")), "qid")
      .select(col("qid"), col(idCol), cosine(col(vecCol), col("qvec")).as("sim"))
    // duplicates across exact/preScored carry bit-identical sims (same
    // documented-fold cosine), so distinct() is a safe dedup
    val all = preScored.fold(exact)(p =>
      exact.unionByName(p.select(col("qid"), col(idCol), col("sim"))).distinct())
    rankTopK(all, k, "qid", idCol)
  }

  /** Bare-id LSH candidate pairs: rows sharing any (table, bucket) key,
    * deduplicated across tables — the candidate-generation half of
    * [[lshTopKPlanes]], exposed for callers that score candidates
    * through a compact-code prefilter instead of immediately attaching
    * float vectors. */
  def lshCandidatePairsPlanes(candidates: DataFrame, queries: DataFrame,
                              planeMatrix: Array[Array[Array[Double]]],
                              idCol: String = "vec_id", vecCol: String = "embedding",
                              qidCol: String = "qid", qvecCol: String = "qvec"): DataFrame = {
    val cb = candidates
      .select(col(idCol),
        posexplode(tableBuckets(col(vecCol), planeMatrix)).as(Seq("table_idx", "bucket")))
    val qb = queries
      .select(col(qidCol),
        posexplode(tableBuckets(col(qvecCol), planeMatrix)).as(Seq("table_idx", "bucket")))
    cb.join(qb, Seq("table_idx", "bucket"))
      .filter(col(idCol) =!= col(qidCol))
      .select(col(qidCol), col(idCol))
      .dropDuplicates(qidCol, idCol)
  }

  /** One NN-descent refinement round (Dong, Moses & Li, "Efficient
    * k-nearest neighbor graph construction for generic similarity
    * measures", WWW 2011): from a current top-k table, propose each
    * point's neighbors-of-neighbors over the UNDIRECTED adjacency
    * (forward edges plus reverse edges CAPPED at k per node by (rank,
    * id) — the reverse cap is what bounds a hub's fan-out: without it a
    * node appearing in d lists contributes d² proposals), score
    * proposals through the compact-code prefilter
    * ([[hammingShortlistTopK]]: Hamming shortlist of `shortlist` per
    * point, exact cosine for survivors only — the previous round's list
    * keeps its known sims and is never re-scored), and keep the best k
    * of old ∪ new. Per-round work is n·(2k)² PROPOSALS but only
    * n·shortlist COSINES and n·(2k)² 8-byte code rows through the
    * shuffle — the constant that kept the 20× probe's scored join from
    * fitting cache when proposals carried full vectors. The proposal
    * dedup exchange itself ships PACKED single-long (q, w) rows when the
    * id domain permits: the pack is bijective only for nonnegative ids
    * < 2³², so the domain is VERIFIED at build time — callers that know
    * their id range pass `idBound` (one driver-side min/max, computed
    * once per chain instead of per round); otherwise one cheap 1-row agg
    * over `topk` derives it. PRECONDITION when `idBound` is None: `topk`
    * must be checkpointed (or otherwise cheap to execute), because the
    * derivation agg EXECUTES `topk` eagerly at build time — an
    * uncheckpointed deep lineage re-runs in full, once per round in a
    * multi-round loop. Multi-round callers should derive
    * the bound once from the id SOURCE and thread it through every
    * round (the in-repo chain does: knnGraphEdges computes the corpus
    * id range one time and passes it to all rounds). Out-of-domain ids fall back to the unpacked
    * exchange with a loud stderr warning — rows are identical either
    * way, only the exchange width changes. (The r12 probe corpus salted
    * ids by replica·10⁸, exceeding 2³² above 43 replicas; the unguarded
    * pack silently merged distinct proposals there.) Recall strictly
    * never decreases (the old list is always in the candidate union).
    * Deterministic and SQL-replayable end to end.
    *
    * `chunks` > 1 bounds the round's LIVE working set for single-JVM
    * deployments: points are sliced by `qid % chunks` and each slice's
    * proposal generation + scoring materializes (localCheckpoint)
    * before the next slice starts, so peak memory is one slice's
    * proposals instead of all n·(2k)² at once — the measured ~1.6×
    * single-48g-JVM heap-pressure excess the two-executor probe proved
    * avoidable (SCALE.md), bought back without a second JVM. Exactness:
    * a point's ENTIRE adjacency lands in its slice (the slice filter
    * keys on the list owner), so per-qid candidates, pre-scored rows,
    * and both ranking windows are identical to the unchunked plan —
    * rows are bit-identical for every `chunks`. */
  def nnDescentRound(topk: DataFrame, emb: DataFrame, codes: DataFrame,
                     k: Int, shortlist: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     codeSim: (Column, Column) => Column = hammingSim,
                     chunks: Int = 1,
                     idBound: Option[(Long, Long)] = None): DataFrame = {
    require(chunks >= 1, s"chunks must be >= 1, got $chunks")
    // Every id entering the proposal exchange is a value of topk.qid or
    // topk.<idCol> (the adjacency is built from exactly those columns),
    // so the pack-domain check bounds those two columns.
    val (lo, hi) = idBound.getOrElse {
      val r = topk.agg(min(least(col("qid"), col(idCol))),
        max(greatest(col("qid"), col(idCol)))).head() // bounded: 1-row min/max agg over the (caller-checkpointed) topk
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    }
    val pack = lo >= 0L && hi <= 0xFFFFFFFFL
    if (!pack)
      System.err.println(s"[graft] nnDescentRound: id range [$lo, $hi] " +
        "exceeds the packable domain [0, 2^32); shipping the proposal " +
        "exchange UNPACKED (rows identical, exchange 24B/row vs 16B)")
    val fwd = topk.select(col("qid").as("a"), col(idCol).as("b"))
    val rev = topk
      .withColumn("rr", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("rank").asc, col("qid").asc)))
      .filter(col("rr") <= k)
      .select(col(idCol).as("a"), col("qid").as("b"))
    val adjAll = fwd.union(rev).distinct()
    // bare-id adjacency (2nk rows) is read by every slice — checkpoint
    // once when slicing so the union+distinct doesn't re-run per slice
    // r16 A/B: checkpoint the adjacency ALWAYS — both proposal-join sides
    // read it, so unmaterialized it re-runs the rev window + distinct per
    // side (ReuseExchange only shares the distinct exchange, not the tail)
    val adj = adjAll.localCheckpoint()
    def scoreSlice(slice: Option[Int]): DataFrame = {
      val own = slice.fold(adj)(c => adj.filter(pmod(col("a"), lit(chunks)) === c))
      // The proposal dedup is the round's DOMINANT exchange (n·(2k)²
      // bare-id rows; ~640 M at the 100× probe — the SerDe tax that
      // flipped the 4-executor topology against knn_graph, SCALE.md).
      // Pack (q, w) into ONE long before it when `pack` verified the id
      // domain (nonnegative, < 2³² — spec-pinned at the 2³²−1 boundary
      // AND at the out-of-domain fallback), so each shuffle row is a
      // single-field UnsafeRow (16 B vs 24 B) and the partial/final
      // dedup aggregates hash one word instead of two. Unpacking
      // restores the exact (qid, id) longs, so downstream rows are
      // bit-identical.
      val raw = own.select(col("a").as("q"), col("b").as("u"))
        .join(adj.select(col("a").as("u"), col("b").as("w")), "u")
        .filter(col("q") =!= col("w"))
      // The unpacked form is the only exact one for ids outside [0, 2³²);
      // both forms produce identical rows where both apply.
      val cand =
        if (pack)
          raw.select(shiftleft(col("q"), 32).bitwiseOR(col("w")).as("qc"))
            .distinct()
            .select(shiftrightunsigned(col("qc"), 32).as("qid"),
              col("qc").bitwiseAND(lit(0xFFFFFFFFL)).as(idCol))
        else
          raw.select(col("q").as("qid"), col("w").as(idCol)).distinct()
      val pre = slice.fold(topk)(c => topk.filter(pmod(col("qid"), lit(chunks)) === c))
        .select(col("qid"), col(idCol), col("sim"))
      hammingShortlistTopK(cand, emb, codes, k, shortlist, preScored = Some(pre),
        idCol = idCol, vecCol = vecCol, codeSim = codeSim)
    }
    if (chunks == 1) scoreSlice(None)
    else (0 until chunks).map(c => scoreSlice(Some(c)).localCheckpoint())
      .reduce(_ unionByName _)
  }

  /** SemDeDup-shaped near-duplicate pairs at corpus scale (Abbas et al.,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", 2023): candidates are vectors sharing any LSH
    * (table, bucket) key — linear in corpus size, never the O(n²) pair
    * space — then exact cosine verifies each candidate. The bucket
    * explode ships only (table, bucket, id); candidate id pairs are
    * DEDUPLICATED across tables BEFORE the float vectors join back, so
    * each surviving pair ships its two vectors exactly once (the same
    * ship-arrays-late lesson the minhash est-prescreen encodes).
    * Pass [[md5Planes]] for a fully oracle-replayable pair set. */
  def lshNearDupPairs(df: DataFrame, threshold: Double,
                      planeMatrix: Array[Array[Array[Double]]],
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val buckets = df.select(col(idCol),
      posexplode(tableBuckets(col(vecCol), planeMatrix)).as(Seq("table_idx", "bucket")))
    val cand = buckets.select(col("table_idx"), col("bucket"), col(idCol).as("id_a"))
      .join(buckets.select(col("table_idx"), col("bucket"), col(idCol).as("id_b")),
        Seq("table_idx", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a")), "id_a")
      .join(df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b")), "id_b")
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }

  /** Cross-corpus LSH candidate pairs — the contamination-screen shape:
    * a LARGE left corpus (training vectors) against a SMALL broadcast
    * right corpus (benchmark/test-set vectors). Candidates are rows
    * sharing any LSH (table, bucket) key, so the work is linear in left
    * bucket occupancy × right bucket density, never |left|×|right|; the
    * bucket join ships bare ids (ship-arrays-late), left vectors attach
    * once per surviving pair, and the right side rides the broadcast it
    * already is. Pass [[md5Planes]] for a fully oracle-replayable pair
    * set. Returns (leftId, rightId, sim) for every candidate pair. */
  def lshCrossPairs(left: DataFrame, right: DataFrame,
                    planeMatrix: Array[Array[Array[Double]]],
                    leftId: String = "vec_id", leftVec: String = "embedding",
                    rightId: String = "tid", rightVec: String = "tvec"): DataFrame = {
    val lb = left.select(col(leftId),
      posexplode(tableBuckets(col(leftVec), planeMatrix)).as(Seq("table_idx", "bucket")))
    val rb = right.select(col(rightId),
      posexplode(tableBuckets(col(rightVec), planeMatrix)).as(Seq("table_idx", "bucket")))
    val cand = lb.join(broadcast(rb), Seq("table_idx", "bucket"))
      .select(col(leftId), col(rightId)).distinct()
    cand
      .join(left.select(col(leftId), col(leftVec)), leftId)
      .join(broadcast(right.select(col(rightId), col(rightVec))), rightId)
      .withColumn("sim", cosine(col(leftVec), col(rightVec)))
      .select(col(leftId), col(rightId), col("sim"))
  }

  /** Per-vector int8 scalar quantization — the storage-compression step of
    * a billion-vector ANN index (4 bytes → 1 byte per dim): codes
    * `q_i = floor((x_i − min)/scale + 0.5)` clipped to [0, 255] with
    * `scale = (max − min)/255`; constant vectors (scale 0) code to all
    * zeros. A pure narrow map (no UDF, no shuffle) that rides the
    * embedding scan; decode is `min + q·scale`. All math in double with
    * documented left-to-right folds, so the DuckDB oracle replays the
    * codes AND the reconstruction error bit-exactly. */
  def quantizeInt8(vec: Column): Column =
    quantizeInt8(vec, quantizeMin(vec), quantizeScale(vec))

  /** Per-vector quantization params. CALLERS SHOULD HOIST these into
    * columns and pass them to the 3-arg forms: an expression placed
    * inside a HOF lambda re-evaluates PER ELEMENT (Catalyst has no
    * let-binding and subexpression elimination doesn't reach lambda
    * bodies), turning quantization O(d²) per vector — measured 10× slower
    * on the quantize_embeddings query before hoisting. */
  def quantizeMin(vec: Column): Column = array_min(vec).cast("double")
  def quantizeScale(vec: Column): Column =
    (array_max(vec).cast("double") - array_min(vec).cast("double")) / 255.0

  /** [[quantizeInt8]] with pre-hoisted per-vector params (columns, not
    * inline subtrees — see [[quantizeMin]]). */
  def quantizeInt8(vec: Column, vmin: Column, scale: Column): Column =
    when(scale > 0,
      transform(vec, x =>
        least(lit(255L), greatest(lit(0L),
          floor((x.cast("double") - vmin) / scale + 0.5).cast("long")))))
      .otherwise(transform(vec, _ => lit(0L)))

  /** Mean absolute reconstruction error of [[quantizeInt8]] (left fold). */
  def quantizeAbsError(vec: Column): Column =
    quantizeAbsError(vec, quantizeMin(vec), quantizeScale(vec))

  /** [[quantizeAbsError]] with pre-hoisted params. */
  def quantizeAbsError(vec: Column, vmin: Column, scale: Column): Column = {
    val errs = zip_with(vec, quantizeInt8(vec, vmin, scale), (x, q) =>
      abs(x.cast("double") - (vmin + q.cast("double") * scale)))
    aggregate(errs, lit(0.0), (acc, e) => acc + e) / size(vec).cast("double")
  }

  /** All near-duplicate pairs (cosine >= threshold) within `df` — used for
    * embedding-based near-dup detection. Quadratic in the partition-local
    * candidate set: callers bound the subset or pre-bucket with LSH. */
  def nearDupPairs(df: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select("id_a", "id_b", "sim")
  }
}
