package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.queries.OracleSql.{dotSql, normSql}

/** Embedding similarity-search capability queries over `embeddings`.
  * Cosine math is a documented left-fold in double precision, so the
  * DuckDB oracle replays it bit-exactly with list_reduce. */
object SimilarityQueries {
  import Tables.table

  /** Exact brute-force cosine top-10 per probe vector (broadcast probes). */
  val cosineTopK = QueryDef("cosine_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, queries, k = 10)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM d WHERE vec_id % 100 = 0),
      pairs AS (
        SELECT q.qid, d.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM d, q WHERE d.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM pairs)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= 10 ORDER BY qid, rank"""))

  /** Embedding-cosine near-dup pairs over a bounded subset. */
  val dedupEmbeddingCosine = QueryDef("dedup_embedding_cosine",
    (s, dir) => Similarity.nearDupPairs(
        table(s, dir, "embeddings").filter(col("vec_id") < 300)
          .select(col("vec_id"), col("embedding")),
        threshold = 0.35)
      .orderBy("id_a", "id_b"),
    Some(s"""WITH d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
        FROM embeddings WHERE vec_id < 300),
      p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          CASE WHEN a.nrm > 0 AND b.nrm > 0
               THEN ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
               ELSE 0.0 END AS sim
        FROM d a JOIN d b ON a.vec_id < b.vec_id)
      SELECT id_a, id_b, sim FROM p WHERE sim >= 0.35 ORDER BY id_a, id_b"""))

  /** Shared ANN tuning, recall-calibrated against the embeddings table's
    * structure: the SAME parameters drive the headline queries and the
    * `ann_recall_tiers` evidence row, so the certified recall is the recall of
    * the registered queries, not of a friendlier configuration. The test
    * embeddings are 10 heavily-overlapping Gaussian clusters — a measured
    * recall ≈ probed-fraction relationship (grid-swept nLists ∈ {8..32} ×
    * nProbe) — so holding the 0.9 floor honestly requires probing
    * 12/16 of the lists here; on a real corpus with separable cluster
    * structure the same index sustains the floor at nProbe/nLists ≪ 1,
    * which is the regime the operator is built for. dim = 64: the
    * embeddings-table dimension; the kernels reject mismatched vectors
    * rather than mis-bucketing. */
  private val annK = 5
  private val lshPlanes = 3
  private val lshTables = 12
  private val ivfListsBase = 16
  private val ivfProbeBase = 12
  private def annQueries(emb: org.apache.spark.sql.DataFrame) =
    emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  /** Exact integer square root via the IEEE double sqrt — the growth-law
    * primitive shared by every sublinear ANN parameter rule below and
    * replayed in SQL as `CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT)`:
    * sqrt is CORRECTLY ROUNDED in IEEE 754 (a required operation, unlike
    * libm log/exp), n converts exactly below 2^52, and for non-square n
    * the true root sits ≥ 1/(2·sqrt(n)) away from the nearest integer —
    * orders of magnitude beyond the half-ulp rounding bound for any
    * corpus below 2^40 rows — so floor(sqrt) is the exact integer root
    * in BOTH engines, bit-for-bit. */
  private[graft] def isqrt(n: Long): Long =
    math.sqrt(math.max(0L, n).toDouble).toLong
  private def isqrtSql(nSql: String): String =
    s"CAST(FLOOR(SQRT(CAST(($nSql) AS DOUBLE))) AS BIGINT)"

  /** Sublinear IVF list-count law (r14 verdict task 1 — the
    * `lshTablesFor` playbook applied to the coarse quantizer): a FIXED
    * list count means probe/nlists of the corpus is scanned per query at
    * every scale — Θ(n), a linear scan wearing an index costume. The
    * standard sizing is nlists ∝ √n (balances quantizer cost n·nlists
    * against in-list scan n/nlists·nprobe); the n/256 occupancy floor
    * keeps lists trainable (≥256 rows mean occupancy) below the √n
    * crossover at n = 65536, and max(base, …) pins every registered
    * scale (n ≤ 2048 at sf ≤ 0.1) EXACTLY on the oracle-certified base
    * config — same discipline as the LSH law's linear branch. The 4096
    * cap bounds the SQL twin's center generation (binds past n ≈ 16.7M
    * on the √n branch; beyond it, probe growth alone carries recall).
    * Calibration: the 50×/100× `recall_tiers` probe (r15) scores the law
    * against brute-force truth with a measured scan-fraction column. */
  private def ivfListsLaw(n: Long, base: Int): Int =
    math.min(4096L, math.max(base.toLong, math.min(n / 256L, isqrt(n)))).toInt
  private def ivfListsSqlOf(nSql: String, base: Int): String =
    s"LEAST(4096, GREATEST($base, LEAST(($nSql) // 256, ${isqrtSql(nSql)})))"

  /** Bounded probe-count law: nprobe = 2·√nlists (clamped to [base,
    * nlists]). With nlists ∝ √n this scans nprobe·n/nlists ≈ 2·n^(3/4)
    * candidates per query — the scan FRACTION falls as n^(-1/4) — while
    * probing enough lists that a neighbor's list lands in the probe set
    * on the deliberately hard test corpus (random-projection centers +
    * near-orthogonal cross-replica geometry; the r15 recall probe
    * certifies ≥ 0.9 at 50×/100× with the fraction falling). max(base,…)
    * pins the registered scales: base 4 of 8 lists for the md5 tiers
    * (2·isqrt(8) = 4 — exactly the certified config), base 12 of 16 for
    * the Lloyd-trained production queries. */
  private def ivfProbeLaw(nLists: Int, base: Int): Int =
    math.min(nLists.toLong, math.max(base.toLong, 2L * isqrt(nLists.toLong))).toInt
  private def ivfProbeSqlOf(listsSql: String, base: Int): String =
    s"LEAST(($listsSql), GREATEST($base, 2 * ${isqrtSql(listsSql)}))"

  /** Production (Lloyd-trained) IVF sizing — [[ivfListsLaw]] /
    * [[ivfProbeLaw]] at the measured base config (16 lists, probe 12:
    * the overlapping-cluster floor calibration in the header note). */
  private def ivfListsFor(n: Long): Int = ivfListsLaw(n, ivfListsBase)
  private def ivfProbeFor(nLists: Int): Int = ivfProbeLaw(nLists, ivfProbeBase)
  /** Spec seam for the production IVF laws (privates above). */
  private[graft] def ivfConfigForCount(n: Long): (Int, Int) = {
    val l = ivfListsFor(n); (l, ivfProbeFor(l))
  }

  /** Auto-sized LSH depth — the default for the REGISTERED queries (the
    * 20× probe's fixed-depth saturation lever, now always on): planes
    * grow one per corpus doubling past the base occupancy
    * ([[Similarity.autoPlanesExact]] — exact-integer rule from a COUNT,
    * so the oracle replays the choice), and tables follow the TWO-REGIME
    * growth law [[lshTablesFor]] to hold the recall floor
    * (per-plane agreement probability is fixed by the similarity, so
    * deeper AND-conjunctions need more OR-tables — the standard (k, L)
    * LSH tradeoff; `ann_recall_tiers` certifies the floor at whatever depth
    * the corpus selects). 12 tables per extra plane is recall-measured
    * on the overlapping-cluster test embeddings: at sf0.1 (depth 5)
    * 24 tables gave 0.89 — under the floor — 36 gave 0.97. Candidate
    * work ~ L·n²/2^planes, so with 2^planes linear in n, per-point
    * work stays ~L as the corpus grows — against n² at any fixed depth. */
  private val lshMaxPlanes = 24
  private val lshTablesPerExtraPlane = 12

  /** Table count for `planes` — the r14 recall-at-scale law. Per-table
    * collision probability for a neighbor at per-plane agreement p is
    * p^planes, so holding a recall floor needs tables × (1/p) PER EXTRA
    * PLANE — geometric, not linear. The r14 50×/100× recall probe
    * measured the linear rule's failure directly: recall@5 0.97 at
    * depth 5 / 36 tables (sf0.1) fell to 0.697 at depth 11 / 108 and
    * 0.619 at depth 12 / 120, and the fitted per-table collisions
    * (0.0928 → 0.0110 → 0.0080) give measured per-plane agreement
    * p ≈ 0.70–0.73 (≈ 60°–65° neighbors — this corpus is deliberately
    * hard). The law: tables = min(1024, max(linear, lshTables·(3/2)^e))
    * with e = planes − lshPlanes — the 3/2 base is 1/p at the p = 2/3
    * design point, slightly over-provisioned for the measured 0.70+.
    * max() keeps every registered scale (e ≤ 2 at sf ≤ 0.1) EXACTLY on
    * the measured linear calibration — the oracle-certified configs are
    * unchanged; the geometric branch takes over from e = 5 (n > 16k
    * vectors, probe scales — re-probed at 50×/100×: recall restored to
    * 0.96+ from 0.697/0.619). Integer-exact ((12·3^e) div 2^e) so the
    * SQL twin [[lshTablesSql]] replays it bit-for-bit. The 1024 cap is
    * reached at e = 11 (n > 1M vectors at 60° neighbors): past it this
    * corpus class should route to the binary/ivf tiers (whose n/4
    * shortlist law HOLDS recall at scale — measured 0.98+ at 100×) or
    * the knn graph; separable real-corpus structure sustains the floor
    * at far smaller L (the ivfProbe note above). */
  private def lshTablesFor(planes: Int): Int = {
    val e = planes - lshPlanes
    var pow3 = 1L
    for (_ <- 0 until e) pow3 *= 3L
    val linear = lshTables + lshTablesPerExtraPlane * e
    val geometric = ((lshTables.toLong * pow3) / (1L << e)).toInt
    math.min(1024, math.max(linear, geometric))
  }

  /** DuckDB twin of [[lshTablesFor]] over the `depth` CTE's `planes`
    * column — same integer operations, same truncation (POWER(3, e) is
    * an exact integer in double up to e = 21, and `//` matches Scala's
    * Long division on nonnegative values). */
  private def lshTablesSql: String =
    s"""LEAST(1024, GREATEST(
         $lshTables + $lshTablesPerExtraPlane * (planes - $lshPlanes),
         ($lshTables * CAST(POWER(3, planes - $lshPlanes) AS BIGINT))
           // CAST(POWER(2, planes - $lshPlanes) AS BIGINT)))"""

  private def lshDepth(n: Long): (Int, Int) = {
    val planes = Similarity.autoPlanesExact(n, 64L, lshPlanes, lshMaxPlanes)
    (planes, lshTablesFor(planes))
  }

  /** Spec seam for the table-growth law ([[lshTablesFor]] is private). */
  private[graft] def lshDepthForCount(n: Long): (Int, Int) = lshDepth(n)

  /** The md5-derived replayable hyperplanes shared by `ann_lsh_topk` and
    * `ann_recall_tiers`, at the corpus-sized depth (one bounded count pass). */
  private def lshAutoMatrix(emb: org.apache.spark.sql.DataFrame): Array[Array[Array[Double]]] = {
    val (planes, tables) = lshDepth(Similarity.corpusCount(emb))
    Similarity.md5Planes(planes, tables, 64)
  }

  /** DuckDB replay of the full LSH ANN: re-derive the corpus-sized depth
    * from the same COUNT(*) (integer doubling — no floats), regenerate
    * the planes from their exact 60-bit md5 integers (u = h/2^60·2−1 —
    * IEEE-identical in any engine), left-fold the sign dots, pack
    * buckets, candidate-join on (table, bucket), then exact cosine +
    * rank over the candidate set — the same math
    * [[Similarity.lshTopKPlanes]] executes at the same auto depth. */
  private def lshOracleSql: String =
    s"""${lshRankCtes("vec_id % 50 = 0")}
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $annK ORDER BY qid, rank"""

  /** The WITH-chain through ranked LSH candidates (CTE `r`), shared by
    * [[annLshTopK]]'s oracle and [[knnGraphQ]]'s — `qFilter` selects
    * which bucketed points act as queries; `tablesSql` the OR-table
    * count (default: the depth-coupled growth rule; knn_graph pins a
    * constant because NN-descent, not table growth, carries its
    * recall). */
  private def lshRankCtes(qFilter: String,
                          tablesSql: String = lshTablesSql): String =
    s"""${lshCandCtes(qFilter, tablesSql)},
      pairs AS (SELECT cand.qid, cand.vec_id,
          CASE WHEN a.nrm > 0 AND b.nrm > 0
               THEN ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
               ELSE 0.0 END AS sim
        FROM cand
        JOIN d b ON b.vec_id = cand.vec_id
        JOIN d a ON a.vec_id = cand.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM pairs)"""

  /** The candidate-generation half of [[lshRankCtes]] (auto depth, plane
    * regeneration, buckets, deduped bare-id pairs) — callers that score
    * candidates through a compact-code prefilter (knn_graph) append
    * their own scoring CTEs after `cand`. */
  private def lshCandCtes(qFilter: String, tablesSql: String): String = {
    s"""WITH nn AS (SELECT COUNT(*) AS n FROM embeddings),
      depth AS (SELECT LEAST($lshMaxPlanes, GREATEST($lshPlanes,
          (SELECT MIN(p) FROM generate_series(0, 40) g(p)
           WHERE (CAST(64 AS BIGINT) << p) >= (SELECT n FROM nn)))) AS planes),
      dt AS (SELECT planes, $tablesSql AS tables
             FROM depth),
      pl AS (SELECT tt.t AS t, tj.j AS j,
               list(CAST(('0x' || substring(md5('graft-lsh:' || CAST(tt.t AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, 1023) tt(t),
                  generate_series(0, ${lshMaxPlanes - 1}) tj(j),
                  generate_series(0, 63) ti(i), dt
             WHERE tt.t < dt.tables AND tj.j < dt.planes
             GROUP BY tt.t, tj.j),
      pu AS (SELECT t, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM pl),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      dots AS (SELECT d.vec_id, pu.t, pu.j,
          ${dotSql("d.embedding", "pu.u")} AS dp
        FROM d, pu),
      bk AS (SELECT vec_id, t,
               SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS bucket
             FROM dots GROUP BY vec_id, t),
      qb AS (SELECT vec_id AS qid, t, bucket FROM bk WHERE $qFilter),
      cand AS (SELECT DISTINCT q.qid, c.vec_id
               FROM qb q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
               WHERE c.vec_id <> q.qid)"""
  }

  /** LSH-bucketed approximate top-5 — md5-derived replayable hyperplanes
    * at the corpus-sized auto depth ([[lshDepth]]), so the ENTIRE
    * approximate pipeline (depth choice → plane generation → sign
    * buckets → candidate join → exact re-rank) is hash-checked by the
    * oracle; the `ann_recall_tiers` floor certifies its quality separately. */
  val annLshTopK = QueryDef("ann_lsh_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.lshTopKPlanes(emb, annQueries(emb), k = annK, lshAutoMatrix(emb))
        .orderBy("qid", "rank")
    },
    Some(lshOracleSql))

  /** Mutual k-NN graph over the WHOLE corpus — the graph-construction
    * primitive under k-NN clustering, manifold methods (UMAP/spectral),
    * SemDeDup-style cluster pruning, and label propagation: every point
    * queries the LSH index ([[lshAutoMatrix]] — same auto-depth
    * discipline as `ann_lsh_topk`, so candidate volume stays ~n·log n,
    * never n²), takes its cosine top-$annK, and an EDGE exists iff the
    * relation is MUTUAL (each endpoint in the other's top-k — the
    * standard symmetrization that kills hub artifacts: a hub appears in
    * thousands of lists, but its own list has only k slots, so one-way
    * fans collapse). Each edge emits once (src < dst) with the cosine
    * and both directed ranks. Scale: the all-points query set is the
    * index's own bucketed corpus — one (table, bucket) self-equi-join,
    * map-side-partial rank agg, then an edge-on-edge equi-join on
    * (src, dst); no stage is ever all-pairs. */
  private val knnSeedTables = 16
  private val knnDescentRounds = 3
  // NN-descent refines a WIDER internal list than the output k: a k=5
  // graph is too sparse for neighbor-of-neighbor propagation to converge
  // (measured at sf0.1: rounds 2→3 moved recall 0.747→0.748 — a local
  // optimum; k'=10 lifted it to 0.824; k'=20 over a 16-table seed holds
  // the 0.9 floor). The test embeddings are nearly unclustered (cross
  // cosine p95 ≈ 0.21) — the hardest regime for graph propagation, so
  // these constants are sized for it; all of them are SCALE-INDEPENDENT,
  // which is the point: work stays linear in n
  private val knnInternalK = 4 * annK
  // Hamming-shortlist width for the compact-code candidate scoring: of
  // the ≤ (2k')² proposals per point per round, only the best
  // `knnShortlist` by 252-bit projection-code Hamming pay an exact
  // cosine (the old list's exact sims are always kept, so a Hamming
  // miss can only delay — not lose — a neighbor the graph would find).
  // Swept on the near-orthogonal test corpus: 3k' held 0.9 at sf0.001
  // but read 0.885 at sf0.1; 5k' holds the floor at both scales while
  // still cutting exact cosines 16× vs scoring every proposal.
  private val knnShortlist = 5 * knnInternalK
  // 4 words × 63 md5-projection bits: the 252-bit code the shortlist
  // ranks by. 63 coordinate-sign bits alone were measured at 0.79 edge
  // recall on the near-orthogonal test corpus (SNR ~1.8σ per neighbor);
  // 4× the bits doubles the ranking SNR and restores the 0.9 floor.
  private val knnCodeWords = 4
  private val knnCodeBitsPerWord = 63
  // Max live bare-id proposal rows per NN-descent slice (~16 bytes/row →
  // ~1.5 GB through the scored join per slice): sf0.1's 2000 vectors
  // (3.2M proposals) stay single-slice, the 50× probe's 100k vectors
  // (160M) slice ~2x-per-48g-heap.
  private val knnChunkProposals = 96000000L
  private lazy val knnCodePlanes =
    Similarity.md5Planes(knnCodeBitsPerWord, knnCodeWords, 64, "graft-knn-code")

  /** Shared mutual-kNN chain — the REGISTERED query and ScaleProbe both
    * call this on a (vec_id, embedding) frame.
    *
    * Work bound — why NN-descent and not more LSH: an all-points LSH
    * kNN pays ~n·occupancy·L candidates, and holding recall as n grows
    * needs L to grow with depth (the ann_lsh_topk rule), so graph cost
    * is n·log n with a large constant — the 20× probe measured exactly
    * that (cpu 131× on the depth-coupled config). Here the seed instead
    * pins L = $knnSeedTables CONSTANT (auto depth still bounds expected
    * occupancy at ~64, so the seed is plain linear) and the recall the
    * weaker seed gives up is recovered by $knnDescentRounds NN-descent
    * rounds ([[Similarity.nnDescentRound]]) — n·(2k)² proposals per
    * round, linear with a k²-constant, monotone in recall.
    *
    * Memory-hierarchy bound — why candidates score against CODES: the
    * 20× probe's residual superlinearity (cpu 55.6× vs linear 20) was
    * the proposal-scoring join shipping two 512-byte float arrays per
    * proposal (~1 GB/partition at data-scaled partitioning — spill
    * territory at any partitioning as n grows). Every corpus-sized
    * candidate set (seed buckets AND descent proposals) now ranks by
    * 8-byte sign-code Hamming first ([[Similarity.hammingShortlistTopK]]);
    * float vectors are fetched for `knnShortlist` survivors per point
    * only, and the previous round's list keeps its exact sims without
    * re-scoring. A dense near-copy region (pairwise cosine ≳ 0.95,
    * which no depth splits) still pays occupancy² inside the seed's
    * buckets — that corpus is what pipeline_dedup_corpus removes BEFORE
    * graph construction. */
  def knnGraphEdges(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val topk = knnDirectedTopK(emb)
      val fwd = topk.filter(col("qid") < col("vec_id") && col("rank") <= annK)
        .select(col("qid").as("src"), col("vec_id").as("dst"),
          col("sim"), col("rank").as("rank_fwd"))
      val back = topk.filter(col("qid") > col("vec_id") && col("rank") <= annK)
        .select(col("vec_id").as("src"), col("qid").as("dst"),
          col("rank").as("rank_back"))
      fwd.join(back, Seq("src", "dst"))
        .select(col("src"), col("dst"), col("sim"),
          col("rank_fwd").cast("long").as("rank_fwd"),
          col("rank_back").cast("long").as("rank_back"))
        .orderBy("src", "dst")
  }

  /** The DIRECTED per-point top-[[knnInternalK]] list the mutual graph is
    * assembled from (LSH seed + NN-descent rounds) — exposed so the
    * recall-at-scale probe can score the graph's neighbor lists against
    * brute-force truth on a bounded query slice (r14 verdict task 1: the
    * "NN-descent recovers recall" claim gets a measured row). Columns
    * (qid, vec_id, sim, rank); [[knnGraphEdges]] consumes it verbatim,
    * so the probed lists ARE the registered query's lists. */
  private[graft] def knnDirectedTopK(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val n = Similarity.corpusCount(emb)
      val (planes, _) = lshDepth(n)
      // Single-JVM working-set bound: NN-descent rounds slice proposal
      // generation + scoring by qid so no more than ~knnChunkProposals
      // bare-id proposal rows are live at once (each slice materializes
      // before the next starts) — the ~1.6× heap-pressure excess a lone
      // 48 g JVM paid at 50× vs two 24 g executors (SCALE.md) comes from
      // holding all n·(2k')² proposals through one shuffle; slicing caps
      // it without a second JVM. Exact: per-qid results are unchanged
      // for every chunk count, so the registered query (chunks = 1 at
      // sf ≤ 0.1) and the probe (chunks > 1 at 20×/50×) share one oracle.
      val descentChunks = math.max(1L,
        (n * (2L * knnInternalK) * (2L * knnInternalK) + knnChunkProposals - 1)
          / knnChunkProposals).toInt
      // 32 bytes per vector: the compact representation every candidate
      // stage scores against (tiny — checkpoint so all 4 stages share it)
      val codes = emb.select(col("vec_id"),
        Similarity.projectionCodes(col("embedding"), knnCodePlanes).as("code"))
        .localCheckpoint()
      // Pack-domain bound for the descent rounds, computed ONCE over the
      // tiny checkpointed code table (every qid/vec_id in every round is
      // an emb vec_id): rounds skip their per-round topk agg.
      val idRange = {
        val r = codes.agg(org.apache.spark.sql.functions.min(col("vec_id")),
          org.apache.spark.sql.functions.max(col("vec_id"))).head() // bounded: 1-row min/max agg
        if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      }
      val codeSim = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
        Similarity.hammingSimWords(a, b, knnCodeWords, knnCodeBitsPerWord)
      val seedPairs = Similarity.lshCandidatePairsPlanes(emb,
        emb.select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        Similarity.md5Planes(planes, knnSeedTables, 64))
      var topk = Similarity.hammingShortlistTopK(seedPairs, emb, codes,
          k = knnInternalK, shortlist = knnShortlist, codeSim = codeSim)
        .localCheckpoint() // each round reads the previous once
      for (_ <- 1 to knnDescentRounds)
        topk = Similarity.nnDescentRound(topk, emb, codes, knnInternalK, knnShortlist,
            codeSim = codeSim, chunks = descentChunks, idBound = Some(idRange))
          .localCheckpoint()
      topk
  }

  val knnGraphQ = QueryDef("knn_graph",
    (s, dir) => knnGraphEdges(
      table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
    Some {
      // the two-stage compact-code scoring, replayed per candidate CTE:
      // Hamming shortlist over sign codes, exact cosine for survivors
      val totalBits = knnCodeWords * knnCodeBitsPerWord
      // bit_count returns TINYINT in DuckDB — widen each term before the
      // 4-word sum (98 + 33 already overflows INT1)
      val hamSumSql = (1 to knnCodeWords)
        .map(w => s"CAST(bit_count(xor(qc.code[$w], cc.code[$w])) AS INTEGER)")
        .mkString(" + ")
      // MATERIALIZED hints below are DuckDB-plan-only (values unchanged):
      // each NN-descent round references the previous round's list three
      // times and the code/vector tables twice per stage — inlined, the
      // expression tree grows 3^rounds × the full seed machinery, which
      // at sf0.1 spilled > 80 GB of temp; materialized, each CTE runs once.
      def hammingStage(i: Int, candCte: String): String =
        s"""h$i AS (SELECT c.qid, c.vec_id,
                $totalBits.0 - CAST($hamSumSql AS DOUBLE) AS hsim
              FROM $candCte c
              JOIN cd qc ON qc.vec_id = c.qid
              JOIN cd cc ON cc.vec_id = c.vec_id),
      g$i AS (SELECT qid, vec_id FROM (
               SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hsim DESC, vec_id ASC) AS hr
               FROM h$i) WHERE hr <= $knnShortlist),
      x$i AS (SELECT g.qid, g.vec_id,
                CASE WHEN da.nrm > 0 AND db.nrm > 0
                     THEN ${dotSql("da.embedding", "db.embedding")} / (da.nrm * db.nrm)
                     ELSE 0.0 END AS sim
              FROM g$i g
              JOIN dm db ON db.vec_id = g.vec_id
              JOIN dm da ON da.vec_id = g.qid)"""
      def round(i: Int): String = {
        val prev = s"e${i - 1}"
        s"""f$i AS (SELECT qid AS a, vec_id AS b FROM $prev),
      v$i AS (SELECT vec_id AS a, qid AS b FROM (
               SELECT qid, vec_id,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY rank ASC, qid ASC) AS rr
               FROM $prev) WHERE rr <= $knnInternalK),
      a$i AS MATERIALIZED (SELECT DISTINCT a, b FROM (
               SELECT a, b FROM f$i UNION ALL SELECT a, b FROM v$i)),
      c$i AS (SELECT DISTINCT x.a AS qid, y.b AS vec_id
              FROM a$i x JOIN a$i y ON x.b = y.a WHERE x.a <> y.b),
      ${hammingStage(i, s"c$i")},
      u$i AS (SELECT qid, vec_id, sim FROM x$i
              UNION SELECT qid, vec_id, sim FROM $prev),
      e$i AS MATERIALIZED (SELECT qid, vec_id, sim, rank FROM (
               SELECT qid, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
               FROM u$i) WHERE rank <= $knnInternalK)"""
      }
      val rounds = (1 to knnDescentRounds).map(round).mkString(",\n      ")
      s"""${lshCandCtes("TRUE", knnSeedTables.toString)},
      kpl AS (SELECT tt.t AS t, tj.j AS j,
               list(CAST(('0x' || substring(md5('graft-knn-code:' || CAST(tt.t AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, ${knnCodeWords - 1}) tt(t),
                  generate_series(0, ${knnCodeBitsPerWord - 1}) tj(j),
                  generate_series(0, 63) ti(i)
             GROUP BY tt.t, tj.j),
      kpu AS (SELECT t, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM kpl),
      kdots AS (SELECT d.vec_id, kpu.t, kpu.j,
          ${dotSql("d.embedding", "kpu.u")} AS dp
        FROM d, kpu),
      cd AS MATERIALIZED (SELECT vec_id, list(w ORDER BY t) AS code FROM (
               SELECT vec_id, t,
                 SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS w
               FROM kdots GROUP BY vec_id, t)
             GROUP BY vec_id),
      dm AS MATERIALIZED (SELECT vec_id, embedding, nrm FROM d),
      cm AS MATERIALIZED (SELECT qid, vec_id FROM cand),
      ${hammingStage(0, "cm")},
      e0 AS MATERIALIZED (SELECT qid, vec_id, sim, rank FROM (
               SELECT qid, vec_id, sim,
                 ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
               FROM x0) WHERE rank <= $knnInternalK),
      $rounds
      SELECT f.qid AS src, f.vec_id AS dst, f.sim,
        CAST(f.rank AS BIGINT) AS rank_fwd, CAST(b.rank AS BIGINT) AS rank_back
      FROM e$knnDescentRounds f
      JOIN e$knnDescentRounds b ON b.qid = f.vec_id AND b.vec_id = f.qid
      WHERE f.qid < f.vec_id AND f.rank <= $annK AND b.rank <= $annK
      ORDER BY src, dst"""
    })

  // ── coreset_kcenter ─────────────────────────────────────────────────────

  private val kCenters = 8

  /** Greedy k-center coreset selection (Gonzalez, TCS 1985 — the 2-approx
    * farthest-point heuristic; the geometric selection rule behind
    * diversity-driven data pruning): seed at the lowest vec_id, then
    * $kCenters−1 rounds of "add the point FARTHEST from every chosen
    * center" in cosine distance (1 − the documented left-fold cosine).
    * Each selection's `radius` is its min-distance at pick time — the
    * coverage radius, non-increasing by construction (pinned in spec) —
    * so the output is simultaneously the selected subset AND the
    * coverage-vs-budget curve a pruning run reads to choose k. The whole
    * trajectory (seed, every argmax with vec_id tie-break, every
    * min-dist fold) replays in the oracle round-by-round — the fourth
    * training-style loop under the hash gate (Lloyd, BPE, BT, this).
    *
    * Scale: each round is one narrow broadcast pass (corpus × the ONE
    * new center — min-dist is maintained incrementally, never recomputed
    * against all centers) plus a global top-1 (TakeOrdered: per-partition
    * max then a k-sized driver merge, no sort shuffle); k bounded rounds
    * of O(n) work, the textbook cost of greedy k-center, with
    * localCheckpoint pinning each round's min-dist state. */
  /** Shared greedy chain — the REGISTERED query and ScaleProbe both call
    * this on a (vec_id, embedding) frame. */
  def coresetCenters(emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val seed = emb.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      var d = emb.crossJoin(broadcast(seed))
        .withColumn("dist", lit(1.0) - Similarity.cosine(col("embedding"), col("ce")))
        .select(col("vec_id"), col("embedding"), col("dist"))
        .localCheckpoint()
      var out = seed.select(lit(1L).as("round"), col("cid").as("center_id"),
        lit(null).cast("double").as("radius"))
      for (r <- 2 to kCenters) {
        val next = d.orderBy(col("dist").desc, col("vec_id").asc).limit(1)
          .select(col("vec_id").as("cid"), col("embedding").as("ce"),
            col("dist").as("radius"))
          .localCheckpoint() // 1 row: selected once, read by update + output
        out = out.union(next.select(lit(r.toLong).as("round"),
          col("cid").as("center_id"), col("radius")))
        d = d.crossJoin(broadcast(next.select(col("cid"), col("ce"))))
          .withColumn("nd", lit(1.0) - Similarity.cosine(col("embedding"), col("ce")))
          .select(col("vec_id"), col("embedding"),
            least(col("dist"), col("nd")).as("dist"))
          .localCheckpoint()
      }
      out.orderBy("round")
  }

  val coresetKcenterQ = QueryDef("coreset_kcenter",
    (s, dir) => coresetCenters(
      table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))),
    Some {
      val cosSql = (a: String, anrm: String, b: String, bnrm: String) =>
        s"CASE WHEN $anrm > 0 AND $bnrm > 0 THEN ${dotSql(a, b)} / ($anrm * $bnrm) ELSE 0.0 END"
      def round(k: Int): String = {
        val prev = s"d${k - 1}"
        s"""c$k AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm, dist AS radius
            FROM $prev ORDER BY dist DESC, vec_id ASC LIMIT 1),
      d$k AS (SELECT p.vec_id, p.embedding, p.nrm,
              LEAST(p.dist, 1.0 - ${cosSql("p.embedding", "p.nrm", "c.ce", "c.cnrm")}) AS dist
            FROM $prev p, c$k c)"""
      }
      val rounds = (2 to kCenters).map(round).mkString(",\n      ")
      val sel = (2 to kCenters)
        .map(k => s"SELECT CAST($k AS BIGINT) AS round, cid AS center_id, radius FROM c$k")
        .mkString("\n      UNION ALL ")
      s"""WITH d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      c1 AS (SELECT vec_id AS cid, embedding AS ce, nrm AS cnrm FROM d ORDER BY vec_id LIMIT 1),
      d1 AS (SELECT d.vec_id, d.embedding, d.nrm,
               1.0 - ${cosSql("d.embedding", "d.nrm", "c.ce", "c.cnrm")} AS dist
             FROM d, c1 c),
      $rounds
      SELECT CAST(1 AS BIGINT) AS round, cid AS center_id, CAST(NULL AS DOUBLE) AS radius FROM c1
      UNION ALL $sel ORDER BY round"""
    })

  /** IVF coarse-quantized approximate top-5 (k-means inverted lists,
    * engine-trained centroids → rows-only check + recall spec +
    * `ann_recall_tiers` floor). */
  val annIvfTopK = QueryDef("ann_ivf_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = graft.operators.Ivf.build(emb,
        nLists = ivfListsFor(Similarity.corpusCount(emb)))
      graft.operators.Ivf.topK(index, annQueries(emb), k = annK,
          nProbe = ivfProbeFor(index.centers.length))
        .orderBy("qid", "rank")
    },
    None)

  /** Replayable codebook for [[annIvfTopKOracle]]: 8 md5-derived centers
    * over the raw double mapping (no float cast — IVF assignment measures
    * L2 against double centers). */
  private val ivfOracleLists = 8
  private val ivfOracleProbe = 2
  private lazy val ivfOracleCenterInts =
    Similarity.md5PlaneInts(ivfOracleLists, 1, 64, "graft-ivf-oracle")(0)
  // derived from the SAME materialized ints the oracle inlines — the two
  // representations are the same data by construction, and the 8×64 md5
  // pass runs once
  private lazy val ivfOracleCenters: Array[Array[Double]] =
    ivfOracleCenterInts.map(_.map(h => h.toDouble / (1L << 60).toDouble * 2.0 - 1.0))

  /** Squared-L2 left fold in SQL — shared by every ANN oracle (one
    * definition, so the fold can never desynchronize between them). */
  private val l2Sql = (a: String, b: String) =>
    s"list_reduce([(CAST($a[i] AS DOUBLE) - $b[i]) * (CAST($a[i] AS DOUBLE) - $b[i]) for i in generate_series(1, len($a))], (x, y) -> x + y)"

  /** The inline IVF-oracle centroid rows (c, hs) — shared by the IVF and
    * IVF-PQ oracle SQL. */
  private def ivfCentroidRowsSql: String =
    (0 until ivfOracleLists).map(c =>
      s"SELECT $c AS c, [${ivfOracleCenterInts(c).mkString(",")}] AS hs")
      .mkString(" UNION ALL ")

  private def ivfOracleSql: String = ivfOracleSqlWith(None)

  /** [[ivfOracleSql]] with an optional candidate-side metadata predicate —
    * `ann_filtered_topk` passes the label filter; everything else shares
    * the unfiltered replay verbatim. */
  private def ivfOracleSqlWith(pred: Option[String]): String = {
    val fltCte = pred.map(p =>
      s"flt AS (SELECT vec_id FROM embeddings WHERE $p),").getOrElse("")
    val fltJoin = pred.map(_ =>
      "JOIN flt ON flt.vec_id = asg.vec_id").getOrElse("")
    s"""WITH ct AS ($ivfCentroidRowsSql),
      $fltCte
      cu AS (SELECT c, [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM ct),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      ad AS (SELECT d.vec_id, cu.c, ${l2Sql("d.embedding", "cu.u")} AS dist
             FROM d, cu),
      asg AS (SELECT vec_id, c AS list_id
              FROM (SELECT vec_id, c,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
                    FROM ad)
              WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
            FROM d WHERE vec_id % 50 = 0),
      qp AS (SELECT qid, c AS list_id
             FROM (SELECT q.qid, cu.c,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ${l2Sql("q.qe", "cu.u")} ASC, cu.c ASC) AS rn
                   FROM q, cu)
             WHERE rn <= $ivfOracleProbe),
      pairs AS (SELECT q.qid, d.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM qp
        JOIN asg ON qp.list_id = asg.list_id
        $fltJoin
        JOIN d ON asg.vec_id = d.vec_id
        JOIN q ON qp.qid = q.qid
        WHERE d.vec_id <> q.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM pairs)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $annK ORDER BY qid, rank"""
  }

  /** Oracle COMPANION for ann_ivf_topk (the dedup_image_dhash_oracle
    * pattern): the REAL IVF search machinery — nearest-center assignment,
    * (distance, id)-ordered probe selection, candidate join restricted to
    * probed lists, exact-cosine re-rank — runs under a FIXED md5 codebook
    * ([[graft.operators.Ivf.fromCenters]]) instead of Lloyd-trained
    * centers, so DuckDB replays assignment, probes, candidates and ranks
    * bit-for-bit. Lloyd training (data-dependent driver state) remains
    * the ONLY unverifiable piece of the IVF path; its quality is certified
    * separately by the `ann_recall_tiers` floor. */
  val annIvfTopKOracle = QueryDef("ann_ivf_topk_oracle",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = graft.operators.Ivf.fromCenters(emb, ivfOracleCenters)
      graft.operators.Ivf.topK(index, annQueries(emb), k = annK,
          nProbe = ivfOracleProbe)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSql))

  /** Metadata-FILTERED ANN — the filtered-vector-search shape a retrieval
    * service needs (restrict search to a source/language/date slice): the
    * SAME shared index, with the predicate's allowed-ids semi-joined into
    * the candidate set before the distance kernel
    * ([[graft.operators.Ivf.topKFiltered]]). Under the md5 codebook the
    * whole filtered search replays in SQL (the unfiltered oracle plus one
    * predicate join); DedupSimilaritySpec pins the structural law that
    * filtering the shared index equals rebuilding the index over only
    * the allowed vectors. Filter here: even labels (~half the corpus) —
    * the nProbe-widening note in the operator doc covers selective
    * predicates. */
  val annFilteredTopK = QueryDef("ann_filtered_topk",
    (s, dir) => {
      val embAll = table(s, dir, "embeddings")
      val emb = embAll.select(col("vec_id"), col("embedding"))
      val allowed = embAll.filter(col("label") % 2 === 0).select(col("vec_id"))
      val index = graft.operators.Ivf.fromCenters(emb, ivfOracleCenters)
      graft.operators.Ivf.topKFiltered(index, annQueries(emb), allowed,
          k = annK, nProbe = ivfOracleProbe)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSqlWith(Some("label % 2 = 0"))))

  /** Persisted-index ANN — the build-once/probe-many shape a production
    * search service runs ([[graft.operators.Ivf.save]]/[[graft.operators.Ivf.load]]):
    * the index is SAVED (centroids + the assigned corpus written
    * partitioned by list_id), re-LOADED in the same session, and probed.
    * The probe equi-join triggers dynamic partition pruning on list_id
    * (PlansSpec pins `dynamicpruningexpression` in the scan's
    * PartitionFilters), so a search session reads only the probed list
    * directories from disk — at 100 TB the whole point of persisting.
    * Under the md5 codebook the loaded search is bit-identical to the
    * in-memory [[annIvfTopKOracle]], so the same SQL hash-checks the
    * entire save → load → probe path. */
  /** Scratch path for the index-lifecycle queries. Discriminated by the
    * Spark applicationId as well as the sf dir: two concurrent processes
    * over the same scale factor (bench + verify, parallel CI) would
    * otherwise interleave one process's overwrite/compact swap with the
    * other's probe — spurious failures at best, wrong rows at worst.
    * The directory is deleted when the JVM exits; the index stays
    * readable until then, since the query's frame reads it lazily. */
  private def indexScratchPath(s: org.apache.spark.sql.SparkSession,
                               dir: String, kind: String): String = {
    val path = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      s"graft_ivf_${kind}_${s.sparkContext.applicationId}_" +
        java.nio.file.Paths.get(dir).getFileName.toString).toString
    org.apache.spark.sql.graft.ShutdownDeleteBridge.deleteOnExit(new java.io.File(path))
    path
  }

  val annIvfPersisted = QueryDef("ann_ivf_persisted",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val path = indexScratchPath(s, dir, "persisted")
      graft.operators.Ivf.save(graft.operators.Ivf.fromCenters(emb, ivfOracleCenters), path)
      val loaded = graft.operators.Ivf.load(s, path)
      graft.operators.Ivf.topK(loaded, annQueries(emb), k = annK,
          nProbe = ivfOracleProbe)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSql))

  /** Incremental-ingest ANN — the index-MAINTENANCE shape a production
    * service runs daily: save an index over the base corpus (every
    * vec_id % 5 ≠ 0), [[graft.operators.Ivf.appendSave]] the "new
    * arrivals" batch (the assignment scan + a partitioned append — no
    * rebuild, existing files untouched), re-load, probe. Because
    * assignment under a fixed codebook is deterministic, the appended
    * index must answer EXACTLY as a full rebuild over the whole corpus —
    * so the oracle is the same full-corpus SQL as `ann_ivf_topk_oracle`,
    * and a hash match certifies the entire save → append → load → probe
    * maintenance path end to end. */
  val annIvfIncremental = QueryDef("ann_ivf_incremental",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val path = indexScratchPath(s, dir, "incr")
      // save = mode(overwrite), so a rerun rebuilds the base layout
      // before appending — the append can never double-ingest
      graft.operators.Ivf.save(graft.operators.Ivf.fromCenters(base, ivfOracleCenters), path)
      graft.operators.Ivf.appendSave(path, batch)
      graft.operators.Ivf.topK(graft.operators.Ivf.load(s, path), annQueries(emb),
          k = annK, nProbe = ivfOracleProbe)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSql))

  /** Index-lifecycle COMPACTION — closes the maintenance loop that
    * `ann_ivf_incremental` opens: [[graft.operators.Ivf.appendSave]]
    * leaves one file per touched partition per batch, so after two
    * ingest batches each probed list reads ≥ 3 files;
    * [[graft.operators.Ivf.compact]] rewrites every list to
    * target-size id-sorted files and swaps them in place. The row SET
    * must be untouched, so the probe after compaction answers EXACTLY
    * as the full-corpus `ann_ivf_topk_oracle` — the same SQL
    * hash-certifies the whole save → append → append → compact → load
    * → probe lifecycle (IvfSpec pins the file-count mechanics:
    * per-list count drops to ⌈bytes/target⌉). */
  val annIvfCompact = QueryDef("ann_ivf_compact",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val path = indexScratchPath(s, dir, "compact")
      // save = mode(overwrite) → reruns rebuild before appending
      graft.operators.Ivf.save(graft.operators.Ivf.fromCenters(base, ivfOracleCenters), path)
      graft.operators.Ivf.appendSave(path, emb.filter(col("vec_id") % 10 === 0))
      graft.operators.Ivf.appendSave(path, emb.filter(col("vec_id") % 10 === 5))
      graft.operators.Ivf.compact(s, path, targetFileMB = 128)
      graft.operators.Ivf.topK(graft.operators.Ivf.load(s, path), annQueries(emb),
          k = annK, nProbe = ivfOracleProbe)
        .orderBy("qid", "rank")
    },
    Some(ivfOracleSql))

  /** Replayable PQ codebooks for [[annPqTopKOracle]]: 4 subspaces × 64
    * md5-derived centroids × 16 dims (64 centroids keep the oracle-side
    * argmin affordable; the machinery is parameter-independent of the
    * production 256). */
  private val pqOracleCentroids = 64
  private lazy val pqOracleCb = graft.operators.Pq.Codebooks(4, 16,
    Similarity.md5Planes(pqOracleCentroids, 4, 16, "graft-pq-oracle"))

  /** The PQ-oracle codebook regeneration CTEs (`cc` raw md5 ints →
    * `uCte` scaled component lists) — shared by the PQ and IVF-PQ oracle
    * SQL so the 4×64×16 recipe exists once. */
  private def pqCodebookCtesSql(uCte: String): String =
    s"""cc AS (SELECT ts.s AS s, tj.j AS j,
          list(CAST(('0x' || substring(md5('graft-pq-oracle:' || CAST(ts.s AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
               ORDER BY ti.i) AS hs
        FROM generate_series(0, 3) ts(s), generate_series(0, ${pqOracleCentroids - 1}) tj(j),
             generate_series(0, 15) ti(i)
        GROUP BY ts.s, tj.j),
      $uCte AS (SELECT s, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM cc)"""

  private def pqOracleSql: String = {
    s"""WITH ${pqCodebookCtesSql("cu")},
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      sv AS (SELECT d.vec_id, gs.s AS s,
               d.embedding[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
             FROM d, generate_series(0, 3) gs(s)),
      enc AS (SELECT vec_id, s, j
              FROM (SELECT sv.vec_id, sv.s, cu.j,
                      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s
                        ORDER BY ${l2Sql("sv.sub", "cu.u")} ASC, cu.j ASC) AS rn
                    FROM sv JOIN cu ON sv.s = cu.s)
              WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
            FROM d WHERE vec_id % 50 = 0),
      qsv AS (SELECT q.qid, gs.s AS s, q.qe[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
              FROM q, generate_series(0, 3) gs(s)),
      lutd AS (SELECT qsv.qid, qsv.s, cu.j, ${l2Sql("qsv.sub", "cu.u")} AS ld
               FROM qsv JOIN cu ON qsv.s = cu.s),
      pc AS (SELECT l.qid, e.vec_id, e.s, l.ld
             FROM enc e JOIN lutd l ON e.s = l.s AND e.j = l.j),
      ad AS (SELECT qid, vec_id,
               list_reduce(list(ld ORDER BY s), (x, y) -> x + y) AS adist
             FROM pc WHERE vec_id <> qid GROUP BY qid, vec_id),
      sl AS (SELECT qid, vec_id
             FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
                   FROM ad)
             WHERE rn <= 60),
      pairs AS (SELECT sl.qid, sl.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM sl JOIN d ON sl.vec_id = d.vec_id JOIN q ON sl.qid = q.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM pairs)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $annK ORDER BY qid, rank"""
  }

  /** Oracle COMPANION for ann_pq_topk: the REAL PQ machinery —
    * per-subspace argmin encoding ([[graft.operators.Pq.encode]],
    * including the native CentroidProbes kernel), the broadcast ADC
    * lookup-table join, the (distance, id)-ordered shortlist, and the
    * exact-cosine re-rank — under FIXED md5 codebooks that the oracle
    * regenerates IN SQL (4 × 64 × 16 centroid components from the md5
    * recipe, too many to inline as literals). The ADC distance folds in
    * subspace order on both sides: Spark's partial aggregate consumes
    * the four exploded code rows of a parent row in order within one
    * partition, and the oracle replays `list(ld ORDER BY s)` — identical
    * left folds, so even the float sums hash-match. Lloyd codebook
    * training remains the only unverifiable piece of the PQ path
    * (quality certified by the ann_recall_tiers floor). */
  val annPqTopKOracle = QueryDef("ann_pq_topk_oracle",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val codes = graft.operators.Pq.encode(emb, pqOracleCb)
      graft.operators.Pq.adcRerankTopK(codes, emb, annQueries(emb), pqOracleCb,
          k = annK, shortlist = 60)
        .orderBy("qid", "rank")
    },
    Some(pqOracleSql))

  /** Product-quantized approximate top-5 ([[graft.operators.Pq]]): 64-dim
    * floats compress to 4 one-byte codes (64×); search is ADC — per-query
    * lookup tables broadcast, corpus side ships codes only. Codebooks are
    * engine-trained driver state (like IVF) → rows-only check + recall
    * spec (ScaleOpsSpec pins recall@5 vs in-engine brute force). */
  val annPqTopK = QueryDef("ann_pq_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val cb = graft.operators.Pq.train(emb, dim = 64)
      val codes = graft.operators.Pq.encode(emb, cb)
      graft.operators.Pq.adcRerankTopK(codes, emb, annQueries(emb), cb, k = annK)
        .orderBy("qid", "rank")
    },
    None)

  /** IVF-PQ composed index ([[graft.operators.Pq.ivfPqTopK]]): coarse
    * quantizer prunes to `nProbe` lists, PQ ADC scores the probed
    * candidates from 4-byte codes, floats fetched for the exact re-rank
    * only — the billion-vector architecture assembled from the two
    * registered pieces. Engine-trained centroids+codebooks → rows-only
    * check + the `ann_recall_tiers` floor. */
  val annIvfPqTopK = QueryDef("ann_ivfpq_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = graft.operators.Ivf.build(emb,
        nLists = ivfListsFor(Similarity.corpusCount(emb)))
      val cb = graft.operators.Pq.train(emb, dim = 64)
      graft.operators.Pq.ivfPqTopK(index, cb, annQueries(emb), k = annK,
          nProbe = ivfProbeFor(index.centers.length))
        .orderBy("qid", "rank")
    },
    None)

  /** ANN recall@k of the ENGINE-TRAINED production configs (Lloyd
    * centroids, trained PQ codebooks) vs in-engine brute force: one row
    * per method (ivf, ivfpq, lsh, pq), EMITTED ONLY IF recall ≥ 0.9 — a
    * missing row IS a recall regression. NOT a registered query: the
    * hash-certified `ann_recall_tiers` supersedes the registered floor
    * (six tiers, SQL-replayable configs, every stage hash-checked);
    * trained configs are inherently oracle-free, so this floor lives as
    * sbt-test evidence (DedupSimilaritySpec) instead of a rows-only
    * correctness row. Deterministic end-to-end (seeded planes/centroids/
    * codebooks, exact tie-break ordering), so reruns emit identical
    * rows. */
  private[graft] val trainedRecallFloor =
    (s: org.apache.spark.sql.SparkSession, dir: String) => {
      val k = annK
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val queries = annQueries(emb)
      // ground truth executes once; both method joins read the checkpoint
      val truth = Similarity.bruteForceTopK(emb, queries, k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      def recallOf(method: String, approx: org.apache.spark.sql.DataFrame) = {
        val total = truth.agg(count(lit(1)).as("total"))
        approx.select(col("qid"), col("vec_id"))
          .join(truth, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(total))
          // gate on the UNROUNDED ratio (rounding first would let
          // 0.89996 certify as 0.9); round only the reported column
          .filter(col("hits").cast("double") / col("total").cast("double") >= 0.9)
          .select(lit(method).as("method"), lit(k.toLong).as("k"),
            col("hits"), col("total"),
            round(col("hits").cast("double") / col("total").cast("double"), 4)
              .as("recall"))
      }
      val lsh = Similarity.lshTopKPlanes(emb, queries, k, lshAutoMatrix(emb))
      // one index build + one codebook train feed all quantized methods
      val index = graft.operators.Ivf.build(emb,
        nLists = ivfListsFor(Similarity.corpusCount(emb)))
      val nProbe = ivfProbeFor(index.centers.length)
      val pqCb = graft.operators.Pq.train(emb, dim = 64)
      val ivf = graft.operators.Ivf.topK(index, queries, k, nProbe = nProbe)
      val pq = graft.operators.Pq.adcRerankTopK(
        graft.operators.Pq.encode(emb, pqCb), emb, queries, pqCb, k)
      val ivfpq = graft.operators.Pq.ivfPqTopK(index, pqCb, queries, k,
        nProbe = nProbe)
      recallOf("ivf", ivf).unionByName(recallOf("ivfpq", ivfpq))
        .unionByName(recallOf("lsh", lsh)).unionByName(recallOf("pq", pq))
        .orderBy("method")
    }

  /** Matryoshka funnel parameters: 16 of 64 dims for the coarse pass
    * (4× flop/byte reduction), shortlist 4×k for the exact re-rank.
    *
    * NOT in the `ann_recall_tiers` floor on flat vectors, deliberately:
    * dimension-pruning's
    * recall rests on the MRL PROPERTY (information front-loaded into the
    * prefix by matryoshka training). The synthetic test embeddings are
    * information-FLAT random Gaussians — every dimension carries equal
    * signal, so a 16-dim prefix is a random ¼-projection and measured
    * recall is 0.15–0.42 at the registered scales (grid-swept prefix ∈
    * {16,32} × shortlist ∈ {20,40,80}: even 32/80 reaches only 0.75 at
    * sf0.1). That is a property of the DATA, not the operator — the same
    * funnel on variance-decayed embeddings (the distribution MRL training
    * produces) holds recall ≥ 0.9 at these exact parameters, which is
    * what DedupSimilaritySpec certifies, alongside the
    * prefix=dim ⇒ identical-to-brute-force equivalence law. The
    * registered query itself is hash-oracled END TO END (the only
    * approximate method here whose production configuration needs no
    * companion), so the funnel machinery — shortlist membership included
    * — is bit-certified on every run regardless. */
  private val mrlPrefixDim = 16
  private val mrlShortlist = 20

  /** DuckDB replay of the FULL matryoshka funnel: prefix-slice both
    * sides, coarse left-fold cosine on 16 dims, (psim desc, id asc)
    * shortlist of 20, exact 64-dim cosine re-rank to top-5 — shortlist
    * membership and final ranks both hash-checked. */
  private def matryoshkaOracleSql: String =
    s"""WITH q0 AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0),
      dp AS (SELECT vec_id, embedding, list_slice(embedding, 1, $mrlPrefixDim) AS pv FROM embeddings),
      dpn AS (SELECT vec_id, embedding, pv, ${normSql("pv")} AS pnrm,
                ${normSql("embedding")} AS fnrm FROM dp),
      qp AS (SELECT qid, qe, list_slice(qe, 1, $mrlPrefixDim) AS qpv FROM q0),
      qpn AS (SELECT qid, qe, qpv, ${normSql("qpv")} AS qpnrm,
                ${normSql("qe")} AS qfnrm FROM qp),
      c AS (SELECT d.vec_id, q.qid,
          CASE WHEN d.pnrm > 0 AND q.qpnrm > 0
               THEN ${dotSql("d.pv", "q.qpv")} / (d.pnrm * q.qpnrm)
               ELSE 0.0 END AS psim
        FROM dpn d, qpn q WHERE d.vec_id <> q.qid),
      s AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, vec_id ASC) AS r
          FROM c) WHERE r <= $mrlShortlist),
      x AS (SELECT s.qid, s.vec_id,
          CASE WHEN d.fnrm > 0 AND q.qfnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.fnrm * q.qfnrm)
               ELSE 0.0 END AS sim
        FROM s JOIN dpn d ON s.vec_id = d.vec_id JOIN qpn q ON s.qid = q.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM x)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $annK ORDER BY qid, rank"""

  /** Coarse-to-fine matryoshka ANN over the embedding prefix
    * ([[graft.operators.Similarity.matryoshkaTopK]]) — the dimension-
    * pruning complement to the candidate-pruning indexes, fully
    * hash-oracled end to end (the only ANN method here whose production
    * configuration needs no companion: every stage is IEEE-replayable). */
  val annMatryoshkaTopK = QueryDef("ann_matryoshka_topk",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      Similarity.matryoshkaTopK(emb, annQueries(emb), k = annK,
          prefixDim = mrlPrefixDim, shortlist = mrlShortlist)
        .orderBy("qid", "rank")
    },
    Some(matryoshkaOracleSql))

  /** Int8 scalar quantization of the embedding column: per-vector codes
    * summed as a checksum + bit-exact mean absolute reconstruction error
    * (the ANN index-compression step; 4 bytes → 1 byte per dim). */
  val quantizeEmbeddings = QueryDef("quantize_embeddings",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // hoist per-vector params to columns: inside a HOF lambda they'd
      // re-evaluate per element (O(d²)/vector — see Similarity scaladoc)
      emb
        .withColumn("_vmin", Similarity.quantizeMin(col("embedding")))
        .withColumn("_scale", Similarity.quantizeScale(col("embedding")))
        .select(col("vec_id"),
          aggregate(
            Similarity.quantizeInt8(col("embedding"), col("_vmin"), col("_scale")),
            lit(0L), (acc, q) => acc + q).as("sum_q"),
          Similarity.quantizeAbsError(col("embedding"), col("_vmin"), col("_scale"))
            .as("mean_abs_err"))
        .orderBy("vec_id")
    },
    Some("""WITH m AS (
        SELECT vec_id, embedding AS v,
          CAST(list_min(embedding) AS DOUBLE) AS vmin,
          (CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE)) / 255.0 AS scale
        FROM embeddings),
      q AS (
        SELECT vec_id, v, vmin, scale,
          CASE WHEN scale > 0
               THEN [LEAST(255, GREATEST(0, CAST(FLOOR((CAST(x AS DOUBLE) - vmin) / scale + 0.5) AS BIGINT))) for x in v]
               ELSE [CAST(0 AS BIGINT) for x in v] END AS qs
        FROM m)
      SELECT vec_id,
        list_reduce(qs, (a, b) -> a + b) AS sum_q,
        list_reduce([ABS(CAST(v[i] AS DOUBLE) - (vmin + CAST(qs[i] AS DOUBLE) * scale)) for i in generate_series(1, len(v))],
                    (a, b) -> a + b) / CAST(len(v) AS DOUBLE) AS mean_abs_err
      FROM q ORDER BY vec_id"""))

  private def ivfPqOracleSql: String = {
    s"""WITH ict AS ($ivfCentroidRowsSql),
      icu AS (SELECT c, [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
              FROM ict),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      asg AS (SELECT vec_id, c AS list_id
              FROM (SELECT d.vec_id, icu.c,
                      ROW_NUMBER() OVER (PARTITION BY d.vec_id
                        ORDER BY ${l2Sql("d.embedding", "icu.u")} ASC, icu.c ASC) AS rn
                    FROM d, icu)
              WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
            FROM d WHERE vec_id % 50 = 0),
      qp AS (SELECT qid, c AS list_id
             FROM (SELECT q.qid, icu.c,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ${l2Sql("q.qe", "icu.u")} ASC, icu.c ASC) AS rn
                   FROM q, icu)
             WHERE rn <= $ivfOracleProbe),
      ${pqCodebookCtesSql("pcu")},
      sv AS (SELECT d.vec_id, gs.s AS s,
               d.embedding[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
             FROM d, generate_series(0, 3) gs(s)),
      enc AS (SELECT vec_id, s, j
              FROM (SELECT sv.vec_id, sv.s, pcu.j,
                      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s
                        ORDER BY ${l2Sql("sv.sub", "pcu.u")} ASC, pcu.j ASC) AS rn
                    FROM sv JOIN pcu ON sv.s = pcu.s)
              WHERE rn = 1),
      qsv AS (SELECT q.qid, gs.s AS s, q.qe[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
              FROM q, generate_series(0, 3) gs(s)),
      lutd AS (SELECT qsv.qid, qsv.s, pcu.j, ${l2Sql("qsv.sub", "pcu.u")} AS ld
               FROM qsv JOIN pcu ON qsv.s = pcu.s),
      cand AS (SELECT qp.qid, asg.vec_id
               FROM qp JOIN asg ON qp.list_id = asg.list_id
               WHERE asg.vec_id <> qp.qid),
      pc AS (SELECT c.qid, c.vec_id, e.s, l.ld
             FROM cand c
             JOIN enc e ON c.vec_id = e.vec_id
             JOIN lutd l ON l.qid = c.qid AND l.s = e.s AND l.j = e.j),
      ad AS (SELECT qid, vec_id,
               list_reduce(list(ld ORDER BY s), (x, y) -> x + y) AS adist
             FROM pc GROUP BY qid, vec_id),
      sl AS (SELECT qid, vec_id
             FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
                   FROM ad)
             WHERE rn <= 60),
      pairs AS (SELECT sl.qid, sl.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM sl JOIN d ON sl.vec_id = d.vec_id JOIN q ON sl.qid = q.qid),
      r AS (SELECT qid, vec_id, sim,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
            FROM pairs)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim
      FROM r WHERE rank <= $annK ORDER BY qid, rank"""
  }

  /** Oracle COMPANION for ann_ivfpq_topk — the full billion-vector index
    * COMPOSITION under fixed md5 codebooks: coarse-quantizer list
    * assignment and probe pruning (the ann_ivf_topk_oracle machinery),
    * in-list ADC from one global PQ codebook (the ann_pq_topk_oracle
    * machinery), exact-cosine re-rank. DuckDB replays every stage —
    * with this row all three ANN index shapes (IVF, PQ, IVF-PQ) have
    * their search machinery hash-checked, and ONLY Lloyd training
    * remains rows-only evidence (the trained-config recall floor in DedupSimilaritySpec certifies its quality). */
  val annIvfPqTopKOracle = QueryDef("ann_ivfpq_topk_oracle",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = graft.operators.Ivf.fromCenters(emb, ivfOracleCenters)
      graft.operators.Pq.ivfPqTopK(index, pqOracleCb, annQueries(emb), k = annK,
          nProbe = ivfOracleProbe, shortlist = 60)
        .orderBy("qid", "rank")
    },
    Some(ivfPqOracleSql))

  // ── kmeans_train_oracle ─────────────────────────────────────────────────

  /** k=4 centers × dim=4, two full Lloyd rounds over a 256-point sample —
    * small enough to unroll per-iteration CTEs in the oracle, large
    * enough that every cluster is populated at every scale. */
  private val kmK = 4
  private val kmDim = 4
  private val kmN = 256
  private val kmIters = 2

  /** First-8-hex md5 → long % 16 — the [[graft.functions.TextFunctions.hashBucket]]
    * recipe, driver-side, for the replayable initial centers. */
  private def kmMd5Mod16(sIn: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(sIn.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16) % 16
  }

  /** Replayable initial centers: component (j,t) = md5("graft-km-init:j:t")
    * first-8-hex % 16 — the oracle regenerates them IN SQL. */
  private lazy val kmInitCenters: Array[Array[Double]] =
    Array.tabulate(kmK, kmDim)((j, t) => kmMd5Mod16(s"graft-km-init:$j:$t").toDouble)

  /** One md5-%16 point coordinate in SQL (same bytes as the Spark side). */
  private def kmCoordSql(t: Int): String =
    s"CAST(CAST(('0x' || substring(md5('graft-km:' || CAST(vec_id AS VARCHAR) || ':$t'), 1, 8)) AS BIGINT) % 16 AS DOUBLE)"

  /** The fold-order-exact squared-L2 between point columns x0..x3 and a
    * center row `c` — left-assoc `+` matches the JVM loop's
    * `s += d*d` accumulation (s starts 0.0; 0.0 + d0 == d0). */
  private def kmDistSql(c: String): String =
    (0 until kmDim).map(t => s"(p.x$t - $c.c$t) * (p.x$t - $c.c$t)").mkString(" + ")

  /** One Lloyd round in SQL: assignment CTE (argmin of [[kmDistSql]], ties
    * to the lowest center id) + update CTE (exact integer coordinate sums
    * → one IEEE division each; an empty cluster COALESCEs to its previous
    * center — the `counts(ci) > 0` branch). */
  private def kmRoundSql(prev: String, a: String, u: String, next: String): String = {
    val sums = (0 until kmDim).map(t => s"SUM(p.x$t) AS s$t").mkString(", ")
    val means = (0 until kmDim)
      .map(t => s"COALESCE($u.s$t / CAST($u.n AS DOUBLE), $prev.c$t) AS c$t")
      .mkString(", ")
    s"""$a AS (SELECT vec_id, j FROM (
          SELECT p.vec_id, $prev.j,
            ROW_NUMBER() OVER (PARTITION BY p.vec_id
              ORDER BY ${kmDistSql(prev)} ASC, $prev.j ASC) AS rn
          FROM p, $prev) WHERE rn = 1),
      $u AS (SELECT j, $sums, COUNT(*) AS n
             FROM p JOIN $a USING (vec_id) GROUP BY j),
      $next AS (SELECT $prev.j, $means
                FROM $prev LEFT JOIN $u ON $prev.j = $u.j)"""
  }

  private def kmeansOracleSql: String = {
    val ptCols = (0 until kmDim).map(t => s"${kmCoordSql(t)} AS x$t").mkString(", ")
    val initCols = (0 until kmDim).map(t =>
      s"CAST(CAST(('0x' || substring(md5('graft-km-init:' || CAST(j AS VARCHAR) || ':$t'), 1, 8)) AS BIGINT) % 16 AS DOUBLE) AS c$t")
      .mkString(", ")
    val outCenters = (0 until kmDim).map(t => s"ROUND(it2.c$t, 6) AS c$t").mkString(", ")
    s"""WITH ids AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $kmN),
      p AS (SELECT vec_id, $ptCols FROM ids),
      it0 AS (SELECT j, $initCols FROM generate_series(0, ${kmK - 1}) g(j)),
      ${kmRoundSql("it0", "a1", "u1", "it1")},
      ${kmRoundSql("it1", "a2", "u2", "it2")},
      afin AS (SELECT vec_id, j FROM (
          SELECT p.vec_id, it2.j,
            ROW_NUMBER() OVER (PARTITION BY p.vec_id
              ORDER BY ${kmDistSql("it2")} ASC, it2.j ASC) AS rn
          FROM p, it2) WHERE rn = 1),
      nm AS (SELECT j, COUNT(*) AS n_members FROM afin GROUP BY j)
      SELECT afin.vec_id, CAST(afin.j AS BIGINT) AS list_id, $outCenters,
        CAST(nm.n_members AS BIGINT) AS n_members
      FROM afin JOIN it2 ON afin.j = it2.j JOIN nm ON afin.j = nm.j
      ORDER BY afin.vec_id"""
  }

  /** The Lloyd TRAINING machinery under the hash oracle — the piece every
    * earlier ANN companion left as "unverifiable driver state". The REAL
    * [[graft.operators.Ivf.lloydIterations]] (the exact update loop
    * `Ivf.build` runs after k-means++ seeding: argmin assignment with
    * ties to the lowest index, per-cluster means, empty-cluster
    * carryover) runs on a bounded deterministic engine-side sample —
    * md5-derived INTEGER coordinates, so every per-cluster coordinate sum
    * is exact regardless of accumulation order and every center is a
    * single IEEE division — from md5-derived initial centers the oracle
    * regenerates in SQL. DuckDB replays both Lloyd rounds CTE by CTE
    * (assignment distances fold in coordinate order on both sides) and
    * the final [[graft.operators.Ivf.fromCenters]] assignment, pinning
    * every trained center coordinate, every point's final cluster and
    * every cluster size. After this row, ONLY the k-means++ seeding draw
    * (scala.util.Random — inherently engine-private) remains outside the
    * oracle, and its quality is already certified by the trained-config recall
    * floor (DedupSimilaritySpec). (Replay precondition, vacuously true on md5-spread data: the
    * first round must assign at least one point away from center 0,
    * else the JVM's `moved` short-circuit would skip round 2.) */
  val kmeansTrainOracle = QueryDef("kmeans_train_oracle",
    (s, dir) => {
      import graft.functions.TextFunctions.hashBucket
      val pts = table(s, dir, "embeddings").select(col("vec_id"))
        .orderBy("vec_id").limit(kmN)
        .select(col("vec_id") +: (0 until kmDim).map(t =>
          hashBucket(concat(col("vec_id").cast("string"), lit(":" + t)),
            "graft-km", 16).cast("double").as(s"x$t")): _*)
      // bounded deterministic driver sample — the Ivf.build collect shape
      val sample: Array[Array[Double]] = pts.orderBy("vec_id").collect() // bounded: ≤ kmN sample rows
        .map(r => Array.tabulate(kmDim)(t => r.getDouble(1 + t)))
      val centers = graft.operators.Ivf.lloydIterations(sample, kmInitCenters, kmIters)
      // engine-side final assignment through the real argmin (float cast
      // is exact: coordinates are integers in [0, 16))
      val withVec = pts.withColumn("p",
        array((0 until kmDim).map(t => col(s"x$t")): _*).cast("array<float>"))
      val assigned = graft.operators.Ivf.fromCenters(withVec, centers, vecCol = "p").assigned
      import s.implicits._
      val centersDf = broadcast(
        centers.zipWithIndex.map { case (c, j) => (j, c(0), c(1), c(2), c(3)) }
          .toSeq.toDF("list_id", "kc0", "kc1", "kc2", "kc3"))
      val sizes = assigned.groupBy("list_id").agg(count(lit(1)).as("n_members"))
      val outCols = Seq(col("vec_id"), col("list_id").cast("long").as("list_id")) ++
        (0 until kmDim).map(t => round(col(s"kc$t"), 6).as(s"c$t")) ++
        Seq(col("n_members"))
      assigned.join(centersDf, "list_id").join(broadcast(sizes), "list_id")
        .select(outCols: _*)
        .orderBy("vec_id")
    },
    Some(kmeansOracleSql))

  /** Embedding-corpus QA gate — the sanity pass an embedding pipeline
    * runs before indexing: detect degenerate (zero/near-zero-norm)
    * vectors and report per-label norm statistics (count, degenerate
    * count, mean/min/max norm). Degenerates are deterministically
    * synthesized (every 17th vector zeroed — the pii_scrub precedent)
    * so the detection path fires at every scale. Norms are the
    * documented left-fold + sqrt (IEEE-correctly-rounded, unlike
    * log/exp — replayable); the mean accumulates in DECIMAL
    * (order-free). One narrow pass + one partial-agg shuffle on the
    * tiny label key. */
  val embeddingStatsQ = QueryDef("embedding_stats",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val base = table(s, dir, "embeddings")
        .withColumn("embedding",
          when(col("vec_id") % 17 === 0,
            transform(col("embedding"), _ => lit(0.0f))).otherwise(col("embedding")))
        .withColumn("nrm", Similarity.l2Norm(col("embedding")))
        .withColumn("degenerate", (col("nrm") < 1e-6).cast("int"))
      base.groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          sum(col("degenerate")).cast("long").as("n_degenerate"),
          round(sum(when(col("degenerate") === 0, col("nrm")).otherwise(lit(0.0))
              .cast(DecimalType(25, 15))).cast("double") /
            sum(lit(1) - col("degenerate")), 6).as("mean_norm"),
          round(min(when(col("degenerate") === 0, col("nrm"))), 6).as("min_norm"),
          round(max(col("nrm")), 6).as("max_norm"))
        .orderBy("label")
    },
    Some(s"""WITH e AS (SELECT vec_id, label,
          CASE WHEN vec_id % 17 = 0
               THEN [CAST(0.0 AS FLOAT) for x in embedding]
               ELSE embedding END AS embedding
        FROM embeddings),
      n AS (SELECT vec_id, label, ${normSql("embedding")} AS nrm FROM e),
      f AS (SELECT label, nrm,
              CASE WHEN nrm < 0.000001 THEN 1 ELSE 0 END AS degenerate FROM n)
      SELECT label, COUNT(*) AS n_vecs,
        CAST(SUM(degenerate) AS BIGINT) AS n_degenerate,
        ROUND(CAST(SUM(CAST(CASE WHEN degenerate = 0 THEN nrm ELSE 0.0 END AS DECIMAL(25,15))) AS DOUBLE) /
          SUM(1 - degenerate), 6) AS mean_norm,
        ROUND(MIN(CASE WHEN degenerate = 0 THEN nrm END), 6) AS min_norm,
        ROUND(MAX(nrm), 6) AS max_norm
      FROM f GROUP BY label ORDER BY label"""))

  private def ivfProbeSweepSql: String = {
    val probes = Seq(1, 2, 4, 8)
    val perProbe = probes.map { p =>
      s"""qp$p AS (SELECT qid, c AS list_id FROM qr WHERE rn <= $p),
      pr$p AS (SELECT q.qid, d.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM qp$p
        JOIN asg ON qp$p.list_id = asg.list_id
        JOIN d ON asg.vec_id = d.vec_id
        JOIN q ON qp$p.qid = q.qid
        WHERE d.vec_id <> q.qid),
      r$p AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
          FROM pr$p) WHERE rank <= $annK),
      h$p AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits
              FROM r$p JOIN bfr USING (qid, vec_id))"""
    }.mkString(",\n      ")
    val sel = probes.map(p =>
      s"SELECT $p AS n_probe, h$p.hits, h$p.hits * 1000000 // tot.n_rel AS recall_ppm FROM h$p CROSS JOIN tot")
      .mkString(" UNION ALL ")
    s"""WITH ct AS ($ivfCentroidRowsSql),
      cu AS (SELECT c, [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM ct),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      ad AS (SELECT d.vec_id, cu.c, ${l2Sql("d.embedding", "cu.u")} AS dist FROM d, cu),
      asg AS (SELECT vec_id, c AS list_id
              FROM (SELECT vec_id, c,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
                    FROM ad) WHERE rn = 1),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm
            FROM d WHERE vec_id % 50 = 0),
      qr AS (SELECT q.qid, cu.c,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                 ORDER BY ${l2Sql("q.qe", "cu.u")} ASC, cu.c ASC) AS rn
             FROM q, cu),
      bfp AS (SELECT q.qid, d.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM d, q WHERE d.vec_id <> q.qid),
      bfr AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
          FROM bfp) WHERE rank <= $annK),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM bfr),
      $perProbe
      $sel ORDER BY n_probe"""
  }

  /** IVF probe-budget sweep — the ANN analog of lsh_calibration (the
    * report an index owner reads before fixing nProbe in production):
    * recall@$k$ against in-engine brute force at nProbe ∈ {1, 2, 4, 8}
    * over the SAME md5-codebook index the ann_ivf_topk_oracle machinery
    * runs, so the entire sweep — assignment, probe ordering, candidate
    * joins, both rankings, the hit counts — replays in SQL. The nProbe=8
    * row probes every list and must read recall_ppm = 1000000 exactly
    * (candidate set degenerates to brute force): a self-certifying anchor
    * hashed alongside the curve. Scale shape: one shared assignment, four
    * probed candidate joins each touching nProbe/nLists of the corpus,
    * one broadcast brute-force truth (the sweep runs on a SAMPLE in
    * production — that is its entire point). */
  val ivfProbeSweep = QueryDef("ivf_probe_sweep",
    (s, dir) => {
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val index = graft.operators.Ivf.fromCenters(emb, ivfOracleCenters)
      val q = annQueries(emb)
      val bf = Similarity.bruteForceTopK(emb, q, annK)
        .select("qid", "vec_id").localCheckpoint() // truth read by all 4 sweeps
      val tot = bf.agg(count(lit(1)).as("n_rel"))
      Seq(1, 2, 4, 8).map { p =>
        graft.operators.Ivf.topK(index, q, k = annK, nProbe = p)
          .select("qid", "vec_id")
          .join(bf, Seq("qid", "vec_id"))
          .agg(count(lit(1)).as("hits"))
          .select(lit(p).as("n_probe"), col("hits"))
      }.reduce(_ unionByName _)
        .crossJoin(broadcast(tot))
        .select(col("n_probe"), col("hits"),
          expr("hits * 1000000 div n_rel").as("recall_ppm"))
        .orderBy("n_probe")
    },
    Some(ivfProbeSweepSql))

  /** 63-bit sign-pattern code (dims 1..63 — 63 keeps every partial sum
    * below 2^63 so the bit-build folds identically in engines with
    * checked int64 overflow). Shared by `ann_binary_topk` and the
    * `ann_recall_tiers` floor. */
  private def signCode63(vec: org.apache.spark.sql.Column) =
    Similarity.signCode63(vec)

  /** Hamming-shortlist binary search: sign codes, one xor+popcount per
    * candidate, exact-cosine re-rank of the `shortlist` rows only.
    * Callers checkpoint `emb` when it is re-read (code build + re-rank
    * fetch). */
  private def binaryTopK(emb: org.apache.spark.sql.DataFrame,
                         q: org.apache.spark.sql.DataFrame,
                         k: Int, shortlist: Int): org.apache.spark.sql.DataFrame = {
    val codes = emb.select(col("vec_id"), signCode63(col("embedding")).as("cd"))
    val qc = q.select(col("qid"), signCode63(col("qvec")).as("qcd"))
    val ham = codes.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (lit(64.0) - call_function("bit_count",
          col("cd").bitwiseXOR(col("qcd"))).cast("double")).as("sim"))
    val sl = Similarity.rankTopK(ham, shortlist, "qid", "vec_id")
      .select(col("qid"), col("vec_id"))
    val rr = sl
      .join(emb, "vec_id")
      .join(broadcast(q), "qid")
      .withColumn("sim", Similarity.cosine(col("embedding"), col("qvec")))
      .select(col("qid"), col("vec_id"), col("sim"))
    Similarity.rankTopK(rr, k, "qid", "vec_id")
  }

  /** Count-scaled exact-rerank shortlist for the quantization tiers
    * (binary / sampled-PQ): max(100, min(n/4, 4k·√n)) — SUBLINEAR past
    * the n = 16·(4k)² = 6400 crossover (r14 verdict task 1: the old
    * n/4 rule re-ranked a quarter of the corpus in exact cosine per
    * query forever — recall "held at scale" because the scan fraction
    * never shrank). Why √n is enough where a FIXED shortlist was not
    * (measured recall@5 at a fixed 60 fell 0.88 → 0.51 from n=500 to
    * n=2000): the true neighbors' compact-code similarity sits a fixed
    * number of σ above the unrelated-pair distribution, so the count of
    * unrelated candidates above any fixed code-similarity level grows
    * ∝ n·tail — holding the CUT LEVEL needs a shortlist ∝ n — but
    * pushing the cut one σ tighter per 4× corpus growth (what a √n
    * shortlist does) costs only the neighbors' own tail, which thins as
    * the density of near neighbors RISES with n. The 4k·√n constant is
    * probe-calibrated: the r15 50×/100× `recall_tiers` run scores this
    * exact law with a measured scan-fraction column (floor ≥ 0.9 held
    * with the fraction falling ∝ 1/√n). min() pins every registered
    * scale (n ≤ 2048) EXACTLY on the certified n/4 values — the
    * `lshTablesFor` discipline. Integer rule from a COUNT, isqrt is
    * IEEE-exact in both engines → the oracle replays it. */
  private val shortlistPerSqrt = 4 * annK
  private def scaledShortlist(n: Long): Int =
    math.max(100L, math.min(n / 4, shortlistPerSqrt * isqrt(n))).toInt
  /** SQL twin of [[scaledShortlist]] over a count expression. */
  private def shortlistSqlOf(nSql: String): String =
    s"GREATEST(100, LEAST(($nSql) // 4, $shortlistPerSqrt * ${isqrtSql(nSql)}))"
  /** Spec seam for the shortlist law. */
  private[graft] def shortlistForCount(n: Long): Int = scaledShortlist(n)

  /** Binary (sign-bit) embedding quantization + Hamming retrieval — the
    * 32× compression tier below PQ that vector stores ship as "binary
    * quantization": each vector's SIGN PATTERN packs into one long, the
    * exhaustive search is one xor+popcount per candidate (the whole
    * point: a binary scan of a billion vectors is a few GB), and the
    * Hamming shortlist re-ranks with exact cosine fetched for shortlist
    * rows only — [[scaledShortlist]] rows, so the recall floor holds at
    * every corpus size (`ann_recall_tiers` certifies ≥ 0.9 under hash).
    * Every stage — codes, xor, popcount, both ranks — replays in SQL. */
  val annBinaryTopK = QueryDef("ann_binary_topk",
    (s, dir) => {
      val raw = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val shortlist = scaledShortlist(Similarity.corpusCount(raw))
      val emb = raw.localCheckpoint() // read by code build, query slice, re-rank fetch
      binaryTopK(emb, annQueries(emb), annK, shortlist)
        .orderBy("qid", "rank")
    },
    Some(s"""WITH cd AS (SELECT vec_id,
        list_reduce([CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                          THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END
                     for i in generate_series(1, 63)], (a, b) -> a + b) AS code
      FROM embeddings),
      slv AS (SELECT ${shortlistSqlOf("SELECT COUNT(*) FROM embeddings")} AS sl),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM d WHERE vec_id % 50 = 0),
      qc AS (SELECT cd.vec_id AS qid, cd.code AS qcode FROM cd WHERE cd.vec_id % 50 = 0),
      h AS (SELECT qc.qid, cd.vec_id,
              64.0 - CAST(bit_count(xor(cd.code, qc.qcode)) AS DOUBLE) AS hsim
            FROM cd, qc WHERE cd.vec_id <> qc.qid),
      sl AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hsim DESC, vec_id ASC) AS rn
          FROM h) WHERE rn <= (SELECT sl FROM slv)),
      rr AS (SELECT sl.qid, sl.vec_id,
               CASE WHEN d.nrm > 0 AND q.qnrm > 0
                    THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
                    ELSE 0.0 END AS sim
             FROM sl JOIN d ON d.vec_id = sl.vec_id JOIN q ON q.qid = sl.qid)
      SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, sim FROM (
        SELECT qid, vec_id, sim,
          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
        FROM rr) WHERE rank <= $annK ORDER BY qid, rank"""))

  /** Chunk-embedding mean pooling — the aggregation step every long-doc
    * retrieval/embedding pipeline runs (embed chunks, pool back to one
    * doc vector). The FLOAT hazard is the whole point of the exercise: a
    * naive elementwise sum across a shuffle is accumulation-order
    * nondeterministic, so the pool here is an ORDERED left fold — chunks
    * collect per doc, sort by chunk index, fold zip-with-add from a zero
    * vector, divide by the count — giving byte-identical pools on every
    * run and an exact SQL replay (the oracle unrolls the same fold in
    * chunk order). Chunks are deterministic per-index perturbations of
    * the doc vector (the model seam's stand-in); outputs are scalars
    * (first component, norm, cosine vs the original — which pooling must
    * keep ≈ 1). Per-doc chunk counts are bounded, so the sort+fold is
    * O(chunks) per key — no corpus-wide sort. */
  val embeddingPool = QueryDef("embedding_pool",
    (s, dir) => {
      val nChunks = 4
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val chunks = emb
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(nChunks - 1))).as("ci"))
        .select(col("vec_id"), col("ci"), col("embedding"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") * (lit(1.0) +
              (((i * (col("ci") + 1)) % 7) - 3).cast("double") / lit(100.0))).as("cv"))
      val pooled = chunks.groupBy("vec_id")
        .agg(first(col("embedding")).as("embedding"),
          sort_array(collect_list(struct(col("ci"), col("cv")))).as("cs"))
        .withColumn("pooled",
          transform(
            aggregate(col("cs"),
              // zero accumulator built from the row's own embedding so the
              // fold never null-pads if the fixture dimension changes
              transform(col("embedding"), _ => lit(0.0)),
              (acc, s) => zip_with(acc, s.getField("cv"), (a, b) => a + b)),
            x => x / lit(nChunks.toDouble)))
      pooled.select(col("vec_id"),
          lit(nChunks).as("n_chunks"),
          element_at(col("pooled"), 1).as("pooled_c0"),
          Similarity.l2Norm(col("pooled")).as("pooled_norm"),
          Similarity.cosineHof(col("pooled"), col("embedding")).as("cos_orig"))
        .orderBy("vec_id")
    },
    Some {
      def cv(c: Int) =
        s"[CAST(embedding[i] AS DOUBLE) * (1.0 + CAST((((i - 1) * ${c + 1}) % 7) - 3 AS DOUBLE) / 100.0) for i in generate_series(1, len(embedding))]"
      s"""WITH d AS (SELECT vec_id, embedding,
          ${cv(0)} AS c0, ${cv(1)} AS c1, ${cv(2)} AS c2, ${cv(3)} AS c3
        FROM embeddings),
      p AS (SELECT vec_id, embedding,
          [((((0.0 + c0[i]) + c1[i]) + c2[i]) + c3[i]) / 4.0
           for i in generate_series(1, len(c0))] AS pooled
        FROM d),
      m AS (SELECT vec_id, pooled, embedding,
          sqrt(list_reduce([x * x for x in pooled], (a, b) -> a + b)) AS pn,
          ${normSql("embedding")} AS en,
          list_reduce([pooled[i] * CAST(embedding[i] AS DOUBLE)
                       for i in generate_series(1, len(pooled))], (a, b) -> a + b) AS dp
        FROM p)
      SELECT vec_id, 4 AS n_chunks, pooled[1] AS pooled_c0, pn AS pooled_norm,
        CASE WHEN pn > 0 AND en > 0 THEN dp / (pn * en) ELSE 0.0 END AS cos_orig
      FROM m ORDER BY vec_id"""
    })

  // ── ann_recall_tiers ────────────────────────────────────────────────────

  /** Tiers IVF configuration — [[ivfListsLaw]]/[[ivfProbeLaw]] at the md5
    * replayable base (8 lists, probe 4; 2·isqrt(8) = 4 so the base IS
    * the law's fixed point, and every registered scale n ≤ 2048 stays on
    * the certified 8/4 config). Centers are md5-derived at the law-sized
    * count ([[Similarity.md5Planes]] with the `graft-ivf-oracle` salt —
    * the SAME generator behind [[ivfCentroidRowsSql]]'s fixed 8), so the
    * SQL twin regenerates them from the corpus COUNT alone. */
  private val tiersIvfListsBase = 8
  private val tiersIvfProbeBase = 4
  private def tiersIvfListsFor(n: Long): Int = ivfListsLaw(n, tiersIvfListsBase)
  private def tiersIvfProbeFor(nLists: Int): Int = ivfProbeLaw(nLists, tiersIvfProbeBase)
  /** Spec seam for the tiers IVF laws. */
  private[graft] def tiersIvfConfigForCount(n: Long): (Int, Int) = {
    val l = tiersIvfListsFor(n); (l, tiersIvfProbeFor(l))
  }
  private def tiersIvfCenters(n: Long): Array[Array[Double]] =
    Similarity.md5Planes(tiersIvfListsFor(n), 1, 64, "graft-ivf-oracle")(0)
  private val tiersPqCentroids = 256

  /** Data-sampled replayable PQ codebooks: centroid j of subspace s = the
    * s-th 16-dim slice of the corpus vector with the (j+1)-smallest
    * (md5 sample hash, vec_id) — distribution-matched like trained
    * codebooks (md5-random cube centroids measured 0.32-0.68 recall@5;
    * sampled ones 0.91-0.96 at the scaled shortlist), yet an external
    * engine re-derives them from the same table with one ORDER BY …
    * LIMIT. Bounded driver state (nC×64 doubles), one TakeOrdered job. */
  private def sampledPqCb(emb: org.apache.spark.sql.DataFrame,
                          nC: Int): graft.operators.Pq.Codebooks = {
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = emb
      .withColumn("h", graft.operators.Dedup.md5Hash60(
        concat(lit("graft-pq-sample:"), col("vec_id").cast("string"))))
      .orderBy(col("h"), col("vec_id")).limit(nC)
      .select("embedding").as[Seq[Float]].collect() // bounded: ≤ nC sample rows
      .map(_.toArray.map(_.toDouble))
    graft.operators.Pq.Codebooks(4, 16, Array.tabulate(4)(s =>
      rows.map(p => java.util.Arrays.copyOfRange(p, s * 16, (s + 1) * 16))))
  }

  /** The sampled-codebook selection + per-subspace centroid lists in SQL
    * (`cbs` hash-ordered rows → `pcb(j, s, u)` double lists). */
  private def sampledCbCtesSql: String =
    s"""cbs AS (SELECT embedding, j FROM (
        SELECT embedding,
          ROW_NUMBER() OVER (ORDER BY
            CAST(('0x' || substring(md5('graft-pq-sample:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) ASC,
            vec_id ASC) - 1 AS j
        FROM embeddings) WHERE j < $tiersPqCentroids),
      pcb AS (SELECT j, gs.s AS s,
               [CAST(embedding[gs.s * 16 + i] AS DOUBLE) for i in generate_series(1, 16)] AS u
             FROM cbs, generate_series(0, 3) gs(s))"""

  /** DuckDB replay of the ENTIRE six-tier floor: shared brute-force
    * truth (`bfp` carries the exact cosine of every (query, candidate)
    * pair, so each tier's exact re-rank stage reuses it), the LSH
    * auto-depth chain, md5-IVF assignment/probing, sampled-codebook PQ
    * encode + ADC, the IVF-PQ composition, binary sign codes, and the
    * matryoshka funnel over the decayed corpus vs its own truth — then
    * per-tier hit counts and the integer-ppm floor. */
  private def tiersOracleSql: String = {
    s"""WITH d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      nn AS (SELECT COUNT(*) AS n FROM embeddings),
      slv AS (SELECT ${shortlistSqlOf("SELECT n FROM nn")} AS sl),
      q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qnrm FROM d WHERE vec_id % 50 = 0),
      bfp AS (SELECT q.qid, d.vec_id,
          CASE WHEN d.nrm > 0 AND q.qnrm > 0
               THEN ${dotSql("d.embedding", "q.qe")} / (d.nrm * q.qnrm)
               ELSE 0.0 END AS sim
        FROM d, q WHERE d.vec_id <> q.qid),
      bfr AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
          FROM bfp) WHERE rank <= $annK),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM bfr),
      depth AS (SELECT LEAST($lshMaxPlanes, GREATEST($lshPlanes,
          (SELECT MIN(p) FROM generate_series(0, 40) g(p)
           WHERE (CAST(64 AS BIGINT) << p) >= (SELECT n FROM nn)))) AS planes),
      dt AS (SELECT planes, $lshTablesSql AS tables
             FROM depth),
      pl AS (SELECT tt.t AS t, tj.j AS j,
               list(CAST(('0x' || substring(md5('graft-lsh:' || CAST(tt.t AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, 1023) tt(t),
                  generate_series(0, ${lshMaxPlanes - 1}) tj(j),
                  generate_series(0, 63) ti(i), dt
             WHERE tt.t < dt.tables AND tj.j < dt.planes
             GROUP BY tt.t, tj.j),
      pu AS (SELECT t, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM pl),
      dots AS (SELECT d.vec_id, pu.t, pu.j,
          ${dotSql("d.embedding", "pu.u")} AS dp
        FROM d, pu),
      bk AS (SELECT vec_id, t,
               SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS bucket
             FROM dots GROUP BY vec_id, t),
      qb AS (SELECT vec_id AS qid, t, bucket FROM bk WHERE vec_id % 50 = 0),
      lcand AS (SELECT DISTINCT qb.qid, c.vec_id
               FROM qb JOIN bk c ON qb.t = c.t AND qb.bucket = c.bucket
               WHERE c.vec_id <> qb.qid),
      lshtop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM lcand JOIN bfp p USING (qid, vec_id)) WHERE rank <= $annK),
      lc AS (SELECT ${ivfListsSqlOf("SELECT n FROM nn", tiersIvfListsBase)} AS nlists),
      lp AS (SELECT ${ivfProbeSqlOf("SELECT nlists FROM lc", tiersIvfProbeBase)} AS np),
      ct AS (SELECT cc.c AS c,
               list(CAST(('0x' || substring(md5('graft-ivf-oracle:0:' || CAST(cc.c AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, 4095) cc(c), generate_series(0, 63) ti(i), lc
             WHERE cc.c < lc.nlists
             GROUP BY cc.c),
      cu AS (SELECT c, [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM ct),
      ad AS (SELECT d.vec_id, cu.c, ${l2Sql("d.embedding", "cu.u")} AS dist
             FROM d, cu),
      asg AS (SELECT vec_id, c AS list_id
              FROM (SELECT vec_id, c,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, c ASC) AS rn
                    FROM ad)
              WHERE rn = 1),
      qp AS (SELECT qid, c AS list_id
             FROM (SELECT q.qid, cu.c,
                     ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY ${l2Sql("q.qe", "cu.u")} ASC, cu.c ASC) AS rn
                   FROM q, cu)
             WHERE rn <= (SELECT np FROM lp)),
      ivftop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM qp JOIN asg ON qp.list_id = asg.list_id
          JOIN bfp p ON p.qid = qp.qid AND p.vec_id = asg.vec_id) WHERE rank <= $annK),
      $sampledCbCtesSql,
      sv AS (SELECT d.vec_id, gs.s AS s,
               d.embedding[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
             FROM d, generate_series(0, 3) gs(s)),
      enc AS (SELECT vec_id, s, j
              FROM (SELECT sv.vec_id, sv.s, pcb.j,
                      ROW_NUMBER() OVER (PARTITION BY sv.vec_id, sv.s
                        ORDER BY ${l2Sql("sv.sub", "pcb.u")} ASC, pcb.j ASC) AS rn
                    FROM sv JOIN pcb ON sv.s = pcb.s)
              WHERE rn = 1),
      qsv AS (SELECT q.qid, gs.s AS s, q.qe[gs.s * 16 + 1 : gs.s * 16 + 16] AS sub
              FROM q, generate_series(0, 3) gs(s)),
      lutd AS (SELECT qsv.qid, qsv.s, pcb.j, ${l2Sql("qsv.sub", "pcb.u")} AS ld
               FROM qsv JOIN pcb ON qsv.s = pcb.s),
      ppc AS (SELECT l.qid, e.vec_id, e.s, l.ld
             FROM enc e JOIN lutd l ON e.s = l.s AND e.j = l.j),
      pad AS (SELECT qid, vec_id,
               list_reduce(list(ld ORDER BY s), (x, y) -> x + y) AS adist
             FROM ppc WHERE vec_id <> qid GROUP BY qid, vec_id),
      psl AS (SELECT qid, vec_id
             FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
                   FROM pad)
             WHERE rn <= (SELECT sl FROM slv)),
      pqtop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM psl JOIN bfp p USING (qid, vec_id)) WHERE rank <= $annK),
      cand2 AS (SELECT qp.qid, asg.vec_id
               FROM qp JOIN asg ON qp.list_id = asg.list_id
               WHERE asg.vec_id <> qp.qid),
      pc2 AS (SELECT c.qid, c.vec_id, e.s, l.ld
             FROM cand2 c
             JOIN enc e ON c.vec_id = e.vec_id
             JOIN lutd l ON l.qid = c.qid AND l.s = e.s AND l.j = e.j),
      ad2 AS (SELECT qid, vec_id,
               list_reduce(list(ld ORDER BY s), (x, y) -> x + y) AS adist
             FROM pc2 GROUP BY qid, vec_id),
      sl2 AS (SELECT qid, vec_id
             FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) AS rn
                   FROM ad2)
             WHERE rn <= (SELECT sl FROM slv)),
      ivfpqtop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM sl2 JOIN bfp p USING (qid, vec_id)) WHERE rank <= $annK),
      bcd AS (SELECT vec_id,
        list_reduce([CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0
                          THEN CAST(1 AS BIGINT) << (i - 1) ELSE CAST(0 AS BIGINT) END
                     for i in generate_series(1, 63)], (a, b) -> a + b) AS code
      FROM embeddings),
      bqc AS (SELECT vec_id AS qid, code AS qcode FROM bcd WHERE vec_id % 50 = 0),
      bh AS (SELECT bqc.qid, bcd.vec_id,
              64.0 - CAST(bit_count(xor(bcd.code, bqc.qcode)) AS DOUBLE) AS hsim
            FROM bcd, bqc WHERE bcd.vec_id <> bqc.qid),
      bsl AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY hsim DESC, vec_id ASC) AS rn
          FROM bh) WHERE rn <= (SELECT sl FROM slv)),
      bintop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM bsl JOIN bfp p USING (qid, vec_id)) WHERE rank <= $annK),
      md AS (SELECT vec_id,
               [CAST(CAST(embedding[i] AS DOUBLE) / CAST(i AS DOUBLE) AS FLOAT)
                for i in generate_series(1, len(embedding))] AS embedding
             FROM embeddings),
      mdp AS (SELECT vec_id, embedding, list_slice(embedding, 1, $mrlPrefixDim) AS pv FROM md),
      mdn AS (SELECT vec_id, embedding, pv, ${normSql("pv")} AS pnrm,
                ${normSql("embedding")} AS fnrm FROM mdp),
      mq AS (SELECT vec_id AS qid, embedding AS qe, pv AS qpv, pnrm AS qpnrm,
               fnrm AS qfnrm FROM mdn WHERE vec_id % 50 = 0),
      mbfp AS (SELECT mq.qid, c.vec_id,
          CASE WHEN c.fnrm > 0 AND mq.qfnrm > 0
               THEN ${dotSql("c.embedding", "mq.qe")} / (c.fnrm * mq.qfnrm)
               ELSE 0.0 END AS sim
        FROM mdn c, mq WHERE c.vec_id <> mq.qid),
      mbfr AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id ASC) AS rank
          FROM mbfp) WHERE rank <= $annK),
      mtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM mbfr),
      mc AS (SELECT c.vec_id, mq.qid,
          CASE WHEN c.pnrm > 0 AND mq.qpnrm > 0
               THEN ${dotSql("c.pv", "mq.qpv")} / (c.pnrm * mq.qpnrm)
               ELSE 0.0 END AS psim
        FROM mdn c, mq WHERE c.vec_id <> mq.qid),
      msl AS (SELECT qid, vec_id FROM (
          SELECT qid, vec_id,
            ROW_NUMBER() OVER (PARTITION BY qid ORDER BY psim DESC, vec_id ASC) AS r
          FROM mc) WHERE r <= $mrlShortlist),
      mrltop AS (SELECT qid, vec_id FROM (
          SELECT p.qid, p.vec_id,
            ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY p.sim DESC, p.vec_id ASC) AS rank
          FROM msl JOIN mbfp p USING (qid, vec_id)) WHERE rank <= $annK),
      hb AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM bintop t JOIN bfr USING (qid, vec_id)),
      hi AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM ivftop t JOIN bfr USING (qid, vec_id)),
      hq AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM ivfpqtop t JOIN bfr USING (qid, vec_id)),
      hl AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM lshtop t JOIN bfr USING (qid, vec_id)),
      hm AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM mrltop t JOIN mbfr USING (qid, vec_id)),
      hp AS (SELECT CAST(COUNT(*) AS BIGINT) AS hits FROM pqtop t JOIN bfr USING (qid, vec_id)),
      res AS (
        SELECT 'binary' AS method, (SELECT hits FROM hb) AS hits, (SELECT n_rel FROM tot) AS total
        UNION ALL SELECT 'ivf', (SELECT hits FROM hi), (SELECT n_rel FROM tot)
        UNION ALL SELECT 'ivfpq', (SELECT hits FROM hq), (SELECT n_rel FROM tot)
        UNION ALL SELECT 'lsh', (SELECT hits FROM hl), (SELECT n_rel FROM tot)
        UNION ALL SELECT 'mrl', (SELECT hits FROM hm), (SELECT n_rel FROM mtot)
        UNION ALL SELECT 'pq', (SELECT hits FROM hp), (SELECT n_rel FROM tot))
      SELECT method, CAST($annK AS BIGINT) AS k, hits, total,
        hits * 1000000 // total AS recall_ppm
      FROM res WHERE hits * 1000000 // total >= 900000 ORDER BY method"""
  }

  /** The six-tier hash-certified recall floor — the completion of
    * the retired rows-only `ann_recall` floor: EVERY registered retrieval tier
    * (binary, ivf, ivfpq, lsh, mrl, pq) under a fully SQL-replayable
    * configuration, scored against in-engine brute-force truth, one row
    * per method EMITTED ONLY IF recall_ppm ≥ 900000 — six rows present
    * certifies every tier, and the whole computation (codes, candidates,
    * ranks, truth, hit counts, the ppm floor itself) is hash-checked, so
    * the floor can never drift from the shipped machinery. The Lloyd-TRAINED
    * production configs (inherently oracle-free) keep their own floor as
    * sbt-test evidence: [[trainedRecallFloor]] in DedupSimilaritySpec. Replayable configs: lsh = the registered corpus-sized
    * auto-depth; ivf = the md5 codebook at nProbe 4 of 8 lists (half the
    * index — not brute force); pq / ivfpq = [[sampledPqCb]] codebooks
    * with the [[scaledShortlist]] re-rank; binary = the registered
    * scaled shortlist; mrl = the registered prefix-16 funnel over a
    * variance-decayed corpus (×1/(i+1) per dimension — the distribution
    * MRL training produces) built deterministically in-query and scored
    * against ITS OWN brute-force truth, so the mrl floor is meaningful
    * (on information-flat vectors a prefix is a random ¼-projection —
    * recall 0.15-0.42; the flat-corpus exclusion was previously only
    * spec-level). Measured: binary 0.94-0.95, ivf 0.96-0.98,
    * ivfpq 0.91-0.96, lsh 0.90-0.97, mrl 1.0, pq 0.935-0.96 across
    * sf0.001-0.1. */
  val annRecallTiers = QueryDef("ann_recall_tiers",
    (s, dir) => {
      val k = annK
      val raw = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val n = Similarity.corpusCount(raw)
      val sl = scaledShortlist(n)
      val emb = raw.localCheckpoint() // read by truth + all five flat tiers
      val q = annQueries(emb)
      val truth = Similarity.bruteForceTopK(emb, q, k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      def floorRow(method: String, approx: org.apache.spark.sql.DataFrame,
                   tr: org.apache.spark.sql.DataFrame) = {
        val total = tr.agg(count(lit(1)).as("total"))
        approx.select(col("qid"), col("vec_id"))
          .join(tr, Seq("qid", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(total))
          // gate on the exact integer ppm (never a rounded float)
          .select(lit(method).as("method"), lit(k.toLong).as("k"),
            col("hits"), col("total"),
            expr("hits * 1000000 div total").as("recall_ppm"))
          .filter(col("recall_ppm") >= 900000)
      }
      val lshPm = { val (p, t) = lshDepth(n); Similarity.md5Planes(p, t, 64) }
      val lsh = Similarity.lshTopKPlanes(emb, q, k, lshPm)
      val index = graft.operators.Ivf.fromCenters(emb, tiersIvfCenters(n))
      val nProbe = tiersIvfProbeFor(index.centers.length)
      val ivf = graft.operators.Ivf.topK(index, q, k, nProbe = nProbe)
      val cb = sampledPqCb(emb, tiersPqCentroids)
      val codes = graft.operators.Pq.encode(emb, cb)
      val pq = graft.operators.Pq.adcRerankTopK(codes, emb, q, cb, k, shortlist = sl)
      val ivfpq = graft.operators.Pq.ivfPqTopK(index, cb, q, k,
        nProbe = nProbe, shortlist = sl)
      val bin = binaryTopK(emb, q, k, sl)
      val mrl = emb.select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") / (i + 1).cast("double")).cast("float")).as("embedding"))
        .localCheckpoint() // read by mrl truth + both funnel stages
      val mq = mrl.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val mtruth = Similarity.bruteForceTopK(mrl, mq, k)
        .select(col("qid"), col("vec_id")).localCheckpoint()
      val mrlTop = Similarity.matryoshkaTopK(mrl, mq, k,
        prefixDim = mrlPrefixDim, shortlist = mrlShortlist)
      floorRow("binary", bin, truth)
        .unionByName(floorRow("ivf", ivf, truth))
        .unionByName(floorRow("ivfpq", ivfpq, truth))
        .unionByName(floorRow("lsh", lsh, truth))
        .unionByName(floorRow("mrl", mrlTop, mtruth))
        .unionByName(floorRow("pq", pq, truth))
        .orderBy("method")
    },
    Some(tiersOracleSql))

  /** The scale-relevant retrieval tiers at EXACTLY the registered
    * `ann_recall_tiers` configurations, exposed for the recall-at-scale
    * probe (ScaleProbe `recall_tiers`, r13 verdict task 1) so the probe
    * cannot drift from the certified machinery: lsh = the corpus-sized
    * auto-depth ([[lshDepth]] from a COUNT — the depth the corpus
    * SELECTS grows with scale); ivf / ivfpq = the md5-center index at
    * the [[tiersIvfListsFor]]/[[tiersIvfProbeFor]] growth laws; binary =
    * the [[scaledShortlist]] Hamming funnel; pq-inside-ivfpq = the
    * [[sampledPqCb]] codebooks; knn = the registered mutual-graph's
    * DIRECTED lists ([[knnDirectedTopK]] — LSH seed + NN-descent over
    * the FULL corpus, sliced to the query sample), giving the
    * "NN-descent recovers recall" claim its measured row. Unlike
    * `ann_recall_tiers` the QUERY SAMPLE is caller-supplied — the probe
    * holds it bounded (exact brute-force truth stays a bounded slice)
    * while the corpus scales 50-100×.
    *
    * Returns (tier, top-k frame, per-query scanned-candidate frame):
    * the third element is the MEASURED scan evidence (r14 verdict task
    * 1 — recall must hold while the scan FRACTION falls as n grows),
    * one (qid, cand_rows) row per query counting the rows each tier's
    * first stage actually scores — binary: the exact-rerank shortlist
    * (the Hamming scan is by construction one 8-byte code per corpus
    * row); ivf/ivfpq: the probed lists' real mass
    * ([[graft.operators.Ivf.probedCandidateCounts]] — measured from the
    * assignment, not a balanced-lists assumption); lsh: the deduped
    * bucket-join candidate set (the SAME
    * [[Similarity.lshCandidatePairsPlanes]] frame the rank consumes).
    * knn has no per-query scan notion (graph construction is corpus-
    * global, cost law in SCALE.md) → None. */
  def recallProbeTiers(emb: org.apache.spark.sql.DataFrame,
                       q: org.apache.spark.sql.DataFrame)
      : Seq[(String, org.apache.spark.sql.DataFrame,
             Option[org.apache.spark.sql.DataFrame])] = {
    val k = annK
    val n = Similarity.corpusCount(emb)
    val sl = scaledShortlist(n)
    val lshPm = { val (p, t) = lshDepth(n); Similarity.md5Planes(p, t, 64) }
    val lsh = Similarity.lshTopKPlanes(emb, q, k, lshPm)
    val lshScan = Similarity.lshCandidatePairsPlanes(emb, q, lshPm)
      .groupBy("qid").agg(count(lit(1)).as("cand_rows"))
    val index = graft.operators.Ivf.fromCenters(emb, tiersIvfCenters(n))
    val nProbe = tiersIvfProbeFor(index.centers.length)
    val ivf = graft.operators.Ivf.topK(index, q, k, nProbe = nProbe)
    val ivfScan = graft.operators.Ivf.probedCandidateCounts(index, q, nProbe)
    val cb = sampledPqCb(emb, tiersPqCentroids)
    val ivfpq = graft.operators.Pq.ivfPqTopK(index, cb, q, k,
      nProbe = nProbe, shortlist = sl)
    val bin = binaryTopK(emb, q, k, sl)
    val binScan = q.select(col("qid"), lit(sl.toLong).as("cand_rows"))
    val knn = knnDirectedTopK(emb)
      .filter(col("rank") <= k)
      .join(q.select(col("qid")), Seq("qid"), "left_semi")
    Seq(("binary", bin, Some(binScan)),
        ("ivf", ivf, Some(ivfScan)),
        ("ivfpq", ivfpq, Some(ivfScan)),
        ("lsh", lsh, Some(lshScan)),
        ("knn", knn, None))
  }

  /** k the recall probe's tiers rank to (= the registered `annK`). */
  def recallProbeK: Int = annK

  val defs: Seq[QueryDef] = Seq(cosineTopK, dedupEmbeddingCosine, annLshTopK, knnGraphQ,
    coresetKcenterQ,
    annIvfTopK, annIvfTopKOracle, annFilteredTopK, annIvfPersisted, annIvfIncremental,
    annIvfCompact,
    annPqTopK, annPqTopKOracle, annIvfPqTopK, annIvfPqTopKOracle,
    annMatryoshkaTopK, annRecallTiers, quantizeEmbeddings,
    kmeansTrainOracle, embeddingStatsQ, ivfProbeSweep, annBinaryTopK,
    embeddingPool)
}
