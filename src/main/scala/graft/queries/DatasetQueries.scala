package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Components, Dedup, Similarity}
import graft.queries.OracleSql.{dotSql, normSql, toksSql, stopListSql}

/** Dataset-level curation capabilities: semantic (embedding) dedup at
  * corpus scale, quality-based duplicate-cluster representative selection,
  * and corpus-pair similarity measurement — the three decisions a training
  * -data pipeline makes ABOVE the single-document level. All three are
  * fully oracle-replayable: md5-derived planes/signatures, documented
  * left-fold float math, recursive-CTE component closure.
  */
object DatasetQueries {
  import Tables.table

  // ── dedup_semantic ──────────────────────────────────────────────────────

  /** Replayable hyperplane config for the semantic-dedup buckets: 4
    * tables × a corpus-sized plane count (base 8 — 256 buckets/table,
    * deeper than the ANN config because a SELF-join dedup pays
    * bucket-occupancy², not occupancy×queries). Depth is the DEFAULT
    * auto rule now ([[Similarity.autoPlanesExact]], one plane per corpus
    * doubling past 64-occupancy): at a fixed depth the 20× probe
    * measured candidate work drifting toward n²/2^planes (ratio 19.4);
    * with the count-derived depth the bucket count grows with the
    * corpus and the drift cancels. Tables stay 4: the 0.99-cosine gate
    * means per-plane agreement ≈ 0.955, so even 24-deep conjunctions
    * keep per-table recall high (0.955²⁴ ≈ 0.33, miss⁴ ≈ 0.2 — and
    * planted-twin recovery is oracle-pinned at every registered scale). */
  private val semTables = 4
  private val semPlanes = 8
  private val semMaxPlanes = 24

  /** Shared semantic-dedup stages — the REGISTERED query and ScaleProbe
    * both call this, so the probe cannot drift from the shipped plan:
    * exact count → auto depth → md5 planes → LSH-bucketed candidate
    * pairs → exact-cosine edges (≥ 0.99) → connected components. */
  def semanticComponents(corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val planes = Similarity.autoPlanesExact(
      Similarity.corpusCount(corpus), 64L, semPlanes, semMaxPlanes)
    val pm = Similarity.md5Planes(planes, semTables, 64, "graft-semdedup")
    val pairs = Similarity.lshNearDupPairs(corpus, threshold = 0.99, pm)
    Components.connectedComponents(
      corpus.select(col("vec_id").as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
  }

  private def semDedupOracleSql: String = {
    s"""WITH RECURSIVE
      pt AS (SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
               [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + CAST(((i - 1) % 5) - 2 AS DOUBLE) / 1000.0) AS FLOAT)
                for i in generate_series(1, len(embedding))] AS embedding
             FROM embeddings WHERE vec_id % 5 = 0),
      corpus AS (SELECT vec_id, embedding FROM embeddings
                 UNION ALL SELECT vec_id, embedding FROM pt),
      nn AS (SELECT COUNT(*) AS n FROM corpus),
      depth AS (SELECT LEAST($semMaxPlanes, GREATEST($semPlanes,
          (SELECT MIN(p) FROM generate_series(0, 40) g(p)
           WHERE (CAST(64 AS BIGINT) << p) >= (SELECT n FROM nn)))) AS planes),
      pl AS (SELECT tt.t AS t, tj.j AS j,
               list(CAST(('0x' || substring(md5('graft-semdedup:' || CAST(tt.t AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, ${semTables - 1}) tt(t),
                  generate_series(0, ${semMaxPlanes - 1}) tj(j),
                  generate_series(0, 63) ti(i), depth
             WHERE tj.j < depth.planes
             GROUP BY tt.t, tj.j),
      pu AS (SELECT t, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM pl),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM corpus),
      dots AS (SELECT d.vec_id, pu.t, pu.j, ${dotSql("d.embedding", "pu.u")} AS dp
               FROM d, pu),
      bk AS (SELECT vec_id, t,
               SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS bucket
             FROM dots GROUP BY vec_id, t),
      cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
               FROM bk a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
                   AND a.vec_id < b.vec_id),
      edges AS (SELECT id_a, id_b FROM cand
                JOIN d a ON a.vec_id = cand.id_a
                JOIN d b ON b.vec_id = cand.id_b
                WHERE CASE WHEN a.nrm > 0 AND b.nrm > 0
                           THEN ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
                           ELSE 0.0 END >= 0.99),
      e AS (SELECT id_a AS src, id_b AS dst FROM edges
            UNION SELECT id_b, id_a FROM edges),
      r AS (SELECT vec_id AS id, vec_id AS reach FROM corpus
            UNION
            SELECT e.src AS id, r.reach FROM e JOIN r ON e.dst = r.id),
      comp AS (SELECT id, MIN(reach) AS comp FROM r GROUP BY id),
      sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp)
      SELECT c.id AS vec_id, c.comp, z.n_members,
             CASE WHEN c.id = c.comp THEN 1 ELSE 0 END AS keep
      FROM comp c JOIN sizes z USING (comp)
      ORDER BY vec_id"""
  }

  /** Semantic dedup over the full embedding corpus, SemDeDup-shaped:
    * LSH-bucketed candidates → exact-cosine edges (≥ 0.99) → connected
    * components → keep the min-id representative per cluster. Never
    * O(corpus²): the only wide ops are the (table, bucket) band join and
    * the component label shuffles. The corpus plants a deterministic
    * near-twin for every 5th vector (component-wise ×(1 + (i%5−2)/10³),
    * cosine ≈ 0.999999 vs a 0.513 max between distinct originals — the
    * synthesized-evidence pattern dedup_lines uses), so every scale has a
    * non-trivial planted cluster set: each twin MUST land in its
    * original's component and lose (keep = 0). Fully oracle-replayable —
    * count-derived auto depth (integer doubling rule, replayed in SQL),
    * md5-derived planes, IEEE left-fold cosine, recursive-CTE closure. */
  val dedupSemantic = QueryDef("dedup_semantic",
    (s, dir) => {
      val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      // Planted-twin ids start at max(vec_id)+1 so they can NEVER collide
      // with real ids at any scale factor (a fixed constant would once the
      // corpus outgrows it); the oracle replays the same scalar subquery.
      val off = base.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1L // bounded: 1-row agg
      val planted = base.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + lit(off)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(1000.0)))
              .cast("float")).as("embedding"))
      val corpus = base.unionByName(planted)
      val comps = semanticComponents(corpus)
      val sizes = comps.groupBy("comp").agg(count(lit(1)).as("n_members"))
      comps.join(sizes, "comp")
        .select(col("id").as("vec_id"), col("comp"), col("n_members"),
          when(col("id") === col("comp"), 1).otherwise(0).as("keep"))
        .orderBy("vec_id")
    },
    Some(semDedupOracleSql))

  // ── decontaminate_semantic ──────────────────────────────────────────────

  private def deconOracleSql: String = {
    s"""WITH
      tst AS (SELECT vec_id AS tid, embedding AS tvec FROM embeddings WHERE vec_id % 7 = 3),
      pt AS (SELECT tid + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
               [CAST(CAST(tvec[i] AS DOUBLE) * (1.0 + CAST(((i - 1) % 5) - 2 AS DOUBLE) / 1000.0) AS FLOAT)
                for i in generate_series(1, len(tvec))] AS embedding
             FROM tst),
      trn AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 <> 3
              UNION ALL SELECT vec_id, embedding FROM pt),
      nn AS (SELECT COUNT(*) AS n FROM trn),
      depth AS (SELECT LEAST(24, GREATEST(8,
          (SELECT MIN(p) FROM generate_series(0, 40) g(p)
           WHERE (CAST(64 AS BIGINT) << p) >= (SELECT n FROM nn)))) AS planes),
      pl AS (SELECT tt.t AS t, tj.j AS j,
               list(CAST(('0x' || substring(md5('graft-decon:' || CAST(tt.t AS VARCHAR) || ':' || CAST(tj.j AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, 3) tt(t),
                  generate_series(0, 23) tj(j),
                  generate_series(0, 63) ti(i), depth
             WHERE tj.j < depth.planes
             GROUP BY tt.t, tj.j),
      pu AS (SELECT t, j,
               [CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 for h in hs] AS u
             FROM pl),
      ld AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM trn),
      td AS (SELECT tid, tvec, ${normSql("tvec")} AS nrm FROM tst),
      ldots AS (SELECT ld.vec_id, pu.t, pu.j, ${dotSql("ld.embedding", "pu.u")} AS dp
                FROM ld, pu),
      lbk AS (SELECT vec_id, t,
               SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS bucket
              FROM ldots GROUP BY vec_id, t),
      tdots AS (SELECT td.tid, pu.t, pu.j, ${dotSql("td.tvec", "pu.u")} AS dp
                FROM td, pu),
      tbk AS (SELECT tid, t,
               SUM(CASE WHEN dp >= 0 THEN 1 << j ELSE 0 END) AS bucket
              FROM tdots GROUP BY tid, t),
      cand AS (SELECT DISTINCT l.vec_id, r.tid
               FROM lbk l JOIN tbk r ON l.t = r.t AND l.bucket = r.bucket),
      sims AS (SELECT c.vec_id, c.tid,
                 CASE WHEN a.nrm > 0 AND b.nrm > 0
                      THEN ${dotSql("a.embedding", "b.tvec")} / (a.nrm * b.nrm)
                      ELSE 0.0 END AS sim
               FROM cand c JOIN ld a ON a.vec_id = c.vec_id JOIN td b ON b.tid = c.tid),
      best AS (SELECT vec_id, tid, sim,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, tid ASC) AS rn
               FROM sims)
      SELECT t.vec_id, b.tid AS match_tid, b.sim AS max_sim,
        CASE WHEN b.sim >= 0.99 THEN 1 ELSE 0 END AS contaminated
      FROM trn t LEFT JOIN (SELECT vec_id, tid, sim FROM best WHERE rn = 1) b USING (vec_id)
      ORDER BY t.vec_id"""
  }

  /** SEMANTIC test-set decontamination — the embedding-space complement of
    * the n-gram `decontaminate` query: flag every TRAINING vector whose
    * cosine to ANY benchmark/test-set vector reaches 0.99 (paraphrased or
    * lightly-perturbed eval leakage that exact n-gram overlap misses).
    * The test set is the `vec_id % 7 = 3` slice; the training corpus is
    * the rest plus a planted near-twin of every test vector
    * (component-wise ×(1 + (i%5−2)/10³), the dedup_semantic pattern), so
    * BOTH verdict classes are non-vacuous at every scale and each planted
    * twin MUST flag against its own test source. Candidate generation is
    * [[Similarity.lshCrossPairs]] — train-side buckets stream, the small
    * test side is broadcast, work is linear in train size (never
    * train×test) — which is exactly the 100 TB shape: a benchmark suite
    * is KBs of vectors against TBs of training embeddings. Depth is the
    * count-derived auto rule; planes are md5-derived; the oracle replays
    * depth, buckets, candidates, every cosine, and the per-train argmax
    * (sim desc, tid asc). */
  /** Shared decontamination stages — the REGISTERED query and ScaleProbe
    * both call this: test split → planted twins → count-derived depth →
    * md5 planes → cross-corpus LSH candidates → per-train argmax →
    * verdicts. */
  def decontaminationVerdicts(base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val test = base.filter(col("vec_id") % 7 === 3)
      .select(col("vec_id").as("tid"), col("embedding").as("tvec"))
    // Twin ids start at max(vec_id)+1 — collision-proof at every scale
    // factor (and under the ScaleProbe 100 M replica bands); replayed by
    // the oracle as the same scalar subquery.
    val off = base.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1L // bounded: 1-row agg
    val planted = test.select((col("tid") + lit(off)).as("vec_id"),
      transform(col("tvec"), (x, i) =>
        (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(1000.0)))
          .cast("float")).as("embedding"))
    val train = base.filter(col("vec_id") % 7 =!= 3).unionByName(planted)
    val planes = Similarity.autoPlanesExact(Similarity.corpusCount(train), 64L, 8, 24)
    val pm = Similarity.md5Planes(planes, 4, 64, "graft-decon")
    val pairs = Similarity.lshCrossPairs(train, test, pm)
    val best = pairs.groupBy("vec_id")
      .agg(min(struct((-col("sim")).as("ns"), col("tid"))).as("b"))
      .select(col("vec_id"), col("b.tid").as("match_tid"),
        (-col("b.ns")).as("max_sim"))
    train.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("match_tid"), col("max_sim"),
        when(col("max_sim") >= 0.99, 1).otherwise(0).as("contaminated"))
  }

  val decontaminateSemantic = QueryDef("decontaminate_semantic",
    (s, dir) => decontaminationVerdicts(
        table(s, dir, "embeddings").select(col("vec_id"), col("embedding")))
      .orderBy("vec_id"),
    Some(deconOracleSql))

  // ── semdedup ────────────────────────────────────────────────────────────

  /** SemDeDup routing depth: the smallest L in [1, 6] with
    * target·8^L ≥ n — pure integer shifts from an exact COUNT, so an
    * external engine re-derives the level count with no float ambiguity
    * (the [[Similarity.autoPlanesExact]] discipline). Mean finest-cell
    * occupancy stays ≤ target as the corpus grows, which is what keeps
    * the within-cell pairwise stage linear overall. */
  private val semdedupTarget = 96L
  private val semdedupMaxLevels = 6
  private[graft] def semdedupLevels(n: Long): Int = {
    var l = 1
    while (l < semdedupMaxLevels && (semdedupTarget << (3 * l)) < n) l += 1
    l
  }

  private val semdedupEps = 0.5

  /** Shared SemDeDup stages — routing + within-cell prune — called by the
    * registered query and the ScaleProbe family. Input must be
    * `(vec_id, embedding)`; output is
    * `(vec_id, cluster, cent_sim, kept)` for every input row. */
  def semdedupVerdicts(corpus: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val levels = semdedupLevels(Similarity.corpusCount(corpus))
    // Route through one 8-way md5 codebook per level (salted per level).
    // Independent global codebooks refine by PRODUCT — cell id is the
    // concatenated per-level argmax path — so granularity is 8^L cells
    // for 8·L cosines per vector: per-vector routing work is logarithmic
    // in the cell count, where flat k-means of equal granularity would
    // pay 8^L cosines per vector. The codebooks ride the plan as
    // literals (a broadcast in executor terms); routing is one narrow
    // codegen'd map over the scan — no shuffle until the cell self-join.
    var routed = corpus.withColumn("cluster", lit(0L))
    for (l <- 0 until levels) {
      val cents = Similarity.md5Planes(8, 1, 64, s"graft-semdedup-l$l")(0)
      val entries = (0 until 8).map { c =>
        struct(
          Similarity.cosine(col("embedding"),
            array(cents(c).map(lit): _*).cast("array<float>")).as("cs"),
          lit(-c.toLong).as("nc"))
      }
      routed = routed
        .withColumn("best", array_max(array(entries: _*)))
        .withColumn("cluster", col("cluster") * 8 - col("best.nc"))
        .withColumn("cent_sim", col("best.cs"))
        .drop("best")
    }
    // Checkpoint the routed frame: it feeds both sides of the cell
    // self-join AND the output projection, and re-deriving it would
    // re-run 8·L cosines per vector three times.
    val rt = routed.select(col("vec_id"), col("embedding"),
      col("cluster"), col("cent_sim")).localCheckpoint()
    // Within-cell prune, the paper's keep rule: order a cell's members by
    // centroid similarity ASC (lowest-similarity member — the cell's
    // "edge" example — has top priority, ties to the lower vec_id); drop
    // a member iff some HIGHER-priority member of the same cell is within
    // eps. The strict priority order makes the rule a deterministic
    // one-pass EXISTS — no greedy chain to replay — and each cell's
    // top-priority member always survives.
    val b = rt.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      col("cluster").as("b_cluster"), col("cent_sim").as("b_cs"))
    val dup = rt.join(b,
        col("cluster") === col("b_cluster") &&
          (col("b_cs") < col("cent_sim") ||
            (col("b_cs") === col("cent_sim") && col("b_id") < col("vec_id"))) &&
          Similarity.cosine(col("embedding"), col("b_emb")) >= semdedupEps,
        "left_semi")
      .select(col("vec_id"), lit(0).as("kept"))
    rt.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        round(col("cent_sim"), 6).as("cent_sim"),
        coalesce(col("kept"), lit(1)).as("kept"))
  }

  private def semdedupOracleSql: String = {
    val centSql =
      s"""ct AS (SELECT ll.l AS l, cc.c AS c,
               list(CAST(('0x' || substring(md5('graft-semdedup-l' || CAST(ll.l AS VARCHAR) || ':0:' || CAST(cc.c AS VARCHAR) || ':' || CAST(ti.i AS VARCHAR)), 1, 15)) AS BIGINT)
                    ORDER BY ti.i) AS hs
             FROM generate_series(0, ${semdedupMaxLevels - 1}) ll(l),
                  generate_series(0, 7) cc(c),
                  generate_series(0, 63) ti(i), lv
             WHERE ll.l < lv.levels
             GROUP BY ll.l, cc.c),
      cu AS (SELECT l, c,
               [CAST(CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 AS FLOAT) for h in hs] AS u
             FROM ct),
      cn AS (SELECT l, c, u, ${normSql("u")} AS cnrm FROM cu)"""
    s"""WITH pt AS (SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings) AS vec_id,
               [CAST(CAST(embedding[i] AS DOUBLE) * (1.0 + CAST(((i - 1) % 5) - 2 AS DOUBLE) / 1000.0) AS FLOAT)
                for i in generate_series(1, len(embedding))] AS embedding
             FROM embeddings WHERE vec_id % 10 = 0),
      corpus AS (SELECT vec_id, embedding FROM embeddings
                 UNION ALL SELECT vec_id, embedding FROM pt),
      nn AS (SELECT COUNT(*) AS n FROM corpus),
      lv AS (SELECT LEAST($semdedupMaxLevels, GREATEST(1,
          COALESCE((SELECT MIN(l) FROM generate_series(1, $semdedupMaxLevels) g(l)
           WHERE (CAST($semdedupTarget AS BIGINT) << (3 * l)) >= (SELECT n FROM nn)),
            $semdedupMaxLevels))) AS levels),
      $centSql,
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM corpus),
      dots AS (SELECT d.vec_id, cn.l, cn.c,
                 CASE WHEN d.nrm > 0 AND cn.cnrm > 0
                      THEN ${dotSql("d.embedding", "cn.u")} / (d.nrm * cn.cnrm)
                      ELSE 0.0 END AS cs
               FROM d, cn),
      r AS (SELECT vec_id, l, c, cs,
              ROW_NUMBER() OVER (PARTITION BY vec_id, l ORDER BY cs DESC, c ASC) AS rn
            FROM dots),
      sel AS (SELECT vec_id, l, c, cs FROM r WHERE rn = 1),
      rt AS (SELECT s.vec_id,
               SUM(CAST(s.c AS BIGINT) << (3 * ((SELECT levels FROM lv) - 1 - s.l))) AS cluster,
               MAX(CASE WHEN s.l = (SELECT levels FROM lv) - 1 THEN s.cs END) AS cent_sim
             FROM sel s GROUP BY s.vec_id),
      rte AS (SELECT rt.vec_id, rt.cluster, rt.cent_sim, d.embedding, d.nrm
              FROM rt JOIN d USING (vec_id)),
      dup AS (SELECT DISTINCT a.vec_id
              FROM rte a JOIN rte b ON a.cluster = b.cluster
                AND (b.cent_sim < a.cent_sim
                     OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id))
              WHERE CASE WHEN a.nrm > 0 AND b.nrm > 0
                         THEN ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
                         ELSE 0.0 END >= $semdedupEps)
      SELECT rte.vec_id, CAST(rte.cluster AS BIGINT) AS cluster,
        ROUND(rte.cent_sim, 6) AS cent_sim,
        CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
      FROM rte LEFT JOIN dup USING (vec_id)
      ORDER BY rte.vec_id"""
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540) — the paper's actual
    * two-stage shape, distinct from `dedup_semantic`'s LSH-union/
    * connected-components view: (1) PARTITION the corpus into bounded
    * cells, (2) prune within each cell, keeping the member FARTHEST from
    * the centroid per ε-duplicate set (the paper keeps low-centroid-
    * similarity "edge" examples to preserve diversity). Routing here is a
    * hierarchy of per-level 8-way md5 codebooks ([[semdedupLevels]]:
    * depth from an exact COUNT, integer shifts) — 8·L cosines per vector
    * for 8^L cells, so per-vector routing work grows with log(cells)
    * while mean cell occupancy stays ≤ 96 as the corpus grows; the
    * within-cell stage is a cell-keyed self-join whose per-key work is
    * occupancy-bounded ⇒ total pairwise work stays LINEAR in n. At
    * 100 TB this is exactly the published recipe (the paper runs 50 k
    * clusters over 5 B LAION embeddings): one narrow routing map, one
    * shuffle on cell id, no all-pairs anywhere. The keep rule is a
    * deterministic EXISTS against a strict priority order (cent_sim ASC,
    * vec_id ASC — the paper's triu-matrix screen), not a greedy chain, so
    * the oracle replays it as one join. Twins planted for every 10th
    * vector (the dedup_semantic recipe, ids at max+1) give every scale a
    * non-vacuous prune: a twin pair lands in one cell at cosine
    * ≈ 0.999997 vs a 0.513 max between distinct originals, so ε = 0.5
    * drops exactly one of each pair (plus any natural ≥ 0.5 pair). Fully
    * oracle-replayable: count-derived depth, md5 codebooks, IEEE
    * left-fold cosines, argmax by (cs DESC, c ASC), the EXISTS prune. */
  val semdedupQ = QueryDef("semdedup",
    (s, dir) => {
      val base = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val off = base.agg(max(col("vec_id")).cast("long")).head().getLong(0) + 1L // bounded: 1-row agg
      val planted = base.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(off)).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            (x.cast("double") * (lit(1.0) + ((i % 5) - 2).cast("double") / lit(1000.0)))
              .cast("float")).as("embedding"))
      semdedupVerdicts(base.unionByName(planted)).orderBy("vec_id")
    },
    Some(semdedupOracleSql))

  // ── dedup_representative ────────────────────────────────────────────────

  private def representativeOracleSql: String = {
    s"""WITH RECURSIVE
      ${MinhashSql.nearDupClusterCtes},
      q AS (SELECT doc_id, keep_id,
        ROUND(LEAST(CAST(1.0 AS DOUBLE), CAST(len(toks) AS DOUBLE) / 100.0) * 0.4 +
              (CAST(1.0 AS DOUBLE) -
               CASE WHEN length(text) > 0
                    THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END) * 0.3 +
              CASE WHEN len(toks) > 0
                   THEN CAST(len(list_filter(toks, x -> list_contains($stopListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END * 0.3, 6) AS quality
        FROM wk),
      mem AS (SELECT q.doc_id, c.comp, q.quality
              FROM q JOIN comp c ON q.keep_id = c.id),
      mq AS (SELECT comp, MAX(quality) AS mxq FROM mem GROUP BY comp),
      reps AS (SELECT m.comp, MIN(m.doc_id) AS rep_id
               FROM mem m JOIN mq ON m.comp = mq.comp AND m.quality = mq.mxq
               GROUP BY m.comp)
      SELECT m.doc_id, m.comp, m.quality, rp.rep_id,
             CASE WHEN m.doc_id = rp.rep_id THEN 1 ELSE 0 END AS keep
      FROM mem m JOIN reps rp USING (comp)
      ORDER BY m.doc_id"""
  }

  /** The near-dup clustering of a corpus dir ([[Dedup.nearDupClusters]]),
    * carrying each doc's `quality` and `n_tok` for its two policies:
    * `dedup_representative` (keep-best selection) and `dedup_soft_weights`
    * (down-weighting) — one calibration, two policies.
    *
    * MEMOIZED per (session, corpus dir) — the [[Tables]] frame-memo
    * precedent, one level up: the chain's checkpointed builds (exact
    * groups, signatures, band joins, connected components) are the
    * expensive part of BOTH consumers, and a Verify/Bench session running
    * the pair was measured paying the clustering twice (~14 s + ~6 s
    * combined at sf0.1). The memo returns the SAME checkpointed frames, so
    * the second policy query reruns only its own narrow policy layer. Safe
    * under the read-only testdata contract (inputs immutable within a
    * session); entries drop with the session via [[graft.ops.SessionMemo]]. */
  private[graft] def nearDupClusters(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    clusters(s, dir)(Dedup.nearDupClusters(table(s, dir, "documents"),
      qualityScore(col("text")).as("quality"),
      size(tokens(col("text"))).cast("long").as("n_tok")))

  private val clusters = new graft.ops.SessionMemo[String,
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)]

  /** Duplicate-cluster representative selection by QUALITY — production
    * near-dup dedup keeps the best document of each cluster, not the
    * lowest id (a crawl's canonical page beats its mirror with truncated
    * boilerplate). Over [[nearDupClusters]]: verdicts expand back over
    * every doc through its content group's keep_id; per cluster keep the
    * max-quality member, ties to min doc_id.
    *
    * Scale shape: one keyed pass over the memoized frames — the
    * membership join, then two windows over the same `comp` partitioning
    * (`mxq`, then the min doc_id among the members at `mxq`) that share
    * ONE exchange; no aggregate and no join back. A cluster whose
    * qualities are all null has no representative and is dropped, as the
    * oracle's inner join drops it. AQE's skew split does not apply to a
    * comp-keyed window: a giant cluster is one long task, not memory
    * (each member row is three primitives and WindowExec spills) — the
    * trade-off `Components`' star variant and `Agg.top1PerBin` make. */
  val dedupRepresentative = QueryDef("dedup_representative",
    (s, dir) => {
      val (withKeep, comps) = nearDupClusters(s, dir)
      val w = Window.partitionBy("comp")
      withKeep
        .select(col("doc_id"), col("keep_id"), col("quality"))
        .join(comps, col("keep_id") === comps("id"))
        .withColumn("mxq", max(col("quality")).over(w))
        .withColumn("rep_id",
          min(when(col("quality") === col("mxq"), col("doc_id"))).over(w))
        .filter(col("rep_id").isNotNull)
        .select(col("doc_id"), col("comp"), col("quality"), col("rep_id"),
          when(col("doc_id") === col("rep_id"), 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },
    Some(representativeOracleSql))

  // ── dedup_soft_weights ──────────────────────────────────────────────────

  /** Duplicate-aware RE-WEIGHTING — the SoftDeDup policy (He et al.,
    * ACL'24; the D4 observation that moderate duplication carries signal):
    * instead of dropping near-duplicates, give every member of a duplicate
    * cluster weight 1/|cluster| so each cluster contributes one document's
    * worth of gradient mass, and report the effective (weighted) token
    * count the sampled corpus realizes. Uses the SAME clustering chain as
    * `dedup_representative` ([[nearDupClusters]]) — the policy layer is
    * the only difference, which is exactly how a production pipeline
    * A/Bs drop-vs-down-weight.
    *
    * Scale shape: the clustering chain is the certified-linear LSH path;
    * the weighting is one keyed pass over its memoized frames — the
    * membership join, then a `count` window over `comp` (one exchange, no
    * aggregate and no join back). As in `dedup_representative`, AQE's
    * skew split does not apply to the comp-keyed window; a giant cluster
    * costs one long task, not memory. Weight = one IEEE divide, effective
    * tokens = one IEEE multiply — both replayed exactly. */
  val dedupSoftWeights = QueryDef("dedup_soft_weights",
    (s, dir) => {
      val (withKeep, comps) = nearDupClusters(s, dir)
      withKeep
        .select(col("doc_id"), col("keep_id"), col("n_tok"))
        .join(comps, col("keep_id") === comps("id"))
        .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("comp")))
        .withColumn("weight", lit(1.0) / col("cluster_size").cast("double"))
        .select(col("doc_id"), col("comp"), col("cluster_size"),
          round(col("weight"), 9).as("weight"), col("n_tok"),
          round(col("weight") * col("n_tok").cast("double"), 6).as("eff_tokens"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
      ${MinhashSql.nearDupClusterCtes},
      mem AS (SELECT wk.doc_id, c.comp, CAST(len(wk.toks) AS BIGINT) AS n_tok
              FROM wk JOIN comp c ON wk.keep_id = c.id),
      sz AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM mem GROUP BY comp)
      SELECT m.doc_id, m.comp, s.cluster_size,
        ROUND(1.0 / CAST(s.cluster_size AS DOUBLE), 9) AS weight,
        m.n_tok,
        ROUND((1.0 / CAST(s.cluster_size AS DOUBLE)) * CAST(m.n_tok AS DOUBLE), 6) AS eff_tokens
      FROM mem m JOIN sz s USING (comp)
      ORDER BY m.doc_id"""))

  // ── corpus_overlap ──────────────────────────────────────────────────────

  private def corpusOverlapOracleSql: String = {
    val k = 32
    s"""WITH d AS (SELECT source, $toksSql AS toks FROM documents),
      gsh AS (SELECT source,
        CASE WHEN len(toks) >= 3
             THEN list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                 for i in generate_series(1, len(toks) - 2)])
             ELSE [array_to_string(toks, ' ')] END AS sh
        FROM d),
      ex AS (SELECT DISTINCT source, t
             FROM (SELECT source, UNNEST(sh) AS t FROM gsh)),
      th AS (SELECT DISTINCT source,
        CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM ex),
      bh AS (SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM th),
      bk AS (SELECT source, list_sort(list(h)) AS hs
             FROM bh WHERE rn <= $k GROUP BY source),
      cnt AS (SELECT source, COUNT(*) AS n FROM ex GROUP BY source),
      inter AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS ni
                FROM ex a JOIN ex b ON a.t = b.t AND a.source < b.source
                GROUP BY 1, 2),
      pairs AS (SELECT ca.source AS src_a, cb.source AS src_b,
                       ca.n AS n_a, cb.n AS n_b
                FROM cnt ca JOIN cnt cb ON ca.source < cb.source)
      SELECT p.src_a, p.src_b, p.n_a, p.n_b,
        COALESCE(i.ni, 0) AS n_inter,
        CAST(COALESCE(i.ni, 0) AS DOUBLE) /
          CAST(p.n_a + p.n_b - COALESCE(i.ni, 0) AS DOUBLE) AS jaccard,
        CAST(len(list_filter(list_sort(list_distinct(sa.hs || sb.hs))[1:$k],
               x -> list_contains(sa.hs, x) AND list_contains(sb.hs, x))) AS DOUBLE) /
          CAST(len(list_sort(list_distinct(sa.hs || sb.hs))[1:$k]) AS DOUBLE)
          AS est_jaccard
      FROM pairs p
      LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
      JOIN bk sa ON sa.source = p.src_a
      JOIN bk sb ON sb.source = p.src_b
      ORDER BY p.src_a, p.src_b"""
  }

  /** Corpus-pair similarity: for every pair of sources, the Jaccard of
    * their distinct word-3-shingle SETS — dataset-level contamination /
    * diversity measurement (is src_a a re-crawl of src_b? how much do two
    * vendors' corpora overlap?). Two estimators side by side, both
    * hash-checked: the EXACT Jaccard (distinct-shingle equi-join — fine
    * at verification scale, corpus-sized shuffle at 100 TB) and a
    * bottom-k (KMV) sketch estimate (Broder'97 single-permutation
    * min-wise sampling; Bar-Yossef et al.'02 distinct-value KMV): per
    * source keep the k = 32 SMALLEST md5 shingle hashes — one md5 per
    * shingle, a mergeable bounded sketch — and estimate
    * J ≈ |bottomk(A∪B) ∩ botA ∩ botB| / k, std err √(J(1−J)/k). The
    * sketch path compares 100 TB corpora with a 190-row join of
    * 32-element arrays. Having the oracle pin the estimate beside the
    * exact value IS the accuracy evidence (the visible-verdict pattern
    * from approx_distinct). Why bottom-k and not the K-M k-permutation
    * signature: see [[graft.operators.Dedup.bottomKSketch]] — the
    * permutation minima collapse into one correlated coin at corpus
    * set sizes (measured |est − exact| up to 0.97 on this table).
    *
    * Shared corpus-overlap stages — the REGISTERED query and ScaleProbe
    * both call this on a (source, text) frame. */
  def corpusOverlapPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val k = 32
      val ex = docs
        .select(col("source"), explode(wordShingles(col("text"), 3)).as("t"))
        .distinct()
        .localCheckpoint() // read by the sketch agg, both exact-join sides, counts
      val bottomK = Dedup.bottomKSketch(ex, "source", "t", k)
      val counts = ex.groupBy("source").agg(count(lit(1)).as("n"))
      val inter = ex.select(col("source").as("src_a"), col("t"))
        .join(ex.select(col("source").as("src_b"), col("t")), "t")
        .filter(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("ni"))
      val pairs = counts.select(col("source").as("src_a"), col("n").as("n_a"))
        .join(counts.select(col("source").as("src_b"), col("n").as("n_b")),
          col("src_a") < col("src_b"))
      pairs
        .join(inter, Seq("src_a", "src_b"), "left")
        .join(bottomK.select(col("source").as("src_a"), col("hs").as("ha")), "src_a")
        .join(bottomK.select(col("source").as("src_b"), col("hs").as("hb")), "src_b")
        .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
          coalesce(col("ni"), lit(0L)).as("n_inter"),
          (coalesce(col("ni"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("ni"), lit(0L))).cast("double"))
            .as("jaccard"),
          Dedup.kmvJaccardEst(col("ha"), col("hb"), k).as("est_jaccard"))
  }

  val corpusOverlap = QueryDef("corpus_overlap",
    (s, dir) => corpusOverlapPairs(
        table(s, dir, "documents").select(col("source"), col("text")))
      .orderBy("src_a", "src_b"),
    Some(corpusOverlapOracleSql))

  // ── shard_assign ────────────────────────────────────────────────────────

  /** Token-balanced training-shard assignment
    * ([[graft.operators.Sharding.snakeShards]]): snake-deal the
    * size-sorted corpus into 8 shards so data loaders see near-equal
    * token totals. The whole assignment is a pure function of the global
    * (n_tokens desc, doc_id) rank, so the oracle replays rank, shard and
    * the resulting totals exactly; ShardingSpec pins the balance law
    * (max−min shard total ≤ one round's spread). */
  val shardAssign = QueryDef("shard_assign",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      graft.operators.Sharding.snakeShards(docs, nShards = 8, "n_tokens", "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("rank"), col("shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id,
        CAST(len($toksSql) AS BIGINT) AS n_tokens FROM documents),
      r AS (SELECT doc_id, n_tokens,
              ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rank
            FROM t)
      SELECT doc_id, n_tokens, rank,
        CAST(CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
                  ELSE 7 - (rank % 8) END AS BIGINT) AS shard
      FROM r ORDER BY doc_id"""))

  // ── corpus_drift ────────────────────────────────────────────────────────

  /** Snapshot drift detection — the crawl-regression monitor: a
    * two-sample χ² over 64 md5-hashed token buckets between snapshot A
    * (even doc_ids) and snapshot B (odd doc_ids with every stopword
    * dropped — a deterministic synthetic "new crawl lost the boilerplate"
    * shift, so BOTH verdict values occur at every scale). Per bucket,
    * contrib_b = (K·nA_b − nB_b/K)² / (nA_b + nB_b) with K = √(TB/TA) —
    * the classical two-sample statistic, but every step is an IEEE-exact
    * sqrt/divide/multiply on integer-valued counts, so the oracle replays
    * each contribution bit-for-bit (no Σ-of-doubles total is emitted —
    * per-bucket values are order-free; `drifted` = contrib > 3.84, the
    * χ²₁ 95% critical value, is the visible verdict). At 100 TB: two
    * map-side-partial count aggs, a 64-row grid join, one 1-row totals
    * broadcast — the scan dominates, the statistic is free. */
  val corpusDrift = QueryDef("corpus_drift",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val tokA = docs.filter(col("doc_id") % 2 === 0)
        .select(explode(tokens(col("text"))).as("tk"))
      val tokB = docs.filter(col("doc_id") % 2 === 1)
        .select(explode(filter(tokens(col("text")),
          t => !t.isin(enStopwords: _*))).as("tk"))
      def bucketCounts(df: org.apache.spark.sql.DataFrame, out: String) =
        df.withColumn("bk", hashBucket(col("tk"), "graft-drift", 64))
          .groupBy("bk").agg(count(lit(1)).as(out))
      val grid = s.range(64).select(col("id").as("bk"))
      val joined = grid
        .join(bucketCounts(tokA, "n_a"), Seq("bk"), "left")
        .join(bucketCounts(tokB, "n_b"), Seq("bk"), "left")
        .select(col("bk"), coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
      val tot = joined.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      val k = sqrt(col("tb").cast("double") / col("ta").cast("double"))
      val contrib = {
        val d = k * col("n_a").cast("double") - col("n_b").cast("double") / k
        d * d / (col("n_a") + col("n_b")).cast("double")
      }
      joined.crossJoin(broadcast(tot))
        .filter(col("n_a") + col("n_b") > 0)
        .select(col("bk").as("bucket"), col("n_a"), col("n_b"),
          round(contrib, 6).as("contrib"),
          when(contrib > 3.84, 1).otherwise(0).as("drifted"))
        .orderBy("bucket")
    },
    Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      ta2 AS (SELECT UNNEST(toks) AS tk FROM d WHERE doc_id % 2 = 0),
      tb2 AS (SELECT UNNEST(list_filter(toks, t -> NOT list_contains($stopListSql, t))) AS tk
              FROM d WHERE doc_id % 2 = 1),
      ca AS (SELECT CAST(('0x' || substring(md5('graft-drift:' || tk), 1, 8)) AS BIGINT) % 64 AS bk,
               COUNT(*) AS n_a FROM ta2 GROUP BY bk),
      cb AS (SELECT CAST(('0x' || substring(md5('graft-drift:' || tk), 1, 8)) AS BIGINT) % 64 AS bk,
               COUNT(*) AS n_b FROM tb2 GROUP BY bk),
      grid AS (SELECT i AS bk FROM generate_series(0, 63) g(i)),
      j AS (SELECT grid.bk,
              CAST(COALESCE(ca.n_a, 0) AS BIGINT) AS n_a,
              CAST(COALESCE(cb.n_b, 0) AS BIGINT) AS n_b
            FROM grid LEFT JOIN ca ON grid.bk = ca.bk
                      LEFT JOIN cb ON grid.bk = cb.bk),
      tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM j),
      x AS (SELECT j.bk, j.n_a, j.n_b,
              sqrt(CAST(tot.tb AS DOUBLE) / CAST(tot.ta AS DOUBLE)) AS k
            FROM j CROSS JOIN tot
            WHERE j.n_a + j.n_b > 0)
      SELECT bk AS bucket, n_a, n_b,
        ROUND((k * CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE) / k) *
              (k * CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE) / k) /
              CAST(n_a + n_b AS DOUBLE), 6) AS contrib,
        CASE WHEN (k * CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE) / k) *
                  (k * CAST(n_a AS DOUBLE) - CAST(n_b AS DOUBLE) / k) /
                  CAST(n_a + n_b AS DOUBLE) > 3.84 THEN 1 ELSE 0 END AS drifted
      FROM x ORDER BY bucket"""))

  /** Per-source corpus data card — the release datasheet every training
    * corpus ships (Gebru et al., "Datasheets for Datasets"): doc/token
    * inventories, corpus token share, language spread + dominant
    * language, within-source exact-dup rate, lexical-diversity ratio.
    * Every number a mixture designer reads before weighting a source.
    * Scale shape: ONE narrow pass derives all per-doc metrics riding the
    * scan; everything after aggregates on `source` / (source, lang) /
    * (source, content-hash) keys with map-side partials; the corpus
    * total is a one-row broadcast. Integer ppm shares; the diversity
    * ratio is the single IEEE divide both engines run identically. */
  val dataCardQ = QueryDef("data_card",
    (s, dir) => {
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          tokens(col("text")).as("toks"))
        .select(col("doc_id"), col("source"), col("lang"),
          size(col("toks")).cast("long").as("n_tok"),
          size(array_distinct(col("toks"))).cast("long").as("n_dis"),
          md5(array_join(array_sort(array_distinct(col("toks"))), " ")).as("ch"))
      val dupBySource = base.groupBy("source", "ch").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(sum(col("c") - 1).as("dup_docs"))
      val domLang = base.groupBy("source", "lang").agg(count(lit(1)).as("c"))
        .groupBy("source").agg(
          min(struct((-col("c")).as("nc"), col("lang"))).as("dm"),
          count(lit(1)).as("n_langs"))
        .select(col("source"), col("dm.lang").as("dominant_lang"), col("n_langs"))
      val perSource = base.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_dis")).as("n_distinct"))
      val total = perSource.agg(sum(col("n_tokens")).as("corpus_tokens"))
      perSource.join(broadcast(domLang), "source")
        .join(broadcast(dupBySource), "source")
        .crossJoin(broadcast(total))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 div corpus_tokens").as("token_share_ppm"),
          col("n_langs"), col("dominant_lang"),
          expr("dup_docs * 1000000 div n_docs").as("dup_ppm"),
          round(col("n_distinct").cast("double") / col("n_tokens"), 6)
            .as("distinct_ratio"))
        .orderBy("source")
    },
    Some(s"""WITH b AS (SELECT doc_id, source, lang, $toksSql AS toks FROM documents),
      base AS (SELECT doc_id, source, lang,
          CAST(len(toks) AS BIGINT) AS n_tok,
          CAST(len(list_distinct(toks)) AS BIGINT) AS n_dis,
          md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ch
        FROM b),
      db AS (SELECT source, ch, COUNT(*) AS c FROM base GROUP BY source, ch),
      dd AS (SELECT source, CAST(SUM(c - 1) AS BIGINT) AS dup_docs FROM db GROUP BY source),
      dl AS (SELECT source, lang, COUNT(*) AS c FROM base GROUP BY source, lang),
      dr AS (SELECT source, lang,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang ASC) AS rn,
              COUNT(*) OVER (PARTITION BY source) AS nl
            FROM dl),
      dom AS (SELECT source, lang AS dominant_lang, CAST(nl AS BIGINT) AS n_langs
              FROM dr WHERE rn = 1),
      ps AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
              CAST(SUM(n_dis) AS BIGINT) AS n_distinct
            FROM base GROUP BY source),
      tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS corpus_tokens FROM ps)
      SELECT ps.source, ps.n_docs, ps.n_tokens,
        ps.n_tokens * 1000000 // tot.corpus_tokens AS token_share_ppm,
        dom.n_langs, dom.dominant_lang,
        dd.dup_docs * 1000000 // ps.n_docs AS dup_ppm,
        ROUND(CAST(ps.n_distinct AS DOUBLE) / CAST(ps.n_tokens AS DOUBLE), 6) AS distinct_ratio
      FROM ps JOIN dom USING (source) JOIN dd USING (source) CROSS JOIN tot
      ORDER BY ps.source"""))

  /** Cross-source duplication provenance matrix — WHICH sources copy
    * WHICH (licensing/attribution forensics, vendor-corpus overlap
    * pricing; corpus_overlap answers "how similar", this answers "how
    * many literal duplicates"): per source pair, the number of exact
    * bag-of-words duplicate DOCUMENT pairs spanning the two sources and
    * the number of shared content groups. Scale shape: one hash-agg to
    * (content, source) counts — output bounded by distinct contents —
    * then a self-join on content hash whose fan-out is per-group
    * #sources², never corpus²; cross-pair counts are exact integer
    * products. Only pairs with ≥1 shared group emit (a 0-filled
    * #sources² grid would bury the signal). */
  /** Shared provenance-matrix stages — the REGISTERED query and
    * ScaleProbe both call this on a (source, text) frame. */
  def sourceMatrixFrom(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keyed = docs.select(col("source"), md5(Dedup.bagOfWordsKey(col("text"))).as("ch"))
    val bySrc = keyed.groupBy("ch", "source").agg(count(lit(1)).as("c"))
    bySrc.select(col("ch"), col("source").as("src_a"), col("c").as("ca"))
      .join(bySrc.select(col("ch"), col("source").as("src_b"), col("c").as("cb")), "ch")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(col("ca") * col("cb")).as("n_dup_pairs"),
        count(lit(1)).as("n_shared_groups"))
  }

  val sourceDedupMatrix = QueryDef("source_dedup_matrix",
    (s, dir) => sourceMatrixFrom(
        table(s, dir, "documents").select(col("source"), col("text")))
      .orderBy("src_a", "src_b"),
    Some(s"""WITH k AS (SELECT source,
        md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS ch
      FROM documents),
      bs AS (SELECT ch, source, COUNT(*) AS c FROM k GROUP BY ch, source),
      p AS (SELECT a.source AS src_a, b.source AS src_b, a.c AS ca, b.c AS cb
            FROM bs a JOIN bs b ON a.ch = b.ch AND a.source < b.source)
      SELECT src_a, src_b,
        CAST(SUM(ca * cb) AS BIGINT) AS n_dup_pairs,
        COUNT(*) AS n_shared_groups
      FROM p GROUP BY src_a, src_b ORDER BY src_a, src_b"""))

  // ── dataset_fingerprint ─────────────────────────────────────────────────

  /** Per-source dataset fingerprint — the reproducibility receipt a
    * pipeline run publishes so a re-run (or a consumer on another
    * cluster) can certify "same bytes in" WITHOUT re-reading the data:
    * doc count, char mass, and an ORDER-FREE content checksum (sum of
    * per-doc md5-60bit ints, reduced mod the Mersenne prime 2⁶¹−1).
    * Order-free matters: a distributed scan returns rows in arbitrary
    * order, so any positional hash (hash-of-concat) is nondeterministic
    * across runs, while a modular SUM commutes — same multiset of docs ⇒
    * same fingerprint, any partitioning, any executor count. The sum
    * accumulates in DECIMAL(38,0) (exact, no ANSI overflow at any corpus
    * size) and reduces to BIGINT only after the mod. ONE map-side-partial
    * aggregate on #source keys; doc identity = (doc_id, text) so both id
    * remaps and content drift move the checksum. */
  /** Shared fingerprint chain — the REGISTERED query and the spec's
    * permutation/perturbation laws both call this on a (doc_id, source,
    * n_chars, text) frame. */
  def datasetFingerprint(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.types.DecimalType
      docs
        .select(col("source"), col("n_chars"),
          Dedup.md5Hash60(concat(col("doc_id").cast("string"), lit(":"), col("text")))
            .as("h"))
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"),
          (sum(col("h").cast(DecimalType(38, 0))) % lit(2305843009213693951L))
            .cast("long").as("checksum"))
        .orderBy("source")
  }

  val datasetFingerprintQ = QueryDef("dataset_fingerprint",
    (s, dir) => datasetFingerprint(table(s, dir, "documents")),
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
        CAST(SUM(CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) % 2305843009213693951 AS BIGINT) AS checksum
      FROM documents GROUP BY source ORDER BY source"""))

  val defs: Seq[QueryDef] =
    Seq(dedupSemantic, decontaminateSemantic, semdedupQ, dedupRepresentative,
      dedupSoftWeights, corpusOverlap, shardAssign, corpusDrift, dataCardQ,
      sourceDedupMatrix, datasetFingerprintQ)
}
