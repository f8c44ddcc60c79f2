package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Similarity
import graft.queries.OracleSql.{dotSql, normSql, toksSql, stopListSql}

/** Data-SELECTION capabilities: the decisions a training-data pipeline makes
  * about WHICH documents/vectors to keep and how to weight them — topic
  * bucketing (nearest-centroid assignment), temperature-rebalanced source
  * mixing, rule-based quality gating (Gopher-style), crawl text extraction
  * (HTML strip), importance weighting toward a target distribution
  * (DSIR-shaped hashed n-gram likelihood ratios), tokenizer-training pair
  * statistics, and the composed selection funnel. All fully
  * oracle-replayable: md5-derived codebooks/buckets, integer-exact rule
  * arithmetic, IEEE-exact sqrt/divide/multiply chains, documented
  * left-fold float math.
  *
  * The stage builders (argmax entries, gate metrics, DSIR ratio table,
  * temperature thresholds) are defined ONCE and shared by the standalone
  * queries, the composed `pipeline_select`, and the ScaleProbe families —
  * a recalibration edits one definition, and the probe always measures
  * the shipped shape.
  */
object SelectionQueries {
  import Tables.table

  // ── shared stage builders ───────────────────────────────────────────────

  /** Fixed replayable codebook: 8 centroids × dim 64, the same md5 recipe
    * as the LSH planes (high-60-bit md5 ints → [−1,1)), cast to FLOAT so
    * the native cosine kernel's (array<float>, array<float>) contract
    * holds — the float cast is IEEE round-to-nearest in every engine, so
    * the oracle replays it with CAST(u AS FLOAT). */
  private val nClusters = 8
  private lazy val centroidInts =
    Similarity.md5PlaneInts(nClusters, 1, 64, "graft-cluster")(0)
  private[graft] lazy val centroids =
    Similarity.md5Planes(nClusters, 1, 64, "graft-cluster")(0)

  /** The argmax entries for [[clusterAssign]]: (cosine, −centroid) structs
    * whose `array_max` is the nearest centroid with ties to the LOWEST
    * id. One array build per row — each cosine evaluated once (a greatest
    * + when-chain re-inlines every cosine into every tie probe: measured
    * 2.4 s vs 0.59 s warm at sf0.1). Shared with the ScaleProbe family. */
  private[graft] def clusterArgmaxEntries(vec: Column): Seq[Column] =
    (0 until nClusters).map { c =>
      struct(
        Similarity.cosine(vec,
          array(centroids(c).map(lit): _*).cast("array<float>")).as("cs"),
        lit(-c.toLong).as("nc"))
    }

  /** Gopher gate metrics over a materialized token array column.
    * INTEGER-only threshold comparisons (0.8 ≤ k/n ⇔ 5k ≥ 4n) — no float
    * boundary for an engine to disagree on. Constants keep the Gopher
    * SHAPE (Rae et al. 2021 §A1.1) but are calibrated to this corpus's
    * 31-word synthetic vocabulary (repetition ≤ 0.6 — the paper's 0.2
    * would reject every 50+-token doc here and make the gate vacuous);
    * all three scales split ≈ 19% pass / 81% fail. */
  private[graft] final case class GopherMetrics(toks: Column) {
    val n: Column = size(toks).cast("long")
    val sumLen: Column = aggregate(transform(toks, t => length(t).cast("long")),
      lit(0L), (a, x) => a + x)
    val nStop: Column = size(filter(toks, t => t.isin(enStopwords: _*))).cast("long")
    val nAlpha: Column = size(filter(toks, t => t.rlike("[a-z]"))).cast("long")
    val nDistinct: Column = size(array_distinct(toks)).cast("long")
    val ruleWords: Column = n >= 50 && n <= 100000
    val ruleMeanWl: Column = sumLen >= n * 3 && sumLen <= n * 10
    val ruleStop: Column = nStop >= 2
    val ruleAlpha: Column = nAlpha * 5 >= n * 4
    val ruleRep: Column = (n - nDistinct) * 5 <= n * 3
    val gateOk: Column = ruleWords && ruleMeanWl && ruleStop && ruleAlpha && ruleRep
  }

  /** SQL fragments mirroring [[GopherMetrics]] — the `m`-CTE body (reads a
    * CTE exposing doc_id + `toks`) and the pass condition over its
    * columns. Defined once, spliced into both oracle strings. */
  private val gopherMetricsSqlBody =
    s"""CAST(len(toks) AS BIGINT) AS n,
        CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(toks, t -> CAST(length(t) AS BIGINT))),
          (a, x) -> a + x) AS BIGINT) AS sumlen,
        CAST(len(list_filter(toks, t -> list_contains($stopListSql, t))) AS BIGINT) AS nstop,
        CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS BIGINT) AS nalpha,
        CAST(len(list_distinct(toks)) AS BIGINT) AS ndist"""
  private val gopherPassCondSql =
    """n >= 50 AND n <= 100000
              AND sumlen >= n * 3 AND sumlen <= n * 10
              AND nstop >= 2 AND nalpha * 5 >= n * 4
              AND (n - ndist) * 5 <= n * 3"""

  /** DSIR bucket count and target predicate. The target slice is the
    * stopword-dense "heuristically English" documents — a real
    * distribution shift in this corpus (integer-exact: 0.08 ≤ k/n ⇔
    * 25k ≥ 2n). */
  private[graft] val dsirBuckets = 64
  private[graft] def dsirIsTarget(toks: Column): Column =
    size(filter(toks, t => t.isin(enStopwords: _*))) * 25 >= size(toks) * 2 &&
      size(toks) > 0

  /** Fit the DSIR ratio table: add-one-smoothed target/raw hashed-unigram
    * bucket distributions → per-bucket probability ratio. Each ratio is
    * (integer×integer)/(integer×integer) with products < 2^53, so both
    * engines compute the identical double. BOUNDED driver collect
    * (≤ 64 rows — the IVF centroid-load class); at 100 TB the count
    * aggregation is one map-side-partial scan. Input needs `toks` +
    * `is_target` columns. */
  private[graft] def dsirRatioTable(withTarget: DataFrame): Array[Double] = {
    val B = dsirBuckets
    val counts = withTarget.select(col("is_target"), explode(col("toks")).as("tk"))
      .withColumn("bk", hashBucket(col("tk"), "graft-dsir", B))
      .groupBy("bk").agg(count(lit(1)).as("cr"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("ct")).collect() // bounded: ≤ B bucket rows
    val cr = Array.fill(B)(0L); val ct = Array.fill(B)(0L)
    counts.foreach { r =>
      val b = r.getLong(0).toInt; cr(b) = r.getLong(1); ct(b) = r.getLong(2)
    }
    val tr = cr.sum; val tt = ct.sum
    Array.tabulate(B) { b =>
      ((ct(b) + 1).toDouble * (tr + B).toDouble) /
        ((cr(b) + 1).toDouble * (tt + B).toDouble)
    }
  }

  /** Per-document DSIR importance weight: the PRODUCT of per-token
    * probability ratios left-folded in document order — mathematically
    * exp(Σ log-ratio), but with only IEEE-exact multiply/divide (log is
    * not correctly-rounded across engines, a left-fold product is). The
    * ratio table rides along as a 64-double broadcast literal. */
  private[graft] def dsirWeightCol(toks: Column, ratios: Array[Double]): Column = {
    val ratioLit = array(ratios.map(lit): _*)
    aggregate(toks, lit(1.0), (acc, t) =>
      acc * element_at(ratioLit,
        (hashBucket(t, "graft-dsir", dsirBuckets) + 1).cast("int")))
  }

  /** The DSIR CTE chain (bucket fit + ratio list), reading an upstream CTE
    * that exposes `toks` and `is_target` (1/0). Ends with `rl(rls)`. */
  private def dsirRatioCtesSql(upstream: String): String =
    s"""tok AS (SELECT is_target, UNNEST(toks) AS tk FROM $upstream),
      bkt AS (SELECT is_target,
        CAST(('0x' || substring(md5('graft-dsir:' || tk), 1, 8)) AS BIGINT) % 64 AS bk
      FROM tok),
      cnts AS (SELECT bk, COUNT(*) AS cr,
                 SUM(CASE WHEN is_target = 1 THEN 1 ELSE 0 END) AS ct
               FROM bkt GROUP BY bk),
      tots AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM cnts),
      grid AS (SELECT i AS bk FROM generate_series(0, 63) gg(i)),
      rat AS (SELECT grid.bk,
        (CAST(COALESCE(c.ct, 0) + 1 AS DOUBLE) * CAST(tots.tr + 64 AS DOUBLE)) /
        (CAST(COALESCE(c.cr, 0) + 1 AS DOUBLE) * CAST(tots.tt + 64 AS DOUBLE)) AS ratio
      FROM grid LEFT JOIN cnts c ON grid.bk = c.bk CROSS JOIN tots),
      rl AS (SELECT list(ratio ORDER BY bk) AS rls FROM rat)"""

  /** The per-doc weight fold in SQL (reads `toks` + the `rl` CTE). */
  private val dsirWeightSql =
    """list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
          list_transform(toks, t ->
            rl.rls[CAST(CAST(('0x' || substring(md5('graft-dsir:' || t), 1, 8)) AS BIGINT) % 64 + 1 AS INT)])),
          (a, x) -> a * x)"""

  /** Per-source temperature thresholds (α = 0.5): source s with token
    * share p_s is resampled toward q_s ∝ p_s^α, i.e. acceptance
    * rate_s = (q_s/p_s) / max_t(q_t/p_t) — which algebraically collapses
    * to √(min_t n_t / n_s): the partition function CANCELS, leaving only
    * integer token totals, one IEEE-exact divide and one IEEE-exact sqrt
    * (no nondeterministic-order float summation anywhere). Returns
    * (source, n_docs, n_tokens, rate, thresh); per-doc keep is
    * `hashBucket(doc_id, "graft-temp", 1e6) < thresh`. */
  private[graft] def temperatureThresholds(docs: DataFrame): DataFrame =
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .withColumn("n_min", min(col("n_tokens")).over(Window.partitionBy()))
      .withColumn("rate", sqrt(col("n_min").cast("double") / col("n_tokens").cast("double")))
      .withColumn("thresh", floor(col("rate") * lit(1000000.0)).cast("long"))

  /** Temperature-threshold CTE chain in SQL — ends with
    * `st4(source, n_docs, n_tokens, rate, thresh)`. */
  /** The per-source temperature stats chain st..st4, expecting a CTE
    * `td(doc_id, source, nt)` already defined — [[temperatureCtesSql]]
    * feeds it the whole corpus; `pipeline_pretrain` feeds it the
    * post-gate post-dedup survivors. */
  private val temperatureStatsCtesSql =
    s"""st AS (SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
             FROM td GROUP BY source),
      st2 AS (SELECT source, n_docs, n_tokens,
                MIN(n_tokens) OVER () AS n_min FROM st),
      st3 AS (SELECT source, n_docs, n_tokens,
                sqrt(CAST(n_min AS DOUBLE) / CAST(n_tokens AS DOUBLE)) AS rate
              FROM st2),
      st4 AS (SELECT source, n_docs, n_tokens, rate,
                CAST(floor(rate * 1000000.0) AS BIGINT) AS thresh FROM st3)"""

  private val temperatureCtesSql =
    s"""td AS (SELECT doc_id, source,
        CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
      $temperatureStatsCtesSql"""

  private val tempBucketSql = (id: String) =>
    s"CAST(('0x' || substring(md5('graft-temp:' || CAST($id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"

  // ── cluster_assign ──────────────────────────────────────────────────────

  /** Assignment CTE chain ending in `a(vec_id, cluster, sim)` — shared by
    * the `cluster_assign` and `cluster_balance` oracles. Callers prepend
    * `WITH `. */
  private def clusterAssignCtes: String = {
    val centRows = (0 until nClusters).map(c =>
      s"SELECT $c AS c, [${centroidInts(c).mkString(",")}] AS hs")
      .mkString(" UNION ALL ")
    s"""ct AS ($centRows),
      cu AS (SELECT c,
               [CAST(CAST(h AS DOUBLE) / 1152921504606846976.0 * 2.0 - 1.0 AS FLOAT) for h in hs] AS u
             FROM ct),
      cn AS (SELECT c, u, ${normSql("u")} AS cnrm FROM cu),
      d AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      dots AS (SELECT d.vec_id, cn.c,
                 CASE WHEN d.nrm > 0 AND cn.cnrm > 0
                      THEN ${dotSql("d.embedding", "cn.u")} / (d.nrm * cn.cnrm)
                      ELSE 0.0 END AS cs
               FROM d, cn),
      r AS (SELECT vec_id, c, cs,
              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, c ASC) AS rn
            FROM dots),
      a AS (SELECT vec_id, CAST(c AS BIGINT) AS cluster, ROUND(cs, 6) AS sim
            FROM r WHERE rn = 1)"""
  }

  private def clusterAssignOracleSql: String =
    s"""WITH $clusterAssignCtes,
      z AS (SELECT cluster, COUNT(*) AS n_members FROM a GROUP BY cluster)
      SELECT a.vec_id, a.cluster, a.sim, z.n_members
      FROM a JOIN z USING (cluster) ORDER BY a.vec_id"""

  /** Nearest-centroid topic assignment under a FIXED codebook — the
    * deployment-time path of k-means topic bucketing (SemDeDup clusters,
    * domain routing): training the codebook is `Ivf.build`'s Lloyd loop
    * (already covered; data-dependent, deliberately not oracle-replayed);
    * ASSIGNMENT is a pure narrow map ([[clusterArgmaxEntries]]) — per
    * vector, argmax cosine over 8 centroids, ties to the lowest centroid
    * id — so it rides the scan with zero shuffles beyond the final size
    * rollup, and at 100 TB it's one pass at array-scan speed (native
    * fused cosine per centroid). The md5 codebook makes the whole
    * assignment replayable: the oracle regenerates centroids from exact
    * integers, replays the float cast and the double-fold cosine
    * bit-for-bit, and pins every label, similarity AND cluster size. */
  val clusterAssign = QueryDef("cluster_assign",
    (s, dir) => {
      val vecs = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val assigned = vecs
        .select(col("vec_id"),
          array_max(array(clusterArgmaxEntries(col("embedding")): _*)).as("best"))
        .select(col("vec_id"), (-col("best.nc")).cast("long").as("cluster"),
          round(col("best.cs"), 6).as("sim"))
      val sizes = assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      assigned.join(sizes, "cluster")
        .select(col("vec_id"), col("cluster"), col("sim"), col("n_members"))
        .orderBy("vec_id")
    },
    Some(clusterAssignOracleSql))

  // ── sample_temperature ──────────────────────────────────────────────────

  /** Temperature-rebalanced source mixing (the mC4/PaLM α-sampling shape)
    * — see [[temperatureThresholds]] for the exactness argument. Per-doc
    * keep is the salted md5 threshold — deterministic at 100 TB where
    * random() draws are irreproducible. Scale shape: one map-side-partial
    * agg over the corpus, a 20-row broadcast back, a narrow filter, one
    * more partial agg. */
  val sampleTemperature = QueryDef("sample_temperature",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), tokenCount(col("text")).as("nt"))
      val stats = temperatureThresholds(docs)
      val kept = docs.join(broadcast(stats.select("source", "thresh")), "source")
        .filter(hashBucket(col("doc_id"), "graft-temp", 1000000) < col("thresh"))
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
      stats.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("rate"), 6).as("rate"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some(s"""WITH $temperatureCtesSql,
      k AS (SELECT td.source, COUNT(*) AS n_kept
            FROM td JOIN st4 USING (source)
            WHERE ${tempBucketSql("doc_id")} < thresh
            GROUP BY td.source)
      SELECT st4.source, st4.n_docs, CAST(st4.n_tokens AS BIGINT) AS n_tokens,
        ROUND(st4.rate, 6) AS rate,
        CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
      FROM st4 LEFT JOIN k ON st4.source = k.source
      ORDER BY st4.source"""))

  // ── quality_gopher ──────────────────────────────────────────────────────

  /** Gopher-style rule-based quality gate: per document, the five standard
    * repetition/format rules ([[GopherMetrics]]) as VISIBLE verdict
    * columns (the approx_distinct lesson — a regression flips a
    * hash-compared value, it never silently drops a row) plus the overall
    * pass. One narrow codegen'd map over the scan — tokenize once, derive
    * all metrics from the materialized token array. */
  val qualityGopher = QueryDef("quality_gopher",
    (s, dir) => {
      import graft.plans.Once.once
      // r15 sort-early + Once: each HOF metric (sumLen fold, stopword
      // filter, per-token rlike, distinct) is computed into ONE pinned
      // column; the rules and the final `pass` read the columns instead
      // of re-inlining the HOFs (gateOk alone re-evaluated all five).
      val base = Tables.documentsRanged(s, dir)
        .select(col("doc_id"), once(tokens(col("text"))).as("toks"))
      val m = GopherMetrics(col("toks"))
      def verdict(c: Column) = when(c, 1).otherwise(0)
      base
        .withColumn("n_w", m.n)
        .withColumn("sl", once(m.sumLen))
        .withColumn("nstop", once(m.nStop))
        .withColumn("nalpha", once(m.nAlpha))
        .withColumn("ndist", once(m.nDistinct))
        .withColumn("r_words", col("n_w") >= 50 && col("n_w") <= 100000)
        .withColumn("r_meanwl", col("sl") >= col("n_w") * 3 && col("sl") <= col("n_w") * 10)
        .withColumn("r_stop", col("nstop") >= 2)
        .withColumn("r_alpha", col("nalpha") * 5 >= col("n_w") * 4)
        .withColumn("r_rep", (col("n_w") - col("ndist")) * 5 <= col("n_w") * 3)
        .select(
          col("doc_id"),
          col("n_w").as("n_words"),
          when(col("n_w") > 0, round(col("sl").cast("double") / col("n_w").cast("double"), 4))
            .otherwise(lit(0.0)).as("mean_word_len"),
          verdict(col("r_words")).as("rule_words"),
          verdict(col("r_meanwl")).as("rule_mean_wl"),
          verdict(col("r_stop")).as("rule_stopwords"),
          verdict(col("r_alpha")).as("rule_alpha"),
          verdict(col("r_rep")).as("rule_repetition"),
          verdict(col("r_words") && col("r_meanwl") && col("r_stop") &&
            col("r_alpha") && col("r_rep")).as("pass"))
        .sortWithinPartitions("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, $gopherMetricsSqlBody
      FROM d)
      SELECT doc_id, n AS n_words,
        CASE WHEN n > 0 THEN ROUND(CAST(sumlen AS DOUBLE) / CAST(n AS DOUBLE), 4)
             ELSE 0.0 END AS mean_word_len,
        CASE WHEN n >= 50 AND n <= 100000 THEN 1 ELSE 0 END AS rule_words,
        CASE WHEN sumlen >= n * 3 AND sumlen <= n * 10 THEN 1 ELSE 0 END AS rule_mean_wl,
        CASE WHEN nstop >= 2 THEN 1 ELSE 0 END AS rule_stopwords,
        CASE WHEN nalpha * 5 >= n * 4 THEN 1 ELSE 0 END AS rule_alpha,
        CASE WHEN (n - ndist) * 5 <= n * 3 THEN 1 ELSE 0 END AS rule_repetition,
        CASE WHEN $gopherPassCondSql THEN 1 ELSE 0 END AS pass
      FROM m ORDER BY doc_id"""))

  // ── html_strip ──────────────────────────────────────────────────────────

  /** Crawl text extraction: strip script/style blocks, then tags, decode
    * entities, collapse whitespace — the front end every web-corpus
    * pipeline runs before any quality/dedup stage. The corpus has no HTML
    * column, so the page is SYNTHESIZED deterministically on both sides
    * (the url_normalize pattern): each doc is wrapped in a full
    * head/style/h1/p/script skeleton and seeded with an &amp; entity, so
    * every extraction rule demonstrably fires. Pure global-regex chain
    * riding the scan (the replaying engine must pass its global flag on
    * EVERY rule — DuckDB 'g'); non-greedy (`.*?`) block bodies are shared
    * Java/RE2 syntax. */
  val htmlStrip = QueryDef("html_strip",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val ent = regexp_replace(col("text"), " and ", " &amp; ")
      val html = format_string(
        "<html><head><title>Doc %s</title><style>p{margin:0}</style></head>" +
          "<body><h1>Doc %s</h1><p>%s</p><script>track(%s);</script></body></html>",
        col("doc_id").cast("string"), col("doc_id").cast("string"), ent,
        col("doc_id").cast("string"))
      val stripped = trim(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, "<script>.*?</script>", ""),
                "<style>.*?</style>", ""),
              "<[^>]*>", " "),
            "&amp;", "&"),
          " +", " "))
      docs.select(col("doc_id"), stripped.as("text_out"),
        length(stripped).cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
        '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        '</title><style>p{margin:0}</style></head><body><h1>Doc ' ||
        CAST(doc_id AS VARCHAR) || '</h1><p>' ||
        regexp_replace(text, ' and ', ' &amp; ', 'g') ||
        '</p><script>track(' || CAST(doc_id AS VARCHAR) ||
        ');</script></body></html>' AS html
      FROM documents),
      st AS (SELECT doc_id, trim(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(html, '<script>.*?</script>', '', 'g'),
                '<style>.*?</style>', '', 'g'),
              '<[^>]*>', ' ', 'g'),
            '&amp;', '&', 'g'),
          ' +', ' ', 'g')) AS text_out
      FROM h)
      SELECT doc_id, text_out, CAST(length(text_out) AS BIGINT) AS n_chars
      FROM st ORDER BY doc_id"""))

  // ── dsir_weights ────────────────────────────────────────────────────────

  /** DSIR-shaped importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): hash word unigrams
    * into 64 md5 buckets, fit add-one-smoothed bucket distributions for
    * the TARGET slice and the RAW corpus ([[dsirRatioTable]]), and weight
    * each document by its likelihood ratio ([[dsirWeightCol]] — a
    * left-fold product with only IEEE-exact ops, so both engines compute
    * the identical double). */
  val dsirWeights = QueryDef("dsir_weights",
    (s, dir) => {
      import graft.plans.Once.once
      // r15 sort-early + Once (the pipeline_select shape): the per-token
      // md5 weight fold was inlined into both weight and hi_weight and
      // ran on the single scan core, as did the plan-time ratio fit
      val docs = Tables.documentsRanged(s, dir).select(col("doc_id"), col("text"))
        .withColumn("toks", once(tokens(col("text"))))
        .withColumn("is_target", dsirIsTarget(col("toks")))
      val ratios = dsirRatioTable(docs)
      docs
        .withColumn("wt", once(dsirWeightCol(col("toks"), ratios)))
        .select(col("doc_id"),
          when(col("is_target"), 1).otherwise(0).as("is_target"),
          round(col("wt"), 6).as("weight"),
          when(col("wt") > 1.0, 1).otherwise(0).as("hi_weight"))
        .sortWithinPartitions("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      t2 AS (SELECT doc_id, toks,
        CASE WHEN len(list_filter(toks, t -> list_contains($stopListSql, t))) * 25 >= len(toks) * 2
              AND len(toks) > 0 THEN 1 ELSE 0 END AS is_target
      FROM d),
      ${dsirRatioCtesSql("t2")},
      w AS (SELECT doc_id, is_target, $dsirWeightSql AS wt
      FROM t2 CROSS JOIN rl)
      SELECT doc_id, is_target, ROUND(wt, 6) AS weight,
        CASE WHEN wt > 1.0 THEN 1 ELSE 0 END AS hi_weight
      FROM w ORDER BY doc_id"""))

  // ── bpe_pair_counts ─────────────────────────────────────────────────────

  /** Tokenizer-training prep: the FIRST BPE merge iteration's statistics
    * (Sennrich et al. 2016) — adjacent character-pair counts over the
    * corpus vocabulary, weighted by word frequency; the top pair is the
    * first merge a BPE trainer would take. Two map-side-partial aggs (word
    * counts, then pair counts over the per-word 2-gram explode — the
    * [[graft.plans.CharNgrams]] one-pass kernel, duplicates kept) and a
    * TakeOrdered top-30; ties broken by pair text so the cut is a total
    * order. At 100 TB the pair space is bounded by alphabet², not corpus
    * size — the classic reduce-side-tiny aggregation. */
  val bpePairCounts = QueryDef("bpe_pair_counts",
    (s, dir) => {
      val words = table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("wc"))
      words
        .select(col("wc"), explode(charNgrams(col("w"), 2, distinct = false)).as("pair"))
        .filter(length(col("pair")) === 2)
        .groupBy("pair").agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(30)
    },
    Some(s"""WITH tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wc AS (SELECT w, COUNT(*) AS wcnt FROM tok GROUP BY w),
      pr AS (SELECT wcnt,
               UNNEST([substring(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
             FROM wc WHERE length(w) >= 2),
      agg AS (SELECT pair, SUM(wcnt) AS n FROM pr GROUP BY pair)
      SELECT pair, CAST(n AS BIGINT) AS n FROM agg
      ORDER BY n DESC, pair ASC LIMIT 30"""))

  // ── bpe_encode ──────────────────────────────────────────────────────────

  /** Merge-table depth: enough rounds that merged symbols THEMSELVES merge
    * again on this corpus (multi-char symbols appear by round 8), small
    * enough that the oracle's nested-replace tree stays readable. */
  private val bpeNumMerges = 8

  /** TOKENIZER APPLICATION — the encode half of BPE (Sennrich et al.
    * 2016), completing the training half (`bpe_pair_counts`): learn the
    * top-`bpeNumMerges` merge table from frequency-weighted adjacent-pair
    * counts (a bounded ≤ 8-row driver collect off one partial agg — the
    * IVF-centroid-load class), then encode every document by spacing each
    * word into characters and applying the merges IN RANK ORDER (merge k
    * rewrites all its occurrences before merge k+1 runs, so later merges
    * see earlier merges' output symbols — the standard ranked-merge apply
    * loop). Each merge is ONE global regex rewrite with leftmost-first
    * non-overlapping semantics — a deliberate, documented VARIANT of
    * canonical per-symbol BPE: the pattern "a b" also fires across a
    * multi-character symbol boundary (growing "lu e" → "lue"), and
    * match consumption skips alternate pairs inside long same-letter
    * runs, where canonical BPE re-scans. Chosen because RE2 (the
    * replaying engine's regex) has no lookaround to anchor whole-symbol
    * matches — and BOTH engines implement the identical leftmost-first
    * contract, so every rewrite replays bit-for-bit. Encoding is a
    * narrow codegen'd map (a regexp_replace chain inside one
    * `transform`), so at 100 TB it rides the scan like every other text
    * kernel. The oracle re-derives the SAME merge table in SQL (total
    * order: count desc, pair asc) and replays the chain — merge choice,
    * every encoded symbol boundary, and the per-doc symbol counts are
    * all hash-checked. */
  /** DuckDB replay of the merge learning + per-doc encode, ending in
    * `cnt(doc_id, lang, n_words, n_symbols, enc_first)` — shared by the
    * `bpe_encode` and `bpe_fertility` oracles. The merge-application
    * chain runs innermost-first (merge rank 1 first, matching the Scala
    * foldLeft); merges ride as p1..pN COLUMNS off a one-row cross join —
    * DuckDB lambdas reject subqueries but capture enclosing columns. */
  private val bpeEncCtesSql: String = {
    val applied = (1 to bpeNumMerges).foldLeft("trim(regexp_replace(t, '(.)', '\\1 ', 'g'))") {
      (acc, i) =>
        s"""regexp_replace($acc,
          substring(p$i, 1, 1) || ' ' || substring(p$i, 2, 1), p$i, 'g')"""
    }
    val msCols = (1 to bpeNumMerges)
      .map(i => s"max(CASE WHEN rn = $i THEN pair END) AS p$i").mkString(", ")
    s"""tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wc AS (SELECT w, COUNT(*) AS wcnt FROM tok GROUP BY w),
      pr AS (SELECT wcnt,
               UNNEST([substring(w, i, 2) for i in generate_series(1, length(w) - 1)]) AS pair
             FROM wc WHERE length(w) >= 2),
      agg AS (SELECT pair, SUM(wcnt) AS n FROM pr
              WHERE regexp_matches(pair, '^[a-z0-9]{2}$$') GROUP BY pair),
      mt AS (SELECT pair, ROW_NUMBER() OVER (ORDER BY n DESC, pair ASC) AS rn
             FROM agg QUALIFY rn <= $bpeNumMerges),
      ms AS (SELECT $msCols FROM mt),
      d AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
      enc AS (SELECT doc_id, lang, toks,
                list_transform(toks, t -> $applied) AS encs
              FROM d CROSS JOIN ms),
      cnt AS (SELECT doc_id, lang,
                CAST(len(toks) AS BIGINT) AS n_words,
                CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(encs, e -> CAST(len(string_split(e, ' ')) AS BIGINT))),
                  (a, b) -> a + b) AS BIGINT) AS n_symbols,
                CASE WHEN len(encs) > 0 THEN encs[1] END AS enc_first
              FROM enc)"""
  }

  /** The corpus-learned merge table + per-doc encode counts (doc_id,
    * lang, n_words, n_symbols, enc_first) — shared by `bpe_encode` and
    * the `bpe_fertility` per-language rollup. */
  private def bpeEncodedCounts(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val words = table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val merges: Array[String] = words
      .select(col("wc"), explode(charNgrams(col("w"), 2, distinct = false)).as("pair"))
      // regex-safe merge alphabet (the corpus is [a-z0-9]; punctuation
      // pairs would need quoting in BOTH engines' patterns)
      .filter(col("pair").rlike("^[a-z0-9]{2}$"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair").asc).limit(bpeNumMerges)
      .collect().map(_.getString(0)) // bounded: ≤ bpeNumMerges rows
    require(merges.length == bpeNumMerges,
      s"corpus yields only ${merges.length} merge pairs (< $bpeNumMerges)")
    def encodeWord(w: Column): Column = {
      val spaced = trim(regexp_replace(w, "(.)", "$1 "))
      // r15: the merge patterns are literal 2-char [a-z0-9] pairs (the
      // rlike gate above guarantees no metacharacters), so each fold step
      // is a plain substring replace — `replace` (StringReplace codegen)
      // instead of `regexp_replace`, byte-identical output, no regex
      // engine on the ~20-deep per-token chain.
      merges.foldLeft(spaced) { (acc, p) =>
        replace(acc, lit(s"${p(0)} ${p(1)}"), lit(p.toString))
      }
    }
    // r15: distribute the doc scan before the per-token encode chain and
    // pin `encs` with Once — the single-core scan otherwise carries the
    // 20-replace-per-token transform, twice (CollapseProject inlines the
    // alias into both n_symbols and enc_first).
    graft.ops.Parallelism.byRange(
        table(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .withColumn("encs", graft.plans.Once.once(
        transform(col("toks"), t => encodeWord(t))))
      .select(col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("encs"), lit(0L),
          (acc, e) => acc + size(split(e, " ")).cast("long")).as("n_symbols"),
        when(size(col("encs")) > 0, element_at(col("encs"), 1)).as("enc_first"))
  }

  val bpeEncode = QueryDef("bpe_encode",
    (s, dir) =>
      bpeEncodedCounts(s, dir)
        .select("doc_id", "n_words", "n_symbols", "enc_first")
        .sortWithinPartitions("doc_id"),
    Some(s"""WITH $bpeEncCtesSql
        SELECT doc_id, n_words, n_symbols, enc_first
        FROM cnt ORDER BY doc_id"""))

  // ── trained-tokenizer memo ──────────────────────────────────────────────

  /** Memoized tokenizer-training chains per (session, corpus dir, family)
    * — the [[DatasetQueries.nearDupClusters]] memo pattern applied to the
    * trainers: the `_oracle` and `_fertility` twins of each family rebuild
    * the IDENTICAL corpus word-count + training chain, and the chains'
    * unrolled-DP localCheckpoints execute at DataFrame-BUILD time (4 of
    * the sf0.1 sweep's top-10 plan costs were the twins paying the same
    * training twice). The memo returns the SAME checkpointed frames, so
    * the second query of each pair reruns only its own narrow reporting
    * layer. Safe under the read-only testdata contract (inputs immutable
    * within a session); entries drop with the owning session via
    * [[graft.ops.SessionMemo]]. */
  private val trainers = new graft.ops.SessionMemo[(String, String), AnyRef]

  private def memoTrained[T <: AnyRef](s: org.apache.spark.sql.SparkSession,
                                       dir: String, family: String)
                                      (build: => T): T =
    trainers(s, (dir, family))(build).asInstanceOf[T]

  /** Shared regex-safe weighted word vocabulary the trainers consume
    * (single-byte ASCII alphabet keeps both engines' character handling
    * trivially identical); `maxLen` caps word length for the DP-unrolled
    * families. */
  private def trainerVocab(s: org.apache.spark.sql.SparkSession, dir: String,
                           maxLen: Option[Int] = None) = {
    val toks = table(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w").rlike("^[a-z0-9]+$"))
    maxLen.fold(toks)(n => toks.filter(length(col("w")) <= n))
      .groupBy("w").agg(count(lit(1)).as("wc"))
  }

  private def trainedBpe(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[graft.operators.Bpe.Merge], org.apache.spark.sql.DataFrame) =
    memoTrained(s, dir, "bpe") {
      graft.operators.Bpe.train(trainerVocab(s, dir), bpeTrainRounds)
    }

  private def trainedWordPiece(s: org.apache.spark.sql.SparkSession, dir: String)
      : (Seq[graft.operators.Bpe.WpMerge], org.apache.spark.sql.DataFrame) =
    memoTrained(s, dir, "wordpiece") {
      graft.operators.Bpe.trainWordPiece(trainerVocab(s, dir), wpTrainRounds)
    }

  private def trainedUnigram(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    memoTrained(s, dir, "unigram") {
      graft.operators.Unigram.train(trainerVocab(s, dir, Some(ugMaxWordLen)),
        ugMaxWordLen, ugMaxPieceLen, ugSeedMulti, ugEmRounds, ugPruneMulti)
    }

  /** Memoized FULL-EM unigram chain: (final expected micro-count table,
    * final per-word Viterbi segmentation under the EM-trained model).
    * The Viterbi apply pass rides the memo exactly as in the hard-EM
    * family (where it falls out of training): SentencePiece infers with
    * Viterbi regardless of how probabilities were fit, so the trained
    * chain ends with one decode pass and BOTH twins (`_oracle` reads
    * ._1, `_fertility` reads ._2) are pure lazy reporting layers over
    * the same checkpointed frames. */
  private def trainedUnigramEm(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    memoTrained(s, dir, "unigram_em") {
      val cnt = graft.operators.Unigram.trainEm(
        trainerVocab(s, dir, Some(ugMaxWordLen)),
        ugMaxWordLen, ugMaxPieceLen, ugSeedMulti, ugEmRounds, ugPruneMulti)
      // r15: narrow zero-job Viterbi decode over the bounded collected
      // model (bit-identical to the relational pass — UnigramNarrowSpec)
      val fin = graft.operators.Unigram.viterbiNarrow(
        trainerVocab(s, dir, Some(ugMaxWordLen)).localCheckpoint(),
        graft.operators.Unigram.probsMicroMap(cnt), ugMaxWordLen, ugMaxPieceLen)
      (cnt, fin)
    }

  // ── bpe_train_oracle ────────────────────────────────────────────────────

  private val bpeTrainRounds = 6

  /** One canonical-BPE training round in SQL, given the previous symbol
    * rows CTE `r(k-1)(w, wc, pos, sym)`: dense re-index, lead adjacency,
    * best pair under the (count desc, sym asc, nsym asc) total order,
    * leftmost-first non-overlapping merge via the gaps-and-islands odd-
    * rank rule — the exact relational steps [[graft.operators.Bpe.train]]
    * executes. */
  private def bpeTrainRoundSql(k: Int): String = {
    val prev = if (k == 1) "r0" else s"r${k - 1}"
    // MATERIALIZED = DuckDB-plan-only hint (values unchanged): a$k is
    // referenced three times and r$k feeds the next round, so inlining
    // grows the tree ~3^rounds (the knn_graph/bt_rating lesson; this
    // oracle read 62 s at sf0.1 inlined, 2 s materialized)
    s"""d$k AS (SELECT w, wc, sym,
          ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS idx FROM $prev),
      a$k AS MATERIALIZED (SELECT w, wc, idx, sym,
          LEAD(sym) OVER (PARTITION BY w ORDER BY idx) AS nsym FROM d$k),
      b$k AS (SELECT sym AS ma, nsym AS mb, CAST(n AS BIGINT) AS n FROM (
            SELECT sym, nsym, SUM(wc) AS n,
              ROW_NUMBER() OVER (ORDER BY SUM(wc) DESC, sym ASC, nsym ASC) AS rn
            FROM a$k WHERE nsym IS NOT NULL GROUP BY sym, nsym) WHERE rn = 1),
      k$k AS (SELECT w, idx FROM (
            SELECT w, idx, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY idx) AS krn
            FROM (SELECT a$k.w, a$k.idx,
                    a$k.idx - ROW_NUMBER() OVER (PARTITION BY a$k.w ORDER BY a$k.idx) AS grp
                  FROM a$k, b$k WHERE a$k.sym = b$k.ma AND a$k.nsym = b$k.mb))
          WHERE krn % 2 = 1),
      r$k AS MATERIALIZED (SELECT w, wc, idx AS pos,
            CASE WHEN head THEN sym || nsym ELSE sym END AS sym
          FROM (SELECT a$k.w, a$k.wc, a$k.idx, a$k.sym, a$k.nsym,
                  k$k.idx IS NOT NULL AS head,
                  COALESCE(LAG(k$k.idx IS NOT NULL)
                    OVER (PARTITION BY a$k.w ORDER BY a$k.idx), FALSE) AS prev_head
                FROM a$k LEFT JOIN k$k ON a$k.w = k$k.w AND a$k.idx = k$k.idx)
          WHERE NOT prev_head)"""
  }

  /** CANONICAL iterative BPE training, hash-certified — the second
    * classic TRAINING LOOP under the oracle (Lloyd k-means was the
    * first, `kmeans_train_oracle`): [[graft.operators.Bpe.train]] runs
    * $bpeTrainRounds true Sennrich rounds over the frequency-weighted
    * corpus vocabulary — pair statistics RECOMPUTED after every merge,
    * so later merges consume earlier merges' output symbols (the
    * property the one-shot ranked cut of `bpe_encode` approximates
    * away) — and the oracle replays every round: re-index, adjacency,
    * weighted pair counts, the total-order argmax, and the
    * leftmost-first non-overlapping rewrite (odd ranks within
    * consecutive-match runs — "aaaa" merges to "aa aa", exactly
    * canonical scan semantics). Output = the learned merge table
    * (rank, pair, weighted count). Scale: per-round work is bounded by
    * the DISTINCT vocabulary (per-word windows, map-side pair agg, a
    * one-row driver collect per round), not the corpus. */
  val bpeTrainOracle = QueryDef("bpe_train_oracle",
    (s, dir) => {
      val (merges, _) = trainedBpe(s, dir)
      require(merges.length == bpeTrainRounds,
        s"corpus exhausted after ${merges.length} merges (< $bpeTrainRounds)")
      import s.implicits._
      merges.zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m.left + m.right, m.n) }
        .toDF("rank", "pair", "n").orderBy("rank")
    },
    Some {
      val rounds = (1 to bpeTrainRounds).map(bpeTrainRoundSql).mkString(",\n      ")
      val sel = (1 to bpeTrainRounds)
        .map(k => s"SELECT CAST($k AS BIGINT) AS rank, ma || mb AS pair, n FROM b$k")
        .mkString("\n      UNION ALL ")
      s"""WITH tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wcv AS (SELECT w, COUNT(*) AS wc FROM tok
              WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY w),
      r0 AS (SELECT w, wc,
               UNNEST([i for i in generate_series(1, length(w))]) AS pos,
               UNNEST([substring(w, i, 1) for i in generate_series(1, length(w))]) AS sym
             FROM wcv),
      $rounds
      $sel ORDER BY rank"""
    })

  /** TRAIN → APPLY under the canonical trainer — tokenize the corpus
    * with the [[bpeTrainOracle]] merge table, via the 100 TB apply
    * trick: the trainer's final symbol rows ARE the encoded vocabulary,
    * so applying the tokenizer is one `group rows by word → symbols per
    * word` agg plus an equi-join from exploded documents to the distinct
    * vocab — each distinct word is encoded ONCE no matter how often it
    * occurs (at corpus scale the vocab is ~10⁷ rows against ~10¹²
    * tokens, and the join broadcasts). Output = per-language fertility
    * under the TRUE iteratively-trained tokenizer (`bpe_fertility`
    * reports the same metric under the one-shot-cut encode — the pair
    * quantifies what canonical training buys). Oracle replays the full
    * train chain, the vocab rollup, and the join. */
  val bpeTrainFertility = QueryDef("bpe_train_fertility",
    (s, dir) => {
      val (_, encoded) = trainedBpe(s, dir)
      val wsym = encoded.groupBy("w").agg(count(lit(1)).as("n_sym"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .join(wsym, "w")
        .groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("lang")
    },
    Some {
      val rounds = (1 to bpeTrainRounds).map(bpeTrainRoundSql).mkString(",\n      ")
      s"""WITH tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wcv AS (SELECT w, COUNT(*) AS wc FROM tok
              WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY w),
      r0 AS (SELECT w, wc,
               UNNEST([i for i in generate_series(1, length(w))]) AS pos,
               UNNEST([substring(w, i, 1) for i in generate_series(1, length(w))]) AS sym
             FROM wcv),
      $rounds,
      ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym
             FROM r$bpeTrainRounds GROUP BY w),
      dw AS (SELECT doc_id, lang, UNNEST($toksSql) AS w FROM documents),
      dwf AS (SELECT doc_id, lang, w FROM dw WHERE regexp_matches(w, '^[a-z0-9]+$$'))
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_words,
        CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
        ROUND(CAST(SUM(n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
      FROM dwf JOIN ws USING (w) GROUP BY lang ORDER BY lang"""
    })

  /** Tokenizer fertility per language — THE tokenizer-evaluation metric
    * (symbols emitted per word; multilingual tokenizer papers report it
    * per language because a vocabulary tuned to one language fragments
    * the others): the corpus-learned BPE of `bpe_encode` applied to
    * every document, rolled up as Σsymbols/Σwords per `lang`. Integer
    * sums (order-free) + one IEEE divide; the shared [[bpeEncCtesSql]]
    * replays the merge learning and every encode. */
  val bpeFertility = QueryDef("bpe_fertility",
    (s, dir) =>
      bpeEncodedCounts(s, dir)
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_symbols")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("lang"),
    Some(s"""WITH $bpeEncCtesSql
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_words) AS BIGINT) AS n_words,
          CAST(SUM(n_symbols) AS BIGINT) AS n_symbols,
          ROUND(CAST(SUM(n_symbols) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6) AS fertility
        FROM cnt GROUP BY lang ORDER BY lang"""))

  // ── wordpiece_train_oracle ──────────────────────────────────────────────

  private val wpTrainRounds = 5

  /** One canonical WordPiece training round in SQL, given the previous
    * symbol rows CTE `r(k-1)(w, wc, pos, sym)`: the [[bpeTrainRoundSql]]
    * steps with the WordPiece pair score — n_ab·10¹² floor-div
    * (n_a·n_b) in HUGEINT (mirrors the engine's DECIMAL(38,0)), ties
    * (score desc, n desc, sym asc, nsym asc) — and the `##`-stripping
    * merge concat. MATERIALIZED hints as in bpeTrainRoundSql (a$k is
    * referenced three times, d$k/sc$k twice, r$k feeds the next round). */
  private def wpTrainRoundSql(k: Int): String = {
    val prev = if (k == 1) "r0" else s"r${k - 1}"
    s"""d$k AS MATERIALIZED (SELECT w, wc, sym,
          ROW_NUMBER() OVER (PARTITION BY w ORDER BY pos) AS idx FROM $prev),
      a$k AS MATERIALIZED (SELECT w, wc, idx, sym,
          LEAD(sym) OVER (PARTITION BY w ORDER BY idx) AS nsym FROM d$k),
      sc$k AS MATERIALIZED (SELECT sym, SUM(wc) AS occ FROM d$k GROUP BY sym),
      pc$k AS (SELECT sym, nsym, SUM(wc) AS n FROM a$k
               WHERE nsym IS NOT NULL GROUP BY sym, nsym),
      b$k AS (SELECT ma, mb, n, score FROM (
            SELECT ma, mb, n, score,
              ROW_NUMBER() OVER (ORDER BY score DESC, n DESC, ma ASC, mb ASC) AS rn
            FROM (SELECT p.sym AS ma, p.nsym AS mb, CAST(p.n AS BIGINT) AS n,
                    CAST(CAST(p.n AS HUGEINT) * 1000000000000
                         // (CAST(sa.occ AS HUGEINT) * sb.occ) AS BIGINT) AS score
                  FROM pc$k p
                  JOIN sc$k sa ON sa.sym = p.sym
                  JOIN sc$k sb ON sb.sym = p.nsym))
          WHERE rn = 1),
      k$k AS (SELECT w, idx FROM (
            SELECT w, idx, ROW_NUMBER() OVER (PARTITION BY w, grp ORDER BY idx) AS krn
            FROM (SELECT a$k.w, a$k.idx,
                    a$k.idx - ROW_NUMBER() OVER (PARTITION BY a$k.w ORDER BY a$k.idx) AS grp
                  FROM a$k, b$k WHERE a$k.sym = b$k.ma AND a$k.nsym = b$k.mb))
          WHERE krn % 2 = 1),
      r$k AS MATERIALIZED (SELECT w, wc, idx AS pos,
            CASE WHEN head THEN sym ||
              (CASE WHEN nsym LIKE '##%' THEN substring(nsym, 3) ELSE nsym END)
            ELSE sym END AS sym
          FROM (SELECT a$k.w, a$k.wc, a$k.idx, a$k.sym, a$k.nsym,
                  k$k.idx IS NOT NULL AS head,
                  COALESCE(LAG(k$k.idx IS NOT NULL)
                    OVER (PARTITION BY a$k.w ORDER BY a$k.idx), FALSE) AS prev_head
                FROM a$k LEFT JOIN k$k ON a$k.w = k$k.w AND a$k.idx = k$k.idx)
          WHERE NOT prev_head)"""
  }

  /** CANONICAL iterative WordPiece training (Schuster & Nakajima, ICASSP
    * 2012 — the BERT-family tokenizer), hash-certified: the same
    * distributed loop as [[bpeTrainOracle]] with the LIKELIHOOD-GAIN
    * pair score count(ab)/(count(a)·count(b)) — a rare pair of rare
    * symbols beats a frequent pair of ubiquitous ones, which is what
    * puts long-tail morphemes into BERT vocabularies (SelectionSpec pins
    * a constructed case where the two trainers' first merges DIVERGE).
    * Subword identity carries the `##` continuation prefix (a‖##b → ab,
    * ##a‖##b → ##ab). Scoring is exact integer micro-units accumulated
    * in DECIMAL(38,0) (HUGEINT in the oracle — no float boundary, no
    * BIGINT wrap); per-round work is DISTINCT-vocabulary-bounded; the
    * argmax is a one-row driver collect; the oracle unrolls all
    * $wpTrainRounds rounds. */
  val wordpieceTrainOracle = QueryDef("wordpiece_train_oracle",
    (s, dir) => {
      val (merges, _) = trainedWordPiece(s, dir)
      require(merges.length == wpTrainRounds,
        s"corpus exhausted after ${merges.length} merges (< $wpTrainRounds)")
      import s.implicits._
      merges.zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m.left, m.right, m.n, m.score) }
        .toDF("rank", "left", "right", "n", "score").orderBy("rank")
    },
    Some {
      val rounds = (1 to wpTrainRounds).map(wpTrainRoundSql).mkString(",\n      ")
      val sel = (1 to wpTrainRounds)
        .map(k => s"SELECT CAST($k AS BIGINT) AS rank, ma AS \"left\", mb AS \"right\", n, score FROM b$k")
        .mkString("\n      UNION ALL ")
      s"""WITH tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wcv AS (SELECT w, COUNT(*) AS wc FROM tok
              WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY w),
      r0 AS (SELECT w, wc,
               UNNEST([i for i in generate_series(1, length(w))]) AS pos,
               UNNEST([CASE WHEN i = 1 THEN substring(w, i, 1)
                            ELSE '##' || substring(w, i, 1) END
                       for i in generate_series(1, length(w))]) AS sym
             FROM wcv),
      $rounds
      $sel ORDER BY rank"""
    })

  /** TRAIN → APPLY under the canonical WordPiece trainer — the
    * [[bpeTrainFertility]] closure for the second tokenizer family: the
    * trainer's final symbol rows ARE the encoded vocabulary, so
    * application is one distinct-word rollup + equi-join (each distinct
    * word encoded once against ~10¹² occurrences — the 100 TB apply
    * trick). Reporting BOTH trainers' fertility on one corpus is the
    * standard tokenizer-selection comparison; this pair quantifies what
    * the likelihood score buys per language. Oracle replays the full
    * WordPiece train chain, the vocab rollup, and the join. */
  val wordpieceTrainFertility = QueryDef("wordpiece_train_fertility",
    (s, dir) => {
      val (_, encoded) = trainedWordPiece(s, dir)
      val wsym = encoded.groupBy("w").agg(count(lit(1)).as("n_sym"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$"))
        .join(wsym, "w")
        .groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("lang")
    },
    Some {
      val rounds = (1 to wpTrainRounds).map(wpTrainRoundSql).mkString(",\n      ")
      s"""WITH tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wcv AS (SELECT w, COUNT(*) AS wc FROM tok
              WHERE regexp_matches(w, '^[a-z0-9]+$$') GROUP BY w),
      r0 AS (SELECT w, wc,
               UNNEST([i for i in generate_series(1, length(w))]) AS pos,
               UNNEST([CASE WHEN i = 1 THEN substring(w, i, 1)
                            ELSE '##' || substring(w, i, 1) END
                       for i in generate_series(1, length(w))]) AS sym
             FROM wcv),
      $rounds,
      ws AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sym
             FROM r$wpTrainRounds GROUP BY w),
      dw AS (SELECT doc_id, lang, UNNEST($toksSql) AS w FROM documents),
      dwf AS (SELECT doc_id, lang, w FROM dw WHERE regexp_matches(w, '^[a-z0-9]+$$'))
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_words,
        CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
        ROUND(CAST(SUM(n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
      FROM dwf JOIN ws USING (w) GROUP BY lang ORDER BY lang"""
    })

  // ── unigram_train_oracle ────────────────────────────────────────────────

  private val ugMaxWordLen = 8   // DP unroll depth; corpus max word length
  private val ugMaxPieceLen = 4  // longest seed substring
  private val ugSeedMulti = 80   // multi-char seed pieces kept
  private val ugEmRounds = 2     // hard-EM rounds before pruning
  private val ugPruneMulti = 40  // multi-char pieces surviving the prune

  /** One Viterbi pass in SQL: the [[graft.operators.Unigram.viterbi]] DP
    * unrolled position by position — step i joins the ≤ maxPieceLen
    * predecessor states against the piece CTE on the connecting
    * substring, scores by one IEEE multiply per step, and takes the
    * per-word argmax under the (prob desc, k asc, path asc) total order.
    * MATERIALIZED because each step is read by up to maxPieceLen later
    * steps plus the final union (the bpeTrainRoundSql lesson). */
  private def ugPassSql(n: Int, pcCte: String): String = {
    val steps = (1 to ugMaxWordLen).map { i =>
      val lo = math.max(0, i - ugMaxPieceLen)
      val prevUnion = (lo until i).map(j => s"SELECT * FROM v${n}p$j")
        .mkString(" UNION ALL ")
      s"""v${n}p$i AS MATERIALIZED (SELECT w, wc, pos, prob, k, path FROM (
          SELECT w, wc, pos, prob, k, path,
            ROW_NUMBER() OVER (PARTITION BY w
              ORDER BY prob DESC, k ASC, path ASC) AS rn
          FROM (SELECT d.w, d.wc, $i AS pos, d.prob * pc.p AS prob,
                  d.k + 1 AS k,
                  CASE WHEN d.path = '' THEN pc.piece
                       ELSE d.path || '|' || pc.piece END AS path
                FROM ($prevUnion) d
                JOIN $pcCte pc
                  ON pc.piece = substring(d.w, d.pos + 1, $i - d.pos)
                WHERE length(d.w) >= $i))
          WHERE rn = 1)"""
    }.mkString(",\n      ")
    val fin = (1 to ugMaxWordLen)
      .map(i => s"SELECT * FROM v${n}p$i WHERE length(w) = $i")
      .mkString(" UNION ALL ")
    s"""v${n}p0 AS (SELECT w, wc, 0 AS pos, CAST(1.0 AS DOUBLE) AS prob,
            CAST(0 AS BIGINT) AS k, '' AS path FROM wcv),
      $steps,
      v${n}fin AS MATERIALIZED (SELECT * FROM ($fin))"""
  }

  /** Weighted Viterbi piece counts over a kept piece set (left join so
    * kept-but-unused pieces count 0), mirroring
    * [[graft.operators.Unigram.counts]]. */
  private def ugCntSql(n: Int, keptCte: String): String =
    s"""c$n AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS u FROM (
          SELECT wc, UNNEST(string_split(path, '|')) AS piece FROM v${n}fin)
        GROUP BY piece),
      cnt$n AS MATERIALIZED (SELECT k.piece, COALESCE(c.u, CAST(0 AS BIGINT)) AS n
        FROM (SELECT piece FROM $keptCte) k LEFT JOIN c$n c USING (piece))"""

  /** Add-one-smoothed probabilities p = (n+1)/(Σn + |V|): exact BIGINT
    * totals through one correctly-rounded IEEE division — bit-identical
    * to [[graft.operators.Unigram.probs]]. */
  private def ugProbSql(name: String, cntCte: String): String =
    s"""$name AS MATERIALIZED (SELECT piece,
          CAST(n + 1 AS DOUBLE) / CAST(t.tv AS DOUBLE) AS p
        FROM $cntCte,
          (SELECT CAST(SUM(n) + COUNT(*) AS BIGINT) AS tv FROM $cntCte) t)"""

  /** Shared seed CTEs (weighted word vocab → seed substrings, singles +
    * top-$ugSeedMulti multi) — the prefix of BOTH the hard-EM and the
    * full-EM unigram chains. */
  private val ugSeedSql: String =
    s"""tok AS (SELECT UNNEST($toksSql) AS w FROM documents),
      wcv AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM tok
        WHERE regexp_matches(w, '^[a-z0-9]+$$') AND length(w) <= $ugMaxWordLen
        GROUP BY w),
      s1 AS (SELECT w, wc,
          UNNEST(generate_series(1, LEAST($ugMaxPieceLen, length(w)))) AS l
        FROM wcv),
      s2 AS (SELECT wc, substring(w, p, l) AS piece FROM (
        SELECT w, wc, l, UNNEST(generate_series(1, length(w) - l + 1)) AS p
        FROM s1)),
      sub AS (SELECT piece, CAST(SUM(wc) AS BIGINT) AS n FROM s2 GROUP BY piece),
      sk AS MATERIALIZED (SELECT piece, n FROM sub WHERE length(piece) = 1
        UNION ALL
        SELECT piece, n FROM (SELECT piece, n,
            ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS rn
          FROM sub WHERE length(piece) >= 2) WHERE rn <= $ugSeedMulti)"""

  /** The full unigram training chain in SQL: weighted word vocab → seed
    * substrings (singles + top-$ugSeedMulti multi) → $ugEmRounds hard-EM
    * rounds → prune (singles + top-$ugPruneMulti multi) → final pass. */
  private val ugChainSql: String = Seq(
    ugSeedSql,
    ugProbSql("pc1", "sk"),
    ugPassSql(1, "pc1"),
    ugCntSql(1, "sk"),
    ugProbSql("pc2", "cnt1"),
    ugPassSql(2, "pc2"),
    ugCntSql(2, "sk"),
    s"""pr AS MATERIALIZED (SELECT piece, n FROM cnt2 WHERE length(piece) = 1
      UNION ALL
      SELECT piece, n FROM (SELECT piece, n,
          ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS rn
        FROM cnt2 WHERE length(piece) >= 2) WHERE rn <= $ugPruneMulti)""",
    ugProbSql("pc3", "pr"),
    ugPassSql(3, "pc3"),
    ugCntSql(3, "pr")
  ).mkString(",\n      ")

  /** CANONICAL unigram-LM (SentencePiece-style) tokenizer training (Kudo,
    * ACL 2018), hash-certified — the THIRD tokenizer family under the
    * oracle after BPE (merge by count) and WordPiece (merge by likelihood
    * gain): seed an overcomplete substring vocabulary, fit piece
    * probabilities by deterministic hard-EM (each word contributes
    * through its Viterbi-best segmentation — SentencePiece's own
    * inference decoding rule), prune to singles + top-$ugPruneMulti
    * multi-char pieces, and run a final EM pass. All probability math is
    * exact-integer counts through correctly-rounded IEEE divisions and
    * multiplies (no libm — the lm_score discipline), tie-breaks are
    * total orders, and the oracle replays the seed, every DP step of all
    * three Viterbi passes, both EM count updates, and the prune
    * bit-for-bit. Output = the final vocabulary with Viterbi counts and
    * exact micro-unit smoothed probabilities (DECIMAL(38,0) floor-div,
    * the WordPiece score discipline). Scale: one corpus-sized word-count
    * agg; everything else is DISTINCT-vocabulary-bounded (per-word DP
    * states, seed-bounded broadcast piece table). */
  val unigramTrainOracle = QueryDef("unigram_train_oracle",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val (cntF, _) = trainedUnigram(s, dir)
      val tot = cntF.agg((sum(col("n")) + count(lit(1))).cast("long").as("tv"))
      val num = (col("n") + 1).cast(DecimalType(38, 0)) *
        lit(1000000000000L).cast(DecimalType(38, 0))
      val den = col("tv").cast(DecimalType(38, 0))
      cntF.crossJoin(tot) // 1-row totals build side (the audited report shape)
        .withColumn("score", ((num - (num % den)) / den).cast("long"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("piece").asc)).cast("long"))
        .select("rank", "piece", "n", "score").orderBy("rank")
    },
    Some(s"""WITH $ugChainSql
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS BIGINT) AS rank,
        piece, n,
        CAST(CAST(n + 1 AS HUGEINT) * 1000000000000 // t.tv AS BIGINT) AS score
      FROM cnt3, (SELECT CAST(SUM(n) + COUNT(*) AS BIGINT) AS tv FROM cnt3) t
      ORDER BY rank"""))

  /** TRAIN → APPLY under the unigram trainer — the [[bpeTrainFertility]]
    * closure for the third tokenizer family: the final Viterbi pass IS
    * the application (k = pieces per word), so fertility is one
    * distinct-word rollup + equi-join (each distinct word segmented once
    * against ~10¹² occurrences — the 100 TB apply trick). Reporting all
    * three trainers' fertility on one corpus completes the standard
    * tokenizer-selection comparison. Oracle replays the full chain. */
  val unigramTrainFertility = QueryDef("unigram_train_fertility",
    (s, dir) => {
      val (_, fin) = trainedUnigram(s, dir)
      val wsym = fin.select(col("w"), col("k").as("n_sym"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) <= ugMaxWordLen)
        .join(wsym, "w")
        .groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("lang")
    },
    Some(s"""WITH $ugChainSql,
      ws AS (SELECT w, k AS n_sym FROM v3fin),
      dw AS (SELECT doc_id, lang, UNNEST($toksSql) AS w FROM documents),
      dwf AS (SELECT doc_id, lang, w FROM dw
              WHERE regexp_matches(w, '^[a-z0-9]+$$') AND length(w) <= $ugMaxWordLen)
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_words,
        CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
        ROUND(CAST(SUM(n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
      FROM dwf JOIN ws USING (w) GROUP BY lang ORDER BY lang"""))

  // ── unigram_train_em_oracle ─────────────────────────────────────────────

  /** One forward pass in SQL ([[graft.operators.Unigram.forward]]):
    * α(w, pos) accumulated by pivoting the ≤ maxPieceLen predecessor
    * terms into fixed columns (MAX over a singleton per (w, d)) and a
    * static left-assoc add chain — the groupBy-float-sum-free
    * determinism discipline, replayed exactly. Emits f{n}p0..p8, the
    * union f{n}all, and the full-word mass f{n}full. */
  private def ugFwdSql(n: Int, pcCte: String): String = {
    val ts = (1 to ugMaxPieceLen)
      .map(d => s"MAX(CASE WHEN d = $d THEN v END) AS t$d").mkString(", ")
    val sumTree = (1 to ugMaxPieceLen)
      .map(d => s"COALESCE(t$d, CAST(0.0 AS DOUBLE))")
      .reduce((a, b) => s"($a + $b)")
    val steps = (1 to ugMaxWordLen).map { i =>
      val lo = math.max(0, i - ugMaxPieceLen)
      val prevUnion = (lo until i).map(j => s"SELECT * FROM f${n}p$j")
        .mkString(" UNION ALL ")
      s"""f${n}p$i AS MATERIALIZED (SELECT w, wc, $i AS pos, $sumTree AS a FROM (
          SELECT w, wc, $ts FROM (
            SELECT p.w, p.wc, $i - p.pos AS d, p.a * pc.p AS v
            FROM ($prevUnion) p
            JOIN $pcCte pc ON pc.piece = substring(p.w, p.pos + 1, $i - p.pos)
            WHERE length(p.w) >= $i)
          GROUP BY w, wc))"""
    }.mkString(",\n      ")
    val all = (0 to ugMaxWordLen).map(i => s"SELECT * FROM f${n}p$i")
      .mkString(" UNION ALL ")
    s"""f${n}p0 AS (SELECT w, wc, 0 AS pos, CAST(1.0 AS DOUBLE) AS a FROM wcv),
      $steps,
      f${n}all AS MATERIALIZED (SELECT * FROM ($all)),
      f${n}full AS (SELECT w, a FROM f${n}all WHERE pos = length(w))"""
  }

  /** One backward pass in SQL ([[graft.operators.Unigram.backward]]):
    * β over suffix length r, same pivot + fixed-add-chain discipline. */
  private def ugBwdSql(n: Int, pcCte: String): String = {
    val ts = (1 to ugMaxPieceLen)
      .map(d => s"MAX(CASE WHEN d = $d THEN v END) AS t$d").mkString(", ")
    val sumTree = (1 to ugMaxPieceLen)
      .map(d => s"COALESCE(t$d, CAST(0.0 AS DOUBLE))")
      .reduce((a, b) => s"($a + $b)")
    val steps = (1 to ugMaxWordLen).map { r =>
      val lo = math.max(0, r - ugMaxPieceLen)
      val prevUnion = (lo until r).map(j => s"SELECT * FROM b${n}p$j")
        .mkString(" UNION ALL ")
      s"""b${n}p$r AS MATERIALIZED (SELECT w, wc, $r AS r, $sumTree AS b FROM (
          SELECT w, wc, $ts FROM (
            SELECT p.w, p.wc, $r - p.r AS d, p.b * pc.p AS v
            FROM ($prevUnion) p
            JOIN $pcCte pc
              ON pc.piece = substring(p.w, length(p.w) - $r + 1, $r - p.r)
            WHERE length(p.w) >= $r)
          GROUP BY w, wc))"""
    }.mkString(",\n      ")
    val all = (0 to ugMaxWordLen).map(r => s"SELECT * FROM b${n}p$r")
      .mkString(" UNION ALL ")
    s"""b${n}p0 AS (SELECT w, wc, 0 AS r, CAST(1.0 AS DOUBLE) AS b FROM wcv),
      $steps,
      b${n}all AS MATERIALIZED (SELECT * FROM ($all))"""
  }

  /** Quantized expected counts in SQL
    * ([[graft.operators.Unigram.expectedCounts]]): span posterior mass
    * α(i−d)·p·β(len−i)/α(len) through the identical fixed IEEE tree,
    * floored to micro-units per span, summed exactly in HUGEINT. */
  private def ugEmCntSql(n: Int, pcCte: String, keptCte: String): String =
    s"""sp$n AS (SELECT w, wc, i,
        UNNEST(generate_series(1, LEAST($ugMaxPieceLen, i))) AS d
      FROM (SELECT w, wc, UNNEST(generate_series(1, length(w))) AS i FROM wcv)),
      ee$n AS (SELECT pc.piece,
          FLOOR(((((CAST(s.wc AS DOUBLE) * f.a) * pc.p) * b.b) / ful.a)
            * 1000000.0) AS em
        FROM sp$n s
        JOIN $pcCte pc ON pc.piece = substring(s.w, s.i - s.d + 1, s.d)
        JOIN f${n}all f ON f.w = s.w AND f.pos = s.i - s.d
        JOIN b${n}all b ON b.w = s.w AND b.r = length(s.w) - s.i
        JOIN f${n}full ful ON ful.w = s.w),
      cm$n AS MATERIALIZED (SELECT k.piece, COALESCE(c.u, CAST(0 AS HUGEINT)) AS n
        FROM (SELECT piece FROM $keptCte) k LEFT JOIN
          (SELECT piece, CAST(SUM(CAST(em AS HUGEINT)) AS HUGEINT) AS u
           FROM ee$n GROUP BY piece) c
        USING (piece))"""

  /** Micro-unit smoothed probabilities p = (n + U)/(Σn + |V|·U) —
    * [[graft.operators.Unigram.probsMicro]], bit-identical. */
  private def ugProbMicroSql(name: String, cntCte: String): String =
    s"""$name AS MATERIALIZED (SELECT piece,
          CAST(n + 1000000 AS DOUBLE) / CAST(t.tv AS DOUBLE) AS p
        FROM $cntCte,
          (SELECT CAST(SUM(n) + COUNT(*) * 1000000 AS HUGEINT) AS tv
           FROM $cntCte) t)"""

  /** The full-EM unigram chain in SQL: seed (micro-scaled) →
    * $ugEmRounds forward/backward/expected-count rounds → prune →
    * final round. */
  private val ugEmChainSql: String = Seq(
    ugSeedSql,
    s"skm AS MATERIALIZED (SELECT piece, CAST(n AS HUGEINT) * 1000000 AS n FROM sk)",
    ugProbMicroSql("ep1", "skm"),
    ugFwdSql(1, "ep1"), ugBwdSql(1, "ep1"), ugEmCntSql(1, "ep1", "skm"),
    ugProbMicroSql("ep2", "cm1"),
    ugFwdSql(2, "ep2"), ugBwdSql(2, "ep2"), ugEmCntSql(2, "ep2", "cm1"),
    s"""prm AS MATERIALIZED (SELECT piece, n FROM cm2 WHERE length(piece) = 1
      UNION ALL
      SELECT piece, n FROM (SELECT piece, n,
          ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS rn
        FROM cm2 WHERE length(piece) >= 2) WHERE rn <= $ugPruneMulti)""",
    ugProbMicroSql("ep3", "prm"),
    ugFwdSql(3, "ep3"), ugBwdSql(3, "ep3"), ugEmCntSql(3, "ep3", "prm")
  ).mkString(",\n      ")

  /** FULL-EM unigram-LM training (Kudo, ACL 2018 — the actual E-step),
    * hash-certified — the companion completing the unigram family the way
    * `_oracle` companions complete the ANN tiers: where
    * `unigram_train_oracle` ships the hard-EM (Viterbi-count)
    * approximation — SentencePiece's inference rule — this marginalizes
    * over ALL segmentations via the forward/backward algorithm. The one
    * concession to the oracle discipline is the documented micro-unit
    * quantization ([[graft.operators.Unigram.EmUnit]]): real-valued
    * expected counts would need an order-dependent float sum, so each
    * word-span's posterior mass goes through a FIXED IEEE expression
    * tree, an exact floor to 10⁻⁶ units, and an exact integer sum — both
    * engines aggregate identically, and the 10⁻⁶ grain is far below any
    * pruning decision's resolution. Output = the final vocabulary with
    * expected micro-counts and exact micro-unit smoothed scores.
    * SelectionSpec pins the family-defining divergence: soft-EM splits
    * mass across segmentations where Viterbi-EM routes it all through
    * the argmax path. Scale shape identical to the hard-EM trainer
    * (one corpus agg; vocab-bounded DP ×2 directions + span join). */
  val unigramTrainEmOracle = QueryDef("unigram_train_em_oracle",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val (cnt, _) = trainedUnigramEm(s, dir)
      val u = graft.operators.Unigram.EmUnit
      val tot = cnt.agg((sum(col("n")) + count(lit(1)) * lit(u))
        .cast(DecimalType(38, 0)).as("tv"))
      val num = (col("n") + lit(u)).cast(DecimalType(38, 0)) *
        lit(1000000000000L).cast(DecimalType(38, 0))
      val den = col("tv").cast(DecimalType(38, 0))
      cnt.crossJoin(tot) // 1-row totals build side (the audited report shape)
        .withColumn("score", ((num - (num % den)) / den).cast("long"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("piece").asc)).cast("long"))
        .select(col("rank"), col("piece"),
          col("n").cast("long").as("n_micro"), col("score"))
        .orderBy("rank")
    },
    Some(s"""WITH $ugEmChainSql
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, piece ASC) AS BIGINT) AS rank,
        piece, CAST(n AS BIGINT) AS n_micro,
        CAST(CAST(n + 1000000 AS HUGEINT) * 1000000000000 // t.tv AS BIGINT) AS score
      FROM cm3, (SELECT CAST(SUM(n) + COUNT(*) * 1000000 AS HUGEINT) AS tv FROM cm3) t
      ORDER BY rank"""))

  /** TRAIN → APPLY under the FULL-EM unigram trainer — the closure that
    * completes the fourth (and last) tokenizer family's twin pair:
    * probabilities are fit by soft EM (marginals over all segmentations,
    * [[graft.operators.Unigram.trainEm]]) but INFERENCE is Viterbi, as in
    * SentencePiece itself — so apply = one Viterbi decode of each
    * DISTINCT word under the micro-unit-smoothed final model, then the
    * distinct-word rollup + equi-join against ~10¹² occurrences (the
    * 100 TB apply trick shared by all four families). The decode pass
    * rides the [[trainedUnigramEm]] memo, so this twin's own layer is a
    * vocab-bounded join + per-language agg. Oracle replays the full EM
    * chain, the micro-probability smoothing, every Viterbi DP step, and
    * the rollup. Comparing this row set against
    * `unigram_train_fertility` quantifies what the soft E-step buys per
    * language over hard-EM training — the family-selection question the
    * fertility quartet exists to answer. */
  val unigramTrainEmFertility = QueryDef("unigram_train_em_fertility",
    (s, dir) => {
      val (_, fin) = trainedUnigramEm(s, dir)
      val wsym = fin.select(col("w"), col("k").as("n_sym"))
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w"))
        .filter(col("w").rlike("^[a-z0-9]+$") && length(col("w")) <= ugMaxWordLen)
        .join(wsym, "w")
        .groupBy("lang").agg(
          countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("n_sym")).as("n_symbols"))
        .withColumn("fertility",
          round(col("n_symbols").cast("double") / col("n_words").cast("double"), 6))
        .orderBy("lang")
    },
    Some(s"""WITH $ugEmChainSql,
      ${ugProbMicroSql("ep4", "cm3")},
      ${ugPassSql(4, "ep4")},
      ws AS (SELECT w, k AS n_sym FROM v4fin),
      dw AS (SELECT doc_id, lang, UNNEST($toksSql) AS w FROM documents),
      dwf AS (SELECT doc_id, lang, w FROM dw
              WHERE regexp_matches(w, '^[a-z0-9]+$$') AND length(w) <= $ugMaxWordLen)
      SELECT lang, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_words,
        CAST(SUM(n_sym) AS BIGINT) AS n_symbols,
        ROUND(CAST(SUM(n_sym) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS fertility
      FROM dwf JOIN ws USING (w) GROUP BY lang ORDER BY lang"""))

  // ── pipeline_select ─────────────────────────────────────────────────────

  /** The composed selection funnel (the pipeline_dedup_corpus analog for
    * SELECTION): per document, the three independent keep decisions —
    * Gopher rule gate, DSIR importance (weight > 1 toward the
    * stopword-dense target), temperature source rebalance — evaluated in
    * one pass, with a `reason` column naming the FIRST failing stage
    * (gate order mirrors production: cheap rules, then importance, then
    * mix rebalance) and `selected` = all three agree. Every stage is THE
    * SAME builder the standalone query uses ([[GopherMetrics]],
    * [[dsirRatioTable]]/[[dsirWeightCol]], [[temperatureThresholds]]), so
    * the composed verdict can never drift from the individually
    * oracle-checked stages. */
  val pipelineSelect = QueryDef("pipeline_select",
    (s, dir) => {
      import graft.plans.Once.once
      // r15: range-distribute the doc scan first (the gopher HOFs, the
      // per-token md5 DSIR fold, and the plan-time ratio-fit collect all
      // ran on the single scan core), pin the multiply-referenced heavy
      // verdict inputs (gate, weight, temp bucket) with Once — each was
      // inlined into up to 3 output columns — and restore the doc_id
      // order in-partition. Same rows, same order.
      val docs = graft.ops.Parallelism.byRange(
          table(s, dir, "documents").select(col("doc_id"), col("source"), col("text")),
          col("doc_id"))
        .withColumn("toks", once(tokens(col("text"))))
        .withColumn("is_target", dsirIsTarget(col("toks")))
      val m = GopherMetrics(col("toks"))
      val ratios = dsirRatioTable(docs)
      val thresholds = temperatureThresholds(
        docs.select(col("source"), tokenCount(col("text")).as("nt")))
      docs.join(broadcast(thresholds.select("source", "thresh")), "source")
        .withColumn("g_ok", once(m.gateOk))
        .withColumn("wt", once(dsirWeightCol(col("toks"), ratios)))
        .withColumn("tbkt", once(hashBucket(col("doc_id"), "graft-temp", 1000000)))
        .select(col("doc_id"),
          when(col("g_ok"), 1).otherwise(0).as("gate_ok"),
          when(col("wt") > 1.0, 1).otherwise(0).as("dsir_ok"),
          when(col("tbkt") < col("thresh"), 1).otherwise(0).as("temp_ok"),
          when(col("g_ok") && col("wt") > 1.0 && col("tbkt") < col("thresh"), 1)
            .otherwise(0).as("selected"),
          when(!col("g_ok"), "gate")
            .when(col("wt") <= 1.0, "dsir")
            .when(col("tbkt") >= col("thresh"), "mix")
            .otherwise("kept").as("reason"))
        .sortWithinPartitions("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, source, toks, $gopherMetricsSqlBody
      FROM d),
      g AS (SELECT doc_id, source, toks,
        CASE WHEN $gopherPassCondSql THEN 1 ELSE 0 END AS gate_ok,
        CASE WHEN nstop * 25 >= n * 2 AND n > 0 THEN 1 ELSE 0 END AS is_target
      FROM m),
      ${dsirRatioCtesSql("g")},
      w AS (SELECT doc_id, source, gate_ok, $dsirWeightSql AS wt
      FROM g CROSS JOIN rl),
      $temperatureCtesSql,
      fin AS (SELECT w.doc_id, w.gate_ok, w.wt, st4.thresh,
        ${tempBucketSql("w.doc_id")} AS tbkt
      FROM w JOIN st4 ON w.source = st4.source)
      SELECT doc_id, gate_ok,
        CASE WHEN wt > 1.0 THEN 1 ELSE 0 END AS dsir_ok,
        CASE WHEN tbkt < thresh THEN 1 ELSE 0 END AS temp_ok,
        CASE WHEN gate_ok = 1 AND wt > 1.0 AND tbkt < thresh THEN 1 ELSE 0 END AS selected,
        CASE WHEN gate_ok = 0 THEN 'gate'
             WHEN wt <= 1.0 THEN 'dsir'
             WHEN tbkt >= thresh THEN 'mix'
             ELSE 'kept' END AS reason
      FROM fin ORDER BY doc_id"""))

  /** Per-source top-p quality selection (the FineWeb/RefinedWeb "keep the
    * best X% of each domain" curation policy — a per-source CUTOFF, not a
    * global one, so a high-quality niche domain isn't drowned by a large
    * mediocre one). Keep = the top 20% of each source by the composite
    * quality score, exact: keep ⇔ 5·rank ≤ n_source (integer arithmetic,
    * rank 1-based over (quality desc, doc_id asc)).
    *
    * Scale shape: the rank is a DISTRIBUTED range-partitioned sort +
    * zipWithIndex (the `shard_assign` pattern — never a per-source Window,
    * which would pull each source's entire corpus through one reducer at
    * 100 TB); per-source offsets/counts are a ≤ #sources-row driver
    * collect (IVF-centroid class), broadcast back. */
  val qualityPercentile = QueryDef("quality_percentile",
    (s, dir) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.LongType
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), qualityScore(col("text")).as("quality"))
      val counts = scored.groupBy("source").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap // bounded: #source rows
      val srcSorted = counts.keys.toSeq.sorted
      val offsets = srcSorted.zip(srcSorted.scanLeft(0L)(_ + counts(_)).init).toMap
      import scala.jdk.CollectionConverters._
      val offDf = s.createDataFrame(
        srcSorted.map(src => Row(src, offsets(src), counts(src))).asJava,
        new org.apache.spark.sql.types.StructType()
          .add("source", "string", nullable = false)
          .add("off", LongType, nullable = false)
          .add("n_source", LongType, nullable = false))
      // total-order sort key (doc_id unique) → deterministic global index;
      // the single-task-Window-avoidance invariant lives in Sharding.globalRank
      val ranked = graft.operators.Sharding.globalRank(scored,
        Seq(col("source").asc, col("quality").desc, col("doc_id").asc))
      ranked.join(broadcast(offDf), "source")
        .select(col("doc_id"), col("source"), col("quality"),
          (col("rank") - col("off") + 1L).as("rank_in_source"), col("n_source"),
          when((col("rank") - col("off") + 1L) * 5 <= col("n_source"), 1)
            .otherwise(0).as("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, source,
        CAST(len(toks) AS DOUBLE) AS ntok,
        CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END AS pr,
        CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains($stopListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END AS sr
        FROM t),
      q AS (SELECT doc_id, source,
        ROUND(LEAST(CAST(1.0 AS DOUBLE), ntok / 100.0) * 0.4 + (CAST(1.0 AS DOUBLE) - pr) * 0.3 + sr * 0.3, 6) AS quality
        FROM m),
      r AS (SELECT doc_id, source, quality,
        ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rank_in_source,
        COUNT(*) OVER (PARTITION BY source) AS n_source
        FROM q)
      SELECT doc_id, source, quality, rank_in_source, n_source,
        CASE WHEN rank_in_source * 5 <= n_source THEN 1 ELSE 0 END AS keep
      FROM r ORDER BY doc_id"""))

  // ── mix_epochs ──────────────────────────────────────────────────────────

  /** Token-budget mixture planning (the LLaMA/Pile "how many epochs of
    * each source" table): given per-source token inventories, an overall
    * training budget (half the corpus here) and a uniform target mixture,
    * compute each source's epoch count — capped at 4 epochs (the
    * empirical repetition ceiling, Muennighoff et al. 2023: value decays
    * fast past ~4 repeats) — and the realized token count under the cap.
    * Everything after the per-source token agg is arithmetic on a
    * ≤ #sources-row frame: integer floor-division for budget/targets, one
    * IEEE division for the epoch ratio, one IEEE multiply + floor for
    * realized tokens — fully replayable. Scale shape: one map-side-partial
    * agg over the corpus; the plan itself is driver-sized. */
  val mixEpochs = QueryDef("mix_epochs",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), tokenCount(col("text")).as("nt"))
      val bySrc = docs.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      // global window over ~#sources rows (documented-safe aggregate size)
      val w = Window.partitionBy()
      val planned = bySrc
        .withColumn("total_tokens", sum(col("n_tokens")).over(w))
        .withColumn("n_sources", count(lit(1)).over(w))
        .withColumn("target_tokens", expr("(total_tokens div 2) div n_sources"))
        .withColumn("epochs_raw",
          col("target_tokens").cast("double") / col("n_tokens").cast("double"))
        .withColumn("epochs", least(lit(4.0), col("epochs_raw")))
      planned.select(col("source"), col("n_docs"), col("n_tokens"),
          col("target_tokens"),
          round(col("epochs"), 6).as("epochs"),
          floor(col("epochs") * col("n_tokens").cast("double")).cast("long")
            .as("realized_tokens"),
          when(col("epochs_raw") > 4.0, 1).otherwise(0).as("capped"))
        .orderBy("source")
    },
    Some(s"""WITH td AS (SELECT doc_id, source,
        CAST(len($toksSql) AS BIGINT) AS nt FROM documents),
      st AS (SELECT source, COUNT(*) AS n_docs, SUM(nt) AS n_tokens
             FROM td GROUP BY source),
      g AS (SELECT source, n_docs, n_tokens,
              SUM(n_tokens) OVER () AS total_tokens,
              COUNT(*) OVER () AS n_sources FROM st),
      pl AS (SELECT source, n_docs, n_tokens,
               (total_tokens // 2) // n_sources AS target_tokens,
               CAST((total_tokens // 2) // n_sources AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS epochs_raw
             FROM g),
      e AS (SELECT source, n_docs, n_tokens, target_tokens, epochs_raw,
              LEAST(CAST(4.0 AS DOUBLE), epochs_raw) AS epochs FROM pl)
      SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(target_tokens AS BIGINT) AS target_tokens,
        ROUND(epochs, 6) AS epochs,
        CAST(FLOOR(epochs * CAST(n_tokens AS DOUBLE)) AS BIGINT) AS realized_tokens,
        CASE WHEN epochs_raw > 4.0 THEN 1 ELSE 0 END AS capped
      FROM e ORDER BY source"""))

  // ── pipeline_pretrain ───────────────────────────────────────────────────

  /** The composed END-TO-END pretraining prep funnel — what a user of the
    * engine actually runs before tokenize-and-train: Gopher quality gate
    * → exact bag-of-words dedup among gate survivors → temperature mix
    * sampling with thresholds computed over the CLEANED corpus (the
    * rebalance must see post-dedup token inventories, or boilerplate-
    * heavy sources keep inflated rates) → token-balanced snake sharding
    * of the kept set. Every stage is THE SAME builder its standalone
    * query uses ([[GopherMetrics]], [[graft.operators.Dedup.bagOfWordsKey]],
    * [[temperatureThresholds]], [[graft.operators.Sharding.snakeShards]]),
    * so the composition can't drift from the individually certified
    * stages. Per doc: each stage verdict, the first-failing-stage
    * `reason` (the pipeline_select pattern), and the output shard
    * (−1 for dropped docs).
    *
    * Scale shape: gate is a narrow map on the scan; dedup is one hash
    * agg; thresholds are a ≤ #sources broadcast; sharding is the
    * distributed-sort + zipWithIndex rank (never a global Window). The
    * thresholds join is LEFT so a source with zero survivors still
    * reports its dropped docs instead of vanishing. */
  val pipelinePretrain = QueryDef("pipeline_pretrain",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
        .withColumn("toks", tokens(col("text")))
      val m = GopherMetrics(col("toks"))
      val keyed = docs
        .withColumn("gate_ok", when(m.gateOk, 1).otherwise(0))
        .withColumn("ch", md5(graft.operators.Dedup.bagOfWordsKey(col("text"))))
      val keepIds = keyed.filter(col("gate_ok") === 1)
        .groupBy("ch").agg(min(col("doc_id")).as("keep_id"))
      val s2 = keyed.join(keepIds, Seq("ch"), "left")
        .withColumn("dedup_ok",
          when(col("gate_ok") === 1 && col("doc_id") === col("keep_id"), 1).otherwise(0))
        .localCheckpoint() // feeds the threshold agg, the shard rank AND the output
      val thresholds = temperatureThresholds(
        s2.filter(col("dedup_ok") === 1)
          .select(col("source"), size(col("toks")).cast("long").as("nt")))
      val tempBucket = hashBucket(col("doc_id"), "graft-temp", 1000000)
      val staged = s2
        .join(broadcast(thresholds.select("source", "thresh")), Seq("source"), "left")
        .withColumn("temp_ok",
          when(col("dedup_ok") === 1 && tempBucket < col("thresh"), 1).otherwise(0))
        .withColumn("kept", col("temp_ok"))
        .withColumn("reason",
          when(col("gate_ok") === 0, "gate")
            .when(col("dedup_ok") === 0, "dup")
            .when(col("temp_ok") === 0, "mix")
            .otherwise("kept"))
        .localCheckpoint() // read by the shard rank and the final join
      val kept = staged.filter(col("kept") === 1)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      val sharded = graft.operators.Sharding.snakeShards(kept, 8, "n_tokens", "doc_id")
        .select(col("doc_id"), col("shard"))
      staged.join(sharded, Seq("doc_id"), "left")
        .select(col("doc_id"), col("gate_ok"), col("dedup_ok"), col("temp_ok"),
          col("kept"), col("reason"), coalesce(col("shard"), lit(-1L)).as("shard"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, source, text, toks, $gopherMetricsSqlBody
      FROM d),
      g AS (SELECT doc_id, source, text, toks,
        CASE WHEN $gopherPassCondSql THEN 1 ELSE 0 END AS gate_ok
      FROM m),
      k AS (SELECT doc_id, source, toks, gate_ok,
        md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ch
      FROM g),
      ki AS (SELECT ch, MIN(doc_id) AS keep_id FROM k WHERE gate_ok = 1 GROUP BY ch),
      s2 AS (SELECT k.*, ki.keep_id,
        CASE WHEN k.gate_ok = 1 AND k.doc_id = ki.keep_id THEN 1 ELSE 0 END AS dedup_ok
      FROM k LEFT JOIN ki USING (ch)),
      td AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS nt
             FROM s2 WHERE dedup_ok = 1),
      $temperatureStatsCtesSql,
      f AS (SELECT s2.doc_id, s2.toks, s2.gate_ok, s2.dedup_ok, st4.thresh,
              ${tempBucketSql("s2.doc_id")} AS tbkt
            FROM s2 LEFT JOIN st4 ON s2.source = st4.source),
      v0 AS (SELECT doc_id, gate_ok, dedup_ok,
               CASE WHEN dedup_ok = 1 AND tbkt < thresh THEN 1 ELSE 0 END AS temp_ok,
               CAST(len(toks) AS BIGINT) AS nt
             FROM f),
      v AS (SELECT doc_id, gate_ok, dedup_ok, temp_ok, temp_ok AS kept,
              CASE WHEN gate_ok = 0 THEN 'gate'
                   WHEN dedup_ok = 0 THEN 'dup'
                   WHEN temp_ok = 0 THEN 'mix'
                   ELSE 'kept' END AS reason,
              nt
            FROM v0),
      r AS (SELECT doc_id, nt,
              ROW_NUMBER() OVER (ORDER BY nt DESC, doc_id ASC) - 1 AS rank
            FROM v WHERE kept = 1),
      sh AS (SELECT doc_id,
               CAST(CASE WHEN (rank // 8) % 2 = 0 THEN rank % 8
                         ELSE 7 - (rank % 8) END AS BIGINT) AS shard
             FROM r)
      SELECT v.doc_id, v.gate_ok, v.dedup_ok, v.temp_ok, v.kept, v.reason,
        COALESCE(sh.shard, CAST(-1 AS BIGINT)) AS shard
      FROM v LEFT JOIN sh USING (doc_id)
      ORDER BY v.doc_id"""))

  // ── mix_doremi ──────────────────────────────────────────────────────────

  private val doremiEta = 0.5
  private val doremiRounds = 3

  /** DoReMi-style domain reweighting (Xie et al., NeurIPS'23): domains
    * where the proxy underperforms get UP-weighted by multiplicative
    * weights — w ← w·(1 + η·excess) renormalized, `doremiRounds` rounds.
    * Deterministic engine-replayable variant: the per-domain excess
    * signal is a STATIC proxy derived from real corpus statistics (the
    * quality deficit 1 − mean quality — low-quality domains are where a
    * quality-blind proxy model's loss exceeds baseline), where true
    * DoReMi re-measures excess loss each round with a proxy training
    * run; the update algebra, normalization and budget realization are
    * the production shape. Linear-space update (1 + η·e) in place of
    * exp(η·e): same fixed point direction, no libm in the oracle chain.
    *
    * Float discipline: per-doc qualities and per-round weights are
    * summed as DECIMAL(20,18) (exact, order-free — the lm_score
    * precedent), so the only IEEE ops are per-row multiply/divide chains
    * written identically on both sides. Everything after the one
    * map-side-partial corpus agg is arithmetic on a ≤ #sources-row
    * frame (global windows documented-safe at that size). */
  val mixDoremi = QueryDef("mix_doremi",
    (s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val w = Window.partitionBy()
      // r15: floor before the per-doc qualityScore partial agg — the
      // HOF-heavy map-side aggregation ran on the single scan core
      val docs = graft.ops.Parallelism.ensure(
          table(s, dir, "documents").select(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), col("source"), col("text"),
          tokenCount(col("text")).as("nt"))
      val bySrc = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(qualityScore(col("text")).cast(DecimalType(20, 18))).as("q_sum"))
      var cur = bySrc
        .withColumn("n_sources", count(lit(1)).over(w))
        .withColumn("total_tokens", sum(col("n_tokens")).over(w))
        .withColumn("excess",
          lit(1.0) - col("q_sum").cast("double") / col("n_docs").cast("double"))
        .withColumn("wgt", lit(1.0) / col("n_sources").cast("double"))
      for (t <- 1 to doremiRounds) {
        cur = cur
          .withColumn("u", col("wgt") * (lit(1.0) + lit(doremiEta) * col("excess")))
          .withColumn("su",
            sum(col("u").cast(DecimalType(20, 18))).over(w).cast("double"))
          .withColumn("wgt", col("u") / col("su"))
          .withColumn(s"w$t", round(col("wgt"), 9))
      }
      cur.select(Seq(col("source"), col("n_docs"), col("n_tokens"),
          round(col("excess"), 6).as("excess")) ++
          (1 to doremiRounds).map(t => col(s"w$t")) ++ Seq(
          floor(col("wgt") * expr("(total_tokens div 2)").cast("double"))
            .cast("long").as("realized_tokens")): _*)
        .orderBy("source")
    },
    Some {
      val qSql =
        s"""LEAST(CAST(1.0 AS DOUBLE), CAST(len(toks) AS DOUBLE) / 100.0) * 0.4 +
          (CAST(1.0 AS DOUBLE) -
           CASE WHEN length(text) > 0
                THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                ELSE 0.0 END) * 0.3 +
          CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks, x -> list_contains($stopListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
               ELSE 0.0 END * 0.3"""
      val rounds = (1 to doremiRounds).map { t =>
        val prev = if (t == 1) "r0" else s"r${t - 1}"
        s"""u$t AS (SELECT *, wgt * (1.0 + $doremiEta * excess) AS u FROM $prev),
           r$t AS (SELECT source, n_docs, n_tokens, excess, n_sources, total_tokens,
                     ${(1 until t).map(i => s"w$i, ").mkString}
                     u / CAST(SUM(CAST(u AS DECIMAL(20,18))) OVER () AS DOUBLE) AS wgt,
                     ROUND(u / CAST(SUM(CAST(u AS DECIMAL(20,18))) OVER () AS DOUBLE), 9) AS w$t
                   FROM u$t)"""
      }.mkString(",\n        ")
      s"""WITH d AS (SELECT doc_id, source, text, $toksSql AS toks FROM documents),
        st AS (SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS n_tokens,
                 SUM(CAST(ROUND($qSql, 6) AS DECIMAL(20,18))) AS q_sum
               FROM d GROUP BY source),
        r0 AS (SELECT source, n_docs, n_tokens,
                 1.0 - CAST(q_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS excess,
                 COUNT(*) OVER () AS n_sources,
                 SUM(n_tokens) OVER () AS total_tokens,
                 1.0 / CAST(COUNT(*) OVER () AS DOUBLE) AS wgt
               FROM st),
        $rounds
        SELECT source, n_docs, n_tokens, ROUND(excess, 6) AS excess,
          ${(1 to doremiRounds).map(t => s"w$t").mkString(", ")},
          CAST(FLOOR(wgt * CAST(total_tokens // 2 AS DOUBLE)) AS BIGINT) AS realized_tokens
        FROM r$doremiRounds ORDER BY source"""
    })

  // ── bm25_topk ───────────────────────────────────────────────────────────

  /** Fixed query terms spanning the idf range of the synthetic vocabulary:
    * 'dup' is rare (planted duplicate marker), 'data'/'the' are
    * near-ubiquitous — so the ranking is dominated by the rare term, as
    * BM25 intends. */
  private val bm25Terms = Seq("dup", "data", "the")
  private val bm25K1 = "1.2"
  private val bm25B75 = "0.75"

  /** BM25 retrieval scoring (Robertson–Spärck Jones; k1 = 1.2, b = 0.75)
    * — the lexical-retrieval workhorse a curation pipeline runs to pull
    * benchmark-similar documents (decontamination candidates) or
    * query-relevant training slices from the corpus. Per term:
    * idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)); the idf is the
    * LINEAR (N−df+0.5)/(df+0.5) variant — the log is monotone, so
    * per-term ranking is order-identical, and unlike `ln` the linear form
    * is IEEE-replayable across engines (the tfidf_top_terms precedent).
    * Corpus stats (N, Σdl, per-term df) are ONE map-side-partial agg
    * broadcast back as a single row; scoring is a narrow map; top-20 is a
    * TakeOrdered under a total order (score desc, doc_id asc). The score
    * expression tree is written identically on both sides (left-assoc
    * sums, explicit parenthesization), so even the float scores
    * hash-match. */
  /** Per-term tf as a codegen'd array filter (evaluated once per output
    * column; the scored frame is a narrow map over the broadcast stats). */
  private def bm25Tf(i: Int): Column =
    size(filter(col("toks"), x => x === bm25Terms(i))).cast("double")

  /** The BM25-scored corpus frame (doc_id, toks, score) — shared by the
    * standalone `bm25_topk` ranking and the `rrf_fusion` lexical arm, so
    * both run the identical scoring plan: ONE map-side-partial stats agg
    * broadcast back as a single row, then a narrow scoring map. */
  private def bm25Scored(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val statAggs = Seq(count(lit(1)).as("n"), sum(col("dl")).as("total_len")) ++
      bm25Terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1L).otherwise(0L)).as(s"df$i") }
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    val j = docs.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("total_len").cast("double") / col("n").cast("double"))
    def idf(i: Int): Column =
      ((col("n") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
    def term(i: Int): Column =
      (idf(i) * (bm25Tf(i) * lit(2.2))) /
        (bm25Tf(i) + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
    j.withColumn("score", (term(0) + term(1)) + term(2))
  }

  /** DuckDB CTE chain ending in `sc(doc_id, toks, score)` — the oracle
    * replay of [[bm25Scored]], shared by both oracles verbatim. */
  private val bm25ScoredCtes: String = {
    val dfCols = bm25Terms.zipWithIndex.map { case (t, i) =>
      s"SUM(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(", ")
    def tfSql(t: String) = s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE)"
    def termSql(i: Int): String = {
      val t = bm25Terms(i)
      s"(((CAST(n - df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5)) * (${tfSql(t)} * 2.2)) / " +
        s"(${tfSql(t)} + $bm25K1 * (0.25 + $bm25B75 * (CAST(dl AS DOUBLE) / avgdl)))"
    }
    s"""d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      dd AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS dl FROM d),
      st AS (SELECT COUNT(*) AS n, SUM(dl) AS total_len, $dfCols FROM dd),
      sc AS (SELECT doc_id, toks,
               ((${termSql(0)} + ${termSql(1)}) + ${termSql(2)}) AS score
             FROM (SELECT dd.*, st.*,
                     CAST(total_len AS DOUBLE) / CAST(n AS DOUBLE) AS avgdl
                   FROM dd CROSS JOIN st))"""
  }

  val bm25TopK = QueryDef("bm25_topk",
    (s, dir) =>
      bm25Scored(s, dir).select(Seq(col("doc_id")) ++
          bm25Terms.zipWithIndex.map { case (t, i) => bm25Tf(i).cast("long").as(s"tf_$t") } ++
          Seq(round(col("score"), 6).as("score")): _*)
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(20),
    Some {
      val tfOut = bm25Terms.map(t =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS BIGINT) AS tf_$t").mkString(", ")
      s"""WITH $bm25ScoredCtes
        SELECT doc_id, $tfOut, ROUND(score, 6) AS score
        FROM sc ORDER BY score DESC, doc_id ASC LIMIT 20"""
    })

  // ── rrf_fusion ──────────────────────────────────────────────────────────

  private val rrfC = 60       // the standard RRF smoothing constant
  private val rrfDepth = 50   // per-arm shortlist depth
  private val rrfOut = 20

  /** Hybrid retrieval via reciprocal rank fusion (Cormack, Clarke &
    * Büttcher, SIGIR'09): fuse the BM25 lexical arm with a dense
    * embedding-cosine arm by summing 1/(60 + rank) over the arms that
    * retrieved each document, top-`rrfOut` fused. This is the standard
    * sparse+dense hybrid a retrieval-augmented pipeline runs — ranks, not
    * scores, are fused, so the arms need no score calibration.
    *
    * The dense query is the corpus embedding of vec_id 0 (embeddings and
    * documents share the 0..n−1 id space); the lexical query is the fixed
    * `bm25Terms`. Each arm is a corpus scan + bounded-heap top-`rrfDepth`
    * (the TakeOrdered/graft_topk shape — never a global Window over the
    * corpus); ranks become reciprocal contributions in one narrow map on
    * two ≤`rrfDepth`-row frames, fused with a full-outer join. A document
    * missed by an arm contributes 0 from that arm (rank reported as 0).
    * Replay: ranks are integers under total orders both engines share
    * (score desc, id asc — the cosine_topk precedent), and the fused
    * score is two IEEE divides + one add written identically on both
    * sides. */
  val rrfFusion = QueryDef("rrf_fusion",
    (s, dir) => {
      // Lexical arm: TakeOrdered shortlist, then ranks on the ≤50-row
      // result (single-partition Window on a bounded frame — documented
      // safe, same class as the per-source aggregate windows).
      val lex = bm25Scored(s, dir)
        .select(col("doc_id"), col("score"))
        .orderBy(col("score").desc, col("doc_id").asc)
        .limit(rrfDepth)
        .withColumn("rank_lex", row_number()
          .over(Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("rank_lex"))
      // Dense arm: brute-force cosine against the vec_id-0 query through
      // the shared bounded-heap ranker (excludes the query row itself).
      val emb = table(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = emb.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val sem = Similarity.bruteForceTopK(emb, q, k = rrfDepth)
        .select(col("vec_id").as("doc_id"), col("rank").as("rank_sem"))
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("rank_lex").cast("double")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(rrfC.toDouble) + col("rank_sem").cast("double")), lit(0.0)))
        .select(col("doc_id"),
          coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
          coalesce(col("rank_sem"), lit(0L)).as("rank_sem"),
          round(col("rrf"), 9).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id").asc)
        .limit(rrfOut)
    },
    Some(s"""WITH $bm25ScoredCtes,
      lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_lex
               FROM sc),
      lex AS (SELECT doc_id, rank_lex FROM lexr WHERE rank_lex <= $rrfDepth),
      e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
      qv AS (SELECT embedding AS qe, nrm AS qnrm FROM e WHERE vec_id = 0),
      pairs AS (SELECT e.vec_id,
          CASE WHEN e.nrm > 0 AND qv.qnrm > 0
               THEN ${dotSql("e.embedding", "qv.qe")} / (e.nrm * qv.qnrm)
               ELSE 0.0 END AS sim
        FROM e CROSS JOIN qv WHERE e.vec_id <> 0),
      semr AS (SELECT vec_id AS doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank_sem
               FROM pairs),
      sem AS (SELECT doc_id, rank_sem FROM semr WHERE rank_sem <= $rrfDepth),
      u AS (SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, rank_lex, rank_sem
            FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id),
      f AS (SELECT doc_id, rank_lex, rank_sem,
              COALESCE(1.0 / (CAST($rrfC AS DOUBLE) + CAST(rank_lex AS DOUBLE)), 0.0) +
                COALESCE(1.0 / (CAST($rrfC AS DOUBLE) + CAST(rank_sem AS DOUBLE)), 0.0) AS rrf
            FROM u)
      SELECT doc_id, COALESCE(rank_lex, 0) AS rank_lex, COALESCE(rank_sem, 0) AS rank_sem,
        ROUND(rrf, 9) AS rrf
      FROM f ORDER BY rrf DESC, doc_id ASC LIMIT $rrfOut"""))

  /** Two-phase anneal data schedule — the end-of-training re-weighting
    * recipe (Llama-3 / MiniCPM style): the main phase spreads 90% of the
    * token budget uniformly across sources, and the final anneal phase
    * re-allocates the last 10% to ONLY the above-average-quality sources
    * (∝ their token inventories) — the "finish on your best data" move.
    * Eligibility is the integer cross-multiplied mean comparison
    * sum_q·corpus_docs ≥ corpus_q·n_docs (no divides), and every budget
    * is integer floor arithmetic, so the whole schedule replays exactly.
    * Scale shape: one map-side-partial corpus agg; global windows run
    * over the ~#sources-row aggregate only (documented-safe size). The
    * anneal_budget·n_tokens product fits BIGINT through corpus sizes of
    * ~3e9 tokens per source; a 100 TB deployment reorders to
    * (n_tokens·1e6 div pool)·budget div 1e6 — noted, not needed here. */
  val mixAnneal = QueryDef("mix_anneal",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("source"), tokenCount(col("text")).as("nt"),
          size(array_distinct(tokens(col("text")))).cast("long").as("q"))
      val bySrc = docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
        sum(col("q")).as("sum_q"))
      val w = Window.partitionBy() // ~#sources rows — documented-safe
      bySrc
        .withColumn("corpus_tokens", sum(col("n_tokens")).over(w))
        .withColumn("corpus_docs", sum(col("n_docs")).over(w))
        .withColumn("corpus_q", sum(col("sum_q")).over(w))
        .withColumn("n_sources", count(lit(1)).over(w))
        .withColumn("anneal_eligible",
          when(col("sum_q") * col("corpus_docs") >= col("corpus_q") * col("n_docs"), 1)
            .otherwise(0))
        .withColumn("anneal_pool",
          sum(when(col("anneal_eligible") === 1, col("n_tokens")).otherwise(lit(0L)))
            .over(w))
        .withColumn("total_budget", expr("corpus_tokens div 2"))
        .withColumn("anneal_budget", expr("total_budget div 10"))
        .withColumn("main_tokens",
          expr("(total_budget - anneal_budget) div n_sources"))
        .withColumn("anneal_tokens",
          when(col("anneal_eligible") === 1,
            expr("anneal_budget * n_tokens div anneal_pool")).otherwise(lit(0L)))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("anneal_eligible"), col("main_tokens"), col("anneal_tokens"),
          (col("main_tokens") + col("anneal_tokens")).as("schedule_tokens"))
        .orderBy("source")
    },
    Some(s"""WITH td AS (SELECT source, CAST(len($toksSql) AS BIGINT) AS nt,
          CAST(len(list_distinct($toksSql)) AS BIGINT) AS q FROM documents),
      st AS (SELECT source, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_tokens,
              CAST(SUM(q) AS BIGINT) AS sum_q
            FROM td GROUP BY source),
      g AS (SELECT *, CAST(SUM(n_tokens) OVER () AS BIGINT) AS corpus_tokens,
              CAST(SUM(n_docs) OVER () AS BIGINT) AS corpus_docs,
              CAST(SUM(sum_q) OVER () AS BIGINT) AS corpus_q,
              COUNT(*) OVER () AS n_sources
            FROM st),
      e AS (SELECT *, CASE WHEN sum_q * corpus_docs >= corpus_q * n_docs
                           THEN 1 ELSE 0 END AS anneal_eligible FROM g),
      p AS (SELECT *, CAST(SUM(CASE WHEN anneal_eligible = 1 THEN n_tokens ELSE 0 END)
                OVER () AS BIGINT) AS anneal_pool,
              corpus_tokens // 2 AS total_budget,
              (corpus_tokens // 2) // 10 AS anneal_budget
            FROM e)
      SELECT source, n_docs, n_tokens, anneal_eligible,
        (total_budget - anneal_budget) // n_sources AS main_tokens,
        CASE WHEN anneal_eligible = 1
             THEN anneal_budget * n_tokens // anneal_pool ELSE 0 END AS anneal_tokens,
        (total_budget - anneal_budget) // n_sources +
          CASE WHEN anneal_eligible = 1
               THEN anneal_budget * n_tokens // anneal_pool ELSE 0 END AS schedule_tokens
      FROM p ORDER BY source"""))

  /** Linear quality classifier — the fastText-shaped keep/drop filter the
    * CCNet/LLaMA pipelines apply corpus-wide (a LEARNED linear model over
    * hashed token features; training happens offline — this is the
    * deployment-time scoring path, the cluster_assign analog for
    * classification): each token hashes to a fixed md5-derived INTEGER
    * weight in [−8, 8], the document margin is
    * Σ w[h(tok)] over token occurrences (exact integer, any accumulation
    * order), and the verdict is margin > 0 with a per-1000-token
    * normalized margin beside it for thresholding. Scale shape: a narrow
    * explode + one partial-agg sum per doc riding the scan — the
    * classifier costs nothing at 100 TB. Both classes fire at every
    * scale (md5 weights are ~zero-mean). */
  val qualityClassifier = QueryDef("quality_classifier",
    (s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (hashBucket(col("tok"), "graft-qcls-w", 17) - 8).as("w"))
      d.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"), sum(col("w")).as("margin"))
        .select(col("doc_id"), col("n_tok"), col("margin"),
          expr("CAST(FLOOR(CAST(margin * 1000 AS DOUBLE) / n_tok) AS BIGINT)")
            .as("margin_per_kt"),
          when(col("margin") > 0, 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH occ AS (SELECT doc_id, UNNEST($toksSql) AS tok FROM documents),
      w AS (SELECT doc_id,
          CAST(('0x' || substring(md5('graft-qcls-w:' || tok), 1, 8)) AS BIGINT) % 17 - 8 AS w
        FROM occ)
      SELECT doc_id, COUNT(*) AS n_tok, CAST(SUM(w) AS BIGINT) AS margin,
        CAST(FLOOR(CAST(CAST(SUM(w) AS BIGINT) * 1000 AS DOUBLE) / COUNT(*)) AS BIGINT) AS margin_per_kt,
        CASE WHEN SUM(w) > 0 THEN 1 ELSE 0 END AS keep
      FROM w GROUP BY doc_id ORDER BY doc_id"""))

  /** Topic-diversity report over the fixed-codebook assignment — the
    * mixture-design dashboard beside `cluster_assign`: per topic cluster
    * the member count, corpus share (ppm), absolute deviation from the
    * uniform share, and an over-representation verdict. A skewed topic
    * distribution is the signal that triggers cluster-balanced resampling
    * (the D4/SemDeDup re-weighting step). Empty clusters REPORT (grid
    * left-join) — a dead topic is exactly what the dashboard must show.
    * Scale shape: one narrow argmax pass + one count agg + an 8-row grid
    * join; integer-ppm arithmetic throughout. */
  val clusterBalance = QueryDef("cluster_balance",
    (s, dir) => {
      val assigned = table(s, dir, "embeddings")
        .select(col("vec_id"),
          array_max(array(clusterArgmaxEntries(col("embedding")): _*)).as("best"))
        .select(col("vec_id"), (-col("best.nc")).cast("long").as("cluster"))
      val z = assigned.groupBy("cluster").agg(count(lit(1)).as("n_members"))
      val grid = s.range(nClusters).select(col("id").as("cluster"))
      val zz = grid.join(z, Seq("cluster"), "left")
        .select(col("cluster"), coalesce(col("n_members"), lit(0L)).as("n_members"))
      val tot = zz.agg(sum(col("n_members")).as("n"))
      val uniform = 1000000L / nClusters
      zz.crossJoin(broadcast(tot))
        .select(col("cluster"), col("n_members"),
          expr("n_members * 1000000 div n").as("share_ppm"),
          abs(expr("n_members * 1000000 div n") - lit(uniform)).as("dev_ppm"),
          when(expr("n_members * 1000000 div n") > uniform, 1).otherwise(0)
            .as("over_rep"))
        .orderBy("cluster")
    },
    Some(s"""WITH $clusterAssignCtes,
      z AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_members FROM a GROUP BY cluster),
      grid AS (SELECT CAST(i AS BIGINT) AS cluster FROM generate_series(0, ${nClusters - 1}) g(i)),
      zz AS (SELECT grid.cluster, COALESCE(z.n_members, 0) AS n_members
             FROM grid LEFT JOIN z USING (cluster)),
      tot AS (SELECT CAST(SUM(n_members) AS BIGINT) AS n FROM zz)
      SELECT zz.cluster, zz.n_members,
        zz.n_members * 1000000 // tot.n AS share_ppm,
        ABS(zz.n_members * 1000000 // tot.n - ${1000000L / nClusters}) AS dev_ppm,
        CASE WHEN zz.n_members * 1000000 // tot.n > ${1000000L / nClusters}
             THEN 1 ELSE 0 END AS over_rep
      FROM zz CROSS JOIN tot ORDER BY zz.cluster"""))

  /** Curriculum ordering — the length-based curriculum schedule (Bengio et
    * al. 2009's canonical difficulty proxy): the corpus sorted easy→hard
    * by (token count asc, doc_id) with a 1-based training ORDER and an
    * integer-tercile phase (1 = warmup short docs, 3 = long-context
    * tail). The loader consumes `rank` directly; phase boundaries feed
    * staged context-length schedules. Rank is the distributed
    * [[graft.operators.Sharding.globalRank]] sort (never a corpus-wide
    * Window); phase is pure integer (3·rank0) div n + 1. */
  val curriculumOrder = QueryDef("curriculum_order",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
      val tot = docs.agg(count(lit(1)).as("n"))
      graft.operators.Sharding.globalRank(docs,
          Seq(col("n_tokens").asc, col("doc_id").asc))
        .crossJoin(broadcast(tot))
        .select(col("doc_id"), col("n_tokens"), (col("rank") + 1).as("rank"),
          (expr("(3 * rank) div n") + 1).as("phase"))
        .orderBy("doc_id")
    },
    Some(s"""WITH t AS (SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens
        FROM documents),
      r AS (SELECT doc_id, n_tokens,
              ROW_NUMBER() OVER (ORDER BY n_tokens ASC, doc_id ASC) - 1 AS rank0
            FROM t),
      tot AS (SELECT COUNT(*) AS n FROM t)
      SELECT doc_id, n_tokens, rank0 + 1 AS rank,
        (3 * rank0) // n + 1 AS phase
      FROM r CROSS JOIN tot ORDER BY doc_id"""))

  // ── quality_topk_per_source ─────────────────────────────────────────────

  /** Per-SOURCE top-30% quality gate — the FineWeb/RefinedWeb recipe of
    * filtering each domain against its own distribution rather than one
    * global threshold (a global cut empties clean-but-plain sources and
    * keeps the best of a spammy one; per-source percentiles keep every
    * source's head). Score = integer-ppm lexical diversity (distinct
    * tokens / tokens). The within-source rank uses the house
    * no-per-group-Window shape (`quality_percentile`/
    * `perplexity_buckets`): ONE corpus-wide distributed sort on (source,
    * score desc, doc_id) via [[graft.operators.Sharding.globalRank]],
    * then per-source offsets from a #source-row broadcast — a
    * low-cardinality `Window.partitionBy(source)` would funnel each
    * domain through one task at 100 TB. Keep rule is pure integer
    * arithmetic (rank·10 ≤ n·3), replayed exactly by the oracle. */
  val qualityTopkPerSource = QueryDef("quality_topk_per_source",
    (s, dir) => {
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("score",
          expr("(cast(size(array_distinct(toks)) as bigint) * 1000000) div n_tok"))
        .select("doc_id", "source", "score")
      val ranked = graft.operators.Sharding.globalRank(scored,
        Seq(col("source").asc, col("score").desc, col("doc_id").asc))
      val offs = ranked.groupBy("source")
        .agg(min(col("rank")).as("off"), count(lit(1)).as("n_source"))
      ranked.join(broadcast(offs), "source")
        .withColumn("rank_in_source", col("rank") - col("off") + lit(1L))
        .filter(col("rank_in_source") * 10 <= col("n_source") * 3)
        .select(col("doc_id"), col("source"), col("score"),
          col("rank_in_source"), col("n_source"))
        .orderBy("source", "rank_in_source")
    },
    Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tok,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_dis
            FROM t WHERE len(toks) > 0),
      sc AS (SELECT doc_id, source, n_dis * 1000000 // n_tok AS score FROM m),
      r AS (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, doc_id ASC) AS rank_in_source,
              COUNT(*) OVER (PARTITION BY source) AS n_source
            FROM sc)
      SELECT doc_id, source, score,
        CAST(rank_in_source AS BIGINT) AS rank_in_source,
        CAST(n_source AS BIGINT) AS n_source
      FROM r WHERE rank_in_source * 10 <= n_source * 3
      ORDER BY source, rank_in_source"""))

  val defs: Seq[QueryDef] =
    Seq(clusterAssign, sampleTemperature, qualityGopher, htmlStrip, dsirWeights,
      bpePairCounts, bpeEncode, bpeFertility, bpeTrainOracle, bpeTrainFertility,
      wordpieceTrainOracle, wordpieceTrainFertility,
      unigramTrainOracle, unigramTrainFertility,
      unigramTrainEmOracle, unigramTrainEmFertility,
      pipelineSelect, pipelinePretrain,
      qualityPercentile, mixEpochs, mixDoremi, bm25TopK, rrfFusion, mixAnneal,
      clusterBalance, curriculumOrder, qualityClassifier, qualityTopkPerSource)
}
