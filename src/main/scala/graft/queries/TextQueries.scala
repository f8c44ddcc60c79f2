package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.queries.OracleSql.{toksSql, stopListSql}

/** Training-data text-analysis + dedup capability queries over `documents`.
  * All DuckDB-oracle-backed — MinHash/SimHash are md5-keyed (signatures,
  * bands, pairs all recomputable by any engine).
  */
object TextQueries {
  import Tables.table

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation
    * (letter runs / digit runs / single non-space symbols — the cheap
    * pre-tokenizer shape of GPT-style BPE). */
  val tokenCountQ = QueryDef("token_count",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"),
        expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0))")
          .cast("long").as("n_tokens_bpe"),
        length(col("text")).cast("long").as("n_chars_obs"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, CAST(len($toksSql) AS BIGINT) AS n_tokens,
        CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
        length(text) AS n_chars_obs
      FROM documents ORDER BY doc_id"""))

  /** Stopword-density language-ID heuristic. */
  val langIdQ = QueryDef("lang_id",
    // r15 sort-early + Once: tokenize once, derive the prediction from
    // the pinned ratio column (the heuristic is the same >= 0.08 rule)
    (s, dir) => Tables.documentsRanged(s, dir)
      .select(col("doc_id"), graft.plans.Once.once(tokens(col("text"))).as("ts"))
      .select(col("doc_id"), graft.plans.Once.once(
        wordlistRatioTokens(col("ts"), enStopwords)).as("en_ratio"))
      .select(col("doc_id"), col("en_ratio"),
        when(col("en_ratio") >= 0.08, lit("en")).otherwise(lit("und")).as("lang_pred"))
      .sortWithinPartitions("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id,
        CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains($stopListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END AS en_ratio
        FROM t)
      SELECT doc_id, en_ratio,
        CASE WHEN en_ratio >= 0.08 THEN 'en' ELSE 'und' END AS lang_pred
      FROM m ORDER BY doc_id"""))

  /** Composite quality score (length/punct/stopword ratios). */
  val qualityScoreQ = QueryDef("quality_score",
    // r15 sort-early: tokenize once behind the range exchange
    (s, dir) => Tables.documentsRanged(s, dir)
      .select(col("doc_id"), col("text"),
        graft.plans.Once.once(tokens(col("text"))).as("ts"))
      .select(col("doc_id"),
        qualityScoreTokens(col("text"), col("ts")).as("quality"))
      .sortWithinPartitions("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id,
        CAST(len(toks) AS DOUBLE) AS ntok,
        CASE WHEN length(text) > 0
             THEN CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END AS pr,
        CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains($stopListSql, x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END AS sr
        FROM t)
      SELECT doc_id,
        ROUND(LEAST(CAST(1.0 AS DOUBLE), ntok / 100.0) * 0.4 + (CAST(1.0 AS DOUBLE) - pr) * 0.3 + sr * 0.3, 6) AS quality
      FROM m ORDER BY doc_id"""))

  /** Position-weighted rolling document fingerprint. */
  val docFingerprintQ = QueryDef("doc_fingerprint",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
        CAST(list_sum([ascii(text[i]) * ((i-1) % 64 + 1) for i in generate_series(1, length(text))]) AS BIGINT) AS fp
      FROM documents ORDER BY doc_id"""))

  /** Exact dedup on the canonical bag-of-words key (hash-groupBy). */
  val dedupExact = QueryDef("dedup_exact",
    (s, dir) => Dedup.exactGroups(table(s, dir, "documents"), "doc_id",
        Dedup.bagOfWordsKey(col("text")))
      .orderBy("keep_id"),
    Some(s"""WITH k AS (SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS content_hash
      FROM documents)
      SELECT content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
      FROM k GROUP BY content_hash ORDER BY keep_id"""))

  /** The char-3-gram shingle frame (doc_id, sh) of docs with doc_id < 200
    * and its Jaccard ≥ 0.6 pairs (id_a, id_b, jaccard), id_a < id_b —
    * shared by `dedup_ngram_jaccard` and `dedup_components`. */
  private def ngramJaccardPairs(s: org.apache.spark.sql.SparkSession, dir: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // Materialize the (tiny, bounded) shingle frame with an eager local
    // checkpoint: without a barrier Catalyst inlines shingle construction
    // into both join sides and recomputes it once per PAIR instead of
    // once per doc. Not `.cache()`: that pins the blocks in the context's
    // shared CacheManager for the life of the JVM.
    // length(text) >= 3 mirrors the oracle CTE exactly: charShingles
    // collapses shorter docs to [text], which the oracle's generate_series
    // form has no row for — latent divergence on short future docs.
    // Parallelism floor BEFORE the checkpoint: the 200-row filtered scan is
    // one partition, which would serialize all ~20k pairwise intersects.
    val sh = graft.ops.Parallelism.ensure(
        table(s, dir, "documents").filter(col("doc_id") < 200 && length(col("text")) >= 3))
      .select(col("doc_id"), array_sort(charShingles(col("text"), 3)).as("sh"))
      .localCheckpoint()
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    val pairs = a.join(broadcast(b), col("id_a") < col("id_b"))
      .withColumn("jaccard", Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.6)
      .select("id_a", "id_b", "jaccard")
    (sh, pairs)
  }

  /** Char-3-gram Jaccard near-dup pairs (bounded subset; exact set math). */
  val dedupNgramJaccard = QueryDef("dedup_ngram_jaccard",
    (s, dir) => ngramJaccardPairs(s, dir)._2.orderBy("id_a", "id_b"),
    Some("""WITH s AS (SELECT doc_id,
        list_distinct([substring(text, i, 3) for i in generate_series(1, length(text) - 2)]) AS sh
      FROM documents WHERE doc_id < 200 AND length(text) >= 3),
      p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              len(list_intersect(a.sh, b.sh)) AS inter, len(a.sh) AS la, len(b.sh) AS lb
            FROM s a JOIN s b ON a.doc_id < b.doc_id)
      SELECT id_a, id_b, CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) AS jaccard
      FROM p WHERE CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) >= 0.6
      ORDER BY id_a, id_b"""))

  /** CONTAINMENT near-dup pairs (Broder, SEQUENCES'97 — the asymmetric
    * complement of resemblance): C(A,B) = |A∩B| / |A| over 2-gram word
    * shingles flags a document that is (almost) a SUBSET of a bigger one
    * (quoted posts, expanded revisions, the v1-inside-v2 problem) —
    * exactly the dup class resemblance misses: when |B| ≫ |A|, Jaccard
    * ≈ |A|/|B| stays tiny while containment ≈ 1, so neither the LSH
    * bands nor the jaccard verify ever surface the pair. Candidates come
    * from an inverted shingle index PRUNED to rare shingles (df ≤ 50):
    * the index join's fan-out is Σ df² over KEPT shingles — bounded by
    * maxDf · occurrences, linear in the corpus — while a stop-shingle
    * ("of the") never generates pairs. The pruning is part of the
    * REGISTERED semantics (a pair sharing only ubiquitous shingles is
    * noise by construction) and the oracle replays it. Orientation:
    * A = the smaller shingle set (ties to the lower id), each pair
    * emitted once; integer-ppm containment. */
  /** Shared containment stages — the REGISTERED query and ScaleProbe
    * both call this on a (doc_id, text) frame. */
  def containmentPairs(docs: org.apache.spark.sql.DataFrame,
                       maxDf: Int = 50): org.apache.spark.sql.DataFrame = {
    val sh = docs
      .select(col("doc_id"), array_sort(wordShingles(col("text"), 2)).as("sh"))
      .withColumn("n", size(col("sh")).cast("long"))
      .localCheckpoint() // read by the index explode and both verify joins
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("t"))
    val rare = ex.groupBy("t").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("t")
    val kept = ex.join(rare, "t")
    val cand = kept.select(col("t"), col("doc_id").as("id_a"))
      .join(kept.select(col("t"), col("doc_id").as("id_b")), Seq("t"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
        col("n").as("n_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
        col("n").as("n_b")), "id_b")
      .filter(col("n_a") < col("n_b") ||
        (col("n_a") === col("n_b") && col("id_a") < col("id_b")))
      .withColumn("inter", Dedup.sortedIntersectCount(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("containment_ppm", expr("inter * 1000000 div n_a"))
      .filter(col("containment_ppm") >= 800000)
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        col("inter"), col("containment_ppm"))
  }

  val dedupContainment = QueryDef("dedup_containment",
    (s, dir) => containmentPairs(
        table(s, dir, "documents").select(col("doc_id"), col("text")))
      .orderBy("id_a", "id_b"),
    Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id, ${MinhashSql.shingles} FROM d),
      gn AS (SELECT doc_id, sh, CAST(len(sh) AS BIGINT) AS n FROM g),
      ex AS (SELECT doc_id, UNNEST(sh) AS t FROM g),
      rare AS (SELECT t FROM (SELECT t, COUNT(*) AS df FROM ex GROUP BY t) WHERE df <= 50),
      kept AS (SELECT ex.doc_id, ex.t FROM ex JOIN rare USING (t)),
      cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM kept a JOIN kept b ON a.t = b.t AND a.doc_id <> b.doc_id),
      o AS (SELECT c.id_a, c.id_b, ga.sh AS sh_a, ga.n AS n_a, gb.sh AS sh_b, gb.n AS n_b
            FROM cand c JOIN gn ga ON ga.doc_id = c.id_a JOIN gn gb ON gb.doc_id = c.id_b
            WHERE ga.n < gb.n OR (ga.n = gb.n AND c.id_a < c.id_b)),
      v AS (SELECT id_a, id_b, n_a, n_b,
              CAST(len(list_intersect(sh_a, sh_b)) AS BIGINT) AS inter
            FROM o)
      SELECT id_a, id_b, n_a, n_b, inter, inter * 1000000 // n_a AS containment_ppm
      FROM v WHERE inter * 1000000 // n_a >= 800000 ORDER BY id_a, id_b"""))

  /** Parameterized md5-minhash/LSH candidate-pair replay over the
    * `doc_id < 500` slice, ending in `tj(id_a, id_b, est_jaccard,
    * true_jaccard)` — shared by `dedup_minhash_lsh` (8×4 bands) and
    * `mine_contrastive_pairs` (16×2 bands), each supplying its own final
    * SELECT. */
  private def minhashPairSql(bands: Int, rpb: Int, select: String): String = {
    import MinhashSql._
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 500),
      g AS (SELECT doc_id, $shingles FROM d),
      ${hashCtes("g")},
      sig AS MATERIALIZED ($signature),
      bd AS (${bandSelects(bands, rpb)}),
      cand AS (${candidatePairs("bd")}),
      est AS (SELECT id_a, id_b, ${estJaccard("sa", "sb")} AS est_jaccard
              FROM cand JOIN sig sa ON sa.doc_id = cand.id_a
                        JOIN sig sb ON sb.doc_id = cand.id_b),
      tj AS (SELECT e.id_a, e.id_b, e.est_jaccard, ${trueJaccard("ga", "gb")} AS true_jaccard
             FROM est e JOIN g ga ON ga.doc_id = e.id_a JOIN g gb ON gb.doc_id = e.id_b)
      $select"""
  }

  private def minhashOracleSql: String =
    minhashPairSql(8, 4,
      """SELECT id_a, id_b, est_jaccard, true_jaccard FROM tj
      WHERE true_jaccard >= 0.3 ORDER BY id_a, id_b""")

  /** Exact substring (span) deduplication — the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" operator: any 8-token
    * window occurring ≥ 2 times in the corpus is a duplicate span, and
    * every token covered by a duplicate span is removed from the document
    * (first occurrence removed too, per the paper's exact-substring
    * variant). The corpus is synthetic word soup with no natural repeats,
    * so both sides plant the same 8-token span into every 7th doc — the
    * established synthesized-evidence pattern (`pii_scrub`).
    *
    * Scale shape: window explode ≈ n_tokens rows/doc (the decontaminate
    * shape), ONE count shuffle with map-side partials for the duplicate-
    * gram set, a join back (AQE picks broadcast vs shuffle — the dup set
    * is small in a healthy corpus and huge in a crawl, both must work),
    * a per-doc covered-position aggregate, and one final join against
    * the checkpointed base. Never O(n²); reconstruction is a narrow map. */
  val dedupSpans = QueryDef("dedup_spans",
    (s, dir) => {
      val W = 8
      val span = "alpha bravo charlie delta echo foxtrot golf hotel"
      // r15: range by doc_id (instead of the round-robin floor) so the
      // final reassembly can ride the base partitioning, and checkpoint
      // the window frame — its two consumers (dup-gram count + covered
      // join) otherwise each re-run the 8-token string assembly per
      // window position.
      val base = graft.ops.Parallelism.byRange(
          table(s, dir, "documents").select(col("doc_id"), col("text")),
          col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(lit(span + " "), col("text")))
            .otherwise(col("text")).as("t"))
        .withColumn("toks", tokens(col("t")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .localCheckpoint() // read by the window explode and the final join
      val wins = base.filter(col("n_tok") >= W)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(1L), col("n_tok") - (W - 1)),
            i => concat_ws(" ", (0 until W).map(o =>
              element_at(col("toks"), (i + o).cast("int"))): _*)))
          .as(Seq("pos0", "gram")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("start"), col("gram"))
        .localCheckpoint() // two consumers: dup-gram agg + covered join
      val dupGrams = wins.groupBy("gram").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("gram")
      val covered = wins.join(dupGrams, "gram")
        .select(col("doc_id"),
          explode(sequence(col("start"), col("start") + (W - 1))).as("pos"))
        .distinct()
      val coveredAgg = covered.groupBy("doc_id")
        .agg(count(lit(1)).as("n_dup_tok"), collect_set("pos").as("cov"))
      val cov = coalesce(col("cov"), array().cast("array<bigint>"))
      // sort first, reassemble above (the gen_save_path discipline): the
      // heavy token-filter/concat runs once, after the sort exchange
      base.join(coveredAgg, Seq("doc_id"), "left")
        .orderBy("doc_id")
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_dup_tok"), lit(0L)).as("n_dup_tok"),
          when(col("n_tok") > 0,
            concat_ws(" ", transform(
              filter(sequence(lit(1L), col("n_tok")), i => !array_contains(cov, i)),
              i => element_at(col("toks"), i.cast("int")))))
            .otherwise(lit("")).as("clean"))
    },
    Some("""WITH p AS (SELECT doc_id,
          CASE WHEN doc_id % 7 = 0
               THEN 'alpha bravo charlie delta echo foxtrot golf hotel ' || text
               ELSE text END AS t
        FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS toks FROM p),
      n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM tk),
      w AS (SELECT doc_id, CAST(i AS BIGINT) AS start,
              array_to_string(list_slice(toks, i, i + 7), ' ') AS gram
            FROM n, UNNEST(generate_series(1, n_tok - 7)) AS u(i)
            WHERE n_tok >= 8),
      dg AS (SELECT gram FROM w GROUP BY gram HAVING COUNT(*) >= 2),
      cv AS (SELECT DISTINCT w.doc_id, UNNEST(generate_series(w.start, w.start + 7)) AS pos
             FROM w JOIN dg USING (gram)),
      ca AS (SELECT doc_id, COUNT(*) AS n_dup_tok, list(pos) AS cov FROM cv GROUP BY doc_id)
      SELECT n.doc_id, n.n_tok,
        COALESCE(ca.n_dup_tok, 0) AS n_dup_tok,
        CASE WHEN n.n_tok > 0
             -- array_to_string of an EMPTY list is NULL in DuckDB (a doc
             -- whose every token is covered); Spark's concat_ws gives ''
             THEN COALESCE(array_to_string([n.toks[CAST(i AS INT)]
                                   for i in generate_series(1, n.n_tok)
                                   if NOT list_contains(COALESCE(ca.cov, []), i)], ' '), '')
             ELSE '' END AS clean
      FROM n LEFT JOIN ca USING (doc_id)
      ORDER BY n.doc_id"""))

  /** MinHash+LSH near-dup candidates, verified with true shingle Jaccard:
    * the [[Dedup.minhashFeatures]] → [[Dedup.lshPairs]] (8×4) → verify
    * stages over md5-keyed replayable signatures → full hash-oracle
    * evidence. */
  val dedupMinhashLsh = QueryDef("dedup_minhash_lsh",
    (s, dir) => {
      val feat = Dedup.minhashFeatures(table(s, dir, "documents").filter(col("doc_id") < 500))
      // no estimate pre-screen here, so sig and sh attach together, one
      // join per side
      Dedup.attachSides(Dedup.lshPairs(feat, feat, Seq((8, 4))), feat, feat, "sh", "sig")
        .select(col("id_a"), col("id_b"),
          Dedup.estJaccard(col("sig_a"), col("sig_b"), 32).as("est_jaccard"),
          Dedup.jaccard(col("sh_a"), col("sh_b")).as("true_jaccard"))
        .filter(col("true_jaccard") >= 0.3)
        // ckpt before the output sort — same double-intersect reasoning
        // as mine_contrastive_pairs (r16)
        .localCheckpoint()
        .orderBy("id_a", "id_b")
    },
    Some(minhashOracleSql))

  /** Contrastive training-pair mining for embedding models — the data
    * prep a retrieval/embedding trainer runs over the corpus (the SimCSE/
    * E5-style hard-negative recipe): LSH candidates at a PERMISSIVE
    * banding (16 bands × 2 rows — fires well below the dedup threshold)
    * are labeled by true shingle Jaccard: `positive` (≥ 0.5, near-dup
    * pairs the encoder should map together) or `hard_negative` (< 0.2 —
    * sketch-similar enough to band-collide yet lexically far, exactly the
    * confusable pairs contrastive losses need; ambiguous middle dropped).
    * Same linear candidate machinery as dedup ([[Dedup.lshPairs]], ids
    * only through the band join), same bounded slice as `dedup_minhash_lsh`;
    * the whole chain replays via [[minhashPairSql]] at the mining band
    * geometry. */
  val mineContrastivePairs = QueryDef("mine_contrastive_pairs",
    (s, dir) => {
      // the mining never reads the signatures off the pairs (no est column
      // in the output), so only the shingle sets attach, once per side
      val feat = Dedup.minhashFeatures(table(s, dir, "documents").filter(col("doc_id") < 500))
      Dedup.attachSides(Dedup.lshPairs(feat, feat, Seq((16, 2))), feat, feat, "sh")
        .select(col("id_a"), col("id_b"),
          Dedup.jaccard(col("sh_a"), col("sh_b")).as("true_jaccard"))
        .filter(col("true_jaccard") >= 0.5 || col("true_jaccard") < 0.2)
        .select(col("id_a"), col("id_b"), col("true_jaccard"),
          when(col("true_jaccard") >= 0.5, lit("positive"))
            .otherwise(lit("hard_negative")).as("label"))
        // ckpt before the output sort (r16): AQE broadcasts the bare-id
        // pair frame into the attach joins, which leaves the per-pair
        // intersect NARROW above the feature scan — the sort's range
        // sampling would execute every intersect twice
        .localCheckpoint()
        .orderBy("id_a", "id_b")
    },
    Some(minhashPairSql(16, 2,
      """SELECT id_a, id_b, true_jaccard,
        CASE WHEN true_jaccard >= 0.5 THEN 'positive' ELSE 'hard_negative' END AS label
      FROM tj WHERE true_jaccard >= 0.5 OR true_jaccard < 0.2
      ORDER BY id_a, id_b""")))

  /** DuckDB replay of the md5-keyed 60-bit SimHash: per-token hash → 60
    * bit votes → sketch → 4×15-bit banded Hamming pairs. Generated to
    * stay in lock-step with [[Dedup.simhash60Md5]]. */
  private def simhashOracleSql: String = {
    val votes = (0 until 60).map(j =>
      s"SUM(CASE WHEN ((h >> $j) & 1) = 1 THEN 1 ELSE -1 END) AS v$j").mkString(", ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN v$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    val bandRows = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band_idx, (simhash >> ${b * 15}) & 32767 AS band_val FROM sk")
      .mkString(" UNION ALL ")
    s"""WITH tok AS (SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS t
        FROM documents WHERE doc_id < 500),
      th AS (SELECT doc_id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
      v AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
      sk AS (SELECT doc_id, $bits AS simhash FROM v),
      bd AS ($bandRows),
      pr AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
             FROM bd a JOIN bd b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                 AND a.doc_id < b.doc_id)
      SELECT id_a, id_b, hamming FROM pr WHERE hamming <= 6 ORDER BY id_a, id_b"""
  }

  /** SimHash near-dup pairs via banded Hamming blocking over the engine's
    * one SimHash, the md5-keyed 60-bit sketch ([[Dedup.simhash60Md5]]),
    * which the oracle replays bit for bit. */
  val dedupSimhash = QueryDef("dedup_simhash",
    (s, dir) => {
      val docs = table(s, dir, "documents").filter(col("doc_id") < 500)
      // checkpointed: the banded self-join reads the sketch frame on both
      // sides — without materialization the 60-vote aggregate subtree
      // plans, codegen-compiles, and executes twice (measured 4.5s vs
      // 0.35s steady-state at sf0.01).
      val sketches = Dedup.simhash60Md5(docs, "doc_id", tokens(col("text")))
        .localCheckpoint()
      Dedup.simhashPairs(sketches, "doc_id", "simhash", maxHamming = 6,
          nBands = 4, bandBits = 15)
        .orderBy("id_a", "id_b")
    },
    Some(simhashOracleSql))

  /** Incremental (ingest-time) dedup — the daily-batch production shape:
    * a NEW batch (every 5th doc) is deduplicated AGAINST the existing
    * corpus, never against itself and never re-deduping the corpus.
    * Verdict per batch doc: `exact_dup` (bag-of-words content match —
    * one keyed join against the corpus key index), `near_dup` (md5-
    * minhash bands of the batch joined against the CORPUS band index —
    * candidate work ∝ batch × bucket occupancy, not corpus²; est
    * pre-screen then true-Jaccard ≥ 0.5), else `new`; match_id = the
    * earliest matching corpus doc. At 100 TB the corpus-side key/band
    * indexes are the persisted state (the [[graft.operators.Ivf]]
    * addVectors analog for text), and each ingest scans only the batch
    * plus the buckets it touches. */
  val dedupIncrementalQ = QueryDef("dedup_incremental",
    (s, dir) => incrementalVerdicts(
        graft.ops.Parallelism.ensure(table(s, dir, "documents")))
      // ckpt before the output sort (r16): the verdict frame is one row
      // per batch doc (bounded by the batch), while the sort's range
      // sampling would re-execute the near-dup verify tail
      .localCheckpoint()
      .orderBy("doc_id"),
    Some(incrementalOracleSql))

  /** Shared incremental-dedup stages ([[dedupIncrementalQ]] AND
    * ScaleProbe's `incremental_dedup` family call this — the probe
    * measures the shipped plan, not a copy): batch = every 5th doc,
    * existing = the rest; exact content-key join, then batch-bands ×
    * corpus-bands with est pre-screen and true-Jaccard verify. */
  def incrementalVerdicts(docsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val docs = docsIn
        .select(col("doc_id"), col("text"))
        .localCheckpoint() // existing/batch splits + shingle frames
      val existing = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val exKeys = existing
        .select(md5(Dedup.bagOfWordsKey(col("text"))).as("ch"), col("doc_id").as("ex_id"))
        .groupBy("ch").agg(min(col("ex_id")).as("ex_id"))
      val exactMatch = batch
        .withColumn("ch", md5(Dedup.bagOfWordsKey(col("text"))))
        .join(exKeys, Seq("ch"), "left")
        .select(col("doc_id"), col("text"), col("ex_id"))
        .localCheckpoint() // read by the near-dup stage and final assembly
      val rest = exactMatch.filter(col("ex_id").isNull).select("doc_id", "text")
      val featE = Dedup.minhashFeatures(existing)
      val featB = Dedup.minhashFeatures(rest)
      // batch (id_a) × corpus (id_b): no id order between the sides. The
      // est pre-screen runs BEFORE the shingle sets attach — at scale the
      // screen is what keeps the array shuffle linear (the
      // pipeline_dedup_corpus 10× probe measured 15× without it).
      // r15: checkpointing the corpus band index here was A/B'd and LOST
      // (exec 2.2->3.0 s: the materialization + checkpoint read cost more
      // than the 8-band md5 explode it saved) — left live.
      val cands = Dedup.attachSides(
          Dedup.lshPairs(featB, featE, Seq((8, 4)), pairIf = lit(true)), featB, featE, "sig")
        .filter(Dedup.estJaccard(col("sig_a"), col("sig_b"), 32) >= 0.35)
      val near = Dedup.attachSides(cands.select("id_a", "id_b"), featB, featE, "sh")
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.5)
        .groupBy(col("id_a").as("doc_id")).agg(min(col("id_b")).as("near_id"))
      exactMatch.join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("ex_id").isNotNull, lit("exact_dup"))
            .when(col("near_id").isNotNull, lit("near_dup"))
            .otherwise(lit("new")).as("verdict"),
          coalesce(col("ex_id"), col("near_id")).as("match_id"))
  }

  /** DuckDB replay of [[dedupIncrementalQ]]: content-key match, then
    * batch-bands × corpus-bands with the same est pre-screen and
    * true-Jaccard verification. Generated for lock-step constants. */
  private def incrementalOracleSql: String = {
    import MinhashSql._
    s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      keys AS (SELECT doc_id,
        md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ch FROM d),
      exk AS (SELECT ch, MIN(doc_id) AS ex_id FROM keys WHERE doc_id % 5 <> 0 GROUP BY ch),
      em AS (SELECT k.doc_id, exk.ex_id FROM keys k LEFT JOIN exk USING (ch)
             WHERE k.doc_id % 5 = 0),
      gsh AS (SELECT doc_id, $shingles FROM d),
      ${hashCtes("gsh")},
      sig AS ($signature),
      bd AS (${bandSelects(8, 4)}),
      cand AS (SELECT DISTINCT b.doc_id AS b_id, e.doc_id AS e_id
               FROM bd b JOIN bd e ON b.band_idx = e.band_idx AND b.band_hash = e.band_hash
               WHERE b.doc_id IN (SELECT doc_id FROM em WHERE ex_id IS NULL)
                 AND e.doc_id % 5 <> 0),
      est AS (SELECT b_id, e_id FROM cand
              JOIN sig sa ON sa.doc_id = cand.b_id
              JOIN sig sb ON sb.doc_id = cand.e_id
              WHERE ${estJaccard("sa", "sb")} >= 0.35),
      near AS (SELECT c.b_id AS doc_id, MIN(c.e_id) AS near_id
               FROM est c JOIN gsh ga ON ga.doc_id = c.b_id JOIN gsh gb ON gb.doc_id = c.e_id
               WHERE ${trueJaccard("ga", "gb")} >= 0.5
               GROUP BY c.b_id)
      SELECT em.doc_id,
        CASE WHEN em.ex_id IS NOT NULL THEN 'exact_dup'
             WHEN near.near_id IS NOT NULL THEN 'near_dup'
             ELSE 'new' END AS verdict,
        COALESCE(em.ex_id, near.near_id) AS match_id
      FROM em LEFT JOIN near USING (doc_id)
      ORDER BY em.doc_id"""
  }

  /** Vocabulary building: top-20 tokens per language by corpus frequency.
    * explode → two-level count (token counts do map-side partial combine)
    * → window rank. The rank payload is a STRING, so the window form (not
    * graft_topk, which carries long ids) is correct here — and Spark's
    * InferWindowGroupLimit bounds its shuffle to k rows per key per
    * partition. Ties break on token asc for cross-engine determinism. */
  val vocabTopK = QueryDef("vocab_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val counts = table(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token").asc)
      counts.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 20)
        .select("lang", "rank", "token", "cnt")
        .orderBy("lang", "rank")
    },
    Some(s"""WITH t AS (SELECT lang, UNNEST($toksSql) AS token FROM documents),
      c AS (SELECT lang, token, COUNT(*) AS cnt FROM t GROUP BY lang, token),
      r AS (SELECT lang, token, cnt,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, token ASC) AS rank
            FROM c)
      SELECT lang, rank, token, cnt FROM r WHERE rank <= 20
      ORDER BY lang, rank"""))

  /** Pairs → clusters: connected components over the ngram-Jaccard
    * near-dup edges (operators/Components min-label propagation), keeping
    * the min-id doc per cluster. Oracle: DuckDB recursive-CTE transitive
    * closure reduced by MIN(reachable id) — same components. */
  val dedupComponents = QueryDef("dedup_components",
    (s, dir) => {
      val (sh, pairs) = ngramJaccardPairs(s, dir)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      val comps = graft.operators.Components.connectedComponents(
        sh.select(col("doc_id").as("id")), edges)
      val sizes = comps.groupBy("comp").agg(count(lit(1)).as("n_members"))
      comps.join(sizes, "comp")
        .select(col("id").as("doc_id"), col("comp"), col("n_members"),
          when(col("id") === col("comp"), 1).otherwise(0).as("keep"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
      s AS MATERIALIZED (SELECT doc_id,
              list_distinct([substring(text, i, 3) for i in generate_series(1, length(text) - 2)]) AS sh
            FROM documents WHERE doc_id < 200 AND length(text) >= 3),
      p AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE) >= 0.6),
      e AS (SELECT src, dst FROM p UNION SELECT dst, src FROM p),
      r AS (SELECT doc_id AS id, doc_id AS reach FROM s
            UNION
            SELECT e.src AS id, r.reach FROM e JOIN r ON e.dst = r.id),
      comp AS MATERIALIZED (SELECT id, MIN(reach) AS comp FROM r GROUP BY id),
      sizes AS (SELECT comp, COUNT(*) AS n_members FROM comp GROUP BY comp)
      SELECT c.id AS doc_id, c.comp, z.n_members,
             CASE WHEN c.id = c.comp THEN 1 ELSE 0 END AS keep
      FROM comp c JOIN sizes z USING (comp)
      ORDER BY doc_id"""))

  /** Line-level (boilerplate) deduplication — the CCNet/RefinedWeb
    * paragraph-dedup shape: any LINE whose exact text recurs ≥ 5 times
    * across the corpus is boilerplate (nav bars, cookie banners, footers)
    * and is dropped from EVERY document, then documents are reassembled
    * from their surviving lines. The corpus has no newlines, so a "line"
    * is an aligned 10-token segment; both sides plant a fixed 10-token
    * nav header into every 4th doc (the synthesized-evidence pattern),
    * which becomes that doc's first line and must be scrubbed.
    *
    * vs [[dedupSpans]] (Lee et al. sliding windows): aligned segmentation
    * emits n/10 rows per doc instead of n — an order of magnitude less
    * explode traffic — and removal is whole-line, the right semantics for
    * boilerplate (spans are the right semantics for plagiarized runs).
    * Scale: one narrow segment map, ONE count shuffle with map-side
    * partials, a join back (AQE picks broadcast vs shuffle — the
    * boilerplate set is small in a healthy corpus, huge in a raw crawl),
    * and a narrow reassembly map over the checkpointed base.
    *
    * Shared line-dedup stages — the REGISTERED query and ScaleProbe both
    * call this on a (doc_id, text) frame. The result is sorted by doc_id:
    * the sort sits below the reassembly map. */
  def dedupLinesSorted(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val W = 10
      val nav = "home about contact privacy terms sitemap login search menu footer"
      // r15: range by doc_id (see dedup_spans) — the floor doubles as the
      // exchange the final per-doc reassembly sorts within.
      val base = graft.ops.Parallelism.byRange(docs, col("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 4 === 0, concat(lit(nav + " "), col("text")))
            .otherwise(col("text")).as("t"))
        .withColumn("toks", tokens(col("t")))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_lines",
          floor((col("n_tok") + lit(W - 1)) / lit(W)).cast("long"))
        .localCheckpoint() // read by the line explode and the final join
      val lineAt = (i: Column) =>
        concat_ws(" ", slice(col("toks"), ((i - 1) * W + 1).cast("int"), lit(W)))
      val lines = base
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1L), col("n_lines"))).as("line_idx"))
        .select(col("doc_id"), col("line_idx"), lineAt(col("line_idx")).as("line"))
      val boiler = lines.groupBy("line").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 5).select("line")
      val removed = lines.join(boiler, "line")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_removed"), collect_set("line_idx").as("rem"))
      val rem = coalesce(col("rem"), array().cast("array<bigint>"))
      // sort first, reassemble above (the gen_save_path discipline)
      base.join(removed, Seq("doc_id"), "left")
        .orderBy("doc_id")
        .select(col("doc_id"), col("n_lines"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          concat_ws(" ", transform(
            filter(sequence(lit(1L), col("n_lines")),
              i => !array_contains(rem, i)),
            i => lineAt(i))).as("clean"))
  }

  val dedupLinesQ = QueryDef("dedup_lines",
    (s, dir) => dedupLinesSorted(
      table(s, dir, "documents").select(col("doc_id"), col("text"))),
    Some("""WITH p AS (SELECT doc_id,
          CASE WHEN doc_id % 4 = 0
               THEN 'home about contact privacy terms sitemap login search menu footer ' || text
               ELSE text END AS t
        FROM documents),
      tk AS (SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS toks FROM p),
      n AS (SELECT doc_id, toks,
              CAST(FLOOR((CAST(len(toks) AS BIGINT) + 9) / 10.0) AS BIGINT) AS n_lines
            FROM tk),
      ln AS (SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
               array_to_string(list_slice(toks, (i-1)*10 + 1, i*10), ' ') AS line
             FROM n, UNNEST(generate_series(1, n_lines)) AS u(i)),
      bo AS (SELECT line FROM ln GROUP BY line HAVING COUNT(*) >= 5),
      rm AS (SELECT doc_id, COUNT(*) AS n_removed, list(line_idx) AS rem
             FROM ln JOIN bo USING (line) GROUP BY doc_id)
      SELECT n.doc_id, n.n_lines,
        COALESCE(rm.n_removed, 0) AS n_removed,
        COALESCE(array_to_string(
          [array_to_string(list_slice(n.toks, (CAST(i AS BIGINT)-1)*10 + 1, CAST(i AS BIGINT)*10), ' ')
           for i in generate_series(1, n.n_lines)
           if NOT list_contains(COALESCE(rm.rem, []), i)], ' '), '') AS clean
      FROM n LEFT JOIN rm USING (doc_id)
      ORDER BY n.doc_id"""))

  /** Per-document top-5 terms by tf-idf — the keyword-extraction /
    * topic-tagging pass a corpus pipeline runs for mixing and inspection.
    * Linear idf (N/df), not log idf, DELIBERATELY: ln is a libm call
    * whose last ulp differs across engines and would poison an exact-hash
    * oracle, while `CAST(tf*N AS DOUBLE)/df` is one correctly-rounded
    * IEEE division — bit-identical anywhere. (The ranking is the
    * tf·(N/df) variant's, not log-idf's — a documented semantic choice,
    * not an approximation of it.)
    * Scale: tf = one (doc,term) hash agg with map-side partials riding
    * the explode; df derives from tf (term-keyed agg — AQE picks the
    * join strategy, a 100 TB vocab must NOT be forced broadcast); N is a
    * 1-row broadcast; rank is a per-doc window that
    * InferWindowGroupLimit caps at 5 rows per doc per partition. */
  val tfidfTopTermsQ = QueryDef("tfidf_top_terms",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      // checkpointed: df and the ranked join both read the tf frame —
      // uncached, the explode+agg over every document executes twice.
      val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint()
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      tf.join(dfreq, "term")
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
        .select("doc_id", "rank", "term", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    Some(s"""WITH tf AS (SELECT doc_id, UNNEST($toksSql) AS term FROM documents),
      tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
      dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      sc AS (SELECT t.doc_id, t.term, t.tf, d.df,
               CAST(t.tf * n.n_docs AS DOUBLE) / CAST(d.df AS DOUBLE) AS score
             FROM tfc t JOIN dfc d USING (term) CROSS JOIN n),
      r AS (SELECT doc_id, term, tf, df, score,
              ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
            FROM sc)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
      FROM r WHERE rank <= 5 ORDER BY doc_id, rank"""))

  /** Corpus heavy hitters with a count-min sketch certification — the
    * frequency analog of `approx_distinct`: exact global top-20 tokens
    * via the [[graft.operators.TopShare]] report (TakeOrderedAndProject
    * over the token counts — a bounded per-partition heap, never a
    * global sort — with the corpus total riding the same report), plus
    * a CMS built over the
    * same token stream (mergeable sketch, the structure that answers
    * point-frequency queries at 100 TB without a vocab-sized state).
    * Each top token's CMS estimate is checked against the guarantee
    * `exact ≤ est ≤ exact + ε·N` and the verdict lands in `within_bound`,
    * pinned TRUE by the oracle beside the exact counts — a sketch
    * regression flips a hash-compared value. The sketch binary and the
    * 20 probes are the only driver-side state (both bounded); counts,
    * sketch build, and top-k all run distributed. `toks` has one string
    * column `token`; null tokens are not counted. */
  def heavyHitters(toks: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s = toks.sparkSession
    import s.implicits._
    val eps = 0.0005
    def emptySketch = org.apache.spark.util.sketch.CountMinSketch.create(eps, 0.99, 42)
    // a null token has no sketch cell (CountMinSketch.add throws on null)
    val counts = toks.filter(col("token").isNotNull)
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // read by top-k, the total, and the sketch gate
    // Build the CMS from the CHECKPOINTED counts instead of a second
    // full pass over every token (r16, guide §1.2): CMS cells are sums,
    // so one weighted add per distinct token produces the bit-identical
    // sketch (same impl, eps, confidence, seed) the streaming
    // count_min_sketch aggregate built — at vocab cost, not corpus cost.
    val cms = counts.select(col("token"), col("cnt")).as[(String, Long)]
      .mapPartitions { it =>
        val sk = emptySketch
        it.foreach { case (t, c) => sk.add(t, c) }
        val bos = new java.io.ByteArrayOutputStream()
        sk.writeTo(bos)
        Iterator.single(bos.toByteArray)
      }
      .collect() // bounded: one eps-sized (~¼ MB) sketch per partition
      .map(b => org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(b)))
      // folded from an empty sketch: an input with no partitions yields
      // no per-partition sketch at all
      .foldLeft(emptySketch) { (a, b) => a.mergeInPlace(b); a }
    // top-20 + corpus total in ONE bounded report (20 rows collected —
    // the only driver-side state beside the sketch)
    val top = graft.operators.TopShare.report(counts, "token", "cnt", 20)
      .select("rank", "token", "cnt", "total").orderBy("rank").collect() // bounded: 20-row report
    top.toSeq.map { r =>
      val tok = r.getString(1); val cnt = r.getLong(2)
      val slack = math.ceil(eps * r.getLong(3)).toLong
      val est = cms.estimateCount(tok)
      (r.getLong(0), tok, cnt, est >= cnt && est <= cnt + slack)
    }.toDF("rank", "token", "exact_cnt", "within_bound")
  }

  val heavyHittersQ = QueryDef("heavy_hitters",
    // ensure(): the token explode + both aggregates otherwise run on the
    // single row-group scan's one partition (r16, the F1 floor).
    (s, dir) => heavyHitters(graft.ops.Parallelism.ensure(
        table(s, dir, "documents").select(col("text")))
      .select(explode(tokens(col("text"))).as("token"))),
    Some(s"""WITH t AS (SELECT UNNEST($toksSql) AS token FROM documents),
      c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY token),
      r AS (SELECT token, cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rank
            FROM c)
      SELECT CAST(rank AS BIGINT) AS rank, token, cnt AS exact_cnt,
        TRUE AS within_bound
      FROM r WHERE rank <= 20 ORDER BY rank"""))

  /** Statistical LM quality scoring (the CCNet-style filter shape): train
    * a Laplace-smoothed char-bigram model over the corpus — a tiny frame
    * that BROADCASTS — then score every doc by its mean smoothed bigram
    * probability. Model-as-data two-pass: no driver state, no UDFs; both
    * passes ride the document scan. Scored in LINEAR space (mean p, not
    * mean log p) deliberately: every per-bigram p is one IEEE division
    * (bit-identical in any engine), log2 is a libm call whose last ulp
    * differs across engines and would poison an exact-hash oracle. The
    * mean accumulates in DECIMAL (order-independent), rounded at 9 dp. */
  /** Per-doc Laplace-smoothed char-bigram LM mean-probability scores
    * (doc_id, n_bigrams, lm_score) — the shared stage `lm_score` and
    * `perplexity_buckets` both run, so the two queries and both oracles
    * replay ONE model definition. */
  def lmScored(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // r15: distribute the doc scan BEFORE the ~500-bigrams-per-doc explode
    // — both the (plan-time) model-count aggregation and the (exec-time)
    // scoring explode + broadcast probes + partial agg otherwise run on
    // the single scan core. Range by doc_id: the scoring groupBy(doc_id)
    // partial-aggregates within disjoint doc ranges (every doc's rows are
    // in ONE partition, so partials collapse to one row per doc before
    // the agg exchange). 3x exec on the sf0.1 bench.
    val d = graft.ops.Parallelism.byRange(
      docs.filter(length(col("text")) >= 2), col("doc_id"))
    val bgs = d.select(col("doc_id"),
      explode(charNgrams(col("text"), 2, distinct = false)).as("bg"))
    // The trained model is ~1.6k rows; checkpoint it so the corpus-wide
    // bigram aggregation runs ONCE (ctx counts, V, and the scoring
    // broadcast all derive from it — uncached, each re-executes the
    // explode+agg over every document).
    val bgCounts = bgs.groupBy("bg").agg(count(lit(1)).as("cnt")).localCheckpoint()
    val ctxCounts = bgCounts.groupBy(substring(col("bg"), 1, 1).as("c1"))
      .agg(sum("cnt").as("ctx"))
    val vDf = ctxCounts.agg(count(lit(1)).as("v"))
    bgs
      .join(broadcast(bgCounts), Seq("bg"), "left")
      .withColumn("c1", substring(col("bg"), 1, 1))
      .join(broadcast(ctxCounts), Seq("c1"), "left")
      .crossJoin(broadcast(vDf))
      .withColumn("p",
        (coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (coalesce(col("ctx"), lit(0L)) + col("v")).cast("double"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("p").cast(DecimalType(20, 18))).cast("double") /
          count(lit(1)), 9).as("lm_score"))
  }

  /** DuckDB CTE chain ending in `ls(doc_id, n_bigrams, lm_score)` — the
    * oracle twin of [[lmScored]], shared by both consuming oracles. */
  val lmScoredCtes: String =
    """d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 2),
      bg AS (SELECT doc_id,
               UNNEST([substring(text, i, 2) for i in generate_series(1, length(text) - 1)]) AS bg
             FROM d),
      bc AS (SELECT bg, COUNT(*) AS cnt FROM bg GROUP BY bg),
      cc AS (SELECT substring(bg, 1, 1) AS c1, CAST(SUM(cnt) AS BIGINT) AS ctx FROM bc GROUP BY 1),
      v AS (SELECT COUNT(*) AS v FROM cc),
      sc AS (SELECT b.doc_id,
               CAST(COALESCE(bc.cnt, 0) + 1 AS DOUBLE) /
               CAST(COALESCE(cc.ctx, 0) + v.v AS DOUBLE) AS p
             FROM bg b
             LEFT JOIN bc USING (bg)
             LEFT JOIN cc ON substring(b.bg, 1, 1) = cc.c1
             CROSS JOIN v),
      ls AS (SELECT doc_id, COUNT(*) AS n_bigrams,
               ROUND(CAST(SUM(CAST(p AS DECIMAL(20,18))) AS DOUBLE) / COUNT(*), 9) AS lm_score
             FROM sc GROUP BY doc_id)"""

  val lmScoreQ = QueryDef("lm_score",
    (s, dir) => lmScored(table(s, dir, "documents")).orderBy("doc_id"),
    Some(s"""WITH $lmScoredCtes
      SELECT doc_id, n_bigrams, lm_score FROM ls ORDER BY doc_id"""))

  /** CCNet-style per-language perplexity bucketing (Wenzek et al.,
    * LREC'20): within each language, rank documents by LM quality (mean
    * smoothed bigram probability DESC — higher ≈ lower perplexity) and
    * split into head/middle/tail terciles; downstream recipes keep head,
    * subsample middle, drop tail. The within-language rank is the
    * quality_percentile pattern — ONE corpus-wide distributed sort +
    * zipWithIndex ([[graft.operators.Sharding.globalRank]] on
    * (lang, score desc, id)) with per-language offsets joined back from
    * a #langs-row aggregate — never a per-language Window funneling a
    * 100 TB language through one task. Bucket assignment is pure integer
    * arithmetic on (rank − offset, n), so every boundary replays. */
  val perplexityBucketsQ = QueryDef("perplexity_buckets",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val scored = lmScored(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .select(col("doc_id"), col("lang"), col("lm_score"))
      val ranked = graft.operators.Sharding.globalRank(scored,
        Seq(col("lang").asc, col("lm_score").desc, col("doc_id").asc))
      val offs = ranked.groupBy("lang")
        .agg(min(col("rank")).as("off"), count(lit(1)).as("n"))
      ranked.join(broadcast(offs), "lang")
        .withColumn("b", expr("((rank - off) * 3) div n"))
        .withColumn("bucket",
          when(col("b") === 0, lit("head")).when(col("b") === 1, lit("middle"))
            .otherwise(lit("tail")))
        .select("doc_id", "lang", "lm_score", "bucket")
        .orderBy("doc_id")
    },
    Some(s"""WITH $lmScoredCtes,
      l AS (SELECT ls.doc_id, d2.lang, ls.lm_score
            FROM ls JOIN documents d2 ON ls.doc_id = d2.doc_id),
      r AS (SELECT *,
              ROW_NUMBER() OVER (PARTITION BY lang ORDER BY lm_score DESC, doc_id ASC) - 1 AS rk,
              COUNT(*) OVER (PARTITION BY lang) AS n
            FROM l)
      SELECT doc_id, lang, lm_score,
        CASE (rk * 3) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
      FROM r ORDER BY doc_id"""))

  /** Fenced code-block extraction — the front door of every code-data
    * pipeline (StarCoder/The-Stack style): pull ```lang-fenced blocks out
    * of markdown/web pages, tag each with its language, and report per-doc
    * block counts and code mass. Pages are synthesized deterministically
    * from the corpus (doc_id % 4 = 0 gets a python block, % 8 = 0
    * additionally a sql block, the rest none — all three block counts
    * occur at every scale). Extraction is two global regex passes riding
    * the scan — language tags and bodies — zero shuffle, pure codegen;
    * both engines run RE2-compatible '```([a-z]+)\n([^`]*)```' with
    * identical global-match semantics (the anchor_extract precedent).
    * At 100 TB this is a narrow map over the page scan: no join, no agg,
    * output partitioning inherited from the input. */
  val codeExtractQ = QueryDef("code_extract",
    (s, dir) => {
      val fencePat = "```([a-z]+)\\n([^`]*)```"
      val page = concat(lit("intro "), substring(col("text"), 1, 40),
        when(col("doc_id") % 4 === 0,
          concat(lit("\n```python\n"), substring(col("text"), 41, 60), lit("\n```\n")))
          .otherwise(lit(" ")),
        lit("middle "),
        when(col("doc_id") % 8 === 0,
          concat(lit("```sql\n"), substring(col("text"), 101, 30), lit("\n```\n")))
          .otherwise(lit("")),
        substring(col("text"), 131, 40))
      table(s, dir, "documents")
        .select(col("doc_id"), page.as("page"))
        .select(col("doc_id"),
          regexp_extract_all(col("page"), lit(fencePat), lit(1)).as("tags"),
          regexp_extract_all(col("page"), lit(fencePat), lit(2)).as("bodies"))
        .select(col("doc_id"),
          size(col("bodies")).cast("long").as("n_blocks"),
          length(array_join(col("bodies"), "")).cast("long").as("code_chars"),
          array_join(col("tags"), ",").as("langs"),
          when(size(col("bodies")) > 0, 1).otherwise(0).as("has_code"))
        .orderBy("doc_id")
    },
    Some("""WITH pg AS (SELECT doc_id,
        'intro ' || substring(text, 1, 40) ||
        CASE WHEN doc_id % 4 = 0
             THEN chr(10) || '```python' || chr(10) || substring(text, 41, 60) || chr(10) || '```' || chr(10)
             ELSE ' ' END ||
        'middle ' ||
        CASE WHEN doc_id % 8 = 0
             THEN '```sql' || chr(10) || substring(text, 101, 30) || chr(10) || '```' || chr(10)
             ELSE '' END ||
        substring(text, 131, 40) AS page
      FROM documents),
      ex AS (SELECT doc_id,
        regexp_extract_all(page, '```([a-z]+)\n([^`]*)```', 1) AS tags,
        regexp_extract_all(page, '```([a-z]+)\n([^`]*)```', 2) AS bodies
      FROM pg)
      SELECT doc_id,
        CAST(len(bodies) AS BIGINT) AS n_blocks,
        CAST(strlen(COALESCE(array_to_string(bodies, ''), '')) AS BIGINT) AS code_chars,
        COALESCE(array_to_string(tags, ','), '') AS langs,
        CASE WHEN len(bodies) > 0 THEN 1 ELSE 0 END AS has_code
      FROM ex ORDER BY doc_id"""))

  /** Cross-document duplicate n-gram fraction — the Gopher/MassiveText
    * repetition filter that looks ACROSS documents (Rae et al. 2021, §A1.2;
    * quality_gopher's rules are intra-document): per doc, the fraction of
    * its 8-gram OCCURRENCES that appear in at least one other document.
    * Boilerplate-heavy pages (headers, templates, licence blocks) score
    * high and get flagged at 30%. Scale shape: grams are hashed to 60-bit
    * md5 keys BEFORE the document-frequency shuffle (ship-arrays-late —
    * the join key is 8 bytes, never the 8-word string), the df agg is one
    * map-side-partial count over distinct (gh, doc) pairs, and the per-doc
    * rollup joins occurrences back on the same hash. Integer-ppm fraction;
    * both verdict classes fire at every scale (47/500 flagged at sf0.01). */
  /** Shared duplicate-n-gram stages — the REGISTERED query and ScaleProbe
    * both call this on a (doc_id, text) frame. */
  def dupNgramVerdicts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val occ = docs
      .select(col("doc_id"),
        explode(wordNgrams(col("text"), 8, distinct = false)).as("g"))
      .select(col("doc_id"), Dedup.md5Hash60(col("g")).as("gh"))
      .localCheckpoint() // read by the df agg and the per-doc rollup
    val dfq = occ.distinct().groupBy("gh").agg(count(lit(1)).as("dfc"))
    val per = occ.join(dfq, "gh")
      .groupBy("doc_id").agg(count(lit(1)).as("n_grams"),
        sum(when(col("dfc") >= 2, 1L).otherwise(0L)).as("n_dup"))
    per.select(col("doc_id"), col("n_grams"), col("n_dup"),
      expr("n_dup * 1000000 div n_grams").as("dup_ppm"),
      when(expr("n_dup * 1000000 div n_grams") >= 300000, 1).otherwise(0)
        .as("flagged"))
  }

  val dupNgramFractionQ = QueryDef("dup_ngram_fraction",
    // r15: a ranged scan was A/B'd here and REGRESSED (0.64->0.83 s) —
    // the gram explode feeds hash aggs that distribute at their own
    // exchange, so the extra range shuffle of full text is pure cost
    (s, dir) => dupNgramVerdicts(
        table(s, dir, "documents").select(col("doc_id"), col("text")))
      .orderBy("doc_id"),
    Some {
      val joins = (1 until 8).map(j => s"toks[i+$j]").mkString(" || ' ' || ")
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      gs AS (SELECT doc_id,
          CASE WHEN len(toks) >= 8
               THEN [toks[i] || ' ' || $joins for i in generate_series(1, len(toks) - 7)]
               ELSE [array_to_string(toks, ' ')] END AS grams
        FROM d),
      occ AS (SELECT doc_id,
          CAST(('0x' || substring(md5(g), 1, 15)) AS BIGINT) AS gh
        FROM (SELECT doc_id, UNNEST(grams) AS g FROM gs)),
      dfq AS (SELECT gh, COUNT(*) AS dfc
              FROM (SELECT DISTINCT doc_id, gh FROM occ) GROUP BY gh),
      per AS (SELECT o.doc_id, COUNT(*) AS n_grams,
                CAST(SUM(CASE WHEN dfq.dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
              FROM occ o JOIN dfq USING (gh) GROUP BY o.doc_id)
      SELECT doc_id, n_grams, n_dup,
        n_dup * 1000000 // n_grams AS dup_ppm,
        CASE WHEN n_dup * 1000000 // n_grams >= 300000 THEN 1 ELSE 0 END AS flagged
      FROM per ORDER BY doc_id"""
    })

  /** Tokenizer-vocabulary coverage curve — the vocab-size selection
    * evidence: cumulative corpus share of the top-k tokens as k grows
    * (a tokenizer team reads this to pick a vocab budget; coverage ppm
    * at k=30 vs k=8 quantifies the tail). One map-side-partial token
    * count, then the [[graft.operators.TopShare]] report: top-30 via
    * TakeOrdered (bounded per-partition heap — on a web corpus the
    * distinct-token vocabulary is 10⁸–10⁹ rows, so a full-vocab
    * single-partition rank/cumsum window would be a one-task sort of
    * the whole vocabulary), rank + cumulative mass over the 30-row
    * frame only. Bit-identical to the full-frame window form: cum mass
    * at ranks 1..30 depends only on the top-30 counts under the total
    * order (count desc, token asc). Integer-ppm shares. */
  val vocabCoverageQ = QueryDef("vocab_coverage",
    (s, dir) => {
      val counts = table(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
      graft.operators.TopShare.report(counts, "tok", "cnt", 30)
        .select(col("rank"), col("tok"), col("cnt"), col("cum_cnt"),
          expr("cum_cnt * 1000000 div total").as("cum_ppm"))
        .orderBy("rank")
    },
    Some(s"""WITH c AS (SELECT t AS tok, COUNT(*) AS cnt
        FROM (SELECT UNNEST($toksSql) AS t FROM documents) GROUP BY t),
      tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
      r AS (SELECT tok, cnt,
              ROW_NUMBER() OVER (ORDER BY cnt DESC, tok ASC) AS rank,
              CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok ASC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt
            FROM c)
      SELECT rank, tok, cnt, cum_cnt,
        cum_cnt * 1000000 // total AS cum_ppm
      FROM r CROSS JOIN tot WHERE rank <= 30 ORDER BY rank"""))

  /** Unicode-script detection — the multilingual-corpus complement of
    * lang_id: per-document character histogram over script classes
    * (Latin / Cyrillic / CJK), dominant script (argmax, ties
    * latin > cyrillic > cjk), and a mixed-script flag when the
    * second-largest script holds ≥ 5% of characters (mixed-script pages
    * are a spam/injection signal in crawl curation). Pages are
    * synthesized so all three dominant classes and both mixed classes
    * fire at every scale (doc_id % 5 picks a majority-Cyrillic,
    * majority-CJK, or untouched-Latin page). Counting is pure regex
    * char-class arithmetic riding the scan — zero shuffle; literal-char
    * classes keep Java-regex and RE2 semantics identical (the
    * url_normalize parity discipline). Integer-ppm shares. */
  val scriptDetectQ = QueryDef("script_detect",
    (s, dir) => {
      val page = when(col("doc_id") % 5 === 0,
          concat(expr("repeat('привет ', 40)"), substring(col("text"), 1, 30)))
        .when(col("doc_id") % 5 === 1,
          concat(expr("repeat('你好 ', 60)"), substring(col("text"), 1, 30)))
        .otherwise(col("text"))
      // r15 sort-early + Once: pg and the three regex counts are each
      // referenced by several output columns — pin them so the char-class
      // regexes run once per row, distributed
      Tables.documentsRanged(s, dir)
        .select(col("doc_id"), graft.plans.Once.once(page).as("pg"))
        .select(col("doc_id"),
          length(col("pg")).cast("long").as("n_chars"),
          graft.plans.Once.once(
            length(regexp_replace(col("pg"), "[^a-z]", "")).cast("long")).as("lat"),
          graft.plans.Once.once((length(col("pg")) - length(regexp_replace(col("pg"), "[привет]", "")))
            .cast("long")).as("cyr"),
          graft.plans.Once.once((length(col("pg")) - length(regexp_replace(col("pg"), "[你好]", "")))
            .cast("long")).as("cjk"))
        .select(col("doc_id"), col("n_chars"),
          expr("lat * 1000000 div n_chars").as("latin_ppm"),
          expr("cyr * 1000000 div n_chars").as("cyr_ppm"),
          expr("cjk * 1000000 div n_chars").as("cjk_ppm"),
          when(col("lat") >= col("cyr") && col("lat") >= col("cjk"), "latin")
            .when(col("cyr") >= col("cjk"), "cyrillic")
            .otherwise("cjk").as("dominant"),
          when((col("lat") + col("cyr") + col("cjk")
              - greatest(col("lat"), col("cyr"), col("cjk"))
              - least(col("lat"), col("cyr"), col("cjk"))) * 20 >= col("n_chars"), 1)
            .otherwise(0).as("mixed"))
        .sortWithinPartitions("doc_id")
    },
    Some("""WITH pg AS (SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN repeat('привет ', 40) || substring(text, 1, 30)
             WHEN doc_id % 5 = 1 THEN repeat('你好 ', 60) || substring(text, 1, 30)
             ELSE text END AS pg
      FROM documents),
      m AS (SELECT doc_id,
          CAST(length(pg) AS BIGINT) AS n_chars,
          CAST(length(regexp_replace(pg, '[^a-z]', '', 'g')) AS BIGINT) AS lat,
          CAST(length(pg) - length(regexp_replace(pg, '[привет]', '', 'g')) AS BIGINT) AS cyr,
          CAST(length(pg) - length(regexp_replace(pg, '[你好]', '', 'g')) AS BIGINT) AS cjk
        FROM pg)
      SELECT doc_id, n_chars,
        lat * 1000000 // n_chars AS latin_ppm,
        cyr * 1000000 // n_chars AS cyr_ppm,
        cjk * 1000000 // n_chars AS cjk_ppm,
        CASE WHEN lat >= cyr AND lat >= cjk THEN 'latin'
             WHEN cyr >= cjk THEN 'cyrillic'
             ELSE 'cjk' END AS dominant,
        CASE WHEN (lat + cyr + cjk - greatest(lat, cyr, cjk) - least(lat, cyr, cjk)) * 20
                  >= n_chars THEN 1 ELSE 0 END AS mixed
      FROM m ORDER BY doc_id"""))

  /** Max docs per verify-join slice when auto-chunking (chunks = 0): the
    * candidate-pair volume of the certified-linear LSH path is ∝ docs, so
    * slicing pairs by id_a owner bounds the one stage that ships shingle
    * arrays. Registered sfs (≤ ~50k docs) stay one slice; the 50× probe
    * corpus (250k salted docs) slices 3× per JVM. */
  private val lshVerifyChunkDocs = 100000L

  /** LSH banding-parameter calibration — the report a dedup owner reads
    * BEFORE committing a banding to a 100 TB run: for each (bands,
    * rows-per-band) split of the k = 32 signature, the candidate-pair
    * count (≈ cluster-join cost), precision against exact shingle Jaccard
    * ≥ 0.5, and recall against the POOLED truth (true pairs found by any
    * swept config — the IR pooling methodology; exact all-pairs truth is
    * O(n²) and is exactly what this query exists to avoid). Signatures
    * are computed ONCE and each config re-bands the same 32 minhashes —
    * banding is free, only the candidate joins differ. Permissive 16×2
    * banding maximizes recall at low precision; strict 4×8 the reverse —
    * the swept report quantifies that trade on the operator's own corpus.
    * Integer-ppm metrics; every stage (signatures, bands, candidates,
    * exact Jaccard, pool) replays in SQL. */
  /** Shared calibration stages — the REGISTERED query and ScaleProbe both
    * call this on a (doc_id, text) frame.
    *
    * `chunks` bounds the exact-Jaccard VERIFY JOIN's live working set for
    * single-JVM deployments (the [[graft.operators.Similarity.nnDescentRound]]
    * chunking discipline applied to the one calibration stage whose
    * memory does not track per-executor data): candidate pairs are sliced
    * by `id_a % chunks` and each slice's array-shipping join + intersect
    * materializes (localCheckpoint) before the next slice starts, so peak
    * memory is one slice's (pairs × two hashed-shingle arrays) instead of
    * the full candidate set — the 50× single-48g-JVM excess the
    * two-executor probe measured (SCALE.md) bought back without a second
    * JVM. Exactness: tj is a pure per-pair function and the slices
    * partition the distinct pair set, so the unioned scored rows — and
    * every aggregate above them — are bit-identical for every chunk
    * count (spec-pinned for chunks 1/3/7). `chunks = 0` auto-sizes from
    * the memoized corpus count (one slice per [[lshVerifyChunkDocs]]
    * docs); the registered query pins `chunks = 1` (its corpora are
    * known-small — plan unchanged, same oracle). */
  def lshCalibrationReport(docs: org.apache.spark.sql.DataFrame,
                           chunks: Int = 0): org.apache.spark.sql.DataFrame = {
    require(chunks >= 0, s"chunks must be >= 0 (0 = auto), got $chunks")
    val feat = Dedup.minhashFeatures(docs)
    // bare-id candidate pairs tagged per config (no signature attach --
    // the calibration never reads them), from ONE band join over all three
    // geometries. The configs NEST (strict subset of permissive, spec'd),
    // so the exact-Jaccard verify runs ONCE per distinct pair instead of
    // once per config -- the verify join is what ships the shingle sets,
    // and this ships each pair's sets exactly once (measured 10.5 s -> ~4 s
    // at sf0.1). tj is a pure function of the pair, so the per-config rows
    // are value-identical and the oracle replay is untouched.
    val tagged = Dedup.lshPairs(feat, feat, Seq((16, 2), (8, 4), (4, 8)))
      .localCheckpoint()
    val nChunks = if (chunks >= 1) chunks
      else math.max(1L, (graft.operators.Similarity.corpusCount(docs)
        + lshVerifyChunkDocs - 1) / lshVerifyChunkDocs).toInt
    val pairsAll = tagged.select("id_a", "id_b").distinct()
    // bare-id pair set is read by every slice — checkpoint once when
    // slicing so the distinct doesn't re-run per slice
    val pairs = if (nChunks > 1) pairsAll.localCheckpoint() else pairsAll
    def scoreSlice(p: org.apache.spark.sql.DataFrame) =
      Dedup.attachSides(p, feat, feat, "sh")
        .select(col("id_a"), col("id_b"), Dedup.jaccard(col("sh_a"), col("sh_b")).as("tj"))
    val scored =
      if (nChunks == 1) scoreSlice(pairs)
      else (0 until nChunks)
        .map(c => scoreSlice(pairs.filter(pmod(col("id_a"), lit(nChunks)) === c))
          .localCheckpoint())
        .reduce(_ unionByName _)
    val ac = tagged.join(scored, Seq("id_a", "id_b")).localCheckpoint()
    val pool = ac.filter(col("tj") >= 0.5).select("id_a", "id_b").distinct()
      .agg(count(lit(1)).as("pool_n"))
    ac.groupBy("bands", "rpb")
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("tj") >= 0.5, 1L).otherwise(0L)).as("n_true"))
      .crossJoin(broadcast(pool))
      .select(col("bands"), col("rpb"), col("n_candidates"), col("n_true"),
        expr("n_true * 1000000 div n_candidates").as("precision_ppm"),
        // greatest(pool_n, 1): a corpus with zero true pairs reports
        // 0-recall rows instead of engine-divergent div-by-zero
        expr("n_true * 1000000 div greatest(pool_n, 1)").as("recall_vs_pool_ppm"))
  }

  val lshCalibrationQ = QueryDef("lsh_calibration",
    // chunks = 1 pinned: the registered corpora are known-small, so the
    // verify join runs unsliced (plan unchanged from pre-chunking rounds;
    // same oracle — tj rows are bit-identical for every chunk count).
    (s, dir) => lshCalibrationReport(
        table(s, dir, "documents").select(col("doc_id"), col("text")),
        chunks = 1)
      .orderBy("bands"),
    Some {
      import MinhashSql._
      def cfgCtes(tag: String, bands: Int, rpb: Int) =
        s"""bd$tag AS (${bandSelects(bands, rpb)}),
      cand$tag AS (${candidatePairs(s"bd$tag")}),
      tj$tag AS (SELECT c.id_a, c.id_b, ${trueJaccard("ga", "gb")} AS tj
             FROM cand$tag c JOIN gh ga ON ga.doc_id = c.id_a JOIN gh gb ON gb.doc_id = c.id_b)"""
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      g AS (SELECT doc_id, $shingles FROM d),
      ${hashCtes("g")},
      sig AS MATERIALIZED ($signature),
      gh AS (SELECT doc_id,
        list_sort(list_distinct([CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)
                                 for t in sh])) AS sh
        FROM g),
      ${cfgCtes("A", 16, 2)},
      ${cfgCtes("B", 8, 4)},
      ${cfgCtes("C", 4, 8)},
      ac AS (SELECT 16 AS bands, 2 AS rpb, id_a, id_b, tj FROM tjA
             UNION ALL SELECT 8, 4, id_a, id_b, tj FROM tjB
             UNION ALL SELECT 4, 8, id_a, id_b, tj FROM tjC),
      pool AS (SELECT COUNT(*) AS pool_n
               FROM (SELECT DISTINCT id_a, id_b FROM ac WHERE tj >= 0.5)),
      sm AS (SELECT bands, rpb, COUNT(*) AS n_candidates,
               CAST(SUM(CASE WHEN tj >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_true
             FROM ac GROUP BY bands, rpb)
      SELECT bands, rpb, n_candidates, n_true,
        n_true * 1000000 // n_candidates AS precision_ppm,
        n_true * 1000000 // greatest(pool_n, 1) AS recall_vs_pool_ppm
      FROM sm CROSS JOIN pool ORDER BY bands"""
    })

  val defs: Seq[QueryDef] = Seq(
    codeExtractQ, dupNgramFractionQ, vocabCoverageQ, scriptDetectQ,
    lshCalibrationQ,
    tokenCountQ, langIdQ, qualityScoreQ, docFingerprintQ,
    dedupExact, dedupNgramJaccard, dedupContainment, dedupMinhashLsh,
    dedupSimhash, dedupSpans,
    dedupLinesQ, vocabTopK, dedupComponents, lmScoreQ, tfidfTopTermsQ,
    heavyHittersQ, dedupIncrementalQ, mineContrastivePairs,
    perplexityBucketsQ)
}
