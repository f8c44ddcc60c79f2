package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Post-training (SFT / RLHF) data-prep queries — the steps between a
  * curated corpus and a fine-tuning run: chat-template rendering with
  * assistant-only loss spans, preference-pair construction, padding-
  * efficiency length bucketing, deterministic resumable epoch ordering,
  * and tokenizer OOV-coverage measurement. Conversations/candidates are
  * deterministically synthesized from `documents` (the pii_scrub /
  * html_strip precedent) so every decision replays in the DuckDB oracle.
  * All narrow maps + bounded-partition windows or single partial aggs —
  * nothing here funnels the corpus through one task.
  */
object AlignmentQueries {
  import Tables.table

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  // ── chat_template ───────────────────────────────────────────────────────

  private val turnTok = 16
  private val preamble = "<|system|>\nYou are a helpful assistant.\n"

  /** SFT chat-template rendering with assistant-only loss spans: each
    * document becomes a conversation (16-token turns, user/assistant
    * alternating after a fixed system preamble), rendered as
    * `<|role|>\n<content>\n` blocks, and each turn carries the character
    * span `[char_start, char_end)` of its content inside the full
    * rendered string plus `loss_mask` (true = the span trains; user and
    * system text is context only) — the mask a causal-LM SFT loader
    * applies so loss lands on assistant tokens alone. Offsets are pure
    * integer prefix sums: the per-doc window runs over a conversation's
    * own turns (≤ ⌈n_tok/16⌉ rows — bounded per key, never a global
    * window), and the explode fan-out rides the scan. The round-trip law
    * (re-rendering from spans reconstructs the conversation byte-for-
    * byte) is pinned in AlignmentSpec. */
  val chatTemplateQ = QueryDef("chat_template",
    (s, dir) => {
      val c = turnTok
      val turns = table(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("turn_idx",
          explode(sequence(lit(0L), expr(s"(n_tok + ${c - 1}) div $c - 1"))))
        .select(col("doc_id"), col("turn_idx"),
          concat_ws(" ", slice(col("toks"),
            (col("turn_idx") * c + 1).cast("int"), lit(c))).as("turn_text"))
        .withColumn("role",
          when(col("turn_idx") % 2 === 0, lit("user")).otherwise(lit("assistant")))
        // header = "<|" + role + "|>\n" → length(role) + 5 chars (ASCII corpus)
        .withColumn("header_len", (length(col("role")) + 5).cast("long"))
        .withColumn("render_len",
          col("header_len") + length(col("turn_text")) + 1) // + trailing "\n"
      val w = Window.partitionBy("doc_id").orderBy("turn_idx")
        .rowsBetween(Window.unboundedPreceding, -1)
      turns
        .withColumn("char_start",
          lit(preamble.length.toLong) +
            coalesce(sum(col("render_len")).over(w), lit(0L)) + col("header_len"))
        .withColumn("char_end", col("char_start") + length(col("turn_text")))
        .withColumn("loss_mask", col("role") === lit("assistant"))
        .select("doc_id", "turn_idx", "role", "turn_text",
          "char_start", "char_end", "loss_mask")
        .orderBy("doc_id", "turn_idx")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t WHERE len(toks) > 0),
      u AS (SELECT doc_id, toks,
              UNNEST(generate_series(0, (n_tok + ${turnTok - 1}) // $turnTok - 1)) AS turn_idx
            FROM n),
      r AS (SELECT doc_id, turn_idx,
              array_to_string(list_slice(toks, turn_idx * $turnTok + 1, turn_idx * $turnTok + $turnTok), ' ') AS turn_text,
              CASE WHEN turn_idx % 2 = 0 THEN 'user' ELSE 'assistant' END AS role
            FROM u),
      l AS (SELECT *, CAST(length(role) + 5 AS BIGINT) AS header_len,
              CAST(length(role) + 5 + length(turn_text) + 1 AS BIGINT) AS render_len
            FROM r),
      o AS (SELECT *, ${preamble.length} + COALESCE(SUM(render_len) OVER (
              PARTITION BY doc_id ORDER BY turn_idx
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + header_len AS char_start
            FROM l)
      SELECT doc_id, turn_idx, role, turn_text,
        CAST(char_start AS BIGINT) AS char_start,
        CAST(char_start + length(turn_text) AS BIGINT) AS char_end,
        role = 'assistant' AS loss_mask
      FROM o ORDER BY doc_id, turn_idx"""))

  // ── preference_pairs ────────────────────────────────────────────────────

  private val prefMargin = 8L

  /** RLHF/DPO preference-pair construction: documents group into prompts
    * of 4 candidate responses (prompt_id = doc_id div 4), each scored by
    * an integer reward proxy (distinct-token count — lexical richness);
    * per prompt, chosen = best (tie → lowest id), rejected = worst (tie →
    * highest id), and only pairs with reward margin ≥ 8 survive (near-tie
    * pairs teach a preference model noise — the confidence gate every
    * DPO/RM dataset build applies). ONE hash aggregate per prompt via
    * lexicographic struct max/min — no window, no self-join; at 100 TB
    * this is a single map-side-partial shuffle on prompt_id. */
  val preferencePairsQ = QueryDef("preference_pairs",
    (s, dir) => {
      val cand = table(s, dir, "documents").select(
        col("doc_id"), expr("doc_id div 4").as("prompt_id"),
        size(array_distinct(tokens(col("text")))).cast("long").as("score"))
      cand.groupBy("prompt_id")
        .agg(
          max(struct(col("score"), (-col("doc_id")).as("nid"))).as("ch"),
          min(struct(col("score"), (-col("doc_id")).as("nid"))).as("rj"))
        .select(col("prompt_id"),
          (-col("ch.nid")).as("chosen_id"), col("ch.score").as("chosen_score"),
          (-col("rj.nid")).as("rejected_id"), col("rj.score").as("rejected_score"))
        .filter(col("chosen_id") =!= col("rejected_id"))
        .withColumn("margin", col("chosen_score") - col("rejected_score"))
        .filter(col("margin") >= prefMargin)
        .orderBy("prompt_id")
    },
    Some(s"""WITH c AS (SELECT doc_id, doc_id // 4 AS prompt_id,
               CAST(len(list_distinct($toksSql)) AS BIGINT) AS score
             FROM documents),
      r AS (SELECT prompt_id, doc_id, score,
              ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY score DESC, doc_id ASC) AS rd,
              ROW_NUMBER() OVER (PARTITION BY prompt_id ORDER BY score ASC, doc_id DESC) AS ra
            FROM c),
      ch AS (SELECT prompt_id, doc_id AS chosen_id, score AS chosen_score FROM r WHERE rd = 1),
      rj AS (SELECT prompt_id, doc_id AS rejected_id, score AS rejected_score FROM r WHERE ra = 1)
      SELECT prompt_id, chosen_id, chosen_score, rejected_id, rejected_score,
        chosen_score - rejected_score AS margin
      FROM ch JOIN rj USING (prompt_id)
      WHERE chosen_id <> rejected_id AND chosen_score - rejected_score >= $prefMargin
      ORDER BY prompt_id"""))

  // ── length_buckets ──────────────────────────────────────────────────────

  /** Padding-efficiency length bucketing: documents bin into power-of-2
    * token-length buckets (the batching scheme that pads each sequence to
    * its bucket top instead of the global max), and each bucket reports
    * document count, real tokens, padded tokens, and integer parts-per-
    * million padding waste — the number a batch-shape planner minimizes.
    * One map-side-partial aggregate on a ≤ 6-value key; every output is
    * integer arithmetic, so the oracle replays it exactly. */
  val lengthBucketsQ = QueryDef("length_buckets",
    (s, dir) => table(s, dir, "documents")
      .select(tokenCount(col("text")).as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("bucket",
        when(col("n_tok") <= 8, lit(8L)).when(col("n_tok") <= 16, lit(16L))
          .when(col("n_tok") <= 32, lit(32L)).when(col("n_tok") <= 64, lit(64L))
          .when(col("n_tok") <= 128, lit(128L)).otherwise(lit(256L)))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket"))
      .withColumn("waste_ppm",
        expr("(padded_tokens - sum_tokens) * 1000000 div padded_tokens"))
      .orderBy("bucket"),
    Some(s"""WITH t AS (SELECT CAST(len($toksSql) AS BIGINT) AS n_tok FROM documents),
      b AS (SELECT n_tok,
              CASE WHEN n_tok <= 8 THEN 8 WHEN n_tok <= 16 THEN 16
                   WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 64 THEN 64
                   WHEN n_tok <= 128 THEN 128 ELSE 256 END AS bucket
            FROM t WHERE n_tok > 0),
      g AS (SELECT CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
              CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
            FROM b GROUP BY bucket)
      SELECT bucket, n_docs, sum_tokens,
        n_docs * bucket AS padded_tokens,
        (n_docs * bucket - sum_tokens) * 1000000 // (n_docs * bucket) AS waste_ppm
      FROM g ORDER BY bucket"""))

  // ── epoch_shuffle ───────────────────────────────────────────────────────

  /** Deterministic resumable epoch ordering: the global data order a
    * multi-epoch training run consumes — each epoch is an independent
    * md5-keyed permutation of the corpus (salt `graft-epoch:<epoch>:`),
    * and `position` is the 0-based global training-step order across
    * epochs. Seeded hashing instead of a random shuffle is what makes the
    * order RESUMABLE: any worker can recompute the order from scratch
    * after a crash, and elastic re-sharding keeps byte-identical batches.
    * The rank is [[graft.operators.Sharding.globalRank]] — a range-
    * partitioned distributed sort + zipWithIndex, never a single-task
    * Window over the corpus. */
  val epochShuffleQ = QueryDef("epoch_shuffle",
    (s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"))
        .withColumn("epoch", explode(sequence(lit(0L), lit(1L))))
        .withColumn("h", md5(concat(lit("graft-epoch:"), col("epoch").cast("string"),
          lit(":"), col("doc_id").cast("string"))))
      graft.operators.Sharding
        .globalRank(docs, Seq(col("epoch").asc, col("h").asc, col("doc_id").asc))
        .select(col("epoch"), col("rank").as("position"), col("doc_id"), col("h"))
        .orderBy("position")
    },
    Some("""WITH e AS (SELECT doc_id, UNNEST(CAST([0, 1] AS BIGINT[])) AS epoch FROM documents),
      h AS (SELECT doc_id, epoch,
              md5('graft-epoch:' || CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
            FROM e)
      SELECT epoch, CAST(ROW_NUMBER() OVER (ORDER BY epoch, h, doc_id) - 1 AS BIGINT) AS position,
        doc_id, h
      FROM h ORDER BY position"""))

  // ── oov_rate ────────────────────────────────────────────────────────────

  private val oovVocabK = 16

  /** Tokenizer OOV-coverage measurement: learn a bounded top-K vocabulary
    * from corpus frequency (K = 16 of the 31-token synthetic vocabulary,
    * tie → token asc — a total order, so the cut replays), then measure
    * the per-language out-of-vocabulary token rate — the coverage metric
    * that decides whether a tokenizer's vocab needs rebuilding for a new
    * language mix (complements `bpe_fertility`'s symbols-per-word).
    * Vocab is one partial-agg scan + TakeOrdered (bounded at K rows →
    * one-row array broadcast); scoring is a narrow HOF count against the
    * broadcast array; the rollup is two integer sums per lang + one IEEE
    * divide. */
  val oovRateQ = QueryDef("oov_rate",
    (s, dir) => {
      // r15: a ranged scan was A/B'd here and did not pay (0.62->0.66 s;
      // both passes end in their own aggregation exchanges) — left plain
      val docs = table(s, dir, "documents")
      val vocabArr = docs.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token").asc).limit(oovVocabK)
        .agg(collect_list(col("token")).as("vocab")) // membership only — order-free
      docs.select(col("lang"), tokens(col("text")).as("toks"))
        .crossJoin(broadcast(vocabArr))
        .select(col("lang"), size(col("toks")).cast("long").as("n"),
          size(filter(col("toks"), t => not(array_contains(col("vocab"), t))))
            .cast("long").as("oov"))
        .groupBy("lang")
        .agg(sum(col("n")).as("n_tokens"), sum(col("oov")).as("oov_tokens"))
        .withColumn("oov_rate",
          round(col("oov_tokens").cast("double") / col("n_tokens"), 6))
        .orderBy("lang")
    },
    Some(s"""WITH tok AS (SELECT UNNEST($toksSql) AS token FROM documents),
      vc AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
      vr AS (SELECT token, ROW_NUMBER() OVER (ORDER BY cnt DESC, token ASC) AS rk FROM vc),
      v AS (SELECT list(token) AS vocab FROM vr WHERE rk <= $oovVocabK),
      d AS (SELECT lang, $toksSql AS toks FROM documents),
      m AS (SELECT lang, CAST(len(toks) AS BIGINT) AS n,
              CAST(len(list_filter(toks, t -> NOT list_contains(vocab, t))) AS BIGINT) AS oov
            FROM d CROSS JOIN v)
      SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
        CAST(SUM(oov) AS BIGINT) AS oov_tokens,
        ROUND(CAST(SUM(oov) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6) AS oov_rate
      FROM m GROUP BY lang ORDER BY lang"""))

  // ── pipeline_sft ────────────────────────────────────────────────────────

  /** Composed end-to-end SFT data-prep funnel (the `pipeline_pretrain`
    * analog for post-training): quality gate (≥ 2 full turns of material
    * AND ≥ 10% distinct tokens — integer comparisons only) → exact
    * bag-of-words dedup AMONG GATE SURVIVORS (keep = min doc_id) →
    * conversation stats from the SAME 16-token turn split `chat_template`
    * renders (n_turns, assistant-side chars = the loss-bearing payload) →
    * snake-deal sharding balanced on ASSISTANT chars (data loaders stall
    * on loss-bearing tokens, not raw length). Per doc: stage verdicts,
    * first-failing-stage `reason`, shard (−1 dropped). All three reason
    * classes fire at every scale (sf0.01: 121 gate / 54 dup / 325 kept).
    * Scale shape = the stages' own shapes: narrow gate metrics, one
    * hash-agg dedup, turn explode ∝ tokens/16, one distributed sort for
    * the shard rank. */
  /** The funnel as a stage builder over any (doc_id, text) frame — the
    * registered query and the ScaleProbe `sft_funnel` family both run
    * this exact chain. */
  def sftFunnel(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val c = turnTok
      val gated = docs
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .withColumn("n_dis", size(array_distinct(col("toks"))).cast("long"))
        .withColumn("gate_pass",
          when(col("n_tok") >= 2L * c && col("n_dis") * 10 >= col("n_tok"), 1)
            .otherwise(0))
      val keyed = gated.filter(col("gate_pass") === 1)
        .withColumn("ch",
          md5(array_join(array_sort(array_distinct(col("toks"))), " ")))
      val groups = keyed.groupBy("ch").agg(min(col("doc_id")).as("keep_id"))
      val verdict = keyed.join(groups, "ch")
        .withColumn("is_dup",
          when(col("doc_id") === col("keep_id"), 0).otherwise(1))
      val turns = verdict.filter(col("is_dup") === 0)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L), expr(s"(n_tok + ${c - 1}) div $c - 1")))
            .as("turn_idx"))
        .select(col("doc_id"), col("turn_idx"),
          length(concat_ws(" ", slice(col("toks"),
            (col("turn_idx") * c + 1).cast("int"), lit(c)))).cast("long").as("tl"))
      val stats = turns.groupBy("doc_id").agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("turn_idx") % 2 === 1, col("tl")).otherwise(lit(0L)))
          .as("assistant_chars"))
      val sharded = graft.operators.Sharding
        .snakeShards(stats, nShards = 4, sizeCol = "assistant_chars", idCol = "doc_id")
        .select(col("doc_id"), col("n_turns"), col("assistant_chars"), col("shard"))
      gated.select(col("doc_id"), col("gate_pass"))
        .join(verdict.select(col("doc_id"), col("is_dup")), Seq("doc_id"), "left")
        .join(sharded, Seq("doc_id"), "left")
        .select(col("doc_id"), col("gate_pass"),
          coalesce(col("is_dup"), lit(0)).as("is_dup"),
          when(col("gate_pass") === 1 && coalesce(col("is_dup"), lit(0)) === 0, 1)
            .otherwise(0).as("kept"),
          when(col("gate_pass") === 0, lit("gate"))
            .when(col("is_dup") === 1, lit("dup")).as("reason"),
          coalesce(col("n_turns"), lit(0L)).as("n_turns"),
          coalesce(col("assistant_chars"), lit(0L)).as("assistant_chars"),
          coalesce(col("shard"), lit(-1L)).as("shard"))
        // ckpt before the output sort (r16): the narrow per-doc verdict
        // frame materializes once; without it the sort's range sampling
        // re-executes the gate/dedup/turn subtrees a second time
        .localCheckpoint()
        .orderBy("doc_id")
  }

  val pipelineSftQ = QueryDef("pipeline_sft",
    (s, dir) => sftFunnel(table(s, dir, "documents")),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok,
              CAST(len(list_distinct(toks)) AS BIGINT) AS n_dis FROM t),
      g AS (SELECT doc_id, toks, n_tok,
              CASE WHEN n_tok >= ${2 * turnTok} AND 10 * n_dis >= n_tok THEN 1 ELSE 0 END AS gate_pass
            FROM m),
      k AS (SELECT doc_id, toks, n_tok,
              md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS ch
            FROM g WHERE gate_pass = 1),
      grp AS (SELECT ch, MIN(doc_id) AS keep_id FROM k GROUP BY ch),
      v AS (SELECT k.doc_id, k.toks, k.n_tok,
              CASE WHEN k.doc_id = grp.keep_id THEN 0 ELSE 1 END AS is_dup
            FROM k JOIN grp USING (ch)),
      u AS (SELECT doc_id, toks, n_tok FROM v WHERE is_dup = 0),
      tr AS (SELECT doc_id, toks,
               UNNEST(generate_series(0, (n_tok + ${turnTok - 1}) // $turnTok - 1)) AS ti
             FROM u),
      tx AS (SELECT doc_id, ti,
               CAST(length(array_to_string(list_slice(toks, ti * $turnTok + 1, ti * $turnTok + $turnTok), ' ')) AS BIGINT) AS tl
             FROM tr),
      st AS (SELECT doc_id, COUNT(*) AS n_turns,
               CAST(SUM(CASE WHEN ti % 2 = 1 THEN tl ELSE 0 END) AS BIGINT) AS assistant_chars
             FROM tx GROUP BY doc_id),
      r AS (SELECT doc_id, n_turns, assistant_chars,
              ROW_NUMBER() OVER (ORDER BY assistant_chars DESC, doc_id ASC) - 1 AS rk
            FROM st),
      sh AS (SELECT doc_id, n_turns, assistant_chars,
              CAST(CASE WHEN (rk // 4) % 2 = 0 THEN rk % 4 ELSE 3 - rk % 4 END AS BIGINT) AS shard
            FROM r)
      SELECT g.doc_id, g.gate_pass,
        COALESCE(v.is_dup, 0) AS is_dup,
        CASE WHEN g.gate_pass = 1 AND COALESCE(v.is_dup, 0) = 0 THEN 1 ELSE 0 END AS kept,
        CASE WHEN g.gate_pass = 0 THEN 'gate' WHEN v.is_dup = 1 THEN 'dup' END AS reason,
        COALESCE(sh.n_turns, 0) AS n_turns,
        COALESCE(sh.assistant_chars, 0) AS assistant_chars,
        COALESCE(sh.shard, -1) AS shard
      FROM g LEFT JOIN v ON g.doc_id = v.doc_id LEFT JOIN sh ON g.doc_id = sh.doc_id
      ORDER BY g.doc_id"""))

  // ── bt_rating ───────────────────────────────────────────────────────────

  private val btRounds = 3

  /** Bradley–Terry strength ratings from pairwise outcomes — the model
    * behind Chatbot-Arena-style leaderboards and RM-data win-rate
    * analysis (Bradley & Terry 1952; MM fit per Hunter, Annals of
    * Statistics 2004). Matches are derived deterministically from
    * `events`: per user, consecutive events (ts, event_id order) of
    * DIFFERENT types face off and the higher `value` wins (tie → the
    * lexicographically smaller type) — the replayable stand-in for "two
    * models answered the same prompt; a human picked one". The MM update
    * p_i ← W_i / Σ_j n_ij/(p_i+p_j) runs $btRounds rounds entirely in
    * integer micro-units (ratings sum to K·10⁶ after each round's
    * normalization; every step is BIGINT mul + floor-div, so the oracle
    * replays each round bit-for-bit — the third classic training loop
    * under the hash oracle, after Lloyd k-means and canonical BPE).
    *
    * Scale: the corpus-sized work is ONE per-user lag window (the
    * sessionize shape) plus ONE map-side-partial match aggregate; the
    * fit itself iterates over the #player² pair table (#event_types is
    * bounded by the schema, not the corpus), so 100 TB of events enters
    * only through the first aggregation. Windows inside the fit run on
    * ≤ #player-row frames. */
  /** Shared BT chain — the REGISTERED query and the spec's hand-traced
    * fixture both call this on an (user_id, ts, event_id, event_type,
    * value) frame. */
  def btRatings(events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val uw = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val matches = events
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
        .withColumn("nt", lead("event_type", 1).over(uw))
        .withColumn("nv", lead("value", 1).over(uw))
        .filter(col("nt").isNotNull && col("nt") =!= col("event_type"))
        .withColumn("a_wins",
          col("value") > col("nv") ||
            (col("value") === col("nv") && col("event_type") < col("nt")))
        .select(
          when(col("a_wins"), col("event_type")).otherwise(col("nt")).as("winner"),
          when(col("a_wins"), col("nt")).otherwise(col("event_type")).as("loser"))
        .groupBy("winner", "loser").agg(count(lit(1)).as("n"))
        .localCheckpoint() // the single corpus-sized pass; the fit below is #player²
      // pairs is re-read every fit round (two rating attaches) — checkpoint
      // once (r16); players rides the fused checkpoint+count so k inlines
      // as a literal instead of a per-round broadcast 1-row frame.
      val pairs = matches.select(col("winner").as("a"), col("loser").as("b"), col("n"))
        .union(matches.select(col("loser").as("a"), col("winner").as("b"), col("n")))
        .groupBy("a", "b").agg(sum(col("n")).as("n"))
        .localCheckpoint()
      val wins = matches.groupBy("winner").agg(sum(col("n")).as("w"))
      val (players, kVal) = graft.ops.CheckpointOps.localCheckpointAggregate(
        pairs.select(col("a")).distinct()
          .join(wins.withColumnRenamed("winner", "a"), Seq("a"), "left")
          .select(col("a"), coalesce(col("w"), lit(0L)).as("w")),
        0L)((n, _) => n + 1, _ + _)
      var p = players.withColumn("p", lit(1000000L))
      // Micro-unit numerators accumulate in DECIMAL(38,0), never BIGINT:
      // n·10¹² and w·10¹² overflow signed 64-bit once any pair logs
      // ~9.2e6 matches — Spark (non-ANSI) would wrap silently while the
      // DuckDB oracle errors, i.e. the engines diverge exactly in the
      // 100 TB regime. `decFloorDiv` keeps the quotient exact: Spark's
      // `div` casts decimal quotients to LONG, which t = n·10¹²/(pa+pb)
      // can itself overflow when a rating collapses toward 1, so floor
      // division is spelled (a − a % b) / b — remainder-free, hence the
      // decimal divide is exact and the result stays DECIMAL(38,0). The
      // oracle mirrors with HUGEINT `//`. Ratings p remain LONG: the
      // mean-10⁶ renormalization bounds them by k·10⁶.
      def decFloorDiv(a: String, b: String): String =
        s"CAST((($a) - ($a) % ($b)) / ($b) AS DECIMAL(38,0))"
      for (_ <- 1 to btRounds) {
        val denom = pairs
          .join(p.select(col("a"), col("p").as("pa")), "a")
          .join(p.select(col("a").as("b"), col("p").as("pb")), "b")
          .withColumn("t", expr(decFloorDiv(
            "CAST(n AS DECIMAL(38,0)) * 1000000000000",
            "CAST(greatest(pa + pb, 1) AS DECIMAL(38,0))")))
          .groupBy("a").agg(sum(col("t")).as("denom"))
        // ONE materialization per round (r16): praw checkpoints with its
        // renormalizer sum taken from the SAME job — the old shape
        // executed the join+agg subtree twice (once under the s-sum
        // broadcast, once under the p checkpoint). s and k become exact
        // integer literals in the floor-div (same DECIMAL(38,0) math,
        // bit-identical ratings); the normalized p is a narrow projection
        // over the checkpoint, so the next round's lineage stays O(1).
        // exact BigInteger sum of the non-null DECIMAL(38,0) praw column
        val (praw, sVal) = graft.ops.CheckpointOps.localCheckpointAggregate(
          p.join(denom, "a")
            .select(col("a"), col("w"), expr(decFloorDiv(
              "CAST(w AS DECIMAL(38,0)) * 1000000000000",
              "greatest(denom, CAST(1 AS DECIMAL(38,0)))")).as("praw")),
          java.math.BigInteger.ZERO)(
          (s, r) => if (r.isNullAt(2)) s
                    else s.add(r.getDecimal(2, 38, 0).toJavaBigDecimal.toBigInteger),
          _.add(_))
        val sLit = s"CAST(${sVal.max(java.math.BigInteger.ONE)} AS DECIMAL(38,0))"
        p = praw
          .withColumn("p", expr(decFloorDiv(
            s"praw * CAST($kVal AS DECIMAL(38,0)) * 1000000", sLit)).cast("long"))
          .select("a", "w", "p")
      }
      val losses = matches.groupBy("loser").agg(sum(col("n")).as("l"))
      val nm = pairs.groupBy("a").agg(sum(col("n")).as("n_matches"))
      p.join(losses.withColumnRenamed("loser", "a"), Seq("a"), "left")
        .join(nm, "a")
        .select(col("a").as("event_type"), col("n_matches"),
          col("w").as("wins"), coalesce(col("l"), lit(0L)).as("losses"),
          col("p").as("rating"))
        // #player-row frame: the unpartitioned window is bounded by the
        // event-type vocabulary, never the corpus
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rating").desc, col("event_type").asc))
            .cast("long"))
        .orderBy("rank")
  }

  val btRatingQ = QueryDef("bt_rating",
    (s, dir) => btRatings(table(s, dir, "events")),
    Some {
      def round(k: Int): String = {
        val prev = s"r${k - 1}"
        // HUGEINT numerators mirror the engine's DECIMAL(38,0): BIGINT
        // n·10¹² would raise an overflow error here past ~9.2e6 matches.
        // MATERIALIZED on the per-round CTEs is a DuckDB-plan-only hint
        // (values unchanged): each round references the previous ratings
        // three times and the round's own u$k twice — inlined, the
        // expression tree grows ~3^rounds and the sf0.1 compare read
        // 225 s; materialized each CTE runs once (2.1 s).
        s"""t$k AS (SELECT pr.a,
              SUM(CAST(pr.n AS HUGEINT) * 1000000000000 // GREATEST(CAST(pa.p AS HUGEINT) + pb.p, 1)) AS denom
            FROM pr JOIN $prev pa ON pr.a = pa.a JOIN $prev pb ON pr.b = pb.a
            GROUP BY pr.a),
      u$k AS MATERIALIZED (SELECT $prev.a, $prev.w,
              CAST($prev.w AS HUGEINT) * 1000000000000 // GREATEST(t$k.denom, 1) AS praw
            FROM $prev JOIN t$k ON $prev.a = t$k.a),
      s$k AS (SELECT SUM(praw) AS s FROM u$k),
      r$k AS MATERIALIZED (SELECT u$k.a, u$k.w,
              CAST(praw * (CAST(kk.k AS HUGEINT) * 1000000) // GREATEST(s$k.s, 1) AS BIGINT) AS p
            FROM u$k, s$k, kk)"""
      }
      val rounds = (1 to btRounds).map(round).mkString(",\n      ")
      s"""WITH ev AS (SELECT user_id, epoch_ns(ts) AS tns, event_id, event_type, value
             FROM events),
      nx AS (SELECT event_type, value,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS nt,
               LEAD(value) OVER (PARTITION BY user_id ORDER BY tns, event_id) AS nv
             FROM ev),
      mt AS MATERIALIZED (SELECT
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                    THEN event_type ELSE nt END AS winner,
               CASE WHEN value > nv OR (value = nv AND event_type < nt)
                    THEN nt ELSE event_type END AS loser,
               CAST(COUNT(*) AS BIGINT) AS n
             FROM nx WHERE nt IS NOT NULL AND nt <> event_type GROUP BY 1, 2),
      pr AS MATERIALIZED (SELECT a, b, CAST(SUM(n) AS BIGINT) AS n FROM (
               SELECT winner AS a, loser AS b, n FROM mt
               UNION ALL SELECT loser AS a, winner AS b, n FROM mt)
             GROUP BY a, b),
      wn AS (SELECT winner AS a, CAST(SUM(n) AS BIGINT) AS w FROM mt GROUP BY winner),
      pl AS (SELECT d.a, COALESCE(wn.w, 0) AS w
             FROM (SELECT DISTINCT a FROM pr) d LEFT JOIN wn ON d.a = wn.a),
      kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM pl),
      r0 AS (SELECT a, w, CAST(1000000 AS BIGINT) AS p FROM pl),
      $rounds,
      ls AS (SELECT loser AS a, CAST(SUM(n) AS BIGINT) AS l FROM mt GROUP BY loser),
      nm AS (SELECT a, CAST(SUM(n) AS BIGINT) AS n_matches FROM pr GROUP BY a)
      SELECT fin.a AS event_type, nm.n_matches, fin.w AS wins,
        COALESCE(ls.l, 0) AS losses, fin.p AS rating,
        ROW_NUMBER() OVER (ORDER BY fin.p DESC, fin.a ASC) AS rank
      FROM r$btRounds fin
      LEFT JOIN ls ON fin.a = ls.a
      JOIN nm ON fin.a = nm.a
      ORDER BY rank"""
    })

  val defs: Seq[QueryDef] = Seq(
    chatTemplateQ, preferencePairsQ, lengthBucketsQ, epochShuffleQ, oovRateQ,
    btRatingQ, pipelineSftQ)
}
