package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.queries.OracleSql.toksSql
import graft.streaming.EventStream

/** Corpus-curation queries a training-data pipeline runs between ingest and
  * packing: PII scrubbing, deterministic split assignment, repetition
  * gating, context-window chunking, and (batch twin of) streaming key
  * dedup. All pure Catalyst over the `documents`/`events` scans — narrow
  * maps except the chunker's explode (rows ∝ tokens/chunkSize) and the
  * dedup's single hash aggregate.
  */
object CurationQueries {
  import Tables.table

  /** PII scrub over text with deterministically synthesized PII (the
    * corpus itself is clean, so both sides inject `user<id>@example.com`
    * + a numeric id into every third doc, then the masks must agree). */
  val piiScrubQ = QueryDef("pii_scrub",
    // r15 sort-early + Once: the double regex pass ran TWICE per row
    // (clean + masked_chars both inlined piiScrub), below the sort, on
    // the single scan core
    (s, dir) => Tables.documentsRanged(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          format_string("%s contact user%d@example.com id 9%07d", col("text"),
            col("doc_id"), col("doc_id")))
          .otherwise(col("text")).as("raw"))
      .select(col("doc_id"), col("raw"),
        graft.plans.Once.once(piiScrub(col("raw"))).as("clean"))
      .select(col("doc_id"), col("clean"),
        (length(col("raw")) - length(col("clean"))).cast("long").as("masked_chars"))
      .sortWithinPartitions("doc_id"),
    Some("""WITH r AS (SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
             THEN printf('%s contact user%d@example.com id 9%07d', text, doc_id, doc_id)
             ELSE text END AS raw
      FROM documents),
      c AS (SELECT doc_id, raw,
        regexp_replace(regexp_replace(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                       '[0-9]{4,}', '<NUM>', 'g') AS clean
      FROM r)
      SELECT doc_id, clean, length(raw) - length(clean) AS masked_chars
      FROM c ORDER BY doc_id"""))

  /** Deterministic salted train/val/test split (80/10/10). */
  val splitAssignQ = QueryDef("split_assign",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"),
        splitBucket(col("doc_id"), "graft-v1").as("bucket"),
        splitAssign(col("doc_id"), "graft-v1", 80, 10).as("split"))
      .orderBy("doc_id"),
    Some("""WITH b AS (SELECT doc_id,
        CAST(('0x' || substring(md5('graft-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      FROM documents)
      SELECT doc_id, bucket,
        CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM b ORDER BY doc_id"""))

  /** Token-repetition quality gate (1 − distinct/total tokens). */
  val repetitionRatioQ = QueryDef("repetition_ratio",
    // r15 sort-early + Once: the filter on the derived ratio otherwise
    // inlines the token-distinct computation and drags it to the scan
    (s, dir) => Tables.documentsRanged(s, dir)
      .select(col("doc_id"),
        graft.plans.Once.once(repetitionRatio(col("text"))).as("rep_ratio"))
      .filter(col("rep_ratio") < lit(0.9)) // gate out degenerate repeats
      .sortWithinPartitions("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      m AS (SELECT doc_id,
        CASE WHEN len(toks) > 0
             THEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
             ELSE 0.0 END AS rep_ratio
      FROM t)
      SELECT doc_id, rep_ratio FROM m WHERE rep_ratio < 0.9 ORDER BY doc_id"""))

  /** Context-window chunking: fixed 32-token windows per document (the
    * sequence-packing precursor). Explode fan-out ∝ n_tokens/32 per row —
    * bounded per task, no shuffle. */
  val chunkTokensQ = QueryDef("chunk_tokens",
    (s, dir) => {
      val c = 32
      table(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("chunk_idx",
          explode(sequence(lit(0L), expr(s"(n_tok + ${c - 1}) div $c - 1"))))
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", slice(col("toks"),
            (col("chunk_idx") * c + 1).cast("int"), lit(c))).as("chunk_text"),
          least(lit(c.toLong), col("n_tok") - col("chunk_idx") * c).as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks, n_tok,
              UNNEST(generate_series(0, (n_tok + 31) // 32 - 1)) AS chunk_idx
            FROM n)
      SELECT doc_id, chunk_idx,
        array_to_string(list_slice(toks, chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ') AS chunk_text,
        LEAST(32, n_tok - chunk_idx * 32) AS chunk_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** Sliding-window chunking with overlap: 32-token windows at stride 24
    * (8 tokens of context shared across adjacent chunks — the standard
    * RAG / long-context pretraining chunker; the overlap keeps boundary
    * sentences retrievable from both sides). Window count per doc is
    * closed-form integer arithmetic (1 for n ≤ size, else
    * ceil((n−size)/stride)+1 — no degenerate fully-contained tail
    * windows), so the oracle replays every window boundary exactly.
    * Same scale shape as `chunk_tokens`: explode fan-out ∝ n/stride per
    * row, no shuffle. */
  val chunkOverlapQ = QueryDef("chunk_overlap",
    (s, dir) => {
      val win = 32
      val stride = 24
      table(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .filter(col("n_tok") > 0)
        .withColumn("n_chunk",
          when(col("n_tok") <= win, lit(1L))
            .otherwise(expr(s"(n_tok - $win + ${stride - 1}) div $stride + 1")))
        .withColumn("chunk_idx", explode(sequence(lit(0L), col("n_chunk") - 1)))
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", slice(col("toks"),
            (col("chunk_idx") * stride + 1).cast("int"), lit(win))).as("chunk_text"),
          least(lit(win.toLong), col("n_tok") - col("chunk_idx") * stride)
            .as("chunk_tokens"))
        .orderBy("doc_id", "chunk_idx")
    },
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tok FROM t WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks, n_tok,
              UNNEST(generate_series(0, CASE WHEN n_tok <= 32 THEN CAST(0 AS BIGINT)
                ELSE (n_tok - 32 + 23) // 24 END)) AS chunk_idx
            FROM n)
      SELECT doc_id, chunk_idx,
        array_to_string(list_slice(toks, chunk_idx * 24 + 1, chunk_idx * 24 + 32), ' ') AS chunk_text,
        LEAST(32, n_tok - chunk_idx * 24) AS chunk_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))

  // ── span_corruption_mask ────────────────────────────────────────────────

  private val spanSalt = "graft-span"
  private val spanMod = 5 // 1-in-5 token mask rate

  /** T5/UL2-style span-corruption planning (Raffel et al., JMLR'20 §3.1.4):
    * mask ~20% of each document's tokens, replace every maximal masked RUN
    * with one `<extra_id_k>` sentinel in the encoder input, and emit the
    * decoder target as sentinel-prefixed masked spans plus the final
    * sentinel — the denoising-objective data prep a seq2seq pretraining
    * pipeline runs over the whole corpus. The mask decision per (doc,
    * position) is the salted md5 bucket ([[hashBucket]] — the
    * sample_weighted precedent), NOT a random draw: reproducible across
    * reruns/engines, which is what makes the full input/target strings
    * hash-oracle-checkable. Spans emerge as maximal covered runs
    * (geometric lengths, mean 1/(1−0.2) = 1.25 — T5's mean-3 noise uses
    * the same run semantics).
    *
    * Scale shape: a pure narrow map — per-row array HOFs (the positions
    * sequence is O(n_tok), span-index lookup O(spans) per sentinel), no
    * shuffle at all except the output sort. At 100 TB this is the ideal
    * operator: embarrassingly parallel, codegen'd, zero exchange.
    *
    * Shape (r15): the doc_id range exchange runs FIRST (bare scan
    * columns), the HOF/md5 chain ABOVE it, and the total order is
    * restored with an in-partition sort — the heavy map used to sit
    * below the output sort, where range sampling executed it twice on
    * the single scan core. The multiply-referenced intermediates (toks,
    * ps, cov, starts) are pinned with [[graft.plans.Once]]: CollapseProject
    * otherwise inlines each alias into every consumer and the md5 cov
    * array is rebuilt once per output column. Same rows, same order;
    * 3.5x on the sf0.1 bench. */
  val spanCorruptionQ = QueryDef("span_corruption_mask",
    (s, dir) => {
      import org.apache.spark.sql.Column
      import graft.plans.Once.once
      def sentinel(k: Column): Column =
        concat(lit("<extra_id_"), k.cast("string"), lit(">"))
      def covAt(p: Column): Column = element_at(col("cov"), p)
      // p=1 guarded by CaseWhen (lazy branches): element_at(cov, 0) would
      // throw under ANSI; the oracle writes the identical CASE shape.
      def isStart(p: Column): Column =
        covAt(p) && when(p === 1, lit(true)).otherwise(!covAt(p - 1))
      def spanIdx(p: Column): Column =
        size(filter(col("starts"), st => st <= p)) - 1
      table(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .transform(graft.ops.Parallelism.byRange(_, col("doc_id")))
        .select(col("doc_id"), once(tokens(col("text"))).as("toks"))
        .withColumn("n_tok", size(col("toks")))
        .withColumn("ps", once(when(col("n_tok") >= 1,
          sequence(lit(1), col("n_tok"))).otherwise(array().cast("array<int>"))))
        .withColumn("cov", once(transform(col("ps"), p =>
          hashBucket(concat(col("doc_id").cast("string"), lit("_"), p.cast("string")),
            spanSalt, spanMod) === 0)))
        .withColumn("starts", once(filter(col("ps"), p => isStart(p))))
        .withColumn("n_spans", size(col("starts")).cast("long"))
        .select(col("doc_id"), col("n_tok").cast("long").as("n_tok"),
          col("n_spans"),
          size(filter(col("ps"), p => covAt(p))).cast("long").as("n_masked"),
          concat_ws(" ", transform(
            filter(col("ps"), p => !covAt(p) || isStart(p)),
            p => when(!covAt(p), element_at(col("toks"), p))
              .otherwise(sentinel(spanIdx(p))))).as("input_text"),
          when(col("n_spans") > 0,
            concat_ws(" ", concat(
              flatten(transform(filter(col("ps"), p => covAt(p)),
                p => when(isStart(p),
                    array(sentinel(spanIdx(p)), element_at(col("toks"), p)))
                  .otherwise(array(element_at(col("toks"), p))))),
              array(sentinel(col("n_spans"))))))
            .otherwise(lit("")).as("target_text"))
        .sortWithinPartitions("doc_id")
    },
    Some {
      val hp = s"CAST(('0x' || substring(md5('$spanSalt:' || CAST(doc_id AS VARCHAR) || '_' || CAST(p AS VARCHAR)), 1, 8)) AS BIGINT) % $spanMod = 0"
      val startSql = "cov[CAST(p AS INT)] AND (CASE WHEN p = 1 THEN TRUE ELSE NOT cov[CAST(p - 1 AS INT)] END)"
      val sentSql = "'<extra_id_' || CAST(len(list_filter(starts, st -> st <= p)) - 1 AS VARCHAR) || '>'"
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        n AS (SELECT doc_id, toks, len(toks) AS n_tok FROM t),
        c AS (SELECT doc_id, toks, n_tok,
                [$hp for p in generate_series(1, n_tok)] AS cov
              FROM n),
        sx AS (SELECT doc_id, toks, n_tok, cov,
                [p for p in generate_series(1, n_tok) if $startSql] AS starts
              FROM c),
        m AS (SELECT doc_id, toks, n_tok, cov, starts,
                CAST(len(starts) AS BIGINT) AS n_spans
              FROM sx)
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, n_spans,
          CAST(len([p for p in generate_series(1, n_tok) if cov[CAST(p AS INT)]]) AS BIGINT) AS n_masked,
          COALESCE(array_to_string(
            [CASE WHEN NOT cov[CAST(p AS INT)] THEN toks[CAST(p AS INT)]
                  ELSE $sentSql END
             for p in generate_series(1, n_tok)
             if (NOT cov[CAST(p AS INT)]) OR ($startSql)], ' '), '') AS input_text,
          CASE WHEN n_spans > 0 THEN
            COALESCE(array_to_string(
              flatten([CASE WHEN $startSql
                            THEN [$sentSql, toks[CAST(p AS INT)]]
                            ELSE [toks[CAST(p AS INT)]] END
                       for p in generate_series(1, n_tok) if cov[CAST(p AS INT)]])
              || ['<extra_id_' || CAST(n_spans AS VARCHAR) || '>'], ' '), '')
          ELSE '' END AS target_text
        FROM m ORDER BY doc_id"""
    })

  /** Batch twin of the streaming key dedup (stream path:
    * EventStream.streamingDedupKeys, spec-tested with a watermark). */
  val streamDedupQ = QueryDef("stream_dedup",
    (s, dir) => EventStream.dedupKeys(table(s, dir, "events"))
      .orderBy("user_id", "event_type"),
    Some("""SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type"""))

  /** Sequence packing: greedy next-fit of documents into 256-token bins
    * per source shard (order-dependent fold → rows-only; PackingSpec
    * carries the correctness properties: partition-exactness, budget
    * bound, greedy tightness, prefix-sum offsets, determinism). */
  val packSequencesQ = QueryDef("pack_sequences",
    (s, dir) => {
      import s.implicits._
      val items = table(s, dir, "documents")
        .select(col("source").as("group"), col("doc_id"),
          tokenCount(col("text")).as("n_tokens"))
        .as[graft.operators.Packing.Item]
      graft.operators.Packing.run(items, budget = 256L)(s)
        .toDF()
        .orderBy("group", "bin_idx", "doc_id")
    },
    None)

  /** Oracle companion for the packing fold (same pattern as
    * `dedup_greedy_oracle`): the REAL Packing.run on a constrained input
    * where next-fit has a closed form — every item in a group has the
    * same token count t, so bins hold exactly k = budget div t items and
    * rank r in doc_id order packs at (bin r div k, offset (r mod k)·t).
    * DuckDB replays that with one window, hash-checking the groupByKey +
    * sorted-fold + bin/offset accounting the free-form `pack_sequences`
    * run can't expose. t varies per group (3..7) so fill patterns differ
    * across groups. */
  val packSequencesOracleQ = QueryDef("pack_sequences_oracle",
    (s, dir) => {
      import s.implicits._
      val items = table(s, dir, "documents")
        .select(col("source").as("group"), col("doc_id"),
          (lit(3L) + length(col("source")) % 5).as("n_tokens"))
        .as[graft.operators.Packing.Item]
      graft.operators.Packing.run(items, budget = 32L)(s)
        .toDF()
        .orderBy("group", "doc_id")
    },
    Some("""WITH i AS (SELECT source AS grp, doc_id,
               CAST(3 + length(source) % 5 AS BIGINT) AS n_tokens FROM documents),
      r AS (SELECT grp, doc_id, n_tokens,
              ROW_NUMBER() OVER (PARTITION BY grp ORDER BY doc_id) - 1 AS rk,
              32 // n_tokens AS k
            FROM i)
      SELECT grp AS "group", rk // k AS bin_idx, doc_id, n_tokens,
             (rk % k) * n_tokens AS offset
      FROM r ORDER BY "group", doc_id"""))

  /** Test-set decontamination: flag training-split documents sharing any
    * word 5-gram with a held-out test-split document (the n-gram-overlap
    * decontamination every benchmark-honest LLM corpus runs). The test
    * side — in production a few-MB benchmark suite, here the salted 10%
    * split — broadcasts; the corpus side streams through the map-side
    * gram join and one partial-agg shuffle on doc_id. Never O(n²). */
  val decontaminateQ = QueryDef("decontaminate",
    (s, dir) => {
      // Parallelism floor: single-row-group inputs otherwise shingle the
      // whole corpus on one core (HOF gram assembly dominates the query).
      val grams = graft.ops.Parallelism.ensure(table(s, dir, "documents"))
        .select(col("doc_id"), splitBucket(col("doc_id"), "graft-v1").as("bucket"),
          explode(wordShingles(col("text"), 5)).as("gram"))
      val test = grams.filter(col("bucket") >= 90)
        .select(col("gram"), col("doc_id").as("test_id"))
      val train = grams.filter(col("bucket") < 80).select("doc_id", "gram")
      // coalesce(1)+local sort, NOT orderBy: range-partition sampling
      // would execute the join+agg subtree twice, and the contaminated-doc
      // list is tiny relative to the corpus at any scale.
      train.join(broadcast(test), "gram")
        .groupBy("doc_id")
        .agg(countDistinct(col("gram")).as("shared_ngrams"),
          countDistinct(col("test_id")).as("n_test_docs"))
        .coalesce(1).sortWithinPartitions("doc_id")
    },
    Some("""WITH b AS (SELECT doc_id, text,
        CAST(('0x' || substring(md5('graft-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
      FROM documents),
      tok AS (SELECT doc_id, bucket,
        list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM b),
      sh AS (SELECT doc_id, bucket,
        CASE WHEN len(toks) >= 5
             THEN list_distinct([array_to_string(list_slice(toks, i, i + 4), ' ')
                                 for i in generate_series(1, len(toks) - 4)])
             ELSE [array_to_string(toks, ' ')] END AS grams
      FROM tok),
      te AS (SELECT doc_id AS test_id, UNNEST(grams) AS gram FROM sh WHERE bucket >= 90),
      tr AS (SELECT doc_id, UNNEST(grams) AS gram FROM sh WHERE bucket < 80)
      SELECT tr.doc_id AS doc_id, COUNT(DISTINCT tr.gram) AS shared_ngrams,
        COUNT(DISTINCT te.test_id) AS n_test_docs
      FROM tr JOIN te ON tr.gram = te.gram
      GROUP BY tr.doc_id ORDER BY doc_id"""))

  /** Weighted domain-mix sampling: downsample every source to the
    * smallest source's share with a salted-hash threshold — deterministic
    * (reruns keep the same docs), engine-exact (integer compare, no
    * float rates), and two-pass at 100 TB: one map-side-partial count
    * aggregate over ~20 source rows, then a broadcast join + narrow
    * filter on the corpus scan. The tiny empty-frame window runs on the
    * 20-row aggregate, never the corpus. */
  val sampleWeightedQ = QueryDef("sample_weighted",
    (s, dir) => {
      val docs = table(s, dir, "documents")
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
        .withColumn("target", min(col("cnt")).over(Window.partitionBy()))
      docs.join(broadcast(counts), "source")
        .withColumn("bucket", hashBucket(col("doc_id"), "graft-sample", 10000))
        .filter(col("bucket") * col("cnt") < col("target") * lit(10000L))
        .select(col("doc_id"), col("source"), col("bucket"))
        .orderBy("doc_id")
    },
    Some("""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
      t AS (SELECT source, cnt, MIN(cnt) OVER () AS target FROM c),
      sel AS (SELECT d.doc_id, d.source, t.cnt, t.target,
        CAST(('0x' || substring(md5('graft-sample:' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
      FROM documents d JOIN t ON d.source = t.source)
      SELECT doc_id, source, bucket FROM sel
      WHERE bucket * cnt < target * 10000 ORDER BY doc_id"""))

  /** URL canonicalization + host-level dedup — the crawl-corpus pre-dedup
    * step (CCNet/RefinedWeb shape): lowercase scheme+host, strip the
    * fragment, strip utm_* tracking params, drop a trailing "?", collapse
    * the default port, trim one trailing slash; then keep the min doc_id
    * per canonical URL and count pages per host. URLs are synthesized
    * deterministically on both sides (the corpus has no URL column):
    * every 3rd doc gets tracking params, every 5th an uppercase host,
    * every 4th a fragment — so each normalization rule fires. All narrow
    * regex maps riding the scan + one hash agg; the per-host rollup is a
    * second map-side-partial agg. */
  val urlNormalizeQ = QueryDef("url_normalize",
    (s, dir) => {
      val raw = format_string(
        "https://%s.example%s.com:443/Docs/page%s%s%s",
        when(col("doc_id") % 5 === 0, lit("WWW")).otherwise(lit("www")),
        (col("doc_id") % 20).cast("string"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, lit("?utm_source=feed&utm_campaign=x")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit("#section-2")).otherwise(lit("")))
      val canonical = table(s, dir, "documents")
        .select(col("doc_id"), canonicalizeUrl(raw).as("canonical"))
      canonical.groupBy("canonical")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .withColumn("host", regexp_extract(col("canonical"), "^https?://([^/:]+)", 1))
        .groupBy("host")
        .agg(count(lit(1)).as("n_pages"), sum(col("n_dups")).as("n_docs"),
          min(col("keep_id")).as("first_doc"))
        .orderBy("host")
    },
    Some("""WITH raw AS (SELECT doc_id,
          printf('https://%s.example%d.com:443/Docs/page%d%s%s',
            CASE WHEN doc_id % 5 = 0 THEN 'WWW' ELSE 'www' END,
            doc_id % 20, doc_id % 50,
            CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&utm_campaign=x' ELSE '' END,
            CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END) AS url
        FROM documents),
      c1 AS (SELECT doc_id,
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace(
                    regexp_replace(url, '#.*$', '', 'g'),
                    '&utm_[a-z]+=[^&#]*', '', 'g'),
                  '\?utm_[a-z]+=[^&#]*&', '?', 'g'),
                '\?utm_[a-z]+=[^&#]*$', '', 'g'),
              '^(https?://[^/]+):443(/|$)', '\1\2', 'g'),
            '(.)/$', '\1', 'g') AS canon
        FROM raw),
      c2 AS (SELECT doc_id,
          lower(regexp_extract(canon, '^(https?://[^/]+)', 1)) ||
          regexp_extract(canon, '^https?://[^/]+(.*)$', 1) AS canonical
        FROM c1),
      kept AS (SELECT canonical, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
               FROM c2 GROUP BY canonical)
      SELECT regexp_extract(canonical, '^https?://([^/:]+)', 1) AS host,
        COUNT(*) AS n_pages, CAST(SUM(n_dups) AS BIGINT) AS n_docs, MIN(keep_id) AS first_doc
      FROM kept GROUP BY 1 ORDER BY host"""))

  /** Intra-document consecutive-repeat collapse — the cheap text cleaner
    * that folds stutter artifacts ("the the the" → "the") crawl
    * extraction and OCR leave behind, run before token counting so
    * repeats don't inflate budgets. A pure narrow map: one indexed HOF
    * filter keeps token i iff it differs from token i−1; zero shuffle,
    * rides the scan. Both engines evaluate the identical keep rule. */
  val collapseRepeatsQ = QueryDef("collapse_repeats",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("kept",
        filter(col("toks"), (t, i) =>
          (i === 0) || (t =!= element_at(col("toks"), i))))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long").as("n_collapsed"))
      .orderBy("doc_id"),
    Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      k AS (SELECT doc_id, toks,
              [toks[i] for i in generate_series(1, len(toks))
               if i = 1 OR toks[i] <> toks[i - 1]] AS kept
            FROM t)
      SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
        CAST(len(toks) - len(kept) AS BIGINT) AS n_collapsed
      FROM k ORDER BY doc_id"""))

  /** Crawl link-graph edge extraction: pull (href, anchor-text) pairs out
    * of page HTML — the edge-building stage that feeds `link_pagerank`'s
    * authority ranks and the anchor-text quality/retrieval signal. Pages
    * are deterministically synthesized (`html_strip` precedent): each doc
    * carries doc_id % 3 anchors, so the no-link class is non-vacuous.
    * Scale shape: two regexp_extract_all passes ride the scan (narrow,
    * codegen'd), the explode fans out ∝ links-per-page, and NOTHING
    * shuffles — the output is the raw edge list a downstream
    * groupBy(host) or PageRank consumes. Both engines extract with the
    * same RE2-safe patterns (no lookaround). */
  val anchorExtractQ = QueryDef("anchor_extract",
    (s, dir) => {
      def anchor(j: Int) = format_string(
        "<a href=\"https://site%s.example.com/p%s\">ref %s</a>",
        ((col("doc_id") + j) % 7).cast("string"), col("doc_id").cast("string"),
        ((col("doc_id") + j) % 11).cast("string"))
      val pages = table(s, dir, "documents")
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 >= 1, anchor(0)).otherwise(lit("")),
          when(col("doc_id") % 3 >= 2, anchor(1)).otherwise(lit(""))).as("page"))
      pages
        .select(col("doc_id"),
          regexp_extract_all(col("page"), lit("<a href=\"([^\"]+)\">"), lit(1)).as("hrefs"),
          regexp_extract_all(col("page"), lit("<a href=\"[^\"]+\">([^<]+)</a>"), lit(1)).as("anchors"))
        .select(col("doc_id"), col("anchors"),
          posexplode(col("hrefs")).as(Seq("link_idx", "href")))
        .select(col("doc_id"), col("link_idx"), col("href"),
          element_at(col("anchors"), col("link_idx") + 1).as("anchor"),
          regexp_extract(col("href"), "^https?://([^/]+)", 1).as("target_host"))
        .orderBy("doc_id", "link_idx")
    },
    Some("""WITH p AS (SELECT doc_id, text ||
          CASE WHEN doc_id % 3 >= 1 THEN printf('<a href="https://site%d.example.com/p%d">ref %d</a>',
            doc_id % 7, doc_id, doc_id % 11) ELSE '' END ||
          CASE WHEN doc_id % 3 >= 2 THEN printf('<a href="https://site%d.example.com/p%d">ref %d</a>',
            (doc_id + 1) % 7, doc_id, (doc_id + 1) % 11) ELSE '' END AS page
        FROM documents),
      e AS (SELECT doc_id,
          regexp_extract_all(page, '<a href="([^"]+)">', 1) AS hrefs,
          regexp_extract_all(page, '<a href="[^"]+">([^<]+)</a>', 1) AS anchors
        FROM p),
      u AS (SELECT doc_id, hrefs, anchors,
          UNNEST(generate_series(1, len(hrefs))) AS i FROM e)
      SELECT doc_id, CAST(i - 1 AS INT) AS link_idx, hrefs[CAST(i AS INT)] AS href,
        anchors[CAST(i AS INT)] AS anchor,
        regexp_extract(hrefs[CAST(i AS INT)], '^https?://([^/]+)', 1) AS target_host
      FROM u ORDER BY doc_id, link_idx"""))

  /** Deterministic fixed-size stratified sample: the n docs with the
    * smallest salted md5 per stratum (source). The hash IS the random
    * draw — rerun-stable, engine-exact (hex-string compare), and
    * decorrelated from any other salted decision — so this replaces a
    * reservoir sample wherever reproducibility matters (eval-set
    * carving, per-domain inspection samples). Scale: one shuffle on
    * source; Spark's InferWindowGroupLimit caps the window's shuffle at
    * n rows per stratum per map partition, so the exchange carries
    * ~n×strata×partitions rows, never the corpus. */
  val sampleStratifiedQ = QueryDef("sample_stratified",
    (s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat(lit("graft-strat:"), col("doc_id").cast("string"))).as("h"))
      val w = Window.partitionBy("source").orderBy(col("h").asc, col("doc_id").asc)
      docs.withColumn("sample_rank", row_number().over(w).cast("long"))
        .filter(col("sample_rank") <= 10)
        .select("source", "sample_rank", "doc_id")
        .orderBy("source", "sample_rank")
    },
    Some("""WITH h AS (SELECT doc_id, source,
          md5('graft-strat:' || CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      r AS (SELECT source, doc_id,
          ROW_NUMBER() OVER (PARTITION BY source ORDER BY h ASC, doc_id ASC) AS sample_rank
        FROM h)
      SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
      FROM r WHERE sample_rank <= 10 ORDER BY source, sample_rank"""))

  /** Unicode NFC normalization over the corpus (native kernel; the
    * documents are ASCII, so both sides append the same decomposed
    * accent sequences to half the docs and the composed outputs must
    * agree). Narrow map riding the scan — the canonical pre-dedup
    * text-canonicalization step. */
  val normalizeUnicodeQ = QueryDef("normalize_unicode",
    (s, dir) => table(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 2 === 0, lit(" cafe\u0301 nai\u0308ve"))
            .otherwise(lit(""))).as("raw"))
      .select(col("doc_id"), normalizeNfc(col("raw")).as("nfc"),
        length(col("raw")).cast("long").as("n_raw"),
        length(normalizeNfc(col("raw"))).cast("long").as("n_nfc"))
      .orderBy("doc_id"),
    Some("""WITH r AS (SELECT doc_id,
        text || CASE WHEN doc_id % 2 = 0
                     THEN ' cafe' || chr(769) || ' nai' || chr(776) || 've'
                     ELSE '' END AS raw
      FROM documents)
      SELECT doc_id, nfc_normalize(raw) AS nfc,
        CAST(length(raw) AS BIGINT) AS n_raw,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_nfc
      FROM r ORDER BY doc_id"""))

  /** Fill-in-the-middle transform — the FIM data prep for code/infilling
    * models (Bavarian et al. 2022, "Efficient Training of Language Models
    * to Fill in the Middle"): for the FIM-rate half of the corpus
    * (salted-md5 coin, the span_corruption discipline), two md5-derived
    * cut points split the document into prefix/middle/suffix and the
    * training text is re-assembled in PSM order —
    * `<PRE> prefix <SUF> suffix <MID> middle` — so the model learns to
    * infill conditioned on both sides; the other half passes through
    * (the paper's 50% FIM rate). A pure narrow map (zero shuffle, array
    * slices riding the scan); cuts are md5 buckets, not random draws, so
    * the full output STRING is hash-oracle-checked and CurationSpec pins
    * the round-trip law (prefix+middle+suffix reconstructs every doc). */
  val fimTransformQ = QueryDef("fim_transform",
    (s, dir) => {
      def bucket(salt: String, mod: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8),
          16, 10).cast("long") % mod
      table(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("fim_applied",
          (bucket("graft-fim-apply", lit(2L)) === 0L).cast("int"))
        .withColumn("c1", bucket("graft-fim-c1", col("n") + 1))
        .withColumn("c2", col("c1") + bucket("graft-fim-c2", col("n") - col("c1") + 1))
        .select(col("doc_id"), col("n").as("n_tok"), col("fim_applied"),
          when(col("fim_applied") === 1, col("c1")).otherwise(lit(-1L)).as("cut1"),
          when(col("fim_applied") === 1, col("c2")).otherwise(lit(-1L)).as("cut2"),
          when(col("fim_applied") === 1,
            concat(lit("<PRE> "),
              concat_ws(" ", slice(col("toks"), lit(1), col("c1").cast("int"))),
              lit(" <SUF> "),
              concat_ws(" ", slice(col("toks"), (col("c2") + 1).cast("int"),
                (col("n") - col("c2")).cast("int"))),
              lit(" <MID> "),
              concat_ws(" ", slice(col("toks"), (col("c1") + 1).cast("int"),
                (col("c2") - col("c1")).cast("int")))))
            .otherwise(concat_ws(" ", col("toks"))).as("train_text"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
      b AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
          CAST(('0x' || substring(md5('graft-fim-apply:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS coin
        FROM d),
      c AS (SELECT doc_id, toks, n,
          CASE WHEN coin = 0 THEN 1 ELSE 0 END AS fim_applied,
          CAST(('0x' || substring(md5('graft-fim-c1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (n + 1) AS c1
        FROM b),
      e AS (SELECT doc_id, toks, n, fim_applied, c1,
          c1 + CAST(('0x' || substring(md5('graft-fim-c2:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % (n - c1 + 1) AS c2
        FROM c)
      SELECT doc_id, n AS n_tok, fim_applied,
        CASE WHEN fim_applied = 1 THEN c1 ELSE -1 END AS cut1,
        CASE WHEN fim_applied = 1 THEN c2 ELSE -1 END AS cut2,
        CASE WHEN fim_applied = 1
             THEN '<PRE> ' || COALESCE(array_to_string(toks[1:c1], ' '), '') ||
                  ' <SUF> ' || COALESCE(array_to_string(toks[c2+1:n], ' '), '') ||
                  ' <MID> ' || COALESCE(array_to_string(toks[c1+1:c2], ' '), '')
             ELSE COALESCE(array_to_string(toks, ' '), '') END AS train_text
      FROM e ORDER BY doc_id"""))

  val defs: Seq[QueryDef] = Seq(
    piiScrubQ, splitAssignQ, repetitionRatioQ, chunkTokensQ, chunkOverlapQ,
    spanCorruptionQ, streamDedupQ, packSequencesQ, packSequencesOracleQ, decontaminateQ,
    sampleWeightedQ, sampleStratifiedQ, normalizeUnicodeQ, urlNormalizeQ,
    anchorExtractQ, collapseRepeatsQ, fimTransformQ)
}
