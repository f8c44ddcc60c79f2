package graft.queries

/** DuckDB replay of the md5 MinHash-LSH family ([[graft.operators.Dedup]]'s
  * replayable path), written once: the word-bigram shingle set, the md5
  * `h1`/`h2` pair per shingle, the k-slot `MIN(h1 + j·h2)` signature, the
  * md5 band keys, the signature-match estimate and the exact shingle
  * Jaccard. Each oracle composes its own CTE chain from these fragments,
  * with its own `MATERIALIZED` plan hints; [[nearDupClusterCtes]] is the
  * one chain several oracles share. The hints change DuckDB plans only,
  * never values. Inlined, a CTE read many times re-runs the
  * shingle/MinHash pipeline per reference: the `dedup_representative`
  * oracle read 38 s at sf0.1 without its hints and 2 s with them. Yet the
  * `dedup_incremental` oracle reads 5.2 s at sf0.1 with `sig` inlined and
  * 7.8 s with it materialized. */
private[queries] object MinhashSql {

  /** Signature length — the Spark side's k. */
  val k = 32

  /** `sh`: the distinct word bigrams of a `toks` list, or the whole text as
    * one shingle below two tokens — `TextFunctions.wordShingles(text, 2)`. */
  val shingles: String =
    """CASE WHEN len(toks) >= 2
             THEN list_distinct([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)])
             ELSE [array_to_string(toks, ' ')] END AS sh"""

  /** `ex` and `th` over a shingle CTE `src(doc_id, sh)`: each shingle's
    * md5 halves `h1`/`h2` (`Dedup.md5Hash60`/`md5Hash56`). */
  def hashCtes(src: String): String =
    s"""ex AS (SELECT doc_id, UNNEST(sh) AS t FROM $src),
      th AS (SELECT doc_id,
        CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h1,
        CAST(('0x' || substring(md5(t), 17, 14)) AS BIGINT) AS h2 FROM ex)"""

  /** The body of `sig(doc_id, s0 … s31)` over `th`: the k-slot
    * Kirsch–Mitzenmacher signature. */
  val signature: String =
    s"SELECT doc_id, ${(0 until k).map(j => s"MIN(h1 + $j * h2) AS s$j").mkString(", ")} FROM th GROUP BY doc_id"

  /** `(doc_id, band_idx, band_hash)` rows of `sig` at `bands × rpb`: the
    * same 60-bit md5 bucket key as `Dedup.lshPairs`, so
    * equal slices collide identically and the join key stays a long. */
  def bandSelects(bands: Int, rpb: Int): String = {
    require(bands * rpb == k, s"bands ($bands) x rows/band ($rpb) must equal k ($k)")
    (0 until bands).map { b =>
      val cols = (b * rpb until (b + 1) * rpb).map(j => s"CAST(s$j AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band_idx, CAST(('0x' || substring(md5($cols), 1, 15)) AS BIGINT) AS band_hash FROM sig"
    }.mkString(" UNION ALL ")
  }

  /** Distinct `(id_a < id_b)` pairs sharing a band of the band CTE `bd`. */
  def candidatePairs(bd: String): String =
    s"""SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM $bd a JOIN $bd b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                   AND a.doc_id < b.doc_id"""

  /** Signature-match estimate between `sig` rows aliased `a` and `b` —
    * `Dedup.estJaccard`. */
  def estJaccard(a: String, b: String): String = {
    val matches = (0 until k).map(j => s"CASE WHEN $a.s$j = $b.s$j THEN 1 ELSE 0 END").mkString(" + ")
    s"CAST($matches AS DOUBLE) / $k"
  }

  /** Exact Jaccard of the `sh` sets of rows aliased `a` and `b`. */
  def trueJaccard(a: String, b: String): String =
    s"""CAST(len(list_intersect($a.sh, $b.sh)) AS DOUBLE) /
               CAST(len($a.sh) + len($b.sh) - len(list_intersect($a.sh, $b.sh)) AS DOUBLE)"""

  private val toksSql = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Replay of `Dedup.nearDupClusters` over `documents`, ending in
    * `wk(doc_id, source, text, toks, keep_id)` (every doc with its exact
    * group's min id) and `comp(id, comp)` (every survivor's near-dup
    * component): exact bag-of-words groups → 8×4 LSH over the survivors →
    * est ≥ 0.35 screen → exact Jaccard ≥ 0.5 edges → recursive component
    * closure. Callers prepend `WITH RECURSIVE`. */
  val nearDupClusterCtes: String =
    s"""kd AS MATERIALIZED (SELECT doc_id, source, text, $toksSql AS toks,
          md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS content_hash
        FROM documents),
      g AS (SELECT content_hash, MIN(doc_id) AS keep_id FROM kd GROUP BY content_hash),
      wk AS MATERIALIZED (SELECT kd.doc_id, kd.source, kd.text, kd.toks, g.keep_id
             FROM kd JOIN g USING (content_hash)),
      d AS (SELECT doc_id, toks FROM wk WHERE doc_id = keep_id),
      gsh AS MATERIALIZED (SELECT doc_id, $shingles FROM d),
      ${hashCtes("gsh")},
      sig AS MATERIALIZED ($signature),
      bd AS (${bandSelects(8, 4)}),
      cand AS (${candidatePairs("bd")}),
      est AS (SELECT id_a, id_b FROM cand
              JOIN sig sa ON sa.doc_id = cand.id_a
              JOIN sig sb ON sb.doc_id = cand.id_b
              WHERE ${estJaccard("sa", "sb")} >= 0.35),
      tj AS MATERIALIZED (SELECT c.id_a, c.id_b
             FROM est c JOIN gsh ga ON ga.doc_id = c.id_a JOIN gsh gb ON gb.doc_id = c.id_b
             WHERE ${trueJaccard("ga", "gb")} >= 0.5),
      e AS (SELECT id_a AS src, id_b AS dst FROM tj UNION SELECT id_b, id_a FROM tj),
      r AS (SELECT doc_id AS id, doc_id AS reach FROM d
            UNION
            SELECT e.src AS id, r.reach FROM e JOIN r ON e.dst = r.id),
      comp AS MATERIALIZED (SELECT id, MIN(reach) AS comp FROM r GROUP BY id)"""
}
