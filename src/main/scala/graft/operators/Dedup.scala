package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.TextFunctions
import graft.ops.Parallelism

/** Corpus-scale deduplication operators: exact (hash-groupBy), MinHash+LSH
  * (shingle → signature → banded bucket join), SimHash (64-bit weighted
  * bit votes + banded Hamming blocking).
  *
  * Scale design:
  *  - exact dedup = one hash aggregate on a 128-bit content key (map-side
  *    partial; the canonical key is computed in codegen, never collected);
  *  - MinHash LSH shuffles (band_idx, band_hash) — candidate generation is
  *    linear in corpus size, never the O(n²) pair space; the self-join hits
  *    only same-bucket rows, and near-dup verification runs on the
  *    candidate set only;
  *  - SimHash blocking: a 60-bit sketch per doc, pairs only within equal
  *    15-bit bands (pigeonhole: a pair with Hamming distance <= 3 shares
  *    at least one of 4 bands; wider distances are caught
  *    probabilistically by multiple bands).
  */
object Dedup {

  /** Intersection size of two DISTINCT, SORTED shingle arrays: the
    * sorted-merge native expression ([[graft.plans.SortedIntersectCount]],
    * no per-pair hash-set allocation). Exact integer, equal to
    * `size(array_intersect(a, b))` on such inputs, null elements included
    * (PlansSpec checks both). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(graft.plans.SortedIntersectCount(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Canonical bag-of-words key: sorted distinct tokens, space-joined.
    * Invariant to token order/repetition — catches shuffled/duplicated
    * copies that byte-exact hashing misses. */
  def bagOfWordsKey(text: Column): Column =
    array_join(array_sort(array_distinct(TextFunctions.tokens(text))), " ")

  /** Exact dedup groups: md5(canonical key) → (content_hash, keep_id =
    * min id, dup_count). Survivors = rows where id == keep_id. */
  def exactGroups(df: DataFrame, idCol: String, canonicalKey: Column): DataFrame =
    df.groupBy(md5(canonicalKey).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Estimated Jaccard from two equal-length signatures: matching fraction.
    * The match count is one codegen'd loop ([[graft.plans.SignatureMatchCount]]);
    * NULL when either signature is NULL. */
  def estJaccard(sigA: Column, sigB: Column, k: Int): Column =
    ColumnBridge.column(graft.plans.SignatureMatchCount(
      ColumnBridge.expression(sigA), ColumnBridge.expression(sigB))).cast("double") / k

  // ── md5-keyed MinHash LSH: features → pairs → verify ─────────────────
  //
  // Every sketch, band key and verdict is built from md5-derived integers —
  // the same engine-exact technique splitBucket / hashBucket use — so an
  // external engine (the DuckDB oracle, `MinhashSql`) replays signatures,
  // bands, candidate pairs and verdicts bit-for-bit. Every MinHash LSH
  // caller composes the three stages below: [[minhashFeatures]] (one
  // checkpointed sketch frame), [[lshPairs]] (the one band join) and
  // [[jaccard]] / [[attachSides]] (verification).

  /** High 60 bits of md5 as a non-negative long (hex chars 1-15).
    * Replayable: `CAST(('0x' || substring(md5(x),1,15)) AS BIGINT)`. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 56 bits from md5 hex chars 17-30 — independent of [[md5Hash60]]'s
    * bits, sized so `h1 + j*h2` < 2^60 + j·2^56 stays under 2^62 for
    * j ≤ 48 and under 2^63 (signed-64 overflow-free, ANSI-safe) for all
    * j ≤ 63 — callers raising k past 49 keep correctness but lose the
    * 2^62 headroom. */
  def md5Hash56(c: Column): Column =
    conv(substring(md5(c), 17, 14), 16, 10).cast("long")

  /** Oracle-replayable MinHash signature as a pure narrow map: one native
    * kernel ([[graft.plans.MinHashMd5]]) takes ONE md5 digest per shingle,
    * reads `h1` ([[md5Hash60]]) and `h2` ([[md5Hash56]]) straight off the
    * digest bytes, and folds the k Kirsch–Mitzenmacher minima
    * `g_j = h1 + j*h2` in the same loop — the published standard for
    * deriving k hash functions from two (Kirsch & Mitzenmacher, ESA'06),
    * and strictly cheaper at 100 TB than k full hashes per shingle (this
    * pays 1 md5 + k adds). The sketch rides the document scan: no explode,
    * no k-column aggregate, no shuffle — only the band join shuffles.
    * Replayable: any engine recomputes `g_j` from `CAST(('0x' ||
    * substring(md5(t),...)) AS BIGINT)` (`MinhashSql`). Requires k ≤ 64
    * (overflow-free slots).
    *
    * `hashedName` also emits the sorted-distinct `h1` shingle hashes from
    * the SAME pass — for callers that build both the signature and a
    * hashed shingle-set column (the exact-Jaccard verify side). The kernel
    * then returns a struct that one projection below the split computes
    * once.
    *
    * Empty shingle arrays get a NULL signature — matching the
    * explode+GROUP BY formulation (and a replaying engine's UNNEST), which
    * drops zero-shingle docs; otherwise every such doc would band-hash the
    * same empty slice into one spurious LSH bucket. A NULL sig falls out of
    * [[lshPairs]]. Null shingles are skipped. */
  def withMinhashSignatureMd5(df: DataFrame, shingles: Column, k: Int,
                              sigName: String = "sig",
                              hashedName: Option[String] = None): DataFrame = {
    val kernel = ColumnBridge.column(graft.plans.MinHashMd5(
      ColumnBridge.expression(shingles), k, withHashes = hashedName.isDefined))
    hashedName.fold(df.withColumn(sigName, kernel)) { h =>
      df.withColumn("_mh", kernel)
        .withColumn(sigName, col("_mh.sig"))
        .withColumn(h, col("_mh.sh"))
        .drop("_mh")
    }
  }

  /** Features stage: a `(doc_id, text)` frame → ONE checkpointed
    * `(doc_id, sig, sh)` frame — the k = 32 md5 signature and the sorted
    * 60-bit-hashed set of the word-bigram shingles, both from a single md5
    * pass. The band join, the estimate and both verify sides read this
    * one materialized frame; the verify joins ship 8-byte longs, never
    * shingle strings, and hashed-distinct cardinalities equal the string
    * cardinalities, so every Jaccard is the string set's. The
    * [[Parallelism.ensure]] floor comes first: a corpus read as one row
    * group would otherwise run the whole md5 build on one core. */
  def minhashFeatures(docs: DataFrame): DataFrame =
    sketchCheckpoint(Parallelism.ensure(docs).select(col("doc_id"), col("text")))

  /** `df` with `text` replaced by the signature `sig` and hashed shingle
    * set `sh` of its word bigrams, checkpointed; rows failing `shingleIf`
    * keep their other columns and get null `sig`/`sh`. */
  private def sketchCheckpoint(df: DataFrame, shingleIf: Option[Column] = None): DataFrame = {
    val shingles = array_sort(TextFunctions.wordShingles(col("text"), 2))
    withMinhashSignatureMd5(df.withColumn("shw", shingleIf.fold(shingles)(when(_, shingles))),
        col("shw"), 32, hashedName = Some("sh"))
      .drop("text", "shw")
      .localCheckpoint()
  }

  /** Pairs stage — the one LSH band join: distinct `(id_a, id_b)` pairs,
    * `id_a` a `doc_id` of `left` and `id_b` of `right`, whose `sig`s agree
    * on every position of some band, kept where `pairIf` holds (`id_a <
    * id_b` for a self-join; `lit(true)` for a batch × corpus join).
    *
    * Each `(bands, rowsPerBand)` geometry (`bands * rowsPerBand` = the
    * signature length) keys its bands on `(band_idx, band_hash)`, the hash
    * being the high 60 bits of md5 of the comma-joined slice
    * (`MinhashSql.bandSelects`): the shuffle ships an 8-byte LONG, never a
    * string bucket name, and equal slices collide identically. With
    * several geometries the band rows and the pairs also carry `bands` and
    * `rpb`: one join serves every geometry, collisions stay within their
    * own geometry, and each pair comes out once per geometry it collides
    * under. NULL signatures (zero-shingle docs) band nowhere.
    *
    * Only ids cross the join; callers attach signatures or shingle sets
    * afterwards, once per surviving pair ([[attachSides]]). Carrying the
    * 32-element arrays THROUGH the join measured 10.6× the rows but 30×
    * the time at the 10× scale probe. Ids must be unique within each side
    * — a duplicated id would duplicate its pairs at the attach joins.
    *
    * The distinct runs on an explicit-count hash exchange, which it reuses
    * (no second exchange): the pair shuffle is a few hundred kB, so AQE
    * would coalesce a plain distinct to ONE partition, and every
    * downstream per-pair stage — the estimate screen, the verify joins, a
    * components edge checkpoint — would then run on one task. AQE cannot
    * see that per-row compute in the map-output bytes (the
    * Parallelism.byRange trap); an explicit count it does not coalesce.
    * Both phases of that distinct sit above the exchange, so a pair
    * colliding in several bands crosses the shuffle once per band. */
  def lshPairs(left: DataFrame, right: DataFrame, geometries: Seq[(Int, Int)],
               pairIf: Column = col("id_a") < col("id_b")): DataFrame = {
    val tags = if (geometries.size > 1) Seq("bands", "rpb") else Nil
    def banded(f: DataFrame, id: String): DataFrame = geometries.map { case (b, r) =>
      val bandStructs = array((0 until b).map { i =>
        val part = slice(col("sig"), i * r + 1, r).cast("array<string>")
        struct(lit(i).as("band_idx"), md5Hash60(array_join(part, ",")).as("band_hash"))
      }: _*)
      val rows = f.filter(col("sig").isNotNull)
        .select(col("doc_id"), explode(bandStructs).as("band"))
        .select(col("doc_id"), col("band.band_idx"), col("band.band_hash"))
      val tagCols = if (tags.isEmpty) Nil else Seq(lit(b).as("bands"), lit(r).as("rpb"))
      rows.select((tagCols ++ Seq(col("band_idx"), col("band_hash"), col("doc_id").as(id))): _*)
    }.reduce(_ unionByName _)
    val collisions = banded(left, "id_a")
      .join(banded(right, "id_b"), tags ++ Seq("band_idx", "band_hash"))
      .filter(pairIf)
      .select((tags ++ Seq("id_a", "id_b")).map(col): _*)
    Parallelism.byHash(collisions, col("id_a"), col("id_b")).distinct()
  }

  /** Verify stage: exact Jaccard of two DISTINCT, SORTED sets. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = sortedIntersectCount(a, b)
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** `pairs(id_a, id_b, ...)` with each `cols` column of `left` attached
    * to `id_a` as `<c>_a` and of `right` to `id_b` as `<c>_b` — one join
    * per side, on the features frames' `doc_id`. */
  def attachSides(pairs: DataFrame, left: DataFrame, right: DataFrame,
                  cols: String*): DataFrame = {
    def side(f: DataFrame, s: String) =
      f.select(col("doc_id").as(s"id_$s") +: cols.map(c => col(c).as(s"${c}_$s")): _*)
    pairs.join(side(left, "a"), "id_a").join(side(right, "b"), "id_b")
      .select((pairs.columns.toSeq ++ cols.map(_ + "_a") ++ cols.map(_ + "_b")).map(col): _*)
  }

  /** The near-dup clustering chain over a `(doc_id, text)` frame, shared
    * by `dedup_representative`, `dedup_soft_weights` (through the
    * session memo `DatasetQueries.nearDupClusters`), `pipeline_dedup_corpus`
    * and ScaleProbe's `dedup_corpus` family: exact bag-of-words groups →
    * md5 MinHash (k = 32) and 8×4 LSH bands over the exact SURVIVORS →
    * signature-estimate screen (est ≥ 0.35) → exact shingle Jaccard
    * (≥ 0.5) → connected components. Its DuckDB replay is
    * `MinhashSql.nearDupClusterCtes`.
    *
    * Returns `(withKeep, comps)`: every doc with its exact group's
    * `keep_id`, its `carry` columns, and — survivors only, null for exact
    * dups — its signature `sig` and hashed shingle set `sh`; and every
    * survivor's near-dup component `(id, comp)`.
    *
    * `carry` holds the per-doc values a caller needs after the chain,
    * evaluated over `docs` BEFORE the one checkpoint: raw text never
    * crosses it (the r12 cluster-tax finding — on a 4-executor topology
    * every downstream read of a text-carrying barrier paid cross-process
    * serialization of the widest column, 1.96× single-JVM task-CPU at the
    * 100× tier). The checkpoint is the features stage's, over every doc
    * with only the survivors sketched.
    *
    * The exact pre-stage is LOAD-BEARING at scale: LSH over a corpus that
    * still holds exact-dup groups bands every group of m identical docs
    * into the same buckets and emits m² candidate pairs — measured 20.3 s
    * at sf0.1 without the stage vs ~5 s with it. */
  def nearDupClusters(docs: DataFrame, carry: Column*): (DataFrame, DataFrame) = {
    // NOT checkpointed: the content key is a narrow map riding the scan —
    // recomputing it on the agg and join branches is cheaper at any scale
    // than materializing the full corpus with its text.
    val keyed = Parallelism.ensure(docs)
      .select((col("doc_id") +: col("text") +: carry): _*)
      .withColumn("content_hash", md5(bagOfWordsKey(col("text"))))
    val groups = keyed.groupBy("content_hash").agg(min(col("doc_id")).as("keep_id"))
    val withKeep = sketchCheckpoint(keyed.join(groups, "content_hash").drop("content_hash"),
      shingleIf = Some(col("doc_id") === col("keep_id")))
    val survivors = withKeep.filter(col("doc_id") === col("keep_id"))
    // Estimate screen BEFORE the verify join: the estimate lives on the
    // pair rows already (no extra shuffle), while the verify join ships
    // two shingle arrays per pair — 15× superlinear wall at the 10× probe
    // without it (band collisions on template-similar corpora make the
    // linear candidate set a LARGE one, ~62 pairs/doc).
    val pairs = attachSides(lshPairs(survivors, survivors, Seq((8, 4))),
        survivors, survivors, "sig")
      .filter(estJaccard(col("sig_a"), col("sig_b"), 32) >= 0.35)
    val edges = attachSides(pairs.select("id_a", "id_b"), survivors, survivors, "sh")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.5)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comps = Components.connectedComponents(
      survivors.select(col("doc_id").as("id")), edges)
    (withKeep, comps)
  }

  // ── Bottom-k (KMV) set sketch ──────────────────────────────────────────

  /** Bottom-k (KMV) sketch per key: the k SMALLEST md5-derived 60-bit
    * hashes of the group's distinct items, as one sorted array — the
    * single-permutation min-wise sample (Broder, "On the resemblance and
    * containment of documents", SEQUENCES'97; Bar-Yossef et al.'s KMV
    * distinct-value sketch, RANDOM'02). One hash per item, mergeable
    * (union two sketches = bottom-k of their concat), bounded at k longs
    * per key — the corpus-pair similarity sketch that compares 100 TB
    * datasets with a tiny array join.
    *
    * NOT interchangeable with the Kirsch–Mitzenmacher k-permutation
    * signature ([[withMinhashSignatureMd5]]): over a corpus-sized item
    * set all k of its g_j = h1 + j·h2 minima concentrate on the same
    * tiny-h1/tiny-h2 element, so its per-position match indicators
    * collapse into one correlated coin (measured |est − exact| up to
    * 0.97 as a dataset-similarity estimate — fine only for LSH candidate
    * screening, where exact verification follows). Bottom-k match
    * indicators are distinct elements of the union, which is what holds
    * the estimator variance at √(J(1−J)/k).
    *
    * Implementation: exact integer window top-k (row_number over the
    * hash) — NOT a double-scored heap: doubles lose exactness above 2^53
    * and these are 60-bit keys an oracle compares as exact integers. */
  def bottomKSketch(df: DataFrame, keyCol: String, itemCol: String, k: Int,
                    outCol: String = "hs"): DataFrame = {
    val hashed = df.select(col(keyCol), md5Hash60(col(itemCol)).as("_h")).distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol).orderBy("_h")
    hashed.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .groupBy(keyCol).agg(sort_array(collect_list(col("_h"))).as(outCol))
  }

  /** Jaccard estimate from two [[bottomKSketch]] arrays:
    * |X ∩ botA ∩ botB| / |X| with X = bottom-k of A∪B (assembled from
    * the two sketches). The denominator is |X|, NOT k: when the union
    * has fewer than k distinct hashes X is the ENTIRE union and the
    * estimate is exact (identical small sets → 1.0, disjoint → 0.0);
    * dividing by k would bias every small-set estimate toward 0. */
  def kmvJaccardEst(ha: Column, hb: Column, k: Int): Column = {
    val unionBotK = slice(array_sort(array_distinct(concat(ha, hb))), 1, k)
    val common = size(filter(unionBotK, x =>
      array_contains(ha, x) && array_contains(hb, x)))
    when(size(unionBotK) > 0,
      common.cast("double") / size(unionBotK).cast("double"))
      .otherwise(lit(0.0))
  }

  /** The engine's SimHash: a 60-bit sketch from md5-keyed token hashes,
    * bit votes folded relationally (explode → 60 conditional sums,
    * map-side partial → bit reassembly; one shuffle on idCol), so any
    * engine can recompute it and the oracle hash-checks it. Docs with no
    * tokens produce no row (no bits to vote) — matching a replaying
    * engine's UNNEST-of-empty-list semantics. Band it with
    * [[simhashPairs]] at `nBands = 4, bandBits = 15`. */
  def simhash60Md5(df: DataFrame, idCol: String, tokensCol: Column): DataFrame = {
    val hashed = df.select(col(idCol), explode(tokensCol).as("_tok"))
      .select(col(idCol), md5Hash60(col("_tok")).as("_th"))
    val votes = (0 until 60).map(j =>
      sum(when((shiftright(col("_th"), j) % 2 =!= 0), 1).otherwise(-1)).as(s"_v$j"))
    val grouped = hashed.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
    val bits = (0 until 60).map(j =>
      when(col(s"_v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
    grouped.withColumn("simhash", bits.reduce(_.bitwiseOR(_)))
      .select(col(idCol), col("simhash"))
  }

  /** Near-dup pairs by banded SimHash blocking: pairs sharing any
    * bandBits-wide band, kept when Hamming distance <= maxHamming.
    * Defaults fit a 64-bit code (4×16, the dHash image hashes); the
    * 60-bit [[simhash60Md5]] sketch uses 4×15. Pigeonhole: any pair with
    * distance < nBands shares a band. */
  def simhashPairs(df: DataFrame, idCol: String, simhashCol: String,
                   maxHamming: Int, nBands: Int = 4, bandBits: Int = 16): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = df.select(col(idCol), col(simhashCol),
      explode(array((0 until nBands).map(b => struct(lit(b).as("band_idx"),
        (shiftrightunsigned(col(simhashCol), b * bandBits).bitwiseAND(lit(mask))).as("band_val"))): _*))
        .as("band"))
      .select(col(idCol), col(simhashCol), col("band.band_idx"), col("band.band_val"))
    val a = banded.withColumnRenamed(idCol, "id_a").withColumnRenamed(simhashCol, "sim_a")
    val b = banded.withColumnRenamed(idCol, "id_b").withColumnRenamed(simhashCol, "sim_b")
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
