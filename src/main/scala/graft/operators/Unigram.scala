package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer training — the third major
  * public tokenizer family after BPE and WordPiece (Kudo, ACL 2018 —
  * "Subword Regularization: Improving Neural Network Translation Models
  * with Multiple Subword Candidates"): instead of growing a vocabulary by
  * merges, start from an overcomplete SEED vocabulary of frequent
  * substrings, fit piece probabilities by EM over the corpus, and PRUNE
  * to the target size. This implementation is the deterministic
  * hard-EM (Viterbi) variant — each word contributes counts through its
  * single best segmentation under the current model, the decoding rule
  * SentencePiece itself uses at inference time — so every step is
  * replayable bit-for-bit by the DuckDB oracle:
  *
  *  1. SEED: all substrings of length 1..maxPieceLen of the weighted
  *     corpus vocabulary; keep every single character (coverage
  *     guarantee) + the top `seedMulti` multi-char substrings under the
  *     (count desc, piece asc) total order.
  *  2. PROBABILITIES: add-one smoothing, p = (n+1)/(Σn + |V|). Both
  *     operands are exact BIGINT→DOUBLE conversions (< 2^53) and the
  *     single division is IEEE correctly-rounded, so Spark and DuckDB
  *     produce bit-identical doubles — the lm_score linear-space
  *     discipline (no libm call anywhere in the chain).
  *  3. VITERBI: per-word best segmentation by a DP over character
  *     positions, unrolled to `maxWordLen` relational steps — position
  *     i's state is the argmax over the ≤ maxPieceLen predecessor states
  *     joined against the piece table on the connecting substring. The
  *     DP score is a product of the smoothed probabilities accumulated
  *     in a fixed left-to-right order (one IEEE multiply per step —
  *     deterministic); ties break by (fewer pieces, then lexicographic
  *     segmentation path) — a total order, since the path string
  *     identifies the segmentation.
  *  4. EM: piece counts = word-frequency-weighted occurrences in the
  *     Viterbi paths; re-smooth; repeat.
  *  5. PRUNE: keep all single characters + the top `pruneMulti`
  *     multi-char pieces by (EM count desc, piece asc) — the
  *     deterministic practical pruning rule (Kudo's loss-ranked pruning
  *     with the Viterbi-count approximation of the loss) — then run a
  *     final EM pass over the pruned vocabulary.
  *
  * Scale shape at 100 TB: everything after the one corpus-sized
  * word-count aggregation is bounded by the DISTINCT vocabulary (the
  * corpus enters only through word frequencies, as in [[Bpe]]). The
  * unrolled relational DP below (vocab-bounded join + per-word window
  * per step, localCheckpoint per step) is the REFERENCE implementation;
  * since r15 [[train]]/[[trainEm]] run the bit-identical NARROW forms
  * ([[viterbiNarrow]]/[[fbArrays]]/[[expectedCountsNarrow]]): the piece
  * table is bounded by configuration (singles + seedMulti), so each
  * round collects it once (the IVF-centroid bounded-collect class) and
  * bakes it into a single zero-shuffle projection chain — per round only
  * the piece-count aggregation runs as a Spark job. No udf, no
  * driver-side loop over data.
  */
object Unigram {

  /** Default DP unroll depth — words longer than this are excluded from
    * training (and from fertility reporting) by the registered queries;
    * real trainers cap candidate and word lengths the same way. */
  val MaxWordLen = 8

  /** Longest seed substring — SentencePiece's max_sentencepiece_length
    * analog (default 16 there; 4 here keeps the seed table tight). */
  val MaxPieceLen = 4

  /** Seed vocabulary (piece, n): substrings of length 1..maxPieceLen of
    * the weighted word vocabulary; all single chars + top `seedMulti`
    * multi-char substrings by (count desc, piece asc). */
  def seed(words: DataFrame, maxPieceLen: Int, seedMulti: Int): DataFrame = {
    val subs = words
      .select(col("w"), col("wc"),
        explode(sequence(lit(1), least(lit(maxPieceLen), length(col("w"))))).as("l"))
      .select(col("w"), col("wc"), col("l"),
        explode(sequence(lit(1), length(col("w")) - col("l") + 1)).as("p"))
      .select(col("wc"), col("w").substr(col("p"), col("l")).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("n"))
    val multi = subs.filter(length(col("piece")) >= 2)
      .orderBy(col("n").desc, col("piece").asc).limit(seedMulti)
    subs.filter(length(col("piece")) === 1).unionByName(multi)
  }

  /** Add-one-smoothed probabilities over a (piece, n) count table:
    * p = (n+1)/(Σn + |V|) — exact-integer totals through one
    * correctly-rounded IEEE division (bit-identical across engines).
    * The totals row is a 1-row aggregate build side. */
  def probs(cnt: DataFrame): DataFrame = {
    val tot = cnt.agg((sum(col("n")) + count(lit(1))).cast("long").as("tv"))
    cnt.crossJoin(tot)
      .select(col("piece"),
        ((col("n") + 1).cast("double") / col("tv").cast("double")).as("p"))
  }

  /** One Viterbi segmentation pass: best (max-probability) segmentation
    * of every word under the piece model. Returns one row per word:
    * (w, wc, pos = length(w), prob, k = piece count, path = pieces
    * joined by '|'). The DP is unrolled to `maxWordLen` relational
    * steps; each step is a vocab-bounded join + per-word window. */
  def viterbi(words: DataFrame, pieces: DataFrame,
              maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    var dps = Vector(words.select(col("w"), col("wc"),
        lit(0).as("pos"), lit(1.0).as("prob"), lit(0L).as("k"), lit("").as("path"))
      .localCheckpoint())
    for (i <- 1 to maxWordLen) {
      val lo = math.max(0, i - maxPieceLen)
      val prev = dps.slice(lo, i).reduce(_ unionByName _)
      val cand = prev.filter(length(col("w")) >= i)
        .join(pieces,
          col("piece") === substring(col("w"), col("pos") + 1, lit(i) - col("pos")))
        .select(col("w"), col("wc"), lit(i).as("pos"),
          (col("prob") * col("p")).as("prob"), (col("k") + 1).as("k"),
          when(col("path") === "", col("piece"))
            .otherwise(concat(col("path"), lit("|"), col("piece"))).as("path"))
      val win = Window.partitionBy("w")
        .orderBy(col("prob").desc, col("k").asc, col("path").asc)
      dps = dps :+ cand.withColumn("rn", row_number().over(win))
        .filter(col("rn") === 1).drop("rn").localCheckpoint()
    }
    (1 to maxWordLen).map(i => dps(i).filter(length(col("w")) === i))
      .reduce(_ unionByName _)
  }

  /** Word-frequency-weighted Viterbi piece counts over a kept piece set
    * (kept pieces unused by any path count 0). */
  def counts(fin: DataFrame, kept: DataFrame): DataFrame = {
    val used = fin
      .select(col("wc"), explode(split(col("path"), "\\|")).as("piece"))
      .groupBy("piece").agg(sum(col("wc")).as("u"))
    kept.select("piece").join(used, Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u"), lit(0L)).as("n"))
  }

  // ── narrow (zero-job) DP implementations — r15 ─────────────────────────
  //
  // The unrolled relational DP above is the REFERENCE implementation
  // (property-spec'd, and the shape the DuckDB oracles replay). Its cost
  // is orchestration, not data: each of the ~8 steps per pass is a
  // broadcast build + an AQE shuffle stage + a localCheckpoint job over a
  // vocabulary-bounded frame (~5-6 driver jobs per step, measured 198
  // jobs / 11 s job-wall for one trainEm chain at sf0.1). But the piece
  // table every step joins is BOUNDED BY CONFIGURATION (all single chars
  // + seedMulti multi-char pieces), i.e. the same bounded-driver-collect
  // class as the IVF centroid load and the DSIR ratio fit — so the model
  // can be collected ONCE per round and baked into the step expressions
  // as a map literal, turning the whole DP pass into a single narrow
  // projection: no join, no shuffle, no checkpoint, ZERO jobs per step.
  // Every arithmetic/compare below replicates the relational form's
  // expression trees exactly (same operand order, same coalesce-to-0.0
  // padding, same tie-break comparator), so outputs are BIT-IDENTICAL —
  // pinned by UnigramNarrowSpec against the relational reference on the
  // real corpus vocabulary.

  /** [[probs]] as a bounded driver map: p = (n+1)/(Σn + |V|) with the
    * same long→double conversions and ONE IEEE division. */
  def probsMap(cnt: DataFrame): Map[String, Double] = {
    val rows = cnt.select(col("piece"), col("n").cast("long"))
      .collect() // bounded: seed-vocab-sized piece table (config-capped)
    val tv = rows.map(_.getLong(1)).sum + rows.length
    // The relational twin saturates through the SQL cast; a silent Long
    // wrap here would produce wrong probabilities instead. <2^53 also
    // guards the exactness of the long→double conversion below.
    require(tv >= 0 && tv < (1L << 53),
      s"probsMap count total $tv outside the exact-double range [0, 2^53)")
    rows.map(r => r.getString(0) -> (r.getLong(1) + 1).toDouble / tv.toDouble).toMap
  }

  /** [[probsMicro]] as a bounded driver map: p = (n+U)/(Σn + |V|·U) over
    * exact DECIMAL(38,0) micro-counts; the double conversions go through
    * BigDecimal.doubleValue — the identical path Spark's decimal→double
    * cast takes. */
  def probsMicroMap(cnt: DataFrame): Map[String, Double] = {
    import java.math.BigDecimal
    val rows = cnt.select(col("piece"), col("n"))
      .collect() // bounded: seed-vocab-sized piece table (config-capped)
    val u = BigDecimal.valueOf(EmUnit)
    val tv = rows.map(_.getDecimal(1)).foldLeft(BigDecimal.ZERO)(_.add(_))
      .add(u.multiply(BigDecimal.valueOf(rows.length.toLong)))
    rows.map(r => r.getString(0) ->
      r.getDecimal(1).add(u).doubleValue() / tv.doubleValue()).toMap
  }

  import org.apache.spark.sql.Column
  import graft.plans.Once.once

  private def pmLookup(pmLit: Column, piece: Column): Column =
    // try_element_at: missing piece → NULL (ANSI element_at throws)
    try_element_at(pmLit, piece)

  /** Narrow [[viterbi]]: best segmentation per word as ONE projection
    * chain — position states are Once-pinned struct columns, candidates
    * compare with the (prob desc, k asc, path asc) total order. Output
    * schema/rows/values identical to [[viterbi]] (spec-pinned).
    *
    * PRECONDITION (shared with [[fbArrays]]): every single character of
    * every word must be in `pm` — the seed/prune pipeline always retains
    * all single chars, which is what makes these bit-identical to the
    * relational forms. With an externally supplied piece map missing a
    * character, [[viterbi]] emits NO row for the affected word while this
    * form emits one with null prob/k/path (and [[fbArrays]] yields 0.0
    * alphas → NaN span mass); callers with external maps must guarantee
    * the all-singles cover themselves. */
  def viterbiNarrow(words: DataFrame, pm: Map[String, Double],
                    maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    val pmLit = typedlit(pm)
    // argmax via array_sort with an explicit comparator: each candidate
    // subtree appears ONCE in the array — a pairwise when()-fold would
    // re-embed the accumulated tree (and its map literals) in every
    // branch, exploding the serialized plan (observed 20+ MiB task
    // binaries). Comparator = the relational pass's exact total order
    // (prob desc, k asc, path asc), nulls (absent candidates) last.
    def best(cands: Seq[Column]): Column = {
      val sorted = array_sort(array(cands: _*), (l, r) =>
        when(l.isNull && r.isNull, 0).when(l.isNull, 1).when(r.isNull, -1)
          .when(l.getField("prob") > r.getField("prob"), -1)
          .when(l.getField("prob") < r.getField("prob"), 1)
          .when(l.getField("k") < r.getField("k"), -1)
          .when(l.getField("k") > r.getField("k"), 1)
          .when(l.getField("path") < r.getField("path"), -1)
          .when(l.getField("path") > r.getField("path"), 1)
          .otherwise(0))
      element_at(sorted, 1)
    }
    var df = words
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .withColumn("v0", struct(
        lit(1.0).as("prob"), lit(0L).as("k"), lit("").as("path")))
    for (i <- 1 to maxWordLen) {
      val cands = (1 to math.min(maxPieceLen, i)).map { d =>
        val prev = col(s"v${i - d}")
        val piece = substring(col("w"), i - d + 1, d)
        val p = pmLookup(pmLit, piece)
        when(prev.isNotNull && p.isNotNull, struct(
          (prev.getField("prob") * p).as("prob"),
          (prev.getField("k") + 1).as("k"),
          when(prev.getField("path") === "", piece)
            .otherwise(concat(prev.getField("path"), lit("|"), piece)).as("path")))
      }
      df = df.withColumn(s"v$i", once(when(length(col("w")) >= i, best(cands))))
    }
    val fin = (1 to maxWordLen)
      .map(i => when(length(col("w")) === i, col(s"v$i")))
      .reduce((a, b) => coalesce(a, b))
    df.select(col("w"), col("wc"), length(col("w")).as("pos"),
        fin.getField("prob").as("prob"), fin.getField("k").as("k"),
        fin.getField("path").as("path"))
  }

  /** Narrow fused forward+backward: one frame per word carrying
    * `alphas`/`betas` arrays (index j holds α(j−1)/β(j−1); entries past
    * the word length are null and never read). Values bit-identical to
    * [[forward]]/[[backward]] — each position sums its ≤ maxPieceLen
    * predecessor terms through the same static left-assoc add chain with
    * the same coalesce-to-0.0 padding for absent/over-length terms.
    * PRECONDITION: the all-singles piece-map cover documented on
    * [[viterbiNarrow]] (an uncovered character gives 0.0 alphas and
    * 0/0 = NaN span mass where [[forward]] drops the word). */
  def fbArrays(words: DataFrame, pm: Map[String, Double],
               maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    val pmLit = typedlit(pm)
    var df = words
      .filter(length(col("w")) >= 1 && length(col("w")) <= maxWordLen)
      .withColumn("a0", lit(1.0)).withColumn("b0", lit(1.0))
    for (i <- 1 to maxWordLen) {
      val aTerms = (1 to maxPieceLen).map { d =>
        if (d > i) lit(0.0)
        else coalesce(
          col(s"a${i - d}") * pmLookup(pmLit, substring(col("w"), i - d + 1, d)),
          lit(0.0))
      }
      val bTerms = (1 to maxPieceLen).map { d =>
        if (d > i) lit(0.0)
        else coalesce(
          col(s"b${i - d}") * pmLookup(pmLit,
            col("w").substr(length(col("w")) - i + 1, lit(d))),
          lit(0.0))
      }
      df = df
        .withColumn(s"a$i", once(when(length(col("w")) >= i, aTerms.reduce(_ + _))))
        .withColumn(s"b$i", once(when(length(col("w")) >= i, bTerms.reduce(_ + _))))
    }
    df.select(col("w"), col("wc"),
      array((0 to maxWordLen).map(i => col(s"a$i")): _*).as("alphas"),
      array((0 to maxWordLen).map(i => col(s"b$i")): _*).as("betas"))
  }

  /** Narrow [[expectedCounts]]: span posterior mass from the
    * [[fbArrays]] frame — the four vocab-bounded joins collapse to array
    * reads + one map-literal probe; only the per-piece SUM shuffles.
    * Same em expression tree, same DECIMAL accumulation. */
  def expectedCountsNarrow(fb: DataFrame, pm: Map[String, Double],
                           kept: DataFrame, maxPieceLen: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pmLit = typedlit(pm)
    val spans = fb
      .select(col("w"), col("wc"), col("alphas"), col("betas"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("wc"), col("alphas"), col("betas"), col("i"),
        explode(sequence(lit(1), least(lit(maxPieceLen), col("i")))).as("d"))
      .withColumn("p", pmLookup(pmLit,
        col("w").substr(col("i") - col("d") + 1, col("d"))))
      .filter(col("p").isNotNull)
      .withColumn("a", element_at(col("alphas"), col("i") - col("d") + 1))
      .withColumn("b", element_at(col("betas"), length(col("w")) - col("i") + 1))
      .withColumn("af", element_at(col("alphas"), length(col("w")) + 1))
    val em = spans.select(
      col("w").substr(col("i") - col("d") + 1, col("d")).as("piece"),
      floor((((col("wc").cast("double") * col("a")) * col("p")) * col("b")
          / col("af")) * lit(1000000.0))
        .cast(DecimalType(38, 0)).as("em"))
    kept.select("piece")
      .join(em.groupBy("piece").agg(sum(col("em")).as("u")), Seq("piece"), "left")
      .select(col("piece"),
        coalesce(col("u"), lit(0L).cast(DecimalType(38, 0))).as("n"))
  }

  /** Full training run: seed → `emRounds` hard-EM rounds → prune (all
    * single chars + top `pruneMulti` multi-char by count) → final EM
    * pass. Returns (final piece counts over the pruned vocabulary,
    * final per-word Viterbi segmentation). */
  def train(wordsIn: DataFrame, maxWordLen: Int = MaxWordLen,
            maxPieceLen: Int = MaxPieceLen, seedMulti: Int = 80,
            emRounds: Int = 2, pruneMulti: Int = 40): (DataFrame, DataFrame) = {
    require(emRounds >= 1 && seedMulti >= 1 && pruneMulti >= 1)
    val words = wordsIn.localCheckpoint() // corpus-sized agg runs once
    var pieceCnt = seed(words, maxPieceLen, seedMulti).localCheckpoint()
    var fin: DataFrame = null
    // r15: each Viterbi pass is the narrow zero-job form over the
    // bounded collected model (bit-identical to the unrolled relational
    // [[viterbi]] — UnigramNarrowSpec); per round only the piece-count
    // aggregation runs as a job.
    for (_ <- 1 to emRounds) {
      fin = viterbiNarrow(words, probsMap(pieceCnt), maxWordLen, maxPieceLen)
      pieceCnt = counts(fin, pieceCnt).localCheckpoint()
    }
    val multi = pieceCnt.filter(length(col("piece")) >= 2)
      .orderBy(col("n").desc, col("piece").asc).limit(pruneMulti)
    val pruned = pieceCnt.filter(length(col("piece")) === 1)
      .unionByName(multi).localCheckpoint()
    fin = viterbiNarrow(words, probsMap(pruned), maxWordLen, maxPieceLen)
    (counts(fin, pruned).localCheckpoint(), fin)
  }

  // ── full-EM (soft) variant ──────────────────────────────────────────────

  /** Micro-unit scale for the full-EM trainer's quantized expected
    * counts: one occurrence = 10⁶ units. Kudo's actual E-step produces
    * REAL expected counts (marginals over all segmentations), whose
    * corpus aggregation would be an order-dependent float sum — the one
    * thing the oracle discipline forbids. Each word-span's expected
    * count is therefore FLOORED to micro-units (a fixed IEEE expression
    * tree per span, then one exact floor) and summed as exact integers
    * (order-free, DECIMAL(38,0)/HUGEINT), so both engines aggregate
    * identically. The 10⁻⁶ quantization is far below any pruning
    * decision's resolution; counts stay wrap-safe up to ~9·10¹²
    * occurrences per (word, span) — raise the unit before that. */
  val EmUnit = 1000000L

  /** Forward pass of the full-EM E-step: α(w, pos) = total probability
    * of ALL segmentations of the prefix w[1..pos] (the forward
    * algorithm — [[viterbi]] with sum in place of max). Determinism:
    * each position's ≤ maxPieceLen predecessor terms are PIVOTED into
    * fixed columns (one row per (w, d) by construction — max over a
    * singleton) and summed through a static left-assoc IEEE add chain —
    * never a groupBy float sum, whose accumulation order is
    * shuffle-dependent. Missing terms contribute exactly 0.0 (x + 0.0
    * = x for the nonnegative masses here). Returns (w, wc, pos, a) for
    * pos 0..len(w). */
  def forward(words: DataFrame, pieces: DataFrame,
              maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    var dps = Vector(words
      .select(col("w"), col("wc"), lit(0).as("pos"), lit(1.0).as("a"))
      .localCheckpoint())
    for (i <- 1 to maxWordLen) {
      val lo = math.max(0, i - maxPieceLen)
      val prev = dps.slice(lo, i).reduce(_ unionByName _)
      val terms = prev.filter(length(col("w")) >= i)
        .join(pieces,
          col("piece") === substring(col("w"), col("pos") + 1, lit(i) - col("pos")))
        .select(col("w"), col("wc"), (lit(i) - col("pos")).as("d"),
          (col("a") * col("p")).as("v"))
      val aggs = (1 to maxPieceLen)
        .map(d => max(when(col("d") === d, col("v"))).as(s"t$d"))
      dps = dps :+ terms.groupBy("w", "wc").agg(aggs.head, aggs.tail: _*)
        .select(col("w"), col("wc"), lit(i).as("pos"),
          (1 to maxPieceLen).map(d => coalesce(col(s"t$d"), lit(0.0)))
            .reduce(_ + _).as("a"))
        .localCheckpoint()
    }
    dps.reduce(_ unionByName _)
  }

  /** Backward pass: β(w, r) = total probability of all segmentations of
    * the SUFFIX of length r (r = len(w) − position, so the recursion
    * unrolls over suffix length exactly like [[forward]] over prefix
    * length). Same pivot + fixed-add-chain determinism discipline.
    * Returns (w, wc, r, b) for r 0..len(w). */
  def backward(words: DataFrame, pieces: DataFrame,
               maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    var dps = Vector(words
      .select(col("w"), col("wc"), lit(0).as("r"), lit(1.0).as("b"))
      .localCheckpoint())
    for (r <- 1 to maxWordLen) {
      val lo = math.max(0, r - maxPieceLen)
      val prev = dps.slice(lo, r).reduce(_ unionByName _)
      val terms = prev.filter(length(col("w")) >= r)
        .join(pieces,
          col("piece") === substring(col("w"),
            length(col("w")) - lit(r) + 1, lit(r) - col("r")))
        .select(col("w"), col("wc"), (lit(r) - col("r")).as("d"),
          (col("b") * col("p")).as("v"))
      val aggs = (1 to maxPieceLen)
        .map(d => max(when(col("d") === d, col("v"))).as(s"t$d"))
      dps = dps :+ terms.groupBy("w", "wc").agg(aggs.head, aggs.tail: _*)
        .select(col("w"), col("wc"), lit(r).as("r"),
          (1 to maxPieceLen).map(d => coalesce(col(s"t$d"), lit(0.0)))
            .reduce(_ + _).as("b"))
        .localCheckpoint()
    }
    dps.reduce(_ unionByName _)
  }

  /** Quantized expected piece counts — the full-EM E-step: for every
    * span (i−d, i] of every word whose substring is a vocabulary piece,
    * the posterior mass routed through that span is
    * α(i−d)·p(piece)·β(len−i)/α(len); weighted by word frequency,
    * floored to [[EmUnit]] micro-units per span (fixed IEEE tree:
    * ((((wc·α)·p)·β)/α_full)·10⁶), and summed exactly per piece.
    * Kept-but-unused pieces count 0 (mirroring [[counts]]). */
  def expectedCounts(words: DataFrame, pieces: DataFrame,
                     fwd: DataFrame, bwd: DataFrame, kept: DataFrame,
                     maxPieceLen: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val spans = words
      .select(col("w"), col("wc"),
        explode(sequence(lit(1), length(col("w")))).as("i"))
      .select(col("w"), col("wc"), col("i"),
        explode(sequence(lit(1), least(lit(maxPieceLen), col("i")))).as("d"))
    val terms = spans
      .join(pieces,
        col("piece") === substring(col("w"), col("i") - col("d") + 1, col("d")))
      .join(fwd.select(col("w").as("fw"), col("pos"), col("a")),
        col("fw") === col("w") && col("pos") === col("i") - col("d"))
      .join(bwd.select(col("w").as("bw"), col("r"), col("b")),
        col("bw") === col("w") && col("r") === length(col("w")) - col("i"))
      .join(fwd.filter(col("pos") === length(col("w")))
          .select(col("w").as("uw"), col("a").as("af")),
        col("uw") === col("w"))
    val em = terms.select(col("piece"),
      floor((((col("wc").cast("double") * col("a")) * col("p")) * col("b")
          / col("af")) * lit(1000000.0))
        .cast(DecimalType(38, 0)).as("em"))
    kept.select("piece")
      .join(em.groupBy("piece").agg(sum(col("em")).as("u")), Seq("piece"), "left")
      .select(col("piece"),
        coalesce(col("u"), lit(0L).cast(DecimalType(38, 0))).as("n"))
  }

  /** Smoothed probabilities over micro-unit counts:
    * p = (n + U)/(Σn + |V|·U) with U = [[EmUnit]] — the [[probs]]
    * add-one rule expressed in micro-units (for integer seed counts the
    * two rules produce BIT-IDENTICAL doubles: numerator and denominator
    * are the same reals scaled by U, both exact, one correctly-rounded
    * divide). Exact integer operands, one IEEE division. */
  def probsMicro(cnt: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val tot = cnt.agg((sum(col("n")) + count(lit(1)) * lit(EmUnit))
      .cast(DecimalType(38, 0)).as("tv"))
    cnt.crossJoin(tot)
      .select(col("piece"),
        ((col("n") + lit(EmUnit)).cast("double") / col("tv").cast("double")).as("p"))
  }

  /** Full-EM training run — Kudo's actual E-step (marginalize over ALL
    * segmentations via forward/backward) where [[train]] uses the
    * hard-EM Viterbi-count approximation: seed → `emRounds` soft-EM
    * rounds → prune (singles + top `pruneMulti` multi-char by expected
    * micro-count) → final soft round. Returns the final expected
    * micro-unit count table (piece, n: DECIMAL(38,0)). Scale shape is
    * [[train]]'s: one corpus word-count agg, then everything
    * DISTINCT-vocabulary-bounded (per-(word, position) DP states ×2
    * directions, vocab-bounded span join, seed-bounded broadcast piece
    * table); steps localCheckpoint so lineage never nests. */
  def trainEm(wordsIn: DataFrame, maxWordLen: Int = MaxWordLen,
              maxPieceLen: Int = MaxPieceLen, seedMulti: Int = 80,
              emRounds: Int = 2, pruneMulti: Int = 40): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(emRounds >= 1 && seedMulti >= 1 && pruneMulti >= 1)
    val words = wordsIn.localCheckpoint() // corpus-sized agg runs once
    // r15: the forward/backward DP and the span-mass join chain run as
    // the narrow zero-job forms over the bounded collected model
    // (bit-identical — UnigramNarrowSpec); per round only the expected-
    // count aggregation runs as a job.
    def emRound(kept: DataFrame): DataFrame = {
      val pm = probsMicroMap(kept)
      val fb = fbArrays(words, pm, maxWordLen, maxPieceLen)
      expectedCountsNarrow(fb, pm, kept, maxPieceLen).localCheckpoint()
    }
    var cnt = seed(words, maxPieceLen, seedMulti)
      .select(col("piece"),
        (col("n").cast(DecimalType(38, 0)) * lit(EmUnit)).as("n"))
      .localCheckpoint()
    for (_ <- 1 to emRounds) cnt = emRound(cnt)
    val multi = cnt.filter(length(col("piece")) >= 2)
      .orderBy(col("n").desc, col("piece").asc).limit(pruneMulti)
    val pruned = cnt.filter(length(col("piece")) === 1)
      .unionByName(multi).localCheckpoint()
    emRound(pruned)
  }
}
