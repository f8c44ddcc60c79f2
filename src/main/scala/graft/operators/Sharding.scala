package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._


/** Token-balanced shard assignment — a training corpus is consumed as S
  * parallel shards, and data loaders stall on the heaviest one, so shards
  * must balance TOKENS, not document counts (a count-balanced split can
  * be arbitrarily token-skewed: one shard of books, one of tweets).
  *
  * Snake (boustrophedon) assignment over the size-sorted corpus: sort by
  * (size desc, id asc), deal rows to shards 0..S−1, then S−1..0,
  * alternating per round. Every round gives each shard exactly one doc
  * and reverses the order, so a shard that got round r's largest doc gets
  * round r+1's smallest — imbalance is bounded by ONE round's spread
  * instead of accumulating, the classic one-pass approximation of LPT
  * scheduling (Graham'69) that stays a pure function of global rank.
  *
  * Scale shape: the global rank is a range-partitioned distributed sort
  * plus `zipWithIndex` (partition offsets from one count job) — NOT an
  * un-partitioned SQL Window, which would funnel 100 TB through a single
  * task. The sort keys on (size, id), both ON the row — no giant payload
  * moves beyond the projected columns the caller passes in.
  */
object Sharding {

  /** Append (rank, shard): rank = position in (sizeCol desc, idCol asc)
    * order; shard = snake assignment into `nShards`. Deterministic —
    * the sort key is a total order PROVIDED `idCol` is unique (the same
    * precondition [[Dedup.lshPairs]] states): a duplicated id
    * makes the rank of the tied rows run-dependent, which would break
    * byte-identical replays. Callers own id uniqueness — it is not
    * re-verified here (a distinct-count pass at 100 TB is a full extra
    * shuffle). */
  def snakeShards(df: DataFrame, nShards: Int,
                  sizeCol: String, idCol: String): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    val ranked = globalRank(df, Seq(col(sizeCol).desc, col(idCol).asc))
    ranked
      .withColumn("shard",
        when(expr(s"rank div $nShards") % 2 === 0, col("rank") % nShards)
          .otherwise(lit(nShards - 1) - col("rank") % nShards)
          .cast("long"))
  }

  /** Append a 0-based `rank` column in `sortCols` order — a
    * range-partitioned distributed sort plus `zipWithIndex` (partition
    * offsets from one count job), NOT an un-partitioned SQL Window that
    * would funnel the corpus through a single task. Deterministic iff
    * `sortCols` is a total order over the rows (same caller-owned
    * precondition as [[snakeShards]]). */
  def globalRank(df: DataFrame, sortCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    // r16: internal-row zipWithIndex (same sort, same partition-offset
    // ranks) — the old public-API form deserialized every row to an
    // external Row and re-encoded it, a corpus-wide decode/encode
    // round-trip per call (guide §1.2 per-task work).
    org.apache.spark.sql.graft.CheckpointBridge.zipWithRank(
      df.orderBy(sortCols: _*), "rank")
}
