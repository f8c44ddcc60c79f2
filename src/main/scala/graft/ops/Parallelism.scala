package graft.ops

import org.apache.spark.sql.DataFrame

/** Input-parallelism floor for CPU-heavy stages.
  *
  * Spark parallelizes scans by file and row group; a table written as one
  * file with one row group (exactly what small exports and many ingest
  * jobs produce) yields a SINGLE input partition, so every narrow stage
  * rooted on it — explode fan-outs, per-row string assembly, model
  * `mapPartitions` — runs on one core no matter how many the cluster has.
  * `spark.sql.files.maxPartitionBytes` cannot help: a row group is the
  * atomic split unit.
  *
  * [[ensure]] repartitions ONLY when the plan's partition count is below
  * the floor: one cheap round-robin shuffle of the compact pre-fan-out
  * rows buys full-width execution of everything downstream. On healthy
  * inputs (thousands of partitions at 100 TB) it is a no-op, so pipeline
  * stages call it unconditionally at their entrance.
  */
object Parallelism {

  def ensure(df: DataFrame, minPartitions: Int = 0): DataFrame = {
    val min =
      if (minPartitions > 0) minPartitions
      else df.sparkSession.sparkContext.defaultParallelism
    // Read the partition count off the EXECUTED plan's RDD (r16): `.rdd`
    // builds a second QueryExecution with a row deserializer just to ask
    // for a count — an extra full plan compile at every pipeline-stage
    // entrance (this helper is called unconditionally). `toRdd` reuses the
    // frame's own QueryExecution, so no EXTRA job runs; but under AQE,
    // building the RDD of a frame with exchanges still materializes its
    // shuffle stages, and that runs their jobs.
    val parts = df.queryExecution.toRdd.getNumPartitions
    if (parts < min) df.repartition(min) else df
  }

  /** The session's configured shuffle-partition count (the number
    * `orderBy`/`groupBy` exchanges default to). */
  def shufflePartitions(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt

  /** `repartitionByRange` with the shuffle-partition count pinned
    * EXPLICITLY (r15): a bare `repartitionByRange(cols)` is marked
    * REPARTITION_BY_COL, which lets AQE coalesce a small-bytes exchange
    * down to ONE partition — right for shuffle-bound plans, wrong when
    * the exchange exists to DISTRIBUTE heavy per-row compute or a
    * fan-out whose cost AQE cannot see in the map-output bytes (measured:
    * the coalesced form serialized a 480k-row md5 explode onto one core).
    * The explicit count still scales with the deployment's
    * `spark.sql.shuffle.partitions` — nothing is pinned to local[32]. */
  def byRange(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartitionByRange(shufflePartitions(df), cols: _*)

  /** Hash-partitioned sibling of [[byRange]], for exchanges a downstream
    * window/aggregation on the same key will reuse. */
  def byHash(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(shufflePartitions(df), cols: _*)
}
