package graft.ops

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow


/** Fused eager-localCheckpoint action for iterative chains.
  *
  * `Dataset.localCheckpoint()` (eager) materializes its blocks by running
  * `rdd.count()` internally and DISCARDS the count; an iterative chain that
  * checkpoints each round and then checks convergence pays a SECOND driver
  * job (and, for `Dataset.count()`, an extra AQE exchange stage) per round
  * just to re-read a number the materialization already computed. At the
  * bench's round counts that second job is pure scheduling wall (guide §5:
  * the driver should do almost no data work — and no redundant jobs).
  *
  * [[localCheckpointAggregate]] replicates the eager local checkpoint
  * exactly — same `executedPlan.execute().map(_.copy())`, same
  * `rdd.localCheckpoint()`, same SQL execution id around the action, same
  * `LogicalRDD.fromDataset(...).newInstance()` wrapper (so output
  * partitioning/ordering survive for downstream exchange reuse, and
  * attribute ids are fresh for self-joins) — but its materializing action
  * is the caller's fold over the rows, and it RETURNS the fold's result:
  * one job where checkpoint + count/sum/max was two. The fold is the
  * action's RESULT, computed once per partition of the now-persisted RDD
  * — no extra pass, no exchange, no accumulator semantics.
  */
object CheckpointOps {

  import org.apache.spark.sql.graft.CheckpointBridge

  /** Eager local checkpoint of `df` that returns (checkpointed frame,
    * `rdd.aggregate(zero)(seqOp, combOp)` over its internal rows) from the
    * single materializing job. The caller owns the schema: `seqOp` reads
    * columns by ordinal (e.g. a `(cond).cast("int")` change flag at a
    * known position). The job runs under a new SQL execution id, as
    * `Dataset.localCheckpoint` does, so SQL metrics see it and it can be
    * cancelled. */
  def localCheckpointAggregate[A: ClassTag](df: DataFrame, zero: A)
                                           (seqOp: (A, InternalRow) => A,
                                            combOp: (A, A) => A): (DataFrame, A) =
    CheckpointBridge.withNewExecutionId(df) {
      val rdd = CheckpointBridge.checkpointRdd(df)
      val a = rdd.aggregate(zero)(seqOp, combOp)
      (CheckpointBridge.wrap(df, rdd), a)
    }
}
