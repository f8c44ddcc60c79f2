package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge to the `private[sql]` pieces of `Dataset.localCheckpoint`'s
  * implementation, so [[graft.ops.CheckpointOps]] can replicate the eager
  * local checkpoint exactly (same executedPlan RDD, same
  * `LogicalRDD.fromDataset(...).newInstance()` wrapper preserving output
  * partitioning/ordering, same SQL execution id around the action) while
  * fusing the materializing action with the caller's convergence fold.
  * Same package-escalation technique as [[ColumnBridge]]. */
object CheckpointBridge {

  /** The `executedPlan.execute().map(_.copy())` RDD `Dataset.checkpoint`
    * builds, already marked for local checkpointing (not yet materialized —
    * the caller's action does that). */
  def checkpointRdd(df: DataFrame): RDD[InternalRow] = {
    val rdd = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.execute().map(_.copy())
    rdd.localCheckpoint()
    rdd
  }

  /** Run `body` under a new "localCheckpoint" SQL execution for `df`'s
    * query execution, as `Dataset.localCheckpoint`'s own action does: its
    * jobs carry `spark.sql.execution.id`, so SQL metrics and the SQL tab
    * see them and cancelling the execution cancels them. */
  def withNewExecutionId[T](df: DataFrame)(body: => T): T =
    SQLExecution.withNewExecutionId(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution,
      Some("localCheckpoint"))(body)

  /** Wrap the (materialized) checkpoint RDD exactly as
    * `Dataset.checkpoint` does. */
  def wrap(df: DataFrame, rdd: RDD[InternalRow]): DataFrame =
    ColumnBridge.ofRows(df.sparkSession,
      LogicalRDD.fromDataset(rdd,
        df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
        isStreaming = false).newInstance())

  /** Append a 0-based long `rank` column in the frame's CURRENT row order
    * via `zipWithIndex`, staying in the internal row format end to end.
    * The public-API form (`df.rdd.zipWithIndex()` + `createDataFrame`)
    * deserializes every row to an external `Row` and re-encodes it — a
    * full corpus decode/encode round-trip per call. Here the executed
    * plan's `InternalRow`s flow straight through a reused `JoinedRow`
    * into the `LogicalRDD` scan, whose unsafe projection gives each
    * consumed row its own buffer (the standard operator contract, same
    * as any narrow map). Ranks are identical to the public-API form:
    * same RDD, same `zipWithIndex` partition offsets. */
  def zipWithRank(df: DataFrame, rankName: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.types.LongType
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val zipped = ds.queryExecution.executedPlan.execute()
      .zipWithIndex().mapPartitions { it =>
        val joined = new JoinedRow
        val rank = new GenericInternalRow(1)
        it.map { case (r, i) =>
          rank.update(0, i)
          joined.apply(r, rank): InternalRow
        }
      }
    val output = ds.queryExecution.analyzed.output :+
      AttributeReference(rankName, LongType, nullable = false)()
    ColumnBridge.ofRows(ds.sparkSession,
      LogicalRDD(output, zipped)(ds.sparkSession).newInstance())
  }
}
