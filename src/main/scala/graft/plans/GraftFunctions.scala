package graft.plans

import org.apache.spark.sql.SparkSession

/** Installation of graft's optimizer rule. [[GraftFunctions.register]]
  * is the one path: `GraftSession` calls it on every session it builds,
  * and `Tables.table` calls it lazily on any session a caller hands in
  * (including `newSession()` children, which start with an empty rule
  * list). The rule lands in the optimizer's "User Provided Optimizers"
  * batch.
  *
  * The native expressions need no registration: every operator builds
  * its kernel directly as a Catalyst expression (`ColumnBridge.column`),
  * so a frame resolves in any session.
  */
object GraftFunctions {

  /** Idempotent per-session installation of [[GateHoist]]. */
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(GateHoist))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GateHoist
}
