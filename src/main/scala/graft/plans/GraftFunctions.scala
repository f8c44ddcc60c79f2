package graft.plans

import org.apache.spark.sql.SparkSession

/** Installation of graft's optimizer rules. [[GraftFunctions.register]]
  * is the one path: `GraftSession` calls it on every session it builds,
  * and `Tables.table` calls it lazily on any session a caller hands in
  * (including `newSession()` children, which start with an empty rule
  * list). The rules land in the optimizer's "User Provided Optimizers"
  * batch.
  *
  * The native expressions need no registration: every operator builds
  * its kernel directly as a Catalyst expression (`ColumnBridge.column`),
  * so a frame resolves in any session.
  */
object GraftFunctions {

  /** Idempotent per-session installation of [[IntersectCountRewrite]]
    * and [[GateHoist]]. */
  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(IntersectCountRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ IntersectCountRewrite
    if (!spark.experimental.extraOptimizations.contains(GateHoist))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ GateHoist
  }
}
