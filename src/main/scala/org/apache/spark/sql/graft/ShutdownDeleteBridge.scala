package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Bridge to Spark's `private[spark]` shutdown-delete registry: a
  * directory registered here stays readable while the JVM runs and is
  * deleted recursively by the shutdown hook that removes Spark's own
  * local directories. Same package-escalation technique as
  * [[ColumnBridge]]. */
object ShutdownDeleteBridge {
  def deleteOnExit(dir: File): Unit = ShutdownHookManager.registerShutdownDeleteDir(dir)
}
