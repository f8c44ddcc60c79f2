package org.apache.spark.sql.graft

import java.io.File

import org.apache.spark.util.ShutdownHookManager

/** Test-side read of Spark's `private[spark]` shutdown-delete registry. */
object ShutdownDeleteProbe {
  def registered(dir: File): Boolean = ShutdownHookManager.hasShutdownDeleteDir(dir)
}
