package org.apache.spark.sql.graft

import org.apache.spark.util.ShutdownHookManager
import org.scalatest.funsuite.AnyFunSuite

/** Spec scratch directories ([[_root_.graft.TestDirs]]) are registered
  * with Spark's shutdown-delete hook, so a test run leaves none of them
  * behind. Lives in Spark's package to read its `private[spark]`
  * registry. */
class ShutdownDeleteBridgeSpec extends AnyFunSuite {
  test("a spec scratch directory is registered for deletion at JVM exit") {
    val dir = _root_.graft.TestDirs.create("graft_test_dirs").toFile
    assert(dir.isDirectory)
    assert(ShutdownHookManager.hasShutdownDeleteDir(dir))
  }
}
