package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.graft.ShutdownDeleteBridge

/** Scratch directories for specs: each is created under `java.io.tmpdir`
  * and registered with Spark's shutdown-delete hook, so the test JVM
  * removes it, contents and all, when it exits. */
object TestDirs {
  def create(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    ShutdownDeleteBridge.deleteOnExit(dir.toFile)
    dir
  }
}
