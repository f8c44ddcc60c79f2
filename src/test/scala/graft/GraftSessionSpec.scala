package graft

import java.lang.management.ManagementFactory

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.SparkEnv
import org.scalatest.funsuite.AnyFunSuite

/** Settings [[GraftSession]] derives from the JVM it runs in. */
class GraftSessionSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a local session's memory page is no humongous object on G1") {
    val vm = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    assume(vm.getVMOption("UseG1GC").getValue == "true", "the test JVM does not run G1")
    val region = vm.getVMOption("G1HeapRegionSize").getValue.toLong
    spark // the session, and with it the memory manager, exists
    val page = SparkEnv.get.memoryManager.pageSizeBytes
    // G1 allocates an array of half a region or more as a humongous object
    assert(page < region / 2, s"page $page B, G1 region $region B")
  }
}
