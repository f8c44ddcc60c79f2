package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionMemo

/** The [[SessionMemo]] contract — per-session entries, a within-session
  * re-hit returning the same instance, no entry stored for a failed
  * build, `clear()` — and the documented staleness of the corpusCount
  * memo after an external write, with `clear()` as its remedy. */
class SessionMemoSpec extends AnyFunSuite {
  import TestSpark.spark

  test("a second session gets its own entry") {
    val memo = new SessionMemo[String, AnyRef]
    val s2 = spark.newSession()
    val a = memo(spark, "k")(new Object)
    val b = memo(s2, "k")(new Object)
    assert(!(a eq b))
    assert(memo(spark, "k")(new Object) eq a)
    assert(memo(s2, "k")(new Object) eq b)
  }

  test("a second call in the same session returns the same instance without building") {
    val memo = new SessionMemo[String, AnyRef]
    var builds = 0
    def build() = { builds += 1; new Object }
    val a = memo(spark, "k")(build())
    val b = memo(spark, "k")(build())
    assert(a eq b)
    assert(builds == 1)
    assert(!(memo(spark, "other")(build()) eq a) && builds == 2)
  }

  test("a build that throws stores nothing and the next call builds again") {
    val memo = new SessionMemo[String, AnyRef]
    var builds = 0
    val e = intercept[IllegalStateException] {
      memo(spark, "k") { builds += 1; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    val v = memo(spark, "k") { builds += 1; "built" }
    assert(v == "built" && builds == 2)
  }

  test("clear() drops every entry") {
    val memo = new SessionMemo[String, AnyRef]
    val s2 = spark.newSession()
    val a = memo(spark, "k")(new Object)
    val b = memo(s2, "k")(new Object)
    memo.clear()
    assert(!(memo(spark, "k")(new Object) eq a))
    assert(!(memo(s2, "k")(new Object) eq b))
  }

  test("corpusCount serves a stale count after an external write until the memo is cleared") {
    val dir = TestDirs.create("graft_session_memo").resolve("corpus").toString
    spark.range(10).write.parquet(dir)
    def count() = graft.operators.Similarity.corpusCount(spark.read.parquet(dir))
    assert(count() == 10L)
    spark.range(100, 105).write.mode("append").parquet(dir)
    // INVARIANT breach: the path changed under a live session
    assert(count() == 10L, "memo no longer keys a fresh read of the same path")
    graft.operators.Similarity.countMemo.clear()
    assert(count() == 15L)
  }
}
