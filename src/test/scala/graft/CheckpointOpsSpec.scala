package graft

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.CheckpointOps

/** Parity of the fused checkpoint fold ([[CheckpointOps]]) with the plain
  * two-job Spark answer, for each fold shape its call sites pass (row
  * count, 0/1 int-flag sum, nullable long max, DECIMAL(38,0) sum), on
  * frames with empty partitions; and the fusion contract itself: ONE job
  * per call, run under an SQL execution id. */
class CheckpointOpsSpec extends AnyFunSuite {
  import TestSpark.spark

  /** 8 range partitions, rows only in the first half: partitions 4–7 are
    * empty. Columns: id, flag (0/1 int), l (long, null when id % 4 = 0),
    * d (DECIMAL(38,0), 4e18 + id — the 20-row sum exceeds Long.MaxValue). */
  private def frame: DataFrame =
    spark.range(0, 40, 1, 8).filter(col("id") < 20)
      .select(col("id"),
        (col("id") % 3 === 0).cast("int").as("flag"),
        when(col("id") % 4 =!= 0, col("id") * 7).cast("long").as("l"),
        (lit(BigDecimal("4000000000000000000")).cast("decimal(38,0)") + col("id"))
          .cast("decimal(38,0)").as("d"))

  /** Run `body` under a fresh job group and return its result with the
    * properties of every job it started. A marker job run afterwards
    * flushes the listener bus: events are delivered in order, so once the
    * marker's start arrives every job of `body` has been seen. */
  private def jobsOf[T](body: => T): (T, Seq[Properties]) = {
    val sc = spark.sparkContext
    val group = s"ckpt-${java.util.UUID.randomUUID()}"
    val seen = mutable.ArrayBuffer[Properties]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) seen.synchronized(seen += e.properties)
        else if (g == s"$group-marker") markerSeen = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "checkpoint spec")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markerSeen, "listener bus did not deliver the marker job")
      (out, seen.synchronized(seen.toList))
    } finally sc.removeSparkListener(listener)
  }

  private def rows(df: DataFrame) =
    df.orderBy("id").collect().toSeq

  test("the spec frame has empty partitions") {
    val sizes = frame.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.length == 8 && sizes.count(_ == 0) == 4, sizes.mkString(","))
  }

  test("row count equals Dataset.count, in one job") {
    val df = frame
    val ((ck, n), jobs) = jobsOf(
      CheckpointOps.localCheckpointAggregate(df, 0L)((c, _) => c + 1, _ + _))
    assert(jobs.size == 1)
    assert(n == df.count() && n == 20L)
    assert(rows(ck) == rows(df))
  }

  test("0/1 int-flag sum equals sum(flag), in one job") {
    val df = frame
    val ((_, s), jobs) = jobsOf(
      CheckpointOps.localCheckpointAggregate(df, 0L)((c, r) => c + r.getInt(1), _ + _))
    assert(jobs.size == 1)
    assert(s == df.agg(sum(col("flag"))).head().getLong(0))
    assert(s == 7L)
  }

  private def longMax(df: DataFrame) =
    CheckpointOps.localCheckpointAggregate(df, Option.empty[Long])(
      (m, r) => if (r.isNullAt(2)) m
                else Some(math.max(m.getOrElse(Long.MinValue), r.getLong(2))),
      (a, b) => (a ++ b).maxOption)

  private def plainMax(df: DataFrame): Option[Long] = {
    val r = df.agg(max(col("l"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  test("long max skips null rows and equals max(l), in one job") {
    val df = frame
    val ((_, m), jobs) = jobsOf(longMax(df))
    assert(jobs.size == 1)
    assert(m == plainMax(df) && m == Some(19L * 7))
  }

  test("long max is None when every row is null and on an empty frame") {
    val allNull = frame.withColumn("l", lit(null).cast("long"))
    val ((_, m1), jobs1) = jobsOf(longMax(allNull))
    assert(jobs1.size == 1)
    assert(m1.isEmpty && plainMax(allNull).isEmpty)
    val empty = frame.filter(col("id") < 0)
    val ((ck, m2), jobs2) = jobsOf(longMax(empty))
    assert(jobs2.size == 1)
    assert(m2.isEmpty && plainMax(empty).isEmpty)
    assert(ck.isEmpty)
  }

  test("DECIMAL(38,0) sum above Long.MaxValue equals sum(d), in one job") {
    val df = frame
    val ((_, s), jobs) = jobsOf(
      CheckpointOps.localCheckpointAggregate(df, java.math.BigInteger.ZERO)(
        (acc, r) => if (r.isNullAt(3)) acc
                    else acc.add(r.getDecimal(3, 38, 0).toJavaBigDecimal.toBigInteger),
        _.add(_)))
    assert(jobs.size == 1)
    val plain = df.agg(sum(col("d"))).head().getDecimal(0).toBigInteger
    assert(s == plain)
    assert(s.compareTo(java.math.BigInteger.valueOf(Long.MaxValue)) > 0)
  }

  test("the fused checkpoint job runs under an SQL execution id") {
    val ((_, n), jobs) = jobsOf(
      CheckpointOps.localCheckpointAggregate(frame, 0L)((c, _) => c + 1, _ + _))
    assert(n == 20L && jobs.size == 1)
    assert(Option(jobs.head.getProperty("spark.sql.execution.id")).exists(_.nonEmpty),
      "fused checkpoint job ran outside SQLExecution.withNewExecutionId")
  }
}
