package graft

import org.apache.spark.sql.functions._

/** Streaming state-size scale probe (r13 verdict task 4): drive the
  * SHIPPED [[graft.streaming.EventStream.streamingSessionize]] under
  * Trigger.AvailableNow at m× the sf event volume and report the
  * StreamingQueryProgress stateOperators metrics per microbatch — the
  * 100 TB streaming risk is STATE growth, which the batch-twin oracle
  * (`stream_sessionize`) cannot see.
  *
  * Two replication modes, two different claims:
  *  - `extend`: replica r's events shift LATER by r·(span + horizon) —
  *    the unbounded-stream shape (same users, m× longer history). The
  *    state-boundedness claim: per-batch state rows stay ~flat (bounded
  *    by users active inside the watermark horizon) while cumulative
  *    input grows m× — eviction must keep up with the watermark.
  *  - `users`: replica r's users shift into a disjoint id band, times
  *    unchanged (m× concurrent users). The state-proportionality claim:
  *    state rows scale with ACTIVE KEYS, not with total events.
  *
  * Events land as `nFiles` TIME-ORDERED parquet files (ascending names
  * + mod-times, the StreamingSinksSpec discipline) and the source reads
  * maxFilesPerTrigger=1, so the run is nFiles microbatches with a
  * watermark that really advances between batches.
  *
  * Usage: runMain graft.StreamProbe [sfDir] [mult] [extend|users] [nFiles]
  */
object StreamProbe {

  /** Time-bucket width for splitting `outSpan` ns across `nFiles` files.
    * Used divide-FIRST: `(ts - outMin) / bucketWidthFor(...)` — the
    * multiply-first form `(ts - outMin) * nFiles / outSpan` overflows
    * Long around mult~220 on a 30-day sf0.1 span × 16 files, yielding a
    * negative bucket that matches no output file and silently drops the
    * event (r14 ADVICE). Ceil division keeps every offset < outSpan
    * strictly below nFiles. */
  private[graft] def bucketWidthFor(outSpan: Long, nFiles: Int): Long =
    (outSpan + nFiles - 1L) / nFiles

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = if (args.length > 1) args(1).toInt else 10
    val mode = if (args.length > 2) args(2) else "extend"
    val nFiles = if (args.length > 3) args(3).toInt else 16
    require(mode == "extend" || mode == "users", s"unknown mode $mode")

    val spark = GraftSession.fromEnv(defaultCores = 32)

    val gapSec = 600L
    val delay = "10 minutes" // the registered streamingSessionize default
    // horizon past which a session provably closes: gap + delay (+ slack)
    val horizonNs = (gapSec + 600L + 60L) * 1000000000L

    // normalized events (ts = ns-epoch long — Tables handles every
    // physical ts generation); keep the full column set so the stream
    // schema matches the registered source's
    val ev = graft.queries.Tables.table(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val r0 = ev.agg(min("ts"), max("ts"), count(lit(1)),
      countDistinct("user_id")).head() // bounded: 1-row agg
    val (tsMin, tsMax, nBase, nUsers) =
      (r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3))
    val spanNs = tsMax - tsMin

    val reps = ev.withColumn("_rep", explode(lit((0 until mult).toArray)))
      .withColumn("event_id", col("event_id") + col("_rep").cast("long") * 100000000L)
    val scaled = (mode match {
      case "extend" => reps.withColumn("ts",
        col("ts") + col("_rep").cast("long") * (spanNs + horizonNs))
      case "users" => reps.withColumn("user_id",
        col("user_id") + col("_rep").cast("long") * 1000000000L)
    }).drop("_rep")

    // time-ordered files: bucket by event-time range, write sequentially
    // with ascending names + mod-times so the file source's batch order
    // is the time order and the watermark advances between batches
    val outMin = tsMin
    val outSpan = (if (mode == "extend") spanNs + (mult - 1L) * (spanNs + horizonNs)
                   else spanNs) + 1L
    val streamDir = java.nio.file.Files.createTempDirectory("graft_stream_probe")
    val bucketWidth = bucketWidthFor(outSpan, nFiles)
    val bucketed = scaled.withColumn("_b",
      least(lit(nFiles - 1), ((col("ts") - outMin) / bucketWidth).cast("int")))
      .localCheckpoint()
    for (i <- 0 until nFiles) {
      val tmp = s"$streamDir/tmp_$i"
      bucketed.filter(col("_b") === i).drop("_b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(f"$streamDir/$i%03d.parquet"))
      Thread.sleep(5) // distinct mod times → deterministic file order
    }

    val stream = graft.streaming.EventStream.readEventStream(spark, streamDir.toString)
    val q = graft.streaming.EventStream.streamingSessionize(stream, gapSec, delay)
      .writeStream.format("noop")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    println(s"STREAMMETA mode=$mode m=$mult files=$nFiles baseEvents=$nBase " +
      s"users=$nUsers spanSec=${spanNs / 1000000000L} gapSec=$gapSec delay=${delay.replace(' ', '_')}")
    var cumIn = 0L
    var maxState = 0L
    // Print EVERY progress entry: AvailableNow runs a final zero-input
    // flush batch to advance the watermark — the batch that emits the
    // last closed sessions — and an input>0 filter would hide its
    // sink/state activity (the r14 ADVICE finding).
    for (p <- q.recentProgress) {
      cumIn += p.numInputRows
      val so = p.stateOperators.headOption
      val rows = so.map(_.numRowsTotal).getOrElse(-1L)
      val upd = so.map(_.numRowsUpdated).getOrElse(-1L)
      val mem = so.map(_.memoryUsedBytes).getOrElse(-1L)
      maxState = math.max(maxState, rows)
      val wm = Option(p.eventTime.get("watermark")).getOrElse("-")
      println(s"STREAMSTATE mode=$mode m=$mult batch=${p.batchId} " +
        s"input=${p.numInputRows} cumInput=$cumIn stateRows=$rows " +
        s"updated=$upd stateMB=${mem / 1e6} out=${p.sink.numOutputRows} wm=$wm")
    }
    println(s"STREAMSUMMARY mode=$mode m=$mult cumInput=$cumIn " +
      s"maxStateRows=$maxState users=$nUsers " +
      s"activeKeyBound=${if (mode == "users") nUsers * mult else nUsers}")
    spark.stop()
  }
}
