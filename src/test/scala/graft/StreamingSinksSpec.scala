package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Sinks
import graft.streaming.EventStream

class StreamingSinksSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("streaming tumbling window agg equals batch over same files") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val want = EventStream.tumblingTypeCounts(batch, 300)
      .select("window_start_epoch", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet

    val streamDir = TestDirs.create("graft_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStream.readEventStream(spark, streamDir.toString)
    val q = EventStream.streamingTumblingTypeCounts(stream, 300, "1 hour")
      .writeStream
      .format("memory").queryName("win_agg")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("win_agg")
      .select("window_start_epoch", "event_type", "n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(got == want)
  }

  test("stream-static dim enrichment equals batch left join; unknowns flow through") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .select("event_id", "user_id", "event_type")
    val dims = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_custkey") % 7 =!= 0)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val want = EventStream.enrich(batch, dims)
      .select("event_id", "user_id", "event_type", "segment")
      .as[(Long, Long, String, String)].collect().toSet

    val streamDir = TestDirs.create("graft_enrich_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStream.readEventStream(spark, streamDir.toString)
      .select("event_id", "user_id", "event_type")
    val q = EventStream.enrich(stream, dims)
      .select("event_id", "user_id", "event_type", "segment")
      .writeStream
      .format("memory").queryName("enriched")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("enriched")
      .as[(Long, Long, String, String)].collect().toSet
    assert(got == want)
    assert(got.exists(_._4 == "unknown"), "filtered-dim miss path never fired")
    assert(got.exists(_._4 != "unknown"), "no event matched the dim")
  }

  test("streaming key dedup (watermark-bounded state) equals batch distinct") {
    val dir = "/root/testdata/sf0.001"
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val want = EventStream.dedupKeys(batch)
      .as[(Long, String)].collect().toSet

    val streamDir = TestDirs.create("graft_dedup_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStream.readEventStream(spark, streamDir.toString)
    // Delay wider than the data's time range: nothing is late, so the
    // streaming result must equal batch distinct exactly.
    val q = EventStream.streamingDedupKeys(stream, "30 days")
      .writeStream
      .format("memory").queryName("key_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("key_dedup").as[(Long, String)].collect()
    assert(got.length == got.toSet.size) // each key emitted exactly once
    assert(got.toSet == want)
  }

  test("Tables.normalizeTs canonicalizes every physical ts shape to the same ns-epoch long") {
    // The driver testdata has shipped ts as TIMESTAMP(NANOS)-read-as-long
    // AND as TIMESTAMP(MICROS)/NTZ across generations; every downstream
    // query assumes ns-epoch longs. Three shapes, one instant each.
    import org.apache.spark.sql.types._
    val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    val asLong = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, micros * 1000L)),
      new StructType().add("event_id", LongType).add("ts", LongType))
    val asNtz = spark.sql(
      s"SELECT 1L AS event_id, make_timestamp_ntz(2023, 11, 14, 22, 13, 20.123456) AS ts")
    val asTs = spark.sql(
      s"SELECT 1L AS event_id, timestamp_micros(${micros}L) AS ts")
    for ((df, kind) <- Seq((asLong, "long"), (asNtz, "ntz"), (asTs, "instant"))) {
      val out = graft.queries.Tables.normalizeTs(df)
      assert(out.schema("ts").dataType == LongType, s"$kind: not a long")
      val v = out.select("ts").as[Long].head()
      assert(v == micros * 1000L, s"$kind: $v != ${micros * 1000L}")
    }
  }

  test("streaming windowed top-k (trending) equals the batch stream_topk twin") {
    val dir = "/root/testdata/sf0.001"
    val want = SparkEntry.queries("stream_topk")(spark, dir)
      .select("window_start_epoch", "rank", "event_type", "n_events")
      .as[(Long, Long, String, Long)].collect().toSet

    val streamDir = TestDirs.create("graft_topk_stream")
    Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStream.readEventStream(spark, streamDir.toString)
    val q = EventStream.streamingTumblingTypeCounts(stream, 300, "1 hour")
      .writeStream
      .format("memory").queryName("topk_counts")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // rank the final streaming state exactly as the batch twin does
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start_epoch")
      .orderBy(col("n_events").desc, col("event_type").asc)
    val got = spark.table("topk_counts")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select("window_start_epoch", "rank", "event_type", "n_events")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == want)
  }

  /** Split sf0.001 events into three TIME-ORDERED files → three
    * microbatches, so watermarks advance between batches. */
  private def timeOrderedStreamDir(): String = {
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val streamDir = TestDirs.create("graft_ts_stream")
    val ordered = EventStream.withEventTime(batch).orderBy("event_time")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val n = ordered.count()
    val rows = ordered.collect()
    rows.grouped((n / 3 + 1).toInt).zipWithIndex.foreach { case (chunk, i) =>
      val part = spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toIndexedSeq, 1), ordered.schema)
      part.coalesce(1).write.mode("overwrite").parquet(s"$streamDir/tmp_$i")
      val f = new java.io.File(s"$streamDir/tmp_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, streamDir.resolve(f"$i%03d.parquet"))
      Thread.sleep(5) // distinct mod times → deterministic file order
    }
    streamDir.toString
  }

  test("flatMapGroupsWithState streaming sessionize matches batch sessions") {
    val dir = "/root/testdata/sf0.001"
    val gap = 600L
    val delaySec = 1L
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val want = EventStream.sessionize(batch, gap)
      .select("user_id", "n_events", "session_start_epoch", "session_end_epoch")
      .as[(Long, Long, Long, Long)].collect().toSet
    val maxTs = EventStream.withEventTime(batch)
      .select(max(col("event_time").cast("long"))).as[Long].head()

    val stream = EventStream.readEventStream(spark, timeOrderedStreamDir())
      .where(col("event_id").isNotNull) // no-op, keeps schema identical
    val q = EventStream.streamingSessionize(stream, gap, s"$delaySec seconds")
      .writeStream
      .format("memory").queryName("sess_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("sess_stream")
      .as[(Long, Long, Long, Long)].collect().toSet

    // Every emitted session is exactly a batch session...
    assert(got.subsetOf(want), s"spurious sessions: ${got.diff(want).take(3)}")
    // ...and every session the final watermark provably closed was emitted.
    val mustEmit = want.filter { case (_, _, _, end) => end + gap + 2 < maxTs - delaySec }
    assert(mustEmit.subsetOf(got),
      s"missing closed sessions: ${mustEmit.diff(got).take(3)} of ${mustEmit.size}")
    assert(got.nonEmpty)
  }

  test("streaming sessionize EXACTLY equals the stream_sessionize batch twin (no-timeout regime)") {
    // With a watermark delay wider than the data's ~30-day span no
    // event-time timeout ever fires, so streamingSessionize's emitted set
    // is exactly the sessions closed by a successor — each user's
    // non-final sessions — which is the registered (DuckDB-oracled)
    // stream_sessionize batch twin. Row-for-row equality across three
    // time-ordered microbatches certifies the flatMapGroupsWithState
    // path's exact output; the oracle certifies the batch side.
    val want = SparkEntry.queries("stream_sessionize")(spark, "/root/testdata/sf0.001")
      .select("user_id", "n_events", "session_start_epoch", "session_end_epoch")
      .as[(Long, Long, Long, Long)].collect().toSet
    val stream = EventStream.readEventStream(spark, timeOrderedStreamDir())
    val q = EventStream.streamingSessionize(stream, 600L, "40 days")
      .writeStream
      .format("memory").queryName("sess_exact")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("sess_exact").as[(Long, Long, Long, Long)].collect()
    assert(got.length == got.toSet.size, "duplicate session emissions")
    assert(got.toSet == want,
      s"stream != batch twin: spurious ${got.toSet.diff(want).take(3)}, " +
        s"missing ${want.diff(got.toSet).take(3)}")
    assert(got.nonEmpty)
  }

  test("streaming sessionize timeout eviction: exact emitted set on a hand-computed watermark fixture") {
    // Pins the EVENT-TIME-TIMEOUT branch exactly (the no-timeout regime is
    // certified by the batch-twin test above; this one makes the watermark
    // provably cross known session gaps BETWEEN microbatches). gap = 100 s,
    // delay = 10 s, one file per trigger, four files:
    //   f0: u1@1000,1050  u2@1000  u3@1000  u99@1050
    //   f1: u2@1060  u3@2000  u99@2000
    //   f2: u99@3000
    //   f3: u99@4000
    // Watermark for batch N = max event time through batch N-1, minus 10 s:
    //   b0 wm=0       all sessions open, nothing emitted
    //   b1 wm=1040    no timeout ≤ 1040; u3/u99 gaps close by SUCCESSOR:
    //                 emit (3,1,1000,1000), (99,1,1050,1050)
    //   b2 wm=1990    TIMEOUTS fire for u1 (1150.001 < wm) and u2
    //                 (1160.001 < wm): emit (1,2,1000,1050), (2,2,1000,1060);
    //                 u99@3000 closes by successor: emit (99,1,2000,2000)
    //   b3 wm=2990    TIMEOUT fires for u3's second session (2100.001 < wm):
    //                 emit (3,1,2000,2000); u99@4000 closes by successor:
    //                 emit (99,1,3000,3000)
    //   u99's final (4000,4000,1) times out at 4100.001 > any reachable
    //   watermark (3990) — it must NOT be emitted.
    // Any drift in the timeout rule (wrong timestamp, never firing, firing
    // at/before the watermark boundary, emitting the still-open session)
    // breaks exactly one of these assertions.
    val fixtureDir = TestDirs.create("graft_sess_timeout")
    val batches = Seq(
      Seq((1L, 1000L), (1L, 1050L), (2L, 1000L), (3L, 1000L), (99L, 1050L)),
      Seq((2L, 1060L), (3L, 2000L), (99L, 2000L)),
      Seq((99L, 3000L)),
      Seq((99L, 4000L)))
    batches.zipWithIndex.foreach { case (rows, i) =>
      val df = rows.toDF("user_id", "sec")
        .select(col("user_id"), timestamp_seconds(col("sec")).as("ts"))
      df.coalesce(1).write.mode("overwrite").parquet(s"$fixtureDir/tmp_$i")
      val f = new java.io.File(s"$fixtureDir/tmp_$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.move(f.toPath, fixtureDir.resolve(f"$i%03d.parquet"))
      Thread.sleep(5) // distinct mod times → deterministic file order
    }
    val stream = EventStream.readEventStream(spark, fixtureDir.toString)
    val q = EventStream.streamingSessionize(stream, gapSec = 100L, "10 seconds")
      .writeStream
      .format("memory").queryName("sess_timeout")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("sess_timeout")
      .as[(Long, Long, Long, Long)].collect()
    val want = Set(
      (1L, 2L, 1000L, 1050L),  // timeout-closed in b2
      (2L, 2L, 1000L, 1060L),  // timeout-closed in b2 (extended across b0/b1)
      (3L, 1L, 1000L, 1000L),  // successor-closed in b1
      (3L, 1L, 2000L, 2000L),  // timeout-closed in b3
      (99L, 1L, 1050L, 1050L), // successor-closed in b1
      (99L, 1L, 2000L, 2000L), // successor-closed in b2
      (99L, 1L, 3000L, 3000L)) // successor-closed in b3
    assert(got.length == got.toSet.size, s"duplicate emissions: ${got.mkString(",")}")
    assert(got.toSet == want,
      s"spurious=${got.toSet.diff(want).take(3)} missing=${want.diff(got.toSet).take(3)}")
  }

  test("stream-stream attribution join (watermarked both sides) equals batch") {
    val want = SparkEntry.queries("stream_interval_join")(spark, "/root/testdata/sf0.001")
      .select("user_id", "click_id", "view_id")
      .as[(Long, Long, Long)].collect().toSet

    val stream = EventStream.readEventStream(spark, timeOrderedStreamDir())
    // Delay wider than the 30-day data span: no state eviction, so the
    // streaming join must produce exactly the batch pairs — across THREE
    // microbatches, i.e. clicks matching views buffered in earlier batches.
    val q = EventStream.streamingAttributionJoin(stream, windowSec = 86400L, "40 days")
      .writeStream
      .format("memory").queryName("attr_join")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("attr_join").as[(Long, Long, Long)].collect()
    assert(got.length == got.toSet.size, "pair emitted twice")
    assert(got.toSet == want, s"missing=${want.diff(got.toSet).take(3)} spurious=${got.toSet.diff(want).take(3)}")
    assert(want.nonEmpty)
  }

  test("append-JSONL sink accumulates across runs; binary sink writes objects") {
    val root = TestDirs.create("graft_jsonl").toString
    val df1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val df2 = Seq((3L, "c")).toDF("id", "v")
    Sinks.appendJsonl(df1, root)
    Sinks.appendJsonl(df2, root)
    val back = Sinks.readJsonl(spark, root, "id BIGINT, v STRING")
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))

    val objRoot = TestDirs.create("graft_store").toString
    val bin = Seq(("k1/x.bin", Array[Byte](1, 2, 3)), ("k2/y.bin", Array[Byte](9)))
      .toDF("key", "bytes")
    val status = Sinks.writeBinary(bin, "key", "bytes", new Sinks.LocalFsStore(objRoot))
      .as[(String, Boolean, String)].collect().toSet
    assert(status.map(s => (s._1, s._2)) == Set(("k1/x.bin", true), ("k2/y.bin", true)))
    assert(Files.readAllBytes(java.nio.file.Paths.get(objRoot, "k1/x.bin")).toSeq == Seq[Byte](1, 2, 3))
  }

  test("HadoopFsStore: config-injected URI store works through the distributed sink") {
    val objRoot = TestDirs.create("graft_hstore").toString
    // file:// here; on a cluster the same class takes s3a://bucket/prefix
    // plus fs.s3a.* confProps — no code change between the two.
    val store = new Sinks.HadoopFsStore(s"file://$objRoot",
      confProps = Map("fs.file.impl.disable.cache" -> "false"))
    val bin = Seq(("a/b/deep.bin", Array[Byte](4, 5)), ("top.bin", Array[Byte](6)))
      .toDF("key", "bytes")
    val status = Sinks.writeBinary(bin, "key", "bytes", store)
      .as[(String, Boolean, String)].collect().toSet
    assert(status.map(s => (s._1, s._2)) == Set(("a/b/deep.bin", true), ("top.bin", true)))
    assert(Files.readAllBytes(java.nio.file.Paths.get(objRoot, "a/b/deep.bin")).toSeq == Seq[Byte](4, 5))
    assert(Files.readAllBytes(java.nio.file.Paths.get(objRoot, "top.bin")).toSeq == Seq[Byte](6))
  }

  test("imageio codec: real PNG decodes to true dims, resize scales pixels, garbage falls back") {
    implicit val sp = spark
    def pngBytes(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach(x => img.setRGB(x, 0, x * 7919)) // non-constant content
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val png = pngBytes(320, 200)
    val items = Seq(
      graft.multimodal.Multimodal.MediaItem(1L, "image", "/m/real.png", png),
      graft.multimodal.Multimodal.MediaItem(2L, "image", "/m/garbage.bin", Array.fill(40)(3.toByte)),
      graft.multimodal.Multimodal.MediaItem(3L, "video", "/m/clip.bin", Array.fill(500)(7.toByte)))
      .toDS()
    val m = graft.multimodal.Multimodal
      .decodeMeta(items, graft.multimodal.Multimodal.ImageIoCodec)
      .collect().map(x => x.media_id -> x).toMap
    assert(m(1L).width == 320L && m(1L).height == 200L && m(1L).n_frames == 1L)
    // garbage + video fall back to the stub shape (deterministic from bytes)
    val stub2 = graft.multimodal.Multimodal.StubCodec.decode(
      graft.multimodal.Multimodal.MediaItem(2L, "image", "/m/garbage.bin", Array.fill(40)(3.toByte)))
    assert(m(2L) == stub2)
    assert(m(3L).n_frames == 1L + 500 % 240)
    // pixel resize agrees with the relational resizePlan math
    val resized = graft.multimodal.Multimodal.ImageIoCodec.resize(png, 160).get
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(resized))
    assert(back.getWidth == 160 && back.getHeight == 100) // 320x200 → cap 160
    // within-bounds images pass through byte-identical
    assert(graft.multimodal.Multimodal.ImageIoCodec.resize(png, 512).get.eq(png) ||
      graft.multimodal.Multimodal.ImageIoCodec.resize(png, 512).get.sameElements(png))
    assert(graft.multimodal.Multimodal.ImageIoCodec.resize(Array.fill(9)(1.toByte), 64).isEmpty)
  }

  test("stub codec decode + frame sampling plumbing") {
    implicit val sp = spark
    val items = Seq(
      graft.multimodal.Multimodal.MediaItem(1L, "video", "/m/1.bin", Array.fill(500)(7.toByte)),
      graft.multimodal.Multimodal.MediaItem(2L, "image", "/m/2.bin", Array.fill(10)(1.toByte)))
      .toDS()
    val meta = graft.multimodal.Multimodal.decodeMeta(items).toDF()
    val m = meta.as[graft.multimodal.Multimodal.MediaMeta].collect().map(x => x.media_id -> x).toMap
    assert(m(1L).n_frames == 1L + 500 % 240 && m(2L).n_frames == 1L)
    assert(m(1L).checksum == 500L * 7 && m(2L).checksum == 10L)
    val sampled = graft.multimodal.Multimodal.frameSamplePlan(meta, 24)
      .groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(sampled(1L) == (500 % 240) / 24 + 1 && sampled(2L) == 1L)
    val feats = graft.multimodal.Multimodal.stubFeatures(items, 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(math.abs(feats(1L).sum - 1.0) < 1e-9) // L1-normalized
  }
}
