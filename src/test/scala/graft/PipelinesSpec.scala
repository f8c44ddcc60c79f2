package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Models, Retry}
import graft.pipelines.{Captioning, FrameMining, VideoSlicing}

class PipelinesSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("E1 slicing: probe errors dead-letter, short videos gate, cuts retried to success") {
    val manifest = Seq(
      (1L, "/data/good_long.mp4"),
      (2L, "/data/corrupt_file.mp4"),
      (3L, "/data/also_good.mp4")).toDF("video_id", "file_path")
    val p = new VideoSlicing(() => new Models.FakeVideoTool, segDur = 300.0, minDur = 60.0)
    val out = p.run(manifest).orderBy("video_id")
      .select("video_id", "status", "reason", "segments_count", "cuts_ok")
      .as[(Long, Int, String, Long, Long)].collect()
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(2L)._2 == 0 && byId(2L)._3.contains("probe failed"))
    // good videos: every tiled segment cut ok (transient failures retried)
    Seq(1L, 3L).foreach { id =>
      val (_, status, _, segs, ok) = byId(id)
      if (status == 1) { assert(segs > 0); assert(ok == segs) }
    }
  }

  test("retry envelope: transient failure recovers, permanent failure reported") {
    var calls = 0
    val r = Retry.withRetry(3, 0L, 7L) { attempt =>
      calls += 1
      if (attempt < 1) Left("transient") else Right("ok")
    }
    assert(r == Right("ok") && calls == 2)
    val fail = Retry.withRetry(3, 0L, 7L)(_ => Left("always"))
    assert(fail == Left("always"))
  }

  test("E2 captioning: bare-path fallback, deterministic caption, record shape") {
    val input = Seq(
      (1L, "[\"/a.jpg\",\"/b.jpg\"]", "/out/1.png"),
      (2L, "/single.jpg", "/out/2.png")).toDF("doc_id", "input_images", "output_image")
    val pipe = new Captioning(() => new Models.FakeCaptioner)
    val out = pipe.run(input).orderBy("doc_id")
      .select("doc_id", "images", "caption", "record")
      .as[(Long, Seq[String], String, String)].collect()
    assert(out(0)._2 == Seq("/a.jpg", "/b.jpg"))
    assert(out(1)._2 == Seq("/single.jpg")) // bare path fallback
    val expectedPrompt = pipe.systemPrompt + "<image><image>" + pipe.question
    val md = java.security.MessageDigest.getInstance("MD5")
    val expCaption = md.digest((expectedPrompt + "|/a.jpg,/b.jpg").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 16)
    assert(out(0)._3 == expCaption)
    assert(out(0)._4.contains("\"task_type\":\"subject_driven\"") &&
      out(0)._4.contains(expCaption))
  }

  test("E2 captioning: malformed placeholders short-circuit generate, error kept as data") {
    graft.ml.ExecutorSingleton.clear()
    PipelinesSpec.detectCalls.set(0) // reused as the caption-call counter (static: survives closure serialization)
    val input = Seq(
      (1L, "[\"/a.jpg\"", "/out/1.png"),   // malformed JSON list
      (2L, null.asInstanceOf[String], "/out/2.png"), // missing
      (3L, "[\"/a.jpg\", null]", "/out/3.png"), // explicit null entry
      (4L, "/fine.jpg", "/out/4.png"))     // valid
      .toDF("doc_id", "input_images", "output_image")
    val pipe = new Captioning(() => new Models.Captioner {
      def caption(prompt: String, imagePaths: Seq[String]): String = {
        PipelinesSpec.detectCalls.incrementAndGet()
        new Models.FakeCaptioner().caption(prompt, imagePaths)
      }
    })
    // no .orderBy here: range-sort sampling would execute the generate
    // stage a second time and double the call count; sort after collect.
    val out = pipe.run(input)
      .select("doc_id", "vision_inputs_error", "caption", "record")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    assert(out.length == 4, "errored rows must flow through, not throw")
    assert(out(0)._2 != null && out(0)._2.contains("parse failed"))
    assert(out(1)._2 == "missing input_images")
    assert(out(2)._2 != null && out(2)._2.contains("null entry"))
    out.take(3).foreach { r => assert(r._3 == null && r._4 == null) }
    assert(out(3)._2 == null && out(3)._3 != null && out(3)._4 != null)
    assert(PipelinesSpec.detectCalls.get() == 1,
      s"model must run only for the valid row, ran ${PipelinesSpec.detectCalls.get()}")
  }

  test("E2 batched generate: one captionBatch call per batch, results stay row-aligned") {
    graft.ml.ExecutorSingleton.clear()
    PipelinesSpec.detectCalls.set(0) // counts BATCH calls here
    val input = (1L to 50L).map { i =>
      // every 7th row malformed → must be skipped without disturbing alignment
      (i, if (i % 7 == 0) "[broken" else s"/img_$i.jpg", s"/out/$i.png")
    }.toDF("doc_id", "input_images", "output_image").coalesce(1)
    val pipe = new Captioning(() => new Models.Captioner {
      def caption(prompt: String, imagePaths: Seq[String]): String =
        new Models.FakeCaptioner().caption(prompt, imagePaths)
      override def captionBatch(batch: Seq[(String, Seq[String])]): Seq[String] = {
        PipelinesSpec.detectCalls.incrementAndGet()
        assert(batch.length <= 16, s"batch of ${batch.length} exceeds batchSize")
        super.captionBatch(batch)
      }
    })
    val out = pipe.run(input, batchSize = 16)
      .select("doc_id", "vision_inputs_error", "caption")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.length == 50)
    // alignment: every valid row got ITS OWN caption (fake = f(prompt, imgs))
    val fake = new Models.FakeCaptioner()
    out.foreach { case (id, err, cap) =>
      if (id % 7 == 0) assert(err != null && cap == null)
      else assert(cap == fake.caption(
        s"${pipe.systemPrompt}<image>${pipe.question}", Seq(s"/img_$id.jpg")))
    }
    // 50 rows in 1 partition, chunked by 16 → 4 batch calls
    assert(PipelinesSpec.detectCalls.get() == 4,
      s"expected 4 batch calls, got ${PipelinesSpec.detectCalls.get()}")
  }

  test("corpus curation runPacked: every curated chunk lands in exactly one in-budget bin") {
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val pipe = new graft.pipelines.CorpusCuration(packBudget = 64L)
    val chunks = pipe.curate(docs)
      .select("split", "source", "doc_id", "chunk_idx", "chunk_tokens")
      .as[(String, String, Long, Long, Long)].collect()
    val packed = pipe.runPacked(docs)
      .as[(String, Long, Long, Long, Long)].collect() // group, bin, chunk_key, n_tokens, offset
    assert(packed.length == chunks.length, "every chunk packed exactly once")
    assert(packed.map(p => (p._1, p._3)).distinct.length == packed.length)
    packed.groupBy(p => (p._1, p._2)).foreach { case ((g, b), bin) =>
      assert(bin.map(_._4).sum <= 64L || bin.length == 1, s"bin ($g,$b) over budget")
    }
    // group key is split/source; chunk_key decodes back to (doc, chunk)
    val sample = packed.head
    assert(sample._1.contains("/"))
    val (doc, cidx) = (sample._3 / 1048576L, sample._3 % 1048576L)
    assert(chunks.exists(c => c._3 == doc && c._4 == cidx))
  }

  test("curation decontaminate drops exactly the non-test docs sharing a 5-gram with a test doc") {
    import graft.functions.TextFunctions.splitBucket
    import org.apache.spark.sql.functions.col
    val pipe = new graft.pipelines.CorpusCuration()
    // Find real bucket assignments under the pipeline's salt.
    val ids = (1L to 300L).toDF("doc_id")
      .select(col("doc_id"), splitBucket(col("doc_id"), "graft-v1").as("b"))
      .as[(Long, Long)].collect()
    val testId = ids.find(_._2 >= 90).get._1
    val hitId = ids.find(_._2 < 90).get._1
    val cleanIds = ids.collect { case (i, b) if b < 90 && i != hitId => i }.take(3)
    val shared = "alpha bravo charlie delta echo"
    val docs = (Seq(
      (testId, "s", s"held out benchmark $shared"),
      (hitId, "s", s"training doc with leak $shared and more")) ++
      cleanIds.map(i => (i, "s", s"unique words only u${i}a u${i}b u${i}c u${i}d u${i}e")))
      .toDF("doc_id", "source", "text")
    val kept = pipe.decontaminate(pipe.scrub(docs))
      .select("doc_id").as[Long].collect().toSet
    assert(!kept.contains(hitId), "contaminated train doc must drop")
    assert(kept.contains(testId), "test doc itself is kept")
    assert(cleanIds.forall(kept.contains), "clean docs survive")
  }

  test("curation sampleWeighted keeps the whole smallest source and is deterministic") {
    val docs = ((1L to 200L).map(i => (i, "big", s"t $i")) ++
      (201L to 220L).map(i => (i, "small", s"t $i")))
      .toDF("doc_id", "source", "text")
    val pipe = new graft.pipelines.CorpusCuration()
    val kept = pipe.sampleWeighted(docs)
      .select("source", "doc_id").as[(String, Long)].collect()
    val bySrc = kept.groupBy(_._1).view.mapValues(_.length).toMap
    assert(bySrc("small") == 20, "smallest source keeps every doc")
    // big is downsampled to ~ the small source's share (salted hash ⇒ not exact)
    assert(bySrc("big") < 200 && bySrc("big") > 0)
    val again = pipe.sampleWeighted(docs)
      .select("source", "doc_id").as[(String, Long)].collect()
    assert(kept.sortBy(_._2).sameElements(again.sortBy(_._2)), "rerun keeps identical docs")
  }

  test("curation near-dup plug-in keeps exactly the min-id doc per cluster") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(i => (i, s"src$i", s"text $i"))
      .toDF("doc_id", "source", "text")
    // clusters {1,2,3} (chain) and {5,6}; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = new graft.pipelines.CorpusCuration()
      .dedupNearDupsKeep(docs, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("pipeline_dedup_corpus verdicts on a planted corpus: dup_exact, dup_near, kept") {
    val long = (0 until 40).map(i => s"w$i")
    val edited = long.updated(20, "zzz") // one word changed: bigram Jaccard 37/41
    val docs = Seq(
      (2L, long), (3L, (0 until 12).map(i => s"a$i")), (4L, edited),
      (5L, (0 until 12).map(i => s"b$i")), (6L, (0 until 3).map(i => s"c$i")),
      (7L, long), (8L, (0 until 12).map(i => s"a$i")))
      .map { case (id, words) => (id, s"src${id % 2}", words.mkString(" ")) }
      .toDF("doc_id", "source", "text")
    val got = graft.queries.PipelineQueries.dedupCorpusVerdicts(docs)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (2L, "src0", "kept", 2L),
      (3L, "src1", "kept", 3L),
      (4L, "src0", "dup_near", 2L),  // the one-word edit joins 2's cluster
      (5L, "src1", "kept", 5L),
      (6L, "src0", "kept", 6L),
      (7L, "src1", "dup_exact", 2L), // exact copies point at the min id
      (8L, "src0", "dup_exact", 3L)))
  }

  test("E3 frame mining: produces selected frames within band, deterministic") {
    val manifest = (0 until 6).map(i => (i.toLong, 6000L)).toDF("video_id", "total_frames")
    val pipe = new FrameMining(
      () => new Models.FakePersonDetector, () => new Models.FakeFaceDetector,
      () => new Models.FakeFaceQualityScorer, () => new Models.FakeFaceEmbedder())
    val out1 = pipe.run(manifest).collect()
    assert(out1.nonEmpty, "expected some mined GT frames")
    val rows = pipe.run(manifest)
      .select("video_id", "frame_idx", "avg_sim", "n_refs")
      .as[(Long, Long, Double, Long)].collect()
    rows.foreach { case (_, fidx, sim, nRefs) =>
      assert(sim >= 0.6 - 1e-9 && sim <= 0.85 + 1e-9) // band-pass held
      assert(nRefs >= 2 && nRefs <= 3)                // ref-count gate held
      assert(fidx >= 600)                             // only back-90% frames
    }
    val out2 = pipe.run(manifest).collect()
    assert(out1.map(_.toString).sorted.toSeq == out2.map(_.toString).sorted.toSeq)
  }

  test("the md5-model oracle and misordered queries share one model instance per class") {
    // a model's singleton key is its factory's digest, so a lambda literal
    // per query would load one instance per query into the JVM
    val dir = TestDirs.create("graft_model_share").toString
    spark.range(0, 800).select(col("id").as("event_id")).write.parquet(s"$dir/events.parquet")
    spark.range(1, 201).select(col("id").as("p_partkey")).write.parquet(s"$dir/part.parquet")
    graft.ml.ExecutorSingleton.clear()
    import graft.queries.PipelineQueries._
    Seq(pipelineFrameMiningOracle, pipelineFrameMiningMisordered,
        pipelineBgCurationOracle, pipelineBgCurationMisordered)
      .foreach(q => q.spark(spark, dir).count())
    val perClass = graft.ml.ExecutorSingleton.instances
      .groupBy(_.getClass.getSimpleName).map { case (c, xs) => c -> xs.size }
    assert(Seq("Md5PersonDetector", "Md5FaceDetector").forall(perClass.contains),
      s"the queries ran no detector: $perClass")
    assert(perClass.values.forall(_ == 1), s"model instances per class: $perClass")
  }

  test("E3 run: phase-1 detection executes exactly once (refs checkpointed, not recomputed)") {
    graft.ml.ExecutorSingleton.clear()
    PipelinesSpec.detectCalls.set(0)
    val manifest = (0 until 6).map(i => (i.toLong, 6000L)).toDF("video_id", "total_frames")
    val pipe = new FrameMining(
      () => {
        val inner = new Models.FakePersonDetector
        new Models.PersonDetector {
          def detect(videoId: Long, frameIdx: Long): Seq[Models.Box] = {
            PipelinesSpec.detectCalls.incrementAndGet()
            inner.detect(videoId, frameIdx)
          }
        }
      },
      () => new Models.FakeFaceDetector,
      () => new Models.FakeFaceQualityScorer, () => new Models.FakeFaceEmbedder())
    pipe.run(manifest).collect()
    // phase 1: frames 0..599 stride 20 → 30/video; phase 2: 600..5999
    // stride 50 → 108/video; one detect per frame per phase = 138/video.
    val expected = 6 * (30 + 108)
    assert(PipelinesSpec.detectCalls.get() == expected,
      s"detector ran ${PipelinesSpec.detectCalls.get()} times, expected $expected " +
        "(phase-1 recomputation would double its share)")
  }

  test("E3 pair sink: ref crops + GT frames stored, pair records appended") {
    val manifest = (0 until 4).map(i => (i.toLong, 6000L)).toDF("video_id", "total_frames")
    val pipe = new FrameMining(
      () => new Models.FakePersonDetector, () => new Models.FakeFaceDetector,
      () => new Models.FakeFaceQualityScorer, () => new Models.FakeFaceEmbedder())
    val refs = pipe.mineRefs(manifest)
    val selected = pipe.mineCandidates(manifest, refs)
    val objRoot = TestDirs.create("graft_pairs").toString
    val jsonlRoot = TestDirs.create("graft_pairs_jsonl").toString
    val status = pipe.sinkPairs(selected, refs, new graft.sources.Sinks.LocalFsStore(objRoot), jsonlRoot)
      .as[(String, Boolean, String)].collect()
    assert(status.nonEmpty && status.forall(_._2), "all uploads should succeed")
    val recs = graft.sources.Sinks.readJsonl(spark, jsonlRoot,
      "task_type STRING, instruction STRING, input_images ARRAY<STRING>, output_image STRING")
    assert(recs.count() == selected.count())
    val r = recs.limit(1).as[(String, String, Seq[String], String)].head()
    assert(r._1 == "subject_driven" && r._3.nonEmpty && r._4.startsWith("gt/"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(objRoot, status.head._1)))
  }

  private def bgPipe(root: String,
                     person: () => Models.PersonDetector = () => new Models.FakePersonDetector) =
    new graft.pipelines.BackgroundCuration(
      person,
      () => new Models.FakeFaceDetector,
      () => new Models.FakeGroundingMasker,
      () => new Models.FakeMatting,
      () => new Models.FakeRelighter,
      new graft.sources.Sinks.LocalFsStore(root))

  test("E4 bg curation: gates enforce resolution, person count, area ratio; outputs written") {
    val root = TestDirs.create("graft_bg").toString
    val pipe = bgPipe(root)
    // controlled records straight into the gates (bypassing detection)
    val recs = Seq(
      (1L, 1200L, 1800L, Seq((10, 10, 110, 210))),               // passes all gates
      (2L, 800L, 1800L, Seq((10, 10, 110, 210))),                // too short (h)
      (3L, 1200L, 1800L, Seq.empty[(Int, Int, Int, Int)]),       // zero persons
      (4L, 1200L, 1800L, (1 to 4).map(i => (i, i, i + 50, i + 80))), // too many persons
      (5L, 1000L, 1000L, Seq((0, 0, 1000, 1000))))               // area ratio 1.0 > 0.4
      .toDF("image_id", "h", "w", "boxes_raw")
      .withColumn("image_path", format_string("/imgs/d%d/img_%d.jpg", col("image_id"), col("image_id")))
      .withColumn("tag", lit("in"))
      .withColumn("person_boxes", transform(col("boxes_raw"), t =>
        struct(t.getField("_1").as("x1"), t.getField("_2").as("y1"),
          t.getField("_3").as("x2"), t.getField("_4").as("y2"))))
    val kept = pipe.gates(recs).select("image_id").as[Long].collect().toSet
    assert(kept == Set(1L))
    val perBox = pipe.withSavePaths(pipe.explodeBoxes(pipe.gates(recs)))
    val paths = perBox.select("path_mask_bbox", "orig_path").as[(String, String)].collect()
    assert(paths.nonEmpty && paths.head._1 == "/out/d1/in/img_1_in_p0_mask_bbox.png")
    assert(paths.head._2 == "/out/d1/in/img_1.jpg")
    val status = pipe.saveOutputs(perBox).as[(String, Boolean, String)].collect()
    // six per-box outputs + one original copy, all uploaded
    assert(status.length == 7 && status.forall(_._2))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, status.head._1)))
  }

  test("E4 run: resolution gate precedes detection (no inference on sub-threshold images)") {
    graft.ml.ExecutorSingleton.clear() // drop any detector cached by earlier tests
    PipelinesSpec.detectCalls.set(0)
    val root = TestDirs.create("graft_bg_order").toString
    val pipe = bgPipe(root, person = () => {
      val inner = new Models.FakePersonDetector
      new Models.PersonDetector {
        def detect(videoId: Long, frameIdx: Long): Seq[Models.Box] = {
          PipelinesSpec.detectCalls.incrementAndGet()
          inner.detect(videoId, frameIdx)
        }
      }
    })
    val images = (1L to 40L).toDF("image_id")
      .withColumn("image_path", format_string("/imgs/d/img_%d.jpg", col("image_id")))
      .withColumn("h", lit(600L) + col("image_id") * 40)  // h >= 1000 iff id >= 10
      .withColumn("w", lit(2000L))
    pipe.run(images).count()
    val expected = images.filter(col("h") >= 1000 && col("w") >= 1000).count()
    assert(PipelinesSpec.detectCalls.get() == expected,
      s"detector ran ${PipelinesSpec.detectCalls.get()} times; post-gate rows = $expected")
  }

  test("E4 per-box model gates: exactly-one-face >= 0.5, mask rect inside image, statuses") {
    val root = TestDirs.create("graft_bg_box").toString
    val pipe = bgPipe(root)
    val images = (1L to 200L).toDF("image_id")
      .withColumn("image_path", format_string("/imgs/d/img_%d.jpg", col("image_id")))
      .withColumn("h", lit(1200L)).withColumn("w", lit(1600L))
    val gated = pipe.boxGates(pipe.detect(pipe.resolutionGate(images)))
    val perBox = pipe.modelStage(pipe.explodeBoxes(gated))
    val rows = perBox.select("image_id", "box_idx", "mask_x1", "mask_y1", "mask_x2", "mask_y2")
      .as[(Long, Long, Int, Int, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, mx1, my1, mx2, my2) =>
      assert(mx1 >= 0 && my1 >= 0 && mx2 <= 1600 && my2 <= 1200 && mx2 > mx1 && my2 > my1)
    }
    // the face gate must drop some boxes (fake emits 0-2 faces per slot)
    val explodedCount = pipe.explodeBoxes(gated).count()
    assert(perBox.count() < explodedCount)
    // replaying the fakes gives exactly the surviving (image, box) pairs
    val fd = new Models.FakeFaceDetector
    val gm = new Models.FakeGroundingMasker
    val expect = pipe.explodeBoxes(gated)
      .select(col("image_id"), col("box_idx"), col("box.x1"), col("box.y1"), col("box.x2"), col("box.y2"),
        col("h"), col("w"))
      .as[(Long, Long, Int, Int, Int, Int, Long, Long)].collect()
      .filter { case (id, idx, x1, y1, x2, y2, h, w) =>
        fd.detect(id, 0L, idx.toInt).count(_.score >= 0.5) == 1 &&
          gm.maskRect(id, Models.Box(x1, y1, x2, y2), h, w).isDefined
      }.map(t => (t._1, t._2)).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == expect)
  }

  test("E4 detect: a detectBatch that returns too few results fails the stage, rows are not dropped") {
    val root = TestDirs.create("graft_bg_short").toString
    val pipe = bgPipe(root, person = () => new Models.PersonDetector {
      private val inner = new Models.FakePersonDetector
      def detect(videoId: Long, frameIdx: Long): Seq[Models.Box] = inner.detect(videoId, frameIdx)
      override def detectBatch(items: Seq[(Long, Long)]): Seq[Seq[Models.Box]] =
        super.detectBatch(items).dropRight(1)
    })
    val images = (1L to 40L).toDF("image_id")
      .withColumn("image_path", format_string("/imgs/d/img_%d.jpg", col("image_id")))
      .withColumn("h", lit(1200L)).withColumn("w", lit(1600L))
    val err = intercept[Exception](pipe.detect(images).collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    val short = """PersonDetector\.detectBatch returned (\d+) results for (\d+) inputs""".r
    val lengths = short.findFirstMatchIn(messages).map(m => (m.group(1).toInt, m.group(2).toInt))
    assert(lengths.exists { case (got, want) => got == want - 1 },
      s"expected the short batch to be named with both lengths, got: $messages")
  }

  /** Captions `pipe` gives two documents, read in `session`. */
  private def captions(pipe: Captioning,
                       session: org.apache.spark.sql.SparkSession = spark): Seq[String] = {
    import session.implicits._
    val input = Seq(
      (1L, "/a.jpg", "/out/1.png"),
      (2L, "[\"/b.jpg\",\"/c.jpg\"]", "/out/2.png")).toDF("doc_id", "input_images", "output_image")
    pipe.run(input).select("doc_id", "caption").as[(Long, String)].collect().sortBy(_._1).map(_._2).toSeq
  }

  test("model stages: two pipelines with different models in one session each use their own") {
    val plain = captions(new Captioning(() => new Models.FakeCaptioner))
    val prefixed = captions(new Captioning(() => new Models.Captioner {
      private val inner = new Models.FakeCaptioner
      def caption(prompt: String, imagePaths: Seq[String]): String =
        "other:" + inner.caption(prompt, imagePaths)
    }))
    assert(plain.forall(c => c != null && !c.startsWith("other:")))
    assert(prefixed == plain.map("other:" + _))
  }

  test("model stages: pipelines built from the same factory load the model once per JVM") {
    // a model loaded through a different factory first must not serve this one
    captions(new Captioning(() => new Models.FakeCaptioner))
    PipelinesSpec.constructed.set(0)
    val factory = PipelinesSpec.countedCaptioner
    val first = captions(new Captioning(factory))
    val again = captions(new Captioning(factory))
    // a later pass in another session reuses the same instance too
    val otherPass = captions(new Captioning(factory), spark.newSession())
    assert(first == again && again == otherPass)
    assert(PipelinesSpec.constructed.get() == 1,
      s"the captioner was built ${PipelinesSpec.constructed.get()} times, expected once")
  }

  test("E4 runRecords: input_persons/output_persons assembly, any-saved filter, unreadable images") {
    val root = TestDirs.create("graft_bg_rec").toString
    val pipe = bgPipe(root)
    val records = Seq(
      (1L, Seq("/d/a.jpg", "/d/b.jpg"), "/d/out1.jpg"),
      (2L, Seq("/d/missing_x.jpg"), "/d/missing_y.jpg"), // nothing readable → dropped
      (3L, Seq.empty[String], "/d/out3.jpg"))
      .toDF("record_id", "input_images", "output_image")
    val out = pipe.runRecords(records, () => new Models.FakeImageReader)
    val rows = out.select("record_id", "input_persons", "output_persons").collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(!ids.contains(2L), "record with only unreadable images must be dropped")
    // kept records: every input_persons entry names a real input path of that record
    val recIn = records.as[(Long, Seq[String], String)].collect().map(r => r._1 -> r._2).toMap
    rows.foreach { r =>
      val id = r.getLong(0)
      val inPaths = r.getSeq[org.apache.spark.sql.Row](1).map(_.getAs[String]("path"))
      assert(inPaths.forall(recIn(id).contains))
      assert(inPaths == inPaths.sorted || inPaths.size <= 1 || recIn(id).filter(inPaths.contains) == inPaths,
        "input_persons must preserve input order")
    }
  }
}

object PipelinesSpec {
  val detectCalls = new java.util.concurrent.atomic.AtomicLong(0)
  val constructed = new java.util.concurrent.atomic.AtomicLong(0)

  /** Counts the captioners it builds (static: survives closure serialization). */
  val countedCaptioner: () => Models.Captioner = () => {
    constructed.incrementAndGet()
    new Models.FakeCaptioner
  }
}
