package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{ModelStage, Models}
import graft.operators.{Agg, GreedyDedup, Similarity, Tiling}

/** E3 — `video_extract_frame` recomposed Spark-first
  * (ref: pipeline/video_extract_frame.py:144-346): the two-phase training-
  * pair miner.
  *
  * Phase 1 (refs): scan the first `firstFrac` of frames (stride 20) →
  * person detect → 1–2-person gate → per-box face detect (score ≥ 0.8,
  * exactly one) → quality gate → greedy sim+IoU identity dedup → videos
  * with 2–3 reference identities survive.
  *
  * Phase 2 (candidates): scan the back 90% (stride `scanStep`) → same
  * gates (score ≥ 0.5) → broadcast-join the per-video ref set → cosine →
  * similarity band-pass [0.6, 0.85] → per-frame mean score → top-1 per
  * `binSize`-frame bin → selected GT frames.
  *
  * Scale shape: detection stages are embarrassingly parallel partition
  * maps; the ref set is tiny (≤3/video) so phase 2 correlation is a
  * broadcast join — the only shuffles are the per-video dedup group and
  * the final window, both keyed by video_id which grows with the data.
  *
  * @param modelKeyPrefix ignored; removed with `graft.ml.BenchSingletons` in a later benchmark change. */
class FrameMining(person: () => Models.PersonDetector,
                  face: () => Models.FaceDetector,
                  quality: () => Models.FaceQualityScorer,
                  embedder: () => Models.FaceEmbedder,
                  firstFrac: Double = 0.1, refStride: Long = 20,
                  scanStep: Long = 50, binSize: Long = 150,
                  refFaceScore: Double = 0.8, candFaceScore: Double = 0.5,
                  qualityThr: Double = 0.35, matchThr: Double = 0.9,
                  simLo: Double = 0.6, simHi: Double = 0.85,
                  minRefs: Int = 2, maxRefs: Int = 3,
                  modelKeyPrefix: String = "graft") extends Serializable {

  /** One fused detection stage (person → face → quality → embed) per
    * frame, all models executor-singletons — mirrors the reference's
    * single co-resident worker (init_models_in_worker :55-87). Emits one
    * row per surviving face candidate.
    *
    * BATCHED tier-wise: frames flow through in `batchSize` chunks and
    * each model tier gets ONE `*Batch` call per chunk over the rows that
    * survived the previous tier's gate (re-batching between tiers) — on
    * real GPU models that is one forward pass per tier per chunk instead
    * of one per row, while the relational gates still drop work before
    * the next tier pays for it. Default `*Batch` hooks delegate per item,
    * so deterministic fakes produce bit-identical candidates to the
    * per-row formulation (FrameMining spec pins outputs). Memory is
    * O(batchSize × boxes/frame), never the partition. */
  private def extractCandidates(frames: DataFrame, minFaceScore: Double,
                                loPersons: Int, hiPersons: Int,
                                batchSize: Int = 32): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    val (det, fd, qs, em) = (ModelStage.model(person), ModelStage.model(face),
      ModelStage.model(quality), ModelStage.model(embedder))
    val qThr = qualityThr
    ModelStage(frames.select(col("video_id").cast("long"), col("frame_idx").cast("long"))
        .as[(Long, Long)], batchSize,
      Seq("video_id", "frame_idx", "slot", "x1", "y1", "x2", "y2", "quality", "embedding"),
      // row-wise passthrough contract: every emitted candidate carries its
      // source frame's (video_id, frame_idx) verbatim, so a gate written
      // AFTER this barrier that reads only those columns hoists below it
      // (graft.plans.GateHoist) and drops frames BEFORE the models run
      passthrough = Seq("video_id", "frame_idx")) { chunk =>
      // tier 1: person boxes, one batch call; person-count gate (F4)
      val slots = ModelStage.aligned("PersonDetector.detectBatch", chunk,
        det.get.detectBatch(chunk)).flatMap { case ((vid, fidx), boxes) =>
        if (boxes.size < loPersons || boxes.size > hiPersons) Seq.empty
        else boxes.zipWithIndex.collect {
          // bbox sanity (F9)
          case (b, slot) if b.x2 - b.x1 > 0 && b.y2 - b.y1 > 0 =>
            (vid, fidx, slot, b)
        }
      }
      // tier 2: faces per surviving slot; exactly-one-face gate (F6)
      val oneFace = ModelStage.aligned("FaceDetector.detectBatch", slots,
        fd.get.detectBatch(slots.map(s => (s._1, s._2, s._3)))).collect {
        case (s, fs) if fs.count(_.score >= minFaceScore) == 1 => s
      }
      // tier 3: quality; gate (F7)
      val qualified = ModelStage.aligned("FaceQualityScorer.scoreBatch", oneFace,
        qs.get.scoreBatch(oneFace.map(s => (s._1, s._2, s._3)))).filter(_._2 > qThr)
      // tier 4: embeddings for the final survivors only
      ModelStage.aligned("FaceEmbedder.embedBatch", qualified,
        em.get.embedBatch(qualified.map { case (s, _) => (s._1, s._2, s._3) })).map {
        case (((vid, fidx, slot, b), q), e) =>
          (vid, fidx, slot, b.x1.toDouble, b.y1.toDouble, b.x2.toDouble, b.y2.toDouble,
            q, e.toSeq)
      }
    }
  }

  /** Phase 1: per-video reference identities (greedy dedup fold), gated
    * to videos with [minRefs, maxRefs] identities. */
  def mineRefs(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val upto = greatest(lit(1L), floor(col("total_frames") * firstFrac).cast("long"))
    // parallelism floor BEFORE the frame explode: repartition the compact
    // manifest, not the exploded frames (single-row-group inputs would
    // otherwise run the whole detection stage on one core)
    val frames = Tiling.sampleEveryK(
      graft.ops.Parallelism.ensure(manifest.withColumn("_upto", upto)),
      "_upto", refStride)
    val cands = extractCandidates(frames, refFaceScore, 1, 2)
      .select(col("video_id").as("group"),
        (col("frame_idx") * 10 + col("slot")).as("seq"),
        col("x1"), col("y1"), col("x2"), col("y2"), col("quality"), col("embedding"))
      .as[GreedyDedup.Candidate]
    implicit val sp: SparkSession = spark
    val refs = GreedyDedup.run(cands, matchThr, 0.2).toDF()
    val kept = refs.groupBy("group")
      .agg(count(lit(1)).as("n_refs"))
      .filter(col("n_refs").between(minRefs, maxRefs))
    refs.join(kept, "group")
      .select(col("group").as("video_id"), col("identity_idx"),
        col("quality").as("ref_quality"), col("embedding").as("ref_embedding"),
        col("n_refs"))
  }

  /** Phase 2: candidate GT frames band-pass-matched against the refs. */
  def mineCandidates(manifest: DataFrame, refs: DataFrame): DataFrame = {
    val frames = graft.ops.Parallelism.ensure(manifest)
      .withColumn("_from", floor(col("total_frames") / 10).cast("long"))
      .withColumn("frame_idx", explode(
        when(col("total_frames") > col("_from"),
          sequence(col("_from"), col("total_frames") - 1, lit(scanStep)))
          .otherwise(array().cast("array<bigint>"))))
    val cands = extractCandidates(frames, candFaceScore, 1, 2)
    val scored = cands.join(broadcast(refs), "video_id")
      .withColumn("sim", Similarity.cosine(col("embedding"), col("ref_embedding")))
      .groupBy(col("video_id"), col("frame_idx"), col("slot"), col("quality"))
      .agg(max(col("sim")).as("max_sim"),
        max_by(col("identity_idx"), struct(col("sim"), col("identity_idx"))).as("matched_ref"))
      .filter(col("max_sim").between(simLo, simHi)) // band-pass (F8)
    val frameScores = Agg.frameScoreAgg(scored, Seq("video_id", "frame_idx"),
      col("quality"), col("max_sim"), col("quality") > qualityThr)
    Agg.top1PerBin(
      frameScores.withColumn("bin", floor(col("frame_idx") / binSize).cast("long")),
      Seq("video_id", "bin"), col("combined"), col("frame_idx"))
      .select("video_id", "bin", "frame_idx", "avg_q", "avg_sim", "combined")
  }

  /** Full E3: manifest(video_id, total_frames) → selected GT frames with
    * per-video ref counts. */
  /** `sortCheckpoint = false` keeps the whole chain a single optimizable
    * plan — required by callers that write a gate AFTER run() and rely on
    * Catalyst + GateHoist carrying it below the model barriers (the
    * mis-ordered E3 query / PlansSpec contract); a checkpoint here would
    * be an optimization fence the gate cannot cross. */
  def run(manifest: DataFrame, sortCheckpoint: Boolean = true): DataFrame = {
    // Phase 1 executes ONCE: the ref set is tiny (≤ maxRefs rows/video) so
    // an eager localCheckpoint materializes it for O(KB) and both
    // consumers (the broadcast correlation and the n_refs join) read the
    // checkpointed partitions. Recomputing instead doubles ALL phase-1
    // inference with real detectors — a scale-killer; a lazy cache() was
    // measured worse on the cold run than this eager cut of the lineage.
    val refs = mineRefs(manifest).localCheckpoint()
    val selected = mineCandidates(manifest, refs)
      .join(refs.select("video_id", "n_refs").distinct(), "video_id")
    // ckpt before the output sort (r16): the selected-frame set is tiny
    // (top-1 per bin) while the sort's range sampling would re-run the
    // phase-2 scoring tail a second time
    (if (sortCheckpoint) selected.localCheckpoint() else selected)
      .orderBy("video_id", "frame_idx")
  }

  /** S5 pair sink: write ref crops + selected GT frames through the
    * object store (stub payloads — no codec in container) and append one
    * 4-field pair record per GT frame to the JSONL root. Returns the
    * per-object upload status rows (errors as data).
    * Ref: common/io/save_pairs_op.py:10-52. */
  def sinkPairs(selected: DataFrame, refs: DataFrame,
                store: graft.sources.Sinks.ObjectStore, jsonlRoot: String): DataFrame = {
    val refKeyed = refs.select(
      format_string("refs/%d/ref_%d.jpg", col("video_id"), col("identity_idx")).as("key"),
      encode(to_json(struct(col("video_id"), col("identity_idx"), col("ref_quality"))), "UTF-8").as("bytes"))
    val gtKeyed = selected.select(
      format_string("gt/%d/gt_%d.jpg", col("video_id"), col("frame_idx")).as("key"),
      encode(to_json(struct(col("video_id"), col("frame_idx"), col("combined"))), "UTF-8").as("bytes"))
    val refStatus = graft.sources.Sinks.writeBinary(refKeyed, "key", "bytes", store)
    val gtStatus = graft.sources.Sinks.writeBinary(gtKeyed, "key", "bytes", store)
    val refPaths = refs
      .select(col("video_id"), struct(col("identity_idx"),
        format_string("refs/%d/ref_%d.jpg", col("video_id"), col("identity_idx")).as("path")).as("rp"))
      .groupBy("video_id")
      .agg(transform(array_sort(collect_list(col("rp"))), r => r.getField("path")).as("input_images"))
    val records = selected.join(refPaths, "video_id")
      .select(
        lit("subject_driven").as("task_type"),
        format_string("frame %d of video %d", col("frame_idx"), col("video_id")).as("instruction"),
        col("input_images"),
        format_string("gt/%d/gt_%d.jpg", col("video_id"), col("frame_idx")).as("output_image"))
    graft.sources.Sinks.appendJsonl(records, jsonlRoot)
    refStatus.union(gtStatus)
  }
}
