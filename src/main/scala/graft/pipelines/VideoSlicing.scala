package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VideoFunctions
import graft.ml.{ModelStage, Models, Retry}
import graft.operators.Tiling

/** E1 — `cut_30min` / `cut_ruidi` recomposed Spark-first
  * (ref: pipeline/cut_30min.py:16-52, pipeline/cut_ruidi.py:41-78):
  * manifest → probe → duration gate (dead-letter) → tile → save-path →
  * ffmpeg cut (retry envelope) → per-file summary.
  *
  * Declarative stages (gate/tile/path/summary) stay in Catalyst so filters
  * and pruning push through; only probe and cut are opaque partition maps,
  * and they are placed AFTER the cheap gates by construction (SURVEY §4:
  * Catalyst can't push predicates through a mapPartitions barrier, so the
  * pipeline builder keeps gates ahead of process stages).
  *
  * Scale: probe/cut parallelism = input partitioning (embarrassingly
  * parallel per video/segment, zero shuffles until the final summary agg).
  */
class VideoSlicing(toolFactory: () => Models.VideoTool,
                   segDur: Double = 900.0, minDur: Double = 300.0,
                   outDir: String = "/tmp/pipeline_out",
                   maxRetry: Int = 3, backoffMs: Long = 0L) extends Serializable {

  /** Probe stage: ffprobe per video, errors as data (`probe_error`).
    * Ref: common/video/video_probe_op.py:36-53. */
  def probe(manifest: DataFrame): DataFrame = {
    val spark = manifest.sparkSession
    import spark.implicits._
    val tool = ModelStage.model(toolFactory)
    ModelStage(graft.ops.Parallelism.ensure(
        manifest.select(col("video_id").cast("long"), col("file_path").cast("string")))
        .as[(Long, String)], batchSize = 1,
      Seq("video_id", "file_path", "total_duration", "fps", "probe_error")) {
      _.map { case (id, path) =>
        tool.get.probe(path) match {
          case Right((dur, fps)) => (id, path, dur, fps, null: String)
          case Left(err)         => (id, path, 0.0, 0.0, err)
        }
      }
    }
  }

  /** Dead-letter duration gate (keeps rejects with status/reason).
    * Ref: pipeline/cut_30min.py:38-43. */
  def gate(probed: DataFrame): DataFrame =
    probed
      .withColumn("status",
        when(col("probe_error").isNotNull || col("total_duration") <= 0 ||
          col("total_duration") < minDur, 0).otherwise(1))
      .withColumn("reason",
        when(col("probe_error").isNotNull, col("probe_error"))
          .when(col("total_duration") <= 0 || col("total_duration") < minDur,
            lit("duration too short")))

  /** Tile passing videos into segments with generated output paths. */
  def segments(gated: DataFrame): DataFrame =
    Tiling.tileSegments(
      graft.ops.Parallelism.ensure(gated.filter(col("status") === 1)),
      "total_duration", segDur, minDur)
      .withColumn("out_path", VideoFunctions.genSavePath(outDir, col("file_path"),
        col("seg_idx"), col("start_time"), col("duration")))
      .withColumn("save_dir", VideoFunctions.genSaveDir(outDir, col("file_path")))

  /** Cut stage: ffmpeg per segment inside the retry envelope; 0/1 status +
    * error as data. Ref: common/video/ffmpeg_cut_op.py:61-112. */
  def cut(segs: DataFrame): DataFrame = {
    val spark = segs.sparkSession
    import spark.implicits._
    val tool = ModelStage.model(toolFactory)
    val (attempts, backoff) = (maxRetry, backoffMs)
    ModelStage(segs.select(col("video_id"), col("seg_idx"), col("file_path"), col("out_path"),
        col("start_time"), col("duration"))
        .as[(Long, Long, String, String, Double, Double)], batchSize = 1,
      Seq("video_id", "seg_idx", "out_path", "cut_status", "cut_error")) {
      _.map { case (id, segIdx, src, dst, start, dur) =>
        Retry.withRetry(attempts, backoff, jitterSeed = id * 1000 + segIdx)(
          a => tool.get.cut(src, dst, start, dur, a)) match {
          case Right(_)  => (id, segIdx, dst, 1, null: String)
          case Left(err) => (id, segIdx, dst, 0, err)
        }
      }
    }
  }

  /** Per-file summary (keeps dead-letter rows with zero counts).
    * Ref: pipeline/cut_30min.py:50-51. */
  def summary(gated: DataFrame, cuts: DataFrame): DataFrame = {
    val counts = cuts.groupBy("video_id").agg(
      count(lit(1)).as("segments_count"),
      sum(col("cut_status")).cast("long").as("cuts_ok"))
    gated.join(counts, Seq("video_id"), "left")
      .select(col("video_id"), col("file_path"), col("status"), col("reason"),
        coalesce(col("segments_count"), lit(0L)).as("segments_count"),
        coalesce(col("cuts_ok"), lit(0L)).as("cuts_ok"))
  }

  /** Full E1: manifest(video_id, file_path) → summary.
    *
    * The gated probe frame feeds BOTH the segment/cut branch and the
    * dead-letter summary join; an eager localCheckpoint cuts the lineage so
    * ffprobe runs exactly once per video (probe output is a few dozen bytes
    * of metadata per video — cheap to materialize even at 100 TB of video,
    * while re-probing every file twice is not). */
  def run(manifest: DataFrame): DataFrame = {
    val gated = gate(probe(manifest)).localCheckpoint()
    summary(gated, cut(segments(gated)))
  }

  /** `cut_ruidi` variant: durations already on the manifest (no probe).
    * Ref: pipeline/cut_ruidi.py:41-49. (No checkpoint: both consumers
    * re-read only cheap Catalyst projections of the manifest, not an
    * opaque probe stage.) */
  def runWithKnownDurations(manifest: DataFrame): DataFrame = {
    val gated = gate(manifest.withColumn("probe_error", lit(null).cast("string")))
    summary(gated, cut(segments(gated)))
  }
}
