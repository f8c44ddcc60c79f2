package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ml.Models
import graft.queries.Tables

/** One timed unit: a registered `SparkEntry.queries` entry (or, for the
  * traced passes, the same composition with counting model factories). `pipeline`
  * marks units built from a `graft.pipelines` class with model stages. */
final case class BenchUnit(name: String, build: (SparkSession, String) => DataFrame,
                           pipeline: Boolean = false)

/** A named, fixed-order list of units. One fresh session serves a whole
  * pass, so session memos serve later units of the same pass. With `sink`
  * each unit's first execution appends JSONL through `graft.sources.Sinks`
  * instead of going to the no-op writer. */
final case class Workload(name: String, units: Seq[BenchUnit], sink: Boolean)

object Workloads {
  private lazy val registered = SparkEntry.queries

  private def q(name: String) = BenchUnit(name, registered(name))

  private def media(counted: Boolean): Workload = {
    def unit(name: String, counting: (SparkSession, String) => DataFrame) =
      BenchUnit(name, if (counted) counting else registered(name), pipeline = true)
    Workload("media_curation", Seq(
      unit("pipeline_e1_summary", CountedMedia.e1),
      unit("pipeline_caption", CountedMedia.caption),
      unit("pipeline_frame_mining_oracle", CountedMedia.frameMining),
      unit("pipeline_bg_curation_oracle", CountedMedia.bgCuration)),
      sink = true)
  }

  /** Interactive text-curation session: one shared session per pass, in
    * this pinned order. The MinHash/LSH near-duplicate clustering that
    * `dedup_soft_weights` builds is a session memo that serves
    * `dedup_representative`, so later units depend on earlier ones. */
  val corpusSession: Workload = Workload("corpus_session", Seq(
    q("dedup_soft_weights"),
    q("dedup_representative"),
    q("decontaminate")),
    sink = false)

  val names: Seq[String] = Seq("media_curation", "corpus_session")

  /** `counted` swaps the media units to counting model factories (traced
    * passes); the other workloads call no model. */
  def byName(name: String, counted: Boolean): Workload = name match {
    case "media_curation" => media(counted)
    case "corpus_session" => corpusSession
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  def oracleSql(unit: String): Option[String] = SparkEntry.oracleSql.get(unit)
}

/** The media units composed exactly as `graft.queries.PipelineQueries`
  * registers them, with every model factory wrapped in a counter and a
  * model-key prefix of their own (executor singletons are JVM-global, so
  * the counted models must not share the registered queries' instances).
  * The traced run checks that these produce the registered outputs. */
private object CountedMedia {
  private val prefix = "perfbench-counted"

  val e1: (SparkSession, String) => DataFrame = (s, dir) =>
    new graft.pipelines.VideoSlicing(
      () => new CountingVideoTool(new Models.FakeVideoTool), segDur = 300.0, minDur = 60.0)
      .runWithKnownDurations(Tables.manifestRanged(s, dir))
      .orderBy("video_id")

  val caption: (SparkSession, String) => DataFrame = (s, dir) => {
    val input = Tables.table(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0,
        format_string("[\"/imgs/a_%d.jpg\",\"/imgs/b_%d.jpg\"]", col("doc_id"), col("doc_id")))
        .otherwise(format_string("/imgs/a_%d.jpg", col("doc_id"))).as("input_images"),
      format_string("/out/img_%d.png", col("doc_id")).as("output_image"))
    new graft.pipelines.Captioning(() => new CountingCaptioner(new Models.FakeCaptioner))
      .run(input)
      .select("doc_id", "caption", "record")
      .orderBy("doc_id")
  }

  val frameMining: (SparkSession, String) => DataFrame = (s, dir) => {
    val manifest = Tables.table(s, dir, "events")
      .select(col("event_id").as("video_id"))
      .filter(col("video_id") % 200 === 0)
      .withColumn("total_frames", lit(3010L))
    new graft.pipelines.FrameMining(
      () => new CountingPersonDetector(new Models.Md5PersonDetector),
      () => new CountingFaceDetector(new Models.Md5FaceDetector),
      () => new CountingQualityScorer(new Models.Md5FaceQualityScorer),
      () => new CountingEmbedder(new Models.Md5FaceEmbedder(refMaxFrame = 300L)),
      modelKeyPrefix = prefix)
      .run(manifest)
  }

  val bgCuration: (SparkSession, String) => DataFrame = (s, dir) => {
    val images = Tables.table(s, dir, "part").select(
      col("p_partkey").as("image_id"),
      format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
      (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
      (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))
    new graft.pipelines.BackgroundCuration(
      () => new CountingPersonDetector(new Models.Md5PersonDetector),
      () => new CountingFaceDetector(new Models.Md5FaceDetector),
      () => new CountingMasker(new Models.Md5GroundingMasker),
      () => new CountingMatting(new Models.FakeMatting),
      () => new CountingRelighter(new Models.FakeRelighter),
      new graft.sources.Sinks.LocalFsStore(
        new java.io.File(dir, "../bg_objects").getCanonicalPath),
      modelKeyPrefix = prefix)
      .run(images)
      .select("image_id", "h", "w", "max_area", "area_ratio", "n_persons")
      .orderBy("image_id")
  }
}
