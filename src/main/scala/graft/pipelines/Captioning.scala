package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

import graft.ml.{ModelStage, Models}

/** E2 — `caption` recomposed Spark-first (ref: pipeline/caption.py:58-88):
  * (input_images, output_image) rows → placeholder parse (stringified list
  * OR bare path, ref common/image/placeholders_op.py:19-29) → fixed prompt
  * assembly → per-executor VLM generate → 4-field training record JSONL.
  *
  * Prompt/record assembly is pure Catalyst; only `generate` is a partition
  * map with the model held as an executor singleton (Ray-actor analog).
  */
class Captioning(captionerFactory: () => Models.Captioner) extends Serializable {

  val systemPrompt = "<|system|>You are a captioner.<|user|>"
  val question = " Describe the subject."

  /** Parse `input_images`: JSON-ish list or single bare path. Malformed
    * input surfaces as `vision_inputs_error` data (never an exception) —
    * the reference short-circuits the record on placeholder/vision-input
    * failure (pipeline/caption.py:78-80, common/image/placeholders_op.py:19-29). */
  def parsePlaceholders(df: DataFrame): DataFrame =
    df.withColumn("images",
      when(col("input_images").isNull, lit(null).cast(ArrayType(StringType)))
        .when(col("input_images").startsWith("["),
          from_json(col("input_images"), ArrayType(StringType)))
        .otherwise(array(col("input_images"))))
      .withColumn("vision_inputs_error",
        when(col("input_images").isNull, lit("missing input_images"))
          .when(col("images").isNull,
            concat(lit("placeholder parse failed: "), col("input_images")))
          .when(exists(col("images"), x => x.isNull),
            lit("placeholder list contains null entry")))

  /** Fixed chat prompt: system + one <image> placeholder per ref + question.
    * Ref: common/transform/vision_inputs_op.py:25-31, pipeline/caption.py:67-75. */
  def assemblePrompt(df: DataFrame): DataFrame =
    df.withColumn("prompt",
      when(col("vision_inputs_error").isNull, concat(
        lit(systemPrompt),
        expr("repeat('<image>', size(images))"),
        lit(question))))

  /** Generate stage (executor-singleton model), BATCHED: valid rows are
    * fed to the model `batchSize` at a time through `captionBatch` — one
    * forward pass per batch on a real VLM (the reference's GPU-batching,
    * pipeline/caption.py:58-88) — while errored rows SKIP the model (the
    * reference's short-circuit, :78-80) and flow through with a null
    * caption, in their original positions. Streaming `grouped` iterator:
    * memory is O(batchSize), never the partition. */
  def generate(df: DataFrame, batchSize: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val model = ModelStage.model(captionerFactory)
    ModelStage(graft.ops.Parallelism.ensure(
        df.select(col("doc_id").cast("long"), col("prompt"), col("images"),
          col("output_image").cast("string"), col("vision_inputs_error")))
        .as[(Long, String, Seq[String], String, String)], batchSize,
      Seq("doc_id", "prompt", "images", "output_image", "vision_inputs_error", "caption"),
      // The VLM stage is per-input-row: every output row carries its source
      // row's key/record columns unchanged (only `caption` is computed), so
      // a record-validity gate an author writes AFTER the model hoists
      // below the barrier and gated-out records never reach the VLM.
      passthrough = Seq("doc_id", "prompt", "images", "output_image", "vision_inputs_error")) { chunk =>
      val valid = chunk.filter(_._5 == null)
      val caps = ModelStage.aligned("Captioner.captionBatch", valid,
        if (valid.isEmpty) Seq.empty else model.get.captionBatch(valid.map(r => (r._2, r._3))))
        .iterator.map(_._2)
      chunk.map { case (id, prompt, images, out, err) =>
        (id, prompt, images, out, err, if (err == null) caps.next() else null)
      }
    }
  }

  /** 4-field training record (ref: common/io/save_output_op.py:18-23);
    * errored rows keep a null record (not saved) + the error column. */
  def projectRecord(df: DataFrame): DataFrame =
    df.withColumn("record",
      when(col("vision_inputs_error").isNull, to_json(struct(
        lit("subject_driven").as("task_type"),
        col("caption").as("instruction"),
        col("images").as("input_images"),
        col("output_image").as("output_image")))))

  def run(df: DataFrame, batchSize: Int = 16): DataFrame =
    projectRecord(generate(assemblePrompt(parsePlaceholders(df)), batchSize))
}
