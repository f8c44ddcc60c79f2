package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

import graft.functions.VideoFunctions
import graft.ml.{ModelStage, Models}
import graft.sources.Sinks

object BackgroundCuration {
  /** The six per-person outputs of the reference save stage with their
    * formats. Ref: pipeline/for_high_bg_all_morelittler.py:226-234. */
  val outputKinds: Seq[(String, String)] = Seq(
    "mask_bbox" -> "png", "human_bbox" -> "png", "human_lbm" -> "jpg",
    "background" -> "png", "background_mask" -> "png", "human_full_bgr" -> "png")
}

/** E4 — `for_high_bg_all_morelittler` recomposed Spark-first
  * (ref: pipeline/for_high_bg_all_morelittler.py:101-245): the image-only
  * curation cousin of E3.
  *
  * Per image: resolution gate (F3) → person detect → count gate 1–3 (F4)
  * → largest-clipped-box-area gate ≤ 40% (F5) → per-box: empty-crop skip,
  * RetinaFace exactly-one-face ≥ 0.5 gate, grounding mask (bounding rect),
  * BEN2 matte + LBM relight, six save-path outputs. Records re-assemble
  * with `input_persons` / `output_persons` appended (ref :124-129).
  *
  * Stage order is the scale design: the resolution gate is a pure
  * relational filter on input columns and runs BEFORE the opaque
  * `mapPartitions` detect barrier (Catalyst cannot push a filter through
  * it), so sub-threshold images never pay inference — the reference
  * hand-tunes the same ordering (:149-152). The count/area gates need the
  * detector's boxes and run right after it, before the per-box model
  * stage, so face/mask/matte inference only runs on surviving boxes.
  *
  * @param modelKeyPrefix ignored; removed with `graft.ml.BenchSingletons` in a later benchmark change.
  */
class BackgroundCuration(
    person: () => Models.PersonDetector,
    face: () => Models.FaceDetector,
    masker: () => Models.GroundingMasker,
    matting: () => Models.Matting,
    relighter: () => Models.Relighter,
    store: Sinks.ObjectStore,
    outRoot: String = "/out",
    minH: Int = 1000, minW: Int = 1000,
    maxPersons: Int = 3, maxAreaRatio: Double = 0.4,
    minFaceScore: Double = 0.5,
    modelKeyPrefix: String = "graft")
  extends Serializable {
  import BackgroundCuration.outputKinds

  /** F3 — pure relational, pushes to the scan; MUST precede [[detect]]. */
  def resolutionGate(df: DataFrame): DataFrame =
    df.filter(col("h") >= minH && col("w") >= minW)

  /** Detection stage: attach person boxes via the executor-singleton
    * detector (keyed by image id — fakes need no pixels). Preserves the
    * `tag` column ("in"/"out" image role) when present. */
  def detect(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val det = ModelStage.model(person)
    val tagged = if (df.columns.contains("tag")) df else df.withColumn("tag", lit("in"))
    // one detectBatch call per 32 images (GPU batching; default hook
    // delegates per item so fakes are bit-identical)
    ModelStage(graft.ops.Parallelism.ensure(
        tagged.select(col("image_id").cast("long"), col("image_path").cast("string"),
          col("h").cast("long"), col("w").cast("long"), col("tag").cast("string")))
        .as[(Long, String, Long, Long, String)], batchSize = 32,
      Seq("image_id", "image_path", "h", "w", "tag", "person_boxes_raw"),
      // passthrough contract: detect only ATTACHES boxes — every output
      // row carries its source row's identity/dimension columns verbatim,
      // so a late-written gate over them may hoist below the barrier
      // (the GateHoist rule; mis-ordered E4 relies on this)
      passthrough = Seq("image_id", "image_path", "h", "w", "tag")) { chunk =>
      ModelStage.aligned("PersonDetector.detectBatch", chunk,
        det.get.detectBatch(chunk.map(r => (r._1, 0L)))).map {
        case ((id, path, h, w, tag), bs) =>
          (id, path, h, w, tag, bs.map(b => (b.x1, b.y1, b.x2, b.y2)))
      }
    }
      .withColumn("person_boxes", transform(col("person_boxes_raw"), t =>
        struct(t.getField("_1").as("x1"), t.getField("_2").as("y1"),
          t.getField("_3").as("x2"), t.getField("_4").as("y2"))))
      .drop("person_boxes_raw")
  }

  /** F4 + F5 over detected boxes (needs `person_boxes`, `h`, `w`). */
  def boxGates(df: DataFrame): DataFrame = {
    val clipped = transform(col("person_boxes"), b =>
      VideoFunctions.clippedArea(
        b.getField("x1").cast("double"), b.getField("y1").cast("double"),
        b.getField("x2").cast("double"), b.getField("y2").cast("double"),
        col("w"), col("h")))
    df.filter(size(col("person_boxes")).between(1, maxPersons))
      .withColumn("max_area", array_max(clipped))
      .withColumn("area_ratio", col("max_area") / (col("h") * col("w")).cast("double"))
      .filter(col("area_ratio") <= maxAreaRatio)
  }

  /** All relational gates (for callers that already carry boxes). */
  def gates(df: DataFrame): DataFrame = boxGates(resolutionGate(df))

  /** Per-box fan-out + the reference's empty-crop skip: numpy slicing
    * clips to image bounds, so `img[y1:y2, x1:x2]` is empty iff the
    * clipped extent vanishes (ref :189-191). Shuffle-free generator. */
  def explodeBoxes(df: DataFrame): DataFrame = {
    val passthrough = df.columns.filterNot(_ == "person_boxes").map(col).toSeq
    df.select(passthrough :+ posexplode(col("person_boxes")).as(Seq("pos", "box")): _*)
      .withColumn("box_idx", col("pos").cast("long")).drop("pos")
      .filter(least(col("box.x2"), col("w")) > greatest(col("box.x1"), lit(0)) &&
        least(col("box.y2"), col("h")) > greatest(col("box.y1"), lit(0)))
  }

  /** Opaque per-box model stage: RetinaFace exactly-one-face ≥
    * `minFaceScore` gate (ref :192-198), grounding-mask bounding rect
    * (ref :199-207), BEN2 matte + LBM relight status (ref :208-224; the
    * reference computes the matte but never saves it — surfaced here as
    * `matte_ok`/`relight_ok` status columns instead of dropped). */
  def modelStage(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (fd, gm, bg, rl) = (ModelStage.model(face), ModelStage.model(masker),
      ModelStage.model(matting), ModelStage.model(relighter))
    val minScore = minFaceScore
    // tier-wise batching (one *Batch call per tier per 32-box chunk,
    // re-batched over each gate's survivors — see FrameMining note)
    ModelStage(df.select(col("image_id").cast("long"), col("image_path").cast("string"),
        col("h").cast("long"), col("w").cast("long"), col("tag").cast("string"),
        col("box_idx").cast("long"),
        col("box.x1").cast("int"), col("box.y1").cast("int"),
        col("box.x2").cast("int"), col("box.y2").cast("int"))
        .as[(Long, String, Long, Long, String, Long, Int, Int, Int, Int)], batchSize = 32,
      Seq("image_id", "image_path", "h", "w", "tag", "box_idx",
        "x1", "y1", "x2", "y2", "mask_x1", "mask_y1", "mask_x2", "mask_y2",
        "matte_ok", "relight_ok")) { chunk =>
      val gated = ModelStage.aligned("FaceDetector.detectBatch", chunk,
        fd.get.detectBatch(chunk.map(r => (r._1, 0L, r._6.toInt)))).collect {
        case (r, fs) if fs.count(_.score >= minScore) == 1 => r
      }
      val masked = ModelStage.aligned("GroundingMasker.maskRectBatch", gated,
        gm.get.maskRectBatch(gated.map(r =>
          (r._1, Models.Box(r._7, r._8, r._9, r._10), r._3, r._4)))).collect {
        case (r, Some(rect)) => (r, rect)
      }
      val keys = masked.map { case (r, _) => (r._1, r._6.toInt) }
      val mattes = ModelStage.aligned("Matting.removeBackgroundBatch", masked,
        bg.get.removeBackgroundBatch(keys))
      val relights = ModelStage.aligned("Relighter.relightBatch", masked,
        rl.get.relightBatch(keys))
      mattes.zip(relights).map {
        case ((((id, path, h, w, tag, idx, x1, y1, x2, y2), rect), matte), (_, rel)) =>
          (id, path, h, w, tag, idx, x1, y1, x2, y2,
            rect.x1, rect.y1, rect.x2, rect.y2,
            matte.isDefined, rel.isDefined)
      }
    }
  }

  /** The reference's save-path composition (ref :171-176, :226-234):
    * `save_dir = out_root/level2/tag`, `fileName` = basename sans
    * extension, plus one path per output kind suffixed `_{tag}_p{idx}`.
    * Purely relational — oracle-checkable. */
  def withSavePaths(df: DataFrame): DataFrame = {
    val file = regexp_extract(col("image_path"), "([^/]+)\\.[^./]+$", 1)
    val level2 = regexp_extract(col("image_path"), "([^/]+)/[^/]+$", 1)
    val base = df
      .withColumn("save_dir", concat_ws("/", lit(outRoot), level2, col("tag")))
      .withColumn("file_name", file)
      .withColumn("orig_path", format_string("%s/%s.jpg", col("save_dir"), col("file_name")))
    outputKinds.foldLeft(base) { case (acc, (kind, ext)) =>
      acc.withColumn(s"path_$kind",
        format_string(s"%s/%s_%s_p%d_$kind.$ext",
          col("save_dir"), col("file_name"), col("tag"), col("box_idx")))
    }
  }

  /** Write the six per-person outputs plus the per-image original copy
    * (ref :242-243) through the object store; per-object status rows. */
  def saveOutputs(perBox: DataFrame): DataFrame = {
    val kindCols = outputKinds.map { case (k, _) =>
      struct(col(s"path_$k").as("key"),
        encode(format_string(s"$k:%d:%d", col("image_id"), col("box_idx")), "UTF-8").as("bytes"))
    }
    val objects = perBox.select(explode(array(kindCols: _*)).as("o"))
      .select(col("o.key"), col("o.bytes"))
    val origs = perBox.select(col("orig_path").as("key"),
      encode(format_string("orig:%d", col("image_id")), "UTF-8").as("bytes")).distinct()
    Sinks.writeBinary(objects.unionByName(origs), "key", "bytes", store)
  }

  /** Per-image `persons` list (ref :236-240: box + the six output paths);
    * images whose boxes were all skipped keep an empty list, matching the
    * reference's still-saved original. */
  def personsOf(gated: DataFrame, perBox: DataFrame): DataFrame = {
    val personStruct = struct(
      col("box_idx") +:
        struct(col("x1"), col("y1"), col("x2"), col("y2")).as("box") +:
        struct(col("mask_x1"), col("mask_y1"), col("mask_x2"), col("mask_y2")).as("mask_rect") +:
        col("matte_ok") +: col("relight_ok") +:
        outputKinds.map { case (k, _) => col(s"path_$k") }: _*)
    val persons = perBox.groupBy("image_id", "tag")
      .agg(sort_array(collect_list(personStruct)).as("persons"))
    val joined = gated
      .select("image_id", "image_path", "h", "w", "tag", "max_area", "area_ratio")
      .join(persons, Seq("image_id", "tag"), "left")
    val pType = joined.schema("persons").dataType.asInstanceOf[ArrayType]
    joined
      .withColumn("persons", coalesce(col("persons"), array().cast(pType)))
      .withColumn("n_persons", size(col("persons")).cast("long"))
  }

  /** Full per-image E4: gate → detect → gate → per-box models → paths →
    * persons. Returns one row per gate-surviving image.
    *
    * `gated` is checkpointed (r16 — the FrameMining refs discipline, one
    * level earlier): both consumers (the per-box model stage and the
    * persons re-assembly) read the materialized frame, so the opaque
    * detect barrier runs its inference ONCE per run instead of once per
    * consumer — and a caller's output sort samples the checkpoint, not a
    * second pass through the detector. The frame is narrow (ids, dims,
    * boxes — no pixels). */
  def run(records: DataFrame, tag: String = "in"): DataFrame = {
    val gated = boxGates(detect(resolutionGate(records.withColumn("tag", lit(tag)))))
      .localCheckpoint()
    val perBox = withSavePaths(modelStage(explodeBoxes(gated)))
    personsOf(gated, perBox)
  }

  /** Record-level E4 (ref `_process_single_json` :101-138): each record
    * carries `input_images` (array) + `output_image`; every referenced
    * image flows through the per-image pipeline under its tag ("in"/"out"),
    * then the record re-assembles with `input_persons` (only images that
    * passed the gates, in input order, ref :117-121) and `output_persons`
    * appended, keeping only records where anything was saved (ref :131-137).
    *
    * `reader` models cv2.imread: unreadable images fail the gate. Image
    * identity is the path hash, so the whole flow stays distributed —
    * no driver-side loops, one detect per distinct (path, tag). */
  def runRecords(records: DataFrame, reader: () => Models.ImageReader): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._

    val images = records.select(explode(concat(
        transform(col("input_images"), p => struct(p.as("image_path"), lit("in").as("tag"))),
        array(struct(col("output_image").as("image_path"), lit("out").as("tag"))))).as("img"))
      .select(col("img.image_path"), col("img.tag"))
      .filter(col("image_path").isNotNull).distinct()

    // read stage: dims or drop (ref :146-152) — opaque, so it runs after
    // the distinct (one read per unique image) and before every gate that
    // needs h/w.
    val rd = ModelStage.model(reader)
    val withDims = ModelStage(images.as[(String, String)], batchSize = 1,
      Seq("image_path", "tag", "h", "w")) {
      _.flatMap { case (path, tag) =>
        rd.get.dims(path).map { case (h, w) => (path, tag, h.toLong, w.toLong) }
      }
    }
      .withColumn("image_id", abs(xxhash64(col("image_path"))))

    // checkpointed for the same two-consumer reason as [[run]]
    val gated = boxGates(detect(resolutionGate(withDims))).localCheckpoint()
    val perBox = withSavePaths(modelStage(explodeBoxes(gated)))
    val imgPersons = personsOf(gated, perBox)
      .select(col("image_path"), col("tag"), col("persons"))
    val pType = imgPersons.schema("persons").dataType.asInstanceOf[ArrayType]

    val inPersons = imgPersons.filter(col("tag") === "in").drop("tag")
    val outPersons = imgPersons.filter(col("tag") === "out").drop("tag")

    // input_persons: [{path, persons}] for gate-passing inputs, input order.
    val recIn = records
      .select(col("record_id"), posexplode(col("input_images")).as(Seq("ipos", "image_path")))
      .join(inPersons, Seq("image_path"))
      .groupBy("record_id")
      .agg(transform(
        array_sort(collect_list(struct(col("ipos"),
          struct(col("image_path").as("path"), col("persons")).as("info")))),
        x => x.getField("info")).as("input_persons"),
        count(lit(1)).as("n_in_ok"))

    val recOut = records.select(col("record_id"), col("output_image").as("image_path"))
      .join(outPersons, Seq("image_path"))
      .select(col("record_id"), col("persons").as("output_persons"),
        lit(true).as("out_saved"))

    // any_saved = any input image passed the gates OR the output image did
    // (ref :113-129: ok == original copy written); others are dropped.
    val inType = ArrayType(recIn.schema("input_persons").dataType
      .asInstanceOf[ArrayType].elementType, containsNull = false)
    records
      .join(recIn, Seq("record_id"), "left")
      .join(recOut, Seq("record_id"), "left")
      .withColumn("input_persons", coalesce(col("input_persons"), array().cast(inType)))
      .withColumn("output_persons", coalesce(col("output_persons"), array().cast(pType)))
      .filter(coalesce(col("n_in_ok"), lit(0L)) > 0 || coalesce(col("out_saved"), lit(false)))
      .drop("n_in_ok", "out_saved")
  }
}
