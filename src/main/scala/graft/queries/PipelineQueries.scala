package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ml.Models
import graft.operators.Dedup
import graft.pipelines.{Captioning, FrameMining, VideoSlicing}

/** End-to-end pipeline recompositions (E1–E3) as registered queries. The
  * deterministic fakes make E1/E2 fully oracle-replayable; E3 contains the
  * order-dependent dedup fold → rows-only. */
object PipelineQueries {
  import Tables.{table, manifestSql}

  /** E1's oracle — ONE SQL string certifying both the well-ordered and
    * the mis-ordered authoring (the E2/E3/E4 pattern). */
  private val e1OracleSql = s"""WITH manifest AS ($manifestSql),
      segs AS (
        SELECT video_id,
          LEAST(total_duration, seg0 * 300.0 + 300.0) - seg0 * 300.0 AS seg_len
        FROM (SELECT video_id, total_duration,
                UNNEST(generate_series(0, CAST(CEIL(total_duration / 300.0) AS BIGINT) - 1)) AS seg0
              FROM manifest WHERE total_duration > 0 AND total_duration >= 60)),
      counts AS (
        SELECT video_id, COUNT(*) AS segments_count, COUNT(*) AS cuts_ok
        FROM segs WHERE seg_len >= 60.0 GROUP BY video_id)
      SELECT m.video_id, m.file_path,
        CASE WHEN m.total_duration <= 0 OR m.total_duration < 60 THEN 0 ELSE 1 END AS status,
        CASE WHEN m.total_duration <= 0 OR m.total_duration < 60 THEN 'duration too short' END AS reason,
        COALESCE(c.segments_count, 0) AS segments_count,
        COALESCE(c.cuts_ok, 0) AS cuts_ok
      FROM manifest m LEFT JOIN counts c USING (video_id)
      ORDER BY m.video_id"""

  /** E1 `cut_ruidi` shape: known-duration manifest → gate → tile →
    * retried cut → per-file summary (dead-letter rows kept). */
  val pipelineE1 = QueryDef("pipeline_e1_summary",
    (s, dir) => {
      // r15: pre-ranged manifest — gate/tile/path stages run distributed
      // instead of on the single scan core (the pipeline's own ensure()
      // floors only the segments branch, not the summary side)
      val manifest = Tables.manifestRanged(s, dir)
      new VideoSlicing(() => new Models.FakeVideoTool, segDur = 300.0, minDur = 60.0)
        .runWithKnownDurations(manifest)
        .orderBy("video_id")
    },
    Some(e1OracleSql))

  /** The SAME E1 with its duration gate deliberately MIS-ORDERED
    * (completing the misordered set across ALL FOUR entry points): the
    * author tiles and generates save paths over the WHOLE manifest and
    * writes the duration gate only afterwards, just before the cut stage.
    * Unlike E2/E3/E4 there is NO model barrier between the late gate and
    * the scan, so this variant pins that plain Catalyst predicate
    * pushdown ALONE collapses the plan — the gate slides below the tile
    * Generate to the scan, too-short videos produce no segments, and
    * [[graft.plans.GateHoist]] is not needed where no opaque stage
    * interposes (documenting the rule's boundary). Output hash-matches
    * `pipeline_e1_summary` EXACTLY (same oracle SQL); PlansSpec pins the
    * pushed-below-Generate shape and the identical rows. */
  val pipelineE1Misordered = QueryDef("pipeline_e1_summary_misordered",
    (s, dir) => {
      val vs = new VideoSlicing(() => new Models.FakeVideoTool,
        segDur = 300.0, minDur = 60.0)
      val gated = vs.gate(Tables.manifestRanged(s, dir)
        .withColumn("probe_error", lit(null).cast("string")))
      // mis-ordered authoring: tile + path-gen EVERYTHING…
      val segsAll = graft.operators.Tiling.tileSegments(
          graft.ops.Parallelism.ensure(gated), "total_duration", 300.0, 60.0)
        .withColumn("out_path", graft.functions.VideoFunctions.genSavePath(
          "/tmp/pipeline_out", col("file_path"), col("seg_idx"),
          col("start_time"), col("duration")))
        .withColumn("save_dir", graft.functions.VideoFunctions.genSaveDir(
          "/tmp/pipeline_out", col("file_path")))
      // …and only then remember the duration gate
      val segs = segsAll.filter(col("status") === 1)
      vs.summary(gated, vs.cut(segs)).orderBy("video_id")
    },
    Some(e1OracleSql))

  /** The captioning manifest both E2 variants share: JSON-list images on
    * even ids, a bare path on odd (exercising both placeholder parses). */
  private def captionInput(s: org.apache.spark.sql.SparkSession, dir: String) =
    table(s, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 2 === 0,
        format_string("[\"/imgs/a_%d.jpg\",\"/imgs/b_%d.jpg\"]", col("doc_id"), col("doc_id")))
        .otherwise(format_string("/imgs/a_%d.jpg", col("doc_id"))).as("input_images"),
      format_string("/out/img_%d.png", col("doc_id")).as("output_image"))

  /** E2's oracle — ONE SQL string certifying both the well-ordered and
    * the mis-ordered authoring (the frame-mining/bg-curation pattern). */
  private val captionOracleSql = """WITH t AS (
        SELECT doc_id,
          CASE WHEN doc_id % 2 = 0
               THEN [printf('/imgs/a_%d.jpg', doc_id), printf('/imgs/b_%d.jpg', doc_id)]
               ELSE [printf('/imgs/a_%d.jpg', doc_id)] END AS imgs,
          printf('/out/img_%d.png', doc_id) AS output_image
        FROM documents),
      p AS (
        SELECT doc_id, imgs, output_image,
          '<|system|>You are a captioner.<|user|>' || repeat('<image>', len(imgs))
            || ' Describe the subject.' AS prompt
        FROM t),
      c AS (
        SELECT doc_id, imgs, output_image,
          substring(md5(prompt || '|' || array_to_string(imgs, ',')), 1, 16) AS caption
        FROM p)
      SELECT doc_id, caption,
        CAST(to_json(struct_pack(task_type := 'subject_driven', instruction := caption,
          input_images := imgs, output_image := output_image)) AS VARCHAR) AS record
      FROM c ORDER BY doc_id"""

  /** E2 captioning: placeholder parse (list + bare-path fallback) → fixed
    * prompt → executor-singleton "VLM" → training-record JSON. */
  val pipelineCaption = QueryDef("pipeline_caption",
    (s, dir) => {
      new Captioning(() => new Models.FakeCaptioner).run(captionInput(s, dir))
        .select("doc_id", "caption", "record")
        .orderBy("doc_id")
    },
    Some(captionOracleSql))

  /** The SAME captioning pipeline with its record-validity gate
    * deliberately MIS-ORDERED (completing the set with E3/E4): the input
    * is WIDENED with invalid records that carry VALID-looking image lists
    * (the VLM would pay full inference for them) but an empty save
    * target, and the author writes the cheap `output_image` validity gate
    * at the very END, after the model stage and the record projection.
    * The plan still collapses to the well-ordered one:
    * [[graft.pipelines.Captioning.generate]] declares its row-wise
    * passthrough contract, so [[graft.plans.GateHoist]] slides the gate
    * through the record Project and below the VLM barrier, Catalyst then
    * pushes it into the union branches, and the invalid branch constant-
    * folds to an empty relation — invalid records never reach the model.
    * Output hash-matches `pipeline_caption` EXACTLY (same oracle SQL);
    * PlansSpec pins the hoisted plan shape and the identical rows. */
  val pipelineCaptionMisordered = QueryDef("pipeline_caption_misordered",
    (s, dir) => {
      val junk = table(s, dir, "documents").select(
        (col("doc_id") + 1000000000L).as("doc_id"),
        format_string("/imgs/junk_%d.jpg", col("doc_id")).as("input_images"),
        lit("").as("output_image"))
      new Captioning(() => new Models.FakeCaptioner)
        .run(captionInput(s, dir).unionByName(junk))
        .filter(col("output_image").startsWith("/out/")) // the mis-ordered gate
        .select("doc_id", "caption", "record")
        .orderBy("doc_id")
    },
    Some(captionOracleSql))

  /** Shared E3 chain on a (video_id, total_frames) manifest — the
    * REGISTERED query and ScaleProbe's `frame_mining` family both call
    * this (same shared-builder discipline as [[dedupCorpusVerdicts]] /
    * [[bgCurationSummary]]: the probe measures exactly the shipped
    * two-phase plan). */
  def frameMiningRun(manifest: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    new FrameMining(
      () => new Models.FakePersonDetector, () => new Models.FakeFaceDetector,
      () => new Models.FakeFaceQualityScorer, () => new Models.FakeFaceEmbedder())
      .run(manifest)

  /** E3 two-phase frame mining (greedy fold inside → rows-only). */
  val pipelineFrameMining = QueryDef("pipeline_frame_mining",
    (s, dir) => {
      val manifest = Tables.manifest(s, dir)
        .filter(col("video_id") % 100 === 0)
        .withColumn("total_frames", floor(col("total_duration") * 24).cast("long"))
        .select("video_id", "total_frames")
      frameMiningRun(manifest)
    },
    None)

  /** [[Models.md5Long]]'s SQL twin — shared by both pipeline-oracle SQL
    * builders (one definition, so the recipe can never desynchronize). */
  private val h = (k: String) =>
    s"CAST(('0x' || substring(md5($k), 1, 15)) AS BIGINT)"

  private def frameMiningOracleSql: String = {
    val vidS = "CAST(video_id AS VARCHAR)"
    val fidxS = "CAST(fidx AS VARCHAR)"
    val slotS = "CAST(slot AS VARCHAR)"
    s"""WITH m AS (SELECT event_id AS video_id FROM events WHERE event_id % 200 = 0),
      f1 AS (SELECT video_id, g.i AS fidx FROM m, generate_series(0, 300, 20) g(i)),
      f2 AS (SELECT video_id, g.i AS fidx FROM m, generate_series(301, 3009, 50) g(i)),
      fa AS (SELECT video_id, fidx, 1 AS ph FROM f1
             UNION ALL SELECT video_id, fidx, 2 FROM f2),
      np AS (SELECT video_id, fidx, ph,
               ${h(s"'pd:' || $vidS || ':' || $fidxS")} % 3 AS n_persons
             FROM fa),
      sl AS (SELECT np.video_id, np.fidx, np.ph, g.slot
             FROM np, generate_series(0, 1) g(slot)
             WHERE np.n_persons BETWEEN 1 AND 2 AND g.slot < np.n_persons),
      fcand AS (SELECT video_id, fidx, ph, slot,
                  ${h(s"'fd:' || $vidS || ':' || $fidxS || ':' || $slotS")} % 3 AS nf
                FROM sl),
      fscore AS (SELECT f.video_id, f.fidx, f.ph, f.slot, f.nf, g.j,
                   (${h(s"'fs:' || $vidS || ':' || $fidxS || ':' || $slotS || ':' || CAST(g.j AS VARCHAR)")} % 100) / 100.0 AS sc
                 FROM fcand f, generate_series(0, 1) g(j)
                 WHERE g.j < f.nf),
      fgate AS (SELECT f.video_id, f.fidx, f.ph, f.slot
                FROM fcand f LEFT JOIN fscore s
                  ON f.video_id = s.video_id AND f.fidx = s.fidx AND f.slot = s.slot
                GROUP BY f.video_id, f.fidx, f.ph, f.slot
                HAVING SUM(CASE WHEN (f.ph = 1 AND s.sc >= 0.8)
                                  OR (f.ph = 2 AND s.sc >= 0.5) THEN 1 ELSE 0 END) = 1),
      qg AS (SELECT video_id, fidx, ph, slot,
               (${h(s"'fq:' || $vidS || ':' || $fidxS || ':' || $slotS")} % 100) / 100.0 AS q,
               ${h(s"'id:' || $vidS || ':' || $slotS")} % 4 AS ident
             FROM fgate
             WHERE (${h(s"'fq:' || $vidS || ':' || $fidxS || ':' || $slotS")} % 100) / 100.0 > 0.35),
      rid AS (SELECT video_id, ident FROM qg WHERE ph = 1 GROUP BY video_id, ident),
      vr AS (SELECT video_id, COUNT(*) AS n_refs FROM rid GROUP BY video_id
             HAVING COUNT(*) BETWEEN 2 AND 3),
      refids AS (SELECT rid.video_id, rid.ident FROM rid JOIN vr USING (video_id)),
      sc2 AS (SELECT qg.video_id, qg.fidx, qg.slot, qg.q, 0.8 AS max_sim
              FROM qg JOIN refids r ON qg.video_id = r.video_id AND qg.ident = r.ident
              WHERE qg.ph = 2),
      fs AS (SELECT video_id, fidx,
               ROUND(AVG(q), 6) AS avg_q, ROUND(AVG(max_sim), 6) AS avg_sim
             FROM sc2 GROUP BY video_id, fidx),
      fs2 AS (SELECT video_id, fidx, avg_q, avg_sim,
                ROUND((avg_q + avg_sim) / 2, 6) AS combined,
                fidx // 150 AS bin
              FROM fs),
      t1 AS (SELECT video_id, bin, fidx, avg_q, avg_sim, combined
             FROM (SELECT video_id, bin, fidx, avg_q, avg_sim, combined,
                     ROW_NUMBER() OVER (PARTITION BY video_id, bin
                       ORDER BY combined DESC, fidx ASC) AS rn
                   FROM fs2)
             WHERE rn = 1)
      SELECT t1.video_id, t1.bin, t1.fidx AS frame_idx,
             t1.avg_q, t1.avg_sim, t1.combined, vr.n_refs
      FROM t1 JOIN vr USING (video_id)
      ORDER BY t1.video_id, frame_idx"""
  }

  // One factory value per model, shared by every query that runs it: a
  // model's executor-singleton key is the digest of its factory
  // (graft.ml.ModelStage), so each lambda literal of the same model would
  // load one more instance into the JVM.
  private val md5PersonDetector = () => new Models.Md5PersonDetector
  private val md5FaceDetector = () => new Models.Md5FaceDetector
  private val md5FaceQualityScorer = () => new Models.Md5FaceQualityScorer
  private val md5FaceEmbedder = () => new Models.Md5FaceEmbedder(refMaxFrame = 300L)
  private val md5GroundingMasker = () => new Models.Md5GroundingMasker
  private val fakeMatting = () => new Models.FakeMatting
  private val fakeRelighter = () => new Models.FakeRelighter

  /** Oracle COMPANION for pipeline_frame_mining (the dedup_greedy_oracle
    * constraints realized as MODEL FAKES — [[Models.Md5PersonDetector]]
    * and friends): the REAL two-phase E3 pipeline runs end to end —
    * frame sampling, the batched four-tier mapPartitions extraction with
    * executor-singleton models, the greedy identity fold, the ref-count
    * gate, the broadcast band-pass correlation, frame scoring and the
    * top-1-per-bin window — and every model decision is md5-derived with
    * identity-disjoint boxes and rational-cosine embeddings, so the fold
    * has a closed form and DuckDB replays the ENTIRE observable output
    * (gates, fold winners, band-pass, averages, window ranks). The
    * opaque-fake pipeline row (pipeline_frame_mining) stays as the
    * production configuration; this row is the machinery's hash
    * evidence. */
  val pipelineFrameMiningOracle = QueryDef("pipeline_frame_mining_oracle",
    (s, dir) => {
      val manifest = Tables.table(s, dir, "events")
        .select(col("event_id").as("video_id"))
        .filter(col("video_id") % 200 === 0)
        .withColumn("total_frames", lit(3010L))
      new FrameMining(
        md5PersonDetector, md5FaceDetector, md5FaceQualityScorer, md5FaceEmbedder)
        .run(manifest)
    },
    Some(frameMiningOracleSql))

  /** The SAME frame-mining pipeline with its video gate deliberately
    * MIS-ORDERED: the manifest enters WIDER (video_id % 100 — twice the
    * videos) and the author writes the `% 200` gate at the very END,
    * after every model stage, join, aggregation, and window. The plan
    * still collapses to the well-ordered one: Catalyst's own pushdown
    * carries the gate through the sort, the n_refs join, the top-1
    * window, and the score aggregate (video_id keys every one of them),
    * and [[graft.plans.GateHoist]] takes the final step through the
    * opaque model barrier that Catalyst cannot cross — so phase-2
    * inference never runs for gated-out videos (phase-1 ref mining sits
    * behind its own localCheckpoint and still pays the wide manifest;
    * the checkpoint is a lineage cut by design). Output hash-matches
    * `pipeline_frame_mining_oracle`'s SQL EXACTLY — the same oracle
    * certifies both orderings; PlansSpec pins the plan shape and the
    * job-count profile. */
  val pipelineFrameMiningMisordered = QueryDef("pipeline_frame_mining_misordered",
    (s, dir) => {
      val manifest = Tables.table(s, dir, "events")
        .select(col("event_id").as("video_id"))
        .filter(col("video_id") % 100 === 0)
        .withColumn("total_frames", lit(3010L))
      new FrameMining(
        md5PersonDetector, md5FaceDetector, md5FaceQualityScorer, md5FaceEmbedder)
        // sortCheckpoint = false: the late gate below must stay in ONE
        // optimizable plan so Catalyst + GateHoist can carry it below the
        // model barriers (PlansSpec pins the collapsed shape)
        .run(manifest, sortCheckpoint = false)
        .filter(col("video_id") % 200 === 0) // the mis-ordered gate
    },
    Some(frameMiningOracleSql))

  private def bgPipeline() = new graft.pipelines.BackgroundCuration(
    () => new Models.FakePersonDetector,
    () => new Models.FakeFaceDetector,
    () => new Models.FakeGroundingMasker,
    fakeMatting,
    fakeRelighter,
    new graft.sources.Sinks.LocalFsStore("/tmp/graft_bg_out"))

  /** The part-derived synthetic image frame the E4 queries run on —
    * shared by the registered query and ScaleProbe's `bg_curation`
    * family (the probe replicates THIS frame, so replica h/w carry the
    * original key's values and gate pass-fractions are exactly
    * scale-invariant). */
  def bgCurationImages(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    table(s, dir, "part").select(
      col("p_partkey").as("image_id"),
      format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
      (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
      (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))

  /** Shared E4 chain (resolution gate → detect → box gates → per-box
    * model stages → persons assembly → summary sort) — the REGISTERED
    * query and ScaleProbe's `bg_curation` family both call this, so the
    * probe measures exactly the shipped plan (the r13 dedup-corpus
    * lesson: an inline probe replica rots when the query's shape moves). */
  def bgCurationSummary(images: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    bgPipeline().run(images)
      .select("image_id", "h", "w", "max_area", "area_ratio", "n_persons")
      .orderBy("image_id")

  /** E4 image curation end-to-end (fake models → rows-only; the relational
    * subset is oracle-checked by `bg_save_paths`). */
  val pipelineBgCuration = QueryDef("pipeline_bg_curation",
    (s, dir) => bgCurationSummary(bgCurationImages(s, dir)),
    None)

  /** E4 relational subset, oracle-green: synthetic person boxes from pure
    * integer arithmetic → resolution/count/area gates → per-box fan-out
    * with the empty-crop skip → the reference's six save-path composition
    * (ref pipeline/for_high_bg_all_morelittler.py:171-176,226-234). Runs
    * the REAL pipeline stages minus the opaque model gates. */
  val bgSavePaths = QueryDef("bg_save_paths",
    (s, dir) => {
      def mkBox(i: Column) = struct(
        ((col("image_id") * 13 + i * 97) % col("w")).as("x1"),
        ((col("image_id") * 7 + i * 57) % col("h")).as("y1"),
        (((col("image_id") * 13 + i * 97) % col("w")) + 150 + col("image_id") % 200).as("x2"),
        (((col("image_id") * 7 + i * 57) % col("h")) + 250 + col("image_id") % 300).as("y2"))
      val images = table(s, dir, "part").select(
        col("p_partkey").as("image_id"),
        format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
        (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
        (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))
        .withColumn("person_boxes",
          slice(array(mkBox(lit(0)), mkBox(lit(1)), mkBox(lit(2))), lit(1),
            (col("image_id") % 4).cast("int")))
        .withColumn("tag", lit("in"))
      val pipe = bgPipeline()
      pipe.withSavePaths(pipe.explodeBoxes(pipe.gates(images)))
        .select(Seq(col("image_id"), col("box_idx"), col("max_area"),
          col("area_ratio"), col("orig_path")) ++
          graft.pipelines.BackgroundCuration.outputKinds.map { case (k, _) => col(s"path_$k") }: _*)
        .orderBy("image_id", "box_idx")
    },
    Some("""WITH img AS (
        SELECT p_partkey AS image_id,
               printf('/imgs/part_%d.jpg', p_partkey) AS image_path,
               400 + (p_partkey * 37) % 1200 AS h,
               600 + (p_partkey * 53) % 1600 AS w
        FROM part
        WHERE 400 + (p_partkey * 37) % 1200 >= 1000
          AND 600 + (p_partkey * 53) % 1600 >= 1000
          AND p_partkey % 4 BETWEEN 1 AND 3),
      b AS (
        SELECT image_id, image_path, h, w, CAST(i AS BIGINT) AS box_idx,
          (image_id * 13 + i * 97) % w AS x1,
          (image_id * 7 + i * 57) % h AS y1,
          (image_id * 13 + i * 97) % w + 150 + image_id % 200 AS x2,
          (image_id * 7 + i * 57) % h + 250 + image_id % 300 AS y2
        FROM img, UNNEST([0, 1, 2]) AS t(i)
        WHERE i < image_id % 4),
      areas AS (
        SELECT *, GREATEST(0, LEAST(x2, w) - GREATEST(x1, 0))
                * GREATEST(0, LEAST(y2, h) - GREATEST(y1, 0)) AS clipped
        FROM b),
      gated AS (
        SELECT *,
          CAST(MAX(clipped) OVER (PARTITION BY image_id) AS DOUBLE) AS max_area,
          CAST(MAX(clipped) OVER (PARTITION BY image_id) AS DOUBLE) / CAST(h * w AS DOUBLE) AS area_ratio
        FROM areas),
      kept AS (
        SELECT * FROM gated
        WHERE area_ratio <= 0.4
          AND LEAST(x2, w) > GREATEST(x1, 0) AND LEAST(y2, h) > GREATEST(y1, 0)),
      named AS (
        SELECT *,
          regexp_extract(image_path, '([^/]+)\.[^./]+$', 1) AS file_name,
          '/out/' || regexp_extract(image_path, '([^/]+)/[^/]+$', 1) || '/in' AS save_dir
        FROM kept)
      SELECT image_id, box_idx, max_area, area_ratio,
        printf('%s/%s.jpg', save_dir, file_name) AS orig_path,
        printf('%s/%s_in_p%d_mask_bbox.png', save_dir, file_name, box_idx) AS path_mask_bbox,
        printf('%s/%s_in_p%d_human_bbox.png', save_dir, file_name, box_idx) AS path_human_bbox,
        printf('%s/%s_in_p%d_human_lbm.jpg', save_dir, file_name, box_idx) AS path_human_lbm,
        printf('%s/%s_in_p%d_background.png', save_dir, file_name, box_idx) AS path_background,
        printf('%s/%s_in_p%d_background_mask.png', save_dir, file_name, box_idx) AS path_background_mask,
        printf('%s/%s_in_p%d_human_full_bgr.png', save_dir, file_name, box_idx) AS path_human_full_bgr
      FROM named ORDER BY image_id, box_idx"""))

  /** End-to-end corpus curation (pipelines/CorpusCuration): scrub →
    * quality/lang/repetition gates → exact dedup keep-min → test-set
    * 5-gram decontamination → domain-mix sampling → salted split →
    * 32-token chunking — the whole declarative prefix oracle-checked as
    * ONE composed CTE chain (packing, the order-dependent tail, is
    * rows-only via PackingSpec + the curation pipeline spec). */
  val pipelineCuration = QueryDef("pipeline_curation",
    // localCheckpoint before the compare-order sort: the gated output is
    // tiny, while the sort's range-sampling pass would otherwise execute
    // the whole scrub→gate→dedup→chunk subtree a second time.
    (s, dir) => new graft.pipelines.CorpusCuration()
      .curate(table(s, dir, "documents"))
      .localCheckpoint()
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH scrubbed AS (
        SELECT doc_id, source,
          regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                         '[0-9]{4,}', '<NUM>', 'g') AS clean
        FROM documents),
      t AS (SELECT doc_id, source, clean,
              list_filter(string_split(clean, ' '), x -> x <> '') AS toks
            FROM scrubbed),
      m AS (SELECT doc_id, source, clean, toks,
              CAST(len(toks) AS DOUBLE) AS ntok,
              CASE WHEN length(clean) > 0
                   THEN CAST(length(regexp_replace(clean, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / CAST(length(clean) AS DOUBLE)
                   ELSE 0.0 END AS pr,
              CASE WHEN len(toks) > 0
                   THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','of','and','to','in','is','it','for'], x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                   ELSE 0.0 END AS sr
            FROM t),
      g AS (SELECT doc_id, source, toks,
              ROUND(LEAST(CAST(1.0 AS DOUBLE), ntok / 100.0) * 0.4 + (CAST(1.0 AS DOUBLE) - pr) * 0.3 + sr * 0.3, 6) AS quality,
              CASE WHEN sr >= 0.08 THEN 'en' ELSE 'und' END AS lang_pred,
              CASE WHEN len(toks) > 0
                   THEN ROUND(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
                   ELSE 0.0 END AS rep
            FROM m),
      gated AS (SELECT doc_id, source, toks FROM g
                WHERE quality >= 0.3 AND rep <= 0.6 AND lang_pred = 'en'),
      keyed AS (SELECT *, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS k FROM gated),
      keep AS (SELECT MIN(doc_id) AS doc_id FROM keyed GROUP BY k),
      dd AS (SELECT keyed.* FROM keyed JOIN keep USING (doc_id)),
      bk AS (SELECT *, CAST(('0x' || substring(md5('graft-v1:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
             FROM dd),
      sh AS (SELECT doc_id, bucket,
               CASE WHEN len(toks) >= 5
                    THEN list_distinct([array_to_string(list_slice(toks, i, i + 4), ' ')
                                        for i in generate_series(1, len(toks) - 4)])
                    ELSE [array_to_string(toks, ' ')] END AS grams
             FROM bk),
      tg AS (SELECT DISTINCT UNNEST(grams) AS gram FROM sh WHERE bucket >= 90),
      ct AS (SELECT DISTINCT tr.doc_id
             FROM (SELECT doc_id, UNNEST(grams) AS gram FROM sh WHERE bucket < 90) tr
             JOIN tg USING (gram)),
      dc AS (SELECT * FROM bk WHERE doc_id NOT IN (SELECT doc_id FROM ct)),
      cn AS (SELECT source, COUNT(*) AS cnt FROM dc GROUP BY source),
      tt AS (SELECT source, cnt, MIN(cnt) OVER () AS target FROM cn),
      mx AS (SELECT dc.* FROM dc JOIN tt USING (source)
             WHERE CAST(('0x' || substring(md5('graft-sample:' || CAST(dc.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 * tt.cnt < tt.target * 10000),
      spl AS (SELECT *, CASE
                WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
              FROM mx),
      n AS (SELECT doc_id, source, split, toks, CAST(len(toks) AS BIGINT) AS n_tok
            FROM spl WHERE len(toks) > 0),
      c AS (SELECT doc_id, source, split, toks, n_tok,
              UNNEST(generate_series(0, (n_tok + 31) // 32 - 1)) AS chunk_idx
            FROM n)
      SELECT doc_id, source, split, chunk_idx,
        array_to_string(list_slice(toks, chunk_idx * 32 + 1, chunk_idx * 32 + 32), ' ') AS chunk_text,
        LEAST(32, n_tok - chunk_idx * 32) AS chunk_tokens
      FROM c ORDER BY doc_id, chunk_idx"""))

  /** The end-to-end dedup-corpus verdicts, shared by the registered query
    * and ScaleProbe's `dedup_corpus` family (the probe measures exactly
    * the shipped plan): the near-dup chain ([[Dedup.nearDupClusters]],
    * carrying `source` through its checkpoint), then a per-document
    * verdict: `dup_exact` (lost its content group), `dup_near` (survivor
    * absorbed into a near-dup cluster), or `kept`, each with its ultimate
    * canonical representative. */
  def dedupCorpusVerdicts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (withKeep, comps) = Dedup.nearDupClusters(docs, col("source"))
    withKeep.join(comps, withKeep("keep_id") === comps("id"))
      .select(col("doc_id"), col("source"),
        when(col("doc_id") =!= col("keep_id"), lit("dup_exact"))
          .when(col("comp") =!= col("doc_id"), lit("dup_near"))
          .otherwise(lit("kept")).as("status"),
        col("comp").as("canonical_id"))
      .orderBy("doc_id")
  }

  val pipelineDedupCorpus = QueryDef("pipeline_dedup_corpus",
    (s, dir) => dedupCorpusVerdicts(table(s, dir, "documents")),
    Some(s"""WITH RECURSIVE
      ${MinhashSql.nearDupClusterCtes}
      SELECT wk.doc_id, wk.source,
        CASE WHEN wk.doc_id <> wk.keep_id THEN 'dup_exact'
             WHEN c.comp <> wk.doc_id THEN 'dup_near'
             ELSE 'kept' END AS status,
        c.comp AS canonical_id
      FROM wk JOIN comp c ON wk.keep_id = c.id
      ORDER BY wk.doc_id"""))

  private def bgCurationOracleSql: String = {
    val idS = "CAST(image_id AS VARCHAR)"
    s"""WITH im AS (SELECT p_partkey AS image_id,
        400 + (p_partkey * 37) % 1200 AS h,
        600 + (p_partkey * 53) % 1600 AS w
      FROM part),
      rg AS (SELECT * FROM im WHERE h >= 1000 AND w >= 1000),
      np AS (SELECT image_id, h, w,
               ${h(s"'pd:' || $idS || ':0'")} % 3 AS n
             FROM rg),
      ci AS (SELECT * FROM np WHERE n BETWEEN 1 AND 3),
      bx AS (SELECT ci.image_id, ci.h, ci.w, g.slot,
               ${h(s"'id:' || $idS || ':' || CAST(g.slot AS VARCHAR)")} % 4 AS ident
             FROM ci, generate_series(0, 2) g(slot)
             WHERE g.slot < ci.n),
      bx2 AS (SELECT image_id, h, w, slot,
                CAST(ident * 200 AS DOUBLE) AS x1, CAST(0 AS DOUBLE) AS y1,
                CAST(ident * 200 + 120 AS DOUBLE) AS x2, CAST(200 AS DOUBLE) AS y2,
                ident * 200 AS ix1
              FROM bx),
      ar AS (SELECT image_id, h, w,
               MAX(GREATEST(0.0, LEAST(x2, CAST(w AS DOUBLE)) - GREATEST(x1, 0.0)) *
                   GREATEST(0.0, LEAST(y2, CAST(h AS DOUBLE)) - GREATEST(y1, 0.0))) AS max_area
             FROM bx2 GROUP BY image_id, h, w),
      ga AS (SELECT image_id, h, w, max_area,
               max_area / CAST(h * w AS DOUBLE) AS area_ratio
             FROM ar
             WHERE max_area / CAST(h * w AS DOUBLE) <= 0.4),
      nf AS (SELECT b.image_id, b.slot, b.ix1,
               ${h(s"'fd:' || $idS || ':0:' || CAST(b.slot AS VARCHAR)")} % 3 AS nfaces
             FROM bx2 b JOIN ga USING (image_id)),
      fg AS (SELECT n.image_id, n.slot, n.ix1
             FROM nf n LEFT JOIN (
               SELECT nf.image_id, nf.slot, g.j,
                 (${h(s"'fs:' || CAST(nf.image_id AS VARCHAR) || ':0:' || CAST(nf.slot AS VARCHAR) || ':' || CAST(g.j AS VARCHAR)")} % 100) / 100.0 AS sc
               FROM nf, generate_series(0, 1) g(j) WHERE g.j < nf.nfaces) s
               ON n.image_id = s.image_id AND n.slot = s.slot
             GROUP BY n.image_id, n.slot, n.ix1
             HAVING SUM(CASE WHEN s.sc >= 0.5 THEN 1 ELSE 0 END) = 1),
      mk AS (SELECT image_id, slot FROM fg
             WHERE ${h(s"'mr:' || $idS || ':' || CAST(ix1 AS VARCHAR) || ':0'")} % 16 <> 0),
      ps AS (SELECT image_id, COUNT(*) AS n_persons FROM mk GROUP BY image_id)
      SELECT ga.image_id, CAST(ga.h AS BIGINT) AS h, CAST(ga.w AS BIGINT) AS w,
        ga.max_area, ga.area_ratio,
        CAST(COALESCE(ps.n_persons, 0) AS BIGINT) AS n_persons
      FROM ga LEFT JOIN ps USING (image_id)
      ORDER BY ga.image_id"""
  }

  /** Oracle COMPANION for pipeline_bg_curation: the REAL E4 pipeline —
    * resolution gate, detect barrier, count/area gates, per-box model
    * stage (face gate + grounding mask), persons re-assembly — under the
    * md5-replayable fakes, so DuckDB replays every gate decision, the
    * clipped-area arithmetic, and the per-image surviving-person counts.
    * Matte/relight statuses don't surface in this projection; their
    * machinery stays spec-covered. The opaque-fake row
    * (pipeline_bg_curation) remains the production configuration. */
  val pipelineBgCurationOracle = QueryDef("pipeline_bg_curation_oracle",
    (s, dir) => {
      val images = table(s, dir, "part").select(
        col("p_partkey").as("image_id"),
        format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
        (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
        (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))
      new graft.pipelines.BackgroundCuration(
        md5PersonDetector, md5FaceDetector, md5GroundingMasker, fakeMatting, fakeRelighter,
        new graft.sources.Sinks.LocalFsStore("/tmp/graft_bg_oracle_out"))
        .run(images)
        .select("image_id", "h", "w", "max_area", "area_ratio", "n_persons")
        .orderBy("image_id")
    },
    Some(bgCurationOracleSql))

  /** The SAME E4 pipeline with its cheap gate deliberately MIS-ORDERED:
    * the author runs person detection FIRST and bolts the resolution
    * gate on after the box gates — every image would pay the detect
    * barrier before the one filter that needs no model at all. The plan
    * still collapses to the well-ordered one: Catalyst pushes the gate
    * through the box-gate projections (and, where its own pushdown
    * merges it into the computed-column gate conjunction, GateHoist
    * splits the conjunction), and [[graft.plans.GateHoist]] carries the
    * h/w conjuncts through the opaque detect barrier via the
    * passthrough contract [[graft.pipelines.BackgroundCuration.detect]]
    * declares — so sub-resolution images never reach the detector.
    * Output hash-matches `pipeline_bg_curation_oracle`'s SQL EXACTLY —
    * the same oracle certifies both orderings; PlansSpec pins the
    * plan shape. */
  val pipelineBgCurationMisordered = QueryDef("pipeline_bg_curation_misordered",
    (s, dir) => {
      val images = table(s, dir, "part").select(
        col("p_partkey").as("image_id"),
        format_string("/imgs/part_%d.jpg", col("p_partkey")).as("image_path"),
        (lit(400L) + (col("p_partkey") * 37) % 1200).as("h"),
        (lit(600L) + (col("p_partkey") * 53) % 1600).as("w"))
      val pipe = new graft.pipelines.BackgroundCuration(
        md5PersonDetector, md5FaceDetector, md5GroundingMasker, fakeMatting, fakeRelighter,
        new graft.sources.Sinks.LocalFsStore("/tmp/graft_bg_oracle_out"))
      // the mis-ordering: detect EVERYTHING, box-gate, and only then
      // remember the resolution gate
      val gated = pipe.boxGates(pipe.detect(images.withColumn("tag", lit("in"))))
        .filter(col("h") >= 1000 && col("w") >= 1000)
      val perBox = pipe.withSavePaths(pipe.modelStage(pipe.explodeBoxes(gated)))
      pipe.personsOf(gated, perBox)
        .select("image_id", "h", "w", "max_area", "area_ratio", "n_persons")
        .orderBy("image_id")
    },
    Some(bgCurationOracleSql))

  val defs: Seq[QueryDef] = Seq(pipelineE1, pipelineE1Misordered,
    pipelineCaption, pipelineCaptionMisordered,
    pipelineFrameMining,
    pipelineFrameMiningOracle, pipelineFrameMiningMisordered, pipelineBgCuration,
    bgSavePaths, pipelineCuration, pipelineDedupCorpus, pipelineBgCurationOracle,
    pipelineBgCurationMisordered)
}
