package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: formatted physical plans of registered queries.
  *
  * `runMain graft.Plans [sfDir]` regenerates PLANS.md — the headline
  * queries, the artifact backing the scale claims (pushdown, broadcast,
  * shuffle counts, native kernels).
  *
  * `runMain graft.Plans <outDir> <suffix> <query>[,<query>...]|ALL [sfDir]`
  * writes one `<outDir>/<query>_<suffix>.txt` per query instead — the
  * optimization-round evidence (`plans/r<N>/<query>_{before,after}.txt`). */
object Plans {
  private val headline = Seq(
    "q1_agg", "tile_segments", "join_broadcast", "join_asof", "join_range",
    "top1_per_bin", "cosine_topk", "ann_lsh_topk", "ann_ivf_topk",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_exact", "stream_window_agg",
    "pipeline_e1_summary", "chunk_tokens", "pack_sequences", "stream_dedup",
    "merge_upsert", "skew_salted_agg", "lm_score", "stream_interval_join",
    "vocab_topk", "pipeline_curation", "dedup_components", "zorder_cluster",
    "decontaminate", "sample_weighted", "ann_recall_tiers", "dedup_greedy_oracle",
    "pack_sequences_oracle", "dedup_spans", "url_normalize",
    "dedup_lines", "tfidf_top_terms", "sample_stratified", "heavy_hitters",
    "join_bloom_prune", "pipeline_dedup_corpus", "dedup_incremental",
    "multimodal_audio_energy", "delete_propagate",
    "ann_pq_topk", "ann_ivfpq_topk", "dedup_semantic", "dedup_representative",
    "corpus_overlap", "shard_assign",
    "cluster_assign", "sample_temperature", "quality_gopher", "html_strip",
    "dsir_weights", "bpe_pair_counts", "pipeline_select",
    "ann_matryoshka_topk", "quality_percentile", "chunk_overlap",
    "stream_topk", "ann_ivf_incremental",
    "dedup_image_dhash_oracle", "ann_ivf_topk_oracle", "ann_ivf_persisted",
    "ann_pq_topk_oracle",
    "ann_ivfpq_topk_oracle", "pipeline_frame_mining_oracle",
    "pipeline_bg_curation_oracle", "corpus_drift",
    "rrf_fusion", "dedup_soft_weights", "link_pagerank",
    "span_corruption_mask", "ann_filtered_topk", "mine_contrastive_pairs",
    "mix_doremi", "pipeline_pretrain",
    "chat_template", "preference_pairs", "epoch_shuffle", "oov_rate",
    "anchor_extract", "perplexity_buckets", "pipeline_sft", "data_card",
    "embedding_stats", "collapse_repeats", "scd2_history", "blocklist_filter", "mix_anneal", "outlier_iqr",
    "decontaminate_semantic", "multimodal_clip_filter", "pipeline_multimodal",
    "code_extract", "dup_ngram_fraction", "lsh_calibration", "vocab_coverage",
    "script_detect", "time_split", "cluster_balance", "curriculum_order",
    "ivf_probe_sweep", "hits_scores", "source_dedup_matrix", "fim_transform",
    "winsorize", "skew_report", "dataloader_manifest", "funnel_steps", "cube_counts",
    "ann_binary_topk", "anomaly_zscore", "snapshot_diff", "quality_classifier", "embedding_pool",
    "join_interval_overlap", "ann_recall_tiers", "ann_ivf_compact",
    "bpe_train_oracle", "bpe_train_fertility", "dedup_containment",
    "bt_rating", "knn_graph", "coreset_kcenter", "validate_expectations",
    "quality_topk_per_source", "dataset_fingerprint", "semdedup",
    "wordpiece_train_oracle", "wordpiece_train_fertility",
    "validate_expectations_docs", "validate_expectations_embeddings",
    "pipeline_frame_mining_misordered", "pipeline_bg_curation_misordered",
    "shot_boundaries")

  private def explain(spark: SparkSession, dir: String, name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(ExplainMode.fromString("formatted")).trim

  def main(argv: Array[String]): Unit = {
    val spark = GraftSession.fromEnv(defaultCores = 4)
    val perQuery = argv.length >= 3
    val args = if (perQuery) argv.drop(3) else argv
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    if (perQuery) dumpEach(spark, dir, argv(0), argv(1), argv(2))
    else writePlansMd(spark, dir)
    spark.stop()
  }

  private def dumpEach(spark: SparkSession, dir: String, outDir: String,
                       suffix: String, namesArg: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (namesArg == "ALL") SparkEntry.queries.keys.toSeq.sorted
      else namesArg.split(',').toSeq
    names.foreach { name =>
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
        explain(spark, dir, name) + "\n")
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
  }

  private def writePlansMd(spark: SparkSession, dir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for headline queries\n\n")
    sb.append(s"Auto-generated by `runMain graft.Plans` against `$dir`.\n")
    sb.append("Evidence for the scale design: filters/pruning reach the scan, small\n")
    sb.append("sides broadcast, generators stay shuffle-free, native kernels\n")
    sb.append("(graft_cosine / graft_topk / graft_sorted_intersect_count /\n")
    sb.append("graft_hyperplane_buckets, each built directly as a Catalyst\n")
    sb.append("expression) appear in the hot paths.\n")
    headline.foreach { name =>
      sb.append(s"\n## $name\n\n```\n")
      sb.append(explain(spark, dir, name))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
  }
}
