package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The operator inventory lives in the `graft.operators.*` / `graft.ops.*`
  * modules as `Q` values; this object only assembles the maps the driver
  * consumes.
  */
object SparkEntry {

  /** All declared capabilities, each a named query over `$sfDir`. */
  def allDefs: Seq[Q] =
    operators.Relational.defs ++
      operators.RelationalExtra.defs ++
      operators.TypedQueries.defs ++
      operators.PivotStats.defs ++
      operators.WindowsSetOps.defs ++
      functions.ScalarQueries.defs ++
      functions.GeneratorsDates.defs ++
      ops.Dedup.defs ++
      ops.Pipeline.defs ++
      ops.Incremental.defs ++
      ops.Similarity.defs ++
      ops.CurationExtra.defs ++
      ops.TextAnalysis.defs ++
      ops.BpeTokenizer.defs ++
      ops.UnigramTokenizer.defs ++
      ops.Multimodal.defs ++
      streaming.StreamingQueries.defs ++
      operators.AdvancedJoins.defs ++
      sources.SourceQueries.defs ++
      functions.Extensibility.defs ++
      operators.PipeQueries.defs

  /** The one place queries get their session: every query body runs on a
    * session carrying `Engine.install` (the custom SQL functions and the
    * heap top-k), so no body registers anything itself. Streaming
    * micro-batch sessions are clones of this session and inherit it. */
  private def installed(fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, sfDir) => fn(Engine.install(spark), sfDir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    installed(allDefs.head.fn)(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(q => q.name -> installed(q.fn)).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted → driver records rows-only check. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** Oracles whose SQL embeds a table the engine LEARNS from the data
    * (tokenizer merges/pieces), rendered against the run's sfDir at
    * Verify time — DuckDB then re-applies the rendered table to the
    * corpus independently, hash-checking the application half of the
    * tokenizer queries. Training itself remains spec-verified
    * (BpeSpec/UnigramSpec route-equality). */
  def dynamicOracleSql(spark: SparkSession, sfDir: String): Map[String, String] = {
    Engine.install(spark)
    allDefs.flatMap(q => q.dynOracle.map(gen => q.name -> gen(spark, sfDir))).toMap
  }

  /** Headline subset benchmarked by `Bench` (heavier, scan/join/agg bound). */
  def benchNames: Seq[String] = {
    val preferred = Seq(
      "q01_pricing_summary", "q03_shipping_priority", "q05_local_supplier_volume",
      "q06_forecast_revenue", "q07_cust_order_histogram", "q09_range_bracket_join",
      "q13_window_rank", "q16_topk_per_group", "q18_setops",
      "q33_returned_items", "q37_region_share_by_year",
      "d03_minhash_lsh", "d05_embed_cosine_topk", "d08_dedup_groups",
      "d10_decontaminate", "d11_simhash_dedup",
      "d13_ngram_decontaminate", "d14_semantic_dedup", "d15_verified_dedup_groups",
      "d22_exact_substring", "d24_kmeans", "d26_pq_recall", "d32_knn_graph",
      "d49_soft_dedup_weights", "d50_span_removal",
      "d53_index_update", "m10_perceptual_hash_dedup",
      "t23_novelty", "d38_segment_dedup", "t25_dsir_importance",
      "t05_tfidf", "t06_salted_token_count", "t07_train_split",
      "t12_sequence_pack", "t13_unigram_surprisal", "t17_bm25",
      "t29_bigram_lm", "t31_bpe_segment", "t35_gopher_repetition",
      "t37_unigram_segment", "t53_incremental_bm25",
      "t54_tokenizer_drift_census", "t55_epoch_shard_export",
      "d70_posting_schema_evolution", "t58_phrase_from_index",
      "t56_pii_redaction", "t57_drop_attribution",
      "p01_full_curation", "p02_incremental_curation",
      "d56_takedown_readmission", "d57_store_compaction", "d58_generation_swap",
      "d59_ann_takedown", "d60_ivf_append", "d63_ivfpq_index",
      "d64_rebucket_migration", "d65_growth_gated_migration",
      "d72_index_tier_migration", "d73_cell_growth_gate",
      "d74_pq_tier_growth_gate", "d75_cell_local_refine",
      "t59_kterm_phrase_from_index",
      "d66_catalog_history_timetravel", "d67_reclamation_gated_compaction",
      "d68_cross_surface_takedown", "d69_cas_catalog_commit",
      "d71_cross_surface_atomic_takedown",
      "s34_stream_ann_maintained_index",
      "m11_media_fingerprint_store", "s35_stream_media_ingest",
      "s36_stream_media_compacting_ingest", "s37_stream_drift_retrain",
      "s38_stream_bm25_maintenance", "s39_stream_ivfpq_maintained_index",
      "s40_stream_pinned_generation_read", "s41_stream_tokenizer_retrain",
      "s42_stream_concurrent_maintenance", "s43_stream_cell_growth_gate",
      "a01_pipe_cranker", "a02_pipe_throughput",
      "s01_stream_tumbling", "s10_stream_stateful_sessions",
      "s30_stream_curation_pipeline")
    val have = queries.keySet
    preferred.filter(have)
  }
}
