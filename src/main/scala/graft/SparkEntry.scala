package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.{logical => logical}
import org.apache.spark.sql.graftbridge.GraftBridge
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every operator family's query registry. Each `queries` key has
  * a matching `oracleSql` entry (ANSI SQL for DuckDB over the same parquet
  * tables) unless the op isn't SQL-expressible.
  */
object SparkEntry {

  private val families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (Relational.queries, Relational.oracles),
      (Etl.queries, Etl.oracles),
      (Flow.queries, Flow.oracles),
      (Events.queries, Events.oracles),
      (TextOps.queries, TextOps.oracles),
      (Dedup.queries, Dedup.oracles),
      (Similarity.queries, Similarity.oracles),
      (Mm.queries, Mm.oracles),
      (Graph.queries, Graph.oracles),
      (Web.queries, Web.oracles),
      (Pii.queries, Pii.oracles),
      (Link.queries, Link.oracles),
      (Pipelines.queries, Pipelines.oracles),
      (graft.sources.Io.queries, graft.sources.Io.oracles),
      (graft.sources.Archive.queries, graft.sources.Archive.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every registered query ends in a total-order `orderBy` so the dumped
    * result is deterministic row-for-row. HOW that total order is produced
    * must follow the OUTPUT's grain, not a single policy:
    *
    *  - ANSWER-SIZED results (reports, top-k, grouped summaries whose
    *    cardinality is bounded regardless of corpus size): a global sort
    *    plans as a range exchange whose range-bound sampling pass re-runs
    *    the final stage — pure scheduling overhead on a result of at most
    *    thousands of rows. Rewriting the top-level Sort to a
    *    single-partition local sort produces the IDENTICAL row order
    *    (same keys, total order) with one plain exchange and no sampling
    *    job.
    *
    *  - CORPUS-GRAIN results ([[corpusGrainQueries]] — per-row/per-doc
    *    transforms, dedup survivors, joins at fact grain: output rows
    *    scale linearly with a base table): the single-partition rewrite
    *    is a scale defect — EVERY output row funnels through ONE task,
    *    which must sort (and at scale, spill) the whole result alone.
    *    The sf100 smoke measured it: `etl_dedup_merge`'s 147M-row output
    *    took 273 s through the one-task funnel (16× at 10× data, and the
    *    7 GB single task OOM-killed a shared-JVM run) vs the distributed
    *    range sort's linear profile. These queries KEEP the range sort —
    *    the sampling job is amortized by the output size it exists to
    *    partition; per-task memory stays bounded at any scale.
    *
    * Only the trailing presentation sort is touched either way: sorts
    * feeding limits (TakeOrdered), windows, or anything below the root
    * keep their scale-right shapes. Sinks strip it again through
    * [[graft.sources.Io.unordered]]: a committed artifact has no row
    * order, so only dumps and collects pay for it.
    */
  private def answerSort(name: String, df: DataFrame): DataFrame =
    df.queryExecution.logical match {
      case _ if corpusGrainQueries(name) => df
      case s @ logical.Sort(_, true, child, _) =>
        GraftBridge.ofRows(df.sparkSession,
          s.copy(global = false, child = logical.Repartition(1, shuffle = true, child)))
      case _ => df
    }

  /** Queries whose OUTPUT rows scale with the corpus (measured criterion,
    * from the Verify dumps: result rows ≥ 2000 at sf0.1 — document/event/
    * order/lineitem/vector grain — OR result rows growing ≥ 3× from
    * sf0.01 to sf0.1 — pair lists, search hits, diff/anti-join results,
    * file listings, whose absolute counts are small at test SFs but
    * linear in the data). Every non-member's output is a bounded report
    * (fixed group-bys, top-k, histograms) whose cardinality does not
    * follow the corpus. Membership decides the presentation-sort strategy
    * in [[answerSort]]; PlanAuditSpec pins the plan shape on both sides
    * of the split so a new corpus-grain registration can't silently
    * inherit the one-task funnel.
    */
  val corpusGrainQueries: Set[String] = Set(
    "decon_minhash", "dedup_edit_verify", "dedup_embedding",
    "dedup_incremental", "dedup_minhash", "dedup_ngram_jaccard",
    "dedup_scoped", "dedup_semantic_e2e", "dedup_simhash",
    "dedup_size_hist", "etl_snapshot_diff", "events_funnel",
    "events_pattern", "events_range_join", "q_join_anti", "q_search_tags",
    "q_search_tags_quoted", "sample_weighted", "sim_range_search",
    "src_binary_files", "src_orc_roundtrip", "src_text_files",
    "graph_pagerank", "graph_triangles", "graph_components", "graph_bfs",
    "graph_kcore", "url_canonicalize", "dedup_url",
    "pii_scrub", "pii_luhn_check", "web_robots_filter",
    "etl_compaction_plan",
    "link_candidates", "link_fuzzy_best", "link_clusters", "link_jaro_rerank",
    "link_incremental",
    "cluster_kmeans", "decon_bloom_persisted", "decon_bloom_screen",
    "decon_spans", "dedup_components", "dedup_components_persisted",
    "dedup_exact", "dedup_keep_best", "dedup_normalized",
    "dedup_pipeline_e2e", "emb_outliers", "emb_quantize_error",
    "text_dedup_spans_removal", "sim_knn_graph", "sim_graph_append",
    "etl_dedup_merge", "etl_jsonlines", "etl_quarantine",
    "etl_rename_normalize", "etl_sanitize", "etl_scd2", "events_anomaly",
    "events_asof_join", "events_gap_fill", "events_ohlc", "events_rolling_1h",
    "events_rolling_p90", "events_sessionize", "events_sliding_window",
    "events_window_agg", "flow_add_object_key", "flow_edge_detector",
    "flow_filter", "flow_foreach", "flow_in_range", "flow_join",
    "flow_json_parse", "flow_map", "flow_push", "flow_rewire", "flow_split",
    "flow_switch", "flow_to_json", "merge_upsert", "mix_anneal",
    "mix_sources", "mix_temperature", "mm_chunks", "mm_decode_meta",
    "mm_decode_wav", "mm_decode_mp4", "mm_decode_webp", "mm_decode_gif",
    "mm_frames_mp4", "mm_frames_gif", "mm_video_tokens",
    "mm_dedup_binary", "mm_frames", "mm_meta",
    "mm_dedup_percept", "mm_dedup_percept_jpeg", "mm_dedup_percept_audio",
    "mm_dedup_percept_cross", "mm_dedup_percept_gif",
    "mm_dedup_percept_bmp_tiff",
    "mm_pipeline_e2e", "mm_pack_multimodal", "mm_exif", "mm_inline_images",
    "mm_vision_tokens", "q_above_custavg",
    "q_filter_eq", "q_filter_range", "q_groupby_having", "q_join_bloom",
    "q_join_links", "q_join_salted", "q_not_in_subquery", "q_set_ops",
    "q_window_running", "sample_hash_split", "sample_leakage_split",
    "sample_soft_dedup", "sample_upsample", "sim_knn_join",
    "sim_knn_join_rep", "sim_knn_join_auto", "sink_kv_batches", "src_csv_roundtrip",
    "src_jsonlines_file", "src_parquet_merge_schema",
    "src_tar_roundtrip", "mm_webdataset", "src_zip_roundtrip",
    "src_gzip_roundtrip", "src_warc_records", "src_warc_gz_e2e",
    "src_zst_roundtrip", "mm_webdataset_zst", "text_nfc_normalize",
    "text_fix_mojibake", "mm_detect_encoding",
    "mm_decode_tiff_bmp", "src_warc_zst_e2e",
    "text_bpe_encode",
    "text_chunks", "text_classifier_gate", "text_dedup_sentences",
    "text_diversity", "text_dup_spans", "text_fingerprint",
    "text_html_extract", "text_html_pipeline", "text_langid", "text_lm_score",
    "text_oov_rate", "text_pack_bpe", "text_pack_sequences", "text_pii_mask",
    "text_pipeline_e2e", "text_quality", "text_quality_band",
    "text_repetition", "text_sentences", "text_tfidf_top", "text_tokencount",
    "text_winnow_fingerprint", "training_data_decon_e2e", "training_data_e2e",
    // r14 (the r13 ADVICE finding): 2 rows/doc and 1 row/user — both
    // linear in a base table even though flat-or-small at the tiniest SFs
    "sink_webdataset", "sink_webdataset_sized", "events_state_machine",
    "events_state_machine_chunked")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Each invocation first sweeps checkpoint blocks the PREVIOUS query
    * registered in [[CacheScope]] — by construction the previous result
    * has been consumed by then, so this bounds cached-block growth to one
    * invocation's worth across a long session (see CacheScope docs).
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    families.iterator.map(_._1).reduce(_ ++ _).map { case (name, f) =>
      name -> ((s: SparkSession, d: String) => {
        CacheScope.sweep(); answerSort(name, f(s, d))
      })
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  lazy val oracleSql: Map[String, String] =
    families.iterator.map(_._2).reduce(_ ++ _)
}
