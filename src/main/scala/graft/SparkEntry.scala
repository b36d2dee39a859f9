package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 that is implemented is registered here
  * twice: once as a Spark query, once as a DuckDB oracle twin. Exactness
  * strategy (so hash-compare passes bit-for-bit):
  *
  *  - all value sums accumulate in DECIMAL(38,10) on BOTH sides (exact,
  *    associative, order-independent) and are cast to DOUBLE only at the end;
  *  - derived doubles (mean, std_dev, derivative) are produced by the SAME
  *    sequence of IEEE double ops on both sides;
  *  - everything else in comparisons is integers, strings, or timestamps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The minutes-granularity downsample of events — the reference's core
    * maintenance product [ds :: backends/mongodb.py :: downsample_streams].
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.downsampleAt(spark, "/root/testdata/sf0.001", Granularity.Minutes)

  /** The DECLARED rows-only queries: approximate (LSH/IVF/PQ/SimHash)
    * configurations whose result sets are not SQL-expressible as an exact
    * twin — each is bracketed by a hash-green recall gate instead
    * (`q_ann_recall`, `q_ivf_recall`, `q_pq_recall`, `q_simhash_recall`,
    * and the minhash pair-set oracle for near-dup). EntrySpec asserts
    * `queries.keySet == oracleSql.keySet ++ rowsOnly`, so registering a
    * query without EITHER an oracle or an explicit entry here fails the
    * suite by name — the failure class that broke round 14 (a gate
    * registered before its oracle existed) now dies in `sbt test`.
    */
  val rowsOnly: Set[String] = Set(
    "q_similarity_ann", "q_similarity_ivf_probe", "q_similarity_pq",
    "q_simhash", "q_neardup_embedding")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 downsampling cascade (A1–A7, T2)
    "q_downsample_minutes" -> ((s, d) => Queries.downsampleAt(s, d, Granularity.Minutes)),
    "q_downsample_hours" -> ((s, d) => Queries.downsampleCascade(s, d, Granularity.Hours)),
    "q_downsample_days" -> ((s, d) => Queries.downsampleCascade(s, d, Granularity.Days)),
    // §2.1 S3 get_data (P1 bounds, O1 reverse, P3 projection, O2 pagination)
    "q_getdata_range" -> Queries.getDataRange _,
    "q_getdata_reverse" -> Queries.getDataReverse _,
    "q_getdata_paginated" -> Queries.getDataPaginated _,
    // §2.1 S4 + §2.3 J1 find_streams + broadcast semi-join (P2 flat+nested)
    "q_find_streams_semijoin" -> Queries.findStreamsSemijoin _,
    "q_find_streams_scan" -> Queries.findStreamsScan _,
    "q_find_streams_nested" -> Queries.findStreamsNested _,
    "q_find_streams_ops" -> Queries.findStreamsOps _,
    "q_find_streams_or" -> Queries.findStreamsOr _,
    "q_find_streams_variant" -> Queries.findStreamsVariant _,
    // full facade path through real warehouse storage: S1 ingest →
    // downsample_streams maintenance (T1) → S3 read; S5 delete lifecycle;
    // T6 reprocess ≡ incremental; T1–T3 as a real streaming query
    "q_warehouse_e2e" -> Queries.warehouseE2E _,
    // commit-log time travel: as-of read across an append + a compaction
    "q_time_travel" -> Queries.timeTravel _,
    // DESCRIBE HISTORY ledger: exact (version, op) rows for a fixed
    // mutation sequence (vacuum is not a commit and must not appear)
    "q_history" -> Queries.historyLedger _,
    // ROW-LEVEL DELETE (GDPR takedown): merge-on-read delete files +
    // copy-on-write rewrite + rollup repair + applyDeletes convergence
    "q_row_delete" -> Queries.rowDelete _,
    "q_upsert" -> Queries.upsert _,
    "q_streaming_upsert" -> Queries.streamingUpsert _,
    // SQL surface: warehouse registered as temp views, queried via
    // spark.sql with snapshot + merge-on-read-delete semantics intact
    "q_sql_surface" -> Queries.sqlSurface _,
    // CDC changefeed: catch-up from a cursor reads ONLY files newer
    // commits added; replay from 0 reconstructs the table commit-by-commit
    "q_changefeed" -> Queries.changefeed _,
    // CDF: the feed that DECODES merge-on-read deletes into the voided
    // rows (_change_type insert|delete), replay + catch-up
    "q_changefeed_deletes" -> Queries.changefeedDeletes _,
    // RESTORE VERSION AS OF: data + registry roll back by log manipulation
    // alone; the pre-restore state stays a time-travel target
    "q_restore" -> Queries.restoreGate _,
    // incremental rollup consumer: newly finalized buckets only
    "q_rollup_changefeed" -> Queries.rollupChangefeed _,
    // exactly-once cross-warehouse replication (idempotent batch appends
    // keyed by source commit version; cursor lives in the destination)
    "q_replication" -> Queries.replication _,
    // snapshot export for external engines: plain reads over listed paths
    "q_symlink_manifest" -> Queries.symlinkManifest _,
    "q_stats_count" -> Queries.statsCount _,
    "q_stats_rollup" -> Queries.statsRollupCount _,
    "q_zorder" -> Queries.zorderCompaction _,
    "q_table_detail" -> Queries.tableDetailReport _,
    "q_schema_evolution" -> Queries.schemaEvolution _,
    "q_changes_evolved" -> Queries.changesEvolved _,
    "q_getdata_matrix" -> Queries.getDataMatrixReport _,
    "q_delete_streams" -> Queries.deleteStreamsE2E _,
    "q_tag_crud" -> Queries.tagCrud _,
    "q_reprocess_equiv" -> Queries.reprocessEquiv _,
    "q_derive_incremental" -> Queries.deriveIncremental _,
    // file-health maintenance: small-file compaction + clustering, data
    // bit-identity and the file-count reduction both on the gate
    "q_compaction" -> Queries.compaction _,
    "q_streaming_cascade" -> Queries.streamingCascade _,
    // T4: stateful streaming derive as a real streaming query
    "q_streaming_derive" -> Queries.streamingDerive _,
    // S1 streaming ingest: checkpointed exactly-once parquet sink, plus
    // the warehouse-coupled arm that maintains registry bounds per batch
    "q_streaming_ingest" -> Queries.streamingIngest _,
    "q_streaming_warehouse" -> Queries.streamingWarehouse _,
    // T2 full ladder: second streaming query stitches rollup→rollup
    "q_streaming_ladder" -> Queries.streamingLadder _,
    // X1 streaming arm: cross-micro-batch content-hash dedup of a
    // twice-delivered shard
    "q_streaming_dedup" -> Queries.streamingDedup _,
    "q_streaming_decode" -> Queries.streamingDecode _,
    "q_streaming_filter" -> Queries.streamingFilter _,
    "q_streaming_lm" -> Queries.streamingLm _,
    "q_streaming_classifier" -> Queries.streamingClassifier _,
    // stateless rule filter on the stream: batch projection per micro-batch
    "q_streaming_gopher" -> Queries.streamingGopher _,
    // tokenizing ingest: batch-built vocab shipped to the stream as a map
    // literal, stateless per-row id mapping, cross-delivery determinism
    // pinned by min==max folds
    "q_streaming_vocab" -> Queries.streamingVocab _,
    // stream-stream event-time interval join (state-store join, both
    // sides watermarked, range-bounded state) vs the batch theta twin
    "q_streaming_join" -> Queries.streamingJoin _,
    // native session_window under a watermark vs the batch sessionizer
    "q_streaming_sessions" -> Queries.streamingSessions _,
    // W1's streaming arm: watermarked multi-stream sum as a real query
    "q_streaming_derive_sum" -> Queries.streamingDeriveSum _,
    "q_streaming_derive_sum_all" -> Queries.streamingDeriveSumAll _,
    // §2.8 F3 graph value type round trip; F5 wire shape; F4 validation
    "q_graph_downsample" -> Queries.graphDownsample _,
    "q_wire_render" -> Queries.wireRender _,
    "q_wire_roundtrip" -> Queries.wireRoundtrip _,
    "q_validation_api" -> Queries.validationApiErrors _,
    "q_validation_mutation" -> Queries.validationMutationErrors _,
    "q_validation_occ" -> Queries.validationOccErrors _,
    // §2.5 derive operators W1–W4
    "q_derivative" -> Queries.derivative _,
    "q_derivative_chunked" -> Queries.derivativeChunked _,
    "q_counter_reset" -> Queries.counterReset _,
    "q_counter_reset_chunked" -> Queries.counterResetChunked _,
    "q_counter_derivative" -> Queries.counterDerivative _,
    "q_counter_derivative_chunked" -> Queries.counterDerivativeChunked _,
    "q_derive_sum" -> Queries.deriveSum _,
    "q_derive_sum_all" -> Queries.deriveSumAll _,
    "q_derive_sum_salted" -> Queries.deriveSumSalted _,
    // §2.11 X1–X5 extensions
    "q_dedup_exact" -> Queries.dedupExact _,
    "q_dedup_norm" -> Queries.dedupNormalized _,
    "q_props_json" -> Queries.propsJson _,
    "q_token_count" -> Queries.tokenCount _,
    "q_neardup_minhash" -> Queries.nearDupMinhash _,
    "q_simhash" -> ((s, d) => ext.Dedup.simhashCandidates(Sources.documents(s, d))),
    "q_dedup_corpus" -> Queries.dedupCorpus _,
    "q_split_leakfree" -> Queries.splitLeakFree _,
    "q_sample_weighted" -> Queries.sampleWeighted _,
    "q_substring_dedup" -> Queries.substringDedup _,
    "q_substring_drop" -> Queries.substringDrop _,
    "q_similarity_topk" -> Queries.similarityTopK _,
    "q_similarity_ann" -> Queries.similarityAnn _,
    "q_similarity_ivf" -> Queries.similarityIvf _,
    "q_similarity_ivf_probe" -> Queries.similarityIvfProbe _,
    "q_similarity_ivf_refined" -> Queries.similarityIvfRefined _,
    // persisted IVF index: build once into storage, query from the index
    "q_similarity_index" -> Queries.similarityIndex _,
    "q_similarity_filtered" -> Queries.similarityFiltered _,
    "q_similarity_filtered_pq" -> Queries.similarityFilteredPq _,
    "q_similarity_mmr" -> Queries.similarityMmr _,
    // takedown: tombstoned ids voided, exhaustive query ≡ brute over survivors
    "q_index_takedown" -> Queries.indexTakedown _,
    "q_ivf_index_append" -> Queries.ivfIndexAppend _,
    // chain compaction across all five index families: shard-count reset,
    // bit-identical results, tombstone fold, vacuum reclamation
    "q_index_compaction" -> Queries.indexCompaction _,
    "q_neardup_embedding" -> Queries.nearDupEmbedding _,
    // SemDeDup: exact arm (nCells=1, full SQL oracle) + clustered arm's
    // structural-precision/measured-recall gate
    "q_semdedup" -> Queries.semDedup _,
    "q_semdedup_recall" -> Queries.semDedupRecall _,
    "q_semdedup_recall64" -> Queries.semDedupRecall64 _,
    // continuous-ingest SemDeDup: shard deduped against the persisted IVF
    // index at exhaustive probing (exact), survivors folded back in
    "q_semdedup_index" -> Queries.semDedupIndex _,
    // DSIR-flavored target-domain relevance scoring (exact integer ratios)
    "q_target_coverage" -> Queries.targetCoverage _,
    // recall gates: the approximate pipelines measured against their exact
    // twins — a recall collapse (broken banding, bad probes, dead simhash
    // bands) now FAILS the gate instead of passing rows-only
    // time-series as-of join (union-and-scan, one shuffle) vs DuckDB's
    // native ASOF JOIN as the oracle
    "q_asof_join" -> Queries.asofJoin _,
    // gap-based sessionization (lag/cumsum, one window shuffle)
    "q_sessionize" -> Queries.sessionizeReport _,
    // fixed-grid resampling: forward-fill (grid as-of obs) and linear
    // interpolation (two-direction union-and-scan, one shuffle) vs
    // DuckDB's native ASOF joins replaying the same lerp shape
    "q_resample_ffill" -> Queries.resampleFfill _,
    "q_resample_interp" -> Queries.resampleInterp _,
    // composition: snapshot warehouse read -> grid interpolation; the
    // oracle resamples the source events under the same stream mapping
    "q_resample_warehouse" -> Queries.resampleWarehouse _,
    // corpus mixture rebalancing to target stratum weights
    "q_mix" -> Queries.mixReport _,
    // bucketized range join composed over sessionization
    "q_range_join" -> Queries.rangeJoinReport _,
    // rolling mean/σ anomaly scoring (decimal partials, one window shuffle)
    "q_anomaly" -> Queries.anomalyReport _,
    // the same scorer as a stateful streaming query (ring-buffer state),
    // bit-identical to the batch window under the same oracle
    "q_streaming_anomaly" -> Queries.streamingAnomaly _,
    // HLL++ distinct-cardinality sketch under an oracle-pinned error bound
    "q_approx_distinct" -> Queries.approxDistinct _,
    // exact-quota stratified sampling (rank window, content-hash order)
    "q_sample_quota" -> Queries.sampleQuotaReport _,
    // approx-percentile sketch pinned inside the exact p40-p60 rank band
    "q_approx_percentile" -> Queries.approxPercentile _,
    // composed prep pipeline: scrub → mix → chunk, one chained SQL twin
    "q_corpus_pipeline2" -> Queries.corpusPipeline2 _,
    "q_corpus_pipeline3" -> Queries.corpusPipeline3 _,
    // round-9 composition: coverage selection → embedding semantic dedup
    "q_corpus_pipeline4" -> Queries.corpusPipeline4 _,
    "q_corpus_pipeline5" -> Queries.corpusPipeline5 _,
    "q_corpus_pipeline6" -> Queries.corpusPipeline6 _,
    "q_corpus_pipeline7" -> Queries.corpusPipeline7 _,
    // FineWeb prefilter: Gopher rules → normalized dedup → lang report
    "q_corpus_pipeline8" -> Queries.corpusPipeline8 _,
    // boilerplate takedown: heavy-hitter bigrams → per-doc share →
    // integer-ratio drop → lang report
    "q_corpus_pipeline9" -> Queries.corpusPipeline9 _,
    // X3 pre-step: unit normalization recovers unit norm from de-normalized
    // vectors, double-exact vs the oracle's replayed fold
    "q_embedding_norms" -> Queries.embeddingNorms _,
    "q_ann_recall" -> Queries.annRecall _,
    "q_similarity_pq" -> Queries.similarityPq _,
    "q_similarity_ivfpq" -> Queries.similarityIvfPq _,
    "q_ivfpq_append" -> Queries.ivfPqAppend _,
    "q_similarity_sq8" -> Queries.similaritySq8 _,
    "q_sq8_recall" -> Queries.sq8Recall _,
    "q_ivfpq_recall" -> Queries.ivfPqRecall _,
    "q_pq_recall" -> Queries.pqRecall _,
    "q_ivf_recall" -> Queries.ivfRecall _,
    "q_simhash_recall" -> Queries.simhashRecall _,
    "q_embdup_recall" -> Queries.embdupRecall _,
    // training-corpus materialization: deterministic content-hash splits,
    // train-vs-eval decontamination, and the composed filter→dedup pipeline
    "q_split" -> Queries.splitReport _,
    "q_decontaminate" -> Queries.decontaminateReport _,
    "q_decontaminate_spans" -> Queries.decontaminateSpansReport _,
    // persisted dedup index: build → dedup shard → append survivors →
    // re-queue comes back empty
    "q_dedup_index" -> Queries.dedupIndexReport _,
    "q_streaming_dedup_index" -> Queries.streamingDedupIndex _,
    // relational breadth on the TPC-H-ish tables: Q1 pricing summary and
    // Q3-shape top customers (broadcast dims into the fact scan)
    "q_tpch_pricing" -> Queries.tpchPricing _,
    "q_tpch_topcust" -> Queries.tpchTopCustomers _,
    // Q5-shape: five-way broadcast-dim join into one fact pass,
    // co-nationality as an equi-filter on broadcast-resolved keys
    "q_tpch_volume" -> Queries.tpchLocalVolume _,
    "q_corpus_pipeline" -> Queries.corpusPipeline _,
    // corpus-prep narrow ops: PII scrubbing, context-window chunking,
    // deterministic stratified sampling, and token-budget sequence packing
    // (the two-level prefix scan vs the oracle's naive global window)
    "q_pii_scrub" -> Queries.piiScrub _,
    "q_chunk" -> Queries.chunkReport _,
    "q_sample_strata" -> Queries.sampleStrataReport _,
    "q_pack" -> Queries.packReport _,
    "q_curriculum" -> Queries.curriculum _,
    "q_bpe_tokens" -> Queries.bpeTokens _,
    "q_bpe_learn" -> Queries.bpeLearn _,
    "q_bpe_tokens_learned" -> Queries.bpeTokensLearned _,
    "q_pack_bpe" -> Queries.packBpe _,
    "q_token_hist_bpe" -> Queries.tokenHistBpe _,
    // corpus stats: top bigrams (distributed top-k) + length histogram +
    // exact rank-based percentiles
    "q_ngram_top" -> ((s, d) => ext.Text.topNgrams(Sources.documents(s, d))),
    // exact heavy hitters without a full-vocabulary shuffle: per-partition
    // Misra-Gries candidate sketch, then a broadcast-semi-join exact
    // recount of candidates only
    "q_heavy_hitters" -> Queries.heavyHitters _,
    // per-group variant: grouped MG summaries, per-language thresholds
    "q_heavy_hitters_lang" -> Queries.heavyHittersLang _,
    // tokenizer prep: frequency-ranked vocab build + corpus id-mapping
    // (broadcast token join, order restored by sorted (pos,id) structs)
    "q_vocab_map" -> Queries.vocabMap _,
    // one-pass per-column table profile (Expand distincts, stack unpivot)
    "q_profile" -> Queries.profileReport _,
    "q_token_hist" -> ((s, d) => ext.Text.tokenHistogram(Sources.documents(s, d))),
    "q_percentiles" -> ((s, d) => ext.Text.lengthPercentiles(Sources.documents(s, d))),
    "q_approx_percentiles" -> ((s, d) =>
      ext.Text.approxLengthPercentiles(Sources.documents(s, d))),
    "q_quality" -> Queries.quality _,
    // Gopher rule-based keep/reject filter (seven rules, one projection)
    "q_gopher_rules" -> Queries.gopherRules _,
    "q_repetition" -> Queries.repetition _,
    "q_token_drift" -> Queries.tokenDrift _,
    "q_image_dup" -> Queries.imageDup _,
    "q_audio_dup" -> Queries.audioDup _,
    "q_lm_score" -> Queries.lmScore _,
    "q_classifier" -> Queries.classifier _,
    "q_lang_report" -> Queries.langReport _,
    "q_lang_ngram" -> Queries.langNgram _,
    "q_lang_profile" -> Queries.langProfile _,
    "q_fingerprint" -> Queries.fingerprint _,
    "q_tfidf_topterms" -> Queries.tfidfTopTerms _,
    "q_search_bm25" -> Queries.searchBm25 _,
    "q_search_index" -> Queries.searchIndex _,
    "q_search_batch" -> Queries.searchBatch _,
    "q_search_batch_indexed" -> Queries.searchBatchIndexed _,
    "q_search_takedown" -> Queries.searchTakedown _,
    "q_streaming_search" -> Queries.streamingSearch _,
    "q_streaming_ivf_append" -> Queries.streamingIvfAppend _,
    "q_streaming_pq_append" -> Queries.streamingPqAppend _,
    "q_hybrid_rrf" -> Queries.hybridRrf _,
    "q_hybrid_indexed" -> Queries.hybridIndexed _,
    "q_hybrid_mmr" -> Queries.hybridMmr _,
    "q_downsample_nominal" -> Queries.downsampleNominal _,
    "q_multimodal_decode" -> Queries.multimodalDecode _,
    "q_audio_decode" -> Queries.audioDecode _,
    "q_video_decode" -> Queries.videoDecode _,
    "q_video_dup" -> Queries.videoDup _,
    "q_video_frames" -> Queries.videoFrames _,
    "q_multimodal_resize" -> Queries.multimodalResize _,
    "q_frame_sample" -> Queries.frameSample _
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_downsample_minutes" -> Oracles.downsample(60L),
    "q_downsample_hours" -> Oracles.downsample(3600L),
    "q_downsample_days" -> Oracles.downsample(86400L),
    "q_getdata_range" -> Oracles.getDataRange,
    "q_getdata_reverse" -> Oracles.getDataReverse,
    "q_getdata_paginated" -> Oracles.getDataPaginated,
    "q_find_streams_semijoin" -> Oracles.findStreamsSemijoin,
    "q_find_streams_scan" -> Oracles.findStreamsScan,
    "q_find_streams_nested" -> Oracles.findStreamsNested,
    "q_find_streams_ops" -> Oracles.findStreamsOps,
    "q_find_streams_or" -> Oracles.findStreamsOr,
    "q_find_streams_variant" -> Oracles.findStreamsNested,
    "q_warehouse_e2e" -> Oracles.warehouseE2E,
    "q_time_travel" -> Oracles.timeTravel,
    "q_history" -> Oracles.historyLedger,
    "q_row_delete" -> Oracles.rowDelete,
    "q_upsert" -> Oracles.upsert,
    "q_streaming_upsert" -> Oracles.streamingUpsert,
    "q_sql_surface" -> Oracles.sqlSurface,
    "q_changefeed" -> Oracles.changefeed,
    "q_changefeed_deletes" -> Oracles.changefeedDeletes,
    "q_restore" -> Oracles.restoreGate,
    "q_rollup_changefeed" -> Oracles.rollupChangefeed,
    "q_replication" -> Oracles.replication,
    "q_symlink_manifest" -> Oracles.symlinkManifest,
    "q_stats_count" -> Oracles.statsCount,
    "q_stats_rollup" -> Oracles.statsRollupCount,
    "q_zorder" -> Oracles.zorderCompaction,
    "q_table_detail" -> Oracles.tableDetail,
    "q_schema_evolution" -> Oracles.schemaEvolution,
    "q_changes_evolved" -> Oracles.changesEvolved,
    "q_getdata_matrix" -> Oracles.getDataMatrix,
    "q_delete_streams" -> Oracles.deleteStreamsE2E,
    "q_tag_crud" -> Oracles.tagCrud,
    "q_reprocess_equiv" -> Oracles.reprocessEquiv,
    "q_derive_incremental" -> Oracles.deriveIncremental,
    "q_compaction" -> Oracles.compaction,
    "q_streaming_cascade" -> Oracles.streamingCascade,
    // the stateful streaming derive must equal the batch window-lag twin
    "q_streaming_derive" -> Oracles.derivative,
    "q_streaming_ingest" -> Oracles.streamingIngest,
    "q_streaming_warehouse" -> Oracles.streamingWarehouse,
    "q_streaming_ladder" -> Oracles.streamingLadder,
    // the twice-delivered shard must dedup to exactly one corpus copy
    "q_streaming_dedup" -> Oracles.streamingDedup,
    "q_streaming_filter" -> Oracles.streamingFilter,
    "q_streaming_lm" -> Oracles.streamingLm,
    "q_streaming_classifier" -> Oracles.streamingClassifier,
    "q_streaming_gopher" -> Oracles.streamingGopher,
    "q_streaming_vocab" -> Oracles.streamingVocab,
    "q_streaming_join" -> Oracles.streamingJoin,
    "q_streaming_sessions" -> Oracles.streamingSessions,
    // the streaming W1 sum must equal the batch derive-sum restricted to
    // watermark-finalized buckets
    "q_streaming_derive_sum" -> Oracles.streamingDeriveSum,
    "q_streaming_derive_sum_all" -> Oracles.streamingDeriveSumAll,
    "q_graph_downsample" -> Oracles.graphDownsample,
    "q_wire_render" -> Oracles.wireRender,
    "q_wire_roundtrip" -> Oracles.wireRoundtrip,
    "q_validation_api" -> Oracles.validationApiErrors,
    "q_validation_mutation" -> Oracles.validationMutationErrors,
    "q_validation_occ" -> Oracles.validationOccErrors,
    "q_derivative" -> Oracles.derivative,
    // chunked formulation shares the window-lag twin: boundary stitching
    // must be invisible in the result
    "q_derivative_chunked" -> Oracles.derivative,
    "q_counter_reset" -> Oracles.counterReset,
    "q_counter_reset_chunked" -> Oracles.counterReset,
    "q_counter_derivative" -> Oracles.counterDerivative,
    "q_counter_derivative_chunked" -> Oracles.counterDerivative,
    "q_derive_sum" -> Oracles.deriveSum,
    "q_derive_sum_all" -> Oracles.deriveSumAll,
    // salted two-phase aggregation must be bit-identical to the unsalted op
    "q_derive_sum_salted" -> Oracles.deriveSum,
    "q_dedup_exact" -> Oracles.dedupExact,
    "q_dedup_norm" -> Oracles.dedupNormalized,
    "q_props_json" -> Oracles.propsJson,
    "q_token_count" -> Oracles.tokenCount,
    "q_neardup_minhash" -> Oracles.nearDupJaccard,
    "q_dedup_corpus" -> Oracles.dedupCorpus,
    "q_split_leakfree" -> Oracles.splitLeakFree,
    "q_sample_weighted" -> Oracles.sampleWeighted,
    "q_substring_dedup" -> Oracles.substringDedup,
    "q_substring_drop" -> Oracles.substringDrop,
    "q_similarity_topk" -> Oracles.similarityTopK,
    // exhaustive IVF (nProbe = nCells) equals brute force bit-for-bit —
    // with seed or k-means-refined centroids alike — so both share the
    // brute-force oracle; the probe config stays rows-only
    "q_similarity_ivf" -> Oracles.similarityTopK,
    "q_similarity_ivf_refined" -> Oracles.similarityTopK,
    // the persisted-index round-trip at exhaustive probing is bit-identical
    // to brute force — same oracle as the in-memory IVF configurations
    "q_similarity_index" -> Oracles.similarityTopK,
    "q_similarity_filtered" -> Oracles.similarityFiltered,
    "q_similarity_filtered_pq" -> Oracles.similarityFiltered,
    "q_similarity_mmr" -> Oracles.similarityMmr,
    "q_index_takedown" -> Oracles.indexTakedown,
    "q_ivf_index_append" -> Oracles.similarityTopK,
    "q_index_compaction" -> Oracles.indexCompaction,
    // q_similarity_ann, q_similarity_ivf_probe, q_neardup_embedding:
    // approximate (LSH/IVF) results by design — not SQL-expressible as an
    // exact twin; rows-only check. Their QUALITY is gated instead: the
    // recall queries below compare them against their exact twins inside
    // Spark and the oracle pins the outcome.
    "q_asof_join" -> Oracles.asofJoin,
    "q_resample_ffill" -> Oracles.resampleFfill,
    "q_resample_interp" -> Oracles.resampleInterp,
    "q_resample_warehouse" -> Oracles.resampleWarehouse,
    "q_sessionize" -> Oracles.sessionize,
    "q_mix" -> Oracles.mixReport,
    "q_range_join" -> Oracles.rangeJoin,
    "q_anomaly" -> Oracles.anomaly,
    // the streaming ring-buffer scorer shares the batch twin: state-based
    // streaming must be indistinguishable from the batch window
    "q_streaming_anomaly" -> Oracles.anomaly,
    "q_approx_distinct" -> Oracles.approxDistinct,
    "q_sample_quota" -> Oracles.sampleQuota,
    "q_approx_percentile" -> Oracles.approxPercentile,
    "q_corpus_pipeline2" -> Oracles.corpusPipeline2,
    "q_corpus_pipeline3" -> Oracles.corpusPipeline3,
    "q_corpus_pipeline4" -> Oracles.corpusPipeline4,
    "q_corpus_pipeline5" -> Oracles.corpusPipeline5,
    "q_corpus_pipeline6" -> Oracles.corpusPipeline6,
    "q_corpus_pipeline7" -> Oracles.corpusPipeline7,
    "q_corpus_pipeline8" -> Oracles.corpusPipeline8,
    "q_embedding_norms" -> Oracles.embeddingNorms,
    "q_semdedup" -> Oracles.semDedup,
    "q_semdedup_recall" -> Oracles.semDedupRecall,
    "q_semdedup_recall64" -> Oracles.semDedupRecall64,
    "q_semdedup_index" -> Oracles.semDedupIndex,
    "q_target_coverage" -> Oracles.targetCoverage,
    "q_ann_recall" -> Oracles.recallAllLabels,
    "q_pq_recall" -> Oracles.recallAllLabels,
    "q_similarity_ivfpq" -> Oracles.similarityTopK,
    "q_ivfpq_append" -> Oracles.similarityTopK,
    // SQ8 exact arm shares the brute oracle; the recall arm pins ≥0.9
    "q_similarity_sq8" -> Oracles.similarityTopK,
    "q_sq8_recall" -> Oracles.recallAllLabels,
    "q_ivfpq_recall" -> Oracles.recallAllLabels,
    "q_ivf_recall" -> Oracles.recallAllLabels,
    "q_simhash_recall" -> Oracles.simhashRecall,
    "q_embdup_recall" -> Oracles.embdupRecall,
    "q_split" -> Oracles.splitReport,
    "q_decontaminate" -> Oracles.decontaminateReport,
    "q_decontaminate_spans" -> Oracles.decontaminateSpansReport,
    "q_dedup_index" -> Oracles.dedupIndexReport,
    // the streamed fold must land on the batch verb's acceptance report
    "q_streaming_dedup_index" -> Oracles.dedupIndexReport,
    "q_tpch_pricing" -> Oracles.tpchPricing,
    "q_tpch_topcust" -> Oracles.tpchTopCustomers,
    "q_tpch_volume" -> Oracles.tpchLocalVolume,
    "q_corpus_pipeline" -> Oracles.corpusPipeline,
    "q_pii_scrub" -> Oracles.piiScrub,
    "q_chunk" -> Oracles.chunkReport,
    "q_sample_strata" -> Oracles.sampleStrataReport,
    "q_pack" -> Oracles.packReport,
    "q_curriculum" -> Oracles.curriculum,
    "q_bpe_tokens" -> Oracles.bpeTokens,
    "q_bpe_learn" -> Oracles.bpeLearn,
    "q_bpe_tokens_learned" -> Oracles.bpeTokensLearned,
    "q_pack_bpe" -> Oracles.packBpe,
    "q_token_hist_bpe" -> Oracles.tokenHistBpe,
    "q_ngram_top" -> Oracles.ngramTop,
    "q_heavy_hitters" -> Oracles.heavyHitters,
    "q_heavy_hitters_lang" -> Oracles.heavyHittersLang,
    "q_corpus_pipeline9" -> Oracles.corpusPipeline9,
    "q_vocab_map" -> Oracles.vocabMap,
    "q_profile" -> Oracles.profileReport,
    "q_token_hist" -> Oracles.tokenHist,
    "q_percentiles" -> Oracles.percentiles,
    "q_approx_percentiles" -> Oracles.approxPercentiles,
    "q_quality" -> Oracles.quality,
    "q_gopher_rules" -> Oracles.gopherRules,
    "q_repetition" -> Oracles.repetition,
    "q_token_drift" -> Oracles.tokenDrift,
    "q_image_dup" -> Oracles.imageDup,
    "q_audio_dup" -> Oracles.audioDup,
    "q_lang_report" -> Oracles.langReport,
    "q_lang_ngram" -> Oracles.langNgram,
    "q_lang_profile" -> Oracles.langProfile,
    "q_fingerprint" -> Oracles.fingerprint,
    "q_tfidf_topterms" -> Oracles.tfidfTopTerms,
    "q_search_bm25" -> Oracles.searchBm25,
    // index-served retrieval must land on the SAME rows as the scan twin
    "q_search_index" -> Oracles.searchBm25,
    // the DataFrame-native batch twins must land on the Seq path's rows
    "q_search_batch" -> Oracles.searchBm25,
    "q_search_batch_indexed" -> Oracles.searchBm25,
    "q_search_takedown" -> Oracles.searchTakedown,
    // stream-maintained index must serve the scan twin's rows exactly
    "q_streaming_search" -> Oracles.searchBm25,
    // stream-maintained vector indexes must land on the brute-force rows
    "q_streaming_ivf_append" -> Oracles.similarityTopK,
    "q_streaming_pq_append" -> Oracles.similarityTopK,
    "q_hybrid_rrf" -> Oracles.hybridRrf,
    // the index-served hybrid must land on the scan-served hybrid's rows
    "q_hybrid_indexed" -> Oracles.hybridRrf,
    "q_hybrid_mmr" -> Oracles.hybridMmr,
    "q_downsample_nominal" -> Oracles.downsampleNominal,
    "q_multimodal_decode" -> Oracles.multimodalDecode,
    // exactly-once streaming decode ≡ the batch closed-form dims table
    "q_streaming_decode" -> Oracles.multimodalDecode,
    "q_audio_decode" -> Oracles.audioDecode,
    "q_video_decode" -> Oracles.videoDecode,
    "q_video_dup" -> Oracles.videoDup,
    "q_video_frames" -> Oracles.videoFrames,
    "q_lm_score" -> Oracles.lmScore,
    "q_classifier" -> Oracles.classifier,
    "q_multimodal_resize" -> Oracles.multimodalResize,
    "q_frame_sample" -> Oracles.frameSample
  )
}

/** The registered query bodies. Each is a declarative DataFrame plan — no
  * collect(), no driver-side loops — so Catalyst handles pushdown/pruning
  * and the same plan scales from sf0.001 to a 1000-executor cluster.
  */
object Queries {

  private def ts(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  val streamKeys: Seq[String] = Seq("user_id", "event_type")

  /** Temp dir for the lifecycle queries' throwaway warehouses, deleted on
    * JVM exit so repeated invocations don't accumulate orphan directories.
    * ONE shutdown hook drains a shared queue — per-call hook registration
    * would pin a thread per invocation across a whole bench session.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempDirHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      var d = tempDirs.poll()
      while (d != null) { rm(d); d = tempDirs.poll() }
    }))
    ()
  }
  private def tempDir(prefix: String): String = {
    tempDirHook
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }

  /** Direct single-shuffle downsample of events at granularity `g`. */
  def downsampleAt(spark: SparkSession, sfDir: String, g: Granularity): DataFrame = {
    val raw = Sources.events(spark, sfDir)
    Downsample.finalizeView(Downsample.aggregateRaw(raw, g, streamKeys), streamKeys)
  }

  /** Full ladder cascade seconds→`g`, re-aggregating each level from the
    * next-finer one. The oracle aggregates raw directly — a green hash here
    * proves the rollup is exactly associative (decimal partials).
    */
  def downsampleCascade(spark: SparkSession, sfDir: String, g: Granularity): DataFrame = {
    val raw = Sources.events(spark, sfDir)
    Downsample.finalizeView(
      Downsample.cascade(raw, Granularity.Seconds, g, streamKeys)(g), streamKeys)
  }

  /** S3 raw range scan: one stream, [start, end) half-open, forward order. */
  def getDataRange(spark: SparkSession, sfDir: String): DataFrame =
    GetData.raw(Sources.eventsAsDatapoints(spark, sfDir), "7:click",
      start = Some(ts("2024-01-10T00:00:00Z")), end = Some(ts("2024-01-20T00:00:00Z")),
      endExclusive = true)

  /** S3 downsampled fetch at hours, reversed, projecting a downsampler
    * subset (mean, count) — P3 struct pruning + O1 reverse.
    */
  def getDataReverse(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val hours = Downsample.aggregateRaw(dp, Granularity.Hours)
    GetData.downsampled(hours, "3:view",
      start = Some(ts("2024-01-05T00:00:00Z")), end = Some(ts("2024-01-25T00:00:00Z")),
      endExclusive = true, reverse = true,
      valueDownsamplers = Seq(Downsamplers.Mean, Downsamplers.Count),
      timeDownsamplers = Seq(Downsamplers.TimeFirst, Downsamplers.TimeLast))
  }

  /** S4+J1: tag query on the registry, broadcast semi-join into the fact
    * table, then a per-stream rollup of the selected datapoints.
    */
  def findStreamsSemijoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val registry = StreamRegistry.fromEvents(dp)
    val matched = StreamRegistry.findStreams(registry, Map("type" -> "click"))
    StreamRegistry.selectDatapoints(dp, matched)
      .groupBy(col("stream_id"))
      .agg(count(lit(1)).as("n_datapoints"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
  }

  /** The whole facade lifecycle against real (temp) warehouse storage:
    * ensure → batch append (monotonicity checked) → incremental
    * `downsampleStreams` cascade → `getData` at hours. One stream keeps the
    * bench cost proportional; the oracle recomputes the same buckets
    * straight from events.
    */
  def warehouseE2E(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-wh")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type") === "click")
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.getData("7:click", Granularity.Hours)
  }

  /** TIME TRAVEL over the commit log: slice A (events before Jan 15) is
    * appended and its committed snapshot version captured; slice B lands on
    * top and a compaction REWRITES the whole table. The as-of read must
    * still serve exactly slice A — compaction only retires the old files
    * logically, it never deletes them — while the current read serves both
    * slices from the compacted files. The oracle recomputes both phases
    * straight from events, so either a leaky snapshot (slice B visible in
    * the past) or a compaction that dropped rows breaks the hash.
    */
  def timeTravel(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-tt")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click", "team" -> "alpha"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    val v = ds.currentVersion.get
    // every mutation below lands AFTER the capture: slice B, a tag rewrite,
    // a whole-stream delete (registry row + data purge), a full compaction.
    // The pinned read must see through NONE of them — data (slice A of both
    // streams) AND registry (team=alpha, 3:view still present) as of v.
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    ds.updateTags(Map("type" -> "click"), Map("team" -> "beta"))
    ds.deleteStreams(Map("type" -> "view"))
    ds.compact()
    def stats(df: DataFrame, phase: String) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    // registry probes ride the same schema: n_rows = match count, the
    // oracle pins each literal (absence pinned by the hash too)
    def regProbe(label: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(label).as("phase"), lit("-").as("stream_id"),
          col("n_rows"), lit(0.0).as("value_sum"))
    stats(ds.rawDatapointsAt(v), "as_of")
      .unionByName(stats(ds.rawDatapoints, "current"))
      .unionByName(regProbe("reg_asof_alpha", ds.findStreamsAt(Map("team" -> "alpha"), v)))
      .unionByName(regProbe("reg_asof_beta", ds.findStreamsAt(Map("team" -> "beta"), v)))
      .unionByName(regProbe("reg_asof_view", ds.findStreamsAt(Map("type" -> "view"), v)))
      .unionByName(regProbe("reg_cur_alpha", ds.findStreams(Map("team" -> "alpha"))))
      .unionByName(regProbe("reg_cur_beta", ds.findStreams(Map("team" -> "beta"))))
      .unionByName(regProbe("reg_cur_view", ds.findStreams(Map("type" -> "view"))))
  }

  /** ROW-LEVEL DELETE lifecycle on the gate (the GDPR-takedown verb): one
    * merge-on-read delete (red stream, mid-January window) and one
    * copy-on-write delete (blue stream) land on a downsampled warehouse.
    * The gate pins the surviving raw rows per stream, the exact voided-row
    * count the verbs returned, the (metadata + boundary-scan) counts with
    * the merge-on-read delete still active, the REPAIRED hours rollup
    * across the deleted window (fully-deleted buckets vanish, boundary
    * buckets are recomputed from survivors — bit-exact by the decimal
    * partials), the as-of read of the pre-delete snapshot (deletes are
    * snapshot-scoped), and that applyDeletes() converges the physical
    * state without changing any logical row. The oracle recomputes every
    * row from events with the two ranges filtered out.
    */
  def rowDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-rowdel")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click",
      Map("user" -> "7", "type" -> "click", "team" -> "red"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view",
      Map("user" -> "3", "type" -> "view", "team" -> "blue"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val vBefore = ds.currentVersion.get
    val redLo = ts("2024-01-10T00:00:00Z")
    val redHi = ts("2024-01-19T23:59:59.999999Z")
    val nRed = ds.deleteDatapoints(Map("team" -> "red"), redLo, redHi)
    val nBlue = ds.deleteDatapoints(Map("team" -> "blue"),
      ts("2024-01-01T00:00:00Z"), ts("2024-01-14T23:59:59.999999Z"),
      DeleteMode.CopyOnWrite)
    def stats(phase: String, df: DataFrame) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    def one(phase: String, n: Long) =
      spark.range(1).select(lit(phase).as("phase"), lit("-").as("stream_id"),
        lit(n).as("n_rows"), lit(0.0).as("value_sum"))
    val hours = ds.getData("7:click", Granularity.Hours)
      .where(col("bucket_start") >= lit(ts("2024-01-09T00:00:00Z")) &&
        col("bucket_start") < lit(ts("2024-01-21T00:00:00Z")))
      .select(concat(lit("hour:"),
          date_format(col("bucket_start"), "yyyy-MM-dd HH:mm")).as("phase"),
        col("stream_id"), col("count").as("n_rows"), col("sum").as("value_sum"))
    val current = stats("current", ds.rawDatapoints)
    val asOf = stats("as_of", ds.rawDatapointsAt(vBefore))
    val counts = one("deleted", nRed + nBlue)
      .unionByName(one("count_all", ds.countDatapoints()))
      .unionByName(one("count_red_win",
        ds.countDatapoints(Some(redLo), Some(redHi))))
      .unionByName(one("pending", ds.pendingDeletes.count()))
    ds.applyDeletes()
    val applied = stats("applied", ds.rawDatapoints)
      .unionByName(one("applied_pending", ds.pendingDeletes.count()))
    current.unionByName(asOf).unionByName(hours)
      .unionByName(counts).unionByName(applied)
  }

  /** UPSERT gate: build the two-stream warehouse, finalize rollups, then
    * merge one batch carrying all three key shapes — REPLACE (7:click rows
    * in a 15-day window restated as value+1000), INSERT at fresh keys
    * (3:view rows shifted +1µs, value×2 — if a shifted key happens to
    * collide with a real row it simply becomes a replace, and the oracle's
    * generic key anti-join replays that identically), and INSERT into a
    * finalized GAP bucket (2023-12-25, before all history — the watermark
    * passed it, so the repair must materialize the bucket now or never).
    * Emitted phases: post-merge per-stream stats, the pre-upsert snapshot
    * via time travel, the repaired hour buckets (replace window + gap
    * hour), the verb's matched count, and the metadata-only total count.
    */
  /** Shared upsert-gate fixture: the seeded two-stream warehouse and the
    * restatement batch arms (replace / insert / finalized-gap-bucket). */
  private def upsertFixture(spark: SparkSession, sfDir: String, dir: String)
      : (Datastream, DataFrame, DataFrame, DataFrame) = {
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val pts = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    ds.appendMultiple(pts)
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val updReplace = pts
      .where(col("stream_id") === "7:click" &&
        col("ts") >= lit(ts("2024-01-05T00:00:00Z")) &&
        col("ts") < lit(ts("2024-01-20T00:00:00Z")))
      .groupBy("stream_id", "ts")
      .agg((max("value") + lit(1000.0).cast("double")).as("value"))
    val updInsert = pts
      .where(col("stream_id") === "3:view" &&
        col("ts") >= lit(ts("2024-01-01T00:00:00Z")) &&
        col("ts") < lit(ts("2024-01-15T00:00:00Z")))
      .select(col("stream_id"),
        (col("ts") + expr("INTERVAL 1 MICROSECOND")).as("ts"),
        (col("value") * lit(2.0).cast("double")).as("value"))
      .groupBy("stream_id", "ts").agg(max("value").as("value"))
    val gap = spark.range(1).select(lit("7:click").as("stream_id"),
      lit(ts("2023-12-25T10:30:00Z")).as("ts"), lit(42.0).as("value"))
    (ds, updReplace, updInsert, gap)
  }

  def upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val (ds, updReplace, updInsert, gap) =
      upsertFixture(spark, sfDir, tempDir("graft-upsert"))
    val vBefore = ds.currentVersion.get
    val n = ds.upsertDatapoints(
      updReplace.unionByName(updInsert).unionByName(gap))
    def stats(phase: String, df: DataFrame) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    def one(phase: String, v: Long) =
      spark.range(1).select(lit(phase).as("phase"), lit("-").as("stream_id"),
        lit(v).as("n_rows"), lit(0.0).as("value_sum"))
    val hours = ds.getData("7:click", Granularity.Hours)
      .where((col("bucket_start") >= lit(ts("2024-01-05T00:00:00Z")) &&
        col("bucket_start") < lit(ts("2024-01-20T00:00:00Z"))) ||
        col("bucket_start") === lit(ts("2023-12-25T10:00:00Z")))
      .select(concat(lit("hour:"),
          date_format(col("bucket_start"), "yyyy-MM-dd HH:mm")).as("phase"),
        col("stream_id"), col("count").as("n_rows"), col("sum").as("value_sum"))
    stats("current", ds.rawDatapoints)
      .unionByName(stats("as_of", ds.rawDatapointsAt(vBefore)))
      .unionByName(hours)
      .unionByName(one("matched", n))
      .unionByName(one("count_all", ds.countDatapoints()))
  }

  /** Streaming restatement arm of `q_upsert`: the SAME replace/insert/gap
    * batch arrives as a two-micro-batch file stream through
    * `Streaming.upsertToWarehouse` (foreachBatch → idempotent
    * `upsertBatch`), so the merged warehouse, the repaired hour buckets,
    * the metadata count, AND the widened registry bound must all land on
    * the batch verb's closed form — recomputed independently by the
    * oracle from events.
    */
  def streamingUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-sups")
    val src = tempDir("graft-sups-src")
    val (ds, updReplace, updInsert, gap) = upsertFixture(spark, sfDir, dir)
    updReplace.coalesce(1).write.mode("append").parquet(src)
    updInsert.unionByName(gap).coalesce(1)
      .write.mode("append").parquet(src)
    val feed = spark.readStream.schema(updReplace.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.upsertToWarehouse(feed, ds, s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def stats(phase: String, df: DataFrame) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    def one(phase: String, v: Long) =
      spark.range(1).select(lit(phase).as("phase"), lit("-").as("stream_id"),
        lit(v).as("n_rows"), lit(0.0).as("value_sum"))
    val hours = ds.getData("7:click", Granularity.Hours)
      .where((col("bucket_start") >= lit(ts("2024-01-05T00:00:00Z")) &&
        col("bucket_start") < lit(ts("2024-01-20T00:00:00Z"))) ||
        col("bucket_start") === lit(ts("2023-12-25T10:00:00Z")))
      .select(concat(lit("hour:"),
          date_format(col("bucket_start"), "yyyy-MM-dd HH:mm")).as("phase"),
        col("stream_id"), col("count").as("n_rows"), col("sum").as("value_sum"))
    val bounds = ds.streams.where(col("stream_id") === "3:view")
      .select(lit("bounds_view_us").as("phase"), lit("-").as("stream_id"),
        unix_micros(col("latest_datapoint")).as("n_rows"),
        lit(0.0).as("value_sum"))
    stats("current", ds.rawDatapoints)
      .unionByName(hours)
      .unionByName(one("count_all", ds.countDatapoints()))
      .unionByName(bounds)
  }

  /** SQL surface on the gate: the warehouse registered as temp views and
    * queried with plain `spark.sql` — a registry⋈fact join filtered on a
    * tag predicate, the finalized hours-rollup view, and the
    * pending-deletes audit view. A merge-on-read takedown lands BEFORE
    * registration, so the views must carry the engine's snapshot + delete
    * semantics (the voided window invisible to SQL), recomputed by the
    * DuckDB twin from events. Bucket counts ride `value_sum` as exact
    * integers-in-doubles; per-bucket float sums are deliberately not
    * re-summed (IEEE order would differ across engines).
    */
  def sqlSurface(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-sql")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click",
      Map("user" -> "7", "type" -> "click", "team" -> "red"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view",
      Map("user" -> "3", "type" -> "view", "team" -> "blue"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.deleteDatapoints(Map("team" -> "red"),
      ts("2024-01-10T00:00:00Z"), ts("2024-01-19T23:59:59.999999Z"))
    ds.registerViews("sqlgate")
    spark.sql("""
      SELECT 'fact' AS phase, d.stream_id, count(*) AS n_rows,
        CAST(sum(CAST(d.value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
      FROM sqlgate_datapoints d
      JOIN sqlgate_streams s USING (stream_id)
      WHERE element_at(s.tags, 'team') IN ('red', 'blue')
      GROUP BY d.stream_id""")
      .unionByName(spark.sql("""
      SELECT 'hours' AS phase, stream_id, count(*) AS n_rows,
        CAST(sum(`count`) AS DOUBLE) AS value_sum
      FROM sqlgate_rollup_hours GROUP BY stream_id"""))
      .unionByName(spark.sql("""
      SELECT 'pending' AS phase, '-' AS stream_id, count(*) AS n_rows,
        CAST(0.0 AS DOUBLE) AS value_sum
      FROM sqlgate_pending_deletes"""))
  }

  /** DESCRIBE HISTORY surface on the gate: a fixed mutation sequence on a
    * fresh warehouse must leave exactly the expected (version, op) ledger —
    * the oracle pins the literal rows, so a verb that stops committing
    * (or commits twice) breaks the row set.
    */
  def historyLedger(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-hist")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type") === "click")
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.compact()
    ds.vacuumRaw(retainVersions = 1) // not a commit: must NOT appear
    // registry_gen audits the metadata half of each snapshot: ensure
    // swapped to g1 before any commit, the append's registry touch to g2,
    // the downsample's watermark advance to g3; compact leaves the
    // registry untouched (g3 again) — pinned literally by the oracle
    ds.history.toDF("version", "op", "registry_gen")
  }

  /** SYMLINK-MANIFEST export on the gate: after two appends and a
    * compaction, the exported file list is read back by a PLAIN
    * `spark.read.parquet` over exactly the listed paths — no graft reader
    * involved — and must reproduce the full per-stream stats (a list that
    * leaked a retired pre-compaction file would double rows; one that
    * missed a file would drop them). The `n_files` probe pins the listed
    * count to the compacted layout's closed form: one file per populated
    * dp_date partition, i.e. the distinct event dates, which the oracle
    * computes from events.
    */
  def symlinkManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-symman")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    ds.compact()
    val nFiles = ds.generateSymlinkManifest()
    val v = ds.currentVersion.get
    val listed = java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dir/_symlink_manifest/v$v/raw.txt"))
      .split('\n').toSeq.filter(_.nonEmpty)
    val external = spark.read.option("basePath", s"$dir/raw")
      .parquet(listed: _*)
    external.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
      .select(lit("external").as("phase"), col("stream_id"),
        col("n_rows"), col("value_sum"))
      .unionByName(Seq(("n_files", "-", nFiles, 0.0))
        .toDF("phase", "stream_id", "n_rows", "value_sum"))
  }

  /** REPLICATION on the gate: slice A lands in the source and is
    * replicated to a second warehouse; slice B and a compaction land; the
    * second replicate run must apply exactly the one new append commit
    * (the compaction skipped as row-preserving), and the REPLICA's
    * per-stream stats — served from its own committed snapshot — must
    * equal the full source recomputed from events. The `applied_*` probe
    * rows pin the exactly-once accounting, including the converged third
    * run applying nothing.
    */
  def replication(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = new Datastream(spark, tempDir("graft-repl-src"))
    val dst = new Datastream(spark, tempDir("graft-repl-dst"))
    src.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    src.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    src.appendMultiple(dp.where(col("ts") < lit(cut)))
    val r1 = src.replicateTo(dst)
    src.appendMultiple(dp.where(col("ts") >= lit(cut)))
    src.compact()
    val r2 = src.replicateTo(dst)
    val r3 = src.replicateTo(dst)
    def stats(df: DataFrame, phase: String) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    def probe(label: String, n: Long) =
      Seq((label, "-", n, 0.0)).toDF("phase", "stream_id", "n_rows", "value_sum")
    val replica = stats(dst.rawDatapoints, "replica")
    // a merge-on-read takedown on the source PROPAGATES: the replica
    // applies the same ranges under the same batch-id watermark (one
    // commit applied, idempotent on re-run), and its visible rows drop
    // exactly the deleted window
    val nDel = src.deleteDatapoints(Map("user" -> "7"),
      ts("2024-01-10T00:00:00Z"), ts("2024-01-19T23:59:59.999999Z"))
    val r4 = src.replicateTo(dst)
    val r5 = src.replicateTo(dst)
    replica
      .unionByName(probe("applied_1", r1))
      .unionByName(probe("applied_2", r2))
      .unionByName(probe("applied_3", r3))
      .unionByName(stats(dst.rawDatapoints, "replica_after_delete"))
      .unionByName(probe("deleted", nDel))
      .unionByName(probe("applied_4", r4))
      .unionByName(probe("applied_5", r5))
      .unionByName(probe("dst_pending", dst.pendingDeletes.count()))
  }

  /** ROLLUP CHANGEFEED on the gate: the incremental dashboard consumer.
    * Slice A lands and is downsampled to a mid-January watermark; the
    * cursor is captured; slice B lands and maintenance advances to
    * February. The feed from the cursor must surface EXACTLY the hour
    * buckets the second maintenance pass finalized — bucket_start ≥ the
    * first watermark — with exact decimal partials, attributed to the one
    * downsample commit, having read only that commit's files. The oracle
    * recomputes those buckets straight from events.
    */
  def rollupChangefeed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-rcf")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type") === "click")
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    ds.downsampleStreams(ts("2024-01-10T00:00:00Z"))
    val cursor = ds.currentVersion.get
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.readRollupChanges(Granularity.Hours, cursor)
      .select(
        (col("_commit_version") - lit(cursor)).as("commit_delta"),
        col("_commit_op").as("op"),
        col("stream_id"), col("bucket_start"), col("cnt"),
        col("vsum").cast("double").as("vsum"),
        col("vmin"), col("vmax"), col("tfirst"), col("tlast"))
  }

  /** RESTORE on the gate: slice A lands and its version is captured; a
    * registry rename and slice B land on top. `restore(v)` must serve
    * exactly slice A on CURRENT (not just pinned) reads with the registry
    * rolled back to alpha, and restoring forward to the pre-restore
    * version must bring slice B and the beta rename back — both by log
    * manipulation alone. The oracle recomputes every phase from events;
    * a restore that leaks newer files, loses older ones, or forgets the
    * registry half breaks the hash. (Phase-1 frames pin their file lists
    * eagerly at construction, so reading "between" the two restores is
    * well-defined even though the result is assembled lazily.)
    */
  def restoreGate(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-restore")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click", "team" -> "alpha"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    val v = ds.currentVersion.get
    // the rename precedes slice B so vPre's manifest records the beta
    // generation (registry-only mutations never commit a version)
    ds.updateTags(Map("team" -> "alpha"), Map("team" -> "beta"))
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    val vPre = ds.currentVersion.get
    def stats(df: DataFrame, phase: String) =
      df.groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("stream_id"),
          col("n_rows"), col("value_sum"))
    def regProbe(label: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_rows"))
        .select(lit(label).as("phase"), lit("-").as("stream_id"),
          col("n_rows"), lit(0.0).as("value_sum"))
    ds.restore(v)
    val restored = stats(ds.rawDatapoints, "restored")
      .unionByName(regProbe("restored_alpha", ds.findStreams(Map("team" -> "alpha"))))
      .unionByName(regProbe("restored_beta", ds.findStreams(Map("team" -> "beta"))))
    ds.restore(vPre)
    restored
      .unionByName(stats(ds.rawDatapoints, "forward"))
      .unionByName(regProbe("forward_alpha", ds.findStreams(Map("team" -> "alpha"))))
      .unionByName(regProbe("forward_beta", ds.findStreams(Map("team" -> "beta"))))
  }

  /** CHANGEFEED over the commit log: slice A (both streams, pre-cut) lands
    * and the consumer's cursor is captured; two more appends land — one
    * per stream, so per-commit attribution is observable — and a
    * compaction rewrites the whole table. The catch-up read from the
    * cursor must surface EXACTLY the two appended slices, attributed to
    * the right commits (pinned as version deltas against the cursor),
    * while skipping the row-preserving rewrite; replaying from 0 must
    * reconstruct the entire table commit by commit. A changefeed that
    * leaks compacted files (doubled rows), misses a commit, or
    * mis-attributes a slice breaks the hash.
    */
  def changefeed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-cdc")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    val cursor = ds.currentVersion.get
    ds.appendMultiple(dp.where(col("ts") >= lit(cut) &&
      col("stream_id") === "7:click"))
    ds.appendMultiple(dp.where(col("ts") >= lit(cut) &&
      col("stream_id") === "3:view"))
    ds.compact()
    def shape(df: DataFrame, phase: String, base: Long) =
      df.groupBy((col("_commit_version") - lit(base)).as("commit_delta"),
          col("_commit_op").as("op"), col("stream_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("commit_delta"), col("op"),
          col("stream_id"), col("n_rows"), col("value_sum"))
    shape(ds.readChanges(cursor, skipChangeCommits = true), "catchup", cursor)
      .unionByName(shape(ds.readChanges(0L, skipChangeCommits = true),
        "replay", 0L))
  }

  /** CDF (change-data-feed) on the gate: the row-delete-decoding
    * changefeed. Slice A lands, a merge-on-read takedown voids a
    * mid-slice window of one stream, slice B lands; the replay from 0
    * must surface every appended row as an 'insert' AND decode the delete
    * commit into exactly the voided rows as 'delete' rows — recomputed by
    * the oracle straight from events with the same window. A catch-up
    * from the pre-delete cursor must carry the delete plus slice B only.
    */
  def changefeedDeletes(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-cfd")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    val cursor = ds.currentVersion.get
    ds.deleteDatapoints(Map("user" -> "7"),
      ts("2024-01-05T00:00:00Z"), ts("2024-01-09T23:59:59.999999Z"))
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    def shape(df: DataFrame, phase: String) =
      df.groupBy(col("_change_type"), col("_commit_op").as("op"),
          col("stream_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
        .select(lit(phase).as("phase"), col("_change_type"), col("op"),
          col("stream_id"), col("n_rows"), col("value_sum"))
    shape(ds.readChangesWithDeletes(0L), "replay")
      .unionByName(shape(ds.readChangesWithDeletes(cursor), "catchup"))
  }

  /** METADATA-ONLY COUNT on the gate: two streams land in two commits
    * split at Jan 15, then four counts probe the manifest-stats count
    * path — unbounded (zero data I/O by construction), a mid-range that
    * mixes fully-covered files (manifest `rows=`) with boundary scans, a
    * PINNED as-of count that must exclude the second commit, and a
    * far-future range that skipping must answer as 0. The oracle
    * recomputes every arm straight from events, so a drifted `rows=`
    * stat, a mis-classified boundary file, or a leaky pin breaks the
    * hash.
    */
  def statsCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-cnt")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    val v = ds.currentVersion.get
    ds.appendMultiple(dp.where(col("ts") >= lit(cut)))
    Seq(
      ("all", ds.countDatapoints()),
      ("mid", ds.countDatapoints(Some(ts("2024-01-10T00:00:00Z")),
        Some(ts("2024-01-20T00:00:00Z")))),
      ("asof", ds.countDatapoints(asOfVersion = Some(v))),
      ("future", ds.countDatapoints(Some(ts("2030-01-01T00:00:00Z")), None)),
      ("stream", ds.countDatapoints(streamIds = Some(Seq("7:click"))))
    ).toDF("label", "n")
  }

  /** METADATA-ONLY COUNT on the ROLLUP tables, split out of [[statsCount]]
    * so the cascade's cost is individually visible in bench seconds: the
    * minute ladder is materialized, then `countRollup` serves bucket counts
    * the same stats-first way — manifest `rows=` for provably-covered
    * files, a scan only at range boundaries. The oracle recomputes every
    * arm as DISTINCT (stream, bucket) straight from events.
    */
  def statsRollupCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-cntr")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    Seq(
      ("rollup_all", ds.countRollup(Granularity.Minutes)),
      ("rollup_mid", ds.countRollup(Granularity.Minutes,
        Some(ts("2024-01-10T00:00:00Z")), Some(ts("2024-01-20T00:00:00Z")))),
      ("rollup_stream", ds.countRollup(Granularity.Minutes,
        streamIds = Some(Seq("7:click"))))
    ).toDF("label", "n")
  }

  /** MULTI-STREAM MATRIX export on the gate: both streams land, the
    * minute ladder finalizes, and `getDataMatrix` pivots the window into
    * one aligned frame — one row per bucket, one column per stream, cells
    * = the exact rollup-derived mean (NULL where a stream has no bucket).
    * The oracle recomputes every cell straight from events with the same
    * decimal-accumulated mean, so a dropped bucket, a misaligned pivot,
    * or a wrong column mapping breaks the hash.
    */
  def getDataMatrixReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-matrix")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.getDataMatrix(Map.empty, Granularity.Minutes,
      ts("2024-01-10T00:00:00Z"), ts("2024-01-20T00:00:00Z"))
  }

  /** ADDITIVE SCHEMA EVOLUTION on the gate: the first half of the fixture
    * lands pre-evolution, `addRawColumn("quality", "double")` commits the
    * declaration (manifest protocol v4), the second half lands carrying
    * the column, and a compaction rewrites the mixed file generations.
    * The evolved read must then serve NULL for every pre-evolution row
    * and the exact value for every post-evolution row — the oracle
    * recomputes all three aggregates straight from events with the same
    * cut, so a dropped column in the rewrite, a mis-filled NULL, or a
    * value corrupted by the evolved read path breaks the hash.
    */
  def schemaEvolution(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-evo")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    ds.addRawColumn("quality", "double")
    ds.appendMultiple(dp.where(col("ts") >= lit(cut))
      .withColumn("quality", col("value") / lit(2.0)))
    ds.compact() // the rewrite must carry the evolved column forward
    ds.rawDatapointsWithExtras()
      .groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("quality")).as("n_quality"),
        sum(col("quality").cast(Downsample.DecV)).cast("double")
          .as("quality_sum"))
  }

  /** CHANGEFEED ACROSS SCHEMA EVOLUTION on the gate: pre-evolution rows
    * land, `addRawColumn` bumps the schema, post-evolution rows land with
    * the new column populated. `readChanges(0)` spans the boundary and
    * must project EVERY commit through the evolved (end-of-feed) schema:
    * the pre-evolution commit's rows null-fill `quality` (n_quality = 0,
    * quality_sum null), the post-evolution commit carries the written
    * values, and the add_column commit itself contributes no rows (so
    * exactly two commit_seq values appear). Aggregated per (commit,
    * stream) BEFORE the dense_rank window — the scan shuffles once and
    * the window orders only the handful of per-commit aggregate rows,
    * never the datapoints.
    */
  def changesEvolved(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-cfe")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value")
    val cut = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(dp.where(col("ts") < lit(cut)))
    ds.addRawColumn("quality", "double")
    ds.appendMultiple(dp.where(col("ts") >= lit(cut))
      .withColumn("quality", col("value") / lit(2.0)))
    val perCommit = ds.readChanges(0L)
      .groupBy(col("_commit_version"), col("_commit_op").as("op"),
        col("stream_id"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("quality")).as("n_quality"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"),
        sum(col("quality").cast(Downsample.DecV)).cast("double")
          .as("quality_sum"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("_commit_version")
    perCommit
      .withColumn("commit_seq", dense_rank().over(w).cast("long"))
      .select("commit_seq", "op", "stream_id", "n_rows", "n_quality",
        "value_sum", "quality_sum")
  }

  /** DESCRIBE DETAIL on the gate: after an append + maintenance pass,
    * `tableDetail` must report — from the manifest alone, zero data I/O —
    * the exact raw row count and µs time bounds (both provable from
    * events) plus a populated/empty split between raw and the untouched
    * derived table. `bytes_known` pins that every committed file carries
    * its `len=` stat.
    */
  def tableDetailReport(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-detail")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type") === "click")
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.tableDetail
      .where(col("table").isin("raw", "derived"))
      .select(col("table"), col("n_rows"),
        (col("n_files") > 0).as("has_files"),
        col("bytes").isNotNull.as("bytes_known"),
        col("ts_min_us"), col("ts_max_us"))
  }

  /** Z-ORDER compaction on the gate: all 30 (user, type) streams land in
    * one commit, `compactZOrder` re-clusters each day's files on the
    * (stream-rank, ts) Morton interleave, and the gate both replays the
    * data exactly (per-stream aggregates + a ranged single-stream read
    * through the clustered layout) and pins `layout_ok` — the rewrite
    * produced multiple files per day AND single-stream / intra-range
    * plans pruned strictly below the full file count, i.e. the layout
    * actually buys multi-dimension skipping, not just a rewrite.
    */
  def zorderCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-zorder")
    val ds = new Datastream(spark, dir)
    ds.ensureStreams(Sources.eventsAsDatapoints(spark, sfDir)
      .select("stream_id").distinct().collect().map(_.getString(0)).sorted
      .map(id => StreamMeta(id, Map.empty, ValueType.Numeric,
        Seq.empty, Seq.empty, Granularity.Seconds.name)).toSeq)
    val pts = Sources.eventsAsDatapoints(spark, sfDir)
      .select("stream_id", "ts", "value")
    ds.appendMultiple(pts)
    val nDays = Sources.events(spark, sfDir)
      .select(to_date(col("ts"))).distinct().count()
    // scale-adaptive file sizing: ~3 clustered files per day at ANY sf, so
    // the gate's file count (and its per-file commit-stats cost) stays
    // flat as the fixture grows — the shape a real OPTIMIZE targets, vs a
    // constant row cap that explodes into thousands of tiny files
    val perFile = math.max(pts.count() / math.max(nDays * 3, 1L), 1L)
    val (_, after) = ds.compactZOrder(maxRecordsPerFile = perFile)
    val all = ds.plannedFiles("raw", None, None)
    val one = ds.plannedFiles("raw", None, None, Some(Seq("7:click")))
    val slice = ds.plannedFiles("raw",
      Some(ts("2024-01-10T00:00:00Z")), Some(ts("2024-01-12T00:00:00Z")))
    val layoutOk = after > nDays && one.size < all.size && slice.size < all.size
    val full = ds.rawDatapoints.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
      .select(lit("full").as("phase"), col("stream_id"),
        col("n_rows"), col("value_sum"))
    val ranged = ds.getData("7:click", Granularity.Seconds,
        start = Some(ts("2024-01-10T00:00:00Z")),
        end = Some(ts("2024-01-20T00:00:00Z")), endExclusive = true)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
      .select(lit("ranged").as("phase"), lit("7:click").as("stream_id"),
        col("n_rows"), col("value_sum"))
    full.unionByName(ranged).withColumn("layout_ok", lit(layoutOk))
  }

  /** Tag CRUD on the gate: two streams are ensured with a shared `team`
    * tag, one is retagged via `updateTags` (merge, new values win), the
    * other loses its `team` tag via `removeTags`; then four tag queries
    * probe the registry and each match is joined to its raw datapoint
    * count. The oracle pins the exact match set per probe — a tag merge
    * that failed to override, or a removal that didn't stick, surfaces as
    * a row-set mismatch (e.g. `team_alpha` matching anything).
    */
  def tagCrud(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-tags")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click", "team" -> "alpha"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view", "team" -> "alpha"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.updateTags(Map("type" -> "click"), Map("team" -> "beta", "tier" -> "hot"))
    ds.removeTags(Map("type" -> "view"), Seq("team"))
    val counts = ds.rawDatapoints.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"))
    def probe(label: String, q: Map[String, String]): DataFrame =
      ds.findStreams(q).select("stream_id")
        .join(counts, "stream_id")
        .select(lit(label).as("probe"), col("stream_id"), col("n_rows"))
    Seq(
      probe("team_beta", Map("team" -> "beta")),   // retagged 7:click only
      probe("team_alpha", Map("team" -> "alpha")), // must match NOTHING
      probe("tier_hot", Map("tier" -> "hot")),     // merged-in new key
      probe("type_view", Map("type" -> "view")))   // untouched tag survives
      .reduce(_.unionByName(_))
  }

  /** J1 wired into the STORAGE layer: four streams land in four separate
    * commits (four files with disjoint manifest sid bounds), then a tag
    * query (`grp=hot`) drives [[Datastream.datapointsForStreams]] — the
    * matched stream-id SET prunes the snapshot's file list via the
    * manifest sid/ts stats BEFORE Spark plans the scan (asserted directly
    * by SnapshotSpec's plannedFiles test; here the oracle pins that the
    * pruned read is still exact, bounds inclusive, per matched stream).
    */
  def findStreamsScan(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-tagscan")
    val ds = new Datastream(spark, dir)
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    Seq((7, "click", "hot"), (3, "view", "hot"),
        (5, "click", "cold"), (2, "view", "cold")).foreach { case (u, t, g) =>
      ds.ensureStream(s"$u:$t", Map("grp" -> g, "type" -> t),
        highestGranularity = Granularity.Minutes)
      ds.appendMultiple(dp
        .where(col("user_id") === u && col("event_type") === t)
        .select("stream_id", "ts", "value"))
    }
    ds.datapointsForStreams(Map("grp" -> "hot"),
        end = Some(ts("2024-01-15T00:00:00Z")))
      .groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(38,10)")).cast("double").as("value_sum"))
  }

  /** O2 pagination: limit+offset over the ordered downsampled fetch. The
    * hourly bucket_start is unique per stream, so the selected page is
    * deterministic — the property Tastypie pagination relies on
    * [dds :: resources.py :: paginator].
    */
  def getDataPaginated(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val hours = Downsample.aggregateRaw(dp, Granularity.Hours)
    // page 3..8 of the stream's full history: an interior page (both edges
    // exercised) that is non-empty at every test SF — streams are sparse
    // (~10-18 hourly buckets), so deep offsets would select nothing
    GetData.paginate(
      GetData.downsampled(hours, "3:view",
        valueDownsamplers = Seq(Downsamplers.Mean, Downsamplers.Count),
        timeDownsamplers = Seq(Downsamplers.TimeFirst, Downsamplers.TimeLast)),
      limit = Some(5), offset = 3)
  }

  /** P2 nested tag query: `meta.parity=odd` resolves through the registry's
    * `tags_json` document (the HTTP layer's `tags__meta__parity` path) AND a
    * flat tag in the same query, then the usual broadcast semi-join rollup.
    */
  def findStreamsNested(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val registry = StreamRegistry.fromEvents(dp)
    val matched = StreamRegistry.findStreams(registry,
      Map("meta.parity" -> "odd", "type" -> "click"))
    StreamRegistry.selectDatapoints(dp, matched)
      .groupBy(col("stream_id"))
      .agg(count(lit(1)).as("n_datapoints"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
  }

  /** P2's Spark-4 VariantType arm: the nested `meta.parity=odd` + flat
    * `type=click` query resolved through the parsed variant column
    * instead of per-row JSON path extraction — must produce exactly the
    * `q_find_streams_nested` row set (same oracle).
    */
  def findStreamsVariant(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val registry = StreamRegistry.withVariantTags(StreamRegistry.fromEvents(dp))
    val matched = StreamRegistry.findStreams(
      StreamRegistry.findStreamsVariant(registry, "meta.parity", "odd"),
      Map("type" -> "click"))
    StreamRegistry.selectDatapoints(dp, matched)
      .groupBy(col("stream_id"))
      .agg(count(lit(1)).as("n_datapoints"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
  }

  /** P2+ tag-query OPERATORS (the reference's Mongo query-doc pass-through
    * [ds :: backends/mongodb.py :: find_streams]): six labeled probes mix
    * numeric ranges, set membership, prefix match, existence, and the
    * negations (`$ne`/`$nin` — which in Mongo MATCH absent keys) over both
    * flat (`user`, `type`, `tier`) and nested (`meta.parity`) tags, each
    * matched stream joined to its raw datapoint stats. The oracle pins the
    * exact match set per probe straight from events, so an operator that
    * over- or under-matches (e.g. a string compare where Mongo type
    * bracketing demands numeric, or `$exists` treating an absent key as
    * empty-string) breaks the row set.
    */
  def findStreamsOps(spark: SparkSession, sfDir: String): DataFrame = {
    import StreamRegistry.TagPred._
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val registry = StreamRegistry.fromEvents(dp)
    val counts = dp.groupBy("stream_id")
      .agg(count(lit(1)).as("n_datapoints"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
    def probe(label: String, q: Map[String, Seq[StreamRegistry.TagPred]]): DataFrame =
      StreamRegistry.findStreamsWhere(registry, q).select("stream_id")
        .join(counts, "stream_id")
        .select(lit(label).as("probe"), col("stream_id"),
          col("n_datapoints"), col("value_sum"))
    Seq(
      // numeric range on a flat tag AND set membership: user ∈ [30, 80)
      probe("range_in", Map(
        "user" -> Seq(Gte(30), Lt(80)),
        "type" -> Seq(In(Seq("click", "view"))))),
      // prefix match + nested-path existence (parity always present)
      probe("prefix", Map(
        "type" -> Seq(Prefix("cl")),
        "meta.parity" -> Seq(Exists(true)))),
      // nested-path set membership + inclusive numeric upper bound
      probe("nested_in", Map(
        "meta.parity" -> Seq(In(Seq("odd"))),
        "user" -> Seq(Lte(20)))),
      // $exists:false on a key no stream carries + strict lower bound
      probe("missing", Map(
        "tier" -> Seq(Exists(false)),
        "user" -> Seq(Gt(140)))),
      // $ne on a present key (negation over values)
      probe("ne", Map(
        "type" -> Seq(Ne("click")),
        "user" -> Seq(Lte(10)))),
      // $nin on an ABSENT key: Mongo's negations match missing fields, so
      // this must reduce to the user bound alone — a $nin that brackets
      // absent-as-never-matches (like the positive operators) over-prunes
      // and breaks this probe's row set
      probe("nin", Map(
        "tier" -> Seq(Nin(Seq("hot", "cold"))),
        "user" -> Seq(Gt(150)))))
      .reduce(_.unionByName(_))
  }

  /** P2+ `$or` composition and `$regex` (the remaining Mongo query-document
    * surface [ds :: backends/mongodb.py :: find_streams]): three labeled
    * probes exercise disjunction over numeric ranges, unanchored regex
    * match, and an `$or` mixing a nested-path clause with a regex leaf.
    * Each document compiles to ONE boolean Column — a single registry scan
    * per probe, no per-alternative plan union — and the oracle pins each
    * probe's exact match set straight from events.
    */
  def findStreamsOr(spark: SparkSession, sfDir: String): DataFrame = {
    import StreamRegistry.TagPred._
    import StreamRegistry.TagQuery._
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val registry = StreamRegistry.fromEvents(dp)
    val counts = dp.groupBy("stream_id")
      .agg(count(lit(1)).as("n_datapoints"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
    def probe(label: String, q: StreamRegistry.TagQuery): DataFrame =
      StreamRegistry.findStreamsQuery(registry, q).select("stream_id")
        .join(counts, "stream_id")
        .select(lit(label).as("probe"), col("stream_id"),
          col("n_datapoints"), col("value_sum"))
    Seq(
      // $or of two numeric ranges, AND'd with set membership:
      // (user < 20 OR user >= 140) AND type IN (click, view)
      probe("or_ranges", And(Seq(
        Or(Seq(
          Clause(Map("user" -> Seq(Lt(20)))),
          Clause(Map("user" -> Seq(Gte(140)))))),
        Clause(Map("type" -> Seq(In(Seq("click", "view")))))))),
      // unanchored $regex: 'rr' inside (error) or 'up' at end (signup)
      probe("regex", Clause(Map("type" -> Seq(Regex("rr|up$"))))),
      // $or mixing a nested-path clause with an anchored-regex leaf
      probe("or_nested", Or(Seq(
        Clause(Map("meta.parity" -> Seq(Eq("odd")), "user" -> Seq(Lte(10)))),
        Clause(Map("type" -> Seq(Regex("^pu.*se$"))))))))
      .reduce(_.unionByName(_))
  }

  /** S5 delete_streams end-to-end: two streams live the full lifecycle
    * (ensure → bulk append → cascade), then one is deleted by tag query.
    * Output = per-table surviving row counts, so any 3:view row left in raw,
    * derived, or ANY rollup level — or any lost 7:click row — breaks the
    * oracle match.
    */
  def deleteStreamsE2E(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-del")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("3:view", Map("user" -> "3", "type" -> "view"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where((col("user_id") === 7 && col("event_type") === "click") ||
        (col("user_id") === 3 && col("event_type") === "view"))
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    ds.deleteStreams(Map("type" -> "view"))
    val raw = ds.rawDatapoints.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("raw").as("level"), col("stream_id"), col("n_rows"))
    val levels = Seq(Granularity.Minutes, Granularity.Minutes10, Granularity.Hours,
      Granularity.Hours6, Granularity.Days).map(g =>
      ds.rollup(g).groupBy("stream_id").agg(count(lit(1)).as("n_rows"))
        .select(lit(g.name).as("level"), col("stream_id"), col("n_rows")))
    (raw +: levels).reduce(_.unionByName(_))
  }

  /** Compaction on the gate: a warehouse is built the way real ingest
    * fragments one — two chronological appends of a single high-volume
    * stream (split at Jan-15 noon, so the shared `dp_date=2024-01-15`
    * partition collects files from both appends), a derived-stream refresh
    * (whose shuffle leaves one small file per task in its partition), and TWO
    * incremental maintenance passes (the second adds files to the boundary
    * `bucket_date` partitions) — then `compact()` rewrites every fat
    * partition to one (stream_id, time)-sorted file. Output: per-level row
    * counts and decimal-exact value sums read from the COMPACTED tables
    * (the oracle recomputes them straight from events, so any row lost or
    * duplicated by the rewrite breaks the match) plus two pinned booleans:
    * the rewrite strictly reduced total file count, and raw/derived/rollup
    * partitions are single-file afterwards (after-counts equal their
    * partition counts). Derived rows carry NULL value_sum — their values
    * are per-bucket decimal→double casts whose re-summation is
    * order-sensitive, exactly what the oracle cannot pin.
    */
  def compaction(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-compact")
    val ds = new Datastream(spark, dir)
    // hours granularity: the 3-level ladder slice keeps the (fixed-overhead-
    // bound) sequential storage-job count proportional while exercising the
    // same fragmentation-then-compact lifecycle
    ds.ensureStream("all:ev", Map("scope" -> "all"),
      highestGranularity = Granularity.Hours)
    ds.ensureStream("d:sum", Map.empty, ValueType.Numeric, Granularity.Hours,
      deriveOp = Some("sum"), derivedFrom = Seq("all:ev"))
    val pts = Sources.eventsAsDatapoints(spark, sfDir)
      .select(lit("all:ev").as("stream_id"), col("ts"), col("value"))
    val split = ts("2024-01-15T12:00:00Z")
    ds.appendMultiple(pts.where(col("ts") < split))
    ds.appendMultiple(pts.where(col("ts") >= split))
    ds.updateDerivedStreams()
    ds.downsampleStreams(split) // hours6-aligned: every level gets a pass-1 slice
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    val stats = ds.compact()
    val reduced = stats.values.map(_._1).sum > stats.values.map(_._2).sum
    // single-file proof: after-counts must equal the partition counts —
    // distinct event dates for the date-partitioned tables, 1 for the
    // stream_id-partitioned derived table
    val nDates = Sources.events(spark, sfDir)
      .select(to_date(col("ts"))).distinct().count()
    val singleFile = stats("raw")._2 == nDates && stats("derived")._2 == 1L &&
      Seq("hours", "hours6", "days").forall(g => stats(s"rollup/$g")._2 == nDates)
    val raw = ds.rawDatapoints.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
      .select(lit("raw").as("level"), col("stream_id"),
        col("n_rows"), col("value_sum"))
    val levels = Seq(Granularity.Hours, Granularity.Days)
      .map(g => ds.rollup(g).groupBy("stream_id")
        .agg(count(lit(1)).as("n_rows"),
          sum("vsum").cast("double").as("value_sum"))
        .select(lit(g.name).as("level"), col("stream_id"),
          col("n_rows"), col("value_sum")))
    (raw +: levels).reduce(_.unionByName(_))
      .withColumn("value_sum",
        when(col("stream_id") === "d:sum", lit(null).cast("double"))
          .otherwise(col("value_sum")))
      .withColumn("files_reduced", lit(reduced))
      .withColumn("compacted_single_file", lit(singleFile))
  }

  /** T6 reprocess ≡ incremental: build the cascade in two incremental
    * maintenance calls, snapshot it, rebuild from scratch with
    * `reprocessStreams`, and report per-level (rows before, rows after,
    * symmetric-difference rows). n_diff = 0 proves the rebuild is
    * bit-identical across every partial column including the decimal sums —
    * the exactness claim behind the incremental design.
    */
  def reprocessEquiv(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-rep")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", Map("user" -> "7", "type" -> "click"),
      highestGranularity = Granularity.Minutes)
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type") === "click")
      .select("stream_id", "ts", "value"))
    ds.downsampleStreams(ts("2024-01-15T00:00:00Z"))
    ds.downsampleStreams(ts("2024-02-01T00:00:00Z"))
    // snapshots must be materialized: reprocess overwrites the files a lazy
    // plan would re-read
    val beforeM = ds.rollup(Granularity.Minutes).localCheckpoint(true)
    val beforeD = ds.rollup(Granularity.Days).localCheckpoint(true)
    ds.reprocessStreams(ts("2024-02-01T00:00:00Z"))
    def report(level: String, before: DataFrame, after: DataFrame): DataFrame = {
      val diff = before.exceptAll(after).unionByName(after.exceptAll(before))
      before.agg(count(lit(1)).as("n_before"))
        .crossJoin(after.agg(count(lit(1)).as("n_after")))
        .crossJoin(diff.agg(count(lit(1)).as("n_diff")))
        .select(lit(level).as("level"), col("n_before"), col("n_after"), col("n_diff"))
    }
    report("minutes", beforeM, ds.rollup(Granularity.Minutes))
      .unionByName(report("days", beforeD, ds.rollup(Granularity.Days)))
  }

  /** W1/W2 INCREMENTAL maintenance on the oracle gate: two source streams
    * live in a real warehouse, a sum-derived and a derivative-derived
    * stream refresh in TWO watermarked steps (mid-month, then past the
    * data), and the output is the derived points themselves. The oracle
    * recomputes both derivations from events in one shot — equal iff the
    * second refresh correctly stitched the lag boundary from the
    * prev-point sidecar and emitted exactly the new slice (a re-emitted
    * or missed bucket/row breaks the hash; decimal bucket sums make the
    * split invisible).
    */
  def deriveIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-dinc")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("7:click", highestGranularity = Granularity.Minutes)
    ds.ensureStream("7:view", highestGranularity = Granularity.Minutes)
    ds.ensureStream("d:sum", deriveOp = Some("sum"),
      derivedFrom = Seq("7:click", "7:view"),
      highestGranularity = Granularity.Minutes)
    ds.ensureStream("d:der", deriveOp = Some("derivative"),
      derivedFrom = Seq("7:click"),
      highestGranularity = Granularity.Minutes)
    val pts = Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id") === 7 && col("event_type").isin("click", "view"))
      .select("stream_id", "ts", "value")
    val split = ts("2024-01-15T00:00:00Z")
    ds.appendMultiple(pts.where(col("ts") < lit(split)))
    ds.updateDerivedStreamsIncremental(split)
    ds.appendMultiple(pts.where(col("ts") >= lit(split)))
    ds.updateDerivedStreamsIncremental(ts("2024-02-01T00:00:00Z"))
    ds.getData("d:sum", Granularity.Minutes)
      .select(lit("sum").as("op"), col("ts"), col("value"))
      .unionByName(ds.getData("d:der", Granularity.Minutes)
        .select(lit("derivative").as("op"), col("ts"), col("value")))
  }

  /** T1–T3 on the oracle gate: the watermarked minutes downsample runs as a
    * real Structured Streaming query (`Trigger.AvailableNow`, append mode,
    * delay 0) over the events file, lands in a parquet sink, and is read
    * back finalized. The oracle is the batch downsample restricted to
    * buckets the watermark finalized (bucket end ≤ ms-floored max event
    * time) — green means the streaming engine's emit-once watermark
    * semantics match the reference's `downsampled_until` contract.
    */
  def streamingCascade(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-stream")
    // the file stream source only accepts directories; stream from a temp
    // dir holding a symlink to the single events file (no data copy — and
    // the same shape as a real deployment's drop-directory ingest)
    val srcDir = tempDir("graft-stream-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("ts", Sources.tsMicrosCol(schema))
    val q = Streaming.downsample(src, Granularity.Minutes, "0 seconds", streamKeys)
      .writeStream
      .format("parquet")
      .option("path", s"$dir/rollup")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // sink dir is non-empty and Spark-written — inference keeps the decimals
    Downsample.finalizeView(spark.read.parquet(s"$dir/rollup"), streamKeys)
  }

  /** F5 wire rendering: the downsampled count-only fetch rendered to the
    * reference's HTTP datapoint shape `{"t": <iso-µs>, "v": <value>}`
    * [dds :: serializers.py :: DatastreamSerializer]. Integer value + the
    * fixed 6-digit ISO format keep the JSON byte-deterministic, so the
    * DuckDB twin can rebuild the exact strings.
    */
  def wireRender(spark: SparkSession, sfDir: String): DataFrame = {
    val dp = Sources.eventsAsDatapoints(spark, sfDir)
    val hours = Downsample.aggregateRaw(dp, Granularity.Hours)
    GetData.renderWire(
      GetData.downsampled(hours, "3:view",
        valueDownsamplers = Seq(Downsamplers.Count),
        timeDownsamplers = Seq.empty),
      tsCol = "bucket_start")
  }

  /** F5 round-trip: the rendered wire JSON is PARSED BACK (`parseWire`,
    * the ingest side of the reference's HTTP format) and re-aggregated;
    * the oracle computes the same stats straight from events. Green means
    * parse ∘ render is the identity — µs timestamps and values survive the
    * JSON round-trip exactly, i.e. data exported by the reference's API
    * re-ingests losslessly.
    */
  def wireRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val parsed = GetData.parseWire(wireRender(spark, sfDir))
    parsed.agg(
      count(lit(1)).as("n_buckets"),
      sum(col("value").cast("long")).as("v_sum"),
      min("ts").as("t_min"), max("ts").as("t_max"))
  }

  /** F4 validation surface, facade half: every documented API error path
    * (granularity/value-type/derive contracts, row-delete and upsert
    * refusals, CHECK constraints, the new mutation-verb collect bound),
    * exercised against a real (temp) warehouse and reported as
    * (check_case, error-class) rows. The oracle pins the exact error class
    * per case, so a silently-succeeding invalid operation (or a wrong
    * error) breaks the match. The commit-protocol arms (lock, CAS,
    * staleness, rewrite feed) live in [[validationOccErrors]] so a
    * regressing arm stays visible in per-gate bench seconds.
    */
  def validationApiErrors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-val")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1", Map("t" -> "a"), highestGranularity = Granularity.Minutes)
    ds.ensureStream("d1", Map.empty, ValueType.Numeric, Granularity.Minutes,
      deriveOp = Some("sum"), derivedFrom = Seq("s1"))
    ds.append("s1", 1.0, ts("2024-01-10T00:00:00Z"))
    def attempt(name: String)(f: => Any): (String, String) =
      name -> (try { f; "ok" } catch { case e: Throwable => e.getClass.getSimpleName })
    Seq(
      attempt("granularity_unknown")(Granularity("fortnight")),
      attempt("value_type_unknown")(
        ds.ensureStream("s2", valueType = "fancy")),
      attempt("stream_not_found")(ds.streamMeta("nope")),
      attempt("derived_granularity_mismatch")(
        ds.ensureStream("d2", Map.empty, ValueType.Numeric, Granularity.Hours,
          deriveOp = Some("sum"), derivedFrom = Seq("s1"))),
      attempt("getdata_finer_than_highest")(ds.getData("s1", Granularity.Seconds)),
      attempt("undeclared_downsampler")(
        ds.getData("s1", Granularity.Hours, valueDownsamplers = Some(Seq("p99")))),
      attempt("append_to_derived")(ds.append("d1", 1.0, ts("2024-01-11T00:00:00Z"))),
      attempt("non_monotone_append")(ds.append("s1", 1.0, ts("2024-01-01T00:00:00Z"))),
      attempt("delete_with_dependents")(ds.deleteStreams(Map("t" -> "a"))),
      attempt("unknown_derive_op")(ds.ensureStream("d3", Map.empty,
        ValueType.Numeric, Granularity.Minutes,
        deriveOp = Some("median"), derivedFrom = Seq("s1")) match {
        case _ => ds.deriveDatapoints("d3")
      }),
      attempt("restore_unknown_version")(ds.restore(9999L)),
      attempt("replicate_into_self")(ds.replicateTo(ds)),
      // row-level delete contracts: an inverted range, doomed streams with
      // dependent derived streams, and the symlink-export guard while a
      // merge-on-read delete is still pending a physical rewrite
      attempt("row_delete_inverted_range")(
        ds.deleteDatapoints(Map("t" -> "a"),
          ts("2024-01-12T00:00:00Z"), ts("2024-01-11T00:00:00Z"))),
      attempt("row_delete_with_dependents")(
        ds.deleteDatapoints(Map("t" -> "a"),
          ts("2024-01-10T00:00:00Z"), ts("2024-01-16T00:00:00Z"))),
      attempt("symlink_with_pending_deletes") {
        ds.ensureStream("s3", Map("solo" -> "y"),
          highestGranularity = Granularity.Minutes)
        ds.append("s3", 1.0, ts("2024-01-10T00:00:00Z"))
        ds.deleteDatapoints(Map("solo" -> "y"),
          ts("2024-01-09T00:00:00Z"), ts("2024-01-11T00:00:00Z"))
        ds.generateSymlinkManifest()
      },
      attempt("upsert_to_derived")(ds.upsertDatapoints(
        Seq(("d1", ts("2024-01-10T00:00:00Z"), 1.0))
          .toDF("stream_id", "ts", "value"))),
      attempt("upsert_with_dependents")(ds.upsertDatapoints(
        Seq(("s1", ts("2024-01-10T00:00:00Z"), 9.0))
          .toDF("stream_id", "ts", "value")))
    ).toDF("check_case", "error")
  }

  /** F4 validation surface, mutation-fixture half: the arms that each
    * need a FRESH warehouse (CHECK constraints, upsert key contracts, the
    * mutation-verb collect bound, schema-evolution refusal) — split out
    * of [[validationApiErrors]] so the shared-fixture API arms and these
    * warehouse-per-arm cases stay individually visible in bench seconds.
    */
  def validationMutationErrors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    def attempt(name: String)(f: => Any): () => (String, String) =
      () => name ->
        (try { f; "ok" } catch { case e: Throwable => e.getClass.getSimpleName })
    // every arm builds its OWN throwaway warehouse (separate dirs, separate
    // writer locks) — the expected error class per arm is deterministic
    // either way, so the arms run overlapped (guide §2.6) and only the
    // tuple ORDER is fixed by the input sequence
    Concurrency.inParallel(Seq(
      // CHECK constraints: a violating batch is rejected whole; declaring
      // a constraint existing rows violate is refused; declare → enforce →
      // drop → append-freely is the clean path
      attempt("append_constraint_violation") {
        val d = new Datastream(spark, tempDir("graft-val-c1"))
        d.ensureStream("c")
        d.addCheckConstraint("value_nonneg", "value >= 0")
        d.append("c", -1.0, ts("2024-01-10T00:00:00Z"))
      },
      attempt("constraint_on_dirty_data") {
        val d = new Datastream(spark, tempDir("graft-val-c2"))
        d.ensureStream("c")
        d.append("c", 5.0, ts("2024-01-10T00:00:00Z"))
        d.addCheckConstraint("value_small", "value < 1")
      },
      attempt("constraint_clean_path") {
        val d = new Datastream(spark, tempDir("graft-val-c3"))
        d.ensureStream("c")
        d.addCheckConstraint("value_nonneg", "value >= 0")
        d.append("c", 1.0, ts("2024-01-10T00:00:00Z"))
        d.dropCheckConstraint("value_nonneg")
        d.append("c", -1.0, ts("2024-01-11T00:00:00Z"))
      },
      // upsert contract: duplicate merge keys are refused pre-write
      attempt("upsert_duplicate_keys") {
        val d = new Datastream(spark, tempDir("graft-val-u1"))
        d.ensureStream("u")
        d.upsertDatapoints(Seq(
          ("u", ts("2024-01-10T00:00:00Z"), 1.0),
          ("u", ts("2024-01-10T00:00:00Z"), 2.0))
          .toDF("stream_id", "ts", "value"))
      },
      // the mutation-verb collect bound: a batch/takedown touching more
      // distinct streams than maxPruneStreams refuses loudly BEFORE any
      // driver-side collect (the house head(max+1) fail-fast)
      attempt("upsert_over_prune_bound") {
        val d = new Datastream(spark, tempDir("graft-val-b1"))
        d.ensureStream("b1"); d.ensureStream("b2")
        d.upsertDatapoints(Seq(
          ("b1", ts("2024-01-10T00:00:00Z"), 1.0),
          ("b2", ts("2024-01-10T00:00:00Z"), 2.0))
          .toDF("stream_id", "ts", "value"), maxPruneStreams = 1)
      },
      attempt("add_column_incompatible") {
        val d = new Datastream(spark, tempDir("graft-val-e1"))
        d.ensureStream("e")
        d.addRawColumn("value", "double") // collides with the base schema
      },
      attempt("row_delete_over_prune_bound") {
        val d = new Datastream(spark, tempDir("graft-val-b2"))
        d.ensureStream("b1"); d.ensureStream("b2")
        d.append("b1", 1.0, ts("2024-01-10T00:00:00Z"))
        d.append("b2", 1.0, ts("2024-01-10T00:00:00Z"))
        d.deleteDatapoints(Map.empty, ts("2024-01-09T00:00:00Z"),
          ts("2024-01-11T00:00:00Z"), maxPruneStreams = 1)
      }
    )).toDF("check_case", "error")
  }

  /** F4 validation surface, commit-protocol half: the OPTIMISTIC
    * CONCURRENCY arms split out of [[validationApiErrors]] so each
    * fault-injected race is individually visible in bench seconds. Lock
    * contention fails fast; a CAS-stolen version re-allocates and the
    * mutation still succeeds; a concurrent commit landing mid-mutation
    * aborts the loser with the pinned conflict class; an unskipped
    * changefeed across a compaction rewrite fails loudly.
    */
  def validationOccErrors(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-valocc")
    val ds = new Datastream(spark, dir)
    ds.ensureStream("s1", Map("t" -> "a"), highestGranularity = Granularity.Minutes)
    ds.append("s1", 1.0, ts("2024-01-10T00:00:00Z"))
    def attempt(name: String)(f: => Any): (String, String) =
      name -> (try { f; "ok" } catch { case e: Throwable => e.getClass.getSimpleName })
    Seq(
      // T5: a second writer holding the warehouse lock makes any mutation
      // fail fast instead of interleaving table writes
      attempt("maintenance_lock_contended") {
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(s"$dir/.writer_lock"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val l = ch.tryLock()
        try ds.append("s1", 5.0, ts("2024-01-12T00:00:00Z"))
        finally { l.release(); ch.close() }
      },
      // OPTIMISTIC CONCURRENCY, both halves. CAS loss: a foreign intent
      // steals the allocated version in the listing→create window — the
      // writer must re-allocate past it and the mutation still SUCCEED.
      attempt("commit_cas_stolen_version") {
        ds.commitRaceInjection = () => {
          val log = new java.io.File(s"$dir/commitlog")
          val v = 1L + Option(log.listFiles())
            .getOrElse(Array.empty[java.io.File])
            .flatMap(_.getName.split('.').headOption.flatMap(_.toLongOption))
            .foldLeft(0L)(math.max)
          java.nio.file.Files.writeString(
            new java.io.File(log, f"$v%09d.intent").toPath,
            s"""{"version":$v,"op":"foreign"}""")
          ds.commitRaceInjection = () => ()
        }
        ds.append("s1", 6.0, ts("2024-01-13T00:00:00Z"))
        ds.acknowledgeTorn() // the stranded foreign intent, resolved
      },
      // staleness: a concurrent COMMIT lands while the mutation body runs —
      // publishing would lose one of the two updates, so the loser aborts
      // with the pinned conflict error (its writes stay invisible orphans)
      attempt("commit_conflict_stale") {
        ds.commitStaleInjection = () => {
          val log = new java.io.File(s"$dir/commitlog")
          val pv = ds.currentVersion.get
          val fv = 1L + Option(log.listFiles())
            .getOrElse(Array.empty[java.io.File])
            .flatMap(_.getName.split('.').headOption.flatMap(_.toLongOption))
            .foldLeft(0L)(math.max)
          java.nio.file.Files.writeString(
            new java.io.File(log, f"$fv%09d.manifest").toPath,
            s"#graft v3 parent=$pv depth=1 full=0 tables=raw\n")
          java.nio.file.Files.writeString(
            new java.io.File(log, f"$fv%09d.commit").toPath,
            s"""{"version":$fv,"op":"foreign"}""")
          ds.commitStaleInjection = () => ()
        }
        try ds.append("s1", 7.0, ts("2024-01-14T00:00:00Z"))
        finally ds.commitStaleInjection = () => ()
      },
      // the changefeed's rewrite contract: two same-day appends fragment a
      // partition so the compaction genuinely retires files, then the
      // unskipped feed across it must fail loudly
      attempt("changefeed_across_rewrite") {
        ds.append("s1", 8.0, ts("2024-01-15T00:00:00Z"))
        ds.append("s1", 9.0, ts("2024-01-15T00:01:00Z"))
        ds.compact()
        ds.readChanges(0L)
      }
    ).toDF("check_case", "error")
  }

  /** T4 on the gate: the stateful streaming derive (flatMapGroupsWithState,
    * last-point state per stream) runs the derivative operator as a real
    * streaming query over the events file and must reproduce the batch
    * window-lag oracle exactly — per-stream µs timestamps are unique in the
    * fixture, so the in-batch event-time sort is deterministic.
    */
  def streamingDerive(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-sderive")
    val srcDir = tempDir("graft-sderive-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val pts = spark.readStream.schema(schema).parquet(srcDir)
      .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
      .as[Streaming.Point]
    val q = Streaming.derive(pts, "derivative")
      .toDF()
      .withColumnRenamed("value", "derivative")
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
  }

  /** S1 streaming flavor on the gate: events stream through the
    * `Streaming.ingest` parquet sink (checkpointed, exactly-once) and the
    * landed table is re-aggregated per stream — any duplicated or dropped
    * row breaks the count/sum/bounds match against the source-side oracle.
    */
  def streamingIngest(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-singest")
    val srcDir = tempDir("graft-singest-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val pts = spark.readStream.schema(schema).parquet(srcDir)
      .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.ingest(pts, s"$dir/raw", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/raw").groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"),
        min("ts").as("t_min"), max("ts").as("t_max"))
  }

  /** S1's warehouse-coupled streaming arm on the gate: events stream
    * through `Streaming.ingestToWarehouse` into a REAL (temp) warehouse —
    * every micro-batch goes through `appendBatch`, so the registry's
    * earliest/latest bounds advance with the landed rows. Output joins the
    * warehoused per-stream stats with the registry bounds; the oracle
    * recomputes BOTH from the source, so a dropped/duplicated row OR a
    * bounds column the ingest failed to maintain (the out-of-band-write
    * hazard the delete purge must otherwise defend against) breaks the
    * match.
    */
  def streamingWarehouse(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-swh")
    val srcDir = tempDir("graft-swh-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val ds = new Datastream(spark, dir)
    // register the 30 (user, event_type) streams in one batch ensure
    ds.ensureStreams(Sources.eventsAsDatapoints(spark, sfDir)
      .select("stream_id").distinct().collect().map(_.getString(0)).sorted
      .map(id => StreamMeta(id, Map.empty, ValueType.Numeric,
        Seq.empty, Seq.empty, Granularity.Seconds.name)).toSeq)
    val pts = spark.readStream.schema(schema).parquet(srcDir)
      .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.ingestToWarehouse(pts, ds, s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ds.rawDatapoints.groupBy("stream_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"),
        min("ts").as("t_min"), max("ts").as("t_max"))
      .join(ds.streams.select(col("stream_id"),
        col("earliest_datapoint").as("reg_earliest"),
        col("latest_datapoint").as("reg_latest")), "stream_id")
  }

  /** X1's streaming arm on the gate: the SAME document shard is delivered
    * twice (the replayed-shard / re-crawl case), `maxFilesPerTrigger=1`
    * forcing the two deliveries into SEPARATE micro-batches under
    * `Trigger.AvailableNow` — so the second copy is dropped by the
    * content-hash state carried across batches, not by in-batch
    * deduplication. The landed table must equal exactly one copy of the
    * corpus: the oracle is the plain per-language aggregate of
    * `documents`, and any duplicate that slipped through (or original
    * that was lost) breaks the count/char/token match.
    */
  def streamingDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val dir = tempDir("graft-sdedup")
    val srcDir = tempDir("graft-sdedup-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.dedupIngest(src, s"$dir/out", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("chars_sum"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** X5's streaming arm on the gate: documents arrive in TWO wholesale
    * deliveries (maxFilesPerTrigger=1 forces two micro-batches), each is
    * asset-bound and decoded through the real imageio codec, and the
    * asset_id dedup state makes delivery exactly-once — so the oracle is
    * the SAME closed-form dims/health table as the batch
    * `q_multimodal_decode`: a decoder drift, a dropped or doubled asset,
    * or a poison-pill kill all break the hash.
    */
  def streamingDecode(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val dir = tempDir("graft-sdecode")
    val srcDir = tempDir("graft-sdecode-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.decodeIngest(src, s"$dir/out", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
      .select(col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        col("duration_ms"),
        col("decode_ok"))
  }

  /** The corpus quality filter's streaming arm: documents arrive in two
    * deliveries (maxFilesPerTrigger=1 forces two micro-batches), each doc
    * is repetition-scored row-locally and docs with a most-frequent-bigram
    * share over 6% are refused BEFORE the sink. Both deliveries carry the
    * full corpus, so the oracle is the batch repetition filter's per-lang
    * report at exactly 2× — pinning that the stateless filter neither
    * duplicates beyond the input nor drops across micro-batch boundaries.
    */
  def streamingFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val dir = tempDir("graft-sfilter")
    val srcDir = tempDir("graft-sfilter-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.filterIngest(src, s"$dir/out", s"$dir/ckpt",
        maxTopFrac = 0.06)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** The LM quality filter's streaming arm: the bigram model is learned
    * BATCH from the `en` slice, then the corpus is delivered TWICE in
    * forced-separate micro-batches through `filterIngestLm` — each batch
    * scored by the same broadcast-model narrow fold as the batch path.
    * The oracle replays the scoring in SQL and doubles the kept
    * aggregates (append-only sink, two deliveries land twice), so a
    * drifted fold, a lost micro-batch, or a threshold slip all break the
    * hash.
    */
  def streamingLm(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val model = ext.Text.learnBigramLm(
      Sources.documents(spark, sfDir).where(col("lang") === "en"))
    val dir = tempDir("graft-slm")
    val srcDir = tempDir("graft-slm-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.filterIngestLm(src, model, s"$dir/out", s"$dir/ckpt",
        maxSurprise = 32.0)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** The trained classifier's streaming arm on the gate: class models
    * learned BATCH from the train split, then the SAME document shard
    * delivered twice as forced-separate micro-batches through
    * `filterIngestClassifier` — each batch labeled by the stateless
    * zero-shuffle scoring map, only `en`-labeled docs landing. The
    * oracle relearns the models, replays the argmin decision, and
    * doubles the kept per-lang aggregates.
    */
  def streamingClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val docs = Sources.documents(spark, sfDir)
    val train = docs.where(col("doc_id") % 5 === 0)
    val classes = Seq(
      "en" -> ext.Text.learnClassUnigrams(train.where(col("lang") === "en")),
      "other" -> ext.Text.learnClassUnigrams(train.where(col("lang") =!= "en")))
    val dir = tempDir("graft-sclf")
    val srcDir = tempDir("graft-sclf-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.filterIngestClassifier(src, classes,
        s"$dir/out", s"$dir/ckpt", keep = "en")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** The Gopher rule filter's streaming arm: two wholesale deliveries of
    * the corpus stream through the stateless rule projection under
    * `AvailableNow`; only rule-passing docs land, so the sink holds the
    * kept slice TWICE — the oracle replays the rule conjunction and
    * doubles the per-lang aggregates (the exactly-once-per-delivery
    * contract every streaming gate here pins).
    */
  def streamingGopher(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val dir = tempDir("graft-sgoph")
    val srcDir = tempDir("graft-sgoph-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.filterIngestGopher(src, s"$dir/out", s"$dir/ckpt",
        stopwords = Seq("the", "a"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out").groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** Tokenizing ingest on the gate: the top-10 vocab is built batch and
    * shipped to the stream; the corpus arrives as TWO deliveries of the
    * same file under `Trigger.AvailableNow` and every copy is id-mapped
    * by the stateless projection. The report groups the landed rows per
    * doc: copy count (pins exactly-two delivery), token/OOV counts, and
    * min AND max of the ordered id fold — min must equal max, so any
    * cross-micro-batch nondeterminism in the mapping fails the hash, and
    * the fold itself must match the BATCH `q_vocab_map` oracle's value.
    */
  def streamingVocab(spark: SparkSession, sfDir: String): DataFrame = {
    val docsPath = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(docsPath).schema
    val dir = tempDir("graft-svoc")
    val srcDir = tempDir("graft-svoc-src")
    Seq("delivery_a.parquet", "delivery_b.parquet").foreach(n =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(srcDir, n),
        java.nio.file.Paths.get(docsPath)))
    val vocab = ext.Text.buildVocab(spark.read.parquet(docsPath), v = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streaming.mapIngestVocab(src.select("doc_id", "text"), vocab,
        s"$dir/out", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tok"),
        size(filter(col("ids"), _ === 0L)).cast("long").as("n_oov"),
        aggregate(col("ids"), lit(0L),
          (acc, x) => (acc * 31 + x) % 2147483647L).as("f"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_copies"),
        min("n_tok").as("n_tok"), min("n_oov").as("n_oov"),
        min("f").as("ids_fold_lo"), max("f").as("ids_fold_hi"))
  }

  /** The sessionizer's streaming arm on the gate: events stream through
    * `session_window` (30-minute gap, zero-delay watermark, append mode)
    * under `Trigger.AvailableNow`; emitted sessions are exactly those
    * CLOSED under the final watermark (last event + gap ≤ max event time).
    * The oracle is the BATCH lag/cumsum sessionization restricted to that
    * same closure boundary — so the native session_window segmentation,
    * the emit-once contract, and the decimal sums must all agree with the
    * independently-formulated batch op.
    */
  def streamingSessions(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-ssess")
    val srcDir = tempDir("graft-ssess-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("user_id"), col("event_type"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.sessionizeStream(src, Seq("user_id", "event_type"),
        gap = "30 minutes", delay = "0 seconds")
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
      .select(col("user_id"), col("event_type"), col("session_start"),
        col("session_last"), col("n_events"),
        col("vsum_dec").cast("double").as("value_sum"))
  }

  /** Stream-stream event-time join on the gate: clicks and views arrive
    * as TWO independent file streams (one delivery each — a single
    * micro-batch, so no match can be watermark-dropped and the bounded
    * fixture joins exactly); each click matches every view of its user
    * in the preceding hour through the state-store join. The oracle is
    * the plain batch theta join under the same band, row-level — a
    * dropped state row, a doubled emit, or a band edge off by one
    * microsecond all break the hash.
    */
  def streamingJoin(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-sjoin")
    val srcDir = tempDir("graft-sjoin-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    def side(eventType: String) = spark.readStream.schema(schema)
      .parquet(srcDir)
      .where(col("event_type") === eventType)
      .select(col("user_id"), Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.intervalJoinIngest(side("click"), side("view"),
        s"$dir/out", s"$dir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
  }

  /** T2's full streaming LADDER on the gate: minutes partials stream from
    * events into a rollup sink (level 1), then a SECOND streaming query
    * stream-reads that rollup table and merges it to hours under its own
    * watermark (`maintainFromRollup`, level 2). Emitted hours buckets are
    * exactly those whose end ≤ M (the max finalized minutes bucket start),
    * and each provably contains ALL its finalized minutes — so the oracle
    * is the direct hourly aggregation restricted to that boundary, and a
    * green hash proves the stitched rollup-of-rollups is exact.
    */
  def streamingLadder(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-ladder")
    val srcDir = tempDir("graft-ladder-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val lvl1 = Streaming.downsample(src, Granularity.Minutes, "0 seconds")
      .writeStream.format("parquet")
      .option("path", s"$dir/minutes").option("checkpointLocation", s"$dir/ckpt1")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    lvl1.awaitTermination()
    val lvl2 = Streaming.maintainFromRollup(spark, s"$dir/minutes",
        Granularity.Hours, "0 seconds", s"$dir/hours", s"$dir/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    lvl2.awaitTermination()
    Downsample.finalizeView(spark.read.parquet(s"$dir/hours"))
  }

  /** W1's STREAMING arm on the gate: `Streaming.deriveSum` (watermarked
    * multi-stream sum, append mode, delay 0) runs as a real streaming query
    * over the click events and must reproduce the batch `q_derive_sum`
    * aggregation on every bucket the watermark finalized (bucket end ≤
    * ms-floored max click event time) — the same emit-once pattern
    * `q_streaming_cascade` proves for the downsample path, here for the
    * derive path.
    */
  def streamingDeriveSum(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-sdsum")
    val srcDir = tempDir("graft-sdsum-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .where(col("event_type") === "click")
      .select(col("event_type"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.deriveSum(src, Granularity.Minutes, "0 seconds", Seq("event_type"))
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
  }

  /** The STREAMING completeness arm: `Streaming.deriveSumRequireAll` over
    * the three declared event-type streams at hours granularity — emitted
    * buckets are exactly those BOTH finalized by the watermark (hour end
    * ≤ ms-floored max event time of the filtered stream) AND complete
    * (all three sources present); a bucket missing a source is withheld
    * at watermark, never emitted partial. Same emit-once harness as
    * `q_streaming_derive_sum`.
    */
  def streamingDeriveSumAll(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-sdsall")
    val srcDir = tempDir("graft-sdsall-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val src = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("event_type"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
    val q = Streaming.deriveSumRequireAll(src, Granularity.Hours, "0 seconds",
        Seq.empty, Seq("click", "view", "purchase"),
        sourceCol = "event_type")
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
  }

  def derivative(spark: SparkSession, sfDir: String): DataFrame =
    Derive.derivative(Sources.eventsAsDatapoints(spark, sfDir))

  /** W2's unbounded-stream-length formulation under the SAME oracle:
    * day-chunked lags + boundary stitching must reproduce the single-window
    * result row for row.
    */
  def derivativeChunked(spark: SparkSession, sfDir: String): DataFrame =
    Derive.derivativeChunked(Sources.eventsAsDatapoints(spark, sfDir))

  def counterReset(spark: SparkSession, sfDir: String): DataFrame =
    Derive.counterReset(Sources.eventsAsDatapoints(spark, sfDir))

  /** W3/W4 bounded-task flavors under their originals' oracles. */
  def counterResetChunked(spark: SparkSession, sfDir: String): DataFrame =
    Derive.counterResetChunked(Sources.eventsAsDatapoints(spark, sfDir))

  def counterDerivativeChunked(spark: SparkSession, sfDir: String): DataFrame = {
    val counter = Derive.wrappingCounter(
      Sources.eventsAsDatapoints(spark, sfDir), 1000L)
    Derive.counterDerivativeChunked(counter, Some(1000.0), valueCol = "counter")
  }

  /** W4 over the wrapping-counter fixture (cumulative integer counter mod
    * 1000) with max_value=1000, so every wrap exercises the wraparound arm.
    */
  def counterDerivative(spark: SparkSession, sfDir: String): DataFrame = {
    val counter = Derive.wrappingCounter(
      Sources.eventsAsDatapoints(spark, sfDir), 1000L)
    Derive.counterDerivative(counter, Some(1000.0), valueCol = "counter")
  }

  /** W1's COMPLETENESS flavor on the gate: three event-type streams
    * summed at hours granularity, a bucket emitted only when ALL THREE
    * sources contributed — the corpus has both complete and incomplete
    * hourly buckets at every test SF (sf0.01: ~590 vs ~130; sf0.001: 11
    * vs ~390), so the oracle (HAVING count(DISTINCT source) = 3) catches
    * an operator that emits partial buckets OR one that over-filters
    * complete ones.
    */
  def deriveSumAll(spark: SparkSession, sfDir: String): DataFrame =
    Derive.sumStreamsRequireAll(
      Sources.eventsAsDatapoints(spark, sfDir),
      Granularity.Hours, Seq.empty,
      Seq("click", "view", "purchase"),
      sourceCol = "event_type")

  /** W1: sum the 15 per-user `click` streams into one derived stream at
    * minutes granularity.
    */
  def deriveSum(spark: SparkSession, sfDir: String): DataFrame =
    Derive.sumStreams(
      Sources.eventsAsDatapoints(spark, sfDir).where(col("event_type") === "click"),
      Granularity.Minutes, Seq("event_type"))

  /** The SALTED two-phase flavor of W1 under the same oracle: hot derived
    * keys split across `(key, salt)` partials before the final merge, and
    * the decimal partial state makes the result bit-identical — the skew
    * machinery itself is on the gate, not just ScalaTest.
    */
  def deriveSumSalted(spark: SparkSession, sfDir: String): DataFrame =
    Skew.sumStreamsSalted(
      Sources.eventsAsDatapoints(spark, sfDir).where(col("event_type") === "click"),
      Granularity.Minutes, Seq("event_type"))

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    ext.Dedup.exact(Sources.documents(spark, sfDir))

  /** X1's normalization arm: every document gets an ADVERSARIAL twin
    * (uppercased, punctuation-wrapped, extra whitespace, id offset), and
    * `exactNormalized` must collapse each twin back onto its original —
    * n_copies doubles and the keeper stays the original id — while byte
    * hashing would have seen all-distinct texts. The oracle replays the
    * same canonicalization with regexp twins.
    */
  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir).select("doc_id", "text")
    val twins = docs.select((col("doc_id") + 100000L).as("doc_id"),
      concat(lit("  "), upper(col("text")), lit("!! ")).as("text"))
    ext.Dedup.exactNormalized(docs.unionByName(twins))
  }

  /** X1+X2 composed into the pipeline's real deliverable: the deduplicated
    * corpus (near-dup clusters collapsed to their smallest doc_id), counted
    * per language.
    */
  def dedupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    ext.Dedup.keepOnePerCluster(docs, ext.Dedup.nearDupMinhash(docs, 0.8))
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
  }

  /** DETERMINISTIC IMPORTANCE SAMPLING on the gate: each document's keep
    * probability is its own weight — here `min(1, n_tokens/64)`, the
    * longer-docs-likelier curriculum shape — decided RNG-free by the
    * content hash. The oracle replays the hash fold, the weight
    * arithmetic (identical IEEE ops) and every keep decision; per-lang
    * doc and token totals are hash-compared.
    */
  def sampleWeighted(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val w = least(lit(1.0),
      size(split(col("text"), " ")).cast("double") / lit(64.0))
    ext.Text.sampleByWeight(docs, w)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** LEAKAGE-FREE SPLIT on the gate: near-dup clusters (the SAME verified
    * pair set `q_dedup_corpus` rides) split cluster-atomically by their
    * representative's content hash. The oracle recomputes the components,
    * the representative hash fold and every bucket count in SQL — and the
    * `leaks` column pins the invariant itself: the count of clusters
    * straddling buckets must be ZERO on both sides (a split that leaks
    * even one cluster breaks the hash, not just a test expectation).
    */
  def splitLeakFree(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val out = ext.Dedup.splitWithoutLeakage(docs,
      ext.Dedup.nearDupMinhash(docs, 0.8))
    val leaks = out.groupBy("cluster")
      .agg(countDistinct("split_bucket").as("_nb"))
      .where(col("_nb") > 1)
      .agg(count(lit(1)).as("leaks"))
    out.groupBy("split_bucket")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("cluster").as("n_clusters"))
      .crossJoin(broadcast(leaks))
  }

  /** X2e substring-level dedup scored per doc (Lee et al. 2021 style):
    * duplicated 8-token spans across the corpus, overlap ratio per doc.
    * Runs `hashGrams = false` so the DuckDB oracle replays the span key
    * byte-for-byte; the hashed scale path is gated by `q_substring_drop`
    * and asserted count-identical in CorpusOpsSpec.
    */
  def substringDedup(spark: SparkSession, sfDir: String): DataFrame =
    ext.Dedup.substringOverlap(Sources.documents(spark, sfDir),
      hashGrams = false)

  /** The corpus deliverable over X2e — drop docs whose duplicated-span
    * coverage exceeds 0.5, counted per language. This arm runs the DEFAULT
    * hashed gram keys, so the xxhash64 shuffle-width optimization itself
    * sits on the oracle gate (the string-keyed oracle must agree).
    */
  def substringDrop(spark: SparkSession, sfDir: String): DataFrame =
    ext.Dedup.dropOverlapping(Sources.documents(spark, sfDir), 0.5)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))

  /** X5: typed projection out of the JSON `props` column, aggregated per
    * event_type — all-integer output.
    */
  def propsJson(spark: SparkSession, sfDir: String): DataFrame =
    Sources.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum("k").as("k_sum"),
        min("k").as("k_min"), max("k").as("k_max"))

  /** X2: near-dup text dedup via MinHash LSH banding (16 bands × 4 rows —
    * P(candidate | jaccard j) = 1−(1−j⁴)¹⁶, steep around the 0.8
    * threshold), verified by exact Jaccard. The oracle computes the exact
    * pair set; banding recall at j ≥ 0.8 makes them equal on this corpus.
    */
  def nearDupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    ext.Dedup.nearDupMinhash(Sources.documents(spark, sfDir),
      threshold = 0.8, bands = 16, rowsPerBand = 4)

  private def queryVectors(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    emb.groupBy(col("label")).agg(min("vec_id").as("vec_id"))
      .join(emb.select("vec_id", "embedding"), "vec_id")
  }

  /** X3 exactness baseline: brute-force cosine top-10 for one query vector
    * per label (broadcast queries × one corpus scan).
    */
  def similarityTopK(spark: SparkSession, sfDir: String): DataFrame =
    ext.Similarity.topK(Sources.embeddings(spark, sfDir),
      queryVectors(spark, sfDir), k = 10)

  /** X3 scale path: same top-k through random-hyperplane LSH buckets. */
  def similarityAnn(spark: SparkSession, sfDir: String): DataFrame =
    ext.Similarity.annTopK(Sources.embeddings(spark, sfDir),
      queryVectors(spark, sfDir), k = 10)

  /** X3 memory-bounded path: product-quantized top-k (the PQ half of
    * IVF-PQ) — codebooks learned on the corpus, vectors scored from their
    * m-int codes alone via per-query lookup tables. Approximate by
    * construction → rows-only, bracketed by `q_pq_recall`.
    */
  def similarityPq(spark: SparkSession, sfDir: String): DataFrame =
    ext.Ivf.pqTopK(Sources.embeddings(spark, sfDir),
      queryVectors(spark, sfDir), k = 10, rerank = 60)

  /** The full persisted IVF-PQ composition, EXACT arm: exhaustive probing
    * (nProbe = nCells) + full-depth exact rerank must reproduce brute
    * force bit-for-bit through the codes-only inverted file — same oracle
    * as the brute twin. Brackets the index machinery from the exact end;
    * `q_ivfpq_recall` brackets the realistic-probe end.
    */
  def similarityIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfpq")
    val emb = Sources.embeddings(spark, sfDir)
    ext.Ivf.buildPqIndex(emb, s"$dir/idx", nCells = 16, refineIters = 1)
    ext.Ivf.queryPqIndex(s"$dir/idx", queryVectors(spark, sfDir), k = 10,
      nProbe = 16, rerank = 1 << 20, rerankAgainst = Some(emb))
  }

  /** Filtered search through the IVF-PQ index: the same even-id metadata
    * predicate as `q_similarity_filtered`, applied to the codes-only
    * candidate scan, with exhaustive probing + full rerank against the
    * ALLOWED corpus only — shares the filtered-brute oracle, so both
    * vector indexes' filter paths are pinned bit-for-bit.
    */
  def similarityFilteredPq(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfpqf")
    val emb = Sources.embeddings(spark, sfDir)
    val allowed = emb.where(col("vec_id") % 2 === 0)
    ext.Ivf.buildPqIndex(emb, s"$dir/idx", nCells = 16)
    ext.Ivf.queryPqIndex(s"$dir/idx", queryVectors(spark, sfDir), k = 10,
      nProbe = 16, rerank = 1 << 20, rerankAgainst = Some(allowed),
      allowedIds = Some(allowed))
  }

  /** IVF-PQ incremental lifecycle, EXACT arm: index built on the even-id
    * half, the odd-id shard appended with the EXISTING centroids and
    * codebooks (O(shard), no retrain), then an exhaustive + full-rerank
    * query must reproduce brute force over the WHOLE corpus bit-for-bit
    * — a lost, doubled or mis-encoded vector anywhere in the append path
    * breaks the brute-twin hash.
    */
  def ivfPqAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfpqa")
    val emb = Sources.embeddings(spark, sfDir)
    ext.Ivf.buildPqIndex(emb.where(col("vec_id") % 2 === 0), s"$dir/idx",
      nCells = 16, refineIters = 1)
    ext.Ivf.appendToPqIndex(emb.where(col("vec_id") % 2 === 1), s"$dir/idx")
    ext.Ivf.queryPqIndex(s"$dir/idx", queryVectors(spark, sfDir), k = 10,
      nProbe = 16, rerank = 1 << 20, rerankAgainst = Some(emb))
  }

  /** SQ8 scalar-quantized index, EXACT arm: built on the even-id half,
    * the odd half appended against the FROZEN per-dimension bounds
    * (clamped), then a full-depth exact rerank over the SQ8 candidate
    * order must reproduce brute force over the whole corpus bit-for-bit
    * (the `q_similarity_topk` oracle) — a lost, doubled or mis-encoded
    * vector anywhere in the quantize/append chain breaks the hash.
    */
  def similaritySq8(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-sq8")
    val emb = Sources.embeddings(spark, sfDir)
    ext.Sq.buildIndex(emb.where(col("vec_id") % 2 === 0), s"$dir/idx")
    ext.Sq.appendToIndex(emb.where(col("vec_id") % 2 === 1), s"$dir/idx")
    ext.Sq.queryIndex(s"$dir/idx", queryVectors(spark, sfDir), k = 10,
      rerank = 1 << 20, rerankAgainst = Some(emb))
  }

  /** Pure SQ8 serving config (no rerank): one unsigned byte per dimension
    * must preserve the brute top-10 almost exactly — far above PQ's
    * recall on this fixture, the reason SQ8 exists. Gate at 0.9.
    */
  def sq8Recall(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-sq8r")
    val emb = Sources.embeddings(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    ext.Sq.buildIndex(emb, s"$dir/idx")
    recallVsBrute(ext.Similarity.topK(emb, qv, k = 10),
      ext.Sq.queryIndex(s"$dir/idx", qv, k = 10),
      threshold = 0.9)
  }

  /** Realistic IVF-PQ config: probe 14 of 16 cells, candidate depth 120.
    * Measured: every label ≥ 0.7 at sf0.001/0.01 and ≥ 0.6 at sf0.1
    * (the fixture's weak cluster structure spreads true neighbors across
    * cells, and shallower candidate depths leave one sf0.1 label below
    * 0.6) — gate at 0.6. Like every recall floor here, sf-dependent by
    * design: a regenerated fixture shifts the measurement, not the
    * machinery.
    */
  def ivfPqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfpqr")
    val emb = Sources.embeddings(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    ext.Ivf.buildPqIndex(emb, s"$dir/idx", nCells = 16, refineIters = 1)
    recallVsBrute(ext.Similarity.topK(emb, qv, k = 10),
      ext.Ivf.queryPqIndex(s"$dir/idx", qv, k = 10,
        nProbe = 14, rerank = 120, rerankAgainst = Some(emb)),
      threshold = 0.6)
  }

  /** PQ + exact-rerank recall vs brute at 16 subspaces × 32 codes,
    * candidate depth 60: measured per-label recall@10 is 0.9 / 0.8 / 0.7
    * at sf0.001 / 0.01 / 0.1 (PQ alone scores ~0.5 on this near-random
    * fixture — the rerank stage is what restores quality, exactly the
    * faiss two-stage deployment shape) — gate at 0.6. Like every recall
    * floor here, the number is sf-dependent by design (a different
    * fixture scale shifts it); the floor is a canary, not a constant of
    * nature.
    */
  def pqRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    recallVsBrute(ext.Similarity.topK(emb, qv, k = 10),
      ext.Ivf.pqTopK(emb, qv, k = 10, rerank = 60),
      threshold = 0.6)
  }

  /** X3 second scale path, exhaustive configuration: `nProbe = nCells`
    * probes every cell, so the result equals brute force bit-for-bit (same
    * sequential-double cosine, same tiebreak) — which puts the IVF pipeline
    * under the exact brute-force oracle. Labels ride a broadcast join like
    * the brute path carries them.
    */
  def similarityIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"), col("label"))
    ext.Ivf.ivfTopK(Sources.embeddings(spark, sfDir), qv, k = 10,
        nCells = 64, nProbe = 64)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** The production IVF configuration (nProbe ≪ nCells): approximate by
    * design, rows-only checked — recall/cost trades via nProbe.
    */
  def similarityIvfProbe(spark: SparkSession, sfDir: String): DataFrame =
    ext.Ivf.ivfTopK(Sources.embeddings(spark, sfDir),
      queryVectors(spark, sfDir), k = 10)

  /** IVF with k-means-refined centroids, exhaustive probing: the Lloyd
    * maintenance job reshapes the cells, and because every cell is probed
    * the result STILL equals brute force bit-for-bit — the refinement
    * pipeline rides the same brute-force oracle.
    */
  def similarityIvfRefined(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"), col("label"))
    ext.Ivf.ivfTopK(Sources.embeddings(spark, sfDir), qv, k = 10,
        nCells = 64, nProbe = 64, refineIters = 2)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** X3's PERSISTED-index lifecycle on the gate: build the IVF index
    * (centroids table + cell-partitioned inverted file) into warehouse
    * storage, then answer top-k from the index alone — probed cells prune
    * whole partitions at scan time. Exhaustive probing makes the result
    * bit-identical to brute force, so the round-trip (float arrays through
    * parquet, partition values, probe routing) rides the same oracle.
    */
  def similarityIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfidx")
    ext.Ivf.buildIndex(Sources.embeddings(spark, sfDir), s"$dir/ivf",
      nCells = 64, refineIters = 1)
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"), col("label"))
    ext.Ivf.queryIndex(s"$dir/ivf", qv, k = 10, nProbe = 64)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** MMR diversification on the gate: the brute cosine top-30 for query
    * vector 0 reranked by maximal marginal relevance (λ=0.75, k=10) — the
    * oracle unrolls all ten greedy steps in SQL with the identical IEEE
    * association and id tie-break, so a drifted pick order, a wrong
    * pairwise cosine, or a perturbed score breaks the hash.
    */
  def similarityMmr(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    ext.Similarity.mmrTopK(emb, emb.where(col("vec_id") === 0),
      k = 10, poolSize = 30, lambda = 0.75)
  }

  /** FILTERED vector search on the gate: top-10 per label-anchored query
    * over ONLY the even-id half of the corpus (a pure metadata predicate,
    * the "WHERE clause on ANN" every vector store grew), served through
    * the IVF index with exhaustive probing — the allowed-set semi-join
    * lands between cell pruning and scoring, and the result must be
    * BIT-IDENTICAL to brute-force cosine over the filtered corpus (the
    * oracle recomputes exactly that). An odd id leaking in, a filtered-out
    * best match surviving, or a perturbed cosine breaks the hash.
    */
  def similarityFiltered(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivffilt")
    val emb = Sources.embeddings(spark, sfDir)
    ext.Ivf.buildIndex(emb, s"$dir/ivf", nCells = 16)
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"),
      col("label"))
    ext.Ivf.queryIndex(s"$dir/ivf", qv, k = 10, nProbe = 16,
        allowedIds = Some(emb.where(col("vec_id") % 2 === 0)))
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** INDEX TAKEDOWN on the gate (right-to-be-forgotten for the vector
    * index): every 97th vector is removed via a tombstone version (no
    * shard rewrite — the index twin of the warehouse's merge-on-read
    * delete), and the exhaustive query must then be BIT-IDENTICAL to
    * brute force over the surviving corpus. A tombstone that leaks into
    * results, voids the wrong id, or perturbs any cosine breaks the hash.
    */
  def indexTakedown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-ivfdel")
    val emb = Sources.embeddings(spark, sfDir)
    ext.Ivf.buildIndex(emb, s"$dir/ivf", nCells = 64, refineIters = 1)
    ext.Ivf.removeFromIndex(s"$dir/ivf",
      emb.where(pmod(col("vec_id"), lit(97)) === 0).select("vec_id"))
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"), col("label"))
    ext.Ivf.queryIndex(s"$dir/ivf", qv, k = 10, nProbe = 64)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** The IVF index MAINTENANCE lifecycle on the gate: build over the even
    * half, incrementally append the odd half (a fresh shard-manifest
    * version referencing the base shards — O(shard), one marker
    * create), compact via refreshIndex (centroids re-learned from the
    * index's own contents, the shard chain collapsed into one full
    * version), vacuum past retention (reclaims the superseded build and
    * append versions — the full retire/reclaim lifecycle), then query at
    * nProbe = nCells — which must be BIT-IDENTICAL to brute force over
    * the full corpus (the `q_similarity_topk` oracle). A lost or doubled
    * vector in append, refresh or vacuum, or a refresh that corrupts an
    * embedding, breaks the row set.
    */
  def ivfIndexAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val dir = tempDir("graft-ivfapp")
    ext.Ivf.buildIndex(emb.where(pmod(col("vec_id"), lit(2)) === 0),
      s"$dir/ivf", nCells = 64)
    ext.Ivf.appendToIndex(emb.where(pmod(col("vec_id"), lit(2)) === 1), s"$dir/ivf")
    ext.Ivf.refreshIndex(s"$dir/ivf", spark, refineIters = 1)
    ext.Ivf.vacuumIndex(spark, s"$dir/ivf", retainVersions = 1)
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"), col("label"))
    ext.Ivf.queryIndex(s"$dir/ivf", qv, k = 10, nProbe = 64)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** INDEX-CHAIN COMPACTION across all five persisted index families
    * (IVF, IVF-PQ, SQ8, dedup, BM25 search): each index is built, grown by
    * appends (one shard per append — the read amplification streaming
    * maintenance accretes), hit with a takedown, then compacted. Pinned
    * per family: the live shard count drops from the chain length to 1,
    * query/dedup decisions are BIT-IDENTICAL pre/post (compaction copies
    * models forward and merges data — never a retrain), the tombstones
    * and stats adjustments fold physically into the merged shard, and
    * vacuum reclaims the superseded chain while the compacted version
    * keeps serving the same rows.
    */
  def indexCompaction(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-icomp")
    val emb = Sources.embeddings(spark, sfDir).select("vec_id", "embedding")
    val docs = Sources.documents(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted
    def nShards(p: String, sub: String): Int =
      ext.VersionedIndex.liveShardCount(spark, p, sub)
    // one family's lifecycle: capture the query baseline and shard count,
    // compact, re-query (must be bit-identical — compaction is a physical
    // merge, not a retrain), check the fold, vacuum, re-query again
    def run(family: String, p: String, sub: String,
            compact: () => Unit, vacuum: () => Unit,
            foldedAlso: Seq[String])(q: () => DataFrame)
        : (String, Int, Int, Boolean, Boolean, Boolean) = {
      val before = rows(q())
      val nb = nShards(p, sub)
      compact()
      val na = nShards(p, sub)
      val equal = rows(q()) == before
      val io = ext.VersionedIndex.io(spark, p)
      val live = ext.VersionedIndex.resolveDir(spark, p, None)
      val folded = !io.exists(s"$live/tombstones") &&
        foldedAlso.forall(f => !io.exists(s"$live/$f"))
      vacuum()
      // the build version's directory is reclaimed (the compacted version
      // is self-contained, so nothing references the old chain's shards)
      // and the live read still serves the identical rows
      val vacOk = !io.exists(s"$p/v1") && rows(q()) == before
      (family, nb, na, equal, folded, vacOk)
    }
    // The five families are fully independent — separate index dirs, no
    // shared mutable state — so their lifecycles run as CONCURRENT driver
    // threads (guide §2.6: overlap independent jobs). Sequentially each
    // family leaves most of local[32] idle on its many small single-shard
    // jobs; overlapped, one family's tail back-fills another's. Each
    // family's result tuple is deterministic and computed exactly as
    // before, so the gate's row set is unchanged.
    val families: Seq[() => (String, Int, Int, Boolean, Boolean, Boolean)] = Seq(
      () => { // plain IVF: build + 2 appends + takedown; exhaustive probe
        val p = s"$dir/ivf"
        ext.Ivf.buildIndex(emb.where(pmod(col("vec_id"), lit(3)) === 0), p, nCells = 16)
        ext.Ivf.appendToIndex(emb.where(pmod(col("vec_id"), lit(3)) === 1), p)
        ext.Ivf.appendToIndex(emb.where(pmod(col("vec_id"), lit(3)) === 2), p)
        ext.Ivf.removeFromIndex(p, emb.where(col("vec_id") < 5).select("vec_id"))
        run("ivf", p, "cells", () => ext.Ivf.compactIndex(p, spark),
          () => ext.Ivf.vacuumIndex(spark, p, retainVersions = 1), Seq.empty)(
          () => ext.Ivf.queryIndex(p, qv, k = 10, nProbe = 16))
      },
      () => { // IVF-PQ: codebooks copied forward, codes-only shards merge
        val p = s"$dir/ivfpq"
        ext.Ivf.buildPqIndex(emb.where(pmod(col("vec_id"), lit(2)) === 0), p,
          nCells = 8, refineIters = 0)
        ext.Ivf.appendToPqIndex(emb.where(pmod(col("vec_id"), lit(2)) === 1), p)
        ext.Ivf.removeFromIndex(p, emb.where(col("vec_id") < 5).select("vec_id"))
        run("ivfpq", p, "cells", () => ext.Ivf.compactIndex(p, spark),
          () => ext.Ivf.vacuumIndex(spark, p, retainVersions = 1), Seq.empty)(
          () => ext.Ivf.queryPqIndex(p, qv, k = 10, nProbe = 8,
            rerank = 1 << 20, rerankAgainst = Some(emb)))
      },
      () => { // SQ8: frozen bounds copied forward, code shards merge
        val p = s"$dir/sq8"
        ext.Sq.buildIndex(emb.where(pmod(col("vec_id"), lit(2)) === 0), p)
        ext.Sq.appendToIndex(emb.where(pmod(col("vec_id"), lit(2)) === 1), p)
        ext.Sq.removeFromIndex(p, emb.where(col("vec_id") < 5).select("vec_id"))
        run("sq8", p, "codes", () => ext.Sq.compactIndex(p, spark),
          () => ext.Sq.vacuumIndex(spark, p, retainVersions = 1), Seq.empty)(
          () => ext.Sq.queryIndex(p, qv, k = 10, rerank = 40,
            rerankAgainst = Some(emb)))
      },
      () => { // dedup: banding params pinned, side tables merge; the
        // "query" is the dedup DECISION SET over a fixed probe shard
        val p = s"$dir/dedup"
        val even = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        val odd = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        ext.DedupIndex.buildIndex(even, p)
        val survivors = ext.DedupIndex.dedupeAgainstIndex(odd, p, 0.8)
          .localCheckpoint(true)
        ext.DedupIndex.appendToIndex(survivors, p)
        ext.DedupIndex.removeFromIndex(p, docs.where(col("doc_id") < 5)
          .select("doc_id"))
        val probe = docs.where(pmod(col("doc_id"), lit(7)) === 3)
        run("dedup", p, "data", () => ext.DedupIndex.compactIndex(p, spark),
          () => ext.DedupIndex.vacuumIndex(spark, p, retainVersions = 1), Seq.empty)(
          () => ext.DedupIndex.dedupeAgainstIndex(probe, p, 0.8)
            .select("doc_id"))
      },
      () => { // BM25 search: stats_adjust must fold away with the tombstones
        val p = s"$dir/search"
        ext.Search.buildIndex(docs.where(pmod(col("doc_id"), lit(3)) === 0), p)
        ext.Search.appendToIndex(docs.where(pmod(col("doc_id"), lit(3)) === 1), p)
        ext.Search.appendToIndex(docs.where(pmod(col("doc_id"), lit(3)) === 2), p)
        ext.Search.removeFromIndex(p, docs.where(col("doc_id") < 5)
          .select("doc_id"))
        run("search", p, "data", () => ext.Search.compactIndex(p, spark),
          () => ext.Search.vacuumIndex(spark, p, retainVersions = 1),
          Seq("stats_adjust"))(
          () => ext.Search.queryIndex(spark, p,
            Seq("qa" -> Seq("spark", "window", "merge"),
              "qb" -> Seq("dup", "customer")), topK = 15))
      })
    val out = Concurrency.inParallel(families)
    out.toDF("family", "shards_before", "shards_after",
      "results_equal", "tombstones_folded", "vacuum_ok")
  }

  /** Embedding-cosine near-dup candidates through LSH bands. */
  def nearDupEmbedding(spark: SparkSession, sfDir: String): DataFrame =
    ext.Similarity.nearDupPairs(Sources.embeddings(spark, sfDir), threshold = 0.4)

  /** Recall@10 against the brute-force exact top-10, per query vector (one
    * per label). Hyperplanes/centroid seeds and the fixture are all
    * deterministic, so recall is a deterministic number — the VALUES oracle
    * pins every label's recall above a gate threshold, turning a silent
    * recall collapse (bad hyperplanes, broken banding, dead probe routing)
    * into a red gate row.
    *
    * The fixture is a NEAR-RANDOM corpus: true top-10 neighbors sit at
    * cosine ≈ 0.24–0.40 (measured), i.e. ~72° — far below the similarity
    * range the production near-dup configs are banded for. The gate
    * therefore drives the same machinery at gate-appropriate settings
    * (short LSH bands / wide probe counts) where measured recall clears the
    * threshold at every test SF; the production configs stay rows-only.
    */
  private def recallVsBrute(exact: DataFrame, approx: DataFrame,
                            threshold: Double): DataFrame =
    exact.select(col("label"), col("query_vec_id"), col("vec_id"))
      // both sides are ≤ labels×k rows; broadcast the probe side — the
      // planner can't know that through the window/checkpoint lineage
      .join(broadcast(
          approx.select(col("query_vec_id"), col("vec_id"), lit(1L).as("_hit"))),
        Seq("query_vec_id", "vec_id"), "left")
      .groupBy("label")
      .agg((sum(coalesce(col("_hit"), lit(0L))).cast("double") / count(lit(1)))
        .as("recall"))
      .select(col("label"), (col("recall") >= threshold).as("recall_ok"))

  /** LSH banding at 32×4 (short bands for the fixture's ~72° neighbors):
    * measured recall 1.0 at sf0.01, ≥ 0.9 at every SF — gate at 0.9.
    */
  def annRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    recallVsBrute(ext.Similarity.topK(emb, qv, k = 10),
      ext.Similarity.annTopK(emb, qv, k = 10, bands = 32, bitsPerBand = 4),
      threshold = 0.9)
  }

  /** IVF probing 48 of 64 cells: measured per-label recall ≥ 0.7 at every
    * SF (the fixture's weak structure spreads true neighbors across cells,
    * so narrow probes are structurally low here) — gate at 0.65. Probed
    * cell sets are prefix-monotone in nProbe, so a pass here plus the
    * bit-exact exhaustive row (`q_similarity_ivf`) brackets the probe
    * machinery from both ends.
    */
  def ivfRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val qv = queryVectors(spark, sfDir)
    recallVsBrute(ext.Similarity.topK(emb, qv, k = 10),
      ext.Ivf.ivfTopK(emb, qv, k = 10, nProbe = 48),
      threshold = 0.65)
  }

  /** SimHash candidate recall against the EXACT shingle-Jaccard pair set at
    * threshold 0.8. The oracle recomputes n_exact independently (pinning
    * the exact pair computation) and asserts the recall bit — a simhash
    * signature or banding defect that stops near-dup pairs from colliding
    * turns this row red. Measured recall 0.79/0.80 at sf0.001/sf0.01 (the
    * 4×16-bit bands tolerate ~3–4 flipped signature bits; j≈0.8 pairs sit
    * right at that edge) — gate at 0.75.
    */
  def simhashRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val exact = ext.Dedup.nearDupJaccard(docs, 0.8).select("a", "b")
    // the candidate pair set is O(near-dups) — broadcast it under the
    // left-outer recall join rather than shuffling both tiny sides
    val cand = broadcast(ext.Dedup.simhashCandidates(docs)
      .select(col("a"), col("b"), lit(1L).as("_hit")))
    exact.join(cand, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("n_exact"),
        (col("n_hit").cast("double") / col("n_exact") >= 0.75).as("recall_ok"))
  }

  /** Embedding near-dup recall: the LSH candidate pipeline (at the same
    * gate-appropriate 32×4 banding as `q_ann_recall` — the fixture's
    * near-dups sit at cosine ≈ 0.3, far wider angles than production
    * near-dup banding targets) measured against the EXACT cosine-threshold
    * pair set. The oracle recomputes n_exact ALL-PAIRS in SQL — pinning the
    * exact-pair baseline — and asserts the recall bit, so broken
    * hyperplanes/banding in `nearDupPairs` turn this row red instead of
    * passing rows-only.
    */
  /** X7+ target-coverage relevance scoring (the DSIR importance family's
    * exact, log-free core): the `src0` slice is the target domain; every
    * OTHER document is scored by distinct-bigram coverage against the
    * target vocabulary and the 25 most-target-like docs are selected
    * (coverage desc, doc_id asc — deterministic under ties). The oracle
    * replays grams, vocabulary, and the exact integer-ratio scores.
    */
  def targetCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    ext.Text.targetCoverage(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"))
      .orderBy(col("coverage").desc, col("doc_id").asc)
      .limit(25)
  }

  /** Composed pipeline #4 — the round-9 ops chained end to end: score
    * every non-`src0` document's bigram coverage against the `src0`
    * target vocabulary, keep the 100 most-target-like (coverage desc,
    * doc_id asc), semantically dedup THEIR embeddings (exact arm, cosine
    * ≥ 0.4, keep-lowest-id), and report the surviving per-language doc and
    * token counts. One chained SQL twin replays all four stages — gating
    * the COMPOSITION of text relevance and embedding dedup, not just each
    * op alone.
    */
  def corpusPipeline4(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val selected = ext.Text.targetCoverage(
        docs.where(col("source") =!= "src0"),
        docs.where(col("source") === "src0"))
      .orderBy(col("coverage").desc, col("doc_id").asc)
      .limit(100)
      .select("doc_id")
    val emb = Sources.embeddings(spark, sfDir)
      .join(selected.withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left_semi")
    val survivors = ext.Similarity.semDedup(emb, threshold = 0.4, nCells = 1)
      .select(col("vec_id").as("doc_id"))
    docs.join(survivors, Seq("doc_id"), "left_semi")
      .select(col("lang"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))
  }

  /** Composed pipeline #5 — the CCNet-shaped recipe: bigram-LM surprise
    * cut against the `en` reference (keep surprise ≤ 32.0, the quality
    * filter), then exact dedup (min doc_id per md5), then a per-language
    * integer report over the survivors (docs, pair totals, OOV-transition
    * totals — integers only, so group order cannot perturb the hash).
    * Every stage is individually oracle-proven; this gates the LM op IN
    * COMPOSITION, like pipelines 1–4 do for the other X families.
    */
  def corpusPipeline5(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val model = ext.Text.learnBigramLm(docs.where(col("lang") === "en"))
    val kept = ext.Text.withLmSurprise(docs, model)
      .where(col("lm_surprise") <= 32.0)
    val keeper = kept.groupBy(md5(col("text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
    kept.join(keeper.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("lm_pairs").as("pairs_sum"),
        sum("lm_unseen").as("unseen_sum"))
  }

  /** Composed pipeline #6 — the trained-filter recipe: classifier labels
    * from class-unigram models learned on the train split → keep docs the
    * classifier calls `en` → exact dedup (min doc_id per md5) → per-lang
    * report. One chained SQL twin replays all three stages, so the
    * classifier now gates standalone, streaming, and composed, like the
    * LM before it.
    */
  def corpusPipeline6(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val train = docs.where(col("doc_id") % 5 === 0)
    val classes = Seq(
      "en" -> ext.Text.learnClassUnigrams(train.where(col("lang") === "en")),
      "other" -> ext.Text.learnClassUnigrams(train.where(col("lang") =!= "en")))
    val kept = ext.Text.withClassLabel(docs, classes)
      .where(col("clf_label") === "en")
    val keeper = kept.groupBy(md5(col("text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
    kept.join(keeper.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** Pipeline 7 — CLASSIFIER-SCORED IMPORTANCE RESAMPLING, the exact
    * GPT-3 deployment shape (train a quality classifier, then keep raw
    * docs with probability tied to the predicted class): the trained
    * class models label every document, the label becomes the per-row
    * keep weight (0.95 target-like, 0.25 other), and the deterministic
    * importance sampler decides content-keyed. One SQL twin replays the
    * class folds, the label rule, the hash fold and every keep decision.
    */
  def corpusPipeline7(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val train = docs.where(col("doc_id") % 5 === 0)
    val classes = Seq(
      "en" -> ext.Text.learnClassUnigrams(train.where(col("lang") === "en")),
      "other" -> ext.Text.learnClassUnigrams(train.where(col("lang") =!= "en")))
    val labeled = ext.Text.withClassLabel(docs, classes)
    val w = when(col("clf_label") === "en", lit(0.95)).otherwise(lit(0.25))
    ext.Text.sampleByWeight(labeled, w)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("tokens_sum"))
  }

  /** X4+X1 composed pipeline 8 — the FineWeb prefilter shape: the Gopher
    * rule filter (scan-level `keep`, no self-join), survivors
    * exact-deduped on NORMALIZED text (keep-lowest-id via left-semi),
    * then the per-lang doc/token report. The oracle replays rules →
    * normalization → group rule → report in one SQL chain, so a drifted
    * threshold, a dropped rule, or a dedup that consults pre-filter docs
    * all break the hash.
    */
  def corpusPipeline8(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val kept = ext.Text.withGopherKeep(docs, stopwords = Seq("the", "a"))
      .where(col("keep"))
    val keepIds = kept
      .groupBy(md5(ext.Dedup.normalized(col("text"))).as("_h"))
      .agg(min("doc_id").as("doc_id"))
    val deduped = kept.join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi")
    deduped.select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))
  }

  /** Pipeline 9 — boilerplate takedown: exact bigram heavy hitters
    * (Misra–Gries sketch-then-verify, k=800) feed each document's
    * boilerplate share, and documents whose grams are >40% corpus-wide
    * hitters are dropped on the integer-ratio threshold (`hot·10 >
    * n_grams·4` — no float ever compared); gramless docs survive by
    * definition. Survivors report per-lang docs + token sums. The oracle
    * replays the naive HAVING-based hitter set and the same integer
    * rule, so a sketch bug, a broken superset, or a drifted threshold
    * all fail the per-lang sums.
    */
  def corpusPipeline9(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val hitters = operators.HeavyHitters.exact(
      ext.Text.ngrams(docs, n = 2), "ngram", k = 800).select("ngram")
    ext.Text.boilerplateShare(docs, hitters)
      .where(col("hot") * 10 <= col("n_grams") * 4)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))
  }

  /** X3+ continuous-ingest SemDeDup against the PERSISTED IVF index: the
    * even-id half of the corpus is indexed (8 refined cells); the odd-id
    * shard is then deduped against the INDEX ALONE at exhaustive probing
    * (nProbe = nCells ⇒ every drop decision exact), and the surviving
    * shard is appended back into the index — the full incremental
    * lifecycle. The oracle recomputes the exact cross-half rule all-pairs,
    * and the appended index's row count pins that exactly the survivors
    * landed.
    */
  def semDedupIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-semidx")
    val emb = Sources.embeddings(spark, sfDir)
    val even = emb.where(col("vec_id") % 2 === 0)
    val odd = emb.where(col("vec_id") % 2 === 1)
    ext.Ivf.buildIndex(even, s"$dir/ivf", nCells = 8, refineIters = 1)
    // materialize the drop decisions BEFORE the append mutates the index:
    // the survivor plan reads the index's parquet lazily, and re-evaluating
    // it after the fold-in would let appended odd vectors judge each other
    val survivors = ext.Similarity.semDedupAgainstIndex(
      odd, s"$dir/ivf", threshold = 0.4, nProbe = 8).localCheckpoint(true)
    ext.Ivf.appendToIndex(survivors, s"$dir/ivf")
    // the PUBLIC shard-aware reader: an appended version references its
    // parent's cell shards by manifest, so a literal cells/ read would
    // see only the newest shard
    val indexed = ext.Ivf.cells(spark, s"$dir/ivf")
      .agg(count(lit(1)).as("n_indexed"))
    survivors.select(col("vec_id"), col("label"))
      .crossJoin(broadcast(indexed))
  }

  /** X3+ SemDeDup, oracle arm: `nCells = 1` degenerates the clustered rule
    * to the exact global keep-lowest-id rule, which the DuckDB twin
    * replays all-pairs — survivors (with labels) must match exactly.
    */
  def semDedup(spark: SparkSession, sfDir: String): DataFrame =
    ext.Similarity.semDedup(Sources.embeddings(spark, sfDir),
        threshold = 0.4, nCells = 1)
      .select(col("vec_id"), col("label"))

  /** Clustered SemDeDup (16 spherical-k-means cells, 1 Lloyd iteration,
    * multi-assignment to the 3 nearest cells — the IVF-multi-probe analog
    * that recovers pairs straddling a cell boundary) measured against the
    * exact arm: precision is 1 BY CONSTRUCTION (a shared-cell pair is a
    * global pair — pinned as `subset_ok`), recall carries the measured
    * gate (0.906 at sf0.01, deterministic; single-assignment measured only
    * 0.34 on the same data — the multi-probe is load-bearing).
    * `n_dropped_exact` is pinned by the oracle, so the exact baseline
    * itself is also cross-checked.
    *
    * SF-DEPENDENCE (designed canary, same contract as `q_neardup_recall`'s
    * 0.75): the 0.8 floor is a measured property of THESE embeddings at
    * sf0.01 — a different scale factor or regenerated fixture shifts the
    * measured recall and may need a re-derived floor, which is the point:
    * a silent recall collapse should fail the gate, not pass it. The
    * 64-cell arm (`q_semdedup_recall64`) re-measures the dial at a
    * realistic cell count (0.981 sf0.01 / 0.919 sf0.1, floor 0.85).
    */
  def semDedupRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val exact = ext.Similarity.semDedupDropped(emb, 0.4, nCells = 1)
    val clustered = ext.Similarity.semDedupDropped(emb, 0.4,
      nCells = 16, refineIters = 1, nAssign = 3)
    val hits = exact
      .join(clustered.withColumn("_hit", lit(1L)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_dropped_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
    val sub = clustered
      .join(exact.withColumn("_in", lit(1L)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_dropped_clustered"),
        sum(coalesce(col("_in"), lit(0L))).as("n_in"))
    hits.crossJoin(sub).select(
      col("n_dropped_exact"),
      coalesce(col("n_in") === col("n_dropped_clustered"), lit(true))
        .as("subset_ok"),
      coalesce(col("n_hit").cast("double") / col("n_dropped_exact") >= 0.8,
        lit(true)).as("recall_ok"))
  }

  /** Clustered SemDeDup at a REALISTIC cell count: nCells = 64 — at this
    * cell count Σ|cell|² actually bounds the pair work (the r9 16-cell
    * arm is ~n²/16; 64 cells is ~n²/64 even on the sf0.01 fixture's 500
    * vectors, ~8 per cell) — so the recall dial is measured where the
    * scale path genuinely cuts work. nAssign = 6 compensates for the
    * thin cells (multi-probe across more boundaries). Same gates as the
    * 16-cell arm: precision pinned exactly (`subset_ok`), recall
    * measured: 0.981 at sf0.01 (500 vecs), 0.919 at sf0.1 (2000 vecs) —
    * the 0.85 floor carries margin at BOTH shipped scales but is still a
    * fixture-dependent canary by design (regenerated embeddings at a new
    * scale may need a re-measured floor; see `q_neardup_recall`).
    */
  def semDedupRecall64(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val exact = ext.Similarity.semDedupDropped(emb, 0.4, nCells = 1)
    val clustered = ext.Similarity.semDedupDropped(emb, 0.4,
      nCells = 64, refineIters = 1, nAssign = 6)
    val hits = exact
      .join(clustered.withColumn("_hit", lit(1L)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_dropped_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
    val sub = clustered
      .join(exact.withColumn("_in", lit(1L)), Seq("vec_id"), "left")
      .agg(count(lit(1)).as("n_dropped_clustered"),
        sum(coalesce(col("_in"), lit(0L))).as("n_in"))
    hits.crossJoin(sub).select(
      col("n_dropped_exact"),
      coalesce(col("n_in") === col("n_dropped_clustered"), lit(true))
        .as("subset_ok"),
      coalesce(col("n_hit").cast("double") / col("n_dropped_exact") >= 0.85,
        lit(true)).as("recall_ok"))
  }

  def embdupRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Sources.embeddings(spark, sfDir)
    val exact = ext.Similarity.exactPairs(emb, threshold = 0.3).select("a", "b")
    // candidate set is O(near-dups): broadcast under the recall join
    val cand = broadcast(
      ext.Similarity.nearDupPairs(emb, threshold = 0.3, bands = 32, bitsPerBand = 4)
        .select(col("a"), col("b"), lit(1L).as("_hit")))
    exact.join(cand, Seq("a", "b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_hit"))
      .select(col("n_exact"),
        (col("n_hit").cast("double") / col("n_exact") >= 0.9).as("recall_ok"))
  }

  /** Corpus mixture rebalancing on the gate: target weights 40% en / 20%
    * zh / 20% de / 10% es / 10% fr over a corpus where `de` is the binding
    * stratum (keeps everything, per-mille 1000). Output: per-language
    * before/after counts and the derived per-mille threshold. The oracle
    * recomputes the feasible total, every threshold, and every keep
    * decision from the same arithmetic — so a drifted rate formula or a
    * non-reproducible selection breaks the match.
    */
  def mixReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val kept = ext.Text.mixTo(docs, Map(
      "en" -> 0.4, "zh" -> 0.2, "de" -> 0.2, "es" -> 0.1, "fr" -> 0.1))
    docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(kept.groupBy(col("lang"), col("mix_permille").as("permille"))
        .agg(count(lit(1)).as("n_after")), Seq("lang"))
      .select("lang", "n_before", "n_after", "permille")
  }

  /** The PREP-side composed pipeline (complement of q_corpus_pipeline's
    * dedup chain): PII-salted documents → scrub → mixture rebalance to
    * target weights (hash of the SCRUBBED text — stage order matters and
    * the oracle replays it) → context-window chunking → per-language doc,
    * chunk, and chunk-char totals. Every stage is oracle-proven alone;
    * this row proves the COMPOSITION, where each stage consumes the
    * previous stage's output.
    */
  def corpusPipeline2(spark: SparkSession, sfDir: String): DataFrame = {
    val salted = Sources.documents(spark, sfDir).withColumn("text",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.0."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".1 tel +1555"),
        (col("doc_id") + 1000000).cast("string")))
    val scrubbed = salted.withColumn("text", ext.Text.scrub(col("text")))
    val mixed = ext.Text.mixTo(scrubbed, Map(
      "en" -> 0.4, "zh" -> 0.2, "de" -> 0.2, "es" -> 0.1, "fr" -> 0.1))
    ext.Text.chunk(mixed, window = 200, stride = 150,
        passthrough = Seq("lang"))
      .groupBy("lang")
      .agg(sum(when(col("chunk_idx") === 0L, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum("n_chunk_chars").as("chunk_chars_sum"))
  }

  /** Third end-to-end corpus recipe, composing the round-8 filters: drop
    * docs whose most-frequent bigram exceeds 6% of all bigrams (Gopher
    * repetition filter), then drop docs with > 50% duplicated 8-token
    * spans computed over the SURVIVORS (order matters — the oracle replays
    * the same staging), then report surviving docs and token mass per
    * language. Docs too short to produce grams carry no evidence and pass
    * both filters, exactly as the standalone operators behave.
    */
  def corpusPipeline3(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val repDoomed = ext.Text.repetitionSignals(docs)
      .where(col("top_frac") > 0.06).select("doc_id")
    val afterRep = docs.join(repDoomed, Seq("doc_id"), "left_anti")
    val clean = ext.Dedup.dropOverlapping(afterRep, 0.5)
    clean.select(col("lang"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))
  }

  /** Exact-quota sampling on the gate: en capped at 100 docs, zh at 40,
    * de at 1000 (over-quota — keeps all). Per-language surviving counts
    * AND token sums: the count pins quota exactness, the token sum pins
    * WHICH documents survived (the hash-order prefix), both replayed by
    * the oracle's row_number twin.
    */
  def sampleQuotaReport(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.sampleQuota(Sources.documents(spark, sfDir),
        Map("en" -> 100L, "zh" -> 40L, "de" -> 1000L))
      .select(col("lang"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("n_tok").as("tokens_kept"))

  /** Second sketch gate: `percentile_approx` (Greenwald-Khanna) medians of
    * the token count per language, pinned to land within the exact p40–p60
    * rank band (computed in-query by the same rank arithmetic as
    * `lengthPercentiles`). The sketch value itself stays free; its
    * accuracy contract is what the oracle pins.
    */
  def approxPercentile(spark: SparkSession, sfDir: String): DataFrame = {
    val t = Sources.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n_tok"), col("doc_id"))
    val counts = t.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val bands = t.withColumn("rank", row_number().over(w).cast("long"))
      .join(broadcast(counts), Seq("lang"))
      .withColumn("lo_rank", expr("(n_docs * 400 + 999) div 1000"))
      .withColumn("hi_rank", expr("(n_docs * 600 + 999) div 1000"))
      .groupBy("lang")
      .agg(min(when(col("rank") === col("lo_rank"), col("n_tok"))).as("p40"),
        min(when(col("rank") === col("hi_rank"), col("n_tok"))).as("p60"))
    val approx = t.groupBy("lang")
      .agg(percentile_approx(col("n_tok"), lit(0.5), lit(1000)).as("_ap"))
    bands.join(approx, Seq("lang"))
      .select(col("lang"), col("p40"), col("p60"),
        (col("_ap") >= col("p40") && col("_ap") <= col("p60")).as("within_band"))
  }

  /** The rolling-anomaly scorer as a REAL streaming query: same streams,
    * same parameters as `q_anomaly`, but scored by the `transformWithState`
    * ring-buffer processor (O(k) state per stream) — and it must match the
    * BATCH window operator bit-for-bit under the SAME oracle twin,
    * including the decimal-quantized sums and null warm-up stats.
    */
  def streamingAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val eventsPath = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(eventsPath).schema
    val dir = tempDir("graft-sanom")
    val srcDir = tempDir("graft-sanom-src")
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(srcDir, "events.parquet"),
      java.nio.file.Paths.get(eventsPath))
    val pts = spark.readStream.schema(schema).parquet(srcDir)
      .where(col("user_id").isin(7, 3) && col("event_type").isin("click", "view"))
      .select(concat_ws(":", col("user_id"), col("event_type")).as("stream_id"),
        Sources.tsMicrosCol(schema).as("ts"), col("value"))
      .as[Streaming.Point]
    val q = Streaming.anomaly(pts, k = 20, z = 2.0, minPrior = 5)
      .toDF()
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(s"$dir/out")
  }

  /** Sketch gate: per-language distinct-token cardinality via HLL++
    * (`approx_count_distinct`, rsd 5%) checked against the exact distinct
    * count computed in the same query. Output pins the exact count AND a
    * within-10% boolean — the sketch's accuracy contract — while the
    * sketch value itself stays free to vary with implementation. The
    * pattern every approximate operator in this engine follows: rows-only
    * for the estimate, an oracle-pinned quality gate beside it.
    */
  def approxDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val terms = Sources.documents(spark, sfDir)
      .select(col("lang"), explode(ext.Text.tokens(col("text"))).as("term"))
    terms.groupBy("lang")
      .agg(countDistinct(col("term")).as("n_exact"),
        approx_count_distinct(col("term"), 0.05).as("_approx"))
      .select(col("lang"), col("n_exact"),
        (abs(col("_approx") - col("n_exact")).cast("double") /
          col("n_exact").cast("double") <= 0.1).as("within_bounds"))
  }

  /** Rolling anomaly detection on the gate: four high-volume streams
    * scored row-by-row against their previous-20-point mean/σ (z = 2,
    * ≥ 5 priors). Row-level gate: every mean, σ, and flag must match the
    * oracle's replay of the decimal-partial arithmetic — including the
    * warm-up rows (NULL mean, flag FALSE) and the variance clamp.
    */
  def anomalyReport(spark: SparkSession, sfDir: String): DataFrame =
    Derive.rollingAnomaly(
      Sources.eventsAsDatapoints(spark, sfDir)
        .where(col("user_id").isin(7, 3) && col("event_type").isin("click", "view"))
        .select("stream_id", "ts", "value"),
      k = 20, z = 2.0, minPrior = 5)
      .select("stream_id", "ts", "value", "n_prior",
        "prior_mean", "prior_std", "is_anomaly")

  /** Sessionization on the gate: every (user, event_type) stream segmented
    * at 30-minute gaps, with per-session bounds, event counts, and
    * decimal-exact value sums. The oracle replays the lag/cumsum
    * formulation in SQL, so a wrong gap comparison (strict vs inclusive),
    * a dropped first-event session, or a sum that lost exactness all
    * break the row-level match.
    */
  def sessionizeReport(spark: SparkSession, sfDir: String): DataFrame =
    operators.Sessionize.sessions(
      Sources.events(spark, sfDir).select("user_id", "event_type", "ts", "value"),
      keyCols = Seq("user_id", "event_type"), gapUs = 1800000000L)

  /** Range join on the gate, composed over sessionization: the sessions of
    * every (user, event_type) stream become intervals, and the SAME events
    * are range-joined back into them via the bucketized equi-join (1-hour
    * buckets). Every event must land in exactly its own session, so the
    * per-session match counts and decimal sums equal the session's own
    * aggregates — and the oracle recomputes sessions in SQL and joins with
    * a plain BETWEEN theta join, an independent formulation that catches a
    * missed boundary bucket, an off-by-one in the bucket fan-out, or a
    * non-inclusive endpoint.
    */
  def rangeJoinReport(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Sources.events(spark, sfDir)
      .select("user_id", "event_type", "ts", "value")
    val sessions = operators.Sessionize.sessions(
      ev, Seq("user_id", "event_type"), gapUs = 1800000000L)
    operators.TimeJoin.rangeJoin(ev,
        sessions.select("user_id", "event_type", "session_seq",
          "session_start", "session_end"),
        keyCols = Seq("user_id", "event_type"), bucketUs = 3600000000L,
        startCol = "session_start", endCol = "session_end")
      .groupBy("user_id", "event_type", "session_seq")
      .agg(count(lit(1)).as("n_matched"),
        sum(col("value").cast(Downsample.DecV)).cast("double").as("value_sum"))
  }

  /** As-of join on the gate: every click event joined to the user's most
    * recent view at-or-before it (point-in-time lookup). The Spark side is
    * the union-and-scan formulation (one shuffle, no range join, no
    * per-key loop); the oracle is DuckDB's NATIVE `ASOF LEFT JOIN`, so
    * the row-level output — including the inclusive-equality edge and
    * NULLs for clicks with no prior view — is pinned against an
    * independent reference implementation of the operator itself.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Sources.events(spark, sfDir)
    val clicks = ev.where(col("event_type") === "click")
      .select("user_id", "ts", "value")
    val views = ev.where(col("event_type") === "view")
      .select("user_id", "ts", "value")
    operators.TimeJoin.asOf(clicks, views,
      keyCols = Seq("user_id"), tsCol = "ts", valueCols = Seq("ts", "value"))
  }

  /** The resample gates' shared grid: every 6 hours across the fixture's
    * full January-2024 span (inclusive ends — 120 instants), per click
    * user. Fixed literals so the gate is identical at every SF.
    */
  private val ResampleStartUs = 1704067200000000L // 2024-01-01T00:00:00Z
  private val ResampleEndUs = 1706637600000000L   // 2024-01-30T18:00:00Z
  private val ResampleStepUs = 6L * 3600 * 1000000

  private def resampleObs(spark: SparkSession, sfDir: String): DataFrame =
    Sources.events(spark, sfDir)
      .where(col("event_type") === "click")
      .select("user_id", "ts", "value")

  /** Forward-fill resample on the gate: each click series sampled at every
    * grid instant, row-level output (grid instant, carried observation ts
    * and value, NULLs before the first click). The oracle is DuckDB's
    * native ASOF LEFT JOIN against a `generate_series` grid — an
    * independent formulation of the whole operator, pinning the inclusive
    * edge and the pre-first-observation NULLs row by row.
    */
  def resampleFfill(spark: SparkSession, sfDir: String): DataFrame =
    operators.Resample.fillForward(resampleObs(spark, sfDir),
      keyCols = Seq("user_id"), gridStartUs = ResampleStartUs,
      gridEndUs = ResampleEndUs, stepUs = ResampleStepUs)

  /** Linear-interpolation resample on the gate: row-level filled values
    * with their fill kind (`none`/`exact`/`hold`/`interp`). The oracle
    * replays the lerp with two native ASOF joins (backward inclusive,
    * forward strict) and the identical double-precision expression shape,
    * so every interpolated value must match bit-for-bit.
    */
  def resampleInterp(spark: SparkSession, sfDir: String): DataFrame =
    operators.Resample.interpolate(resampleObs(spark, sfDir),
      keyCols = Seq("user_id"), gridStartUs = ResampleStartUs,
      gridEndUs = ResampleEndUs, stepUs = ResampleStepUs)

  /** Composition: warehouse storage → fixed-grid resample. Two click
    * series are ingested as streams, read back through the
    * snapshot-consistent fact read (manifest file set, deletes applied),
    * and linearly interpolated onto the 6-hour grid keyed by stream_id.
    * The oracle resamples the SOURCE events under the same key mapping —
    * so a row lost or doubled anywhere in the append→commit→read
    * lifecycle shifts a lerp endpoint and breaks the row-level hash.
    */
  def resampleWarehouse(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-rswh")
    val ds = new Datastream(spark, dir)
    Seq(3, 7).foreach(u => ds.ensureStream(s"$u:click",
      Map("user" -> u.toString, "type" -> "click"),
      highestGranularity = Granularity.Minutes))
    ds.appendMultiple(Sources.eventsAsDatapoints(spark, sfDir)
      .where(col("user_id").isin(3, 7) && col("event_type") === "click")
      .select("stream_id", "ts", "value"))
    operators.Resample.interpolate(
      ds.rawDatapoints.select("stream_id", "ts", "value"),
      keyCols = Seq("stream_id"), gridStartUs = ResampleStartUs,
      gridEndUs = ResampleEndUs, stepUs = ResampleStepUs)
  }

  /** Table profiling on the gate: the five typed event columns profiled
    * in ONE aggregate pass (exact distincts via Catalyst's Expand, then a
    * driver-free `stack` unpivot) — per column: rows, NULLs, exact
    * distinct count, numeric min/max (NULL for strings, so no
    * cross-engine value rendering enters the hash). The oracle is one
    * plain per-column UNION ALL.
    */
  def profileReport(spark: SparkSession, sfDir: String): DataFrame =
    operators.Profile.profile(Sources.events(spark, sfDir)
      .select("event_id", "user_id", "event_type", "value", "props"))

  /** Exact heavy hitters on the gate: every corpus bigram with frequency
    * above n/800, found by the Misra–Gries sketch-then-verify shape (per-
    * partition candidate summaries, broadcast exact recount — no full-
    * vocabulary shuffle). The output is exact by construction, so the
    * oracle is the plain `GROUP BY … HAVING cnt·k > total` the naive
    * formulation would run; any sketch bug that drops a true hitter (a
    * broken superset guarantee) or ships an approximate count fails the
    * row-level hash.
    */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    operators.HeavyHitters.exact(
      ext.Text.ngrams(Sources.documents(spark, sfDir), n = 2), "ngram", k = 800)

  /** Per-group heavy hitters on the gate: within EACH language, the
    * bigrams above that language's own n/400 — grouped Misra–Gries
    * summaries (state O(groups·k) per partition), broadcast recount on
    * `(lang, ngram)`, per-group threshold via the totals join. The
    * fixture's languages differ 3× in gram volume and 20× in hitter
    * count (en yields 1, de 22), so a threshold read against the wrong
    * group's total fails loudly.
    */
  def heavyHittersLang(spark: SparkSession, sfDir: String): DataFrame =
    operators.HeavyHitters.exactPerGroup(
      ext.Text.ngramsByKey(Sources.documents(spark, sfDir), n = 2, keyCol = "lang"),
      groupCol = "lang", valueCol = "ngram", k = 400)

  /** Vocabulary mapping on the gate: top-10 token vocab (of the fixture's
    * 31-word vocabulary, so OOV genuinely occurs) and every document
    * mapped to its id sequence. Per doc: token count, OOV count, and an
    * ordered `(acc·31 + id) mod p` fold over the id sequence — the fold
    * pins both every id VALUE and their ORDER, so a shuffled collect_list
    * or an off-by-one rank fails the hash even where counts agree.
    */
  def vocabMap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val vocab = ext.Text.buildVocab(docs, v = 10)
    ext.Text.mapToIds(docs, vocab)
      .select(col("doc_id"),
        size(col("ids")).cast("long").as("n_tok"),
        size(filter(col("ids"), _ === 0L)).cast("long").as("n_oov"),
        aggregate(col("ids"), lit(0L),
          (acc, x) => (acc * 31 + x) % 2147483647L).as("ids_fold"))
  }

  /** X3 normalization on the gate: the (already unit-norm) fixture vectors
    * are first DE-normalized by a deterministic per-vector scale
    * (1 + vec_id mod 5), then `Similarity.normalize` must recover unit
    * norm — per label: vector count, how many re-normalized vectors have
    * |‖u‖²−1| ≤ 1e-9, and the min/max pre-normalization norm². The oracle
    * replays the same fold arithmetic (scale → ordered Σ v², → per-element
    * divide by √n2 → ordered Σ u²), so any drift in the fold order or the
    * element op sequence breaks the double-exact match.
    */
  def embeddingNorms(spark: SparkSession, sfDir: String): DataFrame = {
    val scaled = Sources.embeddings(spark, sfDir)
      .withColumn("scale", (pmod(col("vec_id"), lit(5)) + 1).cast("double"))
      .withColumn("scaled",
        transform(col("embedding"), x => x.cast("double") * col("scale")))
    ext.Similarity.normalize(scaled, "scaled")
      .withColumn("u2", ext.Similarity.norm2Fold(col("unit")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(abs(col("u2") - 1.0) <= 1e-9, 1L).otherwise(0L)).as("n_unit"),
        min("norm2").as("n2_min"), max("norm2").as("n2_max"))
  }

  /** Deterministic content-hash corpus split: bucket = rolling-hash(text)
    * mod 10, reported as per-bucket doc and token counts. The oracle
    * recomputes every document's hash in SQL, so the assignment — the
    * thing a training pipeline must be able to reproduce years later — is
    * pinned bit-for-bit, not just "roughly uniform".
    */
  def splitReport(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.splitAssign(Sources.documents(spark, sfDir), buckets = 10)
      .select(col("split_bucket"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("split_bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))

  /** Cross-corpus decontamination on the gate: the corpus (doc_id % 7 ≠ 0)
    * is scrubbed of every exact or near-duplicate (shingle-Jaccard ≥ 0.8)
    * of the held-out side (doc_id % 7 = 0) — the train-vs-eval overlap
    * removal. Output: per-language before/after/removed counts; the oracle
    * recomputes the contaminated set from the same inverted-index + md5
    * definitions, so a missed (or over-zealous) removal breaks the match.
    */
  def decontaminateReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val held = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val clean = ext.Dedup.decontaminate(corpus, held, threshold = 0.8)
    corpus.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(clean.groupBy("lang").agg(count(lit(1)).as("n_after")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"))
  }

  /** Span-level decontamination on the gate: same train/eval split as
    * `q_decontaminate`, but the filter is GPT-3-style 13-token-span
    * overlap. Runs the DEFAULT xxhash64 gram keys against a string-keyed
    * oracle replay, so the hash scheme is itself gate-checked.
    */
  def decontaminateSpansReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val held = docs.where(pmod(col("doc_id"), lit(7)) === 0)
    val corpus = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
    val clean = ext.Dedup.decontaminateSpans(corpus, held)
    corpus.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(clean.groupBy("lang").agg(count(lit(1)).as("n_after")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"))
  }

  /** Relational breadth over the TPC-H-ish tables: the Q1 pricing-summary
    * shape — shipdate-filtered scan (predicate pushed to parquet), one
    * partial→final aggregate, decimal-exact sums over the same double
    * expressions the oracle replays.
    */
  def tpchPricing(spark: SparkSession, sfDir: String): DataFrame = {
    // sums accumulate exactly at scale 10, then RESCALE to 4 before the
    // double cast: at scale 10 these totals carry 19 significant digits,
    // where DuckDB's int128-decimal→double (scale then divide — two
    // roundings) lands 1 ulp off Spark's correctly-rounded BigDecimal
    // path; at scale 4 the scaled integer is exact in a double, both
    // engines round once, and the doubles agree bit-for-bit
    val Dec4 = org.apache.spark.sql.types.DecimalType(38, 4)
    Sources.table(spark, sfDir, "lineitem")
      .where(col("l_shipdate") <= lit(ts("2000-01-01T00:00:00Z")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast(Downsample.DecV)).cast(Dec4)
          .cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(Downsample.DecV)).cast(Dec4)
          .cast("double").as("sum_base"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(Downsample.DecV)).cast(Dec4).cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
          (lit(1.0) + col("l_tax")))
          .cast(Downsample.DecV)).cast(Dec4).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
  }

  /** The Q3 shape — segment-filtered customers and orders BROADCAST into
    * the lineitem scan (the fact table never shuffles for the joins), one
    * aggregate, top-10 by revenue via TakeOrderedAndProject with a
    * deterministic custkey tie-break.
    */
  def tpchTopCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Sources.table(spark, sfDir, "customer")
      .where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val orders = Sources.table(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
    Sources.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(Downsample.DecV).as("rev"))
      .join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name")
      .agg(sum("rev").cast(org.apache.spark.sql.types.DecimalType(38, 4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)
  }

  /** The Q5 shape — every dimension (year-filtered orders, customers,
    * suppliers, region-filtered nations) BROADCAST into a single pass
    * over the lineitem fact; the co-nationality predicate (customer and
    * supplier in the same nation) is applied as an equi-filter on the
    * two broadcast-resolved nation keys, and the fact shuffles only for
    * the final per-nation aggregate. Revenue accumulates in
    * DECIMAL(38,10) partials, rendered double once.
    */
  def tpchLocalVolume(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Sources.table(spark, sfDir, "nation")
      .join(broadcast(Sources.table(spark, sfDir, "region")
        .where(col("r_name") === "ASIA").select("r_regionkey")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val orders = Sources.table(spark, sfDir, "orders")
      .where(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val cust = Sources.table(spark, sfDir, "customer")
      .select("c_custkey", "c_nationkey")
    val supp = Sources.table(spark, sfDir, "supplier")
      .select("s_suppkey", "s_nationkey")
    Sources.table(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(Downsample.DecV).as("rev"))
      .join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .where(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum("rev").cast(org.apache.spark.sql.types.DecimalType(38, 4))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** The persisted dedup index on the gate — the incremental-ingest
    * lifecycle: build the index over the even half of the corpus, dedup
    * the odd half against it (exact md5 + LSH-candidates + Jaccard ≥ 0.8,
    * PLUS the intra-shard arm dropping shard docs whose smaller-id twin
    * is inside the shard itself — the survivors are pairwise
    * non-duplicate, so the append below keeps the index clean), APPEND
    * the survivors to the index, and re-queue the same shard — which must
    * now come back empty (survivors exact-match themselves; removed docs
    * still match their original dups or re-trip the intra arm). Output:
    * per-language before/after/removed plus the pinned requeue-empty
    * boolean. The oracle recomputes the removed set from the exact
    * cross-side inverted shingle index + md5 + the exact intra-shard
    * pair set — independent of the banded candidates under test.
    */
  def dedupIndexReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val idxSide = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val shard = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val dir = tempDir("graft-dedupidx")
    ext.DedupIndex.buildIndex(idxSide, dir)
    val clean = ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.8)
      .localCheckpoint(true) // consumed twice: append + report
    ext.DedupIndex.appendToIndex(clean, dir)
    val requeueEmpty =
      ext.DedupIndex.dedupeAgainstIndex(shard, dir, threshold = 0.8).isEmpty
    shard.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(clean.groupBy("lang").agg(count(lit(1)).as("n_after")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"),
        lit(requeueEmpty).as("requeue_empty"))
  }

  /** STREAM-MAINTAINED dedup index on the gate: the odd-id shard arrives
    * as two ID-ORDERED micro-batches (lower half, then upper) through
    * `Streaming.ingestToDedupIndex` — each batch deduped against the live
    * index and within itself, survivors folded in exactly-once — and the
    * final per-lang acceptance report must land on the BATCH verb's rows
    * (the shared `q_dedup_index` oracle). Id-ordering makes the
    * sequential fold's keeper rule (first-arrival) coincide with the
    * batch verb's min-id rule, so the streamed survivor set is the batch
    * survivor set exactly; a doubled fingerprint from a replay, a lost
    * shard, or a drifted candidate set breaks the counts.
    */
  def streamingDedupIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = tempDir("graft-sdidx")
    val src = tempDir("graft-sdidx-src")
    val docs = Sources.documents(spark, sfDir)
    ext.DedupIndex.buildIndex(docs.where(pmod(col("doc_id"), lit(2)) === 0), idx)
    val shard = docs.where(pmod(col("doc_id"), lit(2)) === 1)
    val mid = shard.agg(
      percentile_approx(col("doc_id"), lit(0.5), lit(10000))).first().getLong(0)
    val feed0 = shard.select("doc_id", "text")
    feed0.where(col("doc_id") <= mid).coalesce(1)
      .write.mode("append").parquet(src)
    feed0.where(col("doc_id") > mid).coalesce(1)
      .write.mode("append").parquet(src)
    val feed = spark.readStream.schema(feed0.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.ingestToDedupIndex(feed, idx, s"$idx/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val accepted = ext.DedupIndex.indexedIds(spark, idx)
      .join(shard.select("doc_id"), Seq("doc_id"), "left_semi")
    val requeueEmpty =
      ext.DedupIndex.dedupeAgainstIndex(shard, idx, threshold = 0.8).isEmpty
    shard.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(shard.join(accepted, Seq("doc_id"), "left_semi")
          .groupBy("lang").agg(count(lit(1)).as("n_after")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        (col("n_before") - coalesce(col("n_after"), lit(0L))).as("n_removed"),
        lit(requeueEmpty).as("requeue_empty"))
  }

  /** The end-to-end corpus-materialization pipeline a training run ships:
    * language-agreement filter (marker langId must equal the label) →
    * quality filter (≥ 25 whitespace tokens) → exact dedup (min doc_id per
    * md5) → near-dup cluster collapse (MinHash LSH at 0.8, min-label
    * keeper) → per-language doc/token totals. Every stage is individually
    * oracle-proven elsewhere; this row proves the COMPOSITION — the stages
    * see each other's outputs, not the raw corpus.
    */
  def corpusPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val filtered = docs
      .where(ext.Text.langId(ext.Text.tokens(col("text"))) === col("lang"))
      .where(size(ext.Text.tokens(col("text"))) >= 25)
    val keepExact = filtered.groupBy(md5(col("text")).as("_h"))
      .agg(min("doc_id").as("doc_id"))
    val exDeduped = filtered
      .join(keepExact.select("doc_id"), Seq("doc_id"), "left_semi")
    val clean = ext.Dedup.keepOnePerCluster(exDeduped,
      ext.Dedup.nearDupMinhash(exDeduped, 0.8))
    clean.select(col("lang"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"))
  }

  def quality(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.quality(Sources.documents(spark, sfDir))

  /** X4 Gopher rule-set filter: the paper's seven keep/reject rules as one
    * narrow projection. Paper-default thresholds except the required
    * stopword list, which is corpus-appropriate (`the`/`a` — the synthetic
    * vocabulary carries no other function words), so the verdict actually
    * splits the corpus: word count ∈ [50, 100k] rejects the short half,
    * stopword presence rejects docs missing either marker. The oracle
    * replays every signal AND every rule verdict per document.
    */
  def gopherRules(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.gopherRules(Sources.documents(spark, sfDir),
      stopwords = Seq("the", "a"))

  /** X4 CCNet-slot LM quality scoring: an add-one-smoothed bigram model
    * learned from the `en` slice (the curated reference), every document
    * scored by its position-ordered inverse-probability fold. The oracle
    * re-learns the counts AND replays every doc's fold in SQL
    * (`list_reduce` over `list(… ORDER BY i)`) — a drifted count, a
    * reordered sum, or a wrong smoothing constant all break the hash.
    */
  def lmScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val model = ext.Text.learnBigramLm(docs.where(col("lang") === "en"))
    ext.Text.lmSurprise(docs, model)
  }

  /** X4 trained corpus classifier (the GPT-3 "WebText-like vs crawl" /
    * FineWeb-Edu filter slot): class-conditional unigram models learned
    * from a TRAIN SPLIT (`doc_id % 5 = 0`) of the en and non-en slices,
    * then every document scored zero-shuffle and labeled with the
    * least-surprised class. The oracle relearns both models and replays
    * every per-class ordered fold bit-for-bit.
    */
  def classifier(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val train = docs.where(col("doc_id") % 5 === 0)
    val classes = Seq(
      "en" -> ext.Text.learnClassUnigrams(train.where(col("lang") === "en")),
      "other" -> ext.Text.learnClassUnigrams(train.where(col("lang") =!= "en")))
    ext.Text.classifyBySurprise(docs, classes)
  }

  /** X4 Gopher repetition filters: bigram dup fraction and most-frequent-
    * bigram share per doc — the mode-based signals `quality`'s row-local
    * ratio cannot express.
    */
  def repetition(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.repetitionSignals(Sources.documents(spark, sfDir))

  /** X5 perceptual image dedup end-to-end on REAL pixels: every doc
    * renders a genuine PNG whose block pattern repeats per `doc_id % 40`
    * but whose bytes differ per doc (uniform brightness shift — md5 dedup
    * provably finds nothing), then aHash + banding + hamming verification
    * must rediscover EXACTLY the same-base pairs, which the oracle states
    * in closed form. Hamming is 0 for every true pair (the hash is
    * shift-invariant by construction), so the threshold-2 run also pins
    * the absence of cross-base collisions.
    */
  def imageDup(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.imageDupCandidates(
      ext.Multimodal.dupPngAssets(Sources.documents(spark, sfDir)))

  /** X5+ perceptual AUDIO dedup over real decoded samples: WAVs sharing a
    * base envelope pattern per `doc_id % 40` but carrying per-doc
    * amplitude scales / sign inversions (13 pairwise-distinct,
    * fingerprint-invariant transforms — no two same-base docs share one
    * within 500 docs), so md5 dedup provably finds nothing and the
    * energy-envelope fingerprint must rediscover the closed-form pair set
    * exactly — the audio twin of `q_image_dup`.
    */
  def audioDup(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.audioDupCandidates(
      ext.Multimodal.dupWavAssets(Sources.documents(spark, sfDir)))

  /** Token-distribution drift between the en slice and the rest — counts,
    * probabilities, and the absolute gap per token, exact IEEE on both
    * engines (no logs).
    */
  def tokenDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    ext.Text.tokenDrift(docs.where(col("lang") === "en"),
      docs.where(col("lang") =!= "en"), k = 40)
  }

  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.tfIdfTopTerms(Sources.documents(spark, sfDir))

  /** X4+ keyword retrieval: Okapi BM25 top-15 for two queries in one
    * corpus pass — a 3-term common-vocabulary query and a query anchored
    * on the corpus's one rare term (`dup`, df≈5% of docs), so the idf
    * ratio actually separates candidates. The oracle replays the entire
    * log-free scoring fold (tf via list_filter, df/N/avgdl from a corpus
    * CTE, the same pinned term order) bit-for-bit in SQL.
    */
  def searchBm25(spark: SparkSession, sfDir: String): DataFrame =
    ext.Search.bm25(Sources.documents(spark, sfDir),
      Seq("qa" -> Seq("spark", "window", "merge"),
        "qb" -> Seq("dup", "customer")), topK = 15)

  /** Index-served twin of `q_search_bm25`: build the persisted inverted
    * index (term-range-partitioned postings + doc lengths + shard stats),
    * then serve the SAME two queries from it — term-pruned postings scan,
    * never the corpus. Shares the scan gate's oracle: the index path must
    * land on bit-identical rows.
    */
  def searchIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-bm25idx")
    ext.Search.buildIndex(Sources.documents(spark, sfDir), dir)
    ext.Search.queryIndex(spark, dir,
      Seq("qa" -> Seq("spark", "window", "merge"),
        "qb" -> Seq("dup", "customer")), topK = 15)
  }

  /** DataFrame-native BM25 batch twin of `q_search_bm25`: the SAME two
    * queries arrive as a `(query_id, terms)` DataFrame through
    * `Search.bm25Batch` — the shape a million-query mining workload uses —
    * and must land on the Seq path's rows bit-for-bit (shared oracle).
    */
  def searchBatch(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ext.Search.bm25Batch(Sources.documents(spark, sfDir),
      Seq(("qa", Seq("spark", "window", "merge")),
        ("qb", Seq("dup", "customer"))).toDF("query_id", "terms"),
      topK = 15)
  }

  /** Index-served batch twin: the `(query_id, terms)` DataFrame scored
    * from the persisted inverted index via `Search.queryIndexBatch` — a
    * fixed-size serving plan regardless of |queries|, still bit-identical
    * to the one-pass scan (shared oracle).
    */
  def searchBatchIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = tempDir("graft-bm25bidx")
    ext.Search.buildIndex(Sources.documents(spark, sfDir), dir)
    ext.Search.queryIndexBatch(spark, dir,
      Seq(("qa", Seq("spark", "window", "merge")),
        ("qb", Seq("dup", "customer"))).toDF("query_id", "terms"),
      topK = 15)
  }

  /** The RAG serving path end-to-end from PERSISTED indexes: the lexical
    * ranking comes from the BM25 inverted index (term-pruned postings),
    * the embedding ranking from the IVF index under exhaustive probing,
    * and reciprocal-rank fusion combines them — zero corpus scans at
    * query time. Both index paths are exact by construction (gates
    * `q_search_index`, `q_similarity_index`), so this shares
    * `q_hybrid_rrf`'s oracle: the index-served hybrid must land on the
    * scan-served hybrid's rows bit-for-bit.
    */
  def hybridIndexed(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-hybidx")
    val docs = Sources.documents(spark, sfDir)
    val emb = Sources.embeddings(spark, sfDir)
    ext.Search.buildIndex(docs, s"$dir/bm25")
    ext.Ivf.buildIndex(emb, s"$dir/ivf", nCells = 16)
    val bm = ext.Search.queryIndex(spark, s"$dir/bm25",
        Seq("q0" -> Seq("spark", "window", "merge")), topK = 50)
      .select(col("doc_id"), col("rank"))
    val cos = ext.Ivf.queryIndex(s"$dir/ivf",
        emb.where(col("vec_id") === 0), k = 50, nProbe = 16)
      .select(col("vec_id").as("doc_id"), col("rank"))
    ext.Search.rrfFuse(bm, cos, kRrf = 60, topK = 20)
  }

  /** STREAM-MAINTAINED search index on the gate: the corpus arrives as a
    * two-micro-batch file stream through `Streaming.ingestToSearchIndex`
    * (first batch builds, second folds in as an O(shard) versioned
    * append, both exactly-once via the batch id each version's commit
    * marker records), and
    * the same two queries served from the live index must land on the
    * one-pass scan twin's rows bit-for-bit — df, N and avgdl compose
    * additively across the streamed shards or the hash breaks.
    */
  def streamingSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = tempDir("graft-ssearch")
    val src = tempDir("graft-ssearch-src")
    val docs = Sources.documents(spark, sfDir).select("doc_id", "text")
    docs.where(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(src)
    docs.where(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.mode("append").parquet(src)
    val feed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.ingestToSearchIndex(feed, idx, s"$idx/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ext.Search.queryIndex(spark, idx,
      Seq("qa" -> Seq("spark", "window", "merge"),
        "qb" -> Seq("dup", "customer")), topK = 15)
  }

  /** STREAM-MAINTAINED IVF index on the gate: embeddings arrive as a
    * two-micro-batch file stream through `Streaming.ingestToIvfIndex`
    * (first batch BUILDS — trains the 64 centroids on the even half —
    * and the second folds the odd half in as an O(shard) versioned
    * append, both exactly-once via the shared index-side batch
    * watermark), then an exhaustive-probe query over the live index must
    * be BIT-IDENTICAL to brute force over the full corpus (the
    * `q_similarity_topk` oracle). A lost, doubled or replayed vector
    * anywhere in the streamed chain breaks the row set.
    */
  def streamingIvfAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = tempDir("graft-sivf")
    val src = tempDir("graft-sivf-src")
    val emb = Sources.embeddings(spark, sfDir).select("vec_id", "embedding")
    emb.where(pmod(col("vec_id"), lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(src)
    emb.where(pmod(col("vec_id"), lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val feed = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.ingestToIvfIndex(feed, idx, s"$idx/ckpt", nCells = 64)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val qv = queryVectors(spark, sfDir)
    val labels = qv.select(col("vec_id").cast("long").as("query_vec_id"),
      col("label"))
    ext.Ivf.queryIndex(idx, qv, k = 10, nProbe = 64)
      .join(broadcast(labels), "query_vec_id")
      .select("label", "query_vec_id", "vec_id", "cosine", "rank")
  }

  /** `q_streaming_ivf_append`'s IVF-PQ twin: the first micro-batch trains
    * centroids AND codebooks on the even half, the second encodes the odd
    * half against the frozen model and publishes an O(shard) append, and
    * the exhaustive + full-rerank query must reproduce brute force over
    * the whole corpus bit-for-bit — the streamed version of
    * `q_ivfpq_append`, under the same oracle.
    */
  def streamingPqAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = tempDir("graft-spq")
    val src = tempDir("graft-spq-src")
    val emb = Sources.embeddings(spark, sfDir).select("vec_id", "embedding")
    emb.where(pmod(col("vec_id"), lit(2)) === 0).coalesce(1)
      .write.mode("append").parquet(src)
    emb.where(pmod(col("vec_id"), lit(2)) === 1).coalesce(1)
      .write.mode("append").parquet(src)
    val feed = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    val q = Streaming.ingestToPqIndex(feed, idx, s"$idx/ckpt", nCells = 16)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ext.Ivf.queryPqIndex(idx, queryVectors(spark, sfDir), k = 10,
      nProbe = 16, rerank = 1 << 20,
      rerankAgainst = Some(Sources.embeddings(spark, sfDir)))
  }

  /** The full retrieval pipeline: hybrid RRF top-30 served from BOTH
    * persisted indexes, then MMR-diversified down to 10 against pairwise
    * embedding cosine (`Similarity.mmrRerank` — the caller-supplied-rel
    * composition entry). The oracle replays the whole chain: BM25 fold,
    * cosine fold, RRF fusion, the pool cut, and all ten unrolled greedy
    * steps.
    */
  def hybridMmr(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-hybmmr")
    val emb = Sources.embeddings(spark, sfDir)
    // the pipeline's retrieval corpus = documents WITH embeddings (MMR
    // needs a vector per pool member; at sf0.1 only a subset has one)
    val docs = Sources.documents(spark, sfDir)
      .join(emb.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
    ext.Search.buildIndex(docs, s"$dir/bm25")
    ext.Ivf.buildIndex(emb, s"$dir/ivf", nCells = 16)
    val bm = ext.Search.queryIndex(spark, s"$dir/bm25",
        Seq("q0" -> Seq("spark", "window", "merge")), topK = 50)
      .select(col("doc_id"), col("rank"))
    val cos = ext.Ivf.queryIndex(s"$dir/ivf",
        emb.where(col("vec_id") === 0), k = 50, nProbe = 16)
      .select(col("vec_id").as("doc_id"), col("rank"))
    val fused = ext.Search.rrfFuse(bm, cos, kRrf = 60, topK = 30)
    ext.Similarity.mmrRerank(
      fused.select(col("doc_id").as("vec_id"), col("rrf_score").as("rel")),
      emb, k = 10, lambda = 0.75)
  }

  /** SEARCH-INDEX TAKEDOWN on the gate: every 97th document is removed
    * from the persisted index via a tombstone version (no shard rewrite),
    * and the same two queries must then land BIT-IDENTICALLY on a fresh
    * build over the survivors — the oracle recomputes BM25 from scratch
    * over `doc_id % 97 <> 0`, so a dead doc leaking into results OR still
    * haunting df/N/avgdl (a filter-only takedown) breaks the hash.
    */
  def searchTakedown(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tempDir("graft-bm25take")
    val docs = Sources.documents(spark, sfDir)
    ext.Search.buildIndex(docs, dir)
    ext.Search.removeFromIndex(dir,
      docs.where(col("doc_id") % 97 === 0).select("doc_id"))
    ext.Search.queryIndex(spark, dir,
      Seq("qa" -> Seq("spark", "window", "merge"),
        "qb" -> Seq("dup", "customer")), topK = 15)
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the lexical BM25 ranking
    * (3-term query, top-50) with the embedding cosine ranking (query
    * vector = vec 0, top-50), joined on the shared doc/vec id space —
    * the standard two-tower + keyword RAG retrieval combiner. Both input
    * rankings AND the fused list are recomputed independently by the
    * oracle, so a drifted rank on either side or a wrong fusion constant
    * breaks the hash.
    */
  def hybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val bm = ext.Search.bm25(docs,
        Seq("q0" -> Seq("spark", "window", "merge")), topK = 50)
      .select(col("doc_id"), col("rank"))
    val emb = Sources.embeddings(spark, sfDir)
    val cos = ext.Similarity.topK(emb, emb.where(col("vec_id") === 0), k = 50)
      .select(col("vec_id").as("doc_id"), col("rank"))
    ext.Search.rrfFuse(bm, cos, kRrf = 60, topK = 20)
  }

  def langReport(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.languageReport(Sources.documents(spark, sfDir))

  /** X4 second language-ID flavor: character-trigram profile scoring
    * (Cavnar-Trenkle shape) — confusion counts of actual vs predicted
    * language plus the summed winning score, all integer.
    */
  def langNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val langs = ext.Text.charNgramProfiles.keys.toSeq.sorted
    Sources.documents(spark, sfDir)
      .select(col("lang"),
        ext.Text.charNgramLangId(col("text")).as("predicted"),
        greatest(langs.map(l => ext.Text.charNgramScore(col("text"), l)): _*)
          .as("best_score"))
      .groupBy("lang", "predicted")
      .agg(count(lit(1)).as("n_docs"), sum("best_score").as("score_sum"))
  }

  /** X4's data-driven lang-ID arm: profiles LEARNED from the labeled
    * corpus (top-8 trigrams per language, deterministic tie-breaks), then
    * every document classified against the broadcast profile table;
    * output is the confusion matrix. The oracle re-learns the profiles
    * AND re-scores every document in SQL, so a drifted tie-break, a lost
    * profile row, or a wrong argmax all break the hash.
    */
  def langProfile(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val profiles = ext.Text.learnLangProfiles(docs, topK = 8)
    ext.Text.langIdByProfiles(docs, profiles)
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
  }

  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.fingerprint(Sources.documents(spark, sfDir))

  /** A1-for-nominal: count-only downsample of events treated as a nominal
    * stream (value = the props JSON), hours granularity — the reference's
    * nominal/graph value types downsample with `count` only (SURVEY §1.1).
    */
  def downsampleNominal(spark: SparkSession, sfDir: String): DataFrame =
    Sources.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type"),
        Downsample.bucketStart(col("ts"), Granularity.Hours).as("bucket_start"))
      .agg(count(col("props")).as("count"),
        min("ts").as("t_first"), max("ts").as("t_last"))

  /** F3 graph value type end-to-end: events are rendered to the reference's
    * graph wire JSON (`{"v":[{"i":..}],"e":[{"f":..,"t":..}]}`), parsed back
    * through `from_json(…, Schemas.graph)`, and count-only downsampled with
    * vertex/edge totals — the full store→parse→aggregate round trip the
    * reference applies to graph streams [ds :: value_type "graph"]. The
    * oracle recomputes the totals from the source columns independently, so
    * a wire-format or parse defect breaks the match.
    */
  def graphDownsample(spark: SparkSession, sfDir: String): DataFrame = {
    val wire = Sources.events(spark, sfDir).select(
      col("user_id"), col("event_type"), col("ts"),
      to_json(struct(
        array(
          struct(col("user_id").cast("string").as("i")),
          struct(col("event_type").as("i"))).as("v"),
        when(get_json_object(col("props"), "$.k").isNotNull,
          array(struct(col("user_id").cast("string").as("f"),
            col("event_type").as("t"))))
          .otherwise(array().cast("array<struct<f:string,t:string>>"))
          .as("e"))).as("value_json"))
    wire.withColumn("g", from_json(col("value_json"), Schemas.graph))
      .groupBy(col("user_id"), col("event_type"),
        Downsample.bucketStart(col("ts"), Granularity.Hours).as("bucket_start"))
      .agg(count(col("g")).as("count"),
        sum(size(col("g.v"))).as("n_vertices"),
        sum(size(col("g.e"))).as("n_edges"))
  }

  /** X5 with a REAL codec: every document becomes a genuine PNG (JDK
    * encoder, dims pinned by doc_id), decoded back through
    * `javax.imageio` — the oracle states each asset's expected
    * width/height/channels in closed form, so a decoder that misreads a
    * single image breaks the row set. Every 37th doc carries a CORRUPT
    * (provably non-image) payload instead: the oracle pins, per asset,
    * the `decode_ok` health flag AND the fallback geometry the corrupt
    * arm must degrade to. No stub in this path.
    */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.decode(
        ext.Multimodal.pngAssets(Sources.documents(spark, sfDir)))
      .toDF()
      .select(col("asset_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        col("duration_ms"),
        col("decode_ok"))

  /** X5 audio arm with a REAL codec: every document becomes a genuine WAV
    * (JDK `javax.sound.sampled` encoder, integer sawtooth keyed by doc_id),
    * decoded back through `AudioSystem` into integer frame metrics. The
    * oracle replays the waveform in closed form (`generate_series`), so a
    * decoder that misparses a header, drops a frame, or mis-signs a sample
    * breaks the hash. No stub in this path — video is the one remaining
    * declared fallback (the JDK has no container parser for it).
    */
  def audioDecode(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.decodeAudio(
      ext.Multimodal.wavAssets(Sources.documents(spark, sfDir)))

  /** X5 video arm with a REAL codec — the last modality stub is gone:
    * every document becomes a genuine MJPEG AVI (RIFF container written
    * per the public AVI spec, each frame a real JDK-encoded JPEG), parsed
    * back through the RIFF walker + per-frame `javax.imageio` decode. The
    * oracle restates every column in closed form — geometry, actual
    * decoded frame count, exact-integer duration, and `frame_bits` (the
    * decoded bright/dark luminance pattern, which only survives a decode
    * that really rasterizes every JPEG) — and every 41st doc carries a
    * corrupt non-RIFF payload pinning the `decode_ok` health flag.
    */
  def videoDecode(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.decodeVideo(
      ext.Multimodal.aviAssets(Sources.documents(spark, sfDir)))

  /** X5+ perceptual VIDEO dedup over real decoded frames: AVIs sharing a
    * base bright/dark frame pattern per `doc_id % 40` but carrying per-doc
    * fingerprint-invariant brightness grades (13 pairwise-distinct within
    * the clamped id domain), so md5 dedup provably finds nothing and the
    * temporal fingerprint must rediscover the closed-form pair set exactly
    * — completing the image/audio/video perceptual-dedup triad.
    */
  def videoDup(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.videoDupCandidates(
      ext.Multimodal.dupAviAssets(Sources.documents(spark, sfDir)))

  /** X5 real frame EXTRACTION: every 4th decoded frame of each AVI as its
    * own row — the batch shape a training loader's frame sampler emits —
    * with per-frame decoded geometry and the decode-exact brightness
    * threshold. The oracle restates every sampled row in closed form
    * (which frames survive the stride, each frame's dims, and its
    * bright/dark state), so a sampler that drops, duplicates, or
    * misindexes a frame breaks the row set. Corrupt assets emit nothing.
    */
  def videoFrames(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.sampleDecodedFrames(
      ext.Multimodal.aviAssets(Sources.documents(spark, sfDir)), stride = 4)

  /** X5: aspect-preserving resize geometry over the decoded assets,
    * aggregated per kind — integer math end to end, mirrored by the oracle.
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ext.Multimodal.resizePlan(
        ext.Multimodal.decode(
          ext.Multimodal.assetsFromDocuments(Sources.documents(spark, sfDir))
            .as[ext.Multimodal.Asset]))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_assets"),
        sum("out_w").as("out_w_sum"), sum("out_h").as("out_h_sum"),
        max("out_w").as("out_w_max"), max("out_h").as("out_h_max"),
        // text-bound assets all take the fallback arm: the health flag
        // must report ZERO real decodes, pinned by the oracle
        sum(col("decode_ok").cast("long")).as("n_decoded"))
  }

  /** X5: frame-sampling layout over video-like binary payloads. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame =
    ext.Multimodal.sampleFrames(
        ext.Multimodal.assetsFromDocuments(Sources.documents(spark, sfDir)))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("asset_id")).as("n_assets"))

  /** X4: whitespace token counts per language over documents. */
  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Sources.documents(spark, sfDir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens_sum"),
        sum("n_chars").as("chars_sum"), max("n_tokens").as("tokens_max"))

  /** PII scrubbing on the gate. The corpus carries no PII, so each
    * document is salted with deterministic doc_id-derived PII (an email,
    * an IPv4, a phone number) before scrubbing — the oracle builds the
    * SAME salted text and scrubs it with the same sequential patterns, so
    * the gate pins per-class hit counts AND the full redacted text
    * byte-for-byte (a regex-dialect divergence, a non-global replace, or
    * a swapped class order all break the hash).
    */
  def piiScrub(spark: SparkSession, sfDir: String): DataFrame = {
    val salted = Sources.documents(spark, sfDir).withColumn("text",
      concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com from 10.0."),
        pmod(col("doc_id"), lit(250)).cast("string"),
        lit(".1 tel +1555"),
        (col("doc_id") + 1000000).cast("string")))
    ext.Text.piiReport(salted)
      .select(col("doc_id"), col("n_email"), col("n_ipv4"), col("n_phone"),
        col("scrubbed"), length(col("scrubbed")).cast("long").as("n_scrubbed_chars"))
  }

  /** Context-window chunking on the gate: every (doc, chunk) row with its
    * text — the oracle re-derives chunk counts, offsets, and substrings,
    * so an off-by-one in the stride arithmetic or a lost final short
    * chunk breaks the row set.
    */
  def chunkReport(spark: SparkSession, sfDir: String): DataFrame =
    ext.Text.chunk(Sources.documents(spark, sfDir), window = 200, stride = 150)
      .select("doc_id", "chunk_idx", "chunk_text", "n_chunk_chars")

  /** Deterministic stratified sampling on the gate: overrepresented `en`
    * is kept at 50%, `zh` at 25%, everything else fully — per-language
    * before/after doc counts and surviving token totals. The oracle
    * recomputes every keep decision from the SQL rolling-hash fold, so
    * the exact surviving SET is pinned, not just its approximate size.
    */
  def sampleStrataReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    val kept = ext.Text.sampleStrata(docs, Map("en" -> 500, "zh" -> 250))
    docs.groupBy("lang").agg(count(lit(1)).as("n_before"))
      .join(kept.select(col("lang"),
          size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_after"), sum("n_tok").as("tokens_after")),
        Seq("lang"), "left")
      .select(col("lang"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("tokens_after"), lit(0L)).as("tokens_after"))
  }

  /** Sequence packing on the gate: documents packed into 2048-token
    * contiguous bins via the two-level distributed prefix scan, reported
    * per bin. The oracle computes the SAME assignment with a naive global
    * window cumsum — so the scan decomposition (block sums + block
    * offsets + in-block windows) must be bit-identical to the
    * single-partition formulation it replaces at scale.
    */
  def packReport(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Sources.documents(spark, sfDir)
      .select(col("doc_id"),
        size(ext.Text.tokens(col("text"))).cast("long").as("n_tok"))
    ext.Pack.packContiguous(toks, budget = 2048L, blockSize = 64L)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens_sum"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
  }

  /** Curriculum shard export: every document's exact global rank in
    * `(n_chars, doc_id)` order (shortest-first — the classic length
    * curriculum) plus the sized shard / in-shard position a
    * curriculum-ordered export writes — computed by the scalable
    * range-partition + offset-stitch rank, which the oracle's single
    * global `row_number()` must match row-for-row.
    */
  def curriculum(spark: SparkSession, sfDir: String): DataFrame =
    ext.Pack.shardByRank(Sources.documents(spark, sfDir),
      orderCol = "n_chars", shardSize = 64L)

  /** REAL tokenizer on the gate: per-document greedy longest-match token
    * counts against the fixture vocabulary — the oracle re-tokenizes
    * every distinct word through a recursive CTE replaying the same
    * longest-prefix rule, so one mis-segmented word anywhere in the
    * corpus breaks the per-doc counts.
    */
  def bpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    ext.Bpe.tokenCounts(Sources.documents(spark, sfDir))

  /** X4's remaining stand-in closed: the merge table is LEARNED from the
    * corpus (distributed pair-counting loop, deterministic tie-breaks) and
    * the oracle replays the SAME training iterations in SQL — word-
    * frequency table, per-step argmax pair, leftmost non-overlapping merge
    * application — so a drifted tie-break, a wrong apply order, or a
    * miscounted pair breaks the hash on rank, symbols, AND weight.
    */
  def bpeLearn(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ext.Bpe.learnMerges(Sources.documents(spark, sfDir), numMerges = 6)
      .zipWithIndex
      .map { case ((l, r, w), i) => (i + 1L, l, r, w) }
      .toDF("rank", "left_sym", "right_sym", "weight")
  }

  /** `q_bpe_tokens` re-run against the LEARNED vocabulary: greedy
    * longest-prefix token counts where the vocab is corpus chars plus the
    * learned merges' products. The oracle learns the same vocab in SQL
    * (the unrolled training chain) and feeds it to the same recursive-CTE
    * tokenizer the fixture-vocab gate uses.
    */
  def bpeTokensLearned(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    ext.Bpe.tokenCounts(docs, ext.Bpe.learnedVocab(docs, numMerges = 6))
  }

  /** Sequence packing on REAL token counts — what a training run actually
    * budgets context windows with (the `q_pack` twin swapped from the
    * whitespace estimate to the tokenizer).
    */
  def packBpe(spark: SparkSession, sfDir: String): DataFrame =
    ext.Pack.packContiguous(
        ext.Bpe.tokenCounts(Sources.documents(spark, sfDir)),
        budget = 2048L, blockSize = 64L, tokCol = "n_bpe")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("tokens_sum"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))

  /** Length histogram on REAL token counts (the `q_token_hist` twin). */
  def tokenHistBpe(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Sources.documents(spark, sfDir)
    ext.Bpe.tokenCounts(docs)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang"), expr("n_bpe div 64").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe").as("tokens_sum"),
        min("n_bpe").as("tok_min"), max("n_bpe").as("tok_max"))
  }
}

/** DuckDB twins. Each mirrors its Spark query's arithmetic exactly — same
  * decimal partials, same final double ops — so hashes match bit-for-bit.
  */
object Oracles {

  /** The exact-partials downsample CTE at bucket duration `durSeconds`.
    * `finalWhere` optionally restricts the emitted buckets (e.g. to the
    * watermark-finalized set for the streaming twin).
    */
  def downsample(durSeconds: Long, finalWhere: String = ""): String = {
    val durUs = durSeconds * 1000000L
    s"""WITH part AS (
  SELECT user_id, event_type,
    make_timestamp((epoch_us(ts) // $durUs) * $durUs) AS bucket_start,
    count(*) AS cnt,
    sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(value) AS vmin, max(value) AS vmax,
    sum(CAST(CAST(value*value AS VARCHAR) AS DECIMAL(38,10))) AS vsumsq,
    min(ts) AS tfirst, max(ts) AS tlast,
    sum(CAST(epoch_us(ts) AS DECIMAL(38,0))) AS tsum_us
  FROM events GROUP BY 1, 2, 3)
SELECT user_id, event_type, bucket_start,
  CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE) AS "mean",
  CAST(vsum AS DOUBLE) AS "sum",
  vmin AS "min", vmax AS "max",
  CAST(vsumsq AS DOUBLE) AS sum_squares,
  $stdDevSql,
  cnt AS "count",
  tfirst AS t_first,
  make_timestamp(CAST(CAST(tsum_us AS HUGEINT) // cnt AS BIGINT)) AS t_mean,
  tlast AS t_last
FROM part$finalWhere"""
  }

  /** std_dev with the SAME cancellation clamp as `Downsample.finalizeView`:
    * relative variance ≤ 1e-12·mean² is decimal→double conversion noise —
    * zero on both sides, whatever each engine's cast rounding did.
    */
  private val stdDevSql: String = {
    val m = "(CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE))"
    val varRaw = s"greatest(0.0, CAST(vsumsq AS DOUBLE) / CAST(cnt AS DOUBLE) - $m * $m)"
    s"sqrt(CASE WHEN $varRaw <= $m * $m * 1e-12 THEN 0.0 ELSE $varRaw END) AS std_dev"
  }

  /** Streaming twin: the minutes downsample restricted to buckets the
    * watermark finalized — append mode with delay 0 emits a window once the
    * ms-floored max event time reaches its end.
    */
  val streamingCascade: String = downsample(60L,
    "\nWHERE epoch_us(bucket_start) + 60000000 <= " +
      "(SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events)")

  /** Same exact-partials hours rollup, restricted to the one warehoused
    * stream — every bucket is complete before the query's `until`.
    */
  val warehouseE2E: String =
    """WITH part AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt,
    sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(value) AS vmin, max(value) AS vmax,
    sum(CAST(CAST(value*value AS VARCHAR) AS DECIMAL(38,10))) AS vsumsq,
    min(ts) AS tfirst, max(ts) AS tlast
  FROM events WHERE user_id = 7 AND event_type = 'click'
  GROUP BY 1)
SELECT '7:click' AS stream_id, bucket_start,
  cnt AS "count", vmax AS "max",
  CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE) AS "mean",
  vmin AS "min",
  """ + stdDevSql + """,
  CAST(vsum AS DOUBLE) AS "sum",
  CAST(vsumsq AS DOUBLE) AS sum_squares,
  tfirst AS t_first, tlast AS t_last
FROM part ORDER BY bucket_start"""

  /** Tag-CRUD twin: the expected probe→stream match set with datapoint
    * counts from events. `team_alpha` intentionally yields no row — both
    * streams must have lost or overridden that tag.
    */
  /** Tag-scan twin: the hot streams' pre-cut rows, inclusive end bound —
    * the pruned multi-stream read must reproduce plain SQL filters.
    */
  val findStreamsScan: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
  count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events
WHERE ((user_id = 7 AND event_type = 'click')
    OR (user_id = 3 AND event_type = 'view'))
  AND ts <= TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1"""

  val tagCrud: String =
    """SELECT 'team_beta' AS probe, '7:click' AS stream_id, count(*) AS n_rows
FROM events WHERE user_id = 7 AND event_type = 'click'
UNION ALL
SELECT 'tier_hot', '7:click', count(*)
FROM events WHERE user_id = 7 AND event_type = 'click'
UNION ALL
SELECT 'type_view', '3:view', count(*)
FROM events WHERE user_id = 3 AND event_type = 'view'"""

  /** Time-travel twin: per-phase stats recomputed from events with the same
    * Jan-15 cut — the as-of phase sees only slice A of BOTH streams (3:view
    * is deleted after the capture; the pinned read must still serve it),
    * the current phase sees 7:click's full history only. Registry probes
    * are literal: as of the capture 7:click carried team=alpha and 3:view
    * existed; currently team=beta and 3:view is gone.
    */
  val timeTravel: String =
    """SELECT 'as_of' AS phase, '7:click' AS stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events WHERE user_id = 7 AND event_type = 'click'
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL
SELECT 'as_of', '3:view', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 3 AND event_type = 'view'
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL
SELECT 'current', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 7 AND event_type = 'click'
UNION ALL
SELECT * FROM (VALUES
  ('reg_asof_alpha', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('reg_asof_beta',  '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('reg_asof_view',  '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('reg_cur_alpha',  '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('reg_cur_beta',   '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('reg_cur_view',   '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE))) AS r(a, b, c, d)"""

  /** History-ledger twin: the literal commit sequence (ensure and vacuum
    * never commit; append, downsample, compact each commit exactly once).
    */
  /** SQL-surface twin: the registry⋈fact join and the hours view
    * recomputed from events with the takedown window filtered out; bucket
    * counts and surviving-row totals are exact integers on both sides.
    */
  val sqlSurface: String =
    """WITH survive AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE ((user_id = 7 AND event_type = 'click')
      OR (user_id = 3 AND event_type = 'view'))
    AND NOT (user_id = 7 AND event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts < TIMESTAMP '2024-01-20 00:00:00'))
SELECT 'fact' AS phase, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM survive GROUP BY 2
UNION ALL
SELECT 'hours', stream_id,
  count(DISTINCT epoch_us(ts) // 3600000000),
  CAST(count(*) AS DOUBLE)
FROM survive GROUP BY 2
UNION ALL
SELECT 'pending', '-', CAST(1 AS BIGINT), 0.0"""

  /** Row-delete twin: every phase recomputed from events with the two
    * deleted ranges filtered out — `pts` is the full two-stream slice,
    * `survive` the post-delete world. `current` (merge-on-read active) and
    * `applied` (after the physical rewrite) must be identical row sets;
    * the hour rows pin the repaired rollup across the deleted window.
    */
  val rowDelete: String =
    """WITH pts AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value,
    ((user_id = 7 AND event_type = 'click'
        AND ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts < TIMESTAMP '2024-01-20 00:00:00')
      OR (user_id = 3 AND event_type = 'view'
        AND ts >= TIMESTAMP '2024-01-01 00:00:00'
        AND ts < TIMESTAMP '2024-01-15 00:00:00')) AS deleted
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view')),
survive AS (SELECT * FROM pts WHERE NOT deleted),
hourly AS (
  SELECT stream_id,
    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS b,
    count(*) AS c, CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s
  FROM survive WHERE stream_id = '7:click' GROUP BY 1, 2)
SELECT 'current' AS phase, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM survive GROUP BY 2
UNION ALL
SELECT 'applied', stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM survive GROUP BY 2
UNION ALL
SELECT 'as_of', stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM pts GROUP BY 2
UNION ALL
SELECT 'hour:' || strftime(b, '%Y-%m-%d %H:%M'), stream_id, c, s
FROM hourly
WHERE b >= TIMESTAMP '2024-01-09 00:00:00'
  AND b < TIMESTAMP '2024-01-21 00:00:00'
UNION ALL
SELECT 'deleted', '-',
  (SELECT count(*) FROM pts WHERE deleted), 0.0
UNION ALL
SELECT 'count_all', '-', (SELECT count(*) FROM survive), 0.0
UNION ALL
SELECT 'count_red_win', '-',
  (SELECT count(*) FROM survive
   WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
     AND ts < TIMESTAMP '2024-01-20 00:00:00'), 0.0
UNION ALL
SELECT 'pending', '-', CAST(1 AS BIGINT), 0.0
UNION ALL
SELECT 'applied_pending', '-', CAST(0 AS BIGINT), 0.0"""

  /** Upsert twin: replay the merge generically — update rows replace by
    * key anti-join (a shifted insert key colliding with a real row becomes
    * a replace on both engines identically), then recompute every emitted
    * phase from the merged row set. The CTE prelude is shared with the
    * streaming-restatement twin. */
  private val upsertCte: String =
    """WITH pts AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view')),
upd AS (
  SELECT stream_id, ts, max(value) + CAST(1000 AS DOUBLE) AS value FROM pts
  WHERE stream_id = '7:click'
    AND ts >= TIMESTAMP '2024-01-05 00:00:00'
    AND ts < TIMESTAMP '2024-01-20 00:00:00'
  GROUP BY 1, 2
  UNION ALL
  SELECT stream_id, ts + INTERVAL 1 MICROSECOND,
    max(value * CAST(2 AS DOUBLE)) FROM pts
  WHERE stream_id = '3:view'
    AND ts >= TIMESTAMP '2024-01-01 00:00:00'
    AND ts < TIMESTAMP '2024-01-15 00:00:00'
  GROUP BY 1, 2
  UNION ALL
  SELECT '7:click', TIMESTAMP '2023-12-25 10:30:00', CAST(42 AS DOUBLE)),
merged AS (
  SELECT p.stream_id, p.ts, p.value FROM pts p
  WHERE NOT EXISTS (SELECT 1 FROM upd u
    WHERE u.stream_id = p.stream_id AND u.ts = p.ts)
  UNION ALL
  SELECT stream_id, ts, value FROM upd),
hourly AS (
  SELECT stream_id,
    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS b,
    count(*) AS c, CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s
  FROM merged WHERE stream_id = '7:click' GROUP BY 1, 2)
"""

  private val upsertSharedTail: String =
    """SELECT 'current' AS phase, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM merged GROUP BY 2
UNION ALL
SELECT 'hour:' || strftime(b, '%Y-%m-%d %H:%M'), stream_id, c, s
FROM hourly
WHERE (b >= TIMESTAMP '2024-01-05 00:00:00'
    AND b < TIMESTAMP '2024-01-20 00:00:00')
   OR b = TIMESTAMP '2023-12-25 10:00:00'
UNION ALL
SELECT 'count_all', '-', (SELECT count(*) FROM merged), 0.0"""

  val upsert: String = upsertCte + upsertSharedTail + """
UNION ALL
SELECT 'as_of', stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM pts GROUP BY 2
UNION ALL
SELECT 'matched', '-',
  (SELECT count(*) FROM pts p WHERE EXISTS (SELECT 1 FROM upd u
    WHERE u.stream_id = p.stream_id AND u.ts = p.ts)), 0.0"""

  /** Streaming-restatement twin: same merged state, plus the widened
    * registry bound the streaming sink must maintain per micro-batch. */
  val streamingUpsert: String = upsertCte + upsertSharedTail + """
UNION ALL
SELECT 'bounds_view_us', '-',
  (SELECT epoch_us(max(ts)) FROM merged WHERE stream_id = '3:view'), 0.0"""

  val historyLedger: String =
    """SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'append', CAST(2 AS BIGINT)),
  (CAST(2 AS BIGINT), 'downsample', CAST(3 AS BIGINT)),
  (CAST(3 AS BIGINT), 'compact', CAST(3 AS BIGINT))) AS t(version, op, registry_gen)"""

  /** Symlink-manifest twin: the externally-read stats equal the full
    * per-stream recompute, and the listed-file count equals the
    * compacted layout's closed form — one file per populated dp_date
    * partition = distinct event dates across both streams.
    */
  val symlinkManifest: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT 'external' AS phase, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM dp GROUP BY stream_id
UNION ALL
SELECT 'n_files', '-', count(DISTINCT CAST(ts AS DATE)), CAST(0.0 AS DOUBLE)
FROM dp"""

  /** Replication twin: the replica equals the full source (both slices,
    * both streams, recomputed from events); the applied counts are
    * pinned literals — 1 (slice A), 1 (slice B applied, compaction
    * skipped), 0 (converged).
    */
  val replication: String =
    """SELECT 'replica' AS phase, '7:click' AS stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events WHERE user_id = 7 AND event_type = 'click'
UNION ALL
SELECT 'replica', '3:view', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 3 AND event_type = 'view'
UNION ALL
SELECT 'replica_after_delete', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 7 AND event_type = 'click'
  AND NOT (ts >= TIMESTAMP '2024-01-10 00:00:00'
       AND ts < TIMESTAMP '2024-01-20 00:00:00')
UNION ALL
SELECT 'replica_after_delete', '3:view', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 3 AND event_type = 'view'
UNION ALL
SELECT 'deleted', '-', count(*), 0.0
FROM events WHERE user_id = 7 AND event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'
UNION ALL
SELECT * FROM (VALUES
  ('applied_1', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('applied_2', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('applied_3', '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('applied_4', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('applied_5', '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('dst_pending', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE))) AS r(a, b, c, d)"""

  /** CDF twin: inserts are every appended row per stream (both append
    * commits share the op label, so they group together); the delete
    * commit decodes to exactly the voided window, once in the replay and
    * once in the catch-up (whose inserts are slice B only). The HAVING
    * guards mirror "an empty delete never commits".
    */
  val changefeedDeletes: String =
    """WITH pts AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view')),
del AS (
  SELECT * FROM pts WHERE stream_id = '7:click'
    AND ts >= TIMESTAMP '2024-01-05 00:00:00'
    AND ts < TIMESTAMP '2024-01-10 00:00:00')
SELECT 'replay' AS phase, 'insert' AS _change_type, 'append' AS op,
  stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM pts GROUP BY 4
UNION ALL
SELECT 'replay', 'delete', 'delete_datapoints', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM del HAVING count(*) > 0
UNION ALL
SELECT 'catchup', 'delete', 'delete_datapoints', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM del HAVING count(*) > 0
UNION ALL
SELECT 'catchup', 'insert', 'append', stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM pts WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY 4"""

  /** Rollup-changefeed twin: hour buckets of the full stream with
    * bucket_start at or past the first watermark — exactly what the
    * second maintenance pass finalized — with the same decimal partials
    * as every downsample oracle; commit_delta 2 (append between the
    * cursor and the downsample) and the op pinned literally.
    */
  val rollupChangefeed: String =
    """WITH part AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt,
    sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(value) AS vmin, max(value) AS vmax,
    min(ts) AS tfirst, max(ts) AS tlast
  FROM events WHERE user_id = 7 AND event_type = 'click'
  GROUP BY 1)
SELECT CAST(2 AS BIGINT) AS commit_delta, 'downsample' AS op,
  '7:click' AS stream_id, bucket_start, cnt,
  CAST(vsum AS DOUBLE) AS vsum, vmin, vmax, tfirst, tlast
FROM part WHERE bucket_start >= TIMESTAMP '2024-01-10 00:00:00'"""

  /** Restore twin: `restored` is slice A per stream (plus the alpha tag
    * back), `forward` the full range (beta tag back). Registry probes ride
    * the stats schema as pinned literals, exactly like the time-travel
    * oracle.
    */
  val restoreGate: String =
    """SELECT 'restored' AS phase, '7:click' AS stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events WHERE user_id = 7 AND event_type = 'click'
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL
SELECT 'restored', '3:view', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 3 AND event_type = 'view'
  AND ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL
SELECT 'forward', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 7 AND event_type = 'click'
UNION ALL
SELECT 'forward', '3:view', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM events WHERE user_id = 3 AND event_type = 'view'
UNION ALL
SELECT * FROM (VALUES
  ('restored_alpha', '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('restored_beta',  '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('forward_alpha',  '-', CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE)),
  ('forward_beta',   '-', CAST(1 AS BIGINT), CAST(0.0 AS DOUBLE))) AS r(a, b, c, d)"""

  /** Changefeed twin: slice A is commit 1 (both streams), the per-stream
    * post-cut slices are commits 2 (7:click) and 3 (3:view); compaction
    * (commit 4) is skipped as a row-preserving rewrite. `catchup` deltas
    * are against the cursor (version 1), `replay` deltas against 0.
    */
  val changefeed: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT 'catchup' AS phase,
  CAST(CASE WHEN stream_id = '7:click' THEN 1 ELSE 2 END AS BIGINT) AS commit_delta,
  'append' AS op, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM dp WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY stream_id
UNION ALL
SELECT 'replay', CAST(1 AS BIGINT), 'append', stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM dp WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY stream_id
UNION ALL
SELECT 'replay',
  CAST(CASE WHEN stream_id = '7:click' THEN 2 ELSE 3 END AS BIGINT), 'append',
  stream_id, count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
FROM dp WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY stream_id"""

  /** Metadata-count twin: every arm recomputed as a plain count over
    * events with the same INCLUSIVE bounds; `asof` counts only the
    * pre-cut commit.
    */
  val statsCount: String =
    """WITH dp AS (
  SELECT ts, CAST(user_id AS VARCHAR) || ':' || event_type AS sid FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT 'all' AS label, count(*) AS n FROM dp
UNION ALL SELECT 'mid', count(*) FROM dp
  WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
    AND ts <= TIMESTAMP '2024-01-20 00:00:00'
UNION ALL SELECT 'asof', count(*) FROM dp
  WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
UNION ALL SELECT 'future', count(*) FROM dp
  WHERE ts >= TIMESTAMP '2030-01-01 00:00:00'
UNION ALL SELECT 'stream', count(*) FROM dp WHERE sid = '7:click'"""

  /** Rollup-count twin: DISTINCT (stream, minute-bucket) straight from
    * events for each [[Queries.statsRollupCount]] arm.
    */
  val statsRollupCount: String =
    """WITH dp AS (
  SELECT ts, CAST(user_id AS VARCHAR) || ':' || event_type AS sid FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT 'rollup_all' AS label, count(*) AS n FROM
  (SELECT DISTINCT sid, epoch_us(ts) // 60000000 FROM dp) b
UNION ALL SELECT 'rollup_mid', count(*) FROM
  (SELECT DISTINCT sid, (epoch_us(ts) // 60000000) * 60000000 AS bs FROM dp) b
  WHERE bs >= epoch_us(TIMESTAMP '2024-01-10 00:00:00')
    AND bs <= epoch_us(TIMESTAMP '2024-01-20 00:00:00')
UNION ALL SELECT 'rollup_stream', count(*) FROM
  (SELECT DISTINCT sid, epoch_us(ts) // 60000000 FROM dp
   WHERE sid = '7:click') b"""

  /** DESCRIBE DETAIL twin: the raw row count and µs bounds recomputed
    * from events; derived pinned empty-but-known.
    */
  val tableDetail: String =
    """WITH dp AS (
  SELECT ts FROM events WHERE user_id = 7 AND event_type = 'click')
SELECT 'raw' AS "table", count(*) AS n_rows, true AS has_files,
  true AS bytes_known,
  min(epoch_us(ts)) AS ts_min_us, max(epoch_us(ts)) AS ts_max_us
FROM dp
UNION ALL
SELECT 'derived', 0, false, true,
  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)"""

  /** Z-order twin: the rewrite must be layout-only — per-stream counts
    * and decimal sums straight from events, the ranged arm re-filtered,
    * `layout_ok` pinned TRUE (a rewrite that failed to split files or to
    * prune on either dimension flips it and breaks the hash).
    */
  /** Evolution twin: NULL before the cut (pre-evolution files), exact
    * `value / 2.0` after it — counts and a DECIMAL(38,10)-accumulated sum
    * recomputed straight from events.
    */
  val schemaEvolution: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT stream_id, count(*) AS n_rows,
  CAST(count(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
    THEN 1 END) AS BIGINT) AS n_quality,
  CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
    THEN CAST(value / CAST(2.0 AS DOUBLE) AS DECIMAL(38,10)) END)
    AS DOUBLE) AS quality_sum
FROM dp GROUP BY 1"""

  /** Changefeed-evolution twin: commit_seq 1 replays the pre-evolution
    * append (quality null-filled by the evolved projection: n_quality 0,
    * quality_sum null), commit_seq 2 the post-evolution append (quality
    * populated on every row). The add_column commit contributes no rows,
    * so exactly these two sequences exist.
    */
  val changesEvolved: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view'))
SELECT CAST(1 AS BIGINT) AS commit_seq, 'append' AS op, stream_id,
  count(*) AS n_rows, CAST(0 AS BIGINT) AS n_quality,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum,
  CAST(NULL AS DOUBLE) AS quality_sum
FROM dp WHERE ts < TIMESTAMP '2024-01-15 00:00:00' GROUP BY stream_id
UNION ALL
SELECT CAST(2 AS BIGINT), 'append', stream_id, count(*), count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE),
  CAST(sum(CAST(value / CAST(2.0 AS DOUBLE) AS DECIMAL(38,10))) AS DOUBLE)
FROM dp WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' GROUP BY stream_id"""

  /** Matrix twin: every cell recomputed from events — per (stream,
    * minute bucket) the decimal-accumulated mean, pivoted by conditional
    * aggregation over the window.
    */
  val getDataMatrix: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS sid, ts, value
  FROM events
  WHERE (user_id = 7 AND event_type = 'click')
     OR (user_id = 3 AND event_type = 'view')),
b AS (
  SELECT sid,
    make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS bucket_start,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
      / CAST(count(*) AS DOUBLE) AS mean
  FROM dp GROUP BY 1, 2)
SELECT bucket_start,
  max(CASE WHEN sid = '3:view' THEN mean END) AS "3:view",
  max(CASE WHEN sid = '7:click' THEN mean END) AS "7:click"
FROM b
WHERE bucket_start >= TIMESTAMP '2024-01-10 00:00:00'
  AND bucket_start <= TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1"""

  val zorderCompaction: String =
    """WITH dp AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events)
SELECT 'full' AS phase, stream_id, count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum,
  true AS layout_ok
FROM dp GROUP BY 2
UNION ALL
SELECT 'ranged', '7:click', count(*),
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), true
FROM dp
WHERE stream_id = '7:click'
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'"""

  val getDataRange: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
FROM events
WHERE user_id = 7 AND event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
ORDER BY ts"""

  val getDataReverse: String =
    """WITH part AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt, sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(ts) AS t_first, max(ts) AS t_last
  FROM events GROUP BY 1, 2)
SELECT stream_id, bucket_start,
  CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE) AS "mean", cnt AS "count",
  t_first, t_last
FROM part
WHERE stream_id = '3:view'
  AND bucket_start >= TIMESTAMP '2024-01-05 00:00:00'
  AND bucket_start < TIMESTAMP '2024-01-25 00:00:00'
ORDER BY bucket_start DESC"""

  val findStreamsSemijoin: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
  count(*) AS n_datapoints,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events WHERE event_type = 'click'
GROUP BY 1"""

  /** Streaming-ladder twin: hours buckets whose end ≤ M (max finalized
    * minutes bucket start — level 2's watermark after draining level 1's
    * sink). Every such hour contains all its finalized minutes, so the
    * direct hourly aggregation is the exact expected merge.
    */
  val streamingLadder: String =
    """WITH wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS w FROM events),
mfin AS (
  SELECT max((epoch_us(ts) // 60000000) * 60000000) AS m
  FROM events, wm
  WHERE (epoch_us(ts) // 60000000) * 60000000 + 60000000 <= wm.w),
part AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt,
    sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(value) AS vmin, max(value) AS vmax,
    sum(CAST(CAST(value*value AS VARCHAR) AS DECIMAL(38,10))) AS vsumsq,
    min(ts) AS tfirst, max(ts) AS tlast,
    sum(CAST(epoch_us(ts) AS DECIMAL(38,0))) AS tsum_us
  FROM events GROUP BY 1, 2)
SELECT stream_id, bucket_start,
  CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE) AS "mean",
  CAST(vsum AS DOUBLE) AS "sum",
  vmin AS "min", vmax AS "max",
  CAST(vsumsq AS DOUBLE) AS sum_squares,
  """ + stdDevSql + """,
  cnt AS "count",
  tfirst AS t_first,
  make_timestamp(CAST(CAST(tsum_us AS HUGEINT) // cnt AS BIGINT)) AS t_mean,
  tlast AS t_last
FROM part
WHERE epoch_us(bucket_start) + 3600000000 <= (SELECT m FROM mfin)"""

  /** Ingest twin: per-stream count/sum/bounds straight from the source —
    * equal iff the streaming sink delivered every row exactly once.
    */
  val streamingIngest: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
  count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum,
  min(ts) AS t_min, max(ts) AS t_max
FROM events GROUP BY 1"""

  /** Warehouse-ingest twin: per-stream stats AND the registry bounds the
    * ingest must have maintained, all from the source — `reg_earliest`/
    * `reg_latest` equal to true min/max is the bounds-maintenance claim.
    */
  val streamingWarehouse: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
  count(*) AS n_rows,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum,
  min(ts) AS t_min, max(ts) AS t_max,
  min(ts) AS reg_earliest, max(ts) AS reg_latest
FROM events GROUP BY 1"""

  /** Nested-path tag query twin: `meta.parity=odd` ⇔ odd user_id (how the
    * registry derives the nested tag document), plus the flat type tag.
    */
  val findStreamsNested: String =
    """SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
  count(*) AS n_datapoints,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events WHERE event_type = 'click' AND user_id % 2 = 1
GROUP BY 1"""

  /** Tag-operator twin: each probe's stream predicate re-expressed on the
    * raw event columns (user tag ⇔ user_id, type tag ⇔ event_type, nested
    * parity ⇔ user_id % 2; `tier` exists on no stream, `meta.parity` on
    * all).
    */
  val findStreamsOps: String =
    """WITH s AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
    user_id, event_type,
    count(*) AS n_datapoints,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
  FROM events GROUP BY 1, 2, 3)
SELECT 'range_in' AS probe, stream_id, n_datapoints, value_sum FROM s
WHERE user_id >= 30 AND user_id < 80 AND event_type IN ('click', 'view')
UNION ALL
SELECT 'prefix', stream_id, n_datapoints, value_sum FROM s
WHERE event_type LIKE 'cl%'
UNION ALL
SELECT 'nested_in', stream_id, n_datapoints, value_sum FROM s
WHERE user_id % 2 = 1 AND user_id <= 20
UNION ALL
SELECT 'missing', stream_id, n_datapoints, value_sum FROM s
WHERE user_id > 140
UNION ALL
SELECT 'ne', stream_id, n_datapoints, value_sum FROM s
WHERE event_type <> 'click' AND user_id <= 10
UNION ALL
SELECT 'nin', stream_id, n_datapoints, value_sum FROM s
WHERE user_id > 150"""

  /** `$or`/`$regex` twin: each probe's document re-expressed on the raw
    * event columns. DuckDB `regexp_matches` is unanchored (find-anywhere),
    * matching Spark `rlike` and Mongo bare-`$regex` semantics exactly.
    */
  val findStreamsOr: String =
    """WITH s AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
    user_id, event_type,
    count(*) AS n_datapoints,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
  FROM events GROUP BY 1, 2, 3)
SELECT 'or_ranges' AS probe, stream_id, n_datapoints, value_sum FROM s
WHERE (user_id < 20 OR user_id >= 140) AND event_type IN ('click', 'view')
UNION ALL
SELECT 'regex', stream_id, n_datapoints, value_sum FROM s
WHERE regexp_matches(event_type, 'rr|up$')
UNION ALL
SELECT 'or_nested', stream_id, n_datapoints, value_sum FROM s
WHERE (user_id % 2 = 1 AND user_id <= 10)
   OR regexp_matches(event_type, '^pu.*se$')"""

  /** Forward-ordered downsampled fetch with limit 5 / offset 3 —
    * bucket_start is unique per stream, so the page is a deterministic set
    * even under the gate's order-insensitive hash.
    */
  val getDataPaginated: String =
    """WITH part AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id,
    make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt, sum(CAST(value AS DECIMAL(38,10))) AS vsum,
    min(ts) AS t_first, max(ts) AS t_last
  FROM events GROUP BY 1, 2)
SELECT stream_id, bucket_start,
  CAST(vsum AS DOUBLE) / CAST(cnt AS DOUBLE) AS "mean", cnt AS "count",
  t_first, t_last
FROM part
WHERE stream_id = '3:view'
ORDER BY bucket_start LIMIT 5 OFFSET 3"""

  /** Survivor counts after deleting 3:view: raw + every rollup level of the
    * remaining 7:click stream, recomputed straight from events. Until
    * 2024-02-01 is aligned to every ladder duration and past all events, so
    * each level's row count is its distinct-bucket count.
    */
  val deleteStreamsE2E: String =
    """WITH pts AS (SELECT ts FROM events WHERE user_id = 7 AND event_type = 'click')
SELECT 'raw' AS level, '7:click' AS stream_id, count(*) AS n_rows FROM pts
UNION ALL SELECT 'minutes', '7:click', count(DISTINCT epoch_us(ts) // 60000000) FROM pts
UNION ALL SELECT 'minutes10', '7:click', count(DISTINCT epoch_us(ts) // 600000000) FROM pts
UNION ALL SELECT 'hours', '7:click', count(DISTINCT epoch_us(ts) // 3600000000) FROM pts
UNION ALL SELECT 'hours6', '7:click', count(DISTINCT epoch_us(ts) // 21600000000) FROM pts
UNION ALL SELECT 'days', '7:click', count(DISTINCT epoch_us(ts) // 86400000000) FROM pts"""

  /** Compaction twin: per-level row counts and decimal-exact totals
    * recomputed straight from events (one stream carries all of them, so
    * every level's value_sum is the SAME total decimal mass — compaction
    * and the cascade both preserve it), plus the pinned file-health
    * booleans. Derived rows carry NULL value_sum (per-bucket double
    * re-summation is order-sensitive; counts still pin the row set).
    */
  val compaction: String =
    """WITH tot AS (
  SELECT count(*) AS n,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS s
  FROM events),
b AS (
  SELECT count(DISTINCT epoch_us(ts) // 3600000000) AS n_h,
    count(DISTINCT epoch_us(ts) // 86400000000) AS n_d
  FROM events)
SELECT 'raw' AS level, 'all:ev' AS stream_id, n AS n_rows, s AS value_sum,
  true AS files_reduced, true AS compacted_single_file FROM tot
UNION ALL SELECT 'raw', 'd:sum', n_h, CAST(NULL AS DOUBLE), true, true FROM b
UNION ALL SELECT 'hours', 'all:ev', n_h, (SELECT s FROM tot), true, true FROM b
UNION ALL SELECT 'hours', 'd:sum', n_h, CAST(NULL AS DOUBLE), true, true FROM b
UNION ALL SELECT 'days', 'all:ev', n_d, (SELECT s FROM tot), true, true FROM b
UNION ALL SELECT 'days', 'd:sum', n_d, CAST(NULL AS DOUBLE), true, true FROM b"""

  /** Reprocess-equivalence twin: per level, the expected rollup row count
    * before AND after a from-scratch rebuild, with zero symmetric-difference
    * rows — the Spark side computes n_diff by exceptAll over every partial
    * column, so 0 here certifies a bit-identical rebuild.
    */
  val reprocessEquiv: String =
    """WITH pts AS (SELECT ts FROM events WHERE user_id = 7 AND event_type = 'click')
SELECT 'minutes' AS level,
  count(DISTINCT epoch_us(ts) // 60000000) AS n_before,
  count(DISTINCT epoch_us(ts) // 60000000) AS n_after,
  CAST(0 AS BIGINT) AS n_diff FROM pts
UNION ALL SELECT 'days',
  count(DISTINCT epoch_us(ts) // 86400000000),
  count(DISTINCT epoch_us(ts) // 86400000000),
  CAST(0 AS BIGINT) FROM pts"""

  /** Wire-shape twin: rebuilds the exact `{"t": …, "v": …}` JSON bytes —
    * DuckDB strftime `%f` is the same zero-padded 6-digit microsecond field
    * as the engine's ISO pattern.
    */
  val wireRender: String =
    """WITH part AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt
  FROM events WHERE user_id = 3 AND event_type = 'view' GROUP BY 1)
SELECT '{"t":"' || strftime(bucket_start, '%Y-%m-%dT%H:%M:%S.%f') || 'Z","v":' || cnt || '}'
  AS datapoint
FROM part"""

  /** Wire round-trip twin: the stats of the datapoints the wire JSON
    * encodes, straight from events — equal iff parse ∘ render = id.
    */
  val wireRoundtrip: String =
    """WITH part AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    count(*) AS cnt
  FROM events WHERE user_id = 3 AND event_type = 'view' GROUP BY 1)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
  CAST(sum(cnt) AS BIGINT) AS v_sum,
  min(bucket_start) AS t_min, max(bucket_start) AS t_max
FROM part"""

  /** F4 twin, facade half: the exact error class each invalid API
    * operation must raise.
    */
  val validationApiErrors: String =
    """SELECT * FROM (VALUES
  ('granularity_unknown', 'UnsupportedGranularity'),
  ('value_type_unknown', 'IllegalArgumentException'),
  ('stream_not_found', 'StreamNotFound'),
  ('derived_granularity_mismatch', 'IncompatibleGranularities'),
  ('getdata_finer_than_highest', 'UnsupportedGranularity'),
  ('undeclared_downsampler', 'UnsupportedDownsampler'),
  ('append_to_derived', 'AppendToDerivedStreamNotAllowed'),
  ('non_monotone_append', 'InvalidTimestamp'),
  ('delete_with_dependents', 'OutstandingDependenciesError'),
  ('unknown_derive_op', 'InvalidOperatorArguments'),
  ('restore_unknown_version', 'IllegalArgumentException'),
  ('replicate_into_self', 'IllegalArgumentException'),
  ('row_delete_inverted_range', 'InvalidTimestamp'),
  ('row_delete_with_dependents', 'OutstandingDependenciesError'),
  ('symlink_with_pending_deletes', 'IllegalStateException'),
  ('upsert_to_derived', 'AppendToDerivedStreamNotAllowed'),
  ('upsert_with_dependents', 'OutstandingDependenciesError')
) AS t(check_case, error)"""

  /** F4 twin, mutation-fixture half: the pinned outcome of each
    * fresh-warehouse refusal arm.
    */
  val validationMutationErrors: String =
    """SELECT * FROM (VALUES
  ('append_constraint_violation', 'ConstraintViolation'),
  ('constraint_on_dirty_data', 'ConstraintViolation'),
  ('constraint_clean_path', 'ok'),
  ('upsert_duplicate_keys', 'IllegalArgumentException'),
  ('upsert_over_prune_bound', 'IllegalArgumentException'),
  ('add_column_incompatible', 'IllegalArgumentException'),
  ('row_delete_over_prune_bound', 'IllegalArgumentException')
) AS t(check_case, error)"""

  /** F4 twin, commit-protocol half: the pinned outcome of each
    * fault-injected concurrency arm.
    */
  val validationOccErrors: String =
    """SELECT * FROM (VALUES
  ('maintenance_lock_contended', 'MaintenanceLockContended'),
  ('commit_cas_stolen_version', 'ok'),
  ('commit_conflict_stale', 'CommitConflict'),
  ('changefeed_across_rewrite', 'IllegalStateException')
) AS t(check_case, error)"""

  /** Graph round-trip twin: totals recomputed from the source columns the
    * wire JSON was built from — 2 vertices per point, one edge when props.k
    * exists.
    */
  val graphDownsample: String =
    """SELECT user_id, event_type,
  make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
  count(*) AS "count",
  CAST(2 * count(*) AS BIGINT) AS n_vertices,
  CAST(count(json_extract_string(props, '$.k')) AS BIGINT) AS n_edges
FROM events GROUP BY 1, 2, 3"""

  /** Shared lag CTE: per-stream previous value/timestamp, ties broken by
    * event_id — mirrors Derive's window spec exactly.
    */
  private val lagCte: String =
    """WITH lagged AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value,
    lag(value) OVER w AS pv, lag(ts) OVER w AS pt
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id))"""

  val derivative: String =
    lagCte + """
SELECT stream_id, ts,
  (value - pv) / (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE) / 1000000.0) AS derivative
FROM lagged WHERE pv IS NOT NULL AND epoch_us(ts) > epoch_us(pt)"""

  val counterReset: String =
    lagCte + """
SELECT stream_id, ts, CAST(1 AS BIGINT) AS reset
FROM lagged WHERE pv IS NOT NULL AND value < pv"""

  val counterDerivative: String =
    """WITH counter AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, event_id,
    CAST(sum(CAST(floor(value * 100) AS BIGINT))
      OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) % 1000 AS BIGINT) AS c
  FROM events),
lagged AS (
  SELECT stream_id, ts, c, lag(c) OVER w AS pc, lag(ts) OVER w AS pt
  FROM counter
  WINDOW w AS (PARTITION BY stream_id ORDER BY ts, event_id))
SELECT stream_id, ts,
  (CASE WHEN c >= pc THEN CAST(c - pc AS DOUBLE)
        ELSE CAST(c AS DOUBLE) + (1000.0 - CAST(pc AS DOUBLE)) END)
    / (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE) / 1000000.0) AS counter_derivative
FROM lagged WHERE pc IS NOT NULL AND epoch_us(ts) > epoch_us(pt)"""

  /** Incremental-derive twin: both derivations recomputed in ONE shot
    * over the full source — equal to the two-step watermarked refresh iff
    * the lag stitch and append-only bucket emission are exact. Arithmetic
    * mirrors the `derivative` and `deriveSum` twins (decimal bucket sums,
    * IEEE Δt division).
    */
  val deriveIncremental: String =
    """WITH pts AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events WHERE user_id = 7 AND event_type IN ('click', 'view')),
sums AS (
  SELECT make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS ts,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value
  FROM pts GROUP BY 1),
der AS (
  SELECT ts,
    (value - pv) / (CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE) / 1000000.0) AS value
  FROM (SELECT ts, value, lag(value) OVER w AS pv, lag(ts) OVER w AS pt
        FROM pts WHERE stream_id = '7:click'
        WINDOW w AS (ORDER BY ts))
  WHERE pv IS NOT NULL AND epoch_us(ts) > epoch_us(pt))
SELECT 'sum' AS op, ts, value FROM sums
UNION ALL SELECT 'derivative', ts, value FROM der"""

  val deriveSum: String =
    """SELECT event_type,
  make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS bucket_start,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS "sum",
  count(*) AS contributing
FROM events WHERE event_type = 'click'
GROUP BY 1, 2"""

  /** Completeness twin: hourly buckets over all five event-type streams,
    * kept only when every source is present — the exact complete-bucket
    * set recomputed via count(DISTINCT).
    */
  val deriveSumAll: String =
    """WITH b AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS "sum",
    count(*) AS contributing,
    count(DISTINCT event_type) AS n_sources
  FROM events WHERE event_type IN ('click', 'view', 'purchase') GROUP BY 1)
SELECT bucket_start, "sum", contributing, n_sources
FROM b WHERE n_sources = 3"""

  /** Streaming completeness twin: the same complete-bucket set further
    * restricted to buckets the watermark finalized (hour end ≤ ms-floored
    * max event time over the three declared source streams — the
    * watermark is computed on the FILTERED stream).
    */
  val streamingDeriveSumAll: String =
    """WITH src AS (
  SELECT * FROM events WHERE event_type IN ('click', 'view', 'purchase')),
wm AS (SELECT (max(epoch_us(ts)) // 1000) * 1000 AS w FROM src),
b AS (
  SELECT make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS "sum",
    count(*) AS contributing,
    count(DISTINCT event_type) AS n_sources
  FROM src GROUP BY 1)
SELECT bucket_start, "sum", contributing, n_sources
FROM b, wm WHERE n_sources = 3 AND epoch_us(bucket_start) + 3600000000 <= wm.w"""

  /** Streaming W1 twin: the batch derive-sum restricted to buckets the
    * watermark finalized (append mode, delay 0, ms-floored max CLICK event
    * time — the watermark is computed on the filtered stream).
    */
  val streamingDeriveSum: String =
    """WITH agg AS (
  SELECT event_type,
    make_timestamp((epoch_us(ts) // 60000000) * 60000000) AS bucket_start,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS "sum",
    count(*) AS contributing
  FROM events WHERE event_type = 'click'
  GROUP BY 1, 2)
SELECT * FROM agg
WHERE epoch_us(bucket_start) + 60000000 <=
  (SELECT (max(epoch_us(ts)) // 1000) * 1000 FROM events WHERE event_type = 'click')"""

  val dedupExact: String =
    """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1"""

  /** Normalized-dedup twin: the same canonicalization (lower, ASCII punct
    * ranges stripped, whitespace collapsed, trimmed) over originals plus
    * their adversarial twins.
    */
  val dedupNormalized: String =
    """WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000, '  ' || upper(text) || '!! ' FROM documents),
norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text),
      '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g')) AS t
  FROM all_docs)
SELECT md5(t) AS text_hash, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM norm GROUP BY 1"""

  val propsJson: String =
    """SELECT event_type,
  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
FROM events GROUP BY 1"""

  val tokenCount: String =
    """SELECT lang, count(*) AS n_docs,
  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens_sum,
  CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS chars_sum,
  max(CAST(len(string_split(text, ' ')) AS BIGINT)) AS tokens_max
FROM documents GROUP BY 1"""

  /** Pipeline3 replay: repetition filter, then span filter over the
    * survivors, then the per-lang report — the same staging order.
    */
  val corpusPipeline3: String =
    """WITH rt AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2),
rg AS (
  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g
  FROM rt),
rpc AS (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY 1, 2),
repdoomed AS MATERIALIZED (
  SELECT doc_id FROM rpc GROUP BY doc_id
  HAVING CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) > 0.06),
d2 AS MATERIALIZED (
  SELECT * FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM repdoomed)),
st AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM d2 WHERE len(string_split(text, ' ')) >= 8),
sg AS MATERIALIZED (
  SELECT doc_id, unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS g
  FROM st),
sdup AS MATERIALIZED (SELECT g FROM sg GROUP BY g HAVING count(*) > 1),
stot AS (SELECT doc_id, count(*) AS total_grams FROM sg GROUP BY doc_id),
sdg AS (SELECT sg.doc_id, count(*) AS dup_grams FROM sg JOIN sdup USING (g) GROUP BY sg.doc_id),
sdoomed AS MATERIALIZED (
  SELECT stot.doc_id FROM stot JOIN sdg ON stot.doc_id = sdg.doc_id
  WHERE CAST(sdg.dup_grams AS DOUBLE) / stot.total_grams > 0.5)
SELECT lang, count(*) AS n_docs,
  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM d2 WHERE doc_id NOT IN (SELECT doc_id FROM sdoomed)
GROUP BY lang"""

  /** Duplicated 8-token spans, string-keyed — the exact semantics
    * `Dedup.substringOverlap` computes (the Spark gate arm also runs
    * string keys; hashed keys are gated via `substringDrop`).
    */
  val substringDedup: String =
    """WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 8),
g AS MATERIALIZED (
  SELECT doc_id,
    unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS g
  FROM t),
dup AS MATERIALIZED (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
tot AS (SELECT doc_id, count(*) AS total_grams FROM g GROUP BY doc_id),
dg AS (SELECT g.doc_id, CAST(count(*) AS BIGINT) AS dup_grams
       FROM g JOIN dup USING (g) GROUP BY g.doc_id)
SELECT tot.doc_id, tot.total_grams,
  CAST(coalesce(dg.dup_grams, 0) AS BIGINT) AS dup_grams,
  CAST(coalesce(dg.dup_grams, 0) AS DOUBLE) / tot.total_grams AS overlap_ratio
FROM tot LEFT JOIN dg ON tot.doc_id = dg.doc_id"""

  /** Surviving-corpus counts after dropping docs with > 0.5 duplicated-span
    * coverage — the Spark side shuffles xxhash64 gram keys, so agreement
    * with this string-keyed replay gates the hashing scheme too.
    */
  val substringDrop: String =
    """WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 8),
g AS MATERIALIZED (
  SELECT doc_id,
    unnest([array_to_string(w[i:i+7], ' ') for i in range(1, len(w) - 6)]) AS g
  FROM t),
dup AS MATERIALIZED (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
tot AS (SELECT doc_id, count(*) AS total_grams FROM g GROUP BY doc_id),
dg AS (SELECT g.doc_id, count(*) AS dup_grams
       FROM g JOIN dup USING (g) GROUP BY g.doc_id),
doomed AS (
  SELECT tot.doc_id FROM tot JOIN dg ON tot.doc_id = dg.doc_id
  WHERE CAST(dg.dup_grams AS DOUBLE) / tot.total_grams > 0.5)
SELECT lang, count(*) AS n_docs FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM doomed)
GROUP BY lang"""

  /** Exact 3-shingle Jaccard pairs ≥ 0.8 via inverted index — the exact twin
    * the LSH-banded Spark query must reproduce.
    */
  val nearDupJaccard: String =
    """WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT a, b, jaccard FROM (
  SELECT a, b, CAST(i AS DOUBLE) / (sa + sb - i) AS jaccard FROM pairs)
WHERE jaccard >= 0.8"""

  /** Connected components over the exact near-dup pairs via recursive
    * transitive closure; kept = docs that are not a non-minimal member of
    * any cluster.
    */
  val dedupCorpus: String =
    """WITH RECURSIVE sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4),
dup AS (SELECT a, b FROM cand WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.8),
edges AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
reach(id, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
doomed AS (
  SELECT id FROM (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
  WHERE cluster <> id)
SELECT lang, count(*) AS n_docs
FROM documents WHERE doc_id NOT IN (SELECT id FROM doomed)
GROUP BY 1"""

  /** Importance-sampling twin: the same hash fold, the same weight
    * arithmetic (double division and multiply — identical IEEE ops), the
    * same strict-less keep decision.
    */
  val sampleWeighted: String =
    """WITH t AS (
  SELECT lang,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 1000 AS h
  FROM documents)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens_sum
FROM t
WHERE CAST(h AS DOUBLE) <
  least(1.0, CAST(n_tok AS DOUBLE) / 64.0) * 1000.0
GROUP BY 1"""

  /** Leakage-free-split twin: the SAME connected components as
    * `dedupCorpus`, then every member takes its representative's content
    * hash bucket; `leaks` recomputed independently (must be 0).
    */
  val splitLeakFree: String =
    """WITH RECURSIVE sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4),
dup AS (SELECT a, b FROM cand WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.8),
edges AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
reach(id, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
labels AS (
  SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
members AS (
  SELECT d.doc_id, d.text, COALESCE(l.cluster, d.doc_id) AS cluster
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.id),
reps AS (
  SELECT cluster,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 10 AS split_bucket
  FROM members WHERE doc_id = cluster),
joined AS (
  SELECT m.doc_id, m.cluster, r.split_bucket
  FROM members m JOIN reps r USING (cluster)),
leak AS (
  SELECT CAST(count(*) AS BIGINT) AS leaks FROM (
    SELECT cluster FROM joined GROUP BY cluster
    HAVING count(DISTINCT split_bucket) > 1))
SELECT split_bucket, count(*) AS n_docs,
  CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
  (SELECT leaks FROM leak) AS leaks
FROM joined GROUP BY 1"""

  /** Cosine = sequential double fold / (norm·norm) — mirrors Similarity.dot
    * exactly (list_reduce's first step equals Spark aggregate's 0.0 init).
    */
  val similarityTopK: String =
    """WITH q AS (SELECT label, min(vec_id) AS query_vec_id FROM embeddings GROUP BY label),
qv AS (SELECT q.label, q.query_vec_id, e.embedding AS qvec
       FROM q JOIN embeddings e ON e.vec_id = q.query_vec_id),
scored AS (
  SELECT qv.label, qv.query_vec_id, e.vec_id,
    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
    / (sqrt(list_reduce(list_transform(range(1, len(qvec) + 1),
        i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)), (a, b) -> a + b))
     * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
    AS cosine
  FROM qv, embeddings e WHERE e.vec_id <> qv.query_vec_id)
SELECT label, query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER
    (PARTITION BY query_vec_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
WHERE rank <= 10"""

  /** The cosine fold between two embedding columns, matching the Scala
    * `dotLoop`-based cosOf exactly (ascending index fold, dot / (‖a‖·‖b‖)
    * with a's norm first). */
  private def cosSql(a: String, b: String): String =
    s"""list_reduce(list_transform(range(1, len($a) + 1),
      i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)
    / (sqrt(list_reduce(list_transform(range(1, len($a) + 1),
        i -> CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE)), (x, y) -> x + y))
     * sqrt(list_reduce(list_transform(range(1, len($b) + 1),
        i -> CAST($b[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)))"""

  /** One unrolled MMR greedy step: candidates not yet selected, scored
    * `λ·rel − (1−λ)·max cos(c, s∈selected)`, argmax with id tie-break. */
  private def mmrStep(j: Int): String = {
    val lam = "CAST(0.75 AS DOUBLE)"
    val oneMinus = "CAST(0.25 AS DOUBLE)"
    val maxsim =
      if (j == 1) "CAST(0 AS DOUBLE)"
      else {
        val prev = (1 until j).map(i => s"SELECT embedding FROM sel$i")
          .mkString(" UNION ALL ")
        s"(SELECT max(${cosSql("c.embedding", "s.embedding")}) FROM ($prev) s)"
      }
    val notIn =
      if (j == 1) ""
      else "  WHERE c.vec_id NOT IN (" +
        (1 until j).map(i => s"SELECT vec_id FROM sel$i")
          .mkString(" UNION ALL ") + ")\n"
    s"""sel$j AS MATERIALIZED (
  SELECT c.vec_id, c.rel, c.embedding,
    $lam * c.rel - $oneMinus * $maxsim AS mmr
  FROM pv c
$notIn  ORDER BY mmr DESC, c.vec_id LIMIT 1)"""
  }

  /** MMR twin: replay the greedy EXACTLY — the pool is the brute cosine
    * top-30 for query vector 0, and each of the ten picks is an unrolled
    * CTE step whose argmax, arithmetic association and id tie-break match
    * the Scala greedy bit-for-bit. */
  val similarityMmr: String =
    s"""WITH qv AS MATERIALIZED (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
pool AS MATERIALIZED (
  SELECT vec_id, cosine AS rel FROM (
    SELECT vec_id, cosine,
      CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS r
    FROM (SELECT e.vec_id, ${cosSql("qvec", "e.embedding")} AS cosine
          FROM qv, embeddings e WHERE e.vec_id <> 0))
  WHERE r <= 30),
pv AS MATERIALIZED (SELECT p.vec_id, p.rel, e.embedding
       FROM pool p JOIN embeddings e USING (vec_id)),
${(1 to 10).map(mmrStep).mkString(",\n")}
${(1 to 10).map(j =>
      s"SELECT CAST($j AS BIGINT) AS rank, vec_id, rel, mmr FROM sel$j")
      .mkString("\nUNION ALL\n")}"""

  /** Filtered-search twin: brute-force cosine top-10 over ONLY the
    * even-id corpus half — identical fold/tie-break to the top-k twin, so
    * the filter-then-score index read must land bit-identically. */
  val similarityFiltered: String =
    """WITH q AS (SELECT label, min(vec_id) AS query_vec_id FROM embeddings GROUP BY label),
qv AS (SELECT q.label, q.query_vec_id, e.embedding AS qvec
       FROM q JOIN embeddings e ON e.vec_id = q.query_vec_id),
scored AS (
  SELECT qv.label, qv.query_vec_id, e.vec_id,
    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
    / (sqrt(list_reduce(list_transform(range(1, len(qvec) + 1),
        i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)), (a, b) -> a + b))
     * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
    AS cosine
  FROM qv, embeddings e
  WHERE e.vec_id <> qv.query_vec_id AND e.vec_id % 2 = 0)
SELECT label, query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER
    (PARTITION BY query_vec_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
WHERE rank <= 10"""

  /** Index-takedown twin: brute-force top-10 over the SURVIVING corpus
    * (every 97th vector removed) — identical fold/tie-break to the top-k
    * twin, so the tombstone-filtered index read must land on bit-identical
    * rows. Queries still come from the full table (an external query
    * vector may itself have been taken down).
    */
  val indexTakedown: String =
    """WITH q AS (SELECT label, min(vec_id) AS query_vec_id FROM embeddings GROUP BY label),
qv AS (SELECT q.label, q.query_vec_id, e.embedding AS qvec
       FROM q JOIN embeddings e ON e.vec_id = q.query_vec_id),
scored AS (
  SELECT qv.label, qv.query_vec_id, e.vec_id,
    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
    / (sqrt(list_reduce(list_transform(range(1, len(qvec) + 1),
        i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)), (a, b) -> a + b))
     * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
    AS cosine
  FROM qv, embeddings e
  WHERE e.vec_id <> qv.query_vec_id AND e.vec_id % 97 <> 0)
SELECT label, query_vec_id, vec_id, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER
    (PARTITION BY query_vec_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
  FROM scored)
WHERE rank <= 10"""

  /** Recall-gate twin: every label's approximate top-10 must cover ≥ 90% of
    * the exact top-10. One row per embedding label (0–9, the fixture's
    * label space).
    */
  val recallAllLabels: String =
    "SELECT * FROM (VALUES " +
      (0 until 10).map(l => s"($l, true)").mkString(", ") +
      ") AS t(label, recall_ok)"

  /** Index-chain-compaction twin: one pinned row per index family. The
    * shard counts are fixed by the gate's own construction (build + N
    * appends → chain of N+1 shards; compaction merges to exactly 1), and
    * the three booleans are contracts, not measurements — query results
    * bit-identical across compaction, tombstones/stats physically folded,
    * vacuum reclaims the chain while serving the same rows. Any deviation
    * turns the corresponding literal false/≠1 and reds the hash compare.
    */
  val indexCompaction: String =
    "SELECT * FROM (VALUES " +
      Seq("dedup" -> 2, "ivf" -> 3, "ivfpq" -> 2, "search" -> 3, "sq8" -> 2)
        .map { case (f, nb) => s"('$f', $nb, 1, true, true, true)" }
        .mkString(", ") +
      ") AS t(family, shards_before, shards_after," +
      " results_equal, tombstones_folded, vacuum_ok)"

  /** SimHash recall twin: n_exact recomputed from the exact shingle-Jaccard
    * pair set (the same inverted-index CTE as the minhash oracle), plus the
    * pinned recall bit.
    */
  val simhashRecall: String =
    """WITH sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4)
SELECT count(*) AS n_exact, true AS recall_ok
FROM (SELECT CAST(i AS DOUBLE) / (sa + sb - i) AS jaccard FROM pairs)
WHERE jaccard >= 0.8"""

  /** Embedding near-dup recall twin: n_exact recomputed ALL-PAIRS in SQL —
    * the same ordered list_reduce fold and dot/(‖a‖·‖b‖) shape as the
    * top-k twin, so the threshold comparison lands on bit-identical
    * doubles — plus the pinned recall bit.
    */
  /** Target-coverage twin: distinct bigrams per corpus doc, distinct
    * target vocabulary, LEFT-join membership counts, exact ratio.
    */
  val targetCoverage: String =
    """WITH tgt AS MATERIALIZED (
  SELECT DISTINCT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0')),
cg AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE source <> 'src0')),
scored AS (
  SELECT d.doc_id,
    CAST(count(cg.gram) AS BIGINT) AS n_grams,
    CAST(count(tgt.gram) AS BIGINT) AS n_hit
  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
  LEFT JOIN cg ON cg.doc_id = d.doc_id
  LEFT JOIN tgt ON tgt.gram = cg.gram
  GROUP BY d.doc_id)
SELECT doc_id, n_grams, n_hit,
  CASE WHEN n_grams = 0 THEN 0.0
       ELSE CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS coverage
FROM scored
ORDER BY coverage DESC, doc_id ASC
LIMIT 25"""

  /** Pipeline-4 twin: coverage top-100 → within-selection semantic dedup →
    * per-lang report, all four stages chained.
    */
  val corpusPipeline4: String =
    """WITH tgt AS MATERIALIZED (
  SELECT DISTINCT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0')),
cg AS MATERIALIZED (
  SELECT DISTINCT doc_id, unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE source <> 'src0')),
scored AS (
  SELECT d.doc_id,
    count(cg.gram) AS n_grams, count(tgt.gram) AS n_hit
  FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
  LEFT JOIN cg ON cg.doc_id = d.doc_id
  LEFT JOIN tgt ON tgt.gram = cg.gram
  GROUP BY d.doc_id),
sel AS MATERIALIZED (
  SELECT doc_id,
    CASE WHEN n_grams = 0 THEN 0.0
         ELSE CAST(n_hit AS DOUBLE) / CAST(n_grams AS DOUBLE) END AS coverage
  FROM scored
  ORDER BY coverage DESC, doc_id ASC
  LIMIT 100),
nrm AS MATERIALIZED (
  SELECT e.vec_id, e.embedding,
    sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings e JOIN sel s ON e.vec_id = s.doc_id),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id
  WHERE list_reduce(list_transform(range(1, len(x.embedding) + 1),
      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4)
SELECT d.lang, count(*) AS n_docs,
  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS tokens_sum
FROM documents d
JOIN nrm ON nrm.vec_id = d.doc_id
WHERE d.doc_id NOT IN (SELECT vec_id FROM dropped)
GROUP BY d.lang"""

  /** Index-backed SemDeDup twin: an odd-id vector is dropped iff SOME
    * even-id (indexed) vector has cosine ≥ 0.4 to it — exhaustive probing
    * makes the engine's index decision exactly this rule — and the
    * post-append index must hold every even vector plus every survivor.
    */
  val semDedupIndex: String =
    """WITH nrm AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
dropped AS (
  SELECT DISTINCT o.vec_id
  FROM nrm o JOIN nrm e ON o.vec_id % 2 = 1 AND e.vec_id % 2 = 0
  WHERE list_reduce(list_transform(range(1, len(o.embedding) + 1),
      i -> CAST(o.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (o.nrm * e.nrm) >= 0.4),
surv AS (
  SELECT vec_id, label FROM embeddings
  WHERE vec_id % 2 = 1 AND vec_id NOT IN (SELECT vec_id FROM dropped))
SELECT s.vec_id, s.label,
  CAST((SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0) +
       (SELECT count(*) FROM surv) AS BIGINT) AS n_indexed
FROM surv s"""

  /** SemDeDup exact-arm twin: all-pairs keep-lowest-id at cosine ≥ 0.4 —
    * same ordered-double fold as every cosine here.
    */
  val semDedup: String =
    """WITH nrm AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id
  WHERE list_reduce(list_transform(range(1, len(x.embedding) + 1),
      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4)
SELECT e.vec_id, e.label FROM embeddings e
WHERE e.vec_id NOT IN (SELECT vec_id FROM dropped)"""

  /** SemDeDup recall-gate twin: pins the exact dropped count and both
    * booleans (subset_ok is structural; recall_ok is the measured gate).
    */
  val semDedupRecall: String =
    """WITH nrm AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id
  WHERE list_reduce(list_transform(range(1, len(x.embedding) + 1),
      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4)
SELECT CAST(count(*) AS BIGINT) AS n_dropped_exact,
  true AS subset_ok, true AS recall_ok
FROM dropped"""

  /** 64-cell arm: same exact-baseline twin as [[semDedupRecall]] — the
    * clustered side's gates are booleans pinned true.
    */
  val semDedupRecall64: String =
    """WITH nrm AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings),
dropped AS (
  SELECT DISTINCT y.vec_id
  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id
  WHERE list_reduce(list_transform(range(1, len(x.embedding) + 1),
      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (x.nrm * y.nrm) >= 0.4)
SELECT CAST(count(*) AS BIGINT) AS n_dropped_exact,
  true AS subset_ok, true AS recall_ok
FROM dropped"""

  val embdupRecall: String =
    """WITH nrm AS (
  SELECT vec_id, embedding,
    sqrt(list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)),
      (a, b) -> a + b)) AS nrm
  FROM embeddings)
SELECT CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
FROM (
  SELECT list_reduce(list_transform(range(1, len(x.embedding) + 1),
      i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)),
      (a, b) -> a + b) / (x.nrm * y.nrm) AS cosine
  FROM nrm x JOIN nrm y ON x.vec_id < y.vec_id)
WHERE cosine >= 0.3"""

  /** Streaming-sessions twin: the batch lag/cumsum sessionization
    * restricted to sessions CLOSED under the final watermark
    * (last event + gap ≤ global max event time) — the append-mode
    * emit-once boundary.
    */
  val streamingSessions: String =
    """WITH f AS (
  SELECT user_id, event_type, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM f),
sess AS (
  SELECT user_id, event_type,
    min(ts) AS session_start, max(ts) AS session_last,
    count(*) AS n_events,
    CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
  FROM s GROUP BY user_id, event_type, session_seq)
SELECT user_id, event_type, session_start, session_last, n_events, value_sum
FROM sess
WHERE epoch_us(session_last) + 1800000000 <=
  (SELECT max(epoch_us(ts)) FROM events)"""

  /** Sessionization twin: the same lag/cumsum segmentation in SQL —
    * 30-minute gap in µs, strict `>` comparison, decimal-exact sums.
    */
  val sessionize: String =
    """WITH f AS (
  SELECT user_id, event_type, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM f)
SELECT user_id, event_type, CAST(session_seq AS BIGINT) AS session_seq,
  min(ts) AS session_start, max(ts) AS session_end,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM s GROUP BY 1, 2, 3"""

  /** Mixture twin: stratum counts → feasible total T = min(n/w) →
    * per-mille floor(w·T/n·1000) (same associativity) → hash-threshold
    * keep decisions replayed per document.
    */
  val mixReport: String =
    """WITH c AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
    CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.1
              WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.2 END AS w
  FROM documents GROUP BY 1),
t AS (SELECT min(n / w) AS t FROM c),
r AS (
  SELECT lang, CAST(floor(w * t.t / n * 1000.0) AS BIGINT) AS permille
  FROM c, t),
h AS (
  SELECT lang,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 1000 AS hb
  FROM documents),
k AS (
  SELECT h.lang, count(*) AS n_after
  FROM h JOIN r USING (lang) WHERE hb < permille GROUP BY 1),
b AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY 1)
SELECT b.lang, b.n_before, k.n_after, r.permille
FROM b JOIN k USING (lang) JOIN r USING (lang)"""

  /** Approx-percentile twin: the exact p40/p60 band values re-derived by
    * the rank arithmetic; the band boolean is pinned TRUE — a GK sketch
    * whose median escapes the band fails the gate.
    */
  val approxPercentile: String =
    """WITH t AS (
  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
r AS (
  SELECT lang, n_tok,
    row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rank,
    count(*) OVER (PARTITION BY lang) AS n
  FROM t)
SELECT lang,
  min(CASE WHEN rank = (n * 400 + 999) // 1000 THEN n_tok END) AS p40,
  min(CASE WHEN rank = (n * 600 + 999) // 1000 THEN n_tok END) AS p60,
  true AS within_band
FROM r GROUP BY 1"""

  /** Prep-pipeline twin: salt → three sequential scrub passes → mixture
    * feasibility/rates over the SCRUBBED corpus (hash of scrubbed text) →
    * keep decisions → chunk fan-out — the q_pii_scrub, q_mix, and q_chunk
    * twins chained so each stage reads the previous stage's output.
    */
  val corpusPipeline2: String =
    """WITH salted AS (
  SELECT doc_id, lang,
    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      '@mail.example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR) ||
      '.1 tel +1555' || CAST(doc_id + 1000000 AS VARCHAR) AS text
  FROM documents),
scrubbed AS (
  SELECT doc_id, lang,
    regexp_replace(
      regexp_replace(
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
      '\+\d{7,15}', '[PHONE]', 'g') AS text
  FROM salted),
c AS (
  SELECT lang, CAST(count(*) AS DOUBLE) AS n,
    CASE lang WHEN 'de' THEN 0.2 WHEN 'en' THEN 0.4 WHEN 'es' THEN 0.1
              WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.2 END AS w
  FROM scrubbed GROUP BY 1),
t AS (SELECT min(n / w) AS t FROM c),
r AS (
  SELECT lang, CAST(floor(w * t.t / n * 1000.0) AS BIGINT) AS permille
  FROM c, t),
kept AS (
  SELECT s.doc_id, s.lang, s.text
  FROM scrubbed s JOIN r USING (lang)
  WHERE (CASE WHEN length(s.text) >= 1 THEN
      list_reduce(list_transform(range(1, length(s.text) + 1),
        i -> CAST(ascii(s.text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 1000 < r.permille),
ch AS (
  SELECT lang, doc_id, text,
    unnest(range(0, CASE WHEN length(text) <= 200 THEN 1
      ELSE ((length(text) - 200 + 149) // 150) + 1 END)) AS chunk_idx
  FROM kept)
SELECT lang,
  CAST(count(*) FILTER (WHERE chunk_idx = 0) AS BIGINT) AS n_docs,
  count(*) AS n_chunks,
  CAST(sum(length(substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200)))
    AS BIGINT) AS chunk_chars_sum
FROM ch GROUP BY 1"""

  /** Quota twin: the same rolling-hash order replayed with row_number;
    * the CASE quota map mirrors the Spark fold.
    */
  val sampleQuota: String =
    """WITH h AS (
  SELECT lang, doc_id, text,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) AS hb
  FROM documents WHERE lang IN ('en', 'zh', 'de')),
r AS (
  SELECT lang, text,
    row_number() OVER (PARTITION BY lang ORDER BY hb, doc_id) AS rank
  FROM h),
k AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM r
  WHERE rank <= (CASE lang WHEN 'de' THEN 1000 WHEN 'en' THEN 100
                           WHEN 'zh' THEN 40 END))
SELECT lang, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tokens_kept
FROM k GROUP BY 1"""

  /** Sketch twin: the exact distinct count recomputed in SQL; the bound
    * boolean is pinned TRUE — an HLL++ drifting past 10% fails the gate.
    */
  val approxDistinct: String =
    """SELECT lang,
  CAST(count(DISTINCT term) AS BIGINT) AS n_exact,
  true AS within_bounds
FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM documents)
GROUP BY 1"""

  /** Anomaly twin: the same ROWS-frame decimal sums, the same IEEE op
    * sequence for mean/variance/σ (mean recomputed identically where the
    * Spark plan reuses the expression), the same clamp and flag.
    */
  val anomaly: String =
    """WITH d AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS stream_id, ts, value
  FROM events WHERE user_id IN (7, 3) AND event_type IN ('click', 'view')),
r AS (
  SELECT stream_id, ts, value,
    count(*) OVER w AS n_prior,
    CAST(sum(CAST(value AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s,
    CAST(sum(CAST(value * value AS DECIMAL(38,10))) OVER w AS DOUBLE) AS sq
  FROM d
  WINDOW w AS (PARTITION BY stream_id ORDER BY ts
    ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
SELECT stream_id, ts, value, n_prior,
  s / CAST(n_prior AS DOUBLE) AS prior_mean,
  sqrt(greatest(sq / CAST(n_prior AS DOUBLE)
    - (s / CAST(n_prior AS DOUBLE)) * (s / CAST(n_prior AS DOUBLE)), 0.0))
    AS prior_std,
  (n_prior >= 5 AND abs(value - s / CAST(n_prior AS DOUBLE))
    > 2.0 * sqrt(greatest(sq / CAST(n_prior AS DOUBLE)
      - (s / CAST(n_prior AS DOUBLE)) * (s / CAST(n_prior AS DOUBLE)), 0.0)))
    AS is_anomaly
FROM r"""

  /** Range-join twin: sessions recomputed in SQL, then a plain BETWEEN
    * theta join — independent of the bucketized formulation under test.
    */
  val rangeJoin: String =
    """WITH f AS (
  SELECT user_id, event_type, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts)),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id, event_type ORDER BY ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM f),
sess AS (
  SELECT user_id, event_type, CAST(session_seq AS BIGINT) AS session_seq,
    min(ts) AS session_start, max(ts) AS session_end
  FROM s GROUP BY 1, 2, 3)
SELECT e.user_id, e.event_type, sess.session_seq,
  count(*) AS n_matched,
  CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE) AS value_sum
FROM events e
JOIN sess ON e.user_id = sess.user_id AND e.event_type = sess.event_type
  AND e.ts >= sess.session_start AND e.ts <= sess.session_end
GROUP BY 1, 2, 3"""

  /** As-of twin: DuckDB's native ASOF LEFT JOIN — an independent
    * implementation of the operator, not a replay of the union-and-scan
    * arithmetic. Inclusive inequality (`>=`) matches the Spark side's
    * rights-sort-before-lefts tie order.
    */
  val asofJoin: String =
    """WITH l AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
r AS (
  SELECT user_id, ts, value FROM events WHERE event_type = 'view')
SELECT l.user_id, l.ts, l.value,
  r.ts AS right_ts, r.value AS right_value
FROM l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts"""

  /** Forward-fill resample twin: the same dedup (max value per instant),
    * a `generate_series` grid per distinct user, and DuckDB's native
    * backward-inclusive ASOF LEFT JOIN carrying the observation forward.
    */
  val resampleFfill: String =
    """WITH obs AS (
  SELECT user_id, ts, max(value) AS value FROM events
  WHERE event_type = 'click' GROUP BY 1, 2),
grid AS (
  SELECT k.user_id, g.g AS grid_ts
  FROM (SELECT DISTINCT user_id FROM obs) k
  CROSS JOIN generate_series(TIMESTAMP '2024-01-01 00:00:00',
    TIMESTAMP '2024-01-30 18:00:00', INTERVAL 6 HOUR) AS g(g))
SELECT gr.user_id, gr.grid_ts, o.ts AS last_ts, o.value AS last_value
FROM grid gr ASOF LEFT JOIN obs o
  ON gr.user_id = o.user_id AND gr.grid_ts >= o.ts"""

  /** Interpolation twin: backward-inclusive + forward-strict native ASOF
    * joins, then the lerp replayed with the identical expression shape
    * (`p + (n − p)·((g − tp)/(tn − tp))`, all-double from epoch µs) so the
    * filled values match the Spark side bit-for-bit.
    */
  val resampleInterp: String =
    """WITH obs AS (
  SELECT user_id, epoch_us(ts) AS us, CAST(max(value) AS DOUBLE) AS v
  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
grid AS (
  SELECT k.user_id, epoch_us(g.g) AS gus
  FROM (SELECT DISTINCT user_id FROM obs) k
  CROSS JOIN generate_series(TIMESTAMP '2024-01-01 00:00:00',
    TIMESTAMP '2024-01-30 18:00:00', INTERVAL 6 HOUR) AS g(g)),
prev AS (
  SELECT gr.user_id, gr.gus, o.us AS pus, o.v AS pv
  FROM grid gr ASOF LEFT JOIN obs o
    ON gr.user_id = o.user_id AND gr.gus >= o.us),
nxt AS (
  SELECT gr.user_id, gr.gus, o.us AS nus, o.v AS nv
  FROM grid gr ASOF LEFT JOIN obs o
    ON gr.user_id = o.user_id AND gr.gus < o.us)
SELECT p.user_id, make_timestamp(p.gus) AS grid_ts,
  CASE WHEN p.pus IS NULL THEN NULL
       WHEN p.pus = p.gus THEN p.pv
       WHEN n.nus IS NULL THEN p.pv
       ELSE p.pv + (n.nv - p.pv) *
         ((CAST(p.gus AS DOUBLE) - CAST(p.pus AS DOUBLE)) /
          (CAST(n.nus AS DOUBLE) - CAST(p.pus AS DOUBLE)))
  END AS filled_value,
  CASE WHEN p.pus IS NULL THEN 'none'
       WHEN p.pus = p.gus THEN 'exact'
       WHEN n.nus IS NULL THEN 'hold'
       ELSE 'interp' END AS fill_kind
FROM prev p JOIN nxt n ON p.user_id = n.user_id AND p.gus = n.gus"""

  /** Normalization twin: scale → ordered Σv² fold → per-element divide by
    * √n2 → ordered Σu² fold, every op replayed in the same sequence
    * (seedless list_reduce ≡ the 0.0-seed left fold for sums).
    */
  val embeddingNorms: String =
    """WITH s AS (
  SELECT label, embedding,
    CAST(vec_id % 5 + 1 AS DOUBLE) AS scale
  FROM embeddings),
n AS (
  SELECT label, embedding, scale,
    list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> (CAST(embedding[i] AS DOUBLE) * scale) *
           (CAST(embedding[i] AS DOUBLE) * scale)),
      (a, b) -> a + b) AS norm2
  FROM s),
u AS (
  SELECT label, norm2,
    list_reduce(list_transform(range(1, len(embedding) + 1),
      i -> ((CAST(embedding[i] AS DOUBLE) * scale) / sqrt(norm2)) *
           ((CAST(embedding[i] AS DOUBLE) * scale) / sqrt(norm2))),
      (a, b) -> a + b) AS u2
  FROM n)
SELECT label, count(*) AS n_vecs,
  CAST(count(*) FILTER (WHERE abs(u2 - 1.0) <= 1e-9) AS BIGINT) AS n_unit,
  min(norm2) AS n2_min, max(norm2) AS n2_max
FROM u GROUP BY 1"""

  /** Content-hash split twin: the same rolling-hash fold per document
    * (seedless list_reduce ≡ the 0-init fold), bucketed mod 10.
    */
  val splitReport: String =
    """WITH h AS (
  SELECT text,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 10 AS split_bucket
  FROM documents)
SELECT split_bucket, count(*) AS n_docs,
  CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM h GROUP BY 1"""

  /** PII-scrub twin: the SAME doc_id-salted text built in SQL, then the
    * same three sequential count+replace passes (DuckDB regexp_replace
    * needs the explicit 'g' flag — Spark's is global by default).
    */
  val piiScrub: String =
    """WITH salted AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      '@mail.example.com from 10.0.' || CAST(doc_id % 250 AS VARCHAR) ||
      '.1 tel +1555' || CAST(doc_id + 1000000 AS VARCHAR) AS text
  FROM documents),
s1 AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
    regexp_replace(text,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g') AS t1
  FROM salted),
s2 AS (
  SELECT doc_id, n_email,
    CAST(len(regexp_extract_all(t1,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ipv4,
    regexp_replace(t1,
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS t2
  FROM s1),
s3 AS (
  SELECT doc_id, n_email, n_ipv4,
    CAST(len(regexp_extract_all(t2, '\+\d{7,15}')) AS BIGINT) AS n_phone,
    regexp_replace(t2, '\+\d{7,15}', '[PHONE]', 'g') AS scrubbed
  FROM s2)
SELECT doc_id, n_email, n_ipv4, n_phone, scrubbed,
  CAST(length(scrubbed) AS BIGINT) AS n_scrubbed_chars
FROM s3"""

  /** Chunking twin: chunk count re-derived with integer division, offsets
    * and substrings recomputed per chunk (DuckDB substr is character-based
    * like Spark's, so multibyte text chunks identically).
    */
  val chunkReport: String =
    """WITH t AS (
  SELECT doc_id, text,
    CASE WHEN length(text) <= 200 THEN 1
         ELSE ((length(text) - 200 + 149) // 150) + 1 END AS nc
  FROM documents),
e AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_idx FROM t)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
  substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200) AS chunk_text,
  CAST(length(substr(text, CAST(chunk_idx * 150 + 1 AS BIGINT), 200))
    AS BIGINT) AS n_chunk_chars
FROM e"""

  /** Stratified-sampling twin: every keep decision recomputed from the
    * rolling-hash fold (same per-mille thresholds), then the per-language
    * before/after/token report.
    */
  val sampleStrataReport: String =
    """WITH h AS (
  SELECT lang, text,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 1000 AS hb
  FROM documents),
kept AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM h
  WHERE hb < (CASE lang WHEN 'en' THEN 500 WHEN 'zh' THEN 250 ELSE 1000 END)),
a AS (
  SELECT lang, count(*) AS n_after, CAST(sum(n_tok) AS BIGINT) AS tokens_after
  FROM kept GROUP BY 1),
b AS (SELECT lang, count(*) AS n_before FROM documents GROUP BY 1)
SELECT b.lang, b.n_before,
  CAST(COALESCE(a.n_after, 0) AS BIGINT) AS n_after,
  CAST(COALESCE(a.tokens_after, 0) AS BIGINT) AS tokens_after
FROM b LEFT JOIN a USING (lang)"""

  /** Packing twin: the naive formulation the two-level scan must equal —
    * one global window cumsum in doc_id order, bin = exclusive-prefix
    * div budget.
    */
  val packReport: String =
    """WITH t AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
c AS (
  SELECT doc_id, n_tok,
    sum(n_tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t)
SELECT CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens_sum,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1"""

  /** Curriculum twin: the global-window formulation the range-partition +
    * offset-stitch rank must equal row-for-row.
    */
  val curriculum: String =
    """WITH r AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY n_chars, doc_id) AS rank
  FROM documents)
SELECT doc_id, CAST(rank AS BIGINT) AS rank,
  CAST((rank - 1) // 64 AS BIGINT) AS shard,
  CAST((rank - 1) % 64 AS BIGINT) AS pos
FROM r"""

  /** Shared BPE word-count CTEs: the recursive tokenizer twin. Each
    * DISTINCT corpus word is consumed left to right, each step eating the
    * LONGEST vocabulary prefix (or one character when nothing matches —
    * the unknown token), and per-word counts join back to documents. An
    * independent replay of `Bpe.countTokens`' decision rule, with the
    * vocabulary interpolated from the same fixture constant.
    */
  /** The greedy longest-prefix tokenizer replay (recursive CTE), vocab
    * supplied by a preceding `vocab(tok)` CTE.
    */
  private def bpeTokenizerCtes: String =
    """dw AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
step AS (
  SELECT w, w AS rest, 0 AS n FROM dw
  UNION ALL
  SELECT w,
    substring(rest, 1 + coalesce((SELECT max(len(v.tok)) FROM vocab v
      WHERE starts_with(step.rest, v.tok)), 1)) AS rest,
    n + 1
  FROM step WHERE rest <> ''),
wc AS (SELECT w, n AS n_tok FROM step WHERE rest = ''),
doctok AS (
  SELECT doc_id, CAST(sum(wc.n_tok) AS BIGINT) AS n_bpe
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) words
  JOIN wc USING (w) GROUP BY 1)"""

  private def bpeWordCounts: String = {
    val vs = graft.ext.Bpe.FixtureVocab.map(t => s"('$t')").mkString(", ")
    s"""vocab(tok) AS (VALUES $vs),
$bpeTokenizerCtes"""
  }

  /** Unrolled replay of `Bpe.learnMerges`' training loop: the word-
    * frequency table renders each word middot-delimited (`·c·a·t·`), each
    * iteration k counts adjacent symbol pairs (list_zip over the split
    * symbols, weighted by word count), picks the argmax under the SAME
    * (weight DESC, left, right) tie-break, and applies the merge as a
    * left-to-right non-overlapping `replace` of `·l·r·` — exactly the
    * Scala `applyMerge` order. MATERIALIZED is load-bearing: each CTE is
    * referenced several times and inlining re-evaluates the chain
    * exponentially.
    */
  private def bpeLearnChain(k: Int): String = {
    val head =
      """w0 AS MATERIALIZED (
  SELECT '·' || array_to_string(string_split(word, ''), '·') || '·' AS w, cnt FROM (
    SELECT word, count(*) AS cnt FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
    WHERE word <> '' GROUP BY 1) t2)"""
    val iters = (1 to k).map { i =>
      s"""p$i AS MATERIALIZED (
  SELECT z[1] AS l, z[2] AS r, CAST(sum(cnt) AS BIGINT) AS w FROM (
    SELECT unnest(list_zip(list_slice(s, 1, len(s)-1), list_slice(s, 2, len(s)))) AS z, cnt
    FROM (SELECT string_split(trim(w, '·'), '·') AS s, cnt FROM w${i - 1}) t) t2
  GROUP BY 1, 2),
b$i AS MATERIALIZED (SELECT l, r, w FROM p$i ORDER BY w DESC, l, r LIMIT 1),
w$i AS MATERIALIZED (
  SELECT replace(w, '·' || (SELECT l FROM b$i) || '·' || (SELECT r FROM b$i) || '·',
                    '·' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || '·') AS w, cnt
  FROM w${i - 1})"""
    }
    (head +: iters).mkString(",\n")
  }

  val bpeLearn: String =
    "WITH " + bpeLearnChain(6) + "\n" +
      (1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS rank, l AS left_sym, r AS right_sym, " +
          s"w AS weight FROM b$i").mkString("\nUNION ALL ")

  /** The learned-vocab tokenizer carries the vocab into the recursion as
    * ONE list scalar probed by a lambda, not the correlated `max(len)`
    * subquery `bpeTokenizerCtes` uses: DuckDB silently loses part of a
    * computed (non-VALUES) vocab CTE's rows inside a recursive
    * correlated subquery when a long MATERIALIZED chain feeds it
    * (observed: merges b3..b5 invisible to `starts_with`, b1 visible) —
    * the list-scalar form evaluates the whole vocab once and is immune.
    */
  val bpeTokensLearned: String =
    s"""WITH RECURSIVE ${bpeLearnChain(6)},
vocab AS MATERIALIZED (
  SELECT DISTINCT unnest(string_split(replace(text, ' ', ''), '')) AS tok
  FROM documents
  UNION
  SELECT l || r FROM (${(1 to 6).map(i => s"SELECT l, r FROM b$i").mkString(" UNION ALL ")}) m),
vl AS MATERIALIZED (SELECT list(tok) AS toks FROM vocab),
dw AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents),
step AS (
  SELECT w, w AS rest, 0 AS n FROM dw
  UNION ALL
  SELECT w,
    substring(rest, 1 + greatest(1, list_max(list_transform((SELECT toks FROM vl),
      t -> CASE WHEN starts_with(step.rest, t) THEN len(t) ELSE 0 END)))) AS rest,
    n + 1
  FROM step WHERE rest <> ''),
wc AS (SELECT w, n AS n_tok FROM step WHERE rest = ''),
doctok AS (
  SELECT doc_id, CAST(sum(wc.n_tok) AS BIGINT) AS n_bpe
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents) words
  JOIN wc USING (w) GROUP BY 1)
SELECT doc_id, n_bpe FROM doctok"""

  val bpeTokens: String =
    s"WITH RECURSIVE $bpeWordCounts SELECT doc_id, n_bpe FROM doctok"

  val packBpe: String =
    s"""WITH RECURSIVE $bpeWordCounts,
c AS (
  SELECT doc_id, n_bpe,
    sum(n_bpe) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM doctok)
SELECT CAST((cum - n_bpe) // 2048 AS BIGINT) AS bin,
  count(*) AS n_docs, CAST(sum(n_bpe) AS BIGINT) AS tokens_sum,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM c GROUP BY 1"""

  val tokenHistBpe: String =
    s"""WITH RECURSIVE $bpeWordCounts
SELECT d.lang, n_bpe // 64 AS bucket, count(*) AS n_docs,
  CAST(sum(n_bpe) AS BIGINT) AS tokens_sum,
  min(n_bpe) AS tok_min, max(n_bpe) AS tok_max
FROM doctok t JOIN documents d USING (doc_id)
GROUP BY 1, 2"""

  /** Streaming-dedup twin: the landed table must be exactly ONE copy of
    * the corpus, so the oracle is the plain per-language aggregate of
    * `documents` — the doubled delivery must be invisible.
    */
  /** Batch replay of the streaming repetition filter at 2× (both
    * deliveries carry the full corpus and the filter is stateless).
    */
  val streamingFilter: String =
    """WITH rt AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2),
rg AS (
  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g
  FROM rt),
rpc AS (SELECT doc_id, g, count(*) AS c FROM rg GROUP BY 1, 2),
repdoomed AS MATERIALIZED (
  SELECT doc_id FROM rpc GROUP BY doc_id
  HAVING CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) > 0.06)
SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_docs,
  CAST(2 * sum(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM repdoomed)
GROUP BY lang"""

  val streamingDedup: String =
    """SELECT lang, count(*) AS n_docs,
  CAST(sum(length(text)) AS BIGINT) AS chars_sum,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_sum
FROM documents GROUP BY 1"""

  /** Top-bigram twin: the same explode→count, ordered `(count desc,
    * ngram asc)` so the LIMIT selects a deterministic set under ties.
    */
  val ngramTop: String =
    """WITH g AS (
  SELECT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM (SELECT string_split(text, ' ') AS w FROM documents))
SELECT ngram, count(*) AS n_occurrences
FROM g GROUP BY 1
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 20"""

  /** Warehouse-resample twin: the interpolation oracle re-applied to the
    * SOURCE events under the gate's `user:click` stream mapping — the
    * warehouse round-trip must be invisible in the resampled rows.
    */
  val resampleWarehouse: String =
    """WITH obs AS (
  SELECT CAST(user_id AS VARCHAR) || ':click' AS stream_id,
    epoch_us(ts) AS us, CAST(max(value) AS DOUBLE) AS v
  FROM events WHERE event_type = 'click' AND user_id IN (3, 7)
  GROUP BY 1, 2),
grid AS (
  SELECT k.stream_id, epoch_us(g.g) AS gus
  FROM (SELECT DISTINCT stream_id FROM obs) k
  CROSS JOIN generate_series(TIMESTAMP '2024-01-01 00:00:00',
    TIMESTAMP '2024-01-30 18:00:00', INTERVAL 6 HOUR) AS g(g)),
prev AS (
  SELECT gr.stream_id, gr.gus, o.us AS pus, o.v AS pv
  FROM grid gr ASOF LEFT JOIN obs o
    ON gr.stream_id = o.stream_id AND gr.gus >= o.us),
nxt AS (
  SELECT gr.stream_id, gr.gus, o.us AS nus, o.v AS nv
  FROM grid gr ASOF LEFT JOIN obs o
    ON gr.stream_id = o.stream_id AND gr.gus < o.us)
SELECT p.stream_id, make_timestamp(p.gus) AS grid_ts,
  CASE WHEN p.pus IS NULL THEN NULL
       WHEN p.pus = p.gus THEN p.pv
       WHEN n.nus IS NULL THEN p.pv
       ELSE p.pv + (n.nv - p.pv) *
         ((CAST(p.gus AS DOUBLE) - CAST(p.pus AS DOUBLE)) /
          (CAST(n.nus AS DOUBLE) - CAST(p.pus AS DOUBLE)))
  END AS filled_value,
  CASE WHEN p.pus IS NULL THEN 'none'
       WHEN p.pus = p.gus THEN 'exact'
       WHEN n.nus IS NULL THEN 'hold'
       ELSE 'interp' END AS fill_kind
FROM prev p JOIN nxt n ON p.stream_id = n.stream_id AND p.gus = n.gus"""

  /** Vocab-map twin: rank the vocabulary with a plain window (count desc,
    * token asc), position-explode every document via a lateral `range`,
    * LEFT JOIN the vocab, and replay the ordered fold with
    * `list(id ORDER BY pos)` — an independent order source from the Spark
    * side's sorted-struct regroup.
    */
  val vocabMap: String =
    """WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
tok AS (SELECT unnest(w) AS token FROM w),
vocab AS (
  SELECT token,
    CAST(row_number() OVER (ORDER BY count(*) DESC, token ASC) AS BIGINT) AS id
  FROM tok GROUP BY token
  QUALIFY row_number() OVER (ORDER BY count(*) DESC, token ASC) <= 10),
p AS (
  SELECT doc_id, u.pos AS pos, u.token AS token FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(w) + 1),
      i -> {'pos': i, 'token': w[i]})) AS u
    FROM w)),
m AS (
  SELECT p.doc_id, p.pos, COALESCE(v.id, 0) AS id
  FROM p LEFT JOIN vocab v ON p.token = v.token)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
  CAST(count(*) FILTER (WHERE id = 0) AS BIGINT) AS n_oov,
  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), list(id ORDER BY pos)),
    (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS ids_fold
FROM m GROUP BY 1"""

  /** Stream-join twin: the batch theta join under the same one-hour band
    * — the state-store join must emit exactly this row set.
    */
  val streamingJoin: String =
    """SELECT c.user_id, c.ts AS click_ts, v.ts AS view_ts,
  c.value AS click_value, v.value AS view_value
FROM (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'view') v
  ON c.user_id = v.user_id
 AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL 1 HOUR"""

  /** Streaming-vocab twin: the batch vocab-map oracle per doc, doubled —
    * two deliveries of the same file, each mapped to the identical fold.
    */
  val streamingVocab: String =
    s"""WITH base AS ($vocabMap)
SELECT doc_id, CAST(2 AS BIGINT) AS n_copies, n_tok, n_oov,
  ids_fold AS ids_fold_lo, ids_fold AS ids_fold_hi
FROM base"""

  /** Profile twin: one SELECT per column, UNION ALL — the naive
    * formulation of the single-pass Expand profile.
    */
  val profileReport: String = {
    def arm(c: String, numeric: Boolean): String = {
      val mn = if (numeric) s"CAST(min($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      val mx = if (numeric) s"CAST(max($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
      s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) - count($c) AS BIGINT) AS n_null,
  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
  $mn AS min_num, $mx AS max_num FROM events"""
    }
    Seq(arm("event_id", numeric = true), arm("user_id", numeric = true),
      arm("event_type", numeric = false), arm("value", numeric = true),
      arm("props", numeric = false)).mkString("\nUNION ALL\n")
  }

  /** Heavy-hitters twin: the NAIVE full-vocabulary formulation — group
    * every bigram, keep `cnt·k > n`. The Spark side must reproduce it
    * exactly from the sketch-then-verify path.
    */
  val heavyHitters: String =
    """WITH g AS (
  SELECT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM (SELECT string_split(text, ' ') AS w FROM documents)),
n AS (SELECT count(*) AS c FROM g)
SELECT g.ngram, CAST(count(*) AS BIGINT) AS cnt
FROM g, n
GROUP BY g.ngram, n.c
HAVING count(*) * 800 > n.c"""

  /** Per-group heavy-hitters twin: group totals joined back, HAVING
    * against each language's own total.
    */
  val heavyHittersLang: String =
    """WITH g AS (
  SELECT lang, unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents)),
t AS (SELECT lang, count(*) AS c FROM g GROUP BY 1)
SELECT g.lang, g.ngram, CAST(count(*) AS BIGINT) AS cnt
FROM g JOIN t USING (lang)
GROUP BY g.lang, g.ngram, t.c
HAVING count(*) * 400 > t.c"""

  /** Pipeline-9 twin: naive HAVING-based hitter set, per-doc hot/total
    * gram counts, the same `nh·10 <= ng·4` integer keep rule (gramless
    * docs kept via the LEFT join's NULL), then the lang report.
    */
  val corpusPipeline9: String =
    """WITH w AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || '_' || w[i+1])
    ELSE CAST([] AS VARCHAR[]) END) AS ngram
  FROM w),
n AS (SELECT count(*) AS c FROM g),
hh AS (
  SELECT g.ngram FROM g, n GROUP BY g.ngram, n.c HAVING count(*) * 800 > n.c),
d AS (
  SELECT doc_id, count(*) AS ng,
    count(*) FILTER (WHERE ngram IN (SELECT ngram FROM hh)) AS nh
  FROM g GROUP BY 1),
k AS (
  SELECT w.lang, len(w.w) AS n_tok
  FROM w LEFT JOIN d ON w.doc_id = d.doc_id
  WHERE d.doc_id IS NULL OR d.nh * 10 <= d.ng * 4)
SELECT lang, count(*) AS n_docs,
  CAST(sum(CAST(n_tok AS BIGINT)) AS BIGINT) AS tokens_sum
FROM k GROUP BY 1"""

  /** Percentile twin: `percentile_disc` semantics re-derived from
    * row_number over the same `(n_tok, doc_id)` order — all integer.
    */
  val percentiles: String =
    """WITH t AS (
  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
r AS (
  SELECT lang, n_tok,
    row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rank,
    count(*) OVER (PARTITION BY lang) AS n
  FROM t),
p AS (SELECT unnest([250, 500, 750, 950]) AS pm)
SELECT r.lang, CAST(p.pm AS INT) AS pm, CAST(r.n AS BIGINT) AS n_docs,
  r.n_tok AS value
FROM r, p
WHERE r.rank = (r.n * p.pm + 999) // 1000"""

  /** Sketch-percentile twin: exact p500/p900 via the same rank walk, and
    * the GK accuracy contract pinned as a literal `true` — the sketch
    * side must land inside its own rank-error bracket or the hash breaks.
    */
  val approxPercentiles: String =
    """WITH t AS (
  SELECT lang, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents),
r AS (
  SELECT lang, n_tok,
    row_number() OVER (PARTITION BY lang ORDER BY n_tok, doc_id) AS rank,
    count(*) OVER (PARTITION BY lang) AS n
  FROM t),
p AS (SELECT unnest([500, 900]) AS pm)
SELECT r.lang, CAST(p.pm AS INT) AS pm, CAST(r.n AS BIGINT) AS n_docs,
  r.n_tok AS value, true AS within_bounds
FROM r, p
WHERE r.rank = (r.n * p.pm + 999) // 1000"""

  /** Token-histogram twin: fixed-width `div` bucketing, same integer
    * aggregates.
    */
  val tokenHist: String =
    """WITH t AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents)
SELECT lang, n_tok // 16 AS bucket, count(*) AS n_docs,
  CAST(sum(n_tok) AS BIGINT) AS tokens_sum,
  min(n_tok) AS tok_min, max(n_tok) AS tok_max
FROM t GROUP BY 1, 2"""

  /** Q1-shape twin: same cutoff and expressions, sums exact at scale 10,
    * RESCALED to 4 before the double cast — at scale 10 these totals
    * carry 19 significant digits, where DuckDB's int128→double path is
    * 1 ulp off Spark's correctly-rounded BigDecimal conversion; at scale
    * 4 both engines' final cast is a single exact-numerator rounding.
    * The rescale itself needs `round(…, 4)`: DuckDB's decimal→decimal
    * downscale TRUNCATES where Spark's cast rounds HALF_UP.
    */
  val tpchPricing: String =
    """SELECT l_returnflag, l_linestatus,
  CAST(CAST(round(sum(CAST(l_quantity AS DECIMAL(38,10))), 4)
    AS DECIMAL(38,4)) AS DOUBLE) AS sum_qty,
  CAST(CAST(round(sum(CAST(l_extendedprice AS DECIMAL(38,10))), 4)
    AS DECIMAL(38,4)) AS DOUBLE) AS sum_base,
  CAST(CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
    AS DECIMAL(38,10))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price,
  CAST(CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
    AS DECIMAL(38,10))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS sum_charge,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
GROUP BY 1, 2"""

  /** Q3-shape twin: same joins, decimal revenue, (revenue desc, custkey)
    * tie-broken top-10.
    */
  val tpchTopCustomers: String =
    """SELECT c_custkey, c_name,
  CAST(CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
    AS DECIMAL(38,10))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY 1, 2
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10"""

  /** Q5-shape twin: the same five-way join and the same decimal chain
    * (scale-10 exact sum → round to 4 → double once), co-nationality as
    * a plain WHERE.
    */
  val tpchLocalVolume: String =
    """SELECT n_name,
  CAST(CAST(round(sum(CAST(l_extendedprice * (1.0 - l_discount)
    AS DECIMAL(38,10))), 4) AS DECIMAL(38,4)) AS DOUBLE) AS revenue,
  count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY revenue DESC, n_name ASC"""

  /** Dedup-index twin: the removed set recomputed from the EXACT
    * cross-side inverted shingle index + md5 (independent of the banded
    * candidate generation under test); requeue_empty pinned TRUE.
    */
  val dedupIndexReport: String =
    """WITH idx AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
shard AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
ssh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM shard)),
ish AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM idx)),
sinv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM ssh),
iinv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM ish),
cand AS (
  SELECT s.doc_id AS sid, i.doc_id AS iid, s.sz AS ss, i.sz AS si, count(*) AS i
  FROM sinv s JOIN iinv i ON s.g = i.g GROUP BY 1, 2, 3, 4),
intracand AS (
  SELECT y.doc_id AS bid, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM sinv x JOIN sinv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY y.doc_id, x.doc_id, x.sz, y.sz),
removed AS (
  SELECT DISTINCT sid AS id FROM cand
  WHERE CAST(i AS DOUBLE) / (ss + si - i) >= 0.8
  UNION
  SELECT DISTINCT s.doc_id FROM shard s JOIN idx i ON md5(s.text) = md5(i.text)
  UNION
  SELECT DISTINCT bid FROM intracand
  WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.8
  UNION
  SELECT DISTINCT a.doc_id FROM shard a
  JOIN shard b ON md5(a.text) = md5(b.text) AND b.doc_id < a.doc_id)
SELECT lang,
  count(*) AS n_before,
  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM removed))
    AS BIGINT) AS n_after,
  CAST(count(*) FILTER (WHERE doc_id IN (SELECT id FROM removed))
    AS BIGINT) AS n_removed,
  true AS requeue_empty
FROM shard GROUP BY 1"""

  /** Decontamination twin: the contaminated set recomputed from the
    * cross-corpus inverted shingle index (near-dups at Jaccard ≥ 0.8)
    * unioned with exact md5 matches, reported per language.
    */
  val decontaminateReport: String =
    """WITH corpus AS (SELECT * FROM documents WHERE doc_id % 7 <> 0),
held AS (SELECT * FROM documents WHERE doc_id % 7 = 0),
csh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM corpus)),
hsh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM held)),
cinv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM csh),
hinv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM hsh),
cand AS (
  SELECT c.doc_id AS cid, h.doc_id AS hid, c.sz AS sc, h.sz AS sh, count(*) AS i
  FROM cinv c JOIN hinv h ON c.g = h.g GROUP BY 1, 2, 3, 4),
contaminated AS (
  SELECT DISTINCT cid AS id FROM cand
  WHERE CAST(i AS DOUBLE) / (sc + sh - i) >= 0.8
  UNION
  SELECT DISTINCT c.doc_id FROM corpus c JOIN held h ON md5(c.text) = md5(h.text))
SELECT lang,
  count(*) AS n_before,
  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT id FROM contaminated))
    AS BIGINT) AS n_after,
  CAST(count(*) FILTER (WHERE doc_id IN (SELECT id FROM contaminated))
    AS BIGINT) AS n_removed
FROM corpus GROUP BY 1"""

  /** String-keyed replay of the 13-token-span eval-overlap filter. */
  val decontaminateSpansReport: String =
    """WITH cg AS MATERIALIZED (
  SELECT doc_id, unnest([array_to_string(w[i:i+12], ' ') for i in range(1, len(w) - 11)]) AS g
  FROM (SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 7 <> 0)
  WHERE len(w) >= 13),
hg AS MATERIALIZED (
  SELECT DISTINCT unnest([array_to_string(w[i:i+12], ' ') for i in range(1, len(w) - 11)]) AS g
  FROM (SELECT string_split(text, ' ') AS w
        FROM documents WHERE doc_id % 7 = 0)
  WHERE len(w) >= 13),
doomed AS MATERIALIZED (SELECT DISTINCT cg.doc_id FROM cg JOIN hg USING (g))
SELECT lang, count(*) AS n_before,
  CAST(count(*) FILTER (WHERE doc_id NOT IN (SELECT doc_id FROM doomed))
    AS BIGINT) AS n_after,
  CAST(count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM doomed))
    AS BIGINT) AS n_removed
FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1"""

  /** Corpus-pipeline twin: the same four stages chained in SQL — marker
    * langId agreement, ≥25-token quality floor, md5 exact dedup (min
    * doc_id keeper), recursive-CTE near-dup components (min-label keeper)
    * — per-language totals of what ships.
    */
  val corpusPipeline: String = {
    val m = graft.ext.Text.markers
    def lst(lang: String) = m(lang).map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH RECURSIVE s0 AS (
  SELECT doc_id, lang, text, string_split(text, ' ') AS w FROM documents),
scored AS (
  SELECT doc_id, lang, text, w,
    len(list_filter(w, t -> t IN ${lst("de")})) AS s_de,
    len(list_filter(w, t -> t IN ${lst("en")})) AS s_en,
    len(list_filter(w, t -> t IN ${lst("es")})) AS s_es,
    len(list_filter(w, t -> t IN ${lst("fr")})) AS s_fr,
    len(list_filter(w, t -> t IN ${lst("zh")})) AS s_zh
  FROM s0),
f AS (
  SELECT doc_id, lang, text, w FROM scored
  WHERE len(w) >= 25 AND lang =
    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END),
ex AS (
  SELECT doc_id, lang, w FROM f
  WHERE doc_id IN (SELECT min(doc_id) FROM f GROUP BY md5(text))),
sh AS (
  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
    i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS s
  FROM ex),
inv AS (SELECT doc_id, len(s) AS sz, unnest(s) AS g FROM sh),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b, x.sz AS sa, y.sz AS sb, count(*) AS i
  FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id
  GROUP BY 1, 2, 3, 4),
dup AS (SELECT a, b FROM cand WHERE CAST(i AS DOUBLE) / (sa + sb - i) >= 0.8),
edges AS (SELECT a, b FROM dup UNION SELECT b, a FROM dup),
reach(id, r) AS (
  SELECT a, b FROM edges
  UNION
  SELECT reach.id, edges.b FROM reach JOIN edges ON reach.r = edges.a),
doomed AS (
  SELECT id FROM (SELECT id, least(id, min(r)) AS cluster FROM reach GROUP BY id)
  WHERE cluster <> id)
SELECT lang, count(*) AS n_docs,
  CAST(sum(CAST(len(w) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM ex WHERE doc_id NOT IN (SELECT id FROM doomed)
GROUP BY 1"""
  }

  private val stopIn = "('the', 'a', 'of', 'and', 'is', 'to', 'in', 'that')"

  val quality: String =
    s"""WITH q AS (
  SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
g AS (
  SELECT doc_id, text, w,
    greatest(len(w) - 2, 0) AS n_grams,
    len(list_distinct(list_transform(range(1, len(w) - 1),
      i -> w[i] || '_' || w[i+1] || '_' || w[i+2]))) AS n_distinct_grams
  FROM q)
SELECT doc_id,
  CAST(len(w) AS BIGINT) AS n_tokens,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_filter(w, t -> t IN $stopIn)) AS BIGINT) AS n_stopwords,
  CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS BIGINT) AS n_punct,
  CAST(len(list_filter(w, t -> t IN $stopIn)) AS DOUBLE)
    / CAST(len(w) AS DOUBLE) AS stopword_ratio,
  CAST(length(text) AS DOUBLE)
    / CAST(len(w) AS DOUBLE) AS mean_token_len,
  CAST(n_grams AS BIGINT) AS n_grams,
  CAST(n_distinct_grams AS BIGINT) AS n_distinct_grams,
  CASE WHEN n_grams > 0
    THEN 1.0 - CAST(n_distinct_grams AS DOUBLE) / CAST(n_grams AS DOUBLE)
    ELSE 0.0 END AS repetition_ratio
FROM g"""

  /** Gopher rule-set twin: every signal recomputed with the identical
    * integer/IEEE arithmetic, every rule verdict and the conjunction
    * replayed literally.
    */
  val gopherRules: String =
    """WITH q AS (
  SELECT doc_id, text, string_split(text, ' ') AS w,
    string_split(text, chr(10)) AS ln
  FROM documents),
s AS (
  SELECT doc_id,
    CAST(len(w) AS BIGINT) AS n_words,
    CAST(length(text) - (len(w) - 1) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) AS mean_word_len,
    CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) AS symbol_ratio,
    CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
      / CAST(len(ln) AS DOUBLE) AS bullet_ratio,
    CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)
      / CAST(len(ln) AS DOUBLE) AS ellipsis_ratio,
    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) AS alpha_ratio,
    CAST(CAST(list_contains(w, 'the') AS INT)
      + CAST(list_contains(w, 'a') AS INT) AS BIGINT) AS n_stop_hits
  FROM q)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
  ellipsis_ratio, alpha_ratio, n_stop_hits,
  n_words >= 50 AND n_words <= 100000 AS ok_words,
  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
  symbol_ratio < 0.1 AS ok_symbols,
  bullet_ratio < 0.9 AS ok_bullets,
  ellipsis_ratio < 0.3 AS ok_ellipsis,
  alpha_ratio >= 0.8 AS ok_alpha,
  n_stop_hits >= 2 AS ok_stopwords,
  (n_words >= 50 AND n_words <= 100000)
    AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
    AND symbol_ratio < 0.1 AND bullet_ratio < 0.9
    AND ellipsis_ratio < 0.3 AND alpha_ratio >= 0.8
    AND n_stop_hits >= 2 AS keep
FROM s"""

  /** Per-doc bigram mode share and dup fraction — replays the two-level
    * `(doc, gram)` count exactly; docs under 2 tokens emit no row.
    */
  val repetition: String =
    """WITH t AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2),
g AS (
  SELECT doc_id,
    unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) AS g
  FROM t),
pc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
SELECT doc_id,
  CAST(sum(c) AS BIGINT) AS n_grams,
  count(*) AS distinct_grams,
  1.0 - CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS dup_frac,
  CAST(max(c) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS top_frac
FROM pc GROUP BY doc_id"""

  /** The perceptual-dedup expectation in closed form: the fixture makes
    * docs sharing `doc_id % 40` perceptual duplicates (and only those),
    * all at hamming 0.
    */
  val imageDup: String =
    """SELECT x.doc_id AS a, y.doc_id AS b, CAST(0 AS INTEGER) AS hamming
FROM documents x JOIN documents y
  ON x.doc_id % 40 = y.doc_id % 40 AND x.doc_id < y.doc_id"""

  /** Audio-dup twin: the same closed-form same-base pair set — identical
    * fingerprints, so hamming is exactly 0.
    */
  val audioDup: String =
    """SELECT x.doc_id AS a, y.doc_id AS b, CAST(0 AS INTEGER) AS hamming
FROM documents x JOIN documents y
  ON x.doc_id % 40 = y.doc_id % 40 AND x.doc_id < y.doc_id"""

  /** Exact replay of the drift report: same join, same long/long IEEE
    * divisions, same (drift desc, token) cut.
    */
  val tokenDrift: String =
    """WITH ca AS MATERIALIZED (
  SELECT token, count(*) AS n_a FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE lang = 'en')
  GROUP BY 1),
cb AS MATERIALIZED (
  SELECT token, count(*) AS n_b FROM (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents WHERE lang <> 'en')
  GROUP BY 1),
j AS MATERIALIZED (
  SELECT coalesce(ca.token, cb.token) AS token,
    CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
    CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
  FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta, CAST(sum(n_b) AS BIGINT) AS tb FROM j)
SELECT token, n_a, n_b,
  CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE) AS p_a,
  CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE) AS p_b,
  abs(CAST(n_a AS DOUBLE) / CAST(ta AS DOUBLE)
    - CAST(n_b AS DOUBLE) / CAST(tb AS DOUBLE)) AS drift
FROM j, t ORDER BY drift DESC, token LIMIT 40"""

  val langReport: String = {
    val m = graft.ext.Text.markers
    def lst(lang: String) = m(lang).map(w => s"'$w'").mkString("(", ", ", ")")
    s"""WITH s AS (
  SELECT lang,
    CAST(len(w) AS BIGINT) AS n_tokens,
    CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
      + length(regexp_replace(text, '[\\x00-\\x7F]', '', 'g')) AS BIGINT) AS n_bpeish,
    len(list_filter(w, t -> t IN ${lst("de")})) AS s_de,
    len(list_filter(w, t -> t IN ${lst("en")})) AS s_en,
    len(list_filter(w, t -> t IN ${lst("es")})) AS s_es,
    len(list_filter(w, t -> t IN ${lst("fr")})) AS s_fr,
    len(list_filter(w, t -> t IN ${lst("zh")})) AS s_zh
  FROM (SELECT lang, text, string_split(text, ' ') AS w FROM documents)),
p AS (
  SELECT lang, n_tokens, n_bpeish,
    CASE WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'es'
         WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END AS predicted
  FROM s)
SELECT lang, predicted, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS tokens_sum,
  CAST(sum(n_bpeish) AS BIGINT) AS bpeish_sum
FROM p GROUP BY 1, 2"""
  }

  /** Char-trigram language-ID twin: occurrence counts via the replace-count
    * identity, argmax with alphabetical tie-break — mirrors
    * Text.charNgramLangId exactly.
    */
  val langNgram: String = {
    val profiles = graft.ext.Text.charNgramProfiles
    val langs = profiles.keys.toSeq.sorted
    def esc(s: String) = s.replace("'", "''")
    def score(lang: String) = profiles(lang)
      .map(g => s"(length(text) - length(replace(text, '${esc(g)}', ''))) // ${g.length}")
      .mkString(" + ")
    val scoreCols = langs.map(l => s"CAST(${score(l)} AS BIGINT) AS s_$l").mkString(",\n    ")
    val bestExpr = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val predicted = langs.init.reverse.foldLeft(s"'${langs.last}'") {
      case (acc, l) => s"CASE WHEN s_$l = best THEN '$l' ELSE $acc END"
    }
    s"""WITH s AS (
  SELECT lang,
    $scoreCols
  FROM documents),
b AS (SELECT *, $bestExpr AS best FROM s),
p AS (SELECT lang, $predicted AS predicted, best FROM b)
SELECT lang, predicted, count(*) AS n_docs,
  CAST(sum(best) AS BIGINT) AS score_sum
FROM p GROUP BY 1, 2"""
  }

  /** Learned-profile twin: re-learns the top-8 trigram profile per
    * language (count DESC, gram ASC tie-break) and re-scores every
    * document against it — argmax with alphabetical tie-break, no-hit
    * documents falling back to the alphabetically first profile language,
    * exactly the Spark decision sequence.
    */
  val langProfile: String =
    """WITH g AS (
  SELECT doc_id, lang,
    unnest([substr(text, CAST(i AS INT), 3)
            for i in range(1, greatest(length(text) - 1, 1))]) AS gram
  FROM documents),
prof AS (
  SELECT lang AS plang, gram FROM (
    SELECT lang, gram,
      row_number() OVER (PARTITION BY lang
        ORDER BY count(*) DESC, gram) AS rk
    FROM g GROUP BY lang, gram) t
  WHERE rk <= 8),
hits AS (
  SELECT g.doc_id, p.plang, count(*) AS score
  FROM g JOIN prof p USING (gram) GROUP BY 1, 2),
best AS (
  SELECT doc_id, plang FROM (
    SELECT doc_id, plang,
      row_number() OVER (PARTITION BY doc_id
        ORDER BY score DESC, plang) AS rk
    FROM hits) t
  WHERE rk = 1),
pred AS (
  SELECT d.lang,
    coalesce(b.plang, (SELECT min(lang) FROM documents)) AS predicted
  FROM documents d LEFT JOIN best b USING (doc_id))
SELECT lang, predicted, count(*) AS n_docs FROM pred GROUP BY 1, 2"""

  val fingerprint: String =
    """WITH g AS (
  SELECT doc_id, list_transform(range(1, length(text) - 6), i ->
    list_reduce(list_transform(range(0, 8), o -> CAST(ascii(text[i+o]) AS BIGINT)),
      (acc, c) -> (acc * 131 + c) % 2147483647)) AS hs
  FROM documents),
s AS (SELECT doc_id, hs, list_filter(hs, h -> h % 16 = 0) AS sel FROM g)
SELECT doc_id,
  CAST(len(hs) AS BIGINT) AS n_grams,
  CAST(len(sel) AS BIGINT) AS n_selected,
  list_min(sel) AS fp_min,
  CAST(coalesce(list_sum(sel), 0) AS BIGINT) AS fp_sum
FROM s"""

  val tfidfTopTerms: String =
    """WITH terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
SELECT doc_id, rank, term, tf, df FROM (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
    CAST(row_number() OVER (PARTITION BY tf.doc_id
      ORDER BY tf.tf DESC, df.df ASC, tf.term) AS BIGINT) AS rank
  FROM tf JOIN df USING (term))
WHERE rank <= 5"""

  /** BM25 contribution of one term — EXACTLY the double association the
    * Spark side uses (`Search.bm25`'s `contrib`), literal-for-literal:
    * every constant is CAST(… AS DOUBLE) so DuckDB's decimal literals
    * never enter the arithmetic, and the idf × (tf·(k1+1)) / (tf + norm)
    * association matches the Column expression parenthesis-for-parenthesis.
    */
  private def bm25Contrib(t: String): String =
    s"(((CAST(n_docs - df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE)) / " +
      s"(CAST(df_$t AS DOUBLE) + CAST(0.5 AS DOUBLE))) * " +
      s"(CAST(tf_$t AS DOUBLE) * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))) / " +
      s"(CAST(tf_$t AS DOUBLE) + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + " +
      s"(CAST(0.75 AS DOUBLE) * CAST(dl AS DOUBLE)) / " +
      s"(CAST(total_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))"

  /** Shared BM25 prelude: tokenization, per-term tf (list_filter — the
    * twin of Spark's array `filter`), and the 1-row corpus stats CTE.
    * `docFilter` narrows the corpus itself (the takedown twin) — it must
    * sit INSIDE the prelude so df/N/avgdl forget the filtered docs. */
  private def bm25Base(terms: Seq[String], docFilter: String = ""): String =
    s"""WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents$docFilter),
base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
""" + terms.map(t =>
      s"    CAST(len(list_filter(t, x -> x = '$t')) AS BIGINT) AS tf_$t")
      .mkString(",\n") + """
  FROM toks),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl,
""" + terms.map(t =>
      s"    CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n") + """
  FROM base)"""

  private val searchBm25Tail: String = s""",
scored AS (
  SELECT doc_id, dl,
    ${Seq("merge", "spark", "window").map(bm25Contrib).mkString(" + ")} AS s_qa,
    ${Seq("customer", "dup").map(bm25Contrib).mkString(" + ")} AS s_qb
  FROM base, stats),
stacked AS (
  SELECT 'qa' AS query_id, doc_id, s_qa AS score, dl FROM scored
  UNION ALL
  SELECT 'qb' AS query_id, doc_id, s_qb AS score, dl FROM scored)
SELECT query_id, rank, doc_id, score, dl FROM (
  SELECT query_id, doc_id, score, dl,
    CAST(row_number() OVER (PARTITION BY query_id
      ORDER BY score DESC, doc_id) AS BIGINT) AS rank
  FROM stacked WHERE score > 0)
WHERE rank <= 15"""

  /** Takedown twin: a FRESH BM25 build over the surviving corpus — the
    * filter sits inside the prelude so df/N/avgdl forget the dead docs. */
  val searchTakedown: String =
    bm25Base(Seq("customer", "dup", "merge", "spark", "window"),
      "\n  WHERE doc_id % 97 <> 0") + searchBm25Tail

  val searchBm25: String =
    bm25Base(Seq("customer", "dup", "merge", "spark", "window")) +
      searchBm25Tail

  /** Hybrid RRF twin: recompute the BM25 top-50, the cosine top-50 (same
    * fold as `similarityTopK`), and the fused reciprocal-rank list. The
    * CTE chain is shared with the MMR-over-hybrid pipeline twin. */
  private def hybridCteWith(docFilter: String): String =
    bm25Base(Seq("merge", "spark", "window"), docFilter) + s""",
bm_scored AS (
  SELECT doc_id,
    ${Seq("merge", "spark", "window").map(bm25Contrib).mkString(" + ")} AS score
  FROM base, stats),
bm AS (
  SELECT doc_id, rank_a FROM (
    SELECT doc_id, CAST(row_number() OVER
      (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_a
    FROM bm_scored WHERE score > 0)
  WHERE rank_a <= 50),
qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
cos_scored AS (
  SELECT e.vec_id AS doc_id,
    list_reduce(list_transform(range(1, len(e.embedding) + 1),
      i -> CAST(qvec[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)
    / (sqrt(list_reduce(list_transform(range(1, len(qvec) + 1),
        i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE)), (a, b) -> a + b))
     * sqrt(list_reduce(list_transform(range(1, len(e.embedding) + 1),
        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)), (a, b) -> a + b)))
    AS cosine
  FROM qv, embeddings e WHERE e.vec_id <> 0),
cos AS (
  SELECT doc_id, rank_b FROM (
    SELECT doc_id, CAST(row_number() OVER
      (ORDER BY cosine DESC, doc_id) AS BIGINT) AS rank_b
    FROM cos_scored)
  WHERE rank_b <= 50),
fused AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, a.rank_a, b.rank_b,
    COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + a.rank_a AS DOUBLE), CAST(0 AS DOUBLE)) +
    COALESCE(CAST(1.0 AS DOUBLE) / CAST(60 + b.rank_b AS DOUBLE), CAST(0 AS DOUBLE))
    AS rrf_score
  FROM bm a FULL OUTER JOIN cos b ON a.doc_id = b.doc_id)"""

  private val hybridCte: String = hybridCteWith("")

  val hybridRrf: String = hybridCte + """
SELECT rank, doc_id, rrf_score, rank_a, rank_b FROM (
  SELECT doc_id, rrf_score, rank_a, rank_b,
    CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS rank
  FROM fused)
WHERE rank <= 20"""

  /** Pipeline twin: MMR over the hybrid pool — the fused top-30 (rel =
    * rrf_score) diversified by the same unrolled greedy as
    * `similarityMmr`, pairwise sims from the embeddings table. The BM25
    * corpus is scoped to the EMBEDDED id space (diversification needs a
    * vector per pool member — at sf0.1 only a subset of documents carries
    * embeddings, and the gate's coverage guard fails loudly otherwise). */
  val hybridMmr: String = hybridCteWith(
    "\n  WHERE doc_id IN (SELECT vec_id FROM embeddings)") + s""",
pool AS MATERIALIZED (
  SELECT doc_id AS vec_id, rrf_score AS rel FROM (
    SELECT doc_id, rrf_score,
      CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS r
    FROM fused)
  WHERE r <= 30),
pv AS MATERIALIZED (
  SELECT p.vec_id, p.rel, e.embedding
  FROM pool p JOIN embeddings e ON e.vec_id = p.vec_id),
${(1 to 10).map(mmrStep).mkString(",\n")}
${(1 to 10).map(j =>
      s"SELECT CAST($j AS BIGINT) AS rank, vec_id, rel, mmr FROM sel$j")
      .mkString("\nUNION ALL\n")}"""

  val downsampleNominal: String =
    """SELECT user_id, event_type,
  make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS bucket_start,
  count(props) AS "count", min(ts) AS t_first, max(ts) AS t_last
FROM events GROUP BY 1, 2, 3"""

  /** Mirrors Multimodal.decodeOne's deterministic stub arithmetic. */
  /** Real-codec twin: the PNG generator pins each asset's dimensions to
    * a closed-form function of doc_id, so the expected decode output is
    * pure arithmetic — the Spark side must reproduce it through an actual
    * PNG encode → javax.imageio decode round trip.
    */
  val multimodalDecode: String =
    """SELECT doc_id AS asset_id,
  CAST(CASE WHEN doc_id % 37 = 0 THEN 16 + (32 + doc_id % 64) % 512
       ELSE 16 + doc_id % 64 END AS BIGINT) AS width,
  CAST(CASE WHEN doc_id % 37 = 0 THEN 16 + ((32 + doc_id % 64) * 7) % 512
       ELSE 16 + (doc_id * 7) % 64 END AS BIGINT) AS height,
  CAST(3 AS BIGINT) AS channels,
  CAST(0 AS BIGINT) AS duration_ms,
  doc_id % 37 <> 0 AS decode_ok
FROM documents"""

  /** Audio-decode twin: replay the integer sawtooth each WAV encodes —
    * `s(i) = ((i·step) mod 2A) − A` — via a correlated `generate_series`,
    * and restate duration (n/8 ms at 8 kHz — n is a multiple of 16, so the
    * division is exact), peak = max |s|, energy = Σ s² per asset.
    */
  val audioDecode: String =
    """WITH params AS (
  SELECT doc_id, 400 + (doc_id % 50) * 16 AS n,
    4000 + (doc_id % 8) * 1000 AS amp,
    16 + (doc_id % 31) AS step
  FROM documents),
samples AS (
  SELECT p.doc_id, p.n, ((t.i * p.step) % (2 * p.amp)) - p.amp AS s
  FROM params p JOIN generate_series(0, 1183) AS t(i) ON t.i < p.n)
SELECT doc_id AS asset_id, CAST(8000 AS BIGINT) AS sample_rate,
  CAST(n AS BIGINT) AS n_samples, CAST(n // 8 AS BIGINT) AS duration_ms,
  CAST(max(abs(s)) AS BIGINT) AS peak,
  CAST(sum(s * s) AS BIGINT) AS energy
FROM samples GROUP BY doc_id, n"""

  /** Video-decode twin: every output column restated in closed-form
    * arithmetic — geometry and frame count from the fixture formulas,
    * duration as `n · period_ms` (period is a whole-ms multiple so the
    * µs→ms division is exact), and `frame_bits` rebuilt bit-by-bit from
    * the bright-iff-`(id+k) % 3 ≠ 0` rule the frames encode; the corrupt
    * arm (`doc_id % 41 = 0`) must degrade to zeros + `decode_ok = false`.
    */
  val videoDecode: String =
    """WITH p AS (
  SELECT doc_id, 6 + doc_id % 14 AS n, 20 + 5 * (doc_id % 10) AS period_ms
  FROM documents)
SELECT doc_id AS asset_id,
  CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE 16 + doc_id % 48 END AS BIGINT) AS width,
  CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE 16 + (doc_id * 5) % 48 END AS BIGINT) AS height,
  CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE n END AS BIGINT) AS n_frames,
  CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE n * period_ms END AS BIGINT) AS duration_ms,
  CAST(CASE WHEN doc_id % 41 = 0 THEN 0 ELSE
    list_sum(list_transform(range(0, CAST(n AS INT)), k ->
      CASE WHEN (doc_id + k) % 3 <> 0 THEN CAST(1 AS BIGINT) << k
           ELSE CAST(0 AS BIGINT) END))
    END AS BIGINT) AS frame_bits,
  doc_id % 41 <> 0 AS decode_ok
FROM p"""

  /** LM-surprise twin: re-learn the unigram/bigram counts and vocabulary
    * size from the `en` slice, then replay every document's fold — each
    * pair's inverse probability is an exact integer-to-double division,
    * summed in POSITION order via `list_reduce` over an ordered list
    * aggregate, exactly the Spark loop's sequence of IEEE adds.
    */
  val lmScore: String =
    """WITH tw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM tw) GROUP BY 1),
v AS (SELECT count(*) AS vs FROM uni),
bi AS (
  SELECT p[1] AS a, p[2] AS b, count(*) AS c FROM (
    SELECT unnest([[w[i], w[i + 1]] for i in range(1, len(w))]) AS p FROM tw)
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_id,
    unnest([{'i': i, 'a': w[i], 'b': w[i + 1]} for i in range(1, len(w))]) AS pr
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
scored AS (
  SELECT p.doc_id, p.pr.i AS i,
    CAST(coalesce(u.c, 0) + v.vs AS DOUBLE)
      / CAST(coalesce(b.c, 0) + 1 AS DOUBLE) AS invp,
    CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS unseen
  FROM pairs p CROSS JOIN v
  LEFT JOIN uni u ON u.t = p.pr.a
  LEFT JOIN bi b ON b.a = p.pr.a AND b.b = p.pr.b),
folded AS (
  SELECT doc_id, count(*) AS n_pairs,
    CAST(sum(unseen) AS BIGINT) AS n_unseen,
    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(invp ORDER BY i)),
      (acc, x) -> acc + x) AS s
  FROM scored GROUP BY doc_id)
SELECT d.doc_id,
  CAST(coalesce(f.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(coalesce(f.n_unseen, 0) AS BIGINT) AS n_unseen,
  CASE WHEN f.n_pairs IS NULL THEN 0.0 ELSE f.s / f.n_pairs END AS surprise
FROM documents d LEFT JOIN folded f USING (doc_id)"""

  /** Shared classifier CTE block (the twin of `Text.learnClassUnigrams` +
    * `classifyBySurprise`/`withClassLabel`): both class-unigram models
    * relearned from the same train split, each document's per-class
    * inverse-probability fold replayed in position order (`list_reduce`
    * over `list(... ORDER BY i)`), ending in a `lab` relation carrying
    * per-doc scores. `label = 'en'` ⇔ NOT (s_other < s_en) — the same
    * strict-< / label-order tie-break as the Spark loop. Reused by the
    * standalone, streaming, and pipeline-6 twins.
    */
  private val classifierCtes: String =
    """WITH tr AS (
  SELECT lang, string_split(text, ' ') AS w FROM documents WHERE doc_id % 5 = 0),
uni_en AS (SELECT t, count(*) AS c
  FROM (SELECT unnest(w) AS t FROM tr WHERE lang = 'en') GROUP BY 1),
uni_ot AS (SELECT t, count(*) AS c
  FROM (SELECT unnest(w) AS t FROM tr WHERE lang <> 'en') GROUP BY 1),
m_en AS (SELECT count(*) + CAST(coalesce(sum(c), 0) AS BIGINT) AS base FROM uni_en),
m_ot AS (SELECT count(*) + CAST(coalesce(sum(c), 0) AS BIGINT) AS base FROM uni_ot),
toks AS (
  SELECT doc_id,
    unnest([{'i': i, 't': w[i]} for i in range(1, len(w) + 1)]) AS tk
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
sc AS (
  SELECT tt.doc_id, tt.tk.i AS i,
    CAST(me.base AS DOUBLE) / CAST(coalesce(ue.c, 0) + 1 AS DOUBLE) AS inv_en,
    CAST(mo.base AS DOUBLE) / CAST(coalesce(uo.c, 0) + 1 AS DOUBLE) AS inv_ot
  FROM toks tt CROSS JOIN m_en me CROSS JOIN m_ot mo
  LEFT JOIN uni_en ue ON ue.t = tt.tk.t
  LEFT JOIN uni_ot uo ON uo.t = tt.tk.t),
folded AS (
  SELECT doc_id, count(*) AS n,
    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(inv_en ORDER BY i)),
      (acc, x) -> acc + x) AS se,
    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(inv_ot ORDER BY i)),
      (acc, x) -> acc + x) AS so
  FROM sc GROUP BY doc_id),
lab AS (
  SELECT d.doc_id, d.lang, d.text,
    CAST(coalesce(f.n, 0) AS BIGINT) AS n_tok,
    CASE WHEN f.n IS NULL THEN 0.0 ELSE f.se / f.n END AS s_en,
    CASE WHEN f.n IS NULL THEN 0.0 ELSE f.so / f.n END AS s_other
  FROM documents d LEFT JOIN folded f USING (doc_id))"""

  val classifier: String = classifierCtes + """
SELECT doc_id, n_tok, s_en, s_other,
  CASE WHEN s_other < s_en THEN 'other' ELSE 'en' END AS label
FROM lab"""

  /** Streaming-classifier twin: the kept (`en`-labeled) slice's per-lang
    * aggregates doubled — two deliveries land twice in the append sink.
    */
  val streamingClassifier: String = classifierCtes + """
SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_docs,
  CAST(2 * sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_sum
FROM lab WHERE NOT (s_other < s_en) GROUP BY lang"""

  /** Pipeline-6 twin: the classifier replay chained into the dedup
    * keeper rule and the per-lang report — one SQL statement replays all
    * three stages.
    */
  val corpusPipeline6: String = classifierCtes + """,
kept AS (SELECT doc_id, lang, text FROM lab WHERE NOT (s_other < s_en)),
keeper AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
SELECT lang, count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_sum
FROM kept JOIN keeper USING (doc_id) GROUP BY lang"""

  /** Pipeline-7 twin: the classifier replay chained into the constant
    * per-class weight rule and the importance sampler's hash-fold keep
    * decision — classifier-scored resampling replayed end to end.
    */
  val corpusPipeline7: String = classifierCtes + """,
h AS (
  SELECT lang, text,
    CASE WHEN NOT (s_other < s_en) THEN 0.95 ELSE 0.25 END AS w,
    (CASE WHEN length(text) >= 1 THEN
      list_reduce(list_transform(range(1, length(text) + 1),
        i -> CAST(ascii(text[i]) AS BIGINT)),
        (acc, c) -> (acc * 131 + c) % 2147483647)
     ELSE 0 END) % 1000 AS hh
  FROM lab)
SELECT lang, count(*) AS n_docs,
  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_sum
FROM h WHERE CAST(hh AS DOUBLE) < w * 1000.0
GROUP BY lang"""

  /** The Gopher-kept slice (gate thresholds: paper defaults, `the`/`a`
    * stop list) — shared by the pipeline-8 and streaming-gopher twins.
    */
  private val gopherKeptCtes: String =
    """WITH q AS (
  SELECT doc_id, text, lang, string_split(text, ' ') AS w,
    string_split(text, chr(10)) AS ln
  FROM documents),
kept AS (
  SELECT doc_id, text, lang, w FROM q
  WHERE len(w) >= 50 AND len(w) <= 100000
    AND CAST(length(text) - (len(w) - 1) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) >= 3.0
    AND CAST(length(text) - (len(w) - 1) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) <= 10.0
    AND CAST(len(regexp_extract_all(text, '#|\.\.\.|…')) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) < 0.1
    AND CAST(len(list_filter(ln, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
      / CAST(len(ln) AS DOUBLE) < 0.9
    AND CAST(len(list_filter(ln, l -> regexp_matches(l, '(\.\.\.|…)$'))) AS DOUBLE)
      / CAST(len(ln) AS DOUBLE) < 0.3
    AND CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
      / CAST(len(w) AS DOUBLE) >= 0.8
    AND (CAST(list_contains(w, 'the') AS INT)
      + CAST(list_contains(w, 'a') AS INT)) >= 2)"""

  /** Pipeline-8 twin: the Gopher rule conjunction as a WHERE, the C4
    * normalization + keep-lowest-id rule over the SURVIVORS only, then
    * the per-lang report — the FineWeb prefilter replayed end to end.
    */
  val corpusPipeline8: String = gopherKeptCtes + """,
keeper AS (
  SELECT min(doc_id) AS doc_id FROM kept
  GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
    '[!-/:-@\[-`{-~]', '', 'g'), '\s+', ' ', 'g'))))
SELECT lang, count(*) AS n_docs,
  CAST(sum(CAST(len(w) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM kept JOIN keeper USING (doc_id) GROUP BY lang"""

  /** Streaming-gopher twin: the kept slice's per-lang aggregates doubled
    * — two deliveries land twice in the append sink.
    */
  val streamingGopher: String = gopherKeptCtes + """
SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_docs,
  CAST(2 * sum(CAST(len(w) AS BIGINT)) AS BIGINT) AS tokens_sum
FROM kept GROUP BY lang"""

  /** Pipeline-5 twin: the full LM replay chained into the dedup keeper
    * rule and the per-lang integer aggregate — one SQL statement replays
    * all three stages.
    */
  val corpusPipeline5: String =
    """WITH tw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM tw) GROUP BY 1),
v AS (SELECT count(*) AS vs FROM uni),
bi AS (
  SELECT p[1] AS a, p[2] AS b, count(*) AS c FROM (
    SELECT unnest([[w[i], w[i + 1]] for i in range(1, len(w))]) AS p FROM tw)
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_id,
    unnest([{'i': i, 'a': w[i], 'b': w[i + 1]} for i in range(1, len(w))]) AS pr
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
scored AS (
  SELECT p.doc_id, p.pr.i AS i,
    CAST(coalesce(u.c, 0) + v.vs AS DOUBLE)
      / CAST(coalesce(b.c, 0) + 1 AS DOUBLE) AS invp,
    CASE WHEN b.c IS NULL THEN 1 ELSE 0 END AS unseen
  FROM pairs p CROSS JOIN v
  LEFT JOIN uni u ON u.t = p.pr.a
  LEFT JOIN bi b ON b.a = p.pr.a AND b.b = p.pr.b),
folded AS (
  SELECT doc_id, count(*) AS n_pairs,
    CAST(sum(unseen) AS BIGINT) AS n_unseen,
    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(invp ORDER BY i)),
      (acc, x) -> acc + x) AS s
  FROM scored GROUP BY doc_id),
kept AS (
  SELECT d.doc_id, d.lang, d.text,
    CAST(coalesce(f.n_pairs, 0) AS BIGINT) AS n_pairs,
    CAST(coalesce(f.n_unseen, 0) AS BIGINT) AS n_unseen
  FROM documents d LEFT JOIN folded f USING (doc_id)
  WHERE (CASE WHEN f.n_pairs IS NULL THEN 0.0 ELSE f.s / f.n_pairs END) <= 32.0),
keeper AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text))
SELECT lang, count(*) AS n_docs,
  CAST(sum(n_pairs) AS BIGINT) AS pairs_sum,
  CAST(sum(n_unseen) AS BIGINT) AS unseen_sum
FROM kept JOIN keeper USING (doc_id) GROUP BY lang"""

  /** Streaming-LM twin: the same learned-model replay as [[lmScore]],
    * restricted to kept docs (surprise ≤ 32.0, no-pair docs score 0.0 and
    * are kept) and doubled — two deliveries land twice in the append-only
    * sink.
    */
  val streamingLm: String =
    """WITH tw AS (SELECT string_split(text, ' ') AS w FROM documents WHERE lang = 'en'),
uni AS (SELECT t, count(*) AS c FROM (SELECT unnest(w) AS t FROM tw) GROUP BY 1),
v AS (SELECT count(*) AS vs FROM uni),
bi AS (
  SELECT p[1] AS a, p[2] AS b, count(*) AS c FROM (
    SELECT unnest([[w[i], w[i + 1]] for i in range(1, len(w))]) AS p FROM tw)
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_id,
    unnest([{'i': i, 'a': w[i], 'b': w[i + 1]} for i in range(1, len(w))]) AS pr
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
scored AS (
  SELECT p.doc_id, p.pr.i AS i,
    CAST(coalesce(u.c, 0) + v.vs AS DOUBLE)
      / CAST(coalesce(b.c, 0) + 1 AS DOUBLE) AS invp
  FROM pairs p CROSS JOIN v
  LEFT JOIN uni u ON u.t = p.pr.a
  LEFT JOIN bi b ON b.a = p.pr.a AND b.b = p.pr.b),
folded AS (
  SELECT doc_id, count(*) AS n_pairs,
    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(invp ORDER BY i)),
      (acc, x) -> acc + x) AS s
  FROM scored GROUP BY doc_id),
kept AS (
  SELECT d.lang, d.text
  FROM documents d LEFT JOIN folded f USING (doc_id)
  WHERE (CASE WHEN f.n_pairs IS NULL THEN 0.0 ELSE f.s / f.n_pairs END) <= 32.0)
SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_docs,
  CAST(2 * sum(len(string_split(text, ' '))) AS BIGINT) AS tokens_sum
FROM kept GROUP BY lang"""

  /** Video-dup twin: the same closed-form same-base pair set as the image
    * and audio fixtures — identical fingerprints, hamming exactly 0.
    */
  val videoDup: String =
    """SELECT x.doc_id AS a, y.doc_id AS b, CAST(0 AS INTEGER) AS hamming
FROM documents x JOIN documents y
  ON x.doc_id % 40 = y.doc_id % 40 AND x.doc_id < y.doc_id"""

  /** Decoded-frame-sampling twin: the sampled frame set in closed form —
    * indices ≡ 0 (mod 4) below each asset's frame count, fixture geometry,
    * bright iff `(id + k) % 3 ≠ 0`; corrupt assets (`doc_id % 41 = 0`)
    * contribute no rows.
    */
  val videoFrames: String =
    """WITH p AS (
  SELECT doc_id, 6 + doc_id % 14 AS n,
    16 + doc_id % 48 AS w, 16 + (doc_id * 5) % 48 AS h
  FROM documents WHERE doc_id % 41 <> 0),
f AS (SELECT doc_id, unnest(range(0, CAST(n AS INT))) AS k, w, h FROM p)
SELECT doc_id AS asset_id, CAST(k AS INTEGER) AS frame_index,
  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
  (doc_id + k) % 3 <> 0 AS bright
FROM f WHERE k % 4 = 0"""

  /** Resize twin: the text-bound assets take decode's deterministic
    * FALLBACK dims (16 + n%512, 16 + 7n%512 — imageio cannot parse text
    * bytes, by design here), which fit into 224×224 with the same integer
    * floor-division geometry.
    */
  val multimodalResize: String =
    """WITH d AS (
  SELECT (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
    16 + octet_length(encode(text)) % 512 AS w,
    16 + (octet_length(encode(text)) * 7) % 512 AS h
  FROM documents),
r AS (
  SELECT kind,
    CASE WHEN w * 224 >= h * 224 THEN 224 ELSE (w * 224) // h END AS out_w,
    CASE WHEN w * 224 >= h * 224 THEN (h * 224) // w ELSE 224 END AS out_h
  FROM d)
SELECT kind, count(*) AS n_assets,
  CAST(sum(out_w) AS BIGINT) AS out_w_sum,
  CAST(sum(out_h) AS BIGINT) AS out_h_sum,
  CAST(max(out_w) AS BIGINT) AS out_w_max,
  CAST(max(out_h) AS BIGINT) AS out_h_max,
  CAST(0 AS BIGINT) AS n_decoded
FROM r GROUP BY 1"""

  /** frames(n) = least(greatest(1, n // 4096), ceil(n / 4096)) for n > 0 —
    * the closed form of sampleFrames' sequence+substring layout.
    */
  val frameSample: String =
    """WITH d AS (
  SELECT (['image', 'audio', 'video'])[CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
    doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
  FROM documents),
f AS (
  SELECT kind, doc_id,
    CASE WHEN n = 0 THEN 0
         ELSE least(greatest(1, n // 4096), (n + 4095) // 4096) END AS frames
  FROM d)
SELECT kind, CAST(sum(frames) AS BIGINT) AS n_frames,
  count(DISTINCT CASE WHEN frames > 0 THEN doc_id END) AS n_assets
FROM f GROUP BY 1"""
}
