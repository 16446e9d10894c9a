package graft

import graft.config.{ColumnSpec, PipelineConfig}
import graft.ledger.LocalJsonLedger
import graft.ops.{Dedup, Events, Multimodal, Relational, Similarity, TextAnalysis}
import graft.orchestrate.Orchestrator
import graft.sources.ParquetSource
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `entry` is the end-to-end medallion flagship (SURVEY §7.2): config →
  * raw ingest (audit column + snappy parquet + ledger) → event-ledger
  * promotion → catalog registration → SQL over the cataloged prepared
  * table. It exercises SURVEY §2.1 ops #1-9/#13-15 in one pass.
  *
  * `queries` / `oracleSql` surface every operator from SURVEY §2.2 and the
  * LLM-pipeline north star; keys without an oracle entry are rows-only
  * graded by design (probabilistic/hash-family ops that no ANSI SQL
  * reproduces — each names its oracle-checked twin in its Scaladoc).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val tmp = Files.createTempDirectory("graft-entry-")
    val cfg = PipelineConfig(
      template = PipelineConfig.CdsViewTemplate,
      project = "graft", subject = "tpch",
      jobSrc = "lineitem", ledgerName = "pipeline_ledger",
      rawRoot = s"$tmp/raw", rawFolder = "lineitem", cdsView = "lineitem",
      preparedRoot = s"$tmp/prepared", tableName = "prepared_lineitem",
      // the flagship pipeline runs on the transaction-log table format:
      // promotion commits atomically through the log (exactly-once via
      // the run-id txn), the catalog view reads the committed snapshot
      tableFormat = PipelineConfig.FormatLog,
      schema = Seq(
        ColumnSpec("l_orderkey", "bigint", "order key"),
        ColumnSpec("l_partkey", "bigint", ""),
        ColumnSpec("l_suppkey", "bigint", ""),
        ColumnSpec("l_linenumber", "int", ""),
        ColumnSpec("l_quantity", "double", ""),
        ColumnSpec("l_extendedprice", "double", ""),
        ColumnSpec("l_discount", "double", ""),
        ColumnSpec("l_tax", "double", ""),
        ColumnSpec("l_returnflag", "string", ""),
        ColumnSpec("l_linestatus", "string", ""),
        ColumnSpec("l_shipdate", "timestamp", "")))
    val ledger = new LocalJsonLedger(tmp.resolve("ledger"))
    val source = ParquetSource("/root/testdata/sf0.001/lineitem.parquet")
    val table = Orchestrator.runEndToEnd(
      spark, cfg, source, ledger, runId = "20260101000000000000")
    spark.sql(
      s"""SELECT l_returnflag, ETL_PART_KEY, count(*) AS n_rows,
         |       CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
         |FROM $table
         |GROUP BY l_returnflag, ETL_PART_KEY
         |ORDER BY l_returnflag""".stripMargin)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 relational surface
    "q01_pricing_summary" -> (Relational.q01PricingSummary _),
    "q02_filter_pushdown" -> (Relational.q02FilterPushdown _),
    "q03_revenue_by_nation" -> (Relational.q03RevenueByNation _),
    "q04_semi_join" -> (Relational.q04SemiJoin _),
    "q05_anti_join" -> (Relational.q05AntiJoin _),
    "q06_window_topk" -> (Relational.q06WindowTopK _),
    "q07_window_analytic" -> (Relational.q07WindowAnalytic _),
    "q08_rollup" -> (Relational.q08Rollup _),
    "q09_cube" -> (Relational.q09Cube _),
    "q10_distinct_agg" -> (Relational.q10DistinctAgg _),
    "q11_sort_limit" -> (Relational.q11SortLimit _),
    "q12_set_ops" -> (Relational.q12SetOps _),
    "q13_string_date" -> (Relational.q13StringDate _),
    "q14_json" -> (Relational.q14Json _),
    "q15_array_hof" -> (Relational.q15ArrayHof _),
    "q16_grouping_sets" -> (Relational.q16GroupingSets _),
    "q17_union_dedup" -> (Relational.q17UnionDedup _),
    "q18_asof_join" -> (Relational.q18AsofJoin _),
    "q19_pivot" -> (Relational.q19Pivot _),
    "q20_percentiles" -> (Relational.q20Percentiles _),
    "q21_correlated_subquery" -> (Relational.q21CorrelatedSubquery _),
    "q22_salted_join" -> (Relational.q22SaltedJoin _), // skew-salting idiom; oracle = plain join
    "q23_approx_distinct" -> (Relational.q23ApproxDistinct _), // rows-only: HLL
    "q24_scd_upsert" -> (Relational.q24ScdUpsert _), // CDC latest-record-wins merge
    "q25_range_join" -> (Relational.q25RangeJoin _), // interval-band non-equi join
    "q26_topk_native" -> (Relational.q26TopkNative _), // custom LogicalPlan+Strategy+Exec top-k
    "q27_topk_extensions" -> (Relational.q27TopkExtensions _), // spark.sql.extensions ladder, rewrite must fire
    "q28_unpivot" -> (Relational.q28Unpivot _), // native unpivot melt (Expand, one scan)
    "q29_log_pruned_scan" -> (Relational.q29LogPrunedScan _), // SnapshotLog readWhere manifest pruning
    "q30_log_metadata_count" -> (Relational.q30LogMetadataCount _), // manifest-answered counts (countRows/countWhere)
    "q31_log_key_lookup" -> (Relational.q31LogKeyLookup _), // bloom-gated point lookup (readKeys)
    "q32_log_partitioned_scan" -> (Relational.q32LogPartitionedScan _), // hidden day+bucket partition pruning
    "q33_log_history" -> (Relational.q33LogHistory _), // oracle: historyMeta over a deterministic 4-version history == VALUES table
    "q34_log_sql_timetravel" -> (Relational.q34LogSqlTimetravel _), // oracle: graft_log TVF cross-version anti-join == the deleted rows
    "q35_log_catalog_sql" -> (Relational.q35LogCatalogSql _), // oracle: DSv2 catalog VERSION AS OF aggregate == full-nation recompute
    "q36_log_sql_insert" -> (Relational.q36LogSqlInsert _), // oracle: SQL INSERT INTO + DELETE FROM through the catalog == DuckDB survivors
    "q37_log_sql_merge" -> (Relational.q37LogSqlMerge _), // oracle: SQL MERGE INTO upsert via mergeClauses == set-algebraic recompute
    "q38_log_dv_delete" -> (Relational.q38LogDvDelete _), // oracle: deletion-vector read (position anti-join) == NOT(pred) survivors
    "q39_log_runtime_prune" -> (Relational.q39LogRuntimePrune _), // oracle: DPP star join over the DSv2 catalog == plain join
    "q40_log_spj" -> (Relational.q40LogSpj _), // oracle: zero-shuffle storage-partitioned join == plain join
    "q41_log_sql_evolution" -> (Relational.q41LogSqlEvolution _), // oracle: ALTER TABLE rename/drop/add + INSERT, read across the epoch boundary == textual recompute
    "q42_log_sql_update" -> (Relational.q42LogSqlUpdate _), // oracle: SQL UPDATE through the catalog == CASE-expression recompute
    "q43_log_sql_changefeed" -> (Relational.q43LogSqlChangefeed _), // oracle: graft_log_changes signed fold == post-DML state recompute
    "q44_log_wap" -> (Relational.q44LogWap _), // oracle: write-audit-publish branch fast-forward == set-algebraic recompute
    "q45_log_sql_constraint" -> (Relational.q45LogSqlConstraint _), // oracle: ALTER TABLE ADD CONSTRAINT CHECK gate, violating INSERT aborts whole == declarative survivors
    "q46_log_sql_ctas" -> (Relational.q46LogSqlCtas _), // oracle: CREATE TABLE AS SELECT with declared bucket spec/sort == direct selection
    "q47_log_sql_mor_read" -> (Relational.q47LogSqlMorRead _), // oracle: DSv2 catalog SELECT over pending DV + tombstone debt == DuckDB survivors
    "q48_log_sql_merge_full" -> (Relational.q48LogSqlMergeFull _), // oracle: full-clause SQL MERGE (conditional update/delete/insert + by-source, composite key) == set-algebraic recompute
    "q49_log_sql_wap" -> (Relational.q49LogSqlWap _), // oracle: SQL-only write-audit-publish loop (branch DML under the session conf, publish fast-forward) == recomputed final state
    "q50_log_sql_nested_evolution" -> (Relational.q50LogSqlNestedEvolution _), // oracle: nested struct rename/drop/add via ALTER TABLE, read across the epoch boundary == textual recompute
    "q51_log_sql_overwrite_partition" -> (Relational.q51LogSqlOverwritePartition _), // oracle: INSERT OVERWRITE PARTITION fused replace_where swap == recomputed final state
    "q52_log_sql_merge_evolve" -> (Relational.q52LogSqlMergeEvolve _), // oracle: MERGE WITH SCHEMA EVOLUTION (analyzer AddColumn + upsert in one statement) == set-algebraic recompute
    "q53_log_sql_element_evolution" -> (Relational.q53LogSqlElementEvolution _), // oracle: array<struct> element rename/add via ALTER, exploded read across the epoch boundary == textual recompute
    "q54_log_sql_general_dml" -> (Relational.q54LogSqlGeneralDml _), // oracle: OR-tree UPDATE + arithmetic-predicate DELETE through the expr counting planner == declarative recompute
    "q55_log_spj_months" -> (Relational.q55LogSpjMonths _), // oracle: month-aligned storage-partitioned join (time-transform key-grouped scan reporting) == self-join recompute
    "q56_log_sql_dynamic_overwrite" -> (Relational.q56LogSqlDynamicOverwrite _), // oracle: INSERT OVERWRITE under dynamic mode swaps exactly the touched tuples (native-write-only SQL verb) == recomputed final state
    "q57_log_sql_merge_residual" -> (Relational.q57LogSqlMergeResidual _), // oracle: MERGE with residual ON conjunct (update-newer-only CDC) == recomputed final state
    "q58_log_sql_subquery_dml" -> (Relational.q58LogSqlSubqueryDml _), // oracle: UPDATE/DELETE with uncorrelated IN/NOT IN subqueries == recomputed final state
    "q59_log_sql_widen_type" -> (Relational.q59LogSqlWidenType _), // oracle: ALTER COLUMN TYPE widening (metadata-only epoch; old files cast up) == recomputed final state
    "q60_log_sql_correlated_dml" -> (Relational.q60LogSqlCorrelatedDml _), // oracle: correlated EXISTS/NOT EXISTS DML decorrelated to the materialized-key path == recomputed final state
    "q61_log_sql_composite_dml" -> (Relational.q61LogSqlCompositeDml _), // oracle: multi-column row-IN DELETE + composite-key correlated EXISTS UPDATE == recomputed final state
    "q62_log_sql_notin_dml" -> (Relational.q62LogSqlNotInDml _), // oracle: correlated NOT IN DML (NULL-carrying inner side, composite left tuple) == ANSI truth-table expansion
    "prof_numeric" -> (graft.ops.Profiling.profNumeric _), // one-pass column profiling
    "prof_constraints" -> (graft.ops.Profiling.profConstraints _), // one-pass quality gate
    "prof_drift" -> (graft.ops.Profiling.profDrift _), // cross-run PSI drift gate
    // §7.3-3 time-window analytics (batch twins of the streaming path)
    "ev_tumbling" -> (Events.evTumbling _),
    "ev_sliding" -> (Events.evSliding _),
    "ev_sessions" -> (Events.evSessions _), // oracle: gaps-and-islands ANSI twin
    "ev_sessions_stateful" -> (graft.streaming.StatefulSessions.evSessionsStateful _), // oracle: islands + watermark-gate ANSI twin
    "ev_user_sequence" -> (Events.evUserSequence _),
    "ev_funnel" -> (Events.evFunnel _), // ordered signup→view→click funnel
    "ev_cohorts" -> (Events.evCohorts _), // weekly cohort retention triangle
    "ev_anomaly" -> (Events.evAnomaly _), // trailing z-score rate anomaly per event type
    "ev_gapfill" -> (Events.evGapfill _), // calendar-spine hourly densification (true zeros)
    "ev_user_profile_stateful" -> (graft.streaming.UserProfiles.evUserProfile _), // oracle: order-insensitive profile fields == batch GROUP BY
    "ev_stream_dedup" -> (graft.streaming.EventStreams.evStreamDedup _), // oracle: doubled stream deduped == batch COUNT(DISTINCT)
    "ev_stream_join" -> (graft.streaming.EventStreams.evStreamJoin _), // oracle: stream-stream interval join == batch interval join
    "ev_stream_enrich" -> (graft.streaming.EventStreams.evStreamEnrich _), // oracle: stream-static broadcast enrich == batch CASE join
    "ev_log_changefeed" -> (graft.streaming.LogChangeFeed.evLogChangefeed _), // oracle: streamed log change feed == plain table aggregate
    "ev_log_sink_pipeline" -> (graft.streaming.LogChangeFeed.evLogSinkPipeline _), // oracle: log→log streaming pipeline (CDF source → graft-log sink) == plain aggregate
    "ev_log_changefeed_cdc" -> (graft.streaming.LogChangeFeed.evLogChangefeedCdc _), // oracle: streamed ROW-LEVEL CDC netted == surviving-row aggregate
    "ev_log_stream_table" -> (graft.streaming.LogChangeFeed.evLogStreamTable _), // oracle: readStream.table over the catalog (DSv2 micro-batch) == plain aggregate
    "mv_incremental" -> (graft.table.DerivedAggregate.mvIncremental _), // oracle: 3-fold incrementally-maintained rollup == full recompute
    "mv_incremental_cdc" -> (graft.table.DerivedAggregate.mvIncrementalCdc _), // oracle: rollup after folding two copy-on-write deletes == survivor recompute
    "mv_distinct" -> (graft.table.DerivedAggregate.mvDistinct _), // oracle: HLL-sketch distinct-user rollup (3 union folds) == exact COUNT(DISTINCT)
    "mv_median" -> (graft.table.DerivedAggregate.mvMedian _), // rows-only: KLL quantile-sketch median rollup (3 merge folds); DerivedAggregateSpec pins the estimate's rank in the exact distribution
    // §7.3-4 dedup family
    "dd_exact" -> (Dedup.ddExact _),
    "dd_exact_docs" -> (Dedup.ddExactDocs _),
    "dd_incremental" -> (Dedup.ddIncremental _), // cross-run dedup via accumulated fp index
    "dd_incremental_near" -> (Dedup.ddIncrementalNear _), // rows-only: cross-run NEAR-dup via minhash sig index
    "dd_ngram_jaccard" -> (Dedup.ddNgramJaccard _),
    "dd_hot_shingles" -> (Dedup.ddHotShingles _), // DF-cap observability: what was dropped
    "dd_shingle_coverage" -> (Dedup.ddShingleCoverage _), // DF-cap observability: who lost protection
    "dd_clusters" -> (Dedup.ddClusters _), // connected components over the near-dup graph
    "dd_collapse_best" -> (Dedup.ddCollapseBest _), // quality-ranked representative per cluster
    "dd_minhash_lsh" -> (Dedup.ddMinhashLsh _), // rows-only: hash family not SQL-portable
    "dd_simhash" -> (Dedup.ddSimhash _), // rows-only: hash family not SQL-portable
    "dd_embed_cosine" -> (Dedup.ddEmbedCosine _),
    "dd_embed_lsh" -> (Dedup.ddEmbedLsh _), // rows-only: probabilistic recall; exact twin is dd_embed_cosine
    "dd_semantic" -> (Dedup.ddSemantic _), // rows-only: SemDeDup cluster-then-dedup; k-means not ANSI-expressible; twin: dd_embed_cosine + DedupSpec precision pin
    "dd_chunks" -> (Dedup.ddChunks _), // sub-document (chunk-level) exact dedup
    "dd_boilerplate" -> (Dedup.ddBoilerplate _), // strip cross-doc repeated chunks, rebuild text
    "dd_contamination" -> (Dedup.ddContamination _), // benchmark 8-gram leakage gate
    "dd_contamination_bloom" -> (Dedup.ddContaminationBloom _), // bloom-prefiltered scale shape, same output
    // §7.3-4 sampling / curation
    "samp_hash" -> (graft.ops.Sampling.sampHash _), // deterministic pushdown-able sample
    "samp_domain_cap" -> (graft.ops.Sampling.sampDomainCap _), // per-domain cap window
    "samp_mixture" -> (graft.ops.Sampling.sampMixture _), // weighted mixture rebalance
    "samp_split_leakage" -> (graft.ops.Sampling.sampSplitLeakage _), // cluster-aware train/valid/test split
    "samp_stratified" -> (graft.ops.Sampling.sampStratified _), // exact per-stratum rate sample
    "samp_shard_shuffle" -> (graft.ops.Sampling.sampShardShuffle _), // deterministic training-shard shuffle
    "cur_pipeline" -> (graft.ops.Sampling.curatePipeline _), // composed sample→dedup→gate→rollup
    "cur_export_shards" -> (graft.ops.Export.curExportShards _), // curate→split→pack→shuffle committed via the log, exactly-once

    // §7.3-4 similarity search
    "sim_topk_brute_force" -> (Similarity.simTopKBruteForce _),
    "sim_ann_lsh" -> (Similarity.simAnnLsh _), // rows-only: probabilistic recall by design
    "sim_ann_ivf" -> (Similarity.simAnnIvf _), // rows-only: probabilistic recall by design
    "sim_ann_ivfpq" -> (Similarity.simAnnIvfPq _), // rows-only: probabilistic recall; twin: sim_topk_brute_force + DedupSpec recall/exact-rescore pins
    "emb_label_centroids" -> (graft.ops.Embeddings.embLabelCentroids _), // per-class centroid grid
    "emb_quantize" -> (graft.ops.Embeddings.embQuantize _), // int8 scalar quantization summary
    "emb_project" -> (graft.ops.Embeddings.embProject _), // JL +/-1 random projection 64->16
    "emb_gram" -> (graft.ops.Embeddings.embGram _), // upper-triangle Gram matrix (PCA/whitening input)
    // §7.3-4 text analysis
    "tx_tokens" -> (TextAnalysis.txTokens _),
    "tx_tokens_bpe" -> (TextAnalysis.txTokensBpe _),
    "tx_quality" -> (TextAnalysis.txQuality _),
    "tx_lang_id" -> (TextAnalysis.txLangId _), // oracle: argmax over marker hits is ANSI-expressible
    "tx_fingerprint" -> (TextAnalysis.txFingerprint _), // rows-only: hash not SQL-portable
    "tx_vocab" -> (TextAnalysis.txVocab _), // top-k term counts (tokenizer-training prefix)
    "tx_heavy_hitters" -> (TextAnalysis.txHeavyHitters _), // Misra-Gries sketch + exact recount
    "tx_tfidf" -> (TextAnalysis.txTfidf _), // rational-idf keeps rounding oracle-stable
    "tx_repetition" -> (TextAnalysis.txRepetition _), // Gopher-style repetition gates
    "tx_bigram_lm" -> (TextAnalysis.txBigramLm _), // in-corpus bigram LM typicality score
    "tx_bpe_train" -> (TextAnalysis.txBpeTrain _), // learn BPE merges from the word histogram
    "tx_tokenize_bpe_learned" -> (TextAnalysis.txTokenizeBpeLearned _), // apply the learned merges corpus-wide; twin: TokenizerSpec parity
    "tx_pii_redact" -> (TextAnalysis.txPiiRedact _), // regex redaction over planted PII
    "tx_domains" -> (TextAnalysis.txDomains _), // URL → domain rollup
    "tx_pack_sequences" -> (TextAnalysis.txPackSequences _), // fixed-budget sequence packing (bin accounting)
    // §7.3-4 multimodal (image decode is REAL javax.imageio; audio decode
    // is REAL javax.sound.sampled WAV parsing — see Multimodal.scala)
    "mm_features" -> (Multimodal.mmFeatures _), // rows-only: PNG byte size/checksum not SQL-predictable
    "mm_media_summary" -> (Multimodal.mmMediaSummary _), // oracle: decoded pixel geometry
    "mm_image_stats" -> (Multimodal.mmImageStats _), // oracle: PIXEL-EXACT decode check (channel means)
    "mm_resize" -> ((s: SparkSession, d: String) => Multimodal.mmResize(s, d)), // oracle: real decoded dims
    "mm_frame_sample" -> ((s: SparkSession, d: String) => Multimodal.mmFrameSample(s, d)), // oracle: real WAV-decoded duration
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" -> Relational.q01Oracle,
    "q02_filter_pushdown" -> Relational.q02Oracle,
    "q03_revenue_by_nation" -> Relational.q03Oracle,
    "q04_semi_join" -> Relational.q04Oracle,
    "q05_anti_join" -> Relational.q05Oracle,
    "q06_window_topk" -> Relational.q06Oracle,
    "q07_window_analytic" -> Relational.q07Oracle,
    "q08_rollup" -> Relational.q08Oracle,
    "q09_cube" -> Relational.q09Oracle,
    "q10_distinct_agg" -> Relational.q10Oracle,
    "q11_sort_limit" -> Relational.q11Oracle,
    "q12_set_ops" -> Relational.q12Oracle,
    "q13_string_date" -> Relational.q13Oracle,
    "q14_json" -> Relational.q14Oracle,
    "q15_array_hof" -> Relational.q15Oracle,
    "q16_grouping_sets" -> Relational.q16Oracle,
    "q17_union_dedup" -> Relational.q17Oracle,
    "q18_asof_join" -> Relational.q18Oracle,
    "q19_pivot" -> Relational.q19Oracle,
    "q20_percentiles" -> Relational.q20Oracle,
    "q21_correlated_subquery" -> Relational.q21Oracle,
    "q22_salted_join" -> Relational.q22Oracle,
    "q24_scd_upsert" -> Relational.q24Oracle,
    "q25_range_join" -> Relational.q25Oracle,
    "q26_topk_native" -> Relational.q26Oracle,
    "q27_topk_extensions" -> Relational.q27Oracle,
    "q28_unpivot" -> Relational.q28Oracle,
    "q29_log_pruned_scan" -> Relational.q29Oracle,
    "q30_log_metadata_count" -> Relational.q30Oracle,
    "q31_log_key_lookup" -> Relational.q31Oracle,
    "q32_log_partitioned_scan" -> Relational.q32Oracle,
    "q33_log_history" -> Relational.q33Oracle,
    "q34_log_sql_timetravel" -> Relational.q34Oracle,
    "q35_log_catalog_sql" -> Relational.q35Oracle,
    "q36_log_sql_insert" -> Relational.q36Oracle,
    "q37_log_sql_merge" -> Relational.q37Oracle,
    "q38_log_dv_delete" -> Relational.q38Oracle,
    "q39_log_runtime_prune" -> Relational.q39Oracle,
    "q40_log_spj" -> Relational.q40Oracle,
    "q41_log_sql_evolution" -> Relational.q41Oracle,
    "q42_log_sql_update" -> Relational.q42Oracle,
    "q43_log_sql_changefeed" -> Relational.q43Oracle,
    "q44_log_wap" -> Relational.q44Oracle,
    "q45_log_sql_constraint" -> Relational.q45Oracle,
    "q46_log_sql_ctas" -> Relational.q46Oracle,
    "q47_log_sql_mor_read" -> Relational.q47Oracle,
    "q48_log_sql_merge_full" -> Relational.q48Oracle,
    "q49_log_sql_wap" -> Relational.q49Oracle,
    "q50_log_sql_nested_evolution" -> Relational.q50Oracle,
    "q51_log_sql_overwrite_partition" -> Relational.q51Oracle,
    "q52_log_sql_merge_evolve" -> Relational.q52Oracle,
    "q53_log_sql_element_evolution" -> Relational.q53Oracle,
    "q54_log_sql_general_dml" -> Relational.q54Oracle,
    "q55_log_spj_months" -> Relational.q55Oracle,
    "q56_log_sql_dynamic_overwrite" -> Relational.q56Oracle,
    "q57_log_sql_merge_residual" -> Relational.q57Oracle,
    "q58_log_sql_subquery_dml" -> Relational.q58Oracle,
    "q60_log_sql_correlated_dml" -> Relational.q60Oracle,
    "q61_log_sql_composite_dml" -> Relational.q61Oracle,
    "q62_log_sql_notin_dml" -> Relational.q62Oracle,
    "q59_log_sql_widen_type" -> Relational.q59Oracle,
    "prof_numeric" -> graft.ops.Profiling.profNumericOracle,
    "prof_constraints" -> graft.ops.Profiling.profConstraintsOracle,
    "prof_drift" -> graft.ops.Profiling.profDriftOracle,
    "samp_hash" -> graft.ops.Sampling.sampHashOracle,
    "samp_domain_cap" -> graft.ops.Sampling.sampDomainCapOracle,
    "samp_mixture" -> graft.ops.Sampling.sampMixtureOracle,
    "samp_split_leakage" -> graft.ops.Sampling.sampSplitLeakageOracle,
    "samp_stratified" -> graft.ops.Sampling.sampStratifiedOracle,
    "samp_shard_shuffle" -> graft.ops.Sampling.sampShardShuffleOracle,
    "cur_pipeline" -> graft.ops.Sampling.curatePipelineOracle,
    "cur_export_shards" -> graft.ops.Export.curExportShardsOracle,
    "ev_tumbling" -> Events.evTumblingOracle,
    "ev_sliding" -> Events.evSlidingOracle,
    "ev_sessions" -> Events.evSessionsOracle,
    "ev_sessions_stateful" -> graft.streaming.StatefulSessions.evSessionsStatefulOracle,
    "ev_user_sequence" -> Events.evUserSequenceOracle,
    "ev_funnel" -> Events.evFunnelOracle,
    "ev_cohorts" -> Events.evCohortsOracle,
    "ev_anomaly" -> Events.evAnomalyOracle,
    "ev_gapfill" -> Events.evGapfillOracle,
    "ev_user_profile_stateful" -> graft.streaming.UserProfiles.evUserProfileOracle,
    "ev_stream_dedup" -> graft.streaming.EventStreams.evStreamDedupOracle,
    "ev_stream_join" -> graft.streaming.EventStreams.evStreamJoinOracle,
    "ev_stream_enrich" -> graft.streaming.EventStreams.evStreamEnrichOracle,
    "ev_log_changefeed" -> graft.streaming.LogChangeFeed.evLogChangefeedOracle,
    "ev_log_sink_pipeline" -> graft.streaming.LogChangeFeed.evLogSinkPipelineOracle,
    "ev_log_changefeed_cdc" -> graft.streaming.LogChangeFeed.evLogChangefeedCdcOracle,
    "ev_log_stream_table" -> graft.streaming.LogChangeFeed.evLogStreamTableOracle,
    "mv_incremental" -> graft.table.DerivedAggregate.mvIncrementalOracle,
    "mv_incremental_cdc" -> graft.table.DerivedAggregate.mvIncrementalCdcOracle,
    "mv_distinct" -> graft.table.DerivedAggregate.mvDistinctOracle,
    "dd_exact" -> Dedup.ddExactOracle,
    "dd_exact_docs" -> Dedup.ddExactDocsOracle,
    "dd_incremental" -> Dedup.ddIncrementalOracle,
    "dd_ngram_jaccard" -> Dedup.ddNgramJaccardOracle,
    "dd_hot_shingles" -> Dedup.ddHotShinglesOracle,
    "dd_shingle_coverage" -> Dedup.ddShingleCoverageOracle,
    "dd_clusters" -> Dedup.ddClustersOracle,
    "dd_collapse_best" -> Dedup.ddCollapseBestOracle,
    "dd_embed_cosine" -> Dedup.ddEmbedCosineOracle,
    "dd_chunks" -> Dedup.ddChunksOracle,
    "dd_boilerplate" -> Dedup.ddBoilerplateOracle,
    "dd_contamination" -> Dedup.ddContaminationOracle,
    // bloom prefilter + exact confirm is output-identical by construction,
    // so the bloom variant grades against the SAME exact oracle
    "dd_contamination_bloom" -> Dedup.ddContaminationOracle,
    "sim_topk_brute_force" -> Similarity.simTopKBruteForceOracle,
    "emb_label_centroids" -> graft.ops.Embeddings.embLabelCentroidsOracle,
    "emb_quantize" -> graft.ops.Embeddings.embQuantizeOracle,
    "emb_project" -> graft.ops.Embeddings.embProjectOracle,
    "emb_gram" -> graft.ops.Embeddings.embGramOracle,
    "tx_tokens" -> TextAnalysis.txTokensOracle,
    "tx_tokens_bpe" -> TextAnalysis.txTokensBpeOracle,
    "tx_quality" -> TextAnalysis.txQualityOracle,
    "tx_lang_id" -> TextAnalysis.txLangIdOracle,
    "tx_vocab" -> TextAnalysis.txVocabOracle,
    "tx_heavy_hitters" -> TextAnalysis.txHeavyHittersOracle,
    "tx_tfidf" -> TextAnalysis.txTfidfOracle,
    "tx_repetition" -> TextAnalysis.txRepetitionOracle,
    "tx_bigram_lm" -> TextAnalysis.txBigramLmOracle,
    "tx_pii_redact" -> TextAnalysis.txPiiRedactOracle,
    "tx_domains" -> TextAnalysis.txDomainsOracle,
    "tx_pack_sequences" -> TextAnalysis.txPackSequencesOracle,
    "mm_media_summary" -> Multimodal.mmMediaSummaryOracle,
    "mm_image_stats" -> Multimodal.mmImageStatsOracle,
    "mm_resize" -> Multimodal.mmResizeOracle,
    "mm_frame_sample" -> Multimodal.mmFrameSampleOracle,
  )
}
