package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions.col

import graft.operators._

/** Driver contract (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 (plus the mandated
  * training-data-pipeline extensions) is exposed as a named query over the
  * driver parquet tables, with an equivalent DuckDB oracle where the operator
  * is SQL-expressible. Column names/types and row ordering are deterministic
  * and identical on both sides by construction (shared constants and
  * mirrored fold orders — see graft.functions.*Sql / graft.operators.*Sql).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full parity pipeline in one plan: replay -> exclude -> upsert state +
    * diff-only CDC history -> join view (SURVEY §7.2 step 2).
    */
  def entry(spark: SparkSession): DataFrame =
    MqttQueries.historyView(spark, "/root/testdata/sf0.001")

  /** One query of the driver contract, declared once.
    *
    * @param name   the query's name: its Verify output directory and its key
    *               in Bench's JSON
    * @param run    builds the query's frame from the parquet tables of a
    *               scale-factor directory
    * @param oracle equivalent ANSI SQL that DuckDB runs on the same parquet
    *               tables; every query is oracle-checked in full
    * @param eager  building the frame EXECUTES the query: streaming replays
    *               (they must run a stream to produce the readback frame),
    *               the iterative union-find (a driver convergence loop) and
    *               the bucketed join (a bucketed table write). The returned
    *               frame's physical plan is a vacuous post-collect
    *               LocalTableScan, so plan-level tooling (PlanAuditSpec,
    *               CodegenCompileSpec, tools.DumpPlans, tools.PlanSnap)
    *               skips these queries, and PlanAuditSpec fails if a query
    *               without the flag starts a stream. The streaming queries'
    *               plan-shape claims are certified by their batch twins'
    *               plans; the union-find's by the DedupClusters scaladoc.
    */
  final case class Query(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: String,
      eager: Boolean = false)

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions),
    * and the only declaration of each query: `queries`, `oracleSql` and
    * `eagerQueries` below are derived from it. Building it, and reading
    * them, builds no DataFrame and runs no Spark job.
    */
  val catalog: Seq[Query] = Seq(
    // --- MQTT parity pipeline (SURVEY §2.1-2.3) ---
    Query("mqtt_messages", MqttQueries.messages _, MqttQueries.messagesSql),
    Query("mqtt_state", MqttQueries.state _, MqttQueries.stateSql),
    Query("mqtt_history", MqttQueries.history _, MqttQueries.historySql),
    Query("mqtt_history_view", MqttQueries.historyView _, MqttQueries.historyViewSql),
    Query("mqtt_history_flags", MqttQueries.historyFlags _, MqttQueries.historyFlagsSql),
    Query("mqtt_topic_filter", MqttQueries.topicFilter _, MqttQueries.topicFilterSql),
    Query("mqtt_localtime", MqttQueries.localtime _, MqttQueries.localtimeSql),
    Query("mqtt_payload_json", MqttQueries.payloadJson _, MqttQueries.payloadJsonSql),
    // the streaming CDC certified through the built-in FILE stream source
    // (range-ordered parquet chunks, maxFilesPerTrigger=1): no driver-side
    // input materialization anywhere on the ingest path, so the
    // incremental-equals-batch certificate is not capped at driver memory
    Query("mqtt_history_streaming_file", (s, d) => streaming.FileReplayHistory.history(s, d),
      MqttQueries.historySql, eager = true),
    // the SAME file-source replay through Spark 4's transformWithState on
    // the RocksDB state store (the successor state API + the provider a
    // large deployment runs) — same oracle, so the certificate isolates
    // the state API/store swap
    Query("mqtt_history_streaming_tws",
      (s, d) => streaming.FileReplayHistory.history(s, d, useTws = true),
      MqttQueries.historySql, eager = true),
    // the backfill-to-streaming handoff: batch CDC over the head of the
    // log + the tail streamed with state BOOTSTRAPPED from the head's
    // snapshot (transformWithState initial state, RocksDB) — starts the
    // stream O(topics) cold instead of replaying O(history); SAME oracle
    // as mqtt_history, which never sees the cut, so any bootstrap defect
    // (missed / duplicated / fresh state) surfaces as a row diff
    Query("mqtt_history_handoff", (s, d) => streaming.TwsBootstrapCdc.history(s, d),
      MqttQueries.historySql, eager = true),
    // the keyed upsert sink end-to-end (source -> micro-batches -> foreachBatch
    // merge), against the SAME oracle as the batch state table.
    //
    // This is the ONE broker-replay (driver-collect ingest) exemplar: it
    // alone certifies the DSv2 MqttSource read path (S1: pattern
    // pushdown, ReadLimit chunking) composed with the UpsertSink merge
    // (S3) end-to-end. Every other streaming operator ingests through the
    // distributed file replay (ReplayHarness) — the `*_file`/`*_tws`
    // forms, whose specs also carry the multi-chunking certificates.
    Query("mqtt_state_streaming", (s, d) => streaming.StreamingState.state(s, d),
      MqttQueries.stateSql, eager = true),
    // the same keyed upsert certified through the built-in FILE stream
    // source: distributed range-ordered staging, one real micro-batch per
    // file, the SAME UpsertSink.merge body — no driver-side input
    // materialization on the second sink path either
    Query("mqtt_state_streaming_file", (s, d) => streaming.FileReplayState.state(s, d),
      MqttQueries.stateSql, eager = true),
    // SCD-2 intervalization of the CDC log: [valid_from, valid_to) per
    // change with a null-open current interval, via per-key lead()
    Query("mqtt_history_scd2", MqttQueries.historyScd2 _, MqttQueries.historyScd2Sql),
    // per-topic change cadence from the SAME CDC kept-row set (sensor
    // health: change counts, span, mean dwell — exact integer ms)
    Query("mqtt_history_stats", MqttQueries.historyStats _, MqttQueries.historyStatsSql),
    // $SYS-style topic-tree rollup: depth-bounded prefix explode, one
    // map-side-combined aggregation to the prefix domain
    Query("mqtt_topic_tree", MqttQueries.topicTree _, MqttQueries.topicTreeSql),
    Query("mqtt_stale_topics", MqttQueries.staleTopics _, MqttQueries.staleTopicsSql),
    Query("mqtt_topic_tree_streaming_file",
      (s, d) => streaming.StreamingTopicTree.treeFromFiles(s, d),
      MqttQueries.topicTreeSql, eager = true),
    // as-of join (single-shuffle union-merge) vs DuckDB's native ASOF JOIN
    Query("mqtt_asof_change", MqttQueries.asofChange _, MqttQueries.asofChangeSql),
    // event-time tumbling windows (batch form; streaming twin is watermarked)
    Query("mqtt_windowed_counts", MqttQueries.windowedCounts _, MqttQueries.windowedCountsSql),
    // the SAME windowed aggregation certified end-to-end as an APPEND-mode
    // streaming query through the file source: each window is emitted once
    // when the watermark passes its end and its state evicts (the
    // bounded-state production contract); a flush sentinel finalizes the
    // trailing windows of the finite replay. Same oracle as the batch form.
    Query("mqtt_windowed_streaming_file",
      (s, d) => streaming.FileReplayWindowed.hourlyStats(s, d),
      MqttQueries.windowedCountsSql, eager = true),
    // --- relational coverage (SURVEY §2.4-2.6) ---
    Query("q1_pricing_summary", Relational.pricingSummary _, Relational.pricingSummarySql),
    Query("q6_forecast_revenue", Relational.forecastRevenue _, Relational.forecastRevenueSql),
    Query("q3_top_orders", Relational.topOrders _, Relational.topOrdersSql),
    Query("q5_local_supplier", Relational.localSupplierVolume _,
      Relational.localSupplierVolumeSql),
    Query("q_semi_join", Relational.semiJoin _, Relational.semiJoinSql),
    Query("q_anti_join", Relational.antiJoin _, Relational.antiJoinSql),
    // correlated subqueries run as ONE engine-neutral SQL string on both
    // engines; the Spark plan pin (decorrelated to aggregate + join /
    // semi + anti joins, zero surviving SubqueryExpressions) lives in
    // SubqueriesSpec
    Query("q_correlated_subquery", Subqueries.correlatedScalar _,
      Subqueries.correlatedScalarSql),
    Query("q_exists_subquery", Subqueries.existsPair _, Subqueries.existsSql),
    Query("q_in_subquery", Subqueries.inPair _, Subqueries.inSql),
    Query("q_window_top3", Relational.windowTop3 _, Relational.windowTop3Sql),
    Query("q_running_spend", Relational.runningUserSpend _, Relational.runningUserSpendSql),
    // event-time RANGE frame: trailing-hour activity, peers included
    Query("q_trailing_window", Relational.trailingHourActivity _,
      Relational.trailingHourActivitySql),
    Query("q_rollup", Relational.statusRollup _, Relational.statusRollupSql),
    Query("q_set_ops", Relational.setOps _, Relational.setOpsSql),
    Query("q_distinct_users", Relational.distinctUsers _, Relational.distinctUsersSql),
    Query("q_topk_orders", Relational.topKOrders _, Relational.topKOrdersSql),
    // same ranking surface as a bounded O(k) aggregate: map-side partial
    // top-k, the shuffle carries buffers instead of the fact table
    Query("q_topk_agg", BoundedTopK.topOrdersPerPriority _,
      BoundedTopK.topOrdersPerPrioritySql),
    // deterministic exact-k-per-group sample on the same bounded
    // aggregate: content-addressed (salted hash60), growth-stable, O(k)
    // buffers instead of a per-group window sort
    Query("pipeline_group_sample", BoundedTopK.sampleDocsPerLang _,
      BoundedTopK.sampleDocsPerLangSql),
    // the same sample maintained INCREMENTALLY: the serialized O(k)
    // top-k buffer per language is the streaming aggregation state
    // (bottom-k-hash = uniform sample of the stream so far), over
    // distributed file-source micro-batches; SAME oracle
    Query("pipeline_group_sample_streaming_file",
      (s, d) => streaming.StreamingGroupSample.sampleDocsPerLangFromFiles(s, d),
      BoundedTopK.sampleDocsPerLangSql, eager = true),
    Query("q_monthly_events", Relational.monthlyEvents _, Relational.monthlyEventsSql),
    // 7x24 load profile: integer epoch dow/hour buckets, micro value mass
    Query("q_hour_heatmap", Relational.hourHeatmap _, Relational.hourHeatmapSql),
    // token-budget shard manifest: PrefixSum distributed scan (one Long
    // per partition to the driver) + one aggregation to the shard domain
    Query("pipeline_shard_manifest", ShardManifest.manifestDocuments _,
      ShardManifestSql.manifestDocumentsSql),
    Query("pipeline_resume_manifest", ShardManifest.resumeManifestDocuments _,
      ShardManifestSql.resumeManifestDocumentsSql),
    // full Jaccard curve over the shared df-capped scored-pair stage
    Query("dedup_jaccard_histogram", JaccardHistogram.histogramDocuments _,
      JaccardHistogramSql.histogramDocumentsSql()),
    // L2-norm bands: the pre-cosine normalization sanity check
    Query("emb_norm_histogram", NormHistogram.histogramEmbeddings _,
      NormHistogramSql.histogramEmbeddingsSql),
    // dense hourly grid per key (gap fill): data touched once for the
    // bucket agg; grid generation, fill join, and the running total all
    // run on bucket-cardinality rows
    Query("q_gap_fill_hourly", Resample.hourlyEvents _, Resample.hourlyEventsSql),
    // time-weighted telemetry aggregation: per (user, type) series, each
    // reading weighted by its hold duration (exact micros gaps, integer
    // cent-ms sums; per-SERIES windows — the high-cardinality key)
    Query("q_time_weighted", TimeWeighted.perSeriesEvents _,
      TimeWeightedSql.perSeriesEventsSql),
    // first/last-touch attribution endpoints per user (per-USER windows —
    // the high-cardinality key; min_by/max_by on the unique row_number)
    Query("q_attribution_touch", Attribution.firstLastTouchEvents _,
      AttributionSql.firstLastTouchEventsSql),
    // the event-type Markov transition matrix with integer-ppm row shares
    Query("q_type_transitions", Attribution.transitionsEvents _,
      AttributionSql.transitionsEventsSql),
    Query("q_session_windows", Relational.sessionWindows _, Relational.sessionWindowsSql),
    Query("q_gap_histogram", GapHistogram.decadesEvents _, GapHistogramSql.decadesEventsSql),
    Query("q_peak_concurrency", PeakConcurrency.peakEvents _,
      PeakConcurrencySql.peakEventsSql),
    Query("q_percentiles", Relational.percentiles _, Relational.percentilesSql),
    Query("q_cube", Relational.cubeEvents _, Relational.cubeEventsSql),
    // explicit GROUPING SETS: |sets| expansion keys per row, not 2^dims
    Query("q_grouping_sets", Relational.groupingSetsReport _,
      Relational.groupingSetsReportSql),
    Query("q_pivot", Relational.pivotEvents _, Relational.pivotEventsSql),
    // the inverse reshape: native unpivot (single Expand) back to the
    // dense long form
    Query("q_unpivot", Relational.unpivotEvents _, Relational.unpivotEventsSql),
    // cohort retention matrix: one user-keyed shuffle builds cohort month +
    // distinct active months (calendar-bounded set), exact integer ages
    Query("q_retention_cohort", Relational.retentionCohort _, Relational.retentionCohortSql),
    // robust outlier screen: exact median/MAD in scaled-integer math, so
    // the 3xMAD fence count can never flip on a ulp
    Query("q_anomaly_mad", Relational.anomalyMad _, Relational.anomalyMadSql),
    Query("q_cusum_drift", CusumDrift.driftEvents _, CusumDriftSql.driftEventsSql),
    // M4 pixel-bucket downsampling (first/last/min/max per bucket) — the
    // error-free dashboard reduction, one map-side-combined shuffle
    Query("q_m4_downsample", M4Downsample.downsampleEvents _,
      M4DownsampleSql.downsampleEventsSql),
    // Poisson-overdispersion screen on the zero-filled hourly grid —
    // integer dispersion numerator, milli var-to-mean
    Query("q_burstiness", Burstiness.reportEvents _, BurstinessSql.reportEventsSql),
    // M4 maintained incrementally over file micro-batches: per-bucket
    // extremes are monotone ORDERED TUPLES, folded by min/max on readback
    Query("q_m4_downsample_streaming_file",
      (s, d) => streaming.StreamingM4.downsampleFromFiles(s, d),
      M4DownsampleSql.downsampleEventsSql, eager = true),
    // per-source token-band histogram on the curriculum's band spelling
    Query("pipeline_length_histogram", LengthHistogram.histogramDocuments _,
      LengthHistogramSql.histogramDocumentsSql),
    // the histogram built INCREMENTALLY from file micro-batches (monotone
    // per-(source, band) counters, max-fold; share tail shared verbatim)
    Query("pipeline_length_histogram_streaming_file",
      (s, d) => streaming.StreamingLengthHistogram.histogramFromFiles(s, d),
      LengthHistogramSql.histogramDocumentsSql, eager = true),
    // deterministic upweighting manifest: fractional replication toward
    // the largest source, epoch-capped at 4x, content-addressed coin
    Query("pipeline_oversample", Oversample.manifestDocuments _,
      OversampleSql.manifestDocumentsSql),
    // the oversample with its per-source token mass built INCREMENTALLY
    // from file micro-batches (monotone max-fold; one counter per source)
    Query("pipeline_oversample_streaming_file",
      (s, d) => streaming.StreamingOversample.manifestFromFiles(s, d),
      OversampleSql.manifestDocumentsSql, eager = true),
    // NTILE quartile report: total-order window so bucket boundaries pin
    Query("q_ntile", Relational.ntileQuartiles _, Relational.ntileQuartilesSql),
    // the remaining §2.5 rank family: percent_rank / cume_dist / running
    // nth_value over a total-ordered per-type spend window
    Query("q_value_ranks", Relational.valueRanks _, Relational.valueRanksSql),
    // bucketed point-in-interval range join (the raw BETWEEN predicate
    // would plan as a nested-loop join)
    Query("q_range_join", RangeJoin.inTransitCounts _, RangeJoin.inTransitCountsSql),
    // skew-mitigated equi-join: deterministic fact-side salt fans each hot
    // key over `salts` tasks; oracle is the plain unsalted join
    Query("q_salted_join", (s, d) => SaltedJoin.orderVolumeBySegment(s, d),
      SaltedJoin.orderVolumeBySegmentSql),
    // write-time-layout join: same-bucket-count tables join with NO
    // exchange on either side (the query-time shuffle paid once at write
    // time); oracle is the plain parquet join — layout changes the plan,
    // never the answer
    Query("q_bucketed_join", BucketedJoin.orderVolumeBySegment _,
      BucketedJoin.orderVolumeBySegmentSql, eager = true),
    // runtime-filter pattern: broadcast bloom bitmap pre-filters the fact
    // side before the exact semi-join; oracle is the plain semi-join
    Query("q_bloom_join", BloomJoin.urgentLineitems _, BloomJoin.urgentLineitemsSql),
    // the same merging-window certificate with NO driver-side input
    // materialization: distributed file-source staging, one real
    // micro-batch per range-ordered chunk, flush sentinels finalize the
    // trailing open sessions; SAME oracle as the batch q_session_windows
    Query("q_session_windows_streaming_file",
      (s, d) => streaming.FileReplaySessions.userSessions(s, d),
      Relational.sessionWindowsSql, eager = true),
    // the merging-window class hand-rolled on transformWithState: ListState
    // of open sessions + event-time timers at each would-be end, RocksDB
    // provider, through the SAME file-replay harness — completes the
    // 3-state-classes x 2-state-APIs certificate matrix; SAME oracle
    Query("q_session_windows_streaming_tws",
      (s, d) => streaming.TwsSessions.userSessionsFromFiles(s, d),
      Relational.sessionWindowsSql, eager = true),
    // watermarked stream-stream inner join (two file-source streams, state
    // bounded by the event-time range condition on both watermarked sides),
    // against the plain batch-join oracle — incremental-equals-batch for
    // the join operator class
    // chunks=2 at the driver contract: the join is batch-count-invariant
    // (the oracle proves it; the spec drives finer chunkings and a
    // cross-batch match explicitly), so the certification replay uses the
    // cheapest multi-batch shape
    Query("q_stream_stream_join",
      (s, d) => streaming.StreamStreamJoin.signupPurchases(s, d, chunks = 2),
      streaming.StreamStreamJoin.signupPurchasesSql, eager = true),
    // stream-static join: each micro-batch enriched against a broadcast
    // dim inside the streaming plan (stateless; the production fact x dim
    // shape), against the plain batch join+aggregate oracle. The two
    // entries replay at 5 and 3 chunks, so together they certify
    // batch-count invariance against the SAME oracle
    Query("q_stream_static_join",
      (s, d) => streaming.StreamStaticJoin.segmentActivityFromFiles(s, d, chunks = 5),
      streaming.StreamStaticJoin.segmentActivitySql, eager = true),
    Query("q_stream_static_join_file",
      (s, d) => streaming.StreamStaticJoin.segmentActivityFromFiles(s, d),
      streaming.StreamStaticJoin.segmentActivitySql, eager = true),
    // the LEFT-OUTER form: unmatched rows can only emit at watermark-driven
    // state eviction (flush-sentinel staging proves the full lifecycle);
    // oracle is the plain batch left join
    // chunks=2 for the same reason as the inner form (eviction semantics
    // are per-watermark-advance, not per-batch-count; the sentinels still
    // drive the full unmatched-row eviction lifecycle)
    Query("q_stream_stream_join_outer",
      (s, d) => streaming.StreamStreamJoin.signupPurchasesOuter(s, d, chunks = 2),
      streaming.StreamStreamJoin.signupPurchasesOuterSql, eager = true),
    // full-outer reconciliation of two same-key aggregates (zero-fill)
    Query("q_outer_join", Relational.outerJoinYears _, Relational.outerJoinYearsSql),
    // ordered step funnel: staged conditional min-ts aggregation per step,
    // every stage keyed on user_id
    Query("q_funnel", Funnel.funnel _, Funnel.funnelSql),
    // the same staged funnel under a 24h per-step conversion deadline —
    // the product-analytics conversion window (without one, a month-long
    // log funnels everyone eventually)
    Query("q_funnel_windowed", Funnel.funnelWindowed _, Funnel.funnelWindowedSql),
    // aggregate funnel report: the per-user funnel verbatim, single-row
    // step counts, step-over-step conversion in integer ppm
    Query("q_funnel_conversion", Funnel.reportEvents _, Funnel.reportSql),
    // --- text analysis extensions ---
    // composite corpus clean: lang gate -> quality gate -> exact dedup ->
    // split, fused so only the dedup agg is wide (one shuffle total)
    Query("pipeline_clean_corpus", CleanCorpus.cleanCorpus _, CleanCorpusSql.cleanSql),
    // the same gated ledger over distributed file-source micro-batches
    // (no driver-side input materialization); SAME oracle
    Query("pipeline_clean_corpus_streaming_file",
      (s, d) => streaming.StreamingCleanCorpus.cleanLedgerFromFiles(s, d),
      CleanCorpusSql.cleanLedgerSql, eager = true),
    Query("text_token_stats",
      (s, d) => TextAnalysis.tokenStats(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.tokenStatsSql),
    // long-form positional tokenization via the native token_positions
    // GENERATOR (the UDTF surface): Generate over the pruned scan
    Query("text_token_positions",
      (s, d) => TextAnalysis.tokenPositions(
        sources.Tables.documents(s, d)).orderBy(col("doc_id"), col("pos")),
      TextAnalysisSql.tokenPositionsSql),
    // posting-list phrase intersection over the generator's output — the
    // positional-inverted-index probe shape, never a substring scan
    Query("text_phrase_search",
      (s, d) => TextAnalysis.phraseSearch(sources.Tables.documents(s, d)),
      TextAnalysisSql.phraseSearchSql()),
    Query("text_langid",
      (s, d) => TextAnalysis.langId(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.langIdSql),
    // lang-ID confidence margin (best minus second-best integer marker
    // score) — the route-to-heavy-model gate; narrow codegen projection
    Query("text_langid_margin", LangIdMargin.marginsDocuments _,
      LangIdMarginSql.marginsDocumentsSql),
    // confusion matrix of the gate classifier vs the labeled lang column
    Query("text_langid_eval", LangIdEval.confusionDocuments _,
      LangIdEvalSql.confusionDocumentsSql),
    Query("text_quality",
      (s, d) => TextAnalysis.quality(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.qualitySql),
    // per-domain top-30% quality gate via the skew-free histogram cutoff
    // (no per-source window over the data; boundary ties rank by doc_id)
    Query("pipeline_quality_filter", QualityFilter.filterDocuments _,
      QualityFilterSql.filterDocumentsSql),
    // EXACT-count per-source 80/10/10 split: one range shuffle, per-source
    // ranks as contiguous-id minus broadcast source offsets (no per-source
    // data window), cross-multiplied integer boundaries
    Query("pipeline_stratified_split", StratifiedSplit.splitDocuments _,
      StratifiedSplitSql.splitDocumentsSql),
    // per-source stage-survival funnel over the certified clean chain
    // (one conditional-count pass + the chain's own dedup shuffle)
    Query("pipeline_curation_funnel", CurationFunnel.funnelDocuments _,
      CurationFunnelSql.funnelDocumentsSql),
    // deterministic per-source token-budget prefix: order-preserving
    // hash-range bucket histogram classifies full/boundary buckets; only
    // the (at most one per source) boundary bucket ranks doc-level
    Query("pipeline_budget_sample", BudgetSample.sampleDocuments _,
      BudgetSampleSql.sampleDocumentsSql),
    // the budget prefix with its per-(source, bucket) token histogram
    // built INCREMENTALLY from file micro-batches (update-mode aggregate,
    // monotone max-fold readback; state is histogram-sized, independent of
    // corpus size) — same oracle as the batch form
    Query("pipeline_budget_sample_streaming_file",
      (s, d) => streaming.StreamingBudgetSample.sampleFromFiles(s, d),
      BudgetSampleSql.sampleDocumentsSql, eager = true),
    // the round-15 composite: boilerplate strip -> clean chain ON the
    // stripped text -> per-source budget prefix over stripped counts —
    // every stage the standalone operator verbatim
    Query("pipeline_curate", Curate.curateDocuments _, CurateSql.curateDocumentsSql),
    Query("text_fingerprints",
      (s, d) => TextAnalysis.fingerprints(sources.Tables.documents(s, d))
        .orderBy(col("doc_id")),
      TextAnalysisSql.fingerprintsSql),
    // winnowing (MOSS) rolling-hash passage fingerprints: any shared run of
    // >= w+k-1 words yields a shared fingerprint, at ~2/(w+1) index size
    Query("text_winnow", Winnow.winnowDocs _, Winnow.winnowDocsSql),
    // unaligned shared-passage dedup over the winnow fingerprint index
    Query("dedup_winnow", Winnow.winnowDups _, Winnow.winnowDupsSql),
    // the same first-seen passage state over distributed file-source
    // micro-batches (no driver-side input materialization); SAME oracle
    Query("dedup_winnow_streaming_file",
      (s, d) => streaming.StreamingWinnow.firstSeenPassagesFromFiles(s, d),
      Winnow.distinctFpsSql, eager = true),
    // deterministic content-addressed train/valid/test assignment
    Query("text_split",
      (s, d) => TextAnalysis.split(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.splitSql),
    // per-doc top-k terms by smoothed TF-IDF (inverted-index analytics)
    Query("text_tfidf",
      (s, d) => TextAnalysis.tfidfTopTerms(sources.Tables.documents(s, d))
        .orderBy(col("doc_id"), col("rank")),
      TextAnalysisSql.tfidfTopTermsSql()),
    // PII scrubbing (emails), probe-augmented so redactions actually occur
    Query("text_redact",
      (s, d) => TextAnalysis.redactEmails(
        TextAnalysis.redactProbeAugmented(sources.Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      TextAnalysisSql.redactEmailsSql),
    // Gopher-style repetition signals (per-row array fold, shuffle-free)
    Query("text_repetition",
      (s, d) => TextAnalysis.repetition(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.repetitionSql),
    // C4-style cross-doc boilerplate REWRITE: n-grams recurring in >= 3
    // distinct docs struck everywhere, kept tokens reassembled in order
    // (narrow shingling, one df shuffle, broadcast frequent-gram set)
    Query("text_boilerplate_strip", Boilerplate.stripDocuments _,
      BoilerplateSql.stripDocumentsSql),
    // one BPE training step: adjacent char-pair frequencies on the
    // DISTINCT-WORD table (corpus-sized pass = one word count), top merge
    // candidates by TakeOrdered under a total order
    Query("text_bpe_pairs", BpePairs.mergeCandidatesDocuments _,
      BpePairsSql.mergeCandidatesDocumentsSql()),
    // the APPLY side of BPE: top merges folded through every distinct word
    // (vocab-sized work after one corpus pass), head-of-vocab segmentations
    Query("text_bpe_encode", BpeEncode.encodeDocuments _, BpeEncodeSql.encodeDocumentsSql),
    // per-source encoder fertility (tokens per character, integer ppm) —
    // the pretraining-mix health metric the encode step induces
    Query("text_bpe_fertility", BpeEncode.fertilityDocuments _,
      BpeEncodeSql.fertilityDocumentsSql),
    // overlapping token-window chunking (RAG/context-window prep): stride
    // grid + subset-tail suppression, replication bounded by W/S = 2
    Query("text_chunk", TextChunk.chunkDocuments _, TextChunkSql.chunkDocumentsSql),
    // chunk-level exact dedup (retrieval-index prep): the chunk stage IS
    // TextChunk.chunk verbatim; canonical copy by content-hash window
    Query("pipeline_chunk_dedup", ChunkDedup.dedupDocuments _,
      ChunkDedupSql.dedupDocumentsSql),
    // streaming twin: canonical chunk assignment (hash -> min coordinate)
    // as an update-mode agg over file micro-batches, monotone min-fold
    Query("pipeline_chunk_dedup_streaming_file",
      (s, d) => streaming.StreamingChunkDedup.canonicalFromFiles(s, d),
      streaming.StreamingChunkDedupSql.canonicalDocumentsSql, eager = true),
    // length-banded curriculum order (short-first schedule): one range
    // shuffle over (band, salted hash, doc_id), ContiguousId positions
    Query("pipeline_curriculum", Curriculum.scheduleDocuments _,
      CurriculumSql.scheduleDocumentsSql),
    Query("pipeline_interleave", Interleave.orderDocuments _, InterleaveSql.orderDocumentsSql),
    // the interleave with its per-source exposure counters built
    // INCREMENTALLY from file micro-batches (update-mode aggregate,
    // monotone max-fold readback; state is one counter per source) —
    // schedule tail shared verbatim, same oracle as the batch form
    Query("pipeline_interleave_streaming_file",
      (s, d) => streaming.StreamingInterleave.orderFromFiles(s, d),
      InterleaveSql.orderDocumentsSql, eager = true),
    Query("pipeline_span_corruption", SpanCorruption.scheduleDocuments _,
      SpanCorruptionSql.scheduleDocumentsSql),
    // per-column data-quality profile (nulls/distincts/min-max): one
    // 4-column pass, Expand multi-distinct, generator unpivot of one row
    Query("pipeline_corpus_profile", CorpusProfile.profileDocuments _,
      CorpusProfileSql.profileDocumentsSql),
    // cross-source shingle overlap (dedup planning): per-source DISTINCT
    // collapses each shingle to <=|sources| rows before the pair join
    Query("pipeline_source_overlap", SourceOverlap.overlapDocuments _,
      SourceOverlapSql.overlapDocumentsSql()),
    // all-corpus kNN edge list: the near-dup LSH candidate stage verbatim,
    // one cosine fold per undirected pair, high-cardinality top-k window
    Query("ann_knn_graph", KnnGraph.graphEmbeddings _, KnnGraphSql.graphEmbeddingsSql()),
    // incremental graph maintenance: frozen old edges + delta-touching
    // pairs re-ranked — the oracle is the full-rebuild spelling VERBATIM,
    // so the gate itself certifies incremental == rebuild
    Query("ann_knn_graph_delta", KnnGraph.deltaGraphEmbeddings _,
      KnnGraphSql.graphEmbeddingsSql()),
    // pairwise dimension co-moments (covariance/PCA prep): one reused
    // element exchange, map-side combine to the |Dim|^2/2 pair domain
    Query("emb_covariance", EmbCovariance.comomentsEmbeddings _,
      EmbCovarianceSql.comomentsEmbeddingsSql),
    // dataset datasheet (size/diversity/dup-rate/splits): one corpus
    // pass, Expand multi-distinct, certified spellings shared throughout
    Query("pipeline_dataset_card", DatasetCard.cardDocuments _,
      DatasetCardSql.cardDocumentsSql),
    // candidate-pair cosine histogram (distance-concentration diagnosis):
    // the shared LSH candidate stage, IEEE floor binning, integer counts
    Query("emb_distance_histogram", DistanceHistogram.histogramEmbeddings _,
      DistanceHistogramSql.histogramEmbeddingsSql()),
    // kNN-graph in-degree histogram (hubness/coverage instrument): the
    // certified edge stage verbatim + a zero-inclusive degree count
    Query("ann_graph_degree", GraphDegree.histogramEmbeddings _,
      GraphDegreeSql.histogramEmbeddingsSql),
    // label-centroid cosine matrix (class geometry): one EmbDimStats-shaped
    // corpus shuffle, everything downstream on the labels×dims table
    Query("emb_centroid_sim", CentroidSim.matrixEmbeddings _,
      CentroidSimSql.matrixEmbeddingsSql),
    // part-pair association lift (basket-bounded pair join, integer-exact
    // lift ppm, single-row N broadcast, TakeOrdered tail)
    Query("q_market_basket", MarketBasket.liftLineitem _, MarketBasketSql.liftLineitemSql),
    // per-source word-length/syllable/long-word readability profile (one
    // corpus pass, integer rates; the corpus is sentence-terminator-free)
    Query("text_readability", Readability.profileDocuments _,
      ReadabilitySql.profileDocumentsSql),
    Query("text_entropy", TokenEntropy.profileDocuments _,
      TokenEntropySql.profileDocumentsSql),
    Query("text_charclass", CharClass.profileDocuments _, CharClassSql.profileDocumentsSql),
    Query("text_entropy_streaming_file",
      (s, d) => streaming.StreamingTokenEntropy.profileFromFiles(s, d),
      TokenEntropySql.profileDocumentsSql, eager = true),
    // conditional bigram surprisal (fluency proxy): lead()-window bigrams,
    // ln once per distinct pair on the vocab-sized table, integer doc sums
    Query("text_bigram_surprisal", BigramSurprisal.scoreDocuments _,
      BigramSurprisalSql.scoreDocumentsSql),
    // PMI top-k collocations (tokenizer vocab curation): marginals from
    // the aggregated pair table, single-row N broadcast, TakeOrdered tail
    Query("text_collocations", Collocations.topDocuments _, CollocationsSql.topDocumentsSql),
    // streaming twin: incremental pair counts over file micro-batches,
    // monotone max-fold, the SAME scoring tail and oracle
    Query("text_collocations_streaming_file",
      (s, d) => streaming.StreamingCollocations.topFromFiles(s, d),
      CollocationsSql.topDocumentsSql, eager = true),
    // deterministic per-language rebalancing sample (content-addressed)
    Query("text_sample_stratified",
      (s, d) => TextAnalysis.sampleStratified(
        sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.sampleStratifiedSql),
    // corpus vocabulary head: top-k tokens by term frequency (+doc freq)
    Query("text_vocab_topk", (s, d) => TextAnalysis.vocabTopK(sources.Tables.documents(s, d)),
      TextAnalysisSql.vocabTopKSql),
    Query("text_vocab_growth", VocabGrowth.growthDocuments _,
      VocabGrowthSql.growthDocumentsSql),
    Query("text_vocab_growth_streaming_file",
      (s, d) => streaming.StreamingVocabGrowth.growthFromFiles(s, d),
      VocabGrowthSql.growthDocumentsSql, eager = true),
    Query("q_session_gap_sweep", SessionGapSweep.sweepEvents _,
      SessionGapSweepSql.sweepEventsSql),
    Query("dedup_shingle_profile",
      (s, d) => Dedup.shingleDfProfile(sources.Tables.documents(s, d)),
      DedupSql.shingleDfProfileSql()),
    Query("ann_rerank_depth_curve", (s, d) => ProductQuantization.rerankDepthCurve(s, d),
      ProductQuantizationSql.rerankDepthCurveSql()),
    Query("ann_ivf_probe_curve",
      (s, d) => Similarity.ivfProbeCurve(sources.Tables.embeddings(s, d)),
      SimilaritySql.ivfProbeCurveSql()),
    Query("text_zipf", Zipf.decadesDocuments _, ZipfSql.decadesDocumentsSql),
    // canonical normalization (ASCII case-fold, scrub, collapse): the
    // dedup/matching preprocessor, narrow and codegen'd
    Query("text_normalize",
      (s, d) => TextAnalysis.normalize(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.normalizeSql),
    // corpus-bigram novelty (boilerplate detector): inverted-index df pass,
    // all-integer ppm scoring
    Query("text_bigram_novelty",
      (s, d) => TextAnalysis.bigramNovelty(
        sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.bigramNoveltySql()),
    // corpus token accounting by (lang, split): mixture/budget planning
    Query("pipeline_token_budget",
      (s, d) => TextAnalysis.tokenBudget(sources.Tables.documents(s, d)),
      TextAnalysisSql.tokenBudgetSql),
    // data-derived mixture rebalancing: per-lang keep rates toward equal
    // token shares, content-addressed coin, all-integer ppm — two narrow
    // passes, both aggs map-side-combined to |langs| rows
    Query("pipeline_mixture_sample", Mixture.rebalanceDocs _, Mixture.rebalanceDocsSql),
    // temperature-scaled (alpha = 0.5) language rebalancing — the
    // multilingual pretraining standard; sqrt is the one IEEE-exact
    // temperature, so the rates carry no cross-engine libm risk
    Query("pipeline_temperature_sample", Mixture.temperatureRebalanceDocs _,
      Mixture.temperatureRebalanceDocsSql),
    // the END-TO-END assembly in one plan: clean -> temperature-sample ->
    // global shuffle, emitting the final training manifest (positions
    // included) — every stage the standalone operators' exact expressions
    Query("pipeline_assemble", Assemble.assembleDocuments _, AssembleSql.assembleDocumentsSql),
    // deterministic weighted sampling without replacement (hash
    // replication — the integer-exact cousin of priority sampling):
    // min-of-w salted hashes per row, all narrow, bottom-k TakeOrdered
    Query("pipeline_weighted_sample", WeightedSample.sampleDocuments _,
      WeightedSampleSql.sampleDocumentsSql),
    // deterministic global training shuffle: salted-hash permutation with
    // contiguous 1..N positions via the range+zipWithIndex id assigner (no
    // single-partition window) and hash-derived writer shards — the whole
    // permutation is oracle-certified, not a sample
    Query("pipeline_global_shuffle", GlobalShuffle.shuffledDocuments _,
      GlobalShuffleSql.shuffledDocumentsSql),
    // multi-epoch training orders: 3 independent permutations, per-epoch
    // contiguous positions, still ONE range shuffle (epoch inside both the
    // salt and the range key; N as a broadcast single-row count)
    Query("pipeline_epoch_shuffle", GlobalShuffle.epochShuffledDocuments _,
      GlobalShuffleSql.epochShuffledDocumentsSql),
    // incremental-recrawl snapshot diff: hash rows below the full-outer
    // join (text never shuffles), every status branch exercised by the
    // deterministic carve — the corpus-to-corpus form of the CDC predicate
    Query("pipeline_corpus_diff", CorpusDiff.diffDocuments _, CorpusDiffSql.diffDocumentsSql),
    // per-source token-distribution drift between the SAME carved
    // snapshots: integer TV numerator, ppm by exact integer division; one
    // data shuffle (side-flagged union, conditional sums), vocab-sized rest
    Query("pipeline_corpus_drift", CorpusDrift.driftDocuments _,
      CorpusDriftSql.driftDocumentsSql),
    // the same drift with the NEW snapshot ingested as real file-source
    // micro-batches (update-mode exact counters, monotone max-fold; the
    // old side static; shared sideToks/tvTail spelling), SAME oracle
    Query("pipeline_corpus_drift_streaming_file",
      (s, d) => streaming.StreamingCorpusDrift.driftFromFiles(s, d),
      CorpusDriftSql.driftDocumentsSql, eager = true),
    // the composition an incremental recrawl runs: new crawl streamed
    // against the static previous snapshot (stateless stream-static left
    // join per micro-batch), deletions via one batch anti-pass; SAME oracle
    Query("pipeline_corpus_diff_streaming_file",
      (s, d) => streaming.StreamingCorpusDiff.diffDocumentsFromFiles(s, d),
      CorpusDiffSql.diffDocumentsSql, eager = true),
    // the step after the diff: dedup the delta against the WHOLE previous
    // snapshot's content (a new page duplicating a different existing
    // page); hash rows only past the md5 projections
    Query("pipeline_delta_dedup", CorpusDiff.deltaDedupDocuments _,
      CorpusDiffSql.deltaDedupDocumentsSql),
    // linear model-based quality classifier (the fastText-linear shape):
    // exploded tokens x broadcast weight-TABLE join, matched hits only to
    // the doc-keyed shuffle, integer cross-multiplied accept decision
    Query("text_quality_model", QualityModel.scoreDocuments _,
      QualityModelSql.scoreDocumentsSql),
    // agreement contingency of the heuristic gate vs the model classifier
    // — the table behind swapping (or staging) the two quality screens
    Query("text_quality_calibration", QualityCalibration.contingencyDocuments _,
      QualityCalibrationSql.contingencyDocumentsSql),
    // int8 reconstruction-error report (the PqDistortion discipline on the
    // int8 family): outlier-crushed vectors surface as heavy error tails
    Query("emb_quantize_error", QuantizeError.reportEmbeddings _,
      QuantizeErrorSql.reportEmbeddingsSql),
    // corpus-self unigram surprisal (the LM-perplexity proxy): floored
    // micro ln once per DISTINCT token, integer sums per doc — no float
    // crosses an aggregation
    Query("text_surprisal", Surprisal.scoreDocuments _, SurprisalSql.scoreDocumentsSql),
    // concat-and-chunk sequence packing (sharded running sum, integer math)
    Query("text_pack_sequences",
      (s, d) => TextAnalysis.packSequences(
        sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      TextAnalysisSql.packSequencesSql),
    // linear-counting distinct sketch: the oracle verifies the sketch itself
    Query("q_approx_distinct", Sketches.approxDistinctUsers _,
      SketchesSql.approxDistinctUsersSql),
    // fixed-width histogram quantile sketch (groups x bins shuffle, never a
    // per-group sort); the deterministic bin math is oracle-verified exactly
    Query("q_approx_quantiles", Sketches.approxQuantilesByType _,
      SketchesSql.approxQuantilesByTypeSql),
    // the same sketch over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    Query("q_approx_distinct_streaming_file",
      (s, d) => streaming.StreamingSketch.approxDistinctUsersFromFiles(s, d),
      SketchesSql.approxDistinctUsersSql, eager = true),
    // the SAME file-source sketch on Spark 4's transformWithState + the
    // RocksDB store (the successor state API, as mqtt_history_streaming_tws
    // is for the CDC path) — same oracle, so the green row isolates the
    // state API + provider swap for the update-mode aggregation class
    Query("q_approx_distinct_streaming_tws",
      (s, d) => streaming.TwsSketch.approxDistinctUsersFromFiles(s, d),
      SketchesSql.approxDistinctUsersSql, eager = true),
    // the same histogram over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    Query("q_approx_quantiles_streaming_file",
      (s, d) => streaming.StreamingQuantiles.quantilesByTypeFromFiles(s, d),
      SketchesSql.approxQuantilesByTypeSql, eager = true),
    // KMV bottom-k distinct sketch as a native TypedImperativeAggregate
    // (the custom-UDAF surface): O(k) state per group at ANY cardinality,
    // oracle-verified through its exact integer (n_kept, kth_hash) core
    Query("q_kmv_distinct", Sketches.kmvDistinctUsers _, SketchesSql.kmvDistinctUsersSql),
    // the same custom aggregate over distributed file-source micro-batches
    // (no driver-side input materialization); SAME oracle
    Query("q_kmv_distinct_streaming_file",
      (s, d) => streaming.StreamingKmv.kmvDistinctUsersFromFiles(s, d),
      SketchesSql.kmvDistinctUsersSql, eager = true),
    // HyperLogLog: max-leading-zero registers (m bytes/group at any
    // cardinality), certified through the exact integer (n_zero_buckets,
    // sum_pow) core; small-range correction included
    Query("q_hll_distinct", Sketches.hllDistinctUsers _, SketchesSql.hllDistinctUsersSql),
    // the same registers over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    Query("q_hll_distinct_streaming_file",
      (s, d) => streaming.StreamingHll.hllDistinctUsersFromFiles(s, d),
      SketchesSql.hllDistinctUsersSql, eager = true),
    // theta-sketch-style pairwise set overlap from bottom-k samples:
    // Jaccard + intersection estimates per group pair, key-cardinality
    // work only, exact below saturation — integer (n_kept, theta,
    // n_common) core certified
    Query("q_kmv_overlap", Sketches.kmvOverlapByType _, SketchesSql.kmvOverlapByTypeSql),
    // sketch MERGEABILITY certificate: per-group register tables collapse
    // by bucket-max into the union's sketch (the 1000-executor merge
    // path), proven equal to sketching the union directly
    Query("q_hll_merged", Sketches.hllMergedDistinctUsers _,
      SketchesSql.hllMergedDistinctUsersSql),
    // Count-Min sketch: bounded-state per-key FREQUENCY estimation — a
    // depth x width counter grid (state independent of key cardinality,
    // the frequency complement of the cardinality sketches above); probe
    // estimates certified as exact overcounts vs the true counts
    Query("q_cms_counts", Sketches.cmsUserTypeCounts _, SketchesSql.cmsUserTypeCountsSql),
    // CMS inner-product join-size estimation (the CBO primitive): two
    // grid-sized sketches size the join the optimizer would otherwise
    // have to run; certified as an exact overestimate vs the true count
    Query("q_cms_join_size", Sketches.cmsJoinSizeEvents _, SketchesSql.cmsJoinSizeEventsSql),
    // the same grid over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    Query("q_cms_counts_streaming_file",
      (s, d) => streaming.StreamingCms.cmsUserTypeCountsFromFiles(s, d),
      SketchesSql.cmsUserTypeCountsSql, eager = true),
    // exact heavy-hitter skew profile: one key-partitioned agg over data,
    // ranking/share on key-cardinality rows (integer ppm — no float ranks)
    Query("q_heavy_hitters", HeavyHitters.hotCustomers _, HeavyHitters.hotCustomersSql),
    // the update-mode counter certificate with NO driver-side input
    // materialization: file-source staged fact rows, real micro-batches;
    // order-free (counters are monotone), SAME oracle as the batch form
    Query("q_heavy_hitters_streaming_file",
      (s, d) => streaming.FileReplayHeavyHitters.hotCustomers(s, d),
      HeavyHitters.hotCustomersSql, eager = true),
    // the BOUNDED-state form: per-partition Misra-Gries summaries (capacity
    // counters max, regardless of input size) merged by key-sum; certified
    // in the provably-exact regime (capacity > distinct keys) against the
    // SAME oracle as the exact profile
    Query("q_heavy_hitters_bounded", HeavyHitters.hotCustomersBounded _,
      HeavyHitters.hotCustomersSql),
    // the same hashed-group Misra-Gries state over distributed
    // file-source micro-batches (no driver-side input materialization);
    // SAME oracle
    Query("q_heavy_hitters_bounded_streaming_file",
      (s, d) => streaming.StreamingBoundedHeavyHitters.hotCustomersFromFiles(s, d),
      HeavyHitters.hotCustomersSql, eager = true),
    // the same bounded counters on transformWithState + MapState (RocksDB):
    // each counter is its own store entry, write-back touches only counters
    // the batch changed — the at-scale layout for per-key sub-maps; SAME
    // oracle, isolating the state API + layout swap
    Query("q_heavy_hitters_bounded_streaming_tws",
      (s, d) => streaming.TwsHeavyHitters.hotCustomersFromFiles(s, d),
      HeavyHitters.hotCustomersSql, eager = true),
    // single-row distributional skew summary of the same key: cardinality,
    // exact count order-statistics, hot-tail share, max/mean ppm ratio
    Query("q_skew_profile", SkewReport.orderCustomerSkew _, SkewReport.orderCustomerSkewSql),
    Query("q_pareto_share", ParetoShare.reportOrders _, ParetoShareSql.reportOrdersSql),
    Query("q_benford", Benford.reportOrders _, BenfordSql.reportOrdersSql),
    Query("q_exact_median", ExactQuantiles.mediansEvents _,
      ExactQuantilesSql.mediansEventsSql),
    Query("q_ship_latency", ShipLatency.histogramTables _, ShipLatencySql.histogramTablesSql),
    // benchmark decontamination: broadcast bench postings, probe-augmented
    // bench suite so the correctness row is structurally non-vacuous
    Query("text_decontaminate",
      (s, d) => {
        val docs = sources.Tables.documents(s, d)
        Decontaminate.contaminated(docs, Decontaminate.probeBenchmarks(docs))
          .orderBy(col("doc_id"))
      },
      DecontaminateSql.contaminatedSql()),
    // fuzzy (fractional-containment) decontamination: per benchmark item,
    // the worst-offender containment ppm + leak-threshold doc count, banded
    // by ppm decile; four probe regimes (exact / paraphrase / partial /
    // clean) keep every band class non-vacuous
    Query("text_decontaminate_fuzzy",
      (s, d) => {
        val docs = sources.Tables.documents(s, d)
        Decontaminate.fuzzyContaminated(docs,
          Decontaminate.fuzzyProbeBenchmarks(docs))
      },
      DecontaminateSql.fuzzyContaminatedSql()),
    // the benchmark-side view of the same contamination join: which eval
    // items leaked, into how many training docs, through how many shingles
    Query("pipeline_contamination_report",
      (s, d) => {
        val docs = sources.Tables.documents(s, d)
        Decontaminate.benchReport(docs, Decontaminate.probeBenchmarks(docs))
      },
      DecontaminateSql.benchReportSql()),
    // pairs -> clusters on the jaccard-VERIFIED minhash pair graph — the
    // exact keep-list the attribution report's greedy doc_b rule bounds
    Query("dedup_minhash_clusters",
      (s, d) => DedupClusters.components(
        Dedup.minhashLsh(sources.Tables.documents(s, d))
          .select(col("doc_a"), col("doc_b")))
        .orderBy(col("doc_id")),
      DedupClustersSql.componentsSql(
        s"pairs AS (SELECT doc_a, doc_b FROM (${DedupSql.minhashLshSql()}) mp)"),
      eager = true),
    // keep-list health: how many clusters of each size the verified pair
    // graph collapses into (fat tail = boilerplate chaining)
    Query("dedup_cluster_sizes",
      (s, d) => DedupClusters.sizeHistogram(
        DedupClusters.components(
          Dedup.minhashLsh(sources.Tables.documents(s, d))
            .select(col("doc_a"), col("doc_b")))),
      DedupClustersSql.sizeHistogramSql(
        s"pairs AS (SELECT doc_a, doc_b FROM (${DedupSql.minhashLshSql()}) mp)"),
      eager = true),
    // --- dedup extensions ---
    Query("dedup_exact",
      (s, d) => Dedup.exact(sources.Tables.documents(s, d)).orderBy(col("content_hash")),
      DedupSql.exactSql),
    // per-source dup rate + cross-source sharing on the SAME content hash
    Query("dedup_source_report", DedupSourceReport.reportDocuments _,
      DedupSourceReportSql.reportDocumentsSql),
    // stage-attributed cascade report: which screen (exact / normalized /
    // minhash near-dup) catches each duplicate — the screen-overlap table
    // behind the run-the-expensive-pass-or-not decision
    Query("dedup_attribution", DedupAttribution.attributionDocuments _,
      DedupAttributionSql.attributionDocumentsSql),
    // canonical-form dedup (case/punct/whitespace variants), probe-augmented
    // so normalized duplicate groups provably exist
    Query("dedup_normalized",
      (s, d) => Dedup.normalizedDups(
        Dedup.normProbeAugmented(sources.Tables.documents(s, d)))
        .orderBy(col("norm_hash")),
      DedupSql.normalizedDupsSql),
    // quality-ranked cluster representative: each canonical duplicate group
    // keeps its highest-integer-ppm-quality copy via a partially-
    // aggregatable struct-max (bodies never shuffle)
    Query("dedup_keep_best", (s, d) => Dedup.keepBest(sources.Tables.documents(s, d)),
      DedupSql.keepBestSql),
    // the same horizon-scoped drop over distributed file-source
    // micro-batches (no driver-side input materialization, span-derived
    // horizon); SAME oracle
    Query("dedup_exact_streaming_file",
      (s, d) => streaming.StreamingDedup.exactWithinHorizonFromFiles(s, d),
      DedupSql.exactKeySetSql, eager = true),
    // the same canonical-hash drop over distributed file-source
    // micro-batches (no driver-side input materialization); SAME oracle
    Query("dedup_normalized_streaming_file",
      (s, d) => streaming.StreamingDedup.normalizedWithinHorizonFromFiles(s, d),
      DedupSql.normalizedKeySetSql, eager = true),
    // sub-document exact dedup: aligned token-window chunks hashed and
    // grouped; passages appearing in >= 2 distinct docs
    Query("dedup_passage",
      (s, d) => Dedup.passageDups(sources.Tables.documents(s, d)).orderBy(col("passage_hash")),
      DedupSql.passageDupsSql),
    Query("dedup_fingerprint",
      (s, d) => Dedup.fingerprint(sources.Tables.documents(s, d)).orderBy(col("fp")),
      DedupSql.fingerprintSql),
    Query("dedup_ngram_jaccard",
      (s, d) => Dedup.ngramJaccard(sources.Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b")),
      DedupSql.ngramJaccardSql()),
    // asymmetric containment (subset-duplicate screen), probe-augmented so
    // a guaranteed prefix-subset pair exists (containment 1.0)
    Query("dedup_containment",
      (s, d) => Dedup.ngramContainment(
        Dedup.containmentProbeAugmented(sources.Tables.documents(s, d)))
        .orderBy(col("doc_a"), col("doc_b")),
      DedupSql.ngramContainmentSql()),
    // blocked edit-distance near-dups (character-level fuzzy screen),
    // probe-augmented with one head-edit and one tail-edit twin so both
    // blocking keys prove their recall guarantee
    Query("dedup_fuzzy",
      (s, d) => Dedup.fuzzyDups(
        Dedup.fuzzyProbeAugmented(sources.Tables.documents(s, d)))
        .orderBy(col("doc_a"), col("doc_b")),
      DedupSql.fuzzyDupsSql()),
    Query("dedup_minhash_lsh",
      (s, d) => Dedup.minhashLsh(sources.Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b")),
      DedupSql.minhashLshSql()),
    // recrawl near-dup DELTA screen: probe only the delta docs against the
    // OLD snapshot's FROZEN minhash band index (the emb_pq_codes_delta
    // discipline applied to near-dup dedup) — the old corpus never reshuffles
    Query("dedup_minhash_delta", DedupDelta.minhashDeltaDocuments _,
      DedupDeltaSql.minhashDeltaDocumentsSql()),
    // incremental keep-list maintenance: old labels collapse to star edges,
    // union the delta screen's pairs, relabel — old-old pairs NEVER recomputed;
    // the oracle rebuilds components from scratch, so the gate itself
    // certifies incremental == rebuild on real data
    Query("dedup_clusters_delta", DedupDelta.clustersDeltaDocuments _,
      DedupDeltaSql.clustersDeltaDocumentsSql, eager = true),
    // ingest-time form of the delta screen: delta docs arrive as file
    // micro-batches and probe the SAME frozen index via stateless
    // stream-static joins — same oracle as the batch screen
    Query("dedup_minhash_delta_streaming_file",
      (s, d) => streaming.StreamingDedupDelta.minhashDeltaFromFiles(s, d),
      DedupDeltaSql.minhashDeltaDocumentsSql(), eager = true),
    // estimator-vs-exact contingency on the SAME candidate/verify stages
    Query("dedup_minhash_calibration", MinhashCalibration.contingencyDocuments _,
      MinhashCalibrationSql.contingencyDocumentsSql),
    Query("dedup_simhash",
      (s, d) => Dedup.simhashPairs(sources.Tables.documents(s, d))
        .orderBy(col("doc_a"), col("doc_b")),
      DedupSql.simhashPairsSql()),
    // the delta screen on the SIMHASH index — completes the delta matrix
    // (exact/minhash/semantic/simhash all have frozen-index delta forms);
    // the doubled-text probe family pins the signature's term-bag
    // invariance (hamming provably 0) that no other screen certifies
    Query("dedup_simhash_delta", DedupDelta.simhashDeltaDocuments _,
      DedupDeltaSql.simhashDeltaDocumentsSql()),
    // ingest-time form: parse-stage signatures arrive as micro-batches and
    // probe the SAME frozen banded-fingerprint artifact statelessly (one
    // broadcast band-key join + xor/bit_count — no second static join)
    Query("dedup_simhash_delta_streaming_file",
      (s, d) => streaming.StreamingSimhashDelta.simhashDeltaFromFiles(s, d),
      DedupDeltaSql.simhashDeltaDocumentsSql(), eager = true),
    // the delta screen on the WINNOW passage index: which delta docs share
    // a >= 6-word passage with old content (syndication/quote-farm case
    // the whole-doc screens miss when the surrounding text is new)
    Query("dedup_winnow_delta", DedupDelta.winnowDeltaDocuments _,
      DedupDeltaSql.winnowDeltaDocumentsSql()),
    // ingest-time form: parse-stage fingerprint arrays arrive as
    // micro-batches and probe the SAME frozen posting artifact statelessly;
    // per-pair shared counts fold as a monotone update-mode aggregation
    Query("dedup_winnow_delta_streaming_file",
      (s, d) => streaming.StreamingWinnowDelta.winnowDeltaFromFiles(s, d),
      DedupDeltaSql.winnowDeltaDocumentsSql(), eager = true),
    // the recrawl cascade report: which screen catches each delta doc
    // FIRST (exact > minhash > simhash > winnow > unique) — every stage
    // the certified delta screen verbatim over ONE shared probe set; the
    // token-permuted probe family lands in the simhash-only class
    Query("dedup_delta_attribution", DeltaAttribution.attributeDocuments _,
      DeltaAttributionSql.attributeDocumentsSql(), eager = true),
    // pairs -> clusters -> keep-list: distributed min-label propagation vs a
    // DuckDB RECURSIVE CTE fixpoint (transitive A~B~C collapses to 1 survivor)
    Query("dedup_clusters",
      (s, d) => DedupClusters.components(
        Dedup.simhashPairs(sources.Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      DedupClustersSql.componentsSql(DedupSql.simhashPairsCte()), eager = true),
    // probe-augmented so the correctness row asserts non-zero matching pairs
    // (the raw corpus has none above threshold — a 0==0 row verifies nothing)
    Query("dedup_embedding",
      (s, d) => Dedup.embeddingNearDup(
        Dedup.probeAugmented(sources.Tables.embeddings(s, d)))
        .orderBy(col("vec_a"), col("vec_b")),
      DedupSql.embeddingNearDupSql()),
    // SemDeDup: cluster-scoped pairwise (quadratic only within a broadcast-
    // codebook cluster, cap observed-not-silent), keep-lowest-id per
    // near-dup neighborhood — full keep/drop decision oracle-certified
    // radius (range) search: every vector within a cosine radius of each
    // query — data-dependent answer sets through the same LSH candidate
    // machinery as ann_lsh, no ranking window; probe-augmented so hits
    // exist at every scale
    Query("ann_range",
      (s, d) => Similarity.lshRange(Dedup.probeAugmented(sources.Tables.embeddings(s, d))),
      SimilaritySql.lshRangeSql()),
    Query("dedup_semantic", SemanticDedup.semanticDedupDocs _,
      SemanticDedupSql.semanticDedupDocsSql()),
    // SemDeDup of the recrawl delta against the FROZEN old codebook +
    // keep-list: dup_of_old (mirror case, id order irrelevant) and the
    // intra-delta greedy rule, both probe-certified
    Query("dedup_semantic_delta", SemanticDedup.semanticDedupDeltaDocs _,
      SemanticDedupSql.semanticDedupDeltaDocsSql()),
    // the paper's actual shape: k-means-TRAINED clusters (one exact-
    // integer Lloyd step, the trained-IVF codebook chain), same scoping
    // and keep rule
    Query("dedup_semantic_trained", SemanticDedup.semanticDedupDocsTrained _,
      SemanticDedupSql.semanticDedupDocsTrainedSql()),
    // --- similarity search extensions ---
    Query("ann_brute_force",
      (s, d) => Similarity.bruteForceTopK(sources.Tables.embeddings(s, d))
        .orderBy(col("query_id"), col("rank")),
      SimilaritySql.bruteForceTopKSql()),
    // graph-ANN serve: deterministic beam search over the (denser) kNN
    // graph artifact — completes the serve-family square (LSH/IVF/PQ/graph);
    // recall pinned against the exact baseline in GraphSearchRecallSpec
    Query("ann_graph_search", GraphSearch.searchEmbeddings _,
      GraphSearchSql.searchEmbeddingsSql()),
    // serve-from-maintained-graph composition: the same beam search over
    // KnnGraph.deltaGraph's incrementally maintained edges — maintained ≡
    // rebuilt by the ann_knn_graph_delta contract, so the oracle is the
    // rebuilt-graph search unrolled verbatim (the ann_graph_search string)
    // the rebuilt-graph search IS the oracle: maintained graph ≡ rebuild
    Query("ann_graph_search_delta", GraphSearch.searchDeltaEmbeddings _,
      GraphSearchSql.searchEmbeddingsSql()),
    // hybrid retrieval: integral reciprocal-rank fusion of the BM25
    // lexical list and the exact-cosine vector list (nq x depth rows each
    // — fusion is corpus-size-free; cost lives in the certified legs)
    Query("ann_hybrid_rrf", Bm25.hybridDocuments _, Bm25Sql.hybridDocumentsSql()),
    // fusion-quality instrument: consensus recall + per-leg retention at
    // sweep fusion depths over the ONE pair of cached depth-20 rank lists;
    // the tail depth IS the shipped ann_hybrid_rrf knob (r18 curve
    // discipline — the last serve knob pair without a measured curve)
    Query("ann_hybrid_recall", Bm25.hybridRecallDocuments _, Bm25Sql.hybridRecallCurveSql()),
    // lexical retrieval serve: MoreLikeThis top-idf query-term selection
    // (the tfidf spelling) + BM25 scoring in floored integral micro-nats
    // over the ONE posting-frame corpus explode; candidates are
    // posting-union-sized via the broadcast query-term probe
    Query("text_bm25_topk", Bm25.bm25Documents _, Bm25Sql.bm25DocumentsSql()),
    // incremental posting-index maintenance: frozen old postings/doclen/
    // stats + delta-only explode, integer-merged df/stats — the oracle is
    // the full-rebuild spelling VERBATIM, so the gate itself certifies
    // refresh == rebuild (the r19 delta-matrix discipline, closing the one
    // index family without a delta form)
    // the rebuild IS the oracle: refresh == rebuild exactly (integer merges)
    Query("text_bm25_delta", Bm25.bm25DeltaDocuments _, Bm25Sql.bm25DocumentsSql()),
    // ingest-time index maintenance twin: the delta docs' parse-stage
    // posting rows arrive as micro-batches, accumulate as monotone
    // per-(doc, term) increments, and fold into the frozen index through
    // the ONE merge-and-serve spelling — SAME oracle (the rebuild)
    Query("text_bm25_delta_streaming_file",
      (s, d) => streaming.StreamingBm25Delta.bm25DeltaFromFiles(s, d),
      Bm25Sql.bm25DocumentsSql(), eager = true),
    // serve-on-ingest twin: query plans arrive as file micro-batches and
    // probe the FROZEN posting index statelessly; per-(query, doc) scores
    // accumulate as a monotone update-mode aggregation — SAME oracle
    Query("text_bm25_topk_streaming_file",
      (s, d) => streaming.StreamingBm25.bm25FromFiles(s, d),
      Bm25Sql.bm25DocumentsSql(), eager = true),
    // hybrid serve twin: BOTH legs' staged query plans arrive as file
    // micro-batches (lexical = the staged posting-probe serve; vector = a
    // stateless blocked probe of the frozen normed corpus), fused by the
    // ONE integral RRF spelling — SAME oracle as ann_hybrid_rrf
    Query("ann_hybrid_rrf_streaming_file",
      (s, d) => streaming.StreamingHybrid.hybridFromFiles(s, d),
      Bm25Sql.hybridDocumentsSql(), eager = true),
    // kNN majority-vote label prediction on the certified top-k contract —
    // the embedding-quality probe; vote tail touches only queries x K rows
    Query("ann_knn_classify", KnnClassify.classifyEmbeddings _,
      KnnClassifySql.classifyEmbeddingsSql),
    Query("ann_lsh",
      (s, d) => Similarity.lshTopK(sources.Tables.embeddings(s, d))
        .orderBy(col("query_id"), col("rank")),
      SimilaritySql.lshTopKSql()),
    // serve-quality LSH: multi-probe Hamming-2 candidate widening + the
    // same exact re-rank — recall@5 at sf0.1 0.525 -> 1.000, index unchanged
    Query("ann_lsh_rerank",
      (s, d) =>
        Similarity.lshRerankTopK(sources.Tables.embeddings(s, d))
          .orderBy(col("query_id"), col("rank")),
      SimilaritySql.lshRerankTopKSql()),
    Query("ann_ivf",
      (s, d) => Similarity.ivfTopK(sources.Tables.embeddings(s, d))
        .orderBy(col("query_id"), col("rank")),
      SimilaritySql.ivfTopKSql()),
    // serve-quality IVF-flat: deep-probe refine (6 of 16 cells) lets the
    // 0.9 recall floor be PINNED (probe-4 measures 1.000 but floors at 0.4)
    Query("ann_ivf_rerank",
      (s, d) =>
        Similarity.ivfRerankTopK(sources.Tables.embeddings(s, d))
          .orderBy(col("query_id"), col("rank")),
      SimilaritySql.ivfTopKSql(nProbe = Similarity.IvfRerankProbe)),
    // IVF over the one-Lloyd-step TRAINED coarse codebook (exact integer
    // means) — completes the training story: coarse (here), sub (ann_pq_
    // trained), residual sub (ann_ivf_pq_res_trained) are all certified
    Query("ann_ivf_trained",
      (s, d) => Similarity.ivfTopK(
        sources.Tables.embeddings(s, d), trained = true)
        .orderBy(col("query_id"), col("rank")),
      SimilaritySql.ivfTrainedTopKSql()),
    // product-quantization ADC top-k: M one-byte codes per vector, scoring
    // touches codes + a broadcast LUT — the memory-bound ANN scale path
    Query("ann_pq", ProductQuantization.annPq _, ProductQuantizationSql.annPqSql()),
    // IVF coarse pruning composed with PQ fine scoring (shared codes/LUT)
    Query("ann_ivf_pq", ProductQuantization.annIvfPq _, ProductQuantizationSql.annIvfPqSql()),
    // PQ over a one-Lloyd-step TRAINED codebook (exact integer means) —
    // certifies the training path the residual scaladoc routes users to
    Query("ann_pq_trained", ProductQuantization.annPqTrained _,
      ProductQuantizationSql.annPqTrainedSql()),
    // classic residual IVF-PQ: codes quantize the residual against the
    // coarse centroid; one query LUT per probed list
    Query("ann_ivf_pq_res", ProductQuantization.annIvfPqRes _,
      ProductQuantizationSql.annIvfPqResSql()),
    // residual IVF-PQ with the TRAINED residual codebook (one exact-integer
    // Lloyd step over residuals) — the composition the untrained variant's
    // scaladoc routes users to, now certified
    Query("ann_ivf_pq_res_trained", ProductQuantization.annIvfPqResTrained _,
      ProductQuantizationSql.annIvfPqResSql(trained = true)),
    // the exact-re-rank refine stage over the trained residual chain: ADC
    // selects top-C candidates (codes stay the corpus-wide scan), exact
    // float sqDist re-scores only those C rows per query — recall@5 at
    // sf0.1 goes 0.125 -> 1.000 (floor pinned in AnnRecallSf01Spec)
    Query("ann_ivf_pq_rerank", ProductQuantization.annIvfPqRerank _,
      ProductQuantizationSql.annIvfPqRerankSql()),
    // the large-query-batch serve path: nq=64, candidates/queries reach the
    // corpus via shuffle-hash equi-joins — no broadcast assumption
    Query("ann_rerank_batch",
      ProductQuantization.annRerankBatch _,
      ProductQuantizationSql.annIvfPqRerankSql(
        nCand = ProductQuantization.BatchCandidates,
        queryMaxId = ProductQuantization.BatchQueries,
        nProbe = ProductQuantization.BatchProbe)),
    // the serve-quality dashboard as a certified query: per-family recall
    // vs the exact baseline, every family's stage the operator verbatim
    Query("ann_recall_report", AnnRecallReport.report _, AnnRecallReportSql.reportSql),
    // the PQ index materialized: persist once, serve ann_pq and ann_ivf_pq
    Query("emb_pq_codes", ProductQuantization.pqCodes _, ProductQuantizationSql.pqCodesSql),
    Query("emb_pq_codes_streaming_file",
      (s, d) => streaming.StreamingPqCodes.codesFromFiles(s, d),
      ProductQuantizationSql.pqCodesSql, eager = true),
    // per-subspace quantization error on the encoder's distance stage
    Query("emb_pq_distortion", PqDistortion.reportEmbeddings _,
      PqDistortionSql.reportEmbeddingsSql),
    // one k-means refinement step (broadcast-argmax assign + exact scaled-
    // integer centroid update, so partial-agg order can't shift the result)
    Query("emb_kmeans_step",
      (s, d) => Similarity.kmeansStep(sources.Tables.embeddings(s, d))
        .orderBy(col("cid"), col("pos")),
      SimilaritySql.kmeansStepSql()),
    // the Lloyd update maintained incrementally over streamed embedding
    // ingest: stateless literal-codebook argmax per row, ONE grid-sized
    // (K x Dim) update-mode aggregation with monotone-decomposed signed
    // sums; SAME oracle as the batch step
    Query("emb_kmeans_step_streaming_file",
      (s, d) => streaming.StreamingKmeans.lloydStepFromFiles(s, d),
      SimilaritySql.kmeansStepSql(), eager = true),
    // symmetric int8 vector quantization, payload hash-checked exactly
    // per-dimension normalization stats: integer micro-floor aggregates,
    // one map-side-combined shuffle to |dims| rows (power-iteration shape)
    Query("emb_dim_stats", EmbDimStats.statsEmbeddings _, EmbDimStatsSql.statsEmbeddingsSql),
    Query("emb_quantize",
      (s, d) => Quantize.int8(sources.Tables.embeddings(s, d)).orderBy(col("vec_id")),
      QuantizeSql.int8Sql),
    // one exact-integer power-iteration matvec toward the top principal
    // direction: single pass, map-side-combined to Dim rows per task
    Query("emb_power_iteration",
      (s, d) => Similarity.powerIterationStep(sources.Tables.embeddings(s, d)),
      SimilaritySql.powerIterationSql),
    // 1-D PCA shadow: the power-step direction quantized and broadcast
    // back as one array row; per-row zip_with fold, no data-sized join
    Query("emb_pca_project", PcaProject.projectEmbeddings _,
      PcaProjectSql.projectEmbeddingsSql),
    // top-k farthest-from-own-label-centroid vectors (mislabel screen):
    // one map-side-combined centroid shuffle, then a narrow broadcast-join
    // fold and a TakeOrdered — no global sort
    Query("emb_outliers", (s, d) => Similarity.labelOutliers(sources.Tables.embeddings(s, d)),
      SimilaritySql.labelOutliersSql()),
    // per-label cohesion/separation scorecard over the shared centroid
    // stage; K-row broadcast cross, 3 longs per vector on the shuffle
    Query("emb_silhouette", Silhouette.cohesionEmbeddings _,
      SilhouetteSql.cohesionEmbeddingsSql),
    // trained-IVF cell sizes on the certified assignment stage verbatim
    Query("emb_ivf_balance", IvfBalance.reportEmbeddings _, IvfBalanceSql.reportEmbeddingsSql),
    Query("emb_ivf_assign", (s, d) => Similarity.ivfAssign(sources.Tables.embeddings(s, d)),
      SimilaritySql.ivfAssignSql()),
    Query("emb_ivf_assign_streaming_file",
      (s, d) => streaming.StreamingIvfAssign.assignFromFiles(s, d),
      SimilaritySql.ivfAssignSql(), eager = true),
    Query("ann_lsh_buckets",
      (s, d) => Similarity.lshBucketIndex(sources.Tables.embeddings(s, d)),
      SimilaritySql.lshBucketIndexSql()),
    Query("ann_lsh_buckets_streaming_file",
      (s, d) => streaming.StreamingLshBuckets.bucketsFromFiles(s, d),
      SimilaritySql.lshBucketIndexSql(), eager = true),
    Query("emb_pq_codes_delta", ProductQuantization.pqCodesDelta _,
      ProductQuantizationSql.pqCodesDeltaSql),
    Query("mm_dedup_exact",
      (s, d) => Multimodal.mediaDedupExact(sources.Tables.documents(s, d)),
      MultimodalSql.mediaDedupExactSql),
    Query("mm_dedup_exact_streaming_file",
      (s, d) => streaming.StreamingDedup.mediaWithinHorizonFromFiles(s, d),
      MultimodalSql.mediaKeySetSql, eager = true),
    Query("emb_quantize_streaming_file",
      (s, d) => streaming.StreamingQuantize.int8FromFiles(s, d),
      QuantizeSql.int8Sql, eager = true),
    // per-table LSH bucket occupancy on the search's own bucket stage
    Query("ann_lsh_balance", LshBalance.reportEmbeddings _, LshBalanceSql.reportEmbeddingsSql),
    // --- multimodal extensions ---
    Query("mm_metadata",
      (s, d) => Multimodal.metadata(sources.Tables.documents(s, d)).orderBy(col("doc_id")),
      MultimodalSql.metadataSql),
    Query("mm_frame_sample",
      (s, d) => Multimodal.frameSample(sources.Tables.documents(s, d))
        .orderBy(col("doc_id"), col("frame_idx")),
      MultimodalSql.frameSampleSql),
    // audio window/hop chunking in exact sample-integer math (full oracle)
    Query("mm_audio_chunk",
      (s, d) => Multimodal.audioChunks(sources.Tables.documents(s, d))
        .orderBy(col("doc_id"), col("chunk_idx")),
      MultimodalSql.audioChunksSql()),
    // --- multimodal decode plumbing (mapPartitions batched codec seam) ---
    // FULL oracle: dimensions and every per-chunk milli-mean byte feature
    // hash-checked (integer-exact byte arithmetic end to end)
    Query("mm_decode",
      (s, d) => Multimodal.decode(
        Multimodal.asMedia(sources.Tables.documents(s, d)))
        .orderBy(col("doc_id"), col("chunk")),
      MultimodalSql.decodeSql),
    // resize plumbing, same batched contract as decode, ALL-integer fit
    // arithmetic — the entire output is oracle-checked, plumbing included
    Query("mm_resize",
      (s, d) => Multimodal.resize(
        Multimodal.asMedia(sources.Tables.documents(s, d)))
        .orderBy(col("doc_id")),
      MultimodalSql.resizeSql()),
    // per-chunk feature extraction with a FULL oracle (long form)
    Query("mm_embed",
      (s, d) => Multimodal.embed(sources.Tables.documents(s, d))
        .orderBy(col("doc_id"), col("dim")),
      MultimodalSql.embedSql())
  )

  // Name-keyed views of the catalog. `queries` is a hash map, so its
  // iteration order (the order Bench and Verify run in) depends only on the
  // set of names, not on the catalog's order.
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    catalog.map(q => q.name -> q.run).toMap
  val oracleSql: Map[String, String] = catalog.map(q => q.name -> q.oracle).toMap
  val eagerQueries: Set[String] = catalog.filter(_.eager).map(_.name).toSet

  /** `SPARK_GRAFT_ONLY`: the comma-separated query names a solo run of
    * Bench or Verify is restricted to (unset: every query runs).
    */
  def onlyFromEnv: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

  /** The `queries` entries a run executes: all of them, or the named
    * subset. A name that is not a query fails the run — a typo would
    * otherwise select nothing and report a vacuously clean, zero-second run.
    */
  def select(only: Option[Set[String]]): Map[String, (SparkSession, String) => DataFrame] =
    only match {
      case None => queries
      case Some(names) =>
        val unknown = names -- queries.keySet
        require(unknown.isEmpty, "SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
        require(names.nonEmpty, "SPARK_GRAFT_ONLY selects no query")
        queries.filter { case (n, _) => names(n) }
    }
}
