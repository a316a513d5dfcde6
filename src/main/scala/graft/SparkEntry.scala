package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.functions.col

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
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

  /** Queries whose `queries` entry EXECUTES eagerly when the DataFrame is
    * built — streaming replays (they must run a stream to produce the
    * readback frame), the iterative union-find (a driver convergence loop),
    * and the bucketed join (a bucketed table write). Their returned frame's
    * physical plan is a vacuous post-collect LocalTableScan, so plan-level
    * tooling (PlanAuditSpec, tools.DumpPlans) must skip them — and MUST
    * share THIS set: the round-13 review found the two hand-maintained
    * copies had drifted 18 queries apart, making the plan audit replay 18
    * streams to assert on nothing. The streaming queries' plan-shape claims
    * are certified by their batch twins' plans; the union-find's by the
    * DedupClusters scaladoc.
    */
  val eagerQueries: Set[String] = Set(
    "mqtt_history_streaming_file",
    "mqtt_history_streaming_tws", "mqtt_history_handoff",
    "mqtt_windowed_streaming_file",
    "mqtt_state_streaming", "mqtt_state_streaming_file",
    "dedup_clusters",
    "dedup_minhash_clusters",
    "dedup_cluster_sizes",
    "dedup_clusters_delta",
    "dedup_minhash_delta_streaming_file",
    "dedup_simhash_delta_streaming_file",
    "dedup_winnow_delta_streaming_file",
    "dedup_delta_attribution",
    "text_bm25_topk_streaming_file",
    "ann_hybrid_rrf_streaming_file",
    "text_bm25_delta_streaming_file",
    "emb_kmeans_step_streaming_file",
    "emb_pq_codes_streaming_file",
    "emb_ivf_assign_streaming_file",
    "ann_lsh_buckets_streaming_file",
    "text_vocab_growth_streaming_file",
    "mm_dedup_exact_streaming_file",
    "emb_quantize_streaming_file",
    "q_approx_distinct_streaming_file",
    "q_approx_distinct_streaming_tws",
    "q_kmv_distinct_streaming_file",
    "q_hll_distinct_streaming_file",
    "q_approx_quantiles_streaming_file",
    "q_cms_counts_streaming_file",
    "q_heavy_hitters_streaming_file",
    "q_heavy_hitters_bounded_streaming_file",
    "q_heavy_hitters_bounded_streaming_tws",
    "q_session_windows_streaming_file",
    "q_session_windows_streaming_tws",
    "q_stream_static_join", "q_stream_static_join_file",
    "q_stream_stream_join", "q_stream_stream_join_outer",
    "q_bucketed_join",
    "pipeline_clean_corpus_streaming_file",
    "pipeline_corpus_diff_streaming_file",
    "pipeline_corpus_drift_streaming_file",
    "pipeline_budget_sample_streaming_file",
    "pipeline_group_sample_streaming_file",
    "pipeline_interleave_streaming_file",
    "q_m4_downsample_streaming_file",
    "pipeline_oversample_streaming_file",
    "pipeline_length_histogram_streaming_file",
    "dedup_exact_streaming_file",
    "dedup_normalized_streaming_file",
    "dedup_winnow_streaming_file",
    "text_collocations_streaming_file",
    "pipeline_chunk_dedup_streaming_file",
    "mqtt_topic_tree_streaming_file",
    "text_entropy_streaming_file")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- MQTT parity pipeline (SURVEY §2.1-2.3) ---
    "mqtt_messages" -> (MqttQueries.messages _),
    "mqtt_state" -> (MqttQueries.state _),
    "mqtt_history" -> (MqttQueries.history _),
    "mqtt_history_view" -> (MqttQueries.historyView _),
    "mqtt_history_flags" -> (MqttQueries.historyFlags _),
    "mqtt_topic_filter" -> (MqttQueries.topicFilter _),
    "mqtt_localtime" -> (MqttQueries.localtime _),
    "mqtt_payload_json" -> (MqttQueries.payloadJson _),
    // the streaming CDC certified through the built-in FILE stream source
    // (range-ordered parquet chunks, maxFilesPerTrigger=1): no driver-side
    // input materialization anywhere on the ingest path, so the
    // incremental-equals-batch certificate is not capped at driver memory
    "mqtt_history_streaming_file" -> ((s, d) =>
      streaming.FileReplayHistory.history(s, d)),
    // the SAME file-source replay through Spark 4's transformWithState on
    // the RocksDB state store (the successor state API + the provider a
    // large deployment runs) — same oracle, so the certificate isolates
    // the state API/store swap
    "mqtt_history_streaming_tws" -> ((s, d) =>
      streaming.FileReplayHistory.history(s, d, useTws = true)),
    // the backfill-to-streaming handoff: batch CDC over the head of the
    // log + the tail streamed with state BOOTSTRAPPED from the head's
    // snapshot (transformWithState initial state, RocksDB) — starts the
    // stream O(topics) cold instead of replaying O(history); SAME oracle
    // as mqtt_history, which never sees the cut, so any bootstrap defect
    // (missed / duplicated / fresh state) surfaces as a row diff
    "mqtt_history_handoff" -> ((s, d) =>
      streaming.TwsBootstrapCdc.history(s, d)),
    // the keyed upsert sink end-to-end (source -> micro-batches -> foreachBatch
    // merge), against the SAME oracle as the batch state table.
    //
    // This is the ONE broker-replay (driver-collect ingest) exemplar: it
    // alone certifies the DSv2 MqttSource read path (S1: pattern
    // pushdown, ReadLimit chunking) composed with the UpsertSink merge
    // (S3) end-to-end. Every other streaming operator ingests through the
    // distributed file replay (ReplayHarness) — the `*_file`/`*_tws`
    // forms, whose specs also carry the multi-chunking certificates.
    "mqtt_state_streaming" -> ((s, d) => streaming.StreamingState.state(s, d)),
    // the same keyed upsert certified through the built-in FILE stream
    // source: distributed range-ordered staging, one real micro-batch per
    // file, the SAME UpsertSink.merge body — no driver-side input
    // materialization on the second sink path either
    "mqtt_state_streaming_file" -> ((s, d) =>
      streaming.FileReplayState.state(s, d)),
    // SCD-2 intervalization of the CDC log: [valid_from, valid_to) per
    // change with a null-open current interval, via per-key lead()
    "mqtt_history_scd2" -> (MqttQueries.historyScd2 _),
    // per-topic change cadence from the SAME CDC kept-row set (sensor
    // health: change counts, span, mean dwell — exact integer ms)
    "mqtt_history_stats" -> (MqttQueries.historyStats _),
    // $SYS-style topic-tree rollup: depth-bounded prefix explode, one
    // map-side-combined aggregation to the prefix domain
    "mqtt_topic_tree" -> (MqttQueries.topicTree _),
    "mqtt_stale_topics" -> (MqttQueries.staleTopics _),
    "mqtt_topic_tree_streaming_file" ->
      ((s, d) => streaming.StreamingTopicTree.treeFromFiles(s, d)),
    // as-of join (single-shuffle union-merge) vs DuckDB's native ASOF JOIN
    "mqtt_asof_change" -> (MqttQueries.asofChange _),
    // event-time tumbling windows (batch form; streaming twin is watermarked)
    "mqtt_windowed_counts" -> (MqttQueries.windowedCounts _),
    // the SAME windowed aggregation certified end-to-end as an APPEND-mode
    // streaming query through the file source: each window is emitted once
    // when the watermark passes its end and its state evicts (the
    // bounded-state production contract); a flush sentinel finalizes the
    // trailing windows of the finite replay. Same oracle as the batch form.
    "mqtt_windowed_streaming_file" -> ((s, d) =>
      streaming.FileReplayWindowed.hourlyStats(s, d)),
    // --- relational coverage (SURVEY §2.4-2.6) ---
    "q1_pricing_summary" -> (Relational.pricingSummary _),
    "q6_forecast_revenue" -> (Relational.forecastRevenue _),
    "q3_top_orders" -> (Relational.topOrders _),
    "q5_local_supplier" -> (Relational.localSupplierVolume _),
    "q_semi_join" -> (Relational.semiJoin _),
    "q_anti_join" -> (Relational.antiJoin _),
    // correlated subqueries run as ONE engine-neutral SQL string on both
    // engines; the Spark plan pin (decorrelated to aggregate + join /
    // semi + anti joins, zero surviving SubqueryExpressions) lives in
    // SubqueriesSpec
    "q_correlated_subquery" -> (Subqueries.correlatedScalar _),
    "q_exists_subquery" -> (Subqueries.existsPair _),
    "q_in_subquery" -> (Subqueries.inPair _),
    "q_window_top3" -> (Relational.windowTop3 _),
    "q_running_spend" -> (Relational.runningUserSpend _),
    // event-time RANGE frame: trailing-hour activity, peers included
    "q_trailing_window" -> (Relational.trailingHourActivity _),
    "q_rollup" -> (Relational.statusRollup _),
    "q_set_ops" -> (Relational.setOps _),
    "q_distinct_users" -> (Relational.distinctUsers _),
    "q_topk_orders" -> (Relational.topKOrders _),
    // same ranking surface as a bounded O(k) aggregate: map-side partial
    // top-k, the shuffle carries buffers instead of the fact table
    "q_topk_agg" -> (BoundedTopK.topOrdersPerPriority _),
    // deterministic exact-k-per-group sample on the same bounded
    // aggregate: content-addressed (salted hash60), growth-stable, O(k)
    // buffers instead of a per-group window sort
    "pipeline_group_sample" -> (BoundedTopK.sampleDocsPerLang _),
    // the same sample maintained INCREMENTALLY: the serialized O(k)
    // top-k buffer per language is the streaming aggregation state
    // (bottom-k-hash = uniform sample of the stream so far), over
    // distributed file-source micro-batches; SAME oracle
    "pipeline_group_sample_streaming_file" -> ((s, d) =>
      streaming.StreamingGroupSample.sampleDocsPerLangFromFiles(s, d)),
    "q_monthly_events" -> (Relational.monthlyEvents _),
    // 7x24 load profile: integer epoch dow/hour buckets, micro value mass
    "q_hour_heatmap" -> (Relational.hourHeatmap _),
    // token-budget shard manifest: PrefixSum distributed scan (one Long
    // per partition to the driver) + one aggregation to the shard domain
    "pipeline_shard_manifest" -> (ShardManifest.manifestDocuments _),
    "pipeline_resume_manifest" -> (ShardManifest.resumeManifestDocuments _),
    // full Jaccard curve over the shared df-capped scored-pair stage
    "dedup_jaccard_histogram" -> (JaccardHistogram.histogramDocuments _),
    // L2-norm bands: the pre-cosine normalization sanity check
    "emb_norm_histogram" -> (NormHistogram.histogramEmbeddings _),
    // dense hourly grid per key (gap fill): data touched once for the
    // bucket agg; grid generation, fill join, and the running total all
    // run on bucket-cardinality rows
    "q_gap_fill_hourly" -> (Resample.hourlyEvents _),
    // time-weighted telemetry aggregation: per (user, type) series, each
    // reading weighted by its hold duration (exact micros gaps, integer
    // cent-ms sums; per-SERIES windows — the high-cardinality key)
    "q_time_weighted" -> (TimeWeighted.perSeriesEvents _),
    // first/last-touch attribution endpoints per user (per-USER windows —
    // the high-cardinality key; min_by/max_by on the unique row_number)
    "q_attribution_touch" -> (Attribution.firstLastTouchEvents _),
    // the event-type Markov transition matrix with integer-ppm row shares
    "q_type_transitions" -> (Attribution.transitionsEvents _),
    "q_session_windows" -> (Relational.sessionWindows _),
    "q_gap_histogram" -> (GapHistogram.decadesEvents _),
    "q_peak_concurrency" -> (PeakConcurrency.peakEvents _),
    "q_percentiles" -> (Relational.percentiles _),
    "q_cube" -> (Relational.cubeEvents _),
    // explicit GROUPING SETS: |sets| expansion keys per row, not 2^dims
    "q_grouping_sets" -> (Relational.groupingSetsReport _),
    "q_pivot" -> (Relational.pivotEvents _),
    // the inverse reshape: native unpivot (single Expand) back to the
    // dense long form
    "q_unpivot" -> (Relational.unpivotEvents _),
    // cohort retention matrix: one user-keyed shuffle builds cohort month +
    // distinct active months (calendar-bounded set), exact integer ages
    "q_retention_cohort" -> (Relational.retentionCohort _),
    // robust outlier screen: exact median/MAD in scaled-integer math, so
    // the 3xMAD fence count can never flip on a ulp
    "q_anomaly_mad" -> (Relational.anomalyMad _),
    "q_cusum_drift" -> (CusumDrift.driftEvents _),
    // M4 pixel-bucket downsampling (first/last/min/max per bucket) — the
    // error-free dashboard reduction, one map-side-combined shuffle
    "q_m4_downsample" -> (M4Downsample.downsampleEvents _),
    // Poisson-overdispersion screen on the zero-filled hourly grid —
    // integer dispersion numerator, milli var-to-mean
    "q_burstiness" -> (Burstiness.reportEvents _),
    // M4 maintained incrementally over file micro-batches: per-bucket
    // extremes are monotone ORDERED TUPLES, folded by min/max on readback
    "q_m4_downsample_streaming_file" -> ((s, d) =>
      streaming.StreamingM4.downsampleFromFiles(s, d)),
    // per-source token-band histogram on the curriculum's band spelling
    "pipeline_length_histogram" -> (LengthHistogram.histogramDocuments _),
    // the histogram built INCREMENTALLY from file micro-batches (monotone
    // per-(source, band) counters, max-fold; share tail shared verbatim)
    "pipeline_length_histogram_streaming_file" -> ((s, d) =>
      streaming.StreamingLengthHistogram.histogramFromFiles(s, d)),
    // deterministic upweighting manifest: fractional replication toward
    // the largest source, epoch-capped at 4x, content-addressed coin
    "pipeline_oversample" -> (Oversample.manifestDocuments _),
    // the oversample with its per-source token mass built INCREMENTALLY
    // from file micro-batches (monotone max-fold; one counter per source)
    "pipeline_oversample_streaming_file" -> ((s, d) =>
      streaming.StreamingOversample.manifestFromFiles(s, d)),
    // NTILE quartile report: total-order window so bucket boundaries pin
    "q_ntile" -> (Relational.ntileQuartiles _),
    // the remaining §2.5 rank family: percent_rank / cume_dist / running
    // nth_value over a total-ordered per-type spend window
    "q_value_ranks" -> (Relational.valueRanks _),
    // bucketed point-in-interval range join (the raw BETWEEN predicate
    // would plan as a nested-loop join)
    "q_range_join" -> (RangeJoin.inTransitCounts _),
    // skew-mitigated equi-join: deterministic fact-side salt fans each hot
    // key over `salts` tasks; oracle is the plain unsalted join
    "q_salted_join" -> ((s, d) => SaltedJoin.orderVolumeBySegment(s, d)),
    // write-time-layout join: same-bucket-count tables join with NO
    // exchange on either side (the query-time shuffle paid once at write
    // time); oracle is the plain parquet join — layout changes the plan,
    // never the answer
    "q_bucketed_join" -> (BucketedJoin.orderVolumeBySegment _),
    // runtime-filter pattern: broadcast bloom bitmap pre-filters the fact
    // side before the exact semi-join; oracle is the plain semi-join
    "q_bloom_join" -> (BloomJoin.urgentLineitems _),
    // the same merging-window certificate with NO driver-side input
    // materialization: distributed file-source staging, one real
    // micro-batch per range-ordered chunk, flush sentinels finalize the
    // trailing open sessions; SAME oracle as the batch q_session_windows
    "q_session_windows_streaming_file" -> ((s, d) =>
      streaming.FileReplaySessions.userSessions(s, d)),
    // the merging-window class hand-rolled on transformWithState: ListState
    // of open sessions + event-time timers at each would-be end, RocksDB
    // provider, through the SAME file-replay harness — completes the
    // 3-state-classes x 2-state-APIs certificate matrix; SAME oracle
    "q_session_windows_streaming_tws" -> ((s, d) =>
      streaming.TwsSessions.userSessionsFromFiles(s, d)),
    // watermarked stream-stream inner join (two file-source streams, state
    // bounded by the event-time range condition on both watermarked sides),
    // against the plain batch-join oracle — incremental-equals-batch for
    // the join operator class
    // chunks=2 at the driver contract: the join is batch-count-invariant
    // (the oracle proves it; the spec drives finer chunkings and a
    // cross-batch match explicitly), so the certification replay uses the
    // cheapest multi-batch shape
    "q_stream_stream_join" -> ((s, d) =>
      streaming.StreamStreamJoin.signupPurchases(s, d, chunks = 2)),
    // stream-static join: each micro-batch enriched against a broadcast
    // dim inside the streaming plan (stateless; the production fact x dim
    // shape), against the plain batch join+aggregate oracle. The two
    // entries replay at 5 and 3 chunks, so together they certify
    // batch-count invariance against the SAME oracle
    "q_stream_static_join" -> ((s, d) =>
      streaming.StreamStaticJoin.segmentActivityFromFiles(s, d, chunks = 5)),
    "q_stream_static_join_file" -> ((s, d) =>
      streaming.StreamStaticJoin.segmentActivityFromFiles(s, d)),
    // the LEFT-OUTER form: unmatched rows can only emit at watermark-driven
    // state eviction (flush-sentinel staging proves the full lifecycle);
    // oracle is the plain batch left join
    // chunks=2 for the same reason as the inner form (eviction semantics
    // are per-watermark-advance, not per-batch-count; the sentinels still
    // drive the full unmatched-row eviction lifecycle)
    "q_stream_stream_join_outer" -> ((s, d) =>
      streaming.StreamStreamJoin.signupPurchasesOuter(s, d, chunks = 2)),
    // full-outer reconciliation of two same-key aggregates (zero-fill)
    "q_outer_join" -> (Relational.outerJoinYears _),
    // ordered step funnel: staged conditional min-ts aggregation per step,
    // every stage keyed on user_id
    "q_funnel" -> (Funnel.funnel _),
    // the same staged funnel under a 24h per-step conversion deadline —
    // the product-analytics conversion window (without one, a month-long
    // log funnels everyone eventually)
    "q_funnel_windowed" -> (Funnel.funnelWindowed _),
    // aggregate funnel report: the per-user funnel verbatim, single-row
    // step counts, step-over-step conversion in integer ppm
    "q_funnel_conversion" -> (Funnel.reportEvents _),
    // --- text analysis extensions ---
    // composite corpus clean: lang gate -> quality gate -> exact dedup ->
    // split, fused so only the dedup agg is wide (one shuffle total)
    "pipeline_clean_corpus" -> (CleanCorpus.cleanCorpus _),
    // the same gated ledger over distributed file-source micro-batches
    // (no driver-side input materialization); SAME oracle
    "pipeline_clean_corpus_streaming_file" -> ((s, d) =>
      streaming.StreamingCleanCorpus.cleanLedgerFromFiles(s, d)),
    "text_token_stats" -> ((s, d) => TextAnalysis.tokenStats(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // long-form positional tokenization via the native token_positions
    // GENERATOR (the UDTF surface): Generate over the pruned scan
    "text_token_positions" -> ((s, d) => TextAnalysis.tokenPositions(
      sources.Tables.documents(s, d)).orderBy(col("doc_id"), col("pos"))),
    // posting-list phrase intersection over the generator's output — the
    // positional-inverted-index probe shape, never a substring scan
    "text_phrase_search" -> ((s, d) => TextAnalysis.phraseSearch(
      sources.Tables.documents(s, d))),
    "text_langid" -> ((s, d) => TextAnalysis.langId(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // lang-ID confidence margin (best minus second-best integer marker
    // score) — the route-to-heavy-model gate; narrow codegen projection
    "text_langid_margin" -> (LangIdMargin.marginsDocuments _),
    // confusion matrix of the gate classifier vs the labeled lang column
    "text_langid_eval" -> (LangIdEval.confusionDocuments _),
    "text_quality" -> ((s, d) => TextAnalysis.quality(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // per-domain top-30% quality gate via the skew-free histogram cutoff
    // (no per-source window over the data; boundary ties rank by doc_id)
    "pipeline_quality_filter" -> (QualityFilter.filterDocuments _),
    // EXACT-count per-source 80/10/10 split: one range shuffle, per-source
    // ranks as contiguous-id minus broadcast source offsets (no per-source
    // data window), cross-multiplied integer boundaries
    "pipeline_stratified_split" -> (StratifiedSplit.splitDocuments _),
    // per-source stage-survival funnel over the certified clean chain
    // (one conditional-count pass + the chain's own dedup shuffle)
    "pipeline_curation_funnel" -> (CurationFunnel.funnelDocuments _),
    // deterministic per-source token-budget prefix: order-preserving
    // hash-range bucket histogram classifies full/boundary buckets; only
    // the (at most one per source) boundary bucket ranks doc-level
    "pipeline_budget_sample" -> (BudgetSample.sampleDocuments _),
    // the budget prefix with its per-(source, bucket) token histogram
    // built INCREMENTALLY from file micro-batches (update-mode aggregate,
    // monotone max-fold readback; state is histogram-sized, independent of
    // corpus size) — same oracle as the batch form
    "pipeline_budget_sample_streaming_file" -> ((s, d) =>
      streaming.StreamingBudgetSample.sampleFromFiles(s, d)),
    // the round-15 composite: boilerplate strip -> clean chain ON the
    // stripped text -> per-source budget prefix over stripped counts —
    // every stage the standalone operator verbatim
    "pipeline_curate" -> (Curate.curateDocuments _),
    "text_fingerprints" -> ((s, d) => TextAnalysis.fingerprints(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // winnowing (MOSS) rolling-hash passage fingerprints: any shared run of
    // >= w+k-1 words yields a shared fingerprint, at ~2/(w+1) index size
    "text_winnow" -> (Winnow.winnowDocs _),
    // unaligned shared-passage dedup over the winnow fingerprint index
    "dedup_winnow" -> (Winnow.winnowDups _),
    // the same first-seen passage state over distributed file-source
    // micro-batches (no driver-side input materialization); SAME oracle
    "dedup_winnow_streaming_file" -> ((s, d) =>
      streaming.StreamingWinnow.firstSeenPassagesFromFiles(s, d)),
    // deterministic content-addressed train/valid/test assignment
    "text_split" -> ((s, d) => TextAnalysis.split(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // per-doc top-k terms by smoothed TF-IDF (inverted-index analytics)
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidfTopTerms(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"), col("rank"))),
    // PII scrubbing (emails), probe-augmented so redactions actually occur
    "text_redact" -> ((s, d) => TextAnalysis.redactEmails(
      TextAnalysis.redactProbeAugmented(sources.Tables.documents(s, d)))
      .orderBy(col("doc_id"))),
    // Gopher-style repetition signals (per-row array fold, shuffle-free)
    "text_repetition" -> ((s, d) => TextAnalysis.repetition(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // C4-style cross-doc boilerplate REWRITE: n-grams recurring in >= 3
    // distinct docs struck everywhere, kept tokens reassembled in order
    // (narrow shingling, one df shuffle, broadcast frequent-gram set)
    "text_boilerplate_strip" -> (Boilerplate.stripDocuments _),
    // one BPE training step: adjacent char-pair frequencies on the
    // DISTINCT-WORD table (corpus-sized pass = one word count), top merge
    // candidates by TakeOrdered under a total order
    "text_bpe_pairs" -> (BpePairs.mergeCandidatesDocuments _),
    // the APPLY side of BPE: top merges folded through every distinct word
    // (vocab-sized work after one corpus pass), head-of-vocab segmentations
    "text_bpe_encode" -> (BpeEncode.encodeDocuments _),
    // per-source encoder fertility (tokens per character, integer ppm) —
    // the pretraining-mix health metric the encode step induces
    "text_bpe_fertility" -> (BpeEncode.fertilityDocuments _),
    // overlapping token-window chunking (RAG/context-window prep): stride
    // grid + subset-tail suppression, replication bounded by W/S = 2
    "text_chunk" -> (TextChunk.chunkDocuments _),
    // chunk-level exact dedup (retrieval-index prep): the chunk stage IS
    // TextChunk.chunk verbatim; canonical copy by content-hash window
    "pipeline_chunk_dedup" -> (ChunkDedup.dedupDocuments _),
    // streaming twin: canonical chunk assignment (hash -> min coordinate)
    // as an update-mode agg over file micro-batches, monotone min-fold
    "pipeline_chunk_dedup_streaming_file" ->
      ((s, d) => streaming.StreamingChunkDedup.canonicalFromFiles(s, d)),
    // length-banded curriculum order (short-first schedule): one range
    // shuffle over (band, salted hash, doc_id), ContiguousId positions
    "pipeline_curriculum" -> (Curriculum.scheduleDocuments _),
    "pipeline_interleave" -> (Interleave.orderDocuments _),
    // the interleave with its per-source exposure counters built
    // INCREMENTALLY from file micro-batches (update-mode aggregate,
    // monotone max-fold readback; state is one counter per source) —
    // schedule tail shared verbatim, same oracle as the batch form
    "pipeline_interleave_streaming_file" -> ((s, d) =>
      streaming.StreamingInterleave.orderFromFiles(s, d)),
    "pipeline_span_corruption" -> (SpanCorruption.scheduleDocuments _),
    // per-column data-quality profile (nulls/distincts/min-max): one
    // 4-column pass, Expand multi-distinct, generator unpivot of one row
    "pipeline_corpus_profile" -> (CorpusProfile.profileDocuments _),
    // cross-source shingle overlap (dedup planning): per-source DISTINCT
    // collapses each shingle to <=|sources| rows before the pair join
    "pipeline_source_overlap" -> (SourceOverlap.overlapDocuments _),
    // all-corpus kNN edge list: the near-dup LSH candidate stage verbatim,
    // one cosine fold per undirected pair, high-cardinality top-k window
    "ann_knn_graph" -> (KnnGraph.graphEmbeddings _),
    // incremental graph maintenance: frozen old edges + delta-touching
    // pairs re-ranked — the oracle is the full-rebuild spelling VERBATIM,
    // so the gate itself certifies incremental == rebuild
    "ann_knn_graph_delta" -> (KnnGraph.deltaGraphEmbeddings _),
    // pairwise dimension co-moments (covariance/PCA prep): one reused
    // element exchange, map-side combine to the |Dim|^2/2 pair domain
    "emb_covariance" -> (EmbCovariance.comomentsEmbeddings _),
    // dataset datasheet (size/diversity/dup-rate/splits): one corpus
    // pass, Expand multi-distinct, certified spellings shared throughout
    "pipeline_dataset_card" -> (DatasetCard.cardDocuments _),
    // candidate-pair cosine histogram (distance-concentration diagnosis):
    // the shared LSH candidate stage, IEEE floor binning, integer counts
    "emb_distance_histogram" -> (DistanceHistogram.histogramEmbeddings _),
    // kNN-graph in-degree histogram (hubness/coverage instrument): the
    // certified edge stage verbatim + a zero-inclusive degree count
    "ann_graph_degree" -> (GraphDegree.histogramEmbeddings _),
    // label-centroid cosine matrix (class geometry): one EmbDimStats-shaped
    // corpus shuffle, everything downstream on the labels×dims table
    "emb_centroid_sim" -> (CentroidSim.matrixEmbeddings _),
    // part-pair association lift (basket-bounded pair join, integer-exact
    // lift ppm, single-row N broadcast, TakeOrdered tail)
    "q_market_basket" -> (MarketBasket.liftLineitem _),
    // per-source word-length/syllable/long-word readability profile (one
    // corpus pass, integer rates; the corpus is sentence-terminator-free)
    "text_readability" -> (Readability.profileDocuments _),
    "text_entropy" -> (TokenEntropy.profileDocuments _),
    "text_charclass" -> (CharClass.profileDocuments _),
    "text_entropy_streaming_file" ->
      ((s, d) => streaming.StreamingTokenEntropy.profileFromFiles(s, d)),
    // conditional bigram surprisal (fluency proxy): lead()-window bigrams,
    // ln once per distinct pair on the vocab-sized table, integer doc sums
    "text_bigram_surprisal" -> (BigramSurprisal.scoreDocuments _),
    // PMI top-k collocations (tokenizer vocab curation): marginals from
    // the aggregated pair table, single-row N broadcast, TakeOrdered tail
    "text_collocations" -> (Collocations.topDocuments _),
    // streaming twin: incremental pair counts over file micro-batches,
    // monotone max-fold, the SAME scoring tail and oracle
    "text_collocations_streaming_file" ->
      ((s, d) => streaming.StreamingCollocations.topFromFiles(s, d)),
    // deterministic per-language rebalancing sample (content-addressed)
    "text_sample_stratified" -> ((s, d) => TextAnalysis.sampleStratified(
      sources.Tables.documents(s, d)).orderBy(col("doc_id"))),
    // corpus vocabulary head: top-k tokens by term frequency (+doc freq)
    "text_vocab_topk" -> ((s, d) => TextAnalysis.vocabTopK(sources.Tables.documents(s, d))),
    "text_vocab_growth" -> (VocabGrowth.growthDocuments _),
    "text_vocab_growth_streaming_file" -> ((s, d) =>
      streaming.StreamingVocabGrowth.growthFromFiles(s, d)),
    "q_session_gap_sweep" -> (SessionGapSweep.sweepEvents _),
    "dedup_shingle_profile" -> ((s, d) =>
      Dedup.shingleDfProfile(sources.Tables.documents(s, d))),
    "ann_rerank_depth_curve" -> ((s, d) =>
      ProductQuantization.rerankDepthCurve(s, d)),
    "ann_ivf_probe_curve" -> ((s, d) =>
      Similarity.ivfProbeCurve(sources.Tables.embeddings(s, d))),
    "text_zipf" -> (Zipf.decadesDocuments _),
    // canonical normalization (ASCII case-fold, scrub, collapse): the
    // dedup/matching preprocessor, narrow and codegen'd
    "text_normalize" -> ((s, d) => TextAnalysis.normalize(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    // corpus-bigram novelty (boilerplate detector): inverted-index df pass,
    // all-integer ppm scoring
    "text_bigram_novelty" -> ((s, d) => TextAnalysis.bigramNovelty(
      sources.Tables.documents(s, d)).orderBy(col("doc_id"))),
    // corpus token accounting by (lang, split): mixture/budget planning
    "pipeline_token_budget" -> ((s, d) => TextAnalysis.tokenBudget(
      sources.Tables.documents(s, d))),
    // data-derived mixture rebalancing: per-lang keep rates toward equal
    // token shares, content-addressed coin, all-integer ppm — two narrow
    // passes, both aggs map-side-combined to |langs| rows
    "pipeline_mixture_sample" -> (Mixture.rebalanceDocs _),
    // temperature-scaled (alpha = 0.5) language rebalancing — the
    // multilingual pretraining standard; sqrt is the one IEEE-exact
    // temperature, so the rates carry no cross-engine libm risk
    "pipeline_temperature_sample" -> (Mixture.temperatureRebalanceDocs _),
    // the END-TO-END assembly in one plan: clean -> temperature-sample ->
    // global shuffle, emitting the final training manifest (positions
    // included) — every stage the standalone operators' exact expressions
    "pipeline_assemble" -> (Assemble.assembleDocuments _),
    // deterministic weighted sampling without replacement (hash
    // replication — the integer-exact cousin of priority sampling):
    // min-of-w salted hashes per row, all narrow, bottom-k TakeOrdered
    "pipeline_weighted_sample" -> (WeightedSample.sampleDocuments _),
    // deterministic global training shuffle: salted-hash permutation with
    // contiguous 1..N positions via the range+zipWithIndex id assigner (no
    // single-partition window) and hash-derived writer shards — the whole
    // permutation is oracle-certified, not a sample
    "pipeline_global_shuffle" -> (GlobalShuffle.shuffledDocuments _),
    // multi-epoch training orders: 3 independent permutations, per-epoch
    // contiguous positions, still ONE range shuffle (epoch inside both the
    // salt and the range key; N as a broadcast single-row count)
    "pipeline_epoch_shuffle" -> (GlobalShuffle.epochShuffledDocuments _),
    // incremental-recrawl snapshot diff: hash rows below the full-outer
    // join (text never shuffles), every status branch exercised by the
    // deterministic carve — the corpus-to-corpus form of the CDC predicate
    "pipeline_corpus_diff" -> (CorpusDiff.diffDocuments _),
    // per-source token-distribution drift between the SAME carved
    // snapshots: integer TV numerator, ppm by exact integer division; one
    // data shuffle (side-flagged union, conditional sums), vocab-sized rest
    "pipeline_corpus_drift" -> (CorpusDrift.driftDocuments _),
    // the same drift with the NEW snapshot ingested as real file-source
    // micro-batches (update-mode exact counters, monotone max-fold; the
    // old side static; shared sideToks/tvTail spelling), SAME oracle
    "pipeline_corpus_drift_streaming_file" -> ((s, d) =>
      streaming.StreamingCorpusDrift.driftFromFiles(s, d)),
    // the composition an incremental recrawl runs: new crawl streamed
    // against the static previous snapshot (stateless stream-static left
    // join per micro-batch), deletions via one batch anti-pass; SAME oracle
    "pipeline_corpus_diff_streaming_file" -> ((s, d) =>
      streaming.StreamingCorpusDiff.diffDocumentsFromFiles(s, d)),
    // the step after the diff: dedup the delta against the WHOLE previous
    // snapshot's content (a new page duplicating a different existing
    // page); hash rows only past the md5 projections
    "pipeline_delta_dedup" -> (CorpusDiff.deltaDedupDocuments _),
    // linear model-based quality classifier (the fastText-linear shape):
    // exploded tokens x broadcast weight-TABLE join, matched hits only to
    // the doc-keyed shuffle, integer cross-multiplied accept decision
    "text_quality_model" -> (QualityModel.scoreDocuments _),
    // agreement contingency of the heuristic gate vs the model classifier
    // — the table behind swapping (or staging) the two quality screens
    "text_quality_calibration" -> (QualityCalibration.contingencyDocuments _),
    // int8 reconstruction-error report (the PqDistortion discipline on the
    // int8 family): outlier-crushed vectors surface as heavy error tails
    "emb_quantize_error" -> (QuantizeError.reportEmbeddings _),
    // corpus-self unigram surprisal (the LM-perplexity proxy): floored
    // micro ln once per DISTINCT token, integer sums per doc — no float
    // crosses an aggregation
    "text_surprisal" -> (Surprisal.scoreDocuments _),
    // concat-and-chunk sequence packing (sharded running sum, integer math)
    "text_pack_sequences" -> ((s, d) => TextAnalysis.packSequences(
      sources.Tables.documents(s, d)).orderBy(col("doc_id"))),
    // linear-counting distinct sketch: the oracle verifies the sketch itself
    "q_approx_distinct" -> (Sketches.approxDistinctUsers _),
    // fixed-width histogram quantile sketch (groups x bins shuffle, never a
    // per-group sort); the deterministic bin math is oracle-verified exactly
    "q_approx_quantiles" -> (Sketches.approxQuantilesByType _),
    // the same sketch over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    "q_approx_distinct_streaming_file" -> ((s, d) =>
      streaming.StreamingSketch.approxDistinctUsersFromFiles(s, d)),
    // the SAME file-source sketch on Spark 4's transformWithState + the
    // RocksDB store (the successor state API, as mqtt_history_streaming_tws
    // is for the CDC path) — same oracle, so the green row isolates the
    // state API + provider swap for the update-mode aggregation class
    "q_approx_distinct_streaming_tws" -> ((s, d) =>
      streaming.TwsSketch.approxDistinctUsersFromFiles(s, d)),
    // the same histogram over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    "q_approx_quantiles_streaming_file" -> ((s, d) =>
      streaming.StreamingQuantiles.quantilesByTypeFromFiles(s, d)),
    // KMV bottom-k distinct sketch as a native TypedImperativeAggregate
    // (the custom-UDAF surface): O(k) state per group at ANY cardinality,
    // oracle-verified through its exact integer (n_kept, kth_hash) core
    "q_kmv_distinct" -> (Sketches.kmvDistinctUsers _),
    // the same custom aggregate over distributed file-source micro-batches
    // (no driver-side input materialization); SAME oracle
    "q_kmv_distinct_streaming_file" -> ((s, d) =>
      streaming.StreamingKmv.kmvDistinctUsersFromFiles(s, d)),
    // HyperLogLog: max-leading-zero registers (m bytes/group at any
    // cardinality), certified through the exact integer (n_zero_buckets,
    // sum_pow) core; small-range correction included
    "q_hll_distinct" -> (Sketches.hllDistinctUsers _),
    // the same registers over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    "q_hll_distinct_streaming_file" -> ((s, d) =>
      streaming.StreamingHll.hllDistinctUsersFromFiles(s, d)),
    // theta-sketch-style pairwise set overlap from bottom-k samples:
    // Jaccard + intersection estimates per group pair, key-cardinality
    // work only, exact below saturation — integer (n_kept, theta,
    // n_common) core certified
    "q_kmv_overlap" -> (Sketches.kmvOverlapByType _),
    // sketch MERGEABILITY certificate: per-group register tables collapse
    // by bucket-max into the union's sketch (the 1000-executor merge
    // path), proven equal to sketching the union directly
    "q_hll_merged" -> (Sketches.hllMergedDistinctUsers _),
    // Count-Min sketch: bounded-state per-key FREQUENCY estimation — a
    // depth x width counter grid (state independent of key cardinality,
    // the frequency complement of the cardinality sketches above); probe
    // estimates certified as exact overcounts vs the true counts
    "q_cms_counts" -> (Sketches.cmsUserTypeCounts _),
    // CMS inner-product join-size estimation (the CBO primitive): two
    // grid-sized sketches size the join the optimizer would otherwise
    // have to run; certified as an exact overestimate vs the true count
    "q_cms_join_size" -> (Sketches.cmsJoinSizeEvents _),
    // the same grid over distributed file-source micro-batches (no
    // driver-side input materialization); SAME oracle
    "q_cms_counts_streaming_file" -> ((s, d) =>
      streaming.StreamingCms.cmsUserTypeCountsFromFiles(s, d)),
    // exact heavy-hitter skew profile: one key-partitioned agg over data,
    // ranking/share on key-cardinality rows (integer ppm — no float ranks)
    "q_heavy_hitters" -> (HeavyHitters.hotCustomers _),
    // the update-mode counter certificate with NO driver-side input
    // materialization: file-source staged fact rows, real micro-batches;
    // order-free (counters are monotone), SAME oracle as the batch form
    "q_heavy_hitters_streaming_file" -> ((s, d) =>
      streaming.FileReplayHeavyHitters.hotCustomers(s, d)),
    // the BOUNDED-state form: per-partition Misra-Gries summaries (capacity
    // counters max, regardless of input size) merged by key-sum; certified
    // in the provably-exact regime (capacity > distinct keys) against the
    // SAME oracle as the exact profile
    "q_heavy_hitters_bounded" -> (HeavyHitters.hotCustomersBounded _),
    // the same hashed-group Misra-Gries state over distributed
    // file-source micro-batches (no driver-side input materialization);
    // SAME oracle
    "q_heavy_hitters_bounded_streaming_file" -> ((s, d) =>
      streaming.StreamingBoundedHeavyHitters.hotCustomersFromFiles(s, d)),
    // the same bounded counters on transformWithState + MapState (RocksDB):
    // each counter is its own store entry, write-back touches only counters
    // the batch changed — the at-scale layout for per-key sub-maps; SAME
    // oracle, isolating the state API + layout swap
    "q_heavy_hitters_bounded_streaming_tws" -> ((s, d) =>
      streaming.TwsHeavyHitters.hotCustomersFromFiles(s, d)),
    // single-row distributional skew summary of the same key: cardinality,
    // exact count order-statistics, hot-tail share, max/mean ppm ratio
    "q_skew_profile" -> (SkewReport.orderCustomerSkew _),
    "q_pareto_share" -> (ParetoShare.reportOrders _),
    "q_benford" -> (Benford.reportOrders _),
    "q_exact_median" -> (ExactQuantiles.mediansEvents _),
    "q_ship_latency" -> (ShipLatency.histogramTables _),
    // benchmark decontamination: broadcast bench postings, probe-augmented
    // bench suite so the correctness row is structurally non-vacuous
    "text_decontaminate" -> ((s, d) => {
      val docs = sources.Tables.documents(s, d)
      Decontaminate.contaminated(docs, Decontaminate.probeBenchmarks(docs))
        .orderBy(col("doc_id"))
    }),
    // fuzzy (fractional-containment) decontamination: per benchmark item,
    // the worst-offender containment ppm + leak-threshold doc count, banded
    // by ppm decile; four probe regimes (exact / paraphrase / partial /
    // clean) keep every band class non-vacuous
    "text_decontaminate_fuzzy" -> ((s, d) => {
      val docs = sources.Tables.documents(s, d)
      Decontaminate.fuzzyContaminated(docs,
        Decontaminate.fuzzyProbeBenchmarks(docs))
    }),
    // the benchmark-side view of the same contamination join: which eval
    // items leaked, into how many training docs, through how many shingles
    "pipeline_contamination_report" -> ((s, d) => {
      val docs = sources.Tables.documents(s, d)
      Decontaminate.benchReport(docs, Decontaminate.probeBenchmarks(docs))
    }),
    // pairs -> clusters on the jaccard-VERIFIED minhash pair graph — the
    // exact keep-list the attribution report's greedy doc_b rule bounds
    "dedup_minhash_clusters" -> ((s, d) => DedupClusters.components(
      Dedup.minhashLsh(sources.Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))),
    // keep-list health: how many clusters of each size the verified pair
    // graph collapses into (fat tail = boilerplate chaining)
    "dedup_cluster_sizes" -> ((s, d) => DedupClusters.sizeHistogram(
      DedupClusters.components(
        Dedup.minhashLsh(sources.Tables.documents(s, d))
          .select(col("doc_a"), col("doc_b"))))),
    // --- dedup extensions ---
    "dedup_exact" -> ((s, d) => Dedup.exact(sources.Tables.documents(s, d))
      .orderBy(col("content_hash"))),
    // per-source dup rate + cross-source sharing on the SAME content hash
    "dedup_source_report" -> (DedupSourceReport.reportDocuments _),
    // stage-attributed cascade report: which screen (exact / normalized /
    // minhash near-dup) catches each duplicate — the screen-overlap table
    // behind the run-the-expensive-pass-or-not decision
    "dedup_attribution" -> (DedupAttribution.attributionDocuments _),
    // canonical-form dedup (case/punct/whitespace variants), probe-augmented
    // so normalized duplicate groups provably exist
    "dedup_normalized" -> ((s, d) => Dedup.normalizedDups(
      Dedup.normProbeAugmented(sources.Tables.documents(s, d)))
      .orderBy(col("norm_hash"))),
    // quality-ranked cluster representative: each canonical duplicate group
    // keeps its highest-integer-ppm-quality copy via a partially-
    // aggregatable struct-max (bodies never shuffle)
    "dedup_keep_best" -> ((s, d) => Dedup.keepBest(
      sources.Tables.documents(s, d))),
    // the same horizon-scoped drop over distributed file-source
    // micro-batches (no driver-side input materialization, span-derived
    // horizon); SAME oracle
    "dedup_exact_streaming_file" -> ((s, d) =>
      streaming.StreamingDedup.exactWithinHorizonFromFiles(s, d)),
    // the same canonical-hash drop over distributed file-source
    // micro-batches (no driver-side input materialization); SAME oracle
    "dedup_normalized_streaming_file" -> ((s, d) =>
      streaming.StreamingDedup.normalizedWithinHorizonFromFiles(s, d)),
    // sub-document exact dedup: aligned token-window chunks hashed and
    // grouped; passages appearing in >= 2 distinct docs
    "dedup_passage" -> ((s, d) => Dedup.passageDups(sources.Tables.documents(s, d))
      .orderBy(col("passage_hash"))),
    "dedup_fingerprint" -> ((s, d) => Dedup.fingerprint(sources.Tables.documents(s, d))
      .orderBy(col("fp"))),
    "dedup_ngram_jaccard" -> ((s, d) => Dedup.ngramJaccard(sources.Tables.documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))),
    // asymmetric containment (subset-duplicate screen), probe-augmented so
    // a guaranteed prefix-subset pair exists (containment 1.0)
    "dedup_containment" -> ((s, d) => Dedup.ngramContainment(
      Dedup.containmentProbeAugmented(sources.Tables.documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))),
    // blocked edit-distance near-dups (character-level fuzzy screen),
    // probe-augmented with one head-edit and one tail-edit twin so both
    // blocking keys prove their recall guarantee
    "dedup_fuzzy" -> ((s, d) => Dedup.fuzzyDups(
      Dedup.fuzzyProbeAugmented(sources.Tables.documents(s, d)))
      .orderBy(col("doc_a"), col("doc_b"))),
    "dedup_minhash_lsh" -> ((s, d) => Dedup.minhashLsh(sources.Tables.documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))),
    // recrawl near-dup DELTA screen: probe only the delta docs against the
    // OLD snapshot's FROZEN minhash band index (the emb_pq_codes_delta
    // discipline applied to near-dup dedup) — the old corpus never reshuffles
    "dedup_minhash_delta" -> (DedupDelta.minhashDeltaDocuments _),
    // incremental keep-list maintenance: old labels collapse to star edges,
    // union the delta screen's pairs, relabel — old-old pairs NEVER recomputed;
    // the oracle rebuilds components from scratch, so the gate itself
    // certifies incremental == rebuild on real data
    "dedup_clusters_delta" -> (DedupDelta.clustersDeltaDocuments _),
    // ingest-time form of the delta screen: delta docs arrive as file
    // micro-batches and probe the SAME frozen index via stateless
    // stream-static joins — same oracle as the batch screen
    "dedup_minhash_delta_streaming_file" -> ((s, d) =>
      streaming.StreamingDedupDelta.minhashDeltaFromFiles(s, d)),
    // estimator-vs-exact contingency on the SAME candidate/verify stages
    "dedup_minhash_calibration" -> (MinhashCalibration.contingencyDocuments _),
    "dedup_simhash" -> ((s, d) => Dedup.simhashPairs(sources.Tables.documents(s, d))
      .orderBy(col("doc_a"), col("doc_b"))),
    // the delta screen on the SIMHASH index — completes the delta matrix
    // (exact/minhash/semantic/simhash all have frozen-index delta forms);
    // the doubled-text probe family pins the signature's term-bag
    // invariance (hamming provably 0) that no other screen certifies
    "dedup_simhash_delta" -> (DedupDelta.simhashDeltaDocuments _),
    // ingest-time form: parse-stage signatures arrive as micro-batches and
    // probe the SAME frozen banded-fingerprint artifact statelessly (one
    // broadcast band-key join + xor/bit_count — no second static join)
    "dedup_simhash_delta_streaming_file" -> ((s, d) =>
      streaming.StreamingSimhashDelta.simhashDeltaFromFiles(s, d)),
    // the delta screen on the WINNOW passage index: which delta docs share
    // a >= 6-word passage with old content (syndication/quote-farm case
    // the whole-doc screens miss when the surrounding text is new)
    "dedup_winnow_delta" -> (DedupDelta.winnowDeltaDocuments _),
    // ingest-time form: parse-stage fingerprint arrays arrive as
    // micro-batches and probe the SAME frozen posting artifact statelessly;
    // per-pair shared counts fold as a monotone update-mode aggregation
    "dedup_winnow_delta_streaming_file" -> ((s, d) =>
      streaming.StreamingWinnowDelta.winnowDeltaFromFiles(s, d)),
    // the recrawl cascade report: which screen catches each delta doc
    // FIRST (exact > minhash > simhash > winnow > unique) — every stage
    // the certified delta screen verbatim over ONE shared probe set; the
    // token-permuted probe family lands in the simhash-only class
    "dedup_delta_attribution" -> (DeltaAttribution.attributeDocuments _),
    // pairs -> clusters -> keep-list: distributed min-label propagation vs a
    // DuckDB RECURSIVE CTE fixpoint (transitive A~B~C collapses to 1 survivor)
    "dedup_clusters" -> ((s, d) => DedupClusters.components(
      Dedup.simhashPairs(sources.Tables.documents(s, d)))
      .orderBy(col("doc_id"))),
    // probe-augmented so the correctness row asserts non-zero matching pairs
    // (the raw corpus has none above threshold — a 0==0 row verifies nothing)
    "dedup_embedding" -> ((s, d) => Dedup.embeddingNearDup(
      Dedup.probeAugmented(sources.Tables.embeddings(s, d)))
      .orderBy(col("vec_a"), col("vec_b"))),
    // SemDeDup: cluster-scoped pairwise (quadratic only within a broadcast-
    // codebook cluster, cap observed-not-silent), keep-lowest-id per
    // near-dup neighborhood — full keep/drop decision oracle-certified
    // radius (range) search: every vector within a cosine radius of each
    // query — data-dependent answer sets through the same LSH candidate
    // machinery as ann_lsh, no ranking window; probe-augmented so hits
    // exist at every scale
    "ann_range" -> ((s, d) => Similarity.lshRange(
      Dedup.probeAugmented(sources.Tables.embeddings(s, d)))),
    "dedup_semantic" -> (SemanticDedup.semanticDedupDocs _),
    // SemDeDup of the recrawl delta against the FROZEN old codebook +
    // keep-list: dup_of_old (mirror case, id order irrelevant) and the
    // intra-delta greedy rule, both probe-certified
    "dedup_semantic_delta" -> (SemanticDedup.semanticDedupDeltaDocs _),
    // the paper's actual shape: k-means-TRAINED clusters (one exact-
    // integer Lloyd step, the trained-IVF codebook chain), same scoping
    // and keep rule
    "dedup_semantic_trained" -> (SemanticDedup.semanticDedupDocsTrained _),
    // --- similarity search extensions ---
    "ann_brute_force" -> ((s, d) => Similarity.bruteForceTopK(sources.Tables.embeddings(s, d))
      .orderBy(col("query_id"), col("rank"))),
    // graph-ANN serve: deterministic beam search over the (denser) kNN
    // graph artifact — completes the serve-family square (LSH/IVF/PQ/graph);
    // recall pinned against the exact baseline in GraphSearchRecallSpec
    "ann_graph_search" -> (GraphSearch.searchEmbeddings _),
    // serve-from-maintained-graph composition: the same beam search over
    // KnnGraph.deltaGraph's incrementally maintained edges — maintained ≡
    // rebuilt by the ann_knn_graph_delta contract, so the oracle is the
    // rebuilt-graph search unrolled verbatim (the ann_graph_search string)
    "ann_graph_search_delta" -> (GraphSearch.searchDeltaEmbeddings _),
    // hybrid retrieval: integral reciprocal-rank fusion of the BM25
    // lexical list and the exact-cosine vector list (nq x depth rows each
    // — fusion is corpus-size-free; cost lives in the certified legs)
    "ann_hybrid_rrf" -> (Bm25.hybridDocuments _),
    // fusion-quality instrument: consensus recall + per-leg retention at
    // sweep fusion depths over the ONE pair of cached depth-20 rank lists;
    // the tail depth IS the shipped ann_hybrid_rrf knob (r18 curve
    // discipline — the last serve knob pair without a measured curve)
    "ann_hybrid_recall" -> (Bm25.hybridRecallDocuments _),
    // lexical retrieval serve: MoreLikeThis top-idf query-term selection
    // (the tfidf spelling) + BM25 scoring in floored integral micro-nats
    // over the ONE posting-frame corpus explode; candidates are
    // posting-union-sized via the broadcast query-term probe
    "text_bm25_topk" -> (Bm25.bm25Documents _),
    // incremental posting-index maintenance: frozen old postings/doclen/
    // stats + delta-only explode, integer-merged df/stats — the oracle is
    // the full-rebuild spelling VERBATIM, so the gate itself certifies
    // refresh == rebuild (the r19 delta-matrix discipline, closing the one
    // index family without a delta form)
    "text_bm25_delta" -> (Bm25.bm25DeltaDocuments _),
    // ingest-time index maintenance twin: the delta docs' parse-stage
    // posting rows arrive as micro-batches, accumulate as monotone
    // per-(doc, term) increments, and fold into the frozen index through
    // the ONE merge-and-serve spelling — SAME oracle (the rebuild)
    "text_bm25_delta_streaming_file" -> ((s, d) =>
      streaming.StreamingBm25Delta.bm25DeltaFromFiles(s, d)),
    // serve-on-ingest twin: query plans arrive as file micro-batches and
    // probe the FROZEN posting index statelessly; per-(query, doc) scores
    // accumulate as a monotone update-mode aggregation — SAME oracle
    "text_bm25_topk_streaming_file" -> ((s, d) =>
      streaming.StreamingBm25.bm25FromFiles(s, d)),
    // hybrid serve twin: BOTH legs' staged query plans arrive as file
    // micro-batches (lexical = the staged posting-probe serve; vector = a
    // stateless blocked probe of the frozen normed corpus), fused by the
    // ONE integral RRF spelling — SAME oracle as ann_hybrid_rrf
    "ann_hybrid_rrf_streaming_file" -> ((s, d) =>
      streaming.StreamingHybrid.hybridFromFiles(s, d)),
    // kNN majority-vote label prediction on the certified top-k contract —
    // the embedding-quality probe; vote tail touches only queries x K rows
    "ann_knn_classify" -> (KnnClassify.classifyEmbeddings _),
    "ann_lsh" -> ((s, d) => Similarity.lshTopK(sources.Tables.embeddings(s, d))
      .orderBy(col("query_id"), col("rank"))),
    // serve-quality LSH: multi-probe Hamming-2 candidate widening + the
    // same exact re-rank — recall@5 at sf0.1 0.525 -> 1.000, index unchanged
    "ann_lsh_rerank" -> ((s, d) =>
      Similarity.lshRerankTopK(sources.Tables.embeddings(s, d))
        .orderBy(col("query_id"), col("rank"))),
    "ann_ivf" -> ((s, d) => Similarity.ivfTopK(sources.Tables.embeddings(s, d))
      .orderBy(col("query_id"), col("rank"))),
    // serve-quality IVF-flat: deep-probe refine (6 of 16 cells) lets the
    // 0.9 recall floor be PINNED (probe-4 measures 1.000 but floors at 0.4)
    "ann_ivf_rerank" -> ((s, d) =>
      Similarity.ivfRerankTopK(sources.Tables.embeddings(s, d))
        .orderBy(col("query_id"), col("rank"))),
    // IVF over the one-Lloyd-step TRAINED coarse codebook (exact integer
    // means) — completes the training story: coarse (here), sub (ann_pq_
    // trained), residual sub (ann_ivf_pq_res_trained) are all certified
    "ann_ivf_trained" -> ((s, d) => Similarity.ivfTopK(
      sources.Tables.embeddings(s, d), trained = true)
      .orderBy(col("query_id"), col("rank"))),
    // product-quantization ADC top-k: M one-byte codes per vector, scoring
    // touches codes + a broadcast LUT — the memory-bound ANN scale path
    "ann_pq" -> (ProductQuantization.annPq _),
    // IVF coarse pruning composed with PQ fine scoring (shared codes/LUT)
    "ann_ivf_pq" -> (ProductQuantization.annIvfPq _),
    // PQ over a one-Lloyd-step TRAINED codebook (exact integer means) —
    // certifies the training path the residual scaladoc routes users to
    "ann_pq_trained" -> (ProductQuantization.annPqTrained _),
    // classic residual IVF-PQ: codes quantize the residual against the
    // coarse centroid; one query LUT per probed list
    "ann_ivf_pq_res" -> (ProductQuantization.annIvfPqRes _),
    // residual IVF-PQ with the TRAINED residual codebook (one exact-integer
    // Lloyd step over residuals) — the composition the untrained variant's
    // scaladoc routes users to, now certified
    "ann_ivf_pq_res_trained" -> (ProductQuantization.annIvfPqResTrained _),
    // the exact-re-rank refine stage over the trained residual chain: ADC
    // selects top-C candidates (codes stay the corpus-wide scan), exact
    // float sqDist re-scores only those C rows per query — recall@5 at
    // sf0.1 goes 0.125 -> 1.000 (floor pinned in AnnRecallSf01Spec)
    "ann_ivf_pq_rerank" -> (ProductQuantization.annIvfPqRerank _),
    // the large-query-batch serve path: nq=64, candidates/queries reach the
    // corpus via shuffle-hash equi-joins — no broadcast assumption
    "ann_rerank_batch" -> (ProductQuantization.annRerankBatch _),
    // the serve-quality dashboard as a certified query: per-family recall
    // vs the exact baseline, every family's stage the operator verbatim
    "ann_recall_report" -> (AnnRecallReport.report _),
    // the PQ index materialized: persist once, serve ann_pq and ann_ivf_pq
    "emb_pq_codes" -> (ProductQuantization.pqCodes _),
    "emb_pq_codes_streaming_file" -> ((s, d) =>
      streaming.StreamingPqCodes.codesFromFiles(s, d)),
    // per-subspace quantization error on the encoder's distance stage
    "emb_pq_distortion" -> (PqDistortion.reportEmbeddings _),
    // one k-means refinement step (broadcast-argmax assign + exact scaled-
    // integer centroid update, so partial-agg order can't shift the result)
    "emb_kmeans_step" -> ((s, d) => Similarity.kmeansStep(sources.Tables.embeddings(s, d))
      .orderBy(col("cid"), col("pos"))),
    // the Lloyd update maintained incrementally over streamed embedding
    // ingest: stateless literal-codebook argmax per row, ONE grid-sized
    // (K x Dim) update-mode aggregation with monotone-decomposed signed
    // sums; SAME oracle as the batch step
    "emb_kmeans_step_streaming_file" -> ((s, d) =>
      streaming.StreamingKmeans.lloydStepFromFiles(s, d)),
    // symmetric int8 vector quantization, payload hash-checked exactly
    // per-dimension normalization stats: integer micro-floor aggregates,
    // one map-side-combined shuffle to |dims| rows (power-iteration shape)
    "emb_dim_stats" -> (EmbDimStats.statsEmbeddings _),
    "emb_quantize" -> ((s, d) => Quantize.int8(sources.Tables.embeddings(s, d))
      .orderBy(col("vec_id"))),
    // one exact-integer power-iteration matvec toward the top principal
    // direction: single pass, map-side-combined to Dim rows per task
    "emb_power_iteration" -> ((s, d) => Similarity.powerIterationStep(
      sources.Tables.embeddings(s, d))),
    // 1-D PCA shadow: the power-step direction quantized and broadcast
    // back as one array row; per-row zip_with fold, no data-sized join
    "emb_pca_project" -> (PcaProject.projectEmbeddings _),
    // top-k farthest-from-own-label-centroid vectors (mislabel screen):
    // one map-side-combined centroid shuffle, then a narrow broadcast-join
    // fold and a TakeOrdered — no global sort
    "emb_outliers" -> ((s, d) => Similarity.labelOutliers(
      sources.Tables.embeddings(s, d))),
    // per-label cohesion/separation scorecard over the shared centroid
    // stage; K-row broadcast cross, 3 longs per vector on the shuffle
    "emb_silhouette" -> (Silhouette.cohesionEmbeddings _),
    // trained-IVF cell sizes on the certified assignment stage verbatim
    "emb_ivf_balance" -> (IvfBalance.reportEmbeddings _),
    "emb_ivf_assign" -> ((s, d) =>
      Similarity.ivfAssign(sources.Tables.embeddings(s, d))),
    "emb_ivf_assign_streaming_file" -> ((s, d) =>
      streaming.StreamingIvfAssign.assignFromFiles(s, d)),
    "ann_lsh_buckets" -> ((s, d) =>
      Similarity.lshBucketIndex(sources.Tables.embeddings(s, d))),
    "ann_lsh_buckets_streaming_file" -> ((s, d) =>
      streaming.StreamingLshBuckets.bucketsFromFiles(s, d)),
    "emb_pq_codes_delta" -> (ProductQuantization.pqCodesDelta _),
    "mm_dedup_exact" -> ((s, d) =>
      Multimodal.mediaDedupExact(sources.Tables.documents(s, d))),
    "mm_dedup_exact_streaming_file" -> ((s, d) =>
      streaming.StreamingDedup.mediaWithinHorizonFromFiles(s, d)),
    "emb_quantize_streaming_file" -> ((s, d) =>
      streaming.StreamingQuantize.int8FromFiles(s, d)),
    // per-table LSH bucket occupancy on the search's own bucket stage
    "ann_lsh_balance" -> (LshBalance.reportEmbeddings _),
    // --- multimodal extensions ---
    "mm_metadata" -> ((s, d) => Multimodal.metadata(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"))),
    "mm_frame_sample" -> ((s, d) => Multimodal.frameSample(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"), col("frame_idx"))),
    // audio window/hop chunking in exact sample-integer math (full oracle)
    "mm_audio_chunk" -> ((s, d) => Multimodal.audioChunks(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"), col("chunk_idx"))),
    // --- multimodal decode plumbing (mapPartitions batched codec seam) ---
    // FULL oracle: dimensions and every per-chunk milli-mean byte feature
    // hash-checked (integer-exact byte arithmetic end to end)
    "mm_decode" -> ((s, d) => Multimodal.decode(
      Multimodal.asMedia(sources.Tables.documents(s, d)))
      .orderBy(col("doc_id"), col("chunk"))),
    // resize plumbing, same batched contract as decode, ALL-integer fit
    // arithmetic — the entire output is oracle-checked, plumbing included
    "mm_resize" -> ((s, d) => Multimodal.resize(
      Multimodal.asMedia(sources.Tables.documents(s, d)))
      .orderBy(col("doc_id"))),
    // per-chunk feature extraction with a FULL oracle (long form)
    "mm_embed" -> ((s, d) => Multimodal.embed(sources.Tables.documents(s, d))
      .orderBy(col("doc_id"), col("dim")))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query is oracle-checked in full.
    */
  def oracleSql: Map[String, String] = Map(
    "mqtt_messages" -> MqttQueries.messagesSql,
    "mqtt_state" -> MqttQueries.stateSql,
    "mqtt_history" -> MqttQueries.historySql,
    "mqtt_history_view" -> MqttQueries.historyViewSql,
    "mqtt_history_flags" -> MqttQueries.historyFlagsSql,
    "mqtt_topic_filter" -> MqttQueries.topicFilterSql,
    "mqtt_localtime" -> MqttQueries.localtimeSql,
    "mqtt_payload_json" -> MqttQueries.payloadJsonSql,
    "mqtt_history_streaming_file" -> MqttQueries.historySql,
    "mqtt_history_streaming_tws" -> MqttQueries.historySql,
    "mqtt_history_handoff" -> MqttQueries.historySql,
    "mqtt_state_streaming" -> MqttQueries.stateSql,
    "mqtt_state_streaming_file" -> MqttQueries.stateSql,
    "mqtt_history_scd2" -> MqttQueries.historyScd2Sql,
    "mqtt_history_stats" -> MqttQueries.historyStatsSql,
    "mqtt_topic_tree" -> MqttQueries.topicTreeSql,
    "mqtt_stale_topics" -> MqttQueries.staleTopicsSql,
    "mqtt_topic_tree_streaming_file" -> MqttQueries.topicTreeSql,
    "mqtt_asof_change" -> MqttQueries.asofChangeSql,
    "mqtt_windowed_counts" -> MqttQueries.windowedCountsSql,
    "mqtt_windowed_streaming_file" -> MqttQueries.windowedCountsSql,
    "q1_pricing_summary" -> Relational.pricingSummarySql,
    "q6_forecast_revenue" -> Relational.forecastRevenueSql,
    "q3_top_orders" -> Relational.topOrdersSql,
    "q5_local_supplier" -> Relational.localSupplierVolumeSql,
    "q_semi_join" -> Relational.semiJoinSql,
    "q_anti_join" -> Relational.antiJoinSql,
    "q_correlated_subquery" -> Subqueries.correlatedScalarSql,
    "q_exists_subquery" -> Subqueries.existsSql,
    "q_in_subquery" -> Subqueries.inSql,
    "q_window_top3" -> Relational.windowTop3Sql,
    "q_running_spend" -> Relational.runningUserSpendSql,
    "q_trailing_window" -> Relational.trailingHourActivitySql,
    "q_rollup" -> Relational.statusRollupSql,
    "q_set_ops" -> Relational.setOpsSql,
    "q_distinct_users" -> Relational.distinctUsersSql,
    "q_topk_orders" -> Relational.topKOrdersSql,
    "q_topk_agg" -> BoundedTopK.topOrdersPerPrioritySql,
    "pipeline_group_sample" -> BoundedTopK.sampleDocsPerLangSql,
    "pipeline_group_sample_streaming_file" -> BoundedTopK.sampleDocsPerLangSql,
    "q_monthly_events" -> Relational.monthlyEventsSql,
    "q_hour_heatmap" -> Relational.hourHeatmapSql,
    "pipeline_shard_manifest" -> ShardManifestSql.manifestDocumentsSql,
    "pipeline_resume_manifest" -> ShardManifestSql.resumeManifestDocumentsSql,
    "dedup_jaccard_histogram" -> JaccardHistogramSql.histogramDocumentsSql(),
    "emb_norm_histogram" -> NormHistogramSql.histogramEmbeddingsSql,
    "q_gap_fill_hourly" -> Resample.hourlyEventsSql,
    "q_time_weighted" -> TimeWeightedSql.perSeriesEventsSql,
    "q_attribution_touch" -> AttributionSql.firstLastTouchEventsSql,
    "q_type_transitions" -> AttributionSql.transitionsEventsSql,
    "q_session_windows" -> Relational.sessionWindowsSql,
    "q_gap_histogram" -> GapHistogramSql.decadesEventsSql,
    "q_peak_concurrency" -> PeakConcurrencySql.peakEventsSql,
    "q_percentiles" -> Relational.percentilesSql,
    "q_cube" -> Relational.cubeEventsSql,
    "q_grouping_sets" -> Relational.groupingSetsReportSql,
    "q_pivot" -> Relational.pivotEventsSql,
    "q_unpivot" -> Relational.unpivotEventsSql,
    "q_stream_static_join" -> streaming.StreamStaticJoin.segmentActivitySql,
    "q_stream_static_join_file" -> streaming.StreamStaticJoin.segmentActivitySql,
    "q_retention_cohort" -> Relational.retentionCohortSql,
    "q_anomaly_mad" -> Relational.anomalyMadSql,
    "q_cusum_drift" -> CusumDriftSql.driftEventsSql,
    "q_m4_downsample" -> M4DownsampleSql.downsampleEventsSql,
    "q_m4_downsample_streaming_file" -> M4DownsampleSql.downsampleEventsSql,
    "q_burstiness" -> BurstinessSql.reportEventsSql,
    "pipeline_length_histogram" -> LengthHistogramSql.histogramDocumentsSql,
    "pipeline_length_histogram_streaming_file" ->
      LengthHistogramSql.histogramDocumentsSql,
    "pipeline_oversample" -> OversampleSql.manifestDocumentsSql,
    "pipeline_oversample_streaming_file" -> OversampleSql.manifestDocumentsSql,
    "q_ntile" -> Relational.ntileQuartilesSql,
    "q_value_ranks" -> Relational.valueRanksSql,
    "q_range_join" -> RangeJoin.inTransitCountsSql,
    "q_salted_join" -> SaltedJoin.orderVolumeBySegmentSql,
    "q_bucketed_join" -> BucketedJoin.orderVolumeBySegmentSql,
    "q_bloom_join" -> BloomJoin.urgentLineitemsSql,
    "q_session_windows_streaming_file" -> Relational.sessionWindowsSql,
    "q_session_windows_streaming_tws" -> Relational.sessionWindowsSql,
    "q_stream_stream_join" -> streaming.StreamStreamJoin.signupPurchasesSql,
    "q_stream_stream_join_outer" -> streaming.StreamStreamJoin.signupPurchasesOuterSql,
    "q_outer_join" -> Relational.outerJoinYearsSql,
    "q_funnel" -> Funnel.funnelSql,
    "q_funnel_windowed" -> Funnel.funnelWindowedSql,
    "q_funnel_conversion" -> Funnel.reportSql,
    "pipeline_clean_corpus" -> CleanCorpusSql.cleanSql,
    "pipeline_clean_corpus_streaming_file" -> CleanCorpusSql.cleanLedgerSql,
    "text_token_stats" -> TextAnalysisSql.tokenStatsSql,
    "text_token_positions" -> TextAnalysisSql.tokenPositionsSql,
    "text_phrase_search" -> TextAnalysisSql.phraseSearchSql(),
    "text_langid" -> TextAnalysisSql.langIdSql,
    "text_langid_eval" -> LangIdEvalSql.confusionDocumentsSql,
    "text_langid_margin" -> LangIdMarginSql.marginsDocumentsSql,
    "text_quality" -> TextAnalysisSql.qualitySql,
    "pipeline_quality_filter" -> QualityFilterSql.filterDocumentsSql,
    "pipeline_stratified_split" -> StratifiedSplitSql.splitDocumentsSql,
    "pipeline_curation_funnel" -> CurationFunnelSql.funnelDocumentsSql,
    "pipeline_budget_sample" -> BudgetSampleSql.sampleDocumentsSql,
    "pipeline_budget_sample_streaming_file" -> BudgetSampleSql.sampleDocumentsSql,
    "pipeline_curate" -> CurateSql.curateDocumentsSql,
    "text_fingerprints" -> TextAnalysisSql.fingerprintsSql,
    "text_winnow" -> Winnow.winnowDocsSql,
    "dedup_winnow" -> Winnow.winnowDupsSql,
    "dedup_winnow_streaming_file" -> Winnow.distinctFpsSql,
    "text_split" -> TextAnalysisSql.splitSql,
    "text_redact" -> TextAnalysisSql.redactEmailsSql,
    "text_tfidf" -> TextAnalysisSql.tfidfTopTermsSql(),
    "text_repetition" -> TextAnalysisSql.repetitionSql,
    "text_boilerplate_strip" -> BoilerplateSql.stripDocumentsSql,
    "text_bpe_pairs" -> BpePairsSql.mergeCandidatesDocumentsSql(),
    "text_bpe_encode" -> BpeEncodeSql.encodeDocumentsSql,
    "text_bpe_fertility" -> BpeEncodeSql.fertilityDocumentsSql,
    "text_chunk" -> TextChunkSql.chunkDocumentsSql,
    "pipeline_chunk_dedup" -> ChunkDedupSql.dedupDocumentsSql,
    "pipeline_chunk_dedup_streaming_file" ->
      streaming.StreamingChunkDedupSql.canonicalDocumentsSql,
    "pipeline_curriculum" -> CurriculumSql.scheduleDocumentsSql,
    "pipeline_interleave" -> InterleaveSql.orderDocumentsSql,
    "pipeline_interleave_streaming_file" -> InterleaveSql.orderDocumentsSql,
    "pipeline_span_corruption" -> SpanCorruptionSql.scheduleDocumentsSql,
    "pipeline_corpus_profile" -> CorpusProfileSql.profileDocumentsSql,
    "pipeline_source_overlap" -> SourceOverlapSql.overlapDocumentsSql(),
    "ann_knn_graph" -> KnnGraphSql.graphEmbeddingsSql(),
    "ann_knn_graph_delta" -> KnnGraphSql.graphEmbeddingsSql(),
    "emb_covariance" -> EmbCovarianceSql.comomentsEmbeddingsSql,
    "pipeline_dataset_card" -> DatasetCardSql.cardDocumentsSql,
    "emb_distance_histogram" -> DistanceHistogramSql.histogramEmbeddingsSql(),
    "ann_graph_degree" -> GraphDegreeSql.histogramEmbeddingsSql,
    "emb_centroid_sim" -> CentroidSimSql.matrixEmbeddingsSql,
    "q_market_basket" -> MarketBasketSql.liftLineitemSql,
    "text_readability" -> ReadabilitySql.profileDocumentsSql,
    "text_entropy" -> TokenEntropySql.profileDocumentsSql,
    "text_charclass" -> CharClassSql.profileDocumentsSql,
    "text_entropy_streaming_file" -> TokenEntropySql.profileDocumentsSql,
    "text_bigram_surprisal" -> BigramSurprisalSql.scoreDocumentsSql,
    "text_collocations" -> CollocationsSql.topDocumentsSql,
    "text_collocations_streaming_file" -> CollocationsSql.topDocumentsSql,
    "text_sample_stratified" -> TextAnalysisSql.sampleStratifiedSql,
    "text_pack_sequences" -> TextAnalysisSql.packSequencesSql,
    "text_vocab_topk" -> TextAnalysisSql.vocabTopKSql,
    "text_vocab_growth" -> VocabGrowthSql.growthDocumentsSql,
    "text_vocab_growth_streaming_file" -> VocabGrowthSql.growthDocumentsSql,
    "q_session_gap_sweep" -> SessionGapSweepSql.sweepEventsSql,
    "dedup_shingle_profile" -> DedupSql.shingleDfProfileSql(),
    "ann_rerank_depth_curve" -> ProductQuantizationSql.rerankDepthCurveSql(),
    "ann_ivf_probe_curve" -> SimilaritySql.ivfProbeCurveSql(),
    "text_zipf" -> ZipfSql.decadesDocumentsSql,
    "text_normalize" -> TextAnalysisSql.normalizeSql,
    "text_bigram_novelty" -> TextAnalysisSql.bigramNoveltySql(),
    "pipeline_token_budget" -> TextAnalysisSql.tokenBudgetSql,
    "pipeline_mixture_sample" -> Mixture.rebalanceDocsSql,
    "pipeline_temperature_sample" -> Mixture.temperatureRebalanceDocsSql,
    "pipeline_assemble" -> AssembleSql.assembleDocumentsSql,
    "pipeline_global_shuffle" -> GlobalShuffleSql.shuffledDocumentsSql,
    "pipeline_epoch_shuffle" -> GlobalShuffleSql.epochShuffledDocumentsSql,
    "pipeline_weighted_sample" -> WeightedSampleSql.sampleDocumentsSql,
    "pipeline_corpus_diff" -> CorpusDiffSql.diffDocumentsSql,
    "pipeline_corpus_drift" -> CorpusDriftSql.driftDocumentsSql,
    "pipeline_corpus_drift_streaming_file" -> CorpusDriftSql.driftDocumentsSql,
    "pipeline_corpus_diff_streaming_file" -> CorpusDiffSql.diffDocumentsSql,
    "pipeline_delta_dedup" -> CorpusDiffSql.deltaDedupDocumentsSql,
    "text_quality_model" -> QualityModelSql.scoreDocumentsSql,
    "text_quality_calibration" -> QualityCalibrationSql.contingencyDocumentsSql,
    "emb_quantize_error" -> QuantizeErrorSql.reportEmbeddingsSql,
    "text_surprisal" -> SurprisalSql.scoreDocumentsSql,
    "q_approx_distinct" -> SketchesSql.approxDistinctUsersSql,
    "q_approx_quantiles" -> SketchesSql.approxQuantilesByTypeSql,
    "q_approx_distinct_streaming_file" -> SketchesSql.approxDistinctUsersSql,
    "q_approx_distinct_streaming_tws" -> SketchesSql.approxDistinctUsersSql,
    "q_approx_quantiles_streaming_file" -> SketchesSql.approxQuantilesByTypeSql,
    "q_kmv_distinct" -> SketchesSql.kmvDistinctUsersSql,
    "q_kmv_distinct_streaming_file" -> SketchesSql.kmvDistinctUsersSql,
    "q_hll_distinct" -> SketchesSql.hllDistinctUsersSql,
    "q_hll_distinct_streaming_file" -> SketchesSql.hllDistinctUsersSql,
    "q_kmv_overlap" -> SketchesSql.kmvOverlapByTypeSql,
    "q_hll_merged" -> SketchesSql.hllMergedDistinctUsersSql,
    "q_cms_counts" -> SketchesSql.cmsUserTypeCountsSql,
    "q_cms_join_size" -> SketchesSql.cmsJoinSizeEventsSql,
    "q_cms_counts_streaming_file" -> SketchesSql.cmsUserTypeCountsSql,
    "q_heavy_hitters" -> HeavyHitters.hotCustomersSql,
    "q_heavy_hitters_streaming_file" -> HeavyHitters.hotCustomersSql,
    "q_heavy_hitters_bounded" -> HeavyHitters.hotCustomersSql,
    "q_heavy_hitters_bounded_streaming_file" -> HeavyHitters.hotCustomersSql,
    "q_heavy_hitters_bounded_streaming_tws" -> HeavyHitters.hotCustomersSql,
    "q_skew_profile" -> SkewReport.orderCustomerSkewSql,
    "q_pareto_share" -> ParetoShareSql.reportOrdersSql,
    "q_benford" -> BenfordSql.reportOrdersSql,
    "q_exact_median" -> ExactQuantilesSql.mediansEventsSql,
    "q_ship_latency" -> ShipLatencySql.histogramTablesSql,
    "text_decontaminate" -> DecontaminateSql.contaminatedSql(),
    "text_decontaminate_fuzzy" -> DecontaminateSql.fuzzyContaminatedSql(),
    "pipeline_contamination_report" -> DecontaminateSql.benchReportSql(),
    "dedup_minhash_clusters" -> DedupClustersSql.componentsSql(
      s"pairs AS (SELECT doc_a, doc_b FROM (${DedupSql.minhashLshSql()}) mp)"),
    "dedup_cluster_sizes" -> DedupClustersSql.sizeHistogramSql(
      s"pairs AS (SELECT doc_a, doc_b FROM (${DedupSql.minhashLshSql()}) mp)"),
    "dedup_exact" -> DedupSql.exactSql,
    "dedup_attribution" -> DedupAttributionSql.attributionDocumentsSql,
    "dedup_source_report" -> DedupSourceReportSql.reportDocumentsSql,
    "dedup_normalized" -> DedupSql.normalizedDupsSql,
    "dedup_keep_best" -> DedupSql.keepBestSql,
    "dedup_exact_streaming_file" -> DedupSql.exactKeySetSql,
    "dedup_normalized_streaming_file" -> DedupSql.normalizedKeySetSql,
    "dedup_passage" -> DedupSql.passageDupsSql,
    "dedup_fingerprint" -> DedupSql.fingerprintSql,
    "dedup_ngram_jaccard" -> DedupSql.ngramJaccardSql(),
    "dedup_containment" -> DedupSql.ngramContainmentSql(),
    "dedup_fuzzy" -> DedupSql.fuzzyDupsSql(),
    "dedup_minhash_lsh" -> DedupSql.minhashLshSql(),
    "dedup_minhash_delta" -> DedupDeltaSql.minhashDeltaDocumentsSql(),
    "dedup_minhash_delta_streaming_file" -> DedupDeltaSql.minhashDeltaDocumentsSql(),
    "dedup_clusters_delta" -> DedupDeltaSql.clustersDeltaDocumentsSql,
    "dedup_minhash_calibration" -> MinhashCalibrationSql.contingencyDocumentsSql,
    "dedup_simhash" -> DedupSql.simhashPairsSql(),
    "dedup_simhash_delta" -> DedupDeltaSql.simhashDeltaDocumentsSql(),
    "dedup_simhash_delta_streaming_file" -> DedupDeltaSql.simhashDeltaDocumentsSql(),
    "dedup_winnow_delta" -> DedupDeltaSql.winnowDeltaDocumentsSql(),
    "dedup_winnow_delta_streaming_file" -> DedupDeltaSql.winnowDeltaDocumentsSql(),
    "dedup_delta_attribution" -> DeltaAttributionSql.attributeDocumentsSql(),
    "dedup_clusters" -> DedupClustersSql.componentsSql(DedupSql.simhashPairsCte()),
    "dedup_embedding" -> DedupSql.embeddingNearDupSql(),
    "ann_range" -> SimilaritySql.lshRangeSql(),
    "dedup_semantic" -> SemanticDedupSql.semanticDedupDocsSql(),
    "dedup_semantic_delta" -> SemanticDedupSql.semanticDedupDeltaDocsSql(),
    "dedup_semantic_trained" -> SemanticDedupSql.semanticDedupDocsTrainedSql(),
    "ann_brute_force" -> SimilaritySql.bruteForceTopKSql(),
    "ann_graph_search" -> GraphSearchSql.searchEmbeddingsSql(),
    // the rebuilt-graph search IS the oracle: maintained graph ≡ rebuild
    "ann_graph_search_delta" -> GraphSearchSql.searchEmbeddingsSql(),
    "ann_hybrid_rrf" -> Bm25Sql.hybridDocumentsSql(),
    "ann_hybrid_recall" -> Bm25Sql.hybridRecallCurveSql(),
    "text_bm25_topk" -> Bm25Sql.bm25DocumentsSql(),
    // the rebuild IS the oracle: refresh == rebuild exactly (integer merges)
    "text_bm25_delta" -> Bm25Sql.bm25DocumentsSql(),
    "text_bm25_delta_streaming_file" -> Bm25Sql.bm25DocumentsSql(),
    "text_bm25_topk_streaming_file" -> Bm25Sql.bm25DocumentsSql(),
    "ann_hybrid_rrf_streaming_file" -> Bm25Sql.hybridDocumentsSql(),
    "ann_knn_classify" -> KnnClassifySql.classifyEmbeddingsSql,
    "ann_lsh" -> SimilaritySql.lshTopKSql(),
    "ann_lsh_rerank" -> SimilaritySql.lshRerankTopKSql(),
    "ann_ivf" -> SimilaritySql.ivfTopKSql(),
    "ann_ivf_rerank" -> SimilaritySql.ivfTopKSql(
      nProbe = Similarity.IvfRerankProbe),
    "ann_ivf_trained" -> SimilaritySql.ivfTrainedTopKSql(),
    "ann_pq" -> ProductQuantizationSql.annPqSql(),
    "ann_ivf_pq" -> ProductQuantizationSql.annIvfPqSql(),
    "ann_pq_trained" -> ProductQuantizationSql.annPqTrainedSql(),
    "ann_ivf_pq_res" -> ProductQuantizationSql.annIvfPqResSql(),
    "ann_ivf_pq_res_trained" -> ProductQuantizationSql.annIvfPqResSql(trained = true),
    "ann_ivf_pq_rerank" -> ProductQuantizationSql.annIvfPqRerankSql(),
    "ann_rerank_batch" -> ProductQuantizationSql.annIvfPqRerankSql(
      nCand = ProductQuantization.BatchCandidates,
      queryMaxId = ProductQuantization.BatchQueries,
      nProbe = ProductQuantization.BatchProbe),
    "ann_recall_report" -> AnnRecallReportSql.reportSql,
    "emb_pq_codes" -> ProductQuantizationSql.pqCodesSql,
    "emb_pq_codes_streaming_file" -> ProductQuantizationSql.pqCodesSql,
    "emb_pq_distortion" -> PqDistortionSql.reportEmbeddingsSql,
    "emb_kmeans_step" -> SimilaritySql.kmeansStepSql(),
    "emb_kmeans_step_streaming_file" -> SimilaritySql.kmeansStepSql(),
    "emb_dim_stats" -> EmbDimStatsSql.statsEmbeddingsSql,
    "emb_quantize" -> QuantizeSql.int8Sql,
    "emb_power_iteration" -> SimilaritySql.powerIterationSql,
    "emb_pca_project" -> PcaProjectSql.projectEmbeddingsSql,
    "emb_outliers" -> SimilaritySql.labelOutliersSql(),
    "emb_silhouette" -> SilhouetteSql.cohesionEmbeddingsSql,
    "emb_ivf_balance" -> IvfBalanceSql.reportEmbeddingsSql,
    "emb_ivf_assign" -> SimilaritySql.ivfAssignSql(),
    "emb_ivf_assign_streaming_file" -> SimilaritySql.ivfAssignSql(),
    "ann_lsh_buckets" -> SimilaritySql.lshBucketIndexSql(),
    "ann_lsh_buckets_streaming_file" -> SimilaritySql.lshBucketIndexSql(),
    "emb_pq_codes_delta" -> ProductQuantizationSql.pqCodesDeltaSql,
    "mm_dedup_exact" -> MultimodalSql.mediaDedupExactSql,
    "mm_dedup_exact_streaming_file" -> MultimodalSql.mediaKeySetSql,
    "emb_quantize_streaming_file" -> QuantizeSql.int8Sql,
    "ann_lsh_balance" -> LshBalanceSql.reportEmbeddingsSql,
    "mm_metadata" -> MultimodalSql.metadataSql,
    "mm_frame_sample" -> MultimodalSql.frameSampleSql,
    "mm_audio_chunk" -> MultimodalSql.audioChunksSql(),
    "mm_decode" -> MultimodalSql.decodeSql,
    "mm_resize" -> MultimodalSql.resizeSql(),
    "mm_embed" -> MultimodalSql.embedSql()
  )
}
