package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.r4GroupAvg(spark, "/root/testdata/sf0.001")

  /** How a declared query's result is checked: hash-compared against
    * DuckDB running `sql` over the same parquet tables, or rows-only, with
    * the written reason no SQL oracle can pin it. */
  sealed trait Check
  final case class Oracle(sql: String) extends Check
  final case class RowsOnly(reason: String) extends Check

  /** One declared query: its name, its builder over (session, sf dir), and
    * its check. */
  final case class Query(
      name: String, build: (SparkSession, String) => DataFrame, check: Check)

  private final val DeclaredQueries = 378
  private final val RowsOnlyQueries = 6

  /** Load-time check of a registry: every entry has a non-empty check,
    * names are unique, and the list is exactly the declared surface (378
    * queries, 6 of them rows-only). Throws with a message naming the
    * first bad entry. */
  def validated(qs: Seq[Query]): Vector[Query] = {
    def fail(msg: String): Nothing =
      throw new IllegalStateException(s"query registry: $msg")
    for (q <- qs) q.check match {
      case null => fail(s"${q.name} has no check")
      case Oracle(sql) if sql == null || sql.trim.isEmpty =>
        fail(s"${q.name} has an empty oracle")
      case RowsOnly(why) if why == null || why.trim.isEmpty =>
        fail(s"${q.name} is rows-only with no reason")
      case _ =>
    }
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    if (dups.nonEmpty) fail(s"duplicate names: ${dups.toSeq.sorted.mkString(", ")}")
    if (qs.size != DeclaredQueries)
      fail(s"${qs.size} queries, expected $DeclaredQueries")
    val rowsOnly = qs.count(_.check.isInstanceOf[RowsOnly])
    if (rowsOnly != RowsOnlyQueries)
      fail(s"$rowsOnly rows-only queries, expected $RowsOnlyQueries")
    qs.toVector
  }

  /** Every declared query, registered exactly once: adding a query is
    * adding one entry here. An entry whose oracle shares another query's
    * SQL says why the shared hash proves it. */
  val registry: Vector[Query] = validated(Vector(
    Query("r1_clean_standardize", ReferenceQueries.r1CleanStandardize, Oracle(Oracles.r1)),
    Query("r2_dq_profile", ReferenceQueries.r2DqProfile, Oracle(Oracles.r2)),
    Query("r3_dedup_keep_first", ReferenceQueries.r3DedupKeepFirst, Oracle(Oracles.r3)),
    Query("r4_group_avg", ReferenceQueries.r4GroupAvg, Oracle(Oracles.r4)),
    Query("r5_latest_per_key", ReferenceQueries.r5LatestPerKey, Oracle(Oracles.r5)),
    Query("r6_topk", ReferenceQueries.r6TopK, Oracle(Oracles.r6)),
    Query("r7_epoch_roundtrip", ReferenceQueries.r7EpochRoundtrip, Oracle(Oracles.r7)),
    Query("x1_join_broadcast", ExtendedQueries.x1JoinBroadcast, Oracle(Oracles.x1)),
    Query("x2_join_shuffle_agg", ExtendedQueries.x2JoinShuffleAgg, Oracle(Oracles.x2)),
    Query("x3_join_anti", ExtendedQueries.x3JoinAnti, Oracle(Oracles.x3)),
    Query("x4_rollup", ExtendedQueries.x4Rollup, Oracle(Oracles.x4)),
    Query("x5_window_running", ExtendedQueries.x5WindowRunning, Oracle(Oracles.x5)),
    Query("x6_sessionize", ExtendedQueries.x6Sessionize, Oracle(Oracles.x6)),
    Query("x7_set_ops", ExtendedQueries.x7SetOps, Oracle(Oracles.x7)),
    Query("x8_json_extract", ExtendedQueries.x8JsonExtract, Oracle(Oracles.x8)),
    // x8b routes the same aggregate through Spark's native VARIANT type —
    // the shared oracle pins the variant path independently (x13b pattern)
    Query("x8b_variant_extract", ExtendedQueries.x8bVariantExtract, Oracle(Oracles.x8)),
    Query("x9_text_tokens", ExtendedQueries.x9TextTokens, Oracle(Oracles.x9)),
    Query("x10_exact_dedup_hash", ExtendedQueries.x10ExactDedupHash, Oracle(Oracles.x10)),
    Query("x11_cosine_topk", ExtendedQueries.x11CosineTopk, Oracle(Oracles.x11)),
    Query("x12_distinct", ExtendedQueries.x12Distinct, Oracle(Oracles.x12)),
    Query("x12b_distinct_approx", ExtendedQueries.x12bDistinctApprox, RowsOnly(
      "HLL sketch registers are engine-internal (Spark's HyperLogLog++ and " +
        "DuckDB's HLL disagree by design); the exact twin x12 is hash-pinned and " +
        "x12b's error bound is spec-asserted")),
    Query("x13_minhash_neardup", LlmQueries.x13MinhashNearDedup, Oracle(Oracles.x13)),
    // x13b computes x13's exact output through the native minhash_all
    // expression — the shared oracle pins the native hashes independently
    Query("x13b_minhash_native", LlmQueries.x13bMinhashNative, Oracle(Oracles.x13)),
    Query("x14_text_stats", LlmQueries.x14TextStats, Oracle(Oracles.x14)),
    Query("x15_language_id", LlmQueries.x15LanguageId, Oracle(Oracles.x15)),
    Query("x16_quality_score", LlmQueries.x16QualityScore, Oracle(Oracles.x16)),
    Query("x17_fingerprint", LlmQueries.x17Fingerprint, Oracle(Oracles.x17)),
    Query("x18_token_count", LlmQueries.x18TokenCount, Oracle(Oracles.x18)),
    Query("x19_simhash", LlmQueries.x19Simhash, Oracle(Oracles.x19)),
    Query("x20_jaccard_pairs", LlmQueries.x20JaccardPairs, Oracle(Oracles.x20)),
    Query("x21_ann_bucketed", LlmQueries.x21AnnBucketed, Oracle(Oracles.x21)),
    Query("x22_asof_join", ExtendedQueries.x22AsofJoin, Oracle(Oracles.x22)),
    Query("x23_cube", ExtendedQueries.x23Cube, Oracle(Oracles.x23)),
    Query("x24_pivot", ExtendedQueries.x24Pivot, Oracle(Oracles.x24)),
    Query("x25_percentiles", ExtendedQueries.x25Percentiles, Oracle(Oracles.x25)),
    Query("x25b_percentiles_approx", ExtendedQueries.x25bPercentilesApprox, RowsOnly(
      "approx_percentile's KLL/GK sketch is engine-internal (no DuckDB " +
        "equivalent produces the same cut points); the exact twin x25 is hash-pinned")),
    Query("x26_window_ranks", ExtendedQueries.x26WindowRanks, Oracle(Oracles.x26)),
    Query("x27_part_supplier", ExtendedQueries.x27PartSupplier, Oracle(Oracles.x27)),
    Query("x28_cosine_neardup", LlmQueries.x28CosineNeardup, Oracle(Oracles.x28)),
    Query("x28b_cosine_wide", LlmQueries.x28bCosineNeardupWide, RowsOnly(
      "the wide (full-dimension) variant exists to prove the plan shape beyond " +
        "the oracle dialect's practical expression width; the fixed-width twin x28 " +
        "pins the identical semantics by hash")),
    Query("x29_range_join", ExtendedQueries.x29RangeJoin, Oracle(Oracles.x29)),
    Query("x30_hash_sample", LlmQueries.x30HashSample, Oracle(Oracles.x30)),
    Query("x31_bigram_stats", LlmQueries.x31BigramStats, Oracle(Oracles.x31)),
    Query("x32_ivf_ann", LlmQueries.x32IvfAnn, Oracle(Oracles.x32)),
    Query("x33_salted_agg", ExtendedQueries.x33SaltedAgg, Oracle(Oracles.x33)),
    Query("x34_prep_pipeline", LlmQueries.x34PrepPipeline, Oracle(Oracles.x34)),
    Query("x35_simhash_pairs", LlmQueries.x35SimhashPairs, Oracle(Oracles.x35)),
    Query("x35b_simhash_wide", LlmQueries.x35bSimhashPairsWide, RowsOnly(
      "the 64-bit signature needs per-bit md5 bit extraction beyond the oracle " +
        "dialect's width budget (SURVEY §6.1b); the 16-bit twin x35 hash-pins the " +
        "identical banding and semantics")),
    Query("x36_intersect", ExtendedQueries.x36Intersect, Oracle(Oracles.x36)),
    Query("x37_semi_join", ExtendedQueries.x37SemiJoin, Oracle(Oracles.x37)),
    Query("x38_grouping_sets", ExtendedQueries.x38GroupingSets, Oracle(Oracles.x38)),
    Query("x39_full_outer", ExtendedQueries.x39FullOuter, Oracle(Oracles.x39)),
    Query("x40_jsonl_roundtrip", ExtendedQueries.x40JsonlRoundtrip, Oracle(Oracles.x40)),
    Query("x41_repetition", LlmQueries.x41RepetitionSignals, Oracle(Oracles.x41)),
    Query("x42_stratified_sample", LlmQueries.x42StratifiedSample, Oracle(Oracles.x42)),
    Query("x43_contamination", LlmQueries.x43Contamination, Oracle(Oracles.x43)),
    Query("x44_moving_avg", ExtendedQueries.x44MovingAvg, Oracle(Oracles.x44)),
    Query("x45_gap_fill", ExtendedQueries.x45GapFill, Oracle(Oracles.x45)),
    Query("x46_prep_v2", LlmQueries.x46PrepPipelineV2, Oracle(Oracles.x46)),
    Query("x47_dedup_components", LlmQueries.x47DedupComponents, Oracle(Oracles.x47)),
    Query("x48_incremental_dedup", LlmQueries.x48IncrementalDedup, Oracle(Oracles.x48)),
    Query("x49_pq_ann", LlmQueries.x49PqAnn, Oracle(Oracles.x49)),
    Query("x50_tfidf_terms", LlmQueries.x50TfidfTerms, Oracle(Oracles.x50)),
    Query("x51_adaptive_gate", LlmQueries.x51AdaptiveQualityGate, Oracle(Oracles.x51)),
    Query("x52_kmeans_step", LlmQueries.x52KmeansStep, Oracle(Oracles.x52)),
    Query("x53_chunk_dedup", LlmQueries.x53ChunkDedup, Oracle(Oracles.x53)),
    Query("x54_domain_rebalance", LlmQueries.x54DomainRebalance, Oracle(Oracles.x54)),
    Query("x55_lexical_diversity", LlmQueries.x55LexicalDiversity, Oracle(Oracles.x55)),
    Query("x56_knn_classify", LlmQueries.x56KnnClassify, Oracle(Oracles.x56)),
    Query("x56b_knn_ann", LlmQueries.x56bKnnAnn, RowsOnly(
      "the ANN path's IVF probe-set is a Spark-plan construction with no SQL " +
        "analog; LlmSpec pins exact parity of its results against the hash-pinned " +
        "exact twin x56")),
    Query("x57_containment", LlmQueries.x57Containment, Oracle(Oracles.x57)),
    // x58 re-routes x40's roundtrip aggregate through ORC parts — the
    // shared original-parquet oracle proves THAT roundtrip lossless too
    Query("x58_orc_roundtrip", ExtendedQueries.x58OrcRoundtrip, Oracle(Oracles.x40)),
    Query("x59_semdedup", LlmQueries.x59SemDedup, Oracle(Oracles.x59)),
    Query("x59b_semdedup_wide", LlmQueries.x59bSemDedupWide, RowsOnly(
      "the full-dimension variant exceeds the oracle dialect's expression " +
        "width (the x28b reasoning); the fixed-width twin x59 is hash-pinned")),
    Query("x60_sequence_pack", LlmQueries.x60SequencePack, Oracle(Oracles.x60)),
    Query("x61_merge_upsert", ExtendedQueries.x61MergeUpsert, Oracle(Oracles.x61)),
    Query("x62_minhash_estimate", LlmQueries.x62MinhashEstimate, Oracle(Oracles.x62)),
    Query("x63_rarity_score", LlmQueries.x63RarityScore, Oracle(Oracles.x63)),
    Query("x64_pii_scrub", LlmQueries.x64PiiScrub, Oracle(Oracles.x64)),
    Query("x65_vocab_coverage", LlmQueries.x65VocabCoverage, Oracle(Oracles.x65)),
    Query("x66_best_of_dupes", LlmQueries.x66BestOfDupes, Oracle(Oracles.x66)),
    Query("x67_source_overlap", LlmQueries.x67SourceOverlap, Oracle(Oracles.x67)),
    Query("x68_dup_rate_source", LlmQueries.x68DupRateBySource, Oracle(Oracles.x68)),
    Query("x69_prep_v3", LlmQueries.x69PrepPipelineV3, Oracle(Oracles.x69)),
    Query("x70_scd2_history", ExtendedQueries.x70Scd2History, Oracle(Oracles.x70)),
    Query("x71_snapshot_diff", LlmQueries.x71SnapshotDiff, Oracle(Oracles.x71)),
    Query("x72_bpe_pairs", LlmQueries.x72BpePairs, Oracle(Oracles.x72)),
    Query("x73_salted_join", ExtendedQueries.x73SaltedJoin, Oracle(Oracles.x73)),
    Query("x74_funnel", ExtendedQueries.x74Funnel, Oracle(Oracles.x74)),
    Query("x75_retention", ExtendedQueries.x75Retention, Oracle(Oracles.x75)),
    Query("x76_bucketed_join", ExtendedQueries.x76BucketedJoin, Oracle(Oracles.x76)),
    Query("x77_partitioned_prune", ExtendedQueries.x77PartitionedPrune, Oracle(Oracles.x77)),
    Query("x78_compaction_roundtrip", ExtendedQueries.x78CompactionRoundtrip, Oracle(Oracles.x78)),
    Query("x79_inverted_index", LlmQueries.x79InvertedIndex, Oracle(Oracles.x79)),
    Query("x80_weighted_sample", LlmQueries.x80WeightedSample, Oracle(Oracles.x80)),
    Query("x81_burst_detect", ExtendedQueries.x81BurstDetect, Oracle(Oracles.x81)),
    Query("x82_quantile_norm", LlmQueries.x82QuantileNorm, Oracle(Oracles.x82)),
    Query("x83_sorted_neighborhood", LlmQueries.x83SortedNeighborhood, Oracle(Oracles.x83)),
    Query("x84_edit_gate", LlmQueries.x84EditGate, Oracle(Oracles.x84)),
    Query("x85_source_drift", LlmQueries.x85SourceDrift, Oracle(Oracles.x85)),
    Query("x86_leakage_audit", LlmQueries.x86LeakageAudit, Oracle(Oracles.x86)),
    Query("x87_bigram_lm", LlmQueries.x87BigramLm, Oracle(Oracles.x87)),
    Query("x88_term_lookup", LlmQueries.x88TermLookup, Oracle(Oracles.x88)),
    Query("x89_dedup_agreement", LlmQueries.x89DedupAgreement, Oracle(Oracles.x89)),
    Query("x90_greedy_pack", ExtendedQueries.x90GreedyPack, Oracle(Oracles.x90)),
    Query("x91_nearest_event", ExtendedQueries.x91NearestEvent, Oracle(Oracles.x91)),
    Query("x92_temporal_lookup", ExtendedQueries.x92TemporalLookup, Oracle(Oracles.x92)),
    Query("x93_rolling_dau", ExtendedQueries.x93RollingDau, Oracle(Oracles.x93)),
    Query("x96_time_weighted", ExtendedQueries.x96TimeWeightedAvg, Oracle(Oracles.x96)),
    Query("x97_mad_outliers", ExtendedQueries.x97MadOutliers, Oracle(Oracles.x97)),
    Query("x94_rag_chunks", LlmQueries.x94RagChunks, Oracle(Oracles.x94)),
    Query("x95_pareto_frontier", LlmQueries.x95ParetoFrontier, Oracle(Oracles.x95)),
    Query("x98_table_checksum", LlmQueries.x98TableChecksum, Oracle(Oracles.x98)),
    Query("x99_markov_transitions", ExtendedQueries.x99MarkovTransitions, Oracle(Oracles.x99)),
    Query("x100_centroid_drift", LlmQueries.x100CentroidDrift, Oracle(Oracles.x100)),
    Query("x101_token_entropy", LlmQueries.x101TokenEntropy, Oracle(Oracles.x101)),
    Query("x102_interval_overlap", ExtendedQueries.x102IntervalOverlap, Oracle(Oracles.x102)),
    Query("x104_split_assign", LlmQueries.x104SplitAssign, Oracle(Oracles.x104)),
    Query("x105_recall_audit", LlmQueries.x105RecallAudit, Oracle(Oracles.x105)),
    Query("x106_multimodal_golden", MultimodalQueries.x106MultimodalGolden, Oracle(Oracles.x106)),
    Query("x107_chunk_dedup_clean", LlmQueries.x107ChunkDedupClean, Oracle(Oracles.x107)),
    Query("x108_token_budget_mix", LlmQueries.x108TokenBudgetMix, Oracle(Oracles.x108)),
    Query("x109_schema_audit", MultimodalQueries.x109SchemaAudit, Oracle(Oracles.x109)),
    Query("x110_walkforward_split", LlmQueries.x110WalkForwardSplit, Oracle(Oracles.x110)),
    Query("x111_rrf_fusion", LlmQueries.x111RrfFusion, Oracle(Oracles.x111)),
    Query("x112_zorder_layout", ExtendedQueries.x112ZorderLayout, Oracle(Oracles.x112)),
    Query("x113_tokenize_ids", LlmQueries.x113TokenizeIds, Oracle(Oracles.x113)),
    // x114 replays the streaming incremental near-dedup over a monotone
    // 3-batch split, whose cumulative output equals batch x13 (the
    // StreamingNearDedup parity contract) — its oracle is x13's minus the
    // mh0 column the incremental path never materializes
    Query("x114_stream_batch_parity", LlmQueries.x114StreamBatchParity, Oracle(Oracles.x114)),
    Query("x115_boilerplate_strip", LlmQueries.x115BoilerplateStrip, Oracle(Oracles.x115)),
    Query("x116_greedy_pack_full", ExtendedQueries.x116GreedyPackFull, Oracle(Oracles.x116)),
    Query("x117_mix_temperature", LlmQueries.x117MixTemperature, Oracle(Oracles.x117)),
    Query("x118_cdc_chunks", LlmQueries.x118CdcChunks, Oracle(Oracles.x118)),
    Query("x119_prep_v4", LlmQueries.x119PrepV4, Oracle(Oracles.x119)),
    Query("x120_session_replay", LlmQueries.x120SessionReplay, Oracle(Oracles.x120)),
    // x121 routes the same aggregate through the XML interchange cycle —
    // the shared original-parquet oracle proves the roundtrip lossless
    // (x40/x58's pattern)
    Query("x121_xml_roundtrip", ExtendedQueries.x121XmlRoundtrip, Oracle(Oracles.x40)),
    Query("x122_topk_per_key", ExtendedQueries.x122TopkPerKey, Oracle(Oracles.x122)),
    Query("x123_bloom_contamination", LlmQueries.x123BloomContamination, Oracle(Oracles.x123)),
    Query("x124_dsir_weights", LlmQueries.x124DsirWeights, Oracle(Oracles.x124)),
    Query("x125_schema_evolution", ExtendedQueries.x125SchemaEvolution, Oracle(Oracles.x125)),
    Query("x126_ks_drift", LlmQueries.x126KsDrift, Oracle(Oracles.x126)),
    Query("x127_quantize_audit", LlmQueries.x127QuantizeAudit, Oracle(Oracles.x127)),
    Query("x128_unpivot", ExtendedQueries.x128Unpivot, Oracle(Oracles.x128)),
    Query("x129_prefix_join", LlmQueries.x129PrefixJoin, Oracle(Oracles.x129)),
    // x130 replays the streaming top-k fold batch-wise — the final state
    // must equal the batch operator's output, so it shares x122's oracle
    // (stream == operator == window semantics in one hash)
    Query("x130_topk_replay", LlmQueries.x130TopkReplay, Oracle(Oracles.x122)),
    Query("x131_dup_spans", LlmQueries.x131DupSpans, Oracle(Oracles.x131)),
    Query("x132_perplexity_gate", LlmQueries.x132PerplexityGate, Oracle(Oracles.x132)),
    Query("x133_reservoir_sample", LlmQueries.x133ReservoirSample, Oracle(Oracles.x133)),
    Query("x134_unicode_norm", LlmQueries.x134UnicodeNorm, Oracle(Oracles.x134)),
    Query("x135_binary_ingest", MultimodalQueries.x135BinaryIngest, Oracle(Oracles.x135)),
    Query("x136_cms_heavyhitters", LlmQueries.x136CmsHeavyHitters, Oracle(Oracles.x136)),
    Query("x137_spacesaving_terms", LlmQueries.x137SpaceSavingTerms, Oracle(Oracles.x137)),
    // x138 replays the streaming DQ gate's per-batch profile core over a
    // 3-batch split and combines — additive counters make the cumulative
    // profile provably equal to the one-shot batch profile, so it shares
    // r2's oracle (stream gate == batch profile in one hash)
    Query("x138_dq_replay", LlmQueries.x138DqReplay, Oracle(Oracles.r2)),
    Query("x139_text_roundtrip", ExtendedQueries.x139TextRoundtrip, Oracle(Oracles.x40)),
    Query("x140_retrieval_eval", LlmQueries.x140RetrievalEval, Oracle(Oracles.x140)),
    Query("x141_interval_merge", ExtendedQueries.x141IntervalMerge, Oracle(Oracles.x141)),
    Query("x142_dpp_prune", ExtendedQueries.x142DppPrune, Oracle(Oracles.x142)),
    Query("x143_ewma", ExtendedQueries.x143Ewma, Oracle(Oracles.x143)),
    Query("x144_regression", ExtendedQueries.x144Regression, Oracle(Oracles.x144)),
    Query("x145_pack_blocks", LlmQueries.x145PackBlocks, Oracle(Oracles.x145)),
    Query("x146_dsv2_read", ExtendedQueries.x146Dsv2Read, Oracle(Oracles.x40)),
    Query("x147_detokenize", LlmQueries.x147Detokenize, Oracle(Oracles.x147)),
    Query("x148_correlation", ExtendedQueries.x148Correlation, Oracle(Oracles.x148)),
    // x149 runs x122's semantics through the window form under the
    // TopKRewrite conf — same retained set, same oracle: one hash pins
    // rule-rewritten plan == custom operator == declarative window
    Query("x149_topk_rewrite", ExtendedQueries.x149TopkRewrite, Oracle(Oracles.x122)),
    Query("x150_hard_negatives", LlmQueries.x150HardNegatives, Oracle(Oracles.x150)),
    Query("x151_dsv2_write", ExtendedQueries.x151Dsv2Write, Oracle(Oracles.x40)),
    Query("x152_char_trigrams", LlmQueries.x152CharTrigrams, Oracle(Oracles.x152)),
    Query("x153_dedup_sql", ExtendedQueries.x153DedupSql, Oracle(Oracles.x153)),
    Query("x154_window_replay", LlmQueries.x154WindowReplay, Oracle(Oracles.x154)),
    Query("x155_curriculum", LlmQueries.x155Curriculum, Oracle(Oracles.x155)),
    Query("x156_epoch_shuffle", LlmQueries.x156EpochShuffle, Oracle(Oracles.x156)),
    Query("x157_rejection_sample", LlmQueries.x157RejectionSample, Oracle(Oracles.x157)),
    Query("x158_fk_audit", ExtendedQueries.x158FkAudit, Oracle(Oracles.x158)),
    Query("x159_padding_audit", LlmQueries.x159PaddingAudit, Oracle(Oracles.x159)),
    Query("x160_interval_join_replay", LlmQueries.x160IntervalJoinReplay, Oracle(Oracles.x160)),
    Query("x161_throttle_dedup", ExtendedQueries.x161ThrottleDedup, Oracle(Oracles.x161)),
    Query("x162_mv_maintain", ExtendedQueries.x162MvMaintain, Oracle(Oracles.x162)),
    // x163 shares x48's oracle VERBATIM (the x8b/x58 pattern): the
    // recompute SQL knows nothing about restarts, so the hash match proves
    // state -> parquet -> cold read -> assignment == the in-memory chain.
    Query("x163_dedup_restart", LlmQueries.x163DedupStateRestart, Oracle(Oracles.x48)),
    Query("x164_corrupt_quarantine", ExtendedQueries.x164CorruptQuarantine, Oracle(Oracles.x164)),
    Query("x165_hopping_window", ExtendedQueries.x165HoppingWindow, Oracle(Oracles.x165)),
    Query("x166_session_window", ExtendedQueries.x166SessionWindowNative, Oracle(Oracles.x166)),
    Query("x167_late_data_audit", ExtendedQueries.x167LateDataAudit, Oracle(Oracles.x167)),
    // x168 shares x40's oracle (the x58 pattern): aggregate the ORIGINAL
    // parquet — the hash match proves the quoted-newline CSV cycle lossless.
    Query("x168_csv_roundtrip", ExtendedQueries.x168CsvRoundtrip, Oracle(Oracles.x40)),
    // x169 shares x47's oracle VERBATIM: the recursive-CTE recompute knows
    // nothing about restarts, so the hash match proves the interrupted →
    // checkpointed → cold-resumed fixpoint reaches the identical answer.
    Query("x169_fixpoint_restart", LlmQueries.x169FixpointRestart, Oracle(Oracles.x47)),
    Query("x170_textrank", LlmQueries.x170TextRank, Oracle(Oracles.x170)),
    Query("x171_bucketed_agg", ExtendedQueries.x171BucketedAgg, Oracle(Oracles.x171)),
    Query("x172_union_by_name", ExtendedQueries.x172UnionByName, Oracle(Oracles.x172)),
    // x173 shares x24's oracle: the dynamically discovered-and-sorted
    // pivot columns must equal the static value list exactly.
    Query("x173_pivot_dynamic", ExtendedQueries.x173PivotDynamic, Oracle(Oracles.x24)),
    Query("x174_skew_audit", ExtendedQueries.x174SkewAudit, Oracle(Oracles.x174)),
    Query("x175_collocations", LlmQueries.x175Collocations, Oracle(Oracles.x175)),
    Query("x176_dataset_card", LlmQueries.x176DatasetCard, Oracle(Oracles.x176)),
    Query("x177_bm25", LlmQueries.x177Bm25, Oracle(Oracles.x177)),
    Query("x178_filter_bank", LlmQueries.x178FilterBank, Oracle(Oracles.x178)),
    Query("x179_lsh_scurve", LlmQueries.x179LshScurve, Oracle(Oracles.x179)),
    Query("x180_range_balance", ExtendedQueries.x180RangeBalance, Oracle(Oracles.x180)),
    Query("x181_ngram_novelty", LlmQueries.x181NgramNovelty, Oracle(Oracles.x181)),
    Query("x182_dynamic_overwrite", ExtendedQueries.x182DynamicOverwrite, Oracle(Oracles.x182)),
    Query("x183_recursive_chunks", LlmQueries.x183RecursiveChunks, Oracle(Oracles.x183)),
    Query("x184_bloom_join", ExtendedQueries.x184BloomJoin, Oracle(Oracles.x184)),
    Query("x185_dsv2_agg_pushdown", ExtendedQueries.x185Dsv2AggPushdown, Oracle(Oracles.x185)),
    Query("x186_join_forecast", ExtendedQueries.x186JoinForecast, Oracle(Oracles.x186)),
    Query("x187_sql_udf", LlmQueries.x187SqlUdf, Oracle(Oracles.x187)),
    Query("x188_sql_tvf", LlmQueries.x188SqlTvf, Oracle(Oracles.x188)),
    Query("x189_state_inspect", ExtendedQueries.x189StateInspect, Oracle(Oracles.x189)),
    Query("x190_takedown_delete", ExtendedQueries.x190TakedownDelete, Oracle(Oracles.x190)),
    Query("x191_budget_gate", ExtendedQueries.x191BudgetGate, Oracle(Oracles.x191)),
    Query("x192_multi_match", LlmQueries.x192MultiMatch, Oracle(Oracles.x192)),
    Query("x193_chi2_independence", ExtendedQueries.x193Chi2, Oracle(Oracles.x193)),
    Query("x194_timer_sessions", ExtendedQueries.x194TimerSessions, Oracle(Oracles.x194)),
    Query("x195_state_profile", ExtendedQueries.x195StateProfile, Oracle(Oracles.x195)),
    Query("x196_observe", ExtendedQueries.x196Observe, Oracle(Oracles.x196)),
    Query("x197_typed_udaf", ExtendedQueries.x197TypedUdaf, Oracle(Oracles.x197)),
    Query("x198_range_window", ExtendedQueries.x198RangeWindow, Oracle(Oracles.x198)),
    Query("x199_prep_v5", LlmQueries.x199PrepV5, Oracle(Oracles.x199)),
    Query("x200_stream_dedup_native", ExtendedQueries.x200StreamDedupNative, Oracle(Oracles.x200)),
    Query("x201_benford", ExtendedQueries.x201Benford, Oracle(Oracles.x201)),
    Query("x202_mann_whitney", ExtendedQueries.x202MannWhitney, Oracle(Oracles.x202)),
    Query("x203_calendar_heatmap", ExtendedQueries.x203CalendarHeatmap, Oracle(Oracles.x203)),
    Query("x204_av_align", MultimodalQueries.x204AvAlign, Oracle(Oracles.x204)),
    Query("x205_spearman", ExtendedQueries.x205Spearman, Oracle(Oracles.x205)),
    Query("x206_kruskal_wallis", ExtendedQueries.x206KruskalWallis, Oracle(Oracles.x206)),
    Query("x207_cusum", ExtendedQueries.x207Cusum, Oracle(Oracles.x207)),
    Query("x208_acf", ExtendedQueries.x208Acf, Oracle(Oracles.x208)),
    Query("x209_lateral_topk", ExtendedQueries.x209LateralTopk, Oracle(Oracles.x209)),
    Query("x210_param_sql", ExtendedQueries.x210ParamSql, Oracle(Oracles.x210)),
    Query("x211_graph_backbone", ExtendedQueries.x211GraphBackbone, Oracle(Oracles.x211)),
    Query("x212_conversation_dedup", LlmQueries.x212ConversationTemplates, Oracle(Oracles.x212)),
    Query("x213_logistic_quality", LlmQueries.x213LogisticQuality, Oracle(Oracles.x213)),
    Query("x214_embedding_profile", LlmQueries.x214EmbeddingProfile, Oracle(Oracles.x214)),
    Query("x215_jsd_sources", LlmQueries.x215JsdSources, Oracle(Oracles.x215)),
    Query("x216_dup_quality_corr", LlmQueries.x216DupQualityCorr, Oracle(Oracles.x216)),
    Query("x217_k_anonymity", ExtendedQueries.x217KAnonymity, Oracle(Oracles.x217)),
    Query("x218_gini", ExtendedQueries.x218Gini, Oracle(Oracles.x218)),
    Query("x219_bigram_entropy_rate", LlmQueries.x219BigramEntropyRate, Oracle(Oracles.x219)),
    Query("x220_window_rank_family", ExtendedQueries.x220WindowRankFamily, Oracle(Oracles.x220)),
    Query("x221_pipe_sql", ExtendedQueries.x221PipeSql, Oracle(Oracles.x221)),
    Query("x222_collation", ExtendedQueries.x222Collation, Oracle(Oracles.x222)),
    Query("x223_sql_variables", ExtendedQueries.x223SqlVariables, Oracle(Oracles.x223)),
    Query("x224_join_hints", ExtendedQueries.x224JoinHints, Oracle(Oracles.x224)),
    Query("x225_state_bootstrap", ExtendedQueries.x225StateBootstrap, Oracle(Oracles.x225)),
    Query("x226_outer_join_replay", LlmQueries.x226OuterJoinReplay, Oracle(Oracles.x226)),
    // x227 shares x220's oracle VERBATIM (the x92/x91 pattern): the
    // two-pass range-partitioned ranking must reproduce the window's
    // ntile/percent_rank/cume_dist boundary for boundary.
    Query("x227_range_rank", ExtendedQueries.x227RangeRank, Oracle(Oracles.x220)),
    Query("x228_dynamic_sessions", ExtendedQueries.x228DynamicSessions, Oracle(Oracles.x228)),
    Query("x229_group_by_all", ExtendedQueries.x229GroupByAll, Oracle(Oracles.x229)),
    Query("x230_analyze_cbo", ExtendedQueries.x230AnalyzeCbo, Oracle(Oracles.x230)),
    Query("x231_cached_reuse", ExtendedQueries.x231CachedReuse, Oracle(Oracles.x231)),
    Query("x232_column_defaults", ExtendedQueries.x232ColumnDefaults, Oracle(Oracles.x232)),
    Query("x233_identifier_clause", ExtendedQueries.x233IdentifierClause, Oracle(Oracles.x233)),
    Query("x234_sql_scripting", ExtendedQueries.x234SqlScripting, Oracle(Oracles.x234)),
    Query("x235_image_pixels", MultimodalQueries.x235ImagePixels, Oracle(Oracles.x235)),
    Query("x236_audio_samples", MultimodalQueries.x236AudioSamples, Oracle(Oracles.x236)),
    Query("x237_norm_histogram", LlmQueries.x237NormHistogram, Oracle(Oracles.x237)),
    Query("x238_component_sizes", LlmQueries.x238ComponentSizes, Oracle(Oracles.x238)),
    Query("x239_zipf_slope", LlmQueries.x239ZipfSlope, Oracle(Oracles.x239)),
    Query("x240_langid_metrics", LlmQueries.x240LangIdMetrics, Oracle(Oracles.x240)),
    Query("x241_kmv_distinct", LlmQueries.x241KmvDistinct, Oracle(Oracles.x241)),
    Query("x242_welch_ttest", ExtendedQueries.x242WelchTtest, Oracle(Oracles.x242)),
    Query("x243_bootstrap_ci", ExtendedQueries.x243BootstrapCi, Oracle(Oracles.x243)),
    Query("x244_psi_drift", ExtendedQueries.x244PsiDrift, Oracle(Oracles.x244)),
    Query("x245_tokenizer_fertility", LlmQueries.x245TokenizerFertility, Oracle(Oracles.x245)),
    Query("x246_dp_release", LlmQueries.x246DpRelease, Oracle(Oracles.x246)),
    Query("x247_seq_trigrams", ExtendedQueries.x247SeqTrigrams, Oracle(Oracles.x247)),
    Query("x248_negative_sampling", LlmQueries.x248NegativeSampling, Oracle(Oracles.x248)),
    Query("x249_chunk_pool", LlmQueries.x249ChunkPool, Oracle(Oracles.x249)),
    Query("x250_kneser_ney", LlmQueries.x250KneserNey, Oracle(Oracles.x250)),
    Query("x251_heaps_law", LlmQueries.x251HeapsLaw, Oracle(Oracles.x251)),
    Query("x252_image_dhash", MultimodalQueries.x252ImageDhash, Oracle(Oracles.x252)),
    Query("x253_wilson_ci", LlmQueries.x253WilsonCi, Oracle(Oracles.x253)),
    Query("x254_hill_tail", ExtendedQueries.x254HillTail, Oracle(Oracles.x254)),
    Query("x255_hash_uniformity", ExtendedQueries.x255HashUniformity, Oracle(Oracles.x255)),
    Query("x256_rep_5gram", LlmQueries.x256Rep5gram, Oracle(Oracles.x256)),
    Query("x257_matryoshka_recall", LlmQueries.x257MatryoshkaRecall, Oracle(Oracles.x257)),
    Query("x258_doremi_step", LlmQueries.x258DoremiStep, Oracle(Oracles.x258)),
    Query("x259_assortativity", ExtendedQueries.x259Assortativity, Oracle(Oracles.x259)),
    Query("x260_bpe_train5", LlmQueries.x260BpeTrain5, Oracle(Oracles.x260)),
    Query("x261_ngram_coverage", LlmQueries.x261NgramCoverage, Oracle(Oracles.x261)),
    Query("x262_compress_ratio", LlmQueries.x262CompressRatio, Oracle(Oracles.x262)),
    Query("x263_exact_quantiles", ExtendedQueries.x263ExactQuantiles, Oracle(Oracles.x263)),
    Query("x264_decay_volume", ExtendedQueries.x264DecayVolume, Oracle(Oracles.x264)),
    Query("x265_mix_ess", Round11Queries.x265MixEss, Oracle(Oracles.x265)),
    Query("x266_cohen_kappa", Round11Queries.x266CohenKappa, Oracle(Oracles.x266)),
    Query("x267_pmi_collocations", Round11Queries.x267PmiCollocations, Oracle(Oracles.x267)),
    Query("x268_burstiness", Round11Queries.x268Burstiness, Oracle(Oracles.x268)),
    Query("x269_dup_leakage", Round11Queries.x269DupLeakage, Oracle(Oracles.x269)),
    Query("x270_stride_windows", Round11Queries.x270StrideWindows, Oracle(Oracles.x270)),
    Query("x271_lsh_fp_audit", Round11Queries.x271LshFpAudit, Oracle(Oracles.x271)),
    Query("x272_shard_balance", Round11Queries.x272ShardBalance, Oracle(Oracles.x272)),
    Query("x273_fd_histogram", Round11Queries.x273FdHistogram, Oracle(Oracles.x273)),
    Query("x274_good_turing", Round11Queries.x274GoodTuring, Oracle(Oracles.x274)),
    Query("x275_dup_by_length", Round11Queries.x275DupByLength, Oracle(Oracles.x275)),
    Query("x276_weighted_jaccard", Round11Queries.x276WeightedJaccard, Oracle(Oracles.x276)),
    Query("x277_triangle_census", Round11Queries.x277TriangleCensus, Oracle(Oracles.x277)),
    Query("x278_ams_f2", Round11Queries.x278AmsF2, Oracle(Oracles.x278)),
    Query("x279_flesch_source", Round11Queries.x279FleschSource, Oracle(Oracles.x279)),
    Query("x280_fellegi_sunter", Round11Queries.x280FellegiSunter, Oracle(Oracles.x280)),
    Query("x281_data_constrained", Round11Queries.x281DataConstrained, Oracle(Oracles.x281)),
    Query("x282_brown_forsythe", Round11Queries.x282BrownForsythe, Oracle(Oracles.x282)),
    Query("x283_systematic_sample", Round11Queries.x283SystematicSample, Oracle(Oracles.x283)),
    Query("x284_theil_index", Round11Queries.x284TheilIndex, Oracle(Oracles.x284)),
    Query("x285_source_xent", Round11Queries.x285SourceXent, Oracle(Oracles.x285)),
    Query("x286_fleiss_kappa", Round11Queries.x286FleissKappa, Oracle(Oracles.x286)),
    Query("x287_dedup_savings", Round11Queries.x287DedupSavings, Oracle(Oracles.x287)),
    Query("x288_temp_sweep", Round11Queries.x288TempSweep, Oracle(Oracles.x288)),
    Query("x289_jl_distortion", Round11Queries.x289JlDistortion, Oracle(Oracles.x289)),
    Query("x290_es_sample", Round11Queries.x290EsSample, Oracle(Oracles.x290)),
    Query("x291_kendall_tau", Round11Queries.x291KendallTau, Oracle(Oracles.x291)),
    Query("x292_calibration_ece", Round11Queries.x292CalibrationEce, Oracle(Oracles.x292)),
    Query("x293_kcenter", Round11Queries.x293KCenter, Oracle(Oracles.x293)),
    Query("x294_winnowing", Round11Queries.x294Winnowing, Oracle(Oracles.x294)),
    Query("x295_hll16", Round11Queries.x295Hll16, Oracle(Oracles.x295)),
    Query("x296_l_diversity", Round11Queries.x296LDiversity, Oracle(Oracles.x296)),
    Query("x297_wasserstein", Round11Queries.x297Wasserstein, Oracle(Oracles.x297)),
    Query("x298_cluster_purity", Round11Queries.x298ClusterPurity, Oracle(Oracles.x298)),
    Query("x299_inter_arrival", Round11Queries.x299InterArrival, Oracle(Oracles.x299)),
    Query("x300_hash_ring", Round11Queries.x300HashRing, Oracle(Oracles.x300)),
    Query("x301_zipf_mandelbrot", Round11Queries.x301ZipfMandelbrot, Oracle(Oracles.x301)),
    Query("x302_markov_stationary", Round11Queries.x302MarkovStationary, Oracle(Oracles.x302)),
    Query("x303_oov_rate", Round11Queries.x303OovRate, Oracle(Oracles.x303)),
    Query("x304_stopword_chi2", Round11Queries.x304StopwordChi2, Oracle(Oracles.x304)),
    Query("x305_char_coverage", Round11Queries.x305CharCoverage, Oracle(Oracles.x305)),
    Query("x306_lexical_richness", Round12Queries.x306LexicalRichness, Oracle(Oracles.x306)),
    Query("x307_simpson", Round12Queries.x307SimpsonConcentration, Oracle(Oracles.x307)),
    Query("x308_mcnemar", Round12Queries.x308Mcnemar, Oracle(Oracles.x308)),
    Query("x309_cramers_v", Round12Queries.x309CramersV, Oracle(Oracles.x309)),
    Query("x310_mutual_information", Round12Queries.x310MutualInformation, Oracle(Oracles.x310)),
    Query("x311_vocab_lorenz", Round12Queries.x311VocabLorenz, Oracle(Oracles.x311)),
    Query("x312_runs_test", Round12Queries.x312RunsTest, Oracle(Oracles.x312)),
    Query("x313_ljung_box", Round12Queries.x313LjungBox, Oracle(Oracles.x313)),
    Query("x314_cochran_q", Round12Queries.x314CochranQ, Oracle(Oracles.x314)),
    Query("x315_hist_distances", Round12Queries.x315HistDistances, Oracle(Oracles.x315)),
    Query("x316_cliffs_delta", Round12Queries.x316CliffsDelta, Oracle(Oracles.x316)),
    Query("x317_priority_sample", Round12Queries.x317PrioritySample, Oracle(Oracles.x317)),
    Query("x318_chao1", Round12Queries.x318Chao1, Oracle(Oracles.x318)),
    Query("x319_pair_completeness", Round12Queries.x319PairCompleteness, Oracle(Oracles.x319)),
    Query("x320_distinct_n", Round12Queries.x320DistinctN, Oracle(Oracles.x320)),
    Query("x321_gopher_rules", Round12Queries.x321GopherRules, Oracle(Oracles.x321)),
    Query("x322_bbit_minhash", Round12Queries.x322BbitMinhash, Oracle(Oracles.x322)),
    Query("x323_mann_kendall", Round12Queries.x323MannKendall, Oracle(Oracles.x323)),
    Query("x324_durbin_watson", Round12Queries.x324DurbinWatson, Oracle(Oracles.x324)),
    Query("x325_neyman_allocation", Round12Queries.x325NeymanAllocation, Oracle(Oracles.x325)),
    Query("x326_silhouette", Round12Queries.x326Silhouette, Oracle(Oracles.x326)),
    Query("x327_krippendorff_alpha", Round12Queries.x327KrippendorffAlpha, Oracle(Oracles.x327)),
    Query("x328_gumbel_topk", Round12Queries.x328GumbelTopk, Oracle(Oracles.x328)),
    Query("x329_winsorized_mean", Round12Queries.x329WinsorizedMean, Oracle(Oracles.x329)),
    Query("x330_poisson_dispersion", Round12Queries.x330PoissonDispersion, Oracle(Oracles.x330)),
    Query("x331_dow_seasonality", Round12Queries.x331DowSeasonality, Oracle(Oracles.x331)),
    Query("x332_jaccard_sweep", Round12Queries.x332JaccardSweep, Oracle(Oracles.x332)),
    Query("x333_minhash_k_sweep", Round12Queries.x333MinhashKSweep, Oracle(Oracles.x333)),
    Query("x334_hhi_concentration", Round12Queries.x334HhiConcentration, Oracle(Oracles.x334)),
    Query("x335_bloom_fpr", Round12Queries.x335BloomFpr, Oracle(Oracles.x335)),
    Query("x336_embedding_clip", Round12Queries.x336EmbeddingClipBounds, Oracle(Oracles.x336)),
    Query("x337_gini_stump", Round12Queries.x337GiniStump, Oracle(Oracles.x337)),
    Query("x338_srm_check", Round12Queries.x338SrmCheck, Oracle(Oracles.x338)),
    Query("x339_novelty_decay", Round12Queries.x339NoveltyDecay, Oracle(Oracles.x339)),
    Query("x340_edit_histogram", Round12Queries.x340EditHistogram, Oracle(Oracles.x340)),
    Query("x341_bigram_kl", Round12Queries.x341BigramKl, Oracle(Oracles.x341)),
    Query("x342_auc_rank", Round12Queries.x342AucRank, Oracle(Oracles.x342)),
    Query("x343_successor_entropy", Round12Queries.x343SuccessorEntropy, Oracle(Oracles.x343)),
    Query("x344_rank_biserial", Round12Queries.x344RankBiserial, Oracle(Oracles.x344)),
    Query("x345_char_entropy", Round12Queries.x345CharEntropy, Oracle(Oracles.x345)),
    Query("x346_front_coding", Round12Queries.x346FrontCoding, Oracle(Oracles.x346)),
    Query("x347_burrows_delta", Round12Queries.x347BurrowsDelta, Oracle(Oracles.x347)),
    Query("x348_exact_substr_coverage", Round13Queries.x348ExactSubstrCoverage, Oracle(Oracles.x348)),
    Query("x349_bradley_terry", Round13Queries.x349BradleyTerry, Oracle(Oracles.x349)),
    Query("x350_krippendorff_alpha", Round13Queries.x350KrippendorffAlpha, Oracle(Oracles.x350)),
    Query("x351_int8_quant", Round13Queries.x351Int8Quant, Oracle(Oracles.x351)),
    Query("x352_hopkins", Round13Queries.x352Hopkins, Oracle(Oracles.x352)),
    Query("x353_hrw_sharding", Round13Queries.x353HrwSharding, Oracle(Oracles.x353)),
    Query("x354_lof", Round13Queries.x354Lof, Oracle(Oracles.x354)),
    Query("x355_conformal_coverage", Round13Queries.x355ConformalCoverage, Oracle(Oracles.x355)),
    Query("x356_epoch_shuffle", Round14Queries.x356EpochShuffle, Oracle(Oracles.x356)),
    Query("x357_pack_contamination", Round14Queries.x357PackContamination, Oracle(Oracles.x357)),
    Query("x358_code_switch", Round14Queries.x358CodeSwitch, Oracle(Oracles.x358)),
    Query("x359_pack_frontier", Round15Queries.x359PackFrontier, Oracle(Oracles.x359)),
    Query("x360_decontamination", Round15Queries.x360Decontamination, Oracle(Oracles.x360)),
    Query("x361_fragment_stitch", Round15Queries.x361FragmentStitch, Oracle(Oracles.x361)),
    Query("x362_repetition_loop", Round15Queries.x362RepetitionLoop, Oracle(Oracles.x362)),
    Query("x363_anisotropy", Round15Queries.x363Anisotropy, Oracle(Oracles.x363)),
    Query("x364_length_gini", Round15Queries.x364LengthGini, Oracle(Oracles.x364))))

  /** Name → builder for every declared query. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  /** For each oracle-checked query, equivalent ANSI SQL runnable by DuckDB
    * on the same parquet tables; rows-only queries have none. */
  val oracleSql: Map[String, String] =
    registry.collect { case Query(name, _, Oracle(sql)) => name -> sql }.toMap
}
