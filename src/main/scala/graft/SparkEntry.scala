package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.deltalog.DeltaFixtureWriter
import graft.operators.HealthAnalyzer
import graft.queries.{Oracles, PipelineQueries, Queries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: build a (deterministic) mutated Delta-log table from sf0.001
    * lineitem, replay its log, and return the full one-row health-metrics
    * record — the reference's E1 entry point end-to-end on Spark. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft_entry").toString
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"))
    DeltaFixtureWriter.write(li, path, "overwrite",
      Seq("l_returnflag", "l_linestatus"))
    DeltaFixtureWriter.write(li.orderBy(col("l_orderkey")).limit(100), path,
      "append", Seq("l_returnflag", "l_linestatus"))
    DeltaFixtureWriter.delete(spark, path, "l_quantity > 45")
    DeltaFixtureWriter.compact(spark, path)
    val m = HealthAnalyzer.analyzeTable(spark, path)
    DeltaFixtureWriter.drop(path)   // metrics are collected; don't leak /tmp
    Seq(m).toDS().toDF()
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (Queries.q1Agg _),
    "partition_counts" -> (Queries.partitionCounts _),
    "records_per_partition" -> (Queries.recordsPerPartition _),
    "skewness_metrics" -> (Queries.skewnessMetrics _),
    "op_counts" -> (Queries.opCounts _),
    "health_score_sql" -> (Queries.healthScoreSql _),
    "topn_others" -> (Queries.topnOthers _),
    "size_histogram" -> (Queries.sizeHistogram _),
    "anti_join_orphans" -> (Queries.antiJoinOrphans _),
    "distribution_stats" -> (Queries.distributionStats _),
    "join_revenue_by_nation" -> (Queries.joinRevenueByNation _),
    "window_top_orders" -> (Queries.windowTopOrders _),
    "events_hourly" -> (Queries.eventsHourly _),
    "user_sessions" -> (Queries.userSessions _),
    // r17: the skew-invariant chunked sessionization under the hash gate —
    // semantically identical to user_sessions (spec-pinned), so the same
    // oracle SQL applies verbatim
    "user_sessions_chunked" -> ((s: SparkSession, d: String) =>
      Queries.userSessionsChunked(s, d)),
    "price_percentiles" -> (Queries.pricePercentiles _),
    "rollup_agg" -> (Queries.rollupAgg _),
    "events_json" -> (Queries.eventsJson _),
    "asof_join" -> (Queries.asofJoin _),
    "left_join_agg" -> (Queries.leftJoinAgg _),
    "distinct_counts" -> (Queries.distinctCounts _),
    // full probe (nprobe = nlist): the entire IVF machinery executes —
    // quantizer fit, cell assignment, per-query cell ranking, probe join —
    // and the result is provably identical to exact brute force, which
    // makes it DuckDB-value-checkable (selective nprobe < nlist recall is
    // covered in MaintenanceSpec instead). Both knn entries query a
    // per-sf-dir MEMOIZED trained index (train once, query many — the
    // FAISS shape), so bench rounds after the first measure search, not
    // KMeans refits.
    "knn_ivf" -> (PipelineQueries.knnIvf _),
    // same full-probe trick, PQ flavor: codebook fit, sub-vector encoding,
    // and ADC candidate ranking all execute, and with nprobe = nlist +
    // unbounded re-rank the output provably equals exact brute force
    // (selective probe/re-rank recall is covered in MaintenanceSpec)
    "knn_ivfpq" -> (PipelineQueries.knnIvfPq _),
    // training-data pipeline extensions
    "token_stats" -> (PipelineQueries.tokenStats _),
    "quality_scores" -> (PipelineQueries.qualityScores _),
    // round 10: Gopher rule filter (Rae et al. '21 A1.1) — per-rule
    // signals + verdicts, all ratios rounded before their thresholds
    "gopher_rules" -> (PipelineQueries.gopherRulesQ _),
    // round 10: markup stripping (web-corpus text extraction) over a
    // constructed HTML shell — RE2-safe patterns, entity decode
    "strip_markup" -> (PipelineQueries.stripMarkupQ _),
    // round 10: per-language dataset card (volumes, dup rate, quality
    // mean via exact integer sums, discrete median length)
    "corpus_card" -> (PipelineQueries.corpusCardQ _),
    // round 10: Okapi BM25 ranked retrieval (lexical half of hybrid
    // search) — integer-quantized contributions, BoundedTopK ranking
    "bm25_search" -> (PipelineQueries.bm25SearchQ _),
    // round 10: BM25 + vector rankings fused by reciprocal rank (RRF)
    "hybrid_search" -> (PipelineQueries.hybridSearchQ _),
    // round 10: BPE vocabulary induction (Sennrich '16) — greedy
    // most-frequent-pair merges, fully unrolled in the oracle
    "bpe_merges" -> (PipelineQueries.bpeMergesQ _),
    // round 10: BPE train-then-encode — per-doc token counts under the
    // induced merges (encode runs once per distinct word, not occurrence)
    "bpe_encode" -> (PipelineQueries.bpeEncodeQ _),
    "lm_score" -> (PipelineQueries.lmScore _),
    "lm_heldout" -> (PipelineQueries.lmHeldout _),
    "lm_backoff" -> (PipelineQueries.lmBackoff _),
    "lr_classify" -> (PipelineQueries.lrClassify _),
    // round 14: reliability bins over the lr_classify model — the ECE
    // ingredients as exact BIGINT sums (calibration audit before a
    // quality model gates a corpus)
    "lr_calibration" -> (PipelineQueries.lrCalibrationQ _),
    // round 14: per-source quality-percentile floor (drop each source's
    // worst quartile) — the per-domain filter a global threshold can't
    // express; cutoff via the KLL discrete quantile, broadcast back
    "quality_floor" -> (PipelineQueries.qualityFloorQ _),
    // round 11: hashed-feature (fastText-style) sparse LR — the model is
    // a (bucket, weight) DataFrame, nothing passes through the driver
    "lr_hashed" -> (PipelineQueries.lrHashed _),
    // round 11: PageRank over the source-transition multigraph — the
    // host-centrality signal of web-corpus curation as iterative
    // relational algebra (quantized integer mass sums, per-round
    // localCheckpoint)
    "pagerank" -> (PipelineQueries.pageRankQ _),
    // round 11: JL random projection (Achlioptas ±1) — the pre-ANN /
    // pre-clustering dimensionality cut, a shuffle-free row-local map
    "rp_project" -> (PipelineQueries.rpProject _),
    // round 11: per-dimension z-scoring — the normalization stage before
    // clustering/indexing; one corpus pass + a d-row broadcast join back
    "embed_standardize" -> (PipelineQueries.embedStandardize _),
    // round 11: cluster-diversified sampling — per-cell md5-priority caps
    // so the kept set spans semantic space instead of the head clusters
    "diverse_sample" -> (PipelineQueries.diverseSampleQ _),
    // round 11: A-ES weighted sampling — draw ∝ weight, deterministic md5
    // uniform, TakeOrderedAndProject selection (no global sort/window)
    "weighted_sample" -> (PipelineQueries.weightedSampleQ _),
    // round 11: Count-Min frequency sketch — a fixed depth×width count
    // grid regardless of vocabulary (the shuffle-capping summary), point
    // estimates value-checked beside exact counts
    "cm_freq" -> (PipelineQueries.cmFreqQ _),
    // round 11: quality-ranked token-budget fill — best docs first until
    // the budget, two-phase relational cumsum (no global data window)
    "quality_budget" -> (PipelineQueries.qualityBudgetQ _),
    // round 11: C4 line-level cleaning (Raffel '20) — per-line terminal-
    // punct/word-count/javascript rules + lorem/brace/min-kept page rules
    "c4_rules" -> (PipelineQueries.c4RulesQ _),
    // round 11: DoReMi-lite domain reweighting — held-out-loss softmax
    // mixture weights (the fixed-reference closed form of the EG loop)
    "domain_weights" -> (PipelineQueries.domainWeightsQ _),
    // round 11: the NEW stages composed end-to-end — C4 clean → exact
    // dedup → quality-budget fill → training order, one replayed chain
    "corpus_pipeline_v2" -> (PipelineQueries.corpusPipelineV2Q _),
    "train_shuffle" -> (PipelineQueries.trainShuffle _),
    "gram_novelty" -> (PipelineQueries.gramNovelty _),
    "token_fertility" -> (PipelineQueries.tokenFertilityQ _),
    "zipf_fit" -> (PipelineQueries.zipfFitQ _),
    "ppl_buckets" -> (PipelineQueries.pplBucketsQ _),
    "span_similarity" -> (PipelineQueries.spanSimilarity _),
    "cdc_chunks" -> (PipelineQueries.cdcChunksQ _),
    "chunk_dedup" -> (PipelineQueries.chunkDedup _),
    "lang_id" -> (PipelineQueries.langId _),
    "fingerprint_md5" -> (PipelineQueries.fingerprintMd5 _),
    "dedup_exact" -> (PipelineQueries.dedupExact _),
    "jaccard_planted" -> (PipelineQueries.jaccardPlanted _),
    "embedding_norms" -> (PipelineQueries.embeddingNorms _),
    "dedup_minhash" -> (PipelineQueries.dedupMinhash _),
    "dedup_simhash" -> (PipelineQueries.dedupSimhash _),
    "dedup_ngram" -> (PipelineQueries.dedupNgram _),
    // r17: the cluster-form near-dup interface as a CONTRACT row — labels
    // over the exact J>=0.6 graph on the bounded planted slice (the auto
    // facade routes exact at this measured size), value-oracled against a
    // DuckDB brute-force + recursive min-label closure. The anchored
    // full-corpus path stays benched as dedup_ngram_clusters_scale.
    "dedup_ngram_clusters" -> (PipelineQueries.dedupNgramClusters _),
    "dedup_embedding" -> (PipelineQueries.dedupEmbedding _),
    "dedup_keeplist" -> (PipelineQueries.dedupKeeplist _),
    "knn_bruteforce" -> (PipelineQueries.knnBruteforce _),
    "knn_filtered" -> (PipelineQueries.knnFiltered _),
    "kmeans_assign" -> (PipelineQueries.kmeansAssign _),
    "embedding_outliers" -> (PipelineQueries.embeddingOutliers _),
    "semantic_dedup" -> (PipelineQueries.semanticDedup _),
    "knn_lsh" -> (PipelineQueries.knnLsh _),
    "hash_split" -> (PipelineQueries.hashSplit _),
    "decontamination" -> (PipelineQueries.decontamination _),
    "decontamination_bloom" -> (PipelineQueries.decontaminationBloom _),
    "decontamination_auto" -> (PipelineQueries.decontaminationAuto _),
    "vocab_topk" -> (PipelineQueries.vocabTopK _),
    "ngram_exact" -> (PipelineQueries.ngramExact _),
    "repetition_stats" -> (PipelineQueries.repetitionStats _),
    "pii_redaction" -> (PipelineQueries.piiRedaction _),
    "embedding_quant" -> (PipelineQueries.embeddingQuant _),
    "source_quota" -> (PipelineQueries.sourceQuota _),
    "stratified_sample" -> (PipelineQueries.stratifiedSample _),
    "chunk_plan" -> (PipelineQueries.chunkPlan _),
    "char_entropy" -> (PipelineQueries.charEntropy _),
    "tfidf_topterms" -> (PipelineQueries.tfidfTopTerms _),
    "line_dedup" -> (PipelineQueries.lineDedup _),
    "temperature_mix" -> (PipelineQueries.temperatureMix _),
    "token_budget_sample" -> (PipelineQueries.tokenBudgetSample _),
    "pack_plan" -> (PipelineQueries.packPlan _),
    // round 11: per-pack fill/waste audit of the packing plan
    "pack_stats" -> (PipelineQueries.packStatsQ _),
    "distinct_sketch" -> (PipelineQueries.distinctSketch _),
    "range_join_events" -> (PipelineQueries.rangeJoinEvents _),
    "interval_overlap_events" -> (PipelineQueries.intervalOverlapEvents _),
    "quantile_sketch" -> (PipelineQueries.quantileSketch _),
    "heavy_hitters" -> (PipelineQueries.heavyHitters _),
    "repeated_spans" -> (PipelineQueries.repeatedSpansQ _),
    "unicode_normalize" -> (PipelineQueries.unicodeNormalize _),
    "boilerplate_spans" -> (PipelineQueries.boilerplateSpansQ _),
    // round 10: the two r9 bench-only twins graduated to the oracle
    // contract — strip_boilerplate's folded text and the five-stage
    // corpus_pipeline composition are now value-checked, closing the last
    // surface the driver's hash check didn't cover
    "strip_boilerplate" -> (PipelineQueries.stripBoilerplateQ _),
    "corpus_pipeline" -> (PipelineQueries.corpusPipelineQ _),
    // round 10: exact substring dedup (Lee et al. ACL '22 ExactSubstr as
    // keep-one-copy span removal) — spans with per-fingerprint keeper
    // retention, and the deduplicated text end-to-end
    "duplicate_spans" -> (PipelineQueries.duplicateSpansQ _),
    "dedup_substring" -> (PipelineQueries.dedupSubstringQ _),
    // round 10: the full training-data recipe end-to-end — the cleaning
    // chain plus decontaminate → token-budget sample → sequence packing,
    // the composition a real corpus build runs, replayed as one oracle
    "corpus_pipeline_full" -> (PipelineQueries.corpusPipelineFullQ _),
    // round 10: model-based document classification (the GPT-3/CCNet
    // quality-routing stage) — relational multinomial Naive Bayes trained
    // on the hash-split train partition, argmax prediction for val docs
    "nb_classify" -> (PipelineQueries.nbClassify _),
    // round 10: DSIR-style importance weighting (Xie et al. '23 data
    // selection) — target/source likelihood-ratio weights + top-quantile
    // selection, both unigram models retrained by the oracle in SQL
    "dsir_select" -> (PipelineQueries.dsirSelect _),
    // round 10: UniMax water-filling language mixing (budget split as
    // evenly as epoch caps allow; bit-replayable integer/IEEE arithmetic)
    "unimax_sample" -> (PipelineQueries.unimaxSampleQ _),
    // round 12: the multimodal banded-Hamming pair finder value-oracled
    // over synthetic 60-bit hashes (brute-force-equivalence trick — the
    // decode step stays suite-covered)
    "media_hash_pairs" -> (PipelineQueries.mediaHashPairsQ _),
    // round 12: the ANN-shaped hybrid plan at full probing — IVF leg
    // provably ≡ brute force, so the hybrid_search oracle applies verbatim
    "hybrid_search_ann_full" -> (PipelineQueries.hybridSearchAnnFullQ _),
    // round 12: exact k-NN graph over the bounded vec_id < 500 slice —
    // ground truth for the NN-descent graph twin (knn_graph_nnd, bench)
    "knn_graph" -> (PipelineQueries.knnGraphQ _),
    // round 12: UniMax allocation materialized into (doc, epoch)
    // repetition rows — the manifest a repetition-tolerant trainer eats
    "epoch_manifest" -> (PipelineQueries.epochManifestQ _),
    // round 12: duplicate-cluster-keyed split — exact copies can never
    // straddle the train/eval boundary (planted pairs value-check it)
    "leak_safe_split" -> (PipelineQueries.leakSafeSplitQ _),
    // round 12: re-crawl corpus diff — per-id added/removed/modified/
    // unchanged by normalized-content fingerprint, one full-outer join
    "corpus_diff" -> (PipelineQueries.corpusDiffQ _),
    "corpus_drift" -> (PipelineQueries.corpusDriftQ _),
    "keep_best" -> (PipelineQueries.keepBestQ _),
    "source_overlap_kmv" -> (PipelineQueries.sourceOverlapSketchQ _),
    "drift_monitor" -> (PipelineQueries.driftMonitorQ _),
    // round 14: the large-reference monitor route (stream-static join +
    // absent-form algebra) against the same restricted oracle
    "drift_monitor_joined" -> (PipelineQueries.driftMonitorJoinedQ _),
    "snapshot_novelty" -> (PipelineQueries.snapshotNoveltyQ _),
    "incremental_dedup" -> (PipelineQueries.incrementalDedupQ _),
    // round 12: pairwise source token-set Jaccard — the cross-source
    // redundancy matrix a mixing recipe is tuned against
    "source_overlap" -> (PipelineQueries.sourceOverlapQ _))

  /** BENCH-ONLY queries: timed by [[graft.Bench]] alongside [[queries]]
    * but NOT part of the Verify/oracle contract (no parquet dump, no
    * oracle row). Used where the oracle must run an engine-portable
    * variant while the headline bench should reflect the production
    * kernel path. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // `dedup_simhash` (the oracle entry) runs the portable 60-bit md5
    // variant because that is what a DuckDB brute force can reproduce;
    // this twin runs the PRODUCTION fused-codegen path (xxhash token
    // hashes + SimHash64 bit-majority kernel, same blocking/threshold
    // body, kernel==HOF parity-tested) so the bench records what a real
    // pipeline pays for simhash dedup
    "dedup_simhash_kernel" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup.simhashPairs(
        PipelineQueries.docsWithPlants(s, d), "doc_id", "text", maxBits = 3)),
    // the probabilistic LSH-banded trigram path: kept benched after the
    // contract entry graduated to the exact prefix-filtered join, so the
    // approximate alternative's cost stays measured (its 14/19 planted
    // recall is pinned in PipelineSpec)
    "dedup_ngram_lsh" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup.ngramJaccardPairs(
        PipelineQueries.docsWithPlants(s, d), "doc_id", "text",
        n = 3, threshold = 0.6)),
    // round 16 (renamed _scale in r17 when the bounded-slice contract row
    // took the bare name — sf1 6.77 s / sf10 653.7 s history carries over):
    // the cluster-form near-dup at FULL corpus — component labels instead
    // of a pair list. The r15 sf10 leg proved the pair interface is
    // output-quadratic at high copy multiplicity (>=24.75M true pairs,
    // BASELINE.md r15); labels are O(n) at any multiplicity and are what
    // keepList consumes anyway. Anchor-pruned candidates; components ==
    // full pair-path components on the planted corpus (PipelineSpec pin)
    "dedup_ngram_clusters_scale" -> ((s: SparkSession, d: String) =>
      graft.operators.Dedup.ngramJaccardClusters(
        PipelineQueries.docsWithPlants(s, d), "doc_id", "text",
        n = 3, threshold = 0.6)),
    // round 11: ANN-backed hybrid retrieval — the hybrid_search
    // composition with the vector leg on the memoized IVF index at
    // SELECTIVE nprobe (4/16) instead of brute force: the 100-TB shape.
    // Approximate by design, so bench-only; fused-top-10 recall vs the
    // brute twin is spec-pinned in PipelineSpec
    "hybrid_search_ann" -> (PipelineQueries.hybridSearchAnnQ _),
    // round 11: brute-force ANN on the 16-dim JL PROJECTION of the
    // 64-dim embeddings — measures the d/k distance-kernel win the
    // rp_project reduction buys; approximate by design (neighbor recall
    // vs the 64-dim truth is pinned in RandomProjectSpec), so bench-only
    "knn_rp" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.{col, expr}
      val proj = graft.operators.Similarity.randomProject(
          graft.queries.Queries.t(s, d, "embeddings"),
          "embedding", "proj", inDim = 64, outDim = 16)
        .select(col("vec_id"),
          expr("transform(proj, x -> cast(x as float))").as("pvec"))
      graft.operators.Similarity.bruteForceTopK(
          proj.where(col("vec_id") < 10), proj, "vec_id", "pvec", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),
    // round 12: NN-descent approximate k-NN graph over the FULL corpus —
    // the graph-construction shape that never broadcasts the node set
    // (LSH-seeded local-join rounds). Approximate by design; recall vs
    // the exact knn_graph slice is spec-pinned in RandomProjectSpec
    "knn_graph_nnd" -> (PipelineQueries.knnGraphNndQ _),
    // round 14: the same graph at the MEASURED production sample rate
    // (ρ=0.7 — 19% cheaper at identical sampled recall, BASELINE.md r14
    // sweep): the knob a large-corpus deployment runs; recall at
    // ρ=0.7 is spec-gated at corpus scale in RandomProjectSpec
    "knn_graph_nnd_rho" -> (PipelineQueries.knnGraphNndRhoQ _),
    // round 15: the same graph with the MEASURED scale-aware seed bucket
    // count (the 8-plane seed's per-query candidate volume grows linearly
    // with n; 12 planes at 20k+ nodes cut the seed 5x and four rounds
    // recover recall 0.992 vs 0.991 — BASELINE.md r15 planes sweep):
    // identical to knn_graph_nnd at gate scale, ~30% cheaper at 20k+
    "knn_graph_nnd_auto" -> (PipelineQueries.knnGraphNndAutoQ _),
    // round 14: SemDeDup at the measured-k facade (k sized to the corpus
    // so cells stay ~cellTarget) — the deployment shape whose cost stays
    // linear while the oracle-pinned fixed-k entry goes quadratic with
    // corpus growth; facade ≡ explicit-k is spec-pinned in ClusteringSpec
    "semantic_dedup_auto" -> (PipelineQueries.semanticDedupAutoQ _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> Oracles.q1Agg,
    "partition_counts" -> Oracles.partitionCounts,
    "records_per_partition" -> Oracles.recordsPerPartition,
    "skewness_metrics" -> Oracles.skewnessMetrics,
    "op_counts" -> Oracles.opCounts,
    "health_score_sql" -> Oracles.healthScoreSql,
    "topn_others" -> Oracles.topnOthers,
    "size_histogram" -> Oracles.sizeHistogram,
    "anti_join_orphans" -> Oracles.antiJoinOrphans,
    "distribution_stats" -> Oracles.distributionStats,
    "join_revenue_by_nation" -> Oracles.joinRevenueByNation,
    "window_top_orders" -> Oracles.windowTopOrders,
    "events_hourly" -> Oracles.eventsHourly,
    "user_sessions" -> Oracles.userSessions,
    // r17: the chunked form is semantically identical (spec-pinned), so
    // the sessionization oracle applies verbatim
    "user_sessions_chunked" -> Oracles.userSessions,
    "price_percentiles" -> Oracles.pricePercentiles,
    "rollup_agg" -> Oracles.rollupAgg,
    "events_json" -> Oracles.eventsJson,
    "asof_join" -> Oracles.asofJoin,
    "left_join_agg" -> Oracles.leftJoinAgg,
    "distinct_counts" -> Oracles.distinctCounts,
    "knn_bruteforce" -> Oracles.knnBruteforce,
    "knn_filtered" -> Oracles.knnFiltered,
    "kmeans_assign" -> Oracles.kmeansAssign,
    "embedding_outliers" -> Oracles.embeddingOutliers,
    "semantic_dedup" -> Oracles.semanticDedup,
    "token_stats" -> Oracles.tokenStats,
    "quality_scores" -> Oracles.qualityScores,
    "gopher_rules" -> Oracles.gopherRules,
    "strip_markup" -> Oracles.stripMarkup,
    "corpus_card" -> Oracles.corpusCard,
    "bm25_search" -> Oracles.bm25Search,
    "hybrid_search" -> Oracles.hybridSearch,
    "bpe_merges" -> Oracles.bpeMerges,
    "bpe_encode" -> Oracles.bpeEncode,
    "lm_score" -> Oracles.lmScore,
    "lm_heldout" -> Oracles.lmHeldout,
    "lm_backoff" -> Oracles.lmBackoff,
    "lr_classify" -> Oracles.lrClassify,
    "lr_calibration" -> Oracles.lrCalibration,
    "quality_floor" -> Oracles.qualityFloor,
    "lr_hashed" -> Oracles.lrHashed,
    "pagerank" -> Oracles.pageRank,
    "rp_project" -> Oracles.rpProject,
    "embed_standardize" -> Oracles.embedStandardize,
    "diverse_sample" -> Oracles.diverseSample,
    "weighted_sample" -> Oracles.weightedSample,
    "cm_freq" -> Oracles.cmFreq,
    "quality_budget" -> Oracles.qualityBudget,
    "c4_rules" -> Oracles.c4Rules,
    "domain_weights" -> Oracles.domainWeights,
    "corpus_pipeline_v2" -> Oracles.corpusPipelineV2,
    "train_shuffle" -> Oracles.trainShuffle,
    "gram_novelty" -> Oracles.gramNovelty,
    "token_fertility" -> Oracles.tokenFertility,
    "zipf_fit" -> Oracles.zipfFit,
    "ppl_buckets" -> Oracles.pplBuckets,
    "span_similarity" -> Oracles.spanSimilarity,
    "cdc_chunks" -> Oracles.cdcChunks,
    "chunk_dedup" -> Oracles.chunkDedup,
    "lang_id" -> Oracles.langId,
    "fingerprint_md5" -> Oracles.fingerprintMd5,
    "dedup_exact" -> Oracles.dedupExact,
    "jaccard_planted" -> Oracles.jaccardPlanted,
    "embedding_norms" -> Oracles.embeddingNorms,
    "dedup_minhash" -> Oracles.dedupMinhash,
    "dedup_simhash" -> Oracles.dedupSimhash,
    "dedup_keeplist" -> Oracles.dedupKeeplist,
    "dedup_embedding" -> Oracles.dedupEmbedding,
    "knn_lsh" -> Oracles.knnLsh,
    "hash_split" -> Oracles.hashSplit,
    "decontamination" -> Oracles.decontamination,
    // the bloom prefilter is provably lossless, so the exact-join oracle
    // applies unchanged — the value check proves the prefilter dropped
    // nothing (same pattern as knn_ivf's full-probe ≡ brute-force)
    "decontamination_bloom" -> Oracles.decontamination,
    // the size-adaptive facade picks a branch, both branches are provably
    // identical — the shared oracle proves the auto-selection is lossless
    "decontamination_auto" -> Oracles.decontamination,
    "vocab_topk" -> Oracles.vocabTopK,
    "knn_ivf" -> Oracles.knnBruteforce,  // full probe ≡ exact brute force
    "knn_ivfpq" -> Oracles.knnBruteforce,  // full probe + full re-rank ≡ exact
    "ngram_exact" -> Oracles.ngramExact,
    "repetition_stats" -> Oracles.repetitionStats,
    "pii_redaction" -> Oracles.piiRedaction,
    "embedding_quant" -> Oracles.embeddingQuant,
    "source_quota" -> Oracles.sourceQuota,
    "stratified_sample" -> Oracles.stratifiedSample,
    "chunk_plan" -> Oracles.chunkPlan,
    "char_entropy" -> Oracles.charEntropy,
    "tfidf_topterms" -> Oracles.tfidfTopTerms,
    "line_dedup" -> Oracles.lineDedup,
    "temperature_mix" -> Oracles.temperatureMix,
    "token_budget_sample" -> Oracles.tokenBudgetSample,
    "pack_plan" -> Oracles.packPlan,
    "pack_stats" -> Oracles.packStats,
    // exact-regime sketch (k >= distinct) ≡ COUNT(DISTINCT) — same
    // value-oracle trick as knn_ivf's full probe; the sub-k error regime
    // is measured in KmvSpec
    "distinct_sketch" -> Oracles.distinctSketch,
    "range_join_events" -> Oracles.rangeJoinEvents,
    "interval_overlap_events" -> Oracles.intervalOverlapEvents,
    // exact-regime KLL (k >= group rows, no compaction) ≡ quantile_disc;
    // the over-k error regime is measured in KllSpec
    "quantile_sketch" -> Oracles.quantileSketch,
    // exact-regime Misra-Gries (vocab <= k) ≡ plain counts; error regime
    // carries the MG guarantee, spec-tested in MgSpec
    "heavy_hitters" -> Oracles.heavyHitters,
    // winnowing is deterministic, so DuckDB recomputes the whole scheme
    // (shingle md5s, window minima, df filter) — exact value oracle
    "repeated_spans" -> Oracles.repeatedSpans,
    "unicode_normalize" -> Oracles.unicodeNormalize,
    // round 9: dedup_ngram graduated from rows-only to a full brute-force
    // value oracle by switching the contract entry to the EXACT
    // prefix-filtered all-pairs join (Dedup.ngramJaccardJoin — provably
    // complete candidates, so brute force IS its truth set). Every contract
    // entry is now oracle-backed. The probabilistic LSH-banded variant the
    // entry previously ran (recall 14/19 by measured design — no
    // SQL-computable truth set) stays as the dedup_ngram_lsh bench twin
    // with its recall pinned in PipelineSpec.
    // round 10: the entry calls the Dedup.ngramJaccard size-routing facade;
    // the bounded slice measures under the exactRowLimit budget, so the
    // contract PINS THE EXACT BRANCH (oracle unchanged) while an
    // over-budget corpus auto-routes to the LSH branch.
    "dedup_ngram" -> Oracles.dedupNgram,
    // r17: components over that same truth set via a recursive min-label
    // closure — the cluster interface under the hash gate
    "dedup_ngram_clusters" -> Oracles.dedupNgramClusters,
    // round 9: winnowing graduated from diagnosis (repeated_spans: WHICH
    // fingerprints repeat) to transform (boilerplate_spans: WHICH character
    // ranges of each doc are corpus-wide boilerplate) — span bounds
    // value-checked by a full DuckDB recomputation
    "boilerplate_spans" -> Oracles.boilerplateSpans,
    // round 10: the last two bench-only twins graduated — the interval-fold
    // strip's output TEXT and the five-stage pipeline COMPOSITION are now
    // value-checked (the spans oracle's CTE chain extended with the
    // complement-interval fold, then the five stage CTEs chained)
    "strip_boilerplate" -> Oracles.stripBoilerplate,
    "corpus_pipeline" -> Oracles.corpusPipeline,
    // round 10: the ExactSubstr dedup pair — winnow-selected duplicate
    // spans under the min-doc_id keeper rule (bounds + keeper assignment
    // value-checked) and the keeper-retaining deduplicated text
    "duplicate_spans" -> Oracles.duplicateSpans,
    "dedup_substring" -> Oracles.dedupSubstring,
    "corpus_pipeline_full" -> Oracles.corpusPipelineFull,
    "nb_classify" -> Oracles.nbClassify,
    "dsir_select" -> Oracles.dsirSelect,
    "unimax_sample" -> Oracles.unimaxSample,
    "media_hash_pairs" -> Oracles.mediaHashPairs,
    // same SQL as hybrid_search — the full-probe IVF leg is equivalence-
    // proven, so the brute-force oracle checks the ANN-shaped plan
    "hybrid_search_ann_full" -> Oracles.hybridSearch,
    "knn_graph" -> Oracles.knnGraph,
    "epoch_manifest" -> Oracles.epochManifest,
    "leak_safe_split" -> Oracles.leakSafeSplit,
    "corpus_diff" -> Oracles.corpusDiff,
    "corpus_drift" -> Oracles.corpusDrift,
    "keep_best" -> Oracles.keepBest,
    "source_overlap_kmv" -> Oracles.sourceOverlapKmv,
    // the monitor's batch form reproduces corpus_drift exactly (every
    // source streams): one oracle pins both paths to the same SQL
    "drift_monitor" -> Oracles.driftMonitor,
    "drift_monitor_joined" -> Oracles.driftMonitor,
    "snapshot_novelty" -> Oracles.snapshotNovelty,
    "incremental_dedup" -> Oracles.incrementalDedup,
    "source_overlap" -> Oracles.sourceOverlap)
}
