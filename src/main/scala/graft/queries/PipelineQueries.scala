package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{exprs, minhashExprs, TextFunctions}
import graft.operators.{Clustering, CorpusOps, Dedup, LanguageModel, Sampling, Similarity}

/** Training-data-pipeline queries (dedup / similarity / text analysis) over
  * the documents and embeddings tables — the post-parity extension surface
  * (SURVEY.md §7 step 9). Same oracle conventions as [[Queries]].
  *
  * Near-dup queries PLANT deterministic near-duplicates (suffix-perturbed
  * copies of doc_id < 20, shifted by +1,000,000) so recall is observable on
  * the otherwise dup-free synthetic corpus.
  */
object PipelineQueries {

  import Queries.t

  val PlantShift = 1000000L

  /** documents ∪ suffix-perturbed copies of the first 20 docs. */
  def docsWithPlants(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val planted = docs.where(col("doc_id") < 20)
      .select(
        (col("doc_id") + PlantShift).as("doc_id"),
        concat(col("text"), lit(" graft planted near duplicate suffix")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    docs.select("doc_id", "text", "lang", "source", "n_chars").union(planted)
  }

  /** embeddings ∪ slightly-perturbed copies of vec_id < 20 (deterministic
    * per-dimension jitter, cosine ≈ 0.999). */
  def embeddingsWithPlants(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    // two-step select: Spark 4's implicit LATERAL column aliasing would
    // otherwise resolve a `vec_id` reference inside the transform to the
    // just-aliased planted id — spell the jitter base (the planted id)
    // explicitly instead of relying on that
    val planted = e.where(col("vec_id") < 20)
      .select(col("vec_id").as("orig_id"), col("embedding"), col("label"))
      .select(
        (col("orig_id") + PlantShift).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double")
            + sin(i.cast("double") + col("orig_id") + PlantShift) * 0.02)
            .cast("float")).as("embedding"),
        col("label"))
    e.select("vec_id", "embedding", "label").union(planted)
  }

  // ------------------------------------------------------- oracle-checked

  /** Token counting: whitespace tokens, BPE-ish subword tokens, punctuation
    * count, char length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars_text"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"),
      TextFunctions.subwordCount(col("text")).as("n_subwords"),
      TextFunctions.punctCount(col("text")).cast("long").as("n_punct"))
      .orderBy(col("doc_id"))

  /** MOSS-style winnowing-fingerprint pair similarity: exact shared-set
    * containment with boilerplate fingerprints (df > 50) excluded. */
  def spanSimilarity(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowSimilarity(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4, minShared = 3, dfCap = 50)
      .orderBy(col("id_a"), col("id_b"))

  /** Content-defined chunking: per-doc chunk table (idx, start, len,
    * md5) with boundaries cut on k-gram md5 zero-prefix — the rsync/LBFS
    * primitive behind substring-level dedup. */
  def cdcChunksQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcChunkTable(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, nibbles = 1)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Substring-level exact dedup: chunk contents recurring in ≥ 2 distinct
    * documents, with document frequency and occurrence counts. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.cdcSharedChunks(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, nibbles = 1, minDocs = 2)
      .orderBy(col("hash"))

  /** Self-trained bigram-LM log-likelihood + perplexity per document
    * (CCNet-style quality signal; add-0.5 smoothing). */
  def lmScore(spark: SparkSession, dir: String): DataFrame =
    LanguageModel.bigramLmScore(
      t(spark, dir, "documents"), "doc_id", "text", alpha = 0.5)
      .orderBy(col("doc_id"))

  /** Held-out LM scoring: model trained on the md5 hash-split TRAIN
    * partition only, validation docs scored under it — unseen bigrams
    * exercised through the smoothing. */
  def lmHeldout(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    LanguageModel.bigramLmScoreHeldout(
        withSplit.where(col("split") === "train"),
        withSplit.where(col("split") === "val"),
        "doc_id", "text", alpha = 0.5)
      .orderBy(col("doc_id"))
  }

  /** Stupid-backoff trigram scoring (Brants '07): model trained on the md5
    * hash-split TRAIN partition, val docs scored under it — the held-out
    * composition makes all three backoff branches live (unseen trigrams
    * fall to the bigram path, unseen bigrams to the smoothed unigram
    * base). */
  def lmBackoff(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    LanguageModel.stupidBackoffScore(
        withSplit.where(col("split") === "train"),
        withSplit.where(col("split") === "val"),
        "doc_id", "text", lambda = 0.4, alpha = 0.5)
      .orderBy(col("doc_id"))
  }

  /** Model-based document classification (the GPT-3/CCNet quality-routing
    * stage): multinomial Naive Bayes trained on the md5 hash-split TRAIN
    * partition's `lang` labels, predicting labels for the held-out val
    * docs. On this synthetic corpus (shared vocabulary across langs) the
    * accuracy is near-chance BY CONSTRUCTION — the oracle value-checks the
    * full train/score mathematics, and ClassifierSpec pins real separation
    * on a class-distinct-vocabulary fixture. */
  def nbClassify(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    graft.operators.Classifier.naiveBayes(
        withSplit.where(col("split") === "train"),
        withSplit.where(col("split") === "val"),
        "doc_id", "lang", "text", alpha = 0.5)
      .orderBy(col("doc_id"))
  }

  /** Logistic-regression quality classifier (the GPT-3/LLaMA linear-filter
    * recipe): 3 full-batch GD iterations on the train split's "is this an
    * English doc" label over 4 exact text features, val docs scored under
    * the learned weights. Like nb_classify, separation on this synthetic
    * corpus is weak by construction — the oracle value-checks the whole
    * GD mathematics; ClassifierSpec pins real separation on a separable
    * fixture. */
  def lrClassify(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    graft.operators.Classifier.logisticQuality(
        withSplit.where(col("split") === "train")
          .withColumn("label", (col("lang") === "en").cast("long")),
        withSplit.where(col("split") === "val"),
        "doc_id", "label", "text", iters = 3, lr = 1.0)
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature (fastText-style) sparse logistic regression: 2
    * full-batch GD iterations over md5-bucketed bag-of-words counts — 64
    * buckets, small enough that the hashing trick's collision merging is
    * itself value-checked — with the model living as a (bucket, weight)
    * DataFrame (no driver state at all, unlike lr_classify's 4 literal
    * weights). "Is this an English doc" labels on the train split, val
    * docs scored under the final weights frame. */
  def lrHashed(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    graft.operators.Classifier.hashedLogReg(
        withSplit.where(col("split") === "train")
          .withColumn("label", (col("lang") === "en").cast("long")),
        withSplit.where(col("split") === "val"),
        "doc_id", "label", "text", numBuckets = 64, iters = 2, lr = 1.0)
      .orderBy(col("doc_id"))
  }

  /** Reliability audit of the lr_classify model: the same 3-iteration GD
    * chain scores the val split, val labels rejoin by id, and the
    * round-6 probabilities fold into 1000 calibration bins — all-BIGINT
    * outputs (n, Σ micro-prob, positives, |gap|), the ECE ingredients.
    * 1000 bins (not the reporting-typical 10) because the near-chance
    * model's probs live in a 0.006-wide band: the fine grid spreads the
    * val split across several bins so the bin arithmetic, the edge folds,
    * and the per-bin sums are all genuinely value-exercised. */
  def lrCalibrationQ(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    val valDocs = withSplit.where(col("split") === "val")
    val scored = graft.operators.Classifier.logisticQuality(
      withSplit.where(col("split") === "train")
        .withColumn("label", (col("lang") === "en").cast("long")),
      valDocs, "doc_id", "label", "text", iters = 3, lr = 1.0)
    graft.operators.Classifier.calibrationBins(
        scored.join(valDocs.select(col("doc_id"),
          (col("lang") === "en").cast("long").as("label")), "doc_id"),
        "prob", "label", bins = 1000)
      .orderBy(col("bin"))
  }

  /** DoReMi-lite domain reweighting: per-language mixture weights from
    * the held-out bigram-LM losses — hard languages upweighted via
    * softmax at temperature 10, mixed 20% with uniform. */
  def domainWeightsQ(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    LanguageModel.domainWeights(
        withSplit.where(col("split") === "train"),
        withSplit.where(col("split") === "val"),
        "doc_id", "lang", "text",
        alpha = 0.5, temperature = 10.0, smoothing = 0.2)
      .orderBy(col("lang"))
  }

  /** DSIR-style importance weighting: target model = the train split's
    * English docs, source model = the whole train split, val docs scored
    * by the per-token log-likelihood ratio; top 25% marked selected. */
  def dsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val withSplit = Sampling.hashSplit(t(spark, dir, "documents"), "doc_id")
    val train = withSplit.where(col("split") === "train")
    LanguageModel.dsirWeights(
        target = train.where(col("lang") === "en"),
        source = train,
        score = withSplit.where(col("split") === "val"),
        idCol = "doc_id", textCol = "text",
        alpha = 0.5, selectFraction = 0.25)
      .orderBy(col("doc_id"))
  }

  /** UniMax language mixing: water-filling a 400-doc budget across the
    * five lang strata at maxEpochs=1 — low-resource langs keep their whole
    * corpus, the surplus splits evenly, selection is md5-priority. */
  def unimaxSampleQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.unimaxSample(
        t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", budget = 400L, maxEpochs = 1.0)
      .select(col("doc_id"), col("lang"), col("priority"))
      .orderBy(col("doc_id"))

  /** Pairwise source-overlap matrix over the corpus sources — exact
    * token-set Jaccard per source pair. */
  def sourceOverlapQ(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.sourceOverlap(t(spark, dir, "documents"), "source", "text")
      .orderBy(col("group_a"), col("group_b"))

  /** Incremental dedup through the train-once [[Dedup.minhashIndex]]: the
    * standing corpus is signed+banded once (memoized like the knn
    * indexes), and the increment — the established planted convention,
    * doc_id < 20 re-arriving with the near-dup suffix under +PlantShift —
    * meets the stored bands in one equi-join. The oracle is the
    * brute-force CROSS truth set (every corpus×increment pair's exact
    * shingle Jaccard ≥ 0.7): banded recall over exactly these pairs is
    * the property dedup_minhash already proves on this corpus, so the
    * index path must reproduce the truth set verbatim. */
  def incrementalDedupQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val incoming = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + PlantShift).as("doc_id"),
        concat(col("text"), lit(" graft planted near duplicate suffix"))
          .as("text"))
    liveMemo(minhashIndexes, dir, s"$dir/documents.parquet",
        (_: Dedup.MinhashIndex).isLive,
        (_: Dedup.MinhashIndex).unpersist(),
        Dedup.minhashIndex(docs, "doc_id", "text"))
      .pairsAgainst(incoming, "doc_id", "text")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Cross-snapshot trigram novelty per source under the corpus_diff
    * mutation: removals take no grams away from "before" (novelty is vs
    * the FULL old corpus), edits add the one edit-phrase window set, and
    * re-added docs are entirely old text — so novelty is small and
    * precisely computable. */
  def snapshotNoveltyQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val after = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("source"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" corpus diff edit")))
          .otherwise(col("text")).as("text"))
      .union(docs.where(col("doc_id") < 15).select(col("source"), col("text")))
    CorpusOps.snapshotNovelty(docs, after, "source", "text")
      .orderBy(col("source"))
  }

  /** The STREAMING drift monitor run in its batch form over the same
    * corpus_drift mutation: every source streams rows, so the output must
    * equal the relational distributionDrift row-for-row — one oracle
    * value-checks the MG-summary aggregation path, the literal-reference
    * finisher, and the batch operator against each other (the stream ≡
    * batch leg is DriftStreamsSpec). */
  def driftMonitorQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val after = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("source"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" corpus diff edit")))
          .otherwise(col("text")).as("text"))
      .union(docs.where(col("doc_id") < 15).select(col("source"), col("text")))
    graft.streaming.DriftStreams.driftMonitor(after,
        docs.select(col("source"), col("text")), "source", "text")
      .orderBy(col("source"))
  }

  /** The LARGE-REFERENCE monitor route over the identical mutation: the
    * stream-static-join form must reproduce the literal route (and so the
    * batch operator) bit-for-bit — one oracle value-checks the carried-cb
    * key encoding, the absent-form algebra, and the G-row construction
    * collects end to end ([[graft.streaming.DriftStreams
    * .driftMonitorJoined]]; route parity also spec-pinned in
    * DriftStreamsSpec, measured at 5M docs in BASELINE.md round 14). */
  def driftMonitorJoinedQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val after = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("source"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" corpus diff edit")))
          .otherwise(col("text")).as("text"))
      .union(docs.where(col("doc_id") < 15).select(col("source"), col("text")))
    graft.streaming.DriftStreams.driftMonitorJoined(after,
        docs.select(col("source"), col("text")), "source", "text")
      .orderBy(col("source"))
  }

  /** Sketch-path source overlap in its EXACT regime: the corpus
    * vocabulary (~31 distinct tokens) sits far below k = 4096, so every
    * per-group KMV sketch holds the whole token set and the estimate /
    * min-wise Jaccard finishers provably equal the exact distinct counts
    * and exact Jaccard — DuckDB value-checks the entire sketch pipeline
    * (hash-distinct, bounded heap, merges, both finishers) against the
    * exact arithmetic. The ESTIMATE regime is spec-measured (KmvSpec
    * convention). */
  def sourceOverlapSketchQ(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.sourceOverlapSketch(t(spark, dir, "documents"),
        "source", "text")
      .orderBy(col("group_a"), col("group_b"))

  /** Corpus version diff over a deterministic re-crawl mutation: doc_id %
    * 7 == 3 dropped (removed), doc_id % 5 == 0 edited (modified), doc_id
    * < 15 re-entering under +PlantShift ids (added), everything else
    * unchanged — all four statuses value-exercised. */
  def corpusDiffQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val after = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" corpus diff edit")))
          .otherwise(col("text")).as("text"))
      .union(docs.where(col("doc_id") < 15)
        .select((col("doc_id") + PlantShift).as("doc_id"), col("text")))
    CorpusOps.corpusDiff(docs, after, "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  /** Per-source token-distribution drift under the corpus_diff mutation
    * (same deterministic re-crawl: %7 removals, %5 edits, doc_id < 15
    * re-additions — here KEEPING their source so each source's
    * distribution shifts, not just its doc set): JS divergence + L1 per
    * source between before and after. */
  def corpusDriftQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val after = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("source"),
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" corpus diff edit")))
          .otherwise(col("text")).as("text"))
      .union(docs.where(col("doc_id") < 15).select(col("source"), col("text")))
    CorpusOps.distributionDrift(docs, after, "source", "text")
      .orderBy(col("source"))
  }

  /** Quality-ranked keep-list over planted near-dup pairs: doc_id < 20
    * re-arrive under +PlantShift with a deterministic quality NUDGE —
    * even ids gain stopwords (quality up), odd ids gain punctuation
    * (quality down) — and the pair set links each original to its plant.
    * keepBest must keep the higher-quality member of every pair (the
    * plant for even ids, the original for odd) and every singleton; the
    * oracle replays the full quality arithmetic and the argmax. */
  def keepBestQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val plants = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + PlantShift).as("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("text"), lit(" the and of to in is are")))
          .otherwise(concat(col("text"), lit(" !!! ;;; ??? %%% @@@")))
          .as("text"))
    val uni = docs.union(plants)
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
    val pairs = docs.where(col("doc_id") < 20)
      .select(col("doc_id").as("id_a"),
        (col("doc_id") + PlantShift).as("id_b"))
    Dedup.keepBest(uni, "doc_id", "quality", pairs)
      .select(col("doc_id"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Leakage-safe split over a corpus with planted EXACT duplicates
    * (doc_id < 20 re-arrive verbatim under +PlantShift ids): both copies
    * share the fingerprint cluster, so the oracle value-checks that no
    * duplicate pair straddles the train/eval boundary. */
  def leakSafeSplitQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val plants = docs.where(col("doc_id") < 20)
      .select((col("doc_id") + PlantShift).as("doc_id"), col("text"))
    Sampling.leakSafeSplit(docs.union(plants), "doc_id", "text")
      .select(col("doc_id"), col("cluster"),
        col("bucket").cast("long").as("bucket"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Epoch-expansion manifest: the UniMax allocation at maxEpochs=3 over a
    * 900-doc budget materialized into (doc, epoch) repetition rows — full
    * epochs for every doc of a capped group, fractional epoch for the
    * md5-priority winners of the remainder. */
  def epochManifestQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochManifest(
        t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", budget = 900L, maxEpochs = 3.0)
      .orderBy(col("doc_id"), col("epoch"))

  /** Quality-ranked token-budget fill: the best documents by round-6
    * composite quality (md5-hash tie-break) until 2000 tokens — the
    * "take the top-quality N-token corpus" budget stage. */
  def qualityBudgetQ(spark: SparkSession, dir: String): DataFrame = {
    val scored = t(spark, dir, "documents").select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"),
      TextFunctions.tokenCount(col("text")).as("n_tokens"))
    Sampling.qualityBudgetFill(scored, "doc_id", "n_tokens", "quality",
        budget = 2000L)
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Count-Min sketch frequency summary: depth 3 × width 64 over the
    * corpus tokens (narrow on purpose — collisions occur and the
    * overestimate bias is itself value-checked), point estimates for every
    * distinct corpus token beside the exact count (est ≥ true, the CM
    * guarantee). */
  def cmFreqQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val sketch = CorpusOps.cmSketch(docs, "text",
      depth = 3, width = 64, seed = 42L)
    val exact = docs.select(explode(minhashExprs.wordGrams(
        TextFunctions.normalized(col("text")), 1)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("true_count"))
    CorpusOps.cmEstimate(sketch, exact.select(col("token")), "token",
        depth = 3, width = 64, seed = 42L)
      .join(exact, "token")
      .orderBy(col("token"))
  }

  /** Weighted sampling without replacement (A-ES): 100 documents drawn
    * with probability proportional to n_chars + 1 under the deterministic
    * md5 uniform — the "sample by quality/length" curation draw. */
  def weightedSampleQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.weightedSample(
        t(spark, dir, "documents")
          .select(col("doc_id"), (col("n_chars") + 1).cast("double").as("weight")),
        "doc_id", "weight", n = 100, seed = 42L)
      .orderBy(col("skey").desc, col("doc_id"))

  /** Cluster-diversified sampling: the embeddings clustered to 8 cells
    * (one Lloyd round), every cell capped at 25 survivors in md5-priority
    * order — the diversity-balancing selection stage. */
  def diverseSampleQ(spark: SparkSession, dir: String): DataFrame =
    Clustering.diverseSample(t(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 8, quota = 25, iters = 1)
      .orderBy(col("vec_id"))

  /** Per-dimension z-scoring of the embeddings table — the feature
    * normalization stage in front of clustering/indexing, in (vec_id,
    * dim, z) long form for the value oracle. */
  def embedStandardize(spark: SparkSession, dir: String): DataFrame =
    Similarity.standardize(t(spark, dir, "embeddings"),
        "vec_id", "embedding")
      .orderBy(col("vec_id"), col("dim"))

  /** Random-projection (JL) dimensionality reduction of the embeddings
    * table, 64 → 16 dims under the deterministic md5 ±1 sign matrix —
    * unpacked to (vec_id, dim, value) long form for the value oracle. */
  def rpProject(spark: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(t(spark, dir, "embeddings"),
        "embedding", "proj", inDim = 64, outDim = 16, seed = 42L)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "value")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("value"))
      .orderBy(col("vec_id"), col("dim"))

  /** PageRank over the corpus source-transition graph: one edge
    * source(doc i) → source(doc i+1) per consecutive doc_id pair —
    * parallel edges weight a link, exercising the multigraph semantics.
    * 5 iterations at damping 0.85; the host-graph centrality signal of
    * web-corpus curation. */
  def pageRankQ(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val e = d.as("a").join(d.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1)
      .select(col("a.source").as("src"), col("b.source").as("dst"))
    graft.operators.Graphs.pageRank(e, "src", "dst",
        damping = 0.85, iters = 5)
      .orderBy(col("node"))
  }

  /** Corpus Zipf-law fit: weighted log-log OLS of the token frequency
    * histogram — the power-law quality audit (natural text: slope ~ -1). */
  def zipfFitQ(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.zipfFit(t(spark, dir, "documents"), "text")

  /** Per-document trigram novelty: fraction of each doc's distinct
    * trigrams first owned (min doc_id) by that doc — the corpus-redundancy
    * curve metric. */
  def gramNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusOps.gramNovelty(
        t(spark, dir, "documents"), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))

  /** Deterministic training-order shuffle: every document assigned a
    * (shard, pos) — 8 shards, seed 42 — such that reading shards in pos
    * order is a seeded pseudo-random interleave of the corpus. */
  def trainShuffle(spark: SparkSession, dir: String): DataFrame =
    Sampling.trainOrder(
        t(spark, dir, "documents").select(col("doc_id")),
        "doc_id", shards = 8, seed = 42L)
      .orderBy(col("doc_id"))

  /** CCNet head/middle/tail split of the corpus by LM perplexity. */
  def pplBucketsQ(spark: SparkSession, dir: String): DataFrame =
    LanguageModel.pplBuckets(
      t(spark, dir, "documents"), "doc_id", "text", alpha = 0.5)
      .orderBy(col("doc_id"))

  /** BM25 ranked retrieval: four fixed lexical queries over the corpus,
    * top-10 each — the lexical half of hybrid search. */
  def bm25SearchQ(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val qs = Seq(
      (1L, "spark window merge"), (2L, "fast hash join table"),
      (3L, "stream batch query data"), (4L, "vector column filter"))
      .toDF("qid", "qtext")
    graft.operators.Search.bm25TopK(
        t(spark, dir, "documents"), qs, "doc_id", "text", "qid", "qtext",
        k = 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Hybrid retrieval: four query documents retrieve lexically (BM25 over
    * their own text, top-20) and semantically (brute-force cosine over the
    * same-id embeddings, top-20); reciprocal-rank fusion (c=60) merges the
    * two lists into a final top-10. Only ranks enter the fusion, so the
    * result is integer-exact in both engines. */
  def hybridSearchQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val lex = graft.operators.Search.bm25TopK(
      docs,
      docs.where(col("doc_id") < 4).select(col("doc_id"), col("text")),
      "doc_id", "text", "doc_id", "text", k = 20)
    val e = t(spark, dir, "embeddings")
    val vec = Similarity.bruteForceTopK(e.where(col("vec_id") < 4), e,
        "vec_id", "embedding", k = 20)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Search.rrfFuse(Seq(lex, vec), k = 10, c = 60)
      .orderBy(col("query_id"), col("rank"))
  }

  /** ANN-backed hybrid retrieval: the [[hybridSearchQ]] composition with
    * the vector leg served by the memoized IVF index at SELECTIVE probing
    * (nprobe 4 of nlist 16) instead of brute force — the corpus-scale
    * shape, where the vector leg touches ~nprobe/nlist of the corpus per
    * query instead of all of it. Approximate by design (a true neighbor
    * in an unprobed cell is missed), so this is a BENCH twin, not an
    * oracle entry; its fused-top-10 recall against the brute-force
    * [[hybridSearchQ]] is spec-pinned in PipelineSpec the same way
    * dedup_ngram_lsh's banding recall is. */
  def hybridSearchAnnQ(spark: SparkSession, dir: String): DataFrame =
    hybridAnn(spark, dir, nprobe = 4)

  /** The ANN-shaped hybrid plan at FULL probing (nprobe = nlist): the IVF
    * leg is provably ≡ brute force (the knn_ivf full-probe trick), so the
    * hybrid_search oracle applies VERBATIM to this composition — the
    * 100-TB-shape code path (trained index, centroid routing, per-cell
    * scoring, RRF fusion) is value-checked end to end, while the
    * selective-probe twin above stays the bench/recall story. */
  def hybridSearchAnnFullQ(spark: SparkSession, dir: String): DataFrame =
    hybridAnn(spark, dir, nprobe = 16)

  private def hybridAnn(spark: SparkSession, dir: String,
                        nprobe: Int): DataFrame = {
    val docs = t(spark, dir, "documents")
    val lex = graft.operators.Search.bm25TopK(
      docs,
      docs.where(col("doc_id") < 4).select(col("doc_id"), col("text")),
      "doc_id", "text", "doc_id", "text", k = 20)
    val e = t(spark, dir, "embeddings")
    val vec = liveMemo(ivfIndexes, dir, s"$dir/embeddings.parquet",
        (_: Similarity.IvfIndex).isLive,
        (_: Similarity.IvfIndex).unpersist(),
        Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 16))
      .topK(e.where(col("vec_id") < 4), k = 20, nprobe = nprobe)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
    graft.operators.Search.rrfFuse(Seq(lex, vec), k = 10, c = 60)
      .orderBy(col("query_id"), col("rank"))
  }

  /** BPE vocabulary induction: the first 8 merge ranks over the corpus
    * vocabulary (greedy most-frequent-adjacent-pair, ties by pair string). */
  def bpeMergesQ(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.bpeMerges(t(spark, dir, "documents"), "text", numMerges = 8)
      .orderBy(col("rank"))

  /** BPE train-then-encode: induce the 8 merges (memoized per sf dir —
    * see [[bpeTable]]), then tokenize every document under them — per-doc
    * BPE token counts. */
  def bpeEncodeQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    CorpusOps.bpeEncode(docs, "doc_id", "text", bpeTable(spark, dir))
      .orderBy(col("doc_id"))
  }

  /** Per-language tokenizer fertility under the corpus-induced 8-merge
    * BPE: tokens/word and chars/token volumes — the multilingual
    * tokenizer-efficiency audit. */
  def tokenFertilityQ(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    CorpusOps.tokenFertility(docs, "doc_id", "text", "lang",
        bpeTable(spark, dir))
      .orderBy(col("lang"))
  }

  /** Markup stripping: wrap every document in a deterministic HTML shell
    * (script + style + comment + tags + entities) and extract the text
    * back out — the web-corpus text-extraction stage, round-trippable by
    * construction. */
  def stripMarkupQ(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(col("doc_id"),
        TextFunctions.stripMarkup(concat(
          lit("<html><head><style>p { color: red }</style>"),
          lit("<script type=\"text/js\">var x = 1 < 2;</script></head>"),
          lit("<body><!-- doc "), col("doc_id"),
          lit(" --><h1>Q&amp;A &lt;"), col("lang"), lit("&gt;</h1><p>"),
          col("text"), lit("</p></body></html>"))).as("stripped"))
      .orderBy(col("doc_id"))

  /** C4 line-level cleaning over a constructed multi-line page shell:
    * each doc's text becomes line 1 (+'.'), then a short junk line, a
    * "javascript" line, and a good sentence; docs at id % 7 == 0 carry a
    * "lorem ipsum" line and id % 11 == 0 a curly-brace line — so line
    * rules AND both page rules flip across the corpus. */
  def c4RulesQ(spark: SparkSession, dir: String): DataFrame = {
    val shell = t(spark, dir, "documents").select(col("doc_id"),
      concat(
        col("text"), lit("."),
        lit("\nshort line"),
        lit("\nEnable javascript to view doc "), col("doc_id"), lit("."),
        lit("\nThis page has plenty of good words in it."),
        when(col("doc_id") % 7 === 0,
          lit("\nmore filler lorem ipsum text sits here.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nif (x) { call(); }")).otherwise(lit(""))).as("page"))
    TextFunctions.c4Rules(shell, "doc_id", "page",
        minLineWords = 5, minKeptLines = 2)
      .orderBy(col("doc_id"))
  }

  /** The round-11 curation composition — the NEW stages chained the way a
    * web-corpus build runs them, every stage itself an oracle-pinned
    * operator:
    *
    *   1. C4 line/page cleaning over the multi-line web shell (the
    *      c4_rules fixture) — kept pages' reassembled clean_text
    *   2. exact dedup, keep-min doc per normalized clean_text fingerprint
    *   3. quality-ranked TOKEN-BUDGET fill: the best 3000 tokens by
    *      round-6 composite quality (md5 tie-break)
    *   4. deterministic 4-shard training order over the kept set
    *
    * Output: (doc_id, quality, n_tokens, cum_tokens, shard, pos) — the
    * manifest a training-ingest writer consumes. The whole chain is
    * replayed as ONE DuckDB CTE pipeline. */
  def corpusPipelineV2Q(spark: SparkSession, dir: String): DataFrame = {
    val shell = t(spark, dir, "documents").select(col("doc_id"),
      concat(
        col("text"), lit("."),
        lit("\nshort line"),
        lit("\nEnable javascript to view doc "), col("doc_id"), lit("."),
        lit("\nThis page has plenty of good words in it."),
        when(col("doc_id") % 7 === 0,
          lit("\nmore filler lorem ipsum text sits here.")).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          lit("\nif (x) { call(); }")).otherwise(lit(""))).as("page"))
    val cleaned = TextFunctions.c4Rules(shell, "doc_id", "page",
        minLineWords = 5, minKeptLines = 2)
      .where(col("keep"))
      .select(col("doc_id"), col("clean_text"))
    val keepers = Dedup.exactTextGroups(cleaned, "doc_id", "clean_text")
      .select(col("keeper_id").as("doc_id"))
    // no external persist needed: qualityBudgetFill caches its augmented
    // input internally (tracked), so the c4-clean + dedup + scoring chain
    // above executes once even though the fill consumes it three times
    val scored = cleaned.join(keepers, "doc_id")
      .select(col("doc_id"),
        TextFunctions.qualityScore(col("clean_text")).as("quality"),
        TextFunctions.tokenCount(col("clean_text")).as("n_tokens"))
    // budget-bounded output (≤3000 cumulative tokens) consumed twice —
    // eager checkpoint is effectively free and cuts the second execution
    val filled = Sampling.qualityBudgetFill(scored, "doc_id", "n_tokens",
        "quality", budget = 3000L)
      .localCheckpoint(true)
    val ordered = Sampling.trainOrder(filled.select(col("doc_id")),
      "doc_id", shards = 4, seed = 7L)
    filled.join(ordered, "doc_id")
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))
  }

  /** Per-language dataset card over the corpus. */
  def corpusCardQ(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.corpusCard(t(spark, dir, "documents"), "text", "lang")
      .orderBy(col("lang"))

  /** Gopher rule audit over the corpus — per-rule signals + verdicts. */
  def gopherRulesQ(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.gopherRules(t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Composite quality score per document. */
  def qualityScores(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  /** Language identification (stopword + CJK evidence). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFunctions.languageId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** MD5 fingerprint of normalized text. */
  def fingerprintMd5(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").select(
      col("doc_id"),
      TextFunctions.fingerprintMd5(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  /** Exact dedup groups by (lang, source). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(spark, dir, "documents"), "doc_id", Seq("lang", "source"))
      .orderBy(col("lang"), col("source"))

  /** Per-source quality floor: drop each source's worst quartile by the
    * composite quality score — the per-domain percentile filter (a
    * global threshold would gut weak domains and never prune strong
    * ones). Cutoff = the discrete per-source p25 through the KLL
    * aggregate (exact regime on the contract groups ≡ quantile_disc),
    * broadcast back; ties at the cutoff kept. */
  def qualityFloorQ(spark: SparkSession, dir: String): DataFrame =
    Sampling.qualityFloor(
        t(spark, dir, "documents").select(col("doc_id"), col("source"),
          TextFunctions.qualityScore(col("text")).as("quality")),
        "doc_id", "source", "quality", p = 0.25)
      .orderBy(col("doc_id"))

  /** Token-set Jaccard of each planted pair — oracles the similarity math
    * that the LSH pipelines use for verification. */
  def jaccardPlanted(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlants(spark, dir)
    val a = docs.where(col("doc_id") < 20)
      .select(col("doc_id").as("id_a"),
        TextFunctions.tokens(TextFunctions.normalized(col("text"))).as("t_a"))
    val b = docs.where(col("doc_id") >= PlantShift)
      .select((col("doc_id") - PlantShift).as("id_a"),
        TextFunctions.tokens(TextFunctions.normalized(col("text"))).as("t_b"))
    a.join(b, "id_a")
      .select(col("id_a").as("doc_id"),
        round(Dedup.jaccard(col("t_a"), col("t_b")), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** L2 norms of the embedding vectors (double accumulation, deterministic
    * fold order on both engines). */
  def embeddingNorms(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings").select(
      col("vec_id"),
      round(Similarity.l2Norm(col("embedding")), 6).as("l2_norm"))
      .orderBy(col("vec_id"))

  /** int8 quantization round-trip error per embedding — see
    * [[Similarity.int8RoundtripError]]; bit-for-bit vs DuckDB. */
  def embeddingQuant(spark: SparkSession, dir: String): DataFrame =
    Similarity.int8RoundtripError(
        t(spark, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("vec_id"))

  /** Deterministic train/val/test split assignment per document (md5-bucket,
    * engine-portable — the exact same bucket arithmetic runs in DuckDB). */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.hashSplit(
        t(spark, dir, "documents").select("doc_id"), "doc_id")
      .select(col("doc_id"), col("bucket").cast("long").as("bucket"), col("split"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination over the planted corpus: each plant is a
    * near-copy of its original, so treating plants as the "benchmark" set
    * must flag every original as contaminated (plus any organic template
    * overlap) — fully value-checked against DuckDB's set arithmetic. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlants(spark, dir)
    Dedup.crossNgramOverlap(
        corpus = docs.where(col("doc_id") < PlantShift),
        benchmark = docs.where(col("doc_id") >= PlantShift),
        "doc_id", "text", w = 3, minShared = 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Bloom-prefiltered decontamination — MUST produce byte-identical output
    * to [[decontamination]] (zero false negatives by construction, false
    * positives removed by the exact join), so it shares that query's DuckDB
    * oracle: the value check proves the prefilter dropped nothing. */
  def decontaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlants(spark, dir)
    Dedup.crossNgramOverlapBloom(
        corpus = docs.where(col("doc_id") < PlantShift),
        benchmark = docs.where(col("doc_id") >= PlantShift),
        "doc_id", "text", w = 3, minShared = 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** The size-adaptive [[Dedup.decontaminate]] FACADE as a contract query:
    * with the ~25x corpus/benchmark asymmetry of the planted fixture it
    * must take the bloom branch, and since both branches are provably
    * identical it shares [[decontamination]]'s oracle — the value check
    * proves the auto-selection changed nothing. */
  def decontaminationAuto(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlants(spark, dir)
    Dedup.decontaminate(
        corpus = docs.where(col("doc_id") < PlantShift),
        benchmark = docs.where(col("doc_id") >= PlantShift),
        "doc_id", "text", w = 3, minShared = 5)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** Brute-force char-trigram Jaccard over a bounded slice — the exact-math
    * twin of dedup_ngram: value-checks the charShingleSet kernel (ASCII
    * normalization, min(n, len) whole-string window, distinct trigram set)
    * and the sorted-merge intersect against DuckDB's string-set arithmetic.
    * The LSH banding that dedup_ngram puts in front of this math is the
    * only part left rows-only. */
  def ngramExact(spark: SparkSession, dir: String): DataFrame = {
    val side = t(spark, dir, "documents").where(col("doc_id") < 150)
      .select(col("doc_id"),
        minhashExprs.charShingleSet(col("text"), 3).as("sh"))
    val a = side.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = side.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("inter", minhashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("union_n", size(col("sh_a")) + size(col("sh_b")) - col("inter"))
      .where(col("union_n") > 0 &&
        col("inter").cast("double") / col("union_n") >= 0.5)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("union_n"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Corpus-wide repeated character spans via winnowing fingerprints
    * ([[Dedup.repeatedSpans]], k=8, w=4): every ≥11-char run shared by ≥2
    * docs is guaranteed a row. The DuckDB oracle recomputes the whole
    * scheme — shingle md5s, window minima, per-doc distinct, df filter —
    * so fingerprint VALUES are checked, not just counts. */
  def repeatedSpansQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4, minDocs = 2)
      .orderBy(col("fp"))

  /** Per-document boilerplate character intervals
    * ([[Dedup.boilerplateSpans]], k=8, w=4, minDocs=25): the character
    * ranges of each doc covered by winnow-selected shingles shared with
    * >= 25 documents, merged into maximal intervals — the spans
    * substring-level dedup would strip before training. The DuckDB oracle
    * recomputes the whole scheme (argmin-by-(hash,pos) window selection
    * via the fixed-width `md5 || '|' || zero-padded-pos` string-min trick,
    * distinct-doc df, gaps-and-islands interval union), so span BOUNDS are
    * value-checked, not just counts. */
  def boilerplateSpansQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.boilerplateSpans(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4, minDocs = 25)
      .orderBy(col("doc_id"), col("span_start"))

  /** [[Dedup.stripBoilerplate]] end-to-end (span detection + interval-fold
    * removal) over the documents table. The DuckDB oracle extends the
    * boilerplate_spans recomputation with the complement-interval fold
    * (lag-to-previous-span segments + ordered string_agg), so the stripped
    * TEXT BYTES are value-checked, not just the span bounds. The trailing
    * `length(text) >= 0` filter forces the stripped text to be computed
    * under Bench's `.count()` — without it column pruning would skip the
    * fold and time only span detection. */
  def stripBoilerplateQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripBoilerplate(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4, minDocs = 25)
      .where(length(col("text")) >= 0)
      .orderBy(col("doc_id"))

  /** Cross-document duplicate-span detection ([[Dedup.duplicateSpans]],
    * k=8, w=4): character ranges duplicated verbatim across >= 2 docs,
    * reported only for NON-keeper docs (keeper = min doc_id per shared
    * fingerprint retains its copy) — the Lee et al. ACL '22 ExactSubstr
    * pass as keep-one dedup rather than strip-everywhere boilerplate
    * removal. The DuckDB oracle recomputes winnow selection, per-fp
    * keeper assignment, and the islands union, so span bounds AND the
    * keeper rule are value-checked. */
  def duplicateSpansQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4)
      .orderBy(col("doc_id"), col("span_start"))

  /** [[Dedup.dedupSubstrings]] end-to-end: duplicate-span detection with
    * keeper retention + interval-fold removal — after this pass the corpus
    * holds exactly one copy of every cross-doc duplicated run core. The
    * oracle extends the span recomputation with the complement-interval
    * fold, value-checking the deduplicated TEXT BYTES. Same
    * anti-column-pruning filter rationale as [[stripBoilerplateQ]]. */
  def dedupSubstringQ(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupSubstrings(t(spark, dir, "documents"), "doc_id", "text",
        k = 8, w = 4)
      .where(length(col("text")) >= 0)
      .orderBy(col("doc_id"))

  /** The end-to-end training-data flow the individual contract entries
    * exercise piecewise — NFC normalize, strip corpus-wide boilerplate
    * spans, exact text dedup (keep first), quality filter, then token
    * chunking — as ONE chained lazy plan (cross-stage pipelining, no
    * materialization between stages). The DuckDB oracle chains the same
    * five stage CTEs, each consuming the previous stage's output, so the
    * COMPOSITION is value-checked end-to-end, not just each stage alone.
    * The final chunk_tokens filter keeps column pruning from skipping the
    * chunk stage under Bench's `.count()`; the earlier stages all change
    * the row count, so none of them can be pruned. */
  def corpusPipelineQ(spark: SparkSession, dir: String): DataFrame = {
    // both persisted (the corpusPipelineFullQ convention, released by
    // Dedup.unpersistAll): the winnow strip consumes `norm` twice
    // (fingerprint pass + span application) and the dedup/quality stages
    // consume the whole strip output `clean` twice
    val norm = Dedup.track(t(spark, dir, "documents")
      .select(col("doc_id"), exprs.nfcNormalize(col("text")).as("text"))
      .persist())
    val clean = Dedup.track(Dedup.stripBoilerplate(norm, "doc_id", "text",
      k = 8, w = 4, minDocs = 25).persist())
    val keepers = Dedup.exactTextGroups(clean, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val surviving = clean.join(keepers, "doc_id")
      .where(TextFunctions.qualityScore(col("text")) >= 0.3)
    CorpusOps.chunkPlan(surviving, "doc_id", "text", window = 64)
      .where(col("chunk_tokens") > 0)
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** The FULL training-data recipe end-to-end — the curation stages a
    * production corpus build chains before tokenization:
    *
    *   1. NFC normalize
    *   2. DECONTAMINATE against a benchmark set (the planted doc_id<20
    *      suffix variants): any doc sharing ≥ 5 word-3-gram shingles with
    *      a benchmark doc is dropped — via the size-adaptive
    *      [[Dedup.decontaminate]] facade (≈25× corpus/benchmark asymmetry
    *      ⇒ the bloom branch, decision memoized per session). Runs on the
    *      normalized text BEFORE the aggressive cleaning stages: benchmark
    *      overlap must be caught while the document still carries the
    *      n-grams the benchmark does (this corpus's small vocabulary makes
    *      the winnow strip remove most repeated runs — stripping first
    *      would blind the overlap check)
    *   3. winnow-span boilerplate strip (k=8, w=4, df ≥ 25)
    *   4. exact dedup (keep-min doc per md5 fingerprint)
    *   5. quality filter ≥ 0.3
    *   6. TOKEN-BUDGET sample: the md5-hash-ordered corpus prefix holding
    *      the first 2000 whitespace tokens of what survived
    *   7. PACK into ≤256-token training sequences (next-fit within 16
    *      md5-bucket groups)
    *
    * Output is the pack plan with the running budget total — every stage
    * consuming the previous stage's output, the whole chain replayed as one
    * DuckDB CTE pipeline. The decontaminated frame feeds the winnow strip's
    * two passes and the cleaned frame three more stages, so both are
    * persisted for the query's lifetime (released by
    * [[Dedup.unpersistAll]], which the bench calls per query). */
  def corpusPipelineFullQ(spark: SparkSession, dir: String): DataFrame = {
    val norm = Dedup.track(t(spark, dir, "documents")
      .select(col("doc_id"), exprs.nfcNormalize(col("text")).as("text"))
      .persist())
    val bench = t(spark, dir, "documents").where(col("doc_id") < 20)
      .select((col("doc_id") + PlantShift).as("doc_id"),
        concat(col("text"), lit(" graft planted near duplicate suffix"))
          .as("text"))
    val contaminated = Dedup.decontaminate(norm, bench,
        "doc_id", "text", w = 3, minShared = 5)
      .select(col("doc_id")).distinct()
    // persisted: the winnow strip consumes deconed TWICE (fingerprint pass
    // + span application) and each consumption would otherwise re-run the
    // decontaminate shingle chain feeding the anti-join
    val deconed = Dedup.track(
      norm.join(contaminated, Seq("doc_id"), "left_anti").persist())
    val clean = Dedup.track(Dedup.stripBoilerplate(deconed, "doc_id", "text",
      k = 8, w = 4, minDocs = 25).persist())
    val keepers = Dedup.exactTextGroups(clean, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val surviving = clean.join(keepers, "doc_id")
      .where(TextFunctions.qualityScore(col("text")) >= 0.3)
    // EAGER localCheckpoint: `sampled` is consumed twice below (the pack
    // plan and the cum_tokens join-back), and tokenBudgetSample's bucket-
    // totals collect already ran the upstream once at build — without a
    // cut, the keeper-join + quality-filter + cumsum-window chain executes
    // three times per materialization. The frame is budget-bounded (docs
    // until 2000 cumulative tokens — tens of rows), so the checkpoint is
    // effectively free.
    val sampled = Sampling.tokenBudgetSample(
        surviving.select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 2000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .localCheckpoint(true)
    CorpusOps.packSequences(sampled.select("doc_id", "n_tokens"),
        "doc_id", "n_tokens", budget = 256, numGroups = 16)
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("grp").cast("long").as("grp"), col("pack_id"))
      .join(sampled.select(col("doc_id"), col("cum_tokens")), "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        col("grp"), col("pack_id"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC normalization ([[exprs.nfcNormalize]]) over doc prefixes
    * with planted DECOMPOSED suffixes (base + combining mark, chosen by
    * doc_id % 3; the same raw UTF-8 bytes sit in the DuckDB oracle's
    * literals) — output must be byte-identical to utf8proc's
    * nfc_normalize. The encoding-form step that runs before any
    * fingerprint/dedup hashing on real multilingual corpora. */
  def unicodeNormalize(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").where(col("doc_id") < 300)
      .select(col("doc_id"),
        exprs.nfcNormalize(concat(substring(col("text"), 1, 40),
          when(col("doc_id") % 3 === 0, lit(" café naïve"))
            .when(col("doc_id") % 3 === 1, lit(" Àngström Å"))
            .otherwise(lit(" ågström élève"))))
          .as("norm"))
      .orderBy(col("doc_id"))

  /** Gopher-style repetition signals per document (type-token ratio, top
    * token / top bigram share) — see [[TextFunctions.repetitionProfile]].
    * Gram hashes on the Spark side, gram strings in DuckDB: counts agree
    * barring a 64-bit collision (the standing kernel-oracle premise). */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame =
    TextFunctions.repetitionProfile(
        t(spark, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** PII redaction over docs with deterministically planted contact lines
    * (email + dotted-quad IP + phone appended from doc_id arithmetic): the
    * output text must be byte-identical to DuckDB running the SAME RE2
    * patterns, proving the planted PII is gone and nothing else changed. */
  def piiRedaction(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        TextFunctions.redactPii(concat(
          col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 call +1-555-"), (col("doc_id") + 1000).cast("string")))
          .as("redacted"))
      .orderBy(col("doc_id"))

  /** Corpus vocabulary: top-50 whitespace tokens of normalized text by
    * frequency (count desc, token asc). */
  def vocabTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(
        TextFunctions.normalized(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(50)

  /** Misra–Gries heavy hitters in the EXACT regime: the corpus vocabulary
    * (31 distinct tokens) fits inside k = 256, so the bounded sketch
    * provably equals the exact token counts and DuckDB value-checks the
    * whole aggregate (update path, partial-merge combine, ranking). The
    * error regime — the point of the sketch when the term universe is
    * billions of tokens/domains — is spec-tested against the MG guarantee
    * (MgSpec). Same tokenizer as [[vocabTopK]]. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(TextFunctions.tokens(
        TextFunctions.normalized(col("text")))).as("token"))
      .agg(exprs.heavyHitters(col("token"), 256).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term").as("token"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(10)

  /** Per-source quota cap (at most 8 docs per source, hash-priority) — the
    * anti-domination guard of corpus curation. */
  def sourceQuota(spark: SparkSession, dir: String): DataFrame =
    Sampling.quotaPerGroup(
        t(spark, dir, "documents").select("doc_id", "source"),
        "doc_id", "source", quota = 8)
      .select(col("doc_id"), col("source"), col("priority"))
      .orderBy(col("doc_id"))

  /** Stratified language-mix sample: keep ~30% of en, ~75% of zh, all of
    * the rest — deterministic per-id md5 buckets, auditable in plain SQL. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedHashSample(
        t(spark, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 0.3, "zh" -> 0.75))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Context-window chunk plan: ≤32-token chunks per document with the
    * re-joined chunk text (see [[CorpusOps.chunkPlan]]). */
  def chunkPlan(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.chunkPlan(t(spark, dir, "documents"), "doc_id", "text",
        window = 32)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Code-point Shannon entropy per document (compression-proxy quality
    * signal) via the codegen [[graft.functions.CharEntropy]] kernel. */
  def charEntropy(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        round(exprs.charEntropy(col("text")), 6).as("char_entropy"))
      .orderBy(col("doc_id"))

  /** Sequence packing plan: next-fit over 16 md5-hash groups with a
    * 256-token budget (see [[CorpusOps.packSequences]]) — deterministic
    * bin assignment for every document, layout-independent. */
  def packPlan(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packSequences(
        t(spark, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 256, numGroups = 16)
      .select(col("id").as("doc_id"), col("n_tokens"),
        col("grp").cast("long").as("grp"), col("pack_id"))
      .orderBy(col("doc_id"))

  /** Packing-efficiency audit of the pack_plan: per-pack doc counts,
    * token totals, and fill fraction vs the 256-token budget. */
  def packStatsQ(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.packStats(
        CorpusOps.packSequences(
          t(spark, dir, "documents").select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("n_tokens")),
          "doc_id", "n_tokens", budget = 256, numGroups = 16),
        budget = 256)
      .select(col("grp").cast("long").as("grp"), col("pack_id"),
        col("n_docs"), col("pack_tokens"), col("fill"))
      .orderBy(col("grp"), col("pack_id"))

  /** Per-doc top-3 TF-IDF terms (smoothed idf, rank on the ROUNDED score so
    * the ordering is reproducible across engines' last-ulp log differences;
    * ties break on the term string). */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    CorpusOps.tfIdfTopTerms(t(spark, dir, "documents"), "doc_id", "text",
        k = 3)
      .orderBy(col("doc_id"), col("rank"))

  /** Deterministic token-budget sample: the md5-hash-ordered prefix of the
    * corpus holding the first 10k whitespace tokens — kept set, per-doc
    * token counts, and the running total all value-checked (DuckDB recomputes
    * the identical window sum over the identical md5 order). */
  def tokenBudgetSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetSample(
        t(spark, dir, "documents").select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 10000L)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("doc_id"))

  /** Temperature-scaled language mix at α = 0.5: rates derive from the
    * per-language counts as sqrt(c_min/c_s) — every arithmetic step is
    * correctly-rounded IEEE, so DuckDB reproduces the identical rates,
    * cuts, and kept set. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMix(
        t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", alpha = 0.5)
      .orderBy(col("doc_id"))

  /** Corpus-wide line dedup over documents with deterministically injected
    * boilerplate (a newsletter line shared by ALL docs and a per-source
    * copyright footer) — the classic CCNet paragraph-dedup scenario: the
    * operator must keep each boilerplate line only at its first corpus
    * occurrence and leave first-occurrence body text byte-intact. Fully
    * value-checked: DuckDB reproduces the same first-occurrence choice and
    * string reassembly. */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"),
      concat_ws("\n", col("text"),
        lit("subscribe to our newsletter for updates"),
        concat(lit("copyright 2026 "), col("source"))).as("text"))
    Dedup.dedupLines(docs, "doc_id", "text").orderBy(col("doc_id"))
  }

  // --------------------------------------------------- rows-only (no SQL)

  /** MinHash+LSH near-dup pairs (finds the planted dups). */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(docsWithPlants(spark, dir), "doc_id", "text",
        numHashes = 64, bands = 16, threshold = 0.7)
      .orderBy(col("id_a"), col("id_b"))

  /** SimHash near-dup pairs over the ENGINE-PORTABLE hash
    * ([[Dedup.simhashPortable]]): every stage — md5-derived 60-bit token
    * hashes, multiplicity-weighted bit majority, 4×16-bit chunk blocking
    * (pigeonhole-exact for Hamming ≤ 3), Hamming threshold — is reproduced
    * by a DuckDB brute force over all pairs, so the output is FULLY
    * value-oracled (the bucket cap cannot trigger at oracle scale: the
    * largest possible bucket is the whole 520-doc corpus, under the
    * 1000-doc cap). The production xxhash-kernel path ([[Dedup
    * .simhashPairs]]) shares this blocking/threshold body and is
    * parity-tested in DedupSpec/MinHashKernelSpec. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsPortable(docsWithPlants(spark, dir), "doc_id", "text",
        maxBits = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))

  /** Character-trigram Jaccard near-dup pairs via the EXACT prefix-filtered
    * set-similarity join ([[Dedup.ngramJaccardJoin]], the WWW '07 all-pairs
    * algorithm): candidate generation is provably complete (pigeonhole on
    * the rarest-first canonical prefix), so the output EQUALS a brute-force
    * all-pairs Jaccard join and a DuckDB brute force over the planted
    * corpus is a full value oracle — this graduated the last rows-only
    * contract entry.
    *
    * The entry runs on a BOUNDED corpus slice (500 docs + all plants, the
    * ngram_exact `doc_id < 150` pattern): this synthetic corpus is
    * generated from a tiny vocabulary (405 distinct trigrams across 5k
    * docs at sf0.1 — measured), so ANY complete char-trigram candidate
    * generator degenerates toward all-pairs on it (prefix filtering
    * included: 5.3M candidates, ~20 s at local[32] full-corpus). The
    * bounded slice keeps the contract cost sf-invariant while still
    * value-checking the complete-candidates guarantee end to end. For
    * full-corpus near-dup at scale the probabilistic LSH-banded variant
    * ([[Dedup.ngramJaccardPairs]]) is the documented alternative — benched
    * full-corpus as the `dedup_ngram_lsh` twin, measured 14/19 planted
    * recall pinned in PipelineSpec.
    *
    * Round 10: the entry goes through the [[Dedup.ngramJaccard]]
    * size-routing facade — the bounded slice measures under the row budget,
    * so the facade provably PINS THE EXACT BRANCH here (route asserted in
    * PipelineSpec; a caller pointing the same facade at a 100-TB corpus
    * gets the banded branch instead of an unbounded all-pairs join). */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(
        docsWithPlants(spark, dir)
          .where(col("doc_id") < 500 || col("doc_id") >= PlantShift),
        "doc_id", "text", n = 3, threshold = 0.6)
      .orderBy(col("id_a"), col("id_b"))

  /** Cluster-form near-dup CONTRACT entry (r16 verdict #3): component
    * labels over the n-gram Jaccard graph on the same bounded planted
    * slice as [[dedupNgram]], via the size-adaptive facade — at this
    * measured size it routes to the EXACT prefix-filtered pair join, so
    * the labels equal a DuckDB brute-force + recursive min-label closure
    * row-for-row (the cluster interface is what users actually run at
    * scale; the anchored full-corpus path stays benched as
    * `dedup_ngram_clusters_scale`). Every doc is labeled — singletons
    * label themselves. */
  def dedupNgramClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardClustersAuto(
        docsWithPlants(spark, dir)
          .where(col("doc_id") < 500 || col("doc_id") >= PlantShift),
        "doc_id", "text", n = 3, threshold = 0.6)
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))

  /** Embedding-cosine near-dup pairs over LSH buckets (planted jitter),
    * with Hamming-1 multi-probe so a planted pair (cosine ≈ 0.994) split by
    * one hyperplane is still a candidate — recall over the plants is 1 and
    * the organic corpus has no pair above 0.98 (max ≈ 0.51), so the output
    * is exactly the DuckDB-computable planted set: a full value oracle on
    * LSH recall AND the cosine math. */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame =
    // planes = 0 (auto-scale), not a pinned 4: the auto rule resolves to
    // the SAME 4 planes at every small contract SF (≤ 2k vectors), but at
    // the sf1 corpus (20k) a pinned 4 put ~1250 vectors in each of the 16
    // buckets — past the 1000 cap, so the guard's deterministic truncation
    // dropped planted pairs (spark=1 vs oracle=20 at the r13 sf1 gate).
    // Auto picks 7 planes there and every bucket stays under cap; the
    // plants (cosine ≈ 0.994) survive the Hamming-1 probe either way.
    Dedup.embeddingPairs(embeddingsWithPlants(spark, dir), "vec_id", "embedding",
        threshold = 0.98, planes = 0, probe = true)
      .orderBy(col("id_a"), col("id_b"))

  /** Full dedup pipeline end-to-end: MinHash LSH pairs → connected
    * components → one representative per component; returns the kept doc
    * ids (the pipeline's actual deliverable). */
  def dedupKeeplist(spark: SparkSession, dir: String): DataFrame = {
    val docs = docsWithPlants(spark, dir)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.7)
    Dedup.keepList(docs, "doc_id", pairs)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Exact brute-force cosine top-5 for the first 10 vectors. */
  def knnBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** Relational Lloyd's k-means over the embeddings: deterministic
    * id-prefix init, one refinement iteration, per-vector cell + squared
    * distance. The full fit is value-checked — the oracle replays init,
    * argmin, means, and reassignment in SQL. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    Clustering.kmeansAssign(t(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 8, iters = 1)
      .orderBy(col("vec_id"))

  /** SemDeDup over the planted corpus: cluster, then within-cluster cosine
    * ≥ 0.95 pairs keeping the lower id. Plants guarantee recall is
    * observable; the oracle recomputes clustering AND pairing.
    *
    * BOUNDED SLICE (r17 verdict #3, the [[dedupNgram]] precedent): the
    * fixed-k=8 pin exists to value-check the Lloyd round + pairing math,
    * and fixed k is quadratic-by-design as cells grow with the corpus —
    * the r17 sf10 leg paid 1,172 s re-proving that documented bound. The
    * contract entry therefore runs on the base vectors (vec_id < 2000 —
    * the COMPLETE corpus at every oracle-gate SF, so gate values are
    * bit-identical to the unbounded form there) plus the plants; the
    * bare-corpus cost at scale stays measured by the linear measured-k
    * twin `semantic_dedup_auto`, which runs unbounded. */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    Clustering.semanticDedupPairs(
        embeddingsWithPlants(spark, dir)
          .where(col("vec_id") < 2000 || col("vec_id") >= PlantShift),
        "vec_id", "embedding", k = 8, iters = 1, tau = 0.95)
      .orderBy(col("kept_id"), col("dropped_id"))

  /** The MEASURED-k SemDeDup facade as a bench twin: k = ceil(n /
    * cellTarget) keeps the within-cell pairwise bound LINEAR (n ×
    * cellTarget) while the oracle-pinned fixed-k=8 contract entry above
    * goes quadratic as cells grow with the corpus (measured 16.3 s at
    * sf1's 20k vectors vs ~1 s here) — the deployment shape, benched so
    * the scale claim is a number, not a docblock (the knn_graph_nnd_rho
    * convention). Facade ≡ explicit-k is spec-pinned in ClusteringSpec;
    * memoized-fit entry ≡ direct facade is spec-pinned in PipelineSpec.
    *
    * r17 (verdict #5): the fit is SHARED under the train-once convention —
    * [[plantedKmeansFit]] memoizes the deterministic centroid table per
    * (dir, k, iters) and meters the training into `index_build_sec`, so
    * the query median measures what a deployment pays per CALL: one fused
    * assignment pass + within-cell pairing (the former shape re-ran the
    * full Lloyd fit — init sort, assignment, means — inside every call). */
  def semanticDedupAutoQ(spark: SparkSession, dir: String): DataFrame = {
    val df = embeddingsWithPlants(spark, dir)
    val n = df.count()
    require(n > 0, "semantic_dedup_auto needs a non-empty corpus")
    val k = Clustering.autoK(n, cellTarget = 1000)
    Clustering.semanticDedupPairsWith(df, "vec_id", "embedding",
        plantedKmeansFit(spark, dir, k, iters = 1), tau = 0.95)
      .orderBy(col("kept_id"), col("dropped_id"))
  }

  /** Embedding quality control over a corpus with PLANTED anomalies (the
    * organic synthetic embeddings are too well-behaved to flag): five
    * ×30-scaled copies (ids +2M) and one ×1000 extreme (id 3M). The
    * extreme is detectable under EVERY possible cluster arrangement —
    * isolated it trips the tiny-cell rule, grouped its distance dominates
    * any robust cutoff — so the entry always value-checks real rows. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings").select("vec_id", "embedding")
    def scaled(maxId: Int, factor: Double, shift: Long) =
      e.where(col("vec_id") < maxId)
        .select((col("vec_id") + shift).as("vec_id"),
          transform(col("embedding"),
            x => (x.cast("double") * factor).cast("float")).as("embedding"))
    val corpus = e
      .union(scaled(5, 30.0, 2000000L))
      .union(scaled(1, 1000.0, 3000000L))
    Clustering.embeddingOutliers(corpus, "vec_id", "embedding",
        k = 8, iters = 1, spread = 3.0, minCell = 8L)
      .orderBy(col("vec_id"))
  }

  /** Attribute-filtered exact search: same 10 probe queries as
    * knn_bruteforce, but neighbors must share the query's `label` — the
    * filter key is the join key, so each query scores one label slice. */
  def knnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    Similarity.filteredTopK(e.where(col("vec_id") < 10), e,
        "vec_id", "embedding", "label", k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** KMV distinct-count sketch in its EXACT regime: per-returnflag distinct
    * part keys over lineitem with k = 2¹⁸, far above every contract SF's
    * distinct parts (20k at sf0.1, ~200k at sf1), so the bounded sketch
    * provably equals COUNT(DISTINCT) and
    * DuckDB value-checks the whole pipeline (hash, flip, bounded heap,
    * partial-aggregate merges, estimate finisher). The sub-k ERROR regime
    * — the reason the sketch exists at 100 TB — is spec-tested with
    * measured relative error (KmvSpec), the same split as knn_ivf's
    * full-probe trick. */
  def distinctSketch(spark: SparkSession, dir: String): DataFrame = {
    // 2^18, not 2^17: the sf1 fixture has ~200k distinct partkeys and at
    // 2^17 the sketch legitimately dropped to its ESTIMATE regime there
    // (0.37% error — working as designed, but a gate exclusion). 2^18
    // keeps the provable exact regime at every contract SF including sf1;
    // the estimate regime stays spec-measured in KmvSpec (r12 verdict
    // item 4 companion fix).
    val k = 1 << 18
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        exprs.kmvEstimate(exprs.kmvSketch(col("l_partkey"), k), k)
          .cast("long").as("distinct_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Bucketized range join as a contract query: attribute events to 20
    * deterministic OVERLAPPING campaign windows (staggered 7919 s apart,
    * 12347 s wide, anchored at the corpus' min timestamp — an event can
    * fall in up to two windows) and aggregate per window. The join is
    * [[graft.operators.RangeJoin.pointInterval]] — bucket-keyed candidate
    * generation, never a cartesian — and DuckDB recomputes the identical
    * windows and a plain BETWEEN join for the value check. */
  def rangeJoinEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.events(spark, dir)   // nanos-parquet-safe reader
      .select(col("event_id"), col("ts").cast("long").as("ep"))
    val base = ev.agg(min(col("ep"))).collect().head.getLong(0)
    val windows = spark.range(0, 20).select(
      col("id").as("window_id"),
      (lit(base) + col("id") * 7919L).as("w_lo"),
      (lit(base) + col("id") * 7919L + 12347L).as("w_hi"))
    graft.operators.RangeJoin
      .pointInterval(ev, windows, "ep", "w_lo", "w_hi", bucketWidth = 4096L)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("id_sum"))
      .orderBy(col("window_id"))
  }

  /** KLL quantile sketch in its EXACT regime: per-language discrete
    * quantiles of document length with k = 2¹³, far above any language
    * group's row count at sf0.1 (5k docs total), so no compaction ever
    * fires and the bounded sketch provably equals SQL `quantile_disc` —
    * DuckDB value-checks the whole pipeline (level buffers, partial-merge
    * serialization, weighted quantile walk). The over-k ERROR regime — the
    * reason a quantile profile is O(k) memory at 100 TB instead of a full
    * sort — is spec-measured (KllSpec) and scale-probed at 6M rows. Probs
    * are exact binary fractions so ceil(p·n) cannot diverge between
    * engines on float rounding. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val k = 1 << 13
    val ps = Seq(0.25, 0.5, 0.75)
    t(spark, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        exprs.kllQuantiles(col("n_chars"), k, ps).as("qs"),
        count(lit(1)).as("n_rows"))
      .select(col("lang"),
        element_at(col("qs"), 1).as("q25"),
        element_at(col("qs"), 2).as("q50"),
        element_at(col("qs"), 3).as("q75"),
        col("n_rows"))
      .orderBy(col("lang"))
  }

  /** Interval-interval overlap join as a contract query: per-user DAILY
    * activity spans (min..max event epoch per user per day — ~1.5k/day
    * intervals of span < 86400 s) overlap-joined with 20 deterministic
    * maintenance windows (staggered 131071 s apart, 65537 s wide — covering
    * the fixture's full month), aggregated per window. The join is
    * [[graft.operators.RangeJoin.intervalOverlap]] — both sides explode to
    * ~4-6 bucket replicas at width 16384, pairs dedup by meet bucket —
    * and DuckDB recomputes identical spans/windows with a plain
    * `s_lo <= w_hi AND w_lo <= s_hi` join for the value check. */
  def intervalOverlapEvents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Queries.events(spark, dir)   // nanos-parquet-safe reader
      .select(col("user_id"), col("ts").cast("long").as("ep"))
    val base = ev.agg(min(col("ep"))).collect().head.getLong(0)
    val spans = ev
      .groupBy(col("user_id"),
        floor((col("ep") - base) / 86400.0).cast("long").as("day"))
      .agg(min(col("ep")).as("s_lo"), max(col("ep")).as("s_hi"))
    val windows = spark.range(0, 20).select(
      col("id").as("window_id"),
      (lit(base) + col("id") * 131071L).as("w_lo"),
      (lit(base) + col("id") * 131071L + 65537L).as("w_hi"))
    graft.operators.RangeJoin
      .intervalOverlap(spans, windows, "s_lo", "s_hi", "w_lo", "w_hi",
        bucketWidth = 16384L)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("user_id")).as("uid_sum"))
      .orderBy(col("window_id"))
  }

  /** Trained-index memo for the contract knn queries, keyed by sf dir:
    * training (KMeans coarse fit + m PQ sub-fits) happens once per corpus
    * and every later invocation is probe + search only — the FAISS
    * train-once / query-many shape, and exactly what the bench should
    * measure after round one. Correctness is unchanged: the index returns
    * the same plan results as the one-shot forms (same seed, same prefix
    * sample), and Verify runs each query once anyway. Indexes persist the
    * assigned/encoded corpus; bounded by the handful of bench sf dirs. */
  /** Wall nanos spent inside memo `build` blocks (index training, BPE
    * merge induction) since JVM start — monotone counter the bench reads
    * before/after each entry run to split one-time `index_build_sec` out
    * of the query median (a rounds=1 sf10 artifact otherwise charges
    * ~47 s of BPE training to bpe_encode's "query" cost). */
  val indexBuildNanos = new java.util.concurrent.atomic.AtomicLong(0L)

  private def meteredBuild[T](build: => T): T = {
    val t0 = System.nanoTime()
    try build finally indexBuildNanos.addAndGet(System.nanoTime() - t0)
  }

  private val ivfIndexes =
    scala.collection.concurrent.TrieMap.empty[String, (String, Similarity.IvfIndex)]
  private val ivfpqIndexes =
    scala.collection.concurrent.TrieMap.empty[String, (String, Similarity.IvfPqIndex)]
  private val lshIndexes =
    scala.collection.concurrent.TrieMap.empty[String, (String, Similarity.LshIndex)]
  private val bpeTables =
    scala.collection.concurrent.TrieMap.empty[String, (String, Seq[(String, String)])]
  private val minhashIndexes =
    scala.collection.concurrent.TrieMap.empty[String, (String, Dedup.MinhashIndex)]
  private val kmeansFits =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), (String, Seq[(Int, Seq[Double])])]

  /** Memoized deterministic k-means fit over the PLANTED embeddings —
    * pure driver data (k×dim doubles) keyed by (dir, k, iters) and stamped
    * by the embeddings parquet footer (the [[bpeTable]] discipline: no
    * session liveness to manage, rebuilt when the corpus changes under a
    * long-lived JVM). Training meters into [[indexBuildNanos]] like every
    * trained index. `kmeans_assign` stays UN-memoized on purpose — it IS
    * the fit benchmark and its oracle row pins the fit itself. */
  private def plantedKmeansFit(spark: SparkSession, dir: String,
                               k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    val st = graft.FixtureStamp.stamp(s"$dir/embeddings.parquet")
    val key = (dir, k, iters)
    kmeansFits.get(key) match {
      case Some((`st`, v)) => v
      case _ =>
        val cents = meteredBuild(Clustering.kmeansFit(
          embeddingsWithPlants(spark, dir), "vec_id", "embedding", k, iters))
        kmeansFits.put(key, (st, cents))
        cents
    }
  }

  /** The collected 8-merge BPE table per sf dir — the knn-index
    * train-once/query-many pattern applied to the induction that
    * [[bpeEncodeQ]] and [[tokenFertilityQ]] each re-paid in full (the
    * duplicate induction was ~2.7 s of token_fertility's 3.24 s at
    * sf0.1). The value is pure driver data (8 string pairs) derived from
    * the dir's parquet, NOT session-bound — no liveness/release to
    * manage, so a plain putIfAbsent publication suffices.
    * [[bpeMergesQ]] stays UN-memoized on purpose: it IS the induction
    * benchmark, and its oracle row pins the induction itself.
    *
    * Staleness (r14 watch item 2, closing the r12 ADVICE contract): the
    * memo key is the dir path but the entry carries a [[FixtureStamp]] of
    * the documents table (parquet-footer content hash, ~µs per lookup), so
    * a long-lived JVM that rewrites the dir in place REBUILDS instead of
    * serving the prior corpus's merge table — no [[clearIndexCaches]]
    * discipline required of embedders anymore (it remains the bulk
    * release hook). */
  private def bpeTable(spark: SparkSession, dir: String): Seq[(String, String)] = {
    val st = graft.FixtureStamp.stamp(s"$dir/documents.parquet")
    bpeTables.get(dir) match {
      case Some((`st`, v)) => v
      case _ =>
        val learned = meteredBuild(CorpusOps
          .bpeMerges(t(spark, dir, "documents"), "text", numMerges = 8)
          .collect().sortBy(_.getLong(0))
          .map(r => (r.getString(1), r.getString(2))).toSeq)
        bpeTables.put(dir, (st, learned))
        learned
    }
  }

  /** Memo lookup that REBUILDS instead of serving a handle whose owning
    * SparkSession has been stopped (its persisted frame is dead — a
    * restarted-session JVM would otherwise get plans bound to a dead
    * context) or whose SOURCE DATA changed (each entry carries a
    * [[FixtureStamp]] of the table it was trained on, so a long-lived JVM
    * that rewrites a dir in place retrains instead of serving the prior
    * corpus — r14 watch item 2). Result replacement is idempotent under
    * races (both builders produce equivalent live handles), but STORAGE is
    * not: each build persists a corpus frame, so whichever handle loses a
    * race — or goes stale while still live — must be released, not just
    * overwritten. Publication is putIfAbsent / replace, freeing the loser. */
  private def liveMemo[T](m: scala.collection.concurrent.TrieMap[String, (String, T)],
                          dir: String, stampPath: String,
                          live: T => Boolean, release: T => Unit,
                          build: => T): T = {
    val st = graft.FixtureStamp.stamp(stampPath)
    def free(h: T): Unit = try release(h) catch { case _: Throwable => () }
    m.get(dir) match {
      case Some((`st`, h)) if live(h) => h // fresh hit
      case _ =>
        val v = meteredBuild(build)
        val entry = (st, v)
        m.putIfAbsent(dir, entry) match {
          case None => v // we published first
          case Some(e @ (est, eh)) =>
            if (est == st && live(eh)) { free(v); eh } // lost to a live same-stamp winner
            else if (m.replace(dir, e, entry)) {
              if (live(eh)) free(eh) // evicted a live-but-stale handle
              v
            } else m.get(dir) match {
              case Some((`st`, h2)) if live(h2) => free(v); h2 // racer swapped in first
              case _ => m.put(dir, entry); v // slot churned; last write wins
            }
        }
    }
  }

  /** Release every trained-index cache (unpersist the backing frames, drop
    * the handles). Wired into Bench teardown so a long-lived session
    * embedding these query paths can't accumulate persisted corpora; safe
    * to call any time — the next query simply retrains. */
  def clearIndexCaches(): Unit = {
    def drain[T](m: scala.collection.concurrent.TrieMap[String, (String, T)])
                (release: T => Unit): Unit = {
      m.keys.foreach(k => m.remove(k).foreach { case (_, h) =>
        try release(h) catch { case _: Throwable => () }  // dead session: drop
      })
    }
    drain(ivfIndexes)(i => if (i.isLive) i.unpersist())
    drain(ivfpqIndexes)(i => if (i.isLive) i.unpersist())
    drain(lshIndexes)(i => if (i.isLive) i.unpersist())
    drain(minhashIndexes)(i => if (i.isLive) i.unpersist())
    bpeTables.clear()  // plain driver data, nothing to release
    kmeansFits.clear() // plain driver data, nothing to release
  }

  /** Full-probe IVF top-5 (nprobe = nlist ⇒ provably ≡ brute force, the
    * DuckDB-checkable configuration) via the cached [[Similarity.ivfIndex]]. */
  def knnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    liveMemo(ivfIndexes, dir, s"$dir/embeddings.parquet",
        (_: Similarity.IvfIndex).isLive,
        (_: Similarity.IvfIndex).unpersist(),
        Similarity.ivfIndex(e, "vec_id", "embedding", nlist = 16))
      .topK(e.where(col("vec_id") < 10), k = 5, nprobe = 16)
      .orderBy("query_id", "rank")
  }

  /** Full-probe + unbounded-re-rank IVF-PQ top-5 (≡ brute force, DuckDB-
    * checkable) via the cached [[Similarity.ivfpqIndex]]. */
  def knnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    liveMemo(ivfpqIndexes, dir, s"$dir/embeddings.parquet",
        (_: Similarity.IvfPqIndex).isLive,
        (_: Similarity.IvfPqIndex).unpersist(),
        Similarity.ivfpqIndex(e, "vec_id", "embedding", nlist = 16,
          m = 8, ksub = 16))
      .topK(e.where(col("vec_id") < 10), k = 5, nprobe = 16,
        rerankDepth = 1 << 20)
      .orderBy("query_id", "rank")
  }

  /** Approximate LSH top-5 over the PLANTED corpus, reporting each query's
    * rank-1 hit. The planted near-duplicate (cosine ≈ 0.994, far above any
    * organic neighbor) differs from its query by at most a couple of
    * hyperplane sign bits, so radius-2 multi-probe LSH must surface it at
    * rank 1 (radius 1 missed one plant at sf0.1 — a deterministic 2-bit
    * split): the output is DuckDB-computable from the plant arithmetic,
    * value-checking recall AND the verified cosine. Full top-5 is still
    * computed (and ranked) before the rank-1 projection, so the whole LSH
    * path executes. */
  def knnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddingsWithPlants(spark, dir)
    liveMemo(lshIndexes, dir, s"$dir/embeddings.parquet",
        (_: Similarity.LshIndex).isLive,
        (_: Similarity.LshIndex).unpersist(),
        Similarity.lshIndex(e, "vec_id", "embedding"))
      .topK(e.where(col("vec_id") < 10), k = 5, probeRadius = 2)
      .where(col("rank") === 1)
      .orderBy(col("query_id"))
  }

  /** Exact k-NN GRAPH over a bounded slice (vec_id < 500 — the dedup_ngram
    * sf-invariant-slice convention for deliberately-quadratic exact
    * branches): rank-5 cosine neighbors for every node. The DuckDB-
    * checkable ground truth whose approximate twin is the NN-descent
    * bench/spec path ([[graft.operators.Similarity.nnDescent]]). */
  def knnGraphQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.knnGraph(
        t(spark, dir, "embeddings").where(col("vec_id") < 500),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))

  /** NN-descent approximate k-NN graph over the FULL embeddings corpus —
    * the 100-TB graph-construction shape (LSH-seeded, local-join rounds,
    * nothing broadcast): bench twin; recall vs the exact graph is
    * spec-pinned in RandomProjectSpec. */
  def knnGraphNndQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.nnDescent(t(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))

  /** The NN-descent graph at the MEASURED production sample rate (ρ = 0.7
    * — BASELINE.md r14: 19% cheaper at identical 0.921 sampled recall at 20k
    * nodes; candidate volume ∝ ρ²): the knob a 100-TB deployment actually
    * runs, benched as a twin so [[knnGraphNndQ]]'s full-ρ number stays the
    * longitudinal reference. Recall at ρ=0.7 is spec-gated at corpus
    * scale alongside the default-knob floor (RandomProjectSpec). */
  def knnGraphNndRhoQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.nnDescent(t(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 5, rho = 0.7)
      .orderBy(col("query_id"), col("rank"))

  /** The NN-descent graph with the MEASURED scale-aware seed bucket count
    * ([[graft.operators.Similarity.nnDescentAuto]]): 12 LSH planes at 20k+
    * nodes (the coarse 8-plane seed is the biggest wall chunk and its
    * candidate volume grows with n; the fine seed costs 1.9 s vs 10.5 s
    * and four rounds recover recall 0.992 vs 0.991), 8 planes below.
    * Identical plan to [[knnGraphNndQ]] on gate-scale corpora; the sf1
    * bench shows the deployment win. */
  def knnGraphNndAutoQ(spark: SparkSession, dir: String): DataFrame =
    Similarity.nnDescentAuto(t(spark, dir, "embeddings"),
        "vec_id", "embedding", k = 5)
      .orderBy(col("query_id"), col("rank"))

  /** Banded-Hamming perceptual-hash pair finding
    * ([[graft.multimodal.Multimodal.imageNearDupPairs]]) made DuckDB-
    * checkable: the DECODE step can't replay in SQL, so the hashes are
    * synthetic — a deterministic 60-bit value per doc_id (15 md5 hex
    * nibbles; 60 not 64 so the band3·2^48 recombination can never overflow
    * a signed long in either engine) — with planted neighbors at exactly
    * 1/2/3 flipped bits (doc_id % 3 cycles the masks; +PlantShift ids) and
    * a REJECT plant at Hamming 16 (band1 fully flipped: shares bands
    * 0/2/3, so it IS a banded candidate and must be popcount-rejected —
    * the verify path is value-exercised, not just the happy path).
    *
    * Oracle trick: for maxBits ≤ 3 the 4×16 banding is recall-LOSSLESS
    * (pigeonhole — ≤3 differing bits can't touch all 4 bands), so the
    * engine's banded-join output set EQUALS the brute-force all-pairs
    * popcount filter, which is what the DuckDB side computes. */
  def mediaHashPairsQ(spark: SparkSession, dir: String): DataFrame = {
    val hash60 = conv(substring(
      md5(col("doc_id").cast("string")), 1, 15), 16, 10).cast("long")
    val base = t(spark, dir, "documents")
      .select(col("doc_id").as("media_id"), hash60.as("ahash"))
    // two-step selects: the Spark 4 lateral-alias hazard (see
    // embeddingsWithPlants) — the mask must key on the ORIGINAL id
    val near = base.where(col("media_id") < 20)
      .select(col("media_id").as("orig_id"), col("ahash"))
      .select(
        (col("orig_id") + PlantShift).as("media_id"),
        col("ahash").bitwiseXOR(
          when(col("orig_id") % 3 === 0, lit(1L))                 // 1 bit
            .when(col("orig_id") % 3 === 1, lit(131073L))         // bits 0,17
            .otherwise(lit(17180000257L))).as("ahash"))           // 0,17,34
    val far = base.where(col("media_id") < 10)
      .select(col("media_id").as("orig_id"), col("ahash"))
      .select(
        (col("orig_id") + 2L * PlantShift).as("media_id"),
        col("ahash").bitwiseXOR(lit(4294901760L)).as("ahash"))    // band1
    graft.multimodal.Multimodal
      .imageNearDupPairs(base.union(near).union(far), maxBits = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }
}
