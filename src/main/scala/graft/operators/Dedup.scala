package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}

import graft.functions.{exprs, minhashExprs, TextFunctions}

/** Deduplication operators for training-data pipelines — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-bounded by a *key* (hash, band,
  * simhash prefix, LSH bucket) — never an all-pairs comparison. Candidate
  * generation is a hash-partitioned self-join on the bucket key; only
  * within-bucket pairs are verified. That is the standard web-scale recipe
  * (MinHashLSH as in Broder '97 / the Spark ML implementation's band trick)
  * and holds at 100 TB: cost ~ O(docs × signature) + O(bucket pair counts).
  */
object Dedup {

  // cached signature frames live for the session unless released; long
  // sessions running many dedup pipelines should call unpersistAll()
  private val cachedFrames = scala.collection.mutable.ArrayBuffer[DataFrame]()
  private[graft] def track(df: DataFrame): DataFrame =
    cachedFrames.synchronized { cachedFrames += df; df }
  private[graft] def trackedSnapshot: List[DataFrame] =
    cachedFrames.synchronized { cachedFrames.toList }

  /** Release every signature cache created by the LSH pipelines — ALL of
    * them, across every pipeline built so far in this session. Call only
    * after all outstanding dedup results are materialized: unpersisting a
    * frame another in-flight pipeline still references forces it to
    * recompute (correct, but slow). Single-threaded bench/ETL usage is the
    * intended pattern; concurrent pipelines should own their frames. */
  def unpersistAll(): Unit = cachedFrames.synchronized {
    cachedFrames.foreach(_.unpersist())
    cachedFrames.clear()
  }

  /** Run `body` with SCOPED cache ownership: every frame the dedup /
    * sampling pipelines register via track() DURING body is unpersisted
    * (and dropped from the session registry) when body completes —
    * normally or exceptionally — leaving frames tracked OUTSIDE the scope
    * untouched. This is the library-caller form of [[unpersistAll]]
    * (which is the bench loop's session-global hammer): a caller composes
    * pipelines, materializes results inside the scope, and leaks nothing.
    * Materialize before the scope closes — an unmaterialized frame
    * recomputes after release (correct, but slow). Scopes nest LIFO;
    * like the registry itself, single-threaded usage is the contract. */
  def withCaches[A](body: => A): A = {
    val mark = cachedFrames.synchronized { cachedFrames.length }
    try body
    finally {
      val added = cachedFrames.synchronized {
        if (cachedFrames.length > mark) {
          val xs = cachedFrames.slice(mark, cachedFrames.length).toList
          cachedFrames.remove(mark, cachedFrames.length - mark)
          xs
        } else Nil
      }
      added.foreach(_.unpersist())
    }
  }

  // ---------------------------------------------------------------- exact

  /** Exact dedup on arbitrary key columns: one row per group with the
    * surviving (minimum) id and the duplicate count. */
  def exactGroups(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** Exact near-dup on normalized text (case/punct/whitespace-insensitive):
    * groups by md5(normalized). */
  def exactTextGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprintMd5(col(textCol)).as("text_hash"))
      .groupBy(col("text_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_cnt"))

  /** `dropDuplicates` semantics, keeping the min-id row per key — exact
    * semantics without relying on Spark's arbitrary-row choice. */
  def dedupKeepMin(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val keep = df.groupBy(keyCols.map(col): _*).agg(min(col(idCol)).as(idCol))
    df.join(keep, keyCols :+ idCol, "left_semi")
  }

  /** Corpus-wide line-level dedup (CCNet-style paragraph dedup,
    * github.com/facebookresearch/cc_net's `dedup` stage semantics): every
    * non-empty line keeps only its FIRST corpus occurrence (ordered by
    * (id, line_no)); later occurrences — boilerplate headers, footers,
    * repeated paragraphs — are removed and the documents reassembled.
    * Returns one row per input document: (id, clean_text, n_lines_kept),
    * with clean_text = '' when every line was a duplicate.
    *
    * Scale shape: lines are keyed by their 64-bit xxhash64 (8-byte shuffle
    * keys instead of full line bodies; distinct-line identity is exact
    * barring a 64-bit collision — the standing kernel premise). The
    * first-occurrence choice is a partial-aggregable `min(struct(id,
    * line_no))` groupBy, NOT a row_number window: a boilerplate line
    * present in every document is the hot key by construction, and the
    * map-side combine collapses it to one row per task where a window
    * would buffer the entire corpus's copies in a single reducer.
    * Reassembly is one more hash agg keyed on the doc id. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("line_no", "line")))
      .where(length(trim(col("line"))) > 0)
      .withColumn("line_h", xxhash64(col("line")))
    val firsts = lines.groupBy(col("line_h"))
      .agg(min(struct(col(idCol).as("fid"), col("line_no").as("fno")))
        .as("first_occ"))
    // the join shuffles on line_h — the exact partitioning the aggregate
    // just produced, so the firsts side reuses its exchange
    val kept = lines.join(firsts, "line_h")
      .where(col("first_occ.fid") === col(idCol) &&
        col("first_occ.fno") === col("line_no"))
    val assembled = kept.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("line_no"), col("line"))))
        .as("ls"))
      .select(col(idCol), array_join(col("ls.line"), "\n").as("clean_text"),
        size(col("ls")).cast("long").as("n_lines_kept"))
    // documents whose every line was a duplicate fall out of the aggregate;
    // reattach them with empty text so output stays one row per input doc
    df.select(col(idCol)).join(assembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"))
  }

  // ------------------------------------------------------------- shingles

  /** Word w-shingles (default w=3) of normalized text. */
  def shingles(text: Column, w: Int = 3): Column = {
    val toks = TextFunctions.tokens(TextFunctions.normalized(text))
    when(size(toks) < w, array(concat_ws(" ", toks)))
      .otherwise(transform(sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w)))))
  }

  // -------------------------------------------------------- MinHash + LSH

  /** LSH band keys: signature split into `bands` bands of `rows` values,
    * each hashed — docs sharing any band key are candidates. */
  def bandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), xxhash64(slice(sigCol, b * rows + 1, lit(rows))).as("bkey")))

  /** Candidate near-dup pairs via MinHash LSH, verified with exact Jaccard
    * over the shingle sets. Returns (id_a, id_b, jaccard) with id_a < id_b
    * and jaccard >= threshold.
    *
    * Plan shape: explode bands (docs × bands rows) → self-join on
    * (band, bkey) hash keys → distinct pairs → verify by joining shingle
    * arrays back (both sides shuffled by id — bounded by candidate count,
    * not |docs|²).
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, bucketCap: Int = 1000): DataFrame = {
    val rows = numHashes / bands
    // Fused custom kernels (ShingleSet / MinHashSig): the HOF-composed
    // pipeline is CodegenFallback-interpreted and ~50x slower (21s vs <1s to
    // sign 5k docs). Cached because the frame is consumed three times (band
    // explode + both verification sides); at production scale this
    // materialization would be a checkpoint to storage.
    val withSig = df.select(
      col(idCol).as("id"),
      minhashExprs.wordShingleSet(col(textCol), 3).as("sh"))
      .withColumn("sig", minhashExprs.minhashSig(col("sh"), numHashes))
      .cache()
    verifiedPairs(track(withSig), bands, rows, threshold, numHashes,
      bucketCap, "minhash")
  }

  /** Train-once MinHash signature index for INCREMENTAL batch dedup — the
    * text sibling of [[Similarity.lshIndex]]'s handle convention, and the
    * batch form of [[graft.streaming.NearDupIngest]]'s stream-static state
    * join: sign and band the standing corpus ONCE, then each increment
    * ("today's crawl") signs only itself and meets the stored bands in one
    * equi-join — the standing corpus is never re-shingled per batch.
    * Within-increment duplicates remain [[minhashPairs]]' job on the
    * increment alone (division of labor; compose both for a full gate).
    *
    * Cache ownership: with `cache = true` (the default) the two index
    * frames are cached OUTSIDE the session-wide [[Dedup]] registry — they
    * are owned by the returned handle and survive [[unpersistAll]] /
    * [[withCaches]] by design (a tracked cache would be evicted between
    * queries, silently retraining the "train-once" index on every
    * `pairsAgainst` call). The caller MUST release them via
    * [[MinhashIndex.unpersist]] when done; a handle built and dropped
    * without it leaks both cached frames until session end.
    *
    * Scale shape (100 TB): the index is two columnar frames — (id, sh,
    * sig) and the capped (id, band, bkey) — that a production deployment
    * persists as tables (exactly NearDupIngest's `sigs`/`bands` state
    * layout); per increment the work is one band equi-join (increment-
    * sized left side), the signature-estimate prefilter, and exact
    * verification on the survivors. Both band sides are bucket-capped so
    * a degenerate bucket cannot go quadratic. */
  def minhashIndex(corpus: DataFrame, idCol: String, textCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   bucketCap: Int = 1000, cache: Boolean = true): MinhashIndex = {
    require(numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rows = numHashes / bands
    val signed0 = corpus.select(
        col(idCol).as("id"),
        minhashExprs.wordShingleSet(col(textCol), 3).as("sh"))
      .withColumn("sig", minhashExprs.minhashSig(col("sh"), numHashes))
    // Cached WITHOUT track(): the index's frames are owned by the returned
    // handle (release via MinhashIndex.unpersist()), exactly the
    // Similarity.lshIndex convention — a tracked cache would be evicted by
    // the session-wide unpersistAll() between queries, silently turning the
    // train-once contract into full retraining on every pairsAgainst call.
    val signed = if (cache) signed0.cache() else signed0
    val banded0 = ScaleOps.capBuckets(
      signed
        .select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey")),
      Seq("band", "bkey"), bucketCap, "minhash_index")
    val banded = if (cache) banded0.cache() else banded0
    new MinhashIndex(signed, banded, numHashes, bands, rows, bucketCap)
  }

  /** Standing-corpus MinHash index handle — see [[minhashIndex]]. */
  final class MinhashIndex private[Dedup](
      signed: DataFrame, banded: DataFrame, numHashes: Int, bands: Int,
      rowsPerBand: Int, bucketCap: Int) {
    /** Cross near-dup pairs between the INDEXED corpus and an increment:
      * (id_a = indexed id, id_b = incoming id, jaccard ≥ threshold) —
      * exact set Jaccard after the standard two-stage verification. */
    def pairsAgainst(incoming: DataFrame, idCol: String, textCol: String,
                     threshold: Double = 0.7): DataFrame = {
      val inSigned = track(incoming.select(
          col(idCol).as("id"),
          minhashExprs.wordShingleSet(col(textCol), 3).as("sh"))
        .withColumn("sig", minhashExprs.minhashSig(col("sh"), numHashes))
        .cache())
      val inBanded = ScaleOps.capBuckets(
        inSigned
          .select(col("id"),
            explode(bandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
          .select(col("id"), col("bk.band").as("band"),
            col("bk.bkey").as("bkey")),
        Seq("band", "bkey"), bucketCap, "minhash_index_incoming")
      val candidates = banded.alias("a")
        .join(inBanded.alias("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      candidates
        .join(signed.select(col("id").as("id_a"), col("sh").as("sh_a"),
          col("sig").as("sig_a")), "id_a")
        .join(inSigned.select(col("id").as("id_b"), col("sh").as("sh_b"),
          col("sig").as("sig_b")), "id_b")
        .where(minhashExprs.arrayAgreeCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes >= threshold - 0.2)
        .withColumn("inter",
          minhashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
        .withColumn("jaccard",
          when(size(col("sh_a")) + size(col("sh_b")) - col("inter") === 0, 0.0)
            .otherwise(col("inter").cast("double")
              / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }
    /** Release the index's persisted frames. */
    def unpersist(): Unit = { signed.unpersist(); banded.unpersist(); () }
    /** False once the owning SparkSession is stopped (memoized handles
      * must rebuild, not serve dead cached frames). */
    def isLive: Boolean = !signed.sparkSession.sparkContext.isStopped
  }

  /** Shared LSH candidate generation + two-stage verification:
    * band self-join → signature-estimate prefilter (O(numHashes) per pair)
    * → exact set Jaccard (sorted-merge intersect kernel) only for
    * survivors. The estimate margin (0.2) keeps prefilter recall near 1 for
    * pairs at the threshold.
    *
    * Bucket guard: band buckets larger than `bucketCap` are dropped (and
    * the dropped volume observed/logged) BEFORE the self-join — a
    * degenerate bucket of near-identical/empty docs would otherwise emit
    * O(n²) candidates. Literally-identical documents are the exact-dedup
    * operator's job ([[exactTextGroups]]), which catches them in one hash
    * aggregation regardless of this cap. */
  /** Broadcast-gate default for the verification-shape routing: below it
    * the planner broadcast-joins the signature side, so the classic
    * candidate-distinct shape is optimal regardless of candidate volume.
    * Same 128 MB figure as the NN-descent vector gate. */
  private[graft] val SideBroadcastBytes: Long = 128L * 1024 * 1024

  /** Two-step MEASURED routing between the classic candidate-distinct
    * verification shape and the bucket-local join shape (r18).
    *
    * Step 1 — side bytes (one agg over the caller-cached signature frame):
    * a broadcastable side (≤ `bound`) makes the classic shape free of wide
    * exchanges — always classic.
    * Step 2 — predicted exchange bytes (one narrow occupancy agg over the
    * cached band frame, only paid by large corpora): classic exchanges
    * ~candidateBound × 2 arrays; bucket-local exchanges ~bucketRows × one
    * (sh + sig) row. The candidate bound is Σ C(m,2) for the self-join
    * path or Σ m·min(m−1, reps) for the anchored path. Neither shape
    * dominates — the gate exists because the measured sf10 table splits
    * (convention; the shape-gate evidence of OPTIMIZATION_r18.md):
    *
    *   char-ngram 4×8: classic 124 GB vs bucket-local 2.7 GB → BL
    *     (measured 971 s → 192 s); word-minhash 16×4: classic 4.4 GB vs
    *     bucket-local 7.8 GB → classic (measured 30 s classic, 764 s BL —
    *     the selective banding emits few candidates, while 16 bands of
    *     wide rows and raw C(m,2) re-pairing are exactly the wrong trade).
    *
    * Both shapes return the same verified pair set row-for-row (symmetric
    * deterministic verification ⇒ distinct-after-verify ≡
    * verify-after-distinct; spec-pinned), so the gate is purely a cost
    * decision. */
  private object Shape {
    val ClassicBroadcast = 0 // side fits the gate: classic + explicit hint
    val ClassicShuffle = 1   // side too big, but candidates are the cheaper exchange
    val BucketLocal = 2      // candidate exchange dominates: verify in the bucket join
  }

  private def verificationShape(withSig: DataFrame, exploded: DataFrame,
                                numHashes: Int, anchorReps: Option[Int],
                                bound: Long): Int = {
    // bound ≤ 0 forces the bucket-local shape outright (the spec's
    // both-branches equality pin; also an ops escape hatch) — a positive
    // bound always routes on the measurements below
    if (bound <= 0L) return Shape.BucketLocal
    val r = withSig.agg(count(lit(1)),
      coalesce(sum(size(col("sh"))), lit(0L))).head
    val n = r.getLong(0)
    val tot = r.getLong(1)
    val sideBytes = n * (numHashes * 8L + 32L) + tot * 8L
    // side fits the gate → classic with an EXPLICIT broadcast hint: the
    // gate has measured what the planner can only estimate, and the
    // sizing aggregation itself materializes the cache, handing the
    // planner accurate (too-big-for-auto-broadcast) stats that would
    // otherwise flip these joins to SMJ (measured at sf1: 16 MB of
    // shuffle with the hint vs 247 MB and +40%% wall without)
    if (sideBytes <= bound) Shape.ClassicBroadcast
    else {
      val candCol = anchorReps match {
        case Some(reps) => sum(col("m") * least(col("m") - 1, lit(reps.toLong)))
        case None => sum((col("m") * (col("m") - 1) / 2).cast("long"))
      }
      val o = exploded.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("m"))
        .agg(coalesce(sum(col("m")), lit(0L)).as("rows"),
          coalesce(candCol, lit(0L)).as("cand")).head
      val bucketRows = o.getLong(0)
      val cand = o.getLong(1)
      val avgShBytes = 8.0 * tot / math.max(n, 1L)
      val classicBytes = cand * 2.0 * avgShBytes
      val bucketLocalBytes = bucketRows * (avgShBytes + numHashes * 8.0 + 48.0)
      if (classicBytes > bucketLocalBytes) Shape.BucketLocal
      else Shape.ClassicShuffle
    }
  }

  private def verifiedPairs(withSig: DataFrame, bands: Int, rows: Int,
                            threshold: Double, numHashes: Int,
                            bucketCap: Int, tag: String): DataFrame =
    verifiedPairsImpl(withSig, bands, rows, threshold, numHashes, bucketCap,
      tag, SideBroadcastBytes)

  private[graft] def verifiedPairsImpl(withSig: DataFrame, bands: Int,
                            rows: Int, threshold: Double, numHashes: Int,
                            bucketCap: Int, tag: String,
                            sideBroadcastBound: Long): DataFrame = {
    // cached: the capped band frame feeds BOTH sides of the self-join, and
    // the bucket-count window (sort + shuffle) must not run twice
    val exploded = track(ScaleOps.capBuckets(
      withSig
        .select(col("id"), explode(bandKeys(col("sig"), bands, rows)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey")),
      Seq("band", "bkey"), bucketCap, tag).cache())
    // MEASURED verification-shape routing (r18). Below the broadcast gate
    // the classic shape — distinct the (id_a, id_b) candidate list, then
    // join each side's (sh, sig) back on — is optimal: the planner
    // broadcast-joins the signature side, the wide arrays are never
    // exchanged, and every pair is intersected exactly once (measured
    // 2.3 s dedup_ngram_lsh at sf0.1; a premature unconditional
    // bucket-local rewrite read 5.9 s there). ABOVE the gate that shape
    // exchanges candidate-volume × array-width, which is corpus-
    // SUPER-linear when organic band collisions pile buckets up (sf10
    // evidence accepted in OPTIMIZATION_r18.md: the anchored sibling read 32M distinct candidates and ~80 GB of
    // exchange at sf10 — 971 s; the C(m,2) self-join here is strictly
    // denser, 1,299 s). There the BUCKET-LOCAL shape wins: attach the
    // arrays ONCE per bucket-row (bucket_rows ≈ bands·n, corpus-linear),
    // pair inside the (band, bkey) join — the identical subplan on both
    // sides collapses to one shuffle + ReusedExchange — and stream the
    // verification filter pipelined over the join output with no wide
    // exchange. Cross-band duplicate pair instances are then re-verified
    // instead of distinct'd away: the O(numHashes) signature prefilter
    // runs first (~5× cheaper than the intersect it gates), and
    // verification is symmetric + deterministic, so distinct-after-verify
    // ≡ verify-after-distinct — BOTH SHAPES RETURN THE SAME PAIR SET
    // row-for-row (spec-pinned).
    val shape = verificationShape(withSig, exploded, numHashes,
      anchorReps = None, bound = sideBroadcastBound)
    if (shape != Shape.BucketLocal) {
      val a = exploded.alias("a")
      val b = exploded.alias("b")
      val candidates = a.join(b,
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        .distinct()
      verifyShingleCandidates(candidates, withSig, threshold, numHashes,
        broadcastSide = shape == Shape.ClassicBroadcast)
    } else {
      val side = withSig.select(col("id"), col("sh"), col("sig"))
      val memberSh = exploded.join(side, "id")
      val left = memberSh.select(col("band"), col("bkey"),
        col("id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a"))
      val right = memberSh.select(col("band"), col("bkey"),
        col("id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b"))
      left.join(right, Seq("band", "bkey"))
        .where(col("id_a") < col("id_b"))
        .where(minhashExprs.arrayAgreeCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes >= threshold - 0.2)
        .withColumn("inter",
          minhashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
        .withColumn("jaccard",
          when(size(col("sh_a")) + size(col("sh_b")) - col("inter") === 0, 0.0)
            .otherwise(col("inter").cast("double")
              / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))))
        .where(col("jaccard") >= threshold)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
        .distinct()
    }
  }

  /** Exact-Jaccard verification of an (id_a, id_b) candidate frame against
    * the cached (id, sh, sig) signature side: a cheap signature-agreement
    * prefilter (codegen array compare at threshold − 0.2 slack — minhash
    * agreement is an unbiased Jaccard estimate, so the slack keeps false
    * rejections negligible) ahead of the exact sorted-merge intersection.
    * Shared by every banded pair/cluster path. */
  private[graft] def verifyShingleCandidates(candidates: DataFrame, withSig: DataFrame,
                                      threshold: Double, numHashes: Int,
                                      broadcastSide: Boolean = false): DataFrame = {
    // broadcastSide: set by the shape gate when the side is MEASURED to
    // fit the broadcast bound — the explicit hint matters because the
    // gate's own sizing aggregation materializes the cache, whose accurate
    // stats otherwise push the planner to SMJ for a side that broadcasts
    // fine (see verificationShape)
    val side0 = withSig.select(col("id"), col("sh"), col("sig"))
    val side = if (broadcastSide) broadcast(side0) else side0
    candidates
      .join(side.select(col("id").as("id_a"), col("sh").as("sh_a"), col("sig").as("sig_a")), "id_a")
      .join(side.select(col("id").as("id_b"), col("sh").as("sh_b"), col("sig").as("sig_b")), "id_b")
      .where(minhashExprs.arrayAgreeCount(col("sig_a"), col("sig_b")).cast("double") / numHashes
        >= threshold - 0.2)
      .withColumn("inter", minhashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        when(size(col("sh_a")) + size(col("sh_b")) - col("inter") === 0, 0.0)
          .otherwise(col("inter").cast("double")
            / (size(col("sh_a")) + size(col("sh_b")) - col("inter"))))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Benchmark DECONTAMINATION: for every corpus document, the benchmark
    * documents it shares at least `minShared` distinct word `w`-shingles
    * with — the standard check that evaluation data has not leaked into a
    * training corpus. Returns (doc_id, bench_id, n_shared).
    *
    * Plan shape: both sides explode to (id, shingle-hash) and meet in ONE
    * equi-join keyed on the hash — shuffle volume is the shingle count,
    * never |corpus|×|benchmark|. The benchmark side is typically small
    * enough that the planner broadcasts it. Shingles are the fused kernel's
    * 64-bit hashes ([[graft.functions.minhashExprs.wordShingleSet]] — the
    * HOF string pipeline is CodegenFallback-interpreted and measured ~4×
    * slower here); the distinct-intersection COUNT is identical to the
    * string-set count barring a 64-bit collision, which keeps the result
    * DuckDB-oracle-checkable via plain string sets. */
  def crossNgramOverlap(corpus: DataFrame, benchmark: DataFrame,
                        idCol: String, textCol: String,
                        w: Int = 3, minShared: Int = 5): DataFrame = {
    def side(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      explode(minhashExprs.wordShingleSet(col(textCol), w)).as("sh"))
    side(corpus, "doc_id")
      .join(side(benchmark, "bench_id"), "sh")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))   // distinct per doc ⇒ count = |∩|
      .where(col("n_shared") >= minShared)
  }

  /** [[crossNgramOverlap]] with a Bloom prefilter on the corpus side — the
    * shape to reach for when the corpus is 100 TB and the benchmark is not:
    * the plain equi-join shuffles EVERY corpus shingle, but almost none of
    * them exist on the benchmark side, so a benchmark-keyed Bloom filter
    * ([[ScaleOps.bloomFor]] — built distributed, probed inside whole-stage
    * codegen) drops the non-candidates before the exchange. Result is
    * PROVABLY identical to the exact operator: the filter has zero false
    * negatives by construction, and its false positives (rate `fpp`) are
    * eliminated by the exact join that still follows. Shuffle volume falls
    * from |corpus shingles| to |true matches| + fpp·|corpus shingles|.
    *
    * The benchmark side is traversed twice (filter build + join); it is
    * cached via [[track]] for the session like the LSH signature frames. */
  def crossNgramOverlapBloom(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             w: Int = 3, minShared: Int = 5,
                             fpp: Double = 0.01): DataFrame = {
    def side(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      explode(minhashExprs.wordShingleSet(col(textCol), w)).as("sh"))
    val bench = track(side(benchmark, "bench_id").persist())
    val benchSh = bench.select(col("sh")).distinct()
    // eager count on the SMALL side only — it sizes the filter
    val nBench = benchSh.count()
    val bloom = ScaleOps.bloomFor(benchSh, "sh", math.max(nBench, 1L), fpp)
    side(corpus, "doc_id")
      .where(bloom.mightContain(col("sh")))
      .join(bench, "sh")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Size-adaptive decontamination facade over [[crossNgramOverlap]] /
    * [[crossNgramOverlapBloom]]. The bloom prefilter only pays off when the
    * corpus dwarfs the benchmark — its build is a fixed full pass over the
    * benchmark shingles, and at corpus ≈ benchmark scale the exact join is
    * measured 2.2× faster (sf0.1, BASELINE.md r6) — so a pipeline author
    * picking blind can pick wrong in either direction. This branches on
    * MEASURED side sizes: bloom iff corpus ≥ `bloomRatio` × benchmark, with
    * sizes read from optimizer plan statistics (free — no job — for file
    * sources) and falling back to one count per side when either plan
    * carries only the default sentinel estimate. Both branches return
    * provably identical results (the filter is lossless; oracle-shared in
    * the contract), so the branch is purely a cost decision. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, w: Int = 3,
                    minShared: Int = 5, bloomRatio: Double = 8.0): DataFrame = {
    val key = (corpus.queryExecution.optimizedPlan.canonicalized.hashCode,
               benchmark.queryExecution.optimizedPlan.canonicalized.hashCode,
               bloomRatio)
    val useBloom = decisionsFor(corpus.sparkSession).getOrElseUpdate(
      key, preferBloom(corpus, benchmark, bloomRatio))
    if (useBloom)
      crossNgramOverlapBloom(corpus, benchmark, idCol, textCol, w, minShared)
    else crossNgramOverlap(corpus, benchmark, idCol, textCol, w, minShared)
  }

  /** Memo for [[decontaminate]]'s branch choice: per-SESSION inner maps
    * keyed by (canonicalized corpus plan, canonicalized benchmark plan,
    * ratio) — a pipeline calling the facade per batch over the same two
    * tables pays the size probe once, not per call. The outer map holds the
    * session by WEAK reference: a stopped, dereferenced session's entries
    * vanish with the session object itself, so a long-lived JVM cycling
    * sessions can't accumulate dead entries, and — unlike an
    * identityHashCode key, which the JVM may reuse after GC — a new session
    * can never inherit a stale decision. A structural plan-hash collision
    * within one session (astronomically unlikely) only costs the
    * cheaper-branch heuristic — both branches are provably result-identical.
    * Cleared by [[clearDecisionCache]] (wired into bench teardown). */
  private val bloomDecisions =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[(Int, Int, Double), Boolean]]()

  private def decisionsFor(s: org.apache.spark.sql.SparkSession) =
    bloomDecisions.synchronized {
      var m = bloomDecisions.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(Int, Int, Double), Boolean]
        bloomDecisions.put(s, m)
      }
      m
    }

  /** Live decision count across all sessions (test/probe observability). */
  private[graft] def decisionCacheSize: Int = bloomDecisions.synchronized {
    var n = 0
    bloomDecisions.values.forEach(m => n += m.size)
    n
  }

  /** Drop all memoized [[decontaminate]] branch decisions (e.g. after
    * rewriting a fixture dir in place, or from session teardown). */
  def clearDecisionCache(): Unit = {
    bloomDecisions.synchronized { bloomDecisions.clear() }
    ngramRoutes.synchronized { ngramRoutes.clear() }
  }

  /** Live [[ngramJaccard]] route-decision count (test observability). */
  private[graft] def ngramRouteCacheSize: Int = ngramRoutes.synchronized {
    var n = 0
    ngramRoutes.values.forEach(m => n += m.size)
    n
  }

  /** [[decontaminate]]'s measured-size branch, exposed for tests: true iff
    * the corpus side is at least `ratio` × the benchmark side. Plan
    * `stats.sizeInBytes` decides for free when it is DECISIVE in the bloom
    * direction (the raw-big-table vs small-benchmark case); otherwise the
    * sides are counted. Stats are only trusted positively: without column
    * statistics Catalyst gives a Filter its child's size, so two slices of
    * one source look equal-sized even when their row counts differ by
    * orders of magnitude — an inconclusive estimate must not silently pick
    * the exact join for a 100 TB corpus. The fallback is one count of the
    * SMALL side plus an EARLY-EXIT count of the corpus (`limit(need + 1)`
    * before counting — Spark's limit scans partitions incrementally and
    * stops once satisfied), so the decision costs O(ratio·|benchmark|)
    * rows however large the corpus is — never a full 100 TB count. */
  private[graft] def preferBloom(corpus: DataFrame, benchmark: DataFrame,
                                 ratio: Double): Boolean = {
    val sentinel = BigInt(
      corpus.sparkSession.sessionState.conf.defaultSizeInBytes)
    val cs = corpus.queryExecution.optimizedPlan.stats.sizeInBytes
    val bs = benchmark.queryExecution.optimizedPlan.stats.sizeInBytes
    (cs < sentinel && bs < sentinel && BigDecimal(cs) >= BigDecimal(bs) * ratio) || {
      val need = math.ceil(ratio * benchmark.count()).toLong
      if (need >= Int.MaxValue) corpus.count() >= need  // ~2B+ benchmark rows
      else corpus.limit(need.toInt + 1).count() > need
    }
  }

  /** Exact Jaccard over two string arrays (as sets). */
  def jaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db))
    val union = size(da) + size(db) - inter
    when(union === 0, 0.0).otherwise(inter.cast("double") / union)
  }

  // ------------------------------------------------- clustering / keep-list

  /** Materialize a loop frame with lineage truncation. If the context has a
    * reliable checkpoint dir (`spark.sparkContext.setCheckpointDir`), use a
    * RELIABLE checkpoint — an executor loss mid-loop then recovers from
    * storage instead of killing the job, which is the right trade on a real
    * cluster (set `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    * to have old round files reaped). Otherwise fall back to eager
    * `localCheckpoint`: cheaper, fine for single-JVM/short loops, but NOT
    * fault-tolerant (cached blocks die with their executor). */
  private def materializeRound(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Connected components over near-dup pairs. Returns (id, cluster_id)
    * with cluster_id = min id of the component.
    *
    * Two execution paths, picked by MEASURED edge count — the same hybrid
    * production web-dedup pipelines use, because the near-dup edge set is
    * orders of magnitude smaller than the corpus (edges ≈ verified dup
    * pairs, not documents):
    *
    *  - |E| ≤ `driverEdgeLimit` (and the id type is orderable on the
    *    driver): collect the deduplicated, ids-validated edge list and run
    *    exact union-find (path-halving + union by rank) in one pass — no
    *    iteration, no per-round shuffle barrage. At the 5M-edge default the
    *    collected payload is tens-to-hundreds of MB: driver-safe even when
    *    the corpus itself is 100 TB. The labels are shipped back as a
    *    distributed frame, so downstream joins stay distributed.
    *  - larger graphs: distributed min-label propagation with a
    *    POINTER-DOUBLING shortcut — each round every node adopts (a) the
    *    minimum label among its neighbors and (b) the label OF that label
    *    (`least(lbl, label(lbl))`), so the component minimum spreads along
    *    a chain geometrically, converging in O(log diameter) rounds
    *    (the hash-to-min trick of Rastogi et al.'s CC-MR family; labels are
    *    always ids of same-component nodes, so the shortcut never crosses
    *    components). Each round is a constant number of shuffles; lineage
    *    is truncated per round via [[materializeRound]] — set a reliable
    *    checkpoint dir on the SparkContext for fault-tolerant loops at
    *    cluster scale.
    *
    * Both paths label only nodes present in `ids` (a pair endpoint foreign
    * to `ids` neither receives a label nor bridges two components — the
    * edge is dropped), and both append untouched ids as singletons.
    *
    * If the distributed path does not converge within maxIter the labels
    * are NOT final — a warning is printed and downstream keepList would
    * keep more than one representative for that component. With the
    * shortcut, maxIter 50 covers component diameters up to ~2^50. */
  def clusters(ids: DataFrame, pairs: DataFrame, maxIter: Int = 50,
               driverEdgeLimit: Long = 5000000L): DataFrame = {
    // one undirected, deduplicated, ids-validated edge set feeds BOTH paths;
    // validation = semi-join each endpoint against ids (matches the loop's
    // touched-node semantics below)
    // canonical (least, greatest) orientation: dedups (a,b)/(b,a) pair
    // orderings in one distinct, and makes the loop path's bidirectional
    // union disjoint by construction
    val undirected = pairs
      .select(least(col("id_a"), col("id_b")).as("src"),
              greatest(col("id_a"), col("id_b")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .join(ids.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(ids.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
      .cache()
    try {
      val nEdges = undirected.count()
      val ord = driverOrdering(ids.schema.head.dataType)
      if (nEdges <= driverEdgeLimit && ord.isDefined) {
        System.err.println(
          s"[graft.Dedup.clusters] driver union-find over $nEdges edges")
        driverUnionFind(ids, undirected, ord.get)
      } else clustersDistributed(ids, undirected, maxIter)
    } finally undirected.unpersist()
  }

  /** Driver-side Ordering for id types whose Spark `least`/min semantics we
    * can reproduce exactly on the JVM; other types take the distributed
    * path. Strings compare as UTF-8 bytes (code-point order) to match
    * Spark's UTF8String comparison — `Ordering.String` is UTF-16 code-unit
    * order, which disagrees for supplementary-plane characters and would
    * make the chosen component representative depend on which path ran. */
  private def driverOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case LongType    => Some(Ordering.Long.on((a: Any) => a.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.Int.on((a: Any) => a.asInstanceOf[Int]))
    case StringType  => Some(new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(b.asInstanceOf[String]))
    })
    case _           => None
  }

  /** Exact single-pass connected components: collect the (already validated,
    * deduplicated, counted) edge list, union-find with path-halving + union
    * by rank, label every touched node with the component's min id, ship the
    * labels back as a distributed frame and append singletons. */
  private def driverUnionFind(ids: DataFrame, undirected: DataFrame,
                              ord: Ordering[Any]): DataFrame = {
    val spark = ids.sparkSession
    val dt = ids.schema.head.dataType
    val edgeRows = undirected.collect()
    val index = new java.util.HashMap[Any, Integer]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Any]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rank = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def idx(v: Any): Int = {
      val got = index.get(v)
      if (got != null) got.intValue()
      else {
        val i = nodes.length
        index.put(v, Integer.valueOf(i))
        nodes += v; parent += i; rank += 0.toByte
        i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    edgeRows.foreach { r =>
      val (a, b) = (find(idx(r.get(0))), find(idx(r.get(1))))
      if (a != b) {
        if (rank(a) < rank(b)) parent(a) = b
        else if (rank(a) > rank(b)) parent(b) = a
        else { parent(b) = a; rank(a) = (rank(a) + 1).toByte }
      }
    }
    // component label = min member id (same representative the distributed
    // min-label path converges to)
    val rootMin = new java.util.HashMap[Integer, Any]()
    nodes.indices.foreach { i =>
      val r = Integer.valueOf(find(i))
      val cur = rootMin.get(r)
      if (cur == null || ord.lt(nodes(i), cur)) rootMin.put(r, nodes(i))
    }
    val labelRows = nodes.indices.map(i => Row(nodes(i), rootMin.get(Integer.valueOf(find(i)))))
    val schema = StructType(Seq(
      StructField("id", dt, nullable = false),
      StructField("cluster_id", dt, nullable = false)))
    val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      labelRows.length / 65536 + 1))
    val labels = spark.createDataFrame(
      spark.sparkContext.parallelize(labelRows, nParts), schema)
    val singletons = ids.select(col("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.unionByName(singletons)
  }

  /** Distributed min-label propagation (see [[clusters]] for the recipe). */
  private def clustersDistributed(ids: DataFrame, undirected: DataFrame,
                                  maxIter: Int): DataFrame = {
    val edges = undirected
      .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    // iterate ONLY over nodes that have at least one edge: in a near-dup
    // workload the pair graph touches a small fraction of the corpus, so
    // the per-round joins shrink from |corpus| to |V(edges)| rows;
    // untouched nodes are singletons by definition and are unioned back
    // with their own id at the end. Edges arrive already ids-validated
    // (clusters() semi-joined both endpoints), so no further membership
    // check is needed here.
    val touched = edges.select(col("src").as("id")).distinct()
    // round 0's labels are a trivial projection of `touched` — shallow
    // lineage, so no eager materialization job of its own; the LAZY cache
    // still matters: round 1 consumes `labels` three times (neighbor-min,
    // adoption, parent-label sides) and would otherwise recompute the
    // edge-distinct + semi-join each time (measured 2x slower at a 500k-edge
    // 10x probe). The loop's labels.unpersist() releases it after round 1.
    var labels = touched.select(col("id"), col("id").as("cluster_id")).cache()
    var iter = 0
    var converged = false
    // the cache must be released even when a round's job dies (OOM, task
    // abort): without the finally, every failed clusters() call would leak
    // the edges RDD for the session lifetime
    try {
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("cluster_id")).as("neighbor_min"))
      val adopted = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster_id").as("old"),
          least(col("cluster_id"), coalesce(col("neighbor_min"), col("cluster_id")))
            .as("lbl"))
      // shortcut: lbl is itself a node id — adopt ITS current label too,
      // halving the remaining chain depth every round
      val parentLbl = labels
        .select(col("id").as("lbl"), col("cluster_id").as("lbl2"))
      // convergence = no label changed this round. The changed flag is an
      // ordering comparison, so the check is id-type-agnostic (integral,
      // string, ... ids all work — unlike a sum(cluster_id) delta, which
      // assumed long ids) and costs one count over the already-materialized
      // checkpoint per round.
      val updated = materializeRound(
        adopted.join(parentLbl, Seq("lbl"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("cluster_id"),
            (least(col("lbl"), coalesce(col("lbl2"), col("lbl"))) < col("old"))
              .as("changed")))
      val nChanged = updated.where(col("changed")).count()
      labels.unpersist()
      labels = updated.drop("changed")
      converged = nChanged == 0L
      iter += 1
    }
    } finally edges.unpersist()
    if (!converged)
      System.err.println(
        s"[graft.Dedup.clusters] WARNING: label propagation did not converge " +
          s"in $maxIter iterations — some components have multiple labels; " +
          s"re-run with a larger maxIter")
    else
      System.err.println(s"[graft.Dedup.clusters] converged in $iter rounds")
    val singletons = ids.select(col("id"))
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("cluster_id"))
    labels.unionByName(singletons)
  }

  /** Keep-list dedup: from near-dup `pairs` over `df`, keep exactly one
    * representative (min id) per connected component — the standard final
    * step of a web-scale near-dup pipeline. */
  def keepList(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val ids = df.select(col(idCol).as("id"))
    val labeled = clusters(ids, pairs)
    df.join(labeled.where(col("id") === col("cluster_id"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
  }

  /** Quality-ranked keep-list: like [[keepList]], but keep the HIGHEST-
    * `scoreCol` member of each near-dup component instead of the min id
    * (ties → min id) — the curation variant real pipelines run once a
    * quality signal exists ("of these near-identical crawls, keep the
    * cleanest extraction", the RefinedWeb/FineWeb convention) rather than
    * an id-order accident. NULL scores rank below every real score (a
    * documented sentinel, not a silent drop — every component still keeps
    * exactly one member).
    *
    * Scale shape: component labels come from [[clusters]] (driver
    * union-find under the small-graph facade; [[clustersDistributed]]
    * slots in unchanged for corpus-scale pair sets since only the
    * (id, cluster_id) frame is consumed); the per-component argmax is a
    * partial-aggregable `max(struct(score, -id))` hash aggregation — no
    * window, no sort, order-free. Scores compare on the 1e-6 grid
    * (round 6) so cross-engine ties break identically. */
  def keepBest(df: DataFrame, idCol: String, scoreCol: String,
               pairs: DataFrame): DataFrame = {
    // the id negates inside the argmax struct — integral required, not
    // coerced (the packSequences rule: a string id would silently null)
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType
         | org.apache.spark.sql.types.IntegerType
         | org.apache.spark.sql.types.ShortType
         | org.apache.spark.sql.types.ByteType => ()
      case other => throw new IllegalArgumentException(
        s"keepBest requires an integral id column; '$idCol' is $other")
    }
    val ids = df.select(col(idCol).as("id"))
    val labeled = clusters(ids, pairs)
    val scored = df.select(col(idCol).cast("long").as("id"),
      coalesce(round(col(scoreCol).cast("double"), 6), lit(-1e18)).as("__s"))
    val best = labeled.join(scored, "id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("__s").as("s"), (-col("id")).as("ni"))).as("__b"))
      .select((-col("__b.ni")).as(idCol))
    df.join(best, Seq(idCol), "left_semi")
  }

  // -------------------------------------------------------------- SimHash

  /** Per-doc 64-bit SimHash of the normalized token set — fully fused
    * custom-kernel path (tokenize + hash + simhash in tight loops; the
    * HOF tokenizer is interpreted and was the dominant cost). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      minhashExprs.simhashLongs(minhashExprs.tokenHashes(col(textCol)))
        .as("simhash"))

  /** SimHash near-dup pairs with Hamming distance <= maxBits, bucketed by
    * the 4 16-bit chunks (pigeonhole: any pair within 3 bits shares at least
    * one exact chunk — standard simhash blocking, shuffle on chunk keys). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxBits: Int = 3, bucketCap: Int = 1000): DataFrame =
    simhashChunkPairs(simhash(df, idCol, textCol), maxBits, bucketCap)

  /** ENGINE-PORTABLE weighted SimHash: same bit-majority arithmetic as the
    * fused kernel, but the per-token hash is the first 15 hex chars of
    * md5(token) — a 60-bit value any SQL engine reproduces exactly (the
    * [[Sampling.hashBucket]] trick), unlike the kernel's splitmix-mixed
    * polynomial hash whose 64-bit wrapping arithmetic has no SQL
    * counterpart. Bit p of the result = 1 iff strictly more tokens (counted
    * WITH multiplicity) have hash bit p set than clear — ties → 0, matching
    * [[graft.functions.SimHashLongs]]. Bits 60–63 are always 0.
    *
    * Purpose: makes the WHOLE simhash pipeline (hashing → bit majority →
    * chunk blocking → Hamming threshold) value-checkable against a DuckDB
    * brute force. Production pipelines use [[simhash]] — one fused codegen
    * pass instead of this explode + aggregate. The bit majority itself is
    * a single bounded [[graft.functions.BitMajorityAgg]] (60 long counters,
    * partial-mergeable) — the earlier 60-column `sum(when(...))`
    * formulation generated a JIT-hostile aggregate (20s first-run C2
    * compile, 2.7s steady-state at sf0.1 vs the kernel's 0.9s). */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
      explode(TextFunctions.tokens(TextFunctions.normalized(col(textCol)))).as("tok"))
    val withH = toks.select(col("id"),
      conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    withH.groupBy(col("id"))
      .agg(exprs.bitMajority(col("h"), 60).as("simhash"))
  }

  /** Repeated-span detection — substring-level dedup in the spirit of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL '22), via winnowing fingerprints
    * ([[TextFunctions.winnowFingerprints]]) instead of a suffix array:
    * every character run of length ≥ w + k − 1 shared by ≥ `minDocs`
    * distinct documents is guaranteed to surface as a fingerprint row
    * (fp, df, first_doc) — the corpus boilerplate a span-removal pass
    * targets.
    *
    * Scale shape: fingerprint density is 2/(w+1) per character (the
    * winnowing bound), the only shuffle is one partial-aggregable groupBy
    * on the fingerprint key — no join, no window, no per-doc lists — and
    * the output is df-filtered before it ever leaves the aggregate. At
    * 100 TB this is a single map + combine + reduce pass, unlike
    * suffix-array construction which needs global order. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minDocs: Long = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    // The fingerprint pass is CPU-bound per document; a corpus that arrives
    // as fewer splits than cores (one small parquet file → one split) would
    // otherwise run it on one core. At real scale the source has thousands
    // of splits and this is a no-op; the repartition only fires on
    // under-split inputs, where the text it shuffles is small by definition.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread = if (df.rdd.getNumPartitions < par) df.repartition(par) else df
    spread.select(col(idCol).as("doc_id"),
        explode(TextFunctions.winnowFingerprints(col(textCol), k, w)).as("fp"))
      .groupBy(col("fp"))
      // winnowFingerprints is a per-doc SET, so count(*) == distinct docs —
      // a plain partial-mergeable count, no distinct-expand two-phase agg
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("first_doc"))
      .where(col("df") >= minDocs)
  }

  /** Per-document character intervals of corpus-wide REPEATED spans —
    * [[repeatedSpans]] taken from diagnosis to transform: which exact
    * character ranges of each document are boilerplate shared by >=
    * `minDocs` documents (template headers, footers, license blocks — the
    * spans substring-level dedup removes before training).
    *
    * Method: winnowing with positions ([[minhashExprs.winnowPositions]]) —
    * every selected window-minimum shingle carries its 1-based code-point
    * position. Fingerprints selected in >= minDocs docs (distinct-doc df)
    * mark their [pos, pos+k) shingle as shared; per doc, overlapping marks
    * union into maximal intervals (gaps-and-islands over a doc-partitioned
    * window — key-partitioned, never global). `k >= w` is REQUIRED for
    * contiguity: inside one shared run, consecutive selected positions
    * differ by at most w (every w-window holds a selection), so with
    * k >= w their [pos, pos+k) intervals overlap and plain union
    * reconstructs the run as ONE interval. Winnowing's detection guarantee
    * bounds what can be missed: only the first/last <= w+k-2 chars of a
    * shared run lack a fully-interior window, so reported spans are the
    * run cores, never false fragments of unshared text (a fingerprint's
    * df counts exact k-char matches).
    *
    * Scale shape: one explode (density-bounded at ~2/(w+1) entries per
    * char), one distinct-doc aggregate for df, one fp-keyed equi-join
    * (shared-fp side is post-aggregation small; AQE broadcasts it when it
    * fits), one doc-partitioned window. No all-pairs anything.
    *
    * Output: (doc_id, span_start, span_end) — 1-based inclusive start,
    * exclusive end, BIGINT for oracle portability. */
  def boilerplateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minDocs: Long = 2): DataFrame = {
    requireSpanContiguity(k, w)
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    import org.apache.spark.sql.expressions.Window
    val fpPos = winnowFpPos(df, idCol, textCol, k, w)
    // SINGLE-SHUFFLE form (r16 verdict #2). The former shape — distinct
    // (doc, fp) → df aggregate → fp-keyed shuffle_hash join back onto the
    // exploded frame — shuffled the full (doc_id, fp, pos) frame TWICE
    // (once as the distinct, once as the join probe) and forced the 3.9 GiB
    // cache materialization (two consumers), which together were the span
    // family's measured sf10 binding constraint (exponent ~1.1 at the
    // 8 GiB convention; the r16 cache A/B eliminated the cache-pressure
    // hypothesis and pinned it on the join shuffle). Windows over
    // partitionBy(fp) compute the same df filter IN PLACE: one exchange of
    // the exploded frame, no join, no cache — fpPos now has exactly one
    // consumer. Distinct-doc df as two window passes sharing the exchange:
    // rows sort by (fp, doc_id), each doc's first row flags 1 (same-doc
    // repeats are adjacent under the sort), and the full-frame sum of
    // flags is the fingerprint's distinct-doc count — order-free among
    // equal doc_ids, identical semantics to the old distinct + count.
    val byFpDoc = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val byFp = Window.partitionBy(col("fp"))
    val sel = fpPos
      .withColumn("newdoc",
        when(lag(col("doc_id"), 1).over(byFpDoc).isNull ||
          lag(col("doc_id"), 1).over(byFpDoc) =!= col("doc_id"), 1L)
          .otherwise(0L))
      .withColumn("dfd", sum(col("newdoc")).over(byFp))
      .where(col("dfd") >= minDocs)
      .select(col("doc_id"), col("pos"))
    unionSpans(sel, k)
  }

  private def requireSpanContiguity(k: Int, w: Int): Unit =
    require(k >= w,
      s"k >= w required for span contiguity (got k=$k, w=$w): selected " +
        "positions in a shared run are <= w apart, so k >= w makes their " +
        "k-char marks overlap")

  /** Position-carrying winnow fingerprints of each doc, spread across the
    * cluster. The fingerprint pass is CPU-bound per document; a corpus
    * that arrives as fewer splits than cores (one small parquet file → one
    * split) would otherwise run it on one core. At real scale the source
    * has thousands of splits and the repartition is a no-op.
    *
    * NOT cached, by design history: the cache existed for the former
    * two-consumer join shape (df aggregate + fp-keyed join probe), whose
    * storage policy was A/B'd honestly at sf10 — the ~3.9 GiB exploded
    * frame's DISK_ONLY variant freed ~700 MB heap but cost +78 % wall
    * (serialize+write+read exceeds the spill pressure relieved), and the
    * 'none' variant ran at parity, settling that the binding constraint
    * was the fp JOIN's shuffle, not the cache (r16 BASELINE rows). The r17
    * single-shuffle window rewrite of both span consumers leaves exactly
    * ONE consumer per call, so there is nothing left to cache — the
    * GRAFT_WINNOW_CACHE knob retired with the join. */
  private def winnowFpPos(df: DataFrame, idCol: String, textCol: String,
                          k: Int, w: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val spread = if (df.rdd.getNumPartitions < par) df.repartition(par) else df
    spread.select(col(idCol).as("doc_id"),
        explode(minhashExprs.winnowPositions(col(textCol), k, w)).as("s"))
      .select(col("doc_id"), col("s.fp").as("fp"), col("s.pos").as("pos"))
  }

  /** Gaps-and-islands union of k-char position marks into maximal disjoint
    * (doc_id, span_start, span_end) intervals — doc-partitioned window,
    * never global. */
  private def unionSpans(sel: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + k)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    sel
      .withColumn("brk",
        when(col("pos") > coalesce(prevEnd, lit(-1)), 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + k).cast("long").as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Remove [[boilerplateSpans]] intervals from each document's text.
    * Span application is a per-row fold over that doc's FEW merged
    * intervals (sorted, disjoint by construction) — the interpreted-HOF
    * cost is O(spans per doc), not O(text), and there is no nested HOF
    * over unbounded input. Docs with no shared spans pass through on the
    * left join. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, minDocs: Long = 2): DataFrame =
    applySpans(df, idCol, textCol,
      boilerplateSpans(df, idCol, textCol, k, w, minDocs))

  /** Remove the given (doc_id, span_start, span_end) intervals (sorted,
    * disjoint — what [[unionSpans]] emits) from each document's text.
    * Span application is a per-row fold over that doc's FEW merged
    * intervals — the interpreted-HOF cost is O(spans per doc), not
    * O(text), and there is no nested HOF over unbounded input. Docs with
    * no spans pass through on the left join. */
  private def applySpans(df: DataFrame, idCol: String, textCol: String,
                         spanDf: DataFrame): DataFrame = {
    val spans = spanDf
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_start"), col("span_end"))))
        .as("spans"))
    val t = col("__text")
    // fold: acc = (kept text so far, 1-based cursor); each span appends the
    // clean stretch before it and jumps the cursor past it
    val stripped = aggregate(col("spans"),
      struct(lit("").as("t"), lit(1L).as("c")),
      (acc, s) => struct(
        concat(acc.getField("t"),
          t.substr(acc.getField("c").cast("int"),
            (s.getField("span_start") - acc.getField("c")).cast("int")))
          .as("t"),
        s.getField("span_end").as("c")),
      acc => concat(acc.getField("t"),
        t.substr(acc.getField("c").cast("int"), length(t))))
    // shuffle_hash: the spans frame scales with the number of affected
    // docs (potentially the whole corpus) — never a driver-built broadcast
    df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(spans.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        when(col("spans").isNull, col("__text"))
          .otherwise(stripped).as(textCol))
  }

  /** Cross-document duplicate-span detection — the exact-substring dedup of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL '22, the ExactSubstr pass), KEEPING ONE COPY: for every
    * character run shared verbatim across >= 2 distinct documents, the
    * lowest doc_id containing it is the KEEPER and retains the run; every
    * other document gets the run reported as a removable span. This is the
    * dedup complement of [[boilerplateSpans]], which strips a df >=
    * minDocs span from ALL documents (template removal, no copy kept).
    *
    * Method: winnow fingerprints with positions mark k-char grams; a
    * fingerprint seen in >= 2 distinct docs is duplicated, its keeper =
    * min doc_id over the docs that selected it. Positions are marked only
    * in NON-keeper docs, then unioned per doc into maximal spans
    * ([[unionSpans]]). The winnowing guarantee makes the minimum match
    * length explicit: every shared run of >= w + k − 1 chars surfaces at
    * least one selected fingerprint in EVERY doc containing it
    * (SIGMOD '03), so no qualifying duplicate escapes; reported spans are
    * run cores (first/last <= w+k-2 chars of a run may lack a fully
    * interior window — same boundary behavior as [[boilerplateSpans]]).
    * Keeper choice is per-fingerprint greedy: doc 2 sharing run X with
    * doc 1 and run Y with doc 3 keeps Y (it is Y's min doc) while losing X.
    *
    * Scale shape: identical to [[boilerplateSpans]] — density-bounded
    * explode (2/(w+1) per char), one distinct-doc aggregate, one fp-keyed
    * equi-join (keeper frame is post-aggregation; AQE broadcasts when it
    * fits), one doc-partitioned window. A suffix array needs a global
    * order; this is map + combine + keyed join all the way down.
    *
    * Output: (doc_id, span_start, span_end), 1-based inclusive/exclusive,
    * only for docs that LOSE a span. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame = {
    requireSpanContiguity(k, w)
    import org.apache.spark.sql.expressions.Window
    val fpPos = winnowFpPos(df, idCol, textCol, k, w)
    // SINGLE-SHUFFLE form (r16 verdict #2, same rationale as
    // boilerplateSpans): keeper = min(doc_id) over the fp partition, and
    // "duplicated in ≥ 2 distinct docs" ⟺ min(doc_id) ≠ max(doc_id) over
    // that partition — one exchange, no join, no multi-consumer cache.
    // These are UNORDERED full-frame window aggregates, so the exchange
    // needs no orderBy at all.
    val byFp = Window.partitionBy(col("fp"))
    val sel = fpPos
      .withColumn("keeper", min(col("doc_id")).over(byFp))
      .withColumn("dmax", max(col("doc_id")).over(byFp))
      .where(col("keeper") =!= col("dmax") && col("doc_id") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    unionSpans(sel, k)
  }

  /** [[duplicateSpans]] applied: each document's duplicated span cores are
    * removed EXCEPT from the per-fingerprint keeper doc — output
    * (idCol, textCol) with exactly one copy of every cross-doc duplicated
    * run retained corpus-wide. */
  def dedupSubstrings(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4): DataFrame =
    applySpans(df, idCol, textCol, duplicateSpans(df, idCol, textCol, k, w))

  /** Portable-simhash near-dup pairs — [[simhashPairs]] with the
    * [[simhashPortable]] hash; the blocking, cap, and threshold logic is
    * byte-identical (shared body). */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxBits: Int = 3, bucketCap: Int = 1000): DataFrame =
    simhashChunkPairs(simhashPortable(df, idCol, textCol), maxBits, bucketCap)

  /** Shared chunk-blocked Hamming join over an (id, simhash) frame.
    *
    * Chunk buckets above `bucketCap` are dropped (observed/logged): chunk
    * value 0 is a classic hot key (every empty/ultra-short doc simhashes to
    * 0), and an uncapped self-join on it goes quadratic. */
  private def simhashChunkPairs(sh: DataFrame, maxBits: Int,
                                bucketCap: Int): DataFrame = {
    val chunked = track(ScaleOps.capBuckets(
      sh.select(col("id"), col("simhash"),
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("chunk"),
            (shiftright(col("simhash"), c * 16).bitwiseAND(0xFFFFL)).as("ckey"))): _*))
          .as("ck"))
        .select(col("id"), col("simhash"), col("ck.chunk").as("chunk"), col("ck.ckey").as("ckey")),
      Seq("chunk", "ckey"), bucketCap, "simhash").cache())
    val a = chunked.alias("a")
    val b = chunked.alias("b")
    a.join(b,
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxBits)
  }

  // -------------------------------------------- n-gram Jaccard (direct)

  /** Character n-gram Jaccard similarity pairs over an LSH-prefiltered
    * candidate set (reuses MinHash banding for candidates, verifies with
    * character trigram Jaccard instead of word shingles). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        bucketCap: Int = 1000): DataFrame = {
    // char n-grams over a small alphabet are weakly selective (random docs
    // share many trigrams), so use FEW WIDE bands (4 bands x 8 rows:
    // P(candidate) = 1-(1-J^8)^4 — near-dups J>=0.8 still caught with
    // p~0.95, while J~0.4 background pairs drop to <1%). 16x4 banding here
    // degenerated to a near-all-pairs verification join (measured 180s at
    // sf0.1 vs ~5s now). Signatures cached for the same triple-consumption
    // reason as minhashPairs.
    val withSig = df.select(col(idCol).as("id"),
      minhashExprs.charShingleSet(col(textCol), n).as("sh"))
      .withColumn("sig", minhashExprs.minhashSig(col("sh"), 32))
      .cache()
    verifiedPairs(track(withSig), bands = 4, rows = 8, threshold, numHashes = 32,
      bucketCap, "ngram")
  }

  /** EXACT character-n-gram Jaccard self-join via prefix filtering
    * (Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity Search",
    * WWW '07; length filter per Arasu et al.'s SSJoin): provably COMPLETE
    * candidate generation, unlike the probabilistic LSH banding of
    * [[ngramJaccardPairs]] — every pair with J ≥ threshold is emitted, so
    * the output equals a brute-force all-pairs join and shares its
    * value oracle.
    *
    * Why it is complete: order every doc's shingles by a single global
    * canonical order (document frequency asc, hash asc — rarest first) and
    * emit only each doc's PREFIX of size |A| − ⌈t·|A|⌉ + 1 as join keys.
    * J(A,B) ≥ t ⇒ |A∩B| ≥ t·|A∪B| ≥ ⌈t·max(|A|,|B|)⌉, and by pigeonhole
    * the canonically-first shared shingle sits within BOTH prefixes — the
    * equi-join on prefix shingles cannot miss a qualifying pair. No bucket
    * cap here, deliberately: a cap would break exactness; instead the
    * rarest-first order keeps join keys selective (a shingle appears in a
    * prefix only when a doc has few rarer ones) and the length filter
    * (t·|A| ≤ |B| ≤ |A|/t) prunes cross-size collisions before
    * verification.
    *
    * Scale shape: one groupBy for frequencies, one for canonical ordering,
    * one shingle-keyed equi-join, then codegen sorted-merge verification
    * per candidate — all shuffles are key-partitioned, nothing quadratic
    * in corpus size (candidate volume is data-dependent but df-ordering
    * makes it near the true-pair count on natural text). */
  def ngramJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val sh = track(df.select(col(idCol).as("id"),
        minhashExprs.charShingleSet(col(textCol), n).as("sh"))
      .where(size(col("sh")) > 0) // empty sets can never reach J >= t > 0
      .cache())
    val freq = sh.select(explode(col("sh")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
    val ordered = sh.select(col("id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("h"))
      .join(freq, "h")
      .groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(struct(col("df"), col("h")))).as("ord"))
    val prefLen = (col("sz") - ceil(col("sz") * threshold) + 1).cast("int")
    val pref = ordered.select(col("id"), col("sz"),
      explode(transform(slice(col("ord"), lit(1), prefLen),
        s => s.getField("h"))).as("h"))
    val cand = pref.alias("a").join(pref.alias("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          col("b.sz") * threshold <= col("a.sz") &&
          col("a.sz") * threshold <= col("b.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter",
        minhashExprs.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("unn", (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("inter").cast("double") / col("unn") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("unn"), 6).as("jaccard"))
  }

  /** Size-adaptive near-dup text-join facade over [[ngramJaccardJoin]]
    * (exact prefix-filtered all-pairs, WWW '07) and [[ngramJaccardPairs]]
    * (MinHash-LSH banding + exact verification) — the same
    * measured-not-guessed branch pattern as [[decontaminate]].
    *
    * The exact join is provably complete but its candidate volume is
    * data-dependent: on a near-dup-heavy or highly-repetitive corpus the
    * prefix-shingle equi-join can approach all-pairs, which no cap may
    * truncate (a cap would break exactness). That is the right trade on a
    * bounded slice and the wrong one on a 100-TB corpus, where the banded
    * LSH path (bucket-capped, probabilistically complete at the
    * configured band/row operating point) is the only shape whose shuffle
    * volume is controlled by construction. A caller picking blind can
    * point the exact join at the full corpus; this facade routes on a
    * MEASURED row count instead: exact iff the corpus has ≤
    * `exactRowLimit` rows, measured with an early-exit
    * `limit(n+1).count()` — Spark satisfies a limit by scanning partitions
    * incrementally, so the probe costs O(exactRowLimit) rows however large
    * the corpus is, never a full count. The decision is memoized per
    * (session, canonicalized plan, limit) exactly like
    * [[decontaminate]]'s (weak session keys; cleared by
    * [[clearDecisionCache]]).
    *
    * Both branches emit (id_a, id_b, jaccard ≥ threshold); on the slices
    * where both run, the LSH branch's output is a subset of the exact
    * branch's (banding recall < 1 by design) with IDENTICAL jaccard
    * values on shared pairs — spec-pinned. The `dedup_ngram` contract
    * entry pins the EXACT branch (bounded planted slice, value-oracled
    * against DuckDB brute force); `dedup_ngram_lsh` benches the LSH
    * branch full-corpus. */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   bucketCap: Int = 1000,
                   exactRowLimit: Long = 100000L): DataFrame = {
    val key = (df.queryExecution.optimizedPlan.canonicalized.hashCode,
               exactRowLimit)
    val useExact = ngramRoutesFor(df.sparkSession).getOrElseUpdate(
      key, fitsExactNgram(df, exactRowLimit))
    if (useExact) ngramJaccardJoin(df, idCol, textCol, n, threshold)
    else ngramJaccardPairs(df, idCol, textCol, n, threshold, bucketCap)
  }

  /** Cluster-form near-dup text join: component labels instead of a pair
    * list — the scalable CONTRACT at high duplicate multiplicity. The r15
    * sf10 leg proved the pair interface is output-quadratic by nature: at
    * 100 copies per base document any correct J ≥ t pair-finder must emit
    * ≥ 5000·C(100,2) ≈ 24.75M rows (BASELINE.md r15 — the breach was output
    * cardinality, not algorithm). Component labels are what downstream
    * dedup consumes anyway (keepList/keepBest collapse the pairs
    * immediately), and they are O(n) however dense the duplication.
    *
    * Candidate generation is REPRESENTATIVE-ANCHORED to keep the verify
    * join linear too: within each capped LSH band bucket, members pair
    * only with the bucket's `reps` smallest ids (m·reps candidates per
    * bucket instead of C(m,2)). Connectivity survives because components
    * only need a spanning structure, not every edge: two docs similar to
    * each other in a bucket are each verified against the same anchors,
    * and 4 independent bands give 4 chances for a shared VERIFIED anchor.
    * Anchor pruning is ONE-SIDED by construction: its edge set is a
    * subset of the pair path's (same banding, same exact verification),
    * so components can only SPLIT relative to the full path, never
    * falsely merge — the right error direction for dedup (a split keeps
    * both docs). The `reps` default is MEASURED, not guessed
    * (BASELINE.md r16, sf0.01 planted corpus incl. its chain-shaped
    * organic components): diverged docs vs the full pair path fall
    * 41/22/10/4/0 at reps 4/8/16/32/64 — 64 reproduces the full
    * components exactly and is spec-pinned; candidate volume stays
    * Σ_buckets m·min(reps, m) ≈ linear (most buckets hold a handful of
    * docs; only capped copy-buckets pay the full reps fan-out, still 8×
    * under their C(cap, 2) pair volume).
    *
    * Output: (id, cluster_id) for EVERY input doc (singletons label
    * themselves), cluster_id = component min id. */
  def ngramJaccardClusters(df: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.5,
                           bucketCap: Int = 1000, reps: Int = 64,
                           sideBroadcastBound: Long = SideBroadcastBytes): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val numHashes = 32
    val withSig = track(df.select(col(idCol).as("id"),
        minhashExprs.charShingleSet(col(textCol), n).as("sh"))
      .withColumn("sig", minhashExprs.minhashSig(col("sh"), numHashes))
      .cache())
    val exploded = track(ScaleOps.capBuckets(
      withSig
        .select(col("id"), explode(bandKeys(col("sig"), bands = 4, rows = 8)).as("bk"))
        .select(col("id"), col("bk.band").as("band"), col("bk.bkey").as("bkey")),
      Seq("band", "bkey"), bucketCap, "ngram_clusters").cache())
    // per-bucket anchors: the reps smallest ids. collect_set state is
    // bounded by bucketCap (capBuckets ran first), so the aggregate never
    // holds an uncapped bucket; no window, order-free.
    val anchors = exploded.groupBy(col("band"), col("bkey"))
      .agg(slice(array_sort(collect_set(col("id"))), 1, reps).as("rs"))
      .select(col("band"), col("bkey"), explode(col("rs")).as("rep_id"))
    // MEASURED verification-shape routing (r17 verdict #2; shared
    // rationale at [[verifiedPairsImpl]]). Candidate volume here is NOT
    // corpus-linear when the signature space piles up: on the synthetic
    // fixtures' ~54-token vocabulary, organic band collisions push
    // per-member anchor fan-out toward its min(reps, m) saturation as
    // occupancy m grows with the corpus (measured, OPTIMIZATION_r18.md: sf1
    // bucket-occupancy q99 = 17 and 1.6M distinct candidates; sf10
    // q99 = 63 and 32.2M — 20× candidates for 10× docs), so the classic
    // candidate-distinct shape's wide join was ~80 GB of exchange at sf10
    // (971 s convention wall) once the signature side outgrew broadcast.
    // Below the gate that shape stays optimal (broadcast side, each pair
    // intersected once); above it the bucket-local shape attaches each
    // array ONCE per bucket-row (corpus-linear: ~2 GB at sf10), pairs
    // member × anchor inside the join, and streams the exact-Jaccard
    // filter pipelined — 180 s at sf10, 5.4×. Both shapes return the same
    // verified edge set (symmetric deterministic verification ⇒
    // distinct-after-verify ≡ verify-after-distinct), so the split-only
    // guarantee and the pair-path-equality pin are shape-independent
    // (spec-pinned).
    val shape = verificationShape(withSig, exploded, numHashes,
      anchorReps = Some(reps), bound = sideBroadcastBound)
    val verified =
      if (shape != Shape.BucketLocal) {
        val candidates = exploded.join(anchors, Seq("band", "bkey"))
          .where(col("id") =!= col("rep_id"))
          .select(least(col("id"), col("rep_id")).as("id_a"),
            greatest(col("id"), col("rep_id")).as("id_b"))
          .distinct()
        verifyShingleCandidates(candidates, withSig, threshold, numHashes,
          broadcastSide = shape == Shape.ClassicBroadcast)
      } else {
        val side = withSig.select(col("id"), col("sh"), col("sig"))
        val memberSh = exploded.join(side, "id")
        val anchorSh = anchors.join(
          side.select(col("id").as("rep_id"), col("sh").as("rep_sh"),
            col("sig").as("rep_sig")), "rep_id")
        memberSh.join(anchorSh, Seq("band", "bkey"))
          .where(col("id") =!= col("rep_id"))
          .where(minhashExprs.arrayAgreeCount(col("sig"), col("rep_sig"))
            .cast("double") / numHashes >= threshold - 0.2)
          .withColumn("inter",
            minhashExprs.sortedIntersectCount(col("sh"), col("rep_sh")))
          .withColumn("jaccard",
            when(size(col("sh")) + size(col("rep_sh")) - col("inter") === 0,
              0.0)
              .otherwise(col("inter").cast("double")
                / (size(col("sh")) + size(col("rep_sh")) - col("inter"))))
          .where(col("jaccard") >= threshold)
          .select(least(col("id"), col("rep_id")).as("id_a"),
            greatest(col("id"), col("rep_id")).as("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .distinct()
      }
    clusters(df.select(col(idCol).as("id")), verified)
  }

  /** Size-adaptive cluster-form near-dup facade — [[ngramJaccardClusters]]'
    * deployment entrypoint, routing on a MEASURED row count exactly like
    * [[ngramJaccard]] (shared route memo; the decision is the same
    * "fits ≤ exactRowLimit" boolean):
    *
    *  - bounded corpus (≤ `exactRowLimit` rows, probed with the early-exit
    *    incremental-limit count): components over the COMPLETE J ≥ t graph
    *    — [[ngramJaccardJoin]]'s provably-complete exact pairs rolled up by
    *    [[clusters]] — so the output is value-checkable against a DuckDB
    *    brute-force + recursive min-label oracle (what the
    *    `dedup_ngram_clusters` contract row pins);
    *  - at scale: the representative-anchored banded path of
    *    [[ngramJaccardClusters]], whose candidate volume is Σ m·min(reps,m)
    *    (linear) and whose edge set is a subset of the banded pair path's —
    *    components split-only, never falsely merge (the right error
    *    direction for dedup), reps=64 measured to reproduce the full
    *    pair-path components (BASELINE.md r16).
    *
    * Output either way: (id, cluster_id) for EVERY input doc, cluster_id =
    * component min id. */
  def ngramJaccardClustersAuto(df: DataFrame, idCol: String, textCol: String,
                               n: Int = 3, threshold: Double = 0.5,
                               bucketCap: Int = 1000, reps: Int = 64,
                               exactRowLimit: Long = 100000L): DataFrame = {
    val key = (df.queryExecution.optimizedPlan.canonicalized.hashCode,
               exactRowLimit)
    val useExact = ngramRoutesFor(df.sparkSession).getOrElseUpdate(
      key, fitsExactNgram(df, exactRowLimit))
    if (useExact)
      clusters(df.select(col(idCol).as("id")),
        ngramJaccardJoin(df, idCol, textCol, n, threshold))
    else ngramJaccardClusters(df, idCol, textCol, n, threshold, bucketCap, reps)
  }

  /** [[ngramJaccard]]'s measured-size branch, exposed for tests: true iff
    * the corpus holds at most `limit` rows, probed with an early-exit
    * incremental-limit count (same bounded-cost rationale as
    * [[preferBloom]]'s fallback — an inconclusive estimate must never
    * silently pick the exact join for a 100-TB corpus, so nothing here
    * trusts plan statistics at all; the probe itself is already O(limit)). */
  private[graft] def fitsExactNgram(df: DataFrame, limit: Long): Boolean = {
    require(limit > 0 && limit < Int.MaxValue,
      s"exactRowLimit must be in (0, Int.MaxValue), got $limit")
    df.limit(limit.toInt + 1).count() <= limit
  }

  /** Memo for [[ngramJaccard]]'s route, same lifecycle as
    * [[decontaminate]]'s bloom decisions (weak session key, cleared by
    * [[clearDecisionCache]]). */
  private val ngramRoutes =
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      scala.collection.concurrent.TrieMap[(Int, Long), Boolean]]()

  private def ngramRoutesFor(s: org.apache.spark.sql.SparkSession) =
    ngramRoutes.synchronized {
      var m = ngramRoutes.get(s)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(Int, Long), Boolean]
        ngramRoutes.put(s, m)
      }
      m
    }

  // ------------------------------------------- embedding cosine near-dup

  /** Embedding near-duplicate pairs: cosine >= threshold, candidates from
    * random-hyperplane LSH buckets (see [[Similarity.lshBucket]]) so the
    * self-join is bucket-local, then exact cosine verification with the
    * fused codegen kernel.
    *
    * `probe = true` additionally matches pairs whose bucket codes differ in
    * ONE bit (multi-probe, [[Similarity.probeBuckets]]): a near-identical
    * pair sitting astride a single hyperplane is then still a candidate,
    * trading (planes+1)× candidate volume for near-1 recall on
    * high-similarity pairs.
    *
    * `planes = 0` (the default) SIZES THE BUCKET SPACE TO THE CORPUS (one
    * count job): buckets ≈ corpus / (bucketCap/4), so the average bucket
    * stays well under the guard cap however large the corpus grows — with a
    * fixed plane count, a 10× corpus would eventually push EVERY bucket
    * over the cap and the guard would silently drop the whole dataset.
    * Fixing `planes` explicitly is for deterministic small-scale runs. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
                     threshold: Double = 0.95, planes: Int = 0,
                     seed: Long = 7L, dim: Int = 64,
                     bucketCap: Int = 1000, probe: Boolean = false): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val nPlanes =
      if (planes > 0) planes
      else {
        val targetBuckets =
          math.max(1L, base.count() / math.max(1, bucketCap / 4))
        math.min(24, math.max(4,
          math.ceil(math.log(targetBuckets.toDouble) / math.log(2)).toInt))
      }
    val withBucket = track(ScaleOps.capBuckets(
      base.withColumn("bucket",
        Similarity.lshBucket(col("vec"), nPlanes, seed, dim)),
      Seq("bucket"), bucketCap, "embedding").cache())
    val right =
      if (probe) withBucket.withColumn("bucket",
        explode(Similarity.probeBuckets(col("bucket"), nPlanes)))
      else withBucket
    val a = withBucket.alias("a")
    val b = right.alias("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .withColumn("cosine", exprs.cosineSimilarity(col("a.vec"), col("b.vec")))
      .where(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(col("cosine"), 6).as("cosine"))
      .distinct()
  }

  /** MOSS-style document-pair similarity from winnowing fingerprints
    * (Schleimer et al. '03 §5 — the fingerprint-index report): pairs of
    * documents sharing at least `minShared` selected fingerprints, scored
    * by containment = shared / min(|A|, |B|) over the DISTINCTIVE
    * (df-surviving) fingerprint sets. The EXACT overlap of the
    * winnowed sets — complements MinHash, which estimates full-set Jaccard:
    * winnowing weights contiguous runs, so a long verbatim block between
    * otherwise-different docs scores high here and low there.
    *
    * Fingerprints with document frequency above `dfCap` are excluded from
    * pairing — ultra-common fingerprints are boilerplate, not similarity
    * evidence, and (exactly like an LSH hot bucket) a df-D fingerprint
    * would otherwise contribute D² candidate pairs. With the cap the
    * fp-keyed self-join is bounded by dfCap²/2 pairs per fingerprint: the
    * same discipline every LSH path in this file applies, here with a
    * semantic justification rather than a truncation. */
  def winnowSimilarity(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 8, w: Int = 4, minShared: Long = 3,
                       dfCap: Long = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(dfCap >= 2, s"dfCap must be >= 2 (pairs need both sides), got $dfCap")
    // kernel emits each doc's DISTINCT minima — no per-doc dedup needed
    val fps = track(df.select(col(idCol).as("doc_id"),
        explode(minhashExprs.winnowFingerprints(col(textCol), k, w)).as("fp"))
      .cache())
    // MEASURED NEGATIVE (r19, QueryJobProbe): replacing this df-aggregate +
    // join-back with the span family's r17 partitionBy(fp) window shape
    // (count over fp in place of keep⋈fps) benched 3.26 → 4.27 s warm at
    // sf0.1 — the window EXCHANGES and per-consumer SORTS the full
    // fingerprint frame (the window node re-executes for each of sel's 3
    // consumers; only its exchange is AQE-reused), while THIS shape never
    // exchanges fps at all: `keep` aggregates map-side and broadcasts, so
    // sel stays a map-side chain from the cache. The four ~0.2 s repeated
    // sel materializations it was meant to remove are cheaper than one
    // full-frame exchange + three sorts. Reverted; boilerplateSpans /
    // duplicateSpans keep their windows because there the aggregate
    // CONSUMED the same exchange the window replaced — here it never had
    // one.
    val keep = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select(col("fp"))
    val sel = fps.join(keep, "fp")
    // sizes over the SURVIVING set: capped (boilerplate) fingerprints are
    // out of numerator AND denominator, so sim measures the overlap of
    // DISTINCTIVE content — identical documents score exactly 1.0 even
    // when they carry corpus-wide boilerplate (counting capped fps only
    // in the denominator would make 1.0 unreachable for them)
    val sizes = sel.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val pairs = sel.alias("a")
      .join(sel.alias("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
    pairs
      .join(sizes.select(col("doc_id").as("id_a"), col("nfp").as("nfp_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("nfp").as("nfp_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("nfp_a"), col("nfp_b")), 6).as("sim"))
  }

  /** Content-defined chunk table: one row per chunk, boundaries cut where
    * a k-gram's md5 opens with `nibbles` zero hex digits (rate
    * 16^-nibbles; see [[graft.functions.WinnowKernel.cdcChunks]]). The
    * rsync/LBFS primitive: because boundaries depend only on local
    * content, an edit resynchronizes within ~one chunk, so identical text
    * regions produce identical (hash, len) chunks regardless of where they
    * sit in their documents — what fixed-size blocking can never give.
    * One fused kernel pass per doc; the table is corpus-volume but every
    * downstream consumer aggregates it by hash with map-side combine. */
  def cdcChunkTable(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, nibbles: Int = 1): DataFrame =
    df.select(col(idCol).as("doc_id"),
        explode(minhashExprs.cdcChunks(col(textCol), k, nibbles)).as("c"))
      .select(col("doc_id"), col("c.idx").as("chunk_idx"),
        col("c.start").as("start"), col("c.len").as("len"),
        col("c.hash").as("hash"))

  /** Substring-level exact dedup via CDC: chunk contents recurring in at
    * least `minDocs` DISTINCT documents, with their document frequency and
    * total occurrence count. At 100 TB this is one hash aggregation over
    * the chunk table — the storage-dedup shape: shuffle volume is distinct
    * chunk hashes (16 bytes + counts each), not corpus text. */
  def cdcSharedChunks(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 8, nibbles: Int = 1,
                      minDocs: Long = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    cdcChunkTable(df, idCol, textCol, k, nibbles)
      .groupBy(col("hash"))
      .agg(count_distinct(col("doc_id")).as("df"),
        count(lit(1)).as("occurrences"),
        max(col("len")).cast("long").as("len"))
      .where(col("df") >= minDocs)
  }
}
