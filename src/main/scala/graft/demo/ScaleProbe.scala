package graft.demo

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Headroom probe: unions sf0.1 inputs 10x (≈ sf1: 6M lineitem rows, 50k
  * docs) and times the core aggregation, join, and LSH-dedup paths — checks
  * the plans survive a 10x scale-up with sublinear-to-linear wall-clock. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.localBuilder(32, "graft-scaleprobe")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.1"
    def x10(name: String, idCol: String) = {
      val base = spark.read.parquet(s"$dir/$name.parquet")
      (0 until 10).map(i => base.withColumn(idCol,
          col(idCol) + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
    }
    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    val li = x10("lineitem", "l_orderkey")
    time("q1-agg over 6M rows") {
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")), sum(col("l_extendedprice")), count(lit(1)))
        .count()
    }
    time("KMV distinct sketch (k=4096, error regime) over 6M rows") {
      // "rows" here = the estimate itself; true distinct ≈ 1.5M orderkeys
      li.agg(graft.functions.exprs.kmvEstimate(
          graft.functions.exprs.kmvSketch(col("l_orderkey"), 4096), 4096)
        .as("est")).collect().head.getDouble(0).round
    }
    // --- round-8 probe: Misra–Gries in its ERROR regime (the regime the
    // sketch exists for at 100 TB): 6M tokens, ~4M distinct (10 heavy terms
    // at 200k each over a 4M-singleton tail), k = 255 → deficit bound
    // n/(k+1) = 23438. Checks the bound empirically and records the O(k)
    // state against the explode-groupBy whose shuffle is keyed by every
    // distinct term. ---
    locally {
      val n = 6000000L
      val heavyRows = 2000000L   // 10 heavy terms x 200k
      val toks = spark.range(0, n).select(
        when(col("id") < heavyRows, concat(lit("H"), col("id") % 10))
          .otherwise(concat(lit("n"), col("id"))).as("t"))
      val k = 255
      var summary: Array[(String, Long)] = Array.empty
      time(s"Misra-Gries heavyHitters(k=$k) over 6M tokens (~4M distinct)") {
        summary = toks
          .agg(graft.functions.exprs.heavyHitters(col("t"), k).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.term"), col("e.count"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
        summary.length.toLong
      }
      val bound = n.toDouble / (k + 1)   // 23437.5
      val got = summary.toMap
      val heavyOk = (0 until 10).forall { i =>
        got.get(s"H$i").exists(c => c <= 200000L && c >= 200000L - bound.toLong)
      }
      val noOver = summary.forall { case (t, c) =>
        c <= (if (t.startsWith("H")) 200000L else 1L)
      }
      val stateBytes = summary.map { case (t, _) => 12 + t.getBytes("UTF-8").length }.sum + 8
      println(s"  MG guarantee: all 10 heavy terms (freq 200k > bound " +
        f"$bound%.0f) present within deficit = $heavyOk; " +
        s"no overestimates = $noOver; summary ${summary.length} entries " +
        s"~ $stateBytes B state")
      require(heavyOk && noOver, "Misra-Gries guarantee violated at 6M rows")
      time("exact explode-groupBy token counts (the ~4M-key shuffle MG replaces)") {
        toks.groupBy(col("t")).count().count()
      }
    }

    // --- round-8 probe: KLL quantile sketch in its ERROR regime at 6M rows
    // (k=200 ≈ 1.6 KB state vs the full sort an exact percentile needs):
    // report each quantile's TRUE rank to verify the guarantee. ---
    locally {
      val ps = Array(0.1, 0.25, 0.5, 0.75, 0.9)
      var qs: Seq[Double] = Nil
      time("KLL quantiles (k=200, error regime) over 6M doubles") {
        qs = li.agg(graft.functions.exprs.kllQuantiles(
            col("l_extendedprice"), 200, ps.toSeq).as("q"))
          .first().getSeq[Double](0).toSeq
        qs.length.toLong
      }
      val nLi = li.count()
      val ranks = qs.map(q =>
        li.where(col("l_extendedprice") <= q).count().toDouble / nLi)
      val errs = ps.zip(ranks).map { case (p, r) => math.abs(r - p) }
      println(f"  KLL rank errors at ${nLi} rows: " +
        ps.zip(errs).map { case (p, e) => f"p=$p%.2f:${e * 100}%.2f%%" }
          .mkString(" ") + f" (max ${errs.max * 100}%.2f%%, state ~1.6 KB)")
      require(errs.max < 0.03, "KLL rank guarantee violated at 6M rows")
    }

    val docs = x10("documents", "doc_id")
    time("minhash LSH dedup over 50k docs") {
      graft.operators.Dedup.minhashPairs(docs, "doc_id", "text").count()
    }
    time("connected components + keep-list over 50k docs") {
      val pairs = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text")
      graft.operators.Dedup.keepList(docs, "doc_id", pairs).count()
    }
    val emb = x10("embeddings", "vec_id")
    time("knn brute-force 10 queries x 50k corpus") {
      graft.operators.Similarity.bruteForceTopK(
        emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", 5).count()
    }
    time("knn IVF (nlist=64, nprobe=8) 10 queries x 50k corpus") {
      graft.operators.Similarity.ivfTopK(
        emb.where(col("vec_id") < 10), emb, "vec_id", "embedding", 5,
        nlist = 64, nprobe = 8).count()
    }
    // train-once / query-many split: how much of the one-shot cost is
    // training + encoding (paid once per corpus) vs per-call search
    val pqIdx = {
      val t0 = System.nanoTime()
      val idx = graft.operators.Similarity.ivfpqIndex(
        emb, "vec_id", "embedding", nlist = 64)
      println(f"[info] ivfpq INDEX BUILD over 500k vectors: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s (coarse + 8 PQ sub-fits)")
      idx
    }
    time("ivfpq index FIRST topK (materializes the encoded-corpus cache)") {
      pqIdx.topK(emb.where(col("vec_id") < 10), k = 5, nprobe = 8,
        rerankDepth = 64).count()
    }
    time("ivfpq index SECOND topK (warm cache — pure search cost)") {
      pqIdx.topK(emb.where(col("vec_id") >= 10 && col("vec_id") < 20),
        k = 5, nprobe = 8, rerankDepth = 64).count()
    }
    pqIdx.unpersist()
    time("chunk plan over 50k docs") {
      graft.operators.CorpusOps.chunkPlan(docs, "doc_id", "text", 32).count()
    }
    time("sequence packing over 50k docs (256 groups)") {
      graft.operators.CorpusOps.packSequences(
        docs.select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", budget = 256, numGroups = 256).count()
    }
    time("tf-idf top-3 over 50k docs") {
      graft.operators.CorpusOps.tfIdfTopTerms(docs, "doc_id", "text", 3).count()
    }
    // --- round-9 probe: winnowing repeated-spans with the fused O(m)
    // kernel at 10x corpus (50k docs; the r8 nested-HOF form took 888 s
    // for 5k docs). Three checks: wall-time, measured fingerprint density
    // vs the 2/(w+1) winnowing bound (SIGMOD '03 §4: expected SELECTED
    // positions per window; per-doc distinct emission can only sit at or
    // under it), and the detection guarantee — every shared run of length
    // >= w+k-1 must surface a fingerprint common to ALL docs carrying it. ---
    locally {
      val k = 8; val w = 4
      time("repeated-spans winnowing over 50k docs (fused O(m) kernel)") {
        graft.operators.Dedup.repeatedSpans(docs, "doc_id", "text",
          k = k, w = w, minDocs = 2).count()
      }
      val dens = docs.select(
          size(graft.functions.TextFunctions.winnowFingerprints(
            col("text"), k, w)).cast("double").as("nfp"),
          (length(col("text")) - (k - 1) - (w - 1)).cast("double").as("nwin"))
        .where(col("nwin") > 0)
        .agg(avg(col("nfp") / col("nwin")).as("d"))
        .first().getDouble(0)
      val bound = 2.0 / (w + 1)
      println(f"  winnow density: $dens%.4f distinct fps/window vs 2/(w+1) " +
        f"bound $bound%.4f")
      require(dens <= bound + 0.02 && dens > 0.1,
        f"winnow density $dens%.4f outside the plausible (0.1, ${bound + 0.02}%.4f] band")
      // planted boilerplate: 500 docs get the same 60-char suffix. The
      // shared run is > w+k-1, so every interior window's minimum is
      // identical across all 500 — at least one boilerplate fingerprint
      // must be shared by ALL planted docs, and repeatedSpans must report
      // it at df >= 500.
      val bp = " corpus wide boilerplate footer sentence planted for recall"
      val nPlant = 500L
      val planted = docs.where(col("doc_id") < nPlant)
        .select(col("doc_id"), concat(col("text"), lit(bp)).as("text"))
      val bpFps = spark.range(1).select(
          graft.functions.TextFunctions.winnowFingerprints(lit(bp), k, w)
            .as("fps"))
        .select(explode(col("fps")).as("fp"))
        .collect().map(_.getString(0)).toSeq
      val fullyShared = graft.operators.Dedup.repeatedSpans(
          planted, "doc_id", "text", k = k, w = w, minDocs = nPlant)
        .where(col("fp").isin(bpFps: _*))
        .count()
      println(s"  winnow recall: $fullyShared boilerplate fingerprints " +
        s"present in ALL $nPlant planted docs (guarantee needs >= 1)")
      require(fullyShared >= 1,
        "winnowing detection guarantee violated: no shared-run fingerprint")
      // boilerplateSpans at 10x: the detection GUARANTEE is that every
      // planted doc reports a span covering its suffix — reaching the doc
      // end and starting within w+k-1 chars of the suffix start (the first
      // full hash window inside the shared run must select). No
      // exclusivity is asserted: this corpus draws from a small repeated
      // vocabulary, so organic runs legitimately reach df >= minDocs and
      // may add spans of their own (or merge into the suffix span when
      // they touch it) — both shapes are correct detections.
      val plantedBp = docs.select(col("doc_id"), col("text").as("orig"),
        when(col("doc_id") < nPlant, concat(col("text"), lit(bp)))
          .otherwise(col("text")).as("text"))
      var covered = 0L
      time(s"boilerplate-spans over 50k docs ($nPlant planted)") {
        val spans = graft.operators.Dedup.boilerplateSpans(
          plantedBp, "doc_id", "text", k = k, w = w, minDocs = nPlant)
        covered = spans
          .join(plantedBp.where(col("doc_id") < nPlant)
            .select(col("doc_id"), length(col("orig")).as("blen")), "doc_id")
          .where( // span_end is exclusive: doc end = blen + |bp| + 1
            col("span_end") === col("blen") + lit(bp.length + 1) &&
            col("span_start") <= col("blen") + lit(w + k - 1))
          .select(col("doc_id")).distinct().count()
        covered
      }
      println(s"  boilerplate spans: $covered/$nPlant planted docs report " +
        "a span covering the planted suffix through to the doc end")
      require(covered == nPlant,
        s"expected $nPlant docs with a suffix-covering span, got $covered")
      graft.operators.Dedup.unpersistAll()
    }
    // --- round-9 probes: bigram LM scoring, relational k-means, and
    // SemDeDup at 10x. The x10 embeddings are 10 id-shifted copies of the
    // same 2000 vectors, which turns into a GUARANTEE check for semantic
    // dedup: identical vectors get identical round-9 distances, hence the
    // same argmin cell, so every 10-copy group must co-cluster and
    // tau=1.0 must return exactly C(10,2) x 2000 = 90,000 pairs. ---
    locally {
      time("bigram LM scoring over 50k docs (self-trained model)") {
        graft.operators.LanguageModel
          .bigramLmScore(docs, "doc_id", "text").count()
      }
      val bad = graft.operators.LanguageModel
        .bigramLmScore(docs, "doc_id", "text")
        .where(col("avg_logprob") > 0).count()
      require(bad == 0, s"$bad docs scored avg log-probability > 0")
      time("k-means k=64 x 3 Lloyd iterations over 20k vectors") {
        graft.operators.Clustering.kmeansAssign(
          emb, "vec_id", "embedding", k = 64, iters = 3).count()
      }
      val cells = graft.operators.Clustering.kmeansAssign(
          emb, "vec_id", "embedding", k = 64, iters = 3)
        .select("cell").distinct().count()
      println(s"  k-means: $cells/64 cells populated at 20k vectors")
      var semPairs = 0L
      time("SemDeDup k=64 tau=1.0 over 20k vectors (10 copies x 2000)") {
        semPairs = graft.operators.Clustering.semanticDedupPairs(
          emb, "vec_id", "embedding", k = 64, iters = 1, tau = 1.0).count()
        semPairs
      }
      require(semPairs == 45L * 2000L,
        s"expected 90000 identical-copy pairs, got $semPairs — " +
          "identical vectors failed to co-cluster")
      // CDC at 10x: the corpus is 10 id-shifted copies of every doc, so
      // EVERY chunk content recurs in at least 10 documents — shared-chunk
      // detection at minDocs=10 must cover the full distinct-hash set
      var nShared = 0L
      time("CDC chunk table + shared-chunk dedup over 50k docs") {
        nShared = graft.operators.Dedup.cdcSharedChunks(
          docs, "doc_id", "text", minDocs = 10).count()
        nShared
      }
      val nDistinct = graft.operators.Dedup.cdcChunkTable(docs, "doc_id", "text")
        .select("hash").distinct().count()
      println(s"  CDC: $nShared shared chunk contents at df>=10 of " +
        s"$nDistinct distinct — 10-copy guarantee " +
        (if (nShared == nDistinct) "holds" else "VIOLATED"))
      require(nShared == nDistinct,
        s"every chunk recurs in >= 10 docs by construction: $nShared != $nDistinct")
      // winnow pair similarity at 10x: every fp's df is 10x its base df,
      // so on this hyper-repetitive corpus the boilerplate cap removes
      // most fingerprints — exactly its job — and the pairs that survive
      // are identical-copy pairs of docs retaining >= minShared
      // DISTINCTIVE fps, which must score exactly 1.0 (sizes are computed
      // over the surviving sets, so copies agree on them completely)
      var simPairs = 0L
      var fullSim = 0L
      time("winnow pair similarity over 50k docs (df-capped self-join)") {
        val p = graft.operators.Dedup.winnowSimilarity(
          docs, "doc_id", "text")
        simPairs = p.count()
        fullSim = p.where(col("sim") === 1.0).count()
        simPairs
      }
      println(s"  winnow similarity: $simPairs pairs survive the df cap, " +
        s"$fullSim at sim=1.0 (identical-copy pairs of docs with " +
        "distinctive fingerprints)")
      require(fullSim >= 45L && fullSim == simPairs,
        s"expected only identical-copy pairs at sim=1.0: $fullSim/$simPairs")
      graft.operators.Dedup.unpersistAll()
    }
    // --- round-10 probes: NB classification, DSIR weighting, and the
    // streaming near-dup ingest gate at 10x. The 10-copy corpus again
    // turns into guarantees: ingesting all 50k docs must keep exactly the
    // 5000 distinct texts (copies are byte-identical -> exact prefilter
    // in-batch, estimate-1.0 store hits across batches). ---
    locally {
      val split = graft.operators.Sampling.hashSplit(docs, "doc_id")
      val tr = split.where(col("split") === "train")
      val va = split.where(col("split") === "val")
      var preds = 0L
      time("NB classify (5-way lang) over 50k docs, train->val") {
        preds = graft.operators.Classifier.naiveBayes(
          tr, va, "doc_id", "lang", "text").count()
        preds
      }
      val nVal = va.count()
      require(preds == nVal, s"one prediction per val doc: $preds != $nVal")
      var sel = 0L; var scoredN = 0L
      time("DSIR weighting (en target vs train source) over 50k docs") {
        val w = graft.operators.LanguageModel.dsirWeights(
          tr.where(col("lang") === "en"), tr, va, "doc_id", "text")
        scoredN = w.count()
        sel = w.where(col("selected") === 1L).count()
        scoredN
      }
      println(s"  DSIR: $sel/$scoredN val docs selected (top-quantile cut)")
      require(sel > 0 && sel < scoredN, "selection cut must be non-trivial")
      // the 50k corpus is 10 exact copies x 5000 base docs (4992 distinct
      // texts at sf0.1, plus organic near-dups in the small-vocab corpus):
      // the gate must (a) suppress every exact copy — kept <= distinct
      // texts — and (b) give the SAME kept set whether the corpus arrives
      // as one batch or two (copies of a dropped doc hit the store through
      // the doc that dropped it, so batching cannot change the outcome)
      def runGate(batches: Seq[org.apache.spark.sql.DataFrame]): Set[Long] = {
        val stateDir = java.nio.file.Files
          .createTempDirectory("graft_ndi_probe").toString
        val gate = new graft.streaming.NearDupIngest(
          stateDir, "doc_id", "text")
        batches.zipWithIndex.foreach { case (b, i) =>
          gate.processBatch(b, i.toLong) }
        val ids = gate.kept(spark).collect().map(_.getLong(0)).toSet
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(stateDir))
        ids
      }
      var kept2: Set[Long] = Set.empty
      time("near-dup ingest gate: 50k docs (10 exact copies x 5000) in 2 batches") {
        kept2 = runGate(Seq(
          docs.where(col("doc_id") < 500000000L),
          docs.where(col("doc_id") >= 500000000L)))
        kept2.size.toLong
      }
      val kept1 = runGate(Seq(docs))
      val distinctTexts = docs.select(
        graft.functions.TextFunctions.fingerprintMd5(col("text")))
        .distinct().count()
      println(s"  ingest gate: ${kept2.size} kept of 50k " +
        s"($distinctTexts distinct texts; 1-batch run: ${kept1.size})")
      require(kept2 == kept1,
        s"batching changed the kept set: ${kept2.size} vs ${kept1.size}")
      require(kept2.size <= distinctTexts && kept2.size > 1000,
        s"kept ${kept2.size} outside (1000, $distinctTexts]")
    }
    // --- round-11 probes: stupid-backoff trigram LM, batch-GD logistic
    // regression, and the deterministic training-order shuffle at 10x ---
    locally {
      val split = graft.operators.Sampling.hashSplit(docs, "doc_id")
      val tr = split.where(col("split") === "train")
      val va = split.where(col("split") === "val")
      var scored = 0L
      time("stupid-backoff trigram LM over 50k docs, train->val") {
        scored = graft.operators.LanguageModel.stupidBackoffScore(
          tr, va, "doc_id", "text").count()
        scored
      }
      require(scored == va.count(), "one score row per val doc")
      var preds = 0L
      time("logistic regression (3 GD iters, 4 features) over 50k docs") {
        preds = graft.operators.Classifier.logisticQuality(
          tr.withColumn("label", (col("lang") === "en").cast("long")),
          va, "doc_id", "label", "text").count()
        preds
      }
      require(preds == va.count(), "one prediction per val doc")
      var sharded = 0L
      time("trainOrder shuffle: 50k docs into 64 shards") {
        val t = graft.operators.Sampling.trainOrder(
          docs.select(col("doc_id")), "doc_id", shards = 64, seed = 42L)
        sharded = t.count()
        val worst = t.groupBy(col("shard")).count()
          .agg(max(col("count"))).collect().head.getLong(0)
        require(worst < 50000 / 64 * 2, s"shard skew: worst $worst")
        sharded
      }
      require(sharded == 50000L, s"every doc sharded once: $sharded")
      // gram novelty on the 10-copy corpus turns into a GUARANTEE: every
      // copy doc (id >= 1e8) is byte-identical to its base, so the base
      // (min id) owns every one of its grams — copies must score novelty
      // 0 exactly; and summed n_novel must equal the corpus's distinct
      // trigram count (every gram has exactly one first owner)
      var copiesNovel = -1L
      time("gram novelty (trigram first-owner) over 50k docs") {
        val nov = graft.operators.CorpusOps.gramNovelty(
          docs, "doc_id", "text", n = 3).persist()
        copiesNovel = nov.where(col("doc_id") >= 100000000L &&
          col("novelty") > 0.0).count()
        val novelSum = nov.agg(sum(col("n_novel"))).collect().head.getLong(0)
        val distinctTris = docs.select(explode(
            graft.functions.minhashExprs.wordGrams(
              graft.functions.TextFunctions.normalized(col("text")), 3)))
          .distinct().count()
        nov.unpersist()
        require(novelSum == distinctTris,
          s"one first owner per gram: $novelSum != $distinctTris")
        copiesNovel
      }
      require(copiesNovel == 0L,
        s"$copiesNovel copy docs claim novel grams (must be 0)")
    }

    // --- round-11 continuation probes: hashed sparse LR at a real bucket
    // count, C4 cleaning throughput, weighted sampling at 1M rows, the
    // Count-Min grid bound, and the quality-budget fill at 50k docs ---
    locally {
      val split = graft.operators.Sampling.hashSplit(docs, "doc_id")
      val tr = split.where(col("split") === "train")
      val va = split.where(col("split") === "val")
      var preds = 0L
      time("hashed sparse LR (B=2^18, 2 GD iters) over 50k docs") {
        preds = graft.operators.Classifier.hashedLogReg(
          tr.withColumn("label", (col("lang") === "en").cast("long")),
          va, "doc_id", "label", "text", numBuckets = 1 << 18).count()
        preds
      }
      require(preds == va.count(), "one prediction per val doc")
      time("C4 line cleaning over 50k docs (map-only)") {
        val c4 = graft.functions.TextFunctions.c4Rules(
          docs, "doc_id", "text", minLineWords = 5, minKeptLines = 1)
          .persist()
        val bad = c4.where(col("keep") =!=
          (!col("has_lorem") && !col("has_brace") &&
            col("n_kept_lines") >= 1)).count()
        require(bad == 0, s"keep != AND(rules) on $bad rows")
        val n = c4.count()
        c4.unpersist()
        n
      }
      time("weighted sample: top 1000 of 1M rows by 10:1 weights") {
        val big = spark.range(1000000L).select(col("id"),
          when(col("id") % 10 === 0, 10.0).otherwise(1.0).as("w"))
        val s = graft.operators.Sampling.weightedSample(
          big, "id", "w", n = 1000).persist()
        val heavy = s.where(col("id") % 10 === 0).count()
        val total = s.count()
        s.unpersist()
        // heavy rows are 10% of the corpus at 10x weight: expect a clear
        // majority of the kept set (E ~ 52%), far above the 10% base rate
        require(heavy > total * 3 / 10,
          s"weighted draw ignored weights: $heavy/$total heavy")
        total
      }
      time("Count-Min sketch (d=4, w=1024) over the 50k-doc corpus") {
        val sk = graft.operators.CorpusOps.cmSketch(
          docs, "text", depth = 4, width = 1024).persist()
        val rows = sk.count()
        require(rows <= 4L * 1024L, s"grid bound violated: $rows")
        // CM guarantee spot-check against exact counts for 5 corpus terms
        val exact = docs.select(explode(
            graft.functions.minhashExprs.wordGrams(
              graft.functions.TextFunctions.normalized(col("text")), 1))
            .as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("tc"))
          .orderBy(col("tc").desc).limit(5).persist()
        val joined = graft.operators.CorpusOps.cmEstimate(
            sk, exact.select(col("token")), "token", depth = 4, width = 1024)
          .join(exact, "token").collect()
        exact.unpersist(); sk.unpersist()
        joined.foreach { r =>
          require(r.getLong(1) >= r.getLong(2),
            s"CM underestimated ${r.getString(0)}")
        }
        rows
      }
      time("quality-budget fill: best 100k tokens of 50k docs") {
        val scored = docs.select(col("doc_id"),
          graft.functions.TextFunctions.qualityScore(col("text")).as("q"),
          graft.functions.TextFunctions.tokenCount(col("text")).as("nt"))
        val kept = graft.operators.Sampling.qualityBudgetFill(
          scored, "doc_id", "nt", "q", budget = 100000L).persist()
        val n = kept.count()
        val worstKept = kept.agg(min(col("q"))).collect().head.getDouble(0)
        kept.unpersist()
        require(n > 0, "budget fill kept nothing")
        println(f"  quality-budget: $n docs kept, min kept quality $worstKept%.3f")
        n
      }
    }
    // --- round-10 probes: retrieval surface (BM25, hybrid RRF) and the
    // row-local Gopher filter at 10x ---
    locally {
      // Gopher rules at 10x: this corpus carries only 'the' of the eight
      // A1.1 stopwords, so the stopword rule correctly blocks everything —
      // the PROBE guarantee is the named-rule audit itself: the emitted
      // keep flag must equal the conjunction of the emitted signals'
      // thresholds on all 50k rows (the boundary-rounding consistency a
      // 500-row gate can't stress), and each signal rule must individually
      // pass for a non-trivial slice
      val g = graft.functions.TextFunctions
        .gopherRules(docs, "doc_id", "text").cache()
      time("gopher rules (map-only filter) over 50k docs") { g.count() }
      val inconsistent = g.where(col("keep") =!= (
        col("word_count") >= 50 && col("word_count") <= 100000 &&
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
          col("symbol_ratio") <= 0.1 && col("bullet_ratio") <= 0.9 &&
          col("ellipsis_ratio") <= 0.3 && col("alpha_frac") >= 0.8 &&
          col("stop_hits") >= 2L)).count()
      val passWc = g.where(col("word_count") >= 50).count()
      val passStop = g.where(col("stop_hits") >= 2L).count()
      println(s"  gopher audit: keep==AND(signals) violated on " +
        s"$inconsistent/50000 rows; word-count rule passes $passWc, " +
        s"stopword rule passes $passStop (sole blocker on this corpus)")
      require(inconsistent == 0, "keep flag diverged from emitted signals")
      require(passWc > 20000 && passStop == 0,
        s"unexpected rule profile: wc=$passWc stop=$passStop")
      g.unpersist()
      // BM25 retrieval guarantee needs a term with KNOWN postings: plant a
      // 10-copy family carrying tokens that exist nowhere else — only docs
      // containing a query term can score, so the result must be exactly
      // the family, ties broken by ascending id
      // ids clear of the x10 copies' shifted ranges (copy 9 owns 9e8+...)
      val family = (0 until 10).map(i => 5000000000L + i)
      val planted = docs.select(col("doc_id"), col("text")).unionByName(
        spark.createDataFrame(family.map(id =>
          (id, "zzqalpha zzqbeta zzqgamma corpus sentinel words")))
          .toDF("doc_id", "text"))
      val qs = spark.createDataFrame(
        Seq((999L, "zzqalpha zzqbeta"))).toDF("qid", "qtext")
      var bm: Array[(Long, Long)] = Array.empty
      time("BM25 top-10 over 50k docs + planted 10-copy unique-term family") {
        bm = graft.operators.Search.bm25TopK(
            planted, qs, "doc_id", "text", "qid", "qtext", k = 10)
          .collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("rank")))
        bm.length.toLong
      }
      require(bm.sortBy(_._2).map(_._1).toSeq == family,
        s"expected exactly the planted family in id order, got ${bm.toSeq}")
      val qdocs = docs.where(col("doc_id") < 4)
        .select(col("doc_id"), col("text"))
      val lex = graft.operators.Search.bm25TopK(
        docs, qdocs, "doc_id", "text", "doc_id", "text", k = 20)
      val vec = graft.operators.Similarity.bruteForceTopK(
          emb.where(col("vec_id") < 4), emb, "vec_id", "embedding", k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
      time("hybrid RRF fuse (BM25 + brute-force cosine over 50k vectors)") {
        val fused = graft.operators.Search.rrfFuse(Seq(lex, vec), k = 10)
          .collect()
        require(fused.length == 40, s"expected 4x10 fused rows, got ${fused.length}")
        fused.length.toLong
      }
      // BPE: 32 merges over the 50k-doc corpus (vocabulary-sized
      // iterations after ONE corpus pass; localCheckpoint cuts lineage at
      // merge 16), then encode the corpus under the learned merges
      var learned: Seq[(String, String)] = Seq.empty
      time("BPE induction: 32 merges over 50k docs") {
        learned = graft.operators.CorpusOps.bpeMerges(docs, "text", 32)
          .collect().sortBy(_.getLong(0))
          .map(r => (r.getString(1), r.getString(2))).toSeq
        learned.size.toLong
      }
      require(learned.size == 32, s"expected 32 merges, got ${learned.size}")
      time("BPE encode (vocabulary-deduped replace chain) over 50k docs") {
        val enc = graft.operators.CorpusOps.bpeEncode(
          docs, "doc_id", "text", learned)
        val n = enc.count()
        require(n == 50000, s"one row per doc: $n")
        n
      }
    }
    // --- round-7 maintenance probes: OPTIMIZE ZORDER (both cell modes) and
    // Change Data Feed over a ~6M-row Delta table ---
    locally {
      import graft.deltalog.{DeltaFixtureWriter, DeltaLog}
      import graft.operators.Maintenance
      val probe = li.select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))

      def filesOverlapping(tbl: String, c: String, lo: Long, hi: Long)
          : (Long, Long) = {
        val snap = DeltaLog.snapshot(spark, tbl)
        val total = snap.activeFiles.count()
        val hit = snap.dataWithFile.get
          .groupBy(col("__file"))
          .agg(min(col(c)).as("mn"), max(col(c)).as("mx"))
          .where(col("mn") <= hi && col("mx") >= lo)
          .count()
        (hit, total)
      }

      Seq(false, true).foreach { rank =>
        val tbl = java.nio.file.Files
          .createTempDirectory(s"graft_zorder_probe_$rank").toString
        // written range-partitioned by orderkey: a partkey predicate
        // cannot prune anything until the zorder rewrite clusters it
        DeltaFixtureWriter.write(
          probe.repartitionByRange(32, col("l_orderkey")), tbl,
          "overwrite", Seq())
        val (hitBefore, totBefore) =
          filesOverlapping(tbl, "l_partkey", 1L, 2000L)
        val snap0 = DeltaLog.snapshot(spark, tbl)
        val bytes = snap0.detail.select("sizeInBytes")
          .collect().head.getLong(0)
        time(s"OPTIMIZE ZORDER (rankBased=$rank) over 6M rows") {
          Maintenance.zorder(spark, tbl, Seq("l_orderkey", "l_partkey"),
            targetFileBytes = math.max(1L, bytes / 32), rankBased = rank)
          probe.count()
        }
        val (hitAfter, totAfter) =
          filesOverlapping(tbl, "l_partkey", 1L, 2000L)
        println(s"  pruning evidence (l_partkey in [1,2000], 10% of range): " +
          s"before $hitBefore/$totBefore files overlap, " +
          s"after $hitAfter/$totAfter")
        DeltaFixtureWriter.drop(tbl)
      }

      val tbl = java.nio.file.Files
        .createTempDirectory("graft_cdf_probe").toString
      DeltaFixtureWriter.write(
        probe.repartitionByRange(32, col("l_orderkey")), tbl,
        "overwrite", Seq())                                        // v0
      DeltaFixtureWriter.write(
        probe.where(col("l_orderkey") < 1000L)
          .withColumn("l_orderkey", col("l_orderkey") + 2000000000L),
        tbl, "append", Seq())                                      // v1
      time("predicate DELETE (l_quantity > 49, ~2% of 6M rows)") {
        DeltaFixtureWriter.delete(spark, tbl, "l_quantity > 49")   // v2
        probe.count()
      }
      time("CDF changes (0,2] over the 6M-row table") {
        DeltaLog.changes(spark, tbl, 0, 2).count()                 // feed rows
      }
      DeltaFixtureWriter.drop(tbl)
    }

    // adversarial corpus: 100k IDENTICAL documents — without the bucket
    // guard every band bucket holds all 100k docs and the self-join emits
    // ~10^10 candidate pairs; with it the probe must complete in seconds
    // with zero pairs (exact dedup owns identical docs)
    val blob = spark.range(100000L).select(col("id").as("doc_id"),
      lit("identical boilerplate text repeated across the entire corpus " +
        "to form one degenerate lsh bucket").as("text"))
    time("DEGENERATE: minhash LSH over 100k identical docs (bucket guard)") {
      graft.operators.Dedup.minhashPairs(blob, "doc_id", "text").count()
    }
    time("DEGENERATE: simhash LSH over 100k identical docs (bucket guard)") {
      graft.operators.Dedup.simhashPairs(blob, "doc_id", "text").count()
    }
    graft.operators.Dedup.unpersistAll()
    spark.stop()
  }
}
