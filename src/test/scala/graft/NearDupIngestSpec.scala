package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.NearDupIngest

/** Streaming near-dup ingestion: cross-batch near-copy suppression,
  * within-batch first-wins, non-duplicates untouched, and equivalence with
  * one-doc-per-batch sequential ingestion. */
class NearDupIngestSpec extends SparkSuite {
  import spark.implicits._

  // long shared bodies so near-copies genuinely collide in MinHash bands
  private val bodyA = "the quick brown fox jumps over the lazy dog while " +
    "the corpus pipeline deduplicates long repeated crawl paragraphs " +
    "token by token across every shard of the training data lake"
  private val bodyB = "completely different content about relational " +
    "query engines shuffling partitioned columnar batches through " +
    "whole stage generated operators with adaptive execution enabled"

  private def nearCopy(base: String, tag: String) = s"$base $tag"

  test("cross-batch near-copies drop; distinct docs survive") {
    val state = tmpDir("ndi_state")
    val gate = new NearDupIngest(state, "doc_id", "text")
    gate.processBatch(Seq((1L, bodyA), (2L, bodyB)).toDF("doc_id", "text"), 0L)
    // batch 2: near-copies of both kept docs + one genuinely new doc
    gate.processBatch(Seq(
      (10L, nearCopy(bodyA, "trailing edit")),
      (11L, nearCopy(bodyB, "другой suffix")),
      (12L, "entirely novel third topic discussing winnowing fingerprints " +
        "and content defined chunk boundaries for substring level dedup " +
        "across immutable snapshots of the ingested corpus")
    ).toDF("doc_id", "text"), 1L)
    val kept = gate.kept(spark).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 12L))
  }

  test("within-batch: smallest id of a near-dup group wins") {
    val state = tmpDir("ndi_batchwins")
    val gate = new NearDupIngest(state, "doc_id", "text")
    gate.processBatch(Seq(
      (7L, nearCopy(bodyA, "v seven")),
      (3L, nearCopy(bodyA, "v three")),
      (5L, bodyB)
    ).toDF("doc_id", "text"), 0L)
    assert(gate.kept(spark).collect().map(_.getLong(0)).toSet === Set(3L, 5L))
  }

  test("two-batch ingest == one-doc-per-batch sequential ingest") {
    val docs = Seq(
      (1L, bodyA), (2L, bodyB),
      (3L, nearCopy(bodyA, "edited tail")),
      (4L, nearCopy(bodyB, "another tail")),
      (5L, "unique fifth document about stratified temperature scaled " +
        "sampling quotas balancing multilingual corpus mixtures under " +
        "deterministic md5 bucket assignment for reproducible training runs"))
    val twoBatch = new NearDupIngest(tmpDir("ndi_two"), "doc_id", "text")
    twoBatch.processBatch(docs.take(2).toDF("doc_id", "text"), 0L)
    twoBatch.processBatch(docs.drop(2).toDF("doc_id", "text"), 1L)
    val seq = new NearDupIngest(tmpDir("ndi_seq"), "doc_id", "text")
    docs.zipWithIndex.foreach { case (d, i) =>
      seq.processBatch(Seq(d).toDF("doc_id", "text"), i.toLong)
    }
    val a = twoBatch.kept(spark).collect().map(_.getLong(0)).toSet
    val b = seq.kept(spark).collect().map(_.getLong(0)).toSet
    assert(a === b)
    assert(a === Set(1L, 2L, 5L))
  }

  test("degenerate batch: identical-doc flood is caught by the exact " +
      "prefilter even under a tiny bucket cap") {
    val gate = new NearDupIngest(tmpDir("ndi_degen"), "doc_id", "text",
      bucketCap = 5)
    // 50 identical docs would blow any band bucket past cap=5 — the cap
    // drops those buckets from the self-join, and the exact keep-min-id
    // prefilter must be what suppresses the flood
    val flood = (1L to 50L).map(i => (i, bodyA))
    gate.processBatch((flood :+ (100L -> bodyB)).toDF("doc_id", "text"), 0L)
    assert(gate.kept(spark).collect().map(_.getLong(0)).toSet === Set(1L, 100L))
  }

  test("foreachBatch stream drive (AvailableNow) matches batch semantics") {
    val dir = tmpDir("ndi_stream_in")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    Seq((1L, bodyA), (2L, bodyB)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1100)
    Seq((10L, nearCopy(bodyA, "stream copy")), (11L, "fresh streaming doc " +
      "about bounded state stores holding one open session per live user " +
      "under event time watermarks across micro batch restarts"))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/b2")
    val gate = new NearDupIngest(tmpDir("ndi_stream_state"), "doc_id", "text")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val q = gate.ingest(stream, tmpDir("ndi_ckpt"))
    q.awaitTermination(120000)
    val kept = gate.kept(spark).collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 2L, 11L))
  }

  test("gate -> Gopher filter -> curated sink -> corpus monitor: the stream equals one batch pass") {
    import graft.functions.TextFunctions
    import graft.streaming.{EventStreams, SketchStreams}
    // 40 bases, then exact re-arrivals of every base under new ids (40..79)
    // in a later file, which the gate's store must drop. Bases with
    // base % 10 == 7 are '#'-ridden junk that passes the gate and fails
    // the Gopher rules; every other base is 2 stopwords + 22 base-unique
    // fillers, so no two bases share a shingle
    val nBase = 40L
    def text(b: Long) =
      if (b % 10 == 7) s"# junk ### t$b ### ... # ## junk2"
      else "the data of " + (0L until 22L).map(k => f"t${b * 23 + k}%08d").mkString(" ")
    val docs = (0L until 2 * nBase).map(i => (i, text(i % nBase)))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val inDir = tmpDir("curation_in")
    docs.grouped(nBase.toInt).zipWithIndex.foreach { case (rows, i) =>
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$inDir/b$i")
      new java.io.File(s"$inDir/b$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1000000000000L + i * 60000L))
    }
    def curate(out: String)(kept: org.apache.spark.sql.DataFrame): Unit =
      kept.join(TextFunctions.gopherRules(kept, "doc_id", "text", minWords = 20)
          .where(col("keep")).select("doc_id"), "doc_id")
        .write.mode("append").parquet(out)
    val (curatedS, curatedB) = (tmpDir("curated_s"), tmpDir("curated_b"))
    new NearDupIngest(tmpDir("curation_state_s"), "doc_id", "text")
      .ingest(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true").parquet(inDir),
        tmpDir("curation_ckpt"), curate(curatedS))
      .awaitTermination(120000)
    new NearDupIngest(tmpDir("curation_state_b"), "doc_id", "text")
      .processBatch(docs.toDF("doc_id", "text"), 0L, curate(curatedB))
    def ids(dir: String) = spark.read.parquet(dir).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids(curatedS) === (0L until nBase).filter(_ % 10 != 7))
    assert(ids(curatedB) === ids(curatedS))
    // the monitor as a streaming aggregation over the curated sink == its
    // batch form: KMV and KLL exactly, Misra-Gries on the guaranteed heavy
    // set (the 3 shared words, far above the n/(k+1) deficit bound; the
    // count-1 tail of the summary depends on merge order by design)
    val monS = EventStreams.runToMemory(spark,
      spark.readStream.schema(schema).option("pathGlobFilter", "*.parquet").parquet(curatedS),
      df => SketchStreams.corpusMonitor(df, "text"), "curation_monitor").collect().head
    val monB = SketchStreams.corpusMonitor(spark.read.parquet(curatedB), "text").collect().head
    def heavies(r: org.apache.spark.sql.Row) = {
      val nTok = 25L * ids(curatedS).size
      r.getSeq[org.apache.spark.sql.Row](1).filter(_.getLong(1) >= nTok / 65 + 1)
        .map(h => h.getString(0) -> h.getLong(1)).toSet
    }
    assert(monS.getDouble(0) === monB.getDouble(0))
    assert(monS.getSeq[Double](2) === monB.getSeq[Double](2))
    assert(heavies(monS).map(_._1) === Set("the", "data", "of"))
    assert(heavies(monS) === heavies(monB))
  }

  test("crash mid-stream, resume from checkpoint: kept set identical to " +
      "the uninterrupted run, no duplicate state") {
    // the crash is injected in onKept, which runs AFTER the batch's three
    // state appends but BEFORE the checkpoint offset commit — the worst
    // failure point: on resume the batch is REPLAYED against state that
    // already contains it. The gate must be naturally idempotent there:
    // every replayed doc exact-Jaccard-hits its own stored copy and drops,
    // so kept/sigs/bands take no duplicate rows and the final corpus is
    // byte-identical to a run that never crashed.
    val inDir = tmpDir("ndi_restart_in")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val novelC = "fresh streaming doc about bounded state stores holding " +
      "one open session per live user under event time watermarks across " +
      "micro batch restarts"
    val novelD = "entirely separate subject matter covering columnar " +
      "encodings dictionary compression and run length encoded pages " +
      "inside immutable parquet row groups at petabyte corpus scale"
    Seq((1L, bodyA), (2L, bodyB)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$inDir/b1")
    Thread.sleep(1100)
    Seq((10L, nearCopy(bodyA, "restart copy")), (11L, novelC))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$inDir/b2")
    Thread.sleep(1100)
    // batch 3 spans the crash boundary BOTH ways: 20/21 near-dup docs
    // kept before the crash (state must survive the restart), 22 novel
    Seq((20L, nearCopy(bodyB, "post restart tail")),
        (21L, nearCopy(novelC, "late twin")),
        (22L, novelD))
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$inDir/b3")
    def in() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(inDir)

    val state = tmpDir("ndi_restart_state")
    val ckpt = tmpDir("ndi_restart_ckpt")
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val q1 = new NearDupIngest(state, "doc_id", "text").ingest(in(), ckpt,
      onKept = _ => if (calls.incrementAndGet() == 2)
        throw new RuntimeException("injected crash: state written, " +
          "checkpoint not committed"))
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q1.awaitTermination(120000)
    }
    assert(crashed.getMessage.contains("injected crash"))
    assert(calls.get() === 2, s"crash must land on batch 2: ${calls.get()}")

    // resume: NEW gate instance, same state dir + checkpoint — batch 2
    // replays against its own stored state, then batch 3 completes
    val gate2 = new NearDupIngest(state, "doc_id", "text")
    gate2.ingest(in(), ckpt).awaitTermination(120000)
    val resumed = gate2.kept(spark)

    // twin: the same files through an uninterrupted gate
    val twin = new NearDupIngest(tmpDir("ndi_restart_twin"), "doc_id", "text")
    twin.ingest(in(), tmpDir("ndi_restart_twin_ckpt"))
      .awaitTermination(120000)

    val a = resumed.collect().map(_.getLong(0)).toSet
    val b = twin.kept(spark).collect().map(_.getLong(0)).toSet
    assert(a === b, s"resumed $a != uninterrupted $b")
    assert(a === Set(1L, 2L, 11L, 22L))
    // the replayed batch must not have double-appended its survivors
    assert(resumed.count() === resumed.select("doc_id").distinct().count(),
      "replayed batch appended duplicate kept rows")
  }

  test("estimate prefilter alone never drops: exact Jaccard is the gate") {
    import graft.functions.minhashExprs
    // a moderate edit whose exact Jaccard sits INSIDE the prefilter window
    // [threshold - 0.2, threshold): the old estimate-only gate dropped it,
    // the batch-equivalent two-stage check must keep it
    val edited = bodyA.replace("lazy", "sleepy")
    val th = 0.95
    val inter = minhashExprs.sortedIntersectCount(col("sa"), col("sb"))
    val Array(jac, est) = Seq((bodyA, edited)).toDF("a", "b")
      .select(minhashExprs.wordShingleSet(col("a"), 3).as("sa"),
        minhashExprs.wordShingleSet(col("b"), 3).as("sb"))
      .select(
        (inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
          .as("jac"),
        (minhashExprs.arrayAgreeCount(
          minhashExprs.minhashSig(col("sa"), 64),
          minhashExprs.minhashSig(col("sb"), 64)).cast("double") / 64)
          .as("est"))
      .collect().map(r => Array(r.getDouble(0), r.getDouble(1))).head
    // fixture self-check: the pair must genuinely exercise the window
    assert(jac >= th - 0.2 && jac < th, s"fixture drifted: jac=$jac")
    assert(est >= th - 0.2, s"fixture drifted: est=$est")
    val gate = new NearDupIngest(tmpDir("ndi_exactgate"), "doc_id", "text",
      threshold = th)
    gate.processBatch(Seq((1L, bodyA)).toDF("doc_id", "text"), 0L)
    gate.processBatch(Seq((2L, edited)).toDF("doc_id", "text"), 1L)
    // sub-threshold exact similarity -> KEPT despite the estimate hit
    assert(gate.kept(spark).collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    // an at-threshold copy (identical text, new id) still drops cross-batch
    gate.processBatch(Seq((3L, bodyA)).toDF("doc_id", "text"), 2L)
    assert(gate.kept(spark).collect().map(_.getLong(0)).toSet === Set(1L, 2L))
  }
}
