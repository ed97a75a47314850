package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, ScaleOps, Similarity}
import graft.queries.Queries
import graft.streaming.EventStreams

/** Salted aggregation equivalence, LSH bucket guards, SQL-extension
  * registration, and stateful sessionization. */
class ScaleOpsSpec extends SparkSuite {
  import spark.implicits._

  test("bucket guard: capBuckets drops hot buckets, truncateBuckets bounds them") {
    val df = spark.range(150).select(lit("hot").as("k"), col("id"))
      .union(spark.range(5).select(lit("cold").as("k"), col("id")))
    val kept = ScaleOps.capBuckets(df, Seq("k"), 100, "test_cap").collect()
    assert(kept.length === 5 && kept.forall(_.getString(0) == "cold"))
    val trunc = ScaleOps.truncateBuckets(df, Seq("k"), "id", 100, "test_trunc")
      .groupBy("k").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(trunc === Map("hot" -> 100L, "cold" -> 5L))
  }

  test("bucket guard: 2k-identical-doc corpus cannot go quadratic in LSH dedup") {
    val n = 2000
    val cap = 100
    val blob = spark.range(n).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated in every document of this corpus").as("text"))
    // every band bucket holds all 2000 docs → over cap → dropped entirely:
    // candidate-pair count is 0 (bounded by cap², not n²)
    assert(Dedup.minhashPairs(blob, "doc_id", "text", bucketCap = cap).count() === 0L)
    assert(Dedup.ngramJaccardPairs(blob, "doc_id", "text", bucketCap = cap).count() === 0L)
    // identical docs are the exact-dedup operator's job — one hash agg,
    // immune to the cap
    val exact = Dedup.exactTextGroups(blob, "doc_id", "text").collect()
    assert(exact.length === 1 && exact(0).getAs[Long]("dup_cnt") === n.toLong)
    // empty docs: simhash 0 → all four 16-bit chunks are the classic hot
    // key 0 → capped
    val empties = spark.range(n).select(col("id").as("doc_id"), lit("").as("text"))
    assert(Dedup.simhashPairs(empties, "doc_id", "text", bucketCap = cap).count() === 0L)
    // identical embeddings: one hyperplane bucket holds the whole corpus
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      lit(Array.fill(16)(1.0f)).as("embedding"))
    assert(Dedup.embeddingPairs(vecs, "vec_id", "embedding",
      dim = 16, bucketCap = cap).count() === 0L)
  }

  test("bucket guard: lshTopK truncates a hot corpus bucket but still answers") {
    val n = 2000
    val vecs = spark.range(n).select(col("id").as("vec_id"),
      lit(Array.fill(16)(1.0f)).as("embedding"))
    def run(corpus: org.apache.spark.sql.DataFrame = vecs) = Similarity.lshTopK(
      vecs.where(col("vec_id") < 2), corpus, "vec_id", "embedding",
      k = 10, dim = 16, bucketCap = 100)
    val res = run()
    val byQuery = res.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // each query still gets its full k neighbors from the bounded sample
    assert(byQuery === Map(0L -> 10L, 1L -> 10L))
    // the truncated sample is deterministic (hash-ordered, not arrival- or
    // id-ordered): identical results over a different corpus layout
    val again = run(vecs.repartition(7))
    assert(again.collect().map(_.toSeq).toSet === res.collect().map(_.toSeq).toSet)
  }

  test("bloom prefilter: zero false negatives, fpp in the right ballpark") {
    val members = spark.range(0, 5000).select((col("id") * 7919L).as("k"))
    val bloom = ScaleOps.bloomFor(members, "k", expectedItems = 5000,
      fpp = 0.01)
    assert(members.where(!bloom.mightContain(col("k"))).count() === 0L,
      "a member must never be rejected")
    // disjoint probe domain (odd offsets of the 7919-multiples)
    val probes = spark.range(0, 20000).select((col("id") * 7919L + 1L).as("k"))
    val fp = probes.where(bloom.mightContain(col("k"))).count()
    assert(fp < 20000 * 0.05, s"false-positive count $fp far above 1% target")
  }

  test("bloom prefilter: membership test stays inside whole-stage codegen") {
    val members = spark.range(0, 100).select(col("id").as("k"))
    val bloom = ScaleOps.bloomFor(members, "k", expectedItems = 100)
    val probe = spark.range(0, 1000).select(col("id").as("k"))
      .where(bloom.mightContain(col("k")))
    // `*(n)` is executedPlan.toString's marker for a WholeStageCodegen span;
    // the Filter carrying the bloom test must sit inside one
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("Filter")),
      s"bloom probe fell out of codegen:\n$plan")
    assert(!plan.toLowerCase.contains("batchevalpython") &&
      !plan.contains("ScalaUDF"), "probe must be a native expression")
  }

  test("bloom prefilter: shuffle-bound evidence — tiny benchmark passes few corpus shingles") {
    import graft.functions.minhashExprs
    // 2000 distinct corpus docs vs a 5-doc benchmark: the join exchange
    // after the prefilter must carry a small fraction of the corpus's
    // shingle volume (true matches + ~fpp of the rest)
    // every shingle carries an id-derived token, so docs share (almost)
    // nothing with the 5-doc benchmark — the realistic asymmetric case
    val corpus = spark.range(0, 2000).select(col("id"),
      concat(lit("doc"), col("id").cast("string"),
        lit(" alpha"), (col("id") * 7).cast("string"),
        lit(" beta"), (col("id") * 13).cast("string"),
        lit(" gamma"), (col("id") * 31).cast("string"),
        lit(" delta"), (col("id") * 57).cast("string")).as("text"))
    val bench = corpus.where(col("id") < 5)
    val shingles = corpus.select(
      explode(minhashExprs.wordShingleSet(col("text"), 3)).as("sh"))
    val benchSh = bench.select(
      explode(minhashExprs.wordShingleSet(col("text"), 3)).as("sh")).distinct()
    val bloom = ScaleOps.bloomFor(benchSh, "sh",
      expectedItems = benchSh.count(), fpp = 0.01)
    val total = shingles.count()
    val passed = shingles.where(bloom.mightContain(col("sh"))).count()
    assert(passed < total / 5,
      s"prefilter must drop the bulk of the corpus volume " +
        s"($passed of $total shingles passed)")
    // and it passes every true match (join results identical either way)
    val exact = graft.operators.Dedup.crossNgramOverlap(
      corpus, bench, "id", "text", w = 3, minShared = 5)
    val bloomed = graft.operators.Dedup.crossNgramOverlapBloom(
      corpus, bench, "id", "text", w = 3, minShared = 5)
    assert(bloomed.exceptAll(exact).isEmpty && exact.exceptAll(bloomed).isEmpty)
  }

  test("salted counts == plain counts (skew-safe two-phase form)") {
    val li = table("lineitem")
    val plain = li.groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = ScaleOps.saltedCounts(li, Seq("l_returnflag"), 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted === plain)
    val plainSum = li.groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 4).as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedSum = ScaleOps.saltedSum(li, Seq("l_returnflag"), "l_quantity", 8)
      .select(col("l_returnflag"), round(col("sum_l_quantity"), 4))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(saltedSum === plainSum)
  }

  test("AQE splits a 90%-hot join key once the skew thresholds are scaled to the data; " +
      "the answer is unchanged") {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, AQEShuffleReadExec}
    // the hot twin: 90% of lineitem rows (by a hash of the row key) move
    // onto ONE existing l_orderkey, 90% of orders onto one o_custkey; 8
    // files each, so a hot partition has map outputs to split along
    val twin = tmpDir("hot_twin")
    def hotify(name: String, key: String, rowKey: Seq[String]): Unit = {
      val df = table(name)
      val hot = df.agg(min(col(key))).first().getLong(0)
      df.withColumn(key, when(pmod(xxhash64(rowKey.map(col): _*), lit(10L)) < 9L, lit(hot))
          .otherwise(col(key)))
        .repartition(8).write.parquet(s"$twin/$name.parquet")
    }
    hotify("lineitem", "l_orderkey", Seq("l_orderkey", "l_linenumber"))
    hotify("orders", "o_custkey", Seq("o_orderkey"))
    Seq("customer", "nation").foreach(n => table(n).write.parquet(s"$twin/$n.parquet"))
    val atDefaults = Queries.joinRevenueByNation(spark, twin).collect().toSeq
    // at 100 TB the same skew RATIO meets the default thresholds; scaled to
    // this fixture (and with broadcast off, so the joins shuffle) the split
    // must engage. force: these joins feed an aggregate on their own keys,
    // where the split adds a shuffle that AQE otherwise declines
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "4k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2k",
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val q = Queries.joinRevenueByNation(spark, twin)
      assert(q.collect().toSeq === atDefaults)
      object plans extends AdaptiveSparkPlanHelper
      val reads = plans.collect(q.queryExecution.executedPlan) { case r: AQEShuffleReadExec => r }
      assert(reads.exists(_.hasSkewedPartition), q.queryExecution.executedPlan.toString)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("hotKeys surfaces the heaviest grouping keys") {
    val hot = ScaleOps.hotKeys(table("orders"), Seq("o_orderpriority"), 2).collect()
    assert(hot.length === 2)
    assert(hot(0).getAs[Long]("cnt") >= hot(1).getAs[Long]("cnt"))
  }

  test("GraftExtensions registers SQL functions usable from spark.sql") {
    // getOrCreate on a live context ignores withExtensions → use the
    // runtime registration path on an isolated child session
    val ext = spark.newSession()
    graft.GraftFunctions.register(ext)
    try {
      // raw fingerprint64 is the bare rolling hash — normalization is the
      // TextFunctions.fingerprint64 wrapper, not the SQL function
      val r = ext.sql(
        """SELECT fingerprint64('hello world') AS fp,
          |       fingerprint64(lower('HELLO WORLD')) AS fp2,
          |       cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                         array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS cos,
          |       size(minhash_sig(word_shingle_set('a b c d e f'))) AS siglen
          |""".stripMargin).first()
      assert(r.getAs[Long]("fp") === r.getAs[Long]("fp2"))
      assert(math.abs(r.getAs[Double]("cos") - 1.0) < 1e-12)
      assert(r.getAs[Int]("siglen") === 64)
      // round-8/9 kernels are registered too (canonical shape parameters)
      val r2 = ext.sql(
        """SELECT nfc_normalize('café') AS nfc,
          |       char_entropy('aabb') AS ent,
          |       squared_distance(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |                        array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))) AS d2,
          |       size(winnow_fingerprints('the quick brown fox jumps')) AS nfp,
          |       word_grams('a b c') AS grams,
          |       size(cdc_chunks('tiny')) AS nchunks
          |""".stripMargin).first()
      assert(r2.getAs[String]("nfc") === "café")
      // two equiprobable symbols: H = ln 2 (the kernel reports nats)
      assert(math.abs(r2.getAs[Double]("ent") - math.log(2)) < 1e-12)
      assert(math.abs(r2.getAs[Double]("d2") - 1.0) < 1e-12)
      assert(r2.getAs[Int]("nfp") > 0)
      assert(r2.getSeq[String](4) === Seq("a b", "b c"))
      assert(r2.getAs[Int]("nchunks") === 1)
    } finally {
      // do not stop(): shares the SparkContext with the suite session
    }
  }

  test("GraftExtensions and GraftFunctions.register expose the same SQL functions") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(
          f: (org.apache.spark.sql.catalyst.FunctionIdentifier,
            org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
            Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
              org.apache.spark.sql.catalyst.expressions.Expression)): Unit = {
        assert(f._2.getName === f._1.funcName)
        injected += f._1.funcName
      }
    })
    val fresh = spark.newSession()
    def names(): Set[String] = fresh.catalog.listFunctions().collect().map(_.name).toSet
    val before = names()
    GraftFunctions.register(fresh)
    val registered = names() -- before
    assert(injected.size === 13)
    assert(injected.toSet === registered)
    assert(registered === GraftFunctions.all.map(_._1).toSet)
  }

  test("stateful sessionization (flatMapGroupsWithState) splits on gap") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1.0),
      (1L, ts("2024-01-01 10:10:00"), 2.0),
      (1L, ts("2024-01-01 12:00:00"), 3.0),   // > 30 min gap → new session
      (2L, ts("2024-01-01 09:00:00"), 5.0))
      .toDF("user_id", "ts", "value")
    val sessions = EventStreams.statefulSessions(events, gapMs = 30 * 60 * 1000)
      .orderBy("user_id", "session_start").collect()
    assert(sessions.length === 3)
    assert(sessions(0).getAs[Long]("n_events") === 2L)
    assert(sessions(0).getAs[Double]("value_sum") === 3.0)
    assert(sessions(1).getAs[Long]("n_events") === 1L)
    assert(sessions(2).getAs[Long]("user_id") === 2L)
  }

  test("incremental sessionization merges sessions across micro-batches") {
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tmpDir("stream_sessions")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    // batch 1: first half of user 1's session
    Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (1L, ts("2024-01-01 10:10:00"), 2.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1100)  // file-stream orders by modification time
    // batch 2: session continues (within gap), then a much later event
    // opens a new session in-batch
    Seq((1L, ts("2024-01-01 10:20:00"), 3.0), (1L, ts("2024-01-01 13:00:00"), 4.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b2")
    Thread.sleep(1100)
    // batch 3: another user far in the future — advances the watermark past
    // 13:00 + gap so user 1's open session times out and emits
    Seq((2L, ts("2024-01-01 18:00:00"), 9.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b3")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
      .withWatermark("ts", "1 minute")
    val got = EventStreams.runToMemoryAppend(spark, stream,
        df => EventStreams.statefulSessionsIncremental(df, 30 * 60 * 1000),
        "inc_sessions")
      .orderBy("user_id", "session_start").collect()

    val u1 = got.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.length === 2, s"got ${got.mkString(";")}")
    // session 1 merged ACROSS batches 1+2: 3 events, sum 6.0
    assert(u1(0).getAs[Long]("n_events") === 3L)
    assert(u1(0).getAs[Double]("value_sum") === 6.0)
    assert(u1(0).getAs[java.sql.Timestamp]("session_end") === ts("2024-01-01 10:20:00"))
    // session 2 closed by timeout when the watermark passed
    assert(u1(1).getAs[Long]("n_events") === 1L)
  }

  test("incremental sessionization: out-of-order event opens its own earlier session") {
    import org.apache.spark.sql.types._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dir = tmpDir("stream_ooo")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    Seq((1L, ts("2024-01-01 12:00:00"), 1.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b1")
    Thread.sleep(1100)
    // arrives later but is 75 min OLDER than the open session — must become
    // a separate session, not be absorbed into the 12:00 one
    Seq((1L, ts("2024-01-01 10:45:00"), 2.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b2")
    Thread.sleep(1100)
    Seq((2L, ts("2024-01-02 23:00:00"), 9.0))
      .toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/b3")

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .option("recursiveFileLookup", "true")
      .parquet(dir)
      .withWatermark("ts", "8 hours")   // wide enough that 10:45 is not late
    val got = EventStreams.runToMemoryAppend(spark, stream,
        df => EventStreams.statefulSessionsIncremental(df, 30 * 60 * 1000),
        "ooo_sessions")
      .where(col("user_id") === 1L)
      .orderBy("session_start").collect()
    assert(got.length === 2, s"got ${got.mkString(";")}")
    assert(got(0).getAs[java.sql.Timestamp]("session_start") === ts("2024-01-01 10:45:00"))
    assert(got(0).getAs[Long]("n_events") === 1L)
    assert(got(1).getAs[java.sql.Timestamp]("session_start") === ts("2024-01-01 12:00:00"))
    assert(got(1).getAs[Long]("n_events") === 1L)
  }

  test("incremental sessionization over 20 users x 2 bursts == the ground truth and the batch sessionizer") {
    import org.apache.spark.sql.types._
    // user u's burst k: 4 events 2 min apart at base + k * 2 h, one file per
    // burst in event-time order (one per micro-batch), so sessions stay
    // open across batches and close only as the 1-hour watermark passes
    // them; two sentinel files (a far event, then one more to sweep the
    // timeouts under it) flush every open session
    val dir = tmpDir("stream_bursts")
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    def file(sub: String, order: Int, rows: Seq[(Long, java.sql.Timestamp, Double)]): Unit = {
      rows.toDF("user_id", "ts", "value").coalesce(1).write.parquet(s"$dir/$sub")
      new java.io.File(s"$dir/$sub").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1000000000000L + order * 60000L))
    }
    for (k <- 0 until 2)
      file(s"b$k", k, for (u <- 0L until 20L; j <- 0 until 4)
        yield (u, new java.sql.Timestamp(base + k * 7200000L + j * 120000L), (u % 7 + j).toDouble))
    val far = base + 2 * 7200000L + 86400000L
    file("s0", 10, Seq((20L, new java.sql.Timestamp(far), 0.0)))
    file("s1", 11, Seq((20L, new java.sql.Timestamp(far + 3600000L), 0.0)))
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val gap = 30L * 60 * 1000
    val stream = EventStreams.runToMemoryAppend(spark,
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true")
          .parquet(dir).withWatermark("ts", "1 hour"),
        df => EventStreams.statefulSessionsIncremental(df, gap), "burst_sessions")
      .where(col("user_id") < 20L)
    val got = stream.collect().map(_.toSeq).sortBy(_.take(2).toString)
    assert(got.length === 40, "20 users x 2 sessions")
    assert(got.forall(_(3) == 4L), "every session holds its burst's 4 events")
    val batch = EventStreams.statefulSessions(
      spark.read.schema(schema).parquet((0 until 2).map(k => s"$dir/b$k"): _*), gap)
      .collect().map(_.toSeq).sortBy(_.take(2).toString)
    assert(got.toSeq === batch.toSeq)
  }

  test("stateful sessions agree with session_window on counts") {
    val ev = Queries.events(spark, sf())
    val viaWindow = EventStreams.userSessions(ev, "30 minutes")
      .agg(sum("n_events")).as[Long].first()
    val viaState = EventStreams.statefulSessions(ev, 30 * 60 * 1000)
      .agg(sum("n_events")).as[Long].first()
    assert(viaState === viaWindow, "both cover every event exactly once")
  }

  test("userSessionsChunked == userSessions (membership exact, sums to " +
      "float-order tolerance) at a chunk size that forces boundary merges") {
    // the skew-robust two-phase form must reproduce the window form's
    // session PARTITION exactly: chunkHours=1 on the events fixture makes
    // nearly every session straddle at least one chunk boundary, so the
    // boundary-merge path (incl. multi-chunk chains) is what's under test,
    // not the trivial within-chunk case
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    val plain = key(Queries.userSessions(spark, sf()))
    val chunked = key(Queries.userSessionsChunked(spark, sf(), chunkHours = 1))
    assert(chunked.length === plain.length,
      s"session count diverged: ${chunked.length} vs ${plain.length}")
    plain.zip(chunked).foreach { case (p, c) =>
      assert(p._1 === c._1 && p._2 === c._2 && p._3 === c._3,
        s"session membership diverged: $p vs $c")
      assert(math.abs(p._4 - c._4) < 1e-6,
        s"value_sum beyond float-order tolerance: $p vs $c")
    }
    // multi-chunk chain: one user, events every 20 min for 3 hours — a
    // single session spanning four 1-hour chunks must come back as ONE row
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_sessions")
      .toString
    import spark.implicits._
    (0 until 10).map(i =>
        (i.toLong, new java.sql.Timestamp(1704100000000L + i * 20L * 60 * 1000),
          1L, "click", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val chain = Queries.userSessionsChunked(spark, dir, chunkHours = 1).collect()
    assert(chain.length === 1, s"chain split: ${chain.mkString(";")}")
    assert(chain.head.getLong(2) === 10L)
    assert(math.abs(chain.head.getDouble(3) - 15.0) < 1e-9)
    val chainPlain = Queries.userSessions(spark, dir).collect()
    assert(chainPlain.length === 1 &&
      chainPlain.head.getLong(2) === chain.head.getLong(2))
  }

  test("asofBackward matches a brute-force reference on random data") {
    import graft.operators.AsOfJoin
    val rnd = new scala.util.Random(7)
    // duplicate (key, ts) pairs on the right are pre-reduced to max payload
    // (the documented determinism contract)
    val leftRows = (0 until 300).map(i =>
      (i.toLong, (rnd.nextInt(5)).toLong, rnd.nextInt(50).toLong))
    val rightRaw = (0 until 200).map(_ =>
      ((rnd.nextInt(5)).toLong, rnd.nextInt(50).toLong, rnd.nextInt(1000).toLong))
    val rightRows = rightRaw.groupBy(r => (r._1, r._2))
      .map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
    val left = leftRows.toDF("id", "k", "t")
    val right = rightRows.toDF("k", "t", "pay")
    val got = AsOfJoin.asofBackward(left, right, Seq("k"), "t", Seq("pay"))
      .select("id", "asof_pay").as[(Long, Option[Long])].collect().toMap
    leftRows.foreach { case (id, k, t) =>
      val expected = rightRows.filter(r => r._1 == k && r._2 <= t)
        .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
      assert(got(id) === expected, s"id=$id k=$k t=$t")
    }
  }

  test("asofBackward: inclusive ties, no-match nulls, latest-prior wins") {
    import graft.operators.AsOfJoin
    val left = Seq(
      (1L, 100L, 10L),  // before any right row for key 100
      (2L, 100L, 20L),  // exactly at a right ts -> inclusive match
      (3L, 100L, 35L),  // between right rows -> latest prior (ts=20)
      (4L, 100L, 50L),  // after all -> ts=40 row
      (5L, 200L, 99L)   // key with no right rows at all
    ).toDF("id", "k", "t")
    val right = Seq(
      (100L, 20L, "r20"), (100L, 40L, "r40")
    ).toDF("k", "t", "tag")
    val got = AsOfJoin.asofBackward(left, right, Seq("k"), "t", Seq("tag"))
      .orderBy("id").select("id", "asof_tag")
      .as[(Long, Option[String])].collect().toSeq
    assert(got === Seq(
      1L -> None, 2L -> Some("r20"), 3L -> Some("r20"),
      4L -> Some("r40"), 5L -> None))
  }
}
