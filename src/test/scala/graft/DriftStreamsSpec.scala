package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.CorpusOps
import graft.streaming.{DriftStreams, EventStreams}

/** Streaming drift monitor: the MG-summary + literal-reference finisher
  * must reproduce the batch distributionDrift arithmetic exactly (same
  * quantization grid), and the stream must equal the batch plan over the
  * same rows through state merges. */
class DriftStreamsSpec extends SparkSuite {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("source", StringType), StructField("text", StringType)))

  private def driftMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap

  test("batch driftMonitor == distributionDrift on streamed groups " +
      "(exact MG regime)") {
    val ref = Seq(("A", "x x y y"), ("B", "w w"), ("C", "only ref"))
      .toDF("source", "text")
    val cur = Seq(("A", "x y y y"), ("B", "w v"))
      .toDF("source", "text")
    val mon = driftMap(DriftStreams.driftMonitor(cur, ref, "source", "text"))
    val batch = driftMap(
      CorpusOps.distributionDrift(ref, cur, "source", "text"))
    // the monitor emits rows for STREAMED groups; each must equal the
    // batch operator bit-for-bit (same quantization convention)
    assert(mon.keySet === Set("A", "B"))
    mon.foreach { case (g, got) =>
      assert(got === batch(g), s"group $g: monitor $got vs batch ${batch(g)}")
    }
    // a group with no reference profile reads as pure novelty: q-only
    // terms, JS = ln2/2 under the zero-measure convention
    val novel = driftMap(DriftStreams.driftMonitor(
      Seq(("Z", "brand new tokens")).toDF("source", "text"),
      ref, "source", "text"))("Z")
    assert(novel._1 === 0L)
    assert(math.abs(novel._3 - math.log(2.0) / 2) < 1e-5)
  }

  test("over-budget vocabulary is a MEASURED failure mode, the exact " +
      "regime is the contract") {
    // past the MG exact regime (streamed vocab > k) a UNIFORM vocabulary
    // is Misra-Gries' worst case: the summary legitimately keeps only
    // ~k of the tokens, the dropped mass reads as 'missing from the
    // stream', and a zero-drift corpus reports NEAR-MAX spurious drift —
    // measured js = 0.525 / l1 = 1.80 at vocab 2000, k = 256 (true 0).
    // This pin documents the failure mode loudly: size k to the corpus
    // vocabulary (the corpusMonitor budget discipline) or the alarm lies.
    // Heavy-hitter-dominated streams — MG's design case — degrade far
    // more gently, but the CONTRACT is the exact regime.
    val big = (1 to 2000).map(i => ("X", s"tok$i")).toDF("source", "text")
    val got = driftMap(DriftStreams.driftMonitor(
      big, big, "source", "text", k = 256))("X")
    info(f"over-budget self-drift: js=${got._3}%.4f l1=${got._4}%.4f " +
      f"(true 0; vocab 2000 at k=256 — the documented worst case)")
    assert(got._3 > 0.3,
      "overflow no longer reads as loud spurious drift — if the summary " +
        s"improved, re-measure and re-document (js=${got._3})")
    // at k >= vocab the same corpus reads exactly 0 (the exact regime)
    val exact = driftMap(DriftStreams.driftMonitor(
      big, big, "source", "text", k = 4096))("X")
    assert(exact._3 === 0.0 && exact._4 === 0.0)
  }

  test("driftMonitorJoined == driftMonitor bit-for-bit (the large-" +
      "reference route's absent-form algebra is exact, not approximate)") {
    // contract fixture: groups with drift, a stream-only token (cb=0), a
    // ref-only token (absent-form term), and a novel group (no profile)
    val ref = Seq(("A", "x x y y refonly"), ("B", "w w"), ("C", "only ref"))
      .toDF("source", "text")
    val cur = Seq(("A", "x y y y streamonly"), ("B", "w v"),
      ("Z", "brand new tokens")).toDF("source", "text")
    val lit0 = driftMap(DriftStreams.driftMonitor(cur, ref, "source", "text"))
    val join0 = driftMap(
      DriftStreams.driftMonitorJoined(cur, ref, "source", "text"))
    assert(join0 === lit0,
      s"joined route diverged from the literal route: $join0 vs $lit0")
    // LARGE-vocabulary leg (the route's reason to exist): 3000 reference
    // tokens per group, most absent from the stream — the per-term
    // quantized absent-form sums must reproduce the literal route exactly
    // (a sum-then-round shortcut would drift by up to vocab·0.5e-9 here)
    val bigRef = (1 to 3000).map(i => ("G", s"tok$i rare$i"))
      .toDF("source", "text")
    val smallCur = Seq(("G", "tok1 tok2 tok2 fresh")).toDF("source", "text")
    val litBig = driftMap(DriftStreams.driftMonitor(
      smallCur, bigRef, "source", "text", k = 8192))
    val joinBig = driftMap(DriftStreams.driftMonitorJoined(
      smallCur, bigRef, "source", "text", k = 8192))
    assert(joinBig === litBig,
      s"large-vocab parity broke: $joinBig vs $litBig")
  }

  test("driftMonitorJoined streams (2 micro-batches, complete mode) == " +
      "batch over the union") {
    val dir = tmpDir("drift_stream_joined")
    val parts = Seq(
      Seq(("A", "x y y y"), ("B", "w v")),
      Seq(("A", "x x z"), ("D", "fresh source words")))
    parts.foreach(_.toDF("source", "text").coalesce(1)
      .write.mode("append").parquet(dir))
    val ref = Seq(("A", "x x y y"), ("B", "w w")).toDF("source", "text")
    val batch = driftMap(DriftStreams.driftMonitorJoined(
      spark.read.parquet(dir), ref, "source", "text"))
    val stream = driftMap(EventStreams.runToMemory(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir),
      df => DriftStreams.driftMonitorJoined(df, ref, "source", "text"),
      "drift_monitor_joined_stream"))
    assert(stream === batch,
      s"joined stream $stream diverged from batch $batch")
    // and both equal the literal-route monitor over the same rows
    val lit0 = driftMap(DriftStreams.driftMonitor(
      spark.read.parquet(dir), ref, "source", "text"))
    assert(batch === lit0)
  }

  test("planted shift: the alarm fires first on the injection batch, never on an undrifted " +
      "source; the final stream state == batch == joined route") {
    // 4 sources x 8 tokens/doc drawn xxhash-uniform from a 50-token
    // vocabulary (streamed vocab per group <= 100, the exact-MG regime);
    // from batch 2 on, source C draws from a disjoint 50-token range
    val (per, driftFrom, alarm) = (1000L, 2000L, 0.02)
    val sources = array(lit("A"), lit("B"), lit("C"), lit("D"))
    def docs(lo: Long, hi: Long, drifted: Boolean = true) = {
      val src = element_at(sources, (col("id") % 4 + 1).cast("int"))
      val shifted = src === "C" && col("id") >= driftFrom && lit(drifted)
      def tok(k: Int) = concat(when(shifted, lit("v")).otherwise(lit("w")),
        pmod(xxhash64(col("id"), lit(k)), lit(50)).cast("string"))
      spark.range(lo, hi).select(src.as("source"), concat_ws(" ", (0 until 8).map(tok): _*).as("text"))
    }
    // the reference profile: 4,000 docs of the clean generator
    val ref = docs(1000000L, 1004000L, drifted = false)
    val dir = tmpDir("drift_planted")
    (0 until 4).foreach { i =>
      docs(i * per, (i + 1) * per).coalesce(1).write.parquet(s"$dir/b$i")
      new java.io.File(s"$dir/b$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(_.setLastModified(1000000000000L + i * 60000L))
    }
    val trajectory = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Double])]
    DriftStreams.driftMonitor(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet").option("recursiveFileLookup", "true").parquet(dir),
        ref, "source", "text")
      .writeStream.outputMode("complete")
      .option("checkpointLocation", tmpDir("drift_planted_ckpt"))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        trajectory.add(id -> df.collect().map(r => r.getString(0) -> r.getDouble(3)).toMap); () }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
    val byBatch = trajectory.toArray(Array.empty[(Long, Map[String, Double])]).sortBy(_._1)
    assert(byBatch.map(_._1).toSeq === (0L until 4L), "one micro-batch per file")
    val firstAlarm = byBatch.collectFirst { case (id, m) if m("C") > alarm => id }
    assert(firstAlarm === Some(2L), s"C's trajectory: ${byBatch.map(_._2("C")).toSeq}")
    val clean = byBatch.flatMap(_._2.collect { case (g, js) if g != "C" => js })
    assert(clean.max < alarm, s"false alarm on an undrifted source: ${clean.max}")
    val all = spark.read.parquet((0 until 4).map(i => s"$dir/b$i"): _*)
    val batch = driftMap(DriftStreams.driftMonitor(all, ref, "source", "text"))
    assert(driftMap(DriftStreams.driftMonitorJoined(all, ref, "source", "text")) === batch)
    assert(byBatch.last._2 === batch.map { case (g, v) => g -> v._3 })
  }

  test("stream (2 micro-batches, complete mode) == batch over the union") {
    val dir = tmpDir("drift_stream")
    val parts = Seq(
      Seq(("A", "x y y y"), ("B", "w v")),
      Seq(("A", "x x z"), ("D", "fresh source words")))
    parts.foreach(_.toDF("source", "text").coalesce(1)
      .write.mode("append").parquet(dir))
    val ref = Seq(("A", "x x y y"), ("B", "w w")).toDF("source", "text")
    val batch = driftMap(DriftStreams.driftMonitor(
      spark.read.parquet(dir), ref, "source", "text"))
    val stream = driftMap(EventStreams.runToMemory(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(dir),
      df => DriftStreams.driftMonitor(df, ref, "source", "text"),
      "drift_monitor_stream"))
    assert(stream === batch,
      s"stream $stream diverged from batch $batch across state merges")
    // and the union also equals the relational batch operator
    val rel = driftMap(CorpusOps.distributionDrift(
      ref, spark.read.parquet(dir), "source", "text"))
    stream.foreach { case (g, got) => assert(got === rel(g), s"group $g") }
  }
}
