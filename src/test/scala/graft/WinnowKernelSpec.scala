package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{TextFunctions, WinnowKernel}
import graft.operators.Dedup

/** Parity + rigor tests for the fused O(m) winnowing kernel
  * ([[WinnowKernel]]) against the independent O(m²) HOF reference
  * formulation ([[TextFunctions.winnowFingerprintsHof]]) — the two share
  * no code, so exact agreement value-checks the deque, the digest
  * ordering, the UTF-8 char offsets, and the degenerate arms at once. */
class WinnowKernelSpec extends SparkSuite {
  import spark.implicits._

  private def kernelFps(text: String, k: Int, w: Int): Seq[String] =
    WinnowKernel.winnow(UTF8String.fromString(text), k, w).toSeq.map(_.toString)

  private def bothWays(texts: Seq[String], k: Int, w: Int): Unit = {
    val df = texts.toDF("text")
    val got = df.select(TextFunctions.winnowFingerprints(col("text"), k, w))
      .as[Seq[String]].collect()
    val ref = df.select(TextFunctions.winnowFingerprintsHof(col("text"), k, w))
      .as[Seq[String]].collect()
    got.zip(ref).zip(texts).foreach { case ((g, r), t) =>
      assert(g === r, s"kernel != HOF for k=$k w=$w text=${t.take(60)}")
    }
  }

  test("kernel == HOF on real corpus documents (k=8, w=4)") {
    val texts = table("documents").select("text").as[String].take(200).toSeq
    assert(texts.nonEmpty)
    bothWays(texts, k = 8, w = 4)
  }

  test("kernel == HOF across parameter grid and edge shapes") {
    val texts = Seq(
      "", // empty
      "short", // shorter than k=8 → no fingerprints
      "exactly8", // exactly one shingle (m=1 < w) → one whole-text window
      "nine ch!!", // m=2 < w
      "a twelve-char", // m crosses w boundary
      "aaaaaaaaaaaaaaaaaaaaaaaa", // all shingles identical → tie handling
      "abab" * 12, // periodic text → many duplicate minima
      "The quick brown fox jumps over the lazy dog again and again.",
      "héllo wörld — çafé naïve Ångström ✓ 数据 本文", // multi-byte code points
      ("lorem ipsum dolor sit amet " * 40).trim // long doc
    )
    for (k <- Seq(1, 3, 8); w <- Seq(1, 4, 7)) bothWays(texts, k, w)
  }

  test("JVM kernel directly: degenerate arms and emission order") {
    assert(kernelFps("", 8, 4).isEmpty)
    assert(kernelFps("1234567", 8, 4).isEmpty, "text shorter than k")
    assert(kernelFps("12345678", 8, 4).size === 1, "single shingle, m < w")
    // all-equal shingles collapse to one distinct fingerprint
    assert(kernelFps("a" * 50, 8, 4).size === 1)
    // w=1: every shingle hash is a window minimum → distinct shingle count
    val t = "abcdefghij"
    assert(kernelFps(t, 8, 1).size === 3, "m=3 shingles, w=1")
  }

  test("winnowing guarantee: shared run >= w+k-1 chars shares a fingerprint") {
    val boiler = "SUBSCRIBE TO OUR NEWSLETTER FOR UPDATES" // 39 chars >= 11
    val a = s"unique prefix one $boiler and a tail alpha"
    val b = s"totally different opener $boiler closing text beta"
    val fa = kernelFps(a, 8, 4).toSet
    val fb = kernelFps(b, 8, 4).toSet
    assert(fa.intersect(fb).nonEmpty, "guaranteed shared fingerprint missing")
  }

  test("fingerprint density tracks the 2/(w+1) winnowing bound") {
    // random-ish text via deterministic LCG chars — no Math.random in tests
    val sb = new StringBuilder
    var x = 12345L
    (0 until 20000).foreach { _ =>
      x = (x * 6364136223846793005L + 1442695040888963407L)
      sb.append(('a' + ((x >>> 33) % 26)).toChar)
    }
    val w = 4
    val n = kernelFps(sb.toString, 8, w).size
    val expected = 2.0 / (w + 1) * 20000
    assert(n > expected * 0.8 && n < expected * 1.2,
      s"density off: got $n, expected ~$expected")
  }

  test("repeatedSpans spreads an under-split corpus across cores") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val docs = table("documents") // one small parquet file → one input split
    assert(docs.rdd.getNumPartitions < spark.sparkContext.defaultParallelism)
    val out = Dedup.repeatedSpans(docs, "doc_id", "text")
    assert(out.queryExecution.analyzed.collect { case r: Repartition => r }.nonEmpty,
      "under-split input must be repartitioned before the fingerprint pass")
    assert(out.limit(1).count() === 1, "produces rows on the test corpus")
    // a well-split input must NOT pay the shuffle
    val wide = docs.repartition(spark.sparkContext.defaultParallelism)
    val out2 = Dedup.repeatedSpans(wide, "doc_id", "text")
    val reparts = out2.queryExecution.analyzed.collect { case r: Repartition => r }
    assert(reparts.size === 1, "only the caller's own repartition may remain")
  }

  test("repeatedSpans: a suffix planted in 50 corpus docs yields a fingerprint at df 50") {
    // the shared run is longer than w + k - 1, so some fingerprint of it is
    // selected in every planted doc
    val bp = " corpus wide boilerplate footer sentence planted for recall"
    val planted = table("documents").where(col("doc_id") < 50)
      .select(col("doc_id"), concat(col("text"), lit(bp)).as("text"))
    val bpFps = kernelFps(bp, 8, 4)
    val shared = Dedup.repeatedSpans(planted, "doc_id", "text", k = 8, w = 4, minDocs = 50)
      .where(col("fp").isin(bpFps: _*)).count()
    assert(shared >= 1)
    Dedup.unpersistAll()
  }
}
