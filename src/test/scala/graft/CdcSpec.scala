package graft

import org.apache.spark.sql.functions._

import graft.functions.minhashExprs
import graft.operators.Dedup

/** Content-defined chunking: reconstruction invariants, degenerate inputs,
  * the resync (shift-resilience) property that motivates CDC over
  * fixed-size blocking, and shared-substring detection through chunk
  * hashes. */
class CdcSpec extends SparkSuite {
  import spark.implicits._

  private def chunksOf(text: String): Seq[(Int, Int, Int, String)] =
    Seq(text).toDF("text")
      .select(explode(minhashExprs.cdcChunks(col("text"), 8, 1)).as("c"))
      .select(col("c.idx"), col("c.start"), col("c.len"), col("c.hash"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getString(3))).toSeq

  test("chunks tile the document exactly: contiguous, complete, 1-indexed") {
    val doc = table("documents").select("text").where(length(col("text")) > 200)
      .limit(1).collect().head.getString(0)
    val cs = chunksOf(doc)
    assert(cs.nonEmpty)
    assert(cs.map(_._1) === (1 to cs.size))
    assert(cs.head._2 === 1)
    cs.sliding(2).foreach {
      case Seq((_, s1, l1, _), (_, s2, _, _)) => assert(s1 + l1 === s2)
      case _ =>
    }
    assert(cs.map(_._3).sum === doc.length)
    // chunk hash is the md5 of exactly that substring
    val (_, s, l, h) = cs(cs.size / 2)
    val expect = java.security.MessageDigest.getInstance("MD5")
      .digest(doc.substring(s - 1, s - 1 + l).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(h === expect)
  }

  test("degenerate inputs: empty text chunks to nothing, short text to one") {
    assert(chunksOf("") === Seq.empty)
    val one = chunksOf("short")
    assert(one.size === 1 && one.head === ((1, 1, 5, one.head._4)))
  }

  test("resync: a prefix edit leaves the chunk tail identical") {
    val doc = table("documents").select("text").where(length(col("text")) > 300)
      .limit(1).collect().head.getString(0)
    val orig = chunksOf(doc).map(_._4)
    val edited = chunksOf("PREFIX EDIT >>> " + doc).map(_._4)
    // boundaries depend on local k-grams only: after at most one chunk of
    // divergence the cut positions realign, so the suffix hash sequences
    // coincide — fixed-size blocking would share NOTHING after a shift
    val commonSuffix = orig.reverse.zip(edited.reverse)
      .takeWhile { case (a, b) => a == b }.size
    assert(commonSuffix >= orig.size - 2,
      s"only $commonSuffix/${orig.size} tail chunks survived a prefix edit")
  }

  test("winnow similarity: verbatim block scores high, boilerplate df-cap " +
      "suppresses corpus-wide fingerprints") {
    val block = table("documents").select("text")
      .where(length(col("text")) > 300).limit(1).collect().head.getString(0)
    val footer = " shared footer line on every single document here"
    // footer docs carry ~6x the footer's length in DISTINCT body text, so
    // footer-only containment must stay a small fraction of min(|A|, |B|)
    def body(seed: Int): String =
      (0 until 30).map(i => s"w${seed}x${i * seed + 7}").mkString(" ")
    val docs = Seq(
      (1L, "first unique preamble " + block),
      (2L, "a completely different opener " + block + " trailing bits"),
      (3L, body(3) + footer),
      (4L, body(4) + footer),
      (5L, body(5) + footer)
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowSimilarity(docs, "doc_id", "text",
        minShared = 3, dfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs.contains((1L, 2L)), "verbatim block pair missed")
    assert(pairs((1L, 2L)) > 0.5, s"containment ${pairs((1L, 2L))} too low " +
      "for a shared majority block")
    // footer-only trios share just the short footer's few fingerprints —
    // below minShared=3 they must not pair with each other via it alone
    // unless the footer itself contributes >= 3 fps (then sim stays small)
    Seq((3L, 4L), (3L, 5L), (4L, 5L)).foreach { p =>
      pairs.get(p).foreach(s => assert(s < 0.5, s"footer pair $p sim $s"))
    }
    // dfCap below a fingerprint's df suppresses it: add a third copy of
    // the block (df=3) and cap at 2 — block and footer (df=3) both drop,
    // so no pair can reach minShared
    val three = docs.unionByName(
      Seq((6L, "yet another opener " + block)).toDF("doc_id", "text"))
    val capped = Dedup.winnowSimilarity(three, "doc_id", "text",
        minShared = 3, dfCap = 2)
      .collect()
    assert(capped.isEmpty,
      s"dfCap=2 must suppress the df-3 block/footer: ${capped.mkString(",")}")
  }

  test("shared substring across documents surfaces as shared chunk hashes") {
    val shared = table("documents").select("text")
      .where(length(col("text")) > 300).limit(1).collect().head.getString(0)
    val docs = Seq(
      (1L, "alpha preamble totally different " + shared),
      (2L, "another lead-in " + shared + " and a trailing coda here"),
      (3L, "unrelated content with no overlap at all in this document")
    ).toDF("doc_id", "text")
    val dup = Dedup.cdcSharedChunks(docs, "doc_id", "text", minDocs = 2)
      .collect()
    assert(dup.nonEmpty, "long shared substring produced no common chunk")
    assert(dup.forall(_.getLong(1) >= 2))
    // and the chunk table itself ties those hashes back to both docs
    val tab = Dedup.cdcChunkTable(docs, "doc_id", "text")
    val hits = tab.join(
        Dedup.cdcSharedChunks(docs, "doc_id", "text", minDocs = 2)
          .select("hash"), "hash")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(hits === Set(1L, 2L))
  }

  test("10-copy corpus: every chunk is shared at minDocs = 10; winnow similarity keeps only " +
      "identical-copy pairs, at sim 1.0") {
    val base = table("documents").where(col("doc_id") < 20).select("doc_id", "text")
    val docs = (0 until 10).map(i => base.withColumn("doc_id", col("doc_id") + i * 100000000L))
      .reduce(_ unionByName _)
    val shared = Dedup.cdcSharedChunks(docs, "doc_id", "text", minDocs = 10).count()
    val distinct = Dedup.cdcChunkTable(docs, "doc_id", "text").select("hash").distinct().count()
    assert(shared === distinct && distinct > 0)
    // every fingerprint's df is 10x its base df: a cap at the copy count
    // removes every fingerprint two base docs share, and the surviving
    // pairs are copies of one doc
    val pairs = Dedup.winnowSimilarity(docs, "doc_id", "text", dfCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.length >= 45, s"${pairs.length} pairs")
    assert(pairs.forall { case (a, b, sim) => a % 100000000L == b % 100000000L && sim == 1.0 },
      pairs.filter(_._3 != 1.0).take(5).mkString(", "))
    Dedup.unpersistAll()
  }
}
