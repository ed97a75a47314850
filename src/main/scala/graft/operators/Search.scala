package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.{exprs, TextFunctions}

/** Full-text ranked retrieval over the corpus — the BM25 scoring that
  * pairs with [[Similarity]]'s vector search for hybrid (lexical +
  * semantic) retrieval in a training-data / RAG pipeline.
  *
  * Reference scope note: the reference engine (delta-lake-health) has no
  * text-retrieval surface — this is part of the training-data extension
  * the build brief asks for alongside dedup/similarity/text analysis.
  */
object Search {

  /** Okapi BM25 top-`k` (Robertson & Zaragoza 2009, "The Probabilistic
    * Relevance Framework: BM25 and Beyond"):
    *
    *   score(q,d) = Σ_{t ∈ distinct(q)} idf(t) ·
    *                tf(t,d)·(k1+1) / (tf(t,d) + k1·(1 − b + b·dl(d)/avgdl))
    *   idf(t)     = ln(1 + (N − df(t) + 0.5) / (df(t) + 0.5))   (Lucene
    *                form — always positive, so stopword-heavy docs can't
    *                go negative)
    *
    * Terms are [[TextFunctions.normalized]] whitespace tokens; query terms
    * are DISTINCT (repeated query words don't double-count — the common
    * search-engine convention).
    *
    * Cross-engine determinism (the k-means integer-sum lesson): each ln is
    * rounded to 9 decimals, each per-term contribution is quantized to a
    * 1e-9 integer, and the per-(query,doc) sum accumulates LONGS — exact
    * and order-free — before one final division + round(6). Ranking is
    * (score desc, doc_id asc) on the already-quantized score, so rank
    * boundaries replay bit-for-bit in any engine.
    *
    * Scale shape (100 TB): one corpus-volume explode → (doc,term) hash
    * aggregation (map-side combined) — the same stats pass
    * [[CorpusOps.tfIdfTopTerms]] runs; corpus stats aggregate to a one-row
    * frame (broadcast), and the vocabulary-sized df table is semi-joined to
    * the distinct query terms BEFORE its broadcast, so the broadcast is
    * query-set-bounded regardless of vocabulary size. Query terms broadcast
    * against
    * the tf table keyed on term — the posting-list join — and ranking is a
    * [[graft.functions.BoundedTopK]] hash aggregation: O(k) state per
    * query, no global sort, no windows.
    *
    * @param corpus  (idCol, textCol) — ids must be unique and of an
    *                integral type (cast to long losslessly); any other id
    *                type fails, naming the column, rather than letting an
    *                uncastable id vanish from N and avgdl
    * @param queries (qIdCol, qTextCol) — broadcast-small query set
    * @return (query_id, doc_id, score, rank), rank 1..k per query */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
               textCol: String, qIdCol: String, qTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"bad k $k")
    require(k1 >= 0, s"bad k1 $k1")
    require(b >= 0 && b <= 1, s"bad b $b (want [0,1])")
    corpus.select(col(idCol)).schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
      case t => throw new IllegalArgumentException(
        s"bm25TopK id column '$idCol' is ${t.simpleString}, not an integral type: " +
          "a non-integral id can fail the cast to long and silently drop its document")
    }
    // Explicit isnotnull on the join keys (r19, §7.2 duplicated-subtree
    // fix): the scored path's joins PUSH isnotnull(doc_id)/isnotnull(__t)
    // into their tf subtrees while dl/dfreq/stats consume tf unfiltered —
    // the canonicalized exchange plans then differ and AQE exchange reuse
    // cannot dedupe them, so the corpus explode+partial-agg map stage
    // materialized 2–3× per query (QueryJobProbe: two ~0.6 s 116k-row
    // stages + one 115,981-row filtered twin behind hybrid_search).
    // Filtering HERE makes every consumer share one canonical subtree.
    // Value note: a null doc_id (degenerate input — ids are keys) no
    // longer counts in dl/stats' N/avgdl; null terms cannot occur (the
    // tokenizer yields non-null array elements). Fixture-invariant,
    // oracle re-verified.
    val terms = corpus.select(col(idCol).cast("long").as("doc_id"),
      explode(TextFunctions.tokens(TextFunctions.normalized(col(textCol))))
        .as("__t"))
      .where(col("doc_id").isNotNull && col("__t").isNotNull)
    val tf = terms.groupBy(col("doc_id"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("__tf")).as("__dl"))
    val dfreq = tf.groupBy(col("__t")).agg(count(lit(1)).as("__df"))
    // N and total token count in ONE one-row aggregate; avgdl = exact
    // integer division result, identical in any IEEE engine
    val stats = dl.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__tot"))
    val qterms = queries.select(col(qIdCol).cast("long").as("query_id"),
      explode(array_distinct(TextFunctions.tokens(
        TextFunctions.normalized(col(qTextCol))))).as("__t"))
    // df stats for QUERY terms only: dfreq is VOCABULARY-sized (billions of
    // distinct terms on a web corpus — URLs, typos, code identifiers), so
    // broadcasting it whole is a driver/executor OOM at scale. The scored
    // stream is already restricted to query terms by the qterms join below,
    // so semi-joining dfreq to the distinct query terms first is provably
    // output-neutral and bounds the broadcast by the QUERY SET (small by
    // contract), not the vocabulary.
    val qdfreq = dfreq.join(
      broadcast(qterms.select(col("__t")).distinct()), Seq("__t"), "left_semi")
    val avgdl = col("__tot").cast("double") / col("__n")
    val idf = round(log(lit(1.0)
      + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5)), 9)
    val contrib = idf * col("__tf") * (k1 + 1.0) /
      (col("__tf") + lit(k1) * (lit(1.0) - b + lit(b) * (col("__dl") / avgdl)))
    val scored = broadcast(qterms)
      .join(tf, "__t")
      .join(broadcast(qdfreq), "__t")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("__c", round(contrib * 1e9, 0).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("__s"))
      .withColumn("score", round(col("__s").cast("double") / 1e9, 6))
    scored.groupBy(col("query_id"))
      .agg(exprs.boundedTopK(col("score"), col("doc_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("doc_id"),
        col("nn.score").as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009) of
    * per-query rank lists — the standard way to combine BM25 and vector
    * rankings into one hybrid result without score calibration:
    *
    *   rrf(q,d) = Σ_{lists containing d} 1 / (c + rank_list(q,d))
    *
    * Each input frame carries (query_id, doc_id, rank); only RANKS enter
    * the fusion (the scores of different retrievers are incomparable —
    * that incomparability is why RRF exists). Contributions are exact
    * integer-quantized (1e9/(c+rank) rounded to a long) and summed as
    * LONGS, so fusion of any number of lists is order-free and replays
    * bit-for-bit in any engine. Output rank = (rrf desc, doc_id asc) via
    * the same [[graft.functions.BoundedTopK]] O(k)-state aggregation as
    * every other ranking — input lists are already top-k-bounded per
    * query, so the fused candidate set is ≤ Σ list sizes per query. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
              c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0, s"bad k $k")
    require(c >= 0, s"bad c $c")
    val std = rankings.map(_.select(col("query_id").cast("long"),
      col("doc_id").cast("long"), col("rank").cast("long")))
    val unioned = std.reduce(_ unionAll _)
    val fused = unioned
      .withColumn("__c",
        round(lit(1e9) / (lit(c.toDouble) + col("rank")), 0).cast("long"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__c")).as("__s"))
      .withColumn("rrf", round(col("__s").cast("double") / 1e9, 6))
    fused.groupBy(col("query_id"))
      .agg(exprs.boundedTopK(col("rrf"), col("doc_id"), k).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "nn")))
      .select(col("query_id"), col("nn.id").as("doc_id"),
        col("nn.score").as("rrf"),
        (col("pos") + 1).cast("long").as("rank"))
  }
}
