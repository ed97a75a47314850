package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{exprs, TextFunctions}

/** STREAMING distribution-drift monitor — the incremental form of
  * [[graft.operators.CorpusOps.distributionDrift]]: per group, the JS
  * divergence (nats) and L1 distance between a FIXED reference snapshot's
  * unigram distribution and the distribution of everything streamed so
  * far. The drift alarm of a recurring-crawl ingest pipeline ("source X's
  * incoming content no longer looks like the corpus we curated against"),
  * running next to [[NearDupIngest]] and [[SketchStreams]].
  *
  * Streaming shape: Structured Streaming (complete mode) allows ONE
  * stateful aggregation and no post-aggregation joins — so the streamed
  * side aggregates to a Misra–Gries term summary per group (EXACT while
  * the group's streamed vocabulary stays ≤ k — the corpusMonitor budget
  * discipline), and the reference distribution rides into the FINISHER as
  * a nested map literal captured at monitor construction (one bounded
  * driver collect, guarded). All drift arithmetic happens in plain column
  * expressions over the G-row aggregate — the same cleared-denominator ln
  * ratios, 1e-9 rounding, and per-term integer quantization as the batch
  * operator, so stream ≡ batch is spec-pinned, not hoped
  * (DriftStreamsSpec).
  *
  * Output rows cover the groups SEEN IN THE STREAM (complete-mode
  * aggregation emits observed keys); a reference group that never streams
  * a row simply has no row yet — the "source went silent" signal is the
  * row's absence, while "source content shifted" is its js_div.
  *
  * SIZE k TO THE CORPUS VOCABULARY (the corpusMonitor budget
  * discipline): past the exact regime a uniform vocabulary is MG's worst
  * case — the summary keeps ~k tokens, the dropped mass reads as
  * "missing", and a zero-drift stream reports near-max spurious drift
  * (measured js 0.525 at vocab 2000 / k 256; spec-pinned as the
  * documented failure mode, DriftStreamsSpec).
  * Output: (group, n_before, n_after, js_div, l1_dist) — the batch
  * operator's schema. */
object DriftStreams {

  /** @param docs      streaming (or batch — same plan works for the
    *                  parity oracle) frame with (groupCol, textCol)
    * @param reference BATCH snapshot frame with (groupCol, textCol);
    *                  collected once here — bounded by the guards
    * @param k         MG summary size per group; the monitor is exact
    *                  while each group's streamed vocabulary ≤ k
    * @param maxRefEntries guard on the collected reference size
    *                  (groups × vocabulary entries). Default 256k: the
    *                  profile rides into the plan as a `typedLit` map that
    *                  is serialized with EVERY task binary, so the bound is
    *                  a plan/driver-memory budget, not a statistics one —
    *                  measured (BASELINE.md r14): 10.8 s flat
    *                  through 1M entries, then 41 s and a 4.5 GB driver
    *                  heap at the old 4M guard. References past the guard
    *                  belong on [[driftMonitorJoined]], which keeps the
    *                  profile a distributed frame, carries only per-group
    *                  totals as literals, and measured CHEAPER at every
    *                  probed size (5.2/4.4/7.4 s at 256k/1M/4M). */
  def driftMonitor(docs: DataFrame, reference: DataFrame,
                   groupCol: String, textCol: String, k: Int = 4096,
                   maxRefEntries: Long = 256L << 10): DataFrame = {
    require(k > 1, s"bad k $k")
    // reference counts, one bounded collect at construction: the monitor
    // is built ONCE per stream, and the reference side of a drift check
    // is by definition a curated snapshot with a bounded (group, token)
    // profile — the same budget discipline as the sketch monitor's k.
    val refRows = reference
      .select(col(groupCol).cast("string").as("g"),
        explode(graft.functions.minhashExprs.wordGrams(
          TextFunctions.normalized(col(textCol)), 1)).as("tok"))
      .groupBy(col("g"), col("tok")).agg(count(lit(1)).as("c"))
      .limit((maxRefEntries + 1).min(Int.MaxValue.toLong).toInt)
      .collect()
    require(refRows.length <= maxRefEntries,
      s"driftMonitor: reference profile exceeds $maxRefEntries (group, " +
        "token) entries — aggregate or sample the reference snapshot")
    val refMap: Map[String, Map[String, Long]] = refRows
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(x => x._2 -> x._3).toMap }
    val refTot: Map[String, Long] =
      refMap.map { case (g, m) => g -> m.values.sum }
    val refLit = typedLit(refMap)
    val refTotLit = typedLit(refTot)

    val toks = docs.select(col(groupCol).cast("string").as("__g"),
      explode(graft.functions.minhashExprs.wordGrams(
        TextFunctions.normalized(col(textCol)), 1)).as("__tok"))
    val agged = toks.groupBy(col("__g"))
      .agg(exprs.heavyHitters(col("__tok"), k).as("__hh"))

    // finisher stage 1 — HOIST every HOF-derived value (the streamed
    // count map, the streamed total) into plain columns of an
    // intermediate projection: Catalyst HOFs are interpreted with no CSE
    // across lambda scopes, so a sum lambda that references a transform/
    // aggregate EXPRESSION re-evaluates it per key — the O(vocab²) shape
    // ContractSpec's quadratic-HOF lint exists to catch (and did, r13).
    // After hoisting, the sum lambdas below reference only bound columns.
    val prepared = agged.select(col("__g"),
      map_from_entries(transform(col("__hh"),
        e => struct(e.getField("term"), e.getField("count")))).as("__m"),
      coalesce(element_at(refLit, col("__g")),
        typedLit(Map.empty[String, Long])).as("__r"),
      coalesce(element_at(refTotLit, col("__g")), lit(0L)).as("__tb"),
      aggregate(col("__hh"), lit(0L),
        (acc, e) => acc + e.getField("count")).as("__ta"))
    // finisher stage 2: the batch operator's term arithmetic over the key
    // union — reference is "before" (p), the stream is "after" (q). ONE
    // map_zip_with pass merges the two count maps (Spark materializes the
    // key-index union once per row — O(V + k)); a per-key element_at
    // formulation instead linear-scans the V-entry reference literal for
    // EVERY union key in interpreted eval, O(V²) per group — measured
    // (BASELINE.md r14): a single 64-group×4096-token reference drove one
    // finisher task past 10 CPU-minutes before the rewrite.
    val mm = col("__m"); val rr = col("__r")
    val tb = col("__tb"); val ta = col("__ta")
    def d(c: Column) = c.cast("double")
    def terms(cb0: Column, ca0: Column): Column = {
      val cb = coalesce(cb0, lit(0L))
      val ca = coalesce(ca0, lit(0L))
      val p = when(tb === 0L, 0.0).otherwise(d(cb) / d(tb))
      val q = when(ta === 0L, 0.0).otherwise(d(ca) / d(ta))
      val den = d(cb) * d(ta) + d(ca) * d(tb)
      val lnP = when(cb === 0L, 0.0)
        .when(ta === 0L, round(log(lit(2.0)), 9))
        .otherwise(round(log(lit(2.0) * d(cb) * d(ta) / den), 9))
      val lnQ = when(ca === 0L, 0.0)
        .when(tb === 0L, round(log(lit(2.0)), 9))
        .otherwise(round(log(lit(2.0) * d(ca) * d(tb) / den), 9))
      struct(
        round(p * lnP * 1e9, 0).cast("long").as("jp"),
        round(q * lnQ * 1e9, 0).cast("long").as("jq"),
        round(abs(p - q) * 1e9, 0).cast("long").as("l1"))
    }
    // hoist the zipped term map into a bound column (the quadratic-HOF
    // lint discipline) so the three sums below fold a materialized array
    val zipped = prepared.select(col("__g"), tb, ta,
      map_values(map_zip_with(rr, mm, (_, cb0, ca0) => terms(cb0, ca0)))
        .as("__t"))
    def sumOf(field: String): Column =
      aggregate(col("__t"), lit(0L), (acc, t) => acc + t.getField(field))
    zipped.select(col("__g").as(groupCol),
      tb.as("n_before"), ta.as("n_after"),
      round((sumOf("jp") + sumOf("jq")).cast("double") / 2e9, 6).as("js_div"),
      round(sumOf("l1").cast("double") / 1e9, 6).as("l1_dist"))
  }

  /** The LARGE-REFERENCE drift monitor: identical output contract (and
    * identical values, spec-pinned) to [[driftMonitor]], but the reference
    * profile stays a DISTRIBUTED frame met by a stream-static join BEFORE
    * the aggregation — nothing vocabulary-sized ever rides the plan as a
    * literal, so the reference can be arbitrarily large (the 100-TB
    * curated-snapshot case [[driftMonitor]]'s 256k-entry guard rejects).
    *
    * How parity survives Structured Streaming's one-aggregation rule
    * (complete mode forbids joins AFTER the aggregation, so stream-absent
    * reference tokens can never be joined back in):
    *   1. each streamed token left-joins its reference count cb (static
    *      side, pre-aggregated once) and carries it INTO the MG summary
    *      encoded in the key — `tok ':' cb` (tokens are normalized
    *      [a-z0-9]+, so ':' cannot collide); the encoding is constant per
    *      (group, token), so summary semantics are unchanged;
    *   2. tokens ABSENT from the stream contribute only their
    *      "absent-form" terms (ca = 0 ⇒ lnP = round(ln 2, 9), jq = 0):
    *      their per-term-quantized sums Σ round(p·ln2·1e9) and
    *      Σ round(p·1e9) are pre-aggregated per group AT CONSTRUCTION with
    *      the same column arithmetic, collected as G-row literals;
    *   3. the finisher recomputes each PRESENT token's absent-form terms
    *      from the carried cb (bit-identical doubles — same expressions)
    *      and swaps them for the true terms:
    *      jp = JPall + Σ_present (jpTrue − jpAbsent).
    * Per-term quantization is preserved exactly — no Σ-then-round
    * shortcut — so stream ≡ batch stays bit-for-bit, not approximately.
    *
    * Driver state is G-sized (per-group totals + the two absent-form
    * sums), never vocabulary-sized. The static side (`(g, tok, cb)`
    * counts) is a tracked per-call persist (released by the session
    * sweep or `Dedup.withCaches`); production would persist it as a
    * table alongside the snapshot and pass it pre-aggregated. */
  def driftMonitorJoined(docs: DataFrame, reference: DataFrame,
                         groupCol: String, textCol: String,
                         k: Int = 4096): DataFrame = {
    require(k > 1, s"bad k $k")
    val lnAbs = round(log(lit(2.0)), 9)
    def d(c: Column) = c.cast("double")
    // static reference profile: one distributed aggregation, reused by
    // every micro-batch through the stream-static join. Tracked persist
    // (the per-call pipeline-cache convention — this is NOT a memoized
    // handle like minhashIndex, every call rebuilds it): the bench loop's
    // unpersistAll() and library callers' Dedup.withCaches both release
    // it; a long-lived streaming monitor that must survive a concurrent
    // registry sweep should persist its own reference frame and pass it
    // pre-aggregated.
    val refAgg = graft.operators.Dedup.track(reference
      .select(col(groupCol).cast("string").as("__g"),
        explode(graft.functions.minhashExprs.wordGrams(
          TextFunctions.normalized(col(textCol)), 1)).as("__tok"))
      .groupBy(col("__g"), col("__tok")).agg(count(lit(1)).as("__cb"))
      .cache())
    // G-row construction-time collects: totals + the absent-form sums,
    // quantized PER TERM with the exact finisher expressions (identical
    // doubles in, identical longs out — parity needs no epsilon)
    val perGroup = refAgg.groupBy(col("__g")).agg(
      sum(col("__cb")).as("__tb"))
    val totRows = perGroup.collect()
    val refTot: Map[String, Long] =
      totRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val absSums = refAgg
      .join(perGroup, "__g")
      .select(col("__g"),
        round(d(col("__cb")) / d(col("__tb")) * lnAbs * 1e9, 0)
          .cast("long").as("__jpa"),
        round(d(col("__cb")) / d(col("__tb")) * 1e9, 0)
          .cast("long").as("__l1a"))
      .groupBy(col("__g"))
      .agg(sum(col("__jpa")).as("jp"), sum(col("__l1a")).as("l1"))
      .collect()
    val jpAll: Map[String, Long] =
      absSums.map(r => r.getString(0) -> r.getLong(1)).toMap
    val l1All: Map[String, Long] =
      absSums.map(r => r.getString(0) -> r.getLong(2)).toMap
    val refTotLit = typedLit(refTot)
    val jpAllLit = typedLit(jpAll)
    val l1AllLit = typedLit(l1All)

    // stream side: explode → stream-static LEFT join (cb = 0 off-profile)
    // → carry cb in the MG key → ONE streaming aggregation
    val toks = docs.select(col(groupCol).cast("string").as("__g"),
      explode(graft.functions.minhashExprs.wordGrams(
        TextFunctions.normalized(col(textCol)), 1)).as("__tok"))
    val joined = toks.join(refAgg, Seq("__g", "__tok"), "left_outer")
      .select(col("__g"),
        concat(col("__tok"), lit(":"),
          coalesce(col("__cb"), lit(0L)).cast("string")).as("__key"))
    val agged = joined.groupBy(col("__g"))
      .agg(exprs.heavyHitters(col("__key"), k).as("__hh"))

    // finisher stage 1: hoist HOF-derived values into plain columns (the
    // quadratic-HOF lint discipline — see driftMonitor)
    val prepared = agged.select(col("__g"),
      map_from_entries(transform(col("__hh"),
        e => struct(e.getField("term"), e.getField("count")))).as("__m"),
      coalesce(element_at(refTotLit, col("__g")), lit(0L)).as("__tb"),
      coalesce(element_at(jpAllLit, col("__g")), lit(0L)).as("__jpall"),
      coalesce(element_at(l1AllLit, col("__g")), lit(0L)).as("__l1all"),
      aggregate(col("__hh"), lit(0L),
        (acc, e) => acc + e.getField("count")).as("__ta"))
    val tb = col("__tb"); val ta = col("__ta")
    // per present entry: true terms (batch arithmetic) minus the
    // absent-form terms already inside the construction-time sums — a
    // single map_entries walk (O(k)); per-key element_at lookups would
    // linear-scan the summary map per key, O(k²) in interpreted eval
    // (the same pathology BASELINE.md r14 measured on the literal route)
    def terms(cb0: Column, ca0: Column): Column = {
      val cb = cb0; val ca = ca0
      val p = when(tb === 0L, 0.0).otherwise(d(cb) / d(tb))
      val q = when(ta === 0L, 0.0).otherwise(d(ca) / d(ta))
      val den = d(cb) * d(ta) + d(ca) * d(tb)
      val lnP = when(cb === 0L, 0.0)
        .when(ta === 0L, lnAbs)
        .otherwise(round(log(lit(2.0) * d(cb) * d(ta) / den), 9))
      val lnQ = when(ca === 0L, 0.0)
        .when(tb === 0L, lnAbs)
        .otherwise(round(log(lit(2.0) * d(ca) * d(tb) / den), 9))
      val jpTrue = round(p * lnP * 1e9, 0).cast("long")
      val jqTrue = round(q * lnQ * 1e9, 0).cast("long")
      val l1True = round(abs(p - q) * 1e9, 0).cast("long")
      val jpAbsent = round(p * lnAbs * 1e9, 0).cast("long")
      val l1Absent = round(p * 1e9, 0).cast("long")
      struct((jpTrue - jpAbsent).as("jp"), jqTrue.as("jq"),
        (l1True - l1Absent).as("l1"))
    }
    // hoist the per-entry term array into a bound column before summing
    val zipped = prepared.select(col("__g"), tb, ta,
      col("__jpall"), col("__l1all"),
      transform(map_entries(col("__m")), e => terms(
        element_at(split(e.getField("key"), ":"), -1).cast("long"),
        e.getField("value"))).as("__t"))
    def sumOf(field: String): Column =
      aggregate(col("__t"), lit(0L), (acc, t) => acc + t.getField(field))
    val jp = col("__jpall") + sumOf("jp")
    val jq = sumOf("jq")
    val l1 = col("__l1all") + sumOf("l1")
    zipped.select(col("__g").as(groupCol),
      tb.as("n_before"), ta.as("n_after"),
      round((jp + jq).cast("double") / 2e9, 6).as("js_div"),
      round(l1.cast("double") / 1e9, 6).as("l1_dist"))
  }
}
