package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{RollupOps, SkewAnalyzer}

/** Driver-contract queries over the testdata parquet tables — each is one
  * operator row from SURVEY.md §2 re-expressed over the TPC-H-ish surrogate
  * tables, paired with DuckDB oracle SQL in [[Oracles]].
  *
  * Conventions shared with the oracle SQL (the driver hash-compares values
  * under sorted column names):
  *  - every aggregate/computed column is aliased identically on both sides;
  *  - double outputs are `round`ed (2 decimals for big money sums, 6-9 for
  *    ratios) so cross-engine float summation order cannot flip the hash;
  *  - every result has a total deterministic ORDER BY.
  */
object Queries {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Sessions derived (once per parent session) for nanos-timestamp parquet
    * reads: `newSession()` shares the SparkContext but owns its SQLConf, so
    * the legacy flag below never leaks into the caller's session state.
    * Weak keys let a stopped parent session be collected. */
  private val nanoSessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects ([PARQUET_TYPE_ILLEGAL]); read it as nanos-long via the legacy
    * flag — scoped to a derived session rather than mutating the shared
    * one — and rebuild a proper TimestampType column (micros precision —
    * DuckDB truncates ns → us identically). The returned frame's scan keeps
    * the derived session's conf, so it composes with frames from the parent
    * session (same SparkContext). */
  /** The derived session that reads TIMESTAMP(NANOS) parquet as long —
    * public so streaming readers (which need `readStream` on a session with
    * the flag) can opt in explicitly instead of relying on leaked conf. */
  def nanosSession(spark: SparkSession): SparkSession =
    nanoSessions.computeIfAbsent(spark, p => {
      val ns = p.newSession()
      ns.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      ns
    })

  /** Normalize an events frame's `ts` column to micros-precision
    * TimestampType regardless of which physical layout the testdata
    * generator emitted (it has shipped both TIMESTAMP(NANOS) — readable
    * only as nanos-long via the legacy flag — and plain timestamp[us],
    * which Spark infers as TIMESTAMP_NTZ). The NTZ→TIMESTAMP cast is
    * instant-preserving under the UTC session timezone Verify/tests pin,
    * matching DuckDB's naive `epoch(ts)` on the same file. */
  private[graft] def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => // nanos-as-long read: rebuild micros timestamps
        df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(s"unsupported events.ts type: $other")
    }
  }

  /** True iff the failure is the plain reader rejecting a TIMESTAMP(NANOS)
    * parquet column ([PARQUET_TYPE_ILLEGAL] at schema-inference time) —
    * the ONE condition the nanos-session retry can fix. Anything else
    * (missing dir, corrupt file, permissions) must surface as-is, not as
    * a misleading second error from the retry. */
  private def isNanosLayoutFailure(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8).exists { t =>
      val m = Option(t.getMessage).getOrElse("")
      m.contains("PARQUET_TYPE_ILLEGAL") ||
        (m.contains("TIMESTAMP(NANOS") && m.contains("Parquet"))
    }

  /** Schema-adaptive events reader: try the plain session first (works for
    * the timestamp[us] layout); fall back to the nanos-as-long derived
    * session ONLY when the parquet carries TIMESTAMP(NANOS), which the
    * plain reader rejects ([PARQUET_TYPE_ILLEGAL]) at schema-inference
    * time. Other failures rethrow unchanged. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(
      try t(spark, dir, "events")
      catch {
        case e: Throwable if isNanosLayoutFailure(e) =>
          t(nanosSession(spark), dir, "events")
      })

  /** The session + raw (pre-normalize) schema a streaming reader of the
    * events file must use — the nanos layout forces both the schema read
    * and the readStream onto the flagged derived session; the micros
    * layout runs on the caller's session untouched. Compose with
    * [[normalizeTs]] after `readStream`. */
  def eventsStreamSession(spark: SparkSession, dir: String)
      : (SparkSession, org.apache.spark.sql.types.StructType) =
    try (spark, t(spark, dir, "events").schema)
    catch {
      case e: Throwable if isNanosLayoutFailure(e) =>
        val ns = nanosSession(spark)
        (ns, t(ns, dir, "events").schema)
    }

  /** A1/O1 + F10-F12: pruned scan + hash aggregation (TPC-H Q1 shape).
    * Catalyst prunes the scan to the 6 referenced columns. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A1: per-"partition" record counts (surrogate partition key =
    * (l_returnflag, l_linestatus), SURVEY §2.4 A1). */
  def partitionCounts(spark: SparkSession, dir: String): DataFrame =
    SkewAnalyzer.partitionCounts(
        t(spark, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
      .select(col("l_returnflag"), col("l_linestatus"), col("count").as("cnt"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** A4: counts keyed by stringified partition tuple. */
  def recordsPerPartition(spark: SparkSession, dir: String): DataFrame =
    SkewAnalyzer.recordsPerPartition(
        t(spark, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"))
      .select(col("partition").as("partition_key"), col("count").as("cnt"))
      .orderBy(col("partition_key"))

  /** A2+A3: the skewness pair over orders by o_orderpriority. */
  def skewnessMetrics(spark: SparkSession, dir: String): DataFrame = {
    val counts = SkewAnalyzer.partitionCounts(
      t(spark, dir, "orders"), Seq("o_orderpriority"))
    SkewAnalyzer.skewnessStats(counts)
      .select(
        col("partition_cnt"),
        round(col("skewness_max"), 9).as("skewness_max"),
        round(col("skewness_average"), 9).as("skewness_average"))
  }

  /** A5: conditional operation-count aggregation (events.event_type stands in
    * for the commit-log operation column). */
  def opCounts(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).agg(
      sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
      sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
      sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"),
      sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
      count(lit(1)).as("n_total"))

  /** H1-H5: the full health-score calculus as ONE declarative plan over
    * surrogate inputs (writes←clicks, optimizes←purchases, skew←orders
    * priorities, small files←small parts, orphans←customers with no orders).
    * Demonstrates the score is SQL-expressible end-to-end. */
  def healthScoreSql(spark: SparkSession, dir: String): DataFrame = {
    val ops = opCounts(spark, dir)
      .select(col("n_click").as("writes"), col("n_purchase").as("optimizes"))
    val skew = skewnessMetrics(spark, dir).select(col("skewness_max").as("skew"))
    val smallFiles = t(spark, dir, "part")
      .agg(sum(when(col("p_size") < 10, 1L).otherwise(0L)).as("small_files"))
    val orphans = t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_orphan"))
    ops.crossJoin(skew).crossJoin(smallFiles).crossJoin(orphans)
      .select(
        col("writes"), col("optimizes"), col("small_files"), col("n_orphan"),
        least(col("writes") / 10.0 * 25.0, lit(25.0)).as("freshness"),
        (least(col("optimizes") / greatest(col("writes"), lit(1L)) * 10.0 * 12.5, lit(12.5))
          + when(col("n_orphan") > 0, 0.0).otherwise(12.5)).as("maintenance"),
        (lit(25.0) - least(col("skew") * 100.0, lit(25.0))).as("balance"),
        (lit(25.0)
          - least(col("small_files") / greatest(col("writes") * 2L, lit(1L)).cast("double") * 12.5, lit(12.5))
          - when(col("n_orphan") > 0, 12.5).otherwise(0.0)).as("storage"))
      .select(
        col("writes"), col("optimizes"), col("small_files"), col("n_orphan"),
        round(col("freshness"), 6).as("freshness"),
        round(col("maintenance"), 6).as("maintenance"),
        round(col("balance"), 6).as("balance"),
        round(col("storage"), 6).as("storage"),
        round(col("freshness") + col("maintenance") + col("balance") + col("storage"), 6)
          .as("health_score"),
        when(col("freshness") + col("maintenance") + col("balance") + col("storage") >= 80, "healthy")
          .when(col("freshness") + col("maintenance") + col("balance") + col("storage") >= 50, "unhealthy")
          .otherwise("very_unhealthy").as("health_status"))
  }

  /** A15/O1/O2: top-10 + "Others" rollup over part brands. */
  def topnOthers(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "part")
      .groupBy(col("p_brand").as("brand")).agg(count(lit(1)).as("cnt"))
    RollupOps.topNWithOthers(counts, "brand", "cnt", 10)
  }

  /** A14: fixed-width histogram of l_extendedprice (width 5000). */
  def sizeHistogram(spark: SparkSession, dir: String): DataFrame =
    RollupOps.histogram(t(spark, dir, "lineitem"), "l_extendedprice", 5000.0)
      .select(col("bin"), col("count").as("cnt"))
      .orderBy(col("bin"))

  /** J1: orphan detection as a left-anti join — customers with no orders
    * since 2000 (date predicate keeps the result non-empty at every SF). */
  def antiJoinOrphans(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders")
          .where(expr("o_orderdate >= timestamp'2000-01-01 00:00:00'")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))
      .orderBy(col("c_custkey"))

  /** A16: distribution stats for the skew gauge. */
  def distributionStats(spark: SparkSession, dir: String): DataFrame =
    SkewAnalyzer.distributionStats(
        SkewAnalyzer.partitionCounts(t(spark, dir, "lineitem"), Seq("l_returnflag")))
      .select(
        col("max_count"), col("min_count"),
        round(col("mean_count"), 6).as("mean_count"),
        round(col("stddev_count"), 6).as("stddev_count"))

  /** JSON scalar extraction (F-series: the engine-side from_json /
    * get_json_object surface SURVEY §2.7 calls for): parse events.props,
    * bucket the extracted value, aggregate. */
  def eventsJson(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k_val",
        get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(floor(col("k_val") / 10.0).cast("long").as("k_bucket"))
      .agg(
        count(lit(1)).as("cnt"),
        round(avg(col("value")), 6).as("avg_value"))
      .orderBy(col("k_bucket"))

  /** Backward AS-OF join: each purchase event matched to the same user's
    * latest click at or before it ([[graft.operators.AsOfJoin]]). The right
    * side is pre-reduced to unique (user_id, ts) via max_by so tie-breaks
    * are deterministic — the exact contract DuckDB's native ASOF LEFT JOIN
    * verifies. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val clicks = ev.where(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("evt"),
        max_by(col("value"), col("event_id")).as("val"))
    graft.operators.AsOfJoin.asofBackward(
        ev.where(col("event_type") === "purchase"),
        clicks, keys = Seq("user_id"), tsCol = "ts", payload = Seq("evt", "val"))
      .select(col("event_id"), col("user_id"),
        col("asof_evt").as("asof_event_id"),
        round(col("asof_val"), 6).as("asof_value"))
      .orderBy(col("event_id"))
  }

  /** Left-outer join aggregation: per-customer order stats including
    * zero-order customers (null-aware count/sum). */
  def leftJoinAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(t(spark, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))

  /** Hierarchical ROLLUP aggregation (grouping-set totals per flag and
    * grand total). */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Exact distinct-count aggregation (expand + two-phase under the hood). */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("distinct_parts"),
        countDistinct(col("l_suppkey")).as("distinct_supps"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag"))

  /** Exact interpolated percentiles per group (Spark `percentile` ==
    * DuckDB `quantile_cont`, both linear interpolation on the sorted set). */
  def pricePercentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  /** Broadcast-join aggregation: revenue per nation (engine-breadth join
    * path). Only NATION (25 rows, a true dimension) carries a broadcast
    * hint; customer is CORPUS-SCALE in TPC-H (15B rows at 100 TB), so its
    * join stays unhinted — a shuffle join on custkey at scale, while AQE
    * still converts it to broadcast at runtime whenever the measured side
    * fits (it does at every test sf). Force-broadcasting customer was the
    * same vocabulary-broadcast class of flaw the round-11 BM25 fix
    * removed. */
  def joinRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"))
  }

  /** Window ranking: top-3 orders per customer by total price (O2 analogue
    * via row_number, SURVEY §2.8). */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("total_price"),
        col("rn").cast("long").as("rn"))   // DuckDB row_number is BIGINT
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Sessionization as gaps-and-islands (lag + cumulative sum) — the batch
    * window-function form of EventStreams.statefulSessions, 30-minute gap.
    * Oracle-checkable (unlike session_window, this is plain ANSI SQL). */
  def userSessions(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = 30L * 60 * 1000 * 1000
    events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(
        unix_timestamp(min(col("ts"))).as("session_start_epoch"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("value_sum"))
      .drop("sid")
      .orderBy(col("user_id"), col("session_start_epoch"))
  }

  /** Skew-robust sessionization: [[userSessions]] semantics via TIME-CHUNKED
    * two-phase gaps-and-islands, for corpora where one entity owns an
    * unboundable share of the events. The plain window form is correct at
    * any scale but serializes each user onto ONE task (window semantics
    * require it, and AQE's skew machinery only splits JOIN stages — a
    * window's hot partition cannot be split by config). Measured on the
    * 90%-hot twin of sf1 that bound is a ~2× ratio (900k events on one
    * task; BASELINE.md round 15); it grows linearly with the hot entity's
    * share, with no knob to cap it.
    *
    * Here the window runs per (user, time-chunk) — parallel ACROSS chunks
    * for the hot user — then chunk-boundary sessions merge through a
    * per-user window over CHUNK SUMMARIES (≤ 2 boundary rows per (user,
    * chunk) — thousands of times smaller than the event stream), and the
    * final session stats re-aggregate with order-free sums. Merge logic:
    * chunk summaries sort by time per user; a chunk's FIRST session joins
    * the previous summary's LAST session iff the event gap across the
    * boundary is ≤ `gap` (sessions spanning several sparse chunks chain
    * through the same rule — islands over summaries). Exactness:
    * session membership and event counts are IDENTICAL to [[userSessions]]
    * (spec-pinned on uniform AND hot fixtures); `value_sum` is the same
    * round(sum, 4) but over a different addition order, so the pin allows
    * the documented 1e-6 float-order tolerance. */
  def userSessionsChunked(spark: SparkSession, dir: String,
                          chunkHours: Int = 24): DataFrame = {
    // chunkHours = 0 makes chunkUs = 0 and floor(us/0) aborts at runtime
    // under the ANSI mode this engine runs; negative values reverse chunk
    // keys — both failures far from this call site, so guard here
    require(chunkHours >= 1, s"chunkHours must be >= 1, got $chunkHours")
    import org.apache.spark.sql.expressions.Window
    val gapUs = 30L * 60 * 1000 * 1000
    val chunkUs = chunkHours.toLong * 3600 * 1000 * 1000
    val ev = events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("chunk", floor(col("us") / chunkUs))
    // phase 1: sessionize WITHIN (user, chunk) — the hot user's events
    // spread over as many tasks as it has active chunks
    val byChunk = Window.partitionBy(col("user_id"), col("chunk"))
      .orderBy(col("us"))
    val local = ev
      .withColumn("prev_us", lag(col("us"), 1).over(byChunk))
      .withColumn("new_s",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L)
          .otherwise(0L))
      .withColumn("lsid", sum(col("new_s")).over(
        byChunk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("chunk"), col("lsid"))
      .agg(min(col("us")).as("s_first"), max(col("us")).as("s_last"),
        min(col("ts")).as("s_start_ts"),
        count(lit(1)).as("n_events"), sum(col("value")).as("value_raw"))
    // phase 2: merge across chunk boundaries, on the BOUNDARY-SESSION
    // frame only. A local session can merge with another chunk's session
    // only if it is its chunk's FIRST (merges backward) or LAST (merges
    // forward) — interior sessions are fenced by >gap breaks on both
    // sides within their own chunk. So take ≤2 rows per (user, chunk),
    // order them per user by session start, and run plain gaps-and-islands
    // over SESSIONS: same-chunk first/last rows break automatically
    // (sessions inside one chunk are >gap apart by construction), while a
    // ≤gap chunk-boundary straddle chains — including across empty chunks
    // and through runs of single-session chunks. The frame is thousands of
    // times smaller than the event stream (hot user: 2 rows per active
    // chunk), so this window's hot partition is trivially small.
    // max_lsid as an UNORDERED full-frame window over (user, chunk) — the
    // r17 duplicate_spans trick (r18 here): `local` leaves its aggregation
    // hash-partitioned by (user_id, chunk) (the groupBy reused the phase-1
    // window's exchange), which satisfies this window's distribution
    // exactly, so the former groupBy+self-join (a second aggregate plus a
    // join of the session frame against itself) collapses to one in-place
    // window pass with NO new exchange. NULL-key note (r18 ADVICE): the
    // former INNER self-join on (user_id, chunk) dropped sessions whose
    // user_id or ts (hence chunk) was null, while the window RETAINS them
    // (null keys form their own window group) — matching plain
    // userSessions' window semantics. Row-identical on null-free event
    // fixtures; on nullable inputs the window form is the intended one. The boundary/interior branches
    // below each consume this frame; the duplicated subtree's exchanges
    // are runtime-reused by AQE (measured on bm25TopK, OPTIMIZATION_r18.md), so no
    // persist — a tracked persist benched wall-neutral here while adding
    // a materialization the reuse makes redundant.
    val byUserChunk = Window.partitionBy(col("user_id"), col("chunk"))
    val withMax =
      local.withColumn("max_lsid", max(col("lsid")).over(byUserChunk))
    val boundary = withMax
      .where(col("lsid") === 1L || col("lsid") === col("max_lsid"))
    val interior = withMax
      .where(col("lsid") =!= 1L && col("lsid") =!= col("max_lsid"))
    val byUserSeq = Window.partitionBy(col("user_id")).orderBy(col("s_first"))
    val merged = boundary
      .withColumn("prev_last", lag(col("s_last"), 1).over(byUserSeq))
      .withColumn("new_i",
        when(col("prev_last").isNull || col("s_first") - col("prev_last") > gapUs,
          1L).otherwise(0L))
      .withColumn("isl", sum(col("new_i")).over(
        byUserSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("isl"))
      .agg(min(col("s_start_ts")).as("s_start_ts"),
        sum(col("n_events")).as("n_events"),
        sum(col("value_raw")).as("value_raw"))
    merged.select(col("user_id"), col("s_start_ts"), col("n_events"),
        col("value_raw"))
      .union(interior.select(col("user_id"), col("s_start_ts"),
        col("n_events"), col("value_raw")))
      .select(col("user_id"),
        unix_timestamp(col("s_start_ts")).as("session_start_epoch"),
        col("n_events"),
        round(col("value_raw"), 4).as("value_sum"))
      .orderBy(col("user_id"), col("session_start_epoch"))
  }

  /** Event-time tumbling aggregation (batch form of the streaming window):
    * per-hour per-type counts + value sums, hour as epoch seconds. */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(
        unix_timestamp(date_trunc("hour", col("ts"))).as("hour_epoch"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value")), 4).as("value_sum"))
      .orderBy(col("hour_epoch"), col("event_type"))
}
