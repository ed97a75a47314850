package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming operators over the events table. Each transform is
  * written against a plain DataFrame so the SAME function runs in batch
  * (for oracle checks) and behind `readStream` (for the streaming path) —
  * identical function surface, as Structured Streaming intends.
  *
  * The reference has no streaming surface (SURVEY.md §2.10); this is the
  * forward-looking extension for pipeline ingestion.
  */
object EventStreams {

  /** Tumbling 1-hour event-time window per event type. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("value_sum"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("cnt"), col("value_sum"))

  /** Session windows per user with an inactivity gap. */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("value_sum"))
      .select(col("user_id"), col("win.start").as("session_start"),
        col("win.end").as("session_end"), col("n_events"), col("value_sum"))

  /** Typed event row for stateful processing. */
  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, value_sum: Double)

  /** Custom sessionization via flatMapGroupsWithState — the
    * KeyValueGroupedDataset stateful path (richer than session_window when
    * per-session custom logic is needed).
    *
    * BATCH semantics: each group is processed in one call with all its
    * events, and every session is emitted. This implementation does NOT
    * carry state across streaming micro-batches (GroupState is unused, no
    * timeout) — running it behind readStream would fragment sessions at
    * batch boundaries. For streaming sessionization use [[userSessions]]
    * (session_window), which Spark maintains incrementally; a
    * state-carrying incremental version is future work. */
  def statefulSessions(events: DataFrame, gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]
    def fn(userId: Long, it: Iterator[UserEvent],
           state: GroupState[Long]): Iterator[UserSession] = {
      val sorted = it.toSeq.sortBy(_.ts.getTime)
      if (sorted.isEmpty) Iterator.empty
      else {
        val out = Seq.newBuilder[UserSession]
        var start = sorted.head.ts.getTime
        var end = start
        var n = 0L
        var sum = 0.0
        sorted.foreach { e =>
          val t = e.ts.getTime
          if (t - end > gapMs) {
            out += UserSession(userId, new java.sql.Timestamp(start),
              new java.sql.Timestamp(end), n, sum)
            start = t; n = 0L; sum = 0.0
          }
          end = t; n += 1; sum += e.value
        }
        out += UserSession(userId, new java.sql.Timestamp(start),
          new java.sql.Timestamp(end), n, sum)
        out.result().iterator
      }
    }
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
      .toDF()
  }

  /** Open-session state carried across micro-batches. */
  final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)

  /** TRUE incremental sessionization for streaming: GroupState carries ALL
    * open sessions (sorted by start) across micro-batches; a session closes
    * only once the event-time watermark passes its end + gap — the only
    * point at which no further (non-late) event can still join or split it.
    * Out-of-order events within the watermark are handled correctly: they
    * can extend a session backwards, bridge two open sessions into one, or
    * open an earlier separate session. Input must carry a watermark on
    * `ts`. A session spanning N micro-batches emits once, merged. */
  def statefulSessionsIncremental(events: DataFrame, gapMs: Long): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id"), col("ts"), col("value")).as[UserEvent]

    def close(userId: Long, s: OpenSession): UserSession =
      UserSession(userId, new java.sql.Timestamp(s.start),
        new java.sql.Timestamp(s.end), s.n, s.sum)

    // fold sorted-by-start sessions, merging any within gap of each other
    def coalesceSessions(sorted: Seq[OpenSession]): Seq[OpenSession] =
      sorted.foldLeft(Vector.empty[OpenSession]) { (acc, s) =>
        acc.lastOption match {
          case Some(p) if s.start - p.end <= gapMs =>
            acc.init :+ OpenSession(p.start, math.max(p.end, s.end),
              p.n + s.n, p.sum + s.sum)
          case _ => acc :+ s
        }
      }

    def fn(userId: Long, it: Iterator[UserEvent],
           state: GroupState[Seq[OpenSession]]): Iterator[UserSession] = {
      val existing = state.getOption.getOrElse(Seq.empty)
      val incoming = it.map(e =>
        OpenSession(e.ts.getTime, e.ts.getTime, 1L, e.value)).toSeq
      val open = coalesceSessions((existing ++ incoming).sortBy(_.start))
      // watermark known for this batch: everything ending before wm - gap is
      // final (fires both on timeout calls and on data calls)
      val wm = state.getCurrentWatermarkMs()
      val (closable, stillOpen) = open.partition(_.end + gapMs <= wm)
      if (stillOpen.isEmpty) state.remove()
      else {
        state.update(stillOpen)
        state.setTimeoutTimestamp(stillOpen.map(_.end).min + gapMs)
      }
      closable.map(close(userId, _)).iterator
    }
    typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
      .toDF()
  }

  /** Streaming EXACT dedup for ingestion pipelines: emit each key's first
    * arrival, drop later duplicates that arrive within the watermark delay
    * of the kept row. `dropDuplicatesWithinWatermark` bounds the dedup
    * state by event time (a plain streaming dropDuplicates would grow state
    * forever on an unbounded corpus) — the standard way to de-duplicate an
    * at-least-once ingest feed before it lands in the lake. Key on a
    * content fingerprint column (e.g. `TextFunctions.fingerprintMd5`) for
    * content-level dedup. */
  def dedupStream(df: DataFrame, keyCols: Seq[String],
                  watermarkCol: String, delay: String): DataFrame =
    df.withWatermark(watermarkCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Drive a streaming transform of `dir`'s parquet through a memory sink
    * synchronously; returns the materialized result table. Batch/stream
    * parity harness for tests. */
  def runToMemory(spark: SparkSession, source: DataFrame,
                  transform: DataFrame => DataFrame,
                  queryName: String,
                  outputMode: String = "complete"): DataFrame = {
    val q = transform(source)
      .writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(queryName)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Append-mode harness (flatMapGroupsWithState forbids complete mode). */
  def runToMemoryAppend(spark: SparkSession, source: DataFrame,
                        transform: DataFrame => DataFrame,
                        queryName: String): DataFrame =
    runToMemory(spark, source, transform, queryName, outputMode = "append")
}
