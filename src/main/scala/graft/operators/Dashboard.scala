package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.deltalog.DeltaLog
import graft.health.{DeltaAnalyzerMetrics, Thresholds}

/** E3 parity (SURVEY.md §3): the visualization pipeline's five tidy input
  * frames in one call — the engine delivers the DATA the reference's plotly
  * notebooks render (health_dashboard / skew_analysis / file_distribution /
  * delta_operations); rendering stays out of engine scope. */
object Dashboard {

  final case class Frames(
      metrics: DeltaAnalyzerMetrics,
      recommendations: DataFrame,       // H12
      partitionCountsTopN: DataFrame,   // skew bar: top-15 + Others
      fileSizeBins: DataFrame,          // 20-bin size histogram
      historyEnriched: DataFrame,       // ops timeline w/ filtered params
      perVersionFileDeltas: DataFrame)  // A17 bars

  def frames(spark: SparkSession, tablePath: String,
             thresholds: Thresholds = Thresholds()): Frames = {
    // ONE snapshot (one log replay) feeds both the analysis and the frames;
    // partition counts are the snapshot's log-derived counts: no data file
    // is opened
    val snap = DeltaLog.snapshot(spark, tablePath)
    // dashboard frames are display-sized (top-15, 20 bins, one row per
    // commit) — materialize them eagerly into local frames
    def eager(df: DataFrame): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    val m = HealthAnalyzer.analyzeSnapshot(snap, thresholds)
    import spark.implicits._
    // the skew bar keys the FULL log-derived counts, one row per partition
    // value tuple: the "Others" bucket sums the whole tail past the top-N
    // dict, and tuples whose `/`-joined keys collide keep their own rows
    val counts = (if (snap.partitionColumns.isEmpty) Seq.empty[(String, Long)]
      else SkewAnalyzer.keyed(snap.partitionCounts)).toDF("partition", "count")
    Frames(
      metrics = m,
      recommendations = HealthAnalyzer.recommendations(spark, m),
      partitionCountsTopN =
        eager(RollupOps.topNWithOthers(counts, "partition", "count", 15)),
      fileSizeBins = eager(StorageAnalyzer.sizeHistogram(snap.activeFiles)),
      historyEnriched = eager(HistoryAnalyzer.enriched(snap.history)),
      perVersionFileDeltas =
        eager(HistoryAnalyzer.perVersionFileDeltas(snap.history)))
  }
}
