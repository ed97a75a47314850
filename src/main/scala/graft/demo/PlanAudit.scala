package graft.demo

import org.apache.spark.sql.SparkSession

/** Prints formatted physical plans of the core queries for scale review:
  * check PushedFilters / ReadSchema pruning, broadcast joins, and
  * WholeStageCodegen spans. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val targets = args.headOption.map(_.split(",").toSeq).getOrElse(
      Seq("q1_agg", "join_revenue_by_nation", "anti_join_orphans",
        "skewness_metrics", "delta_scan"))
    targets.foreach {
      case "delta_scan" =>
        // the replayed Delta data scan: ONE parquet scan over the manifest's
        // file index (`__file` and the partition columns as partition
        // columns) — the plan must show no join and no directory listing
        println(s"########## delta_scan (DeltaSnapshot.data)")
        val path = java.nio.file.Files.createTempDirectory("graft_planaudit").toString
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_returnflag")
        graft.deltalog.DeltaFixtureWriter.write(li, path, "overwrite", Seq("l_returnflag"))
        graft.deltalog.DeltaFixtureWriter.delete(spark, path, "l_quantity > 45")
        val snap = graft.deltalog.DeltaLog.snapshot(spark, path)
        snap.data.explain("formatted")
        graft.deltalog.DeltaFixtureWriter.drop(path)
      case "optimize" =>
        // the OPTIMIZE rewrite: the chosen files, packed into bins on the
        // driver, read one bin per task by a file scan (Scan ExistingRDD)
        // — the plan must show no Exchange
        println(s"########## optimize (Maintenance.optimizeRewrite)")
        val path = java.nio.file.Files.createTempDirectory("graft_planaudit_opt").toString
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_returnflag")
        graft.deltalog.DeltaFixtureWriter.write(li, path, "overwrite", Seq("l_returnflag"))
        graft.deltalog.DeltaFixtureWriter.write(li.limit(500), path, "append", Seq("l_returnflag"))
        val snap = graft.deltalog.DeltaLog.snapshot(spark, path)
        graft.operators.Maintenance.optimizeRewrite(snap, 128L * 1024 * 1024, 64L * 1024 * 1024)
          .foreach(_._1.explain("formatted"))
        graft.deltalog.DeltaFixtureWriter.drop(path)
      case "write" =>
        // an append laid out by a hash on the partition columns: the static
        // plan the writer runs as one job, an Exchange hashpartitioning on
        // l_returnflag under the writer's sort — no AdaptiveSparkPlan
        println(s"########## write (WriteFiles.staticPlan of a layout append)")
        import org.apache.spark.sql.functions.col
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_returnflag")
        println(graft.deltalog.WriteFiles.staticPlan(li.repartition(col("l_returnflag")), Seq("l_returnflag")).get)
      case "changes" =>
        // the CDF plan: one scan of the window's files + join to the
        // window's signed actions on `__file` + ONE hash aggregate — no
        // per-version driver loop, no exceptAll cascade
        println(s"########## changes (DeltaLog.changes row-level CDF)")
        val path = java.nio.file.Files.createTempDirectory("graft_planaudit_cdf").toString
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
          .select("l_orderkey", "l_quantity", "l_returnflag")
        graft.deltalog.DeltaFixtureWriter.write(li, path, "overwrite", Seq("l_returnflag"))
        graft.deltalog.DeltaFixtureWriter.write(li.limit(500), path, "append", Seq("l_returnflag"))
        graft.deltalog.DeltaFixtureWriter.delete(spark, path, "l_quantity > 45")
        graft.deltalog.DeltaLog.changes(spark, path, 0, 2).explain("formatted")
        graft.deltalog.DeltaFixtureWriter.drop(path)
      case "zorder" =>
        // the clustered-rewrite shuffle: RangePartitioning on the z column
        // (distributed boundary sampling), Morton interleave as a constant-
        // shift expression inside the project — no global single-task sort
        println(s"########## zorder (Maintenance z-value + range shuffle)")
        import org.apache.spark.sql.functions.col
        val grid = spark.range(0, 4096).select(
          (col("id") / 64).cast("long").as("x"),
          (col("id") % 64).cast("long").as("y"))
        val z = graft.operators.Maintenance.zValue(Seq(
          graft.operators.Maintenance.bucket16(col("x"), 0, 63),
          graft.operators.Maintenance.bucket16(col("y"), 0, 63)))
        grid.withColumn("__z", z)
          .repartitionByRange(16, col("__z"))
          .sortWithinPartitions(col("__z"))
          .explain("formatted")
      case name =>
        println(s"########## $name")
        graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
