package graft.demo

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Generic JOB+stage wall attribution for any contract/bench entry — the
  * NN-descent job attribution of OPTIMIZATION_r19.md's baseline,
  * generalized (r19): one warm-up run, one measured run, every job's wall + gap-to-previous and each ≥0.2 s job's stages
  * (duration, executor run time, task count, callsite). Tells per-action
  * fixed overhead from compute, and names which stage to attack.
  *
  * Usage: runMain graft.demo.QueryJobProbe [sfDir] <entry> [entry ...]
  */
object QueryJobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: QueryJobProbe <sfDir> <entry> [entry ...]")
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchQueries
    names.foreach(n => require(all.contains(n), s"unknown entry $n"))
    val spark = graft.GraftSession.localBuilder(
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "query-job-probe")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
    val stageInfo = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.put(js.jobId, (js.time, -1L))
        jobStages.put(js.jobId, js.stageIds)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val p = jobs.get(je.jobId)
        if (p != null) jobs.put(je.jobId, (p._1, je.time))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val dur = (for {s <- si.submissionTime; c <- si.completionTime}
          yield c - s).getOrElse(-1L)
        stageInfo.put(si.stageId,
          f"dur=${dur / 1000.0}%5.2f run=${m.executorRunTime / 1000.0}%5.2f " +
            f"tasks=${si.numTasks}%3d wr=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%6.1fMB " +
            f"rows=${m.shuffleWriteMetrics.recordsWritten}%9d ${si.name.takeWhile(_ != '\n').take(55)}")
      }
    })
    names.foreach { name =>
      val fn = all(name)
      fn(spark, sfDir).count() // warm
      graft.operators.Dedup.unpersistAll()
      Thread.sleep(500)
      jobs.clear(); jobStages.clear(); stageInfo.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.operators.Dedup.unpersistAll()
      Thread.sleep(1200)
      import scala.jdk.CollectionConverters._
      val allJ = jobs.asScala.toSeq.sortBy(_._1)
      println(f"== $name warm: rows=$n wall=$wall%.2f s jobs=${allJ.size} ==")
      var prevEnd = -1L
      allJ.foreach { case (id, (s, t)) =>
        val gap = if (prevEnd < 0) 0L else s - prevEnd
        println(f"job $id%4d  wall=${(t - s) / 1000.0}%6.2f s  gap_before=${gap / 1000.0}%6.2f s")
        if (t - s >= 200)
          jobStages.getOrDefault(id, Seq.empty).sorted.foreach { sid =>
            val si = stageInfo.get(sid)
            if (si != null) println(f"      stage $sid%4d  $si")
          }
        prevEnd = t
      }
      val jobWall = allJ.map { case (_, (s, t)) => math.max(0L, t - s) }.sum / 1000.0
      println(f"sum(job walls)=$jobWall%.2f s of $wall%.2f s")
    }
    spark.stop()
  }
}
