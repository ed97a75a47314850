package graft

import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Shared local session for all suites (one per JVM, reused via
  * getOrCreate). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4,2] = task-failure tolerance 2, so RetryDeterminismSpec can
      // inject a REAL task failure and assert the retried output is
      // byte-identical (the plain local master fails the whole job on the
      // first task failure — production clusters never do). Suites that
      // assert exceptions still see them: the job still fails after the
      // retries, it just takes one extra attempt.
      .master("local[4,2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** `body`'s result, `listener` registered while it runs and drained. */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
  }

  /** The Spark jobs `body` starts, by job description. */
  def jobsOf[T](body: => T): (T, Seq[String]) = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val r = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    })(body)
    (r, started.asScala.toSeq)
  }

  /** The sum of `metric` over the tasks `body` starts. */
  def taskSumOf[T](metric: TaskMetrics => Long)(body: => T): (T, Long) = {
    val sum = new java.util.concurrent.atomic.AtomicLong
    val r = listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => sum.addAndGet(metric(m)))
    })(body)
    (r, sum.get())
  }

  /** The input records the tasks `body` starts read. */
  def rowsReadOf[T](body: => T): (T, Long) = taskSumOf(_.inputMetrics.recordsRead)(body)

  /** The shuffle bytes the tasks `body` starts write. */
  def shuffleBytesOf[T](body: => T): (T, Long) = taskSumOf(_.shuffleWriteMetrics.bytesWritten)(body)

  /** The executed plans of the queries `body` runs. */
  def executedPlansOf[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      (r, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** A copy of the table whose every `add.stats` (JSON commits and
    * checkpoint) is rewritten to `""`, as legacy writers left it: its
    * counts can only come from parquet footers. */
  def copyWithoutStats(path: String): String = {
    val dest = tmpDir("nostats")
    val src = java.nio.file.Paths.get(path)
    val files = java.nio.file.Files.walk(src)
    try files.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc")).foreach { f =>
        val to = java.nio.file.Paths.get(dest).resolve(src.relativize(f))
        java.nio.file.Files.createDirectories(to.getParent)
        val name = f.getFileName.toString
        if (name.endsWith(".json")) {
          val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
          java.nio.file.Files.write(to,
            text.replaceAll("\"stats\":\"(?:[^\"\\\\]|\\\\.)*\"", "\"stats\":\"\"").getBytes("UTF-8"))
        } else if (name.endsWith(".checkpoint.parquet")) {
          val tmp = tmpDir("ckpt_nostats")
          spark.read.parquet(f.toString)
            .withColumn("add", when(col("add").isNotNull, col("add").withField("stats", lit(""))))
            .coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
          java.nio.file.Files.copy(part.toPath, to)
        } else java.nio.file.Files.copy(f, to)
      }
    finally files.close()
    val log = new java.io.File(dest, "_delta_log").listFiles().toSeq
    val stillCounted = log.filter(_.getName.endsWith(".json")).exists { f =>
      val src = scala.io.Source.fromFile(f)
      try src.mkString.contains("numRecords") finally src.close()
    }
    assert(!stillCounted, "the copy's JSON commits must carry no numRecords")
    dest
  }

  def sf(path: String = "sf0.001"): String = s"/root/testdata/$path"

  def table(name: String, dir: String = sf()): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
