package graft.healthbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var recordsRead, bytesRead, bytesWritten = 0L
  var shuffleBytes, spillBytes, gcMs = 0L
}

/** Counts jobs, stages, tasks, input, output, shuffle, spill and GC per job
  * group. Each span runs under its own job group, so the counts land on the
  * span whose call started the job. */
final class SpanListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        counters(g).jobs += 1
        e.stageIds.foreach(stageGroup.put(_, g))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach(counters(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (g <- Option(stageGroup.get(e.stageId)); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.recordsRead += m.inputMetrics.recordsRead
      c.bytesRead += m.inputMetrics.bytesRead
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
    }
}

/** Jobs and input rows over the whole session, for the work metrics. */
final class WorkCounter extends SparkListener {
  val jobs, rows = new java.util.concurrent.atomic.AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach(m => rows.addAndGet(m.inputMetrics.recordsRead))
}

/** One timed call into a layer. */
final case class Span(name: String, id: Int, parent: Int, startNs: Long,
                      endNs: Long, counters: Counters) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory around the benchmark's calls into the engine's
  * public functions; nothing is written until [[finish]]. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val listener = new SpanListener
  private val open = mutable.Stack[(Int, String)]()
  private val done = mutable.ArrayBuffer[(String, Int, Int, Long, Long)]()
  private var nextId = 0
  sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val group = s"$name#$id"
    open.push(id -> group)
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.pop()
      open.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, g)
        case None => sc.clearJobGroup()
      }
      done += ((name, id, parent, t0, t1))
    }
  }

  /** Waits for the listener bus, detaches the listener and returns every
    * span with its counters. */
  def finish(): Seq[Span] = {
    ListenerBusDrain(sc)
    sc.removeSparkListener(listener)
    done.toSeq.sortBy(_._2).map { case (n, id, p, t0, t1) =>
      Span(n, id, p, t0, t1, listener.counters(s"$n#$id"))
    }
  }

  /** Self time: a span's duration minus the time its children cover. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  def toJson(spans: Seq[Span]): String = {
    val self = selfSeconds(spans)
    val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
    spans.map { s =>
      val c = s.counters
      s"""{"name":"${s.name}","id":${s.id},"parent":${s.parent},""" +
        s""""start_s":${(s.startNs - t0) / 1e9},"dur_s":${s.seconds},""" +
        s""""self_s":${self(s.id)},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"records_read":${c.recordsRead},""" +
        s""""bytes_read":${c.bytesRead},"bytes_written":${c.bytesWritten},""" +
        s""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes},""" +
        s""""gc_ms":${c.gcMs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
