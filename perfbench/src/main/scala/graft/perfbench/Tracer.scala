package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span: one call the benchmark makes into a layer. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use. */
final case class SpanRec(id: Long, name: String, parent: Long, op: Long,
                         start: Double, end: Double)

/** One Spark job, tied to the span that was active when it was submitted
  * and to the program layer whose code submitted it. `site` is the short
  * call site of the job, or for an adaptive stage job that of its SQL
  * execution (`exec`, -1 when none). */
final case class JobRec(id: Int, span: Long, layer: String, aqe: Boolean,
                        site: String, exec: Long, start: Double, end: Double)

/** Task totals of one job. */
final case class TaskTotals(runMs: Long, gcMs: Long, shuffleBytes: Long,
                            spillBytes: Long)

/** In-memory span and job recorder for the traced run.
  *
  * Each span runs under the Spark job group `pb:<span id>`, which Spark
  * copies onto every job the span submits — including the adaptive
  * stage jobs it submits from its own threads, and the legs
  * `Graft.parLegs` forks. A listener files each job under that span and
  * under the layer of the innermost `graft` frame of its call site; a
  * job with no `graft` frame (an adaptive stage job, whose call site is
  * `CompletableFuture.java`) takes the layer of its SQL execution.
  * Nothing is written until the run ends. Until `enable()` the tracer
  * only runs the wrapped code. */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile private var on = false
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[(Long, Long)] { // (span, op)
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis().toDouble

  val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val jobStarts = new ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentHashMap[Int, TaskTotals]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val execSite = new ConcurrentHashMap[Long, String]()

  def enabled: Boolean = on

  def enable(): Unit = if (!on) { sc.addSparkListener(this); on = true }

  def now(): Double = msBase + (System.nanoTime() - nanoBase) / 1e6

  /** Id of the span open on this thread (0 when none, or untraced). */
  def currentSpan: Long = current.get()._1

  /** Runs `f` as a span named `name` under the current span. A span with
    * no parent starts a new operation. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val (parent, op0) = current.get()
      val id = ids.incrementAndGet()
      val op = if (parent == 0L) id else op0
      val oldGroup = sc.getLocalProperty("spark.jobGroup.id")
      val oldDesc = sc.getLocalProperty("spark.job.description")
      current.set((id, op))
      sc.setJobGroup(s"pb:$id", name)
      val start = now()
      try f
      finally {
        spans.add(SpanRec(id, name, parent, op, start, now()))
        if (oldGroup != null) sc.setJobGroup(oldGroup, oldDesc) else sc.clearJobGroup()
        current.set((parent, op0))
      }
    }

  /** Waits for every posted listener event, then returns the jobs seen
    * so far with their task totals. */
  def jobsAndTasks(): (Seq[JobRec], Map[Int, TaskTotals]) = {
    org.apache.spark.PerfbenchBus.drain(sc)
    (jobs.asScala.toVector, tasks.asScala.toMap)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      Tracer.layerOf(s.details).foreach(l => execLayer.put(s.executionId, l))
      execSite.put(s.executionId, Tracer.shortSite(s.details))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = js.properties
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val span = prop("spark.jobGroup.id").filter(_.startsWith("pb:"))
      .map(_.drop(3).toLong).getOrElse(0L)
    val result = js.stageInfos.maxBy(_.stageId)
    val own = Tracer.layerOf(result.details)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val layer = own.orElse(Option(execLayer.get(exec))).getOrElse("other")
    val site = if (own.isDefined) result.name
               else Option(execSite.get(exec)).getOrElse(result.name)
    js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    jobStarts.put(js.jobId,
      JobRec(js.jobId, span, layer, own.isEmpty, site, exec, js.time.toDouble, 0.0))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(je.jobId)).foreach(j => jobs.add(j.copy(end = je.time.toDouble)))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(te.taskMetrics).foreach { m =>
      val job = stageJob.getOrDefault(te.stageId, -1)
      val t = TaskTotals(m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      tasks.merge(job, t, (a, b) => TaskTotals(a.runMs + b.runMs,
        a.gcMs + b.gcMs, a.shuffleBytes + b.shuffleBytes, a.spillBytes + b.spillBytes))
    }
}

object Tracer {

  /** The program layer of a call site: the module of the innermost frame
    * in package `graft` (the benchmark's own frames excluded). A frame in
    * the benchmark itself means the benchmark's timed action; no `graft`
    * frame at all gives None. */
  def layerOf(callSite: String): Option[String] = {
    val frames = Option(callSite).toSeq.flatMap(_.split('\n')).map(_.trim)
    frames.find(f => f.startsWith("graft.")).map { f =>
      val cls = f.takeWhile(_ != '(')
      if (cls.startsWith("graft.perfbench.")) "spark.exec"
      else {
        // graft.<package>.Class.method, or graft.<Object>$.method
        val top = cls.split('.')(1)
        if (top.head.isLower) top else top.takeWhile(_ != '$')
      }
    }
  }

  /** Spark's short call site (`<method> at <File>:<line>`) rebuilt from a
    * long form: the Spark method on its first line, at the innermost
    * `graft` frame. A SQL execution's own description can be replaced by
    * the job description, so it cannot serve. */
  def shortSite(callSite: String): String = {
    val frames = Option(callSite).toSeq.flatMap(_.split('\n')).map(_.trim)
    val method = frames.headOption.map(_.takeWhile(_ != '(').split('.').last)
      .getOrElse("")
    val at = frames.find(_.startsWith("graft.")).map(f =>
      f.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')).getOrElse("")
    s"$method at $at"
  }

  /** Self time of every interval in one operation: at each instant the
    * time goes, in equal shares, to the deepest intervals open then — an
    * interval is deeper than its parent; jobs are children of the span
    * that submitted them. Returns (label, seconds) pairs per interval. */
  def selfTimes(intervals: Seq[(String, Int, Double, Double)]): Map[String, Double] = {
    // (label, depth, start, end)
    val cuts = intervals.flatMap(i => Seq(i._3, i._4)).distinct.sorted
    val acc = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val open = intervals.filter(i => i._3 <= a && i._4 >= b)
        if (open.nonEmpty) {
          val deepest = open.map(_._2).max
          val top = open.filter(_._2 == deepest)
          top.foreach(i => acc(i._1) += (b - a) / 1000.0 / top.size)
        }
      case _ =>
    }
    acc.toMap
  }

  /** Length in seconds of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curE.isNaN) total += curE - curS
    total / 1000.0
  }
}
