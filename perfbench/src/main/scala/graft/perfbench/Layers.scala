package graft.perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced phase, from the tracer's spans and jobs.
  * Counts and times are per pass unless the name says otherwise. */
object Layers {
  type Metric = (String, Double, String)

  /** Modules whose jobs are counted and timed by call site. */
  val jobLayers: Seq[String] =
    Seq("Tables", "ext", "ops", "backtest", "streaming", "ArtifactStore")

  /** One operation's decomposition. `self` maps a label to the seconds
    * that label alone was doing: span labels, and `job:<layer>` for
    * job time. */
  final case class OpTrace(op: OpResult, spans: Seq[SpanRec], jobs: Seq[JobRec],
                           self: Map[String, Double], gapS: Double) {
    def closureErr: Double = math.abs(self.values.sum - op.wallS) / op.wallS
  }

  /** The layer an operation's own span belongs to: the prewarm scheduler
    * for a builder, `ext` for a connected-components call, the benchmark
    * for a query. */
  def rootLabel(op: OpResult): String =
    if (Workloads.ingestNames.contains(op.name)) "Graft"
    else if (op.rounds > 0) "ext"
    else "bench"

  private def spanLabel(s: SpanRec, root: String): String = s.name match {
    case _ if s.parent == 0L => root
    case "queries.construct" => "queries"
    case "spark.action" => "spark.driver"
    case other => other
  }

  /** Splits each traced operation into the self times of its spans and
    * jobs, and the driver gap its jobs leave uncovered. */
  def traces(ops: Seq[OpResult], spans: Seq[SpanRec],
             jobs: Seq[JobRec]): Seq[OpTrace] = {
    val byOp = spans.groupBy(_.op)
    val jobsBySpan = jobs.groupBy(_.span)
    ops.filter(_.span != 0L).map { op =>
      val ss = byOp.getOrElse(op.span, Nil)
      val byId = ss.map(s => s.id -> s).toMap
      def depth(s: SpanRec): Int =
        if (s.parent == 0L || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
      val root = byId(op.span)
      val (lo, hi) = (root.start, root.end)
      val js = ss.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))
      val iv = ss.map(s => (spanLabel(s, rootLabel(op)), depth(s), s.start, s.end)) ++
        js.map(j => (s"job:${j.layer}", depth(byId(j.span)) + 1,
          math.max(j.start, lo), math.min(j.end, hi)))
      val wall = (hi - lo) / 1000.0
      OpTrace(op.copy(start = lo, end = hi), ss, js, Tracer.selfTimes(iv),
        wall - Tracer.covered(js.map(j => (j.start, j.end)), lo, hi))
    }
  }

  def store(before: Seq[(String, Path, Long)], after: Seq[(String, Path, Long)],
            sizeBefore: (Long, Long), sizeAfter: (Long, Long),
            loadS: Double): Seq[Metric] = {
    val was = before.map(g => g._2 -> g._3).toMap
    val hits = after.count(g => was.get(g._2).contains(g._3))
    val files = math.max(0L, sizeAfter._1 - sizeBefore._1)
    val bytes = math.max(0L, sizeAfter._2 - sizeBefore._2)
    Seq(
      ("ArtifactStore.load_s", loadS, "s"),
      ("ArtifactStore.hits", hits.toDouble, "count"),
      ("ArtifactStore.misses", (after.size - hits).toDouble, "count"),
      ("ArtifactStore.mb_written", bytes / 1e6, "MB"),
      ("ArtifactStore.files_written", files.toDouble, "count"),
      ("ArtifactStore.mean_file_kb", if (files == 0) 0.0 else bytes / 1e3 / files, "kB"),
      ("ArtifactStore.store_mb", sizeAfter._2 / 1e6, "MB"))
  }

  def metrics(w: Workload, c: Ctx, passes: Seq[Seq[OpResult]], phaseWall: Double,
              cachedMb: Double, storeMetrics: Seq[Metric]): Seq[Metric] = {
    val (jobs, tasks) = c.tracer.jobsAndTasks()
    val spans = c.tracer.spans.asScala.toVector
    val ts = traces(passes.flatten, spans, jobs)
    val n = passes.size.toDouble
    val allJobs = ts.flatMap(_.jobs)
    def perPass(x: Double) = x / n
    def jobsOf(layer: String) = allJobs.filter(j => j.layer == layer && !j.aqe)
    def selfOf(label: String) = ts.map(_.self.getOrElse(label, 0.0)).sum
    val taskOf = allJobs.flatMap(j => tasks.get(j.id))
    val taskS = taskOf.map(_.runMs).sum / 1000.0
    val constructSpans = ts.flatMap(_.spans).filter(_.name == "queries.construct")
    val constructIds = constructSpans.map(_.id).toSet

    val byModule = jobLayers.flatMap { l =>
      Seq((s"$l.jobs", perPass(allJobs.count(_.layer == l).toDouble), "count"),
        (s"$l.job_s", perPass(selfOf(s"job:$l")), "s"))
    }
    val spark = Seq(
      ("spark.jobs", perPass(allJobs.size.toDouble), "count"),
      ("spark.exec_jobs", perPass(jobsOf("spark.exec").size.toDouble), "count"),
      ("spark.aqe_stage_jobs", perPass(allJobs.count(_.aqe).toDouble), "count"),
      ("spark.plan_s", perPass(ts.map(_.op.planS).sum), "s"),
      ("spark.driver_gap_s", perPass(ts.map(_.gapS).sum), "s"),
      ("spark.task_s", perPass(taskS), "s"),
      ("spark.gc_s", perPass(taskOf.map(_.gcMs).sum / 1000.0), "s"),
      ("spark.shuffle_mb", perPass(taskOf.map(_.shuffleBytes).sum / 1e6), "MB"),
      ("spark.spill_mb", perPass(taskOf.map(_.spillBytes).sum / 1e6), "MB"),
      ("spark.busy_frac", taskS / (phaseWall * c.cores), "frac"),
      ("spark.cached_mb", cachedMb, "MB"))
    val queries = Seq(
      ("queries.construct_s", perPass(constructSpans.map(s => s.end - s.start).sum / 1000.0), "s"),
      ("queries.construct_jobs",
        perPass(allJobs.count(j => constructIds(j.span)).toDouble), "count"))
    val graftM = w match {
      case _: IngestWorkload => graft(passes, ts, tasks, c)
      case _ => ("Graft.busy_frac", 0.0, "frac") +: ("Graft.critical_path_s", 0.0, "s") +:
        Workloads.ingestNames.map(b => (s"Graft.build_s.$b", 0.0, "s"))
    }
    val cc = ccLoop(ts.filter(_.op.rounds > 0))
    byModule ++ spark ++ queries ++ storeMetrics ++ graftM ++ cc ++ Seq(
      ("trace.closure_err", if (ts.isEmpty) 0.0 else ts.map(_.closureErr).max, "frac"))
  }

  /** The prewarm scheduler's view of each build: busy share of the cores,
    * the longest chain of dependent builders, and each builder's wall. */
  private def graft(all: Seq[Seq[OpResult]], ts: Seq[OpTrace],
                    tasks: Map[Int, TaskTotals], c: Ctx): Seq[Metric] = {
    val deps = Workloads.ingestTasks(c.spark, c.fixture).map(t => t._1 -> t._2).toMap
    val bySpan = ts.map(t => t.op.span -> t).toMap
    val passes = all.map(_.filter(o => Workloads.ingestNames.contains(o.name)))
    val busy = passes.map { p =>
      val wall = (p.map(_.end).max - p.map(_.start).min) / 1000.0
      val run = p.flatMap(o => bySpan.get(o.span)).flatMap(_.jobs)
        .flatMap(j => tasks.get(j.id)).map(_.runMs).sum / 1000.0
      run / (wall * c.cores)
    }
    val crit = passes.map { p =>
      val wall = p.map(o => o.name -> o.wallS).toMap
      val memo = scala.collection.mutable.Map.empty[String, Double]
      def path(b: String): Double = memo.getOrElseUpdate(b,
        wall.getOrElse(b, 0.0) + deps.getOrElse(b, Nil).map(path).maxOption.getOrElse(0.0))
      Workloads.ingestNames.map(path).max
    }
    Seq(("Graft.busy_frac", Stats.median(busy), "frac"),
      ("Graft.critical_path_s", Stats.median(crit), "s")) ++
      Workloads.ingestNames.map { b =>
        (s"Graft.build_s.$b", Stats.median(passes.flatten.filter(_.name == b).map(_.wallS)), "s")
      }
  }

  /** End times of the loop's rounds in one call. A round ends with the
    * loop's convergence check, the SQL execution whose call site is
    * `first at Dedup.scala`. */
  def roundEnds(t: OpTrace): Seq[Double] =
    t.jobs.filter(_.site.startsWith("first at Dedup.scala")).groupBy(_.exec)
      .values.map(_.map(_.end).max).toSeq.sorted

  /** Rounds, jobs and driver gaps of each loop call. */
  private def ccLoop(ts: Seq[OpTrace]): Seq[Metric] = {
    val per = ts.map { t =>
      val rounds = roundEnds(t)
      val last =
        if (rounds.size < 2) 0.0
        else {
          val (lo, hi) = (rounds(rounds.size - 2), rounds.last)
          (hi - lo) / 1000.0 - Tracer.covered(t.jobs.map(j => (j.start, j.end)), lo, hi)
        }
      (rounds.size.toDouble, t.jobs.size.toDouble, t.gapS, last)
    }
    def mean(f: ((Double, Double, Double, Double)) => Double) =
      if (per.isEmpty) 0.0 else per.map(f).sum / per.size
    Seq(("cc.rounds", mean(_._1), "count"), ("cc.jobs", mean(_._2), "count"),
      ("cc.driver_gap_s", mean(_._3), "s"), ("cc.last_round_gap_s", mean(_._4), "s"))
  }
}
