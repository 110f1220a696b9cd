package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation's outcome. Times are epoch milliseconds. */
final case class OpResult(name: String, span: Long, start: Double, end: Double,
                          ok: Boolean, correct: Boolean, error: String = "",
                          planS: Double = 0.0, rounds: Int = 0) {
  def wallS: Double = (end - start) / 1000.0
}

/** What a workload's passes run against. */
final class Ctx(val spark: SparkSession, val fixture: String,
                val golden: Golden, val tracer: Tracer, val cores: Int,
                val store: java.nio.file.Path)

/** A workload: a set-up, then passes. A pass is the unit the loop times:
  * every query once, or one artifact build and its clustering calls. */
trait Workload {
  def name: String
  /** Untimed passes before timing starts; the first is the cold one. */
  def warmupPasses: Int = 2
  /** Runs the set-up after the session exists; returns the seconds spent
    * loading the artifact store (0 when the workload loads none). */
  def setup(c: Ctx): Double
  def pass(c: Ctx, index: Int): Seq[OpResult]
  /** Names of outputs found wrong when the run ends. */
  def verifyEnd(c: Ctx): Seq[String] = Nil
}

object Workloads {
  type Task = (String, Seq[String], () => Unit)

  /** `ref_serial`: the reference surface, a fixed subset of the 62
    * queries in Relational, TimeSeriesQ, BacktestQ, CoverageQ and
    * ReplayQ. */
  val refQueries: Seq[String] = Seq(
    "s1_dim_scan", "j1_star_join", "g6_product", "u3_except", "t1_ffill",
    "f2_rebase", "a2_pivot_align", "f3_fx_convert", "t3_pair_trades",
    "r1_trade_report", "r2_brk_trades", "r4_replay_report")

  /** The part of the prewarm DAG `ingest_cold` builds: a manifest sink
    * with its `branchFrom` branch, and five plain artifacts. */
  val ingestNames: Seq[String] = Seq("vecCorpus", "prebuiltIvf",
    "streamedNgramDf", "takedownNgramDf", "docSignals", "corpusSigIndex",
    "ngramDfIndex")

  def ingestTasks(s: SparkSession, d: String): Seq[Task] = {
    val all = graft.queries.TextQ.prewarmTasks(s, d) ++
      graft.queries.VectorQ.prewarmTasks(s, d)
    val byName = all.map(t => t._1 -> t).toMap
    ingestNames.map(byName)
  }

  /** The two backtest folds `ref_serial` loads. */
  def refTasks(s: SparkSession, d: String): Seq[Task] = Seq(
    ("intradayFold", Nil, () => graft.queries.BacktestQ.prewarm(s, d)),
    ("replayFold", Nil, () => graft.queries.ReplayQ.prewarm(s)))

  /** Pool size `graft.Bench` gives the prewarm scheduler. */
  def poolSize(cores: Int): Int = math.min(8, math.max(3, cores / 4))

  def apply(name: String, seed: Long): Workload = name match {
    case "ref_serial" => new QueryWorkload(name, refQueries, refTasks, seed)
    case "ingest_cold" => new IngestWorkload(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Wraps prewarm tasks so each runs as a traced span and reports its
    * wall time and failure. */
  def tracedTasks(c: Ctx, tasks: Seq[Task],
                  out: ConcurrentLinkedQueue[OpResult]): Seq[Task] =
    tasks.map { case (n, deps, thunk) =>
      (n, deps, () => {
        val t0 = c.tracer.now()
        var span = 0L
        try {
          c.tracer.span(n) { span = c.tracer.currentSpan; thunk() }
          out.add(OpResult(n, span, t0, c.tracer.now(), ok = true, correct = true))
        } catch {
          case t: Throwable =>
            out.add(OpResult(n, span, t0, c.tracer.now(), ok = false,
              correct = false, error = t.toString))
            throw t
        }
      })
    }

  def runTasks(c: Ctx, tasks: Seq[Task]): Seq[OpResult] = {
    val out = new ConcurrentLinkedQueue[OpResult]()
    graft.Graft.warmAll(c.spark, tracedTasks(c, tasks, out), poolSize(c.cores))
    out.asScala.toVector
  }
}

/** One closed-loop client running named queries from
  * `SparkEntry.queries`, each pass in an order drawn from the seed. Every
  * query output is fingerprinted and compared with the minted
  * fingerprint. */
final class QueryWorkload(val name: String, queries: Seq[String],
                          tasks: (SparkSession, String) => Seq[Workloads.Task],
                          seed: Long) extends Workload {
  private val fns = {
    val all = graft.SparkEntry.queries
    queries.map(q => q -> all.getOrElse(q,
      throw new IllegalArgumentException(s"no query named $q"))).toMap
  }

  def order(index: Int): Seq[String] =
    new Random(seed * 1000003L + index).shuffle(queries)

  def setup(c: Ctx): Double = {
    val t0 = System.nanoTime()
    val res = Workloads.runTasks(c, tasks(c.spark, c.fixture))
    res.find(!_.ok).foreach(r => throw new IllegalStateException(
      s"set-up task ${r.name} failed: ${r.error}"))
    (System.nanoTime() - t0) / 1e9
  }

  def pass(c: Ctx, index: Int): Seq[OpResult] = order(index).map(runQuery(c, _))

  private def runQuery(c: Ctx, q: String): OpResult = {
    val t0 = c.tracer.now()
    var span = 0L
    try {
      val (fp, planS) = c.tracer.span(q) {
        span = c.tracer.currentSpan
        val df = c.tracer.span("queries.construct")(fns(q)(c.spark, c.fixture))
        val fp = c.tracer.span("spark.action")(Fingerprint.of(df))
        (fp, if (c.tracer.enabled) QueryWorkload.planSeconds(df) else 0.0)
      }
      OpResult(q, span, t0, c.tracer.now(), ok = true,
        correct = c.golden.check("query", q, fp), planS = planS)
    } catch {
      case t: Throwable =>
        OpResult(q, span, t0, c.tracer.now(), ok = false, correct = false,
          error = t.toString)
    }
  }
}

object QueryWorkload {
  /** Analysis, optimization and planning time of the query's own plan,
    * from Spark's `QueryPlanningTracker`. */
  def planSeconds(df: DataFrame): Double =
    df.queryExecution.tracker.phases
      .collect { case (p, s) if Set("analysis", "optimization", "planning")(p) =>
        s.durationMs }
      .sum / 1000.0
}

/** One pass builds `Workloads.ingestNames` into an emptied private
  * artifact store with `Graft.warmAll`, on the pool size `graft.Bench`
  * uses, then clusters two seeded near-duplicate graphs with
  * `Dedup.duplicateClusters` on its distributed loop. Each builder and
  * each clustering call is one operation. */
final class IngestWorkload(seed: Long) extends Workload {
  val name = "ingest_cold"
  val cc = new CcCalls(seed, graphs = 2)

  def setup(c: Ctx): Double = { Store.clear(c.store); 0.0 }

  def pass(c: Ctx, index: Int): Seq[OpResult] = {
    graft.Graft.clearCaches()
    Store.clear(c.store)
    val res = Workloads.runTasks(c, Workloads.ingestTasks(c.spark, c.fixture))
    val groups = Store.committed(c.store).map(_._1).toSet
    val expected = c.golden.names("artifact")
    require(expected.nonEmpty, "no artifact fingerprints in the golden file")
    res.map(r => r.copy(correct = r.ok && expected.subsetOf(groups))) ++
      cc.pass(c, index)
  }

  override def verifyEnd(c: Ctx): Seq[String] = {
    val got = Store.fingerprints(c.spark, c.store)
    c.golden.names("artifact").toSeq.sorted.filterNot { g =>
      got.get(g).exists(fp => c.golden.check("artifact", g, fp))
    }
  }
}

/** Connected components through the distributed min-label loop
  * (`smallGraphMax = 0`) on seeded graphs that each need the same
  * number of rounds; each result is checked against a union-find.
  * `pass` runs every graph once, in a seeded order. */
final class CcCalls(seed: Long, graphs: Int) {
  val Nodes = 60
  val Edges = 45
  val Rounds = 5

  val inputs: Seq[Seq[CcGraphs.Edge]] =
    CcGraphs.graphs(seed, graphs, Nodes, Edges, Rounds)
  private val expected = inputs.map(CcGraphs.unionFind)
  private val rounds = inputs.map(CcGraphs.loopRounds)

  def pass(c: Ctx, index: Int): Seq[OpResult] =
    new Random(seed * 1000003L + index).shuffle(inputs.indices.toVector)
      .map(call(c, _))

  private def call(c: Ctx, g: Int): OpResult = {
    val spark = c.spark
    import spark.implicits._
    val t0 = c.tracer.now()
    var span = 0L
    try {
      val got = c.tracer.span("cc") {
        span = c.tracer.currentSpan
        graft.ext.Dedup.duplicateClusters(inputs(g).toDF("id1", "id2"),
          smallGraphMax = 0L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      OpResult(s"cc.graph$g", span, t0, c.tracer.now(), ok = true,
        correct = got == expected(g), rounds = rounds(g))
    } catch {
      case t: Throwable =>
        OpResult(s"cc.graph$g", span, t0, c.tracer.now(), ok = false,
          correct = false, error = t.toString, rounds = rounds(g))
    }
  }
}
