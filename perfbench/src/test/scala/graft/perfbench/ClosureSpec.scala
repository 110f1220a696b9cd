package graft.perfbench

import java.nio.file.Paths
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A traced smoke run on the benchmark's fixture: every job the listener
  * saw during the run belongs to exactly one operation, the per-layer
  * self times of each operation add up to its wall time within 5%, and
  * the outputs match the minted fingerprints. */
class ClosureSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val fixture = Paths.get("fixture", "sf0.01").toAbsolutePath.toString
  private val golden = Golden.load(Paths.get("golden", "sf0.01.tsv"))

  private def ctx(): Ctx = {
    val c = new Ctx(spark, fixture, golden, new Tracer(spark.sparkContext), 2,
      Paths.get("target", "test-store"))
    c.tracer.enable()
    c
  }

  private def checkClosure(c: Ctx, ops: Seq[OpResult]): Seq[Layers.OpTrace] = {
    val (jobs, _) = c.tracer.jobsAndTasks()
    val spans = c.tracer.spans.asScala.toVector
    val ts = Layers.traces(ops, spans, jobs)
    assert(ts.size == ops.size)
    // job attribution closes: each job in the run is one operation's
    val lo = ops.map(_.start).min
    val hi = ops.map(_.end).max
    val attributed = ts.flatMap(_.jobs)
    assert(attributed.map(_.id).distinct.size == attributed.size)
    val ids = attributed.map(_.id).toSet
    val during = jobs.filter(j => j.start < hi && j.end > lo)
    assert(during.forall(j => ids(j.id)),
      "jobs with no operation: " + during.filterNot(j => ids(j.id)))
    ts.foreach { t =>
      val byLayer = t.jobs.groupBy(_.layer).values.map(_.size).sum
      assert(byLayer == t.jobs.size)
      assert(t.closureErr <= 0.05, s"${t.op.name}: self times ${t.self} vs wall ${t.op.wallS}")
    }
    ts
  }

  test("query operations: jobs and self times close; outputs match") {
    val c = ctx()
    val w = new QueryWorkload("smoke", Seq("s1_dim_scan", "j1_star_join",
      "g6_product", "t1_ffill", "u3_except"), (_, _) => Nil, 1L)
    w.setup(c)
    val ops = w.pass(c, 0)
    assert(ops.forall(o => o.ok && o.correct), ops)
    val ts = checkClosure(c, ops)
    // schema inference of every table read is a Tables-layer job
    assert(ts.exists(_.jobs.exists(_.layer == "Tables")))
    assert(ts.forall(_.jobs.exists(_.layer == "spark.exec")))
  }

  test("connected components: rounds seen by the tracer match the replay") {
    val c = ctx()
    val w = new CcCalls(7L, graphs = 4)
    val ops = w.pass(c, 0)
    assert(ops.size == 4 && ops.forall(o => o.ok && o.correct), ops)
    val ts = checkClosure(c, ops)
    assert(ts.forall(t => Layers.roundEnds(t).size == w.Rounds))
    assert(w.inputs.forall(g => CcGraphs.loopRounds(g) == w.Rounds))
  }
}
