package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Benchmark driver, started by `perfbench/run.py`.
  *
  * Modes:
  *   - `run`: one workload run; prints a record line, then the result
  *     line `{"correct", "attempted", "failed", "metrics"}` last;
  *   - `warm`: builds the warm artifact store that `ref_serial` loads;
  *   - `mint`: writes the golden fingerprints of every checked output,
  *     and the oracle SQL of the checked queries for the DuckDB
  *     cross-check.
  */
object Main {
  final case class Opts(mode: String, workload: String, seed: Long,
                        seconds: Double, trace: Boolean, fixture: String,
                        store: String, work: String, golden: String,
                        cores: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def get(k: String, d: String) = m.getOrElse(k, d)
    Opts(get("mode", "run"), get("workload", ""), get("seed", "1").toLong,
      get("seconds", "10").toDouble, get("trace", "0") == "1",
      get("fixture", ""), get("store", ""), get("work", ""), get("golden", ""),
      get("cores", Runtime.getRuntime.availableProcessors.toString).toInt)
  }

  /** The session every mode uses: `local[cores]`, the settings
    * `graft.Bench` uses, and private local and warehouse dirs. */
  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder().master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(o.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(o.work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    graft.Graft.clearCaches()
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try {
        o.mode match {
          case "run" => Runner.run(o).foreach(println)
          case "warm" => Runner.warm(o)
          case "mint" => Runner.mint(o)
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case t: Throwable =>
          System.err.println(s"[perfbench] ${o.mode} failed: $t")
          t.printStackTrace()
          1
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; end the JVM explicitly
    sys.exit(code)
  }
}

object Runner {
  import Main.Opts

  private def clock(): Double = System.nanoTime() / 1e9

  /** One timed phase: passes back to back until `seconds` have elapsed,
    * finishing the pass in progress. */
  private def phase(w: Workload, c: Ctx, seconds: Double, first: Int)
      : (Seq[Seq[OpResult]], Seq[Double]) = {
    val passes = ArrayBuffer.empty[Seq[OpResult]]
    val walls = ArrayBuffer.empty[Double]
    val t0 = clock()
    while (clock() - t0 < seconds) {
      val p0 = clock()
      passes += w.pass(c, first + passes.size)
      walls += clock() - p0
    }
    (passes.toSeq, walls.toSeq)
  }

  def run(o: Opts): Seq[String] = {
    val w = Workloads(o.workload, o.seed)
    val store = Paths.get(o.store)
    val golden = Golden.load(Paths.get(o.golden))
    val storeBefore = Store.committed(store)
    val sizeBefore = Store.size(store)
    // set-up runs from process start: JVM and Spark start, then the
    // workload's own set-up (artifact loads); a new process pays all of it
    val spark = Main.session(o)
    val c = new Ctx(spark, o.fixture, golden, new Tracer(spark.sparkContext),
      o.cores, store)
    val loadS = w.setup(c)
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val cachedMb = c.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

    val warmups = (1 to w.warmupPasses).map { i =>
      val t0 = clock()
      val r = w.pass(c, -i)
      (r, clock() - t0)
    }
    val warm = warmups.flatMap(_._1)
    val warmupS = warmups.head._2
    val (passes, walls) = phase(w, c, o.seconds, 1)
    val traced =
      if (!o.trace) None
      else {
        c.tracer.enable()
        val t0 = clock()
        val (tp, _) = phase(w, c, o.seconds, 1 + passes.size)
        Some((tp, clock() - t0))
      }
    val allOps = warm ++ passes.flatten ++ traced.toSeq.flatMap(_._1.flatten)
    val wrongEnd = w.verifyEnd(c)
    val failed = allOps.filterNot(_.ok)
    val wrong = allOps.filter(r => r.ok && !r.correct)

    val timed = passes.flatten
    // each operation's median over the timed passes, so one slow sample
    // cannot move the percentiles across operations
    val lat = timed.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.wallS))).toSeq
    // throughput of a typical pass: one slow pass cannot move a median
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(walls), "s"),
      ("ops_per_s", timed.size.toDouble / passes.size / Stats.median(walls), "1/s"),
      ("op_p50_s", Stats.percentile(lat, 50), "s"),
      ("op_p90_s", Stats.percentile(lat, 90), "s"))

    val storeAfter = Store.committed(store)
    val sizeAfter = Store.size(store)
    val storeMetrics = Layers.store(storeBefore, storeAfter, sizeBefore, sizeAfter,
      loadS)
    val metrics = traced match {
      case None => e2e
      case Some((tp, wall)) =>
        Layers.metrics(w, c, tp, wall, cachedMb, storeMetrics) ++ Seq(
          ("trace.overhead_frac",
            Stats.median(tp.flatten.map(_.wallS)) / Stats.median(timed.map(_.wallS)) - 1,
            "frac"),
          ("bench.warmup_s", warmupS, "s"),
          ("bench.failed_frac", failed.size.toDouble / allOps.size, "frac"),
          ("bench.wrong_results", (wrong.size + wrongEnd.size).toDouble, "count"))
    }

    val storeState =
      if (o.workload == "ingest_cold") "cold"
      else if (storeBefore.nonEmpty) "warm" else "none"
    val record = Json.obj(
      "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
      "trace" -> (if (o.trace) "1" else "0"), "cores" -> o.cores.toString,
      "heap_gb" -> (Runtime.getRuntime.maxMemory / 1e9).toString,
      "fixture" -> Json.str(Paths.get(o.fixture).getFileName.toString),
      "store" -> Json.str(storeState),
      "spark" -> Json.str(c.spark.version),
      "pass_walls_s" -> Json.arr(walls.map(_.toString)),
      "samples" -> timed.size.toString,
      "op_walls_s" -> Json.obj(timed.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (n, rs) => n -> Json.arr(rs.map(_.wallS.toString)) }: _*),
      "warmup_s" -> warmupS.toString,
      "warmup_ops_s" -> Json.obj(warm.map(r => r.name -> r.wallS.toString): _*),
      "cc_rounds" -> Json.arr(allOps.filter(_.rounds > 0).map(_.rounds.toString)),
      "failed_ops" -> Json.arr(failed.map(r => Json.str(s"${r.name}: ${r.error}"))),
      "wrong_ops" -> Json.arr((wrong.map(_.name) ++ wrongEnd).map(Json.str)))
    val result = Json.obj(
      "correct" -> (failed.isEmpty && wrong.isEmpty && wrongEnd.isEmpty).toString,
      "attempted" -> allOps.size.toString,
      "failed" -> failed.size.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) }: _*))
    Main.stop(c.spark)
    Seq(Json.obj("record" -> record), result)
  }

  /** Builds every artifact `ref_serial` reads, then runs each of its
    * queries once so any artifact a query builds on first use is
    * committed too. */
  def warm(o: Opts): Unit = {
    val spark = Main.session(o)
    val c = new Ctx(spark, o.fixture, new Golden(Map.empty),
      new Tracer(spark.sparkContext), o.cores, Paths.get(o.store))
    val w = Workloads("ref_serial", o.seed)
    w.setup(c)
    w.pass(c, -1).filterNot(_.ok).foreach(r =>
      throw new IllegalStateException(s"${r.name} failed: ${r.error}"))
    Main.stop(spark)
  }

  /** Mints the golden fingerprints: every checked query twice, in two
    * orders, and the ingest build twice into an emptied store; an output
    * whose two fingerprints differ is an error. */
  def mint(o: Opts): Unit = {
    val spark = Main.session(o)
    val c = new Ctx(spark, o.fixture, new Golden(Map.empty),
      new Tracer(spark.sparkContext), o.cores, Paths.get(o.store))
    Workloads.runTasks(c, Workloads.refTasks(spark, o.fixture))
    val queries = Workloads.refQueries
    def fps(order: Seq[String]): Map[String, Fingerprint] = order.map { q =>
      q -> Fingerprint.of(graft.SparkEntry.queries(q)(spark, o.fixture))
    }.toMap
    val a = fps(queries)
    val b = fps(queries.reverse)
    val unstable = queries.filter(q => a(q) != b(q))
    require(unstable.isEmpty, s"unstable query outputs: $unstable")

    // the store root is fixed for the JVM: rebuild the ingest part into
    // it, emptied, as ingest_cold does
    def build(): Map[String, Fingerprint] = {
      graft.Graft.clearCaches()
      Store.clear(c.store)
      val r = Workloads.runTasks(c, Workloads.ingestTasks(spark, o.fixture))
      r.filterNot(_.ok).foreach(x => throw new IllegalStateException(
        s"${x.name} failed: ${x.error}"))
      Store.fingerprints(spark, c.store)
    }
    val g1 = build()
    val g2 = build()
    val unstableArt = g1.keys.filter(k => !g2.get(k).contains(g1(k)))
    require(unstableArt.isEmpty, s"unstable artifacts: $unstableArt")
    Golden.write(Paths.get(o.golden),
      a.toSeq.map { case (q, fp) => ("query", q, fp) } ++
        g1.toSeq.map { case (g, fp) => ("artifact", g, fp) })
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
    Files.writeString(Paths.get(o.work, "oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (q, sql) =>
        val types = graft.SparkEntry.queries(q)(spark, o.fixture).schema.fields
          .map(f => Json.str(f.dataType.simpleString))
        q -> Json.obj("sql" -> Json.str(sql), "types" -> Json.arr(types.toSeq))
      }: _*))
    Main.stop(spark)
  }
}

/** Minimal JSON writer: values arrive already rendered. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case ch if ch < ' ' => sb.append(f"\\u${ch.toInt}%04x")
      case ch => sb.append(ch)
    }
    sb.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
