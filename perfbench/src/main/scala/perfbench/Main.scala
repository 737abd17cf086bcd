package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.analytics.FactorQueries
import graft.factors.{Alpha101, EmaFamily, Momentum, Technical, Value}
import graft.sources.Quotes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** The benchmark client. Runs one workload against the program's public
  * entry points on a `local[cores]` session from one client thread and
  * writes what it measured to `<work>/result.json` (spans, when traced,
  * to `<work>/spans.jsonl`). `run.py` builds, generates the inputs,
  * starts this, checks the outputs and prints the metrics.
  *
  * Arguments: --workload interactive|factor_build --data DIR --work DIR
  * --seconds S --seed N --trace 0|1 --cores N. */
object Main {

  /** The research console's sub-2 s tier (the order is seed-shuffled).
    * Entries that read factor marts are checked after factor_build
    * instead: a mart costs a six-mart build in the run's set-up. */
  val interactiveMix: Seq[String] = Seq(
    "q01_pricing_summary", "q05_join_wide", "q48_similarity_search",
    "q49_kline_replay", "q55_peers_snapshot", "q94_sector_equity",
    "q100_sector_leaderboard", "q162_quant_sql")

  /** Entries that read the six factor marts, checked after a build. */
  val martEntries: Seq[String] = Seq(
    "q90_alpha_all", "q40_factor_trend", "q41_factor_osc", "q42_factor_risk",
    "q43_factor_ema", "q44_factor_momentum", "q45_factor_value",
    "q61_sentiment_factors")

  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (data, work) = (a("data"), a("work"))
    val tracer = new Tracer(a("trace") == "1")
    out("load1_start") = load1
    tracer.span("jvm") {
      val spark = tracer.span("setup.session") {
        graft.LocalSession.builder(a("cores"))
          .config("spark.local.dir", s"$work/spark-local").getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      val counters = Option.when(tracer.enabled) {
        val c = new SparkCounters
        spark.sparkContext.addSparkListener(c)
        spark.listenerManager.register(c)
        c
      }
      val run = a("workload") match {
        case "interactive" => new Interactive(spark, data, work, a("seed").toLong, tracer)
        case "factor_build" => new FactorBuild(spark, data, work, tracer)
      }
      run.setup()
      val window = timedLoop(a("seconds").toDouble, run)
      run.check()
      counters.foreach { c =>
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        layers ++= c.summary(window._1, window._2, window._3)
        run.traced()
        probe(spark, data, tracer)
      }
      spark.stop()
    }
    out("load1_end") = load1
    out("vmhwm_mb") = vmHwmMb
    out("heap_max_mb") = Runtime.getRuntime.maxMemory / 1048576.0
    out("jdk") = System.getProperty("java.version")
    if (tracer.enabled) {
      out("layers") = layers.toMap
      Files.write(Paths.get(s"$work/spans.jsonl"), tracer.all.map(s => json.writeValueAsString(
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n").getBytes)
    }
    json.writeValue(new java.io.File(s"$work/result.json"), out)
  }

  /** A workload: untimed set-up, the timed operation, trace-only probes
    * and the output capture that run.py checks. */
  trait Workload {
    /** Operation names for one cycle; the loop runs whole cycles. */
    def cycle: Seq[String]
    def minOps: Int
    def setup(): Unit
    def op(name: String): Unit
    /** Layer values only this workload has, in traced runs. */
    def traced(): Unit
    def check(): Unit
  }

  /** Runs whole cycles until `seconds` have passed and at least
    * `minOps` operations ran. Each op is recorded as (name, seconds,
    * succeeded, cycle), and each cycle's steal ticks (CPU time the
    * hypervisor took from the machine) beside them. Returns the window
    * in epoch ms and the number of operations. */
  private def timedLoop(seconds: Double, w: Workload): (Long, Long, Int) = {
    val ops = mutable.ArrayBuffer.empty[Seq[Any]]
    var failed = 0
    val cpu0 = cpuSeconds
    val ms0 = System.currentTimeMillis()
    out("first_op_epoch_ms") = ms0
    val t0 = System.nanoTime()
    var cycles = 0
    val steal = mutable.ArrayBuffer.empty[Long]
    while ((System.nanoTime() - t0) / 1e9 < seconds || ops.size < w.minOps) {
      val steal0 = stealTicks
      w.cycle.foreach { name =>
        val t = System.nanoTime()
        val ok = try { w.op(name); true }
        catch { case e: Exception =>
          System.err.println(s"op $name failed: $e"); failed += 1; false }
        ops += Seq(name, (System.nanoTime() - t) / 1e9, ok, cycles)
      }
      steal += stealTicks - steal0
      cycles += 1
    }
    out("cycle_steal_ticks") = steal.toSeq
    out("cpu_window_s") = cpuSeconds - cpu0
    out("ops") = ops.toSeq
    out("failed_ops") = failed
    (ms0, System.currentTimeMillis(), ops.size)
  }

  private def noop(t: Tracer, df: DataFrame): Unit =
    t.span("spark.execute")(df.write.format("noop").mode("overwrite").save())

  /** Runs each entry once, writes its result for run.py to compare with
    * the entry's oracle SQL, and records that SQL. */
  private def capture(spark: SparkSession, data: String, work: String, t: Tracer,
                      names: Seq[String]): Unit = {
    val entries = SparkEntry.queries
    names.foreach { n =>
      val df = t.span("analytics.entry")(entries(n)(spark, data))
      t.span("check.capture")(df.write.mode("overwrite").parquet(s"$work/results/$n"))
    }
    val oracle = SparkEntry.oracleSql
    out("oracle_sql") = names.map(n => n -> oracle(n)).toMap
  }

  final class Interactive(spark: SparkSession, data: String, work: String,
                          seed: Long, t: Tracer) extends Workload {
    val cycle: Seq[String] = new scala.util.Random(seed).shuffle(interactiveMix)
    /** Eight cycles at least, so that every run times the same number
      * of cycles whatever its speed. Cycle time falls most over the
      * first two or three timed cycles as the JIT catches up; run.py
      * takes each entry's median over the cycles, which those slower
      * cycles do not reach. */
    val minOps: Int = 8 * cycle.size
    private val entries = SparkEntry.queries

    /** A pass that captures every entry's result, then two cycles as
      * timed. */
    def setup(): Unit = {
      capture(spark, data, work, t, cycle)
      for (_ <- 1 to 2) cycle.foreach(op)
    }

    def op(name: String): Unit =
      noop(t, t.span("analytics.entry")(entries(name)(spark, data)))

    def traced(): Unit = {
      val lat = out("ops").asInstanceOf[Seq[Seq[Any]]]
        .groupBy(_(0).toString).view.mapValues(v => median(v.map(_(1).asInstanceOf[Double])))
      lat.foreach { case (n, s) => layers(s"analytics.${n}_p50_s") = s }
    }

    def check(): Unit = ()
  }

  /** The nightly factor ETL: each operation builds all six factor marts
    * from scratch into session-scoped directories. */
  final class FactorBuild(spark: SparkSession, data: String, work: String,
                          t: Tracer) extends Workload {
    val cycle: Seq[String] = Seq("build")
    val minOps = 1
    private var builds = 0

    def setup(): Unit = FactorQueries.ignorePersistentMartRoot()

    def op(name: String): Unit = {
      FactorQueries.dropFactorMartMemos(spark, data)
      t.span("factors.build_marts")(FactorQueries.primeFactorMarts(spark, data))
      builds += 1
    }

    def traced(): Unit = {
      // the marts' directories are session-scoped and go at JVM exit
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      val panelRows = spark.read.parquet(s"$data/events.parquet").count()
      layers("factors.mart_bytes_per_row") = {
        import scala.jdk.CollectionConverters._
        Files.walk(tmp).iterator().asScala.filter(p => Files.isRegularFile(p) &&
          tmp.relativize(p).getName(0).toString.startsWith("graft_factor_mart_"))
          .map(Files.size).sum.toDouble / builds / panelRows
      }
    }

    /** Reads the marts back through their entries. The alpha mart's
      * oracle takes DuckDB 10-13 s, so only traced runs check it. */
    def check(): Unit =
      capture(spark, data, work, t, martEntries.filter(_ != "q90_alpha_all" || t.enabled))
  }

  /** Traced runs only, after the timed window and the output capture,
    * so that every workload reports every layer: the Alpha101 DAG split
    * by Catalyst phase, each family's execution, and the interactive
    * entries' DataFrame build time and executed operators. */
  private def probe(spark: SparkSession, data: String, t: Tracer): Unit = t.span("probe") {
    def timed[A](name: String)(body: => A): A = {
      val r = t.span(name)(body)
      layers(name + "_s") = t.all.filter(_.name == name).map(_.seconds).sum
      r
    }
    val entries = SparkEntry.queries
    val panel = Quotes.panel(spark, data)
    timed("sources.panel")(noop(t, panel))
    val alpha = timed("factors.alpha101_analysis")(Alpha101.compute(panel))
    timed("factors.alpha101_optimize")(alpha.queryExecution.optimizedPlan)
    val plan = timed("factors.alpha101_plan")(alpha.queryExecution.executedPlan)
    timed("factors.alpha101_exec")(noop(t, alpha))
    planOps(plan).foreach { case (k, v) => layers(s"plans.alpha_$k") = v }
    Seq[(String, DataFrame => DataFrame)]("technical" -> Technical.compute,
      "ema" -> EmaFamily.compute, "momentum" -> Momentum.compute,
      "value" -> Value.compute).foreach { case (f, compute) =>
      timed(s"factors.${f}_exec")(noop(t, compute(panel)))
    }
    // sentiment has no public kernel: q61 with the memo dropped derives
    // the family, writes its mart and reads it back
    timed("factors.sentiment_exec") {
      FactorQueries.dropFactorMartMemos(spark, data)
      noop(t, entries("q61_sentiment_factors")(spark, data))
    }
    val dfs = interactiveMix.map(n => timed("analytics.entry_build")(entries(n)(spark, data)))
    layers("analytics.entry_build_s") /= dfs.size
    dfs.flatMap(df => t.span("plans.entry")(planOps(df.queryExecution.executedPlan)))
      .groupMapReduce(_._1)(_._2)(_ + _).foreach { case (k, v) => layers(s"plans.entries_$k") = v }
  }

  /** Operator counts of a physical plan, through adaptive wrappers. */
  def planOps(p: SparkPlan): Map[String, Double] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ => (p.children ++ p.subqueries).flatMap(walk)
    })
    val names = walk(p).map(_.getClass.getSimpleName)
    def n(pred: String => Boolean) = names.count(pred).toDouble
    Map("tswindow_ops" -> n(_ == "TsWindowExec"),
      "multirank_ops" -> n(_ == "MultiRankExec"),
      "window_fallback_ops" -> n(_ == "WindowExec"),
      "exchanges" -> n(x => x == "ShuffleExchangeExec" || x == "BroadcastExchangeExec"),
      "sorts" -> n(_ == "SortExec"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** The `steal` column of /proc/stat's first line, summed over the
    * CPUs; 0 where the kernel does not report it. */
  private def stealTicks: Long = try {
    val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
      .split("\\s+")
    if (f(0) == "cpu" && f.length > 8) f(8).toLong else 0L
  } catch { case _: Exception => 0L }

  private def load1: Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble

  private def vmHwmMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
