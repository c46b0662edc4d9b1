package graft.perfbench

import java.io.{FileOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One op of the closed loop as the harness saw it. */
final case class OpRecord(op: Int, wallS: Double, items: Long, problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** Benchmark harness: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--plant throw,wrong]
  * }}}
  *
  * Set-up runs once, cold, at the start of the JVM: session start,
  * input generation, memoized dimension tables and one warm op per op
  * type, so JIT and code-generation warm-up land in `setup_s`. Then
  * one client issues ops back to back for `--seconds`. The last stdout line is the result object
  * {"correct", "attempted", "failed", "metrics"}: the end-to-end
  * metrics of BENCHMARK.json with `--trace 0`, the per-layer ones with
  * `--trace 1`. A traced run measures one window untraced, then one
  * traced, and reports the difference as `trace.overhead_frac`.
  * A full report (every op, every span roll-up) goes to
  * `<work>/reports/`, Spark's log to `<work>/logs/`.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, plant: Set[String])

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("plant").toSeq.flatMap(_.split(",")).toSet)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Locale.setDefault(Locale.ROOT)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.createDirectories(a.work.resolve("logs"))
    Files.createDirectories(a.work.resolve("reports"))
    // log4j's console appender latches System.err when Spark first logs:
    // route it to a file before any Spark class loads
    System.setErr(new PrintStream(new FileOutputStream(a.work.resolve(s"logs/$tag.log").toFile), true, "UTF-8"))
    val spec = Spec.load(Paths.get("BENCHMARK.json"))
    val workload = Workload.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; known: ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))()
    val run = new Run(a, workload)
    val report = run.execute()
    val tried = scala.util.Try(if (a.trace) run.perLayer(spec) else run.endToEnd(spec))
    val failures = run.ops.filterNot(_.ok).map(r => Json.obj("op" -> r.op, "problems" -> r.problems)) ++
      run.problems.map(p => Json.obj("op" -> "setup/finish", "problems" -> Seq(p)))
    val result = tried.toOption.map(metrics => Json.obj(
      "correct" -> run.correct, "attempted" -> run.ops.size, "failed" -> run.ops.count(!_.ok),
      "metrics" -> Json.obj(metrics.map { case (n, (v, u)) => n -> Json.obj("value" -> v, "unit" -> u) }: _*)))
    Files.writeString(a.work.resolve(s"reports/$tag.json"), Json.render(Json.obj(
      report ++ Seq("failures" -> failures, "result" -> result,
        "error" -> tried.failed.toOption.map(_.toString)): _*)))
    tried.get
    if (failures.nonEmpty) println("failures: " + Json.render(failures))
    println(Json.render(result.get))
    System.out.flush()
  }

  def newSession(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors
    val s = graft.GraftSession.builder(s"local[$n]", n)
      .config("spark.ui.enabled", "false")
      // single-file inputs would otherwise be one split on one core
      .config("spark.sql.files.minPartitionNum", n.toString)
      .config("spark.sql.files.openCostInBytes", "1048576")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
}

/** The state of one harness run. */
final class Run(a: Main.Args, workload: Workload) {
  import Main._

  val tracer = new Tracer
  private var setupS = Double.NaN
  val problems = mutable.ArrayBuffer.empty[String]
  val ops = mutable.ArrayBuffer.empty[OpRecord]
  private var untracedOps = Seq.empty[OpRecord]
  private var tracedOps = Seq.empty[OpRecord]
  private var windowStats = Map.empty[String, SpanStats]
  private var setupStats = Map.empty[String, SpanStats]
  private var gauges = Map.empty[String, Double]
  private var ctx: Ctx = _
  private val plantThrowAt = if (a.plant("throw")) Some(1) else None
  private val plantWrongAt = if (a.plant("wrong")) Some(2) else None

  def correct: Boolean = problems.isEmpty && ops.forall(_.ok)

  def execute(): Seq[(String, Any)] = {
    val inputs = a.work.resolve("inputs").resolve(a.workload)
    Files.createDirectories(inputs)
    wipe(inputs)
    val t0 = System.nanoTime()
    val spark = newSession(a.work)
    if (a.trace) { tracer.attach(spark); tracer.enabled = true }
    ctx = new Ctx(spark, tracer, a.seed, plantWrongAt)
    problems ++= workload.setup(ctx, inputs).map("setup: " + _)
    setupS = (System.nanoTime() - t0) / 1e9
    tracer.phase = "op"
    if (a.trace) {
      tracer.detach(spark)
      tracer.enabled = false
    }
    untracedOps = window(a.seconds)
    if (a.trace) {
      tracer.attach(spark)
      tracer.enabled = true
      tracer.takePeakRddBytes()
      val gc0 = gcSeconds()
      tracedOps = window(a.seconds)
      val gc = gcSeconds() - gc0
      tracer.drain(spark)
      windowStats = tracer.stats("op")
      setupStats = tracer.stats("setup")
      val pinMb = tracer.takePeakRddBytes() / 1e6
      tracer.detach(spark)
      tracer.enabled = false
      gauges = harnessGauges(gc, pinMb) ++ workload.gauges(ctx, windowStats) ++ Map(
        "host.calibration_s" -> graft.Bench.calibration(spark),
        "host.driver_calibration_s" -> graft.Bench.driverCalibration())
    }
    problems ++= workload.finish(ctx).map("finish: " + _)
    spark.stop()
    Seq(
      "workload" -> a.workload, "item" -> workload.itemName, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "cores" -> Runtime.getRuntime.availableProcessors, "setup_s" -> setupS,
      "ops" -> ops.toSeq.map(r => Json.obj("op" -> r.op, "wall_s" -> r.wallS, "items" -> r.items,
        "problems" -> r.problems)),
      "problems" -> problems.toSeq,
      "spans_op" -> statsJson(windowStats), "spans_setup" -> statsJson(setupStats),
      "gauges" -> gauges)
  }

  private def window(seconds: Double): Seq[OpRecord] = {
    val out = mutable.ArrayBuffer.empty[OpRecord]
    val plantedLast = (plantThrowAt ++ plantWrongAt).maxOption.getOrElse(-1)
    val t0 = System.nanoTime()
    while (out.isEmpty || ops.size <= plantedLast || System.nanoTime() - t0 < seconds * 1e9)
      out += runOp()
    out.toSeq
  }

  private def runOp(): OpRecord = {
    val i = ops.size
    var start = System.nanoTime()
    val rec =
      try {
        val body = workload.prepare(ctx, i)
        start = System.nanoTime()
        val d = tracer.span("op") {
          if (plantThrowAt.contains(i)) throw new IllegalStateException("planted failure")
          body()
        }
        OpRecord(i, (System.nanoTime() - start) / 1e9, d.items, d.problems)
      } catch {
        case NonFatal(e) =>
          OpRecord(i, (System.nanoTime() - start) / 1e9, 0L,
            Seq(s"${e.getClass.getName}: ${e.getMessage}"))
      }
    ops += rec
    rec
  }

  private def wipe(dir: Path): Unit =
    Files.list(dir).iterator().asScala.toSeq.foreach { p =>
      if (Files.isDirectory(p)) wipe(p)
      Files.delete(p)
    }

  private def p50(rs: Seq[OpRecord]): Double = {
    val good = rs.filter(_.ok)
    median((if (good.nonEmpty) good else rs).map(_.wallS))
  }

  private def harnessGauges(gcS: Double, pinMb: Double): Map[String, Double] = {
    val n = tracedOps.size.toDouble
    val all = windowStats.values.map(_.work)
    val tasks = all.map(_.tasks).sum
    Map(
      "spark.jobs" -> all.map(_.jobs).sum / n,
      "spark.tasks" -> tasks / n,
      "spark.sched_delay_s" -> (if (tasks == 0) 0.0 else all.map(_.schedDelayMs).sum / 1e3 / tasks),
      "spark.gc_s" -> gcS / n,
      "util.Pin.mb" -> pinMb,
      "trace.overhead_frac" -> (p50(tracedOps) / p50(untracedOps) - 1.0))
  }

  def endToEnd(spec: Spec): Seq[(String, (Double, String))] = {
    val good = Some(untracedOps.filter(_.ok)).filter(_.nonEmpty).getOrElse(untracedOps)
    val values = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> p50(untracedOps),
      "items_per_s" -> median(good.map(r => r.items / r.wallS)),
      "peak_rss_mb" -> peakRssMb())
    spec.endToEnd.map { case (name, unit) =>
      val v = values.getOrElse(name, throw new IllegalStateException(s"no end-to-end metric $name"))
      require(!v.isNaN && !v.isInfinite && v > 0, s"end-to-end metric $name is $v")
      name -> (v, unit)
    }
  }

  /** Per-layer metric: a harness or workload gauge of that name, else
    * `<span>.<suffix>` rolled up per op over the traced window when the
    * span ran there, else over the set-up. A layer or gauge the
    * workload never entered reads 0; a name nothing can produce fails
    * the run. */
  def perLayer(spec: Spec): Seq[(String, (Double, String))] = {
    val nOps = tracedOps.size.toDouble
    val suffixes: Map[String, (SpanStats, Double) => Double] = Map(
      "self_s" -> ((s, n) => s.selfS / n),
      "driver_s" -> ((s, n) => s.driverS / n),
      "jobs" -> ((s, n) => s.work.jobs / n),
      "tasks" -> ((s, n) => s.work.tasks / n),
      "exec_cpu_s" -> ((s, n) => s.work.cpuNs / 1e9 / n),
      "shuffle_mb" -> ((s, n) => s.work.shuffleWriteBytes / 1e6 / n),
      "spill_mb" -> ((s, n) => s.work.spillBytes / 1e6 / n),
      "p50_s" -> ((s, _) => median(s.durations)))
    def fromSpan(name: String): Option[Double] = {
      val cut = name.lastIndexOf('.')
      suffixes.get(name.drop(cut + 1)).filter(_ => cut > 0).map { f =>
        val span = name.take(cut)
        windowStats.get(span).map(f(_, nOps))
          .orElse(setupStats.get(span).map(f(_, 1.0)))
          .getOrElse(0.0)
      }
    }
    spec.perLayer.map { case (name, unit) =>
      val v = gauges.get(name).orElse(fromSpan(name))
        .orElse(Some(0.0).filter(_ => Workload.gaugeNames(name)))
        .getOrElse(throw new IllegalStateException(s"no source for per-layer metric $name"))
      name -> (v, unit)
    }
  }

  private def statsJson(m: Map[String, SpanStats]): Map[String, Any] =
    m.map { case (k, s) =>
      k -> Json.obj("calls" -> s.calls, "total_s" -> s.totalS, "self_s" -> s.selfS,
        "driver_s" -> s.driverS, "jobs" -> s.work.jobs, "tasks" -> s.work.tasks,
        "exec_cpu_s" -> s.work.cpuNs / 1e9, "shuffle_mb" -> s.work.shuffleWriteBytes / 1e6,
        "spill_mb" -> s.work.spillBytes / 1e6, "plan" -> s.work.plan.toMap)
    }
}
