package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** What the harness hands a workload: the live session, the tracer
  * the workload opens its layer spans on, the run's seed, and the
  * planted wrong answer of the harness's own tests. */
final class Ctx(val spark: SparkSession, val trace: Tracer, val seed: Long,
                plantWrongAt: Option[Int]) {
  /** True for the op whose output the harness tests corrupt before its check. */
  def plantWrong(op: Int): Boolean = plantWrongAt.contains(op)
  def traced: Boolean = trace.enabled
}

/** The outcome of one op: work units completed and the output check's findings. */
final case class Done(items: Long, problems: Seq[String])

/** One benchmark workload. The harness calls [[setup]] once on a
  * fresh session, then runs ops in a closed loop:
  * [[prepare]] (untimed: builds the op's input frames) and the
  * returned thunk (timed: the layer calls, the materialisation of
  * their results and the output check). */
trait Workload {
  /** Work unit counted by `items_per_s`. */
  def itemName: String
  /** Generate inputs under `dir`, build the memoized dimension tables
    * and run one warm op per op type; returns failed set-up checks. */
  def setup(ctx: Ctx, dir: Path): Seq[String]
  def prepare(ctx: Ctx, op: Int): () => Done
  /** End-of-run checks (untimed). */
  def finish(ctx: Ctx): Seq[String] = Nil
  /** Names of the counters [[gauges]] reports. */
  def gaugeNames: Seq[String] = Nil
  /** Counters of the traced window, named as in BENCHMARK.json. */
  def gauges(ctx: Ctx, window: Map[String, SpanStats]): Map[String, Double] = Map.empty
}

object Workload {
  val all: Map[String, () => Workload] = Map(
    "acceptance" -> (() => new AcceptanceWorkload),
    "curation" -> (() => new CurationWorkload),
    "design_study" -> (() => new DesignStudyWorkload),
    "index_churn" -> (() => new IndexChurnWorkload))

  /** Every counter any workload or the harness reports; other workloads read 0 for it. */
  lazy val gaugeNames: Set[String] = all.values.flatMap(_().gaugeNames).toSet ++ Seq(
    "spark.jobs", "spark.tasks", "spark.sched_delay_s", "spark.gc_s", "util.Pin.mb",
    "trace.overhead_frac", "host.calibration_s", "host.driver_calibration_s")

  def close(a: Double, b: Double, tol: Double): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}
