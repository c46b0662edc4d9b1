package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One call into a layer, timed from the benchmark's side of the call. */
final class Span(val id: Int, val name: String, val parent: Option[Span], val phase: String) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  var t1Ns: Long = t0Ns
  var t1Ms: Long = t0Ms
  var childNs: Long = 0L
  def seconds: Double = (t1Ns - t0Ns) / 1e9
}

/** Spark work attributed to one span: the jobs submitted while it was
  * the innermost open span (its job group), their tasks, and the
  * executed plans of the queries those jobs ran. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var schedDelayMs = 0L
  /** Executed-plan SQL metrics, summed by `<operator class>.<metric>`. */
  val plan: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** Per-name roll-up of the spans of one phase. */
final case class SpanStats(calls: Int, totalS: Double, selfS: Double, driverS: Double,
                           durations: Seq[Double], work: SparkWork)

/** In-memory tracer. Spans are opened around every call the benchmark
  * makes into a layer; each span sets a Spark job group so that a
  * [[SparkListener]] and a [[QueryExecutionListener]] can attribute
  * jobs, tasks, CPU, shuffle, spill and plan metrics to it. Nothing is
  * written until the run ends. With `enabled = false` a span is a
  * plain call and no listener is registered. */
final class Tracer {
  @volatile var enabled = false
  @volatile var phase = "setup"
  private var nextId = 0
  private var open: List[Span] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]

  // listener-bus side; read only after drain()
  private val work = mutable.Map.empty[Int, SparkWork]
  private val groupOfJob = mutable.Map.empty[Int, Int]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var rddBytes = 0L
  private var peakRddBytes = 0L
  private var lastJobSpan = -1

  private def workOf(spanId: Int): SparkWork = work.getOrElseUpdate(spanId, new SparkWork)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = SparkSession.active.sparkContext
      val s = synchronized {
        nextId += 1
        val s = new Span(nextId, name, open.headOption, phase)
        open = s :: open
        spans += s
        s
      }
      sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.t1Ns = System.nanoTime()
        s.t1Ms = System.currentTimeMillis()
        synchronized {
          open = open.tail
          s.parent.foreach(_.childNs += s.t1Ns - s.t0Ns)
        }
        s.parent match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(jobOfStage(_) = e.jobId)
      group.filter(_.startsWith("pb")).map(_.drop(2).toInt).foreach { id =>
        groupOfJob(e.jobId) = id
        workOf(id).jobs += 1
        lastJobSpan = id
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStartMs.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitMs(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (job <- jobOfStage.get(e.stageId); id <- groupOfJob.get(job)) {
        val w = workOf(id)
        w.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          w.cpuNs += m.executorCpuTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
        stageSubmitMs.get(e.stageId).foreach(t => w.schedDelayMs += math.max(0L, e.taskInfo.launchTime - t))
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        rddBytes -= rddBlocks.getOrElse(key, 0L)
        val now = info.memSize + info.diskSize
        if (info.storageLevel.isValid && now > 0) rddBlocks(key) = now else rddBlocks.remove(key)
        rddBytes += math.max(0L, now)
        peakRddBytes = math.max(peakRddBytes, rddBytes)
      }
    }
  }

  // Delivered on the same listener-bus queue as the job events, after
  // the jobs of its query: the last job seen names the query's span.
  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        if (lastJobSpan >= 0) {
          val w = workOf(lastJobSpan)
          Tracer.planNodes(qe.executedPlan).foreach { node =>
            val op = node.getClass.getSimpleName
            node.metrics.foreach { case (k, m) => w.plan(s"$op.$k") += m.value }
          }
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    // job, stage and RDD ids restart with every SparkContext
    synchronized {
      groupOfJob.clear(); jobOfStage.clear(); stageSubmitMs.clear(); jobStartMs.clear()
      rddBlocks.clear(); rddBytes = 0L; lastJobSpan = -1
    }
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Peak bytes of RDD blocks (pins, local checkpoints, caches) since the last call. */
  def takePeakRddBytes(): Long = synchronized {
    val p = peakRddBytes
    peakRddBytes = rddBytes
    p
  }

  /** Roll-up by span name over the spans of `phase` (call after [[drain]]). */
  def stats(phase: String): Map[String, SpanStats] = synchronized {
    val merged = jobIntervals.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }
    def busyMs(s: Span): Long =
      merged.iterator.map { case (a, b) => math.max(0L, math.min(b, s.t1Ms) - math.max(a, s.t0Ms)) }.sum
    spans.filter(_.phase == phase).groupBy(_.name).map { case (name, ss) =>
      val w = new SparkWork
      ss.flatMap(s => work.get(s.id)).foreach { x =>
        w.jobs += x.jobs; w.tasks += x.tasks; w.cpuNs += x.cpuNs
        w.shuffleWriteBytes += x.shuffleWriteBytes; w.spillBytes += x.spillBytes
        w.schedDelayMs += x.schedDelayMs
        x.plan.foreach { case (k, v) => w.plan(k) += v }
      }
      val total = ss.map(_.seconds).sum
      val self = ss.map(s => (s.t1Ns - s.t0Ns - s.childNs) / 1e9).sum
      val driver = ss.map(s => math.max(0.0, s.seconds - busyMs(s) / 1e3)).sum
      name -> SpanStats(ss.size, total, self, driver, ss.map(_.seconds).toSeq, w)
    }
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive and query-stage wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
