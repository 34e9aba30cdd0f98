package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds, so spans the
  * benchmark opens and spans rebuilt from Spark's listener events share
  * one clock. `op` is the op id every span of one op carries; `parent` is
  * the id of the span that caused this one (-1 at the root).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** The traced run's instrument. Spans and counters are recorded only here,
  * from the benchmark's side of each call into the engine and from Spark's
  * public listener hooks; nothing inside the engine is changed. Everything
  * stays in memory until the run ends.
  *
  * Attribution: the client is one closed loop, so after each op the tracer
  * drains the listener bus and every event that arrived since the previous
  * drain belongs to that op.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  /** Per-op counters, one map per op, in op order. */
  val opCounters = mutable.ArrayBuffer[(Int, String, mutable.LinkedHashMap[String, Double])]()

  private final class JobRec(val id: Int, val startMs: Double,
      val stageIds: Seq[Int]) { var endMs: Double = Double.NaN }
  private final class StageRec(val id: Int) {
    var submitMs = Double.NaN; var endMs = Double.NaN
  }
  // written by the listener thread, read after a drain
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.LinkedHashMap[Int, StageRec]()
  private val task = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private var aqeUpdates = 0
  private val executions = mutable.ArrayBuffer[QueryExecution]()
  private val progress = mutable.ArrayBuffer[StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += new JobRec(e.jobId, e.time.toDouble, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.submitMs = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(nowMs)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.endMs = e.stageInfo.completionTime.map(_.toDouble).getOrElse(nowMs)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val i = e.taskInfo
      task("tasks") += 1
      if (!i.successful) task("failed_tasks") += 1
      Option(e.taskMetrics).foreach { m =>
        task("task_ms") += m.executorRunTime
        task("task_cpu_ns") += m.executorCpuTime
        task("shuffle_read_b") += m.shuffleReadMetrics.totalBytesRead
        task("shuffle_write_b") += m.shuffleWriteMetrics.bytesWritten
        task("spill_disk_b") += m.diskBytesSpilled
        task("result_b") += m.resultSize
        // the scheduler-delay definition of Spark's own stage page
        val gettingResult =
          if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
        task("sched_delay_ms") += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate => Tracer.this.synchronized { aqeUpdates += 1 }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { executions += qe }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      Tracer.this.synchronized { executions += qe }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { if (e.progress.numInputRows > 0) progress += e }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var nextId = 0
  def open(parent: Int, op: Int, name: String, layer: String,
      startMs: Double, endMs: Double): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, op, name, layer, startMs, endMs)
    id
  }

  /** Times `f` as a span and returns its result and the span id. */
  def span[A](parent: Int, op: Int, name: String, layer: String)(f: => A): (A, Int) = {
    val t0 = nowMs
    val a = f
    (a, open(parent, op, name, layer, t0, nowMs))
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Forget events of work done outside any op (set-up, checks). */
  def reset(): Unit = {
    drain()
    synchronized {
      jobs.clear(); stages.clear(); task.clear(); aqeUpdates = 0
      executions.clear(); progress.clear()
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper {
    def count(plan: SparkPlan)(pf: PartialFunction[SparkPlan, Unit]): Int =
      collectWithSubqueries(plan)(pf.andThen(_ => 1)).size
  }

  /** Closes op `op`: drains the bus, turns the events since the last drain
    * into job, stage, Catalyst-phase and streaming-phase spans under the
    * op span, and records the op's counters. `constructEndMs` bounds the
    * construct call, so jobs that start before it are eager jobs.
    */
  def finishOp(op: Int, opSpan: Int, kind: String, constructEndMs: Double,
      execSpan: Int, extra: Map[String, Double]): Unit = {
    drain()
    val opS = spans(opSpan)
    val c = mutable.LinkedHashMap[String, Double]()
    synchronized {
      // streaming micro-batches first: MicroBatchExecution reports phase
      // durations, not start times, so they are laid out in execution
      // order from the trigger start
      val order = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets")
      var (add, qp, wal, lo, lag) = (0.0, 0.0, 0.0, 0.0, 0.0)
      val batchParent = if (execSpan >= 0) execSpan else opSpan
      progress.foreach { e =>
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val d = p.durationMs
        def dur(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        val bid = open(batchParent, op, s"batch ${p.batchId}", "streaming", start,
          start + dur("triggerExecution"))
        var t = start
        order.foreach { k =>
          if (d.containsKey(k)) { open(bid, op, k, "streaming", t, t + dur(k)); t += dur(k) }
        }
        add += dur("addBatch"); qp += dur("queryPlanning"); wal += dur("walCommit")
        lo += dur("latestOffset")
        extra.get("drop_ms").foreach(drop => lag = math.max(lag, start - drop))
      }

      // every later span hangs under the innermost span of this op that
      // contains its start
      val frame = spans.filter(_.op == op).toSeq
      def parentAt(t: Double): Int = frame.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(_.ms).headOption.map(_.id).getOrElse(opSpan)

      // Catalyst phases of every query execution the op ran
      var (an, opt, pl, exch, scans) = (0.0, 0.0, 0.0, 0, 0)
      executions.foreach { qe =>
        val ph = qe.tracker.phases
        def phase(key: String): Double = ph.get(key).map { p =>
          open(parentAt(p.startTimeMs.toDouble), op, key, "plans",
            p.startTimeMs.toDouble, p.endTimeMs.toDouble)
          p.durationMs.toDouble
        }.getOrElse(0.0)
        an += phase("analysis")
        opt += phase("optimization")
        pl += phase("planning")
        val plan = qe.executedPlan
        exch += Plans.count(plan) { case _: ShuffleExchangeExec => }
        scans += Plans.count(plan) {
          case _: FileSourceScanExec =>
          case _: BatchScanExec =>
        }
      }
      c("analysis_ms") = an; c("optimization_ms") = opt; c("planning_ms") = pl
      c("exchanges") = exch; c("scans") = scans
      c("aqe_updates") = aqeUpdates

      val jobIvals = mutable.ArrayBuffer[(Double, Double)]()
      var eager = 0
      jobs.foreach { j =>
        val end = if (j.endMs.isNaN) opS.endMs else j.endMs
        val jid = open(parentAt(j.startMs), op, s"job ${j.id}", "operators", j.startMs, end)
        jobIvals += ((j.startMs, end))
        if (j.startMs < constructEndMs) eager += 1
        j.stageIds.flatMap(stages.get).filterNot(_.submitMs.isNaN).foreach { s =>
          open(jid, op, s"stage ${s.id}", "operators", s.submitMs,
            if (s.endMs.isNaN) end else s.endMs)
        }
      }
      c("jobs") = jobs.size
      c("eager_jobs") = eager
      c("stages") = stages.values.count(s => !s.submitMs.isNaN)
      c("driver_only_ms") = math.max(0.0, opS.ms - covered((opS.startMs, opS.endMs), jobIvals.toSeq))
      Seq("tasks", "failed_tasks", "sched_delay_ms").foreach(k => c(k) = task(k))
      c("task_s") = task("task_ms") / 1e3
      c("task_cpu_s") = task("task_cpu_ns") / 1e9
      c("shuffle_read_mb") = task("shuffle_read_b") / 1e6
      c("shuffle_write_mb") = task("shuffle_write_b") / 1e6
      c("spill_disk_mb") = task("spill_disk_b") / 1e6
      c("result_mb") = task("result_b") / 1e6
      c("busy_ratio") = task("task_ms") / math.max(1.0, opS.ms * cores)

      c("add_batch_ms") = add; c("query_planning_ms") = qp; c("wal_commit_ms") = wal
      c("latest_offset_ms") = lo; c("input_lag_ms") = lag
      c("micro_batches") = progress.size
      extra.foreach { case (k, v) => if (k != "drop_ms") c(k) = v }

      jobs.clear(); stages.clear(); task.clear(); aqeUpdates = 0
      executions.clear(); progress.clear()
    }
    // layers' self time within this op
    selfTimes(op).foreach { case (layer, ms) => c(s"self_${layer}_ms") = ms }
    opCounters += ((op, kind, c))
  }

  /** Length of the union of `ivals` clipped to `within`. */
  private def covered(within: (Double, Double), ivals: Seq[(Double, Double)]): Double = {
    val clipped = ivals.map { case (a, b) => (math.max(a, within._1), math.min(b, within._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self time per layer for one op: each span's duration minus the part
    * of it its children cover, summed by layer.
    */
  def selfTimes(op: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == op)
    val kids = mine.groupBy(_.parent)
    mine.toSeq.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)).toSeq
      s.layer -> math.max(0.0, s.ms - covered((s.startMs, s.endMs), ch))
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
    "layer" -> s.layer, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
