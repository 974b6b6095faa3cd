package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the id of the
  * enclosing span (0 at the root); times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** The traced-run recorder: a SparkListener, a QueryExecutionListener,
  * a StreamingQueryListener and the engine's lifecycle Signals, plus
  * the harness's own spans around each layer call. Everything is kept
  * in memory and written once at the end of the run.
  *
  * Jobs are attributed through their local properties: the harness
  * tags each request's jobs with `graftbench.phase` (`build` before the
  * final action, `final` for it, `stream` and `lookup` for ingest steps);
  * stream execution threads inherit the tags from the thread that
  * starts the query. Only jobs tagged `graftbench.traced` count, so late
  * bus events from an untraced round never leak in. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[Long] // harness span stack
  private var nextId = 0L
  @volatile var recording = false

  // ---- harness spans --------------------------------------------------
  private def newId(): Long = synchronized { nextId += 1; nextId }

  def span[T](name: String)(f: => T): T =
    if (!recording) f
    else {
      val id = newId()
      val parent = synchronized { val p = open.lastOption.getOrElse(0L); open += id; p }
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        synchronized { open -= id; spans += Span(id, parent, name, t0, t1) }
      }
    }

  // ---- lifecycle Signals (pipeline and stage spans) -------------------
  private val openSignal = mutable.Map.empty[String, (Long, Long, Long)]
  private var retries = 0L

  private def sigOpen(key: String): Unit = if (recording) synchronized {
    val id = newId()
    val parent = openSignal.get("pipeline").map(_._1)
      .orElse(open.lastOption).getOrElse(0L)
    openSignal(key) = (id, parent, System.nanoTime())
  }
  private def sigClose(key: String, name: String): Unit =
    if (recording) synchronized {
      openSignal.remove(key).foreach { case (id, parent, t0) =>
        spans += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  private val signalHandles: Seq[(String, Long)] = {
    import graft.telemetry.Signals
    def on(sig: String)(f: Signals.Payload => Unit) = sig -> Signals.connect(sig, f)
    Seq(
      on("pipeline_execution_start")(_ => sigOpen("pipeline")),
      on("pipeline_execution_end")(_ => sigClose("pipeline", "pipeline")),
      on("pipeline_stop")(_ => sigClose("pipeline", "pipeline")),
      on("pipeline_shutdown")(_ => sigClose("pipeline", "pipeline")),
      on("event_execution_start")(p => sigOpen("stage:" + p("task_id"))),
      on("event_execution_end")(p =>
        sigClose("stage:" + p("task_id"), "stage")),
      on("event_execution_retry")(_ =>
        if (recording) synchronized { retries += 1 }))
  }

  // ---- Spark listeners ------------------------------------------------
  private val totals = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val tracedStages = mutable.Set.empty[Int]
  private var jobsEnded = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(TracedKey) == "1")) synchronized {
        jobStarts(e.jobId) = e.time
        e.stageIds.foreach(tracedStages += _)
        add("scheduler.jobs", 1)
        if (props.exists(_.getProperty(PhaseKey) == "build"))
          add("operators.eager_jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { t0 =>
        jobIntervals += ((t0, e.time))
        jobsEnded += 1
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (synchronized(tracedStages.contains(e.stageInfo.stageId)))
        add("scheduler.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (synchronized(tracedStages.contains(e.stageId))) {
        add("scheduler.tasks", 1)
        add("task.slot_ms", e.taskInfo.duration.toDouble)
        Option(e.taskMetrics).foreach { m =>
          add("task.run_ms", m.executorRunTime.toDouble)
          add("task.cpu_ms", m.executorCpuTime / 1e6)
          add("task.gc_ms", m.jvmGCTime.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("spill.bytes",
            (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (recording) {
      val phases = qe.tracker.phases
      add("catalyst.executions", 1)
      for ((phase, metric) <- CatalystPhases)
        add(metric, phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) {
        val p = e.progress
        val d = p.durationMs
        for ((section, metric) <- StreamSections)
          add(metric, Option(d.get(section)).map(_.doubleValue).getOrElse(0.0))
        if (p.numInputRows > 0) add("streaming.batches", 1)
        add("streaming.input_rows", p.numInputRows.toDouble)
      }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(executionListener)
  spark.streams.addListener(streamListener)

  /** Tag the calling thread's jobs (inherited by the threads it starts,
    * stream execution threads included) with the request phase. */
  def phase(p: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(TracedKey, if (recording) "1" else null)
    sc.setLocalProperty(PhaseKey, p)
  }

  /** Count a store commit or pruned read reported by an engine hook. */
  def count(metric: String, v: Double = 1.0): Unit = if (recording) add(metric, v)

  /** Record a state metric as of now (the last snapshot wins). */
  def snapshot(metric: String, v: Double): Unit =
    if (recording) synchronized { totals(metric) = v }

  /** Wait until every traced job has ended and the listener buses went
    * quiet (delivery is asynchronous), then stop listening. */
  def finish(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    var last = -1.0
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val now = synchronized {
        if (jobStarts.nonEmpty) -1.0 else totals.values.sum + jobsEnded
      }
      if (now >= 0 && now == last) stable += 1 else stable = 0
      last = now
    }
    recording = false
    phase(null)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamListener)
    signalHandles.foreach { case (s, h) => graft.telemetry.Signals.disconnect(s, h) }
  }

  /** Listener totals plus the retry count and the wall during which at
    * least one traced job ran. */
  def layerTotals: Map[String, Double] = synchronized {
    totals.toMap ++ Map(
      "core.retries" -> retries.toDouble,
      "scheduler.job_wall_ms" -> unionMs(jobIntervals.toSeq))
  }

  def spanList: Seq[Span] = synchronized(spans.toList)
}

object Tracer {
  val TracedKey = "graftbench.traced"
  val PhaseKey = "graftbench.phase"
  val CatalystPhases = Seq(
    "analysis" -> "catalyst.analysis_ms",
    "optimization" -> "catalyst.optimization_ms",
    "planning" -> "catalyst.planning_ms")
  val StreamSections = Seq(
    "triggerExecution" -> "streaming.trigger_ms",
    "addBatch" -> "streaming.add_batch_ms",
    "queryPlanning" -> "streaming.query_planning_ms",
    "walCommit" -> "streaming.wal_commit_ms")

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    (total + (curE - curS)).toDouble
  }
}
