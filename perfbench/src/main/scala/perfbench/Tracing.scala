package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution: one epoch
  * reading at start-up, then `System.nanoTime` deltas. Spark's own
  * timestamps (progress events, planning phases) are epoch milliseconds, so
  * benchmark spans and Spark spans share one time axis. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
  def sleepUntil(tMs: Double): Unit = {
    var left = tMs - nowMs
    while (left > 0) {
      if (left > 2) Thread.sleep((left - 1).toLong)
      else Thread.onSpinWait()
      left = tMs - nowMs
    }
  }
}

/** One traced interval. Spans of one file, one query or one run share a
  * `trace` id; `parent` is the id of the span that caused this one (-1 for
  * a root). Times are epoch milliseconds. */
final case class Span(id: Long, trace: String, name: String,
    start: Double, end: Double, parent: Long)

/** In-memory span store, written out when the run ends. Disabled (every
  * call a no-op) in untraced runs. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()

  def add(trace: String, name: String, start: Double, end: Double,
      parent: Long = -1): Long =
    if (!enabled) -1
    else {
      val id = ids.incrementAndGet()
      buf.add(Span(id, trace, name, start, end, parent))
      id
    }

  /** Time `body` as a span; children created inside get its id. */
  def around[A](trace: String, name: String, parent: Long = -1)(body: Long => A): A = {
    if (!enabled) body(-1)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try body(id)
      finally buf.add(Span(id, trace, name, t0, Clock.nowMs, parent))
    }
  }

  def all: Seq[Span] = buf.asScala.toSeq.sortBy(_.id)
}

/** Executor-layer counters from Spark's public [[SparkListener]] API.
  *
  * The listener bus is asynchronous, so the counting window opens and
  * closes on *fence jobs*: a one-task job in a dedicated job group. Events
  * of one listener queue arrive in order, so when the closing fence's end
  * event arrives every event of the window has been counted. */
final class ExecutorLayer extends SparkListener {
  private val FencePrefix = "perfbench-fence-"
  @volatile private var counting = false
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  private val fenceStages = ConcurrentHashMap.newKeySet[Int]()
  private val latches = new ConcurrentHashMap[String, CountDownLatch]()
  private val jobGroupOf = new ConcurrentHashMap[Int, String]()

  // mutated only on the listener-bus thread; read after a closing fence
  private var jobs, stages, tasks = 0L
  private var taskRunMs, taskCpuNs, gcMs, taskWaitMs = 0L
  private var shuffleWrite, shuffleRead, spill = 0L
  private val stageSubmit = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (group != null && group.startsWith(FencePrefix)) {
      fenceJobs.add(e.jobId)
      e.stageIds.foreach(id => fenceStages.add(id))
      jobGroupOf.put(e.jobId, group)
    } else if (counting) jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenceJobs.contains(e.jobId)) {
      val group = jobGroupOf.get(e.jobId)
      if (group.endsWith("-open")) { reset(); counting = true }
      else if (group.endsWith("-close")) counting = false
      Option(latches.get(group)).foreach(_.countDown())
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (counting && !fenceStages.contains(e.stageInfo.stageId))
      e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (counting && stageSubmit.contains(e.stageInfo.stageId)) stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (counting && stageSubmit.contains(e.stageId)) {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        taskRunMs += m.executorRunTime
        taskCpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += m.executorRunTime
      }
      taskWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmit(e.stageId))
    }

  private def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0
    taskRunMs = 0; taskCpuNs = 0; gcMs = 0; taskWaitMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    stageSubmit.clear(); stageTaskMs.clear()
  }

  private var fenceSeq = 0
  /** Run a fence job and wait until the listener has seen its end. */
  private def fence(sc: SparkContext, kind: String): Unit = {
    fenceSeq += 1
    val group = s"$FencePrefix$fenceSeq-$kind"
    val latch = new CountDownLatch(1)
    latches.put(group, latch)
    sc.setJobGroup(group, "perfbench listener fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    require(latch.await(60, TimeUnit.SECONDS), s"listener fence $group timed out")
  }
  def open(sc: SparkContext): Unit = fence(sc, "open")
  def close(sc: SparkContext): Unit = fence(sc, "close")

  /** Max over stages (with at least two tasks) of max ÷ median task time. */
  private def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = s(s.size / 2).toDouble
      if (med <= 0) 1.0 else s.last / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  def metrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.toDouble,
    "spark.stages" -> stages.toDouble,
    "spark.tasks" -> tasks.toDouble,
    "spark.task_run_ms" -> taskRunMs.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs / 1e6,
    "spark.gc_ms" -> gcMs.toDouble,
    "spark.task_wait_ms" -> taskWaitMs.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
    "spark.spill_bytes" -> spill.toDouble,
    "spark.task_skew" -> skew)
}

/** Micro-batch progress of the streaming queries, from the public
  * [[StreamingQueryListener]]. Queries are labelled by the role the
  * benchmark gave them (upload, download, quarantine). */
final class StreamingLayer(spans: Spans) extends StreamingQueryListener {
  import StreamingQueryListener._

  /** The durationMs phases in the order a micro-batch runs them. */
  val Phases: Seq[(String, String)] = Seq(
    "latestOffset" -> "latest_offset_ms", "walCommit" -> "wal_commit_ms",
    "getBatch" -> "get_batch_ms", "queryPlanning" -> "query_planning_ms",
    "addBatch" -> "add_batch_ms", "commitOffsets" -> "commit_offsets_ms")
  val Roles: Seq[String] = Seq("upload", "download", "quarantine")

  private val started = ConcurrentHashMap.newKeySet[java.util.UUID]()
  private val terminated = ConcurrentHashMap.newKeySet[java.util.UUID]()
  @volatile var parentSpan: Long = -1
  private val sums = new ConcurrentHashMap[String, Double]()
  private val stateMemPeak = new AtomicLong(0)
  @volatile private var stateRowsEnd = 0L

  private def add(k: String, v: Double): Unit = sums.merge(k, v, (a: Double, b: Double) => a + b)

  override def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.id)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.add(e.id)

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    // a progress event without addBatch reports an idle trigger, not a batch
    if (d.containsKey("addBatch")) {
      // the benchmark names the upload and download queries; the
      // quarantine query is started unnamed inside the app helper
      val role = Option(p.name).getOrElse("quarantine")
      val trigger = d.getOrDefault("triggerExecution", 0L).toDouble
      add(s"$role.batches", 1)
      add(s"$role.trigger_ms", trigger)
      add(s"$role.input_rows", p.numInputRows.toDouble)
      Phases.foreach { case (k, m) => add(s"$role.$m", d.getOrDefault(k, 0L).toDouble) }
      p.stateOperators.foreach { s =>
        add("state.rows_updated", s.numRowsUpdated.toDouble)
        add("state.rows_removed", s.numRowsRemoved.toDouble)
        add("state.commit_ms", s.commitTimeMs.toDouble)
        add("state.updates_ms", s.allUpdatesTimeMs.toDouble)
        add("state.removals_ms", s.allRemovalsTimeMs.toDouble)
        stateMemPeak.accumulateAndGet(s.memoryUsedBytes, math.max)
        stateRowsEnd = s.numRowsTotal
      }
      if (spans.enabled) {
        // durationMs carries durations only; lay the phases out in the
        // order the micro-batch executes them, from the trigger start
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val batch = spans.add(s"$role-${p.batchId}", s"batch.$role", start,
          start + trigger, parentSpan)
        var t = start
        Phases.foreach { case (k, _) =>
          val ms = d.getOrDefault(k, 0L).toDouble
          if (ms > 0) spans.add(s"$role-${p.batchId}", s"batch.$role.$k", t, t + ms, batch)
          t += ms
        }
      }
    }
  }

  /** Wait until every query that started has delivered its termination
    * event, and with it all of its progress events. */
  def awaitTerminated(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!started.asScala.forall(terminated.contains) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  def metrics(wallMs: Double): Map[String, Double] = {
    val perQuery = for (r <- Roles; m <- Seq("batches", "trigger_ms", "input_rows") ++ Phases.map(_._2))
      yield s"streaming.$r.$m" -> sums.getOrDefault(s"$r.$m", 0.0)
    val idle = Roles.map { r =>
      val trig = sums.getOrDefault(s"$r.trigger_ms", 0.0)
      s"streaming.$r.idle_ms" -> (if (sums.containsKey(s"$r.batches")) math.max(0.0, wallMs - trig) else 0.0)
    }
    val state = Seq("rows_updated", "rows_removed", "commit_ms", "updates_ms", "removals_ms")
      .map(m => s"streaming.state.$m" -> sums.getOrDefault(s"state.$m", 0.0)) ++ Seq(
      "streaming.state.rows_total_end" -> stateRowsEnd.toDouble,
      "streaming.state.memory_bytes_peak" -> stateMemPeak.get.toDouble)
    (perQuery ++ idle ++ state).toMap
  }

  def assemblerRowsRead: Double = sums.getOrDefault("download.input_rows", 0.0)
}

/** One SQL execution: its Catalyst phases (epoch ms start, end) and its
  * execution time. */
final case class Exec(phases: Map[String, (Long, Long)], durationMs: Double) {
  /** When planning finished: always inside the run of the query it serves. */
  def plannedAt: Double = phases.values.map(_._2).maxOption.getOrElse(0L).toDouble
}

/** A declared query's run: its wall window and its span. */
final case class QueryRun(query: String, start: Double, end: Double, span: Long)

/** Catalyst phases and execution time per SQL execution, from the public
  * [[QueryExecutionListener]]. Callbacks arrive on the listener bus after
  * the query has returned, so executions are matched to query runs by
  * time (the registry runs one query at a time), not by who is current
  * when the callback lands. Hidden eager actions inside a query's code
  * count against that query. */
final class QueryLayer extends QueryExecutionListener {
  private val execs = new ConcurrentLinkedQueue[Exec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execs.add(Exec(phasesOf(qe), durationNs / 1e6))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    execs.add(Exec(phasesOf(qe), 0.0))

  private def phasesOf(qe: QueryExecution): Map[String, (Long, Long)] =
    qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }

  /** Each recorded execution with the run it belongs to; executions
    * outside every run are dropped. Adds their phase spans under the run. */
  def attribute(runs: Seq[QueryRun], spans: Spans): Seq[(QueryRun, Exec)] =
    execs.asScala.toSeq.flatMap { e =>
      val t = e.plannedAt
      runs.find(r => r.start <= t && t <= r.end).map { r =>
        e.phases.foreach { case (k, (s, t)) => spans.add(r.query, s"query.$k", s.toDouble, t.toDouble, r.span) }
        spans.add(r.query, "query.execution", t, t + e.durationMs, r.span)
        r -> e
      }
    }
}

/** Registers the three listeners for a traced phase and unregisters them. */
final class Layers(spark: SparkSession, val spans: Spans) {
  val executor = new ExecutorLayer
  val streaming = new StreamingLayer(spans)
  val queries = new QueryLayer

  def open(): Unit = {
    spark.sparkContext.addSparkListener(executor)
    spark.streams.addListener(streaming)
    spark.listenerManager.register(queries)
    executor.open(spark.sparkContext)
  }

  def close(): Unit = {
    streaming.awaitTerminated(30000)
    executor.close(spark.sparkContext)
    spark.sparkContext.removeSparkListener(executor)
    spark.streams.removeListener(streaming)
    spark.listenerManager.unregister(queries)
  }
}
