package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One client call (or a grouping of calls) with its wall-clock bounds.
  * `startMs`/`endMs` are epoch millis, the clock Spark's listener events
  * carry, so jobs and plans can be matched to the call that issued them. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long, codegenNs: Long) {
  def wallMs: Double = (endNs - startNs) / 1e6
}

/** Records spans in memory and, when `listen` is on, the listener
  * counters around them: Spark jobs/stages/tasks (SparkListener), planning
  * phases and scan metrics per executed plan (QueryExecutionListener), and
  * micro-batch progress (StreamingQueryListener). Attribution happens once
  * the run ends, by time: the client is single-threaded, so each job or
  * plan belongs to the call whose wall interval contains its start. */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val nextId = new java.util.concurrent.atomic.AtomicInteger

  def span[T](name: String, kind: String)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = open.get.headOption.getOrElse(-1)
    open.set(id :: open.get)
    val c0 = CodeGenerator.compileTime
    val ms0 = System.currentTimeMillis(); val ns0 = System.nanoTime()
    try body
    finally {
      val ns1 = System.nanoTime(); val ms1 = System.currentTimeMillis()
      open.set(open.get.tail)
      val s = Span(id, name, kind, parent, ns0, ns1, ms0, ms1, CodeGenerator.compileTime - c0)
      spans.synchronized(spans += s)
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toSeq)
  def clear(): Unit = spans.synchronized(spans.clear())
  def retain(keep: Span => Boolean): Unit = spans.synchronized(spans.filterInPlace(keep))
}

final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long, runMs: Long,
    cpuNs: Long, gcMs: Long, shuffleWriteB: Long, fetchWaitMs: Long, spillB: Long,
    peakMemB: Long, outputB: Long)
final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, phases: Seq[(Long, Long)], filesRead: Long, rowsScanned: Long)
final case class BatchRec(timeMs: Long, inputRows: Long, droppedRows: Long,
    durations: Map[String, Long])

/** The benchmark's listener: registered only in the traced phase. */
final class Counters extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    jobs += JobRec(e.jobId, e.time, -1L, e.stageInfos.map(_.stageId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events += 1
    jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.outputMetrics.bytesWritten)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def d(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
    var files, rows = 0L
    def scans(p: SparkPlan): Unit = collectWithSubqueries(p) {
      case s: FileSourceScanExec => s
      case s: BatchScanExec => s
    }.foreach { s =>
      files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    try scans(qe.executedPlan) catch { case _: Throwable => }
    synchronized {
      events += 1
      plans += PlanRec(start, d(org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS),
        d(org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION),
        d(org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING),
        ph.values.map(x => (x.startTimeMs, x.endTimeMs)).toSeq, files, rows)
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Counters.this.synchronized {
      events += 1
      val p = e.progress
      if (p.numInputRows > 0) {
        val ds = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
          .map { case (k, v) => k -> v.longValue }.toMap
        // rows the stream itself dropped: replays (dedup state) and rows
        // behind the watermark
        val dropped = p.stateOperators.map { so =>
          so.numRowsDroppedByWatermark +
            Option(so.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)
        }.sum
        batches += BatchRec(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.numInputRows, dropped, ds)
      }
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streaming)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streaming)
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and the event count has been still for a moment. */
  def settle(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stillSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, pending) = synchronized((events, jobs.count(_.endMs < 0)))
      if (n != last) { last = n; stillSince = System.currentTimeMillis() }
      else if (pending == 0 && System.currentTimeMillis() - stillSince > 300) return
      Thread.sleep(50)
    }
  }
}

/** Per-call layer split: each listener record is attributed to the op span
  * whose interval holds its start. The call's wall is then partitioned
  * exactly: time inside Spark jobs (task critical path plus scheduling
  * overhead), driver planning outside jobs (the QueryPlanningTracker
  * phases), and the rest (engine code outside Spark). Codegen compile time
  * is reported beside the partition, since it overlaps the other parts. */
object Attribution {
  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var s = -1L; var e = -1L
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
      }
    if (e > s) total += e - s
    total
  }

  def apply(ops: Seq[Span], c: Counters, cores: Int): Seq[Map[String, Any]] = {
    val sorted = ops.sortBy(_.startNs).toIndexedSeq
    val starts = sorted.map(_.startMs).toArray
    def owner(ms: Long): Option[Int] = {
      // last op starting at or before ms (1 ms slack for clock granularity)
      var lo = 0; var hi = starts.length - 1; var ans = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (starts(mid) <= ms) { ans = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (ans >= 0 && ms <= sorted(ans).endMs + 1) Some(ans) else None
    }
    val stageJob = mutable.Map.empty[Int, Int]
    c.jobs.foreach(j => j.stages.foreach(s => stageJob(s) = j.jobId))
    val jobOwner = c.jobs.flatMap(j => owner(j.startMs).map(j.jobId -> _)).toMap
    val jobsBy = c.jobs.groupBy(j => jobOwner.get(j.jobId))
    val tasksBy = c.tasks.groupBy(t => stageJob.get(t.stageId).flatMap(jobOwner.get))
    val plansBy = c.plans.groupBy(p => owner(p.startMs))
    val batchesBy = c.batches.groupBy(b => owner(b.timeMs))
    sorted.indices.map { i =>
      val op = sorted(i)
      val js = jobsBy.getOrElse(Some(i), Nil).filter(_.endMs >= 0)
      val ts = tasksBy.getOrElse(Some(i), Nil)
      val ps = plansBy.getOrElse(Some(i), Nil)
      val bs = batchesBy.getOrElse(Some(i), Nil)
      val jobIv = js.map(j => (j.startMs, j.endMs)).toSeq
      val planIv = ps.flatMap(_.phases).toSeq
      val jobsWall = covered(jobIv, op.startMs, op.endMs)
      val spanMs = op.endMs - op.startMs
      val sparkMs = covered(jobIv ++ planIv, op.startMs, op.endMs)
      // critical path: per job, its stages' longest tasks in sequence
      val byStage = ts.groupBy(_.stageId)
      val critical = js.map { j =>
        val path = j.stages.flatMap(byStage.get).map(_.map(t => t.finishMs - t.launchMs).max).sum
        math.min(path, j.endMs - j.startMs)
      }.sum
      val stageShares = byStage.values.toSeq.map { st =>
        val tot = st.map(_.runMs).sum.toDouble
        (tot, if (tot > 0) st.map(_.runMs).max / tot else 0.0)
      }
      val taskTime = stageShares.map(_._1).sum
      Map[String, Any](
        "id" -> op.id, "parent" -> op.parent, "name" -> op.name, "kind" -> op.kind,
        "wall_ms" -> op.wallMs, "span_ms" -> spanMs,
        "analysis_ms" -> ps.map(_.analysisMs).sum, "optimization_ms" -> ps.map(_.optimizationMs).sum,
        "planning_ms" -> ps.map(_.planningMs).sum, "codegen_ms" -> op.codegenNs / 1e6,
        "plans" -> ps.size, "jobs" -> js.size, "stages" -> js.map(_.stages.size).sum,
        "tasks" -> ts.size, "jobs_wall_ms" -> jobsWall,
        "critical_ms" -> math.min(critical, jobsWall),
        "driver_ms" -> (sparkMs - jobsWall), "nonspark_ms" -> (spanMs - sparkMs),
        "task_run_ms" -> ts.map(_.runMs).sum, "cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> ts.map(_.gcMs).sum, "shuffle_write_b" -> ts.map(_.shuffleWriteB).sum,
        "fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum, "spill_b" -> ts.map(_.spillB).sum,
        "peak_task_mem_b" -> (if (ts.isEmpty) 0L else ts.map(_.peakMemB).max),
        "output_b" -> ts.map(_.outputB).sum,
        "slot_util" -> (if (jobsWall > 0) ts.map(_.runMs).sum / (jobsWall.toDouble * cores) else 0.0),
        "max_task_share" -> (if (taskTime > 0) stageShares.map(s => s._1 * s._2).sum / taskTime else 0.0),
        "files_read" -> ps.map(_.filesRead).sum, "rows_scanned" -> ps.map(_.rowsScanned).sum,
        "batches" -> bs.size, "batch_input_rows" -> bs.map(_.inputRows).sum,
        "batch_dropped_rows" -> bs.map(_.droppedRows).sum,
        "batch_ms" -> bs.map(_.durations.getOrElse("triggerExecution", 0L)).sum,
        "add_batch_ms" -> bs.map(_.durations.getOrElse("addBatch", 0L)).sum,
        "commit_ms" -> bs.map(_.durations.getOrElse("commitOffsets", 0L)).sum,
        "stream_planning_ms" -> bs.map(_.durations.getOrElse("queryPlanning", 0L)).sum)
    }
  }
}
