package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same time
  * base as Spark's listener events (System.currentTimeMillis). */
object Clock {
  private val e0 = System.currentTimeMillis()
  private val n0 = System.nanoTime()
  def now: Double = e0 + (System.nanoTime() - n0) / 1e6
}

/** One timed interval: run, pass, query, construct, execute, drain ... */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    start: Double, var end: Double) {
  def ms: Double = end - start
}

/** Spans recorded by the harness around each call into the program.
  * Kept in memory; written out when the run ends. Spark jobs, stages and
  * planning phases are matched to spans by their start times. */
final class Spans {
  val all = mutable.ArrayBuffer.empty[Span]
  def open(name: String, kind: String, parent: Int): Span = {
    val s = Span(all.size, parent, name, kind, Clock.now, Double.NaN)
    all += s
    s
  }
  def close(s: Span): Span = { s.end = Clock.now; s }
  def time[T](name: String, kind: String, parent: Int)(f: Span => T): (T, Span) = {
    val s = open(name, kind, parent)
    try { val r = f(s); (r, close(s)) }
    finally if (s.end.isNaN) close(s)
  }
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id).toSeq
}

/** Live heap: the heap in use right after a full GC, taken at the
  * boundaries between timed passes or drains (outside their spans), so
  * the reading does not depend on when young collections happened. The
  * second GC follows Spark's ContextCleaner, which frees the blocks of
  * broadcasts and shuffles the first GC found unreachable. A trivial
  * action first replaces the session's last executed plan, so whichever
  * query the seeded order put last does not keep its broadcasts alive. */
final class LiveHeap(spark: org.apache.spark.sql.SparkSession) {
  private val samples = mutable.ArrayBuffer.empty[Double]
  def sample(): Unit = {
    spark.range(1).collect()
    System.gc()
    Thread.sleep(200)
    System.gc()
    samples += ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** The median reading: a cleanup that lands after one boundary's GC
    * moves a single reading, not the result. */
  def mb: Double = Layers.median(samples.toSeq)
}

/** Listener-side records of one run (traced runs only). */
final class Recorder extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, start: Long, var end: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, tasks: Int,
      submitted: Long, completed: Long)
  final case class Task(stageId: Int, launch: Long, finish: Long,
      attempt: Int, runMs: Long, cpuNs: Long, gcMs: Long, deserMs: Long,
      peakMem: Long, inBytes: Long, inRows: Long, shufWrite: Long,
      shufWriteNs: Long, shufRecords: Long, shufRead: Long,
      fetchWaitMs: Long, spillMem: Long, spillDisk: Long)
  final case class Phase(name: String, start: Long, end: Long)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val phases = mutable.ArrayBuffer.empty[Phase]
  private val open = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = Job(e.jobId, e.time, -1L, e.stageIds)
    open(e.jobId) = j
    jobs += j
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      stages += Stage(si.stageId, si.attemptNumber(), si.numTasks,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L))
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, i.launchTime, i.finishTime,
      i.attemptNumber, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.executorDeserializeTime, m.peakExecutionMemory,
      m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleWriteMetrics.recordsWritten,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled, m.diskBytesSpilled)
  }

  private def onQe(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += Phase(name, p.startTimeMs, p.endTimeMs)
    }
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = onQe(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = onQe(qe)

  /** Listener events arrive asynchronously: wait until every started job
    * has ended and the stream of events has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val n = synchronized { if (open.nonEmpty) -2 else tasks.size + stages.size + phases.size }
      if (n >= 0 && n == last) quiet += 1 else quiet = 0
      last = n
    }
  }
}

/** StreamingQueryProgress events of the measured stream. */
final class ProgressLog extends StreamingQueryListener {
  import StreamingQueryListener._
  val events = mutable.ArrayBuffer.empty[(Double, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    synchronized { events += ((Clock.now, e.progress)) }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def in(from: Double, to: Double): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    synchronized { events.filter { case (t, _) => t >= from && t <= to }.map(_._2).toSeq }
}

/** Per-layer metrics computed from spans and listener records. */
object Layers {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  /** Self time per span kind: duration minus the part its child spans
    * and (for leaf spans) Spark jobs cover. */
  def selfTimes(spans: Spans, rec: Recorder): Map[String, Double] = {
    val jobIvs = rec.jobs.filter(_.end > 0).map(j => (j.start.toDouble, j.end.toDouble)).toSeq
    spans.all.filterNot(_.end.isNaN).groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val kids = spans.children(s).map(c => (c.start, c.end))
        s.ms - covered(if (kids.nonEmpty) kids else jobIvs, s.start, s.end)
      }.sum
    }
  }

  /** Scheduler, executor, scan, shuffle, spill and catalyst metrics for
    * the work started inside `windows`, divided by `per` (passes). */
  def spark(rec: Recorder, windows: Seq[Span], cores: Int, per: Double): Map[String, Double] = {
    def inside(t: Double) = windows.exists(w => t >= w.start && t <= w.end)
    val jobs = rec.jobs.filter(j => inside(j.start.toDouble) && j.end > 0).toSeq
    val stageIdsOfJobs = jobs.flatMap(_.stageIds).toSet
    val stages = rec.stages.filter(s => stageIdsOfJobs(s.id)).toSeq
    val tasks = rec.tasks.filter(t => stageIdsOfJobs(t.stageId)).toSeq
    val phases = rec.phases.filter(p => inside(p.start.toDouble)).toSeq
    val jobIvs = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val jobCover = windows.map(w => covered(jobIvs, w.start, w.end)).sum
    val runMs = tasks.map(_.runMs).sum.toDouble
    val submitted = stages.map(_.id).toSet
    val longest = stages.sortBy(s => -(s.completed - s.submitted)).headOption
    val skew = longest.map { s =>
      val ds = tasks.filter(_.stageId == s.id).map(t => (t.finish - t.launch).toDouble)
      val m = median(ds)
      if (ds.isEmpty || m <= 0) 1.0 else ds.max / m
    }.getOrElse(0.0)
    def phase(n: String) = phases.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum
    def sum(f: Recorder#Task => Long) = tasks.map(f).sum.toDouble
    Map(
      "catalyst.analysis_ms" -> phase("analysis") / per,
      "catalyst.optimization_ms" -> phase("optimization") / per,
      "catalyst.planning_ms" -> phase("planning") / per,
      "scheduler.jobs" -> jobs.size / per,
      "scheduler.stages" -> submitted.size / per,
      "scheduler.stages_skipped" -> (stageIdsOfJobs -- submitted).size / per,
      "scheduler.tasks" -> tasks.size / per,
      "scheduler.tasks_per_stage" ->
        (if (submitted.isEmpty) 0.0 else tasks.size.toDouble / submitted.size),
      "scheduler.job_ms" -> jobs.map(j => (j.end - j.start).toDouble).sum / per,
      "scheduler.task_retry_ratio" ->
        (if (tasks.isEmpty) 0.0 else tasks.count(_.attempt > 0).toDouble / tasks.size),
      "executor.run_ms" -> runMs / per,
      "executor.cpu_ms" -> sum(_.cpuNs) / 1e6 / per,
      "executor.gc_ms" -> sum(_.gcMs) / per,
      "executor.deserialize_ms" -> sum(_.deserMs) / per,
      "executor.core_util" -> (if (jobCover <= 0) 0.0 else runMs / (jobCover * cores)),
      "executor.task_skew" -> skew,
      "executor.peak_memory_bytes" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble),
      "scan.bytes" -> sum(_.inBytes) / per,
      "scan.rows" -> sum(_.inRows) / per,
      "shuffle.write_bytes" -> sum(_.shufWrite) / per,
      "shuffle.read_bytes" -> sum(_.shufRead) / per,
      "shuffle.records" -> sum(_.shufRecords) / per,
      "shuffle.fetch_wait_ms" -> sum(_.fetchWaitMs) / per,
      "shuffle.write_ms" -> sum(_.shufWriteNs) / 1e6 / per,
      "spill.memory_bytes" -> sum(_.spillMem) / per,
      "spill.disk_bytes" -> sum(_.spillDisk) / per)
  }

  /** Driver time not covered by any Spark job, over the given spans. */
  def driverGap(rec: Recorder, spansOf: Seq[Span]): Double = {
    val ivs = rec.jobs.filter(_.end > 0).map(j => (j.start.toDouble, j.end.toDouble)).toSeq
    spansOf.map(s => s.ms - covered(ivs, s.start, s.end)).sum
  }

  /** Codegen counters (JVM-wide): compiles and compile nanoseconds. */
  def codegen(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Every per-layer metric name, in BENCHMARK.json order. */
  val names: Seq[String] = Seq(
    "queries.construct_ms", "queries.construct_jobs",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compiles", "codegen.compile_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.stages_skipped",
    "scheduler.tasks", "scheduler.tasks_per_stage", "scheduler.job_ms",
    "scheduler.task_retry_ratio", "driver.gap_ms", "driver.gap_share",
    "executor.run_ms", "executor.cpu_ms", "executor.gc_ms",
    "executor.deserialize_ms", "executor.core_util", "executor.task_skew",
    "executor.peak_memory_bytes", "scan.bytes", "scan.rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "shuffle.fetch_wait_ms", "shuffle.write_ms", "spill.memory_bytes",
    "spill.disk_bytes", "stream.batches", "stream.batch_ms",
    "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
    "stream.commit_offsets_ms", "stream.latest_offset_ms",
    "stream.rows_per_batch", "stream.nonempty_batch_ratio",
    "state.rows_total", "state.memory_bytes", "state.rows_updated",
    "state.rows_removed", "state.commit_ms", "state.update_ms",
    "state.removal_ms", "state.checkpoint_bytes", "state.late_rows_dropped",
    "source.lag_ms")

  /** Write spans (with run id) and the Spark records as JSON lines. */
  def writeTrace(path: String, runId: String, spans: Spans, rec: Recorder,
      self: Map[String, Double]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.all.foreach { s =>
        w.println(Json(Map("type" -> "span", "run" -> runId, "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
          "start_ms" -> s.start, "end_ms" -> s.end)))
      }
      rec.jobs.foreach { j =>
        w.println(Json(Map("type" -> "job", "run" -> runId, "id" -> j.id,
          "start_ms" -> j.start, "end_ms" -> j.end, "stages" -> j.stageIds)))
      }
      rec.stages.foreach { s =>
        w.println(Json(Map("type" -> "stage", "run" -> runId, "id" -> s.id,
          "attempt" -> s.attempt, "tasks" -> s.tasks,
          "start_ms" -> s.submitted, "end_ms" -> s.completed)))
      }
      w.println(Json(Map("type" -> "self_ms", "run" -> runId, "by_kind" -> self)))
    } finally w.close()
  }
}
