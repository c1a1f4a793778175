package perfbench

import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: microseconds on the run's monotonic clock. */
final case class Span(id: Long, parent: Long, name: String,
    startUs: Long, endUs: Long, request: Long = -1)

object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def nowUs: Long = (System.nanoTime() - baseNano) / 1000
  /** Listener events carry epoch milliseconds; map them onto the same base. */
  def fromEpochMs(ms: Long): Long = (ms - baseEpochMs) * 1000
}

/** What one phase (a pipeline stage, a query, a lookup) cost, summed over
  * every traced execution of it.
  */
final class PhaseStats {
  var runs = 0L
  var wallUs = 0L
  var driverUs = 0L
  var commitUs = 0L
  var catalystMs = 0L
  var codegenNs = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var filesWritten = 0L
  var partitionsWritten = 0L
  var batches = 0L
  var batchMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Spans and counters recorded from outside the program: a SparkListener
  * (jobs, stages, tasks), a QueryExecutionListener (Catalyst phases), a
  * StreamingQueryListener (micro-batches) and deltas of the
  * code generator's compile time. Jobs find their phase through local
  * properties set on the calling thread; stream and broadcast threads
  * inherit them. Everything stays in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stats = mutable.LinkedHashMap.empty[String, PhaseStats]
  private case class JobInfo(span: Long, parent: Long, phase: String, startUs: Long)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  val workloadSpan: Long = ids.getAndIncrement()
  @volatile private var current: String = "unattributed"
  @volatile private var currentSpan: Long = workloadSpan
  @volatile private var enabled = false

  def newId(): Long = ids.getAndIncrement()
  def isEnabled: Boolean = enabled
  def add(s: Span): Unit = synchronized { spans += s }
  def statsOf(phase: String): PhaseStats = synchronized(stats.getOrElseUpdate(phase, new PhaseStats))

  private def phaseOf(props: Properties): (String, Long) = {
    val p = Option(props).flatMap(pr => Option(pr.getProperty(Tracer.PhaseKey)))
    val s = Option(props).flatMap(pr => Option(pr.getProperty(Tracer.SpanKey))).map(_.toLong)
    (p.getOrElse(current), s.getOrElse(currentSpan))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val (phase, parent) = phaseOf(e.properties)
      jobs(e.jobId) = JobInfo(newId(), parent, phase, Clock.fromEpochMs(e.time))
      e.stageIds.foreach(stageJob(_) = e.jobId)
      statsOf(phase).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        val end = Clock.fromEpochMs(e.time)
        spans += Span(j.span, j.parent, s"job ${e.jobId}", j.startUs, end)
        statsOf(j.phase).jobIntervals += ((j.startUs, end))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        statsOf(j.phase).stages += 1
        for (s <- si.submissionTime; c <- si.completionTime)
          spans += Span(newId(), j.span, s"stage ${si.stageId}",
            Clock.fromEpochMs(s), Clock.fromEpochMs(c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val phase = stageJob.get(e.stageId).flatMap(jobs.get).map(_.phase).getOrElse(current)
      val st = statsOf(phase)
      st.tasks += 1
      val d = e.taskInfo.duration
      st.taskMs += d
      st.maxTaskMs = math.max(st.maxTaskMs, d)
      Option(e.taskMetrics).foreach { m =>
        st.inputBytes += m.inputMetrics.bytesRead
        st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        st.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        st.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized {
        val st = statsOf(current)
        st.catalystMs += qe.tracker.phases
          .collect { case (k, v) if Tracer.CatalystPhases(k) => v.durationMs }.sum
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val st = statsOf(current)
        st.batches += 1
        st.batchMs += Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    enabled = true
  }

  def disable(): Unit = if (enabled) {
    PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    enabled = false
  }

  /** Run one phase; when tracing, record its span and self times. */
  def phase[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = newId()
    sc.setLocalProperty(Tracer.SpanKey, id.toString)
    sc.setLocalProperty(Tracer.PhaseKey, name)
    current = name
    currentSpan = id
    val cg0 = CodeGenerator.compileTime
    val t0 = Clock.nowUs
    try body
    finally {
      val t1 = Clock.nowUs
      PerfbenchBridge.drainListeners(sc)
      val cg = CodeGenerator.compileTime - cg0
      sc.setLocalProperty(Tracer.SpanKey, null)
      sc.setLocalProperty(Tracer.PhaseKey, null)
      current = "unattributed"
      currentSpan = workloadSpan
      synchronized {
        spans += Span(id, workloadSpan, name, t0, t1)
        val st = statsOf(name)
        st.runs += 1
        st.wallUs += t1 - t0
        st.codegenNs += cg
        // jobs of this execution only: those that started inside its span
        val mine = st.jobIntervals.filter { case (s, _) => s >= t0 - 1000 && s <= t1 }
        st.driverUs += (t1 - t0) - Tracer.covered(mine.toSeq, t0, t1)
        if (mine.nonEmpty) st.commitUs += math.max(0L, t1 - mine.map(_._2).max)
        st.jobIntervals.clear()
      }
    }
  }

  /** Counts the part files a write phase left under `roots` since
    * `sinceMs`, and the distinct directories (partitions) holding them.
    */
  def countWrites(phase: String, roots: Seq[String], sinceMs: Long): Unit = if (enabled) {
    val files = roots.map(new java.io.File(_)).filter(_.exists).flatMap { root =>
      val walk = java.nio.file.Files.walk(root.toPath)
      try walk.iterator.asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.startsWith("part-") && f.lastModified >= sinceMs)
        .toList
      finally walk.close()
    }
    synchronized {
      val st = statsOf(phase)
      st.filesWritten += files.size
      st.partitionsWritten += files.map(_.getParent).distinct.size
    }
  }

  /** Per-layer values, `<phase>.<metric>`, averaged per execution. */
  def layers(writePhases: Set[String], streamPhases: Set[String]): Map[String, Double] =
    synchronized {
      stats.iterator.filter(_._2.runs > 0).flatMap { case (p, s) =>
        val n = s.runs.toDouble
        val base = Seq(
          "wall_s" -> s.wallUs / 1e6 / n,
          "driver_s" -> s.driverUs / 1e6 / n,
          "catalyst_ms" -> s.catalystMs / n,
          "codegen_ms" -> s.codegenNs / 1e6 / n,
          "jobs" -> s.jobs / n,
          "stages" -> s.stages / n,
          "tasks" -> s.tasks / n,
          "task_s" -> s.taskMs / 1e3 / n,
          "max_task_s" -> s.maxTaskMs / 1e3,
          "input_bytes" -> s.inputBytes / n,
          "shuffle_bytes" -> s.shuffleBytes / n,
          "spill_bytes" -> s.spillBytes / n,
          "output_bytes" -> s.outputBytes / n)
        val writes = if (!writePhases(p)) Nil else Seq(
          "commit_s" -> s.commitUs / 1e6 / n,
          "files_written" -> s.filesWritten / n,
          "partitions_written" -> s.partitionsWritten / n)
        val streams = if (!streamPhases(p)) Nil else Seq(
          "batches" -> s.batches / n,
          "batch_s" -> s.batchMs / 1e3 / n)
        (base ++ writes ++ streams).map { case (k, v) => s"$p.$k" -> v }
      }.toMap
    }

  /** All spans as JSON lines, written once when the run ends. */
  def write(path: String, workload: String, startUs: Long, endUs: Long): Unit = {
    val all = synchronized(Span(workloadSpan, 0, workload, startUs, endUs) +: spans.toSeq)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${s.startUs},"end_us":${s.endUs},"request":${s.request}}""")
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"
  private val CatalystPhases = Set("analysis", "optimization", "planning")

  /** Length of [t0, t1] covered by the union of the intervals. */
  def covered(intervals: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var reach = t0
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }
}
