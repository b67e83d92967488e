package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-ms digits;
  * `parent` is the id of the span that caused it (0 = root).
  */
final case class Span(id: Long, parent: Long, name: String,
                      startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Task metrics summed over the tasks of one job group and task type. */
final case class TaskAgg(tasks: Long = 0, runMs: Double = 0, cpuMs: Double = 0,
                         gcMs: Double = 0, shuffleReadBytes: Long = 0,
                         shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                         recordsWritten: Long = 0) {
  def +(o: TaskAgg): TaskAgg = TaskAgg(tasks + o.tasks, runMs + o.runMs,
    cpuMs + o.cpuMs, gcMs + o.gcMs, shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    recordsWritten + o.recordsWritten)
}

/** One micro-batch as `StreamingQueryProgress` reported it. */
final case class BatchProgress(query: String, batchId: Long, startMs: Double,
                               rows: Long, durations: Map[String, Long],
                               sourceStart: String, sourceEnd: String) {
  def trigger: Double = durations.getOrElse("triggerExecution", 0L).toDouble
  /** Share of `triggerExecution` its named phases account for. */
  def coverage: Double =
    if (trigger <= 0) 1.0
    else durations.filter(_._1 != "triggerExecution").values.sum / trigger
}

/** Codegen counters read from `CodegenMetrics`. The histograms keep every
  * sample up to their reservoir size (1028), so sums are exact below that
  * and estimated from the mean above it.
  */
final case class Codegen(classes: Long, compileMs: Double, sourceBytes: Double) {
  def -(o: Codegen): Codegen =
    Codegen(classes - o.classes, compileMs - o.compileMs, sourceBytes - o.sourceBytes)
}

/** Spans and Spark-side counters for one run, kept in memory and written
  * out when the run ends.
  *
  * The harness's own phase spans are always recorded (they are a few
  * hundred clock reads and feed the end-to-end metrics). With tracing on,
  * listeners add Catalyst phases (`QueryExecutionListener`), SQL
  * execution intervals and task metrics grouped by the `perfbench.phase`
  * job property (`SparkListener`), and per-batch `durationMs` phases
  * (`StreamingQueryListener`). Time spent inside those callbacks is
  * summed as the tracing overhead. Spark calls them on its asynchronous
  * listener bus, so this is the cpu time tracing takes from the run's
  * cores, not a delay it adds to the measured threads.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Time `body` as a child of the calling thread's innermost span. */
  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0L)
    stack.set(id :: stack.get)
    val t0 = nowMs
    try body
    finally {
      spans.add(Span(id, parent, name, t0, nowMs))
      stack.set(stack.get.tail)
    }
  }

  /** Record an interval measured elsewhere (another thread, a listener). */
  def record(name: String, startMs: Double, endMs: Double, parent: Long = 0): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, parent, name, startMs, endMs))
    id
  }

  def spansNamed(p: String => Boolean): Seq[Span] =
    spans.asScala.filter(s => p(s.name)).toSeq.sortBy(_.startMs)

  // ---- listener state (tracing on) ----
  private val overheadNs = new AtomicLong(0)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally overheadNs.addAndGet(System.nanoTime() - t0)
  }
  /** Catalyst tracker phases: (phase, start, end). */
  private val qePhases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  private val sqlStarts = new ConcurrentHashMap[Long, Double]()
  private val sqlExecs = new ConcurrentLinkedQueue[(Double, Double)]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobsByPhase = new ConcurrentHashMap[String, AtomicLong]()
  private val tasks = new ConcurrentHashMap[(String, String), TaskAgg]()
  private val progress = new ConcurrentLinkedQueue[BatchProgress]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timed(qe.tracker.phases.foreach { case (ph, s) =>
        qePhases.add((ph, s.startTimeMs.toDouble, s.endTimeMs.toDouble)) })
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val ph = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.PhaseKey)))
        .getOrElse("other")
      e.stageIds.foreach(stagePhase.put(_, ph))
      jobsByPhase.computeIfAbsent(ph, _ => new AtomicLong()).incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val ph = stagePhase.getOrDefault(e.stageId, "other")
        val agg = TaskAgg(1, m.executorRunTime.toDouble, m.executorCpuTime / 1e6,
          m.jvmGCTime.toDouble, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.recordsWritten)
        tasks.merge((ph, e.taskType), agg, (a: TaskAgg, b: TaskAgg) => a + b)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = timed(e match {
      case s: SparkListenerSQLExecutionStart => sqlStarts.put(s.executionId, s.time.toDouble)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach(t => sqlExecs.add((t, s.time.toDouble)))
      case _ =>
    })
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = timed {
      progress.add(Tracer.toBatch(e.progress))
    }
  }

  if (enabled) {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Tag jobs started from the calling thread (and threads it starts). */
  def phase(name: String): Unit = spark.sparkContext.setLocalProperty(Tracer.PhaseKey, name)

  // ---- readers ----
  def overheadMs: Double = overheadNs.get / 1e6
  def catalystIn(a: Double, b: Double): Map[String, Double] =
    qePhases.asScala.filter { case (_, s, e) => s >= a && e <= b }.toSeq
      .groupMapReduce(_._1)(t => t._3 - t._2)(_ + _)
  def catalystIntervals: Seq[(Double, Double)] = qePhases.asScala.map(t => (t._2, t._3)).toSeq
  def sqlIntervals: Seq[(Double, Double)] = sqlExecs.asScala.toSeq
  def tasksWhere(phase: String => Boolean, taskType: String => Boolean = _ => true): TaskAgg =
    tasks.asScala.collect { case ((p, t), a) if phase(p) && taskType(t) => a }
      .foldLeft(TaskAgg())(_ + _)
  def jobsWhere(phase: String => Boolean): Long =
    jobsByPhase.asScala.collect { case (p, n) if phase(p) => n.get }.sum
  def batches: Seq[BatchProgress] = progress.asScala.toSeq.sortBy(_.startMs)

  def codegen: Codegen = {
    def sum(h: com.codahale.metrics.Histogram): Double = {
      val snap = h.getSnapshot
      if (h.getCount <= snap.size) snap.getValues.map(_.toDouble).sum
      else snap.getMean * h.getCount
    }
    Codegen(CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      sum(CodegenMetrics.METRIC_COMPILATION_TIME),
      sum(CodegenMetrics.METRIC_SOURCE_CODE_SIZE))
  }

  // ---- JVM ----
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum.toDouble

  /** Write every span, Catalyst phase, SQL execution and batch phase as
    * JSON lines, then detach the listeners.
    */
  def close(path: String): Unit = {
    if (enabled) {
      spark.streams.removeListener(streamListener)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      qePhases.forEach { case (ph, s, e) => record(s"catalyst.$ph", s, e) }
      sqlExecs.forEach { case (s, e) => record("exec.sql", s, e) }
      progress.forEach { b =>
        val id = record(s"streaming.batch:${b.query}:${b.batchId}", b.startMs, b.startMs + b.trigger)
        b.durations.foreach { case (k, v) =>
          if (k != "triggerExecution") record(s"streaming.$k", b.startMs, b.startMs + v, id) }
      }
    }
    val lines = spans.asScala.toSeq.sortBy(_.startMs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${Json.num(s.startMs)},"end_ms":${Json.num(s.endMs)}}"""
    }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, lines.asJava)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  def toBatch(p: org.apache.spark.sql.streaming.StreamingQueryProgress): BatchProgress = {
    val src = p.sources.headOption
    BatchProgress(Option(p.name).getOrElse(p.id.toString), p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      src.map(_.startOffset).orNull, src.map(_.endOffset).orNull)
  }

  /** Length of the union of `intervals`, clipped to [a, b]. */
  def covered(intervals: Seq[(Double, Double)], a: Double, b: Double): Double = {
    val clipped = intervals.map { case (s, e) => (math.max(s, a), math.min(e, b)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    clipped.foldLeft((0.0, a)) { case ((acc, reach), (s, e)) =>
      if (e <= reach) (acc, reach) else (acc + e - math.max(s, reach), e)
    }._1
  }
}
