package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region: name, start and end (epoch ms, fractional), the
 *  enclosing span and the batch it belongs to. */
final case class Span(id: Int, name: String, parent: Int, batch: Long,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One finished task as the listener saw it. `group` is the job group
 *  of the job the task ran for. */
final case class TaskRec(group: String, launchMs: Long, finishMs: Long,
    cpuNs: Long, shuffleBytes: Long, spillBytes: Long)

/** Spans and Spark counters of the traced phase of a run.
 *
 *  Every span sets a job group of its own on the calling thread, so the
 *  listener attributes each job, and each task of it, to the span that
 *  started it. A job that starts carrying neither the group of a span
 *  open at that moment nor the group of a running streaming query is
 *  counted as unattributed. Spans and task records stay in memory;
 *  [[writeSpans]] writes the spans once, at the end. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  val tasks = ArrayBuffer.empty[TaskRec]
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val openGroups = ConcurrentHashMap.newKeySet[String]()
  private val streamGroups = ConcurrentHashMap.newKeySet[String]()
  @volatile var jobs = 0
  @volatile var jobsUnattributed = 0
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  @volatile private var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobGroup.put(e.jobId, if (g == null) "" else g)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      Tracer.this.synchronized {
        jobs += 1
        if (g == null || !(openGroups.contains(g) || streamGroups.contains(g)))
          jobsUnattributed += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val m = e.taskMetrics
      val job: Integer = stageJob.get(e.stageId)
      val g = if (job == null) "" else jobGroup.getOrDefault(job.intValue, "")
      val rec = TaskRec(g, e.taskInfo.launchTime, e.taskInfo.finishTime,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      Tracer.this.synchronized { tasks += rec }
    }
  }
  sc.addSparkListener(listener)

  def start(): Unit = on = true
  def stop(): Unit = { on = false; sc.removeSparkListener(listener) }

  /** Jobs of a running streaming query carry its run id as job group. */
  def streamStarted(runId: String): Unit = streamGroups.add(runId)

  def groupOf(spanId: Int): String = s"perfbench-span-$spanId"

  def span[T](name: String, batch: Long)(body: => T): T = {
    val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption.getOrElse(0)) }
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val saved = keys.map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(groupOf(id), name)
    openGroups.add(groupOf(id))
    stack.set(id :: stack.get)
    val t0 = Tracer.nowMs()
    try body
    finally {
      val t1 = Tracer.nowMs()
      stack.set(stack.get.tail)
      openGroups.remove(groupOf(id))
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      synchronized { spans += Span(id, name, parent, batch, t0, t1) }
    }
  }

  /** A span whose start and end were measured elsewhere (a streaming
   *  micro-batch from its progress report); returns its id. */
  def record(name: String, batch: Long, startMs: Double, endMs: Double, parent: Int = 0): Int =
    synchronized { nextId += 1; spans += Span(nextId, name, parent, batch, startMs, endMs); nextId }

  /** Times `body` as a span without touching the thread's job group,
   *  for code the program runs on its own threads. */
  def timed[T](name: String, batch: Long)(body: => T): T = {
    val t0 = Tracer.nowMs()
    try body finally record(name, batch, t0, Tracer.nowMs())
  }

  /** Self time of every span: its duration minus the union of its
   *  direct children's intervals. */
  def selfMs: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Tracer.unionMs(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)).toSeq)
      s.id -> (s.ms - covered)
    }.toMap
  }

  /** Tasks of the jobs started inside the spans named `name`. */
  def tasksOf(name: String): Seq[TaskRec] = {
    val groups = spans.filter(_.name == name).map(s => groupOf(s.id)).toSet
    tasks.filter(t => groups.contains(t.group)).toSeq
  }

  /** Wall time of [startMs, endMs] during which no task was running. */
  def idleMs(startMs: Double, endMs: Double): Double = {
    val inside = tasks.iterator
      .map(t => (math.max(t.launchMs.toDouble, startMs), math.min(t.finishMs.toDouble, endMs)))
      .filter { case (a, b) => b > a }.toSeq
    (endMs - startMs) - Tracer.unionMs(inside)
  }

  def writeSpans(path: String): Unit = {
    val lines = spans.sortBy(_.startMs).map(s => Json.obj(Map("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "batch" -> s.batch, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    Files.writeLines(path, lines.toSeq)
  }
}

object Tracer {
  def nowMs(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  /** Total length of the union of intervals. */
  def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    for ((a, b) <- iv.sortBy(_._1)) {
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** Progress of every micro-batch that read input, in arrival order. */
final case class Progress(batchId: Long, startMs: Double, durations: Map[String, Long], rows: Long) {
  def ms(k: String): Long = durations.getOrElse(k, 0L)
  def endMs: Double = startMs + ms("triggerExecution")
}

final class ProgressLog extends StreamingQueryListener {
  val batches = new java.util.concurrent.LinkedBlockingQueue[Progress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      val start = java.time.Instant.parse(p.timestamp)
      batches.put(Progress(p.batchId, start.getEpochSecond * 1000.0 + start.getNano / 1e6,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
    }
  }
}

/** JVM-wide counters read at the edges of a phase. */
final case class JvmSnapshot(gcMs: Long, jitMs: Long)

object Jvm {
  def snapshot(): JvmSnapshot = JvmSnapshot(
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime)

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
