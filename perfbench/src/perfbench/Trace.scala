package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. Times are epoch microseconds on one clock: the
  * harness converts its nanoTime readings, Spark's listener events carry
  * epoch milliseconds. `parent` is 0 for a root span. */
final class Span(val id: Long, val parent: Long, val layer: String,
                 val name: String, val start: Long) {
  @volatile var end: Long = start
  @volatile var failed: Boolean = false
}

/** Per-task Spark counters, folded into the job and stage that ran them. */
final case class TaskRec(stage: Int, launch: Long, finish: Long,
                         runMs: Long, gcMs: Long, shuffleWrite: Long,
                         shuffleRead: Long, spill: Long, input: Long,
                         output: Long, peakMem: Long)

/** Spans held in memory for the whole run and written out only after the
  * SparkContext has stopped, so writing them never overlaps timed work.
  * Spark jobs are parented through a local property that the harness sets
  * on the thread that submits them, so the program carries no tracing. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val nano0 = System.nanoTime()
  private val epochMicros0 = System.currentTimeMillis() * 1000L

  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  /** Spark job id → its span, and stage id → the job that first ran it. */
  private val jobSpans = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  def now(): Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L

  def open(layer: String, name: String, parent: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, layer, name, now())
    if (enabled) spans.add(s)
    s
  }

  def close(s: Span): Span = { s.end = now(); s }

  /** Run `body` inside a span; the span is closed on every exit path. */
  def span[A](layer: String, name: String, parent: Long)(body: Span => A): A = {
    val s = open(layer, name, parent)
    try body(s) finally close(s)
  }

  /** Parent every Spark job the current thread submits under `s`. */
  def bindThread(sc: SparkContext, s: Span): Unit =
    if (enabled) sc.setLocalProperty(Tracer.ParentKey, s.id.toString)

  def unbindThread(sc: SparkContext): Unit =
    if (enabled) sc.setLocalProperty(Tracer.ParentKey, null)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.ParentKey)))
        .map(_.toLong).getOrElse(0L)
      val s = new Span(ids.incrementAndGet(), parent, "spark.job",
        s"job ${e.jobId}", e.time * 1000L)
      spans.add(s)
      jobSpans.put(e.jobId, s)
      e.stageIds.foreach(st => stageJob.putIfAbsent(st, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpans.get(e.jobId)).foreach { s =>
        s.end = e.time * 1000L
        s.failed = e.jobResult != JobSucceeded
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      for (t0 <- info.submissionTime; t1 <- info.completionTime) {
        val parent = Option(stageJob.get(info.stageId)).map(_.id).getOrElse(0L)
        val s = new Span(ids.incrementAndGet(), parent, "spark.stage",
          s"stage ${info.stageId}.${info.attemptNumber()}", t0 * 1000L)
        s.end = t1 * 1000L
        s.failed = info.failureReason.isDefined
        spans.add(s)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime * 1000L,
        i.finishTime * 1000L, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.peakExecutionMemory))
    }
  }

  /** The span of the job that first ran `stage`, if it was traced. */
  def jobOfStage(stage: Int): Option[Span] = Option(stageJob.get(stage))

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allTasks: Seq[TaskRec] = tasks.asScala.toSeq
}

object Tracer {
  val ParentKey = "perfbench.parent"

  /** Depth of each layer; deeper layers win an instant of wall time. */
  val Depth: Map[String, Int] = Map(
    "workload" -> 0, "flow" -> 1, "query" -> 1, "task" -> 2,
    "query.build" -> 2, "query.plan" -> 2, "query.exec" -> 2,
    "spark.job" -> 3, "spark.stage" -> 4)

  /** Wall-clock self time per layer inside [from, to): every instant is
    * charged to the deepest layer with a span open at that instant, so
    * the layers' self times add up to the window exactly. With serial
    * spans this is each span minus what its children cover; with
    * concurrent spans an instant is charged once, not once per span. */
  def selfTimes(spans: Seq[Span], from: Long, to: Long): Map[String, Double] = {
    val layers = Depth.toSeq.sortBy(_._2).map(_._1).toIndexedSeq
    val evs = mutable.ArrayBuffer.empty[(Long, Int, Int)] // (t, +1/-1, layer)
    spans.foreach { s =>
      val a = math.max(s.start, from); val b = math.min(s.end, to)
      val l = layers.indexOf(s.layer)
      if (b > a) { evs += ((a, 1, l)); evs += ((b, -1, l)) }
    }
    val open = new Array[Int](layers.size)
    val self = new Array[Long](layers.size)
    var t = from
    evs.sortBy(e => (e._1, e._2)).foreach { case (at, delta, l) =>
      val deepest = open.lastIndexWhere(_ > 0)
      if (deepest >= 0) self(deepest) += at - t
      t = at
      open(l) += delta
    }
    layers.indices.map(i => layers(i) -> self(i) / 1e6).toMap
  }

  /** Length of [from, to) not covered by any of `ivs`. */
  def uncovered(from: Long, to: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cur = from
    ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    (to - from) - covered
  }
}
