package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `parent` is the span that caused
  * it (0 = none); a query or request and the Spark jobs it started
  * share `trace`, the id of the query or request. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    layer: String, start: Long, end: Long)

/** In-memory span recorder, switched on for the traced rounds only. Off,
  * it only runs the body, so untraced rounds pay for one branch per call. */
final class Tracer {
  @volatile var on = false
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]

  /** Local property a driver thread carries so the listener can parent the
    * Spark jobs that thread starts. */
  val SpanKey = "perfbench.span"

  /** Runs `body` as a span; with `sc`, Spark jobs the calling thread starts
    * meanwhile are parented to it. */
  def span[T](name: String, layer: String, parent: Long = 0L,
      sc: Option[SparkContext] = None)(body: Long => T): T = {
    if (!on) return body(0L)
    val id = ids.incrementAndGet()
    val prev = sc.map(_.getLocalProperty(SpanKey))
    sc.foreach(_.setLocalProperty(SpanKey, id.toString))
    val t0 = System.nanoTime()
    try body(id)
    finally {
      spans.add(Span(id, parent, id, name, layer, t0, System.nanoTime()))
      sc.foreach(_.setLocalProperty(SpanKey, prev.orNull))
    }
  }

  /** Records a finished interval; returns its id (0 when off). */
  def add(parent: Long, trace: Long, name: String, layer: String,
      start: Long, end: Long): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, if (trace == 0L) id else trace, name, layer,
        start, end))
      id
    }

  /** Rewrites recorded spans, e.g. to parent jobs found by time overlap. */
  def reparent(f: Span => Span): Unit = {
    val now = all.map(f)
    spans.clear()
    now.foreach(spans.add)
  }

  def all: Seq[Span] = spans.asScala.toSeq
}

final case class StageStat(jobParent: Long, tasks: Int,
    wallS: Double, taskS: Double, shuffleReadB: Long, shuffleWriteB: Long,
    spillB: Long, gcS: Double)
final case class JobStat(parent: Long, start: Long, end: Long)

/** Per-stage and per-job execution statistics, collected only while
  * `recording` is set (the traced rounds). Job spans land in the tracer,
  * parented through the driver thread's span property. */
final class JobListener(tracer: Tracer) extends SparkListener {
  @volatile var recording = false

  val stages = new ConcurrentLinkedQueue[StageStat]
  val jobs = new ConcurrentLinkedQueue[JobStat]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
  private val stageParent = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(tracer.SpanKey))).map(_.toLong).getOrElse(0L)
    jobStart.put(e.jobId, (System.nanoTime(), parent))
    e.stageIds.foreach(s => stageParent.put(s, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
      val t1 = System.nanoTime()
      jobs.add(JobStat(parent, t0, t1))
      tracer.add(parent, parent, s"job-${e.jobId}", "spark", t0, t1)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (s <- i.submissionTime; c <- i.completionTime)
        yield (c - s) / 1e3).getOrElse(0.0)
      stages.add(StageStat(Option(stageParent.get(i.stageId))
          .map(_.longValue).getOrElse(0L), i.numTasks, wall,
        m.executorRunTime / 1e3, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.jvmGCTime / 1e3))
    }
}

/** Total size of the objects still reachable after a full collection, in
  * MB, from the JVM's class histogram, repeated until two readings agree
  * within 1%: broadcast blocks are released by Spark's cleaner only after a
  * collection finds their handles unreachable, so one reading counts
  * however many the cleaner had not reached yet. Neither the heap's `used`
  * figure after System.gc() (it varied by 70% between identical runs while
  * the reachable total did not), nor heap left by young collections (it
  * includes old-generation garbage), nor process VmHWM is used. */
object LiveHeap {
  def mb(): Double = {
    var prev = histogramBytes()
    var cur = prev
    var tries = 0
    do {
      Thread.sleep(300)
      prev = cur
      cur = histogramBytes()
      tries += 1
    } while (tries < 8 && math.abs(cur - prev) > 0.01 * prev)
    cur / 1048576.0
  }

  private def histogramBytes(): Long = {
    val histogram = ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array[String]()),
      Array("[Ljava.lang.String;")).toString
    histogram.linesIterator.filter(_.startsWith("Total")).toSeq.last
      .trim.split("\\s+")(2).toLong
  }
}
