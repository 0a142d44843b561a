package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval around a call into a layer of the engine. */
final case class Span(
    id: Long, parent: Long, name: String, request: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages and task metrics. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var stagesSkipped = 0L
  var tasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
    tasks += o.tasks; taskNs += o.taskNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
  }
}

/** Spans kept in memory, plus a listener that files every Spark job, stage
  * and task under the span that was open on the submitting thread.
  *
  * The span id travels as a Spark local property, so the work of a span is
  * found from the scheduler's own events; nothing inside the engine changes.
  * A disabled tracer records nothing and registers no listener: that is the
  * configuration the end-to-end metrics are measured in.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.{BatchProperty, SpanProperty, batchKey}

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }
  private val work = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val ranStages = ConcurrentHashMap.newKeySet[Int]()

  private def entry(span: Long): Work = work.computeIfAbsent(span, _ => new Work)

  /** The span a job belongs to: the open span of the submitting thread, or
    * for work a streaming query schedules on its own thread, a key derived
    * from the micro-batch id ([[batchKey]]). */
  private def spanOf(props: java.util.Properties): Long = Option(props).flatMap { p =>
    Option(p.getProperty(SpanProperty)).map(_.toLong)
      .orElse(Option(p.getProperty(BatchProperty)).map(b => batchKey(b.toLong)))
  }.getOrElse(0L)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      val w = entry(s)
      w.synchronized { w.jobs += 1 }
      jobStages.put(e.jobId, (s, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStages.remove(e.jobId)).foreach { case (s, ids) =>
        val skipped = ids.count(id => !ranStages.contains(id))
        val w = entry(s)
        w.synchronized { w.stagesSkipped += skipped }
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = spanOf(e.properties)
      stageSpan.put(e.stageInfo.stageId, s)
      ranStages.add(e.stageInfo.stageId)
      val w = entry(s)
      w.synchronized { w.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val m = e.taskMetrics
      val w = entry(s)
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.taskNs += m.executorRunTime * 1000000L
          w.gcMs += m.jvmGCTime
          w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  if (enabled) sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`; `request` names the unit of
    * work (workload/pass/query, or batch id) the span belongs to. */
  def span[T](name: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = current.get()
      val id = nextId.getAndIncrement()
      val before = sc.getLocalProperty(SpanProperty)
      current.set(id)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(SpanProperty, before)
        current.set(parent)
        spans.synchronized { spans += Span(id, parent, name, request, t0, t1) }
      }
    }

  /** Spans recorded so far, in the order they ended. The listener bus is
    * drained first, so the work of every span is complete. */
  def finish(): Seq[Span] = {
    if (enabled) org.apache.spark.perfbench.SparkBusAccess.drain(sc)
    spans.synchronized(spans.toList)
  }

  /** Work filed under exactly this span (not its children). */
  def selfWork(spanId: Long): Work = Option(work.get(spanId)).getOrElse(new Work)

  /** Work filed under any of these spans, summed. */
  def workOf(ids: Iterable[Long]): Work = {
    val w = new Work
    ids.foreach(id => w.add(selfWork(id)))
    w
  }

  /** Work of the spans and all their descendants. */
  def treeWork(all: Seq[Span], roots: Iterable[Long]): Work = {
    val children = all.groupBy(_.parent)
    val seen = mutable.Set.empty[Long]
    def walk(id: Long): Unit = if (seen.add(id)) children.getOrElse(id, Nil).foreach(c => walk(c.id))
    roots.foreach(walk)
    workOf(seen)
  }

  /** Work of micro-batch `batchId` that ran outside any span. */
  def batchWork(batchId: Long): Work = selfWork(batchKey(batchId))
}

object Tracer {
  val SpanProperty = "perfbench.span"
  /** Set by Spark on the jobs of each streaming micro-batch. */
  val BatchProperty = "streaming.sql.batchId"

  /** Work keys for micro-batches: negative, so they never collide with
    * span ids. */
  def batchKey(batchId: Long): Long = -1L - batchId

  /** Spans as rows for the trace artifact. */
  def rows(spans: Seq[Span], t0Ns: Long): Seq[Map[String, Any]] = spans.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "request" -> s.request,
      "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6)
  }
}
