package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. Times are wall-clock
  * nanoseconds from `System.nanoTime`; `parent` is -1 for an op's root.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are kept only for ops started with
  * `traced = true`; for the others `span` just runs the body, so an
  * untraced op does exactly the calls a traced one does, minus the
  * bookkeeping.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = -1
  private var on = false

  def begin(opId: Int, traced: Boolean): Unit = { op = opId; on = traced; stack = Nil }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Span duration minus the union of its direct children's intervals. */
  def selfMs(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).toSeq.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    ((s.endNs - s.startNs) - covered) / 1e6
  }
}

/** Per-op Spark counters. Jobs are tagged with the op's job group
  * (`op-<id>`); stages and tasks inherit the op of their job. The
  * `details` of each stage (its user call site) tells which program
  * function started the job.
  */
final class OpCounters {
  val jobs = new AtomicLong(); val stages = new AtomicLong(); val tasks = new AtomicLong()
  val busyMs = new AtomicLong()
  val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
  val spill = new AtomicLong(); val recordsRead = new AtomicLong()
  val loadJobs = new AtomicLong()
  /** (submission wall-clock ms) per job, to split jobs by op phase. */
  val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  /** (launch, finish) wall-clock ms per task, for the driver gap. */
  val taskSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

final class CountingListener extends SparkListener {
  val byOp = new ConcurrentHashMap[Int, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)

  private def counters(op: Int): OpCounters = byOp.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    opOf(e.properties).foreach { op =>
      val c = counters(op)
      c.jobs.incrementAndGet()
      c.jobTimes.add(e.time)
      e.stageIds.foreach(stageOp.put(_, op))
      // A job started by Tables.load (schema inference, footer reads)
      // carries that call site in its stages' details.
      if (e.stageInfos.exists(_.details.contains("graft.api.Tables$.load")))
        c.loadJobs.incrementAndGet()
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => counters(op).stages.incrementAndGet())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageOp.containsKey(e.stageId)) return
    val c = counters(stageOp.get(e.stageId))
    c.tasks.incrementAndGet()
    c.taskSpans.add((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.busyMs.addAndGet(m.executorRunTime)
      c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }
}

object Trace {
  /** Wall time inside [fromMs, toMs) during which no task of the op ran. */
  def gapMs(c: OpCounters, fromMs: Long, toMs: Long): Double = {
    val iv = c.taskSpans.asScala.toSeq
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    math.max(0L, (toMs - fromMs) - covered).toDouble
  }
}
