package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory spans recorded by the benchmark around its calls into the
  * program's layers. The executors of a `local[n]` session share the
  * driver's JVM, so task-side spans land in the same queue. Spans are kept
  * in memory while the workload runs and written out as JSON at the end.
  */
object Trace {

  final case class Span(id: Long, parent: Long, name: String, thread: Long, startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  /** Records `f` as a span named `name`, a child of `parent` (default: the
    * innermost open span on this thread). Returns `f`'s value; costs one
    * flag read when tracing is off.
    */
  def span[T](name: String, parent: Long = -1L)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val p = if (parent >= 0) parent else stack.headOption.getOrElse(0L)
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, p, name, Thread.currentThread().getId, t0, System.nanoTime()))
        open.set(stack)
      }
    }

  /** The id the next span opened on this thread would get as its parent. */
  def current: Long = open.get.headOption.getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time in ns per span name: each span's duration minus the part of
    * it its children cover (children run on the span's own thread and do
    * not overlap).
    */
  def selfNs(ss: Seq[Span]): Map[String, Long] = {
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    ss.groupBy(_.name).view.mapValues(_.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum).toMap
  }

  def toJson(ss: Seq[Span]): String =
    ss.sortBy(_.id).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","thread":${s.thread},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
}

/** Spark-wide counters over the interval it is attached for. */
final class SparkCounters extends SparkListener {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var taskMs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var outputBytes = 0L
  @volatile var inputBytes = 0L
  private val stageTaskMs = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      inputBytes += m.inputMetrics.bytesRead
      stageTaskMs.computeIfAbsent(e.stageId, _ => new ConcurrentLinkedQueue[Long]()).add(m.executorRunTime)
    }
  }

  /** Task skew: the max/median task time of each stage with at least two
    * tasks, averaged with each stage's total task time as its weight.
    */
  def taskSkew: Double = {
    val perStage = stageTaskMs.values.asScala.map(_.asScala.toIndexedSeq.sorted).filter(_.size >= 2)
    val weighted = perStage.map { ts =>
      val med = math.max(ts(ts.size / 2), 1L).toDouble
      (ts.last / med, ts.sum.toDouble)
    }
    val w = weighted.map(_._2).sum
    if (w <= 0) 1.0 else weighted.map { case (r, x) => r * x }.sum / w
  }
}
