package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One call into a layer: `name` is `<layer>.<call>`, `parent` is the
  * enclosing span (0 at the top), times are `System.nanoTime`. */
final case class Span(runId: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work done under one span, summed from the listener's task and
  * stage events. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedulerDelayMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  /** (stage duration ms, max task ms / median task ms) per stage. */
  val stageSkew = mutable.ArrayBuffer.empty[(Long, Double)]

  def +=(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    schedulerDelayMs += o.schedulerDelayMs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; bytesWritten += o.bytesWritten
    stageSkew ++= o.stageSkew
    this
  }

  /** Max over median task time in the slowest stage (1.0 when no stage ran). */
  def slowestStageSkew: Double =
    if (stageSkew.isEmpty) 1.0 else stageSkew.maxBy(_._1)._2
}

/** Times every call a workload makes into a layer and, while `enabled`,
  * records it as a [[Span]] and attributes Spark's task metrics to it.
  *
  * Step durations are kept in both modes (two `nanoTime` reads per
  * call): the untraced run reports its per-step breakdown from them.
  * Spans, the per-stage span tag and task-level accounting exist only in
  * a traced run. Spans stay in memory; [[Main]] writes them when the run
  * ends. Calls come from one driver thread, so the span stack needs no
  * lock; listener state is concurrent.
  */
final class Tracer(val runId: String) extends SparkListener {
  @volatile var enabled = false
  private var sc: SparkContext = _

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  /** Wall seconds of every call, by span name, in both modes; under
    * `streaming.batch`, the duration of every micro-batch. */
  val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  private val SpanKey = "perfbench.span"
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val work = new ConcurrentHashMap[Int, Work]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobMs = mutable.ArrayBuffer.empty[Double]

  def attach(context: SparkContext): Unit = {
    sc = context
    sc.addSparkListener(this)
  }

  /** Runs `body` as one call into a layer; returns its value and span id
    * (0 when untraced). */
  def span[T](name: String)(body: => T): T = spanned(name)(body)._1

  def spanned[T](name: String)(body: => T): (T, Int) = {
    val id = if (enabled) { nextId += 1; nextId - 1 } else 0
    val parent = stack.headOption.getOrElse(0)
    if (enabled) { stack = id :: stack; sc.setLocalProperty(SpanKey, id.toString) }
    val t0 = System.nanoTime()
    try (body, id)
    finally {
      val t1 = System.nanoTime()
      steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
      if (enabled) {
        stack = stack.tail
        sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
        spans += Span(runId, id, parent, name, t0, t1)
      }
    }
  }

  /** Waits for every queued listener event, then returns the Spark work
    * under span `id` and all its descendants. */
  def workOf(id: Int): Work = {
    PerfbenchBridge.drainListeners(sc)
    val ids = descendants(id)
    ids.foldLeft(new Work)((acc, i) => Option(work.get(i)).fold(acc)(acc += _))
  }

  private def descendants(id: Int): Set[Int] = {
    val children = spans.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    def go(i: Int): Set[Int] = children.getOrElse(i, Nil).flatMap(go).toSet + i
    go(id)
  }

  /** Spark job durations seen since the last call, in ms. */
  def takeJobMs(): Seq[Double] = {
    PerfbenchBridge.drainListeners(sc)
    jobMs.synchronized { val out = jobMs.toList; jobMs.clear(); out }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * child spans cover (children are nested and run one at a time). */
  def selfSeconds: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.groupBy(_.layer).view.mapValues(_.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
  }

  private def workFor(stageId: Int): Option[Work] =
    Option(stageSpan.get(stageId)).map(span => work.computeIfAbsent(span, _ => new Work))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    if (enabled) Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
      val w = work.computeIfAbsent(s.toInt, _ => new Work)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      jobMs.synchronized(jobMs += (e.time - t0).toDouble)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (enabled) Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { s =>
      stageSpan.put(e.stageInfo.stageId, s.toInt)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = workFor(e.stageId).foreach { w =>
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      val taskMs = stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      taskMs.synchronized(taskMs += m.executorRunTime)
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    workFor(e.stageInfo.stageId).foreach { w =>
      val taskMs = Option(stageTaskMs.remove(e.stageInfo.stageId)).map(_.sorted).getOrElse(Nil)
      val info = e.stageInfo
      val ms = (for (a <- info.submissionTime; b <- info.completionTime) yield b - a).getOrElse(0L)
      val skew =
        if (taskMs.isEmpty) 1.0
        else taskMs.last.toDouble / math.max(1L, taskMs(taskMs.length / 2))
      w.synchronized { w.stages += 1; w.stageSkew += ((ms, skew)) }
    }

  /** Forgets the Spark work recorded so far; [[workOf]]`(0)` then sums
    * only what runs next. */
  def clearWork(): Unit = {
    PerfbenchBridge.drainListeners(sc)
    stageSpan.clear(); stageTaskMs.clear(); work.clear()
  }

  def jvmGcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
}

/** Heap occupancy after each garbage collection, from the notifications
  * every collector sends: the sum of the heap pools' usage after the
  * collection, stamped with its end (JVM uptime, ms). */
final class HeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val events = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        events.synchronized { events += ((gc.getEndTime, used)); events.notifyAll() }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def now(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Highest heap after a collection that ended in `(from, to]`, in MB.
    * Call it after a collection that ends later than `to` (notifications
    * arrive in order, so the window's are in by then); when none ended in
    * the window, that later collection's figure stands for its end. */
  def peakMb(from: Long, to: Long): Double = events.synchronized {
    val until = System.nanoTime() + 5000000000L
    while (!events.exists(_._1 > to) && System.nanoTime() < until) events.wait(100)
    val in = events.filter { case (t, _) => t > from && t <= to }.map(_._2)
    val used = if (in.nonEmpty) in.max.toDouble else events.find(_._1 > to).fold(Double.NaN)(_._2.toDouble)
    events.clear()
    used / (1024.0 * 1024.0)
  }
}

