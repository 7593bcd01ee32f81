package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task-level totals of one job group (or of the whole run). */
final class Agg {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesRead = 0L
  var taskMs = 0L
  var maxTaskMs = 0L
}

/** Spark listener the benchmark registers: jobs, tasks, shuffle, spill,
  * executor CPU, GC and task intervals, attributed to the job group the
  * benchmark set before calling into a layer; plus cached-block bytes.
  */
final class Counters extends SparkListener {
  private val groups = mutable.Map.empty[String, Agg]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val blocks = mutable.Map.empty[String, Long]
  private var cached = 0L
  private var cachedPeak = 0L

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    agg(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val info = e.taskInfo
    val ms = info.finishTime - info.launchTime
    a.taskMs += ms
    a.maxTaskMs = math.max(a.maxTaskMs, ms)
    intervals += ((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val size = b.memSize + b.diskSize
      cached += size - blocks.getOrElse(b.blockId.name, 0L)
      if (size == 0) blocks.remove(b.blockId.name) else blocks(b.blockId.name) = size
      cachedPeak = math.max(cachedPeak, cached)
    }
  }

  def group(g: String): Agg = synchronized(groups.getOrElse(g, new Agg))

  /** Totals over every group whose name passes `p`. */
  def total(p: String => Boolean = _ => true): Agg = synchronized {
    val t = new Agg
    groups.filter(kv => p(kv._1)).values.foreach { a =>
      t.jobs += a.jobs; t.tasks += a.tasks; t.cpuNs += a.cpuNs; t.gcMs += a.gcMs
      t.shuffleWrite += a.shuffleWrite; t.spill += a.spill; t.bytesRead += a.bytesRead
      t.taskMs += a.taskMs; t.maxTaskMs = math.max(t.maxTaskMs, a.maxTaskMs)
    }
    t
  }

  /** Wall time in [fromMs, toMs] during which no task was running. */
  def idleMs(fromMs: Long, toMs: Long): Long = synchronized {
    val clipped = intervals.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter(x => x._2 > x._1).sortBy(_._1)
    var busy = 0L
    var end = fromMs
    for ((a, b) <- clipped) {
      if (b > end) { busy += b - math.max(a, end); end = b }
    }
    (toMs - fromMs) - busy
  }

  def cachedPeakBytes: Long = synchronized(cachedPeak)

  def reset(): Unit = synchronized {
    groups.clear(); intervals.clear(); cachedPeak = cached
  }
}

/** One traced span: a call into a layer, timed from the benchmark. */
final case class Span(name: String, startMs: Long, endMs: Long, ns: Long, parent: String, run: String)

/** Records spans and sets the Spark job group around each, so the
  * listener attributes the span's jobs to it. Spans stay in memory.
  */
final class Tracer(sc: SparkContext, run: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    sc.setJobGroup(name, name)
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, m0, System.currentTimeMillis(), System.nanoTime() - t0, parent, run)
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p, p)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds a layer's output row count to the layer's total. */
  def rows(name: String, n: Long): Long = { rowsOut(name) += n; n }

  def seconds(name: String): Double = spans.filter(_.name == name).map(_.ns).sum / 1e9
}

/** Maximum heap occupancy just after a GC, from GC notifications. */
object Heap {
  @volatile private var active = false
  @volatile private var peak = 0L
  @volatile private var seen = 0L
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (active) peak = math.max(peak, after)
        seen += 1
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def start(): Unit = { peak = 0L; active = true }

  /** Ends the window with one collection, so the retained heap counts too. */
  def stop(): Long = {
    val before = seen
    System.gc()
    val deadline = System.currentTimeMillis() + 2000
    while (seen == before && System.currentTimeMillis() < deadline) Thread.sleep(10)
    active = false
    peak
  }
}
