package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.util.LongAccumulator
import graft.core.Window
import graft.scan.Reader

/** Largest heap occupancy right after a collection that ended inside a
  * time window: the sum over heap pools of the usage after the collection,
  * read from the JVM's GC notifications. Nothing forces a collection. */
final class HeapPeak {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (end, used bytes) of every collection, end in ms of JVM uptime. */
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect { case (p, u) if heapPools(p) => u.getUsed }.sum
        events.add((gc.getEndTime, used))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def now: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** MiB and count of the collections that ended in [t0, t1]. With none
    * there, the occupancy after the last collection before t0. */
  def within(t0: Long, t1: Long): (Double, Int) = {
    Thread.sleep(100) // notifications arrive on their own thread, shortly after the collection
    val all = events.asScala.toSeq.sortBy(_._1)
    val in = all.filter { case (end, _) => end >= t0 && end <= t1 }.map(_._2)
    val peak = if (in.nonEmpty) in.max else all.filter(_._1 < t0).lastOption.map(_._2).getOrElse(0L)
    (peak / 1048576.0, in.size)
  }
}

/** Read counters shared by every task through Spark accumulators. */
final case class ReadCounters(reads: LongAccumulator, nanos: LongAccumulator,
                              pixels: LongAccumulator, valid: LongAccumulator) {
  def snapshot: Array[Long] = Array(reads.value, nanos.value, pixels.value, valid.value)
}
object ReadCounters {
  def apply(sc: SparkContext): ReadCounters = ReadCounters(
    sc.longAccumulator("perfbench.reads"), sc.longAccumulator("perfbench.readNanos"),
    sc.longAccumulator("perfbench.readPixels"), sc.longAccumulator("perfbench.validPixels"))
}

/** Counts and times every window read of the wrapped reader. */
final class TimedReader(inner: Reader, counters: ReadCounters) extends Reader {
  def read(window: Window): Array[Double] = {
    val t0 = System.nanoTime()
    val px = inner.read(window)
    counters.nanos.add(System.nanoTime() - t0)
    counters.reads.add(1)
    counters.pixels.add(px.length)
    var v = 0L; var i = 0
    while (i < px.length) { if (!px(i).isNaN) v += 1; i += 1 }
    counters.valid.add(v)
    px
  }
  override def close(): Unit = inner.close()
}

/** Per-tag Spark work: jobs and their wall intervals, and task metrics.
  * Jobs are tagged through a local property set around each timed call. */
final class TagStats {
  var jobs = 0
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L

  /** Milliseconds of [t0, t1] covered by no job interval. */
  def gapMs(t0: Long, t1: Long): Long = {
    var covered = 0L; var cursor = t0
    for ((s, e) <- intervals.sortBy(_._1)) {
      val a = math.max(s, cursor); val b = math.min(e, t1)
      if (b > a) { covered += b - a; cursor = b }
    }
    (t1 - t0) - covered
  }
}

final class SparkTagListener extends SparkListener {
  val Key = "perfbench.tag"
  private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
  val byTag = mutable.HashMap.empty[String, TagStats]
  private def stats(tag: String) = byTag.getOrElseUpdate(tag, new TagStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).map(_.getProperty(Key)).orNull
    if (tag != null) synchronized {
      e.stageIds.foreach(stageTag.put(_, tag))
      jobTag.put(e.jobId, (tag, e.time))
      stats(tag).jobs += 1
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobTag.remove(e.jobId)).foreach { case (tag, start) => stats(tag).intervals += ((start, e.time)) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    val m = e.taskMetrics
    if (tag != null && m != null) synchronized {
      val s = stats(tag)
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
    }
  }
}

final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long)

/** Spans of the traced run, kept in memory and written out at the end,
  * and the Spark work of every tagged call. */
final class Tracer(sc: SparkContext) {
  val listener = new SparkTagListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]

  /** Time `body` as a span named `name` of op `op`; its Spark jobs carry
    * `tag` when given. Returns the result and the span's milliseconds. */
  def span[T](name: String, op: Int, tag: String = null)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack.push(id)
    val prior = sc.getLocalProperty(listener.Key)
    if (tag != null) sc.setLocalProperty(listener.Key, tag)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      spans += Span(id, parent, op, name, t0, t1)
      (r, (t1 - t0) / 1e6)
    } finally {
      if (tag != null) sc.setLocalProperty(listener.Key, prior)
      stack.pop()
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def json(layers: Map[String, Double]): String = {
    val ss = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    val ls = layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
    s"""{"layers":{${ls.mkString(",")}},"spans":[${ss.mkString(",\n")}]}"""
  }
}
