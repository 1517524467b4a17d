package e2ebench

import java.io.PrintWriter
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A span around one call into a layer; times are `System.nanoTime`. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Disabled, `span` is a plain call. Parents are
 * tracked per thread, so spans opened by the dashboard thread never nest
 * under the stream's. */
final class Tracer(initially: Boolean) {
  @volatile var enabled: Boolean = initially
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def durMs(name: String): Seq[Double] = all.filter(_.name == name).map(_.ms)

  def write(path: Path): Unit = {
    val w = new PrintWriter(path.toFile, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}

/** A listener that can wait until Spark's listener bus has delivered it
 * every event posted so far: `sync` runs a one-task job in a job group of its
 * own and waits for that job's end, which the bus delivers after all earlier
 * events. */
abstract class SyncedListener extends SparkListener {
  private val SyncGroup = "e2ebench.sync"
  private val syncJobs = ConcurrentHashMap.newKeySet[Int]()
  private val synced = new Semaphore(0)

  protected def group(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  /** Every job start but the sync job's. */
  protected def jobStarted(e: SparkListenerJobStart): Unit

  override final def onJobStart(e: SparkListenerJobStart): Unit =
    if (group(e).contains(SyncGroup)) syncJobs.add(e.jobId) else jobStarted(e)

  override final def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (syncJobs.remove(e.jobId)) synced.release()

  /** True once every event posted before the call has reached this listener. */
  def sync(sc: SparkContext): Boolean = {
    sc.setJobGroup(SyncGroup, "listener sync", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.clearJobGroup()
    synced.tryAcquire(60, TimeUnit.SECONDS)
  }
}

/** Per-job-group task statistics from Spark's public listener bus. One
 * group is one analytics query execution. */
final class GroupListener extends SyncedListener {
  final class Acc {
    var tasks = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var cpuNs = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)] // task launch/finish, epoch ms
  }
  private val stageGroup = mutable.Map.empty[Int, String]
  private val accs = mutable.Map.empty[String, Acc]

  protected def jobStarted(e: SparkListenerJobStart): Unit = synchronized {
    group(e).foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = accs.getOrElseUpdate(g, new Acc)
      a.tasks += 1
      a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.cpuNs += m.executorCpuTime
      }
    }
  }

  def take(group: String): Option[Acc] = synchronized(accs.remove(group))
}

/** Jobs and shuffle stages per streaming batch. */
final class BatchJobListener extends SyncedListener {
  /** batch id -> (jobs, shuffle-map stages) */
  private val perBatch = mutable.Map.empty[Long, (Int, Int)]
  protected def jobStarted(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId"))).foreach { b =>
      val (j, s) = perBatch.getOrElse(b.toLong, (0, 0))
      // every stage of a job but its result stage is a shuffle-map stage
      perBatch(b.toLong) = (j + 1, s + e.stageInfos.size - 1)
    }
  }
  def snapshot: Map[Long, (Int, Int)] = synchronized(perBatch.toMap)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN (not measured) on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** Peak heap in use right after a collection. Unlike the resident set, it
 * does not follow the heap size the collector chooses; it still counts old
 * objects that no marking cycle has yet found dead. */
object HeapWatch {
  private var peak = 0L
  private var gcs = 0L

  /** NaN (not measured) until a collection has run. */
  def peakMb: Double = synchronized(if (gcs == 0) Double.NaN else peak / 1048576.0)

  def install(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { gcs += 1; if (used > peak) peak = used }
        }, null, null)
      case _ =>
    }
  }
}
