package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap figures of one `Pipeline.run`, from JMX GC notifications.
  *
  * The metric is the retained heap: what is still live after full GCs
  * forced as the run returns. A run at the benchmark's heap size rarely
  * fills the old generation, so full GCs inside the run are counted and
  * reported rather than relied on. The largest heap left after any GC in
  * the run, young ones included, is reported beside it; after a young GC
  * the old generation still holds promoted garbage, so that figure swings
  * with where the collections happen to fall. */
object HeapWatch {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new AtomicLong(0L)
  private val lastFull = new AtomicLong(0L)
  private val fullGcs = new AtomicLong(0L)
  private val inRun = new ConcurrentLinkedQueue[String]()
  @volatile private var armed = false

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        if (armed) peak.accumulateAndGet(used, math.max)
        if (info.getGcAction.contains("major")) {
          if (armed) inRun.add(info.getGcCause)
          lastFull.set(used)
          fullGcs.incrementAndGet()
        }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** `fullGcsInRun`: the cause of each full GC inside the run. */
  final case class Heap(retainedMb: Double, peakAfterGcMb: Double, fullGcsInRun: Seq[String])

  /** Start recording from zero. */
  def arm(): Unit = { peak.set(0L); inRun.clear(); armed = true }

  /** Stop recording and return the run's figures. The retained heap is
    * read after a second full GC: the first one hands the Spark objects the
    * run dropped, such as broadcasts, to the ContextCleaner, which then
    * frees their blocks; whether it had done so before a single GC was
    * chance, and moved the figure by about 8 MB. */
  def stop(): Heap = {
    armed = false
    val fullGcsInRun = inRun.asScala.toSeq
    fullGc()
    Thread.sleep(500)
    fullGc()
    Heap(lastFull.get() / 1e6, peak.get() / 1e6, fullGcsInRun)
  }

  /** Force a full GC and wait for its notification. */
  private def fullGc(): Unit = {
    val before = fullGcs.get()
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    while (fullGcs.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
    if (fullGcs.get() == before) sys.error("no full GC notification after System.gc()")
  }
}
