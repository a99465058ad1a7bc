package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Memory figures of the harness JVM.
  *
  * The heap is a benchmark setting (fixed and pre-touched), so the
  * process figure is its resident memory outside the heap: peak RSS
  * (VmHWM) minus the committed heap. Heap use shows in per-layer figures
  * of a traced window: the largest heap in use right after a collection
  * (from GC notifications) and the bytes allocated. */
object Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var heapAfterGcMax = 0L

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      val heap = after.collect { case (p, u) if heapPools.contains(p) => u.getUsed }.sum
      synchronized { heapAfterGcMax = math.max(heapAfterGcMax, heap) }
    }

  /** Start listening to collections; call once, before the workload runs. */
  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private def mb(bytes: Long): Double = bytes / (1024.0 * 1024.0)

  private def allocated(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
    case _ => throw new IllegalStateException("JVM reports no allocated bytes")
  }

  /** Open a window for [[window]]: resets the after-collection heap peak
    * and returns the allocation count to subtract. */
  def mark(): Long = synchronized { heapAfterGcMax = 0L; allocated() }

  /** Heap figures since `mark()` returned `since`. */
  def window(since: Long): Map[String, Double] = synchronized {
    Map("jvm.heap_after_gc_max_mb" -> mb(heapAfterGcMax), "jvm.alloc_mb" -> mb(allocated() - since))
  }

  /** Process figures so far. */
  def process(): Map[String, Double] = {
    val hwm = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong * 1024L)
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    val nonHeapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    Map("vmhwm_mb" -> mb(hwm),
      "heap_committed_mb" -> mb(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted),
      "nonheap_peak_mb" -> mb(nonHeapPeak))
  }
}
