package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak used heap right after each full (major) garbage collection, from
  * the JVM's GC notifications; `reset` starts a new window. Minor
  * collections are skipped: what they leave includes old-generation
  * garbage, so their peak depends on when the last full collection ran.
  */
object HeapPeak {
  @volatile private var peak = 0L
  @volatile private var majors = 0L
  @volatile private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
      val l = new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == "com.sun.management.gc.notification") {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcAction.contains("major")) {
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, v) if heapPools.contains(k) => v.getUsed }.sum
              if (used > peak) peak = used
              majors += 1
            }
          }
      }
      ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case e: NotificationEmitter => e.addNotificationListener(l, null, null)
        case _ =>
      }
    }
  }

  def reset(): Unit = peak = 0L

  /** Peak in MB; ends the window with a full collection (and waits for its
    * notification), so a window without one still reads the heap it retains.
    */
  def peakMb(): Double = {
    val before = majors
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (majors == before && System.nanoTime() < deadline) Thread.sleep(10)
    peak / 1048576.0
  }
}

/** In-run host-noise channel: a daemon thread that every 200 ms spins a
  * single thread for 10 ms and records the loop rate in millions of
  * iterations per second. A contended host shows as a low p25.
  */
final class SpinSampler {
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  @volatile private var running = true
  @volatile private var sink = 0L

  private val thread = new Thread(() => {
    while (running) {
      val t0 = System.nanoTime(); var n = 0L; var x = sink
      while (System.nanoTime() - t0 < 10000000L) {
        var i = 0
        while (i < 1000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
        n += 1000
      }
      sink = x
      samples.add(n / ((System.nanoTime() - t0) / 1e3))
      try Thread.sleep(200) catch { case _: InterruptedException => }
    }
  }, "graftbench-spin")
  thread.setDaemon(true)
  thread.start()

  /** Stops the sampler and returns (p25, sample count). */
  def stop(): (Double, Int) = {
    running = false
    thread.interrupt()
    thread.join()
    val s = samples.asScala.toVector.sorted
    (if (s.isEmpty) 0.0 else s(s.size / 4), s.size)
  }
}
