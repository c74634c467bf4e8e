package perfbench

import scala.jdk.CollectionConverters._

/** What a run's figures depend on outside the program: cores, heap,
  * host contention, collector time and retained memory. */
object Host {

  /** (steal, iowait) in milliseconds from /proc/stat's aggregate cpu
    * line (USER_HZ = 100 ticks), the method of `graft.Bench`; (0, 0)
    * where /proc/stat is unreadable. */
  def stallMillis(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val cpu = try src.getLines().find(_.startsWith("cpu ")).getOrElse("") finally src.close()
      val f = cpu.trim.split("\\s+")
      // fields: cpu user nice system idle iowait irq softirq steal ...
      val iowait = if (f.length > 5) f(5).toLong * 10 else 0L
      val steal = if (f.length > 8) f(8).toLong * 10 else 0L
      (steal, iowait)
    } catch { case _: Exception => (0L, 0L) }

  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def heapMb: Long = Runtime.getRuntime.maxMemory() / (1024 * 1024)

  /** Heap in use after full collections: what the run left reachable.
    * Collects until the figure settles, since released broadcasts and
    * cached blocks are freed asynchronously. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (math.abs(cur - prev) > 1.0 && rounds < 10) { prev = cur; cur = used(); rounds += 1 }
    cur
  }
}
