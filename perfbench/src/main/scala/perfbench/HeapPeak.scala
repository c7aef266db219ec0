package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The highest old-generation use right after a full collection, over
  * the quiescent points a run samples: the end of set-up, the end of
  * the untimed warm-up and the end of the window. Each sample forces two
  * collections (the second frees what Spark's context cleaner released
  * after the first: unreachable RDDs, broadcasts, shuffles), so none is
  * taken inside the timed window.
  *
  * The old generation's use after the collections G1 runs on its own
  * was tried and rejected: after young collections it counts garbage no
  * collection has looked at yet, and it moved 30% between runs; after
  * mixed collections it moved 90%, with the timing of the collections.
  */
final class HeapPeak {
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
  @volatile private var peak = 0L

  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, oldPools.map(_.getUsage.getUsed).sum)
  }

  def mb: Double = peak / 1048576.0
}
