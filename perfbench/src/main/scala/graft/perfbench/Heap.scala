package graft.perfbench

import java.lang.management.ManagementFactory

/** Driver heap in use after a full collection, sampled at the ends of a
  * run's phases (set-up, timed loop): the heap the run really holds, not
  * garbage a young collection happened to leave behind. */
final class Heap {
  private var peak = 0L

  /** Two collections with a pause between them: the first queues the
    * references Spark's context cleaner reacts to (unpersisted blocks,
    * broadcasts), the second collects what the cleaner released. */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    peak = math.max(peak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMiB: Double = peak / 1048576.0
}
