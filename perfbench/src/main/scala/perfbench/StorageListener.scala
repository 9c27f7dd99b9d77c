package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}

/** Block-manager storage seen from outside the engine: every block's
  * memory + disk size (cached tables, checkpoints, broadcast pieces) as
  * the block manager reports it. `resetPeak` starts a new window that
  * counts only blocks first reported after it, so blocks a previous
  * crawl left behind (and their late removals) never enter its peak. */
final class StorageListener extends SparkListener {
  private val sizes = new java.util.HashMap[String, java.lang.Long]()
  private var before: java.util.Set[String] = java.util.Collections.emptySet()
  private var current = 0L
  private var peak = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = s"${info.blockManagerId}/${info.blockId.name}"
    val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    val old = if (bytes > 0) sizes.put(key, bytes) else sizes.remove(key)
    if (!before.contains(key)) {
      current += bytes - (if (old == null) 0L else old.longValue)
      peak = math.max(peak, current)
    }
  }

  def resetPeak(): Unit = synchronized {
    before = new java.util.HashSet[String](sizes.keySet())
    current = 0L
    peak = 0L
  }

  def peakBytes: Long = synchronized(peak)
}
