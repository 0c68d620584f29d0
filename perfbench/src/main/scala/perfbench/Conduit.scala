package perfbench

import graft.sources.ReplicationConduit

/** A replication conduit that makes each frame readable only from its due
  * time, so a test drives the source at a fixed schedule without a
  * producer thread: the schedule never slows when the engine slows.
  *
  * `dueNanos(i)` is frame i's release time relative to `epoch`; frames
  * with a negative due time are readable at once, and no frame with a
  * non-negative due time is readable before `epoch` is set. Frames due
  * after `cutoff` are never released. Due times must not decrease. */
final class ScheduledConduit(log: FrameLog, dueNanos: Array[Long],
    clock: () => Long = () => System.nanoTime()) extends ReplicationConduit {
  require(dueNanos.length == log.frames.length)

  @volatile var epoch: Long = Long.MaxValue
  @volatile var cutoff: Long = Long.MaxValue
  @volatile private var next = 0
  /** Largest number of frames seen due but not yet read, since `resetLag`. */
  @volatile var maxReadLag: Int = 0

  private def dueAt(i: Int): Long =
    if (dueNanos(i) < 0) Long.MinValue
    else if (epoch == Long.MaxValue) Long.MaxValue
    else epoch + dueNanos(i)

  private def releasable(i: Int, now: Long): Boolean = {
    val d = dueAt(i)
    i < dueNanos.length && d <= now && d <= cutoff
  }

  /** Frames released by `now`, read or not. */
  def dueCount(now: Long): Int = {
    var lo = next
    var hi = dueNanos.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (releasable(mid, now)) lo = mid + 1 else hi = mid
    }
    lo
  }

  def resetLag(): Unit = maxReadLag = 0

  override def start(afterLsn: Long): Unit =
    next = log.frames.indexWhere(_._1 > afterLsn) match {
      case -1 => log.frames.length
      case i => i
    }

  override def read(): Option[(Long, Array[Byte])] = {
    val now = clock()
    if (next < dueNanos.length && releasable(next, now)) {
      maxReadLag = math.max(maxReadLag, dueCount(now) - next)
      val f = log.frames(next)
      next += 1
      Some(f)
    } else None
  }

  override def setFlushedLSN(lsn: Long): Unit = ()
  override def close(): Unit = ()
}
