package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}

import graft.decode.{ChangeEventBuilder, SchemaRegistry}

final case class FrameOffset(idx: Long) extends Offset {
  override def json(): String = idx.toString
}

final case class FrameRange(path: String, from: Long, until: Long,
    txnMarkers: Boolean, messages: Boolean = false)
  extends InputPartition

/** The `producer=framelog` stream of the `pgcdc` source: a durable
  * [[FrameLog]] replayed through the same decode and envelope stages as a
  * live slot, so offsets, typed views and compaction run deterministically
  * without Postgres (SURVEY.md §7 step 3).
  *
  * Design notes:
  *  - Offsets are frame indexes, not LSNs. A recorded log carries raw wire
  *    positions: Relation frames at 0, and Begin/Commit markers sharing the
  *    LSN of a neighbouring change. An LSN offset would have to renumber
  *    those frames (as [[PgCdcMicroBatch]] does for a live walsender), which
  *    changes the `lsn` of marker rows; with frame indexes every emitted row
  *    keeps its raw commit LSN, and a log with non-monotone positions
  *    replays as recorded.
  *  - `commit(end)` is where a live source sends WAL flush feedback —
  *    strictly after the checkpoint commit, preserving the reference's
  *    at-least-once contract (K2, stores.py:79-86). A log needs none.
  *  - The replication protocol is a single totally-ordered cursor, so each
  *    micro-batch plans ONE input partition (the reference's one callback
  *    thread; reader.py:116-123). Parallelism comes from the downstream
  *    shuffle (compaction, typed views), not the tail.
  *  - Decode state (schema registry, open transaction) is rebuilt by
  *    replaying the log prefix [0, start): frames are skipped cheaply
  *    without emitting. A live source keeps the registry in the checkpoint
  *    instead (K3).
  *  - Options: `path` (frame log file), `maxFramesPerTrigger` (admission
  *    control), `txn.markers` (emit 'B'/'C' sentinel rows for txn-atomic
  *    assembly downstream), `messages` (surface 'M' logical decoding
  *    messages as op="M" rows — the WAL audit channel).
  */
final class FrameReplayMicroBatch(
    path: String, maxPerTrigger: Option[Long], txnMarkers: Boolean,
    messages: Boolean = false)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // For Trigger.AvailableNow: pin the end of "available" at query start so
  // rate-limited batches drain up to a stable point, then terminate.
  @volatile private var availableNowEnd: Long = -1L

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowEnd = FrameLog.count(path)
  }

  override def initialOffset(): Offset = FrameOffset(0L)

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(n => ReadLimit.maxRows(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val available = if (availableNowEnd >= 0) availableNowEnd else FrameLog.count(path)
    val from = start.asInstanceOf[FrameOffset].idx
    limit match {
      case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
        FrameOffset(math.min(available, from + rl.maxRows()))
      case _ => FrameOffset(available)
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FrameOffset].idx
    val e = end.asInstanceOf[FrameOffset].idx
    if (e <= s) Array.empty
    else Array(FrameRange(path, s, e, txnMarkers, messages))
  }

  override def createReaderFactory(): PartitionReaderFactory = new FrameReaderFactory

  override def deserializeOffset(json: String): Offset = FrameOffset(json.toLong)

  /** Live-source hook: WAL flush feedback (setFlushedLSN) belongs exactly
    * here — after the engine has durably committed offsets ≤ `end`. The
    * replay log needs no retention management, so this is a no-op. */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

final class FrameReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new FramePartitionReader(partition.asInstanceOf[FrameRange])
}

/** Replays the log prefix to rebuild decode state, emits [from, until). */
final class FramePartitionReader(p: FrameRange) extends PartitionReader[InternalRow] {
  private val registry = new SchemaRegistry
  private val builder = new ChangeEventBuilder(registry,
    emitTxnMarkers = p.txnMarkers, emitMessages = p.messages)
  private var idx = 0L
  private val entries = FrameLog.read(p.path, 0L, p.until)
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (!pending.hasNext && entries.hasNext) {
      val e = entries.next()
      val events = builder.processRaw(e.lsn, e.payload)
      if (idx >= p.from) pending = events.iterator.map(Envelope.toInternalRow)
      idx += 1
    }
    if (pending.hasNext) { current = pending.next(); true } else false
  }

  override def get(): InternalRow = current
  // Tasks that terminate early (LIMIT, cancellation, downstream failure)
  // must not leak the log's file handle.
  override def close(): Unit = entries.close()
}
