package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The Postgres CDC source (`format("pgcdc")`) — the production face of
  * the engine (SURVEY.md §2.1 S1/S2/K2). Offsets, decode and envelope are
  * shared; only the frame producer differs:
  *
  *  - `producer=framelog` (default): frames come from a [[FrameLog]] file
  *    — full wire fidelity without a database, and the recorded-WAL replay
  *    path for disaster-recovery drills. The only producer that also
  *    supports batch reads (`spark.read`); see [[FrameReplayMicroBatch]].
  *  - `producer=pgwire`: frames come from a live replication slot over the
  *    in-repo protocol-v3 client ([[PgWireConduit]]: `START_REPLICATION
  *    SLOT … LOGICAL`, publication_names, standby-status feedback).
  *  - `producer=conduit`: frames come from a [[ReplicationConduit]]
  *    registered under `conduit.name` ([[PgCdcConduits]]) — scripted
  *    walsenders in tests and benchmarks.
  *
  * Offset/fault-tolerance contract for the live producers (the reference's
  * K2, stores.py:79-86): offsets are LSNs; Spark's checkpoint is the source
  * of truth; `commit(end)` → `setFlushedLSN(end)` so Postgres only discards
  * WAL the engine has durably processed — at-least-once delivery with
  * replay on crash, never data loss.
  *
  * Initial sync (S2, reader.py:165-176 + stores.py:88-101):
  * [[PgWireSnapshot]] creates the slot, captures the exported consistent
  * snapshot name and reads each table pinned to that snapshot; the stream
  * then begins at the slot's `consistent_point` — snapshot ∪ stream = exact
  * table state with no gap or overlap.
  */
class PgCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pgcdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = Envelope.schema

  override def getTable(
      schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table = {
    val opts = properties.asScala.toMap
    PgCdcOptions.validate(opts)
    new PgCdcTable(opts)
  }
}

/** Parsed + validated options for the pgcdc source. */
object PgCdcOptions {
  val Producers = Set("framelog", "conduit", "pgwire")

  def validate(opts: Map[String, String]): Unit = {
    val producer = opts.getOrElse("producer", "framelog")
    if (!Producers.contains(producer))
      throw new IllegalArgumentException(
        s"pgcdc: unknown producer '$producer' (expected one of ${Producers.mkString(", ")})")
    producer match {
      case "framelog" =>
        if (!opts.contains("path"))
          throw new IllegalArgumentException("pgcdc: producer=framelog requires option 'path'")
      case "conduit" =>
        if (!opts.contains("conduit.name"))
          throw new IllegalArgumentException(
            "pgcdc: producer=conduit requires option 'conduit.name' " +
              "(a conduit registered via PgCdcConduits.register)")
      case "pgwire" =>
        Seq("slot", "publication").filterNot(opts.contains) match {
          case Nil => ()
          case missing => throw new IllegalArgumentException(
            s"pgcdc: producer=pgwire requires options ${missing.mkString(", ")} " +
              "(plus host/port/database/user, defaulting to 127.0.0.1:5432 postgres/postgres)")
        }
    }
  }
}

final class PgCdcTable(opts: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"pgcdc(${opts.getOrElse("slot", opts.getOrElse("path", "?"))})"
  override def schema(): StructType = Envelope.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = opts ++ options.asScala
    () => new PgCdcScan(merged)
  }
}

/** Postgres LSN text form ("XXXXXXXX/XXXXXXXX", e.g. "0/16B3748"): the
  * notation `pg_current_wal_lsn()`, slot catalogs, and every PG doc use.
  * The hi word is the xlog file id, the lo word the offset; both hex. The
  * source accepts either this or a plain decimal in `startLsn`, so users
  * can paste values straight from `pg_replication_slots`. */
object PgLsn {
  def parse(s: String): Long = s.split('/') match {
    case Array(hi, lo) =>
      (java.lang.Long.parseLong(hi, 16) << 32) | java.lang.Long.parseLong(lo, 16)
    case _ => s.toLong
  }
  def format(lsn: Long): String =
    f"${lsn >>> 32}%X/${lsn & 0xffffffffL}%X"
}

final class PgCdcScan(opts: Map[String, String]) extends Scan {
  private val producer = opts.getOrElse("producer", "framelog")
  private val maxFramesPerTrigger = opts.get("maxFramesPerTrigger").map(_.toLong)
  private val txnMarkers = opts.get("txn.markers").exists(_.toBoolean)
  private val messages = opts.get("messages").exists(_.toBoolean)

  override def readSchema(): StructType = Envelope.schema
  override def description(): String = s"PgCdcScan($producer)"

  /** A batch read decodes the whole log as one partition; a live slot has
    * no end to read up to, so only the frame log supports it. */
  override def toBatch: Batch = {
    if (producer != "framelog")
      throw new UnsupportedOperationException(
        s"pgcdc: batch reads need producer=framelog (got producer=$producer); " +
          "read a live producer with spark.readStream")
    val path = opts("path")
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        Array(FrameRange(path, 0L, FrameLog.count(path), txnMarkers, messages))
      override def createReaderFactory(): PartitionReaderFactory = new FrameReaderFactory
    }
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    producer match {
      case "framelog" =>
        new FrameReplayMicroBatch(opts("path"), maxFramesPerTrigger, txnMarkers, messages)
      // re-acquire under the same name: tests register a conduit whose
      // start() re-arms it after an injected failure
      case "conduit" =>
        liveStream(() => PgCdcConduits.acquire(opts("conduit.name")), checkpointLocation)
      case "pgwire" => liveStream(() => PgWireConduit.fromOptions(opts), checkpointLocation)
    }

  /** The one stream every live producer shares; a producer supplies only
    * how to open its conduit, at start and again on each reconnect. */
  private def liveStream(conduitFactory: () => ReplicationConduit,
      checkpointLocation: String): PgCdcMicroBatch =
    new PgCdcMicroBatch(
      conduitFactory(),
      opts.get("startLsn").map(PgLsn.parse).getOrElse(0L),
      maxFramesPerTrigger,
      txnMarkers,
      checkpointLocation,
      messages,
      maxBytesPerTrigger = opts.get("maxBytesPerTrigger").map(_.toLong),
      minPartitions = opts.get("minPartitions").map(_.toInt).getOrElse(1),
      conduitFactory = Some(conduitFactory),
      reconnectRetries = opts.get("reconnectRetries").map(_.toInt).getOrElse(0),
      reconnectBackoffMs =
        opts.get("reconnectBackoffMs").map(_.toLong).getOrElse(1000L))
}

/** The narrow waist between the live micro-batch machinery and a walsender
  * socket. [[PgWireConduit]] implements it over a real replication
  * connection; tests and disaster-recovery drills implement it over
  * scripted frames ([[PgCdcConduits]]), so the FULL offset / decode /
  * commit / feedback machinery above it is exercised without a server (the reference's
  * integration floor, test_reader.py:130-139, minus the database). */
trait ReplicationConduit extends AutoCloseable {
  /** Begin streaming frames with LSN strictly greater than `afterLsn`
    * (`START_REPLICATION SLOT … LOGICAL <lsn>`). Called once per stream
    * instance — on restart this is the checkpoint-restored offset, which is
    * how a crash replays exactly the unflushed tail. */
  def start(afterLsn: Long): Unit
  /** Next buffered frame — (WAL start LSN, raw pgoutput payload) — or None
    * when nothing is currently available (non-blocking poll). */
  def read(): Option[(Long, Array[Byte])]
  /** WAL flush feedback (`setFlushedLSN` + forced status update): tells the
    * server every frame at or below `lsn` is durably processed and its WAL
    * may be reclaimed. The engine calls this ONLY from `commit(end)` —
    * strictly after Spark checkpointed the batch (K2, at-least-once). */
  def setFlushedLSN(lsn: Long): Unit
  /** Best-effort observability snapshot: (server WAL high-water this
    * session has received up to — the walEnd of the latest data/keepalive
    * message — , last flush-confirmed LSN). Feeds the source's
    * `StreamingQueryProgress` metrics (`replicationLagBytes`); None where
    * the transport doesn't track positions (scripted test conduits). */
  def walPositions: Option[(Long, Long)] = None
  def close(): Unit
}

/** Named registry wiring [[ReplicationConduit]] instances through string
  * options (DataSource options cannot carry objects). */
object PgCdcConduits {
  private val conduits =
    new java.util.concurrent.ConcurrentHashMap[String, ReplicationConduit]()
  def register(name: String, c: ReplicationConduit): Unit = conduits.put(name, c)
  def acquire(name: String): ReplicationConduit =
    Option(conduits.get(name)).getOrElse(throw new IllegalArgumentException(
      s"pgcdc: no conduit registered under '$name'"))
}

/** Tee: every frame read from `inner` is also appended to a durable
  * [[FrameLog]] — record production WAL traffic once, replay it forever
  * (CI regression corpora, disaster-recovery drills, bug repros with the
  * exact byte stream that triggered them). Frames flush in batches of
  * `flushEvery` so recording cost stays amortized; the tail flushes on
  * close, and a torn final record is tolerated by FrameLog's reader.
  * Restart-safe: on `start(afterLsn)` the tee keeps appending — the log
  * may then contain duplicate LSN ranges, which the deterministic
  * message-id dedup (or an LSN filter at replay) absorbs, mirroring the
  * at-least-once contract of the stream itself. */
final class RecordingConduit(
    inner: ReplicationConduit, logPath: String, flushEvery: Int = 256)
    extends ReplicationConduit {
  private val pending = scala.collection.mutable.ArrayBuffer.empty[FrameLog.Entry]

  private def flush(): Unit = if (pending.nonEmpty) {
    FrameLog.append(logPath, pending.iterator)
    pending.clear()
  }

  override def start(afterLsn: Long): Unit = inner.start(afterLsn)

  override def read(): Option[(Long, Array[Byte])] = {
    val frame = inner.read()
    frame.foreach { case (lsn, payload) =>
      pending += FrameLog.Entry(lsn, payload)
      if (pending.size >= flushEvery) flush()
    }
    frame
  }

  override def setFlushedLSN(lsn: Long): Unit = {
    // frames at or below the feedback LSN must be durably recorded before
    // the server is told it may reclaim their WAL — otherwise a crash
    // leaves a hole the replay log can never recover
    flush()
    inner.setFlushedLSN(lsn)
  }

  override def close(): Unit = {
    flush()
    inner.close()
  }
}

final case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

/** One micro-batch's already-decoded envelope events (the replication
  * protocol is a single driver-side cursor — like Spark's own socket
  * source, rows are produced at the cursor and shipped to executors;
  * parallelism comes from the downstream shuffle, not the tail). */
final case class EnvelopeEventsPartition(events: Array[graft.decode.ChangeEvent])
  extends InputPartition

final class EnvelopeEventsReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val it = partition.asInstanceOf[EnvelopeEventsPartition]
        .events.iterator.map(Envelope.toInternalRow)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

/** Live micro-batch machinery over a [[ReplicationConduit]] (S1/K2/K3).
  *
  *  - Offsets are WAL LSNs; `initialOffset` is the configured start,
  *    restarts resume from the checkpoint via `start(afterLsn)`.
  *  - `latestOffset` drains the conduit (bounded by admission control),
  *    decoding frames through the SAME PgOutputDecoder/ChangeEventBuilder
  *    as the replay source; a restart that must re-plan a logged-but-
  *    uncommitted batch drains the conduit up to the logged end first
  *    (the server re-sends unflushed WAL — that is what at-least-once
  *    means on this protocol).
  *  - `commit(end)` sends flush feedback and checkpoints the schema
  *    registry (K3), so a restarted stream decodes relations the server
  *    does not re-send until they change.
  *
  * MULTI-SLOT scale-out and the ordering contract: the replication
  * protocol is one cursor per slot, so a single source instance cannot
  * parallelize the tail — the 100 TB shape is N publications → N slots →
  * N source instances `union`ed in one query (or N separate queries).
  * Spark checkpoints each source's offset independently: one slot
  * stalling, reconnecting, or restarting never rewinds or blocks another.
  * Ordering holds WITHIN a slot only (events arrive in that slot's
  * commit order, and batches cut at non-decreasing LSNs); ACROSS slots no
  * order exists or is recoverable — each slot's LSNs are positions in the
  * same WAL but their interleaving in the union is arbitrary per batch,
  * exactly as with N independent consumers. Consumers needing cross-table
  * transactional consistency have two options: keep those tables in ONE
  * publication on one slot (the single-cursor cost is the price of the
  * strongest guarantee), or — since same-server slots share one WAL — run
  * the sharded slots through `Streams.frontierGatedUnionSink`, which
  * serves every table's state at the cross-slot frontier (min delivered
  * LSN): the joined view then always corresponds to a single WAL
  * position, at the cost of holding back the lead slots' backlog until
  * the lagging slot confirms passing it.
  */
final class PgCdcMicroBatch(
    conduit: ReplicationConduit, startLsn: Long, maxFramesPerTrigger: Option[Long],
    txnMarkers: Boolean, checkpointLocation: String,
    messages: Boolean = false,
    // Byte-based admission (ReadLimit.maxBytes, composable with the frame
    // cap): bounds a trigger by WIRE PAYLOAD bytes, the budget that
    // actually tracks executor memory when row width is wildly variable
    // (TOASTed documents vs narrow keys). Soft cap, Kafka-style: a batch
    // always admits at least one frame, so a single over-budget row
    // cannot stall the stream.
    maxBytesPerTrigger: Option[Long] = None,
    // Fan a batch's envelope rows out over N input partitions (Kafka's
    // minPartitions): downstream per-batch transforms (compaction, derived
    // views) parallelize instead of funneling through one task. Opt-in —
    // event order across partitions is NOT preserved (Spark never
    // guarantees inter-partition order); consumers already sequence by
    // the lsn column.
    minPartitions: Int = 1,
    // Opt-in IN-PLACE reconnect: on a retryable conduit error (socket EOF,
    // walsender shutdown, SQL failure) build a fresh conduit from the
    // factory and resume from bufferedThrough — the stream survives a
    // server bounce without a Spark query restart. 0 retries = off.
    conduitFactory: Option[() => ReplicationConduit] = None,
    reconnectRetries: Int = 0,
    reconnectBackoffMs: Long = 1000L)
    extends MicroBatchStream with SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow
    with ReportsSourceMetrics {

  import graft.decode.{ChangeEvent, ChangeEventBuilder, PgOutputDecoder, SchemaRegistry}

  private var activeConduit: ReplicationConduit = conduit
  private val registry: SchemaRegistry = loadRegistry()
  private var builder = new ChangeEventBuilder(registry,
    emitTxnMarkers = txnMarkers, emitMessages = messages)
  private var started = false
  // decoded, not-yet-committed (lsn, events, wire-payload bytes) per frame,
  // LSN-ascending; the byte size feeds ReadMaxBytes admission + metrics
  private val buffered =
    scala.collection.mutable.ArrayDeque.empty[(Long, Seq[ChangeEvent], Long)]
  private var bufferedThrough: Long = Long.MinValue

  private def registryPath: java.nio.file.Path =
    java.nio.file.Paths.get(
      checkpointLocation.stripPrefix("file:"), "graft-schema-registry")

  private def loadRegistry(): SchemaRegistry =
    if (java.nio.file.Files.exists(registryPath))
      SchemaRegistryCheckpoint.deserialize(
        java.nio.file.Files.readString(registryPath))
    else new SchemaRegistry

  private def saveRegistry(): Unit = {
    java.nio.file.Files.createDirectories(registryPath.getParent)
    java.nio.file.Files.writeString(registryPath,
      SchemaRegistryCheckpoint.serialize(registry))
  }

  private def ensureStarted(afterLsn: Long): Unit =
    if (!started) {
      activeConduit.start(afterLsn)
      bufferedThrough = afterLsn
      replayHorizon = afterLsn
      started = true
    }

  /** The watermark at conduit (re)start — the highest offset a re-sent
    * transaction prefix can legitimately re-deliver. Sub-watermark events
    * AT or BELOW this are the expected at-least-once re-send and are
    * dropped quietly; one ABOVE it arriving below the current watermark
    * means the conduit itself is misordering mid-stream, which must fail
    * loudly instead of silently losing events. */
  private var replayHorizon: Long = Long.MinValue

  /** Drain up to `cap` frames (Long.MaxValue = all available now).
    *
    * Offset assignment: a REAL walsender does not deliver strictly
    * increasing walStart values — observed live (PG 15): Relation frames
    * arrive with walStart = 0, Begin shares its first change's LSN, and a
    * Commit and the NEXT transaction's Begin/Update can carry the SAME
    * position. Offsets must totally order DELIVERED EVENTS (batch
    * boundaries cut between them) and stay REPLAY-STABLE: after a crash
    * the server re-sends from the last flushed TRANSACTION boundary, so
    * already-committed events re-arrive and must land on their ORIGINAL
    * offsets to be excluded by the `(start, end]` batch filter — any
    * offset derived from the restart point itself (the old
    * `max(walStart, bufferedThrough+1)`) re-bases the re-sent prefix and
    * turns it into duplicates. Hence:
    *  - an EVENT-BEARING frame's offset is a pure function of the frame
    *    stream: its raw position if that exceeds the PREVIOUS EVENT's
    *    offset (the normal case — each DML change is its own WAL record
    *    at a distinct position), else previous-event + 1 (anomalous
    *    equal-position runs reproduce identically on re-send);
    *  - a NO-EVENT frame (Relation@0, Begin/Commit markers, in-stream
    *    segments) only lifts the batch watermark to `raw − 1`: one byte
    *    BELOW its position, because the next transaction's first change
    *    can be reported AT a commit record's position (observed live) —
    *    a watermark at the full position would fence that event out of
    *    every future batch. Flush feedback therefore sits just below the
    *    last commit record; on restart the server re-sends that (already
    *    consumed, offset-stable, filter-excluded) transaction — the
    *    at-least-once protocol cost, paid without duplicates. */
  private var lastEventLsn: Long = Long.MinValue
  /** Drain until `cap` NEW frames are buffered (Long.MaxValue = all
    * available now). The cap counts DELIVERED work only: marker frames and
    * a re-sent transaction prefix consume no admission budget — otherwise
    * a restart whose re-sent prefix exceeds the cap would drain frames
    * without ever advancing the offset, and the stream would stall as
    * "no new data" forever. */
  /** `read()` under the reconnect policy. A retryable error tears the
    * conduit down and rebuilds from the factory, resuming EXACTLY as a
    * whole-query restart would: START_REPLICATION at `bufferedThrough`,
    * replay horizon moved there (the re-sent transaction prefix lands on
    * its original offsets and drops quietly), and the offset-assignment
    * chain + transaction-assembly builder RESET — a fresh session's
    * re-sent frames must chain from their own positions, not the dead
    * session's high-water, or the prefix re-bases into duplicates. The
    * schema registry survives (monotone cache; the new walsender re-sends
    * Relation frames for every touched table anyway). */
  /** Retryable = transport-level (any IOException, incl. the EOF a clean
    * walsender shutdown surfaces as) or a server error whose SQLSTATE class
    * is transient: 08xxx connection exceptions, 57xxx operator intervention
    * (admin shutdown, crash recovery), 53xxx insufficient resources — or an
    * unknown state (conduits that can't carry one). 55006 object_in_use is
    * ALSO retryable even though its class is mostly terminal: after a
    * half-open disconnect the server-side walsender holds the slot until
    * `wal_sender_timeout` expires, so the redial's "replication slot is
    * active for PID n" refusal clears by itself — the exact race reconnect
    * budgets exist for. Config/state errors — invalidated slot (55000,
    * live-pinned message "cannot read from logical replication slot"),
    * missing publication/slot, auth failures — are TERMINAL: a reconnect
    * cannot fix them, so they surface immediately instead of burning the
    * whole backoff schedule first. */
  private def retryable(e: Throwable): Boolean = e match {
    case _: java.io.IOException => true
    case s: java.sql.SQLException =>
      val st = s.getSQLState
      // a null SQLSTATE (an ErrorResponse missing 'C', or an SQLException
      // raised stateless by a conduit) cannot be classified — retrying is
      // the conservative default, but it is LOGGED so a terminal error
      // burning the dial budget is diagnosable from the driver log
      if (st == null)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          "pgcdc: SQLException with no SQLSTATE treated as retryable " +
            s"(${s.getMessage}) — if this error is terminal it will burn " +
            "the reconnect dial budget before surfacing")
      st == null || st.startsWith("08") || st.startsWith("57") ||
        st.startsWith("53") || st == "55006"
    case _ => false
  }

  private def readWithReconnect(): Option[(Long, Array[Byte])] = {
    // The read AFTER a successful reconnect stays under the same retry
    // policy: a freshly restarted server commonly drops the first read
    // (half-open accept, crash-recovery not yet at a consistent point), and
    // an unguarded retry would kill the query with reconnect budget left.
    // ONE budget of `reconnectRetries` FAILED dials is SHARED across every
    // reconnect() this read triggers — successful dials are free, so the
    // worst case is linear (reconnectRetries failures, interleaved with at
    // most that many successes), not the retries² of a per-invocation
    // budget, AND a reconnect that succeeds always leaves the follow-up
    // read at least one retry (success requires failed < remaining, so
    // ≥ 1 budget survives it — the guarantee the first sentence promises).
    // Each failed dial is backoff-paced.
    //
    // Free successful dials need a SECOND bound, or a connect-OK/read-fail
    // flap (a proxy or half-open server that accepts START_REPLICATION and
    // then drops every first read — the exact case the policy exists for,
    // gone pathological) never bills the budget and spins forever. Total
    // reconnect() cycles per read are therefore ALSO capped at
    // `reconnectRetries`: a read that cannot survive that many rebuilt
    // sessions surfaces its error. Worst case stays linear —
    // reconnectRetries failed dials OR reconnectRetries rebuilt sessions,
    // whichever bound trips first.
    var failBudget = reconnectRetries
    var cycles = 0
    while (true) {
      try return activeConduit.read()
      catch {
        case e @ (_: java.io.IOException | _: java.sql.SQLException)
            if conduitFactory.nonEmpty && failBudget > 0 &&
              cycles < reconnectRetries && retryable(e) =>
          cycles += 1
          failBudget -= reconnect(e, failBudget)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Rebuilds the conduit in place, tolerating at most `maxFailedDials`
    * FAILED connection attempts; returns the number that actually failed
    * (a success costs nothing) so the caller's shared budget stays exact. */
  private def reconnect(trigger: Throwable, maxFailedDials: Int): Int = {
    try activeConduit.close() catch { case _: Throwable => () }
    var attempt = 0
    var last: Throwable = trigger
    var connected = false
    while (!connected && attempt < math.min(reconnectRetries, maxFailedDials)) {
      attempt += 1
      try Thread.sleep(math.min(reconnectBackoffMs << (attempt - 1), 30000L))
      catch {
        case _: InterruptedException =>
          // query shutdown: abort the retry loop immediately so stop()
          // never waits out the whole backoff schedule
          Thread.currentThread().interrupt()
          throw new java.io.IOException(
            "pgcdc: reconnect aborted by interrupt (query stopping)", trigger)
      }
      var fresh: ReplicationConduit = null
      try {
        fresh = conduitFactory.get.apply()
        fresh.start(bufferedThrough)
        activeConduit = fresh
        connected = true
      } catch {
        case e: Throwable =>
          // a dial that got as far as a socket/walsender must release it,
          // or each failed attempt strands a half-open connection (and a
          // server-side walsender) until GC
          if (fresh != null) { try fresh.close() catch { case _: Throwable => () } }
          // A TERMINAL state surfacing during the DIAL (START_REPLICATION
          // on an invalidated slot, auth refusal after a credential
          // rotation) must not burn the remaining backoff schedule either —
          // the skip applies wherever the server says "reconnecting cannot
          // fix this", not only to errors raised by read().
          if (!retryable(e)) throw e
          last = e
      }
    }
    if (!connected)
      throw new java.io.IOException(
        s"pgcdc: conduit lost and $attempt reconnect attempts failed " +
          s"(failed-dial budget $reconnectRetries per read, resume point " +
          s"$bufferedThrough)", last)
    replayHorizon = bufferedThrough
    lastEventLsn = Long.MinValue
    builder = new graft.decode.ChangeEventBuilder(registry,
      emitTxnMarkers = txnMarkers, emitMessages = messages)
    reconnects += 1
    attempt - 1 // the last attempt connected; only the failures bill the budget
  }

  private var reconnects = 0L

  /** Surfaced per micro-batch in `StreamingQueryProgress.sources[i]
    * .metrics` — the production lag dashboard: how far the server's sent
    * WAL runs ahead of our durable flush (bytes of unconfirmed WAL the
    * server must retain), decoded-but-uncommitted frames held on the
    * driver, and in-place conduit reconnects since query start. */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset])
      : java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]
    m.put("bufferedFrames", buffered.size.toString)
    m.put("bufferedBytes", buffered.iterator.map(_._3).sum.toString)
    m.put("reconnects", reconnects.toString)
    activeConduit.walPositions.foreach { case (received, flushed) =>
      m.put("serverWalEnd", received.toString)
      m.put("flushedLsn", flushed.toString)
      m.put("replicationLagBytes", math.max(0L, received - flushed).toString)
    }
    m
  }

  private def drain(cap: Long, capBytes: Long = Long.MaxValue): Unit = {
    var n = 0L
    var bytes = 0L
    var more = true
    // byte cap is soft (checked AFTER admitting): one over-budget frame
    // still enters the batch, so progress is guaranteed
    while (n < cap && bytes < capBytes && more) readWithReconnect() match {
      case Some((rawLsn, payload)) =>
        val assigned = if (rawLsn > lastEventLsn) rawLsn else lastEventLsn + 1
        val events = builder.processRaw(assigned, payload)
        if (events.nonEmpty) {
          lastEventLsn = assigned
          if (assigned > bufferedThrough) {
            buffered.append((assigned, events, payload.length.toLong))
            bufferedThrough = assigned
            n += 1
            bytes += payload.length
          }
          // else: the re-sent prefix of a transaction the checkpoint
          // already covers — when a restart offset lands MID-transaction
          // (stop/crash partway through a txn larger than one batch), the
          // walsender re-sends the WHOLE transaction, so events at or
          // below the watermark re-arrive on their original offsets and
          // are dropped here, having been delivered before the restart.
          // (lastEventLsn still advanced above: the assignment chain must
          // consume the same slots the original run did.) Only offsets at
          // or below the replay horizon qualify: a sub-watermark event
          // BEYOND it is a conduit misordering, not a re-send — fail.
          else require(assigned <= replayHorizon,
            s"pgcdc: conduit delivered out-of-order event at $assigned " +
              s"(watermark $bufferedThrough, replay horizon $replayHorizon) — " +
              "refusing to drop events outside the restart re-send window")
        } else if (rawLsn > 0) {
          bufferedThrough = math.max(bufferedThrough, rawLsn - 1)
        }
      case None => more = false
    }
    // K3: the registry is a monotone schema cache — persist it as soon as
    // frames are decoded, not only at commit (Spark delivers source.commit
    // one trigger late; a stop before that must not lose relation schemas
    // the server will not re-send to a new session until they change).
    if (n > 0) saveRegistry()
  }

  // Trigger.AvailableNow: pin "available" at what the conduit can deliver
  // when the first planning cycle runs, so rate-limited batches drain to a
  // stable point and the query terminates (same contract as the replay
  // source). Plain triggers keep polling the conduit every cycle.
  private var availableNowArmed = false
  @volatile private var pinnedEnd: Long = Long.MinValue

  override def prepareForTriggerAvailableNow(): Unit = { availableNowArmed = true }

  override def reportLatestOffset(): Offset = LsnOffset(bufferedThrough)

  override def initialOffset(): Offset = LsnOffset(startLsn)
  override def deserializeOffset(json: String): Offset = LsnOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit = {
    val lims = maxFramesPerTrigger.map(ReadLimit.maxRows).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    lims match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** (frame cap, byte cap) from a ReadLimit; composites take the tightest
    * of each dimension. */
  private def capsOf(limit: ReadLimit): (Long, Long) = limit match {
    case rl: org.apache.spark.sql.connector.read.streaming.ReadMaxRows =>
      (rl.maxRows(), Long.MaxValue)
    case rb: org.apache.spark.sql.connector.read.streaming.ReadMaxBytes =>
      (Long.MaxValue, rb.maxBytes())
    case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
      c.getReadLimits.map(capsOf)
        .foldLeft((Long.MaxValue, Long.MaxValue)) { case ((f1, b1), (f2, b2)) =>
          (math.min(f1, f2), math.min(b1, b2))
        }
    case _ => (Long.MaxValue, Long.MaxValue)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[LsnOffset].lsn
    ensureStarted(from)
    val (cap, capBytes) = capsOf(limit)
    if (!availableNowArmed) {
      drain(cap, capBytes)
      LsnOffset(math.max(from, bufferedThrough))
    } else {
      if (pinnedEnd == Long.MinValue) {
        drain(Long.MaxValue)
        pinnedEnd = bufferedThrough
      }
      if (cap == Long.MaxValue && capBytes == Long.MaxValue)
        LsnOffset(math.max(from, pinnedEnd))
      else {
        // admission-controlled: advance toward the pin until either the
        // frame cap or the (soft) byte budget is spent
        var target = from
        var nf = 0L
        var nb = 0L
        val it = buffered.iterator
          .filter { case (l, _, _) => l > from && l <= pinnedEnd }
        while (nf < cap && nb < capBytes && it.hasNext) {
          val (l, _, b) = it.next()
          target = l; nf += 1; nb += b
        }
        LsnOffset(math.max(from, target))
      }
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LsnOffset].lsn
    val e = end.asInstanceOf[LsnOffset].lsn
    // Restart path: a batch whose offsets were logged but never committed is
    // re-planned before any latestOffset call — the conduit (re-started at
    // the checkpoint offset) must be drained up to the logged end.
    ensureStarted(s)
    if (bufferedThrough < e) drain(Long.MaxValue)
    require(bufferedThrough >= e,
      s"pgcdc: conduit could not replay WAL through $e (got $bufferedThrough) — " +
        "the server/slot no longer retains the unflushed tail")
    val events = buffered.iterator
      .filter { case (lsn, _, _) => lsn > s && lsn <= e }
      .flatMap(_._2).toArray
    if (events.isEmpty) Array.empty
    else if (minPartitions <= 1) Array(EnvelopeEventsPartition(events))
    else {
      val per = math.max(1, (events.length + minPartitions - 1) / minPartitions)
      events.grouped(per).map(g => EnvelopeEventsPartition(g): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeEventsReaderFactory

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[LsnOffset].lsn
    // K2: flush feedback strictly after Spark's durable batch commit (the
    // registry was already persisted at drain time — K3 — so discarded WAL
    // can never hold schemas the engine still needs).
    activeConduit.setFlushedLSN(e)
    buffered.removeHeadWhile(_._1 <= e)
  }

  override def stop(): Unit = activeConduit.close()
}
