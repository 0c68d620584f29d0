package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.PgCdcConduits
import graft.streaming.Streams

final case class Progress(atNs: Long, endOffset: Long, inputRows: Long, triggerMs: Long,
    stateBytes: Long)

/** One upsert stream: a scheduled conduit registered under `name`, read
  * through the pgcdc source (by class name: no service entry registers the
  * `pgcdc` short name, so `format("pgcdc")` fails with dataSourceNotFound)
  * into `Streams.cdcUpsertSink`. Records when each micro-batch's progress
  * arrived and the offset it reached. A micro-batch reads at most
  * `MaxFramesPerTrigger` frames: the catch-up drain's batch size, which an
  * open loop's batches stay far below. */
final class UpsertStream(ctx: Ctx, name: String, log: FrameLog, due: Array[Long]) {
  val conduit = new ScheduledConduit(log, due)
  val stateDir: String = ctx.dir(s"$name/state")
  private val checkpoint = ctx.dir(s"$name/checkpoint")
  /** Per micro-batch with input: System.nanoTime when its progress event
    * arrived, end offset, input rows, trigger ms, and (when tracing) the
    * bytes of the state version it wrote. */
  val progress = new ConcurrentLinkedQueue[Progress]()
  @volatile private var queryId: java.util.UUID = _
  private val early = new ConcurrentLinkedQueue[(java.util.UUID, Progress)]()

  PgCdcConduits.register(name, conduit)
  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val rec = Progress(System.nanoTime(), p.sources.head.endOffset.toLong, p.numInputRows,
          p.durationMs.getOrDefault("triggerExecution", 0L).longValue,
          if (ctx.tracer eq Tracer.Off) -1L else newestVersionBytes)
        if (queryId == null) early.add(p.id -> rec)
        else if (p.id == queryId) progress.add(rec)
      }
    }
  }
  ctx.spark.streams.addListener(listener)

  private val reader = ctx.spark.readStream.format("graft.sources.PgCdcProvider")
    .option("producer", "conduit").option("conduit.name", name)
    .option("maxFramesPerTrigger", UpsertStream.MaxFramesPerTrigger)
  val query: StreamingQuery = Streams.cdcUpsertSink(reader.load(), Corpus.rel, stateDir, checkpoint)
  queryId = query.id
  early.asScala.filter(_._1 == queryId).foreach(e => progress.add(e._2))

  /** The first progress arrival (System.nanoTime) whose offset reaches `lsn`. */
  def reachedAt(lsn: Long): Option[Long] =
    progress.asScala.find(_.endOffset >= lsn).map(_.atNs)

  /** Waits until a progress event reaches `lsn`; false on timeout or when
    * the query died. */
  def await(lsn: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (reachedAt(lsn).isEmpty && query.isActive && System.nanoTime() < deadline)
      Thread.sleep(2)
    reachedAt(lsn).nonEmpty
  }

  def batches: Int = progress.size

  /** Bytes of the newest state version directory. */
  def newestVersionBytes: Long =
    Option(new File(stateDir).listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("v-"))
      .maxByOption(_.lastModified)
      .map(d => Option(d.listFiles()).toSeq.flatten.filter(_.isFile).map(_.length).sum)
      .getOrElse(0L)

  def stop(): Unit = {
    query.stop()
    ctx.spark.streams.removeListener(listener)
    query.exception.foreach(e => ctx.fail(1, s"stream $name failed: ${e.getMessage}"))
  }

  /** Compares the sink's materialized state with the expected fold. */
  def check(expected: Map[Long, Array[String]]): Unit = {
    ctx.attempted += 1
    val got = Digest.of(Streams.materializedState(ctx.spark, Corpus.rel, stateDir))
    val want = Digest.of(ExpectedState.frame(ctx.spark, expected))
    if (got != want) ctx.fail(1, s"stream $name state digest $got, expected $want")
  }
}

object UpsertStream {
  val MaxFramesPerTrigger = 15000L
}

/** `cdc_stream_open`: an open loop. Transactions are released at a fixed
  * rate whether or not the engine keeps up, into a state preloaded with a
  * fixed key space. Freshness is the time from a transaction's release to
  * the first progress event whose offset covers it.
  *
  * After the window catch-up drains follow on the warm engine: an
  * insert-heavy backlog, readable at once, is read by a new stream from
  * empty state in batches of `UpsertStream.MaxFramesPerTrigger` frames.
  * Its events per second, median over the drains, is the workload's
  * throughput; the open loop's own is set by `Rate`. */
final class StreamOpen(ctx: Ctx) extends Workload {
  /** Transactions per second: a quarter of the drain's throughput, about
    * 5,100 events/s on a 4-core host, at 2 events per transaction. */
  val Rate = 640.0
  val PreloadTxns = 5
  val PreloadPerTxn = 1000
  val MaxPerTxn = 3
  /** Batch times keep falling for about 10 batches while the JIT compiles
    * the source, merge and state-write paths. */
  val WarmupBatches = 10
  val mix = Mix(insert = 0.1, update = 0.8, toastShare = 0.25)
  /** Freshness a live table's users would still accept. */
  val FreshLimitMs = 10000.0
  /** Longest warm-up the schedule leaves room for, in seconds. */
  val ScheduleSlackS = 60.0
  val BacklogTxns = 9000
  val BacklogMaxPerTxn = 4
  val backlogMix = Mix(insert = 0.9, update = 0.1, toastShare = 0.25)
  /** One drain's time varies by up to a third between runs; the median of
    * three is steadier. */
  val Drains = 3

  private var preload: Vector[Txn] = _
  private var timed: Vector[Txn] = _
  private var log: FrameLog = _
  private var due: Array[Long] = _
  private var backlogTxns: Vector[Txn] = _
  private var backlog: FrameLog = _
  private var stream: UpsertStream = _
  private var windowStart = 0L
  private var released = 0
  private val freshMs = mutable.ArrayBuffer.empty[Double]
  private var undelivered = 0
  private val drainS = mutable.ArrayBuffer.empty[Double]

  private def releaseNs(j: Int): Long = (j * 1e9 / Rate).toLong

  def generate(): String = {
    val m = new Corpus.Model(new java.util.SplittableRandom(ctx.seed))
    preload = Corpus.bulkInserts(m, PreloadTxns, PreloadPerTxn)
    timed = Corpus.transactions(m, ((ctx.seconds + ScheduleSlackS) * Rate).toInt, MaxPerTxn, mix)
    log = Corpus.encode(preload ++ timed)
    // the Relation frame and the preload are readable at once; transaction
    // j of the schedule from j / Rate seconds after the epoch
    due = Array.fill(log.frames.length)(-1L)
    timed.indices.foreach { j =>
      val i = PreloadTxns + j
      (log.txnEnd(i - 1) until log.txnEnd(i)).foreach(f => due(f) = releaseNs(j))
    }
    backlogTxns = Corpus.transactions(new Corpus.Model(m.rnd.split()), BacklogTxns,
      BacklogMaxPerTxn, backlogMix)
    backlog = Corpus.encode(backlogTxns)
    log.sha256 + backlog.sha256
  }

  override def prepare(): Unit = {
    stream = new UpsertStream(ctx, "open", log, due)
    if (!stream.await(log.txnLsn(PreloadTxns - 1), 120))
      ctx.fail(1, "the preload never reached the sink")
  }

  def warmup(): Unit = {
    stream.conduit.epoch = System.nanoTime()
    val before = stream.batches
    val deadline = System.nanoTime() + 120e9.toLong
    while (stream.batches < before + WarmupBatches && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  def measure(deadline: Long): Unit = {
    val c = stream.conduit
    windowStart = System.nanoTime()
    c.cutoff = deadline
    c.resetLag()
    while (System.nanoTime() < deadline) Thread.sleep(5)
    // transactions released by the cutoff: the warm-up's and the window's
    released = timed.indices.takeWhile(j => c.epoch + releaseNs(j) <= deadline).size
    val first = timed.indices.find(j => c.epoch + releaseNs(j) >= windowStart)
      .getOrElse(released)
    val lastLsn = log.txnLsn(PreloadTxns + released - 1)
    stream.await(lastLsn, 60)
    (first until released).foreach { j =>
      ctx.attempted += 1
      stream.reachedAt(log.txnLsn(PreloadTxns + j)) match {
        case Some(t) => freshMs += (t - (c.epoch + releaseNs(j))) / 1e6
        case None => undelivered += 1
      }
    }
    if (undelivered > 0) ctx.fail(undelivered, s"$undelivered transactions never delivered")
    stream.stop()
    stream.check(Corpus.fold((preload ++ timed.take(released)).iterator))
    (1 to Drains).foreach(drain)
  }

  /** Times the catch-up drain from the stream's start until a progress
    * event covers the backlog's last transaction, then checks its state. */
  private def drain(i: Int): Unit = {
    val t = System.nanoTime()
    val s = new UpsertStream(ctx, s"catchup-$i", backlog, Array.fill(backlog.frames.length)(-1L))
    val drained = s.await(backlog.txnLsn(BacklogTxns - 1), 120)
    drainS += (System.nanoTime() - t) / 1e9
    s.stop()
    if (drained) s.check(Corpus.fold(backlogTxns.iterator))
    else { ctx.attempted += 1; ctx.fail(1, "the backlog never drained") }
  }

  /** Backlog events drained per second (`catchup_eps`). */
  def throughput: Double = backlog.events / Stats.median(drainS.toSeq)
  /** Freshness of every timed transaction; an undelivered one never gets fresh. */
  private def freshness: Seq[Double] =
    freshMs.toSeq ++ Seq.fill(undelivered)(Double.PositiveInfinity)
  def latencyP50Ms: Double = Stats.median(freshness)

  override def summary: Seq[(String, Any)] = {
    val xs = freshness
    Seq("rate_txn_per_s" -> Rate, "timed_txns" -> xs.size,
      "preload_keys" -> PreloadTxns * PreloadPerTxn,
      "fresh_p90_ms" -> Stats.tail(xs, 0.9).fold("n/a")(v => f"$v%.1f"),
      "fresh_p99_ms" -> Stats.tail(xs, 0.99).fold("n/a (fewer than 10 samples beyond)")(v => f"$v%.1f"),
      "fresh_max_ms" -> (if (xs.isEmpty) "n/a" else f"${xs.max}%.1f"),
      "fresh_over_limit" -> xs.count(_ > FreshLimitMs),
      "read_lag_frames_max" -> stream.conduit.maxReadLag,
      "warmup_batch_ms" -> stream.progress.asScala.filter(_.atNs < windowStart).map(_.triggerMs)
        .mkString("/"),
      "batch_ms" -> stream.progress.asScala.filter(_.atNs >= windowStart).map(_.triggerMs)
        .mkString("/"),
      "backlog_frames" -> backlog.frames.length, "backlog_events" -> backlog.events,
      "drain_s" -> drainS.map(x => f"$x%.3f").mkString("/"))
  }

  override def layerMetrics(t: TraceReport): Map[String, Double] =
    StreamLayers(log, stream) ++ Replay.legs(ctx, preload ++ timed.take(released))
}

/** Per-layer metrics of a stream workload. */
object StreamLayers {
  def apply(log: FrameLog, s: UpsertStream): Map[String, Double] = {
    // events admitted by a batch: the changes with offsets in (start, end]
    val eventLsns = log.frames.iterator.map(_._1).zip(log.frames.iterator.map(_._2(0)))
      .collect { case (l, tag) if tag == 'I' || tag == 'U' || tag == 'D' => l }.toArray
    def eventsUpTo(lsn: Long): Int = {
      val i = java.util.Arrays.binarySearch(eventLsns, lsn)
      if (i >= 0) i + 1 else -i - 1
    }
    val ps = s.progress.asScala.toSeq
    val admitted = ps.zip(0L +: ps.map(_.endOffset)).map { case (p, prev) =>
      (eventsUpTo(p.endOffset) - eventsUpTo(prev)).toDouble
    }
    val scanAmp = if (admitted.sum == 0) 0.0 else ps.map(_.inputRows.toDouble).sum / admitted.sum
    val writes = ps.zip(admitted).collect { case (p, n) if n > 0 && p.stateBytes >= 0 =>
      p.stateBytes / n
    }
    Map(
      "source.read_lag_frames_max" -> s.conduit.maxReadLag.toDouble,
      "source.scan_amp" -> scanAmp,
      "state.write_b_per_event" -> (if (writes.isEmpty) 0.0 else Stats.median(writes)),
      "state.live_b" -> ps.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0))
  }
}
