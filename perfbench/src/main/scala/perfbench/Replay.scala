package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.cdc.{Cdc, CdcPipeline}
import graft.decode.PgOutputDecoder

/** `cdc_replay`: a seeded change log stored as parquet `(lsn, payload)`,
  * one file per partition, each file opening with the Relation frame. One
  * repetition decodes the log into envelopes, materializes the table with
  * TOAST repair and digests the result. */
final class Replay(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._

  val Txns = 24000
  val MaxPerTxn = 4
  val Files = 8
  val mix = Mix(insert = 0.6, update = 0.3, toastShare = 0.25)

  private var txns: Vector[Txn] = _
  private var log: FrameLog = _
  private var expected: Digest = _
  private lazy val framesDir = ctx.dir("replay-frames")
  private val repS = mutable.ArrayBuffer.empty[Double]

  def generate(): String = {
    val m = new Corpus.Model(new java.util.SplittableRandom(ctx.seed))
    txns = Corpus.transactions(m, Txns, MaxPerTxn, mix)
    log = Corpus.encode(txns)
    log.sha256
  }

  override def prepare(): Unit = {
    // Split at transaction boundaries; every file repeats the Relation frame.
    val rel = log.frames.head
    val bounds = (0 to Files).map(i => if (i == 0) 1 else log.txnEnd(txns.size * i / Files - 1))
    val slices = bounds.sliding(2).map { case Seq(a, b) =>
      rel +: log.frames.slice(a, b).toSeq
    }.toSeq
    ctx.spark.sparkContext.parallelize(slices, Files).flatMap(identity)
      .toDF("lsn", "payload").write.mode("overwrite").parquet(framesDir)
    expected = Digest.of(ExpectedState.frame(ctx.spark, Corpus.fold(txns.iterator)))
  }

  private def frames: Dataset[(Long, Array[Byte])] =
    ctx.spark.read.parquet(framesDir).as[(Long, Array[Byte])]

  private def materialized: DataFrame =
    Cdc.materialize(CdcPipeline.decodeFrames(frames).toDF(), Corpus.rel, fillToast = true)

  /** One checked repetition; returns its wall time in seconds. */
  private def rep(): Double = {
    val t = System.nanoTime()
    val d = ctx.tracer.span("repetition", "cdc") { Digest.of(materialized) }
    val s = (System.nanoTime() - t) / 1e9
    ctx.attempted += 1
    if (d != expected) ctx.fail(1, s"materialized state digest $d, expected $expected")
    s
  }

  /** Repetition times keep falling for about six repetitions while the JIT
    * compiles the decode and compaction paths. */
  val WarmupReps = 6

  def warmup(): Unit = (1 to WarmupReps).foreach(_ => rep())

  def measure(deadline: Long): Unit =
    do repS += rep() while (System.nanoTime() < deadline)

  def throughput: Double = log.events / Stats.median(repS.toSeq)
  def latencyP50Ms: Double = Stats.median(repS.toSeq) * 1e3

  override def summary: Seq[(String, Any)] = Seq(
    "frames" -> log.frames.length, "events" -> log.events, "log_bytes" -> log.bytes,
    "state_rows" -> expected.rows, "repetition_s" -> repS.map(x => f"$x%.3f").mkString("/"))

  /** Seconds of one Spark leg, median of `n` runs. */
  private def leg(n: Int)(f: => Any): Double =
    Stats.median(Seq.fill(n) {
      val t = System.nanoTime()
      f
      (System.nanoTime() - t) / 1e9
    })

  override def layerMetrics(t: TraceReport): Map[String, Double] = {
    val wire = Layers.wireDecode(log)
    val reps = t.ops("repetition")
    val decodeLeg = leg(3) {
      frames.mapPartitions(_.map(f => PgOutputDecoder.decode(f._2).msgType.toLong)).count()
    }
    val envelopeLeg = leg(3) { Digest.of(CdcPipeline.decodeFrames(frames).toDF()) }
    val materializeLeg = Stats.median(repS.toSeq)
    val local1 = {
      ctx.spark.stop()
      val s1 = Main.session(1, ctx.workDir)
      val one = new Replay(new Ctx(s1, ctx.seed, ctx.seconds, ctx.workDir, Tracer.Off))
      one.txns = txns; one.log = log; one.expected = expected
      one.rep()
      log.events / leg(2)(one.rep())
    }
    val perRep = (f: OpStats => Double) => t.perOp(reps, f)
    wire ++ Map(
      "replay.decode_leg_s" -> decodeLeg,
      "replay.envelope_leg_s" -> envelopeLeg,
      "envelope.build_s" -> (envelopeLeg - decodeLeg),
      "cdc.compact_s" -> (materializeLeg - envelopeLeg),
      "cdc.shuffle_write_b" -> perRep(_.shuffleWriteB),
      "cdc.shuffle_read_b" -> perRep(_.shuffleReadB),
      "replay.exec_cpu_s" -> perRep(_.cpuNs) / 1e9,
      "replay.gc_s" -> perRep(_.gcMs) / 1e3,
      "replay.tasks" -> perRep(_.tasks),
      "cdc.frame_read_amp" -> perRep(_.scanRecords) / log.frames.length,
      "cdc.survival_ratio" -> expected.rows.toDouble / log.events,
      "replay.eps_local1" -> local1)
  }
}

object Replay {
  /** Traced repetitions of the legs, after their warm-up. */
  val LegReps = 3

  /** The replay legs over another workload's change log, run after that
    * workload's traced measurement: they keep the decode, envelope and
    * compaction layers measured where `cdc_replay` itself does not run.
    * The repetitions run in a traced phase of their own, so the span-based
    * figures (shuffle bytes, CPU, tasks, frame reads) come from them. */
  def legs(ctx: Ctx, txns: Vector[Txn]): Map[String, Double] = {
    val r = new Replay(ctx)
    r.txns = txns
    r.log = Corpus.encode(txns)
    r.prepare()
    r.warmup()
    ctx.tracer.phase("legs")
    (1 to LegReps).foreach(_ => r.measure(System.nanoTime()))
    ctx.tracer.phase("legs_end")
    r.layerMetrics(ctx.tracer.report("legs", "legs_end"))
  }
}
