package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.decode.PgOutputDecoder
import perfbench.Tracer._

/** What one operation (a repetition, a micro-batch or a query) cost in each
  * layer below it. */
final case class OpStats(span: Span, jobs: Int, stages: Int, tasks: Double, cpuNs: Double,
    runMs: Double, gcMs: Double, shuffleReadB: Double, shuffleWriteB: Double,
    scanRecords: Double, analysisMs: Double, optimizationMs: Double, planningMs: Double,
    gapMs: Double) {
  def shuffleB: Double = shuffleReadB + shuffleWriteB
}

/** The span tree of a traced run and the per-layer metrics derived from
  * it. Operations are the direct children of the run's root span that
  * started between phases `from` and `to`; Spark jobs are attributed to the
  * operation whose span was open on the submitting thread, else to the
  * micro-batch named by the job's batch-id property, else by time. */
final class TraceReport(rec: Recording, from: String, to: String, compiles: Long,
    compileMs: Double) {
  private val phases = rec.phases.asScala.toMap
  private val measureUs = phases.getOrElse(from, rec.rootStartUs)
  private val endUs = phases.getOrElse(to, nowUs)

  private val progress = rec.progress.asScala.toSeq.sortBy(_.endUs)

  /** Micro-batch spans rebuilt from `durationMs`, with a child per step in
    * the order the engine runs them. */
  private val batchSpans: Seq[(Span, Seq[Span])] = progress.flatMap { p =>
    p.durationMs.get("triggerExecution").filter(_ => p.inputRows > 0).map { trig =>
      val op = Span(rec.nextId(), rec.root, rec.trace, "batch", "streaming",
        p.endUs - trig * 1000L, p.endUs, Map("batch" -> p.batch.toDouble))
      var t = op.startUs
      val steps = Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
        "getBatch" -> "sources", "queryPlanning" -> "spark.planner",
        "addBatch" -> "streaming", "commitOffsets" -> "streaming")
      val kids = steps.flatMap { case (k, layer) =>
        p.durationMs.get(k).map { ms =>
          val s = Span(rec.nextId(), op.id, rec.trace, k, layer, t, t + ms * 1000L)
          t += ms * 1000L
          s
        }
      }
      op -> kids
    }
  }

  private val recorded = rec.spans.asScala.toSeq
  private val allOps: Seq[Span] =
    (recorded.filter(_.parent == rec.root) ++ batchSpans.map(_._1)).sortBy(_.startUs)
  private val measured = allOps.filter(s => s.startUs >= measureUs && s.startUs <= endUs)

  private def opOf(startUs: Long): Option[Span] =
    allOps.find(s => s.startUs <= startUs && startUs <= s.endUs)

  private val parentOf: Map[Long, Long] = recorded.map(s => s.id -> s.parent).toMap
  private def rootOp(spanId: Long): Option[Long] = {
    var id = spanId
    while (parentOf.get(id).exists(_ != rec.root)) id = parentOf(id)
    if (parentOf.contains(id)) Some(id) else None
  }
  private val batchOp: Map[Long, Span] =
    batchSpans.map { case (op, _) => op.attrs("batch").toLong -> op }.toMap

  private val jobs = rec.jobs.values.asScala.toSeq.filter(_.endMs >= 0)
  private val jobOp: Map[Int, Long] = jobs.flatMap { j =>
    j.span.flatMap(rootOp)
      .orElse(j.batch.flatMap(batchOp.get).map(_.id))
      .orElse(opOf(j.startMs * 1000L).map(_.id))
      .map(j.id -> _)
  }.toMap
  private val stageJob: Map[Int, Int] = jobs.flatMap(j => j.stages.map(_ -> j.id)).toMap
  private val stages = rec.stages.asScala.toSeq
  private val qes = rec.qes.asScala.toSeq.filter(_.phases.nonEmpty)

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  val opStats: Seq[OpStats] = measured.map { op =>
    val js = jobs.filter(j => jobOp.get(j.id).contains(op.id))
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => stageJob.get(s.id).exists(jobIds))
    val qs = qes.filter { q =>
      val start = q.phases.values.map(_._1).min * 1000L
      op.startUs <= start && start <= op.endUs
    }
    def phase(n: String) = qs.flatMap(_.phases.get(n)).map(p => (p._2 - p._1).toDouble).sum
    val clip = (s: Long, e: Long) => (math.max(s, op.startUs), math.min(e, op.endUs))
    val busy = union(
      qs.flatMap(_.phases.values.map(p => clip(p._1 * 1000L, p._2 * 1000L))) ++
        js.map(j => clip(j.startMs * 1000L, j.endMs * 1000L)))
    OpStats(op, js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.cpuNs).sum.toDouble,
      ss.map(_.runMs).sum.toDouble, ss.map(_.gcMs).sum.toDouble,
      ss.map(_.shuffleReadB).sum.toDouble, ss.map(_.shuffleWriteB).sum.toDouble,
      ss.map(_.inputRecords).sum.toDouble, phase("analysis"), phase("optimization"),
      phase("planning"), math.max(0L, op.durUs - busy) / 1e3)
  }

  def ops(name: String): Seq[OpStats] = opStats.filter(_.span.name == name)

  /** Median of `f` over `ops`; 0 when there are none. */
  def perOp(ops: Seq[OpStats], f: OpStats => Double): Double =
    if (ops.isEmpty) 0.0 else Stats.median(ops.map(f))

  private def measuredProgress = progress.filter(p => p.endUs >= measureUs && p.inputRows > 0)
  private def durations(k: String): Seq[Double] =
    measuredProgress.flatMap(_.durationMs.get(k)).map(_.toDouble)
  private def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
  private def max(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.max

  /** Metrics every workload has: the Spark engine's, per operation, and
    * the streaming engine's, per micro-batch (0 without micro-batches). */
  lazy val common: Map[String, Double] = {
    val batchJobs = jobs.flatMap(j => j.batch.map(_ -> j.id)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val measuredBatches = measuredProgress.map(_.batch)
    val cpuPerBatch = measuredBatches.map { b =>
      val ids = batchJobs.getOrElse(b, Set.empty)
      stages.filter(s => stageJob.get(s.id).exists(ids)).map(_.cpuNs).sum / 1e6
    }
    val sourceMetric = (k: String) =>
      measuredProgress.flatMap(_.sourceMetrics.get(k)).map(_.toDouble)
    Map(
      "plan.analysis_ms" -> perOp(opStats, _.analysisMs),
      "plan.optimization_ms" -> perOp(opStats, _.optimizationMs),
      "plan.planning_ms" -> perOp(opStats, _.planningMs),
      "exec.jobs" -> perOp(opStats, _.jobs.toDouble),
      "exec.stages" -> perOp(opStats, _.stages.toDouble),
      "exec.tasks" -> perOp(opStats, _.tasks),
      "exec.cpu_s" -> perOp(opStats, _.cpuNs) / 1e9,
      "exec.run_s" -> perOp(opStats, _.runMs) / 1e3,
      "exec.gc_s" -> perOp(opStats, _.gcMs) / 1e3,
      "exec.shuffle_b" -> perOp(opStats, _.shuffleB),
      "codegen.compiles" -> compiles.toDouble,
      "codegen.compile_ms" -> compileMs,
      "driver.gap_ms" -> perOp(opStats, _.gapMs),
      "source.latest_offset_ms_p50" -> med(durations("latestOffset")),
      "source.latest_offset_ms_max" -> max(durations("latestOffset")),
      "source.buffered_frames_max" -> max(sourceMetric("bufferedFrames")),
      "source.buffered_bytes_max" -> max(sourceMetric("bufferedBytes")),
      "sink.add_batch_ms_p50" -> med(durations("addBatch")),
      "sink.add_batch_ms_max" -> max(durations("addBatch")),
      "stream.planning_ms_p50" -> med(durations("queryPlanning")),
      "stream.wal_commit_ms_p50" -> med(durations("walCommit")),
      "stream.commit_offsets_ms_p50" -> med(durations("commitOffsets")),
      "stream.trigger_ms_max" -> max(durations("triggerExecution")),
      "stream.batches" -> measuredProgress.size.toDouble,
      "stream.jobs_per_batch" ->
        med(measuredBatches.map(b => batchJobs.getOrElse(b, Set.empty).size.toDouble)),
      "stream.exec_cpu_ms_per_batch" -> med(cpuPerBatch))
  }

  /** Every span of the run: the recorded ones, the rebuilt micro-batches,
    * and plan phases, jobs and stages under the operation they served. */
  lazy val spans: Seq[Span] = {
    val root = Span(rec.root, 0L, rec.trace, "workload", "bench", rec.rootStartUs, endUs)
    val jobSpans = jobs.flatMap { j =>
      jobOp.get(j.id).map(op => Span(rec.nextId(), op, rec.trace, s"job ${j.id}",
        "spark.scheduler", j.startMs * 1000L, j.endMs * 1000L))
    }
    val jobSpanId = jobSpans.map(s => s.name.stripPrefix("job ").toInt -> s.id).toMap
    val stageSpans = stages.flatMap { s =>
      stageJob.get(s.id).flatMap(jobSpanId.get).map(parent => Span(rec.nextId(), parent,
        rec.trace, s"stage ${s.id}", "spark.executor", s.startMs * 1000L, s.endMs * 1000L,
        Map("tasks" -> s.tasks.toDouble, "cpu_ns" -> s.cpuNs.toDouble,
          "shuffle_read_b" -> s.shuffleReadB.toDouble,
          "shuffle_write_b" -> s.shuffleWriteB.toDouble)))
    }
    val planSpans = qes.flatMap { q =>
      val start = q.phases.values.map(_._1).min * 1000L
      opOf(start).toSeq.flatMap(op => q.phases.toSeq.map { case (n, (s, e)) =>
        Span(rec.nextId(), op.id, rec.trace, s"plan.$n", "spark.planner", s * 1000L, e * 1000L)
      })
    }
    root +: (recorded ++ batchSpans.flatMap { case (op, kids) => op +: kids } ++
      jobSpans ++ stageSpans ++ planSpans)
  }

  /** Seconds of each layer's self time: a span's duration minus the part
    * of it its children cover. */
  lazy val selfTime: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs))).filter(i => i._2 > i._1))
      s.layer -> math.max(0L, s.durUs - covered) / 1e6
    }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
  }

  /** Writes the span file and a summary with self times, the traced
    * end-to-end metrics and the tracing overhead against the last untraced
    * run of the workload, if one was saved beside the trace directory. */
  def write(dir: String, workload: String, seed: Long,
      traced: Seq[(String, (Double, String))], layers: Seq[(String, (Double, String))]): Unit = {
    new File(dir).mkdirs()
    val spansFile = Paths.get(dir, s"$workload-seed$seed.spans.jsonl")
    Files.write(spansFile, spans.sortBy(_.startUs).map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
      s"""{"trace": ${Json.str(s.trace)}, "id": ${s.id}, "parent": ${s.parent}, "name": ${
        Json.str(s.name)}, "layer": ${Json.str(s.layer)}, "start_us": ${s.startUs}, "end_us": ${
        s.endUs}, "attrs": {$attrs}}"""
    }.asJava)
    val untraced = TraceReport.savedMetrics(new File(dir).getParentFile, workload)
    val overhead = traced.flatMap { case (k, (v, _)) =>
      untraced.get(k).map(u => s"${Json.str(k)}: ${Json.num(v - u)}")
    }
    def obj(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString("{", ", ", "}")
    val summary =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "spans": ${spans.size}, "operations": ${
        opStats.size}, "self_time_s": ${obj(selfTime.toSeq.sorted)}, "traced_end_to_end": ${
        obj(traced.map { case (k, (v, _)) => k -> v })}, "untraced_end_to_end": ${
        obj(untraced.toSeq.sorted)}, "tracing_overhead": {${overhead.mkString(", ")}}, "per_layer": ${
        obj(layers.map { case (k, (v, _)) => k -> v })}}"""
    Files.writeString(Paths.get(dir, s"$workload-seed$seed.summary.json"), summary + "\n")
    println(s"perfbench: trace written to $spansFile")
    println(s"perfbench: self time by layer (s): ${
      selfTime.toSeq.sorted.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")
    println(s"perfbench: tracing overhead (traced - untraced): ${
      if (overhead.isEmpty) "no untraced run saved" else overhead.mkString(", ")}")
  }
}

object TraceReport {
  /** The per-layer metrics every traced run reports, with units. A layer a
    * workload does not exercise reports 0. */
  val Layer: Seq[(String, String)] = Seq(
    "decode.wire_ns_per_frame" -> "ns", "decode.wire_alloc_b_per_frame" -> "B",
    "replay.decode_leg_s" -> "s", "replay.envelope_leg_s" -> "s", "envelope.build_s" -> "s",
    "cdc.compact_s" -> "s", "cdc.shuffle_write_b" -> "B", "cdc.shuffle_read_b" -> "B",
    "replay.exec_cpu_s" -> "s", "replay.gc_s" -> "s", "replay.tasks" -> "count",
    "cdc.frame_read_amp" -> "ratio", "cdc.survival_ratio" -> "ratio",
    "replay.eps_local1" -> "1/s",
    "source.latest_offset_ms_p50" -> "ms", "source.latest_offset_ms_max" -> "ms",
    "source.read_lag_frames_max" -> "count", "source.buffered_frames_max" -> "count",
    "source.buffered_bytes_max" -> "B", "source.scan_amp" -> "ratio",
    "sink.add_batch_ms_p50" -> "ms", "sink.add_batch_ms_max" -> "ms",
    "stream.planning_ms_p50" -> "ms", "stream.wal_commit_ms_p50" -> "ms",
    "stream.commit_offsets_ms_p50" -> "ms", "stream.trigger_ms_max" -> "ms",
    "state.write_b_per_event" -> "B", "state.live_b" -> "B", "stream.batches" -> "count",
    "stream.jobs_per_batch" -> "count", "stream.exec_cpu_ms_per_batch" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.cpu_s" -> "s", "exec.run_s" -> "s", "exec.gc_s" -> "s", "exec.shuffle_b" -> "B",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms", "driver.gap_ms" -> "ms",
    "tail.rel_s" -> "s", "tail.text_s" -> "s", "tail.dedup_s" -> "s", "tail.sim_s" -> "s",
    "tail.mm_s" -> "s")

  /** End-to-end metrics of the last untraced run, saved as
    * `results/<workload>.json` under `base`. */
  def savedMetrics(base: File, workload: String): Map[String, Double] = {
    val f = new File(new File(base, "results"), s"$workload.json")
    if (!f.exists()) Map.empty
    else {
      val re = "\"([A-Za-z0-9_.]+)\": \\{\"value\": ([-0-9.eE]+)".r
      re.findAllMatchIn(Files.readString(f.toPath)).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
  }
}

/** Single-threaded layer probes. */
object Layers {
  /** `PgOutputDecoder.decode` over a whole log on this thread: median
    * nanoseconds and bytes allocated per frame over five passes. */
  def wireDecode(log: FrameLog): Map[String, Double] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val n = log.frames.length.toDouble
    var sink = 0L
    val passes = Seq.fill(6) {
      val a = mx.getThreadAllocatedBytes(tid)
      val t = System.nanoTime()
      var i = 0
      while (i < log.frames.length) {
        sink += PgOutputDecoder.decode(log.frames(i)._2).msgType
        i += 1
      }
      ((System.nanoTime() - t) / n, (mx.getThreadAllocatedBytes(tid) - a) / n)
    }.drop(1)
    require(sink != 0L)
    Map("decode.wire_ns_per_frame" -> Stats.median(passes.map(_._1)),
      "decode.wire_alloc_b_per_frame" -> Stats.median(passes.map(_._2)))
  }
}
