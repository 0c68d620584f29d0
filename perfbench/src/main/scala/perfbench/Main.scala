package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Run context shared by a workload's phases. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val workDir: String, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  /** Why the outputs were found wrong, if they were. */
  val problems = scala.collection.mutable.ArrayBuffer.empty[String]

  def fail(n: Long, why: String): Unit = {
    failed += n
    if (problems.size < 20) problems += why
  }

  def dir(name: String): String = {
    val d = new File(workDir, name)
    d.mkdirs()
    d.getAbsolutePath
  }
}

/** A workload's phases, in the order the runner calls them. */
trait Workload {
  /** Builds the inputs from the seed and returns their fingerprint. The
    * runner calls it several times and requires equal fingerprints. */
  def generate(): String
  /** One-time preparation that depends on the generated inputs. */
  def prepare(): Unit = ()
  def warmup(): Unit
  /** Runs timed operations until `deadline` (System.nanoTime). */
  def measure(deadline: Long): Unit
  /** Completed work per second: events/s for the CDC workloads and
    * queries/s for the query workload. */
  def throughput: Double
  /** Median latency of one operation, in ms. */
  def latencyP50Ms: Double
  /** Extra figures for the human-readable summary line. */
  def summary: Seq[(String, Any)] = Nil
  /** Per-layer metrics this workload measures in a traced run. */
  def layerMetrics(t: TraceReport): Map[String, Double] = Map.empty
}

object Main {
  val Workloads = Seq("cdc_replay", "cdc_stream_open", "query_tail")
  val GenerateRepeats = 3

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workloads.mkString(", ")})")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val out = arg(args, "--out").getOrElse(sys.error("--out is required"))
    val base = arg(args, "--base").getOrElse(sys.error("--base is required"))
    val workDir = arg(args, "--work").getOrElse(sys.error("--work is required"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())

    val spark = session(cpus, workDir)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (trace) Tracer.install(spark, workload) else Tracer.Off
    val ctx = new Ctx(spark, seed, seconds, workDir, tracer)
    val w: Workload = workload match {
      case "cdc_replay" => new Replay(ctx)
      case "cdc_stream_open" => new StreamOpen(ctx)
      case "query_tail" => new QueryTail(ctx)
    }

    def timed[A](f: => A): (A, Double) = {
      val t = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t) / 1e9)
    }
    val gens = Seq.fill(GenerateRepeats)(timed(w.generate()))
    if (gens.map(_._1).distinct.size != 1)
      ctx.fail(1, s"one seed gave different inputs: ${gens.map(_._1).distinct.mkString(", ")}")
    val (_, prepareS) = timed(w.prepare())
    val setupS = sessionS + Stats.median(gens.map(_._2)) + prepareS
    tracer.phase("warmup")
    val (_, warmupS) = timed(w.warmup())
    tracer.phase("measure")
    val measureStart = System.nanoTime()
    w.measure(measureStart + (seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - measureStart) / 1e9
    tracer.phase("end")

    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "warmup_s" -> (warmupS, "s"),
      "throughput_per_s" -> (w.throughput, "1/s"),
      "latency_p50_ms" -> (w.latencyP50Ms, "ms"))
    val metrics: Seq[(String, (Double, String))] =
      if (!trace) endToEnd
      else {
        val report = tracer.report()
        val layers = w.layerMetrics(report)
        val all = TraceReport.Layer.map { case (name, unit) =>
          name -> (layers.getOrElse(name, report.common.getOrElse(name, 0.0)), unit)
        }
        report.write(s"$base/trace", workload, seed, endToEnd, all)
        all
      }
    val attempted = math.max(1L, ctx.attempted)
    val correct = ctx.failed == 0 && ctx.problems.isEmpty
    val human = (Seq[(String, Any)]("workload" -> workload, "seed" -> seed,
      "measured_s" -> f"$measuredS%.2f", "setup_session_s" -> f"$sessionS%.3f",
      "setup_generate_s" -> gens.map(g => f"${g._2}%.3f").mkString("/"),
      "setup_prepare_s" -> f"$prepareS%.3f",
      "failed_share" -> ctx.failed.toDouble / attempted) ++ w.summary ++
      endToEnd.map { case (k, (v, u)) => k -> s"$v $u" })
      .map { case (k, v) => s"$k=$v" }.mkString(" ")
    println(s"perfbench: $human")
    ctx.problems.foreach(p => println(s"perfbench: CHECK FAILED: $p"))
    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": $attempted, "failed": ${ctx.failed}, "metrics": {"""
    json ++= metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    json ++= "}}"
    Files.writeString(Paths.get(out), json.toString + "\n")
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
