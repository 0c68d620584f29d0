package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Times are epoch microseconds;
  * `parent` is 0 for the root span of a run. */
final case class Span(id: Long, parent: Long, trace: String, name: String, layer: String,
    startUs: Long, endUs: Long, attrs: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

/** Records spans around the calls the benchmark makes into each layer, and
  * what Spark reports through its listener surfaces. Everything stays in
  * memory until the run ends. */
trait Tracer {
  def span[A](name: String, layer: String)(f: => A): A
  /** Marks the start of a run phase: warmup, measure, end. */
  def phase(name: String): Unit
  /** The spans and listener records of the operations that started
    * between phases `from` and `to`. */
  def report(from: String = "measure", to: String = "end"): TraceReport
}

object Tracer {
  object Off extends Tracer {
    def span[A](name: String, layer: String)(f: => A): A = f
    def phase(name: String): Unit = ()
    def report(from: String, to: String): TraceReport = sys.error("tracing is off")
  }

  def install(spark: SparkSession, workload: String): Tracer = new Recording(spark, workload)

  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  final case class JobRec(id: Int, startMs: Long, stages: Seq[Int], span: Option[Long],
      batch: Option[Long], var endMs: Long = -1L)
  final case class StageRec(id: Int, startMs: Long, endMs: Long, tasks: Int, cpuNs: Long,
      runMs: Long, gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, inputRecords: Long)
  /** Analysis, optimization and planning intervals of one executed query. */
  final case class QeRec(phases: Map[String, (Long, Long)])
  final case class ProgressRec(batch: Long, endUs: Long, durationMs: Map[String, Long],
      inputRows: Long, endOffset: Option[Long], sourceMetrics: Map[String, String])

  final class Recording(spark: SparkSession, workload: String) extends Tracer {
    val trace: String = s"$workload-${System.currentTimeMillis()}"
    private val ids = new AtomicLong(1L)
    val root: Long = ids.getAndIncrement()
    val rootStartUs: Long = nowUs
    val spans = new ConcurrentLinkedQueue[Span]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val qes = new ConcurrentLinkedQueue[QeRec]()
    val progress = new ConcurrentLinkedQueue[ProgressRec]()
    val phases = new ConcurrentLinkedQueue[(String, Long)]()
    private val current = new ThreadLocal[List[Long]] { override def initialValue = Nil }
    private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    private val compilesAtStart = codegen.getCount

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.put(e.jobId, JobRec(e.jobId, e.time, e.stageIds,
          p.flatMap(x => Option(x.getProperty("perfbench.span"))).map(_.toLong),
          p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        if (m != null) stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks, m.executorCpuTime,
          m.executorRunTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.recordsRead))
      }
    })

    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qes.add(QeRec(qe.tracker.phases.map { case (k, v) => k -> ((v.startTimeMs, v.endTimeMs)) }))
    })

    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val src = p.sources.headOption
        progress.add(ProgressRec(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L +
            p.durationMs.getOrDefault("triggerExecution", 0L) * 1000L,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          src.flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption),
          src.map(_.metrics.asScala.toMap).getOrElse(Map.empty)))
      }
    })

    def span[A](name: String, layer: String)(f: => A): A = {
      val id = ids.getAndIncrement()
      val parent = current.get.headOption.getOrElse(root)
      val sc = spark.sparkContext
      val before = sc.getLocalProperty("perfbench.span")
      current.set(id :: current.get)
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = nowUs
      try f
      finally {
        spans.add(Span(id, parent, trace, name, layer, start, nowUs))
        current.set(current.get.tail)
        sc.setLocalProperty("perfbench.span", before)
      }
    }

    def phase(name: String): Unit = phases.add(name -> nowUs)

    def nextId(): Long = ids.getAndIncrement()

    def report(from: String, to: String): TraceReport = {
      // listener events arrive asynchronously; let the bus drain
      var last = -1
      var settled = 0
      while (settled < 3) {
        Thread.sleep(200)
        val n = jobs.size + stages.size + qes.size + progress.size
        if (n == last) settled += 1 else { settled = 0; last = n }
      }
      val compiles = codegen.getCount - compilesAtStart
      val compileMs = compiles * codegen.getSnapshot.getMean
      new TraceReport(this, from, to, compiles, compileMs)
    }
  }
}
