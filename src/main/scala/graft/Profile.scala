package graft

import org.apache.spark.scheduler._

/** Per-query profiling harness (evidence tool, not a bench): runs named
  * queries and prints, per query, wall time, Spark job count, and the
  * summed per-stage executor CPU / run time / shuffle bytes from the
  * listener bus — the numbers that separate "CPU-floor-bound" from
  * "scheduling/fixed-cost-bound" (guide §1/§7). Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=N runMain graft.Profile q1,q2
  * Repeats each query REPS times (default 3; env SPARK_GRAFT_REPS). */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty))
      .getOrElse(Array.empty[String])
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var cpuNs = 0L
    @volatile var runMs = 0L
    @volatile var shufR = 0L
    @volatile var shufW = 0L
    @volatile var gcMs = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          tasks += s.stageInfo.numTasks
          cpuNs += m.executorCpuTime
          runMs += m.executorRunTime
          gcMs += m.jvmGCTime
          shufR += m.shuffleReadMetrics.totalBytesRead
          shufW += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // same warmup as Bench so first-rep numbers aren't JVM warmup
    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
      Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
      Tables.documents _, Tables.embeddings _).foreach(f => f(spark, sfDir).schema)
    SparkEntry.queries.get("q01_pricing_summary").foreach(f => f(spark, sfDir).count())
    names.flatMap(n => graft.queries.CdcQueries.fixtureDeps.getOrElse(n, Set.empty))
      .toSet.toSeq.sorted
      .foreach(k => graft.cdc.CdcPipeline.sharedFixtureBuilders(k)(spark, sfDir))

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to reps).foreach { rep =>
        spark.sparkContext.setJobDescription(s"$name rep$rep")
        jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0
        shufR = 0; shufW = 0; gcMs = 0
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count() catch { case e: Throwable =>
          println(s"PROFILE $name rep$rep ERROR ${e.getMessage}"); -1L }
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // listener bus drains asynchronously
        println(f"PROFILE $name rep$rep wall=$wall%.3f jobs=$jobs stages=$stages " +
          f"tasks=$tasks cpu=${cpuNs / 1e9}%.2f run=${runMs / 1e3}%.2f " +
          f"gc=${gcMs / 1e3}%.2f shufR=${shufR / 1e6}%.1fMB " +
          f"shufW=${shufW / 1e6}%.1fMB rows=$n")
      }
    }
    spark.stop()
  }
}
