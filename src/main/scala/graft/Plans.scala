package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries to files — the plan
  * evidence companion to [[PlanAudit]] (which prints one summary line per
  * query). Usage: `runMain graft.Plans <outDir> <suffix> <q1,q2,...>`
  * writes `<outDir>/<query>_<suffix>.txt`. `SPARK_GRAFT_SF_DIR` selects
  * the data dir (default sf0.001 — plan SHAPE is SF-independent). */
object Plans {
  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println("usage: graft.Plans <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(outDir, suffix, list) = args.take(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    list.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), p)
        println(s"PLANS wrote $name")
      } catch { case e: Throwable => println(s"PLANS $name ERROR ${e.getMessage}") }
    }
    spark.stop()
  }
}
