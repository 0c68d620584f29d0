package graft

/** Plan-shape audit: one line per query with the physical-plan facts that
  * matter at scale — shuffle exchange count, broadcast count, sort count,
  * whole-stage-codegen span count, and whether the scan carries pushed
  * filters. `SPARK_GRAFT_ONLY=q01,...` restricts; default audits all.
  * This is the `.explain`-and-iterate loop as a tool: diffable output,
  * runnable per round, no timing noise. (AQE's final-plan printout renders
  * both the initial and final plan sections, so absolute counts read ~2×;
  * the numbers are consistent run-to-run, which is what a diff needs.) */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session(4)
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // execute THIS df (count() would plan a different query): under
          // AQE the pre-execution plan is un-finalized — no codegen markers,
          // no runtime join demotions/promotions
          df.collect()
          val p = df.queryExecution.executedPlan.toString
          val ex = "Exchange hashpartitioning".r.findAllIn(p).size
          val rex = "Exchange rangepartitioning".r.findAllIn(p).size
          val bc = "BroadcastExchange".r.findAllIn(p).size
          val srt = "\\n[^\\n]*\\*?\\(?\\d*\\)? ?Sort ".r.findAllIn(p).size
          // executedPlan.toString marks codegen stages as "*(n) Op"
          val wsc = "\\*\\(\\d+\\)".r.findAllIn(p).map(_.toString).toSet.size
          val pushed = p.contains("PushedFilters: [") &&
            !p.matches("(?s).*PushedFilters: \\[\\].*")
          println(f"PLAN $name%-28s shuffles=$ex%-2d range=$rex%-2d broadcasts=$bc%-2d sorts=$srt%-2d codegen=$wsc%-2d pushedFilters=$pushed")
        } catch { case e: Throwable =>
          println(s"PLAN $name ERROR ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
