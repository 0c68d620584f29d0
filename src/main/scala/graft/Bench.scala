package graft

import org.apache.spark.sql.SparkSession

/** Bench main (driver contract): times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and prints ONE JSON line. A warmup pass
  * (schema reads + one small query) runs first so the first timed query
  * doesn't absorb JVM/codegen warmup. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Harness.session(cpus)
    spark.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOGLEVEL", "WARN"))

    // warmup: touch every table (via the normalizing loaders — events needs
    // the nanosAsLong conf) + run one query end-to-end for JIT/codegen
    Seq(Tables.region _, Tables.nation _, Tables.customer _, Tables.supplier _,
      Tables.part _, Tables.orders _, Tables.lineitem _, Tables.events _,
      Tables.documents _, Tables.embeddings _).foreach(f => f(spark, sfDir).schema)
    SparkEntry.queries.get("q01_pricing_summary").foreach(f => f(spark, sfDir).count())

    // dev hook: SPARK_GRAFT_ONLY=q01_pricing_summary,dedup_clusters restricts
    // the run (isolated per-query floors); unset = full driver-shaped bench
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Fixture warmup: the shared wire-envelope spills (pgoutput encode →
    // decode → parquet) are TEST-INPUT generation, not engine work, and
    // their one-time build otherwise lands on whichever cdc_* query runs
    // first (r6: cdc_truncate 92 s first-pass vs ~1 s retimed was pure
    // fixture construction). Build them before the clock starts so
    // first-pass times measure queries — keyed on CdcQueries.fixtureDeps
    // (pinned to real consumption by CdcFixtureDepsSpec), so a restricted
    // run warms exactly the fixtures ITS queries consume and a full run
    // warms all of them, epoch-2/retype included. Query-side shared caches
    // (LSH signatures, trained models) are real engine work a user would
    // pay — those stay inside the timed run.
    selected.map(_._1)
      .flatMap(n => graft.queries.CdcQueries.fixtureDeps.getOrElse(n, Set.empty))
      .toSet.toSeq.sorted
      .foreach(k => graft.cdc.CdcPipeline.sharedFixtureBuilders(k)(spark, sfDir))
    def timeOne(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
      (System.nanoTime() - t0) / 1e9
    }
    val firstPass = selected.map { case (name, fn) => name -> timeOne(fn) }
    // Contention guard: single-shot timings of the suite tail inflate 6-37x
    // under host contention (r3 driver capture vs identical local run),
    // and sub-second queries swing 6x+ round-over-round on UNTOUCHED code
    // (r8 vs r7: host variance + shared-cache attribution). Two more full
    // passes run after the first, and every query reports its MEDIAN of 3
    // — the round-over-round comparison number (median absorbs one noisy
    // window per query; min would hide real steady-state cost). The
    // headline TOTAL stays the FIRST-pass sum: warm passes would silently
    // drop one-time costs the suite genuinely paid, so the total reports
    // the real suite cost, `queries` keeps its historical min-of-2-over-5s
    // semantics (comparable to prior rounds), and `median` carries the
    // stable per-query numbers.
    val secondPass = selected.map { case (name, fn) => name -> timeOne(fn) }.toMap
    val thirdPass = selected.map { case (name, fn) => name -> timeOne(fn) }.toMap
    val results = firstPass.map { case (name, t1) =>
      if (t1 <= 5.0) name -> t1
      else name -> math.min(t1, secondPass(name))
    }
    val medians = firstPass.map { case (name, t1) =>
      name -> Seq(t1, secondPass(name), thirdPass(name)).sorted.apply(1)
    }
    // Disclosure (r4 advice): a min-of-2 value is indistinguishable from a
    // measured-once value in the queries map alone, so the retimed queries'
    // FIRST-pass times ride along in their own map — a reader can tell
    // single-shot from best-of-two per query.
    val retimedFirst = firstPass.filter(_._2 > 5.0)
    val total = firstPass.map(_._2).sum
    val retimedTotal = results.map(_._2).sum
    val sfName = new java.io.File(sfDir).getName
    // The driver captures only the last ~2000 chars of stdout and parses
    // the metric line from that TAIL; a full line over ~80 queries cannot
    // fit beside sbt's trailer (BENCH_r02's "parsed": null — head cut).
    // Emit THREE artifacts so every consumer gets a complete record:
    //  1. BENCH_LOCAL.json in-repo — every query, full precision (the
    //     round-over-round source of truth);
    //  2. a full metric line, printed FIRST — complete for any parser that
    //     scans the whole stdout;
    //  3. a bounded line printed LAST — total + the slowest queries with an
    //     EXPLICIT queries_omitted count (never silent truncation), small
    //     enough that the tail window always holds it intact.
    def entry(k: String, v: Double, p: Int): String = {
      val s = BigDecimal(v).setScale(p, BigDecimal.RoundingMode.HALF_UP)
        .underlying.stripTrailingZeros.toPlainString
      "\"" + k + "\":" + s
    }
    def line(rs: Seq[(String, Double)], p: Int, extra: String): String =
      s"""{"metric":"total","value":${
        BigDecimal(total).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      },"unit":"sec","queries":${
        rs.map { case (k, v) => entry(k, v, p) }.mkString("{", ",", "}")
      }$extra,"sf":"$sfName"}"""
    val medianTotal = medians.map(_._2).sum
    val retimed = entry("retimed_total", retimedTotal, 2) + "," +
      entry("median_total", medianTotal, 2)
    val medianJson = medians.map { case (k, v) => entry(k, v, 9) }
      .mkString(",\"median\":{", ",", "}")
    val firstPassJson =
      if (retimedFirst.isEmpty) ""
      else retimedFirst.map { case (k, v) => entry(k, v, 9) }
        .mkString(",\"first_pass\":{", ",", "}")
    // Two detail files in the working directory (the checkout root under
    // `sbt runMain`): the historical BENCH_LOCAL.json (latest run) AND a
    // per-core-count BENCH_LOCAL_c$cpus.json — the driver's 8-core scaling
    // run used to overwrite the 32-core run's full per-query map in place
    // (r9 verdict: the 32-core detail was unrecoverable). A SPARK_GRAFT_ONLY
    // subset run writes neither: its partial map would replace a full one.
    val fullLine = line(results, 9, "," + retimed + medianJson + firstPassJson) + "\n"
    if (only.isEmpty) Seq("BENCH_LOCAL.json", s"BENCH_LOCAL_c$cpus.json")
      .foreach { p =>
        try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), fullLine)
        catch { case _: Throwable => () } // read-only checkout: stdout still has it
      }
    println(line(results, 3, "," + retimed))
    // The final bounded line must survive a ~2KB stdout-tail capture even
    // when the capture window clips mid-stream (BENCH_r03's tail ended
    // mid-line despite rc=0): keep it WELL under the window — total + the
    // 12 slowest + an explicit omitted count is ~400 chars.
    val slowest = results.sortBy(-_._2).take(12).sortBy(_._1)
    val omitted = results.size - slowest.size
    Console.out.flush()
    println(line(slowest, 2,
      s""",$retimed,"queries_omitted":$omitted,"full_detail":"BENCH_LOCAL.json""""))
    Console.out.flush()
    spark.stop()
  }
}
