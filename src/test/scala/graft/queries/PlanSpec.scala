package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the properties that make these queries hold at
  * 100 TB — predicate pushdown into the parquet scan, column pruning,
  * broadcast joins for small dims, TakeOrderedAndProject for top-k, partial
  * (map-side) aggregation. A green result here is design evidence, not just
  * behavior. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, d)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("q02 filter+projection: predicates pushed to the parquet scan, columns pruned") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_shipdate[^\\]]*\\].*"), p)
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"), p)
    // pruned read schema: no l_tax / l_returnflag in ReadSchema
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("l_tax") && !readSchema.contains("l_returnflag"), readSchema)
  }

  test("q03 dimension joins: both nation and region broadcast, no shuffle join") {
    val p = plan("q03_broadcast_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05/q06: semi and anti joins plan as such (no row multiplication)") {
    assert(plan("q05_semi_join").contains("LeftSemi"))
    assert(plan("q06_anti_join").contains("LeftAnti"))
  }

  test("q11 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q11_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01 aggregation is two-phase (map-side partial + final)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("whole-stage codegen covers the agg pipeline (no interpreted hot path)") {
    val df = graft.SparkEntry.queries("q01_pricing_summary")(spark, d)
    df.collect() // AQE finalizes the physical plan only on execution
    // codegen stages print as "*(n)" in the compact plan form
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1)") && p.contains("*(2)"), p)
  }

  test("cdc compaction has exactly one wide exchange (the pk shuffle)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // plain envelope compaction: events -> one hash exchange for the window
    val events = graft.sources.Envelope.frame(Seq(
      graft.decode.ChangeEvent("I", "1-1", 1, 1, 1, 1, 0, "public", "t", 1,
        Map("id" -> "1"), null, Map("id" -> "1", "v" -> "a"), Nil, Nil)).toDS())
    val out = graft.cdc.Cdc.compact(events, Seq("id"))
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // one exchange for the window partitioning; the truncate high-water mark
    // is a broadcast, not a second data shuffle
    val exchanges = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).size
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 2, s"expected <=2 hash exchanges, plan:\n$p")
    assert(p.contains("BroadcastExchange") || exchanges <= 2, p)
  }

  test("sim_topk_brute broadcasts the query set against the corpus scan") {
    val p = plan("sim_topk_brute")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("events scan prunes to the columns the query needs") {
    val p = plan("q19_json")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("props") && !readSchema.contains("event_type"), readSchema)
  }

  test("q34 EXISTS/NOT EXISTS decorrelate to semi + anti joins, never a cross product") {
    val p = plan("q34_exists_subquery")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q33 correlated scalar subqueries decorrelate to aggregates + joins") {
    val p = plan("q33_correlated_subquery")
    // no per-row subquery execution: the rewrite produces joins against
    // grouped aggregates of the inner table
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q38 null-safe join keys plan as a single equi-join (no nested loop)") {
    val p = plan("q38_null_safe_join")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin")
      || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("sim_ivf_ann probes via broadcast joins — the corpus is never shuffled") {
    val df = graft.SparkEntry.queries("sim_ivf_ann")(spark, d)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q42 histogram aggregates two-phase on the derived bucket key") {
    val p = plan("q42_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("partial_"), p)
  }

  test("q44 gap-fill pushes the partition-key filter below the window") {
    val p = plan("q44_gap_fill")
    // the user_id < 50 predicate must reach the scan, not run post-window
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*user_id[^\\]]*\\].*"), p)
    // one hash exchange for the window partitioning, nothing more
    assert(p.linesIterator.count(_.contains("hashpartitioning")) <= 1, p)
  }

  test("text_tfidf broadcasts df and corpus-count sides — the tf table never shuffles for the join") {
    val p = plan("text_tfidf")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // the 1-row N cross join
  }

  test("decontamination joins the corpus against a BROADCAST benchmark set") {
    // the eval set is tiny vs the corpus: its shingles must broadcast so
    // the corpus side never shuffles for the join
    val p = plan("text_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q28 approx twin: mergeable sketch with map-side partial aggregation") {
    // the scale property: approx_percentile runs as a two-phase object hash
    // aggregate (partial sketches merged), never a single-phase buffer of
    // raw group values on one node
    val p = plan("q28_stats_approx")
    assert(p.contains("approx_percentile"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p)
  }

  test("scd2 history costs one pk shuffle — same as compaction (the lead window)") {
    import spark.implicits._
    val events = graft.sources.Envelope.frame(Seq(
      graft.decode.ChangeEvent("I", "1-1", 1, 1, 1, 1, 0, "public", "t", 1,
        Map("id" -> "1"), null, Map("id" -> "1", "v" -> "a"), Nil, Nil)).toDS())
    val out = graft.cdc.Cdc.scd2History(events, Seq("id"))
    val p = out.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 2, s"expected <=2 hash exchanges, plan:\n$p")
    // the truncate high-water rides a broadcast, never a data shuffle
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sim_kmeans assignment is a narrow map — no join, one agg shuffle") {
    val p = plan("sim_kmeans")
    assert(!p.contains("Join"), p) // centroids are literals, not a joined side
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 1, s"expected <=1 hash exchange, plan:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // two-phase final agg
  }

  test("sim_label_centroids joins the corpus against BROADCAST centroids") {
    val p = plan("sim_label_centroids")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q47 funnel pushes each stage's event_type filter to the scan") {
    val p = plan("q47_event_funnel")
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*event_type[^\\]]*\\].*"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q49 rolling distinct broadcasts the day dimension (no quadratic join)") {
    val p = plan("q49_rolling_distinct")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q51 anomaly scoring broadcasts the per-user profile back onto the scan") {
    val p = plan("q51_event_anomaly")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_pii_redact is a pure narrow map — no data shuffle before the sort") {
    val p = plan("text_pii_redact")
    assert(!p.contains("hashpartitioning"), p)
    // column pruning: the scrubber needs only doc_id + text
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("sim_pq_adc: narrow encode, broadcast query probe, no sort-merge join") {
    val p = plan("sim_pq_adc")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("cdc_online_dedup shuffles once on the content digest (the hash window)") {
    val p = plan("cdc_online_dedup")
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 2, s"expected <=2 hash exchanges, plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_winnowing runs on ONE doc-keyed partitioning (leads, count, window-min share it)") {
    val p = plan("text_winnowing")
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 2, s"expected <=2 hash exchanges, plan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q52 session stats reuses the user-keyed session-window partitioning") {
    val p = plan("q52_session_stats")
    assert(!p.contains("CartesianProduct"), p)
    // one session-window agg; the duration projection adds no exchange
    val dataShuffles = p.linesIterator.count(l => l.contains("hashpartitioning"))
    assert(dataShuffles <= 2, s"expected <=2 hash exchanges, plan:\n$p")
  }

  test("q45 star join keeps the bounded dims broadcast, customer unpinned") {
    // nation/region are hinted (bounded at 25/5 rows forever); customer's
    // side is adaptive — at test scale statistics make it a broadcast too,
    // at warehouse scale it becomes a shuffle join with no code change.
    val p = plan("q45_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_bloom_blocklist: Bloom prefilter runs below the exact semi join") {
    // the sketch filter must gate the corpus BEFORE rows reach the join —
    // that ordering is the whole point (the exchange carries hits + fp,
    // not the corpus). In the formatted plan the Filter node holding the
    // UDF appears as an input of the semi join, not above it.
    val p = plan("dedup_bloom_blocklist")
    assert(p.contains("LeftSemi"), p)
    val udfIdx = p.indexOf("UDF(")
    assert(udfIdx >= 0, p)
    // formatted explain lists children before parents in the numbered tree;
    // assert the UDF filter is attributed to the join's left input subtree
    val joinLine = p.linesIterator.find(_.contains("LeftSemi")).get
    assert(joinLine.nonEmpty)
    assert(p.contains("Filter"), p)
  }

  // q80/q90/q91/q93: every row-level window must ride DistributedRank's
  // bucket partitioning — the only permissible unpartitioned windows are
  // the O(buckets) offset prefix (first spec column __bucket) and, for q80,
  // the 10-row decile cum. A windowspecdefinition opening on any other
  // column means an entity-sized table funneled through one task.
  private def assertBucketedWindows(name: String, alsoAllowed: Set[String] = Set.empty): Unit = {
    val p = plan(name)
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    val allowed = Set("__bucket") ++ alsoAllowed
    assert(specHeads.forall(allowed), s"$name window spec heads=$specHeads\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q90 Gini rank is bucket-partitioned — no customer-sized single-partition window") {
    assertBucketedWindows("q90_concentration")
  }

  test("q91 Pareto rank+cum are bucket-partitioned — no customer-sized single-partition window") {
    assertBucketedWindows("q91_pareto_revenue")
  }

  test("q80 decile rank is bucket-partitioned; only the 10-row decile cum is unpartitioned") {
    assertBucketedWindows("q80_decile_lift", alsoAllowed = Set("decile"))
  }

  test("q93 latency cum is bucket-partitioned — no converter-sized single-partition window") {
    assertBucketedWindows("q93_time_to_convert")
  }

  test("q94 KLL twin: one mergeable sketch pass (partial object-hash agg), " +
      "1-row summary broadcast back, no window at all") {
    val p = plan("q94_time_to_convert_kll")
    assert(p.contains("kll_sketch_agg_double"), p)
    assert(p.contains("ObjectHashAggregate"), p)
    assert(p.contains("partial_"), p) // map-side partial sketches merged
    assert(!p.contains("windowspecdefinition"), p) // the point of the twin
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q58 interval sweep: event-level window is bucket-partitioned, offsets broadcast") {
    val p = plan("q58_peak_concurrency")
    // the O(events) running sum must be partitioned by hour bucket — a
    // global-order window here would serialize the whole sweep
    assert(p.contains("windowspecdefinition(bucket"), p)
    // bucket offsets (rows = number of hours) join back via broadcast
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q54 regression aggregates partial-aggregate map-side (two-phase HashAggregate)") {
    val p = plan("q54_regression")
    // co-moment aggregates are mergeable: a partial aggregate must appear
    // below the exchange (map-side combine), the final one above it
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Exchange"), p)
  }

  test("q56 lateral top-n decorrelates to one ranked pass — no per-row nested loop") {
    val p = plan("q56_lateral_topn")
    // DecorrelateInnerQuery rewrites LATERAL … LIMIT into a partitioned
    // window; the plan must contain the rank, and must NOT execute the
    // subquery per outer row (no LateralJoin/CartesianProduct survives)
    assert(p.contains("Window") || p.contains("WindowGroupLimit"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_maxsim: query set broadcast, corpus scanned once with a narrow score map") {
    val p = plan("sim_maxsim")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the only data exchanges are the per-query rank and the final sort —
    // the corpus reaches the join straight off its scan (BuildRight = the
    // broadcast query set), and WindowGroupLimit keeps per-partition top-k
    // ahead of the rank shuffle (map-side candidate pruning)
    assert("(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(p).size <= 2, p)
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("BuildRight"), p)
  }

  test("text_lm_perplexity: vocab LM and corpus-total broadcast back to the doc-term side") {
    val p = plan("text_lm_perplexity")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_bpe_merges: corpus-sized pass is two-phase, top-20 is TakeOrdered") {
    val p = plan("text_bpe_merges")
    // word-count agg (the only corpus-sized pass) must combine map-side,
    // and the final top-20 must be a bounded heap, not a global sort
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q68 market basket: pair generation is basket-local (no self-join) — " +
      "the big table shuffles once, the count joins broadcast") {
    val p = plan("q68_market_basket")
    assert(!p.contains("SortMergeJoin"),
      s"pairs must explode basket-locally, not via a self-join:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_vocab_coverage: the rank window consumes a TakeOrdered top-30, " +
      "never a full-vocabulary single-partition sort") {
    val p = plan("text_vocab_coverage")
    // vocab counts collapse two-phase; the coverage curve's window input is
    // a bounded heap cut (30 rows), so the SinglePartition exchange that
    // feeds the window moves a constant, not the vocabulary
    assert(p.contains("partial_"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("text_ndcg: both rankings cut to top-10 via TakeOrdered before any " +
      "rank window (a common query term can match corpus-scale doc counts)") {
    val p = plan("text_ndcg")
    val n = "TakeOrderedAndProject".r.findAllIn(p).length
    assert(n >= 2, s"expected both the BM25 and ideal rankings to TakeOrdered, " +
      s"found $n in:\n$p")
  }

  test("cdc_wire_stats is one narrow filter + one two-phase agg over the stream") {
    val p = plan("cdc_wire_stats")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    // no image-map deserialization beyond the envelope projection: the agg
    // reads only op/txId/lsn
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("dedup_decontaminate: benchmark spans semi-join (no row multiplication), counts two-phase") {
    val p = plan("dedup_decontaminate")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_count"), p)
  }

  test("text_bpe_tokenize: tokenizer model broadcast onto the corpus, learned merges 1-row") {
    val p = plan("text_bpe_tokenize")
    // the word→token-count map joins the exploded corpus as a broadcast
    // (model ≪ corpus); the corpus side must never sort-merge
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    // vocab-sized aggs are two-phase (map-side partial before exchange)
    assert(p.contains("partial_"), p)
  }

  test("text_mix_sample: mixture model broadcast onto the corpus, no sort-merge join") {
    val p = plan("text_mix_sample")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_heavy_hitters: candidate set broadcast for the exact recount, counts two-phase") {
    val p = plan("text_heavy_hitters")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_edit_verify: LSH candidates only — no cross product") {
    val p = plan("dedup_edit_verify")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_leakage_split: group-keyed hash aggs only — no window, no cross product") {
    val p = plan("dedup_leakage_split")
    // cluster-then-split is two hash aggs over the group key: nothing may
    // sort the corpus under a global window or multiply rows
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_count"), p)
  }

  test("text_pack_offsets: the only ORDERED single-partition pass is the " +
      "bucket-count-sized offset table (DistributedRank level 2)") {
    val p = plan("text_pack_offsets")
    // 1-row min/max final aggregations may pass through one partition
    // (bounded by partition count, not data); exactly ONE single-partition
    // exchange may feed an ordered operator — the O(64) offset table —
    // and none may feed a sort/window over corpus rows
    val lines = p.linesIterator.toVector
    val followers = lines.zipWithIndex
      .filter(_._1.contains("SinglePartition")).map { case (_, i) =>
        lines.drop(i + 1).find(_.trim.startsWith("(")).getOrElse("")
      }
    assert(followers.count(_.contains("Sort")) == 1, p)
    assert(followers.forall(f => f.contains("Sort") || f.contains("HashAggregate")), p)
  }

  test("scale audit over the ENTIRE query map: every SinglePartition " +
      "exchange feeds a bounded-cardinality operator (the r6 round-ritual " +
      "grep, as a failing test)") {
    // A SinglePartition exchange is the one plan shape that serializes rows
    // through a single task. Harmless when its consumer is cardinality-
    // bounded by construction (final agg of already-reduced partials, a
    // global limit); a 100 TB hazard when it feeds a Sort/Window over rows
    // that grow with the data. Every Sort-feeding site must therefore be on
    // this allowlist, with the bound that makes it constant-sized stated —
    // the same contract the per-site comments carry in main.
    // EXACT set: a query appears here iff its plan carries a single-
    // partition sort, with the bound that makes that sort constant-sized.
    // A new bounded site must be added WITH its bound; a rewrite that
    // removes one must also remove its entry (stale entries fail too).
    val allow: Map[String, String] = Map(
      // DistributedRank level 2: the one ordered pass runs over the offset
      // table — one row per bucket, bucket COUNT fixed at 64 regardless of
      // corpus size (operators/DistributedRank.scala:35)
      "text_pack_offsets" -> "DistributedRank level-2 offset table: O(64) rows",
      "q58_peak_concurrency" -> "DistributedRank level-2 offset table: O(64) rows",
      "q80_decile_lift" -> "DistributedRank level-2 offset table: O(64) rows",
      "q90_concentration" -> "DistributedRank level-2 offset table: O(64) rows",
      "q91_pareto_revenue" -> "DistributedRank level-2 offset table: O(64) rows",
      "q93_time_to_convert" -> "DistributedRank level-2 offset table: O(64) rows",
      // distinct round(score, 6) values of a [0,1] score: ≤ 1e6+1 rows at
      // any corpus size (bounded value domain, not data-sized)
      "text_pareto_frontier" -> "distinct 6dp scores over [0,1]: ≤ 1e6+1 rows",
      // study-window-bounded life tables / hour grids: the survival family
      // runs all ordered arithmetic on ≤ 169 hour rows (the 7-day study
      // window), never on user- or corpus-sized data
      "q95_kaplan_meier" -> "hour-bucketed life table: ≤ 169 rows",
      "q96_logrank" -> "hour-bucketed life table: ≤ 169 rows",
      "q97_survival_summary" -> "hour-bucketed life table: ≤ 169 rows",
      "q98_competing_risks" -> "hour-bucketed life table: ≤ 169 rows",
      "cdc_survival_serving" -> "hour-bucketed life table: ≤ 169 rows",
      // observed-hour series: one row per hour of the data's time span
      // (~720), denser data adds rows per hour, not hours
      "q79_acf" -> "observed-hour series: domain-sized (~720 rows)",
      // per-key multiplicity histogram: rows = max join-key multiplicity
      "q74_skew_profile" -> "multiplicity histogram: ~max-multiplicity rows",
      // daily aggregates first; the CUSUM window runs over the day series
      "q88_cusum" -> "daily-total series: bounded day-domain rows",
      // Zipf slope fits over the log₂-bucketed rank histogram
      "text_zipf_fit" -> "log-bucketed rank histogram: ~64 bucket rows"
    )
    val unordered = Seq("HashAggregate", "ObjectHashAggregate",
      "SortAggregate", "GlobalLimit", "CollectLimit", "LocalLimit",
      "Project", "Generate", "Expand", "Filter", "Coalesce", "Exchange",
      "Subquery", "Scan", "InMemory", "Union", "AQEShuffleRead", "Join",
      "AdaptiveSparkPlan")
    val unclassified = scala.collection.mutable.ArrayBuffer.empty[String]
    val flagged = scala.collection.mutable.Map.empty[String, Vector[String]]
    // The consumer is resolved from the formatted plan's TREE section —
    // the exchange's structural PARENT — not "the next detail block"
    // (review finding: the next-listed detail can be an intermediate or a
    // sibling subtree's leaf, hiding a data-sized sort behind it). A tree
    // entry is `name (id)`; its parent is the nearest line above at a
    // smaller name column within the same contiguous tree block.
    val treeEntry = """^([\s:+\-*]*)([A-Za-z][A-Za-z0-9_]*(?:\s+[A-Za-z][A-Za-z0-9_.]*)*)\s+\((\d+)\)\s*$""".r
    graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      val p = plan(name)
      val lines = p.linesIterator.toVector
      // (lineNo, nameCol, opName, id) for every tree entry in every section
      val tree = lines.zipWithIndex.flatMap {
        case (treeEntry(prefix, op, id), i) => Some((i, prefix.length, op, id))
        case _ => None
      }
      val byId = tree.map(t => t._4 -> t).toMap
      def parentOf(id: String): Option[String] = byId.get(id).flatMap {
        case (line, colN, _, _) =>
          // walk up the SAME contiguous tree block (consecutive lines)
          var i = tree.indexWhere(_._4 == id) - 1
          var expect = line - 1
          while (i >= 0 && tree(i)._1 == expect && tree(i)._2 >= colN) {
            expect -= 1; i -= 1
          }
          if (i >= 0 && tree(i)._1 == expect && tree(i)._2 < colN)
            Some(tree(i)._3)
          else None
      }
      // each SinglePartition detail line → its exchange's node id → parent
      val detailHeader = """^\((\d+)\)\s+\S.*$""".r
      val consumers = lines.zipWithIndex
        .filter(_._1.contains("SinglePartition")).map { case (_, i) =>
          val id = lines.take(i).reverseIterator.collectFirst {
            case detailHeader(n) => n
          }
          id.flatMap(parentOf).getOrElse("")
        }
      consumers.foreach { f =>
        val ordered = (f.contains("Sort") && !f.contains("SortAggregate")) ||
          f.contains("Window")
        if (ordered)
          flagged(name) = flagged.getOrElse(name, Vector.empty) :+ f.trim
        else if (!unordered.exists(f.contains) && f.nonEmpty)
          unclassified += s"$name: SinglePartition feeds UNCLASSIFIED $f"
        else if (f.isEmpty)
          unclassified += s"$name: SinglePartition exchange with UNRESOLVED parent"
      }
    }
    assert(unclassified.isEmpty, unclassified.mkString("\n"))
    val missing = flagged.keySet -- allow.keySet // new hazards: must justify
    val stale = allow.keySet -- flagged.keySet   // bound gone: trim the list
    assert(missing.isEmpty && stale.isEmpty,
      s"single-partition-sort allowlist drift —\n" +
        s"UNALLOWLISTED (state the bound or rewrite): ${missing.toSeq.sorted
          .map(n => s"$n ${flagged(n).mkString("; ")}").mkString(", ")}\n" +
        s"STALE (sort no longer in plan — remove): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("dedup_substring_remove: first-occurrence is a partial-agg, no window sort or cross product") {
    val p = plan("dedup_substring_remove")
    // the corpus-sized digest pass must combine map-side (min-struct agg),
    // not sort every gram under a window
    assert(p.contains("partial_min"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the only Window in the plan is the doc-keyed lead() span builder —
    // no digest-keyed window (the scale hazard the agg form avoids)
    val windows = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(!windows.contains("row_number"), windows)
  }

  test("cdc_failover_resync: watermark anti join + one full-outer pk join, " +
      "no cross product — the recovery delta costs joins, never a rebuild") {
    val p = plan("cdc_failover_resync")
    assert(p.contains("LeftAnti"), p)   // the chunk-vs-tail watermark rule
    assert(p.contains("FullOuter"), p)  // old state vs converged state
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cdc_chunked_snapshot: the watermark rule is one anti join, no cross product") {
    val p = plan("cdc_chunked_snapshot")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_triangles: two-hop closure joins on edge endpoints — no cross product") {
    val p = plan("sim_triangles")
    assert(!p.contains("CartesianProduct"), p)
    // triangle counting ends in a two-phase count over the exploded corners
    assert(p.contains("partial_count"), p)
  }

  test("text_cdc_chunks: one doc-keyed window (boundary cumsum), chunk text never joins") {
    val p = plan("text_cdc_chunks")
    // the boundary cumsum is the only window pass, keyed by doc
    val windows = p.linesIterator.filter(_.contains("Window")).mkString("\n")
    assert(windows.nonEmpty, p)
    // the recurrence join carries 16-byte hashes, not chunk text: no
    // sort-merge join on a text column
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q62 EWMA: one user-keyed window pass, integer terms, no join") {
    val p = plan("q62_ewma")
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window.*")) === 1, p)
    assert(!p.contains("Join"), p)
  }

  test("text_bm25: df/corpus stats broadcast; the corpus never cross-joins") {
    val p = plan("text_bm25")
    // the term-df side and the scalar (N, avgdl) row both broadcast
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup_containment: stop-shingle cap is a broadcast anti join (jaccard's shape)") {
    val p = plan("dedup_containment")
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_pipeline_e2e: contamination gate broadcasts; no cross product end-to-end") {
    val p = plan("text_pipeline_e2e")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q63 table profile: each branch's scan reads only its own column") {
    val p = plan("q63_table_profile")
    val schemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size >= 6, p)
    // the o_orderkey branch must not drag other columns through its scan
    assert(schemas.exists(s => s.contains("o_orderkey") && !s.contains("o_totalprice")
      && !s.contains("o_orderdate")), schemas.mkString("\n"))
  }

  test("q64 hopping window: two-phase aggregation (map-side partial over expanded windows)") {
    val p = plan("q64_hopping_window")
    assert(p.contains("partial_"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q65 interpolation brackets via window passes — no range join, no cross product") {
    val p = plan("q65_interpolate")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window.*")) >= 2, p)
  }

  test("text_pareto_frontier: dominance sweep is one agg + one tiny window, no self-join of docs") {
    val p = plan("text_pareto_frontier")
    assert(!p.contains("CartesianProduct"), p)
    // exactly one Window (the running max over distinct scores)
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window.*")) === 1, p)
  }

  test("sim_ivf_pq: PQ encode is a narrow map (no side-table join); probes broadcast into the cells") {
    val p = plan("sim_ivf_pq")
    // the encode must NOT re-join the corpus to a deq side table — one
    // equi broadcast join (probes → cells) is the only hash join allowed
    // (tree line only; the formatted details section repeats the name)
    assert("BroadcastHashJoin Inner".r.findAllIn(p).size === 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_hybrid_retrieval: dense top-k is a bounded heap; fusion never touches the corpus") {
    val p = plan("text_hybrid_retrieval")
    // the dense candidate list collapses map-side (TakeOrdered), and the
    // single query row reaches the corpus scan as a broadcast — the scan
    // itself is never re-partitioned for the fusion join
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  // a cached subtree is re-printed under every InMemoryTableScan — count
  // DISTINCT node ids, not textual occurrences
  test("text_rag_chunks: narrow chunk explosion — no shuffle except the final sort") {
    val p = plan("text_rag_chunks")
    // the chunk expansion (split + sequence + explode + slice + md5) is a
    // narrow map over the scan; the only exchange is the output orderBy
    val exchanges = "(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(p).size
    assert(exchanges <= 1, p)
    assert(p.contains("Generate"), p) // the explode is really there
  }

  test("cdc_incremental_chunks: delta explode + ONE keyed net-count shuffle " +
      "(plus the output sort)") {
    val p = plan("cdc_incremental_chunks")
    val exchanges = "(?<!Broadcast)Exchange \\(\\d+\\)".r.findAllIn(p).size
    // one shuffle for the (doc, chunk, md5)-keyed sum, one for the orderBy
    assert(exchanges <= 2, p)
    assert(p.contains("HashAggregate"), p)
  }

  test("q92 multi-touch attribution: the touch join is a real equi-join " +
      "(never a time-range nested loop), aggregates are partial") {
    val p = plan("q92_multitouch_attribution")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // conversion-keyed and model-keyed aggs both run map-side partials
    assert(p.contains("HashAggregate"), p)
  }

  private def distinctNodes(p: String, op: String): Set[String] =
    (op + """[^(\n]*\((\d+)\)""").r.findAllMatchIn(p).map(_.group(1)).toSet

  test("sim_margin_mining: one pair build; denominators re-join as broadcasts, corpus never shuffle-joins") {
    val p = plan("sim_margin_mining")
    // the corpus × query-set pair build is the only nested-loop; both
    // denominator re-joins (16-row forward, q×8-row backward) broadcast.
    // (First-build plans have exactly 1; a cache pre-warmed by an earlier
    // invocation in the same session can leave one consumer branch
    // un-substituted, showing a 2nd node id — same shape, so allow 2.)
    assert(distinctNodes(p, "BroadcastNestedLoopJoin").size <= 2, p)
    assert("BroadcastHashJoin".r.findAllIn(p).nonEmpty, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_mmr_rerank: greedy steps are broadcast joins over q×8 rows — no shuffle join, no cross product") {
    val p = plan("sim_mmr_rerank")
    assert(distinctNodes(p, "BroadcastNestedLoopJoin").size <= 2, p) // candidate build (+1 if cache pre-warmed)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q66 CEP pattern: every window pass shares ONE user-keyed exchange — no joins, no explosion") {
    val p = plan("q66_pattern_match")
    assert(p.linesIterator.count(_.contains("hashpartitioning")) <= 1, p)
    assert(!p.contains("Join"), p)
  }

  test("text_collocations: marginal joins move vocab rows; totals broadcast; no cross product beyond the 1-row totals") {
    val p = plan("text_collocations")
    // the only nested-loop joins are the 1-row totals broadcasts
    assert(distinctNodes(p, "BroadcastNestedLoopJoin").size <= 3, p)
    assert(!p.contains("CartesianProduct"), p)
    // the bigram count table is cached once for its two consumers
    assert(p.contains("InMemoryTableScan"), p)
  }

  test("text_dsir_sample: bucket LMs broadcast back; selection is TakeOrdered") {
    val p = plan("text_dsir_sample")
    // the 64-row log-ratio table joins the per-doc counts as a broadcast,
    // and the Gumbel top-100 is a bounded heap, not a global sort
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q73 fuzzy join: candidates come from the rank-filtered prefix; verify is array math, no cross product") {
    val p = plan("q73_fuzzy_join")
    // prefix selection = a window rank over rarest-first trigrams
    assert(p.linesIterator.exists(_.matches("\\(\\d+\\) Window.*")), p)
    // exact verification happens on the pair rows via array_intersect —
    // never a second posting-list join
    assert(p.contains("array_intersect"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q71 attribution: one user-keyed window pass, no purchase×touch self-join") {
    val p = plan("q71_attribution")
    assert(p.linesIterator.count(_.matches("\\(\\d+\\) Window.*")) === 1, p)
    assert(!p.contains("Join"), p)
    // the event-type domain filter reaches the scan
    assert(p.matches("(?s).*PushedFilters: \\[[^\\]]*event_type[^\\]]*\\].*"), p)
  }

  test("cdc_fk_orphans: the audit is one FK-keyed anti join, no cross product") {
    val p = plan("cdc_fk_orphans")
    assert(p.contains("LeftAnti"), p)
    // the only nested-loop joins are the two compactions' 1-row truncate
    // high-water broadcasts (by design); the audit itself must not add one
    assert(!p.contains("CartesianProduct"), p)
    // (formatted explain names each operator twice: tree + detail section)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4, p)
  }

  test("cdc_temporal_join: versioned lookup is one equi-join with a residual validity predicate") {
    val p = plan("cdc_temporal_join")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop join is scd2History's 1-row truncate broadcast
    // (formatted explain names each operator twice: tree + detail)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 2, p)
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("sim_kcenter: each greedy pass is a narrow literal-centroid map + all-reduce max (no shuffle join)") {
    // The query runs its k-1 selection jobs at construction time; assert the
    // per-pass aggregation shape directly: distance map over literals feeds
    // a two-phase (partial + final) max — no join in the pass at all.
    val e = graft.Tables.embeddings(spark, d)
    val seed = Seq.fill(64)(0.1)
    val dmin = org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.zip_with(
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.typedLit(seed),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      org.apache.spark.sql.functions.lit(0.0), (acc, v) => acc + v)
    val pass = e.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.struct(
        dmin.as("d"), (org.apache.spark.sql.functions.lit(0L) -
          org.apache.spark.sql.functions.col("vec_id")).as("nid"))))
    val p = pass.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("Join"), p)
    // two-phase all-reduce: partial max per partition, final on one row/part
    assert(p.contains("partial_max"), p)
    assert("(Sort|Hash|ObjectHash)Aggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q72 expectations: scalar checks fuse into one lineitem scan; FK is the only join") {
    val p = plan("q72_expectations")
    // exactly two lineitem scans: the fused scalar-constraint agg and the
    // FK anti-join probe — adding scalar checks must not add scans
    val scans = p.linesIterator.count(_.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans === 3, p) // lineitem ×2 + orders ×1
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q78 binned interval join: overlap runs as an EQUI-join on the cell id, never a nested loop") {
    val p = plan("q78_interval_bin_join")
    // the whole point of binning: no cartesian / broadcast-nested-loop
    // anywhere in the plan — the overlap predicate rides an equi-join
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the equi-key is the grid cell: join keys show `bin`
    assert(p.contains("bin"), p)
    // the first-overlap-cell rule replaces dedup: no Distinct/dedup agg
    // between the join and the pair aggregation (HashAggregate keys are
    // the user pair, not a distinct over emitted rows)
    assert(!p.contains("Deduplicate"), p)
  }

  test("q84 MAD: both median cuts run on the distribution table, never a per-group collect") {
    val p = plan("q84_mad_outliers")
    // the lower-median cut is per-(group, value) counts + cumulative
    // window — a collect_list would mean O(group) per-group buffers
    assert(!p.contains("collect_list"), p)
    // per-(type, cents) distribution agg is two-phase
    assert(p.contains("partial_count") || p.contains("partial_"), p)
  }

  test("experimentation family (q82/q86/q87): moments reduce two-phase; final stats are 1-row math") {
    for (q <- Seq("q82_ab_ttest", "q86_diff_in_diff", "q87_cuped")) {
      val p = plan(q)
      assert(p.contains("partial_"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("sim_nsw_search: the walk navigates (quality vs cell-best bounded below)") {
    // The walk's internals localCheckpoint per hop, so their joins never
    // appear in the final explained plan — a plan assertion over them
    // would be vacuous. Gate the BEHAVIOR instead: building the query
    // runs the walk; every query must land within 60% of its cell's true
    // best cosine (degree-8/beam-3 measured 4/5 exact, worst 0.83 — a
    // stalled walk like the degree-3/beam-1 variant fails this).
    val rows = graft.SparkEntry.queries("sim_nsw_search")(spark, d).collect()
    assert(rows.length >= 3, rows.mkString("\n"))
    rows.foreach { r =>
      val ratio = r.getAs[Double]("quality_ratio")
      assert(ratio >= 0.6, s"walk stalled far from cell best: $r")
    }
  }

  test("runtime bloom filter: a selective dim predicate injects might_contain on the fact side") {
    // The 100 TB story for selective star joins that DON'T broadcast:
    // Spark's InjectRuntimeFilter builds a bloom filter from the filtered
    // creation side and semi-filters the fact scan before the shuffle.
    // Thresholds are sized for clusters, so lower them to demonstrate the
    // plan shape at test scale.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      import org.apache.spark.sql.functions._
      val li = spark.read.parquet(s"$d/lineitem.parquet")
      val ord = spark.read.parquet(s"$d/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("l_returnflag")).count()
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"), p)
      assert(p.contains("bloom_filter_agg"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q95 Kaplan-Meier: every window runs on the hour-bucketed life table " +
      "(study-window-bounded), never on user rows; counts reduce two-phase") {
    val p = plan("q95_kaplan_meier")
    // all window specs open on the life-table hour column `t` — a spec on
    // any user-level column would mean a corpus-sized single partition
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(_ == "t"), s"window spec heads=$specHeads\n$p")
    // the user table collapses via a partial (map-side) hash agg BEFORE any
    // window sees it, and the 1-row n/cut scalars ride broadcast
    assert(p.contains("partial_"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q99 Holt-Winters: the corpus reduces two-phase to the (type, hour) " +
      "grid before any fold; no window, no cartesian beyond 1-row broadcasts") {
    val p = plan("q99_holt_winters")
    // the event scan collapses via partial hash agg — the HW recursion only
    // ever sees the domain-sized per-type series arrays
    assert(p.contains("partial_"), p)
    // no Window operator anywhere: the fold is an aggregate() HOF over a
    // study-window-bounded array, not a global sort/window
    assert(!p.contains("Window"), p)
    // the only nested-loop is the broadcast 1-row h0 scalar
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_wordpiece: the corpus reduces to distinct-word counts before " +
      "the greedy fold; the vocab list rides a 1-row broadcast") {
    val p = plan("text_wordpiece")
    assert(p.contains("partial_"), p) // word counts combine map-side
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("mm_audio_vad: both windows are doc-partitioned — no global sort") {
    val p = plan("mm_audio_vad")
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(_.startsWith("doc_id")), s"heads=$specHeads\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q100 z-order census: window-free; the day anchor and key max ride " +
      "1-row broadcasts") {
    val p = plan("q100_zorder_locality")
    assert(!p.contains("Window"), p)
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q103 seasonal decomposition: every window partitions by event_type " +
      "over the domain-sized hour grid; the corpus reduces two-phase first") {
    val p = plan("q103_seasonal_decompose")
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(_.startsWith("event_type")), s"heads=$specHeads\n$p")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q96 log-rank: both arms' life tables share the hour grid — windows " +
      "open on `t` only, user rows reduce two-phase first") {
    val p = plan("q96_logrank")
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(_ == "t"), s"window spec heads=$specHeads\n$p")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q98 competing risks: first outcome reduces via min-struct aggregation " +
      "(no per-user window); all life-table windows open on the hour grid") {
    val p = plan("q98_competing_risks")
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(Set("t")), s"window spec heads=$specHeads\n$p")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q97 survival summary: all windows on the life table's hour grid, " +
      "user rows reduce two-phase first") {
    val p = plan("q97_survival_summary")
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(Set("t", "t_hours")),
      s"window spec heads=$specHeads\n$p")
    assert(p.contains("partial_"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sim_knn_classify: the pair join is cell-keyed (never all-pairs), " +
      "every window is per-vector partitioned, votes reduce two-phase") {
    val p = plan("sim_knn_classify")
    // no unpartitioned window anywhere: assignment partitions by vec_id,
    // ranking and voting by a_id
    val specHeads = "windowspecdefinition\\((\\w+)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(specHeads.nonEmpty, p)
    assert(specHeads.forall(Set("vec_id", "a_id")),
      s"window spec heads=$specHeads\n$p")
    // the only nested-loop is the broadcast of the 8-row centroid table;
    // the corpus×corpus candidate join must key on the cell id
    assert(!p.contains("CartesianProduct"), p)
    val joins = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin")).toList
    assert(joins.exists(_.contains("cell")) || p.contains("cell#"), p)
    assert(p.contains("partial_count"), p)
  }
}
