package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC materialization: collapse a change-event stream into current table
  * state ("last-LSN-wins upsert", SURVEY.md §2.2 Sinks). The reference
  * delegates this to consumers (stores.py:43-118 just logs); here it is a
  * first-class distributed operator.
  *
  * Scale design: one shuffle, keyed by primary key — the minimum possible
  * for global last-wins semantics; no driver-side state. [[compact]] ranks
  * with `row_number` over (lsn, seq) descending, which AQE can skew-split,
  * and folds Truncate events in as a per-table high-water mark: a global
  * aggregate broadcast into a cross join (its own job). The TOAST-repairing
  * [[compactFillingToast]] needs no side job: its shuffle copies each 'T'
  * row into every partition, and one sorted scan reads the mark first.
  */
object Cdc {

  /** One event as [[compactFillingToast]]'s fold reads it. Images travel as
    * key and value arrays, so their entry order survives the typed pass. */
  private[cdc] final case class FoldEvent(op: String, lsn: Long, seq: Long,
      k: Seq[String], ak: Seq[String], av: Seq[String], toasted: Seq[String])
  private[cdc] final case class FoldRow(lsn: Long, seq: Long, ak: Seq[String], av: Seq[String])

  /** Envelope events of ONE relation → surviving latest `after` images.
    *
    * Semantics (matches reference T5/T6/T8 with the truncate fix):
    *  - order events by (lsn, seq); the latest event per key wins;
    *  - a key whose latest event is a Delete disappears;
    *  - a Truncate ('T') removes every row whose latest event precedes it.
    */
  def compact(events: DataFrame, keyColumns: Seq[String]): DataFrame = {
    val keyExprs = keyColumns.map(k => element_at(col("key"), k).as(s"__k_$k"))
    val truncLsn = events.filter(col("op") === "T")
      .agg(max(struct(col("lsn"), col("seq"))).as("t"))
      .select(coalesce(col("t.lsn"), lit(Long.MinValue)).as("__trunc_lsn"),
              coalesce(col("t.seq"), lit(Long.MinValue)).as("__trunc_seq"))

    // Latest event per key via row_number over (lsn, seq) desc. A max_by
    // hash aggregate looks cheaper on paper (map-side partial agg), but the
    // event struct carries MapType images, forcing ObjectHashAggregateExec —
    // which falls back to sort-based aggregation past 128 distinct groups,
    // paying the same sort PLUS hash-table overhead (measured ~30% slower at
    // 533k keys). CDC batches have few events per key, so partial agg buys
    // almost nothing anyway; the window is one shuffle + one sort, and AQE
    // can skew-split the sort.
    val w = Window.partitionBy(keyColumns.map(k => col(s"__k_$k")): _*)
      .orderBy(col("lsn").desc, col("seq").desc)

    events.filter(col("op").isin("I", "U", "D"))
      .select(col("*") +: keyExprs: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("op") =!= "D")
      .crossJoin(broadcast(truncLsn))
      .filter(struct(col("lsn"), col("seq")) >
        struct(col("__trunc_lsn"), col("__trunc_seq")))
      .drop((keyColumns.map(k => s"__k_$k") :+ "__rn" :+ "__trunc_lsn" :+ "__trunc_seq"): _*)
  }

  /** Compaction that also repairs unchanged-TOAST columns (SURVEY.md §7.2):
    * an Update whose `after` image omits a TOASTed column takes that
    * column's value from the latest earlier event of the same key.
    *
    * One shuffle and one sorted scan, reading only `op, lsn, seq, key,
    * after, after_toasted`. Each I/U/D row goes to partition
    * `pmod(hash(key), n)` (n = `spark.sql.shuffle.partitions`), each 'T'
    * row to all n; a partition sorts its T rows first, then by (key, lsn,
    * seq), and [[foldRuns]] folds each key's run in one compiled pass — the
    * relational form of Postgres's own heap-update semantics. Memory is one
    * key's accumulated row, whatever the batch or table size.
    */
  def compactFillingToast(events: DataFrame, keyColumns: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = keyColumns.map(k => element_at(col("key"), lit(k)))
    val isT = col("op") === "T"
    // Explicit I/U/D/T: marker ('B'/'C') and message ('M') rows have no
    // table key and must never enter key-wise folds.
    events.filter(col("op").isin("I", "U", "D", "T"))
      .select(col("op"), col("lsn"), col("seq"), array(keys: _*).as("k"),
        map_keys(col("after")).as("ak"), map_values(col("after")).as("av"),
        col("after_toasted").as("toasted"),
        explode(when(isT, sequence(lit(0), lit(n - 1)))
          .otherwise(array(pmod(hash(keys: _*), lit(n))))).as("pid"))
      .repartitionById(n, col("pid"))
      .sortWithinPartitions(
        (!isT +: keyColumns.indices.map(col("k")(_))) :+ col("lsn") :+ col("seq"): _*)
      .as[FoldEvent].mapPartitions(foldRuns)
      .select(col("lsn"), col("seq"), map_from_arrays(col("ak"), col("av")).as("after"))
  }

  /** Folds one sorted partition of [[compactFillingToast]]: T rows first,
    * then each key's events in (lsn, seq) order. Events at or before the
    * latest 'T' are dropped: the truncated rows no longer exist, so their
    * images must not survive — nor fill TOAST columns of later events (a
    * post-truncate INSERT is a fresh row; Postgres can't send 'u' referring
    * to it). Per event:
    *   D:             the row is cleared (a later re-insert starts fresh);
    *   TOAST update:  the row's entries for the toasted columns, then `after`
    *                  (`map_concat(map_filter(row, …), after)` order);
    *   anything else: `after`.
    * A key whose row is set when its run ends yields (last lsn, seq, row). */
  private def foldRuns(events: Iterator[FoldEvent]): Iterator[FoldRow] = {
    val in = events.buffered
    var (markLsn, markSeq) = (Long.MinValue, Long.MinValue)
    while (in.hasNext && in.head.op == "T") {
      val t = in.next()
      if (t.lsn > markLsn || t.lsn == markLsn && t.seq > markSeq) {
        markLsn = t.lsn; markSeq = t.seq
      }
    }
    def run(): Option[FoldRow] = {
      val k = in.head.k
      var row: FoldRow = null
      while (in.hasNext && in.head.k == k) {
        val e = in.next()
        if (e.lsn > markLsn || e.lsn == markLsn && e.seq > markSeq)
          row =
            if (e.op == "D" || e.ak == null) null
            else if (row != null && e.toasted != null && e.toasted.nonEmpty) {
              val kept = row.ak.indices.filter(i => e.toasted.contains(row.ak(i)))
              FoldRow(e.lsn, e.seq, kept.map(row.ak) ++ e.ak, kept.map(row.av) ++ e.av)
            } else FoldRow(e.lsn, e.seq, e.ak, e.av)
      }
      Option(row)
    }
    Iterator.continually(in).takeWhile(_.hasNext).flatMap(_ => run())
  }

  /** Per-group (±value, ±1) contributions of a change-event batch toward an
    * incrementally-maintained SUM/COUNT aggregate: I adds the after image,
    * D subtracts the before image, U does both (handling group-key moves —
    * the old group loses the row, the new group gains it). Events at or
    * before the latest Truncate are dropped, mirroring [[compact]].
    *
    * Requires full old images (REPLICA IDENTITY FULL) on U/D: without
    * `before`, an update's retraction is uncomputable — callers guard
    * (see Streams.mergeAggBatch). Values accumulate as DECIMAL(28,6): exact
    * and order-independent, so incremental and from-scratch aggregation
    * agree bit-for-bit in any execution order. */
  /** Events strictly after the batch's latest Truncate (the shared
    * high-water filter of the delta views: aggDeltas, statsDeltas,
    * netCounts). */
  private[graft] def survivingEvents(events: DataFrame): DataFrame = {
    val truncLsn = events.filter(col("op") === "T")
      .agg(max(struct(col("lsn"), col("seq"))).as("t"))
      .select(coalesce(col("t.lsn"), lit(Long.MinValue)).as("__trunc_lsn"),
              coalesce(col("t.seq"), lit(Long.MinValue)).as("__trunc_seq"))
    // Explicit I/U/D (not just "not T"): marker ('B'/'C') and message ('M')
    // rows have no table key and must never enter key-wise folds.
    events.filter(col("op").isin("I", "U", "D"))
      .crossJoin(broadcast(truncLsn))
      .filter(struct(col("lsn"), col("seq")) >
        struct(col("__trunc_lsn"), col("__trunc_seq")))
      .drop("__trunc_lsn", "__trunc_seq")
  }

  /** Canonicalize a wire-text group key through its SQL type: "5", "5.0"
    * and "5.00" all become the typed value's one canonical rendering, so
    * text-keyed grouping agrees with typed grouping. Postgres renders any
    * one column type consistently, but keys that cross a type change (or
    * arrive from generators with different formatting) need this.
    * `None` (text key) is the identity. */
  def canonKey(c: Column, groupType: Option[String]): Column =
    groupType.fold(c)(t => c.cast(t).cast("string"))

  private[graft] def aggDeltas(
      events: DataFrame, groupCol: String, valueCols: Seq[String],
      groupType: Option[String] = None): DataFrame = {
    val ev = survivingEvents(events)
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def g(img: String) = canonKey(element_at(col(img), groupCol), groupType).as("g")
    val plus = ev.filter(col("op").isin("I", "U"))
      .select(g("after") +:
        valueCols.map(c => element_at(col("after"), c).cast(dec).as(s"dv_$c")) :+
        lit(1L).as("dc"): _*)
    val minus = ev.filter(col("op").isin("U", "D") && col("before").isNotNull)
      .select(g("before") +:
        valueCols.map(c => (-element_at(col("before"), c).cast(dec)).as(s"dv_$c")) :+
        lit(-1L).as("dc"): _*)
    plus.unionByName(minus)
  }

  /** Incrementally-maintained aggregate view, batch form: the SUM/COUNT per
    * group that results from applying every event's delta — equal to
    * aggregating the compacted table state, but computed WITHOUT
    * materializing it (one narrow pass + one group-keyed shuffle; at scale
    * this is how a 100 TB materialized aggregate stays fresh from a change
    * stream without rescanning the table). Groups whose rows are all
    * deleted vanish (count ≤ 0).
    *
    * Multi-column form: one `sum_<col>` per value column plus the shared
    * count `c` — several SUMs ride the same shuffle. (SUM/COUNT are the
    * delta-maintainable aggregates; MIN/MAX retraction needs full per-group
    * state and is deliberately out of scope.) */
  def incrementalAggregate(
      events: DataFrame, groupCol: String, valueCols: Seq[String]): DataFrame =
    aggDeltas(events, groupCol, valueCols)
      .groupBy(col("g"))
      .agg(sum(col(s"dv_${valueCols.head}")).as(s"sum_${valueCols.head}"),
        valueCols.tail.map(c => sum(col(s"dv_$c")).as(s"sum_$c")) :+
          sum(col("dc")).as("c"): _*)
      .filter(col("c") > 0)

  /** Single-column form, output columns `(g, v, c)`. */
  def incrementalAggregate(
      events: DataFrame, groupCol: String, valueCol: String): DataFrame =
    incrementalAggregate(events, groupCol, Seq(valueCol))
      .select(col("g"), col(s"sum_$valueCol").as("v"), col("c"))

  /** Mean/variance per group maintained purely from event deltas. The
    * maintained state is the moment sums (Σx, Σx², n): Welford's one-pass
    * recurrence is neither mergeable nor retractable, but moment sums are
    * both — I adds (x, x², 1) for the after image, D subtracts them for
    * the before image, U does both.
    *
    * Values are scaled to INTEGERS (x·10^scale, exact for wire values with
    * ≤ `scale` decimals) and the sums kept in DECIMAL(38,0): scale-0 state
    * is what makes the downstream float derivation engine-agnostic —
    * converting an exact integer to double is correctly rounded on every
    * engine, whereas converting a wide scaled decimal (int·10⁻ⁿ) need not
    * be (two-rounding implementations differ in the last ulp once the
    * scaled int exceeds 2⁵³). Callers derive mean = (sx/n)/10^scale and
    * population variance = (sx2/n − (sx/n)²)/10^2·scale. Per-row x² must
    * fit a long: |x·10^scale| < 3·10⁹. Output `(g, sx, sx2, c)`; groups
    * with c ≤ 0 vanish. */
  def incrementalStats(
      events: DataFrame, groupCol: String, valueCol: String,
      scale: Int = 2, groupType: Option[String] = None): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    statsDeltas(events, groupCol, valueCol, scale, groupType)
      .groupBy(col("g"))
      .agg(sum(col("dv").cast(big)).as("sx"), sum(col("dv2").cast(big)).as("sx2"),
        sum(col("dc")).as("c"))
      .filter(col("c") > 0)
  }

  /** Per-event (±x·10^scale, ±x²·10^2scale, ±1) contributions toward
    * [[incrementalStats]] — the mergeable delta form the streaming sink
    * folds into persisted state. Columns `(g, dv, dv2, dc)`. */
  private[graft] def statsDeltas(
      events: DataFrame, groupCol: String, valueCol: String,
      scale: Int, groupType: Option[String]): DataFrame = {
    val ev = survivingEvents(events)
    val dec = org.apache.spark.sql.types.DecimalType(28, scale)
    val mult = math.pow(10, scale).toLong
    def g(img: String) = canonKey(element_at(col(img), groupCol), groupType).as("g")
    def xi(img: String) =
      (element_at(col(img), valueCol).cast(dec) * lit(mult)).cast("long")
    val plus = ev.filter(col("op").isin("I", "U"))
      .select(g("after"), xi("after").as("dv"),
        (xi("after") * xi("after")).as("dv2"), lit(1L).as("dc"))
    val minus = ev.filter(col("op").isin("U", "D") && col("before").isNotNull)
      .select(g("before"), (-xi("before")).as("dv"),
        (-(xi("before") * xi("before"))).as("dv2"), lit(-1L).as("dc"))
    plus.unionByName(minus)
  }

  /** MIN/MAX/COUNT per group maintained purely from event deltas — the
    * retraction-capable complement of [[incrementalAggregate]].
    *
    * MIN/MAX are not delta-maintainable with a scalar accumulator (deleting
    * the current minimum needs the runner-up), so the maintained state is
    * the per-(group, value) NET row count: +1 per insert image, −1 per
    * delete image; an update retracts its before image and adds its after
    * image. Values surviving with net > 0 are exactly the group's current
    * value multiset, so MIN/MAX over them equal MIN/MAX over the compacted
    * table — without materializing it.
    *
    * Scale shape: two hash aggregations. The first keys on (group, value) —
    * high cardinality, so it DISTRIBUTES the per-group work instead of
    * buffering a group's values on one node (partial aggregation compresses
    * duplicates map-side); the second reduces to one row per group. Requires
    * full old images (REPLICA IDENTITY FULL), same contract as aggDeltas.
    * For the cross-batch streaming form with BOUNDED per-group state see
    * Streams.mergeMinMaxBatch / BoundedMinMax. */
  def incrementalMinMax(
      events: DataFrame, groupCol: String, valueCol: String,
      groupType: Option[String] = None): DataFrame =
    minMaxFromNets(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0))

  /** MIN/MAX/COUNT read of a live (g, v, net) table. */
  private[graft] def minMaxFromNets(netTable: DataFrame): DataFrame =
    netTable
      .groupBy(col("g"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(col("net")).as("c"))

  /** Incrementally-maintained COUNT DISTINCT view — the aggregate that is
    * famously NOT delta-maintainable with a scalar accumulator (a delete
    * must know whether it removed the last occurrence of its value). The
    * shared net-count table answers exactly that: distinct = rows with
    * net > 0. An update whose value is unchanged retracts and re-adds the
    * same (g, v) row — cancellation is free. Scale shape identical to
    * incrementalMinMax: the (g, v) agg distributes per-group work, the
    * final agg is one row per group. */
  def incrementalDistinct(
      events: DataFrame, groupCol: String, valueCol: String,
      groupType: Option[String] = None): DataFrame =
    distinctFromNets(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0))

  /** COUNT DISTINCT read of a live (g, v, net) table. */
  private[graft] def distinctFromNets(netTable: DataFrame): DataFrame =
    netTable
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("net")).as("c"))

  /** Incrementally-maintained TOP-K view (retraction-capable — the
    * generalization of [[incrementalMinMax]]): the k largest DISTINCT
    * values per group with their live multiplicities, computed purely from
    * event deltas via net per-(group, value) row counts. A delete that
    * evicts a top value is handled for free: the value's net count drops
    * to 0 and the next value ranks in — no per-group rescan, because the
    * net-count table IS the full ordered state, distributed by (g, v).
    * Same REPLICA IDENTITY FULL contract as the other delta views. */
  def incrementalTopK(
      events: DataFrame, groupCol: String, valueCol: String, k: Int,
      groupType: Option[String] = None): DataFrame =
    rankTopK(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0), k)

  /** Rank a (g, v, net) net-count table: k largest values per group. */
  private[graft] def rankTopK(netTable: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
    netTable.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Incrementally-maintained exact MEDIAN view — the order statistic that
    * no scalar accumulator can maintain under deletes, answered by the same
    * net-count state as [[incrementalTopK]]/[[incrementalDistinct]]: the
    * (g, v, net) table is the group's full value multiset, so the weighted
    * lower median (smallest v whose cumulative multiplicity reaches
    * ceil(n/2)) reads straight off a cumulative sum over it. Deterministic
    * (no interpolation — q57's lower-median convention) and exactly equal
    * to the median of the compacted table, which is never materialized.
    *
    * Scale shape: the heavy reduction is the (g, v) net-count agg, which
    * DISTRIBUTES per-group work; the window pass runs over DISTINCT values
    * per group (bounded by value cardinality, not row count). Same REPLICA
    * IDENTITY FULL contract as the other delta views. */
  def incrementalMedian(
      events: DataFrame, groupCol: String, valueCol: String,
      groupType: Option[String] = None): DataFrame =
    medianFromNets(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0))

  /** Weighted lower median per group of a live (g, v, net) table:
    * smallest v with 2·cum(net) ≥ n. Output `(g, median, c)`. */
  private[graft] def medianFromNets(netTable: DataFrame): DataFrame =
    quantileFromNets(netTable, 1, 2).withColumnRenamed("q", "median")

  /** Arbitrary-quantile view from deltas alone: the lower p-quantile
    * (p = num/den, exact rational — no float threshold) read off the same
    * net-count substrate as median/top-k/distinct. */
  def incrementalQuantile(
      events: DataFrame, groupCol: String, valueCol: String,
      num: Int, den: Int, groupType: Option[String] = None): DataFrame =
    quantileFromNets(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0), num, den)

  /** Equi-width histogram view from deltas alone: counts are additive, so
    * the bucketing is a pure projection of the net-count substrate —
    * bucket = floor(cents / widthCents) on the EXACT scaled-integer value
    * (a double division of integers < 2⁵³ floors identically on every
    * engine). Output `(g, bucket, n)`. */
  def incrementalHistogram(
      events: DataFrame, groupCol: String, valueCol: String,
      widthCents: Long, groupType: Option[String] = None): DataFrame =
    histogramFromNets(netCounts(events, groupCol, valueCol, groupType)
      .filter(col("net") > 0), widthCents)

  /** Histogram read of a live (g, v, net) table (shared by the batch view
    * and the state-store reader). */
  private[graft] def histogramFromNets(
      netTable: DataFrame, widthCents: Long): DataFrame =
    netTable
      .withColumn("cents", (col("v") * 100).cast("long"))
      .groupBy(col("g"),
        floor(col("cents") / lit(widthCents)).cast("long").as("bucket"))
      .agg(sum(col("net")).as("n"))

  /** Weighted lower p-quantile (p = num/den) per group of a live
    * (g, v, net) table: smallest v with den·cum(net) ≥ num·n — integer
    * comparisons only, so the cut point is exact for any rational p.
    * Output `(g, q, c)`. */
  private[graft] def quantileFromNets(
      netTable: DataFrame, num: Int, den: Int): DataFrame = {
    val cumW = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(col("g"))
    netTable
      .withColumn("cum", sum(col("net")).over(cumW))
      .withColumn("n", sum(col("net")).over(totW))
      .filter(col("cum") * den >= col("n") * num)
      .groupBy(col("g"))
      .agg(min(col("v")).as("q"), max(col("n")).as("c"))
  }

  /** Net per-(group, value) row-count deltas of a batch (nonzero rows
    * only): the shared substrate of the retraction-capable MIN/MAX and
    * TOP-K views. Within one batch a net can be NEGATIVE — a delete whose
    * insert landed in an earlier batch — which is why the streaming sinks
    * merge nonzero nets with prior state before filtering > 0. */
  private[graft] def netCounts(
      events: DataFrame, groupCol: String, valueCol: String,
      groupType: Option[String]): DataFrame = {
    val ev = survivingEvents(events)
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    def g(img: String) = canonKey(element_at(col(img), groupCol), groupType).as("g")
    val plus = ev.filter(col("op").isin("I", "U"))
      .select(g("after"),
        element_at(col("after"), valueCol).cast(dec).as("v"), lit(1L).as("n"))
    val minus = ev.filter(col("op").isin("U", "D") && col("before").isNotNull)
      .select(g("before"),
        element_at(col("before"), valueCol).cast(dec).as("v"), lit(-1L).as("n"))
    plus.unionByName(minus)
      .groupBy(col("g"), col("v")).agg(sum(col("n")).as("net"))
      .filter(col("net") =!= 0)
  }

  /** SCD type-2 history: every row version the change stream ever produced,
    * with its validity interval in WAL order — the warehouse "history table"
    * a CDC consumer builds next after current state (the reference leaves
    * this to consumers entirely; stores.py:43-118 just logs).
    *
    * Semantics:
    *  - each I/U event OPENS a version (`valid_from_lsn` = event lsn,
    *    image = `after`);
    *  - the key's next event (any of I/U/D) CLOSES it
    *    (`valid_to_lsn` = that event's lsn); a Delete opens nothing, so the
    *    key has no current version until a later re-insert;
    *  - a Truncate closes every version open at its WAL position (rows
    *    stopped existing there) without erasing history;
    *  - `is_current` marks versions still open at the end of the batch.
    *
    * Scale shape: ONE pk-keyed shuffle + per-key sort — identical cost to
    * [[compact]] (the window's `lead` replaces its `row_number`); the
    * truncate high-water is a broadcast scalar, exactly as in compact.
    * History grows append-mostly: versions closed in earlier batches are
    * never revisited, which is what makes the streaming form
    * (Streams.scd2Sink) O(touched keys) per batch. */
  def scd2History(events: DataFrame, keyColumns: Seq[String]): DataFrame = {
    val keyExprs = keyColumns.map(k => element_at(col("key"), k).as(s"__k_$k"))
    val truncLsn = events.filter(col("op") === "T")
      .agg(max(struct(col("lsn"), col("seq"))).as("t"))
      .select(coalesce(col("t.lsn"), lit(Long.MinValue)).as("__trunc_lsn"),
              coalesce(col("t.seq"), lit(Long.MinValue)).as("__trunc_seq"))

    val w = Window.partitionBy(keyColumns.map(k => col(s"__k_$k")): _*)
      .orderBy(col("lsn"), col("seq"))

    events.filter(col("op").isin("I", "U", "D"))
      .select(col("*") +: keyExprs: _*)
      .withColumn("__next", lead(struct(col("lsn"), col("seq")), 1).over(w))
      .filter(col("op").isin("I", "U"))
      .crossJoin(broadcast(truncLsn))
      // Open at the truncate point = started at-or-before it, not yet closed
      // by an event at-or-before it → clamp the close to the truncate lsn.
      .withColumn("__closed_by_trunc",
        struct(col("lsn"), col("seq")) <=
          struct(col("__trunc_lsn"), col("__trunc_seq")) &&
        (col("__next").isNull || struct(col("__next.lsn"), col("__next.seq")) >
          struct(col("__trunc_lsn"), col("__trunc_seq"))))
      .select(
        (keyColumns.map(k => col(s"__k_$k").as(s"__key_$k")) ++ Seq(
          col("after"),
          col("lsn").as("valid_from_lsn"),
          when(col("__closed_by_trunc"), col("__trunc_lsn"))
            .otherwise(col("__next.lsn")).as("valid_to_lsn"))): _*)
      .withColumn("is_current", col("valid_to_lsn").isNull)
  }

  /** DBLog-style chunked-snapshot merge (Netflix DBLog §3 / Debezium
    * "incremental snapshot"): reconcile pk-range chunk reads taken WHILE
    * the WAL streams — no lock, no single consistent snapshot — into the
    * same state a locked snapshot + tail would give.
    *
    * The watermark rule: a chunk row is DROPPED when its key saw any WAL
    * event inside the chunk's watermark window [lo, hi] — the chunk select
    * raced that event, so its value is unordered against the stream and
    * the WAL's full-image event is authoritative. The window is CLOSED at
    * lo: the live low watermark is `pg_current_wal_lsn()` sampled before
    * the chunk's select — the WAL *insert* position — so the first record
    * written after the sample starts EXACTLY at lo (live-observed: a
    * strictly-greater test let a raced update at lsn == lo lose to the
    * stale chunk read). Surviving chunk rows become synthetic inserts
    * positioned AT the high watermark: WAL events strictly before lo are
    * already reflected in the read (the chunk event at hi correctly
    * outranks them), events after hi outrank the chunk event and override
    * it; last-LSN-wins compaction then yields the consistent state.
    * Requires REPLICA IDENTITY FULL updates (an in-window update's WAL
    * image must reconstruct the row the drop discarded).
    *
    * Scale shape: the window-drop is ONE pk-keyed anti join (chunk reads
    * are the table scan, arriving chunk-at-a-time; the WAL side is the
    * tail, batch-sized), followed by the standard one-shuffle compaction —
    * a 100 TB table backfills chunk by chunk while the stream keeps
    * flowing, which is the entire point of the algorithm. */
  def dblogMerge(walEvents: DataFrame, chunkReads: DataFrame,
      keyColumns: Seq[String]): DataFrame = {
    val walKeyed = walEvents.filter(col("op").isin("I", "U", "D"))
      .select(col("key").as("__w_key"), col("lsn").as("__w_lsn"))
    val keyEq = keyColumns.map(k =>
      element_at(col("key"), k) === element_at(col("__w_key"), k)).reduce(_ && _)
    val surviving = chunkReads.filter(col("after").isNotNull).join(walKeyed,
      keyEq && col("__w_lsn") >= col("lo_lsn") && col("__w_lsn") <= col("hi_lsn"),
      "left_anti")
    // One chunk row per key and watermark ties only with dropped rows, so
    // the constant seq never decides a comparison that matters.
    val chunkEvents = surviving.select(
      lit("I").as("op"), col("hi_lsn").as("lsn"), lit(0L).as("seq"),
      col("key"), col("after"))
    val wal = walEvents.select(
      col("op"), col("lsn"), col("seq"), col("key"), col("after"))
    compact(chunkEvents.unionByName(wal), keyColumns)
  }

  /** Conflict resolution for ACTIVE-ACTIVE (multi-origin) replication:
    * last-writer-wins by COMMIT TIMESTAMP, not LSN. When two sites both
    * publish changes to one table, their LSNs live in unrelated WAL spaces
    * — ordering across sites must come from commit time (the same clock
    * Postgres's own `track_commit_timestamp` conflict resolution and
    * BDR-style LWW use). Exact commit-ts ties (clock granularity) break
    * deterministically toward the LOCAL node (null origin), then by
    * (lsn, seq) within a site; a winning Delete removes the key.
    *
    * Scale shape: identical to [[compact]] — one pk-keyed shuffle, one
    * row_number window over the merged streams; the only change is the
    * ordering tuple. No cross-stream join: the union of the two WAL scans
    * feeds one window, so merging N sites costs the same single shuffle.
    *
    * `keepTombstones = true` keeps a winning Delete as a row (op 'D',
    * null after) instead of dropping the key — REQUIRED for incremental
    * merging: sites' streams arrive with arbitrary relative timing, so an
    * older-clock write can surface in a later batch than the delete it
    * lost to; only a persisted tombstone lets that comparison happen
    * (the classic LWW-element-set rule; reclaim tombstones only after the
    * deployment's maximum cross-site lag). */
  def lwwCompact(events: DataFrame, keyColumns: Seq[String],
      keepTombstones: Boolean = false): DataFrame = {
    val keyExprs = keyColumns.map(k => element_at(col("key"), k).as(s"__k_$k"))
    val localFirst = when(col("origin").isNull, lit(1)).otherwise(lit(0))
    val w = Window.partitionBy(keyColumns.map(k => col(s"__k_$k")): _*)
      .orderBy(col("commit_ts_us").desc, localFirst.desc,
        col("lsn").desc, col("seq").desc)
    val winners = events.filter(col("op").isin("I", "U", "D"))
      .select(col("*") +: keyExprs: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    (if (keepTombstones) winners else winners.filter(col("op") =!= "D"))
      .drop((keyColumns.map(k => s"__k_$k") :+ "__rn"): _*)
  }

  /** Typed current-state view: compact then project through the relation
    * schema from the registry. */
  def materialize(
      events: DataFrame,
      rel: graft.decode.Relation,
      fillToast: Boolean = false): DataFrame = {
    val keys = rel.keyColumnNames
    require(keys.nonEmpty, s"relation ${rel.name} has no replica-identity key")
    val compacted =
      if (fillToast) compactFillingToast(events, keys) else compact(events, keys)
    graft.decode.TypedView.ofAfter(compacted, rel)
  }
}
