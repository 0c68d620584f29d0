package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.CdcPipeline
import graft.cdc.CdcPipeline.DmlPattern

/** End-to-end CDC wire-path queries: real pgoutput binary frames are
  * generated from the orders table, replayed through the decoder +
  * ChangeEventBuilder, compacted, and projected through the typed view.
  * Because the DML pattern is a pure function of the primary key, the final
  * state has an exact ANSI-SQL oracle over the original table — the whole
  * decode→envelope→materialize path is hash-checked against DuckDB
  * (SURVEY.md §7 "minimum end-to-end slice").
  */
object CdcQueries {

  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  private def finish(df: DataFrame): DataFrame =
    df.select(cols.map(col): _*).orderBy(col("o_orderkey"))

  /** Session-scoped cache of the live net-count state (g, v, net — flat,
    * narrow, tiny vs the wire log) derived from ONE full-image orders wire
    * path: the six net-count readers (min/max, top-k, median, p95,
    * histogram, distinct) share one generate+decode+netCounts pass instead
    * of re-deriving the whole wire pipeline per query — the batch analog of
    * what the streaming sinks already do (one maintained state table, many
    * views reading it). The MapType-heavy decoded events are deliberately
    * NOT cached (columnar cache build measured slower than recompute,
    * NOTES.md); only the flat substrate persists. */
  private val netsCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()

  private def liveOrderNets(s: SparkSession, d: String, valueCol: String): DataFrame =
    netsCache.getOrElseUpdate((s, d, valueCol), {
      val events = CdcPipeline.ordersEventsUDFI(s, d)
      graft.cdc.Cdc.netCounts(events, "o_orderpriority", valueCol, None)
        .filter(col("net") > 0).persist()
    })

  /** Session cache of the materialized lineitem state: the FINAL typed
    * table (7 flat columns — cheap to cache, unlike the MapType envelope;
    * see materializedLineitem's measurement note), shared by the
    * composite-key gate and the FK-orphan audit so the 2.4 M-frame wire
    * pipeline runs once per session instead of once per consumer. */
  private val liStateCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()

  private def lineitemState(s: SparkSession, d: String): DataFrame =
    liStateCache.getOrElseUpdate((s, d),
      graft.cdc.Cdc.materialize(
        CdcPipeline.lineitemEvents(s, d), CdcPipeline.lineitemRelation).persist())

  /** Drop cached net-count state (test hook / memory release). */
  def clearCache(): Unit = {
    clearQueryCaches()
    CdcPipeline.clearSharedEvents()
  }

  /** Drop only the query-side derived caches (net counts, lineitem state),
    * KEEPING the shared envelope spills — what CdcFixtureDepsSpec needs so
    * each query's recorded fixture accesses reflect a cold query cache
    * without paying an envelope rebuild per query. */
  private[graft] def clearQueryCaches(): Unit = {
    netsCache.values.foreach(_.unpersist())
    netsCache.clear()
    liStateCache.values.foreach(_.unpersist())
    liStateCache.clear()
  }

  /** Which shared wire-envelope spills ([[CdcPipeline.sharedFixtureBuilders]]
    * keys) each query consumes when the query-side caches are cold — the
    * map Bench's fixture warmup is keyed on, so a restricted run warms
    * exactly its own queries' fixtures. Pinned by CdcFixtureDepsSpec
    * against accesses recorded during real execution: an entry here that
    * drifts from actual consumption fails the spec. Queries absent a
    * builder key generate their envelopes inline (one-off DML patterns). */
  val fixtureDeps: Map[String, Set[String]] = {
    val none = Set.empty[String]
    Map(
      "cdc_insert_roundtrip" -> none,
      "cdc_binary_roundtrip" -> none,
      "cdc_upsert_delete" -> Set("orders_ud"),
      "cdc_dead_letter" -> none,
      "cdc_toast_fill" -> none,
      "cdc_composite_key" -> Set("lineitem"),
      "cdc_incremental_agg" -> Set("orders_udfi"),
      "cdc_incremental_stats" -> Set("orders_udfi"),
      "cdc_survival_serving" -> none,
      "cdc_binary_sql_render" -> none,
      "cdc_forecast_serving" -> none,
      "cdc_incremental_baseline" -> none,
      "cdc_online_dedup" -> none,
      "cdc_incremental_ivf" -> Set("emb"),
      "cdc_incremental_termdf" -> Set("docs_dml"),
      "cdc_bm25_serving" -> Set("docs_dml"),
      "cdc_incremental_chunks" -> Set("docs_dml"),
      "cdc_hybrid_serving" -> Set("docs_dml", "emb"),
      "cdc_incremental_minmax" -> Set("orders_udfi"),
      "cdc_incremental_topk" -> Set("orders_udfi"),
      "cdc_incremental_median" -> Set("orders_udfi"),
      "cdc_incremental_histogram" -> Set("orders_udfi"),
      "cdc_incremental_p95" -> Set("orders_udfi"),
      "cdc_state_audit" -> Set("orders_ud"),
      "cdc_incremental_join_agg" -> Set("orders_udfi"),
      "cdc_chunked_snapshot" -> none,
      "cdc_failover_resync" -> Set("orders_udfi", "orders_epoch2"),
      "cdc_join_view" -> Set("orders_ud", "lineitem"),
      "cdc_scd2_history" -> Set("orders_ud"),
      "cdc_schema_evolution" -> none,
      "cdc_schema_retype" -> Set("orders_retype"),
      "cdc_numeric_typed" -> none,
      "cdc_partitioned_table" -> none,
      "cdc_schema_drop" -> none,
      "cdc_scd2_composite" -> Set("lineitem"),
      "cdc_scd2_asof" -> Set("orders_ud"),
      "cdc_streamed_txn" -> none,
      "cdc_logical_messages" -> none,
      "cdc_backfill_union" -> none,
      "cdc_two_phase" -> none,
      "cdc_origin_filter" -> none,
      "cdc_truncate" -> none,
      "cdc_incremental_distinct" -> Set("orders_udfi"),
      "cdc_compacted_replay" -> none,
      "cdc_temporal_join" -> none,
      "cdc_fk_orphans" -> Set("lineitem"),
      "cdc_multi_origin_lww" -> none,
      "cdc_wire_stats" -> Set("orders_ud"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Inserts only: decoded + compacted state must equal the source table.
    "cdc_insert_roundtrip" -> ((s, d) =>
      finish(CdcPipeline.materializedOrders(s, d, DmlPattern()))),

    // BINARY transfer mode end-to-end (pgoutput `binary 'true'`, PG 14+ —
    // absent from the text-only reference): even keys arrive as 'b' tuple
    // columns (type send-function bytes), odd keys as text, through ONE
    // decode → envelope → compaction → typed-view pipeline. PgBinary
    // renders the binary halves back to canonical text at the image
    // boundary, so a rendering bug in ANY type (int8 byte order, float8
    // bits, timestamptz micros/format) hash-fails against the plain
    // parquet oracle. Live twin: LivePgSpec's binary-mode leg off a real
    // walsender. Scale shape: identical to cdc_insert_roundtrip (decode is
    // per-partition narrow; one pk shuffle for compaction).
    "cdc_binary_roundtrip" -> ((s, d) =>
      finish(graft.cdc.Cdc.materialize(
        CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesBinary(s, d)),
        CdcPipeline.ordersRelation))),

    // Inserts + updates (key%10==0: totalprice+1, no old image on the wire)
    // + key-only deletes (key%7==0): last-LSN-wins upsert semantics.
    "cdc_upsert_delete" -> ((s, d) =>
      finish(graft.cdc.Cdc.materialize(
        CdcPipeline.ordersEventsUD(s, d), CdcPipeline.ordersRelation))),

    // Dead-letter channel end-to-end (T4 error routing): a wire path where
    // k % 13 == 0 rows carry a non-numeric o_totalprice (cast error) and
    // k % 17 == 0 rows a NULL o_custkey (NOT NULL violation). The typed
    // view's validated projection (`TypedView.ofAfterValidated`) surfaces
    // BOTH channels per row — typed values (null where uncoercible) plus a
    // sorted error list — so bad rows quarantine to a dead-letter sink
    // while clean rows keep flowing; the reference's pydantic validation
    // (reader.py:274-292) instead raises and halts the whole loop. The
    // oracle reconstructs typed values AND error strings from the source
    // table, so a mis-flagged OR mis-typed row hash-fails. Scale shape:
    // validation is a narrow codegen'd projection (try_cast per column) —
    // no shuffle until the final presentation sort.
    "cdc_dead_letter" -> ((s, d) => {
      val env = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesCorrupted(s, d))
        .filter(col("op") === "I")
      graft.decode.TypedView.ofAfterValidated(env, CdcPipeline.ordersRelation,
          notNull = Set("o_orderkey", "o_custkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          array_join(sort_array(col("_errors")), ",").as("errors"),
          (size(col("_errors")) > 0).as("quarantined"))
        .orderBy(col("o_orderkey"))
    }),

    // Updates whose new image TOASTs o_orderpriority ('u' category — value
    // not on the wire): compaction must repair it from the prior image
    // instead of conflating with NULL (SURVEY.md §7.2, the reference's bug).
    "cdc_toast_fill" -> ((s, d) =>
      finish(CdcPipeline.materializedOrders(s, d,
        DmlPattern(updates = true, toastPriorityOnUpdate = true)))),

    // Composite primary key (l_orderkey, l_linenumber): multi-column key
    // extraction, key-only delete images, compaction on a two-column pk.
    "cdc_composite_key" -> ((s, d) =>
      lineitemState(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"), col("l_shipdate"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"))),

    // Incrementally-maintained aggregate view: SUM/COUNT of totalprice per
    // priority computed purely from event deltas (+after/−before, REPLICA
    // IDENTITY FULL images) — never materializing the table. Must equal
    // aggregating the oracle's final state.
    "cdc_incremental_agg" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUDFI(s, d)
      graft.cdc.Cdc.incrementalAggregate(events, "o_orderpriority", "o_totalprice")
        .select(col("g").as("o_orderpriority"),
          col("v").cast("double").as("sum_price"), col("c").as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // Mean/variance view maintained from event deltas: the moment sums
    // (Σx, Σx², n) are the retraction-capable state (Welford's form is
    // not), kept exact as scaled-INTEGER sums (cents) so incremental and
    // from-scratch maintenance agree bit-for-bit AND the float derivation
    // is engine-agnostic (exact-int→double is correctly rounded
    // everywhere; see Cdc.incrementalStats). The derivation — two double
    // divisions, one multiply-subtract, two rescales, identical op order
    // on both engines — emits raw doubles, no rounding needed. Same scale
    // shape as cdc_incremental_agg: one narrow delta pass, one group-keyed
    // shuffle — the 100 TB table is never rescanned.
    "cdc_incremental_stats" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUDFI(s, d)
      graft.cdc.Cdc.incrementalStats(events, "o_orderpriority", "o_totalprice")
        .select(col("g").as("o_orderpriority"),
          (col("sx").cast("double") / col("c")).as("mc"),
          (col("sx2").cast("double") / col("c")).as("ex2c"),
          col("c").as("n_rows"))
        .select(col("o_orderpriority"),
          (col("mc") / 100.0).as("mean_price"),
          ((col("ex2c") - col("mc") * col("mc")) / 10000.0).as("var_price"),
          col("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // Survival-curve SERVING from the CDC wire: the user-level behavioral
    // log arrives as insert-only pgoutput frames (decode → envelope →
    // typed projection) and feeds the SAME survivalUsers→kmCurve tail as
    // q95 — proving the censoring-aware conversion curve is servable
    // straight off the replication stream (the streaming twin
    // Streams.survivalStates maintains the identical per-user state
    // incrementally; StreamingSpec pins that parity). Cutoff = min ts + 7d
    // over the wire-delivered view/purchase log. Scale shape: decode is
    // per-partition narrow, the per-user agg is the only corpus shuffle,
    // and all survival arithmetic runs on the study-window-bounded hour
    // grid (q95's scale note).
    "cdc_survival_serving" -> ((s, d) => {
      // localCheckpoint (eager, inside the timed region): the survival
      // composition references `ev` six times (view anchor, first outcome,
      // study cutoff, each doubled by kmCurve's two reads), and each
      // reference re-ran the full wire encode+decode — r10-opt profiled 18
      // jobs with the decode subtree serialized 6x in the plan. The
      // checkpointed frame is the 4-column typed projection (narrow,
      // event-count rows), so the wire path runs once.
      val ev = CdcPipeline.decodeFrames(CdcPipeline.eventsUserToFrames(s, d))
        .filter(col("op") === "I")
        .select(
          element_at(col("after"), "event_id").cast("long").as("event_id"),
          element_at(col("after"), "user_id").cast("long").as("user_id"),
          timestamp_micros(element_at(col("after"), "ts_us").cast("long")).as("ts"),
          element_at(col("after"), "event_type").as("event_type"))
        .localCheckpoint()
      graft.queries.RelationalQueries.kmCurve(
        graft.queries.RelationalQueries.survivalUsers(ev)
          .select(col("status"), col("t")))
    }),

    // Pure-SQL frame archaeology on a BINARY-mode stream: decode_pgoutput
    // surfaces 'b' values as base64 (stateless — no Relation in hand), the
    // Relation frame's per-position type oids join back in, and
    // pg_binary_text renders each base64 payload to canonical text — the
    // whole orders table reconstructed without touching the stateful
    // pipeline, then hash-checked against the plain parquet oracle. This
    // is the dead-letter/triage story for binary streams: any frame is
    // fully inspectable at the SQL level. Scale shape: per-frame decode is
    // narrow; the regroup is one lsn-keyed pivot over 6 known columns; the
    // relation's column table broadcasts.
    "cdc_binary_sql_render" -> ((s, d) => {
      val frames = CdcPipeline.ordersToFramesBinary(s, d).toDF("lsn", "payload")
      // function API (not expr strings): the query must work on sessions
      // without GraftExtensions registered; SQL users get the same names
      // via the extension registration
      val dec = frames.select(col("lsn"),
        graft.functions.DecodeFrameFunction.decode_pgoutput(col("payload")).as("f"))
      val rel = dec.filter(col("f.msg_type") === "R")
        .select(posexplode(col("f.columns")).as(Seq("p", "c")))
        .select(col("p"), col("c.name").as("cname"), col("c.type_oid").as("oid"))
        .distinct()
      val vals = dec.filter(col("f.msg_type") === "I")
        .select(col("lsn"), col("f.new_categories").as("cats"),
          posexplode(col("f.new_values")).as(Seq("p", "v")))
        .withColumn("cat", expr("substring(cats, p + 1, 1)"))
        .join(broadcast(rel), "p")
        .withColumn("txt", when(col("cat") === "b",
            graft.functions.PgBinaryTextFunction.pg_binary_text(
              col("oid"), unbase64(col("v"))))
          .otherwise(col("v")))
      vals.groupBy(col("lsn"))
        .pivot("cname", Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority"))
        .agg(first(col("txt")))
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_custkey").cast("long").as("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"),
          col("o_orderdate").cast("timestamp").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    // Forecast SERVING from the CDC wire: the full behavioral-event log
    // arrives as insert-only pgoutput frames (decode → envelope → typed
    // projection) and feeds the SAME holtWinters tail as q99 — the
    // "forecast maintained off the replication stream" loop, mirroring
    // cdc_survival_serving's sharing shape. A dropped or mis-decoded
    // event anywhere shifts an hourly mean and hash-fails against q99's
    // oracle. Scale shape: decode is per-partition narrow; the (type,
    // hour) agg is the only corpus shuffle; the fold runs on the
    // study-window-bounded series (q99's scale note).
    "cdc_forecast_serving" -> ((s, d) => {
      // localCheckpoint, same rationale as cdc_survival_serving: the
      // holtWinters composition references `ev` four times (grid origin +
      // hourly, fits + forecast off the fold) and each re-ran the wire
      // encode+decode. The checkpointed frame is the 3-column typed
      // projection; the wire path runs once.
      val ev = CdcPipeline.decodeFrames(CdcPipeline.eventsFullToFrames(s, d))
        .filter(col("op") === "I")
        .select(
          element_at(col("after"), "event_type").as("event_type"),
          expr("cast(element_at(after, 'ts_us') as bigint) div 3600000000").as("hr"),
          element_at(col("after"), "cents").cast("long").as("cents"))
        .localCheckpoint()
      graft.queries.RelationalQueries.holtWinters(ev)
    }),

    // Incrementally-maintained SEASONAL BASELINE from an event wire
    // stream: the (event_type, hour-of-day) mean that q67's anomaly sweep
    // reads, kept fresh purely from deltas — inserts add (cents, 1),
    // retractions (late bot/abuse invalidation, REPLICA IDENTITY FULL)
    // subtract — through the REAL wire path (encode → decode → envelope →
    // Cdc.incrementalAggregate). The grouping key ships materialized
    // ("<type>|<hour>"), so the view never re-parses timestamps. A
    // dropped delete anywhere shifts a mean and hash-fails. Scale shape:
    // identical to cdc_incremental_agg — one narrow delta pass + one
    // group-keyed shuffle per batch; the streaming form is the unchanged
    // Streams.incrementalAggSink over this relation.
    "cdc_incremental_baseline" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.eventsToFrames(s, d))
      graft.cdc.Cdc.incrementalAggregate(events, "etype_hr", "cents")
        .select(
          split(col("g"), "\\|").getItem(0).as("event_type"),
          split(col("g"), "\\|").getItem(1).cast("int").as("hr"),
          col("c").as("n"),
          round(col("v").cast("double") / (col("c").cast("double") * lit(100.0)), 6)
            .as("baseline"))
        .orderBy(col("event_type"), col("hr"))
    }),

    // Online dedup at CDC ingest: the documents corpus arrives as
    // insert-only pgoutput frames (one txn per doc, LSN ≡ arrival order),
    // and every document gets a first-seen-wins keep/drop decision by
    // content hash — the batch twin of Streams.onlineDedupSink, run through
    // the REAL wire path (encode → decode → envelope). Scale shape: one
    // shuffle keyed on the 16-byte digest (never the text); the window
    // orders each hash group by (lsn, seq). The LSN schedule is a pure
    // function of doc_id, so "first seen" ≡ MIN(doc_id) per hash in the
    // SQL oracle.
    "cdc_online_dedup" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash")).orderBy(col("lsn"), col("seq"))
      CdcPipeline.decodeFrames(CdcPipeline.documentsToFrames(s, d))
        .filter(col("op") === "I")
        .select(element_at(col("after"), "doc_id").cast("long").as("doc_id"),
          md5(element_at(col("after"), "text").cast("binary")).as("content_hash"),
          col("lsn"), col("seq"))
        .withColumn("keeper_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("content_hash"),
          (col("doc_id") === col("keeper_id")).as("is_keeper"), col("keeper_id"))
        .orderBy(col("doc_id"))
    }),

    // Incrementally-maintained IVF index occupancy from an embedding-store
    // CDC stream: vectors arrive (and are retracted) as pgoutput frames
    // with the vector as pg-array TEXT; each event's delta is ASSIGNED to
    // its nearest coarse cell (the 8 seed centroids — model state, literal
    // in the plan like sim_kmeans) and merged into the per-cell histogram.
    // This is the "keep the ANN index fresh from the OLTP store" loop: the
    // index's routing table updates at the cost of the batch, never a
    // corpus rescan. Scale shape: parse + assignment are NARROW maps (no
    // join — argmin over k literal centroids); the only shuffle is the
    // k-row cell agg. Deletes carry REPLICA IDENTITY FULL images, so
    // retraction re-derives the cell from the before image. Must equal the
    // from-scratch assignment histogram of the surviving vectors.
    "cdc_incremental_ivf" -> ((s, d) => {
      val events = CdcPipeline.embeddingsEvents(s, d)
      val cents = graft.Tables.embeddings(s, d).filter(col("vec_id") < 8)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
        .toSeq.sortBy(_._1)
      def parsed(img: String) = expr(
        s"""transform(split(substring(element_at($img, 'embedding'), 2,
              length(element_at($img, 'embedding')) - 2), ','),
            x -> cast(x as double))""")
      def cellsOf(df: DataFrame, img: String, net: Int) = df
        .withColumn("embedding", parsed(img))
        .withColumn("cell", SimilarityQueries.nearest(cents).getField("cid"))
        .select(col("cell"), lit(net.toLong).as("net"))
      val plus = cellsOf(events.filter(col("op") === "I"), "after", 1)
      val minus = cellsOf(
        events.filter(col("op") === "D" && col("before").isNotNull), "before", -1)
      plus.unionByName(minus)
        .groupBy(col("cell")).agg(sum(col("net")).as("n_vectors"))
        .filter(col("n_vectors") > 0)
        .orderBy(col("cell"))
    }),

    // Incrementally-maintained TERM-DF inverted-index statistic from a
    // documents CDC stream — the search-index maintenance loop (df is
    // BM25/TF-IDF's corpus side): each event contributes +1 per DISTINCT
    // after-term and −1 per DISTINCT before-term, so the df table stays
    // fresh from deltas alone — never a corpus rescan. Updates/deletes
    // carry REPLICA IDENTITY FULL old images (retraction re-derives the
    // removed terms from the before text). Scale shape: decode + explode
    // are narrow; the ONE shuffle is the term-keyed sum, map-side
    // combined; fully-retracted terms leave at df = 0. Must equal df over
    // the surviving table state (the oracle recomputes from scratch).
    "cdc_incremental_termdf" -> ((s, d) => {
      val events = CdcPipeline.docsDmlEvents(s, d)
      def terms(img: String, net: Int) =
        events.filter(col("op").isin((if (net > 0) Seq("I", "U") else Seq("U", "D")): _*))
          .select(explode(array_distinct(
            split(element_at(col(img), "text"), " "))).as("term"),
            lit(net.toLong).as("dv"))
      terms("after", 1).unionByName(terms("before", -1))
        .groupBy(col("term")).agg(sum(col("dv")).as("df"))
        .filter(col("df") > 0)
        .orderBy(col("term"))
    }),

    // BM25 retrieval SERVED over the CDC-materialized corpus: the living
    // documents table (inserts + %7 full-image updates + %11 deletes)
    // streams through the wire path, compacts to current state, and the
    // SAME bm25Of engine text_bm25 uses ranks the survivors — the
    // "search serves fresh data" composition (cdc_incremental_termdf
    // maintains this index's df side incrementally; here the whole query
    // runs against materialized state). A dropped delete or a stale
    // update anywhere in decode → compaction → typed view shifts df,
    // avgdl, or a tf and hash-fails the ranking.
    "cdc_bm25_serving" -> ((s, d) => {
      val events = CdcPipeline.docsDmlEvents(s, d)
      // NOT checkpointed (r10-opt measured): bm25Of reads `docs` twice, but
      // the events come from the parquet spill, so the duplicate compaction
      // is cheap and the two branches overlap on idle cores — an eager
      // localCheckpoint barrier measured 1.22 -> 1.49 s (profiled 3x).
      val docs = graft.cdc.Cdc.materialize(events, CdcPipeline.documentsRelation)
        .select(col("doc_id"), col("text"))
      TextQueries.bm25Of(docs, TextQueries.QueryTerms)
    }),

    // Incrementally-maintained RAG CHUNK INDEX from the documents CDC
    // stream — the retrieval-index maintenance loop one level up from
    // cdc_incremental_termdf (chunk-level, the unit vector stores embed,
    // vs term-level df): each event contributes +1 per after-image chunk
    // and −1 per before-image chunk (REPLICA IDENTITY FULL old images —
    // an update retracts the old text's chunks and inserts the new
    // text's; a delete clears the doc's chunks), so the chunk table stays
    // fresh from deltas alone — the 100 TB corpus is never re-chunked.
    // Chunks are content-addressed (md5) via the SAME engine
    // text_rag_chunks uses, so an unchanged chunk of an updated doc
    // retracts and re-adds the identical key — net unchanged. Scale
    // shape: decode + chunk-explode are narrow; the ONE shuffle is the
    // (doc, chunk, md5)-keyed sum, map-side combined. Must equal chunking
    // the surviving table state from scratch.
    "cdc_incremental_chunks" -> ((s, d) => {
      val events = CdcPipeline.docsDmlEvents(s, d)
      def chunksOf(img: String, net: Int) = TextQueries.ragChunksOf(
        events.filter(col("op").isin((if (net > 0) Seq("I", "U") else Seq("U", "D")): _*))
          .filter(col(img).isNotNull)
          .select(element_at(col(img), "doc_id").cast("long").as("doc_id"),
            split(element_at(col(img), "text"), " ").as("ws")))
        .withColumn("net", lit(net.toLong))
      chunksOf("after", 1).unionByName(chunksOf("before", -1))
        .groupBy(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), col("chunk_md5"))
        .agg(sum(col("net")).as("net"))
        .filter(col("net") > 0)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("n_tokens"), col("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // HYBRID (lexical + dense) retrieval SERVED over TWO CDC wire paths:
    // the documents stream (inserts + %7 updates + %11 deletes) feeds the
    // BM25 side, the embeddings stream (inserts + %9 full-image deletes,
    // pg-array TEXT vectors) feeds the cosine side, and the SAME
    // lexRanksOf/denseRanksOf/rrfFused engine text_hybrid_retrieval uses
    // fuses the two survivor top-50 lists — a retrieval stack whose
    // lexical index AND vector index both track live tables. The
    // double-precision text rendering makes the parsed vectors equal the
    // parquet floats bit-for-bit, so a dropped delete on EITHER stream
    // shifts a rank and hash-fails the fusion.
    "cdc_hybrid_serving" -> ((s, d) => {
      val dEvents = CdcPipeline.docsDmlEvents(s, d)
      // NOT checkpointed (r10-opt measured): eager localCheckpoints on the
      // two materialized sides serialized branches that otherwise overlap
      // on idle cores — walls 2.11 -> 2.89 s (profiled 3x). Both sides read
      // their events from parquet spills, so re-compaction is cheap.
      val docs = graft.cdc.Cdc.materialize(dEvents, CdcPipeline.documentsRelation)
        .select(col("doc_id"), col("text"))
      val eEvents = CdcPipeline.embeddingsEvents(s, d)
      val vecs = graft.cdc.Cdc.materialize(eEvents, CdcPipeline.embeddingsRelation)
        .select(col("vec_id"),
          expr("""transform(split(substring(embedding, 2, length(embedding) - 2), ','),
                            x -> cast(x as double))""").as("emb"))
      TextQueries.rrfFused(
        TextQueries.lexRanksOf(docs, TextQueries.QueryTerms),
        TextQueries.denseRanksOf(vecs, 3L))
    }),

    // Incrementally-maintained MIN/MAX/COUNT view: extremes per priority
    // computed purely from event deltas (net per-(group,value) row counts —
    // the retraction-capable form; deletes genuinely remove extremes here,
    // so a scalar MIN/MAX accumulator would be wrong). Must equal MIN/MAX
    // over the oracle's final table state.
    "cdc_incremental_minmax" -> ((s, d) => {
      graft.cdc.Cdc.minMaxFromNets(liveOrderNets(s, d, "o_totalprice"))
        .select(col("g").as("o_orderpriority"),
          col("mn").cast("double").as("min_price"),
          col("mx").cast("double").as("max_price"),
          col("c").as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // Incrementally-maintained TOP-K view: the 3 highest live prices per
    // priority with multiplicities, from deltas alone — deletes that evict
    // a leader promote the runner-up without any rescan (the distributed
    // net-count table is the full ordered state). Must equal ranking the
    // oracle's final table state.
    "cdc_incremental_topk" -> ((s, d) => {
      graft.cdc.Cdc.rankTopK(liveOrderNets(s, d, "o_totalprice"), 3)
        .select(col("g").as("o_orderpriority"),
          col("v").cast("double").as("price"), col("net").as("n_rows"),
          col("rk"))
        .orderBy(col("o_orderpriority"), col("rk"))
    }),

    // Incrementally-maintained exact MEDIAN view: the order statistic from
    // deltas alone, read off the same distributed net-count state the top-k
    // view keeps (smallest value whose cumulative live multiplicity reaches
    // half the group — q57's lower-median convention, no interpolation, so
    // the answer is an actual data value and hash-exact). Must equal the
    // median of the oracle's final table state.
    "cdc_incremental_median" -> ((s, d) => {
      graft.cdc.Cdc.medianFromNets(liveOrderNets(s, d, "o_totalprice"))
        .select(col("g").as("o_orderpriority"),
          col("median").cast("double").as("median_price"), col("c").as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // Equi-width histogram view off the same net-count state: counts are
    // additive, so the monitoring histogram (per-priority price
    // distribution, $50k buckets) is a pure projection of the maintained
    // table — fresh under inserts, updates AND deletes, no extra state.
    "cdc_incremental_histogram" -> ((s, d) => {
      graft.cdc.Cdc.histogramFromNets(
          liveOrderNets(s, d, "o_totalprice"), 50000L * 100)
        .select(col("g").as("o_orderpriority"), col("bucket"),
          col("n").as("n_rows"))
        .orderBy(col("o_orderpriority"), col("bucket"))
    }),

    // Arbitrary-quantile view off the SAME net-count state the median /
    // top-k / distinct readers share: the exact p95 (p = 19/20 as an
    // integer comparison — no float threshold, no approx sketch) per
    // priority, fresh under inserts, updates AND deletes. One maintained
    // table now answers five different aggregate families.
    "cdc_incremental_p95" -> ((s, d) => {
      graft.cdc.Cdc.quantileFromNets(liveOrderNets(s, d, "o_totalprice"), 19, 20)
        .select(col("g").as("o_orderpriority"),
          col("q").cast("double").as("p95_price"), col("c").as("n_rows"))
        .orderBy(col("o_orderpriority"))
    }),

    // Consistency audit: materialized CDC state vs a fresh source snapshot
    // — the Debezium-style "incremental snapshot verifier" a 100 TB CDC
    // consumer runs to prove the pipeline lost nothing. One full-outer join
    // keyed on the pk (one shuffle per side, AQE-splittable); emits only
    // divergent keys with a status ∈ {missing, extra, mismatch}. Here the
    // state intentionally diverges from the raw snapshot by exactly the
    // DML pattern (updated keys mismatch, deleted keys missing), so the
    // audit report itself has an exact oracle.
    "cdc_state_audit" -> ((s, d) => {
      val state = graft.cdc.Cdc.materialize(
        CdcPipeline.ordersEventsUD(s, d), CdcPipeline.ordersRelation)
        .select(col("o_orderkey"), col("o_totalprice"))
      val snap = graft.Tables.orders(s, d)
        .select(col("o_orderkey").as("s_key"), col("o_totalprice").as("s_price"))
      state.join(snap, col("o_orderkey") === col("s_key"), "full_outer")
        .select(
          coalesce(col("o_orderkey"), col("s_key")).as("o_orderkey"),
          when(col("s_key").isNull, "extra")
            .when(col("o_orderkey").isNull, "missing")
            .when(col("o_totalprice") =!= col("s_price"), "mismatch")
            .otherwise("match").as("status"),
          col("o_totalprice").cast("double").as("state_price"),
          col("s_price").cast("double").as("snap_price"))
        .filter(col("status") =!= "match")
        .orderBy(col("o_orderkey"))
    }),

    // Incrementally-maintained JOIN-aggregate view: revenue per customer
    // nation, maintained purely from order deltas. The Δ⋈dim maintenance
    // rule: each event's ±(o_custkey, o_totalprice) contribution is
    // ENRICHED through the customer→nation dimensions (broadcast — dims
    // never shuffle, deltas never rescan the table), then merged into the
    // per-nation SUM/COUNT. The view over a 100 TB orders table refreshes
    // at the cost of the batch, not the table. Must equal aggregating the
    // oracle's final joined state.
    "cdc_incremental_join_agg" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUDFI(s, d)
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val plus = events.filter(col("op").isin("I", "U"))
        .select(element_at(col("after"), "o_custkey").cast("long").as("custkey"),
          element_at(col("after"), "o_totalprice").cast(dec).as("dv"),
          lit(1L).as("dc"))
      val minus = events.filter(col("op").isin("U", "D") && col("before").isNotNull)
        .select(element_at(col("before"), "o_custkey").cast("long").as("custkey"),
          (-element_at(col("before"), "o_totalprice").cast(dec)).as("dv"),
          lit(-1L).as("dc"))
      val dims = graft.Tables.customer(s, d)
        .join(graft.Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      plus.unionByName(minus)
        .join(broadcast(dims), col("custkey") === col("c_custkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("dv")).cast("double").as("revenue"), sum(col("dc")).as("n_orders"))
        .filter(col("n_orders") > 0)
        .orderBy(col("n_name"))
    }),

    // DBLog-style chunked snapshot (the Debezium "incremental snapshot"
    // algorithm): the table backfills in pk-range chunks WHILE update/
    // delete WAL streams (tail-only wire, inserts = false), each chunk
    // read racing the stream inside its watermark window — the watermark
    // rule (drop chunk rows whose key saw in-window WAL) is what makes the
    // merged state consistent; see Cdc.dblogMerge. The final state must
    // equal what a locked snapshot + full tail would give — the same
    // oracle as cdc_upsert_delete, reached by a completely different path.
    "cdc_chunked_snapshot" -> ((s, d) => {
      val wal = CdcPipeline.decodeFrames(CdcPipeline.ordersToFrames(s, d,
        DmlPattern(updates = true, deletes = true, fullImages = true,
          inserts = false)))
      val chunks = CdcPipeline.ordersSnapshotChunks(s, d, nChunks = 8)
      val merged = graft.cdc.Cdc.dblogMerge(wal, chunks, Seq("o_orderkey"))
      finish(graft.decode.TypedView.ofAfter(merged, CdcPipeline.ordersRelation))
    }),

    // Slot-loss FAILOVER RECOVERY — the reference's motivating problem
    // (README.md:9-23: failover drops the replication slot; resume without
    // a full re-sync). The composed path: the state materialized through
    // the OLD slot survives the failover; a replacement slot starts on the
    // promoted primary (everything the primary wrote in the gap is
    // unobtainable by replication); a chunked re-snapshot races the new
    // slot's tail (Cdc.dblogMerge's watermark rule resolves the races);
    // and recovery emits only the DELTA between the old state and the
    // converged one — upserts for gap/tail inserts and value changes,
    // deletes for rows the gap retired. Untouched keys never appear, which
    // is the "no full rebuild" contract: at 100 TB the re-snapshot is a
    // read-side scan, but the state rewrite is delta-sized. The delta is
    // N-independent (convergence must not depend on where the gap ended),
    // so the whole report is expressible in ANSI SQL over the source
    // table. Scale shape: one pk shuffle per side of dblogMerge's compact
    // + one pk-keyed full-outer join — identical to cdc_state_audit.
    "cdc_failover_resync" -> ((s, d) => {
      val rel = CdcPipeline.ordersRelation
      // pre-failover state: epoch 1 fully processed through the old slot
      val oldState = graft.decode.TypedView.ofAfter(
        graft.cdc.Cdc.compact(CdcPipeline.ordersEventsUDFI(s, d),
          Seq("o_orderkey")), rel)
        .select(col("o_orderkey"), col("o_totalprice").as("old_price"))
      val maxKey = CdcPipeline.ordersMaxKey(s, d)
      val slotLsn = CdcPipeline.failoverNewSlotLsn(maxKey)
      // the replacement slot ships only WAL past its creation point — the
      // gap (epoch-2 base, slotLsn] is lost and must come from the chunks.
      // The epoch-2 envelope is the suite-shared spill (its boundary is
      // ordersMaxKey's, same derivation as slotLsn's); the slot filter
      // applies on top.
      val tail = CdcPipeline.ordersEpoch2Events(s, d)
        .filter(col("lsn") > slotLsn)
      val chunks = CdcPipeline.ordersSnapshotChunksFailover(s, d,
        nChunks = 8, maxKey)
      val merged = graft.decode.TypedView.ofAfter(
        graft.cdc.Cdc.dblogMerge(tail, chunks, Seq("o_orderkey")), rel)
        .select(col("o_orderkey").as("m_key"), col("o_totalprice").as("new_price"))
      oldState.join(merged, col("o_orderkey") === col("m_key"), "full_outer")
        .filter(col("m_key").isNull || col("o_orderkey").isNull ||
          col("old_price") =!= col("new_price"))
        .select(
          coalesce(col("o_orderkey"), col("m_key")).as("o_orderkey"),
          when(col("m_key").isNull, "delete").otherwise("upsert").as("action"),
          col("old_price").cast("double").as("old_price"),
          col("new_price").cast("double").as("new_price"))
        .orderBy(col("o_orderkey"))
    }),

    // Materialized two-sided JOIN view: orders AND lineitem stream through
    // ONE replication slot (interleaved LSN axis), each side compacts to
    // its current state, and the view is their inner join on the order key
    // — the batch twin of Streams.incrementalJoinViewSink (which maintains
    // the same view with co-bucketed per-batch rebuilds). Exercises
    // multi-relation decode in one frame log + key-wise compaction per
    // relation + the join. Scale shape: one shuffle per side keyed on the
    // join key (what the streaming form's shared bucketing amortizes away).
    "cdc_join_view" -> ((s, d) => {
      // The shared-axis LSN parity (2L orders / 2L+1 lineitem) is the
      // joint log's partition-pruning handle: each side builds from its
      // own half — byte-identical to filtering the union by parity, but
      // the other relation's frames are never encoded or parsed (the
      // batch analog of per-publication scan pruning; the streaming sink
      // consumes the same log UNFILTERED, spec-covered). One step
      // further: the joint halves are ORDER-ISOMORPHIC to the plain logs
      // (lsn → 2·lsn(+1) is monotone) and compaction depends only on
      // within-key LSN order, so each side materializes from the suite's
      // SHARED plain envelope — the joint axis itself is exercised by
      // cdc_temporal_join (which reads absolute joint LSNs) and the
      // streaming join-view sink.
      val o = graft.cdc.Cdc.materialize(
        CdcPipeline.ordersEventsUD(s, d), CdcPipeline.ordersRelation)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      val li = lineitemState(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("l_quantity"), col("l_returnflag"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"))
    }),

    // SCD type-2 history: every version each order ever had, with its WAL
    // validity interval — version 1 from the insert (closed by the update
    // or delete if the key has one), version 2 from the update (closed by
    // the delete). The LSN schedule is a pure function of the key
    // (insert 8k+1, update 8k+4, delete 8k+7), so the full history table is
    // expressible in ANSI SQL over the source table.
    "cdc_scd2_history" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUD(s, d)
      graft.cdc.Cdc.scd2History(events, Seq("o_orderkey"))
        .select(
          element_at(col("after"), "o_orderkey").cast("long").as("o_orderkey"),
          element_at(col("after"), "o_totalprice").cast("double").as("o_totalprice"),
          col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
        .orderBy(col("o_orderkey"), col("valid_from_lsn"))
    }),

    // Schema evolution through the wire path (D5/T2): rows insert under
    // the 6-column relation, the Relation message re-sends with an added
    // o_note column (the ADD COLUMN wire form), then k % 3 == 0 rows update
    // with 7-column images. Decode must re-project tuples at the re-send
    // point; the v2 typed view surfaces pre-evolution rows with NULL
    // o_note. Hash-checked end-to-end — not just spec-pinned.
    "cdc_schema_evolution" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesEvolving(s, d))
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelationV2)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_note"))
        .orderBy(col("o_orderkey"))
    }),

    // ALTER COLUMN TYPE mid-stream (the evolution form ADD/DROP doesn't
    // cover): the relation re-announces with o_totalprice's type oid and
    // atttypmod CHANGED (float8 → numeric(12,2)); the registry swaps the
    // column type at the re-send point and the final typed view re-casts
    // pre-retype rows' stored float8-era text under DecimalType(12,2) —
    // one consistent typed output across the type boundary, no historical
    // rewrite. k % 3 == 0 rows carry post-retype scale-2 images (+1.0).
    "cdc_schema_retype" -> ((s, d) => {
      val events = CdcPipeline.ordersRetypeEvents(s, d)
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelationNumeric)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // NUMERIC(p,s) through the typed view: the atttypmod carried on the
    // Relation frame ((p<<16|s)+4) must surface as DecimalType(12,2) —
    // exact money semantics — where the reference coerces every numeric to
    // lossy float (reader.py:69-70). The DECIMAL(12,2) cast agrees to the
    // cent only if the wire text, the typmod decode, and the Catalyst
    // decimal all agree (the DecimalType itself is pinned in
    // TypedViewSpec). The FINAL projection re-casts to double for the
    // gate: both engines convert the identical cents-exact decimal, and a
    // raw DecimalType column would hash as python Decimal objects on the
    // Spark side but float64 on the oracle side (Verify refuses decimal
    // outputs for exactly this reason).
    "cdc_numeric_typed" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesNumeric(s, d))
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelationNumeric)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Partitioned upstream table: children publish under their OWN
    // relation ids (orders_p0/orders_p1 — PG's pre-13 behavior, and later
    // without publish_via_partition_root); the subscriber unions the child
    // streams and compacts on the SHARED pk to materialize the logical
    // parent. A consumer that keyed state by relation id instead of the
    // logical table would split each key's history across two states and
    // hash-fail the updates.
    "cdc_partitioned_table" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesPartitioned(s, d))
        .filter(col("relation_id").isin(
          CdcPipeline.OrdersP0RelId, CdcPipeline.OrdersP1RelId))
      finish(graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelation))
    }),

    // Schema evolution, DROP COLUMN form: the 5-column Relation re-send
    // narrows decode mid-stream; pre-drop rows keep the dropped column in
    // their stored images and the post-drop typed view simply never
    // projects it — no historical-state rewrite (the lazy-projection
    // property that also makes ADD COLUMN free).
    "cdc_schema_drop" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesDropping(s, d))
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelationV3)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD2 over the composite primary key (4-column pk through the wire
    // path): multi-column key extraction drives the history's per-key
    // window; LSNs COLLIDE across keys by construction (harmless — version
    // ordering is within-key only, same property compaction relies on).
    "cdc_scd2_composite" -> ((s, d) => {
      val events = CdcPipeline.lineitemEvents(s, d)
      graft.cdc.Cdc.scd2History(events,
          Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
        .select(
          element_at(col("after"), "l_orderkey").cast("long").as("l_orderkey"),
          element_at(col("after"), "l_linenumber").cast("int").as("l_linenumber"),
          element_at(col("after"), "l_partkey").cast("long").as("l_partkey"),
          element_at(col("after"), "l_suppkey").cast("long").as("l_suppkey"),
          element_at(col("after"), "l_quantity").cast("double").as("l_quantity"),
          col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"), col("valid_from_lsn"))
    }),

    // Point-in-time (as-of) read over the SCD2 history: table state as of
    // WAL position 4·max(o_orderkey) (≈ the stream's midpoint) — the query
    // a history table exists to answer. A version is visible iff
    // valid_from ≤ asof < valid_to. Keys whose insert lands after the
    // midpoint don't exist yet; updates/deletes after it are invisible.
    // Scale: one filter over the history — no recompaction, no event replay.
    "cdc_scd2_asof" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUD(s, d)
      val asof = graft.Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) * 4
      graft.cdc.Cdc.scd2History(events, Seq("o_orderkey"))
        .filter(col("valid_from_lsn") <= asof &&
          (col("valid_to_lsn").isNull || col("valid_to_lsn") > asof))
        .select(
          element_at(col("after"), "o_orderkey").cast("long").as("o_orderkey"),
          element_at(col("after"), "o_totalprice").cast("double").as("o_totalprice"),
          col("valid_from_lsn"))
        .orderBy(col("o_orderkey"))
    }),

    // Protocol-v2 streamed transactions (PG 14 `streaming on` — absent from
    // the reference): two large transactions arrive in INTERLEAVED segments,
    // one committing (with a later-segment update and an aborted
    // subtransaction), one aborting wholesale, alongside ordinary small
    // transactions. Reassembly is per-partition builder state bounded by
    // in-flight streamed bytes — the consumer-side mirror of what keeps
    // replication lag flat when a bulk load writes one huge transaction.
    "cdc_streamed_txn" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesStreamed(s, d))
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelation)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Logical decoding messages ('M', pg_logical_emit_message — a message
    // type the reference does not decode at all): every order's transaction
    // carries a transactional "audit" message (rides the txn's xid), and
    // k % 5 == 0 keys emit a NON-transactional "heartbeat" mid-txn (emitted
    // immediately at its own WAL position, outside the txn → tx_id = -1).
    "cdc_logical_messages" -> ((s, d) => {
      CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesWithMessages(s, d), emitMessages = true)
        .filter(col("op") === "M")
        .select(col("lsn"),
          element_at(col("after"), "prefix").as("prefix"),
          element_at(col("after"), "content").as("content"),
          (element_at(col("after"), "transactional") === "true").as("transactional"),
          col("tx_id"))
        .orderBy(col("lsn"), col("prefix"))
    }),

    // Backfill-then-tail (the COMPLETE S2 flow, hash-checked): the initial
    // sync reads the table pinned at the snapshot point (keys ≤ mid), the
    // replication stream delivers everything after it — inserts of new
    // keys AND updates to snapshot keys that changed post-pin. Final state
    // = stream-derived state wins per key, snapshot fills the rest (one
    // left-anti join on the pk — the union is cheap; the heavy sides never
    // shuffle against each other beyond the key match). The oracle is the
    // whole table with the update pattern applied — the union must leave
    // no seam: no lost snapshot row, no duplicated updated key.
    "cdc_backfill_union" -> ((s, d) => {
      val mid = graft.Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) / 2
      val snapshot = graft.Tables.orders(s, d).filter(col("o_orderkey") <= mid)
        .select(cols.map(col): _*)
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesTail(s, d, mid))
      val streamed = graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelation)
        .select(cols.map(col): _*)
      snapshot.join(streamed, Seq("o_orderkey"), "left_anti")
        .unionByName(streamed)
        .orderBy(col("o_orderkey"))
    }),

    // Two-phase commit (protocol v3 — PREPARE TRANSACTION / COMMIT
    // PREPARED / ROLLBACK PREPARED, absent from the reference): prepared
    // transactions buffer under their gid and resolve much later in the
    // WAL; rolled-back ones leave no trace, in-doubt ones are held, and
    // committed ones emit with the COMMIT PREPARED timestamp.
    "cdc_two_phase" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesTwoPhase(s, d))
      graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelation)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // Origin-filtered apply (PG16 `origin = none` semantics — loop
    // prevention in bidirectional replication): k % 3 == 0 transactions
    // arrive marked with an Origin("upstream") frame, meaning they were
    // replayed from another node; a subscriber that also publishes must
    // apply only locally-originated rows or changes ping-pong forever.
    // The origin rides every event of its transaction (D4 — a stub in the
    // reference), so the filter is a narrow predicate before compaction.
    "cdc_origin_filter" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFrames(s, d,
        DmlPattern(originOnMod3 = true)))
      graft.cdc.Cdc.materialize(
          events.filter(col("origin").isNull), CdcPipeline.ordersRelation)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // A Truncate frame at LSN 4*max(o_orderkey) (≈ the stream's midpoint)
    // wipes all rows whose insert precedes it.
    "cdc_truncate" -> ((s, d) => {
      val maxKey = graft.Tables.orders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0)
      finish(CdcPipeline.materializedOrders(s, d,
        DmlPattern(truncateAtLsn = Some(maxKey * 4))))
    }),

    // Replication-monitoring report (the Debezium-metrics surface every
    // production CDC deployment watches): per-op event volume, distinct
    // transactions, and the LSN range covered — computed straight off the
    // decoded envelope, so it prices the same whether the source is replay
    // or live. The oracle re-derives every number from the generator's
    // (documented, key-pure) wire schedule — an end-to-end check that
    // decode drops/duplicates NOTHING: any lost frame, re-delivery, or
    // mis-assigned lsn/tx_id shifts a count or an LSN bound and
    // hash-fails. Scale shape: one narrow filter + one 3-group hash agg
    // over the stream — no image maps touched, no state.
    // Incrementally-maintained COUNT DISTINCT per group (the classic
    // non-delta-maintainable aggregate, solved by the shared net-count
    // state): distinct customers per priority from event deltas only.
    // Updates here change totalprice, not custkey — their retract+re-add
    // must cancel exactly; deletes must decrement only when they remove a
    // customer's last surviving order in the group.
    "cdc_incremental_distinct" -> ((s, d) => {
      graft.cdc.Cdc.distinctFromNets(liveOrderNets(s, d, "o_custkey"))
        .select(col("g").as("o_orderpriority"), col("n_distinct"), col("c"))
        .orderBy(col("o_orderpriority"))
    }),

    // Log compaction round-trip: the full updates+deletes+TOAST log is
    // compacted to one synthetic insert per surviving key (tombstones
    // collapse, TOAST images repair), RE-ENCODED as pgoutput frames, and
    // replayed through the untouched decode→compact pipeline. The final
    // state must equal the full log's — the Kafka-compaction contract that
    // lets a new consumer bootstrap from O(live keys) instead of
    // O(history).
    "cdc_compacted_replay" -> ((s, d) => {
      val full = CdcPipeline.decodeFrames(CdcPipeline.ordersToFrames(s, d,
        DmlPattern(updates = true, deletes = true, toastPriorityOnUpdate = true)))
      val compacted = CdcPipeline.compactFrames(full, CdcPipeline.ordersRelation)
      val events = CdcPipeline.decodeFrames(compacted)
      finish(graft.cdc.Cdc.materialize(events, CdcPipeline.ordersRelation))
    }),

    // TEMPORAL TABLE JOIN (the Flink `FOR SYSTEM_TIME AS OF` shape) served
    // from CDC-maintained SCD2 history: each fact row carries its own
    // event-time position (probe_lsn — here a per-line function of the key
    // that lands before the dim's update, between update and delete, and
    // after the delete), and the join picks the dim VERSION valid at that
    // position — v1 prices for early probes, post-update prices mid-window,
    // NULL after the delete closed the key's history. The dim versions come
    // off the orders half of the joint wire log via scd2History. Scale
    // shape: an equi-join on the dim key with the validity interval as a
    // RESIDUAL predicate — versions per key are bounded (update count), so
    // there is no row explosion and no range-join machinery; the history is
    // the same one-pk-shuffle lead-window build every SCD2 consumer pays.
    "cdc_temporal_join" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.jointOrdersFrames(s, d,
        DmlPattern(updates = true, deletes = true)))
      val hist = graft.cdc.Cdc.scd2History(events, Seq("o_orderkey"))
        .select(col("__key_o_orderkey").cast("bigint").as("h_key"),
          element_at(col("after"), "o_totalprice").cast("double").as("price"),
          col("valid_from_lsn"), col("valid_to_lsn"))
      val facts = graft.Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"))
        .withColumn("probe_lsn",
          col("l_orderkey") * 16 + (col("l_linenumber") % 3) * 8 + lit(4))
      facts.join(hist,
          facts("l_orderkey") === hist("h_key") &&
          hist("valid_from_lsn") <= col("probe_lsn") &&
          (hist("valid_to_lsn").isNull || col("probe_lsn") < hist("valid_to_lsn")),
          "left")
        .select(col("l_orderkey"), col("l_linenumber"), col("probe_lsn"),
          col("price").as("price_at_probe"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Cross-table referential-integrity audit over TWO CDC-materialized
    // states (the replication-drift monitor a multi-table deployment runs:
    // logical replication applies tables independently, so a parent delete
    // can leave child orphans in the subscriber's materialized views —
    // there is no FK enforcement on the apply side). Orders arrive with
    // k % 7 == 0 deleted; lineitem compacts its own update/delete pattern;
    // the audit reports every surviving lineitem whose parent order no
    // longer exists, with exact DECIMAL quantity totals (order-free sum).
    // A dropped delete, resurrected key, or missed lineitem tombstone on
    // EITHER wire path shifts a count and hash-fails. Scale shape: both
    // states are the standard one-pk-shuffle compactions; the audit is one
    // FK-keyed left-anti join + one hash agg — the same plan at any state
    // size, incrementalizable via the join-view machinery if run per batch.
    "cdc_fk_orphans" -> ((s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 6)
      val orders = CdcPipeline.materializedOrders(s, d, DmlPattern(deletes = true))
        .select(col("o_orderkey"))
      val items = lineitemState(s, d)
      items.join(orders, items("l_orderkey") === orders("o_orderkey"), "left_anti")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_orphan_lines"),
          sum(col("l_quantity").cast(dec)).cast("double").as("orphan_qty"))
        .orderBy(col("l_orderkey"))
    }),

    // Active-active replication merge (bidirectional CDC, the BDR/pglogical
    // deployment shape): two sites' WAL streams — site A local, site B
    // origin-marked, in DISJOINT LSN spaces — merge under last-writer-wins
    // by commit timestamp with a deterministic local-wins tiebreak
    // (Cdc.lwwCompact). The generated schedule covers every conflict case:
    // remote newer (k%24==0 → site B's +2.0 wins), exact-tie (k%12==0,
    // k%24≠0: both commit at +300µs → local +1.0 wins), remote-only
    // (k%6==0) and local-only (k%4==0) updates. `winner` records which
    // site's write survived — the conflict-audit column an active-active
    // deployment logs. A compaction that compared raw LSNs instead of
    // commit time would let site B's huge WAL offsets win every conflict
    // and hash-fail the tie/local-newer cases.
    "cdc_multi_origin_lww" -> ((s, d) => {
      val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFramesBiDir(s, d))
      graft.cdc.Cdc.lwwCompact(events, Seq("o_orderkey"))
        .select(
          element_at(col("after"), "o_orderkey").cast("bigint").as("o_orderkey"),
          element_at(col("after"), "o_totalprice").cast("double").as("o_totalprice"),
          coalesce(col("origin"), lit("local")).as("winner"))
        .orderBy(col("o_orderkey"))
    }),

    "cdc_wire_stats" -> ((s, d) => {
      val events = CdcPipeline.ordersEventsUD(s, d)
      events.filter(col("op").isin("I", "U", "D"))
        .groupBy(col("op"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("tx_id")).as("n_txns"),
          min(col("lsn")).as("min_lsn"),
          max(col("lsn")).as("max_lsn"))
        .orderBy(col("op"))
    }))

  val oracleSql: Map[String, String] = Map(
    // Typed values null out exactly where the wire value was uncoercible;
    // error strings concat in sorted order (cast_error < not_null).
    "cdc_dead_letter" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
           CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice,
           concat_ws(',',
             CASE WHEN o_orderkey % 13 = 0 THEN 'cast_error:o_totalprice' END,
             CASE WHEN o_orderkey % 17 = 0 THEN 'not_null:o_custkey' END) AS errors,
           (o_orderkey % 13 = 0 OR o_orderkey % 17 = 0) AS quarantined
         FROM orders ORDER BY o_orderkey""",

    "cdc_incremental_distinct" ->
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_distinct,
           COUNT(*) AS c
         FROM orders WHERE o_orderkey % 7 <> 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "cdc_numeric_typed" ->
      """SELECT o_orderkey,
           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS o_totalprice
         FROM orders ORDER BY o_orderkey""",

    "cdc_schema_retype" ->
      """SELECT o_orderkey,
           CAST(CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS DECIMAL(12,2)) AS DOUBLE)
             AS o_totalprice
         FROM orders ORDER BY o_orderkey""",

    "cdc_partitioned_table" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_schema_drop" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice + 2.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate
         FROM orders ORDER BY o_orderkey""",

    // Version-at-probe is a pure function of the two key schedules: probes
    // land before the update (v1), in the update-delete window, or after
    // the delete (no valid version → NULL).
    "cdc_temporal_join" ->
      """SELECT l_orderkey, l_linenumber,
           l_orderkey * 16 + (l_linenumber % 3) * 8 + 4 AS probe_lsn,
           CASE WHEN (l_linenumber % 3) = 0 THEN o_totalprice
                WHEN (l_linenumber % 3) = 1 THEN
                  CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END
                WHEN o_orderkey % 7 = 0 THEN NULL
                WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS price_at_probe
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber""",

    // Orphans = surviving lineitems (own delete pattern applied) whose
    // parent order was deleted (k % 7 == 0); quantities carry lineitem's
    // own update pattern, summed as exact DECIMAL before the double cast.
    "cdc_fk_orphans" ->
      """SELECT l_orderkey, COUNT(*) AS n_orphan_lines,
           CAST(SUM(CAST(CASE WHEN (l_orderkey + l_linenumber) % 5 = 0
                              THEN l_quantity + 1.0 ELSE l_quantity END
                         AS DECIMAL(28,6))) AS DOUBLE) AS orphan_qty
         FROM lineitem
         WHERE l_orderkey % 7 = 0 AND (l_orderkey + l_linenumber) % 9 <> 0
         GROUP BY l_orderkey ORDER BY l_orderkey""",

    // Winner per key from the engineered conflict schedule (site A: k%4
    // updates +1.0 at ts+100/+300; site B: k%6 updates +2.0 at ts+300 for
    // k%12 else +200; ties → local): k%24 → B newer; k%12 → tie, local;
    // k%6 → B only; k%4 → A only; else the insert stands.
    "cdc_multi_origin_lww" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 24 = 0 THEN o_totalprice + 2.0
                WHEN o_orderkey % 12 = 0 THEN o_totalprice + 1.0
                WHEN o_orderkey % 6 = 0 THEN o_totalprice + 2.0
                WHEN o_orderkey % 4 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 24 = 0 THEN 'site_b'
                WHEN o_orderkey % 12 = 0 THEN 'local'
                WHEN o_orderkey % 6 = 0 THEN 'site_b'
                ELSE 'local' END AS winner
         FROM orders ORDER BY o_orderkey""",

    // Re-derives the wire schedule: each key k emits its insert at lsn
    // 8k+1 (own txn, xid k), k%10=0 an update at 8k+4, k%7=0 a delete at
    // 8k+7 — so every count and LSN bound is a pure function of orders.
    "cdc_wire_stats" ->
      """SELECT * FROM (
           SELECT 'I' AS op, COUNT(*) AS n_events, COUNT(*) AS n_txns,
             MIN(o_orderkey * 8 + 1) AS min_lsn, MAX(o_orderkey * 8 + 1) AS max_lsn
           FROM orders
           UNION ALL
           SELECT 'U', COUNT(*), COUNT(*),
             MIN(o_orderkey * 8 + 4), MAX(o_orderkey * 8 + 4)
           FROM orders WHERE o_orderkey % 10 = 0
           UNION ALL
           SELECT 'D', COUNT(*), COUNT(*),
             MIN(o_orderkey * 8 + 7), MAX(o_orderkey * 8 + 7)
           FROM orders WHERE o_orderkey % 7 = 0) t
         ORDER BY op""",

    "cdc_streamed_txn" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 8 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
         FROM orders WHERE o_orderkey % 4 IN (0, 3)
         ORDER BY o_orderkey""",

    "cdc_origin_filter" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey % 3 <> 0 ORDER BY o_orderkey""",

    "cdc_two_phase" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_orderkey % 6 <> 3 ORDER BY o_orderkey""",

    "cdc_backfill_union" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_logical_messages" ->
      """SELECT o_orderkey * 8 + 2 AS lsn, 'audit' AS prefix,
           'order=' || CAST(o_orderkey AS VARCHAR) AS content,
           TRUE AS transactional, CAST(o_orderkey AS INT) AS tx_id
         FROM orders
         UNION ALL
         SELECT o_orderkey * 8 + 6, 'heartbeat',
           'hb=' || CAST(o_orderkey AS VARCHAR), FALSE, CAST(-1 AS INT)
         FROM orders WHERE o_orderkey % 5 = 0
         ORDER BY lsn, prefix""",

    "cdc_incremental_ivf" ->
      s"""WITH surv AS (SELECT * FROM embeddings WHERE vec_id % 9 <> 0),
         cents AS (SELECT vec_id AS cid, embedding AS centroid
                   FROM embeddings WHERE vec_id < 8),
         a AS (
           SELECT s.vec_id, c.cid
           FROM surv s CROSS JOIN cents c
           QUALIFY row_number() OVER (PARTITION BY s.vec_id
             ORDER BY ${SimilarityQueries.DistSql.format("s.embedding", "c.centroid")}, c.cid) = 1)
         SELECT cid AS cell, COUNT(*) AS n_vectors
         FROM a GROUP BY cid ORDER BY cell""",

    "cdc_online_dedup" ->
      """WITH k AS (
           SELECT md5(text) AS h, MIN(doc_id) AS keeper_id
           FROM documents GROUP BY 1)
         SELECT d.doc_id, md5(d.text) AS content_hash,
           d.doc_id = k.keeper_id AS is_keeper, k.keeper_id
         FROM documents d JOIN k ON md5(d.text) = k.h
         ORDER BY d.doc_id""",

    "cdc_bm25_serving" -> TextQueries.bm25Sql(
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' zzupdate' ELSE text END AS text
         FROM documents WHERE doc_id % 11 <> 0"""),

    // from-scratch chunking of the SURVIVING table state (the incremental
    // view must converge to exactly this)
    "cdc_incremental_chunks" -> TextQueries.ragChunkSql(
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' zzupdate' ELSE text END AS text
         FROM documents WHERE doc_id % 11 <> 0"""),

    // both sides recomputed from the SURVIVING table states (doc DML
    // schedule on the lexical side, embedding delete schedule on the
    // dense side)
    "cdc_hybrid_serving" -> TextQueries.hybridSql(
      """SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' zzupdate' ELSE text END AS text
         FROM documents WHERE doc_id % 11 <> 0""",
      "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 9 <> 0"),

    // from-scratch df over the SURVIVING table state (the incremental
    // form must land on exactly this)
    "cdc_incremental_termdf" ->
      """WITH survivors AS (
           SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' zzupdate' ELSE text END AS text
           FROM documents WHERE doc_id % 11 <> 0),
         tf AS (
           SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
           FROM survivors)
         SELECT term, COUNT(*) AS df FROM tf GROUP BY term ORDER BY term""",

    "cdc_insert_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_binary_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_binary_sql_render" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_upsert_delete" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""",

    "cdc_toast_fill" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders ORDER BY o_orderkey""",

    "cdc_compacted_replay" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""",

    "cdc_chunked_snapshot" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus,
           CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           o_orderdate, o_orderpriority
         FROM orders WHERE o_orderkey % 7 <> 0
         ORDER BY o_orderkey""",

    "cdc_failover_resync" ->
      """WITH old_state AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS price
           FROM orders WHERE o_orderkey % 7 <> 0),
         new_state AS (
           SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END
             + CASE WHEN o_orderkey % 4 = 0 THEN 10.0 ELSE 0.0 END AS price
           FROM orders WHERE o_orderkey % 7 <> 0 AND o_orderkey % 9 <> 0
           UNION ALL
           SELECT o_orderkey, o_totalprice * 2.0
           FROM orders WHERE o_orderkey % 35 = 0)
         SELECT COALESCE(o.k, n.k) AS o_orderkey,
           CASE WHEN n.k IS NULL THEN 'delete' ELSE 'upsert' END AS action,
           o.price AS old_price, n.price AS new_price
         FROM old_state o FULL OUTER JOIN new_state n ON o.k = n.k
         WHERE n.k IS NULL OR o.k IS NULL OR o.price <> n.price
         ORDER BY o_orderkey""",

    "cdc_join_view" ->
      """WITH li AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             CASE WHEN (l_orderkey + l_linenumber) % 5 = 0 THEN l_quantity + 1.0
                  ELSE l_quantity END AS l_quantity,
             l_returnflag
           FROM lineitem WHERE (l_orderkey + l_linenumber) % 9 <> 0),
         o AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderpriority
           FROM orders WHERE o_orderkey % 7 <> 0)
         SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.l_suppkey,
           li.l_quantity, li.l_returnflag, o.o_totalprice, o.o_orderpriority
         FROM li JOIN o ON li.l_orderkey = o.o_orderkey
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    "cdc_composite_key" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           CASE WHEN (l_orderkey + l_linenumber) % 5 = 0 THEN l_quantity + 1.0 ELSE l_quantity END AS l_quantity,
           l_returnflag, l_shipdate
         FROM lineitem WHERE (l_orderkey + l_linenumber) % 9 <> 0
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey""",

    "cdc_scd2_history" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_totalprice,
             o_orderkey * 8 + 1 AS valid_from_lsn,
             CASE WHEN o_orderkey % 10 = 0 THEN o_orderkey * 8 + 4
                  WHEN o_orderkey % 7 = 0 THEN o_orderkey * 8 + 7 END AS valid_to_lsn
           FROM orders),
         v2 AS (
           SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice,
             o_orderkey * 8 + 4 AS valid_from_lsn,
             CASE WHEN o_orderkey % 7 = 0 THEN o_orderkey * 8 + 7 END AS valid_to_lsn
           FROM orders WHERE o_orderkey % 10 = 0)
         SELECT o_orderkey, o_totalprice, valid_from_lsn, valid_to_lsn,
           valid_to_lsn IS NULL AS is_current
         FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         ORDER BY o_orderkey, valid_from_lsn""",

    "cdc_schema_evolution" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 3 = 0 THEN 'n' || CAST(o_orderkey AS VARCHAR) END AS o_note
         FROM orders ORDER BY o_orderkey""",

    "cdc_scd2_composite" ->
      """WITH v1 AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
             l_orderkey * 32 + l_linenumber * 4 + 1 AS valid_from_lsn,
             CASE WHEN (l_orderkey + l_linenumber) % 5 = 0
                    THEN l_orderkey * 32 + l_linenumber * 4 + 2
                  WHEN (l_orderkey + l_linenumber) % 9 = 0
                    THEN l_orderkey * 32 + l_linenumber * 4 + 3
             END AS valid_to_lsn
           FROM lineitem),
         v2 AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
             l_quantity + 1.0 AS l_quantity,
             l_orderkey * 32 + l_linenumber * 4 + 2 AS valid_from_lsn,
             CASE WHEN (l_orderkey + l_linenumber) % 9 = 0
                    THEN l_orderkey * 32 + l_linenumber * 4 + 3 END AS valid_to_lsn
           FROM lineitem WHERE (l_orderkey + l_linenumber) % 5 = 0)
         SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
           valid_from_lsn, valid_to_lsn, valid_to_lsn IS NULL AS is_current
         FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, valid_from_lsn""",

    "cdc_scd2_asof" ->
      """WITH m AS (SELECT MAX(o_orderkey) * 4 AS asof_lsn FROM orders)
         SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 AND o_orderkey * 8 + 4 <= asof_lsn
                THEN o_totalprice + 1.0 ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 10 = 0 AND o_orderkey * 8 + 4 <= asof_lsn
                THEN o_orderkey * 8 + 4 ELSE o_orderkey * 8 + 1 END AS valid_from_lsn
         FROM orders CROSS JOIN m
         WHERE o_orderkey * 8 + 1 <= asof_lsn
           AND NOT (o_orderkey % 7 = 0 AND o_orderkey * 8 + 7 <= asof_lsn)
         ORDER BY o_orderkey""",

    "cdc_truncate" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
         FROM orders
         WHERE o_orderkey * 8 + 1 > (SELECT MAX(o_orderkey) * 4 FROM orders)
         ORDER BY o_orderkey""",

    "cdc_incremental_join_agg" ->
      """SELECT n_name,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS DECIMAL(28,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_orders
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE o_orderkey % 7 <> 0
         GROUP BY n_name ORDER BY n_name""",

    "cdc_incremental_topk" ->
      """WITH st AS (
           SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS DECIMAL(28,6)) AS price
           FROM orders WHERE o_orderkey % 7 <> 0),
         ranked AS (
           SELECT o_orderpriority, price, COUNT(*) AS n_rows,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
               ORDER BY price DESC) AS rk
           FROM st GROUP BY o_orderpriority, price)
         SELECT o_orderpriority, CAST(price AS DOUBLE) AS price,
           n_rows, CAST(rk AS INT) AS rk
         FROM ranked WHERE rk <= 3
         ORDER BY o_orderpriority, rk""",

    "cdc_incremental_median" ->
      """WITH st AS (
           SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS DECIMAL(28,6)) AS price
           FROM orders WHERE o_orderkey % 7 <> 0),
         nets AS (
           SELECT o_orderpriority, price, COUNT(*) AS cnt
           FROM st GROUP BY o_orderpriority, price),
         cum AS (
           SELECT o_orderpriority, price,
             SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY price) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
           FROM nets)
         SELECT o_orderpriority, CAST(MIN(price) AS DOUBLE) AS median_price,
           CAST(MAX(n) AS BIGINT) AS n_rows
         FROM cum WHERE cum * 2 >= n
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "cdc_incremental_histogram" ->
      """WITH st AS (
           SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS DECIMAL(28,6)) AS price
           FROM orders WHERE o_orderkey % 7 <> 0)
         SELECT o_orderpriority,
           CAST(FLOOR(CAST(price * 100 AS BIGINT) / 5000000) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows
         FROM st GROUP BY 1, 2 ORDER BY 1, 2""",

    "cdc_incremental_p95" ->
      """WITH st AS (
           SELECT o_orderpriority,
             CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS DECIMAL(28,6)) AS price
           FROM orders WHERE o_orderkey % 7 <> 0),
         nets AS (
           SELECT o_orderpriority, price, COUNT(*) AS cnt
           FROM st GROUP BY o_orderpriority, price),
         cum AS (
           SELECT o_orderpriority, price,
             SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY price) AS cum,
             SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
           FROM nets)
         SELECT o_orderpriority, CAST(MIN(price) AS DOUBLE) AS p95_price,
           CAST(MAX(n) AS BIGINT) AS n_rows
         FROM cum WHERE cum * 20 >= n * 19
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "cdc_state_audit" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN 'missing' ELSE 'mismatch' END AS status,
           CASE WHEN o_orderkey % 7 = 0 THEN NULL
                ELSE CAST(o_totalprice + 1.0 AS DOUBLE) END AS state_price,
           CAST(o_totalprice AS DOUBLE) AS snap_price
         FROM orders
         WHERE o_orderkey % 7 = 0 OR o_orderkey % 10 = 0
         ORDER BY o_orderkey""",

    "cdc_incremental_minmax" ->
      """SELECT o_orderpriority,
           CAST(MIN(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS DECIMAL(28,6))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS DECIMAL(28,6))) AS DOUBLE) AS max_price,
           COUNT(*) AS n_rows
         FROM orders WHERE o_orderkey % 7 <> 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "cdc_incremental_stats" ->
      """WITH xc AS (
           SELECT o_orderpriority,
             CAST(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                       ELSE o_totalprice END AS DECIMAL(28,2)) * 100 AS BIGINT) AS xi
           FROM orders WHERE o_orderkey % 7 <> 0),
         st AS (
           SELECT o_orderpriority, SUM(xi) AS sx,
             SUM(CAST(xi AS HUGEINT) * xi) AS sx2, COUNT(*) AS c
           FROM xc GROUP BY o_orderpriority),
         m AS (
           SELECT o_orderpriority, CAST(sx AS DOUBLE) / c AS mc,
             CAST(sx2 AS DOUBLE) / c AS ex2c, c
           FROM st)
         SELECT o_orderpriority, mc / 100.0 AS mean_price,
           (ex2c - mc * mc) / 10000.0 AS var_price, c AS n_rows
         FROM m ORDER BY o_orderpriority""",

    // q95's life-table SQL (the shared kmLifeTableCtes fragment) with the
    // cutoff anchored to the wire-delivered view/purchase log (the
    // insert-only frames carry only those types)
    "cdc_survival_serving" ->
      s"""WITH ${RelationalQueries.kmLifeTableCtes(
             "WHERE event_type IN ('view', 'purchase')")}
         ${RelationalQueries.KmCurveTailSql}""",

    // q99's fold SQL (the shared HoltWintersTailSql fragment) anchored to
    // the wire-delivered full event log — the frames carry every event, so
    // the hourly grid (and hence the whole fold) must match the table scan
    "cdc_forecast_serving" ->
      s"""WITH RECURSIVE ev AS (
           SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         ${RelationalQueries.HoltWintersTailSql}""",

    "cdc_incremental_baseline" ->
      """SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr, COUNT(*) AS n,
           round(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
             / (CAST(COUNT(*) AS DOUBLE) * 100.0), 6) AS baseline
         FROM events WHERE event_id % 13 <> 0
         GROUP BY event_type, hr ORDER BY event_type, hr""",

    "cdc_incremental_agg" ->
      """SELECT o_orderpriority,
           CAST(SUM(CAST(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1.0
                              ELSE o_totalprice END AS DECIMAL(28,6))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
         FROM orders WHERE o_orderkey % 7 <> 0
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")
}
