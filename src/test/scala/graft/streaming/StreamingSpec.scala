package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.sources.{Envelope, FrameLog}

/** Structured-streaming surface: event-time windows vs their batch twins,
  * stateful dedup, session windows, txn-atomic assembly, and the streaming
  * CDC upsert sink materializing the same state as the batch pipeline. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  /** FileStreamSource needs a *directory*; stage the single parquet file
    * into one. */
  private lazy val eventsDir: String = {
    val d = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("part-0.parquet"))
    d.toString
  }

  /** Collects a generator's frames into an LSN-ordered FrameLog at `path`. */
  private def writeLog(path: String, frames: Dataset[(Long, Array[Byte])]): Unit =
    FrameLog.write(path, FrameLog.lsnOrdered(frames.collect()))

  test("streaming tumbling window + watermark matches the batch computation") {
    // stream the raw parquet (ts normalized by the shared helper — ns-long or µs depending on the
    // generator drop)
    val batchEvents = graft.Tables.events(spark, sfDir)
    val expected = Streams.windowedCounts(batchEvents.withWatermark("ts", "30 minutes"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.windowedCounts(src).writeStream.format("memory")
      .queryName("win_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT ws, event_type, n FROM win_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // append mode emits only windows closed by the watermark; with
    // AvailableNow over a finite file all windows except the tail flush
    assert(got.nonEmpty)
    assert(got.subsetOf(expected))
    assert(got.size >= expected.size - 10) // at most the tail windows held back
  }

  test("streaming hopping window + watermark matches the batch computation") {
    val batchEvents = graft.Tables.events(spark, sfDir)
    val expected = Streams.hoppingCounts(batchEvents.withWatermark("ts", "30 minutes"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet

    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.hoppingCounts(src).writeStream.format("memory")
      .queryName("hop_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT ws, event_type, n FROM hop_out")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(expected))
    // every event contributes to 2 overlapping windows; only the tail can
    // be held back by the watermark
    assert(got.size >= expected.size - 20)
  }

  test("streaming OHLC bars match the batch candlestick query") {
    // batch twin: the rank-based q83; streaming uses min_by/max_by over
    // the same (ts, event_id) total order — identical bars
    val expected = graft.SparkEntry.queries("q83_ohlc_bars")(spark, sfDir)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet

    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.ohlcBars(src).writeStream.format("memory")
      .queryName("ohlc_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT * FROM ohlc_out")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(expected), "streaming bar disagrees with batch")
    assert(got.size >= expected.size - 5) // watermark may hold the tail bar
  }

  test("dropDuplicatesWithinWatermark removes duplicate event ids") {
    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val doubled = src.union(src) // every event twice
    val q = Streams.dedupedEvents(doubled).writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val n = spark.sql("SELECT count(*) FROM dedup_out").first().getLong(0)
    val expected = graft.Tables.events(spark, sfDir).count()
    assert(n === expected)
  }

  test("session windows group events by gap per user") {
    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.sessionCounts(src).writeStream.format("memory")
      .queryName("sess_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val sessions = spark.sql("SELECT user_id, n FROM sess_out").collect()
    assert(sessions.nonEmpty)
    val total = sessions.map(_.getLong(1)).sum
    val expected = graft.Tables.events(spark, sfDir).count()
    assert(total <= expected) // tail sessions may be held by the watermark
    assert(total > expected / 2)
  }

  test("streaming funnel state machine equals the batch funnel across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .collect().sortWith((a, b) => a._2.compareTo(b._2) < 0)
    val (b1, b2) = ev.splitAt(ev.length / 2) // in-order delivery, two batches
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDS().toDF("user_id", "ts", "event_type")
    val q = Streams.funnelStates(src).toDF("user_id", "st")
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("update").start()
    ms.addData(b1.toSeq); q.processAllAvailable()
    ms.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    // update-mode memory sink appends each batch's rows; funnel state only
    // gains fields, so the most-complete row per user is the final state
    val got = spark.sql("SELECT user_id, st.tView, st.tClick, st.tPurchase FROM funnel_out")
      .collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)),
        Option(r.getTimestamp(2)), Option(r.getTimestamp(3))))
      .groupBy(_._1).map { case (_, rows) =>
        rows.maxBy(t => (t._4.isDefined, t._3.isDefined, t._2.isDefined))
      }
      .filter(_._2.isDefined).toSet
    val expected = graft.SparkEntry.queries("q47_event_funnel")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), Option(r.getTimestamp(1)),
        Option(r.getTimestamp(2)), Option(r.getTimestamp(3)))).toSet
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("streaming CEP state machine emits exactly the batch pattern matches across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .as[(Long, java.sql.Timestamp, String, Long)]
      .collect().sortBy(e => // in-order delivery at MICROSECOND precision
        ((e._2.getTime / 1000) * 1000000L + e._2.getNanos / 1000, e._4))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String, Long)]
    val src = ms.toDS().toDF("user_id", "ts", "event_type", "event_id")
    val q = Streams.cepMatches(src)
      .toDF("user_id", "signup_us", "purchase_us", "gap_sec")
      .writeStream.format("memory").queryName("cep_out")
      .outputMode("append").start()
    ms.addData(b1.toSeq); q.processAllAvailable()
    ms.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT user_id, signup_us, purchase_us, gap_sec FROM cep_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val expected = graft.SparkEntry.queries("q66_pattern_match")(spark, sfDir)
      .select(col("user_id"), expr("unix_micros(signup_ts)"),
        expr("unix_micros(purchase_ts)"), col("gap_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("streaming attribution credits exactly the batch channels across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Long, Double)]
      .collect().sortBy(e => // in-order delivery at MICROSECOND precision
        ((e._2.getTime / 1000) * 1000000L + e._2.getNanos / 1000, e._4))
    val (b1, b2) = ev.splitAt(ev.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String, Long, Double)]
    val src = ms.toDS().toDF("user_id", "ts", "event_type", "event_id", "value")
    val q = Streams.attributionMatches(src)
      .toDF("user_id", "event_id", "channel", "cents")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    ms.addData(b1.toSeq); q.processAllAvailable()
    ms.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    // integer cents sum exactly; /100.0 and the batch side's
    // DECIMAL(18,6)-sum→double cast both round the same exact rational
    val got = spark.sql(
      """SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(cents) AS DOUBLE) / 100.0 AS revenue
         FROM attr_out GROUP BY channel""")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = graft.SparkEntry.queries("q71_attribution")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("streaming multi-touch attribution matches the q92 model comparison across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, String, Long, Double)]
      .collect().sortBy(e => // in-order delivery at MICROSECOND precision
        ((e._2.getTime / 1000) * 1000000L + e._2.getNanos / 1000, e._4))
    // three cuts (not two): the 24h lookback state must survive MULTIPLE
    // batch boundaries, including a purchase whose window spans all three
    val (b1, rest) = ev.splitAt(ev.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String, Long, Double)]
    val src = ms.toDS().toDF("user_id", "ts", "event_type", "event_id", "value")
    val q = Streams.multiTouchCredits(src)
      .toDF("event_id", "model", "touch_type", "micro")
      .writeStream.format("memory").queryName("mt_out")
      .outputMode("append").start()
    ms.addData(b1.toSeq); q.processAllAvailable()
    ms.addData(b2.toSeq); q.processAllAvailable()
    ms.addData(b3.toSeq); q.processAllAvailable()
    q.stop()
    // identical arithmetic to the batch side: micro-cent credits summed as
    // DECIMAL(38,0), ONE double cast, one division, round 6
    val got = spark.sql(
      """SELECT model, touch_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           round(CAST(SUM(CAST(micro AS DECIMAL(38,0))) AS DOUBLE) / 100000000, 6) AS revenue
         FROM mt_out GROUP BY model, touch_type""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val expected = graft.SparkEntry.queries("q92_multitouch_attribution")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("pgWriteBack statement builder: quoting, NULLs, key deletes, all-key DO NOTHING") {
    val cols = Seq("id", "v", "n")
    val ks = Seq("id")
    assert(Streams.pgApplyStatement("I", "dst", cols, ks,
      Seq("1", "a", "10"), Seq("1")) ===
      """INSERT INTO "dst" ("id", "v", "n") VALUES ('1', 'a', '10') """ +
        """ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v", "n" = EXCLUDED."n"""")
    // literal escaping ('' doubling) and NULL rendering
    assert(Streams.pgApplyStatement("U", "dst", cols, ks,
      Seq("2", "o'quote", null), Seq("2")) ===
      """INSERT INTO "dst" ("id", "v", "n") VALUES ('2', 'o''quote', NULL) """ +
        """ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v", "n" = EXCLUDED."n"""")
    // delete by composite key
    assert(Streams.pgApplyStatement("D", "dst", cols, Seq("id", "v"),
      Nil, Seq("3", "x")) ===
      """DELETE FROM "dst" WHERE "id" = '3' AND "v" = 'x'""")
    // every column in the key → nothing to update on conflict
    assert(Streams.pgApplyStatement("I", "dst", Seq("id"), Seq("id"),
      Seq("4"), Seq("4")) ===
      """INSERT INTO "dst" ("id") VALUES ('4') ON CONFLICT ("id") DO NOTHING""")
    // identifier quoting survives embedded quotes
    assert(Streams.pgApplyStatement("D", """we"ird""", Seq("k"), Seq("k"),
      Nil, Seq("v")) === """DELETE FROM "we""ird" WHERE "k" = 'v'""")
    // schema-qualified targets quote per segment
    assert(Streams.pgApplyStatement("D", "analytics.dst", Seq("k"), Seq("k"),
      Nil, Seq("v")) === """DELETE FROM "analytics"."dst" WHERE "k" = 'v'""")
    // unchanged-TOAST columns ('u' markers — value NOT resent) are excluded
    // from the column list AND the update set: the sink row keeps its value
    assert(Streams.pgApplyStatement("U", "dst", cols, ks,
      Seq("5", null, "50"), Seq("5"), toasted = Set("v")) ===
      """INSERT INTO "dst" ("id", "n") VALUES ('5', '50') """ +
        """ON CONFLICT ("id") DO UPDATE SET "n" = EXCLUDED."n"""")
    // everything-but-key toasted → nothing to update
    assert(Streams.pgApplyStatement("U", "dst", cols, ks,
      Seq("6", null, null), Seq("6"), toasted = Set("v", "n")) ===
      """INSERT INTO "dst" ("id") VALUES ('6') ON CONFLICT ("id") DO NOTHING""")
    // a PK-CHANGING update upserts the NEW key's row, then retires the OLD
    // key's (r5-advice finding: the upsert alone would leave it behind) —
    // one message, one implicit transaction
    assert(Streams.pgPkChangeStatement("dst", cols, ks,
      vals = Seq("8", "b", "80"), oldKeys = Seq("7"), toasted = Set.empty) ===
      """INSERT INTO "dst" ("id", "v", "n") VALUES ('8', 'b', '80') """ +
        """ON CONFLICT ("id") DO UPDATE SET "v" = EXCLUDED."v", "n" = EXCLUDED."n"; """ +
        """DELETE FROM "dst" WHERE "id" = '7'""")
    // PK change with an unchanged-TOAST payload column: its value was NOT
    // resent and lives only in the old-key row, so it is COPIED across
    // before that row is deleted (composite key, one segment changed)
    assert(Streams.pgPkChangeStatement("dst", cols, Seq("id", "v"),
      vals = Seq("9", "y", null), oldKeys = Seq("7", "x"), toasted = Set("n")) ===
      """INSERT INTO "dst" ("id", "v") VALUES ('9', 'y') """ +
        """ON CONFLICT ("id", "v") DO NOTHING; """ +
        """UPDATE "dst" AS t SET "n" = src."n" FROM "dst" src """ +
        """WHERE t."id" = '9' AND t."v" = 'y' """ +
        """AND src."id" = '7' AND src."v" = 'x'; """ +
        """DELETE FROM "dst" WHERE "id" = '7' AND "v" = 'x'""")
  }

  test("barrier retry fires only on connection-class failures; deterministic " +
      "SQL errors propagate on the first attempt (r6-advice low)") {
    def sql(state: String) = new java.sql.SQLException("x", state)
    // fresh-connection-fixable: transport death, 08xxx, 57xxx
    assert(Streams.barrierRetryable(new java.io.IOException("broken pipe")))
    assert(Streams.barrierRetryable(sql("08006"))) // connection_failure
    assert(Streams.barrierRetryable(sql("57P05"))) // idle_session_timeout
    assert(Streams.barrierRetryable(sql("57P01"))) // admin_shutdown
    // deterministic: would fail identically on the retry → surface at once
    assert(!Streams.barrierRetryable(sql("42501"))) // insufficient_privilege
    assert(!Streams.barrierRetryable(sql("42601"))) // syntax_error
    assert(!Streams.barrierRetryable(sql("23505"))) // unique_violation
    assert(!Streams.barrierRetryable(sql(null)))    // unclassifiable
    assert(!Streams.barrierRetryable(new RuntimeException("boom")))
  }

  test("streaming survival states reproduce the q95 Kaplan-Meier curve across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evTable = graft.Tables.events(spark, sfDir)
    val ev = evTable
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .collect().sortBy(e => // in-order delivery at MICROSECOND precision
        (e._2.getTime / 1000) * 1000000L + e._2.getNanos / 1000)
    // three cuts: first-view/first-purchase state must survive batch
    // boundaries (a user whose view lands in batch 1 converts in batch 3)
    val (b1, rest) = ev.splitAt(ev.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp, String)]
    val src = ms.toDS().toDF("user_id", "ts", "event_type")
    val q = Streams.survivalStates(src)
      .toDF("user_id", "t_view_us", "t_p_us")
      .writeStream.format("memory").queryName("surv_out")
      .outputMode("update").start()
    ms.addData(b1.toSeq); q.processAllAvailable()
    ms.addData(b2.toSeq); q.processAllAvailable()
    ms.addData(b3.toSeq); q.processAllAvailable()
    q.stop()
    // last state per user = max per field (both fields are write-once)
    val cutUs = evTable.agg(org.apache.spark.sql.functions.min(unix_micros(col("ts"))))
      .first().getLong(0) + 7L * 24 * 3600 * 1000000L
    val users = spark.sql(
      "SELECT user_id, max(t_view_us) AS tv, max(t_p_us) AS tp FROM surv_out GROUP BY user_id")
      .filter(col("tv") >= 0 && col("tv") < cutUs)
      .withColumn("status",
        when(col("tp") >= 0 && col("tp") <= cutUs, 1L).otherwise(0L))
      .withColumn("d_us", when(col("status") === 1L, col("tp") - col("tv"))
        .otherwise(lit(cutUs) - col("tv")))
      .select(col("status"), expr("d_us div 3600000000").as("t"))
    val got = graft.queries.RelationalQueries.kmCurve(users)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val expected = graft.SparkEntry.queries("q95_kaplan_meier")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(expected.nonEmpty)
    assert(got === expected)
  }

  test("txn-atomic assembly emits one envelope per committed transaction") {
    val rel = Relation(7, "public", "acct", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("txn")
    val p = dir.resolve("log.bin").toString
    // txn 1: two inserts; txn 2: one insert
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(13, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(7, TupleData(Vector(t("1")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(7, TupleData(Vector(t("2")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Commit(0, 13, 13, 1000))),
      FrameLog.Entry(20, PgOutputEncoder.encode(Begin(22, 2000, 2))),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(7, TupleData(Vector(t("3")))))),
      FrameLog.Entry(22, PgOutputEncoder.encode(Commit(0, 22, 22, 2000)))))
    val env = Streams.envelopeStream(spark, p, txnMarkers = true)
    val q = Streams.assembleTransactions(env).toDF()
      .writeStream.format("memory").queryName("txn_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.sql("SELECT txId, nEvents, commitLsn FROM txn_out ORDER BY txId")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq === Seq((1, 2L, 13L), (2, 1L, 22L)))
  }

  test("stream-stream interval join matches the batch computation") {
    val batchEvents = graft.Tables.events(spark, sfDir)
    val expected = Streams.errorsWithRecentClicks(batchEvents).count()
    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.errorsWithRecentClicks(src).writeStream.format("memory")
      .queryName("ssj_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT count(*) FROM ssj_out").first().getLong(0)
    assert(expected > 0)
    assert(got === expected) // single-batch AvailableNow: no rows past watermark
  }

  test("stream-stream LEFT OUTER interval join: matches emitted eagerly, null rows only after watermark") {
    val batchEvents = graft.Tables.events(spark, sfDir)
    val batchOuter = Streams.errorsWithRecentClicksOuter(batchEvents)
    val expectMatched = batchOuter.filter(col("c_user").isNotNull).count()
    val matchlessErrors = batchOuter.filter(col("c_user").isNull)
      .select(col("e_id")).collect().map(_.getLong(0)).toSet
    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.errorsWithRecentClicksOuter(src).writeStream.format("memory")
      .queryName("ssoj_out").outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // matched rows: exactly the batch inner-join result
    val gotMatched = spark.sql(
      "SELECT count(*) FROM ssoj_out WHERE c_user IS NOT NULL").first().getLong(0)
    assert(expectMatched > 0)
    assert(gotMatched === expectMatched)
    // null rows: emitted ONLY for truly matchless errors (never a false
    // null), and only those whose window the final watermark closed — so
    // emitted ⊆ batch-matchless, not equality
    val gotNull = spark.sql("SELECT e_id FROM ssoj_out WHERE c_user IS NULL")
      .collect().map(_.getLong(0)).toSet
    assert(matchlessErrors.nonEmpty)
    assert(gotNull.subsetOf(matchlessErrors))
  }

  test("stream-static dim enrichment matches the batch join") {
    val dim = graft.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val batchEvents = graft.Tables.events(spark, sfDir)
    val expected = Streams.enrichedEvents(batchEvents, dim, "user_id", "c_custkey")
      .filter(col("c_mktsegment").isNotNull).count()
    val src = spark.readStream.schema(graft.Tables.eventsRaw(spark, sfDir).schema)
      .parquet(eventsDir)
      .transform(graft.Tables.normalizeEventTs)
    val q = Streams.enrichedEvents(src, dim, "user_id", "c_custkey")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.sql("SELECT count(*) FROM enrich_out WHERE c_mktsegment IS NOT NULL")
      .first().getLong(0)
    assert(expected > 0)
    assert(got === expected)
  }

  test("mergeBatch is idempotent under batch replay (at-least-once sink contract)") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("idem")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(14, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("b")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("x")))))),
      FrameLog.Entry(14, PgOutputEncoder.encode(Commit(0, 14, 14, 1000)))))
    val batch = spark.read.format("pgcdc").option("path", p).load()
    val stateDir = dir.resolve("state").toString
    Streams.mergeBatch(batch, rel, Seq("id"), stateDir)
    val once = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    // replay the SAME batch (crash between sink write and checkpoint commit)
    Streams.mergeBatch(batch, rel, Seq("id"), stateDir)
    val twice = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(once === Seq((1L, "b"), (2L, "x")))
    assert(twice === once)
  }

  test("mergeBatch ignores foreign relations interleaved in the envelope batch") {
    val relA = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    // foreign table with a DIFFERENT key column: without the relation filter
    // its events would form null-key groups and bogus rows in relA's state
    val relB = Relation(8, "public", "other", 'd', Vector(
      RelationColumn(partOfKey = true, "oid", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("multirel")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(relA)),
      FrameLog.Entry(1, PgOutputEncoder.encode(relB)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(15, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(8, TupleData(Vector(t("99")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Insert(8, TupleData(Vector(t("98")))))),
      FrameLog.Entry(14, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("b")))))),
      FrameLog.Entry(15, PgOutputEncoder.encode(Commit(0, 15, 15, 1000)))))
    val batch = spark.read.format("pgcdc").option("path", p).load()
    val stateDir = dir.resolve("state").toString
    Streams.mergeBatch(batch, relA, Seq("id"), stateDir)
    val got = Streams.materializedState(spark, relA, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "b")))
  }

  test("routeByRelation fans one multi-table stream into per-relation materialized states (R1)") {
    val relA = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val relB = Relation(8, "public", "other", 'd', Vector(
      RelationColumn(partOfKey = true, "oid", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("route")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(relA)),
      FrameLog.Entry(1, PgOutputEncoder.encode(relB)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(14, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(8, TupleData(Vector(t("99")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("b")))))),
      FrameLog.Entry(14, PgOutputEncoder.encode(Commit(0, 14, 14, 1000)))))
    val env = Streams.envelopeStream(spark, p)
    val qs = Streams.routeByRelation(env, Seq(relA, relB),
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    val a = Streams.materializedState(spark, relA, s"${dir.resolve("state")}/public.m")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val b = Streams.materializedState(spark, relB, s"${dir.resolve("state")}/public.other")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a === Seq((1L, "a"), (2L, "b")))
    assert(b === Seq(99L))
  }

  test("routeScd2ByRelation fans one multi-table stream into per-relation histories") {
    val relA = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val relB = Relation(8, "public", "other", 'd', Vector(
      RelationColumn(partOfKey = true, "oid", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("routescd2")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(relA)),
      FrameLog.Entry(1, PgOutputEncoder.encode(relB)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(8, TupleData(Vector(t("99")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("b"))))))))
    val env = Streams.envelopeStream(spark, p)
    val qs = Streams.routeScd2ByRelation(env, Seq(relA, relB),
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    def hist(sd: String): Seq[(String, Long, Boolean)] =
      Streams.scd2State(spark, sd).collect().map { r =>
        (r.getMap[String, String](r.fieldIndex("__key")).values.head,
          r.getLong(r.fieldIndex("valid_from_lsn")),
          r.getBoolean(r.fieldIndex("is_current")))
      }.sortBy(x => (x._1, x._2)).toSeq
    // table m: key 1 has a closed v1 and a current v2; table other: one
    // current version — neither history contains the other's events
    assert(hist(s"${dir.resolve("state")}/public.m") ===
      Seq(("1", 11L, false), ("1", 13L, true)))
    assert(hist(s"${dir.resolve("state")}/public.other") === Seq(("99", 12L, true)))
  }

  test("truncate through mergeBatch wipes prior state; later inserts survive") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("truncmerge")
    val stateDir = dir.resolve("state").toString
    // batch 1: two inserts → state {1, 2}
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(13, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("b")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Commit(0, 13, 13, 1000)))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeBatch(b1, rel, Seq("id"), stateDir)
    // batch 2: truncate, then one insert → only the post-truncate row remains.
    // Prior state re-enters the merge as low-water events (lsn < truncate's),
    // so the high-water filter must clear it.
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(20, PgOutputEncoder.encode(Begin(23, 2000, 2))),
      FrameLog.Entry(21, PgOutputEncoder.encode(Truncate(0, Vector(6)))),
      FrameLog.Entry(22, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("3"), t("c")))))),
      FrameLog.Entry(23, PgOutputEncoder.encode(Commit(0, 23, 23, 2000)))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeBatch(b2, rel, Seq("id"), stateDir)
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((3L, "c")))
  }

  test("mergeBatch upserts and deletes through a key column named it's") {
    val rel = Relation(6, "public", "q", 'd', Vector(
      RelationColumn(partOfKey = true, "it's", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("quotedkey")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(13, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("b")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Commit(0, 13, 13, 1000)))))
    Streams.mergeBatch(spark.read.format("pgcdc").option("path", p1).load(),
      rel, rel.keyColumnNames, stateDir)
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(20, PgOutputEncoder.encode(Begin(23, 2000, 2))),
      FrameLog.Entry(21, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("c")))))),
      FrameLog.Entry(22, PgOutputEncoder.encode(Delete(6, 'K', TupleData(Vector(t("2")))))),
      FrameLog.Entry(23, PgOutputEncoder.encode(Commit(0, 23, 23, 2000)))))
    Streams.mergeBatch(spark.read.format("pgcdc").option("path", p2).load(),
      rel, rel.keyColumnNames, stateDir)
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((1L, "c")))
  }

  test("mergeBatch over existing state runs at most 2 Spark jobs") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("mergejobs")
    val stateDir = dir.resolve("state").toString
    def batch(name: String, frames: (Long, PgOutputMessage)*) = {
      val p = dir.resolve(name).toString
      FrameLog.write(p, (Iterator(0L -> (rel: PgOutputMessage)) ++ frames.iterator)
        .map { case (lsn, m) => FrameLog.Entry(lsn, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", p).load()
    }
    Streams.mergeBatch(batch("log1.bin", 10L -> Begin(13, 1000, 1),
      11L -> Insert(6, TupleData(Vector(t("1"), t("a")))),
      12L -> Insert(6, TupleData(Vector(t("2"), t("b")))),
      13L -> Commit(0, 13, 13, 1000)), rel, Seq("id"), stateDir)
    // an update, a delete and a truncate: every path of the merge
    val b2 = batch("log2.bin", 20L -> Begin(25, 2000, 2),
      21L -> Update(6, None, None, TupleData(Vector(t("1"), t("c")))),
      22L -> Delete(6, 'K', TupleData(Vector(t("2")))),
      23L -> Truncate(0, Vector(6)),
      24L -> Insert(6, TupleData(Vector(t("3"), t("d")))),
      25L -> Commit(0, 25, 25, 2000))
    val sc = spark.sparkContext
    val group = s"merge-jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one mergeBatch")
      try Streams.mergeBatch(b2, rel, Seq("id"), stateDir)
      finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later job's start has
      // arrived, every merge job has been counted
      sc.setJobGroup(s"$group-end", "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains(s"$group-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(jobs.contains(s"$group-end"))
    } finally sc.removeSparkListener(listener)
    val mergeJobs = jobs.toArray.count(_ == group)
    assert(mergeJobs >= 1 && mergeJobs <= 2, s"mergeBatch ran $mergeJobs jobs")
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((3L, "d")))
  }

  /** Runs `body` and counts the Spark jobs it started whose local
    * properties satisfy `mine`. A barrier job run after `body` orders the
    * listener bus: once its start has arrived, every earlier job is counted. */
  private def countJobs(mine: java.util.Properties => Boolean)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val barrier = s"jobs-barrier-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger()
    @volatile var barrierSeen = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == barrier) barrierSeen = true
          else if (mine(p)) counted.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(barrier, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!barrierSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(barrierSeen)
    } finally sc.removeSparkListener(listener)
    counted.get
  }

  test("one cdcUpsertSink micro-batch over existing state runs exactly 1 Spark job") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("sinkjobs")
    val stateDir = dir.resolve("state").toString
    def log(name: String, frames: (Long, PgOutputMessage)*): String = {
      val p = dir.resolve(name).toString
      FrameLog.write(p, (Iterator(0L -> (rel: PgOutputMessage)) ++ frames.iterator)
        .map { case (lsn, m) => FrameLog.Entry(lsn, PgOutputEncoder.encode(m)) })
      p
    }
    Streams.mergeBatch(spark.read.format("pgcdc").option("path", log("log1.bin",
      10L -> Begin(13, 1000, 1),
      11L -> Insert(6, TupleData(Vector(t("1"), t("a")))),
      12L -> Insert(6, TupleData(Vector(t("2"), t("b")))),
      13L -> Commit(0, 13, 13, 1000))).load(), rel, Seq("id"), stateDir)
    // one micro-batch: an update, a delete, a truncate and an insert
    val p2 = log("log2.bin", 20L -> Begin(25, 2000, 2),
      21L -> Update(6, None, None, TupleData(Vector(t("1"), t("c")))),
      22L -> Delete(6, 'K', TupleData(Vector(t("2")))),
      23L -> Truncate(0, Vector(6)),
      24L -> Insert(6, TupleData(Vector(t("3"), t("d")))),
      25L -> Commit(0, 25, 25, 2000))
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    var queryId = ""
    val batchJobs = countJobs(p => p.getProperty("sql.streaming.queryId") == queryId &&
        p.getProperty("streaming.sql.batchId") == "0") {
      val q = Streams.cdcUpsertSink(spark.readStream.format("pgcdc").option("path", p2).load(),
        rel, stateDir, dir.resolve("ckpt").toString)
      queryId = q.id.toString
      try q.processAllAvailable() finally q.stop()
    }
    assert(batchJobs === 1, s"the micro-batch ran $batchJobs jobs")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe,
      "the sink must not change the caller's session")
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((3L, "d")))
  }

  test("mergeLwwBatch over existing state runs 2 Spark jobs (no schema inference)") {
    import spark.implicits._
    val rel = Relation(9, "public", "lw", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val stateDir = Files.createTempDirectory("lwwjobs").resolve("state").toString
    def ev(op: String, lsn: Long, ts: Long, origin: String, id: String, v: String) =
      ChangeEvent(op, s"$lsn-1", lsn, 1, 1, lsn, ts, "public", "lw", 9, Map("id" -> id),
        null, if (op == "D") null else Map("id" -> id, "v" -> v), Nil, Nil, origin)
    def env(events: ChangeEvent*) = Envelope.frame(spark.createDataset(events))
    Streams.mergeLwwBatch(env(ev("I", 10, 100, null, "1", "a"),
      ev("I", 11, 200, "site_b", "2", "b")), rel, Seq("id"), stateDir)
    val b2 = env(ev("D", 1000, 300, "site_b", "2", null), ev("I", 12, 50, null, "1", "stale"),
      ev("I", 13, 400, null, "3", "c"))
    val group = s"lww-jobs-${System.nanoTime()}"
    val jobs = countJobs(_.getProperty("spark.jobGroup.id") == group) {
      spark.sparkContext.setJobGroup(group, "one mergeLwwBatch")
      try Streams.mergeLwwBatch(b2, rel, Seq("id"), stateDir)
      finally spark.sparkContext.clearJobGroup()
    }
    // the window's shuffle-map job and the write: the state is read with
    // its fixed schema, so no job infers it from parquet footers
    assert(jobs === 2, s"mergeLwwBatch ran $jobs jobs")
    val got = Streams.lwwState(spark, rel, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(got === Seq(("1", "a"), ("3", "c")))
  }

  test("jsonEnvelope renders one parseable JSON document per event (K1 default sink)") {
    val rel = Relation(5, "public", "j", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("json")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(12, 1000, 3))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(5, TupleData(Vector(t("7")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Commit(0, 12, 12, 1000)))))
    val env = spark.read.format("pgcdc").option("path", p).load()
    val json = Streams.jsonEnvelope(env).collect().map(_.getString(0))
    assert(json.length === 1)
    val parsed = spark.read.json(spark.createDataset(json.toSeq)(org.apache.spark.sql.Encoders.STRING))
    val row = parsed.head()
    assert(row.getAs[String]("op") === "I")
    assert(row.getAs[String]("table") === "j")
    assert(row.getAs[Long]("tx_id") === 3L)
  }

  test("streaming CDC upsert sink materializes the same state as the batch pipeline") {
    val dir = Files.createTempDirectory("cdcstream")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val ckpt = dir.resolve("ckpt").toString
    // reuse the batch generator's frames: upserts + deletes over orders
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true)))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(20000))
    val q = Streams.cdcUpsertSink(env, graft.cdc.CdcPipeline.ordersRelation, stateDir, ckpt)
    q.processAllAvailable(); q.stop()

    val got = Streams.materializedState(spark, graft.cdc.CdcPipeline.ordersRelation, stateDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = graft.cdc.CdcPipeline.materializedOrders(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true))
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("LWW sink across micro-batches equals the batch multi-origin merge") {
    val dir = Files.createTempDirectory("cdclww")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val rel = graft.cdc.CdcPipeline.ordersRelation
    // both sites' WAL interleaved in one replay log; small trigger cap so
    // site B's conflicting updates land in LATER micro-batches and must
    // resolve against persisted winners (ts compare, not lsn)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFramesBiDir(spark, sfDir))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(1500))
    val q = Streams.lwwUpsertSink(env, rel, stateDir, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.lwwState(spark, rel, stateDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFramesBiDir(spark, sfDir))
    val expected = graft.cdc.Cdc.lwwCompact(events, Seq("o_orderkey"))
      .select(element_at(col("after"), "o_orderkey").cast("long").as("k"),
        element_at(col("after"), "o_totalprice").cast("double").as("p"))
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("temporal lookup over scd2 sink state equals the batch temporal join") {
    val dir = Files.createTempDirectory("cdctemporal")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val rel = graft.cdc.CdcPipeline.ordersRelation
    writeLog(p, graft.cdc.CdcPipeline.jointOrdersFrames(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true)))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(5000))
    val q = Streams.scd2Sink(env, rel, stateDir, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val facts = graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("probe_lsn",
        col("l_orderkey") * 16 + (col("l_linenumber") % 3) * 8 + lit(4))
    val got = Streams.temporalLookup(facts, rel, stateDir,
        col("l_orderkey"), col("probe_lsn"))
      .select(col("l_orderkey"), col("l_linenumber"), col("probe_lsn"),
        element_at(col("__after"), "o_totalprice").cast("double").as("price_at_probe"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).sortBy(t => (t._1, t._2, t._3))
    val expected = graft.SparkEntry.queries("cdc_temporal_join")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).sortBy(t => (t._1, t._2, t._3))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("bucketed LWW sink equals the batch multi-origin merge; only touched buckets rewrite") {
    val dir = Files.createTempDirectory("cdclwwb")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val rel = graft.cdc.CdcPipeline.ordersRelation
    writeLog(p, graft.cdc.CdcPipeline.ordersToFramesBiDir(spark, sfDir))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(1500))
    val q = Streams.lwwUpsertSinkBucketed(env, rel, stateDir,
      dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val got = Streams.lwwState(spark, rel, stateDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFramesBiDir(spark, sfDir))
    val expected = graft.cdc.Cdc.lwwCompact(events, Seq("o_orderkey"))
      .select(element_at(col("after"), "o_orderkey").cast("long").as("k"),
        element_at(col("after"), "o_totalprice").cast("double").as("p"))
      .orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
    // a follow-up single-bucket batch must leave the other buckets' state
    // directories untouched in the manifest
    val before = StateStore.load(stateDir)
    val oneKey = expected.head._1
    val extra = graft.cdc.CdcPipeline.decodeFrames(
        graft.cdc.CdcPipeline.ordersToFramesBiDir(spark, sfDir))
      .filter(col("op") === "I" &&
        element_at(col("key"), "o_orderkey") === oneKey.toString)
    Streams.mergeLwwBatchBucketed(extra, rel, Seq("o_orderkey"), stateDir, 8)
    val after = StateStore.load(stateDir)
    val changed = (0 until 8).count(b => before.get(s"b$b") != after.get(s"b$b"))
    assert(changed === 1, s"expected exactly one bucket rewrite, got $changed")
  }

  test("seeded state + tail stream equals the backfill-then-tail batch union (S2 end-to-end)") {
    val dir = Files.createTempDirectory("cdcseed")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val rel = graft.cdc.CdcPipeline.ordersRelation
    val orders = graft.Tables.orders(spark, sfDir)
    val mid = orders.agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("o_orderkey"))).head().getLong(0) / 2
    // initial sync: snapshot-pinned read ≤ mid becomes the sink's state
    Streams.seedState(
      orders.filter(org.apache.spark.sql.functions.col("o_orderkey") <= mid)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"),
      rel, stateDir, snapshotLsn = 0L)
    // tail: inserts beyond mid + post-pin updates stream into the SAME sink
    writeLog(p, graft.cdc.CdcPipeline.ordersToFramesTail(spark, sfDir, mid))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(10000))
    val q = Streams.cdcUpsertSink(env, rel, stateDir, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.materializedState(spark, rel, stateDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // expected: the whole table with the post-pin update pattern applied —
    // no lost snapshot row, no duplicated updated key (cdc_backfill_union's
    // oracle, evaluated directly)
    val expected = orders
      .select(org.apache.spark.sql.functions.col("o_orderkey"),
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("o_orderkey") % 10 === 0,
          org.apache.spark.sql.functions.col("o_totalprice") + 1.0)
          .otherwise(org.apache.spark.sql.functions.col("o_totalprice"))
          .as("o_totalprice"))
      .orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("bucketed CDC sink materializes the same state as the batch pipeline") {
    val dir = Files.createTempDirectory("cdcbucketed")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true)))
    // several micro-batches so the incremental path (state read-back) runs
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(5000))
    val q = Streams.cdcUpsertSinkBucketed(env, graft.cdc.CdcPipeline.ordersRelation,
      stateDir, dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val got = Streams.materializedState(spark, graft.cdc.CdcPipeline.ordersRelation, stateDir)
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val expected = graft.cdc.CdcPipeline.materializedOrders(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true))
      .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.length === expected.length)
    assert(got.toSeq === expected.toSeq)
  }

  test("bucketed merge rewrites only the buckets the batch touches") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("bucketincr")
    val stateDir = dir.resolve("state").toString
    val n = 8
    // batch 1: 32 keys spread across (almost surely) all 8 buckets
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++
      (1 to 32).iterator.map(i =>
        FrameLog.Entry(10 + i, PgOutputEncoder.encode(
          Insert(6, TupleData(Vector(t(i.toString), t(s"v$i"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeBatchBucketed(b1, rel, Seq("id"), stateDir, n)
    // manifest maps bucket → version dir; an untouched bucket must keep the
    // SAME committed version directory (not merely equal contents)
    def bucketVersions(): Map[String, String] =
      StateStore.load(stateDir).filter(_._1.startsWith("b"))
    val before = bucketVersions()
    assert(before.size > 1, "keys should spread over several buckets")
    // batch 2: update a single key → exactly one bucket version may change
    val touchedBucket = spark.range(1)
      .select(pmod(xxhash64(lit("1")), lit(n))).first().getLong(0)
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(100, PgOutputEncoder.encode(
        Update(6, None, None, TupleData(Vector(t("1"), t("patched"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeBatchBucketed(b2, rel, Seq("id"), stateDir, n)
    val after = bucketVersions()
    before.keySet.filterNot(_ == s"b$touchedBucket").foreach { b =>
      assert(after(b) === before(b), s"untouched bucket $b was rewritten")
    }
    assert(after(s"b$touchedBucket") !== before(s"b$touchedBucket"),
      "touched bucket should have a fresh version")
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) === "patched")
    assert(got.size === 32)
    assert(got(32L) === "v32")
  }

  test("re-bucketing migrates the layout atomically; later merges adopt the persisted modulus") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("rebucket")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++
      (1 to 32).iterator.map(i =>
        FrameLog.Entry(10 + i, PgOutputEncoder.encode(
          Insert(6, TupleData(Vector(t(i.toString), t(s"v$i"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeBatchBucketed(b1, rel, Seq("id"), stateDir, nBuckets = 8)
    def materialized(): Map[Long, String] =
      Streams.materializedState(spark, rel, stateDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val before = materialized()
    assert(before.size === 32)
    // migrate 8 → 16: same rows, new layout, nbuckets flips with the data
    Streams.rebucketState(spark, rel, stateDir, newBuckets = 16)
    assert(materialized() === before)
    assert(StateStore.load(stateDir)("nbuckets") === "16")
    // a later merge passing a STALE parameter (8) must adopt the persisted
    // 16 — probing with the wrong modulus would miss key 1's bucket and
    // resurrect the old value
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(100, PgOutputEncoder.encode(
        Update(6, None, None, TupleData(Vector(t("1"), t("patched"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeBatchBucketed(b2, rel, Seq("id"), stateDir, nBuckets = 8)
    val after = materialized()
    assert(after(1L) === "patched")
    assert(after.size === 32)
    assert(StateStore.load(stateDir)("nbuckets") === "16")
    // crash injected mid-migration: the 16-bucket layout stays fully live
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.rebucketState(spark, rel, stateDir, newBuckets = 4)
    } finally StateStore.failBeforeCommit = false
    assert(materialized() === after)
    assert(StateStore.load(stateDir)("nbuckets") === "16")
  }

  test("snapshot retention enables time-travel reads; GC spares retained versions") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("timetravel")
    val stateDir = dir.resolve("state").toString
    def log(path: String, entries: (Long, PgOutputMessage)*): org.apache.spark.sql.DataFrame = {
      FrameLog.write(path, entries.iterator.map { case (lsn, m) =>
        FrameLog.Entry(lsn, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", path).load()
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b1 = log(dir.resolve("l1.bin").toString, 0L -> rel,
      11L -> Insert(6, TupleData(Vector(t("1"), t("a")))),
      12L -> Insert(6, TupleData(Vector(t("2"), t("b")))))
    val b2 = log(dir.resolve("l2.bin").toString, 0L -> rel,
      21L -> Update(6, None, None, TupleData(Vector(t("1"), t("patched")))),
      22L -> Insert(6, TupleData(Vector(t("3"), t("c")))))
    val b3 = log(dir.resolve("l3.bin").toString, 0L -> rel,
      31L -> Delete(6, 'K', TupleData(Vector(t("2")))))
    Streams.mergeBatch(b1, rel, Seq("id"), stateDir, retain = 3)
    Streams.mergeBatch(b2, rel, Seq("id"), stateDir, retain = 3)
    Streams.mergeBatch(b3, rel, Seq("id"), stateDir, retain = 3)
    val snaps = StateStore.snapshots(stateDir)
    assert(snaps === Seq(1L, 2L, 3L))
    // every retained version reads back exactly as it was committed
    assert(rows(Streams.materializedStateAt(spark, rel, stateDir, 1L))
      === Set((1L, "a"), (2L, "b")))
    assert(rows(Streams.materializedStateAt(spark, rel, stateDir, 2L))
      === Set((1L, "patched"), (2L, "b"), (3L, "c")))
    assert(rows(Streams.materializedStateAt(spark, rel, stateDir, 3L))
      === Set((1L, "patched"), (3L, "c")))
    // the current read is snapshot 3
    assert(rows(Streams.materializedState(spark, rel, stateDir))
      === Set((1L, "patched"), (3L, "c")))
    // three retained snapshots pin three version dirs
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v-")) === 3)
    // version-to-version change extraction re-derives the feed: between
    // snapshot 1 and 3 key 1 changed, key 2 vanished, key 3 appeared
    val diff = Streams.stateDiff(spark, rel, stateDir, 1L, 3L)
      .collect().map(r => (r.getString(0), r.getLong(1),
        Option(r.getStruct(2)).map(_.getString(0)))).toSet
    assert(diff === Set(("U", 1L, Some("patched")), ("D", 2L, Some("b")),
      ("I", 3L, Some("c"))))
    // identical versions diff to nothing
    assert(Streams.stateDiff(spark, rel, stateDir, 3L, 3L).isEmpty)
    // dropping retention to 1 prunes history and sweeps the pinned dirs
    val b4 = log(dir.resolve("l4.bin").toString, 0L -> rel,
      41L -> Insert(6, TupleData(Vector(t("4"), t("d")))))
    Streams.mergeBatch(b4, rel, Seq("id"), stateDir, retain = 1)
    assert(StateStore.snapshots(stateDir) === Seq(4L))
    assert(new java.io.File(stateDir).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("v-")) === 1)
    assert(rows(Streams.materializedState(spark, rel, stateDir))
      === Set((1L, "patched"), (3L, "c"), (4L, "d")))
  }

  test("a crash between state write and manifest flip loses nothing (atomic swap)") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("crashswap")
    val stateDir = dir.resolve("state").toString
    def log(path: String, entries: (Long, PgOutputMessage)*): org.apache.spark.sql.DataFrame = {
      FrameLog.write(path, entries.iterator.map { case (lsn, m) =>
        FrameLog.Entry(lsn, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", path).load()
    }
    val b1 = log(dir.resolve("log1.bin").toString,
      0L -> rel,
      11L -> Insert(6, TupleData(Vector(t("1"), t("a")))),
      12L -> Insert(6, TupleData(Vector(t("2"), t("b")))))
    Streams.mergeBatch(b1, rel, Seq("id"), stateDir)
    def state(): Seq[(Long, String)] =
      Streams.materializedState(spark, rel, stateDir)
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(state() === Seq((1L, "a"), (2L, "b")))
    // batch 2 crashes AFTER its new version dir is fully written but BEFORE
    // the manifest flip — the previous state must remain the visible one
    val b2 = log(dir.resolve("log2.bin").toString,
      0L -> rel,
      21L -> Update(6, None, None, TupleData(Vector(t("1"), t("patched")))),
      22L -> Insert(6, TupleData(Vector(t("3"), t("c")))))
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeBatch(b2, rel, Seq("id"), stateDir)
    } finally StateStore.failBeforeCommit = false
    assert(state() === Seq((1L, "a"), (2L, "b")), "crashed swap must not publish")
    // recovery: the replayed batch merges normally and the commit sweeps the
    // crash orphan — exactly one live version dir remains
    Streams.mergeBatch(b2, rel, Seq("id"), stateDir)
    assert(state() === Seq((1L, "patched"), (2L, "b"), (3L, "c")))
    val versions = new java.io.File(stateDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v-"))
    assert(versions.length === 1, versions.mkString(", "))
  }

  test("LWW merge crash publishes nothing; tombstones outlive the crash and block stale writes") {
    import spark.implicits._
    val rel = Relation(9, "public", "lw", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val dir = Files.createTempDirectory("lwwcrash")
    val stateDir = dir.resolve("state").toString
    var seq = 0L
    def ev(op: String, lsn: Long, ts: Long, origin: String, id: String,
        v: String): ChangeEvent = {
      seq += 1
      val after = if (op == "D") null else Map("id" -> id, "v" -> v)
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, ts, "public", "lw", 9,
        Map("id" -> id), null, after, Nil, Nil, origin)
    }
    def env(events: ChangeEvent*): org.apache.spark.sql.DataFrame =
      Envelope.frame(spark.createDataset(events))
    def state(): Seq[(String, String)] =
      Streams.lwwState(spark, rel, stateDir)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq

    Streams.mergeLwwBatch(env(
      ev("I", 10, 100, null, "1", "a"),
      ev("I", 11, 200, "site_b", "2", "b")), rel, Seq("id"), stateDir)
    assert(state() === Seq(("1", "a"), ("2", "b")))
    // crash after the new version is written, before the manifest flip
    val b2 = env(
      ev("D", 1000, 300, "site_b", "2", null),
      ev("I", 12, 50, null, "1", "stale"))
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeLwwBatch(b2, rel, Seq("id"), stateDir)
    } finally StateStore.failBeforeCommit = false
    assert(state() === Seq(("1", "a"), ("2", "b")), "crashed swap must not publish")
    // replay resolves identically: stale write loses, delete tombstones 2
    Streams.mergeLwwBatch(b2, rel, Seq("id"), stateDir)
    assert(state() === Seq(("1", "a")))
    // a pre-delete-clock write cannot resurrect the key; a newer one can
    Streams.mergeLwwBatch(env(ev("I", 13, 250, null, "2", "res")),
      rel, Seq("id"), stateDir)
    assert(state() === Seq(("1", "a")), "tombstone must block the older write")
    Streams.mergeLwwBatch(env(ev("I", 14, 400, null, "2", "new")),
      rel, Seq("id"), stateDir)
    assert(state() === Seq(("1", "a"), ("2", "new")))
  }

  test("LWW AS-OF reads: retained snapshots replay the merged view batch by " +
      "batch, tombstoned keys stay dead in their snapshots") {
    import spark.implicits._
    val rel = Relation(19, "public", "lwt", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val dir = Files.createTempDirectory("lwwasof")
    val stateDir = dir.resolve("state").toString
    var seq = 0L
    def ev(op: String, lsn: Long, ts: Long, origin: String, id: String,
        v: String): ChangeEvent = {
      seq += 1
      val after = if (op == "D") null else Map("id" -> id, "v" -> v)
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, ts, "public", "lwt", 19,
        Map("id" -> id), null, after, Nil, Nil, origin)
    }
    def env(events: ChangeEvent*): org.apache.spark.sql.DataFrame =
      Envelope.frame(spark.createDataset(events))
    def rowsAt(s: Long): Seq[(String, String)] =
      Streams.lwwStateAt(spark, rel, stateDir, s)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq

    // batch 1: two sites insert; batch 2: remote-newer update wins on key 1;
    // batch 3: delete tombstones key 2
    Streams.mergeLwwBatch(env(
      ev("I", 10, 100, null, "1", "a"),
      ev("I", 11, 100, "site_b", "2", "b")), rel, Seq("id"), stateDir, 3)
    Streams.mergeLwwBatch(env(
      ev("U", 12, 300, "site_b", "1", "a2")), rel, Seq("id"), stateDir, 3)
    Streams.mergeLwwBatch(env(
      ev("D", 13, 400, null, "2", null)), rel, Seq("id"), stateDir, 3)

    assert(StateStore.snapshots(stateDir) === Seq(1L, 2L, 3L))
    assert(rowsAt(1L) === Seq(("1", "a"), ("2", "b")))
    assert(rowsAt(2L) === Seq(("1", "a2"), ("2", "b")))
    assert(rowsAt(3L) === Seq(("1", "a2")), "tombstone must hide key 2 in its snapshot")
    // the AS-OF read of the latest snapshot ≡ the live read
    assert(rowsAt(3L) === Streams.lwwState(spark, rel, stateDir)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq)

    // bucketed layout: same AS-OF surface over per-bucket version entries
    val bDir = dir.resolve("state-bucketed").toString
    Streams.mergeLwwBatchBucketed(env(
      ev("I", 20, 100, null, "1", "x"),
      ev("I", 21, 100, null, "2", "y")), rel, Seq("id"), bDir, 8, 2)
    Streams.mergeLwwBatchBucketed(env(
      ev("D", 22, 200, "site_b", "1", null)), rel, Seq("id"), bDir, 8, 2)
    def bRowsAt(s: Long): Seq[(String, String)] =
      Streams.lwwStateAt(spark, rel, bDir, s)
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(bRowsAt(1L) === Seq(("1", "x"), ("2", "y")))
    assert(bRowsAt(2L) === Seq(("2", "y")))
  }

  test("join view crash between bucket promote and manifest flip publishes nothing") {
    val relA = Relation(7, "public", "ja", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    val relB = Relation(8, "public", "jb", 'd', Vector(
      RelationColumn(partOfKey = true, "bid", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = true, "aid", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "w", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("jvcrash")
    val stateDir = dir.resolve("state").toString
    def log(path: String, entries: (Long, PgOutputMessage)*): org.apache.spark.sql.DataFrame = {
      FrameLog.write(path, entries.iterator.map { case (lsn, m) =>
        FrameLog.Entry(lsn, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", path).load()
    }
    def view(): Seq[(Long, Long, String, String)] =
      Streams.joinViewState(spark, stateDir).collect().map { r =>
        val b = r.getMap[String, String](r.fieldIndex("b_after"))
        val a = r.getMap[String, String](r.fieldIndex("a_after"))
        (b("bid").toLong, b("aid").toLong, b("w"), a("v"))
      }.sorted.toSeq
    val b1 = log(dir.resolve("log1.bin").toString,
      0L -> relA, 1L -> relB,
      11L -> Insert(7, TupleData(Vector(t("1"), t("x")))),
      12L -> Insert(8, TupleData(Vector(t("10"), t("1"), t("p")))),
      13L -> Insert(8, TupleData(Vector(t("11"), t("1"), t("q")))))
    Streams.mergeJoinViewBatch(b1, relA, relB, "id", "aid", stateDir, 4)
    assert(view() === Seq((10L, 1L, "p", "x"), (11L, 1L, "q", "x")))
    // batch 2 crashes after its staged bucket writes but before the flip:
    // the A update and the new B row must not surface
    val b2 = log(dir.resolve("log2.bin").toString,
      0L -> relA, 1L -> relB,
      21L -> Update(7, None, None, TupleData(Vector(t("1"), t("x2")))),
      22L -> Insert(8, TupleData(Vector(t("12"), t("1"), t("r")))))
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeJoinViewBatch(b2, relA, relB, "id", "aid", stateDir, 4)
    } finally StateStore.failBeforeCommit = false
    assert(view() === Seq((10L, 1L, "p", "x"), (11L, 1L, "q", "x")),
      "crashed merge must not publish")
    // replay merges normally: every joined row reflects the A update
    Streams.mergeJoinViewBatch(b2, relA, relB, "id", "aid", stateDir, 4)
    assert(view() === Seq(
      (10L, 1L, "p", "x2"), (11L, 1L, "q", "x2"), (12L, 1L, "r", "x2")))
  }

  test("incremental aggregate crash keeps data+high-water atomic (no double apply)") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("crashagg")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("10.0"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeAggBatch(b1, rel, "grp", "val", stateDir)
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("5.0"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeAggBatch(b2, rel, "grp", "val", stateDir)
    } finally StateStore.failBeforeCommit = false
    def state(): Seq[(String, String, Long)] =
      Streams.incrementalAggState(spark, stateDir).orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSeq
    // crashed merge published neither data nor watermark
    assert(state() === Seq(("a", "10.000000", 1L)))
    // replay applies the batch exactly once
    Streams.mergeAggBatch(b2, rel, "grp", "val", stateDir)
    assert(state() === Seq(("a", "15.000000", 2L)))
    Streams.mergeAggBatch(b2, rel, "grp", "val", stateDir) // second replay: no-op
    assert(state() === Seq(("a", "15.000000", 2L)))
  }

  test("incremental aggregate sink equals the batch delta aggregate across micro-batches") {
    val dir = Files.createTempDirectory("incragg")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.incrementalAggSink(env, graft.cdc.CdcPipeline.ordersRelation,
      "o_orderpriority", "o_totalprice",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val expected = graft.cdc.Cdc
      .incrementalAggregate(events, "o_orderpriority", "o_totalprice")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("seasonal-baseline sink equals the batch delta aggregate across micro-batches") {
    // the events_agg wire relation through the UNCHANGED incrementalAggSink
    val dir = Files.createTempDirectory("incrbase")
    val p = dir.resolve("log.bin").toString
    writeLog(p, graft.cdc.CdcPipeline.eventsToFrames(spark, sfDir))
    // cuts land between an insert and its later retraction (id % 13)
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(250))
    val q = Streams.incrementalAggSink(env, graft.cdc.CdcPipeline.eventsRelation,
      "etype_hr", "cents",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.eventsToFrames(spark, sfDir))
    val expected = graft.cdc.Cdc.incrementalAggregate(events, "etype_hr", "cents")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("Holt-Winters serving off the stream-maintained hourly grid equals " +
      "the q99 batch fold across micro-batch cuts") {
    // the full event log streams through the UNCHANGED incrementalAggSink
    // keyed on the materialized (type | abs-hour) grid key; the forecast
    // view is holtWintersFromGrid over the state snapshot — maintained at
    // O(batch + touched hours), never a corpus rescan
    val dir = Files.createTempDirectory("hwgrid")
    val p = dir.resolve("log.bin").toString
    writeLog(p, graft.cdc.CdcPipeline.eventsFullToFrames(spark, sfDir))
    // cuts land mid-hour-bucket: partial sums must merge across batches
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(700))
    val q = Streams.incrementalAggSink(env, graft.cdc.CdcPipeline.eventsFullRelation,
      "etype_hr", "cents",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val grid = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .select(
        split(col("g"), "\\|").getItem(0).as("event_type"),
        split(col("g"), "\\|").getItem(1).cast("long").as("hr"),
        (col("sum_cents").cast("double") /
          (col("c").cast("double") * lit(100.0))).as("y"))
    val got = graft.queries.RelationalQueries.holtWintersFromGrid(grid)
      .collect().map(_.toSeq)
    val expected = graft.SparkEntry.queries("q99_holt_winters")(spark, sfDir)
      .collect().map(_.toSeq)
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("term-df sink equals the batch incremental index across micro-batches") {
    val dir = Files.createTempDirectory("termdf")
    val p = dir.resolve("log.bin").toString
    writeLog(p, graft.cdc.CdcPipeline.documentsToFramesDml(spark, sfDir))
    // micro-batch cuts land inside doc txn groups (insert/update/delete of
    // one doc may split across batches — the retraction still nets out)
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(130))
    val q = Streams.termDfSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.termDfState(spark, dir.resolve("state").toString)
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = graft.SparkEntry.queries("cdc_incremental_termdf")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
    // replaying the whole log on top of the final state changes nothing
    val whole = spark.read.format("pgcdc")
      .option("path", p).load()
    Streams.mergeTermDfBatch(whole, graft.cdc.CdcPipeline.documentsRelation,
      "text", dir.resolve("state").toString)
    val replayed = Streams.termDfState(spark, dir.resolve("state").toString)
      .orderBy("term").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(replayed.toSeq === expected.toSeq)
  }

  test("derived-view sinks fail loudly on a key-only delete — its old image " +
      "cannot retract the doc's index entries (needs REPLICA IDENTITY FULL)") {
    val dir = Files.createTempDirectory("termdfguard")
    val p = dir.resolve("log.bin").toString
    val relId = graft.cdc.CdcPipeline.DocumentsRelId
    val rel = graft.cdc.CdcPipeline.documentsRelation
    def t(v: String) = ColumnData('t', Some(v))
    def n = ColumnData('n', None)
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(12, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(relId, TupleData(Vector(
        t("1"), t("hello world"), t("en"), t("web"), t("11")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Commit(0, 12, 12, 1000))),
      FrameLog.Entry(20, PgOutputEncoder.encode(Begin(22, 2000, 2))),
      // identity-default delete: old image is the pk projection only — the
      // r4-advice shape that previously slipped past the update-only probe
      // and silently left doc 1's terms in the index forever
      FrameLog.Entry(21, PgOutputEncoder.encode(Delete(relId, 'K', TupleData(Vector(
        t("1"), n, n, n, n))))),
      FrameLog.Entry(22, PgOutputEncoder.encode(Commit(0, 22, 22, 2000)))))
    val whole = spark.read.format("pgcdc")
      .option("path", p).load()
    val e = intercept[IllegalArgumentException] {
      Streams.mergeTermDfBatch(whole, rel, "text", dir.resolve("state").toString)
    }
    assert(e.getMessage.contains("REPLICA IDENTITY FULL"))
    val e2 = intercept[IllegalArgumentException] {
      Streams.mergeChunkIndexBatch(whole, rel, "text", dir.resolve("state").toString)
    }
    assert(e2.getMessage.contains("REPLICA IDENTITY FULL"))
  }

  test("chunk-index sink equals the batch incremental chunk view across " +
      "micro-batches; replay is idempotent") {
    val dir = Files.createTempDirectory("chunkidx")
    val p = dir.resolve("log.bin").toString
    writeLog(p, graft.cdc.CdcPipeline.documentsToFramesDml(spark, sfDir))
    // cuts land inside doc txn groups: an update's retraction (+new chunks,
    // −old chunks) may split across batches and must still net out
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(130))
    val q = Streams.chunkIndexSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "chunk_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4)))
    val got = rows(Streams.chunkIndexState(spark, dir.resolve("state").toString)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_md5"))
    val expected = rows(graft.SparkEntry.queries("cdc_incremental_chunks")(spark, sfDir))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
    // full-log replay on top of the final state changes nothing
    val whole = spark.read.format("pgcdc")
      .option("path", p).load()
    Streams.mergeChunkIndexBatch(whole, graft.cdc.CdcPipeline.documentsRelation,
      "text", dir.resolve("state").toString)
    val replayed = rows(Streams.chunkIndexState(spark, dir.resolve("state").toString)
      .select("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_md5"))
    assert(replayed.toSeq === expected.toSeq)
  }

  test("incremental stats sink equals the batch moment sums across micro-batches") {
    val dir = Files.createTempDirectory("incrstats")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.incrementalStatsSink(env, graft.cdc.CdcPipeline.ordersRelation,
      "o_orderpriority", "o_totalprice",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def render(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getDecimal(1).toPlainString,
        r.getDecimal(2).toPlainString, r.getLong(3))
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .select("g", "sx", "sx2", "c").orderBy("g").collect().map(render)
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val expected = graft.cdc.Cdc
      .incrementalStats(events, "o_orderpriority", "o_totalprice")
      .orderBy("g").collect().map(render)
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("stats merge is replay-safe, retracts across group moves, and truncate resets it") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("statsreplay")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("10.5")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("2.0")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Update(6, Some('O'),
        Some(TupleData(Vector(t("2"), t("a"), t("2.0")))),
        TupleData(Vector(t("2"), t("b"), t("3.0"))))))))  // group move a→b
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeStatsBatch(b1, rel, "grp", "val", 2, stateDir)
    def state(): Seq[(String, String, String, Long)] =
      Streams.incrementalAggState(spark, stateDir)
        .select("g", "sx", "sx2", "c").orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    // a: 10.5 → (1050, 1050², 1); b: 3.0 → (300, 90000, 1); key 2's
    // +200/-200 in a cancels through the retraction
    val once = state()
    assert(once === Seq(("a", "1050", "1102500", 1L), ("b", "300", "90000", 1L)))
    // replay the SAME batch: no double count
    Streams.mergeStatsBatch(b1, rel, "grp", "val", 2, stateDir)
    assert(state() === once)
    // batch 2: truncate + fresh insert → state = post-truncate rows only
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(20, PgOutputEncoder.encode(Truncate(0, Vector(6)))),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("9"), t("c"), t("1.25"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeStatsBatch(b2, rel, "grp", "val", 2, stateDir)
    assert(state() === Seq(("c", "125", "15625", 1L)))
  }

  test("stats sink crash keeps data+high-water atomic (no double apply)") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("crashstats")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("10.0"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeStatsBatch(b1, rel, "grp", "val", 2, stateDir)
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("4.0"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeStatsBatch(b2, rel, "grp", "val", 2, stateDir)
    } finally StateStore.failBeforeCommit = false
    def state(): Seq[(String, String, String, Long)] =
      Streams.incrementalAggState(spark, stateDir)
        .select("g", "sx", "sx2", "c").orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    // crashed merge published neither data nor watermark (10.0 → 1000 cents)
    assert(state() === Seq(("a", "1000", "1000000", 1L)))
    // replay applies the batch exactly once (+4.0 → +400 cents, +160000)
    Streams.mergeStatsBatch(b2, rel, "grp", "val", 2, stateDir)
    assert(state() === Seq(("a", "1400", "1160000", 2L)))
    Streams.mergeStatsBatch(b2, rel, "grp", "val", 2, stateDir) // replay: no-op
    assert(state() === Seq(("a", "1400", "1160000", 2L)))
  }

  test("top-k sink crash keeps data+high-water atomic (no double apply)") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("crashtopk")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("10.0"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeTopKBatch(b1, rel, "grp", "val", stateDir, None)
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("5.0"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeTopKBatch(b2, rel, "grp", "val", stateDir, None)
    } finally StateStore.failBeforeCommit = false
    def top(): Seq[(String, String, Int)] =
      Streams.topKFromState(spark, stateDir, 3).orderBy("g", "rk").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getDecimal(r.fieldIndex("v")).toPlainString, r.getInt(r.fieldIndex("rk")))).toSeq
    assert(top() === Seq(("a", "10.000000", 1))) // crash published nothing
    Streams.mergeTopKBatch(b2, rel, "grp", "val", stateDir, None) // replay: once
    assert(top() === Seq(("a", "10.000000", 1), ("a", "5.000000", 2)))
    Streams.mergeTopKBatch(b2, rel, "grp", "val", stateDir, None) // again: no-op
    assert(top() === Seq(("a", "10.000000", 1), ("a", "5.000000", 2)))
  }

  test("incremental join-agg sink equals the batch Δ⋈dim view across micro-batches") {
    val dir = Files.createTempDirectory("joinaggsink")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val dims = graft.Tables.customer(spark, sfDir)
      .join(graft.Tables.nation(spark, sfDir),
        org.apache.spark.sql.functions.col("c_nationkey") ===
          org.apache.spark.sql.functions.col("n_nationkey"))
      .select("c_custkey", "n_name")
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.incrementalJoinAggSink(env, graft.cdc.CdcPipeline.ordersRelation,
      "o_custkey", "o_totalprice", dims, "c_custkey", "n_name",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2)))
    // expected = the batch query's revenue-per-nation over the same frames
    val expected = graft.SparkEntry.queries("cdc_incremental_join_agg")(spark, sfDir)
      .collect().map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
          .underlying.toPlainString, r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("incremental top-k sink across micro-batches equals the batch form (cross-batch retraction)") {
    val dir = Files.createTempDirectory("topksink")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    // small batches: deletes/updates retract inserts from EARLIER batches,
    // exercising the negative-delta merge path
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.incrementalTopKSink(env, graft.cdc.CdcPipeline.ordersRelation,
      "o_orderpriority", "o_totalprice",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g", "rk").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getDecimal(r.fieldIndex("v")).toPlainString,
          r.getLong(r.fieldIndex("net")), r.getInt(r.fieldIndex("rk"))))
    val got = rows(Streams.topKFromState(spark, dir.resolve("state").toString, 3))
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val expected = rows(graft.cdc.Cdc
      .incrementalTopK(events, "o_orderpriority", "o_totalprice", 3))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
    // the SAME maintained state also answers COUNT DISTINCT — one net-count
    // table, several views (no second sink, no second state)
    def drows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getLong(r.fieldIndex("n_distinct")), r.getLong(r.fieldIndex("c"))))
    val gotD = drows(Streams.distinctFromState(spark, dir.resolve("state").toString))
    val expD = drows(graft.cdc.Cdc
      .incrementalDistinct(events, "o_orderpriority", "o_totalprice"))
    assert(gotD.nonEmpty)
    assert(gotD.toSeq === expD.toSeq)
    // ... and the exact MEDIAN (order statistic from the same state)
    def mrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getDecimal(r.fieldIndex("median")).toPlainString,
          r.getLong(r.fieldIndex("c"))))
    val gotM = mrows(Streams.medianFromState(spark, dir.resolve("state").toString))
    val expM = mrows(graft.cdc.Cdc
      .incrementalMedian(events, "o_orderpriority", "o_totalprice"))
    assert(gotM.nonEmpty)
    assert(gotM.toSeq === expM.toSeq)
    // ... and ANY rational quantile (p95 here): same state, one more reader
    def qrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getDecimal(r.fieldIndex("q")).toPlainString,
          r.getLong(r.fieldIndex("c"))))
    val gotQ = qrows(Streams.quantileFromState(spark, dir.resolve("state").toString, 19, 20))
    val expQ = qrows(graft.cdc.Cdc
      .incrementalQuantile(events, "o_orderpriority", "o_totalprice", 19, 20))
    assert(gotQ.nonEmpty)
    assert(gotQ.toSeq === expQ.toSeq)
    // every group's p95 is ≥ its median (sanity of the generalized cut)
    val medByG = gotM.map(t => t._1 -> BigDecimal(t._2)).toMap
    assert(gotQ.forall(t => BigDecimal(t._2) >= medByG(t._1)))
    // ... and the equi-width HISTOGRAM (additive projection of the state)
    def hrows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("g", "bucket").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getLong(r.fieldIndex("bucket")), r.getLong(r.fieldIndex("n"))))
    val gotH = hrows(Streams.histogramFromState(
      spark, dir.resolve("state").toString, 50000L * 100))
    val expH = hrows(graft.cdc.Cdc.incrementalHistogram(
      events, "o_orderpriority", "o_totalprice", 50000L * 100))
    assert(gotH.nonEmpty)
    assert(gotH.toSeq === expH.toSeq)
    // bucket counts per group sum to the group's live row count
    val cByG = gotM.map(t => t._1 -> t._3).toMap
    assert(gotH.groupBy(_._1).forall { case (g, rs) => rs.map(_._3).sum == cByG(g) })
  }

  test("dblog backfill sink: chunks finalize as the watermark passes; state equals the batch merge") {
    val dir = Files.createTempDirectory("dblog")
    val p = dir.resolve("log.bin").toString
    // tail-only WAL: the table pre-exists, only updates/deletes stream
    val pat = graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true,
      fullImages = true, inserts = false)
    val frames = graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat)
      .collect().sortBy(_._1).iterator
      .map { case (lsn, bytes) => FrameLog.Entry(lsn, bytes) }
    FrameLog.write(p, frames)
    val chunks = graft.cdc.CdcPipeline.ordersSnapshotChunks(spark, sfDir, 8)
    // small triggers: several chunks straddle micro-batch boundaries, so
    // collision evidence accumulates across batches before finalization
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(200))
    val q = Streams.dblogBackfillSink(env, graft.cdc.CdcPipeline.ordersRelation,
      chunks, dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable()
    // recovery observability rides the query's progress + the two status
    // reads: per-batch envelope stats in observedMetrics, chunk/collision
    // state via backfillProgress (live registry) and recoveryStatus (disk)
    val obs = q.lastProgress.observedMetrics.get("graft_dblog")
    assert(obs != null, "observed metrics must ride StreamingQueryProgress")
    assert(obs.getAs[Long]("events") >= 0L)
    q.stop()
    val prog = Streams.backfillProgress(dir.resolve("state").toString)
    assert(prog.exists(p => p.appliedChunks === 8 && p.pendingChunks === 0),
      s"live backfill progress: $prog")
    val status = Streams.recoveryStatus(spark, dir.resolve("state").toString, 8)
    assert(status.appliedChunks === 8 && status.pendingChunks === 0 &&
      status.pendingCollisionRows === 0L, status.toString)
    val manifest = StateStore.load(dir.resolve("state").toString)
    assert(manifest("applied").split(",").length === 8) // every chunk landed
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("o_orderkey"), col("o_totalprice").cast("double"),
          col("o_orderpriority"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
        .sortBy(_._1)
    val got = rows(Streams.materializedState(spark,
      graft.cdc.CdcPipeline.ordersRelation, dir.resolve("state").toString))
    val expected = rows(graft.SparkEntry.queries("cdc_chunked_snapshot")(spark, sfDir))
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("failover recovery at the STATE layer: dblog backfill over " +
      "PRE-EXISTING upsert state + failoverRetire converge to the post-gap " +
      "table — gap deletes retire, untouched and resurrected keys land right") {
    import graft.cdc.CdcPipeline
    val dir = Files.createTempDirectory("failover_state")
    // ---- epoch 1: the pre-failover state through the NORMAL upsert sink
    val p1 = dir.resolve("epoch1.bin").toString
    FrameLog.write(p1, CdcPipeline.ordersToFrames(spark, sfDir,
      CdcPipeline.DmlPattern(updates = true, deletes = true, fullImages = true))
      .collect().sortBy(_._1).iterator
      .map { case (l, b) => FrameLog.Entry(l, b) })
    val state = dir.resolve("state").toString
    val q1 = Streams.cdcUpsertSink(
      Streams.envelopeStream(spark, p1, Some(5000)),
      CdcPipeline.ordersRelation, state, dir.resolve("ckpt1").toString)
    q1.processAllAvailable(); q1.stop()

    // ---- failover: the epoch-2 gap is LOST with the slot; only events
    // past the replacement slot's consistent point stream, and the chunked
    // re-snapshot (racing that tail) carries the gap's effects
    val maxKey = graft.Tables.orders(spark, sfDir)
      .agg(max(col("o_orderkey"))).first().getLong(0)
    val slotLsn = CdcPipeline.failoverNewSlotLsn(maxKey)
    val tail = CdcPipeline.ordersToFramesEpoch2(spark, sfDir, maxKey)
      .collect().filter(f => f._1 == 0L || f._1 > slotLsn).sortBy(_._1)
    // finalization sentinel: one insert past the LAST chunk's high
    // watermark, so the stream's watermark passes every chunk (in
    // production the tail simply keeps flowing; a bounded fixture needs
    // one event beyond the re-snapshot horizon)
    val endLsn = 8L * (maxKey + 1) + 8L * (maxKey + 1) + 8L
    val w = (endLsn - slotLsn) / 8 + 1L
    val sb = slotLsn + 8L * w + 64L
    def t(v: String) = ColumnData('t', Some(v))
    val sentinel = Seq(
      FrameLog.Entry(sb, PgOutputEncoder.encode(Begin(sb + 2, 0L, 99))),
      FrameLog.Entry(sb + 1, PgOutputEncoder.encode(Insert(
        CdcPipeline.OrdersRelId, TupleData(Vector(t("999999"), t("1"),
          t("O"), t("42.0"), t("2021-01-01 00:00:00.000000+00"), t("x")))))),
      FrameLog.Entry(sb + 2, PgOutputEncoder.encode(Commit(0, sb + 2, sb + 2, 0L))))
    val p2 = dir.resolve("tail.bin").toString
    FrameLog.write(p2,
      tail.iterator.map { case (l, b) => FrameLog.Entry(l, b) } ++ sentinel.iterator)
    val chunks = CdcPipeline.ordersSnapshotChunksFailover(spark, sfDir, 8, maxKey)
    val nChunks = chunks.select(col("chunk_id")).distinct().count()
    val q2 = Streams.dblogBackfillSink(
      Streams.envelopeStream(spark, p2, Some(1500)),
      CdcPipeline.ordersRelation, chunks, state, dir.resolve("ckpt2").toString)
    q2.processAllAvailable(); q2.stop()

    // before retirement the gap-deleted keys are STILL in state (the merge
    // alone cannot see a delete whose WAL is gone) — the finisher is load-
    // bearing, not a formality
    val preRetire = Streams.materializedState(spark,
      CdcPipeline.ordersRelation, state).count()
    val retired = Streams.failoverRetire(spark, state, slotLsn, nChunks)
    assert(retired > 0, "the gap deleted keys; retirement must fire")
    assert(preRetire - retired ===
      Streams.materializedState(spark, CdcPipeline.ordersRelation, state).count())

    // converged state == the post-gap truth (cdc_failover_resync's
    // new_state arithmetic) + the sentinel row
    val expected = graft.Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .flatMap { r =>
        val k = r.getLong(0); val p = r.getDouble(1)
        if (k % 7 != 0 && k % 9 != 0)
          Some(k -> (p + (if (k % 10 == 0) 1.0 else 0.0) +
            (if (k % 4 == 0) 10.0 else 0.0)))
        else if (k % 35 == 0) Some(k -> p * 2.0)
        else None
      }.toMap + (999999L -> 42.0)
    val got = Streams.materializedState(spark, CdcPipeline.ordersRelation, state)
      .select(col("o_orderkey"), col("o_totalprice").cast("double"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === expected,
      "existing state + backfill + retirement must equal the post-gap table")
    // the commit CLEARED the recovery bookkeeping (stale applied ids would
    // make a future recovery skip colliding chunks and mass-retire their
    // keys) — a rerun refuses: no recovery is in progress
    val again = intercept[IllegalArgumentException] {
      Streams.failoverRetire(spark, state, slotLsn, nChunks)
    }
    assert(again.getMessage.contains("0 of " + nChunks), again.getMessage)
  }

  test("cross-slot consistent frontier: a lagging slot gates the served " +
      "state at the cut (never a combination no single WAL position could " +
      "produce); the frontier advances and the view converges") {
    import graft.cdc.CdcPipeline
    val dir = Files.createTempDirectory("frontier")
    val relO = CdcPipeline.ordersRelation
    val relL = CdcPipeline.lineitemRelation
    // two slots sharing ONE WAL axis: orders frames on slot A, lineitem
    // frames on slot B (each generator's lsns are positions on the same
    // numeric axis — exactly the same-server sharded-publication shape)
    val oFrames = CdcPipeline.ordersToFrames(spark, sfDir,
      CdcPipeline.DmlPattern(updates = true, deletes = true, fullImages = true))
      .collect().sortBy(_._1)
    val lFrames = CdcPipeline.lineitemToFrames(spark, sfDir)
      .collect().sortBy(_._1)
    val maxA = oFrames.map(_._1).max
    // slot B STAGGERED: run 1 delivers only its WAL prefix up to ~maxA/2,
    // so B's watermark genuinely trails A's
    val prefixB = lFrames.takeWhile(_._1 <= maxA / 2)
    assert(prefixB.nonEmpty && prefixB.last._1 < maxA, "stagger must bite")
    val pA = dir.resolve("slotA.bin").toString
    val pB1 = dir.resolve("slotB-prefix.bin").toString
    FrameLog.write(pA, oFrames.iterator.map { case (l, b) => FrameLog.Entry(l, b) })
    FrameLog.write(pB1, prefixB.iterator.map { case (l, b) => FrameLog.Entry(l, b) })
    val state = dir.resolve("state").toString
    def run(pB: String, ckpt: String): Unit = {
      // txnMarkers: B/C marker rows advance the watermark at COMMIT
      // positions (a bare data stream's watermark trails at the last data
      // row — the commit frame emits no row), making the frontier cut at
      // transaction boundaries
      val q = Streams.frontierGatedUnionSink(
        Seq("A" -> Streams.envelopeStream(spark, pA, Some(5000), txnMarkers = true),
          "B" -> Streams.envelopeStream(spark, pB, Some(700), txnMarkers = true)),
        Seq(relO, relL), state, dir.resolve(ckpt).toString)
      q.processAllAvailable(); q.stop()
    }
    run(pB1, "ckpt1")
    // the frontier is the lagging slot's watermark…
    val f1 = Streams.frontierLsn(state, Seq("A", "B"))
    assert(f1 === prefixB.last._1, s"frontier $f1")
    // …and BOTH tables serve exactly the ≤F prefix of the shared WAL —
    // orders events ahead of F are delivered but HELD BACK, so the view
    // corresponds to the single WAL position F (the naive per-slot read
    // would pair full orders with half lineitem: no position produces that)
    def oracleO(f: Long) = graft.cdc.Cdc.materialize(
        CdcPipeline.decodeFrames(CdcPipeline.ordersToFrames(spark, sfDir,
          CdcPipeline.DmlPattern(updates = true, deletes = true,
            fullImages = true))).filter(col("lsn") <= f), relO)
      .select(col("o_orderkey"), col("o_totalprice").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    def oracleL(f: Long) = graft.cdc.Cdc.materialize(
        CdcPipeline.decodeFrames(CdcPipeline.lineitemToFrames(spark, sfDir))
          .filter(col("lsn") <= f), relL)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("double"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    def servedO() = Streams.frontierState(spark, relO, state)
      .select(col("o_orderkey"), col("o_totalprice").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).toSeq
    def servedL() = Streams.frontierState(spark, relL, state)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity").cast("double"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sorted.toSeq
    assert(servedO() === oracleO(f1), "orders must be cut at the frontier")
    assert(servedL() === oracleL(f1), "lineitem must be cut at the frontier")
    // full orders state would DIFFER (the gate is load-bearing)
    assert(servedO() !== oracleO(Long.MaxValue))
    // run 2 — RESUME on the SAME checkpoint: the prefix log grows to the
    // full stream (frame-index offsets make the overwrite a pure append),
    // so only the tail redelivers; pending state, hw keys, and the data
    // versions carry across the restart through the manifest
    FrameLog.write(pB1, lFrames.iterator.map { case (l, b) => FrameLog.Entry(l, b) })
    run(pB1, "ckpt1")
    val f2 = Streams.frontierLsn(state, Seq("A", "B"))
    assert(f2 === math.min(maxA, lFrames.map(_._1).max))
    // still gated at f2: the LONGER axis's tail (lsn > f2) is pending —
    // the cut stays exact even at the ends
    assert(servedO() === oracleO(f2))
    assert(servedL() === oracleL(f2))
    // run 3 — full REDELIVERY on a fresh checkpoint: every event replays
    // into the existing state; the gated merge must be idempotent
    val pB2 = dir.resolve("slotB-full.bin").toString
    FrameLog.write(pB2, lFrames.iterator.map { case (l, b) => FrameLog.Entry(l, b) })
    run(pB2, "ckpt2")
    assert(Streams.frontierLsn(state, Seq("A", "B")) === f2)
    assert(servedO() === oracleO(f2))
    assert(servedL() === oracleL(f2))
    // idle-slot unblocking: one axis simply ENDED short of the other — the
    // classic frontier stall. Bump the short slot to the longer end (a
    // position it has delivered through) and one more run graduates the
    // held tail: FULL convergence only now
    val maxBoth = math.max(maxA, lFrames.map(_._1).max)
    Streams.bumpSlotWatermark(state, "A", maxBoth)
    Streams.bumpSlotWatermark(state, "B", maxBoth)
    run(pB2, "ckpt3")
    assert(Streams.frontierLsn(state, Seq("A", "B")) === maxBoth)
    assert(servedO() === oracleO(Long.MaxValue))
    assert(servedL() === oracleL(Long.MaxValue))
  }

  test("two-sided join view sink across micro-batches equals the batch join") {
    val dir = Files.createTempDirectory("joinview")
    val p = dir.resolve("log.bin").toString
    // one slot, two publications: orders + lineitem interleaved; WAL order
    val frames = graft.cdc.CdcPipeline.jointOrdersLineitemFrames(spark, sfDir,
      graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true))
      .collect().sortBy(_._1).iterator
      .map { case (lsn, bytes) => FrameLog.Entry(lsn, bytes) }
    FrameLog.write(p, frames)
    // small batches cut mid-table on both sides: B rows arrive before and
    // after their A partner's update/delete — the cross-batch Δ⋈state paths
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(5000))
    val q = Streams.incrementalJoinViewSink(env,
      graft.cdc.CdcPipeline.ordersRelation, graft.cdc.CdcPipeline.lineitemRelation,
      "o_orderkey", "l_orderkey",
      dir.resolve("state").toString, dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    def key(r: org.apache.spark.sql.Row) = (
      r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))
    val got = Streams.joinViewState(spark, dir.resolve("state").toString)
      .select(
        element_at(col("b_after"), "l_orderkey").cast("long"),
        element_at(col("b_after"), "l_linenumber").cast("int"),
        element_at(col("b_after"), "l_partkey").cast("long"),
        element_at(col("b_after"), "l_suppkey").cast("long"),
        element_at(col("b_after"), "l_quantity").cast("double"),
        element_at(col("b_after"), "l_returnflag"),
        element_at(col("a_after"), "o_totalprice").cast("double"),
        element_at(col("a_after"), "o_orderpriority"))
      .collect()
      .map(r => (key(r), (r.getDouble(4), r.getString(5), r.getDouble(6), r.getString(7))))
      .sortBy(_._1)
    val expected = graft.SparkEntry.queries("cdc_join_view")(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber").cast("int"),
        col("l_partkey"), col("l_suppkey"), col("l_quantity").cast("double"),
        col("l_returnflag"), col("o_totalprice").cast("double"),
        col("o_orderpriority"))
      .collect()
      .map(r => (key(r), (r.getDouble(4), r.getString(5), r.getDouble(6), r.getString(7))))
      .sortBy(_._1)
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("bounded MIN/MAX sink across micro-batches equals the batch delta form (rescans included)") {
    val dir = Files.createTempDirectory("minmaxsink")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    // several micro-batches + k=2 so deletes of retained extremes force the
    // targeted-rescan path through the co-located table state
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.minMaxAggSink(env, graft.cdc.CdcPipeline.ordersRelation,
      "o_orderpriority", "o_totalprice",
      dir.resolve("agg").toString, dir.resolve("table").toString,
      dir.resolve("ckpt").toString, k = 2)
    q.processAllAvailable(); q.stop()
    val got = Streams.minMaxAggState(spark, dir.resolve("agg").toString)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
        r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val expected = graft.cdc.Cdc
      .incrementalMinMax(events, "o_orderpriority", "o_totalprice")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).setScale(6).toPlainString,
        r.getDecimal(2).setScale(6).toPlainString, r.getLong(3))).toSeq
    assert(got.nonEmpty)
    assert(got.toSeq === expected.toSeq)
  }

  test("incremental JOIN-aggregate: dim-enriched envelope stream through the agg sink equals the batch form") {
    val dir = Files.createTempDirectory("incrjoinagg")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(
      updates = true, deletes = true, fullImages = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    // Δ⋈dim composition: splice the broadcast-joined nation name into BOTH
    // images as an ordinary envelope column, then the UNCHANGED incremental
    // aggregate sink maintains the per-nation view — no new sink machinery
    val dims = graft.Tables.customer(spark, sfDir)
      .join(graft.Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey").cast("string").as("ck"), col("n_name"))
    def spliced(img: String) = when(col(img).isNotNull,
      map_concat(col(img), map(lit("n_name"), col("n_name")))).otherwise(col(img))
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val enriched = env
      .join(broadcast(dims),
        element_at(coalesce(col("after"), col("before")), "o_custkey") === col("ck"),
        "left")
      .withColumn("after", spliced("after"))
      .withColumn("before", spliced("before"))
      .drop("ck", "n_name")
    val q = Streams.incrementalAggSink(enriched, graft.cdc.CdcPipeline.ordersRelation,
      "n_name", "o_totalprice",
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSeq
    val expected = graft.SparkEntry.queries("cdc_incremental_join_agg")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0),
        BigDecimal(r.getDouble(1)).setScale(6).bigDecimal.toPlainString,
        r.getLong(2))).toSeq
    assert(got.nonEmpty)
    assert(got.map(t => (t._1, t._3)) === expected.map(t => (t._1, t._3)))
    assert(got.map(_._2) === expected.map(_._2))
  }

  test("incremental aggregate merge is replay-safe (high-water mark) and truncate resets it") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("incrreplay")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("10.5")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("2.0")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("3"), t("b"), t("7.0")))))),
      FrameLog.Entry(14, PgOutputEncoder.encode(Update(6, Some('O'),
        Some(TupleData(Vector(t("2"), t("a"), t("2.0")))),
        TupleData(Vector(t("2"), t("b"), t("3.0"))))))))  // group move a→b
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeAggBatch(b1, rel, "grp", "val", stateDir)
    def state(): Seq[(String, String, Long)] =
      Streams.incrementalAggState(spark, stateDir).orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSeq
    val once = state()
    assert(once === Seq(("a", "10.500000", 1L), ("b", "10.000000", 2L)))
    // replay the SAME batch (crash before checkpoint commit): no double count
    Streams.mergeAggBatch(b1, rel, "grp", "val", stateDir)
    assert(state() === once)
    // batch 2: truncate + fresh insert → state = post-truncate rows only
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(20, PgOutputEncoder.encode(Truncate(0, Vector(6)))),
      FrameLog.Entry(21, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("9"), t("c"), t("1.25"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeAggBatch(b2, rel, "grp", "val", stateDir)
    assert(state() === Seq(("c", "1.250000", 1L)))
  }

  test("scd2 sink across micro-batches equals the batch history") {
    val dir = Files.createTempDirectory("scd2stream")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true)
    writeLog(p, graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    // several micro-batches so versions open in one batch close in a later one
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(4000))
    val q = Streams.scd2Sink(env, graft.cdc.CdcPipeline.ordersRelation,
      dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def rows(df: org.apache.spark.sql.DataFrame, keyMap: String, img: String) = df
      .select(element_at(col(keyMap), "o_orderkey").cast("long"),
        element_at(col(img), "o_totalprice").cast("double"),
        col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))
      .sortBy(t => (t._1, t._3)).toSeq
    val got = rows(Streams.scd2State(spark, dir.resolve("state").toString),
      "__key", "__after")
    val events = graft.cdc.CdcPipeline.decodeFrames(
      graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
    val expected = rows(
      graft.cdc.Cdc.scd2History(events, Seq("o_orderkey"))
        .withColumn("__key", map_from_arrays(array(lit("o_orderkey")),
          array(col("__key_o_orderkey")))),
      "__key", "after")
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("scd2 merge is replay-safe and a truncate closes every open version") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("scd2replay")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("x"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeScd2Batch(b1, rel, stateDir)
    def state(): Seq[(String, String, Long, Long, Boolean)] =
      Streams.scd2State(spark, stateDir).collect().map { r =>
        val k = r.getMap[String, String](r.fieldIndex("__key"))("id")
        val m = r.getMap[String, String](r.fieldIndex("__after"))
        val to = r.fieldIndex("valid_to_lsn")
        (k, m("v"), r.getLong(r.fieldIndex("valid_from_lsn")),
          if (r.isNullAt(to)) -1L else r.getLong(to),
          r.getBoolean(r.fieldIndex("is_current")))
      }.sortBy(x => (x._1, x._3)).toSeq
    val once = state()
    assert(once === Seq(("1", "a", 11L, -1L, true), ("2", "x", 12L, -1L, true)))
    // replay the SAME batch (crash before checkpoint commit): no duplicates
    Streams.mergeScd2Batch(b1, rel, stateDir)
    assert(state() === once)
    // batch 2: update key 1, then truncate, then re-insert key 1 —
    // the truncate closes key 2's (untouched) open version too
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(20, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("b")))))),
      FrameLog.Entry(30, PgOutputEncoder.encode(Truncate(0, Vector(6)))),
      FrameLog.Entry(40, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("post"))))))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeScd2Batch(b2, rel, stateDir)
    val after2 = state()
    assert(after2 === Seq(
      ("1", "a", 11L, 20L, false),     // closed by the batch-2 update
      ("1", "b", 20L, 30L, false),     // closed by the truncate
      ("1", "post", 40L, -1L, true),   // re-insert after the truncate
      ("2", "x", 12L, 30L, false)))    // untouched key, closed by the truncate
    // replaying batch 2 changes nothing
    Streams.mergeScd2Batch(b2, rel, stateDir)
    assert(state() === after2)
  }

  test("scd2 closed segments are immutable across batches; crash before commit loses nothing") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("scd2seg")
    val stateDir = dir.resolve("state").toString
    def log(n: String, entries: FrameLog.Entry*): org.apache.spark.sql.DataFrame = {
      val p = dir.resolve(n).toString
      FrameLog.write(p, (Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++ entries.iterator))
      spark.read.format("pgcdc").option("path", p).load()
    }
    // batch 1: key 1 insert + update → one closed version (seg-0) + one open
    Streams.mergeScd2Batch(log("l1.bin",
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("b"))))))),
      rel, stateDir)
    val m1 = StateStore.load(stateDir)
    assert(m1.contains("seg-0") && m1.contains("open"), m1.toString)
    // batch 2 crashes before the manifest flip: nothing published
    StateStore.failBeforeCommit = true
    val b2 = log("l2.bin",
      FrameLog.Entry(20, PgOutputEncoder.encode(Update(6, None, None, TupleData(Vector(t("1"), t("c")))))))
    intercept[IllegalStateException] { Streams.mergeScd2Batch(b2, rel, stateDir) }
    StateStore.failBeforeCommit = false
    assert(StateStore.load(stateDir) === m1) // old manifest fully intact
    // replay batch 2 (at-least-once): applies exactly once
    Streams.mergeScd2Batch(b2, rel, stateDir)
    val m2 = StateStore.load(stateDir)
    assert(m2("seg-0") === m1("seg-0")) // closed segment never rewritten
    assert(m2.contains("seg-1") && m2("open") != m1("open"))
    def hist(): Seq[(String, Long, Long)] =
      Streams.scd2State(spark, stateDir).collect().map { r =>
        val m = r.getMap[String, String](r.fieldIndex("__after"))
        val to = r.fieldIndex("valid_to_lsn")
        (m("v"), r.getLong(r.fieldIndex("valid_from_lsn")),
          if (r.isNullAt(to)) -1L else r.getLong(to))
      }.sortBy(_._2).toSeq
    assert(hist() === Seq(("a", 11L, 12L), ("b", 12L, 20L), ("c", 20L, -1L)))
    // offline segment compaction: layout folds to one segment, content
    // identical, open set and high-water untouched
    Streams.compactScd2Segments(spark, stateDir)
    val m3 = StateStore.load(stateDir)
    assert(m3.keys.count(_.startsWith("seg-")) === 1, m3.toString)
    assert(m3("open") === m2("open") && m3("hwLsn") === m2("hwLsn"))
    assert(hist() === Seq(("a", 11L, 12L), ("b", 12L, 20L), ("c", 20L, -1L)))
  }

  test("multi-SUM incremental aggregate state maintains both columns through update and delete") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "v1", TypedView.Oid.Float8, -1),
      RelationColumn(partOfKey = false, "v2", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("incrmulti")
    val stateDir = dir.resolve("state").toString
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("1.5"), t("10")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("2"), t("a"), t("2.0"), t("20")))))),
      FrameLog.Entry(13, PgOutputEncoder.encode(Update(6, Some('O'),
        Some(TupleData(Vector(t("1"), t("a"), t("1.5"), t("10")))),
        TupleData(Vector(t("1"), t("a"), t("4.5"), t("40")))))),
      FrameLog.Entry(14, PgOutputEncoder.encode(Delete(6, 'O',
        TupleData(Vector(t("2"), t("a"), t("2.0"), t("20"))))))))
    val b = spark.read.format("pgcdc").option("path", p).load()
    Streams.mergeAggBatch(b, rel, "grp", Seq("v1", "v2"), stateDir)
    val row = Streams.incrementalAggState(spark, stateDir).collect().toSeq
    assert(row.map(r => (r.getString(0), r.getDecimal(1).toPlainString,
      r.getDecimal(2).toPlainString, r.getLong(3))) ===
      Seq(("a", "4.500000", "40.000000", 1L)))
  }

  test("incremental aggregate merge rejects updates without old images") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "grp", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "val", TypedView.Oid.Float8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("incrguard")
    val p = dir.resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("1"), t("a"), t("1.0")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Update(6, None, None,
        TupleData(Vector(t("1"), t("a"), t("2.0"))))))))
    val b = spark.read.format("pgcdc").option("path", p).load()
    val e = intercept[IllegalArgumentException] {
      Streams.mergeAggBatch(b, rel, "grp", "val", dir.resolve("state").toString)
    }
    assert(e.getMessage.contains("REPLICA IDENTITY FULL"))
  }

  test("truncate through the bucketed sink clears every bucket") {
    val rel = Relation(6, "public", "m", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("buckettrunc")
    val stateDir = dir.resolve("state").toString
    val p1 = dir.resolve("log1.bin").toString
    FrameLog.write(p1, Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++
      (1 to 16).iterator.map(i =>
        FrameLog.Entry(10 + i, PgOutputEncoder.encode(
          Insert(6, TupleData(Vector(t(i.toString), t(s"v$i"))))))))
    val b1 = spark.read.format("pgcdc").option("path", p1).load()
    Streams.mergeBatchBucketed(b1, rel, Seq("id"), stateDir, 8)
    // truncate + one post-truncate insert, in a later batch: the truncate has
    // no key, so the merge must fan out to ALL buckets, not just the insert's
    val p2 = dir.resolve("log2.bin").toString
    FrameLog.write(p2, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(100, PgOutputEncoder.encode(Begin(102, 2000, 2))),
      FrameLog.Entry(101, PgOutputEncoder.encode(Truncate(0, Vector(6)))),
      FrameLog.Entry(102, PgOutputEncoder.encode(Insert(6, TupleData(Vector(t("99"), t("fresh")))))),
      FrameLog.Entry(103, PgOutputEncoder.encode(Commit(0, 103, 103, 2000)))))
    val b2 = spark.read.format("pgcdc").option("path", p2).load()
    Streams.mergeBatchBucketed(b2, rel, Seq("id"), stateDir, 8)
    val got = Streams.materializedState(spark, rel, stateDir)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === Seq((99L, "fresh")))
  }

  test("wire-stats sink matches the whole-stream counts and ignores replays") {
    val dir = Files.createTempDirectory("wirestats")
    val p = dir.resolve("log.bin").toString
    val pat = graft.cdc.CdcPipeline.DmlPattern(updates = true, deletes = true)
    val frames = graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat)
      .collect().sortBy(_._1)
    FrameLog.write(p, frames.iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) })
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(1000))
    val stateDir = dir.resolve("state").toString
    val q = Streams.wireStatsSink(env, stateDir, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    def state(): Seq[(Int, String, Long, Long, Long)] =
      Streams.wireStats(spark, stateDir).orderBy("relation_id", "op").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val expected = graft.cdc.CdcPipeline.decodeFrames(
        graft.cdc.CdcPipeline.ordersToFrames(spark, sfDir, pat))
      .filter(col("op").isin("I", "U", "D", "T", "M"))
      .groupBy(col("relation_id"), col("op"))
      .agg(count(lit(1)).as("n"), min(col("lsn")), max(col("lsn")))
      .orderBy("relation_id", "op").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(state().nonEmpty)
    assert(state() === expected)
    // at-least-once redelivery of the whole log: counters must not move
    val replay = spark.read.format("pgcdc")
      .option("path", p).load()
    Streams.mergeWireStatsBatch(replay, stateDir)
    assert(state() === expected)
  }
}
