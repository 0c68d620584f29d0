package graft.cdc

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.sources.Envelope

/** Compaction semantics over hand-built envelope events: last-LSN-wins,
  * delete removal, truncate high-water mark, TOAST repair, delete-then-
  * reinsert. */
class CdcSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rel = Relation(1, "public", "t", 'd', Vector(
    RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
    RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))

  private def ev(op: String, lsn: Long, seq: Long, id: String,
      after: Map[String, String], toasted: Seq[String] = Nil): ChangeEvent =
    ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
      Map("id" -> id), null, after, Nil, toasted)

  private def compactIds(events: Seq[ChangeEvent], fillToast: Boolean = false): Map[String, String] = {
    import spark.implicits._
    val df = Envelope.frame(spark.createDataset(events))
    val out = if (fillToast) Cdc.compactFillingToast(df, Seq("id"))
              else Cdc.compact(df, Seq("id"))
    out.collect().map { r =>
      val m = r.getMap[String, String](r.fieldIndex("after"))
      m("id") -> m.getOrElse("v", null)
    }.toMap
  }

  test("log compaction: one txn per surviving key, tombstones collapse, TOAST repairs in the frames") {
    import spark.implicits._
    // id 1: insert + TOASTed update (v unchanged on the wire) → survives
    //       with v repaired from the insert image
    // id 2: insert + delete → tombstone-collapsed, no frames at all
    // id 3: insert + two updates → one txn carrying only the LAST value
    val events = Seq(
      ev("I", 10, 0, "1", Map("id" -> "1", "v" -> "a")),
      ev("U", 11, 0, "1", Map("id" -> "1"), toasted = Seq("v")),
      ev("I", 20, 0, "2", Map("id" -> "2", "v" -> "b")),
      ev("D", 21, 0, "2", null),
      ev("I", 30, 0, "3", Map("id" -> "3", "v" -> "c")),
      ev("U", 31, 0, "3", Map("id" -> "3", "v" -> "c2")),
      ev("U", 32, 0, "3", Map("id" -> "3", "v" -> "c3")))
    val compacted = CdcPipeline.compactFrames(Envelope.frame(spark.createDataset(events)), rel)
    // 1 Relation frame per partition + 3 frames per surviving key (2 keys)
    val frames = compacted.collect()
    assert(frames.count(_._1 != 0L) === 6)
    val replayed = Cdc.materialize(
      CdcPipeline.decodeFrames(compacted), rel)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(replayed === Map(1L -> "a", 3L -> "c3"))
  }

  test("last-LSN-wins upsert; deleted keys disappear") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("U", 20, 2, "1", Map("id" -> "1", "v" -> "b")),
      ev("I", 11, 3, "2", Map("id" -> "2", "v" -> "x")),
      ev("D", 30, 4, "2", null)))
    assert(out === Map("1" -> "b"))
  }

  test("same-LSN events tie-break on seq") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "first")),
      ev("U", 10, 2, "1", Map("id" -> "1", "v" -> "second"))))
    assert(out === Map("1" -> "second"))
  }

  // --- multi-origin last-writer-wins (active-active merge) ---

  private def evAt(op: String, lsn: Long, tsUs: Long, origin: String,
      id: String, after: Map[String, String]): ChangeEvent =
    ChangeEvent(op, s"lww-$lsn", lsn, 0, 1, lsn, tsUs, "public", "t", 1,
      Map("id" -> id), null, after, Nil, Nil, origin)

  private def lwwIds(events: Seq[ChangeEvent]): Map[String, String] = {
    import spark.implicits._
    Cdc.lwwCompact(Envelope.frame(spark.createDataset(events)), Seq("id"))
      .collect().map { r =>
        val m = r.getMap[String, String](r.fieldIndex("after"))
        m("id") -> m.getOrElse("v", null)
      }.toMap
  }

  test("lww: commit timestamp outranks LSN across origins") {
    // remote write at a HUGE lsn but an older commit ts must lose
    val out = lwwIds(Seq(
      evAt("I", 10, 1000L, null, "1", Map("id" -> "1", "v" -> "local-new")),
      evAt("U", 1L << 50, 500L, "site_b", "1", Map("id" -> "1", "v" -> "remote-old"))))
    assert(out === Map("1" -> "local-new"))
    // and a remote write with a NEWER commit ts must win despite any lsn
    val out2 = lwwIds(Seq(
      evAt("I", 1L << 50, 500L, null, "1", Map("id" -> "1", "v" -> "local-old")),
      evAt("U", 10, 1000L, "site_b", "1", Map("id" -> "1", "v" -> "remote-new"))))
    assert(out2 === Map("1" -> "remote-new"))
  }

  test("lww: exact commit-ts tie breaks toward the local (null-origin) write") {
    val out = lwwIds(Seq(
      evAt("U", 10, 1000L, null, "1", Map("id" -> "1", "v" -> "local")),
      evAt("U", 20, 1000L, "site_b", "1", Map("id" -> "1", "v" -> "remote"))))
    assert(out === Map("1" -> "local"))
  }

  test("lww: a winning delete removes the key; a losing delete does not") {
    val out = lwwIds(Seq(
      evAt("I", 10, 1000L, null, "1", Map("id" -> "1", "v" -> "a")),
      evAt("D", 20, 2000L, "site_b", "1", null),
      evAt("I", 11, 3000L, null, "2", Map("id" -> "2", "v" -> "b")),
      evAt("D", 21, 2500L, "site_b", "2", null)))
    assert(out === Map("2" -> "b"))
  }

  test("delete then re-insert at higher LSN resurrects the key") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("D", 20, 2, "1", null),
      ev("I", 30, 3, "1", Map("id" -> "1", "v" -> "re"))))
    assert(out === Map("1" -> "re"))
  }

  test("truncate removes rows whose latest event precedes it, keeps later ones") {
    val events = Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "old")),
      ev("T", 20, 2, null, null).copy(key = Map.empty),
      ev("I", 30, 3, "2", Map("id" -> "2", "v" -> "new")))
    import spark.implicits._
    val df = Envelope.frame(spark.createDataset(events))
    val out = Cdc.compact(df, Seq("id")).collect()
    assert(out.length === 1)
    assert(out.head.getMap[String, String](out.head.fieldIndex("after"))("id") === "2")
  }

  test("TOAST repair: unchanged column takes the previous image's value") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "fat-value")),
      ev("U", 20, 2, "1", Map("id" -> "1"), toasted = Seq("v"))), fillToast = true)
    assert(out === Map("1" -> "fat-value"))
  }

  test("TOAST repair across delete: re-insert does NOT inherit pre-delete value") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "gone")),
      ev("D", 20, 2, "1", null),
      ev("I", 30, 3, "1", Map("id" -> "1"), toasted = Seq("v"))), fillToast = true)
    // after a delete the slate is clean: toasted column has no prior value
    assert(out === Map("1" -> null))
  }

  test("truncate clears state in compactFillingToast; later rows survive") {
    val events = Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "old")),
      ev("T", 20, 2, null, null).copy(key = Map.empty),
      ev("I", 30, 3, "2", Map("id" -> "2", "v" -> "new")))
    import spark.implicits._
    val df = Envelope.frame(spark.createDataset(events))
    val out = Cdc.compactFillingToast(df, Seq("id")).collect()
    assert(out.length === 1)
    assert(out.head.getMap[String, String](out.head.fieldIndex("after"))("id") === "2")
  }

  test("truncate also severs TOAST repair: post-truncate update can't fill from pre-truncate image") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "fat-value")),
      ev("T", 20, 2, null, null).copy(key = Map.empty),
      ev("I", 30, 3, "1", Map("id" -> "1", "v" -> "fresh")),
      ev("U", 40, 4, "1", Map("id" -> "1"), toasted = Seq("v"))), fillToast = true)
    // fills from the post-truncate insert, never from the truncated row
    assert(out === Map("1" -> "fresh"))
  }

  test("TOAST repair keeps map_concat's entry order: kept toasted entries, then after") {
    import scala.collection.immutable.ListMap
    import spark.implicits._
    val events = Seq(
      ev("I", 10, 1, "1", ListMap("id" -> "1", "v" -> "v1", "w" -> "w1", "x" -> "x1", "y" -> "y1")),
      ev("U", 20, 2, "1", ListMap("x" -> "x2", "id" -> "1", "y" -> "y2"), toasted = Seq("w", "v")),
      ev("I", 30, 3, "2", ListMap("y" -> "y3", "x" -> "x3", "w" -> "w3", "v" -> "v3", "id" -> "2")))
    val out = Cdc.compactFillingToast(Envelope.frame(spark.createDataset(events)), Seq("id"))
      .select(org.apache.spark.sql.functions.map_keys($"after"),
        org.apache.spark.sql.functions.map_values($"after"), $"lsn")
      .collect().map(r => r.getLong(2) -> (r.getSeq[String](0), r.getSeq[String](1))).toMap
    // the row's toasted entries in the row's order (v before w), then the
    // update's image in its own order; an untouched image keeps its order
    assert(out === Map(
      20L -> (Seq("v", "w", "x", "id", "y"), Seq("v1", "w1", "x2", "1", "y2")),
      30L -> (Seq("y", "x", "w", "v", "id"), Seq("y3", "x3", "w3", "v3", "2"))))
  }

  test("compactFillingToast folds in FoldRunsExec and pins its SQL metrics") {
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, SerializeFromObjectExec}
    import spark.implicits._
    val events = Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("I", 11, 1, "2", Map("id" -> "2", "v" -> "b")),
      ev("U", 15, 1, "3", Map("id" -> "3", "v" -> "gone")),
      ev("T", 20, 1, null, null).copy(key = Map.empty),
      ev("I", 30, 1, "3", Map("id" -> "3", "v" -> "c", "w" -> "w3")),
      ev("U", 31, 1, "3", Map("id" -> "3", "v" -> "c2"), toasted = Seq("w")),
      ev("I", 32, 1, "4", Map("id" -> "4", "v" -> "d")),
      ev("U", 33, 1, "4", Map("id" -> "4"), toasted = Seq("v")),
      ev("U", 34, 1, "5", Map("id" -> "5"), toasted = Seq("v")),
      ev("D", 35, 1, "4", null))
    val out = Cdc.compactFillingToast(Envelope.frame(spark.createDataset(events)), Seq("id"))
    val got = out.collect().map(r => r.getLong(0) -> r.getMap[String, String](2)).toMap
    assert(got === Map(31L -> Map("w" -> "w3", "id" -> "3", "v" -> "c2"),
      34L -> Map("id" -> "5")))
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val plan = out.queryExecution.executedPlan
    val folds = plans.collect(plan) { case f: FoldRunsExec => f }
    assert(folds.size === 1, plan.toString)
    // 3 events at or below the truncate (its 4 copies are not events), 2
    // TOAST fills (key 5's update has no earlier row to fill from), and
    // the 2 surviving rows
    assert(folds.head.metrics.map { case (k, m) => k -> m.value } === Map(
      "numOutputRows" -> 2L, "numTruncated" -> 3L, "numToastFills" -> 2L))
    assert(plans.collect(plan) {
      case p: DeserializeToObjectExec => p
      case p: SerializeFromObjectExec => p
    }.isEmpty, plan.toString)
  }

  test("plain compact ignores TOAST (documented contrast with compactFillingToast)") {
    val out = compactIds(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "fat-value")),
      ev("U", 20, 2, "1", Map("id" -> "1"), toasted = Seq("v"))))
    assert(out === Map("1" -> null)) // toasted column absent → null in typed view
  }

  // --- SCD type-2 history ---

  private def scd2(events: Seq[ChangeEvent]): Seq[(String, String, Long, Option[Long], Boolean)] = {
    import spark.implicits._
    val df = Envelope.frame(spark.createDataset(events))
    Cdc.scd2History(df, Seq("id")).collect().map { r =>
      val m = r.getMap[String, String](r.fieldIndex("after"))
      val to = r.fieldIndex("valid_to_lsn")
      (m("id"), m.getOrElse("v", null), r.getLong(r.fieldIndex("valid_from_lsn")),
        if (r.isNullAt(to)) None else Some(r.getLong(to)),
        r.getBoolean(r.fieldIndex("is_current")))
    }.toSeq.sortBy(t => (t._1, t._3))
  }

  test("scd2: insert→update→delete yields two closed versions, none current") {
    val out = scd2(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("U", 20, 2, "1", Map("id" -> "1", "v" -> "b")),
      ev("D", 30, 3, "1", null)))
    assert(out === Seq(
      ("1", "a", 10L, Some(20L), false),
      ("1", "b", 20L, Some(30L), false)))
  }

  test("scd2: open version is current; delete-then-reinsert starts a fresh current version") {
    val out = scd2(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("D", 20, 2, "1", null),
      ev("I", 30, 3, "1", Map("id" -> "1", "v" -> "re")),
      ev("I", 15, 4, "2", Map("id" -> "2", "v" -> "x"))))
    assert(out === Seq(
      ("1", "a", 10L, Some(20L), false),
      ("1", "re", 30L, None, true),
      ("2", "x", 15L, None, true)))
  }

  test("scd2: truncate closes versions open at its WAL position, leaves closed history intact") {
    val out = scd2(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "a")),
      ev("U", 15, 2, "1", Map("id" -> "1", "v" -> "b")), // open at T=20 → closed at 20
      ev("I", 12, 3, "2", Map("id" -> "2", "v" -> "x")), // open at T=20 → closed at 20
      ev("T", 20, 4, null, null).copy(key = Map.empty),
      ev("I", 30, 5, "1", Map("id" -> "1", "v" -> "post")))) // after T → current
    assert(out === Seq(
      ("1", "a", 10L, Some(15L), false), // closed before T: interval untouched
      ("1", "b", 15L, Some(20L), false),
      ("1", "post", 30L, None, true),
      ("2", "x", 12L, Some(20L), false)))
  }

  test("scd2 current versions equal compacted state (orders wire pipeline)") {
    import org.apache.spark.sql.functions.{col, element_at}
    val events = CdcPipeline.decodeFrames(CdcPipeline.ordersToFrames(spark,
      "/root/testdata/sf0.001",
      CdcPipeline.DmlPattern(updates = true, deletes = true)))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(element_at(col("after"), "o_orderkey").cast("long"),
        element_at(col("after"), "o_totalprice").cast("double"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val current = rows(Cdc.scd2History(events, Seq("o_orderkey"))
      .filter(col("is_current")))
    val compacted = rows(Cdc.compact(events, Seq("o_orderkey")))
    assert(current.nonEmpty)
    assert(current === compacted)
  }

  test("scd2: same-LSN open/close tie-breaks on seq") {
    val out = scd2(Seq(
      ev("I", 10, 1, "1", Map("id" -> "1", "v" -> "first")),
      ev("U", 10, 2, "1", Map("id" -> "1", "v" -> "second"))))
    assert(out === Seq(
      ("1", "first", 10L, Some(10L), false),
      ("1", "second", 10L, None, true)))
  }

  test("incremental top-k: deleting the leader promotes the runner-up, no rescan") {
    import spark.implicits._
    def dev(op: String, lsn: Long, seq: Long, id: String, g: String, v: String,
        withBefore: Boolean) =
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
        Map("id" -> id),
        if (withBefore) Map("id" -> id, "grp" -> g, "val" -> v) else null,
        if (op == "D") null else Map("id" -> id, "grp" -> g, "val" -> v),
        Nil, Nil)
    val events = Seq(
      dev("I", 10, 1, "1", "a", "100", withBefore = false),
      dev("I", 11, 2, "2", "a", "90", withBefore = false),
      dev("I", 12, 3, "3", "a", "80", withBefore = false),
      dev("I", 13, 4, "4", "a", "70", withBefore = false),
      // the current leader (100) is deleted with a full before image
      ChangeEvent("D", "14-5", 14, 5, 1, 14, 0L, "public", "t", 1,
        Map("id" -> "1"), Map("id" -> "1", "grp" -> "a", "val" -> "100"),
        null, Nil, Nil))
    val out = Cdc.incrementalTopK(Envelope.frame(spark.createDataset(events)), "grp", "val", 3)
      .orderBy(org.apache.spark.sql.functions.col("rk"))
      .collect().map(r => (r.getAs[java.math.BigDecimal]("v").doubleValue, r.getAs[Int]("rk")))
    assert(out.toSeq === Seq((90.0, 1), (80.0, 2), (70.0, 3)))
  }

  test("numeric group keys with differing text renderings canonicalize into one group") {
    import spark.implicits._
    // the same numeric group 5 rendered three ways on the wire — raw text
    // grouping would make three groups; groupType canonicalizes first
    def gev(lsn: Long, seq: Long, id: String, g: String, v: String) =
      ChangeEvent("I", s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
        Map("id" -> id), null, Map("id" -> id, "grp" -> g, "val" -> v), Nil, Nil)
    val df = Envelope.frame(spark.createDataset(Seq(
      gev(10, 1, "1", "5", "1.5"),
      gev(11, 2, "2", "5.0", "2.5"),
      gev(12, 3, "3", "5.00", "3.0"))))
    val raw = Cdc.incrementalMinMax(df, "grp", "val").collect()
    assert(raw.length === 3) // the trap the canonicalizer exists for
    val canon = Cdc.incrementalMinMax(df, "grp", "val", groupType = Some("double"))
      .collect()
    assert(canon.length === 1)
    assert(canon.head.getAs[Long]("c") === 3L)
    // the SUM/COUNT delta path shares the same canonicalizer
    val deltaGroups = Cdc.aggDeltas(df, "grp", Seq("val"), groupType = Some("double"))
      .select("g").distinct().collect().map(_.getString(0)).toSeq
    assert(deltaGroups === Seq("5.0"))
  }

  test("dblog merge: watermark rule drops racy chunk rows; naive merge is provably wrong") {
    import spark.implicits._
    // Chunk read pinned at lo=10 (sees OLD values), window [10, 20].
    //  key 1: WAL update at 15 — IN window  → chunk row must drop, WAL wins
    //  key 2: WAL update at 25 — after hi   → chunk row emitted, WAL overrides later
    //  key 3: WAL delete at 18 — IN window  → chunk row drops, key gone
    //  key 4: no WAL            → chunk row IS the state
    //  key 5: WAL update AT lo=10 — IN window (closed at lo: the live low
    //         watermark is the WAL insert position sampled before the
    //         select, so a post-sample record starts exactly at lo —
    //         live-observed on the failover leg, where the strict test let
    //         a raced update lose to the stale chunk read)
    val wal = Envelope.frame(spark.createDataset(Seq(
      ev("U", 15, 1, "1", Map("id" -> "1", "v" -> "new1")),
      ev("U", 25, 2, "2", Map("id" -> "2", "v" -> "new2")),
      ev("D", 18, 3, "3", null),
      ev("U", 10, 5, "5", Map("id" -> "5", "v" -> "new5")))))
    val chunks = Seq(
      (0L, 10L, 20L, Map("id" -> "1"), Map("id" -> "1", "v" -> "old1")),
      (0L, 10L, 20L, Map("id" -> "2"), Map("id" -> "2", "v" -> "old2")),
      (0L, 10L, 20L, Map("id" -> "3"), Map("id" -> "3", "v" -> "old3")),
      (0L, 10L, 20L, Map("id" -> "4"), Map("id" -> "4", "v" -> "old4")),
      (0L, 10L, 20L, Map("id" -> "5"), Map("id" -> "5", "v" -> "old5")))
      .toDF("chunk_id", "lo_lsn", "hi_lsn", "key", "after")
    def state(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      val m = r.getMap[String, String](r.fieldIndex("after"))
      m("id") -> m.getOrElse("v", null)
    }.toMap
    val merged = state(Cdc.dblogMerge(wal, chunks, Seq("id")))
    assert(merged === Map("1" -> "new1", "2" -> "new2", "4" -> "old4",
      "5" -> "new5"))
    // WITHOUT the watermark rule the chunk events (positioned at hi=20)
    // outrank the in-window WAL: key 1 regresses to old1 and deleted key 3
    // resurrects — the exact anomalies DBLog's rule exists to prevent.
    val naiveChunkEvents = chunks.select(
      org.apache.spark.sql.functions.lit("I").as("op"),
      org.apache.spark.sql.functions.col("hi_lsn").as("lsn"),
      org.apache.spark.sql.functions.lit(0L).as("seq"),
      org.apache.spark.sql.functions.col("key"),
      org.apache.spark.sql.functions.col("after"))
    val naive = state(Cdc.compact(naiveChunkEvents.unionByName(
      wal.select(naiveChunkEvents.columns.map(
        org.apache.spark.sql.functions.col): _*)), Seq("id")))
    assert(naive("1") === "old1")
    assert(naive.contains("3"))
  }
}
