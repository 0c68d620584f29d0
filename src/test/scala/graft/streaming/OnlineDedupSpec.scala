package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.sources.FrameLog

/** Online dedup at CDC ingest (Streams.onlineDedupSink): streaming
  * decisions must equal the batch wire-path twin (cdc_online_dedup), the
  * dup branch must resolve against PERSISTED state across micro-batches,
  * and the merge must be replay- and crash-safe like every other sink. */
class OnlineDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("online dedup sink across micro-batches equals the batch wire-path dedup") {
    val dir = Files.createTempDirectory("onlinededup")
    val p = dir.resolve("log.bin").toString
    // WAL order is the stream contract: sort the generated frames by LSN
    val frames = graft.cdc.CdcPipeline.documentsToFrames(spark, sfDir)
      .collect().sortBy(_._1).iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) }
    FrameLog.write(p, frames)
    // several micro-batches so later batches dedup against persisted state
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(400))
    val q = Streams.onlineDedupSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", dir.resolve("state").toString, dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val got = Streams.onlineDedupDecisions(spark, dir.resolve("state").toString)
      .select(col("id").cast("long"), col("h"), col("is_keeper"),
        col("keeper_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val expected = graft.SparkEntry.queries("cdc_online_dedup")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }

  test("online near-dup sink matches the batch LSH candidate-pair semantics") {
    val dir = Files.createTempDirectory("onlineneardup")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val frames = graft.cdc.CdcPipeline.documentsToFrames(spark, sfDir)
      .collect().sortBy(_._1).iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) }
    FrameLog.write(p, frames)
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(400))
    val q = Streams.onlineNearDupSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", stateDir, dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val got = Streams.onlineDedupDecisions(spark, stateDir)
      .select(col("id").cast("long"), col("is_neardup"), col("dup_of").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    // batch semantics: doc b is near-dup iff some pair (a, b) exists with
    // a < b (arrival ≡ id order under the LSN schedule); dup_of = min a
    val pairs = graft.SparkEntry.queries("dedup_minhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupOf = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val expected = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => (id, dupOf.contains(id), dupOf.getOrElse(id, -1L)))
      .sortBy(_._1).toSeq
    assert(dupOf.nonEmpty, "corpus should contain near-dup candidates")
    assert(got === expected)
    // replaying the whole log through the merge is a no-op (high-water)
    val whole = spark.read.format("pgcdc")
      .option("path", p).load()
    Streams.mergeNearDupBatch(whole, graft.cdc.CdcPipeline.documentsRelation,
      "text", stateDir, 8)
    val again = Streams.onlineDedupDecisions(spark, stateDir).count()
    assert(again === expected.length)
  }

  test("verified near-dup mode re-ranks candidates by signature similarity (est >= tau)") {
    // pick tau INSIDE the corpus' pair-est distribution so the verify stage
    // provably both passes and filters candidates
    val sigs0 = graft.SparkEntry.queries("dedup_minhash_sig")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1).split('|')).toMap
    def est0(a: Long, b: Long): Double =
      sigs0(a).zip(sigs0(b)).count { case (x, y) => x == y } / 12.0
    val pairs0 = graft.SparkEntry.queries("dedup_minhash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ests = pairs0.map { case (a, b) => est0(a, b) }
    assert(ests.min < ests.max, "corpus pair ests should not be uniform")
    val tau = (ests.min + ests.max) / 2
    val dir = Files.createTempDirectory("verifiedneardup")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val frames = graft.cdc.CdcPipeline.documentsToFrames(spark, sfDir)
      .collect().sortBy(_._1).iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) }
    FrameLog.write(p, frames)
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(400))
    val q = Streams.onlineNearDupSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", stateDir, dir.resolve("ckpt").toString, nBuckets = 8,
      minEstSim = Some(tau))
    q.processAllAvailable(); q.stop()
    val got = Streams.onlineDedupDecisions(spark, stateDir)
      .filter(col("is_neardup"))
      .select(col("id").cast("long"), col("dup_of").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    // batch semantics: qualifying pairs = band-sharing pairs whose signature
    // agreement is at least tau; flagged doc = earliest qualifying partner
    val expected = pairs0.filter { case (a, b) => est0(a, b) >= tau }
      .groupBy(_._2).map { case (b, ps) => (b, ps.map(_._1).min) }
      .toSeq.sortBy(_._1)
    assert(expected.nonEmpty, "tau should pass some candidates")
    assert(got === expected)
    // and the verify stage actually filtered: some raw candidates fell away
    val rawFlagged = pairs0.map(_._2).distinct.size
    assert(expected.size < rawFlagged || pairs0.exists { case (a, b) => est0(a, b) < tau },
      "verify stage filtered nothing")
  }

  test("cross-batch dups hit persisted state; merge is replay-safe and crash-safe") {
    val rel = Relation(9, "public", "docs", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "body", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("dedupreplay")
    val stateDir = dir.resolve("state").toString
    def log(n: String, entries: (Long, PgOutputMessage)*): org.apache.spark.sql.DataFrame = {
      val p = dir.resolve(n).toString
      FrameLog.write(p, Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++
        entries.iterator.map { case (l, m) => FrameLog.Entry(l, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", p).load()
    }
    def decisions(): Seq[(Long, Boolean, Long)] =
      Streams.onlineDedupDecisions(spark, stateDir)
        .collect().map(r => (r.getString(0).toLong, r.getBoolean(2), r.getString(3).toLong))
        .sortBy(_._1).toSeq
    // batch 1: docs 1 ("aaa"), 2 ("bbb"), 3 ("aaa") — an IN-batch dup
    val b1 = log("l1.bin",
      11L -> Insert(9, TupleData(Vector(t("1"), t("aaa")))),
      12L -> Insert(9, TupleData(Vector(t("2"), t("bbb")))),
      13L -> Insert(9, TupleData(Vector(t("3"), t("aaa")))))
    Streams.mergeDedupBatch(b1, rel, "body", stateDir, 4)
    val once = decisions()
    assert(once === Seq((1L, true, 1L), (2L, true, 2L), (3L, false, 1L)))
    // replay the SAME batch (crash before checkpoint commit): no duplicates
    Streams.mergeDedupBatch(b1, rel, "body", stateDir, 4)
    assert(decisions() === once)
    // batch 2 crashes AFTER its segment/bucket writes but BEFORE the
    // manifest flip: nothing publishes
    val b2 = log("l2.bin",
      21L -> Insert(9, TupleData(Vector(t("4"), t("bbb")))), // dup of batch 1's doc 2
      22L -> Insert(9, TupleData(Vector(t("5"), t("ccc")))))
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergeDedupBatch(b2, rel, "body", stateDir, 4)
    } finally StateStore.failBeforeCommit = false
    assert(decisions() === once, "crashed merge must not publish")
    // replay applies exactly once: the cross-batch dup resolves to the
    // PERSISTED keeper from batch 1
    Streams.mergeDedupBatch(b2, rel, "body", stateDir, 4)
    assert(decisions() === once ++ Seq((4L, false, 2L), (5L, true, 5L)))
    // replaying batch 2 again changes nothing
    Streams.mergeDedupBatch(b2, rel, "body", stateDir, 4)
    assert(decisions() === once ++ Seq((4L, false, 2L), (5L, true, 5L)))
    // seen-hash state holds exactly the 3 distinct contents
    assert(Streams.onlineDedupSeen(spark, stateDir).count() === 3)
    // offline segment compaction: layout folds to one segment; decision
    // content and the seen-hash buckets are untouched
    val mBefore = StateStore.load(stateDir)
    assert(mBefore.keys.count(_.startsWith("seg-")) === 2, mBefore.toString)
    Streams.compactSegments(spark, stateDir)
    val mAfter = StateStore.load(stateDir)
    assert(mAfter.keys.count(_.startsWith("seg-")) === 1, mAfter.toString)
    assert(mAfter("hwLsn") === mBefore("hwLsn"))
    assert(decisions() === once ++ Seq((4L, false, 2L), (5L, true, 5L)))
    assert(Streams.onlineDedupSeen(spark, stateDir).count() === 3)
  }

  test("online phash sink matches mm_phash_pairs oriented by arrival; replay-safe") {
    val dir = Files.createTempDirectory("onlinephash")
    val p = dir.resolve("log.bin").toString
    val stateDir = dir.resolve("state").toString
    val frames = graft.cdc.CdcPipeline.documentsToFrames(spark, sfDir)
      .collect().sortBy(_._1).iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) }
    FrameLog.write(p, frames)
    val env = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(400))
    val q = Streams.onlinePhashSink(env, graft.cdc.CdcPipeline.documentsRelation,
      "text", stateDir, dir.resolve("ckpt").toString, nBuckets = 8)
    q.processAllAvailable(); q.stop()
    val got = Streams.onlineDedupDecisions(spark, stateDir)
      .select(col("id").cast("long"), col("is_neardup"), col("dup_of").cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .sortBy(_._1).toSeq
    // batch semantics: doc b flags iff a pair (a, b) exists with a < b
    // (arrival ≡ id order under the LSN schedule); dup_of = min such a
    val pairs = graft.SparkEntry.queries("mm_phash_pairs")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dupOf = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val expected = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => (id, dupOf.contains(id), dupOf.getOrElse(id, -1L)))
      .sortBy(_._1).toSeq
    assert(dupOf.nonEmpty, "corpus should contain phash near-dup candidates")
    assert(got === expected)
    // whole-log redelivery through the merge is a no-op (high-water)
    val whole = spark.read.format("pgcdc")
      .option("path", p).load()
    Streams.mergePhashBatch(whole, graft.cdc.CdcPipeline.documentsRelation,
      "text", stateDir, 8)
    assert(Streams.onlineDedupDecisions(spark, stateDir).count() === expected.length)
  }

  test("phash sink: cross-batch dup via persisted index; crash publishes nothing") {
    val rel = Relation(9, "public", "docs", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "body", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    // pairwise aHash Hamming distances of A/B/C are all > 3 (chosen so);
    // only identical payloads pair
    val (pA, pB, pC) = ("the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs today",
      "sphinx of black quartz judge my vow forever more")
    val dir = Files.createTempDirectory("phashreplay")
    val stateDir = dir.resolve("state").toString
    def log(n: String, entries: (Long, PgOutputMessage)*): org.apache.spark.sql.DataFrame = {
      val p = dir.resolve(n).toString
      FrameLog.write(p, Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++
        entries.iterator.map { case (l, m) => FrameLog.Entry(l, PgOutputEncoder.encode(m)) })
      spark.read.format("pgcdc").option("path", p).load()
    }
    def decisions(): Seq[(Long, Boolean, Long)] =
      Streams.onlineDedupDecisions(spark, stateDir)
        .select(col("id"), col("is_neardup"), col("dup_of"))
        .collect()
        .map(r => (r.getLong(0), r.getBoolean(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .sortBy(_._1).toSeq
    val b1 = log("l1.bin",
      11L -> Insert(9, TupleData(Vector(t("1"), t(pA)))),
      12L -> Insert(9, TupleData(Vector(t("2"), t(pB)))),
      13L -> Insert(9, TupleData(Vector(t("3"), t(pA))))) // in-batch near-dup of 1
    Streams.mergePhashBatch(b1, rel, "body", stateDir, 4)
    val once = decisions()
    assert(once === Seq((1L, false, -1L), (2L, false, -1L), (3L, true, 1L)))
    // batch 2 crashes after writes but before the manifest flip
    val b2 = log("l2.bin",
      21L -> Insert(9, TupleData(Vector(t("4"), t(pB)))), // dup of persisted doc 2
      22L -> Insert(9, TupleData(Vector(t("5"), t(pC)))))
    StateStore.failBeforeCommit = true
    try intercept[IllegalStateException] {
      Streams.mergePhashBatch(b2, rel, "body", stateDir, 4)
    } finally StateStore.failBeforeCommit = false
    assert(decisions() === once, "crashed merge must not publish")
    // replay applies exactly once; the dup resolves against PERSISTED state
    Streams.mergePhashBatch(b2, rel, "body", stateDir, 4)
    assert(decisions() === once ++ Seq((4L, true, 2L), (5L, false, -1L)))
    Streams.mergePhashBatch(b2, rel, "body", stateDir, 4) // second replay: no-op
    assert(decisions() === once ++ Seq((4L, true, 2L), (5L, false, -1L)))
  }
}
