package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.streaming.Streams

/** The replayable DSv2 source end-to-end: batch read, micro-batch
  * streaming with admission control, offset restart, txn markers, and
  * rows identical to batch decode's (one `Envelope.schema`). */
class FrameReplaySourceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val rel = Relation(7, "public", "acct", 'd', Vector(
    RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
    RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))

  private def t(v: String) = ColumnData('t', Some(v))

  /** R, then n txns of (B, I, C). */
  private def writeLog(path: String, n: Int): Unit = {
    val frames = Iterator.single(FrameLog.Entry(0L, PgOutputEncoder.encode(rel))) ++
      (1 to n).iterator.flatMap { i =>
        val base = i * 10L
        Iterator(
          FrameLog.Entry(base, PgOutputEncoder.encode(Begin(base + 2, 1000L * i, i))),
          FrameLog.Entry(base + 1, PgOutputEncoder.encode(
            Insert(7, TupleData(Vector(t(i.toString), t(s"v$i")))))),
          FrameLog.Entry(base + 2, PgOutputEncoder.encode(Commit(0, base + 2, base + 2, 1000L * i))))
      }
    FrameLog.write(path, frames)
  }

  test("frame log write/read round-trip with ranges") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 5)
    assert(FrameLog.count(p) === 16) // 1 relation + 5 × 3
    assert(FrameLog.read(p).size === 16)
    assert(FrameLog.read(p, 4, 7).size === 3)
  }

  test("a torn tail record is tolerated (WAL-style partial-write recovery)") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 3) // 10 frames
    // append garbage shorter than a record header: a crashed writer's tail
    val out = new java.io.FileOutputStream(p, true)
    out.write(Array[Byte](0, 0, 0, 9)); out.close()
    assert(FrameLog.count(p) === 10) // torn tail ignored, intact prefix kept
    assert(FrameLog.read(p).size === 10)
  }

  test("batch read decodes the full log into envelope rows") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 10)
    val df = spark.read.format("pgcdc").option("path", p).load()
    val rows = df.collect()
    assert(rows.length === 10) // only I events emit
    assert(df.filter(col("op") === "I").count() === 10)
    val first = df.orderBy("lsn").first()
    assert(first.getAs[String]("table") === "acct")
    assert(first.getAs[Map[String, String]]("after") === Map("id" -> "1", "v" -> "v1"))
    assert(first.getAs[Int]("tx_id") === 1)
  }

  test("observed metrics accumulate inside the pass and sum to the batch ground truth") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 20) // 61 frames
    val stream = spark.readStream.format("pgcdc")
      .option("path", p).option("maxFramesPerTrigger", "7").load()
    val q = Streams.observedEnvelope(stream)
      .writeStream.format("memory").queryName("observed_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // per-micro-batch metrics ride the progress events — no extra query ran
    val metrics = q.recentProgress.toSeq
      .flatMap(pr => Option(pr.observedMetrics.get("graft_cdc")))
    assert(metrics.nonEmpty)
    assert(metrics.map(_.getAs[Long]("n_events")).sum === 20L)
    assert(metrics.map(_.getAs[Long]("n_inserts")).sum === 20L)
    assert(metrics.map(_.getAs[Long]("n_updates")).sum === 0L)
    assert(metrics.map(_.getAs[Long]("n_keyless")).sum === 0L)
    assert(metrics.map(_.getAs[Long]("n_toasted")).sum === 0L)
    // LSN high-water of the final batch = the log's last insert LSN
    assert(metrics.map(_.getAs[Long]("max_lsn")).max === 201L)
    assert(spark.sql("SELECT COUNT(*) FROM observed_out").first().getLong(0) === 20L)
  }

  test("streaming with maxFramesPerTrigger: multiple batches, no loss, no dupes") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 20) // 61 frames
    val stream = spark.readStream.format("pgcdc")
      .option("path", p).option("maxFramesPerTrigger", "7").load()
    val q = stream.writeStream.format("memory").queryName("replay_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql("SELECT after['id'] AS id FROM replay_out ORDER BY CAST(id AS INT)")
      .collect().map(_.getString(0))
    assert(got.toSeq === (1 to 20).map(_.toString))
    // AvailableNow + maxFramesPerTrigger=7 over 61 frames ⇒ ≥ 8 batches
    assert(q.recentProgress.length >= 8)
  }

  test("restart from checkpoint resumes at the committed offset (at-least-once, no replay of done work)") {
    val dir = Files.createTempDirectory("flog")
    val p = dir.resolve("log.bin").toString
    val ckpt = dir.resolve("ckpt").toString
    writeLog(p, 5)
    def run(): Long = {
      FrameReplaySourceSpec.runCount.set(0L)
      val q = spark.readStream.format("pgcdc")
        .option("path", p).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          FrameReplaySourceSpec.runCount.addAndGet(batch.count())
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      FrameReplaySourceSpec.runCount.get()
    }
    assert(run() === 5)
    // append 3 more txns, restart: only the new events arrive
    val frames = (6 to 8).iterator.flatMap { i =>
      val base = i * 10L
      Iterator(
        FrameLog.Entry(base, PgOutputEncoder.encode(Begin(base + 2, 1000L * i, i))),
        FrameLog.Entry(base + 1, PgOutputEncoder.encode(
          Insert(7, TupleData(Vector(t(i.toString), t(s"v$i")))))),
        FrameLog.Entry(base + 2, PgOutputEncoder.encode(Commit(0, base + 2, base + 2, 1000L * i))))
    }
    FrameLog.append(p, frames)
    assert(run() === 3) // only the newly appended events arrive after restart
  }

  test("streamed transactions survive micro-batch boundaries (segments replayed, exactly-once at commit)") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    def ins(xid: Int, id: Int) = PgOutputEncoder.encode(StreamedPart(xid,
      Insert(7, TupleData(Vector(t(id.toString), t(s"v$id"))))))
    // interleaved streamed txns: 10 commits (ids 1,2,4), 20 aborts (id 3);
    // maxFramesPerTrigger=5 forces batch cuts INSIDE open segments — the
    // replay reader rebuilds stream state from frame 0 each batch and only
    // emits events whose StreamCommit frame falls in the batch window
    val frames = Iterator(
      FrameLog.Entry(0L, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(1L, PgOutputEncoder.encode(StreamStart(10, firstSegment = true))),
      FrameLog.Entry(2L, ins(10, 1)),
      FrameLog.Entry(3L, ins(10, 2)),
      FrameLog.Entry(4L, PgOutputEncoder.encode(StreamStop)),
      FrameLog.Entry(5L, PgOutputEncoder.encode(StreamStart(20, firstSegment = true))),
      FrameLog.Entry(6L, ins(20, 3)),
      FrameLog.Entry(7L, PgOutputEncoder.encode(StreamStop)),
      FrameLog.Entry(8L, PgOutputEncoder.encode(StreamAbort(20, 20))),
      FrameLog.Entry(9L, PgOutputEncoder.encode(StreamStart(10, firstSegment = false))),
      FrameLog.Entry(10L, ins(10, 4)),
      FrameLog.Entry(11L, PgOutputEncoder.encode(StreamStop)),
      FrameLog.Entry(12L, PgOutputEncoder.encode(StreamCommit(10, 0, 100L, 101L, 5000L))),
      // plain txn after the streams
      FrameLog.Entry(20L, PgOutputEncoder.encode(Begin(22L, 6000L, 30))),
      FrameLog.Entry(21L, PgOutputEncoder.encode(
        Insert(7, TupleData(Vector(t("5"), t("v5")))))),
      FrameLog.Entry(22L, PgOutputEncoder.encode(Commit(0, 22L, 22L, 6000L))))
    FrameLog.write(p, frames)

    val stream = spark.readStream.format("pgcdc")
      .option("path", p).option("maxFramesPerTrigger", "5").load()
    val q = stream.writeStream.format("memory").queryName("replay_streamed")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.sql(
      "SELECT after['id'] AS id, tx_id FROM replay_streamed ORDER BY CAST(id AS INT)")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(got.toSeq === Seq(("1", 10), ("2", 10), ("4", 10), ("5", 30))) // 3 never
    assert(q.recentProgress.length >= 3) // boundaries really cut the streams
  }

  test("messages option surfaces 'M' rows; default hides them") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    val frames = Iterator(
      FrameLog.Entry(0L, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10L, PgOutputEncoder.encode(Begin(13L, 1000L, 7))),
      FrameLog.Entry(11L, PgOutputEncoder.encode(
        LogicalMessage(transactional = true, 11L, "audit", "k=1".getBytes("UTF-8")))),
      FrameLog.Entry(12L, PgOutputEncoder.encode(
        Insert(7, TupleData(Vector(t("1"), t("v1")))))),
      FrameLog.Entry(13L, PgOutputEncoder.encode(Commit(0, 13L, 13L, 1000L))))
    FrameLog.write(p, frames)
    def read(messages: Boolean) =
      spark.read.format("pgcdc")
        .option("path", p).option("messages", messages.toString).load()
    assert(read(messages = false).count() === 1) // just the insert
    val rows = read(messages = true).orderBy("lsn", "seq")
      .select("op", "after").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("M", "I"))
    val m = rows.head.getAs[Map[String, String]]("after")
    assert(m("prefix") === "audit" && m("content") === "k=1")
  }

  test("txn.markers option emits B/C sentinel rows") {
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    writeLog(p, 3)
    val df = spark.read.format("pgcdc")
      .option("path", p).option("txn.markers", "true").load()
    val ops = df.orderBy("lsn", "seq").select("op").collect().map(_.getString(0)).toSeq
    assert(ops === Seq("B", "I", "C", "B", "I", "C", "B", "I", "C"))
  }

  test("decodeFrames and the pgcdc source read one log into the same envelope rows") {
    // three inserts, a TOAST update, a key-only delete, a truncate and a
    // post-truncate insert, one transaction each
    val dml = Seq(Insert(7, TupleData(Vector(t("1"), t("a")))),
      Insert(7, TupleData(Vector(t("2"), t("b")))), Insert(7, TupleData(Vector(t("3"), t("c")))),
      Update(7, None, None, TupleData(Vector(t("1"), ColumnData('u', None)))),
      Delete(7, 'K', TupleData(Vector(t("2"), ColumnData('n', None)))),
      Truncate(0, Vector(7)), Insert(7, TupleData(Vector(t("4"), t("d")))))
    val frames = ((0L -> rel) +: dml.zipWithIndex.flatMap { case (m, i) =>
      val lsn = (i + 1) * 10L
      Seq(lsn -> Begin(lsn + 2, 1000L * i, i + 1), (lsn + 1) -> m,
        (lsn + 2) -> Commit(0, lsn + 2, lsn + 2, 1000L * i))
    }).map { case (lsn, m) => (lsn, PgOutputEncoder.encode(m)) }
    val p = Files.createTempDirectory("flog").resolve("log.bin").toString
    FrameLog.write(p, frames.iterator.map { case (lsn, b) => FrameLog.Entry(lsn, b) })
    import spark.implicits._
    val batch = graft.cdc.CdcPipeline.decodeFrames(
      spark.sparkContext.parallelize(frames, 1).toDS())
    val source = spark.read.format("pgcdc").option("path", p).load()

    assert(batch.schema.fieldNames.toSeq === Envelope.schema.fieldNames.toSeq)
    assert(source.schema.fieldNames.toSeq === Envelope.schema.fieldNames.toSeq)
    def rowCounts(df: DataFrame) =
      df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    assert(batch.count() === 7L) // 4 I, 1 U, 1 D, 1 T
    assert(rowCounts(batch) === rowCounts(source))
    assert(Streams.exactlyOnceEnvelope(batch).count() === 7L)
    def observed(df: DataFrame) = {
      val o = Streams.observedEnvelope(df)
      o.collect()
      o.queryExecution.observedMetrics("graft_cdc")
    }
    val metrics = observed(batch)
    assert(metrics === observed(source))
    assert(Seq("n_inserts", "n_updates", "n_deletes", "n_truncates", "n_toasted")
      .map(metrics.getAs[Long]) === Seq(4L, 1L, 1L, 1L, 1L))
  }
}

object FrameReplaySourceSpec {
  val runCount = new java.util.concurrent.atomic.AtomicLong(0L)
}
