package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._

/** The live-source face: option validation, the framelog producer running
  * through the `pgcdc` format end-to-end, and the conduit machinery every
  * live producer shares. */
class PgCdcSourceSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("option validation: unknown producer, missing path, missing dsn/slot/publication") {
    intercept[IllegalArgumentException] {
      PgCdcOptions.validate(Map("producer" -> "kafka"))
    }
    intercept[IllegalArgumentException] {
      PgCdcOptions.validate(Map("producer" -> "framelog"))
    }
    val e = intercept[IllegalArgumentException] {
      PgCdcOptions.validate(Map("producer" -> "pgwire", "host" -> "x"))
    }
    assert(e.getMessage.contains("slot") && e.getMessage.contains("publication"))
    PgCdcOptions.validate(Map("producer" -> "framelog", "path" -> "/tmp/x"))
    PgCdcOptions.validate(Map("producer" -> "pgwire", "slot" -> "s", "publication" -> "p"))
  }

  test("CdcDemo.parseDsn: first-colon password split, percent-decoding, defaults") {
    val m = graft.CdcDemo.parseDsn("postgres://app:p%40:ss@db.example:5433/prod")
    assert(m("user") === "app")
    assert(m("password") === "p@:ss") // ':' inside the password survives
    assert(m("host") === "db.example" && m("port") === "5433")
    assert(m("database") === "prod")
    val d = graft.CdcDemo.parseDsn("postgresql://localhost")
    assert(d("user") === "postgres" && !d.contains("password"))
    assert(d("port") === "5432" && d("database") === "postgres")
    // libpq sslmode/sslrootcert query params → source options
    val s = graft.CdcDemo.parseDsn(
      "postgres://u@h/db?sslmode=verify-full&sslrootcert=%2Fetc%2Froot.crt")
    assert(s("sslMode") === "verify-full")
    assert(s("sslRootCert") === "/etc/root.crt")
    assert(!m.contains("sslMode")) // absent params stay absent
  }

  test("startLsn accepts Postgres X/Y text and plain decimal (PgLsn round trip)") {
    // the notation pg_current_wal_lsn() / pg_replication_slots print
    assert(PgLsn.parse("0/16B3748") === 0x16B3748L)
    assert(PgLsn.parse("A/0") === (0xAL << 32))
    assert(PgLsn.parse("FFFFFFFF/FFFFFFFF") === -1L) // full 64-bit range
    assert(PgLsn.parse("12345") === 12345L)          // plain decimal too
    assert(PgLsn.format(0x16B3748L) === "0/16B3748")
    assert(PgLsn.format((0xAL << 32) | 0x1L) === "A/1")
    // round trip over representative values
    Seq(0L, 1L, 0x16B3748L, (0x7FFFL << 32) | 0xDEADBEEFL).foreach { l =>
      assert(PgLsn.parse(PgLsn.format(l)) === l, s"round trip $l")
    }
  }

  test("LSN text codec round-trips the Postgres X/Y wire format") {
    assert(PgLsn.parse("0/0") === 0L)
    assert(PgLsn.parse("16/B3748F2C") === ((0x16L << 32) | 0xB3748F2CL))
    assert(PgLsn.format(PgLsn.parse("FFFFFFFF/FFFFFFFF")) === "FFFFFFFF/FFFFFFFF")
    (Seq(0L, 1L, 0x100000000L, 0x16B3748F2CL, Long.MaxValue)).foreach { l =>
      assert(PgLsn.parse(PgLsn.format(l)) === l)
    }
    intercept[IllegalArgumentException](PgLsn.parse("nope"))
  }

  test("pgcdc format with framelog producer streams envelope rows end-to-end") {
    val rel = Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val p = Files.createTempDirectory("pgcdc").resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(12, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(Insert(3, TupleData(Vector(t("42")))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Commit(0, 12, 12, 1000)))))
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("path", p).load()
      .writeStream.format("memory").queryName("pgcdc_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.sql("SELECT op, `table`, after['id'] FROM pgcdc_out").collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0) === "I")
    assert(rows.head.getString(1) === "t")
    assert(rows.head.getString(2) === "42")
  }

  test("the pgcdc short name resolves for spark.read and spark.readStream; " +
      "a batch read of a live producer names producer=framelog") {
    val rel = Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    val p = Files.createTempDirectory("pgcdc").resolve("log.bin").toString
    FrameLog.write(p, Iterator(
      FrameLog.Entry(0, PgOutputEncoder.encode(rel)),
      FrameLog.Entry(10, PgOutputEncoder.encode(Begin(12, 1000, 1))),
      FrameLog.Entry(11, PgOutputEncoder.encode(
        Insert(3, TupleData(Vector(ColumnData('t', Some("42"))))))),
      FrameLog.Entry(12, PgOutputEncoder.encode(Commit(0, 12, 12, 1000)))))
    assert(spark.read.format("pgcdc").option("path", p).load().count() === 1)
    val q = spark.readStream.format("pgcdc").option("path", p).load()
      .writeStream.format("memory").queryName("pgcdc_short_name")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000))
    assert(spark.sql("SELECT after['id'] FROM pgcdc_short_name").collect()
      .map(_.getString(0)).toSeq === Seq("42"))

    PgCdcConduits.register("mc_batch", new MockConduit)
    val e = intercept[Exception] {
      spark.read.format("pgcdc").option("producer", "conduit")
        .option("conduit.name", "mc_batch").load().collect()
    }
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("producer=framelog")), messages)
  }

  /** Scripted walsender stand-in: frames appended by the test; every
    * protocol interaction (start/read/flush) is recorded so the K2
    * sequencing — feedback strictly after batch commit — is assertable. */
  private final class MockConduit extends ReplicationConduit {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    private var cursor = 0
    val log = scala.collection.mutable.ArrayBuffer.empty[String]
    @volatile var startedAfter: Long = Long.MinValue
    def append(lsn: Long, msg: PgOutputMessage): Unit = synchronized {
      frames += ((lsn, PgOutputEncoder.encode(msg)))
    }
    override def start(afterLsn: Long): Unit = synchronized {
      startedAfter = afterLsn
      cursor = frames.indexWhere(_._1 > afterLsn) match {
        case -1 => frames.size
        case i => i
      }
      log += s"start($afterLsn)"
    }
    override def read(): Option[(Long, Array[Byte])] = synchronized {
      if (cursor < frames.size) {
        val f = frames(cursor); cursor += 1
        log += s"read(${f._1})"
        Some(f)
      } else None
    }
    override def setFlushedLSN(lsn: Long): Unit = synchronized { log += s"flush($lsn)" }
    override def close(): Unit = ()
    def flushes: Seq[Long] = synchronized {
      log.collect { case s if s.startsWith("flush(") =>
        s.stripPrefix("flush(").stripSuffix(")").toLong }.toSeq
    }
  }

  test("conduit machinery: begin→relation→insert→commit decode + flush strictly after the batch (K2)") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    mc.append(11, Begin(16, 1000, 7))
    mc.append(12, Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    mc.append(13, Insert(3, TupleData(Vector(t("42")))))
    mc.append(14, Insert(3, TupleData(Vector(t("43")))))
    mc.append(15, Insert(3, TupleData(Vector(t("44")))))
    mc.append(16, Commit(0, 16, 16, 1000))
    PgCdcConduits.register("mc_seq", mc)
    val ckpt = Files.createTempDirectory("conduit_ckpt").toString
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "mc_seq")
      .option("maxFramesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("conduit_out")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    // Spark delivers source.commit one trigger behind the batch; a trailing
    // no-row frame (PgType pre-warm) forces the cycle that commits the
    // insert's batch — deterministic without sleeping
    mc.append(18, PgType(20, "pg_catalog", "int8"))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT op, `table`, after['id'], tx_id, begin_lsn FROM conduit_out ORDER BY lsn")
      .collect()
    assert(rows.length === 3)
    assert(rows.map(_.getString(2)).toSeq === Seq("42", "43", "44"))
    assert(rows.forall(r => r.getString(0) == "I" && r.getString(1) == "t"))
    assert(rows.head.getInt(3) === 7)
    assert(rows.head.getLong(4) === 16L)
    // protocol sequencing: replication started from the initial offset; the
    // flush feedback for an offset comes strictly AFTER every read at or
    // below it (never before the engine durably owns the frames — K2); the
    // flushed sequence is nondecreasing and ends ONE BYTE BELOW the commit
    // record: the next transaction's first change can be reported AT a
    // commit's position (observed live), so the watermark for no-event
    // frames stops at raw-1 — restart re-reads the commit record, never
    // a data record
    assert(mc.startedAfter === 0L)
    val fl = mc.flushes
    assert(fl.nonEmpty && fl.last === 15L)
    assert(fl.zip(fl.tail).forall { case (a, b) => a <= b }, fl)
    fl.foreach { f =>
      val flushIdx = mc.log.indexOf(s"flush($f)")
      val readsBelow = mc.log.zipWithIndex.collect {
        case (s, i) if s.startsWith("read(") &&
          s.stripPrefix("read(").stripSuffix(")").toLong <= f => i }
      assert(readsBelow.forall(_ < flushIdx),
        s"flush($f) preceded a read it covers: ${mc.log.mkString(", ")}")
    }
    // admission control bounded each micro-batch to 2 EVENTS → ≥ 2 commits
    assert(fl.size >= 2, fl)
  }

  test("conduit machinery: protocol v2/v3 frames (streamed + 2PC) through the live path") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    val rel = Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    mc.append(10, rel)
    // streamed txn 70 commits (ids 1,2); streamed txn 80 aborts (id 3);
    // prepared txn gid "G" commits much later (id 4) — with
    // maxFramesPerTrigger=3 the batch boundaries cut inside both
    mc.append(11, StreamStart(70, firstSegment = true))
    mc.append(12, StreamedPart(70, Insert(3, TupleData(Vector(t("1"))))))
    mc.append(13, StreamStop)
    mc.append(14, StreamStart(80, firstSegment = true))
    mc.append(15, StreamedPart(80, Insert(3, TupleData(Vector(t("3"))))))
    mc.append(16, StreamStop)
    mc.append(17, StreamStart(70, firstSegment = false))
    mc.append(18, StreamedPart(70, Insert(3, TupleData(Vector(t("2"))))))
    mc.append(19, StreamStop)
    mc.append(20, StreamAbort(80, 80))
    mc.append(21, StreamCommit(70, 0, 21, 21, 1000))
    mc.append(22, BeginPrepare(24, 24, 2000, 90, "G"))
    mc.append(23, Insert(3, TupleData(Vector(t("4")))))
    mc.append(24, Prepare(0, 24, 24, 2000, 90, "G"))
    mc.append(25, CommitPrepared(0, 25, 25, 3000, 90, "G"))
    PgCdcConduits.register("mc_v2v3", mc)
    val ckpt = Files.createTempDirectory("conduit_ckpt_v2").toString
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "mc_v2v3")
      .option("maxFramesPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("conduit_v2v3")
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    // commit-cycle nudge: raw 28 lifts the watermark to 27, PAST the last
    // event offset 25, so the extra trigger that commits the final batch
    // runs (a lift to raw-1 = 25 would not move the offset)
    mc.append(28, PgType(20, "pg_catalog", "int8"))
    q.processAllAvailable(); q.stop()
    val rows = spark.sql(
      "SELECT after['id'] AS id, tx_id, commit_ts_us FROM conduit_v2v3 ORDER BY CAST(id AS INT)")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    // aborted streamed txn 80 leaves no trace; streamed 70 reassembles in
    // arrival order; the prepared txn carries its COMMIT PREPARED ts
    assert(rows.toSeq === Seq(("1", 70, 1000L), ("2", 70, 1000L), ("4", 90, 3000L)))
    // K2 unchanged by the new frame kinds: flushes nondecreasing, ending
    // just below the resolution frame (raw-1 watermark convention)
    val fl = mc.flushes
    assert(fl.nonEmpty && fl.last >= 24L)
    assert(fl.zip(fl.tail).forall { case (a, b) => a <= b }, fl)
  }

  test("recording conduit: live traffic tees to a frame log that replays identically") {
    def t(v: String) = ColumnData('t', Some(v))
    val dir = Files.createTempDirectory("rec")
    val logPath = dir.resolve("recorded.bin").toString
    val mc = new MockConduit
    mc.append(10, Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    (1 to 5).foreach { i =>
      mc.append(10L + i * 3, Begin(12L + i * 3, 1000L * i, i))
      mc.append(11L + i * 3, Insert(3, TupleData(Vector(t(i.toString)))))
      mc.append(12L + i * 3, Commit(0, 12L + i * 3, 12L + i * 3, 1000L * i))
    }
    PgCdcConduits.register("rec_src", new RecordingConduit(mc, logPath, flushEvery = 4))
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "rec_src")
      .load()
      .writeStream.format("memory").queryName("rec_live")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    q.processAllAvailable()
    mc.append(100, PgType(20, "pg_catalog", "int8")) // commit-cycle nudge
    q.processAllAvailable(); q.stop()
    // flush feedback forced the tee to disk before WAL reclaim — the log
    // replays to the same envelope rows the live stream produced
    val live = spark.sql("SELECT op, after['id'] AS id, lsn FROM rec_live ORDER BY lsn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val replayed = spark.read.format("pgcdc")
      .option("path", logPath).load()
      .select(col("op"), col("after")("id").as("id"), col("lsn")).orderBy("lsn")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(live.nonEmpty)
    assert(replayed.toSeq === live.toSeq)
  }

  test("conduit machinery: restart resumes at the checkpoint offset with the persisted registry (K2+K3)") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    mc.append(11, Begin(14, 1000, 7))
    mc.append(12, Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    mc.append(13, Insert(3, TupleData(Vector(t("1")))))
    mc.append(14, Commit(0, 14, 14, 1000))
    PgCdcConduits.register("mc_restart", mc)
    val ckpt = Files.createTempDirectory("conduit_ckpt2").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    def run(nudgeLsn: Option[Long] = None): Unit = {
      // memory sink cannot recover from a checkpoint; foreachBatch can
      val q = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", "mc_restart")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val ids = b.selectExpr("after['id']").collect().map(_.getString(0))
          got.synchronized { got ++= ids }
          ()
        }
        .start()
      q.processAllAvailable()
      // commit-cycle nudge AFTER the data batch (source.commit is one
      // trigger late): a no-event frame whose raw-1 lift moves the offset
      nudgeLsn.foreach { l =>
        mc.append(l, PgType(20, "pg_catalog", "int8"))
        q.processAllAvailable()
      }
      q.stop()
    }
    run()
    assert(got.toSeq === Seq("1"))
    // second transaction arrives while the engine is down — and the server
    // does NOT re-send the Relation message (a restarted walsender session
    // only re-sends a relation when it is next touched, and this one never
    // changes); decode must come from the checkpoint-persisted registry (K3)
    mc.append(21, Begin(23, 2000, 8))
    mc.append(22, Insert(3, TupleData(Vector(t("2")))))
    mc.append(23, Commit(0, 23, 23, 2000))
    run(nudgeLsn = Some(26))
    // resumed exactly at the durably-committed offset (one byte below the
    // first commit record): no re-delivery
    assert(mc.startedAfter === 13L)
    assert(got.toSeq === Seq("1", "2"))
    assert(mc.flushes.nonEmpty && mc.flushes.max <= 23L)
    assert(mc.flushes.max >= 22L, mc.flushes)
  }

  /** Faithful walsender restart model: `start(afterLsn)` re-sends from the
    * boundary of the first transaction whose COMMIT lies beyond `afterLsn`
    * — i.e. the whole enclosing transaction when the position lands
    * mid-txn — which is what a real server does (MockConduit's
    * frame-filtering start() models the opposite and cannot exercise the
    * re-sent-prefix path). */
  private final class TxnResendConduit(
      frames: Seq[(Long, PgOutputMessage)]) extends ReplicationConduit {
    private val encoded = frames.map { case (l, m) => (l, PgOutputEncoder.encode(m)) }
    // start index of each transaction (frame after the previous Commit)
    private val txnStarts: Seq[(Long, Int)] = {
      var starts = Vector.empty[(Long, Int)] // (commitLsn, startIdx)
      var cur = 0
      frames.zipWithIndex.foreach {
        case ((l, _: Commit), i) => starts :+= ((l, cur)); cur = i + 1
        case _ => ()
      }
      starts
    }
    private var cursor = 0
    @volatile var available: Int = Int.MaxValue // frames visible (crash point)
    // fault injection: the Nth read() throws ONCE (a dying socket by
    // default; override failureWith to inject typed server errors); the
    // next start(afterLsn) re-arms the conduit like a fresh session
    @volatile var failAfterReads: Long = Long.MaxValue
    @volatile var failureWith: () => Throwable =
      () => new java.io.IOException("injected conduit failure")
    private var reads = 0L
    @volatile var starts = 0
    override def start(afterLsn: Long): Unit = synchronized {
      starts += 1
      cursor = txnStarts.find(_._1 > afterLsn).map(_._2).getOrElse(encoded.size)
    }
    override def read(): Option[(Long, Array[Byte])] = synchronized {
      if (reads >= failAfterReads) {
        failAfterReads = Long.MaxValue
        throw failureWith()
      }
      if (cursor < math.min(encoded.size, available)) {
        reads += 1
        val f = encoded(cursor); cursor += 1; Some(f)
      } else None
    }
    override def setFlushedLSN(lsn: Long): Unit = synchronized { flushedTo = math.max(flushedTo, lsn) }
    @volatile var flushedTo = 0L
    override def walPositions: Option[(Long, Long)] =
      Some((encoded.lastOption.map(_._1).getOrElse(0L), flushedTo))
    override def close(): Unit = ()
  }

  test("restart with a MID-TRANSACTION checkpoint: the re-sent transaction " +
      "prefix is skipped, the tail delivers, no crash loop (live-confirmed bug)") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(3, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def ins(i: Int) = Insert(3, TupleData(Vector(t(i.toString))))
    // one 9-row transaction (frames 2..10) + a later 2-row transaction;
    // maxFramesPerTrigger=4 puts batch boundaries inside the big txn
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(110, 1000, 5)) ++
        (1 to 9).map(i => (99L + i) -> (ins(i): PgOutputMessage)) ++
        Seq(110L -> Commit(0, 110, 110, 1000),
          200L -> Begin(203, 2000, 6),
          201L -> ins(10), 202L -> ins(11),
          203L -> Commit(0, 203, 203, 2000))
    val mc = new TxnResendConduit(frames)
    PgCdcConduits.register("mc_midtxn", mc)
    val ckpt = Files.createTempDirectory("conduit_midtxn").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    def run(avail: Int): Unit = {
      mc.available = avail
      val q = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", "mc_midtxn")
        .option("maxFramesPerTrigger", "4")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.selectExpr("lsn", "after['id']").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    // run 1 "crashes" with only 8 frames visible: rel + Begin + 6 inserts —
    // the committed offset lands mid-transaction
    run(avail = 8)
    val run1 = got.synchronized(got.toVector)
    assert(run1.nonEmpty && run1.map(_._2).distinct.size < 11)
    // run 2 sees everything; the conduit re-sends the WHOLE big txn from
    // its Begin (commit 110 > any mid-txn offset)
    run(avail = Int.MaxValue)
    val all = got.synchronized(got.toVector)
    // every row delivered; re-deliveries (at-least-once across the crash
    // point) carry IDENTICAL offsets — never shifted duplicates
    assert(all.map(_._2).toSet === (1 to 11).map(_.toString).toSet)
    val byId = all.groupBy(_._2).view.mapValues(_.map(_._1).distinct)
    val shifted = byId.filter(_._2.size > 1)
    assert(shifted.isEmpty, s"re-sent rows landed on shifted offsets: ${shifted.take(3)}")
  }

  test("in-place reconnect: a conduit death MID-TRANSACTION is healed by " +
      "the factory inside the same query — all rows once, offsets stable, " +
      "no Spark restart") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(8, "public", "rc", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def ins(i: Int) = Insert(8, TupleData(Vector(t(i.toString))))
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(110, 1000, 5)) ++
        (1 to 9).map(i => (99L + i) -> (ins(i): PgOutputMessage)) ++
        Seq(110L -> Commit(0, 110, 110, 1000),
          200L -> Begin(203, 2000, 6),
          201L -> ins(10), 202L -> ins(11),
          203L -> Commit(0, 203, 203, 2000))
    val mc = new TxnResendConduit(frames)
    mc.failAfterReads = 7 // dies inside the 9-row transaction
    PgCdcConduits.register("mc_reconnect", mc)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "mc_reconnect")
      .option("maxFramesPerTrigger", "4")
      .option("reconnectRetries", "3").option("reconnectBackoffMs", "1")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("conduit_rc").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.selectExpr("lsn", "after['id']").collect()
          .map(r => (r.getLong(0), r.getString(1)))
        got.synchronized { got ++= rows }
        ()
      }
      .start()
    q.processAllAvailable()
    // the source reports production lag metrics in the streaming progress
    // (ReportsSourceMetrics): reconnect count, server high-water vs durable
    // flush, and decoded-but-uncommitted frames held on the driver
    val metrics = q.lastProgress.sources.head.metrics
    assert(metrics.get("reconnects") === "1", s"metrics: $metrics")
    assert(metrics.get("serverWalEnd") === "203")
    assert(metrics.containsKey("replicationLagBytes") &&
      metrics.containsKey("flushedLsn") && metrics.containsKey("bufferedFrames"),
      s"missing lag metrics: $metrics")
    q.stop()
    val all = got.synchronized(got.toVector)
    // the death + factory rebuild happened (initial start + reconnect)
    assert(mc.starts >= 2, s"expected a reconnect start, got ${mc.starts}")
    // every row delivered; the re-sent prefix landed on its ORIGINAL
    // offsets (dropped at the replay horizon) — never shifted duplicates
    assert(all.map(_._2).toSet === (1 to 11).map(_.toString).toSet)
    val byId = all.groupBy(_._2).view.mapValues(_.map(_._1).distinct)
    val shifted = byId.filter(_._2.size > 1)
    assert(shifted.isEmpty, s"rows landed on shifted offsets: ${shifted.take(3)}")
    assert(all.size === 11, s"duplicate delivery: ${all.sortBy(_._1)}")
  }

  test("reconnect crash-point sweep: exactly-once and stable offsets hold " +
      "for a conduit death after EVERY possible delivered-frame count " +
      "(mid-txn, at txn boundaries, mid-second-txn)") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(8, "public", "rcs", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def ins(i: Int) = Insert(8, TupleData(Vector(t(i.toString))))
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(110, 1000, 5)) ++
        (1 to 9).map(i => (99L + i) -> (ins(i): PgOutputMessage)) ++
        Seq(110L -> Commit(0, 110, 110, 1000),
          200L -> Begin(203, 2000, 6),
          201L -> ins(10), 202L -> ins(11),
          203L -> Commit(0, 203, 203, 2000))
    for (crashAfter <- 1 to 14) {
      val mc = new TxnResendConduit(frames)
      mc.failAfterReads = crashAfter.toLong
      PgCdcConduits.register(s"mc_sweep_$crashAfter", mc)
      val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      val q = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", s"mc_sweep_$crashAfter")
        .option("maxFramesPerTrigger", "4")
        .option("reconnectRetries", "3").option("reconnectBackoffMs", "1")
        .load()
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"conduit_sweep_$crashAfter").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.selectExpr("lsn", "after['id']").collect()
            .map(r => (r.getLong(0), r.getString(1)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
      val all = got.synchronized(got.toVector)
      assert(all.map(_._2).toSet === (1 to 11).map(_.toString).toSet,
        s"crashAfter=$crashAfter: missing rows in ${all.sortBy(_._1)}")
      assert(all.size === 11,
        s"crashAfter=$crashAfter: duplicate delivery ${all.sortBy(_._1)}")
      val shifted = all.groupBy(_._2).view.mapValues(_.map(_._1).distinct)
        .filter(_._2.size > 1)
      assert(shifted.isEmpty,
        s"crashAfter=$crashAfter: shifted offsets ${shifted.take(3)}")
    }
  }

  test("reconnect policy is SQLSTATE-aware: a TERMINAL server error (55000, " +
      "e.g. an invalidated slot) fails the query with ZERO reconnect dials; " +
      "a transient 57P01 admin-shutdown error IS retried to completion") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(8, "public", "rp", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def ins(i: Int) = Insert(8, TupleData(Vector(t(i.toString))))
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(103, 1000, 5)) ++
        (1 to 3).map(i => (99L + i) -> (ins(i): PgOutputMessage)) ++
        Seq(103L -> Commit(0, 103, 103, 1000))
    def run(name: String, failure: () => Throwable): (TxnResendConduit,
        Either[Throwable, Vector[String]]) = {
      val mc = new TxnResendConduit(frames)
      mc.failAfterReads = 2
      mc.failureWith = failure
      PgCdcConduits.register(name, mc)
      val got = scala.collection.mutable.ArrayBuffer.empty[String]
      val q = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", name)
        .option("reconnectRetries", "3").option("reconnectBackoffMs", "1")
        .load()
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory(s"conduit_$name").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.selectExpr("after['id']").collect().map(_.getString(0))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      val out =
        try { q.processAllAvailable(); Right(got.synchronized(got.toVector)) }
        catch { case e: Throwable => Left(e) }
      q.stop()
      (mc, out)
    }
    // invalidated slot: the policy must NOT burn the 3-dial backoff
    // schedule before surfacing — the state cannot heal by reconnecting
    val (mcT, outT) = run("rp_terminal", () => new java.sql.SQLException(
      "pgwire: ERROR: cannot read from logical replication slot \"s\" " +
        "(SQLSTATE 55000)", "55000"))
    assert(outT.isLeft, "a terminal error must fail the query")
    assert(mcT.starts === 1,
      s"terminal error must not trigger reconnect dials, got ${mcT.starts} starts")
    val chain = Iterator.iterate(outT.left.toOption.get)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(chain.contains("55000"), s"the server's error must surface: $chain")
    // admin shutdown (57P01): transient — the factory rebuild heals it and
    // every row still arrives exactly once
    val (mcR, outR) = run("rp_transient", () => new java.sql.SQLException(
      "pgwire: FATAL: terminating connection due to administrator command " +
        "(SQLSTATE 57P01)", "57P01"))
    assert(outR === Right(Vector("1", "2", "3")), s"got $outR")
    assert(mcR.starts >= 2, "the transient error must have been retried")
    // active slot (55006 object_in_use): retryable DESPITE the mostly-
    // terminal class 55 — after a half-open disconnect the server-side
    // walsender holds the slot until wal_sender_timeout, so the redial's
    // refusal clears by itself
    val (mcA, outA) = run("rp_active", () => new java.sql.SQLException(
      "pgwire: ERROR: replication slot \"s\" is active for PID 123 " +
        "(SQLSTATE 55006)", "55006"))
    assert(outA === Right(Vector("1", "2", "3")), s"got $outA")
    assert(mcA.starts >= 2, "the active-slot race must have been retried")
  }

  test("multi-slot parallel ingestion: two sources (one per slot) union into " +
      "ONE query with independent per-source offsets; a restart resumes BOTH " +
      "from their own positions; order holds within a slot, never across") {
    // The 100 TB CDC story: the protocol is one cursor per slot, so scale-out
    // is N publications → N slots → N source instances in one Spark app.
    // Spark's checkpoint tracks each source's offset independently — slot A
    // stopping mid-stream must not stall or rewind slot B.
    def t(v: String) = ColumnData('t', Some(v))
    def mkRel(id: Int, name: String) = Relation(id, "public", name, 'd',
      Vector(RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def framesOf(rel: Relation, n: Int): Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage)) ++ (1 to n).flatMap { i =>
        Seq(
          (i * 8L) -> (Begin(i * 8L + 2, 1000, i): PgOutputMessage),
          (i * 8L + 1) -> Insert(rel.relationId,
            TupleData(Vector(t(i.toString)))),
          (i * 8L + 2) -> Commit(0, i * 8L + 2, i * 8L + 2, 1000))
      }
    val mcA = new TxnResendConduit(framesOf(mkRel(61, "ta"), 12))
    val mcB = new TxnResendConduit(framesOf(mkRel(62, "tb"), 9))
    PgCdcConduits.register("ms_a", mcA)
    PgCdcConduits.register("ms_b", mcB)
    // phase 1: each slot's backlog cuts at a DIFFERENT point (A after key 5's
    // txn = 1 + 5·3 frames; B after key 2's txn)
    mcA.available = 16
    mcB.available = 7
    val ckpt = Files.createTempDirectory("multi_slot").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    def run(): Unit = {
      val srcA = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", "ms_a")
        .option("maxFramesPerTrigger", "4").load()
      val srcB = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", "ms_b")
        .option("maxFramesPerTrigger", "4").load()
      val q = srcA.unionByName(srcB).writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, batchId: Long) =>
          val rows = b.selectExpr("table", "after['id']", "lsn").collect()
            .map(r => (batchId, r.getString(0), r.getString(1).toLong, r.getLong(2)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    val phase1 = got.synchronized(got.toVector)
    val p1A = phase1.filter(_._2 == "ta").map(_._3).toSet
    val p1B = phase1.filter(_._2 == "tb").map(_._3).toSet
    assert(p1A === (1 to 5).map(_.toLong).toSet,
      s"slot A must deliver its own backlog independently, got $p1A")
    assert(p1B === (1 to 2).map(_.toLong).toSet,
      s"slot B must deliver its own backlog independently, got $p1B")
    // phase 2: both backlogs open up; the SAME checkpoint resumes each
    // source from its own offset — no rewind, no cross-slot interference
    mcA.available = Int.MaxValue
    mcB.available = Int.MaxValue
    run()
    val all = got.synchronized(got.toVector)
    assert(all.filter(_._2 == "ta").map(_._3).sorted === (1L to 12L),
      "slot A: every row exactly once across the restart")
    assert(all.filter(_._2 == "tb").map(_._3).sorted === (1L to 9L),
      "slot B: every row exactly once across the restart")
    // per-slot ordering contract: WITHIN a slot, batches deliver in LSN
    // order (max lsn of an earlier batch < min lsn of a later one); ACROSS
    // slots no order exists — the lsn axes are unrelated WAL positions
    Seq("ta", "tb").foreach { tbl =>
      val byBatch = all.filter(_._2 == tbl).groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (bid, rows) => (bid, rows.map(_._4).min, rows.map(_._4).max) }
      byBatch.sliding(2).foreach {
        case Seq((b1, _, max1), (b2, min2, _)) =>
          assert(max1 < min2,
            s"$tbl: batch $b1 max lsn $max1 !< batch $b2 min lsn $min2")
        case _ => ()
      }
    }
  }

  test("reconnect dial budget is SHARED across a read's reconnect cycles: " +
      "worst case is reconnectRetries FAILED dials, not retries² — and a " +
      "successful reconnect always leaves the next read a retry (r6-advice low)") {
    // start(): the initial connection succeeds, then dials fail twice and
    // succeed every third attempt; read(): always fails retryable. Under a
    // per-invocation budget this burns 3 invocations × 3 dials = 9 dials
    // (plus the initial start) before surfacing; the shared budget caps
    // FAILED dials at reconnectRetries = 3, successes ride free (so a
    // reconnect that heals can never strand the follow-up read at zero).
    val startAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val conduit = new ReplicationConduit {
      override def start(afterLsn: Long): Unit = {
        val n = startAttempts.incrementAndGet()
        if (n > 1 && n % 3 != 1) // attempts 2,3 fail; 4 succeeds; 5,6 fail …
          throw new java.io.IOException(s"injected dial failure #$n")
      }
      override def read(): Option[(Long, Array[Byte])] =
        throw new java.io.IOException("injected read failure")
      override def setFlushedLSN(lsn: Long): Unit = ()
      override def walPositions: Option[(Long, Long)] = None
      override def close(): Unit = ()
    }
    PgCdcConduits.register("shared_budget", conduit)
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "shared_budget")
      .option("reconnectRetries", "3").option("reconnectBackoffMs", "1")
      .load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("shared_budget").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    val failed = try { q.processAllAvailable(); false }
      catch { case _: Throwable => true }
    q.stop()
    assert(failed, "a read that never heals must fail the query")
    // 1 initial start + 4 dials: attempts 2,3 fail (2 budget), 4 heals
    // (free — the follow-up read keeps its 1 remaining retry), 5 fails
    // (3rd and last budgeted failure) → the next read failure surfaces.
    // Exactly reconnectRetries = 3 FAILED dials, linear, with the
    // post-success grace intact.
    assert(startAttempts.get === 5,
      s"expected 5 start attempts (1 initial + 2 failed + 1 healed + " +
        s"1 failed), got ${startAttempts.get}")
  }

  test("connect-OK/read-fail flap terminates: when every reconnect dial " +
      "succeeds but read() keeps failing retryable, the read surfaces the " +
      "error after reconnectRetries rebuilt sessions instead of spinning " +
      "forever on a never-billed dial budget (r7-advice medium)") {
    // start() ALWAYS succeeds (free under the shared failed-dial budget);
    // read() ALWAYS throws retryable. Without the cycle cap the loop is
    // infinite: failBudget never decreases and each cycle resets backoff.
    val startAttempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val conduit = new ReplicationConduit {
      override def start(afterLsn: Long): Unit = { startAttempts.incrementAndGet(); () }
      override def read(): Option[(Long, Array[Byte])] =
        throw new java.io.IOException("injected read failure (half-open accept)")
      override def setFlushedLSN(lsn: Long): Unit = ()
      override def walPositions: Option[(Long, Long)] = None
      override def close(): Unit = ()
    }
    PgCdcConduits.register("flap_budget", conduit)
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "flap_budget")
      .option("reconnectRetries", "3").option("reconnectBackoffMs", "1")
      .load()
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("flap_budget").toString)
      .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => () }
      .start()
    // must terminate — bounded, so a plain await with a generous timeout
    val failed = try {
      q.awaitTermination(60000) // true iff the query terminated (with error)
    } catch { case _: Throwable => true }
    q.stop()
    assert(failed, "a connect-OK/read-fail flap must fail the query, not spin")
    // 1 initial start + exactly reconnectRetries = 3 healed-but-futile
    // sessions; the 4th read failure finds the cycle cap spent and surfaces.
    assert(startAttempts.get === 4,
      s"expected 4 start attempts (1 initial + 3 capped reconnect cycles), " +
        s"got ${startAttempts.get}")
  }

  test("maxBytesPerTrigger: byte-budget admission splits the backlog into " +
      "multiple batches (soft cap — every batch admits at least one frame), " +
      "composes with maxFramesPerTrigger, all rows exactly once") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(9, "public", "bb", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    def ins(i: Int) = Insert(9, TupleData(Vector(t(i.toString))))
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(110, 1000, 5)) ++
        (1 to 9).map(i => (99L + i) -> (ins(i): PgOutputMessage)) ++
        Seq(110L -> Commit(0, 110, 110, 1000))
    def run(opts: Map[String, String], availableNow: Boolean = false): Vector[Int] = {
      val name = "bb_" + opts.hashCode.abs + (if (availableNow) "_an" else "")
      PgCdcConduits.register(name, new TxnResendConduit(frames))
      val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
      var r = spark.readStream.format("graft.sources.PgCdcProvider")
        .option("producer", "conduit").option("conduit.name", name)
      opts.foreach { case (k, v) => r = r.option(k, v) }
      var w = r.load().writeStream
        .option("checkpointLocation", Files.createTempDirectory("bb").toString)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val n = b.count().toInt
          if (n > 0) batchSizes.synchronized { batchSizes += n }
          ()
        }
      if (availableNow) w = w.trigger(Trigger.AvailableNow())
      val q = w.start()
      if (availableNow) assert(q.awaitTermination(60000), "must terminate")
      else { q.processAllAvailable(); q.stop() }
      batchSizes.synchronized(batchSizes.toVector)
    }
    // a 1-byte budget degenerates to one frame per batch (soft cap):
    // 9 single-row batches, never a stall
    val tiny = run(Map("maxBytesPerTrigger" -> "1"))
    assert(tiny === Vector.fill(9)(1), s"got $tiny")
    // a generous byte budget with a 4-frame cap: the composite takes the
    // tighter dimension → 4+4+1
    val framed = run(Map(
      "maxBytesPerTrigger" -> "1000000", "maxFramesPerTrigger" -> "4"))
    assert(framed === Vector(4, 4, 1), s"got $framed")
    // a mid-size byte budget batches by accumulated payload; every row
    // still arrives exactly once
    val mid = run(Map("maxBytesPerTrigger" -> "60"))
    assert(mid.sum === 9 && mid.size > 1 && mid.size < 9, s"got $mid")
    // Trigger.AvailableNow under a byte budget: the pinned backlog drains
    // in byte-bounded batches and the query TERMINATES (the pinned-advance
    // loop spends the budget, never spins)
    val an = run(Map("maxBytesPerTrigger" -> "60"), availableNow = true)
    assert(an.sum === 9 && an.size > 1, s"got $an")
  }

  test("minPartitions: a batch's envelope rows fan out over N input " +
      "partitions (downstream transforms parallelize), all rows delivered") {
    def t(v: String) = ColumnData('t', Some(v))
    val rel = Relation(10, "public", "mp", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1)))
    val frames: Seq[(Long, PgOutputMessage)] =
      Seq(0L -> (rel: PgOutputMessage), 99L -> Begin(111, 1000, 5)) ++
        (1 to 11).map(i =>
          (99L + i) -> (Insert(10, TupleData(Vector(t(i.toString)))): PgOutputMessage)) ++
        Seq(111L -> Commit(0, 111, 111, 1000))
    PgCdcConduits.register("mp_fan", new TxnResendConduit(frames))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[String])]
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "mp_fan")
      .option("minPartitions", "3")
      .load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("mp_fan").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = b.selectExpr("after['id']").collect().map(_.getString(0)).toSeq
        if (ids.nonEmpty)
          seen.synchronized { seen += ((b.rdd.getNumPartitions, ids)) }
        ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    val batches = seen.synchronized(seen.toVector)
    assert(batches.nonEmpty)
    assert(batches.exists(_._1 === 3), s"partition counts: ${batches.map(_._1)}")
    assert(batches.flatMap(_._2).sorted === (1 to 11).map(_.toString).sorted)
  }

  test("drain fails loudly on a mid-stream misordered event beyond the " +
      "restart re-send window (r4 advice: no silent sub-watermark drops)") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    mc.append(10, Relation(6, "public", "w", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    mc.append(100, Begin(103, 1000, 11))
    mc.append(101, Insert(6, TupleData(Vector(t("1")))))
    mc.append(103, Commit(0, 103, 103, 1000))
    // a frame no healthy walsender produces: an EVENT below the watermark
    // with no restart in between (the commit marker lifted the watermark
    // to 102; this event chains to offset 102 ≤ watermark, and the replay
    // horizon is still the session's start point 0)
    mc.append(50, Insert(6, TupleData(Vector(t("2")))))
    val mb = new PgCdcMicroBatch(mc, 0L, None, false,
      Files.createTempDirectory("conduit_misorder").toString)
    val e = intercept[IllegalArgumentException] {
      mb.latestOffset(LsnOffset(0L),
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    }
    assert(e.getMessage.contains("out-of-order"))
    mb.stop()
  }

  test("conduit machinery: a logged-but-uncommitted batch re-plans by draining the conduit (crash replay)") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    mc.append(11, Begin(13, 1000, 9))
    mc.append(12, Relation(4, "public", "u", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    mc.append(13, Insert(4, TupleData(Vector(t("5")))))
    val mb = new PgCdcMicroBatch(mc, 0L, None, false,
      Files.createTempDirectory("conduit_ckpt3").toString)
    // Spark, restarting after a crash that logged offsets [0 → 13] but never
    // committed, calls planInputPartitions directly — no latestOffset first
    val parts = mb.planInputPartitions(LsnOffset(0L), LsnOffset(13L))
    assert(parts.length === 1)
    val events = parts.head.asInstanceOf[EnvelopeEventsPartition].events
    assert(events.map(_.op).toSeq === Seq("I"))
    assert(mc.startedAfter === 0L)
    mb.stop()
  }

  test("conduit machinery: Trigger.AvailableNow drains the pinned backlog in rate-limited batches and terminates") {
    def t(v: String) = ColumnData('t', Some(v))
    val mc = new MockConduit
    mc.append(10, Relation(5, "public", "r", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))))
    (1 to 6).foreach { i =>
      mc.append(10 + i, Insert(5, TupleData(Vector(t(i.toString)))))
    }
    PgCdcConduits.register("mc_avnow", mc)
    val q = spark.readStream.format("graft.sources.PgCdcProvider")
      .option("producer", "conduit").option("conduit.name", "mc_avnow")
      .option("maxFramesPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("avnow_out")
      .option("checkpointLocation", Files.createTempDirectory("avnow_ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "AvailableNow query must terminate")
    // all six backlog inserts delivered, over several admission-bounded
    // batches, and the query ended on its own at the pinned point
    val ids = spark.sql("SELECT after['id'] FROM avnow_out").collect()
      .map(_.getString(0)).sorted
    assert(ids.toSeq === (1 to 6).map(_.toString).sorted)
  }

  test("identifiers and literals in bootstrap SQL are escape-safe (no injection)") {
    assert(PgCatalog.quoteIdent("""sl"ot""") === "\"sl\"\"ot\"")
    assert(PgCatalog.quoteQualified("""pub"lic.t x""") === "\"pub\"\"lic\".\"t x\"")
    assert(PgCatalog.sqlLiteral("pu'b") === "'pu''b'")
    assert(PgCatalog.attNotNullSql("n's", "t'bl").contains("'n''s'"))
    assert(PgCatalog.attNotNullSql("n's", "t'bl").contains("'t''bl'"))
    // replication commands: slot as a quoted identifier, publication as a
    // string literal — a quote in either can neither break nor extend them
    assert(PgWireConduit.createSlotCommand("""sl"ot""", temporary = false, twoPhase = true) ===
      "CREATE_REPLICATION_SLOT \"sl\"\"ot\" LOGICAL pgoutput (TWO_PHASE)")
    val conduit = new PgWireConduit("127.0.0.1", 5432, "postgres", "postgres", None,
      """sl"ot""", "pu'b', binary 'true", createSlot = false, temporarySlot = false)
    assert(conduit.startReplicationCommand(0x16B3748L) ===
      "START_REPLICATION SLOT \"sl\"\"ot\" LOGICAL 0/16B3748 " +
        "(proto_version '1', publication_names 'pu''b'', binary ''true')")
  }
}
