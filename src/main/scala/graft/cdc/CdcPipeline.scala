package graft.cdc

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.decode._
import graft.sources.Envelope

/** End-to-end CDC pipeline over *generated* pgoutput wire frames — the
  * SURVEY.md §7 "minimum end-to-end slice", driven at scale.
  *
  * `ordersToFrames` renders each `orders` row as real pgoutput binary frames
  * (Begin/Insert/…/Commit transactions, key-only Delete images, optional
  * unchanged-TOAST columns), `decodeFrames` replays them through the binary
  * decoder + ChangeEventBuilder into envelope rows, and `Cdc.compact`
  * materializes final table state. Because the DML pattern is a pure
  * function of the primary key, the expected final state is expressible in
  * ANSI SQL — giving the whole wire path a DuckDB oracle.
  *
  * Scale design: frame generation and decode are narrow per-partition maps
  * (no shuffle); the only shuffle is the pk-keyed compaction. The wire bytes
  * for a row never leave the executor that generated them.
  */
object CdcPipeline {

  /** Session-scoped SPILL cache of decoded wire envelopes shared across the
    * query suite. Several cdc_* queries consume the IDENTICAL decoded frame
    * log (same generator, same DML pattern); without sharing, each re-reads
    * the parquet source, re-encodes every frame, and re-decodes it — the
    * dominant cost of the family at sf0.1 (VERDICT r3). In-memory
    * `.persist()` of the envelope is NOT the answer: the columnar cache
    * build over its MapType columns measured slower than recomputing the
    * whole decode (NOTES.md). Instead the first consumer writes the decoded
    * envelope to a local parquet spill once per (session, sfDir, generator)
    * and every consumer reads that — parquet's map encoding is cheap both
    * ways, and downstream ops (materialize/scd2/net-counts) depend only on
    * row VALUES (lsn/seq ordering is carried in columns), never on
    * partitioning or row order, so the round-trip is semantics-preserving.
    * The spill is an executor-local tmpdir: on a real cluster this becomes
    * a scratch path on shared storage — the standard "stage the expensive
    * intermediate once" pattern, not a driver collect. */
  private val sharedEventsCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, String), DataFrame]()
  private lazy val localSpillRoot =
    java.nio.file.Files.createTempDirectory("graft-wire-spill").toString

  /** Spill base: local[: a JVM tmpdir works (driver and executors share the
    * node). On a real cluster set `spark.graft.wireSpillDir` (or env
    * SPARK_GRAFT_SPILL_DIR) to a SHARED path (object store / DFS) — a
    * node-local path would be written by executors and unreadable to the
    * tasks of the next consumer. */
  private def spillRoot(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.wireSpillDir")
      .orElse(sys.env.get("SPARK_GRAFT_SPILL_DIR"))
      .getOrElse(localSpillRoot)

  def sharedEvents(spark: SparkSession, sfDir: String, key: String)(
      build: => DataFrame): DataFrame = {
    Option(recorder.get).foreach(_ += key)
    // coarse lock: getOrElseUpdate may evaluate a racing build twice, and
    // two racers would overwrite the same spill dir mid-read; builds are
    // rare (once per generator per session) so serializing them is free
    sharedEventsCache.synchronized {
      sharedEventsCache.getOrElseUpdate((spark, sfDir, key), {
        // dir is unique per cache entry: session identity + a DIGEST of
        // the full sfDir (hashCode collisions across two sfDirs would
        // silently serve one generator's events for the other)
        val sfTag = java.security.MessageDigest.getInstance("SHA-256")
          .digest(sfDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        val dir = s"${spillRoot(spark)}/" +
          s"${Integer.toHexString(System.identityHashCode(spark))}-$sfTag/$key"
        build.write.mode("overwrite").parquet(dir)
        spark.read.parquet(dir)
      })
    }
  }

  /** Drop the shared-envelope spill handles (test hook; files stay in the
    * JVM tmpdir and are overwritten on rebuild). */
  def clearSharedEvents(): Unit = sharedEventsCache.clear()

  // --- fixture-access recording (test/bench bookkeeping, not engine work):
  // which shared spills does a query ACTUALLY touch? CdcFixtureDepsSpec
  // records every query's accesses here and asserts them equal to
  // CdcQueries.fixtureDeps — the map Bench's warmup is keyed on — so the
  // warmup can never drift from real consumption without a test failing.
  // THREAD-LOCAL on purpose: suites share one SparkSession and may build
  // cdc queries concurrently; a recording must see only its own thread's
  // accesses (DataFrame construction, where sharedEvents runs, is
  // driver-side on the calling thread).
  private val recorder = new ThreadLocal[scala.collection.mutable.Set[String]]()
  private[graft] def startRecordingFixtures(): Unit =
    recorder.set(scala.collection.mutable.Set.empty[String])
  private[graft] def stopRecordingFixtures(): Set[String] = {
    val got = Option(recorder.get).map(_.toSet).getOrElse(Set.empty)
    recorder.remove()
    got
  }

  /** Every shared-spill fixture by its cache key — the ONE place a new
    * shared envelope registers, so the Bench warmup can build exactly the
    * fixtures a restricted run's queries consume (r7-advice low: warming
    * all five on any cdc_* selection charged unrelated builds to the
    * selection; and the epoch-2/retype envelopes were never warmed at
    * all). */
  def sharedFixtureBuilders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "orders_udfi" -> (ordersEventsUDFI _),
    "orders_ud" -> (ordersEventsUD _),
    "lineitem" -> (lineitemEvents _),
    "docs_dml" -> (docsDmlEvents _),
    "emb" -> (embeddingsEvents _),
    "orders_epoch2" -> (ordersEpoch2Events _),
    "orders_retype" -> (ordersRetypeEvents _))

  /** The suite's shared decoded envelopes — one per (generator, DML
    * pattern) that more than one query consumes. */
  def ordersEventsUDFI(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "orders_udfi")(decodeFrames(ordersToFrames(s, d,
      DmlPattern(updates = true, deletes = true, fullImages = true))))
  def ordersEventsUD(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "orders_ud")(decodeFrames(ordersToFrames(s, d,
      DmlPattern(updates = true, deletes = true))))
  def lineitemEvents(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "lineitem")(decodeFrames(lineitemToFrames(s, d)))
  def docsDmlEvents(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "docs_dml")(decodeFrames(documentsToFramesDml(s, d)))
  def embeddingsEvents(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "emb")(decodeFrames(embeddingsToFrames(s, d)))
  /** Epoch-2 decoded envelope (the failover fixture's post-gap DML). The
    * epoch boundary (maxKey) is derived HERE from [[ordersMaxKey]] rather
    * than taken from the caller: the spill cache key is (session, sfDir,
    * "orders_epoch2"), so a caller-supplied boundary that diverged between
    * two callers would silently share one spill. Callers needing the same
    * boundary for slot-LSN math read [[ordersMaxKey]] — one derivation,
    * divergence impossible. */
  def ordersEpoch2Events(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "orders_epoch2")(
      decodeFrames(ordersToFramesEpoch2(s, d, ordersMaxKey(s, d))))
  def ordersRetypeEvents(s: SparkSession, d: String): DataFrame =
    sharedEvents(s, d, "orders_retype")(
      decodeFrames(ordersToFramesRetyping(s, d)))
  /** max(o_orderkey) — the failover fixture's epoch boundary; a pure
    * function of the orders table, memoized so the fixture builder and the
    * queries' slot-LSN arithmetic pay the scan once per (session, sfDir). */
  private val maxKeyCache =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), Long]()
  def ordersMaxKey(s: SparkSession, d: String): Long =
    maxKeyCache.getOrElseUpdate((s, d),
      graft.Tables.orders(s, d)
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.col("o_orderkey"))).first().getLong(0))

  val OrdersRelId = 50001

  /** The six wire columns every orders frame generator consumes, fanned out
    * to the session's parallelism: the one-row-group source parquet scans
    * as a SINGLE task, which would otherwise serialize the per-row pgoutput
    * encoding — and everything whole-stage codegen fuses above it — onto
    * one core. [[graft.Tables.fanout]] is the guide's unsplittable-input
    * fix (§2.5); it is a no-op when the scan already carries enough splits.
    * Frame values are pure per-row functions of the key, and every decoder-
    * side consumer is partitioning/order independent (events sort by
    * lsn/seq), so the fan-out is semantics-preserving. */
  private def ordersWire(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.fanout(ordersWireNarrow(spark, sfDir))

  /** [[ordersWire]] without the fan-out — for consumers whose per-row work
    * is map-building rather than wire encoding (the snapshot-chunk
    * readers), where the extra exchange measured as a pure loss. */
  private def ordersWireNarrow(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), unix_micros(col("o_orderdate")).as("date_us"),
        col("o_orderpriority"))

  /** Wire-style schema for the orders relation (what a Relation message
    * would carry; oids are public pg_type constants). */
  val ordersRelation: Relation = Relation(
    OrdersRelId, "public", "orders", 'd',
    Vector(
      RelationColumn(partOfKey = true, "o_orderkey", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "o_custkey", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "o_orderstatus", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "o_totalprice", TypedView.Oid.Float8, -1),
      RelationColumn(partOfKey = false, "o_orderdate", TypedView.Oid.Timestamptz, -1),
      RelationColumn(partOfKey = false, "o_orderpriority", TypedView.Oid.Text, -1)))

  private val TsFmt =
    DateTimeFormatter.ofPattern("uuuu-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  /** Postgres-style timestamptz text ("2021-04-20 20:13:16.867121+00"). */
  private def pgTimestampText(unixMicros: Long): String = {
    val inst = Instant.ofEpochSecond(
      Math.floorDiv(unixMicros, 1000000L), Math.floorMod(unixMicros, 1000000L) * 1000L)
    TsFmt.format(inst) + "+00"
  }

  /** DML pattern applied per order key k (mirrored exactly by the SQL
    * oracle):
    *  - every key: INSERT of the row;
    *  - k % 10 == 0 and updates on: UPDATE totalprice += 1 (key unchanged →
    *    no old image on the wire), optionally TOASTing o_orderpriority;
    *  - k % 7 == 0 and deletes on: DELETE with key-only 'K' old image;
    *  - truncateAtLsn: one Truncate frame at that WAL position.
    */
  final case class DmlPattern(
      updates: Boolean = false,
      deletes: Boolean = false,
      toastPriorityOnUpdate: Boolean = false,
      truncateAtLsn: Option[Long] = None,
      // Tail-only WAL: the table pre-exists (its rows arrive via snapshot
      // chunks, not the stream), so no insert transactions are emitted —
      // the DBLog/incremental-snapshot wire shape.
      inserts: Boolean = true,
      // REPLICA IDENTITY FULL: updates carry an 'O' old image, deletes a
      // full 'O' image of the current row (post-update value when both
      // apply) — what incremental aggregate maintenance requires.
      fullImages: Boolean = false,
      // k % 3 == 0 transactions carry an Origin("upstream") frame after
      // Begin — the wire shape of rows replayed from another node in
      // bidirectional replication (what PG16's `origin = none` publication
      // option exists to filter).
      originOnMod3: Boolean = false)

  /** orders parquet → Dataset[(lsn, frameBytes)] of pgoutput frames. */
  def ordersToFrames(spark: SparkSession, sfDir: String, pattern: DmlPattern): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)

    val relFrame = PgOutputEncoder.encode(ordersRelation)
    val truncOpt = pattern.truncateAtLsn

    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val trunc = truncOpt.iterator.map(lsn =>
        lsn -> PgOutputEncoder.encode(Truncate(0, Vector(OrdersRelId))))
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def fullTuple(p: Double, toastPrio: Boolean) = TupleData(Vector(
          t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)),
          if (toastPrio) ColumnData('u', None) else t(prio)))

        val originFrame =
          if (pattern.originOnMod3 && k % 3 == 0)
            Seq(base -> PgOutputEncoder.encode(Origin(base + 2, "upstream")))
          else Nil
        val insertTxn = if (pattern.inserts) Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, commitTs, k.toInt))) ++
          originFrame ++ Seq(
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, fullTuple(price, toastPrio = false))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, commitTs)))
        else Nil

        val updateTxn = if (pattern.updates && k % 10 == 0) Seq(
          (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, commitTs, k.toInt)),
          (base + 4) -> PgOutputEncoder.encode(
            if (pattern.fullImages)
              Update(OrdersRelId, Some('O'), Some(fullTuple(price, toastPrio = false)),
                fullTuple(price + 1.0, pattern.toastPriorityOnUpdate))
            else Update(OrdersRelId, None, None,
              fullTuple(price + 1.0, pattern.toastPriorityOnUpdate))),
          (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, commitTs)))
        else Nil

        // the row state at delete time (updates sort before deletes)
        val priceAtDelete =
          if (pattern.updates && k % 10 == 0) price + 1.0 else price
        val deleteTxn = if (pattern.deletes && k % 7 == 0) Seq(
          (base + 6) -> PgOutputEncoder.encode(Begin(base + 7, commitTs, k.toInt)),
          (base + 7) -> PgOutputEncoder.encode(
            if (pattern.fullImages)
              Delete(OrdersRelId, 'O', fullTuple(priceAtDelete, toastPrio = false))
            else Delete(OrdersRelId, 'K',
              TupleData(Vector(t(k.toString), ColumnData('n', None), ColumnData('n', None),
                ColumnData('n', None), ColumnData('n', None), ColumnData('n', None))))),
          (base + 8) -> PgOutputEncoder.encode(Commit(0, base + 8, base + 8, commitTs)))
        else Nil

        insertTxn ++ updateTxn ++ deleteTxn
      }
      rel ++ trunc ++ dml
    }
  }

  /** The orders relation after an `ALTER TABLE … ADD COLUMN o_note text`:
    * Postgres appends the column and re-sends the Relation message on the
    * replication stream (D5/T2). */
  val ordersRelationV2: Relation = Relation(
    OrdersRelId, "public", "orders", 'd',
    ordersRelation.columns :+
      RelationColumn(partOfKey = false, "o_note", TypedView.Oid.Text, -1))

  /** Schema evolution mid-stream: every order row is inserted under the
    * 6-column v1 relation; then the 7-column v2 Relation message is
    * re-sent (the wire form of ADD COLUMN), and keys k % 3 == 0 are
    * updated with 7-column images carrying `o_note = 'n<k>'` (and
    * totalprice + 1). Decode must switch tuple→named-row projection at the
    * re-send point; pre-evolution rows surface with a NULL o_note through
    * the v2 typed view. Same per-partition narrow generation as
    * [[ordersToFrames]] (rows buffer per partition so the v2 Relation
    * precedes the first 7-column image in partition order — bounded by
    * partition size, not table size). */
  /** Insert-only orders wire path in BINARY transfer mode (pgoutput
    * `binary 'true'`, PG 14+ — a surface the text-only reference lacks):
    * even keys ship every column as its type's binary send-function bytes
    * ('b' tuple categories — int8/text/float8/timestamptz here), odd keys
    * stay text, so one decoded stream proves both forms land on the same
    * TYPED state ([[graft.decode.PgBinary]] renders 'b' back to canonical
    * text at the image boundary). Raw envelope text parity between the
    * halves holds for every column except o_orderdate — this generator's
    * text twin emits a fixed 6-digit fraction while PgBinary trims zero
    * fractions the way real PG output does (the typed cast absorbs it);
    * raw-text parity against a REAL server's text mode is what LivePgSpec's
    * binary leg pins. Same per-partition narrow generation as
    * [[ordersToFrames]]. */
  def ordersToFramesBinary(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      def b(oid: Int, text: String) = ColumnData('b', None,
        Some(scala.collection.immutable.ArraySeq.unsafeWrapArray(
          PgBinary.encode(oid, text))))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        val tuple =
          if (k % 2 == 0) TupleData(Vector(
            b(PgBinary.Int8Oid, k.toString), b(PgBinary.Int8Oid, cust.toString),
            b(PgBinary.TextOid, status), b(PgBinary.Float8Oid, price.toString),
            b(PgBinary.TimestamptzOid, pgTimestampText(dateUs)),
            b(PgBinary.TextOid, prio)))
          else TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(price.toString),
            t(pgTimestampText(dateUs)), t(prio)))
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, commitTs, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, tuple)),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, commitTs)))
      }
      rel ++ dml
    }
  }

  def ordersToFramesEvolving(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relV1 = PgOutputEncoder.encode(ordersRelation)
    val relV2 = PgOutputEncoder.encode(ordersRelationV2)

    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rs = rows.toVector
      val inserts = rs.iterator.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, commitTs, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(price.toString),
            t(pgTimestampText(dateUs)), t(prio))))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, commitTs)))
      }
      val updates = rs.iterator.filter(_._1 % 3 == 0)
        .flatMap { case (k, cust, status, price, dateUs, prio) =>
          val base = k * 8
          val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
          Seq(
            (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, commitTs, k.toInt)),
            (base + 4) -> PgOutputEncoder.encode(Update(OrdersRelId, None, None,
              TupleData(Vector(
                t(k.toString), t(cust.toString), t(status), t((price + 1.0).toString),
                t(pgTimestampText(dateUs)), t(prio), t(s"n$k"))))),
            (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, commitTs)))
        }
      Iterator.single(0L -> relV1) ++ inserts ++
        Iterator.single(1L -> relV2) ++ updates
    }
  }

  /** orders with o_totalprice as NUMERIC(12,2) — the wire shape when the
    * upstream column is a money-like decimal. atttypmod for numeric(p,s)
    * is `((p << 16) | s) + 4` (public pg headers); TypedView must surface
    * DecimalType(12,2), NOT the reference's lossy float (reader.py:69-70). */
  val ordersRelationNumeric: Relation = Relation(
    OrdersRelId, "public", "orders", 'd',
    ordersRelation.columns.map(c =>
      if (c.name == "o_totalprice")
        RelationColumn(partOfKey = false, "o_totalprice",
          TypedView.Oid.Numeric, ((12 << 16) | 2) + 4)
      else c))

  /** Insert-only wire path rendering o_totalprice as a scale-2 decimal
    * string (what Postgres sends for NUMERIC(12,2)). */
  def ordersToFramesNumeric(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelationNumeric)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        val priceTxt = java.math.BigDecimal.valueOf(price)
          .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(priceTxt),
            t(pgTimestampText(dateUs)), t(prio))))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, ts)))
      }
      rel ++ dml
    }
  }

  /** ALTER COLUMN TYPE mid-stream (the third evolution form beside
    * ADD/DROP): every order inserts under the float8-typed v1 relation,
    * then the SAME relation id re-announces with o_totalprice retyped to
    * NUMERIC(12,2) — new type oid AND atttypmod, both carried by the
    * Relation frame (reference decoders.py:232-290 parses both but the
    * reference never re-projects) — and k % 3 == 0 keys update with
    * post-retype images (price + 1, rendered as the scale-2 decimal text
    * PG sends for the new type). The registry must swap the column type at
    * the re-send point, and the final typed view re-casts the PRE-retype
    * rows' stored float8-era text under the new DecimalType(12,2). Same
    * per-partition buffering as [[ordersToFramesEvolving]] (the retyped
    * Relation precedes the first new-type image in partition order). */
  def ordersToFramesRetyping(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relV1 = PgOutputEncoder.encode(ordersRelation)
    val relRetyped = PgOutputEncoder.encode(ordersRelationNumeric)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rs = rows.toVector
      val inserts = rs.iterator.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(price.toString),
            t(pgTimestampText(dateUs)), t(prio))))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, ts)))
      }
      val updates = rs.iterator.filter(_._1 % 3 == 0)
        .flatMap { case (k, cust, status, price, dateUs, prio) =>
          val base = k * 8
          val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
          val priceTxt = java.math.BigDecimal.valueOf(price + 1.0)
            .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
          Seq(
            (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, ts, k.toInt)),
            (base + 4) -> PgOutputEncoder.encode(Update(OrdersRelId, None, None,
              TupleData(Vector(
                t(k.toString), t(cust.toString), t(status), t(priceTxt),
                t(pgTimestampText(dateUs)), t(prio))))),
            (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, ts)))
        }
      Iterator.single(0L -> relV1) ++ inserts ++
        Iterator.single(1L -> relRetyped) ++ updates
    }
  }

  val OrdersP0RelId = 50011
  val OrdersP1RelId = 50012

  /** PARTITIONED-TABLE wire shape (PG ≤ 12 always, later versions unless
    * `publish_via_partition_root`): each partition publishes under its OWN
    * relation id/name (`orders_p0`, `orders_p1`), and the subscriber must
    * union the children back into the logical parent. Keys route by
    * parity; k % 10 == 0 rows are updated through their own partition's
    * relation. The logical table's state is the union compacted on the
    * shared pk — exactly what a consumer of a hash/range-partitioned
    * upstream does. */
  def ordersToFramesPartitioned(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    def childRel(id: Int, name: String) =
      Relation(id, "public", name, 'd', ordersRelation.columns)
    val rel0 = PgOutputEncoder.encode(childRel(OrdersP0RelId, "orders_p0"))
    val rel1 = PgOutputEncoder.encode(childRel(OrdersP1RelId, "orders_p1"))
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rels = Iterator((0L, rel0), (0L, rel1))
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val relId = if (k % 2 == 0) OrdersP0RelId else OrdersP1RelId
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def full(p: Double) = TupleData(Vector(
          t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)), t(prio)))
        val ins = Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(relId, full(price))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, ts)))
        val upd = if (k % 10 == 0) Seq(
          (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, ts, k.toInt)),
          (base + 4) -> PgOutputEncoder.encode(
            Update(relId, None, None, full(price + 1.0))),
          (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, ts)))
        else Nil
        ins ++ upd
      }
      rels ++ dml
    }
  }

  /** The orders relation after an `ALTER TABLE … DROP COLUMN
    * o_orderpriority`: Postgres re-sends the Relation without the column. */
  val ordersRelationV3: Relation = Relation(
    OrdersRelId, "public", "orders", 'd',
    ordersRelation.columns.filterNot(_.name == "o_orderpriority"))

  /** Schema evolution, DROP COLUMN form: 6-column v1 inserts, then the
    * 5-column Relation re-send, then k % 4 == 0 keys updated with 5-column
    * images (totalprice + 2). Decode must NARROW the tuple→named-row
    * projection at the re-send point; pre-drop rows still carry the dropped
    * column in their stored images, and the post-drop typed view simply
    * never projects it — no rewrite of historical state is needed (the
    * same lazy-projection property that makes ADD COLUMN free). */
  def ordersToFramesDropping(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relV1 = PgOutputEncoder.encode(ordersRelation)
    val relV3 = PgOutputEncoder.encode(ordersRelationV3)

    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rs = rows.toVector
      val inserts = rs.iterator.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, commitTs, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(price.toString),
            t(pgTimestampText(dateUs)), t(prio))))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, commitTs)))
      }
      val updates = rs.iterator.filter(_._1 % 4 == 0)
        .flatMap { case (k, cust, status, price, dateUs, _) =>
          val base = k * 8
          val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
          Seq(
            (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, commitTs, k.toInt)),
            (base + 4) -> PgOutputEncoder.encode(Update(OrdersRelId, None, None,
              TupleData(Vector(
                t(k.toString), t(cust.toString), t(status), t((price + 2.0).toString),
                t(pgTimestampText(dateUs)))))),
            (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, commitTs)))
        }
      Iterator.single(0L -> relV1) ++ inserts ++
        Iterator.single(1L -> relV3) ++ updates
    }
  }

  /** Protocol-v2 streamed-transaction slice: two large transactions stream
    * in INTERLEAVED segments (the wire shape `streaming on` produces when
    * concurrent bulk writes exceed `logical_decoding_work_mem`), one of them
    * carrying an aborted subtransaction, plus ordinary small transactions:
    *
    *  - k % 4 == 0 → INSERT inside streamed txn A (commits; k % 8 == 0 rows
    *    also UPDATEd (+1) in a LATER segment of A — multi-segment order);
    *  - k % 4 == 1 → INSERT inside streamed txn B (whole-txn StreamAbort);
    *  - k % 4 == 2 → INSERT inside txn A but under aborted subxact A′
    *    (StreamAbort(A, A′) — surgical removal, A itself still commits);
    *  - k % 4 == 3 → ordinary Begin/Insert/Commit transaction.
    *
    * Expected final state: keys with k % 4 ∈ {0, 3}; price +1 for k % 8 == 0
    * — pure function of the key, hence the exact SQL oracle. */
  def ordersToFramesStreamed(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    val (xidA, xidB, xidASub) = (900001, 900002, 900003)

    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      def enc(m: PgOutputMessage) = PgOutputEncoder.encode(m)
      def full(k: Long, cust: Long, status: String, p: Double, dateUs: Long, prio: String) =
        TupleData(Vector(t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)), t(prio)))
      // rows iterate several times (one pass per segment) — buffer the
      // partition; bounded by partition size, same as the evolving generator
      val rs = rows.toVector
      def seg(sel: Long => Boolean, sub: Int, mk: ((Long, Long, String, Double, Long, String)) => (Long, PgOutputMessage)) =
        rs.iterator.filter(r => sel(r._1)).map { r =>
          val (lsn, m) = mk(r); lsn -> enc(StreamedPart(sub, m))
        }

      val segA1 = seg(_ % 4 == 0, xidA, { case (k, c, st, p, d, pr) =>
        (k * 8 + 1) -> Insert(OrdersRelId, full(k, c, st, p, d, pr)) })
      val segB = seg(_ % 4 == 1, xidB, { case (k, c, st, p, d, pr) =>
        (k * 8 + 1) -> Insert(OrdersRelId, full(k, c, st, p, d, pr)) })
      val segASub = seg(_ % 4 == 2, xidASub, { case (k, c, st, p, d, pr) =>
        (k * 8 + 1) -> Insert(OrdersRelId, full(k, c, st, p, d, pr)) })
      val segA2 = seg(_ % 8 == 0, xidA, { case (k, c, st, p, d, pr) =>
        (k * 8 + 4) -> Update(OrdersRelId, None, None, full(k, c, st, p + 1.0, d, pr)) })
      val plain = rs.iterator.filter(_._1 % 4 == 3).flatMap { case (k, c, st, p, d, pr) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(d)
        Seq(
          base -> enc(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> enc(Insert(OrdersRelId, full(k, c, st, p, d, pr))),
          (base + 2) -> enc(Commit(0, base + 2, base + 2, ts)))
      }
      def ctl(lsn: Long, m: PgOutputMessage) = Iterator.single(lsn -> enc(m))

      Iterator.single(0L -> relFrame) ++
        ctl(1L, StreamStart(xidA, firstSegment = true)) ++ segA1 ++ ctl(2L, StreamStop) ++
        ctl(3L, StreamStart(xidB, firstSegment = true)) ++ segB ++ ctl(4L, StreamStop) ++
        ctl(5L, StreamStart(xidA, firstSegment = false)) ++ segASub ++ ctl(6L, StreamStop) ++
        ctl(7L, StreamStart(xidA, firstSegment = false)) ++ segA2 ++ ctl(8L, StreamStop) ++
        ctl(9L, StreamAbort(xidA, xidASub)) ++
        ctl(10L, StreamAbort(xidB, xidB)) ++
        ctl(11L, StreamCommit(xidA, 0, 1L << 40, 1L << 40, 0L)) ++
        plain
    }
  }

  /** The stream HALF of the S2 backfill-then-tail flow: everything after
    * the snapshot point `mid` arrives as CDC inserts, and k % 10 == 0 keys
    * (snapshot keys included — rows that changed AFTER the snapshot was
    * pinned) arrive as updates. The snapshot half is the plain table read
    * ≤ mid; see `cdc_backfill_union`. */
  def ordersToFramesTail(spark: SparkSession, sfDir: String, mid: Long): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def full(p: Double) = TupleData(Vector(
          t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)), t(prio)))
        val ins = if (k > mid) Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, full(price))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, ts)))
        else Nil
        val upd = if (k % 10 == 0) Seq(
          (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, ts, k.toInt)),
          (base + 4) -> PgOutputEncoder.encode(
            Update(OrdersRelId, None, None, full(price + 1.0))),
          (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, ts)))
        else Nil
        ins ++ upd
      }
      rel ++ dml
    }
  }

  /** Active-active (bidirectional) replication wire shape: TWO sites
    * publish changes to the same table and the subscriber merges both WAL
    * streams. Site A (local, no Origin frame) inserts every row and
    * updates k % 4 == 0 keys (+1.0) at commit ts +100µs (k % 8 == 0) or
    * +300µs; site B (every txn marked Origin "site_b", its frames in a
    * disjoint LSN region — LSNs are per-node WAL positions and NOT
    * comparable across sites) updates k % 6 == 0 keys (+2.0) at +300µs
    * (k % 12 == 0) or +200µs. The schedule is engineered so the merged log
    * exercises every conflict case: remote-newer (k%24==0 → B wins),
    * exact commit-ts TIE (k%12==0, k%24≠0 → both at +300µs — resolved by
    * the deterministic site tiebreak), remote-only and local-only updates.
    * Generation is one per-partition map over orders; both sites' frames
    * for a key are rendered together, ordered into their own LSN spaces. */
  def ordersToFramesBiDir(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    val SiteBBase = 1L << 41 // site B's WAL region, disjoint from site A's
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val baseA = k * 8
        val baseB = SiteBBase + k * 8
        val ts0 = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def full(p: Double) = TupleData(Vector(
          t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)), t(prio)))
        val insA = Seq(
          baseA -> PgOutputEncoder.encode(Begin(baseA + 2, ts0, k.toInt)),
          (baseA + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, full(price))),
          (baseA + 2) -> PgOutputEncoder.encode(Commit(0, baseA + 2, baseA + 2, ts0)))
        val updA = if (k % 4 == 0) {
          val tsA = ts0 + (if (k % 8 == 0) 100L else 300L)
          Seq(
            (baseA + 3) -> PgOutputEncoder.encode(Begin(baseA + 5, tsA, k.toInt)),
            (baseA + 4) -> PgOutputEncoder.encode(
              Update(OrdersRelId, None, None, full(price + 1.0))),
            (baseA + 5) -> PgOutputEncoder.encode(Commit(0, baseA + 5, baseA + 5, tsA)))
        } else Nil
        val updB = if (k % 6 == 0) {
          val tsB = ts0 + (if (k % 12 == 0) 300L else 200L)
          Seq(
            baseB -> PgOutputEncoder.encode(Begin(baseB + 3, tsB, k.toInt)),
            (baseB + 1) -> PgOutputEncoder.encode(Origin(baseB + 3, "site_b")),
            (baseB + 2) -> PgOutputEncoder.encode(
              Update(OrdersRelId, None, None, full(price + 2.0))),
            (baseB + 3) -> PgOutputEncoder.encode(Commit(0, baseB + 3, baseB + 3, tsB)))
        } else Nil
        insA ++ updA ++ updB
      }
      rel ++ dml
    }
  }

  /** Two-phase-commit slice (protocol v3, PG 15 `two_phase on`): k % 6 == 0
    * rows arrive via PREPARE TRANSACTION later resolved by COMMIT PREPARED
    * (survive); k % 6 == 3 via PREPARE later ROLLBACK PREPARED (vanish);
    * all resolutions arrive in a second pass AFTER every prepare — the
    * "far apart in the WAL, keyed by gid" shape 2PC consumers must hold.
    * Everything else is an ordinary transaction. Expected final state:
    * keys with k % 6 != 3. */
  def ordersToFramesTwoPhase(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      def enc(m: PgOutputMessage) = PgOutputEncoder.encode(m)
      def full(k: Long, c: Long, st: String, p: Double, d: Long, pr: String) =
        TupleData(Vector(t(k.toString), t(c.toString), t(st), t(p.toString),
          t(pgTimestampText(d)), t(pr)))
      val rs = rows.toVector
      val prepares = rs.iterator.flatMap { case (k, c, st, p, d, pr) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(d)
        if (k % 12 == 6 || k % 12 == 9) Seq(
          // streamed + prepared ('p'): segments reassemble, then the txn
          // parks in the prepared table under its gid — k%12==6 ⊂ k%6==0
          // (committed), k%12==9 ⊂ k%6==3 (rolled back), so the oracle is
          // untouched by which wire path carried the rows
          base -> enc(StreamStart(k.toInt, firstSegment = true)),
          (base + 1) -> enc(StreamedPart(k.toInt, Insert(OrdersRelId, full(k, c, st, p, d, pr)))),
          (base + 2) -> enc(StreamStop),
          (base + 2) -> enc(StreamPrepare(0, base + 2, base + 2, ts, k.toInt, s"gid$k")))
        else if (k % 3 == 0) Seq( // both 2PC flavors prepare identically
          base -> enc(BeginPrepare(base + 2, base + 2, ts, k.toInt, s"gid$k")),
          (base + 1) -> enc(Insert(OrdersRelId, full(k, c, st, p, d, pr))),
          (base + 2) -> enc(Prepare(0, base + 2, base + 2, ts, k.toInt, s"gid$k")))
        else Seq(
          base -> enc(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> enc(Insert(OrdersRelId, full(k, c, st, p, d, pr))),
          (base + 2) -> enc(Commit(0, base + 2, base + 2, ts)))
      }
      val resolutions = rs.iterator.filter(_._1 % 3 == 0).map { case (k, _, _, _, d, _) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(d)
        if (k % 6 == 0)
          (base + 5) -> enc(CommitPrepared(0, base + 5, base + 5, ts, k.toInt, s"gid$k"))
        else
          (base + 5) -> enc(RollbackPrepared(0, base + 2, base + 5, ts, ts, k.toInt, s"gid$k"))
      }
      Iterator.single(0L -> relFrame) ++ prepares ++ resolutions
    }
  }

  /** Logical decoding messages on the wire ('M', pg_logical_emit_message):
    * every order's transaction carries a transactional "audit" message, and
    * k % 5 == 0 keys additionally emit a NON-transactional "heartbeat"
    * message mid-transaction (sent immediately at its own WAL position,
    * outside the txn — exactly PG's semantics for transactional=false). */
  def ordersToFramesWithMessages(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val audit = LogicalMessage(transactional = true, base + 2, "audit", utf8(s"order=$k"))
        val hb = if (k % 5 == 0)
          Seq((base + 6) -> PgOutputEncoder.encode(
            LogicalMessage(transactional = false, base + 6, "heartbeat", utf8(s"hb=$k"))))
        else Nil
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 3, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, TupleData(Vector(
            t(k.toString), t(cust.toString), t(status), t(price.toString),
            t(pgTimestampText(dateUs)), t(prio))))),
          (base + 2) -> PgOutputEncoder.encode(audit)) ++ hb ++ Seq(
          (base + 3) -> PgOutputEncoder.encode(Commit(0, base + 3, base + 3, ts)))
      }
      rel ++ dml
    }
  }

  val LineitemRelId = 50002

  /** Composite-pk relation: (l_orderkey, l_linenumber, l_partkey,
    * l_suppkey) — the 4 columns are jointly unique in the test data —
    * exercising multi-column key extraction and compaction through the
    * wire path. */
  val lineitemRelation: Relation = Relation(
    LineitemRelId, "public", "lineitem", 'd',
    Vector(
      RelationColumn(partOfKey = true, "l_orderkey", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = true, "l_linenumber", TypedView.Oid.Int4, -1),
      RelationColumn(partOfKey = true, "l_partkey", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = true, "l_suppkey", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "l_quantity", TypedView.Oid.Float8, -1),
      RelationColumn(partOfKey = false, "l_returnflag", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "l_shipdate", TypedView.Oid.Timestamptz, -1)))

  /** lineitem → frames with a key-dependent DML pattern:
    * insert all; (ok+ln)%5==0 → update quantity+1 (no old image);
    * (ok+ln)%9==0 → delete with key-only composite image.
    * LSNs collide across different (partkey, suppkey) rows sharing
    * (ok, ln) — harmless: compaction orders within a key only, and each
    * key's own events have distinct offsets. */
  def lineitemToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    // same one-row-group fan-out as ordersWire (600k rows × per-row encode)
    val li = graft.Tables.fanout(graft.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_returnflag"), unix_micros(col("l_shipdate")).as("ship_us")))
    val relFrame = PgOutputEncoder.encode(lineitemRelation)
    li.as[(Long, Int, Long, Long, Double, String, Long)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      def n = ColumnData('n', None)
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (ok, ln, pk, sk, qty, rf, shipUs) =>
        val base = ok * 32 + ln * 4
        val ts = PgOutputDecoder.unixMicrosToPgMicros(shipUs)
        def full(q: Double) = TupleData(Vector(
          t(ok.toString), t(ln.toString), t(pk.toString), t(sk.toString),
          t(q.toString), t(rf), t(pgTimestampText(shipUs))))
        val ins = Seq(
          base -> PgOutputEncoder.encode(Begin(base + 1, ts, ok.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(LineitemRelId, full(qty))),
          (base + 1) -> PgOutputEncoder.encode(Commit(0, base + 1, base + 1, ts)))
        val upd = if ((ok + ln) % 5 == 0) Seq(
          (base + 2) -> PgOutputEncoder.encode(Update(LineitemRelId, None, None, full(qty + 1.0))))
        else Nil
        val del = if ((ok + ln) % 9 == 0) Seq(
          (base + 3) -> PgOutputEncoder.encode(Delete(LineitemRelId, 'K',
            TupleData(Vector(t(ok.toString), t(ln.toString), t(pk.toString), t(sk.toString),
              n, n, n)))))
        else Nil
        ins ++ upd ++ del
      }
      rel ++ dml
    }
  }

  /** Poison-frame wire path: insert-only orders frames where deterministic
    * keys carry values the typed view cannot accept — k % 13 == 0 renders
    * o_totalprice as non-numeric text (uncoercible to float8), k % 17 == 0
    * sends o_custkey as SQL NULL (a NOT NULL violation downstream). The
    * dead-letter query routes these through `TypedView.ofAfterValidated`'s
    * per-row error channel (T4) and keeps the pipeline running — where the
    * reference's pydantic validation raises and stops its single-threaded
    * callback loop (reference reader.py:274-292). */
  def ordersToFramesCorrupted(
      spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = k * 8
        val commitTs = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        val priceCol = if (k % 13 == 0) t(s"bad-price-$k") else t(price.toString)
        val custCol = if (k % 17 == 0) ColumnData('n', None) else t(cust.toString)
        val tuple = TupleData(Vector(
          t(k.toString), custCol, t(status), priceCol,
          t(pgTimestampText(dateUs)), t(prio)))
        Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, commitTs, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(Insert(OrdersRelId, tuple)),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, commitTs)))
      }
      rel ++ dml
    }
  }

  /** Snapshot of orders taken in pk-range CHUNKS while the WAL streams —
    * the read side of the DBLog / Debezium "incremental snapshot"
    * algorithm. Chunk i covers keys [i·C, (i+1)·C); its select runs in a
    * transaction whose snapshot pins at the LOW watermark lo_i = 8C·i − 4C
    * (values reflect exactly the events with lsn ≤ lo_i — the racy read),
    * and the chunk is published at the HIGH watermark hi_i = lo_i + 8C.
    * With the update/delete WAL pattern (8k+4 / 8k+7), each chunk's first
    * half sees its keys' events INSIDE the window (the rows the watermark
    * rule must drop) and its second half sees them after hi (chunk row
    * later overridden by the WAL) — both interleavings exercised.
    * Output: (chunk_id, lo_lsn, hi_lsn, key, after) with wire-text maps,
    * `after` = null for rows already deleted at lo. */
  def ordersSnapshotChunks(
      spark: SparkSession, sfDir: String, nChunks: Int = 8): DataFrame = {
    import spark.implicits._
    val orders = ordersWireNarrow(spark, sfDir) // see ordersSnapshotChunksFailover
    val maxKey = orders.agg(max(col("o_orderkey"))).first().getLong(0)
    val c = maxKey / nChunks + 1
    orders.as[(Long, Long, String, Double, Long, String)]
      .flatMap { case (k, cust, status, price, dateUs, prio) =>
        val chunk = k / c
        val hi = 8 * c * chunk + 4 * c
        val lo = hi - 8 * c
        val updatedAtLo = k % 10 == 0 && 8 * k + 4 <= lo
        val deletedAtLo = k % 7 == 0 && 8 * k + 7 <= lo
        if (deletedAtLo) None
        else {
          val p = if (updatedAtLo) price + 1.0 else price
          Some((chunk, lo, hi,
            Map("o_orderkey" -> k.toString),
            Map("o_orderkey" -> k.toString, "o_custkey" -> cust.toString,
              "o_orderstatus" -> status, "o_totalprice" -> p.toString,
              "o_orderdate" -> pgTimestampText(dateUs),
              "o_orderpriority" -> prio)))
        }
      }
      .toDF("chunk_id", "lo_lsn", "hi_lsn", "key", "after")
  }

  /** WAL position the replacement slot is created at in the failover-
    * recovery fixtures: two-thirds into the epoch-2 WAL space. Everything
    * the promoted primary wrote in (epoch-2 base, this] is the LOST GAP —
    * obtainable only via re-snapshot, never replication (README.md:9-23,
    * the reference's motivating failure). Kept on an 8-aligned boundary so
    * no per-key transaction straddles it (a fixture convenience; dblogMerge
    * handles straddling WAL identically). */
  def failoverNewSlotLsn(maxKey: Long): Long =
    8L * (maxKey + 1) + 8L * (2L * (maxKey + 1) / 3L)

  /** Post-failover DML epoch — the WAL the PROMOTED primary writes after
    * the original slot is lost. All LSNs live above every epoch-1 position
    * (base B = 8·(maxKey+1) + 8k per key), REPLICA IDENTITY FULL:
    *  - k % 35 == 0: re-INSERT of a key epoch 1 deleted (price doubled);
    *  - surviving (k % 7 ≠ 0) k % 4 == 0: UPDATE, price + 10.0;
    *  - surviving k % 9 == 0: DELETE (after any update) —
    * so recovery must apply inserts, value changes AND retirements against
    * the pre-failover state. `maxKey` is threaded in by the caller (one
    * scan-for-a-scalar job shared by the query, this generator, and the
    * chunk generator — review finding). Same narrow per-partition
    * generation as [[ordersToFrames]]. */
  def ordersToFramesEpoch2(spark: SparkSession, sfDir: String,
      maxKey: Long): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val orders = ordersWire(spark, sfDir)
    val b0 = 8L * (maxKey + 1)
    val relFrame = PgOutputEncoder.encode(ordersRelation)
    orders.as[(Long, Long, String, Double, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (k, cust, status, price, dateUs, prio) =>
        val base = b0 + k * 8
        val ts = PgOutputDecoder.unixMicrosToPgMicros(dateUs)
        def full(p: Double) = TupleData(Vector(
          t(k.toString), t(cust.toString), t(status), t(p.toString),
          t(pgTimestampText(dateUs)), t(prio)))
        val p1 = if (k % 10 == 0) price + 1.0 else price // epoch-1 end state
        val alive = k % 7 != 0
        val reinsert = if (k % 35 == 0) Seq(
          base -> PgOutputEncoder.encode(Begin(base + 2, ts, k.toInt)),
          (base + 1) -> PgOutputEncoder.encode(
            Insert(OrdersRelId, full(price * 2.0))),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, ts)))
        else Nil
        val upd = if (alive && k % 4 == 0) Seq(
          (base + 3) -> PgOutputEncoder.encode(Begin(base + 5, ts, k.toInt)),
          (base + 4) -> PgOutputEncoder.encode(
            Update(OrdersRelId, Some('O'), Some(full(p1)), full(p1 + 10.0))),
          (base + 5) -> PgOutputEncoder.encode(Commit(0, base + 5, base + 5, ts)))
        else Nil
        val pAtDelete = if (alive && k % 4 == 0) p1 + 10.0 else p1
        val del = if (alive && k % 9 == 0) Seq(
          (base + 6) -> PgOutputEncoder.encode(Begin(base + 8, ts, k.toInt)),
          (base + 7) -> PgOutputEncoder.encode(
            Delete(OrdersRelId, 'O', full(pAtDelete))),
          (base + 8) -> PgOutputEncoder.encode(Commit(0, base + 8, base + 8, ts)))
        else Nil
        reinsert ++ upd ++ del
      }
      rel ++ dml
    }
  }

  /** Chunked RE-snapshot for slot-loss failover recovery: pk-range chunk
    * reads taken AFTER the replacement slot (created at
    * [[failoverNewSlotLsn]]) starts streaming, racing its tail — watermark
    * windows advance through the remaining epoch-2 WAL space. Chunk content
    * is the table state at the chunk's LOW watermark: epoch 1 fully
    * applied (it all committed before the failover), each epoch-2 event
    * applied iff its position ≤ lo — so gap-lost changes arrive through
    * the chunk values while tail-window races are resolved by
    * [[Cdc.dblogMerge]]'s watermark rule, exactly as in
    * [[ordersSnapshotChunks]]. */
  def ordersSnapshotChunksFailover(
      spark: SparkSession, sfDir: String, nChunks: Int,
      maxKey: Long): DataFrame = {
    import spark.implicits._
    // NOT fanned out: chunk reads build flat Scala maps (no pgoutput
    // encode/decode), and a 32-partition map-typed chunk side into
    // dblogMerge's anti join measured 93% task wait / 4x wall at sf0.1
    // (r9-opt bisect) — the fan-out rationale never applied here.
    val orders = ordersWireNarrow(spark, sfDir)
    val b0 = 8L * (maxKey + 1)
    val endLsn = b0 + 8L * (maxKey + 1) + 8L
    val slotLsn = failoverNewSlotLsn(maxKey)
    val c = maxKey / nChunks + 1
    val w = (endLsn - slotLsn) / nChunks + 1L
    orders.as[(Long, Long, String, Double, Long, String)]
      .flatMap { case (k, cust, status, price, dateUs, prio) =>
        val chunk = k / c
        val lo = slotLsn + chunk * w
        val hi = lo + w
        val base = b0 + k * 8
        val p1 = if (k % 10 == 0) price + 1.0 else price
        val stateAtLo: Option[Double] =
          if (k % 7 == 0)
            if (k % 35 == 0 && base + 1 <= lo) Some(price * 2.0) else None
          else if (k % 9 == 0 && base + 7 <= lo) None
          else Some(if (k % 4 == 0 && base + 4 <= lo) p1 + 10.0 else p1)
        stateAtLo.map { p =>
          (chunk, lo, hi,
            Map("o_orderkey" -> k.toString),
            Map("o_orderkey" -> k.toString, "o_custkey" -> cust.toString,
              "o_orderstatus" -> status, "o_totalprice" -> p.toString,
              "o_orderdate" -> pgTimestampText(dateUs),
              "o_orderpriority" -> prio))
        }
      }
      .toDF("chunk_id", "lo_lsn", "hi_lsn", "key", "after")
  }

  /** Two publications in ONE replication slot: orders and lineitem frames
    * interleaved on a shared LSN axis (2L for orders, 2L+1 for lineitem —
    * preserves each stream's internal order, no cross-relation LSN
    * collisions, and interleaves by original position so micro-batch cuts
    * land mid-table on both sides). The wire shape a consumer joining two
    * CDC tables actually sees. */
  def jointOrdersLineitemFrames(
      spark: SparkSession, sfDir: String,
      pattern: DmlPattern): Dataset[(Long, Array[Byte])] =
    jointOrdersFrames(spark, sfDir, pattern)
      .union(jointLineitemFrames(spark, sfDir))

  /** The joint log's even-LSN half (orders), byte-identical to filtering
    * the union by parity — consumers needing one relation generate only
    * its half instead of encoding both and discarding one. */
  def jointOrdersFrames(spark: SparkSession, sfDir: String,
      pattern: DmlPattern): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    ordersToFrames(spark, sfDir, pattern).map { case (l, bytes) => (l * 2, bytes) }
  }

  /** The joint log's odd-LSN half (lineitem). */
  def jointLineitemFrames(
      spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    lineitemToFrames(spark, sfDir).map { case (l, bytes) => (l * 2 + 1, bytes) }
  }

  val DocumentsRelId = 50003

  /** Wire-style relation for the documents corpus — the shape an ingest
    * pipeline sees when raw documents arrive as CDC inserts. */
  val documentsRelation: Relation = Relation(
    DocumentsRelId, "public", "documents", 'd',
    Vector(
      RelationColumn(partOfKey = true, "doc_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "text", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "lang", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "source", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "n_chars", TypedView.Oid.Int8, -1)))

  /** documents → insert-only pgoutput frames, one transaction per document.
    * LSN = doc_id*4 + {1,2,3}, so arrival order ≡ doc_id order — which is
    * what lets the online-dedup oracle express "first seen wins" as
    * MIN(doc_id) per content hash. Same narrow per-partition generation as
    * [[ordersToFrames]]. */
  def documentsToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val docs = graft.Tables.fanout(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val relFrame = PgOutputEncoder.encode(documentsRelation)
    docs.as[(Long, String, String, String, Long)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (id, text, lang, source, nChars) =>
        val base = id * 4
        Seq(
          (base + 1) -> PgOutputEncoder.encode(Begin(base + 3, 0L, id.toInt)),
          (base + 2) -> PgOutputEncoder.encode(Insert(DocumentsRelId, TupleData(Vector(
            t(id.toString), t(text), t(lang), t(source), t(nChars.toString))))),
          (base + 3) -> PgOutputEncoder.encode(Commit(0, base + 3, base + 3, 0L)))
      }
      rel ++ dml
    }
  }

  /** documents → frames with FULL DML (the corpus as a LIVING table):
    * every doc inserts; doc_id % 7 == 0 is then UPDATED (text gains a
    * ' zzupdate' suffix) with a REPLICA IDENTITY FULL old image;
    * doc_id % 11 == 0 is DELETED carrying the full CURRENT image (the
    * post-update text when both apply — deletes sort after updates).
    * LSN = doc_id*16 + offset keeps events distinct and arrival ≡ doc
    * order. Retraction-grade old images are what incremental index
    * maintenance (cdc_incremental_termdf) consumes. */
  def documentsToFramesDml(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val docs = graft.Tables.fanout(graft.Tables.documents(spark, sfDir))
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val relFrame = PgOutputEncoder.encode(documentsRelation)
    docs.as[(Long, String, String, String, Long)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (id, text, lang, source, nChars) =>
        val base = id * 16
        def tup(tx: String) = TupleData(Vector(
          t(id.toString), t(tx), t(lang), t(source), t(nChars.toString)))
        val ins = Seq(
          (base + 1) -> PgOutputEncoder.encode(Begin(base + 3, 0L, id.toInt)),
          (base + 2) -> PgOutputEncoder.encode(Insert(DocumentsRelId, tup(text))),
          (base + 3) -> PgOutputEncoder.encode(Commit(0, base + 3, base + 3, 0L)))
        val upd = if (id % 7 == 0) Seq(
          (base + 4) -> PgOutputEncoder.encode(Begin(base + 6, 0L, id.toInt)),
          (base + 5) -> PgOutputEncoder.encode(Update(DocumentsRelId,
            Some('O'), Some(tup(text)), tup(text + " zzupdate"))),
          (base + 6) -> PgOutputEncoder.encode(Commit(0, base + 6, base + 6, 0L)))
        else Nil
        val current = if (id % 7 == 0) text + " zzupdate" else text
        val del = if (id % 11 == 0) Seq(
          (base + 7) -> PgOutputEncoder.encode(Begin(base + 9, 0L, id.toInt)),
          (base + 8) -> PgOutputEncoder.encode(Delete(DocumentsRelId, 'O', tup(current))),
          (base + 9) -> PgOutputEncoder.encode(Commit(0, base + 9, base + 9, 0L)))
        else Nil
        ins ++ upd ++ del
      }
      rel ++ dml
    }
  }

  val EmbeddingsRelId = 50004

  /** Wire-style relation for the embedding store: the vector rides as a pg
    * array-typed column whose wire form is TEXT ("{v1,v2,…}") — exactly how
    * a float4[] column surfaces on a real replication stream. */
  val embeddingsRelation: Relation = Relation(
    EmbeddingsRelId, "public", "embeddings", 'd',
    Vector(
      RelationColumn(partOfKey = true, "vec_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "embedding", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "label", TypedView.Oid.Int4, -1)))

  /** embeddings → pgoutput frames: insert every vector; vec_id % 9 == 0 is
    * later deleted with a REPLICA IDENTITY FULL old image (retraction needs
    * the vector). Floats render at DOUBLE precision ("0.10000000149011612",
    * not "0.1") so the text→double parse on the consumer side reproduces
    * exactly the float-widened value both engines compute from the parquet
    * column — bit-identical distances. */
  def embeddingsToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val e = graft.Tables.fanout(graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), col("label")))
    val relFrame = PgOutputEncoder.encode(embeddingsRelation)
    e.as[(Long, Array[Float], Int)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (id, vec, label) =>
        val base = id * 4
        val arr = vec.map(_.toDouble.toString).mkString("{", ",", "}")
        val ins = Seq((base + 1) -> PgOutputEncoder.encode(
          Insert(EmbeddingsRelId, TupleData(Vector(
            t(id.toString), t(arr), t(label.toString))))))
        val del = if (id % 9 == 0) Seq((base + 2) -> PgOutputEncoder.encode(
          Delete(EmbeddingsRelId, 'O', TupleData(Vector(
            t(id.toString), t(arr), t(label.toString))))))
        else Nil
        ins ++ del
      }
      rel ++ dml
    }
  }

  val EventsRelId = 50005

  /** Wire-style relation for the event stream feeding the incrementally
    * maintained seasonal baseline: the grouping key `etype_hr`
    * ("<event_type>|<hour-of-day>") ships as a MATERIALIZED column —
    * the standard shape for views grouped on a derived key (the source
    * computes it once; the view never re-parses timestamps) — and the
    * value ships as integer cents so every delta is exact. */
  val eventsRelation: Relation = Relation(
    EventsRelId, "public", "events_agg", 'f', // REPLICA IDENTITY FULL: deletes ship 'O' images
    Vector(
      RelationColumn(partOfKey = true, "event_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "etype_hr", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "cents", TypedView.Oid.Int8, -1)))

  /** events → pgoutput frames: insert every event; event_id % 13 == 0 is
    * later DELETED with a REPLICA IDENTITY FULL old image (late
    * invalidation — bot/abuse traffic retracted after the fact), which is
    * exactly the retraction the delta-maintained baseline must absorb.
    * LSN = event_id*4 + offset keeps arrival ≡ event order. */
  def eventsToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val ev = graft.Tables.fanout(graft.Tables.events(spark, sfDir))
      .select(col("event_id"),
        concat_ws("|", col("event_type"), hour(col("ts"))).as("etype_hr"),
        round(col("value") * 100).cast("long").as("cents"))
    val relFrame = PgOutputEncoder.encode(eventsRelation)
    ev.as[(Long, String, Long)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.flatMap { case (id, key, cents) =>
        val base = id * 4
        def tup = TupleData(Vector(t(id.toString), t(key), t(cents.toString)))
        val ins = Seq((base + 1) -> PgOutputEncoder.encode(Insert(EventsRelId, tup)))
        val del = if (id % 13 == 0) Seq((base + 2) -> PgOutputEncoder.encode(
          Delete(EventsRelId, 'O', tup)))
        else Nil
        ins ++ del
      }
      rel ++ dml
    }
  }

  val EventsFullRelId = 50007

  /** Full behavioral-event relation (every type, with the metric value as
    * cents) — the forecast-serving wire shape: the hourly (type, hour)
    * grid that feeds the Holt-Winters fold is derivable from these inserts
    * alone. */
  val eventsFullRelation: Relation = Relation(
    EventsFullRelId, "public", "events_full", 'd',
    Vector(
      RelationColumn(partOfKey = true, "event_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "ts_us", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "event_type", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "cents", TypedView.Oid.Int8, -1),
      // the hourly-grid group key ships materialized ("<type>|<abs hour>",
      // the eventsRelation convention) so the streaming grid sink never
      // re-parses timestamps
      RelationColumn(partOfKey = false, "etype_hr", TypedView.Oid.Text, -1)))

  /** All events → insert-only pgoutput frames (append-only log, LSN =
    * event order) — feeds `cdc_forecast_serving` and the streaming
    * hourly-grid sink behind the Holt-Winters serving view. */
  def eventsFullToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val ev = graft.Tables.fanout(graft.Tables.events(spark, sfDir))
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .withColumn("etype_hr",
        concat_ws("|", col("event_type"), expr("ts_us div 3600000000")))
    val relFrame = PgOutputEncoder.encode(eventsFullRelation)
    ev.as[(Long, Long, String, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.map { case (id, us, tpe, cents, key) =>
        (id * 2 + 1) -> PgOutputEncoder.encode(Insert(EventsFullRelId,
          TupleData(Vector(t(id.toString), t(us.toString), t(tpe),
            t(cents.toString), t(key)))))
      }
      rel ++ dml
    }
  }

  val EventsUserRelId = 50006

  /** User-level event stream relation (the survival/conversion wire shape:
    * who did what when, vs [[eventsRelation]]'s pre-bucketed agg deltas). */
  val eventsUserRelation: Relation = Relation(
    EventsUserRelId, "public", "events_user", 'd',
    Vector(
      RelationColumn(partOfKey = true, "event_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "user_id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "ts_us", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "event_type", TypedView.Oid.Text, -1)))

  /** view/purchase events → insert-only pgoutput frames (an append-only
    * behavioral log — nothing retracts a user's action), LSN = event order. */
  def eventsUserToFrames(spark: SparkSession, sfDir: String): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    val ev = graft.Tables.fanout(graft.Tables.events(spark, sfDir))
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
    val relFrame = PgOutputEncoder.encode(eventsUserRelation)
    ev.as[(Long, Long, Long, String)].mapPartitions { rows =>
      def t(v: String) = ColumnData('t', Some(v))
      val rel = Iterator.single(0L -> relFrame)
      val dml = rows.map { case (id, user, us, tpe) =>
        (id * 2 + 1) -> PgOutputEncoder.encode(Insert(EventsUserRelId,
          TupleData(Vector(t(id.toString), t(user.toString),
            t(us.toString), t(tpe)))))
      }
      rel ++ dml
    }
  }

  /** Composite-key wire slice: frames → decode → compact on the two-column
    * pk → typed state. */
  def materializedLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT persisted, deliberately: compact()'s truncate high-water branch
    // and its main window branch each traverse the events lineage, but the
    // two jobs overlap on idle cores — measured 7.6 s; caching the frames
    // to decode once measured 9.4 s and caching the decoded envelope 14.3 s
    // (MapType columnar cache build costs more than the duplicate work).
    val events = decodeFrames(lineitemToFrames(spark, sfDir))
    Cdc.materialize(events, lineitemRelation)
  }

  /** Binary frames → envelope rows of `Envelope.schema`, the same shape the
    * `pgcdc` source emits. Pure per-partition decode: each partition
    * carries its own leading Relation frame, so no cross-partition schema
    * dependency exists (the streaming source does the same per
    * micro-batch). */
  def decodeFrames(frames: Dataset[(Long, Array[Byte])]): DataFrame =
    decodeFrames(frames, emitMessages = false)

  def decodeFrames(frames: Dataset[(Long, Array[Byte])], emitMessages: Boolean): DataFrame = {
    import frames.sparkSession.implicits._
    Envelope.frame(frames.mapPartitions { iter =>
      val registry = new SchemaRegistry
      val builder = new ChangeEventBuilder(registry, emitMessages = emitMessages)
      iter.flatMap { case (lsn, payload) => builder.processRaw(lsn, payload) }
    })
  }

  /** Full slice: generate frames → decode → compact → typed current state. */
  def materializedOrders(spark: SparkSession, sfDir: String, pattern: DmlPattern): DataFrame = {
    val events = decodeFrames(ordersToFrames(spark, sfDir, pattern))
    val fillToast = pattern.toastPriorityOnUpdate
    Cdc.materialize(events, ordersRelation, fillToast)
  }

  /** Kafka-style LOG COMPACTION: reduce a decoded change log to ONE
    * synthetic insert transaction per SURVIVING key — the final
    * TOAST-repaired image, positioned at the key's last LSN — dropping
    * superseded updates and collapsing deleted keys entirely (tombstone
    * GC). The compaction contract: replaying the compacted log through the
    * normal decode→compact pipeline materializes the SAME state as the
    * full log (oracle-checked end-to-end by `cdc_compacted_replay`), while
    * the log shrinks from O(history) to O(live keys) — what lets a new
    * consumer bootstrap without reading a year of WAL. Scale shape:
    * decode+compact is the standard one-pk-shuffle pipeline; re-encoding
    * is a narrow per-partition map, each output partition self-contained
    * behind its own leading Relation frame (decodeFrames' contract). LSNs
    * rescale ×4 to make room for Begin/Commit framing while preserving the
    * original total order. */
  def compactFrames(events: DataFrame, rel: Relation): Dataset[(Long, Array[Byte])] = {
    val spark = events.sparkSession
    import spark.implicits._
    val names = rel.columns.map(_.name)
    val st = Cdc.compactFillingToast(
        events.filter(col("relation_id") === rel.relationId), rel.keyColumnNames)
      .select(col("lsn"), col("after")).as[(Long, Map[String, String])]
    val relFrame = PgOutputEncoder.encode(rel)
    st.mapPartitions { rows =>
      val dml = rows.flatMap { case (lsn, after) =>
        val tuple = TupleData(names.toVector.map { n =>
          after.get(n) match {
            case Some(v) if v != null => ColumnData('t', Some(v))
            case _ => ColumnData('n', None)
          }
        })
        val base = lsn * 4
        Iterator(
          base -> PgOutputEncoder.encode(Begin(base + 2, 0L, 1)),
          (base + 1) -> PgOutputEncoder.encode(Insert(rel.relationId, tuple)),
          (base + 2) -> PgOutputEncoder.encode(Commit(0, base + 2, base + 2, 0L)))
      }
      Iterator.single(0L -> relFrame) ++ dml
    }
  }
}
