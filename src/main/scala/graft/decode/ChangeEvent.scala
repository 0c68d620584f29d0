package graft.decode

/** Transaction metadata carried on every event, stashed from `Begin` and
  * cleared on `Commit` (reference: reader.py:203-228 "T7"). */
final case class TxnMeta(txId: Int, beginLsn: Long, commitTsUs: Long)

/** One decoded change — the object [[ChangeEventBuilder]] emits, the Spark
  * realization of the reference's `ChangeEvent` (models.py:64-76, SURVEY.md
  * §1.1). Its row form is `graft.sources.Envelope.schema`: the fields
  * follow that schema's order, and `Envelope.frame` renames a
  * `Dataset[ChangeEvent]` into it (camelCase here, snake_case as columns).
  *
  * Dynamic table shapes ride in `Map[colName -> textValue]` images (pgoutput
  * sends all values as text); per-table *typed* views are derived later from
  * the schema registry (SURVEY.md §1.3) — never by changing the stream's own
  * schema mid-query.
  *
  * NULL vs unchanged-TOAST (SURVEY.md §7.2): a NULL column is present in the
  * image map with a null value; an unchanged-TOAST column is *absent* from
  * the map and listed in `afterToasted`/`beforeToasted`. The reference
  * conflates the two (reader.py:52-58) and silently corrupts wide rows; we
  * keep the distinction so materialization can coalesce with prior state.
  *
  * `seq` is a per-partition monotonic sequence for deterministic ordering of
  * events sharing an LSN (the reference relies on single-threaded callback
  * order, reader.py:178-201).
  */
final case class ChangeEvent(
    op: String,
    messageId: String,
    lsn: Long,
    seq: Long,
    txId: Int,
    beginLsn: Long,
    commitTsUs: Long,
    namespace: String,
    table: String,
    relationId: Int,
    key: Map[String, String],
    before: Map[String, String],
    after: Map[String, String],
    beforeToasted: Seq[String],
    afterToasted: Seq[String],
    origin: String = null)

/** Registry of wire-discovered relation schemas, keyed by relation id
  * (reference `MetadataStore`, stores.py:121-156). Used driver-side by the
  * streaming source and executor-side (one instance per partition) by batch
  * decode pipelines. */
final class SchemaRegistry extends Serializable {
  private val relations = scala.collection.concurrent.TrieMap.empty[Int, Relation]
  // 'Y' (PgType) messages pre-warm type names without a catalog round-trip
  // (the reference left this decoder an unimplemented stub, D6).
  private val typeNames = scala.collection.concurrent.TrieMap.empty[Int, String]

  def update(r: Relation): Unit = relations.put(r.relationId, r)
  def updateType(t: PgType): Unit = typeNames.put(t.typeOid, s"${t.namespace}.${t.name}")
  def typeName(oid: Int): Option[String] = typeNames.get(oid)
  def get(relationId: Int): Option[Relation] = relations.get(relationId)
  def getOrThrow(relationId: Int): Relation =
    relations.getOrElse(relationId,
      throw new PgOutputDecodeException(
        s"no Relation message seen for relation id $relationId"))
  def all: Map[Int, Relation] = relations.toMap
}

/** Buffer for an in-flight streamed/prepared transaction's frames: first
  * `spillThreshold` entries stay on the heap, the overflow appends to a
  * temp file as re-encoded wire bytes — the consumer-side mirror of the
  * Postgres apply worker's changes spill file, so one multi-GB bulk-load
  * transaction cannot OOM an executor. Subtransaction aborts are recorded
  * as a drop-set and filtered on replay (an O(1) abort instead of a file
  * rewrite); whole-transaction aborts delete the file. */
private[decode] final class TxnSpillBuffer(spillThreshold: Int) {
  private val mem = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, PgOutputMessage)]
  private val droppedSubXids = scala.collection.mutable.Set.empty[Int]
  private var file: java.io.File = null
  private var out: java.io.DataOutputStream = null
  private var spilledCount = 0L

  def append(subXid: Int, lsn: Long, msg: PgOutputMessage): Unit =
    if (file == null && mem.size < spillThreshold) mem += ((subXid, lsn, msg))
    else {
      if (file == null) {
        file = java.io.File.createTempFile("graft-txn-spill", ".bin")
        file.deleteOnExit()
        out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
          new java.io.FileOutputStream(file)))
      }
      val bytes = PgOutputEncoder.encode(msg)
      out.writeInt(subXid); out.writeLong(lsn)
      out.writeInt(bytes.length); out.write(bytes)
      spilledCount += 1
    }

  def dropSubXid(subXid: Int): Unit = {
    droppedSubXids += subXid
    mem.filterInPlace(_._1 != subXid)
  }

  /** Replay surviving frames in arrival order, then release all resources.
    * Must be consumed fully (the commit path always does). */
  def drain(): Iterator[(Int, Long, PgOutputMessage)] = {
    val fromFile: Iterator[(Int, Long, PgOutputMessage)] =
      if (file == null) Iterator.empty
      else {
        out.close()
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          new java.io.FileInputStream(file)))
        new Iterator[(Int, Long, PgOutputMessage)] {
          private var remaining = spilledCount
          def hasNext: Boolean = {
            if (remaining == 0L && in != null) in.close()
            remaining > 0L
          }
          def next(): (Int, Long, PgOutputMessage) = {
            val subXid = in.readInt(); val lsn = in.readLong()
            val bytes = new Array[Byte](in.readInt()); in.readFully(bytes)
            remaining -= 1
            if (remaining == 0L) { in.close(); discard() }
            (subXid, lsn, PgOutputDecoder.decode(bytes))
          }
        }
      }
    (mem.iterator ++ fromFile).filterNot(e => droppedSubXids.contains(e._1))
  }

  def discard(): Unit = {
    mem.clear()
    if (out != null) { try out.close() catch { case _: Throwable => () } }
    if (file != null) { file.delete(); file = null; out = null }
  }
}

/** Stateful fold turning a partition-ordered pgoutput message sequence into
  * envelope rows. Implements the reference's transform semantics:
  *  - T1 dispatch (reader.py:203-228), T3 tuple→named projection
  *    (reader.py:52-58), T5 before/after image rules (reader.py:323-384),
  *  - T6 key extraction: `key` = before image if present, else pk-projection
  *    of after (reader.py:230-241),
  *  - T7 txn assembly: Begin metadata carried on each I/U/D until Commit,
  *  - T8 truncate fan-out: one event per truncated relation (the reference's
  *    generator-based truncate never worked, reader.py:386-398 — fixed).
  */
final class ChangeEventBuilder(
    registry: SchemaRegistry,
    emitTxnMarkers: Boolean = false,
    emitMessages: Boolean = false,
    spillThreshold: Int = 1 << 16) {

  private var txn: Option[TxnMeta] = None
  // Replication origin of the current transaction ('O' message, sent after
  // Begin for transactions replayed from another node). The reference left
  // this decoder an unimplemented stub (D4); we decode and carry it on
  // every event of the transaction.
  private var origin: Option[String] = None
  private var seq: Long = 0L

  // Protocol-v2 streamed-transaction reassembly: xid of the currently open
  // 'S' segment, plus per-top-level-xid buffers of (subXid, lsn, message)
  // awaiting StreamCommit/StreamAbort. Memory is bounded by spillThreshold
  // frames per in-flight transaction — the overflow goes to a local spill
  // file (TxnSpillBuffer), the same strategy the Postgres apply worker
  // uses, so a multi-GB bulk-load transaction cannot OOM the executor.
  private var streamXid: Option[Int] = None
  private val streamBufs =
    scala.collection.mutable.LinkedHashMap.empty[Int, TxnSpillBuffer]
  private val streamFirstLsn = scala.collection.mutable.Map.empty[Int, Long]

  // Two-phase commit (protocol v3): a PREPARE TRANSACTION txn's DML buffers
  // under its gid from 'b' (BeginPrepare) to 'P' (Prepare), then waits —
  // possibly across many other transactions — for 'K' (CommitPrepared) or
  // 'r' (RollbackPrepared). In-doubt transactions (prepared, never
  // resolved before end of stream) are never emitted, matching a 2PC
  // participant's obligation to hold them. Same spill bound as streams.
  private var preparedOpen: Option[String] = None
  private val preparedBufs =
    scala.collection.mutable.LinkedHashMap.empty[String, (Int, Long, TxnSpillBuffer)]

  private def nextSeq(): Long = { seq += 1; seq }

  /** Per-message id (the reference mints a uuid4 per frame, reader.py:180
    * "S3"); ours is the deterministic (lsn, seq) pair so replays produce
    * identical ids — which is what makes exactly-once dedup by message id
    * possible downstream. */
  private def messageId(lsn: Long, seq: Long): String = s"$lsn-$seq"

  /** Zip positional tuple data with schema column names (T3). Returns the
    * text image map (NULL ⇒ present with null value; unchanged-TOAST ⇒
    * absent) and the list of TOASTed column names. Binary-mode values
    * ('b', pgoutput `binary 'true'`) are rendered to the canonical text
    * here — the one boundary where the relation's type oid is in hand —
    * so every downstream consumer (envelope, typed views, compaction,
    * sinks) is transfer-mode agnostic. */
  private def imageOf(tuple: TupleData, rel: Relation): (Map[String, String], Seq[String]) = {
    val img = Map.newBuilder[String, String]
    val toasted = Seq.newBuilder[String]
    rel.columns.iterator.zip(tuple.columns.iterator).foreach { case (col, cd) =>
      cd.category match {
        case 't' => img += col.name -> cd.data.get
        case 'b' =>
          val text =
            try PgBinary.render(col.typeOid, cd.bin.get.toArray)
            catch {
              case e: PgOutputDecodeException =>
                throw new PgOutputDecodeException(
                  s"${rel.namespace}.${rel.name}.${col.name}: ${e.getMessage}", e)
            }
          img += col.name -> text
        case 'n' => img += col.name -> null
        case 'u' => toasted += col.name
        case _ =>
      }
    }
    (img.result(), toasted.result())
  }

  /** Key-only tuples ('K') carry values only for key columns; non-key
    * positions arrive as NULL category. Project just the pk columns. */
  private def keyImage(tuple: TupleData, rel: Relation): Map[String, String] = {
    val keys = rel.columns.filter(_.partOfKey).map(_.name).toSet
    val (img, _) = imageOf(tuple, rel)
    img.filter { case (k, _) => keys.contains(k) }
  }

  private def pkProjection(image: Map[String, String], rel: Relation): Map[String, String] =
    rel.keyColumnNames.iterator.collect {
      case k if image.contains(k) => k -> image(k)
    }.toMap

  private def meta: TxnMeta = txn.getOrElse(TxnMeta(-1, -1L, -1L))

  private def event(
      op: String, lsn: Long, rel: Relation,
      key: Map[String, String],
      before: Map[String, String], after: Map[String, String],
      beforeToasted: Seq[String], afterToasted: Seq[String]): ChangeEvent = {
    val m = meta
    val s = nextSeq()
    ChangeEvent(op, messageId(lsn, s), lsn, s, m.txId, m.beginLsn, m.commitTsUs,
      rel.namespace, rel.name, rel.relationId, key, before, after,
      beforeToasted, afterToasted, origin.orNull)
  }

  /** Decode + process in one step, tracking the protocol-v2 stream-segment
    * state the stateless decoder cannot (R/Y/I/U/D/T/M frames change layout
    * inside an open 'S' segment). All stateful decode paths (batch replay,
    * the frame-replay source, the live source) go through here. */
  def processRaw(lsn: Long, payload: Array[Byte]): Seq[ChangeEvent] =
    process(lsn, PgOutputDecoder.decode(payload, inStream = streamXid.isDefined))

  /** Process one message at the given WAL position; emits zero or more
    * envelope rows (Begin/Commit/Relation/PgType/Origin emit none — their
    * content rides on subsequent events or updates the registry). */
  def process(lsn: Long, msg: PgOutputMessage): Seq[ChangeEvent] = msg match {
    case b: Begin =>
      txn = Some(TxnMeta(b.xid, b.finalLsn, b.commitTs))
      // Optional B/C sentinel rows (the reference routes these to dedicated
      // handlers, reader.py:190-195; txn-atomic assembly keys off them).
      if (emitTxnMarkers) {
        val m = meta
        val s = nextSeq()
        Seq(ChangeEvent("B", messageId(lsn, s), lsn, s, m.txId, m.beginLsn, m.commitTsUs,
          null, null, -1, null, null, null, Nil, Nil, origin.orNull))
      } else Nil
    case c: Commit =>
      val out = if (emitTxnMarkers) {
        val m = meta
        val s = nextSeq()
        Seq(ChangeEvent("C", messageId(lsn, s), lsn, s, m.txId, m.beginLsn, c.commitTs,
          null, null, -1, null, null, null, Nil, Nil, origin.orNull))
      } else Nil
      txn = None
      origin = None
      out
    case r: Relation =>
      registry.update(r); Nil
    case t: PgType =>
      registry.updateType(t); Nil
    case o: Origin =>
      origin = Some(o.name); Nil

    case m: LogicalMessage =>
      // Transactional messages ride the surrounding transaction's metadata
      // (a non-streamed txn on the wire always commits — aborted txns are
      // never decoded at all); non-transactional ones are emitted at their
      // own WAL position regardless of any open transaction. Inside a
      // prepared txn a transactional message shares the txn's fate.
      if (m.transactional && preparedOpen.isDefined) {
        preparedBufs(preparedOpen.get)._3.append(0, lsn, m); Nil
      } else if (emitMessages) Seq(messageEvent(lsn, m, inTxn = m.transactional))
      else Nil

    case StreamStart(xid, _) =>
      streamXid = Some(xid)
      if (!streamBufs.contains(xid)) {
        streamBufs(xid) = new TxnSpillBuffer(spillThreshold)
        streamFirstLsn(xid) = lsn
      }
      Nil

    case StreamStop =>
      streamXid = None; Nil

    case StreamedPart(subXid, inner) =>
      val top = streamXid.getOrElse(throw new PgOutputDecodeException(
        s"streamed '${inner.msgType}' frame outside an open stream segment"))
      streamBufs(top).append(subXid, lsn, inner)
      Nil

    case StreamAbort(xid, subXid) =>
      // Whole-transaction abort drops the buffer; a subtransaction abort
      // surgically removes only that subXid's frames — the rest of the
      // transaction stays pending until its own commit/abort.
      if (subXid == xid) {
        streamBufs.remove(xid).foreach(_.discard()); streamFirstLsn.remove(xid)
      } else streamBufs.get(xid).foreach(_.dropSubXid(subXid))
      Nil

    case sc: StreamCommit =>
      // Reassembly point: replay the surviving buffered frames in arrival
      // order under the now-known commit metadata. Relation/PgType frames
      // inside the stream apply to the registry here, so tuple projection
      // sees exactly the schema state the frames were generated under.
      val pending = streamBufs.remove(sc.xid)
      val firstLsn = streamFirstLsn.remove(sc.xid).getOrElse(-1L)
      txn = Some(TxnMeta(sc.xid, firstLsn, sc.commitTs))
      val out = pending.iterator.flatMap(_.drain()).flatMap {
        case (_, l, r: Relation) => registry.update(r); Nil
        case (_, l, t: PgType) => registry.updateType(t); Nil
        case (_, l, m: LogicalMessage) =>
          if (emitMessages) Seq(messageEvent(l, m, inTxn = true)) else Nil
        case (_, l, dml) => emitDml(l, dml)
      }.toVector
      txn = None
      origin = None
      out

    case BeginPrepare(pLsn, _, _, xid, gid) =>
      preparedOpen = Some(gid)
      preparedBufs(gid) = (xid, lsn, new TxnSpillBuffer(spillThreshold))
      Nil

    case _: Prepare =>
      // closes the data section; the txn is now in-doubt until 'K'/'r'
      preparedOpen = None
      Nil

    case cp: CommitPrepared =>
      preparedBufs.remove(cp.gid) match {
        case None => Nil // resolution for a txn prepared before this stream
        case Some((xid, firstLsn, pending)) =>
          txn = Some(TxnMeta(xid, firstLsn, cp.commitTs))
          val out = pending.drain().flatMap {
            case (_, _, r: Relation) => registry.update(r); Nil
            case (_, _, y: PgType) => registry.updateType(y); Nil
            case (_, l, m: LogicalMessage) =>
              if (emitMessages) Seq(messageEvent(l, m, inTxn = true)) else Nil
            case (_, l, m) => emitDml(l, m)
          }.toVector
          txn = None
          origin = None
          out
      }

    case rp: RollbackPrepared =>
      preparedBufs.remove(rp.gid).foreach(_._3.discard())
      Nil

    case sp: StreamPrepare =>
      // a streamed txn's PREPARE: its buffer (spill file and all) moves to
      // the prepared table keyed by gid, awaiting 'K'/'r' resolution
      val pending = streamBufs.remove(sp.xid)
        .getOrElse(new TxnSpillBuffer(spillThreshold))
      val firstLsn = streamFirstLsn.remove(sp.xid).getOrElse(-1L)
      preparedBufs(sp.gid) = (sp.xid, firstLsn, pending)
      Nil

    case dml =>
      preparedOpen match {
        case Some(gid) => preparedBufs(gid)._3.append(0, lsn, dml); Nil
        case None => emitDml(lsn, dml)
      }
  }

  private def messageEvent(lsn: Long, m: LogicalMessage, inTxn: Boolean): ChangeEvent = {
    val mt = if (inTxn) meta else TxnMeta(-1, -1L, -1L)
    val s = nextSeq()
    ChangeEvent("M", messageId(lsn, s), lsn, s, mt.txId, mt.beginLsn, mt.commitTsUs,
      null, null, -1, Map.empty, null,
      Map("prefix" -> m.prefix, "content" -> m.contentText,
        "transactional" -> m.transactional.toString,
        "message_lsn" -> m.lsn.toString),
      Nil, Nil, origin.orNull)
  }

  private def emitDml(lsn: Long, msg: PgOutputMessage): Seq[ChangeEvent] = msg match {
    case Insert(relId, newTuple) =>
      val rel = registry.getOrThrow(relId)
      val (after, afterToasted) = imageOf(newTuple, rel)
      // T5: INSERT has no before image; T6: key = pk projection of after.
      Seq(event("I", lsn, rel, pkProjection(after, rel), null, after, Nil, afterToasted))

    case Update(relId, oldKind, oldTuple, newTuple) =>
      val rel = registry.getOrThrow(relId)
      val (after0, afterToasted0) = imageOf(newTuple, rel)
      val (before, beforeToasted) = oldKind match {
        case Some('O') => imageOf(oldTuple.get, rel) // REPLICA IDENTITY FULL
        case Some('K') => (keyImage(oldTuple.get, rel), Nil) // key-only old image
        case _ => (null, Nil) // key unchanged; old image not sent
      }
      // Decode-time unchanged-TOAST repair: 'u' means "same value as the
      // old row", and when a full 'O' old image rides the same frame that
      // value is RIGHT HERE — fill it now so the emitted after image is
      // complete. Observed live (PG 15, REPLICA IDENTITY FULL): updates
      // pair a full old image WITH 'u' markers in the new tuple. Columns
      // the old image doesn't cover stay marked for the compaction-time
      // repair (compactFillingToast).
      val repairable =
        if (before == null) Nil
        else afterToasted0.filter(c => before.get(c).exists(_ != null))
      val after =
        if (repairable.isEmpty) after0
        else after0 ++ repairable.map(c => c -> before(c))
      val afterToasted = afterToasted0.filterNot(repairable.contains)
      val newPk = pkProjection(after, rel)
      val oldPk = if (before != null) pkProjection(before, rel) else newPk
      if (before != null && oldPk.nonEmpty && oldPk != newPk) {
        // Replica-identity-changing update: a single 'U' keyed by either
        // key would strand or duplicate a key in last-LSN-wins compaction,
        // so emit Debezium-style 'D'(old key) + 'I'(new key); seq ordering
        // makes the delete sort strictly before the insert. Under identity
        // DEFAULT/'K' this fires exactly on pk changes. Under REPLICA
        // IDENTITY FULL (observed live: Relation flags EVERY column as
        // key), any value change re-keys the row, so identity-full updates
        // split too — the representation PG's own apply model (old-image
        // lookup, rewrite) is equivalent to, and the only one that stays
        // correct when the true pk DID change (the wire cannot reveal it).
        // The TOAST repair above makes both images complete first.
        // A still-TOASTed column of a key-changing update has no prior
        // state under the NEW key to fill from; the remaining markers
        // mirror Debezium's incomplete-new-row behavior.
        Seq(
          event("D", lsn, rel, before, before, null, beforeToasted, Nil),
          event("I", lsn, rel, newPk, null, after, Nil, afterToasted))
      } else {
        val key = if (before != null) before else newPk
        Seq(event("U", lsn, rel, key, before, after, beforeToasted, afterToasted))
      }

    case Delete(relId, kind, oldTuple) =>
      val rel = registry.getOrThrow(relId)
      val before = kind match {
        case 'O' => imageOf(oldTuple, rel)._1
        case _ => keyImage(oldTuple, rel)
      }
      // T5: DELETE has no after image; T6: key = copy of before.
      Seq(event("D", lsn, rel, before, before, null, Nil, Nil))

    case Truncate(_, relIds) =>
      // T8: fan out one event per truncated relation.
      relIds.flatMap { relId =>
        registry.get(relId).map { rel =>
          event("T", lsn, rel, Map.empty, null, null, Nil, Nil)
        }
      }

    case other =>
      throw new PgOutputDecodeException(
        s"message type '${other.msgType}' is not a DML frame")
  }
}
