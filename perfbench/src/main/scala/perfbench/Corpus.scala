package perfbench

import scala.collection.mutable

import graft.decode._

/** One row change in the generator's model. `row` holds the text value of
  * every relation column (null = SQL NULL). An update with
  * `noteUnchanged` sends the `note` column as an unchanged-TOAST datum, so
  * its value must come from the key's previous image. */
final case class Change(op: Char, id: Long, row: Array[String], noteUnchanged: Boolean)

final case class Txn(changes: Vector[Change])

/** Share of inserts, updates and deletes, and the share of updates that
  * leave the TOASTed `note` column unchanged. Deletes and updates pick a
  * live key; with no live key they become inserts. */
final case class Mix(insert: Double, update: Double, toastShare: Double)

/** A frame log: (LSN, pgoutput payload) in LSN order, opening with the
  * Relation frame, plus where each transaction ends. `txnEnd(i)` is the
  * index one past the last frame of transaction i and `txnLsn(i)` the LSN
  * of its last change, which is the offset a stream must reach to have
  * delivered it. */
final case class FrameLog(
    frames: Array[(Long, Array[Byte])], txnEnd: Array[Int], txnLsn: Array[Long],
    events: Long) {
  def bytes: Long = frames.iterator.map(_._2.length.toLong).sum

  /** SHA-256 over every (LSN, payload) pair: equal logs, equal hex. */
  def sha256: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val b = java.nio.ByteBuffer.allocate(8)
    frames.foreach { case (lsn, p) =>
      b.clear(); b.putLong(lsn); md.update(b.array()); md.update(p)
    }
    md.digest().map(x => f"$x%02x").mkString
  }
}

/** Seeded generator of pgoutput change logs for one table, with the
  * expected table state computed by a sequential fold over the model. The
  * engine only ever sees the encoded frames. */
object Corpus {

  // pg_type oids: int8 = 20, text = 25, int4 = 23, bool = 16
  val rel: Relation = Relation(16401, "public", "accounts", 'd', Vector(
    RelationColumn(partOfKey = true, "id", 20, -1),
    RelationColumn(partOfKey = false, "owner", 25, -1),
    RelationColumn(partOfKey = false, "qty", 23, -1),
    RelationColumn(partOfKey = false, "balance", 20, -1),
    RelationColumn(partOfKey = false, "active", 16, -1),
    RelationColumn(partOfKey = false, "note", 25, -1)))

  val NoteIdx = 5
  private val Words = Vector("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "papa", "romeo", "sierra", "tango", "victor", "whiskey", "zulu")

  /** Generator state: the live keys (for picking update and delete
    * targets in O(1)) and the next fresh key. */
  final class Model(val rnd: java.util.SplittableRandom) {
    private val live = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.HashMap.empty[Long, Int]
    var nextId: Long = 1L
    def size: Int = live.size
    def add(id: Long): Unit = { pos(id) = live.size; live += id }
    def remove(id: Long): Unit = {
      val i = pos.remove(id).get
      val last = live.remove(live.size - 1)
      if (last != id) { live(i) = last; pos(last) = i }
    }
    def pick(): Long = live(rnd.nextInt(live.size))
  }

  private def row(m: Model, id: Long): Array[String] = {
    val r = m.rnd
    val note = {
      val n = 4 + r.nextInt(12)
      (0 until n).map(_ => Words(r.nextInt(Words.size))).mkString(" ")
    }
    Array(id.toString,
      if (r.nextInt(20) == 0) null else s"owner-${r.nextInt(5000)}",
      (r.nextInt(2000) - 1000).toString,
      (r.nextLong(2000000000L) - 1000000000L).toString,
      if (r.nextBoolean()) "t" else "f",
      note)
  }

  private def change(m: Model, mix: Mix): Change = {
    val u = m.rnd.nextDouble()
    if (m.size == 0 || u < mix.insert) {
      val id = m.nextId
      m.nextId += 1
      m.add(id)
      Change('I', id, row(m, id), noteUnchanged = false)
    } else if (u < mix.insert + mix.update) {
      val id = m.pick()
      Change('U', id, row(m, id), m.rnd.nextDouble() < mix.toastShare)
    } else {
      val id = m.pick()
      m.remove(id)
      Change('D', id, null, noteUnchanged = false)
    }
  }

  /** `n` transactions of 1 to `maxPerTxn` changes each. */
  def transactions(m: Model, n: Int, maxPerTxn: Int, mix: Mix): Vector[Txn] =
    Vector.fill(n)(Txn(Vector.fill(1 + m.rnd.nextInt(maxPerTxn))(change(m, mix))))

  /** `n` insert-only transactions of exactly `perTxn` rows. */
  def bulkInserts(m: Model, n: Int, perTxn: Int): Vector[Txn] =
    transactions(m, n * perTxn, 1, Mix(1.0, 0.0, 0.0)).grouped(perTxn)
      .map(g => Txn(g.flatMap(_.changes))).toVector

  private def tuple(c: Change): TupleData = TupleData(c.row.toVector.zipWithIndex.map {
    case (_, NoteIdx) if c.noteUnchanged => ColumnData('u', None)
    case (null, _) => ColumnData('n', None)
    case (v, _) => ColumnData('t', Some(v))
  })

  private def keyTuple(id: Long): TupleData = TupleData(rel.columns.map { rc =>
    if (rc.partOfKey) ColumnData('t', Some(id.toString)) else ColumnData('n', None)
  })

  private def dml(c: Change): PgOutputMessage = c.op match {
    case 'I' => Insert(rel.relationId, tuple(c))
    case 'U' => Update(rel.relationId, None, None, tuple(c))
    case 'D' => Delete(rel.relationId, 'K', keyTuple(c.id))
  }

  /** Frames for `txns`, opening with the Relation frame. LSNs advance by
    * each record's size, as WAL positions do. */
  def encode(txns: Seq[Txn]): FrameLog = {
    val out = mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    val ends = mutable.ArrayBuffer.empty[Int]
    val lsns = mutable.ArrayBuffer.empty[Long]
    var lsn = 8L
    out += lsn -> PgOutputEncoder.encode(rel)
    lsn += 64
    var events = 0L
    txns.zipWithIndex.foreach { case (t, i) =>
      val body = t.changes.map(c => PgOutputEncoder.encode(dml(c)))
      val beginLsn = lsn
      val firstDml = beginLsn + 48
      val dmlLsns = body.scanLeft(firstDml)((l, p) => l + 24 + p.length)
      val commitLsn = dmlLsns.last
      val ts = 1700000000000000L + i * 1000L
      val xid = 1000 + i
      out += beginLsn -> PgOutputEncoder.encode(Begin(commitLsn, ts, xid))
      body.zip(dmlLsns).foreach { case (p, l) => out += l -> p }
      out += commitLsn -> PgOutputEncoder.encode(Commit(0, commitLsn, commitLsn + 48, ts))
      lsn = commitLsn + 72
      events += body.size
      ends += out.size
      lsns += dmlLsns(body.size - 1)
    }
    FrameLog(out.toArray, ends.toArray, lsns.toArray, events)
  }

  /** The table state after applying `txns` in order to `init`. */
  def fold(txns: Iterator[Txn],
      init: Map[Long, Array[String]] = Map.empty): Map[Long, Array[String]] = {
    val st = mutable.HashMap.from(init)
    txns.foreach(_.changes.foreach { c =>
      c.op match {
        case 'D' => st.remove(c.id)
        case _ =>
          val img = c.row.clone()
          if (c.noteUnchanged) img(NoteIdx) = st(c.id)(NoteIdx)
          st(c.id) = img
      }
    })
    st.toMap
  }
}

object ExpectedState {
  import org.apache.spark.sql.{DataFrame, Row, SparkSession}
  import org.apache.spark.sql.types._

  /** The typed table the engine materializes, column for column. */
  val schema: StructType = StructType(Corpus.rel.columns.zip(Seq(
    LongType, StringType, IntegerType, LongType, BooleanType, StringType)).map {
    case (rc, t) => StructField(rc.name, t)
  })

  private def typed(v: String, t: DataType): Any =
    if (v == null) null
    else t match {
      case LongType => v.toLong
      case IntegerType => v.toInt
      case BooleanType => v == "t"
      case _ => v
    }

  /** The folded state as typed rows, for digesting against the engine's. */
  def frame(spark: SparkSession, state: Map[Long, Array[String]]): DataFrame = {
    val rows = state.valuesIterator.map(r =>
      Row.fromSeq(r.toSeq.zip(schema.fields).map { case (v, f) => typed(v, f.dataType) }))
      .toVector
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }
}
