package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, FileInputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

/** A durable, append-only log of pgoutput frames — the backing store of the
  * replayable source (SURVEY.md §7 step 3: "deterministic streaming tests
  * with no Postgres"). One file, length-prefixed records:
  *
  *   [lsn: int64 BE][len: int32 BE][payload: len bytes]
  *
  * The live pgcdc producers share every downstream stage; only the frame
  * producer differs (a walsender via [[PgWireConduit]] vs this file). */
object FrameLog {

  final case class Entry(lsn: Long, payload: Array[Byte])

  /** Order collected generator frames the way a real walsender would emit
    * them. A bare stable sort on lsn is NOT enough: the orders generators
    * assign abutting per-key LSN blocks, so key k's delete-txn Commit
    * (lsn = 8·(k+1)) ties with key k+1's insert Begin (lsn = 8·(k+1)), and
    * after the fan-out the two come from different partitions — the tie can
    * serialize Begin-before-foreign-Commit, making ChangeEventBuilder stamp
    * the following Insert with the WRONG (cleared) txn metadata. Secondary
    * key: a 'B' frame sorts AFTER any other tag at equal lsn (the stable
    * sort still keeps same-tag and Insert-before-Commit arrival order,
    * which the lineitem generator's equal-lsn Insert/Commit pairs rely
    * on). */
  def lsnOrdered(frames: Array[(Long, Array[Byte])]): Iterator[Entry] =
    frames.sortBy { case (lsn, payload) =>
      (lsn, if (payload.nonEmpty && payload(0) == 'B'.toByte) 1 else 0)
    }.iterator.map { case (lsn, bytes) => Entry(lsn, bytes) }

  def write(path: String, frames: Iterator[Entry]): Long = {
    Files.createDirectories(Paths.get(path).getParent)
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path)))
    var n = 0L
    try frames.foreach { e =>
      out.writeLong(e.lsn); out.writeInt(e.payload.length); out.write(e.payload); n += 1
    } finally out.close()
    n
  }

  def append(path: String, frames: Iterator[Entry]): Long = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path, true)))
    var n = 0L
    try frames.foreach { e =>
      out.writeLong(e.lsn); out.writeInt(e.payload.length); out.write(e.payload); n += 1
    } finally out.close()
    n
  }

  /** Lazily iterate entries [from, until) by record index. Closeable so
    * callers that stop early (LIMIT, task cancellation) can release the
    * file handle instead of leaking one per task; close() is idempotent
    * and also happens automatically on exhaustion / `until`. */
  def read(path: String, from: Long = 0L, until: Long = Long.MaxValue): Iterator[Entry] with java.io.Closeable =
    new Iterator[Entry] with java.io.Closeable {
      private val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
      private var idx = 0L
      private var nextEntry: Entry = null
      private var closed = false

      override def close(): Unit =
        if (!closed) { closed = true; in.close() }

      private def advance(): Unit = {
        nextEntry = null
        while (nextEntry == null && !closed) {
          try {
            val lsn = in.readLong()
            val len = in.readInt()
            val buf = new Array[Byte](len)
            in.readFully(buf)
            if (idx >= until) { in.close(); closed = true }
            else if (idx >= from) nextEntry = Entry(lsn, buf)
            idx += 1
          } catch {
            case _: EOFException => in.close(); closed = true
          }
        }
      }
      advance()
      override def hasNext: Boolean = nextEntry != null
      override def next(): Entry = {
        val e = nextEntry; advance(); e
      }
    }

  def count(path: String): Long = {
    if (!Files.exists(Paths.get(path))) return 0L
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(path)))
    var n = 0L
    try {
      while (true) {
        in.readLong()
        val len = in.readInt()
        if (in.skipBytes(len) != len) throw new EOFException
        n += 1
      }
      n
    } catch { case _: EOFException => n } finally in.close()
  }
}
