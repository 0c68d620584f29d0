package graft.streaming

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit, max, struct, sum, when}

/** Crash-safe commits for parquet-backed sink state.
  *
  * Every state rewrite lands in a FRESH version directory (`v-<name>-<id>`)
  * beside the live one; the swap is a single `MANIFEST` pointer file
  * replaced via atomic rename. A crash at any point leaves either the old
  * manifest (old state fully intact, new dirs are invisible orphans) or the
  * new manifest (whose dirs were fully written before the flip) — never a
  * state directory that is half old, half new, which the previous
  * overwrite-in-place swap could produce. Orphans are swept on the next
  * successful commit.
  *
  * The manifest also carries scalar entries (the incremental aggregate's
  * high-water mark), so "new data + new watermark" is ONE atomic flip — a
  * crash can no longer publish merged data with a stale watermark, which
  * under replay would double-apply a batch.
  *
  * Manifest keys used by the sinks in [[Streams]]; each convention has one
  * implementation here:
  *  - `data`: the one version of a flat state ([[dataVersion]]);
  *    `data:<relationId>` per relation in the frontier-gated sink;
  *  - `nbuckets`: the bucket modulus of a bucketed layout;
  *  - `b<idx>`: one version per state bucket; the join view's families
  *    are `a<b>` (A side), `bb<b>` (B side) and `j<b>` (joined rows)
  *    ([[promoteBuckets]], [[bucketEntries]]);
  *  - `seg-<n>`: append-only segments, never rewritten ([[appendSegment]],
  *    [[segmentDirs]]); `open`: the scd2 sink's open versions;
  *  - `hwLsn`/`hwSeq`: the `(lsn, seq)` replay high-water ([[HighWater]]);
  *  - `hw`/`coll`/`applied`: the DBLog backfill's LSN high-water, collision
  *    keys and applied chunk ids;
  *  - `hw:<slot>`/`pending`: the frontier-gated sink's per-slot watermarks
  *    and held-back events.
  *
  * Scale note: this is the same commit shape as a transactional table
  * format's metadata pointer (snapshot files + one atomic pointer swap);
  * on a production object store the rename becomes the store's
  * put-if-absent/pointer CAS while every caller here stays unchanged.
  */
object StateStore {

  private val ManifestName = "MANIFEST"
  private val VersionPrefix = "v-"
  private val SnapPrefix = "snap-"

  /** Thrown by [[commitIf]] when the manifest moved after the caller's
    * load — the caller's rewrite was computed from a stale state and must
    * not be published. Carries both manifests so the operator can see WHAT
    * landed in the window (e.g. a backfill merge racing a retirement). */
  final class ConcurrentCommitException(root: String,
      val expected: Map[String, String], val found: Map[String, String])
    extends IllegalStateException(
      s"state under $root changed since it was read (expected " +
        s"${expected.toSeq.sorted.mkString(",")}; found " +
        s"${found.toSeq.sorted.mkString(",")}) — a concurrent commit " +
        "landed; rerun against the current state")

  /** One lock per state root (canonical path): every commit to a root is
    * serialized through it, which is what makes [[commitIf]]'s
    * load-compare-flip a real CAS rather than a narrower race. All
    * committers to a root share the driver JVM (sink foreachBatch bodies
    * and recovery verbs both run driver-side), so a JVM lock is the
    * correct scope here; on a production object store the same role is
    * played by the store's pointer CAS / put-if-absent (see the scale note
    * above), with every caller unchanged. */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // Deterministic, non-throwing normalization (absolute + ../. collapsed):
  // getCanonicalPath can throw on I/O, and a fallback-to-raw-string key
  // would hand two committers to the same root DIFFERENT lock objects on
  // an intermittent failure — silently voiding the CAS. normalize() is
  // pure path arithmetic; symlinked aliases of one root are out of scope
  // (no caller constructs them — state roots are literal dirs the sinks
  // themselves create). THE one root-canonicalization policy: commit
  // locks here and every driver-local registry keyed by root (backfill
  // progress, watermark bumps) share it, so they can never disagree on
  // which root a path names.
  private[streaming] def normalizeRoot(root: String): String =
    new File(root).toPath.toAbsolutePath.normalize.toString
  private def lockFor(root: String): Object =
    rootLocks.computeIfAbsent(normalizeRoot(root), _ => new Object)

  /** Test hook: simulate a crash after state files are written but before
    * the manifest flip (the window the protocol must make safe). */
  @volatile private[streaming] var failBeforeCommit: Boolean = false

  /** Current manifest entries; empty map if no state was ever committed. */
  def load(root: String): Map[String, String] = {
    val f = new File(root, ManifestName)
    if (f.exists()) parse(f) else Map.empty
  }

  private def parse(f: File): Map[String, String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.contains('=')).map { l =>
      val i = l.indexOf('=')
      l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    finally src.close()
  }

  /** Atomically publish `entries` as the new manifest, then sweep every
    * version directory no retained snapshot references (previous versions
    * and crash orphans).
    *
    * `retain` > 1 keeps the newest `retain` committed manifests as
    * immutable `snap-<seq>` files (written AFTER the flip — the manifest
    * rename is always the one real commit, snapshots are its history), and
    * the sweep spares every directory any retained snapshot still points
    * at: [[loadSnapshot]] then reads a prior state version directly — the
    * table-format time-travel/snapshot-isolation shape, with retention as
    * the GC horizon. `retain = 1` (default) keeps history = current and
    * sweeps exactly as before. */
  def commit(root: String, entries: Map[String, String], retain: Int = 1): Unit =
    lockFor(root).synchronized { doCommit(root, entries, retain) }

  /** Compare-and-swap commit: publishes `entries` ONLY if the current
    * manifest still equals `expected` (what the caller loaded before
    * computing its rewrite), else throws [[ConcurrentCommitException]].
    * The compare and the flip happen under the root's commit lock, so a
    * concurrent commit cannot land between them — the recheck-to-commit
    * window an optimistic pre-commit re-load leaves open is closed.
    * Callers whose rewrite derives from a loaded manifest (retirement,
    * backfill merges racing a retirement) use this; append-only or
    * single-writer callers keep plain [[commit]]. */
  def commitIf(root: String, entries: Map[String, String],
      expected: Map[String, String], retain: Int = 1): Unit =
    lockFor(root).synchronized {
      val found = load(root)
      if (found != expected)
        throw new ConcurrentCommitException(root, expected, found)
      doCommit(root, entries, retain)
    }

  private def doCommit(root: String, entries: Map[String, String], retain: Int): Unit = {
    val rootF = new File(root)
    rootF.mkdirs()
    if (failBeforeCommit)
      throw new IllegalStateException("injected crash before manifest commit")
    val body = entries.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("", "\n", "\n")
    val tmp = Files.createTempFile(rootF.toPath, ".manifest", ".tmp")
    Files.writeString(tmp, body)
    Files.move(tmp, rootF.toPath.resolve(ManifestName),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    // snapshot AFTER the commit point: a crash here costs history, never
    // the committed state (and never exposes an uncommitted one)
    val seq = snapshots(root).lastOption.getOrElse(0L) + 1
    val stmp = Files.createTempFile(rootF.toPath, ".snap", ".tmp")
    Files.writeString(stmp, body)
    Files.move(stmp, rootF.toPath.resolve(s"$SnapPrefix$seq"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val keep = snapshots(root).takeRight(math.max(1, retain))
    snapshots(root).filterNot(keep.contains)
      .foreach(s => new File(rootF, s"$SnapPrefix$s").delete())
    val live = entries.values.toSet ++
      keep.flatMap(s => loadSnapshot(root, s).values)
    Option(rootF.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith(VersionPrefix))
      .filterNot(d => live.contains(d.getName))
      .foreach(deleteRecursively)
  }

  /** Committed snapshot sequence numbers still retained, oldest first. */
  def snapshots(root: String): Seq[Long] =
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith(SnapPrefix))
      .map(_.getName.stripPrefix(SnapPrefix).toLong).sorted.toSeq

  /** Manifest entries of retained snapshot `seq` (time-travel read). */
  def loadSnapshot(root: String, seq: Long): Map[String, String] = {
    val f = new File(root, s"$SnapPrefix$seq")
    require(f.exists(), s"snapshot $seq not retained under $root")
    parse(f)
  }

  /** Fresh (never-reused) version directory name for a logical state name. */
  def newVersion(name: String): String =
    s"$VersionPrefix$name-${java.util.UUID.randomUUID().toString.take(12)}"

  /** Directory of the one `data` version of a flat state; fails when no
    * state was committed (`what` names the state in the message). */
  private[streaming] def dataVersion(root: String, what: String): String = {
    val v = load(root).getOrElse("data",
      throw new IllegalStateException(s"no committed $what state under $root"))
    s"$root/$v"
  }

  /** The `<prefix><idx>` bucket entries of a manifest (digits only, so
    * `b` never matches `bb<idx>` or another scalar). */
  private[streaming] def bucketEntries(manifest: Map[String, String],
      prefix: String = "b"): Map[String, String] = {
    val key = s"$prefix\\d+"
    manifest.filter { case (k, _) => k.matches(key) }
  }

  /** Directories of the `buckets` that hold committed state. */
  private[streaming] def bucketDirs(root: String, manifest: Map[String, String],
      buckets: Iterable[Long], prefix: String = "b"): Seq[String] =
    buckets.toSeq.flatMap(b => manifest.get(s"$prefix$b")).map(v => s"$root/$v")

  /** Stage `df` (which carries a `__bucket` column) in one partitioned
    * write, promote each of `buckets`' produced partitions to a fresh
    * `<prefix><b>` version directory, and return `entries` with those keys
    * set. A bucket that produced no rows (all its keys deleted) loses its
    * entry. Nothing is visible until the caller commits the entries. In
    * the dedup, near-dup and phash sinks every touched bucket always
    * produces rows, so the drop never applies there. */
  private[streaming] def promoteBuckets(root: String, df: DataFrame,
      buckets: Iterable[Long], entries: Map[String, String],
      prefix: String = "b"): Map[String, String] = {
    val stage = newVersion("stage")
    df.write.mode("overwrite").partitionBy("__bucket").parquet(s"$root/$stage")
    buckets.foldLeft(entries) { (m, b) =>
      val produced = new File(s"$root/$stage/__bucket=$b")
      if (!produced.exists()) m - s"$prefix$b"
      else {
        val v = newVersion(s"$prefix$b")
        require(produced.renameTo(new File(root, v)),
          s"failed to promote staged bucket $prefix$b")
        m + (s"$prefix$b" -> v)
      }
    }
  }

  /** Directory names of the append-only `seg-<n>` segments, sorted. */
  private[streaming] def segmentDirs(manifest: Map[String, String]): Seq[String] =
    manifest.collect { case (k, v) if k.startsWith("seg-") => v }.toSeq.sorted

  /** Write `df` as the next append-only segment and return `entries` with
    * its `seg-<n>` entry (n = the segments `entries` already holds). */
  private[streaming] def appendSegment(root: String, df: DataFrame,
      entries: Map[String, String]): Map[String, String] = {
    val n = entries.keys.count(_.startsWith("seg-"))
    val dir = newVersion(s"seg$n")
    df.write.mode("overwrite").parquet(s"$root/$dir")
    entries + (s"seg-$n" -> dir)
  }

  /** The `(lsn, seq)` replay high-water of an exactly-once sink (the
    * `hwLsn`/`hwSeq` entries; `Long.MinValue` before the first commit).
    * A replayed event at or below it has already been applied. */
  private[streaming] final case class HighWater(lsn: Long, seq: Long) {

    /** Rows strictly above the mark: the part of a batch not yet applied. */
    def fresh: Column = struct(col("lsn"), col("seq")) > struct(lit(lsn), lit(seq))

    /** Whether the mark precedes position `(l, s)`, so an event there (a
      * truncate, say) is newer than the state. */
    def precedes(l: Long, s: Long): Boolean = l > lsn || (l == lsn && s > seq)

    /** The `hwLsn`/`hwSeq` entries after a batch whose `(lsn, seq)`
      * maximum is the struct `mx`: the mark never moves back. */
    def advance(mx: org.apache.spark.sql.Row): Map[String, String] = {
      val next =
        if (precedes(mx.getLong(0), mx.getLong(1))) HighWater(mx.getLong(0), mx.getLong(1))
        else this
      Map("hwLsn" -> next.lsn.toString, "hwSeq" -> next.seq.toString)
    }

    /** One probe pass over a batch of a retracting sink: its `(lsn, seq)`
      * maximum, its newest truncate, and the rows whose old image cannot be
      * retracted (`bad`, by default an update without a before image).
      * Fails loudly when any row is bad; `None` for an empty batch. */
    def probe(batch: DataFrame, sink: String,
        bad: Column = col("op") === "U" && col("before").isNull,
        problem: String = "update without a before image",
        use: String = "aggregate"): Option[HighWater.Probe] = {
      val p = batch.agg(
        max(struct(col("lsn"), col("seq"))).as("mx"),
        max(when(col("op") === "T", struct(col("lsn"), col("seq")))).as("t"),
        sum(when(bad, 1L).otherwise(0L)).as("bad")
      ).first()
      if (p.isNullAt(0)) None
      else {
        require(p.getLong(2) == 0L, s"$sink: $problem — " +
          s"the table needs REPLICA IDENTITY FULL for $use maintenance")
        val t = if (p.isNullAt(1)) None
          else Some((p.getStruct(1).getLong(0), p.getStruct(1).getLong(1)))
        Some(HighWater.Probe(advance(p.getStruct(0)),
          t.filter { case (l, s) => precedes(l, s) }))
      }
    }
  }

  private[streaming] object HighWater {
    def of(manifest: Map[String, String]): HighWater = HighWater(
      manifest.get("hwLsn").map(_.toLong).getOrElse(Long.MinValue),
      manifest.get("hwSeq").map(_.toLong).getOrElse(Long.MinValue))

    /** What [[HighWater.probe]] found: the advanced `hwLsn`/`hwSeq`
      * entries, and the batch's newest truncate if it is above the mark. */
    final case class Probe(advanced: Map[String, String],
        truncate: Option[(Long, Long)])
  }

  private[streaming] def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
