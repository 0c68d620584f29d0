package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.cdc.Cdc
import graft.decode.Relation
import StateStore.HighWater

/** Structured-streaming surface (SURVEY.md §2.2 Streaming): envelope
  * streams from the pgcdc source, event-time windows + watermarks,
  * stateful dedup, txn-atomic assembly, and the foreachBatch CDC upsert
  * sink (K1/K2's Spark realization). */
object Streams {

  /** Envelope stream from a frame log (the replayable S1). */
  def envelopeStream(spark: SparkSession, frameLogPath: String,
      maxFramesPerTrigger: Option[Long] = None,
      txnMarkers: Boolean = false): DataFrame = {
    val r = spark.readStream.format("pgcdc")
      .option("path", frameLogPath)
      .option("txn.markers", txnMarkers.toString)
    maxFramesPerTrigger.foreach(n => r.option("maxFramesPerTrigger", n.toString))
    r.load()
  }

  /** The one `foreachBatch` starter of every sink: update mode, the
    * caller's checkpoint, and `merge` on each micro-batch. */
  private def sink(df: DataFrame, checkpointDir: String)(
      merge: DataFrame => Unit): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) => merge(batch) }
      .start()

  /** CDC upsert materialization sink: per micro-batch, merge the batch's
    * events into the parquet state at `stateDir` by primary key
    * (last-LSN-wins; the foreachBatch realization of SURVEY.md §2.2 Sinks).
    *
    * Crash safety: each merge writes a fresh version directory and
    * publishes it through [[StateStore]]'s atomic manifest flip — a crash
    * mid-rewrite leaves the previous state readable, and the idempotent
    * merge re-applies the batch on replay. A production deployment swaps
    * the store for a format with transactional MERGE while `mergeBatch`
    * stays identical. */
  def cdcUpsertSink(envelope: DataFrame, rel: Relation, stateDir: String,
      checkpointDir: String, retainSnapshots: Int = 1): StreamingQuery = {
    val keys = rel.keyColumnNames
    sink(envelope, checkpointDir) { batch =>
      mergeBatch(staticPlan(batch), rel, keys, stateDir, retainSnapshots)
    }
  }

  /** An upsert sink's micro-batch, planned without adaptive execution.
    * The merge's one exchange is `repartitionById(n)`, which fixes the
    * state layout (n files per version): AQE can neither coalesce nor split
    * it, and would only cut the merge into a shuffle-map job plus a re-planned
    * write job. Without it a micro-batch is one Spark job. The setting goes
    * on `batch.sparkSession`, the stream's own clone of the caller's
    * session, so the caller's session keeps its value; Spark's
    * `MicroBatchExecution` turns AQE off on that clone in the same way for
    * stateful queries (`disableAQESupportInStatelessIfUnappropriated`). */
  private def staticPlan(batch: DataFrame): DataFrame = {
    batch.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
    batch
  }

  /** R1 routing (reader.py:188-197): one envelope stream carrying several
    * relations fans out into one upsert sink per relation — each sink
    * filters to its relation_id (mergeBatch's relation filter) and
    * materializes its own table state under `stateBaseDir/<ns>.<table>`.
    * The Spark form of the reference's per-handler dispatch, except the
    * handlers run as independent streaming queries with independent
    * checkpoints. */
  def routeByRelation(
      envelope: DataFrame, rels: Seq[Relation],
      stateBaseDir: String, checkpointBaseDir: String): Seq[StreamingQuery] =
    rels.map { rel =>
      cdcUpsertSink(envelope, rel,
        s"$stateBaseDir/${rel.namespace}.${rel.name}",
        s"$checkpointBaseDir/${rel.relationId}")
    }

  /** Bootstrap a sink's state from a snapshot-pinned table read — the
    * initial-sync half of S2's backfill-then-tail. Snapshot rows become
    * state versioned at `snapshotLsn` (seq 0), so every event the tail
    * stream delivers (all at LSN > snapshotLsn) wins per key under the
    * normal last-LSN compaction; keys untouched by the stream keep their
    * snapshot image. Values render through `cast(string)` — the canonical
    * text the typed view parses back exactly. One-time, same atomic
    * manifest protocol as every batch commit; run before starting the
    * sink (batch twin: the `cdc_backfill_union` oracle query). */
  def seedState(snapshot: DataFrame, rel: Relation, stateDir: String,
      snapshotLsn: Long): Unit = {
    val keys = rel.keyColumnNames
    val names = rel.columns.map(_.name)
    val st = snapshot.select(
      lit(snapshotLsn).as("__lsn"), lit(0L).as("__seq"),
      map_from_arrays(array(names.map(lit): _*),
        array(names.map(c => col(c).cast("string")): _*)).as("__after"),
      map_from_arrays(array(keys.map(lit): _*),
        array(keys.map(c => col(c).cast("string")): _*)).as("__key"))
    val next = StateStore.newVersion("data")
    st.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, Map("data" -> next))
  }

  private[streaming] def mergeBatch(
      batch0: DataFrame, rel: Relation, keys: Seq[String], stateDir: String,
      retain: Int = 1): Unit = {
    // An envelope stream can interleave several relations (a frame log with
    // multiple tables) plus relation-less B/C markers (relation_id = -1);
    // merging foreign events under this table's key columns would produce
    // null-key groups and bogus rows. Keep only this relation's events.
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val spark = batch.sparkSession
    // The new version is written while its plan reads the OLD version's
    // directory — distinct paths, so no tmp double-write is needed; the
    // manifest flip makes the swap atomic.
    val existing = StateStore.load(stateDir).get("data")
      .map(v => readState(spark, Seq(s"$stateDir/$v")))
    val compacted = mergeCompact(batch, existing, keys)
    val next = StateStore.newVersion("data")
    compacted.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, Map("data" -> next), retain)
  }

  /** The columns of every upsert state version ([[mergeCompact]]'s
    * output, [[seedState]]'s rows). Merges read state with it, so no job
    * infers it from parquet footers. */
  private val stateSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "__lsn BIGINT, __seq BIGINT, __after MAP<STRING, STRING>, __key MAP<STRING, STRING>")

  /** The columns of every LWW state version ([[mergeLwwCompact]]'s output). */
  private val lwwStateSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "__op STRING, __ts BIGINT, __origin STRING, __lsn BIGINT, __seq BIGINT, " +
      "__after MAP<STRING, STRING>, __key MAP<STRING, STRING>")

  private def readState(spark: SparkSession, dirs: Seq[String],
      schema: org.apache.spark.sql.types.StructType = stateSchema): DataFrame =
    spark.read.schema(schema).parquet(dirs: _*)

  /** (state rows ∪ batch events) → compacted state rows. Previous state rows
    * re-enter the merge as synthetic low-water events so deletes/updates in
    * this batch win, and TOAST repair sees them. Both sides are cut to the
    * six columns [[Cdc.compactFillingToast]] reads. */
  private def mergeCompact(batch: DataFrame, existing: Option[DataFrame],
      keys: Seq[String]): DataFrame = {
    val events = batch.select(col("op"), col("lsn"), col("seq"), col("key"),
      col("after"), col("after_toasted"))
    val all = existing.fold(events)(st => st.select(lit("I").as("op"),
      col("__lsn").as("lsn"), col("__seq").as("seq"), col("__key").as("key"),
      col("__after").as("after"), lit(null).cast("array<string>").as("after_toasted"))
      .unionByName(events))
    Cdc.compactFillingToast(all, keys).select(
      col("lsn").as("__lsn"), col("seq").as("__seq"), col("after").as("__after"),
      map_from_arrays(array(keys.map(lit): _*),
        array(keys.map(k => element_at(col("after"), lit(k))): _*)).as("__key"))
  }

  /** ACTIVE-ACTIVE upsert sink: [[cdcUpsertSink]] with conflicts resolved
    * by COMMIT TIMESTAMP instead of LSN ([[Cdc.lwwCompact]]) — the
    * subscriber side of bidirectional replication, where several sites'
    * streams merge into one table and LSNs live in unrelated per-site WAL
    * spaces. State persists each key's winning (commit_ts, origin, lsn,
    * seq) so a later micro-batch from EITHER site resolves against the
    * stored winner exactly as it would against the live event; a winning
    * delete removes the key. Images must be full rows (active-active
    * update streams ship full images — unchanged-TOAST repair has no
    * cross-site meaning). Same StateStore manifest crash safety as
    * [[cdcUpsertSink]]; replay is idempotent — re-resolving an
    * already-won conflict picks the same winner.
    *
    * SLOT-LOSS RECOVERY: [[failoverRetire]] (and therefore
    * [[recoverFromSlotLoss]]) REFUSES this state — its retirement rule
    * reads row LSNs as local-WAL positions, but LWW winners may carry a
    * foreign site's LSN. Recover an LWW site by re-seeding the state from
    * a snapshot: convergence comes from timestamp resolution against the
    * re-seeded winners, not from local WAL continuity. */
  def lwwUpsertSink(envelope: DataFrame, rel: Relation, stateDir: String,
      checkpointDir: String, retainSnapshots: Int = 1): StreamingQuery = {
    val keys = rel.keyColumnNames
    sink(envelope, checkpointDir) { batch =>
      mergeLwwBatch(batch, rel, keys, stateDir, retainSnapshots)
    }
  }

  private[graft] def mergeLwwBatch(batch0: DataFrame, rel: Relation,
      keys: Seq[String], stateDir: String, retainSnapshots: Int = 1): Unit = {
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val spark = batch.sparkSession
    val existing = StateStore.load(stateDir).get("data")
      .map(v => readState(spark, Seq(s"$stateDir/$v"), lwwStateSchema))
    val won = mergeLwwCompact(batch, existing, keys)
    val next = StateStore.newVersion("data")
    won.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, Map("data" -> next), retainSnapshots)
  }

  /** (LWW state rows ∪ batch events) → re-resolved winners. State rows
    * re-enter as events carrying their WINNING ordering tuple (ts, origin,
    * lsn, seq) — not a synthetic low-water mark: LWW must compare the
    * stored winner against new events on the real commit clock. Winning
    * DELETES persist as TOMBSTONE rows (__op 'D', null image): sites'
    * streams interleave with arbitrary relative timing, so an older-clock
    * write for a deleted key can arrive in a LATER micro-batch — without
    * the tombstone it would resurrect the key (caught by the random-split
    * property test). Tombstone GC belongs to ops policy: safe to reclaim
    * once older than the deployment's maximum cross-site replication lag. */
  private def mergeLwwCompact(batch: DataFrame, existing: Option[DataFrame],
      keys: Seq[String]): DataFrame = {
    val events = batch.select(col("op"), col("commit_ts_us"),
      col("origin"), col("lsn"), col("seq"), col("after"), col("key"))
    val all = existing.fold(events)(st => st.select(col("__op"), col("__ts"),
      col("__origin"), col("__lsn"), col("__seq"), col("__after"), col("__key"))
      .toDF(events.columns.toIndexedSeq: _*).union(events))
    // __key comes from the envelope's key column (present on D events too —
    // an after-image projection would lose tombstone keys)
    Cdc.lwwCompact(all, keys, keepTombstones = true)
      .toDF("__op", "__ts", "__origin", "__lsn", "__seq", "__after", "__key")
  }

  /** Version directories holding a state's data: the flat layout's single
    * `data` entry, else every bucketed `b<idx>` entry (digits only — never
    * other manifest scalars), sorted. The ONE place the layout convention
    * lives; every state reader resolves through it. */
  private def manifestDataDirs(manifest: Map[String, String]): Seq[String] =
    manifest.get("data").map(Seq(_)).getOrElse(
      StateStore.bucketEntries(manifest).values.toSeq.sorted)

  /** Current LIVE rows of an LWW-merged state (either layout): tombstones
    * filtered, images typed through the relation schema. */
  def lwwState(spark: SparkSession, rel: Relation, stateDir: String): DataFrame = {
    val manifest = StateStore.load(stateDir)
    val dirs = manifestDataDirs(manifest)
    require(dirs.nonEmpty, s"no committed state under $stateDir")
    graft.decode.TypedView.ofAfter(
      spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
        .filter(col("__op") =!= "D")
        .withColumnRenamed("__after", "after"), rel)
  }

  /** AS-OF read of an LWW-merged state: live rows as of a retained manifest
    * snapshot `seq` — the time-travel symmetry [[materializedStateAt]]
    * already gives the plain upsert states. Same mechanics (snapshot
    * manifests pin every bucket's version dir at commit time), plus the
    * LWW tombstone filter, so a conflict-audit can replay "what did this
    * site's merged view say N batches ago". */
  def lwwStateAt(spark: SparkSession, rel: Relation, stateDir: String,
      seq: Long): DataFrame = {
    val manifest = StateStore.loadSnapshot(stateDir, seq)
    val dirs = manifestDataDirs(manifest)
    require(dirs.nonEmpty, s"snapshot $seq under $stateDir holds no data")
    graft.decode.TypedView.ofAfter(
      spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
        .filter(col("__op") =!= "D")
        .withColumnRenamed("__after", "after"), rel)
  }

  /** [[lwwUpsertSink]] over the bucketed state layout — the scale path:
    * same pruning, staging, and one-flip manifest protocol as
    * [[mergeBatchBucketed]] (per-batch cost O(touched buckets), modulus
    * persisted in the manifest), with the LWW lift/compact swapped in.
    * No Truncate fan-out here: active-active merge defines no cross-site
    * truncate semantics (a truncate is not attributable to one writer's
    * clock), so 'T' events are rejected up front rather than silently
    * mis-merged. */
  def lwwUpsertSinkBucketed(envelope: DataFrame, rel: Relation, stateDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      retainSnapshots: Int = 1): StreamingQuery = {
    val keys = rel.keyColumnNames
    sink(envelope, checkpointDir) { batch =>
      mergeLwwBatchBucketed(batch, rel, keys, stateDir, nBuckets, retainSnapshots)
    }
  }

  private[graft] def mergeLwwBatchBucketed(
      batch0: DataFrame, rel: Relation, keys: Seq[String], stateDir: String,
      nBuckets: Int = 64, retainSnapshots: Int = 1): Unit = {
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val spark = batch.sparkSession
    val manifest = StateStore.load(stateDir)
    val n = manifest.get("nbuckets").map(_.toInt).getOrElse(nBuckets)
    val probe = batch.agg(
      collect_set(bucketOf(col("key"), keys, n)).as("bs"),
      coalesce(max(when(col("op") === "T", true).otherwise(false)), lit(false)).as("hasT")).first()
    require(!probe.getBoolean(1),
      "Truncate has no cross-site LWW semantics; filter 'T' events before the sink")
    val touched: Array[Long] = probe.getSeq[Long](0).toArray
    if (touched.isEmpty) return
    val existingDirs = StateStore.bucketDirs(stateDir, manifest, touched)
    val existing =
      if (existingDirs.nonEmpty) Some(readState(spark, existingDirs, lwwStateSchema))
      else None
    val won = mergeLwwCompact(batch, existing, keys)
      .withColumn("__bucket", bucketOf(col("__key"), keys, n))
    val entries = StateStore.promoteBuckets(stateDir, won, touched, manifest)
    StateStore.commit(stateDir, entries + ("nbuckets" -> n.toString), retainSnapshots)
  }

  /** Deterministic state bucket of a pk: xxhash64 over the key columns in
    * relation order, mod `nBuckets`. Any deterministic hash works (a
    * collision only co-locates keys); xxhash64 is codegen'd and cheap. */
  private def bucketOf(keyMap: org.apache.spark.sql.Column, keys: Seq[String],
      nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(keys.map(k => element_at(keyMap, k)): _*), lit(nBuckets))

  /** Bucketed merge: the scale path of [[mergeBatch]].
    *
    * State layout: parquet partitioned by `__bucket = xxhash64(pk) mod n`.
    * A micro-batch computes the buckets its keys fall into, reads ONLY those
    * partitions of the previous state (partition pruning on the directory
    * layout — untouched buckets are never opened), compacts, and rewrites
    * only those partition directories. Per-batch cost is O(state touched by
    * the batch's keys), not O(total state): with n sized so a bucket is a
    * few GB, a 100 TB table absorbs a small batch by rewriting a handful of
    * bucket files, where the unbucketed merge would rewrite all 100 TB.
    *
    * Crash safety: same [[StateStore]] manifest protocol as [[mergeBatch]],
    * one version directory per bucket — the recompacted buckets are staged,
    * promoted to fresh version dirs, and ALL touched manifest entries flip
    * in one atomic rename (a bucket emptied by deletes simply leaves the
    * manifest). A production deployment swaps the store for a transactional
    * MERGE format with the same bucketing. */
  private[streaming] def mergeBatchBucketed(
      batch0: DataFrame, rel: Relation, keys: Seq[String], stateDir: String,
      nBuckets: Int = 64, retainSnapshots: Int = 1): Unit = {
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val spark = batch.sparkSession
    val manifest = StateStore.load(stateDir)
    // The modulus is part of the LAYOUT, so it lives in the manifest: a
    // restart with a different nBuckets parameter (or a [[rebucketState]]
    // migration) must never probe with a stale count — pruning under the
    // wrong modulus would silently miss prior state and resurrect deleted
    // keys. The parameter only seeds a fresh state.
    val n = manifest.get("nbuckets").map(_.toInt).getOrElse(nBuckets)
    // One pass over the (small) batch: per-bucket presence + truncate flag.
    // A Truncate has no key — it clears the whole table, so it must touch
    // every bucket (the one legitimately O(state) operation).
    val probe = batch.agg(
      collect_set(bucketOf(col("key"), keys, n)).as("bs"),
      coalesce(max(when(col("op") === "T", true).otherwise(false)), lit(false)).as("hasT")).first()
    val hasTruncate = probe.getBoolean(1)
    val touched: Array[Long] =
      if (hasTruncate) (0L until n).toArray
      else probe.getSeq[Long](0).toArray
    if (touched.isEmpty) return
    // Pruning: only the touched buckets' version directories are opened.
    val existingDirs = StateStore.bucketDirs(stateDir, manifest, touched)
    val existing =
      if (existingDirs.nonEmpty) Some(readState(spark, existingDirs)) else None
    val compacted = mergeCompact(batch, existing, keys)
      .withColumn("__bucket", bucketOf(col("__key"), keys, n))
    // Stage all recompacted buckets in one partitioned write, then promote
    // each produced bucket to its own uncommitted version directory (a
    // bucket whose keys were all deleted empties out).
    val entries = StateStore.promoteBuckets(stateDir, compacted, touched, manifest)
    // One flip commits every touched bucket; the sweep reclaims the stage
    // remnants and the replaced bucket versions (retained snapshots pin
    // theirs — time-travel, and concurrent readers never race the GC).
    StateStore.commit(stateDir, entries + ("nbuckets" -> n.toString), retainSnapshots)
  }

  /** One-shot ONLINE RE-BUCKETING of a bucketed upsert state: rewrites the
    * layout from its current modulus to `newBuckets` and flips data +
    * `nbuckets` in ONE manifest commit. The ops move when buckets outgrow
    * their target size (the layout analog of a table format's
    * re-clustering): deliberately O(state) — run rarely, between batches —
    * while every [[mergeBatchBucketed]] before OR after it stays
    * O(touched buckets) because the persisted `nbuckets` tells each merge
    * which modulus the directories actually use. Crash-safe like every
    * other state rewrite: staged dirs + promoted versions are invisible
    * until the single manifest rename, and a crash mid-migration leaves
    * the old layout fully live (orphans swept on the next commit). */
  def rebucketState(spark: SparkSession, rel: Relation, stateDir: String,
      newBuckets: Int): Unit = {
    val keys = rel.keyColumnNames
    val manifest = StateStore.load(stateDir)
    val bucketEntries = StateStore.bucketEntries(manifest)
    require(bucketEntries.nonEmpty, s"no bucketed state under $stateDir")
    val st = spark.read.parquet(
      bucketEntries.values.toSeq.sorted.map(v => s"$stateDir/$v"): _*)
    val rebucketed = st
      .withColumn("__bucket", bucketOf(col("__key"), keys, newBuckets))
    val entries = StateStore.promoteBuckets(stateDir, rebucketed,
      0L until newBuckets, manifest -- bucketEntries.keys)
    StateStore.commit(stateDir, entries + ("nbuckets" -> newBuckets.toString))
  }

  /** [[cdcUpsertSink]] over the bucketed state layout. */
  def cdcUpsertSinkBucketed(envelope: DataFrame, rel: Relation, stateDir: String,
      checkpointDir: String, nBuckets: Int = 64,
      retainSnapshots: Int = 1): StreamingQuery = {
    val keys = rel.keyColumnNames
    sink(envelope, checkpointDir) { batch =>
      mergeBatchBucketed(staticPlan(batch), rel, keys, stateDir, nBuckets, retainSnapshots)
    }
  }

  /** SCD type-2 history sink: maintains the full version-history table
    * (Cdc.scd2History's streaming form). Per micro-batch: the batch's events
    * become new version rows, and the still-open versions of the keys the
    * batch touches are closed at the key's first fresh event (a Truncate
    * closes every open version at its WAL position).
    *
    * State layout exploits that closed history is IMMUTABLE: versions
    * closed by a batch land in a fresh append-only SEGMENT directory
    * (`seg-N` manifest entries — never rewritten, never re-read by later
    * merges); only the small OPEN set is rewritten per batch. Per-batch
    * cost is therefore O(batch + open versions) regardless of how much
    * closed history has accumulated — the property that lets a year of
    * 100 TB-table history absorb a micro-batch in seconds. (Segment
    * compaction/retention is an offline concern, exactly as for any
    * log-structured table format.) Exactly-once under at-least-once replay
    * via the persisted (lsn, seq) high-water mark, same protocol as
    * [[incrementalAggSink]]; segments, open set, and high-water flip in ONE
    * manifest commit. */
  def scd2Sink(envelope: DataFrame, rel: Relation, stateDir: String,
      checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeScd2Batch(_, rel, stateDir))

  /** R1 routing for history sinks: one envelope stream carrying several
    * relations fans out into one SCD2 history per relation (each merge
    * filters to its relation_id), mirroring [[routeByRelation]]. */
  def routeScd2ByRelation(
      envelope: DataFrame, rels: Seq[Relation],
      stateBaseDir: String, checkpointBaseDir: String): Seq[StreamingQuery] =
    rels.map { rel =>
      scd2Sink(envelope, rel,
        s"$stateBaseDir/${rel.namespace}.${rel.name}",
        s"$checkpointBaseDir/${rel.relationId}")
    }

  private[streaming] def mergeScd2Batch(batch0: DataFrame, rel: Relation,
      stateDir: String): Unit = {
    val keys = rel.keyColumnNames
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val fresh = batch.filter(hw.fresh)
    val probe = fresh.agg(
      max(struct(col("lsn"), col("seq"))).as("mx"),
      max(when(col("op") === "T", col("lsn"))).as("tLsn")).first()
    if (probe.isNullAt(0)) return // pure replay: state already reflects it
    val truncCol = if (probe.isNullAt(1)) lit(null).cast("long")
                   else lit(probe.getLong(1))

    val newVersions = Cdc.scd2History(fresh, keys)
      .select(
        map_from_arrays(
          array(keys.map(lit): _*),
          array(keys.map(k => col(s"__key_$k")): _*)).as("__key"),
        col("after").as("__after"),
        col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))

    // previous OPEN versions (closed segments are never re-read): close the
    // ones the batch touches at the earliest of (key's first fresh event,
    // batch truncate); the rest stay open untouched
    val resolved = manifest.get("open") match {
      case None => newVersions
      case Some(v) =>
        val st = spark.read.parquet(s"$stateDir/$v")
          .select(col("*") +:
            keys.map(k => element_at(col("__key"), k).as(s"__jk_$k")): _*)
        val firstEvt = fresh.filter(col("op").isin("I", "U", "D"))
          .select(keys.map(k => element_at(col("key"), k).as(s"__fk_$k")) :+
            struct(col("lsn"), col("seq")).as("__e"): _*)
          .groupBy(keys.map(k => col(s"__fk_$k")): _*)
          .agg(min(col("__e")).getField("lsn").as("__first_lsn"))
        val closeAt = least(col("__first_lsn"), truncCol)
        st.join(firstEvt,
            keys.map(k => col(s"__jk_$k") === col(s"__fk_$k")).reduce(_ && _),
            "left")
          .withColumn("valid_to_lsn",
            when(closeAt.isNotNull && closeAt > col("valid_from_lsn"), closeAt)
              .otherwise(lit(null).cast("long")))
          .withColumn("is_current", col("valid_to_lsn").isNull)
          .select(col("__key"), col("__after"),
            col("valid_from_lsn"), col("valid_to_lsn"), col("is_current"))
          .unionByName(newVersions)
    }
    val cached = resolved.persist()
    val closedSeg = cached.filter(!col("is_current"))
    val openNext = cached.filter(col("is_current"))
    var entries = manifest.filter { case (k, _) => k.startsWith("seg-") }
    if (closedSeg.limit(1).count() > 0)
      entries = StateStore.appendSegment(stateDir, closedSeg, entries)
    if (openNext.limit(1).count() > 0) {
      val openDir = StateStore.newVersion("open")
      openNext.write.mode("overwrite").parquet(s"$stateDir/$openDir")
      entries += ("open" -> openDir)
    }
    cached.unpersist()
    StateStore.commit(stateDir, entries ++ hw.advance(probe.getStruct(0)))
  }

  /** Offline maintenance for any log-structured sink state (scd2 history,
    * online-dedup / near-dup decision logs): fold every append-only segment
    * into one (the small-files compaction any log-structured table format
    * schedules off the write path). Safe to run between batches: the fold
    * changes segment LAYOUT, never content, and publishes through the same
    * atomic manifest flip — a crash leaves the old segments readable; the
    * sink's high-water, open set, and hash buckets ride along unchanged. */
  def compactSegments(spark: SparkSession, stateDir: String): Unit = {
    val m = StateStore.load(stateDir)
    val segs = StateStore.segmentDirs(m)
    if (segs.length <= 1) return
    val merged = StateStore.newVersion("seg0")
    spark.read.parquet(segs.map(v => s"$stateDir/$v"): _*)
      .write.mode("overwrite").parquet(s"$stateDir/$merged")
    StateStore.commit(stateDir,
      m.filterNot { case (k, _) => k.startsWith("seg-") } + ("seg-0" -> merged))
  }

  /** Full version history maintained by [[scd2Sink]]: the union of every
    * immutable closed segment plus the live open set. */
  def scd2State(spark: SparkSession, stateDir: String): DataFrame = {
    val m = StateStore.load(stateDir)
    val dirs = StateStore.segmentDirs(m) ++ m.get("open")
    require(dirs.nonEmpty, s"no committed scd2 state under $stateDir")
    spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
  }

  /** TEMPORAL TABLE LOOKUP served from [[scd2Sink]]-maintained state (the
    * streaming-state half of `cdc_temporal_join`): each fact row's
    * `probeLsn` picks the dim version whose validity interval covers it —
    * Flink's `FOR SYSTEM_TIME AS OF` with the version store being the
    * history this engine already maintains. Same scale shape as the batch
    * twin: equi-join on the dim key, validity as a residual predicate,
    * versions per key bounded. Facts probing past the open version's start
    * see the open version; facts probing after a delete see nothing. */
  def temporalLookup(facts: DataFrame, rel: Relation, stateDir: String,
      factKey: org.apache.spark.sql.Column,
      probeLsn: org.apache.spark.sql.Column): DataFrame = {
    val keys = rel.keyColumnNames
    require(keys.size == 1, "temporalLookup joins on a single-column dim key")
    val hist = scd2State(facts.sparkSession, stateDir)
    facts.join(hist,
      element_at(hist("__key"), keys.head) === factKey.cast("string") &&
        hist("valid_from_lsn") <= probeLsn &&
        (hist("valid_to_lsn").isNull || probeLsn < hist("valid_to_lsn")),
      "left")
  }

  /** Online (at-ingest) exact dedup over a CDC document stream: every
    * arriving document gets a keep/drop decision against ALL previously
    * ingested content — the streaming twin of the batch dedup_exact /
    * dedup_keep_list family, and the operator a 100 TB ingest pipeline
    * actually runs (dedup decided as data lands, not in a nightly rescan).
    *
    * Per micro-batch: hash each new document's content (md5 → 16-byte
    * digest; all downstream work keys on the digest, never the text),
    * first-wins WITHIN the batch by (lsn, seq), then against the persisted
    * seen-hash state. Decisions (doc, hash, is_keeper, keeper_id) land in
    * an append-only SEGMENT (immutable, like scd2 history); the seen-hash
    * state is parquet bucketed by xxhash64(digest) mod n — a batch reads
    * and rewrites ONLY the buckets its hashes fall into, so per-batch cost
    * is O(batch + touched buckets), not O(corpus). Exactly-once under
    * at-least-once replay via the (lsn, seq) high-water mark; segments,
    * buckets, and high-water flip in ONE manifest commit. */
  def onlineDedupSink(envelope: DataFrame, rel: Relation, textCol: String,
      stateDir: String, checkpointDir: String, nBuckets: Int = 64): StreamingQuery =
    sink(envelope, checkpointDir)(mergeDedupBatch(_, rel, textCol, stateDir, nBuckets))

  private[streaming] def mergeDedupBatch(batch0: DataFrame, rel: Relation,
      textCol: String, stateDir: String, nBuckets: Int): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val pk = rel.keyColumnNames.head
    val batch = batch0.filter(col("relation_id") === rel.relationId && col("op") === "I")
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val docs = batch.filter(hw.fresh).select(
        element_at(col("after"), pk).as("id"),
        md5(element_at(col("after"), textCol).cast("binary")).as("h"),
        col("lsn"), col("seq"))
      .withColumn("__bucket", pmod(xxhash64(col("h")), lit(nBuckets)))
      .persist()
    val probe = docs.agg(max(struct(col("lsn"), col("seq"))).as("mx"),
      collect_set(col("__bucket")).as("bs")).first()
    if (probe.isNullAt(0)) { docs.unpersist(); return } // pure replay / empty
    val touched = probe.getSeq[Long](1)
    // Pruning: only the touched buckets' seen-hash dirs are opened.
    val existingDirs = StateStore.bucketDirs(stateDir, manifest, touched)
    val seen =
      if (existingDirs.nonEmpty) spark.read.parquet(existingDirs: _*)
      else Seq.empty[(String, String)].toDF("h", "keeper")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("lsn"), col("seq"))
    val ranked = docs.withColumn("rn", row_number().over(w))
      .withColumn("batch_keeper", first(col("id")).over(w))
    val decisions = ranked
      .join(seen.withColumnRenamed("keeper", "seen_keeper"), Seq("h"), "left")
      .select(col("id"), col("h"),
        (col("seen_keeper").isNull && col("rn") === 1).as("is_keeper"),
        coalesce(col("seen_keeper"), col("batch_keeper")).as("keeper_id"),
        col("lsn"), col("seq"))
      .persist()
    val withSeg = StateStore.appendSegment(stateDir, decisions, manifest)
    // touched buckets absorb this batch's new keepers (same staged
    // promotion as mergeBatchBucketed)
    val merged = seen
      .unionByName(decisions.filter(col("is_keeper"))
        .select(col("h"), col("id").as("keeper")))
      .withColumn("__bucket", pmod(xxhash64(col("h")), lit(nBuckets)))
    val entries = StateStore.promoteBuckets(stateDir, merged, touched, withSeg)
    docs.unpersist(); decisions.unpersist()
    StateStore.commit(stateDir, entries ++ hw.advance(probe.getStruct(0)))
  }

  /** Online NEAR-dup detection at CDC ingest: the MinHash/LSH analog of
    * [[onlineDedupSink]]. Each arriving document's 12-hash MinHash
    * signature yields 4 LSH band keys (identical hashing to the batch
    * corpus path, so streaming band keys ≡ batch band keys); a document is
    * flagged near-dup iff it shares ANY band with an earlier-arrived
    * document — in this batch or in all prior ingest — mirroring the batch
    * candidate-pair semantics (dedup_minhash_pairs) oriented by arrival.
    *
    * State: per band bucket, the EARLIEST holder (id, lsn, seq) — a few
    * dozen bytes per distinct band key, parquet-bucketed by
    * xxhash64(band key) mod n so a micro-batch opens only the buckets its
    * keys fall into. Decisions are append-only segments; segments, buckets,
    * and the replay high-water flip in ONE manifest commit (the shared
    * crash-safety protocol). A verify-stage re-rank (exact Jaccard over
    * candidate pairs) slots between the band join and the decision without
    * changing the state layout. */
  def onlineNearDupSink(envelope: DataFrame, rel: Relation, textCol: String,
      stateDir: String, checkpointDir: String, nBuckets: Int = 64,
      minEstSim: Option[Double] = None): StreamingQuery =
    sink(envelope, checkpointDir)(
      mergeNearDupBatch(_, rel, textCol, stateDir, nBuckets, minEstSim))

  /** One micro-batch of the near-dup sink. `minEstSim = None` flags on any
    * band collision (the raw LSH candidate semantics); `Some(τ)` adds the
    * VERIFY stage — the partner's stored signature re-ranks the candidate
    * by estimated Jaccard (matching positions / 12) and only est ≥ τ
    * flags. Either way `dup_of` is the EARLIEST qualifying partner, so the
    * decision matches the batch pair semantics oriented by arrival. */
  private[streaming] def mergeNearDupBatch(batch0: DataFrame, rel: Relation,
      textCol: String, stateDir: String, nBuckets: Int,
      minEstSim: Option[Double] = None): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val pk = rel.keyColumnNames.head
    val batch = batch0.filter(col("relation_id") === rel.relationId && col("op") === "I")
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val docs = batch
      .filter(hw.fresh)
      .select(element_at(col("after"), pk).as("id"),
        element_at(col("after"), textCol).as("text"),
        col("lsn"), col("seq"))
      .persist()
    val probe = docs.agg(max(struct(col("lsn"), col("seq")))).first()
    if (probe.isNullAt(0)) { docs.unpersist(); return } // pure replay / empty
    // per-batch signatures + band keys (identical hashing to the corpus path)
    val bands = graft.queries.DedupQueries
      .bandKeysWithSig(graft.queries.DedupQueries.minhashSigsOf(
        docs.select(col("id").as("doc_id"), col("text"))))
      .withColumnRenamed("doc_id", "id")
      .join(docs.select(col("id"), col("lsn"), col("seq")), "id")
      .withColumn("__bucket", pmod(xxhash64(col("bucket")), lit(nBuckets)))
      .persist()
    val touched = bands.select(collect_set(col("__bucket"))).first()
      .getSeq[Long](0)
    val existingDirs = StateStore.bucketDirs(stateDir, manifest, touched)
    val seen = // all prior holders of the touched band keys, with signatures
      if (existingDirs.nonEmpty) spark.read.parquet(existingDirs: _*)
      else Seq.empty[(String, String, Long, Long, Seq[String])]
        .toDF("bucket", "hid", "hlsn", "hseq", "hsig")
    // estimated Jaccard between the doc's and the partner's signatures
    def est = expr("size(filter(zip_with(sig, hsig, (a, b) -> a = b), v -> v)) / 12.0d")
    def qualifies = minEstSim.map(t => est >= lit(t)).getOrElse(lit(true))
    // earliest qualifying earlier-arrived band-sharer:
    // in-batch partners ∪ state holders
    val inBatch = bands.as("x").join(bands.as("y"),
        col("x.bucket") === col("y.bucket") &&
          (struct(col("y.lsn"), col("y.seq")) < struct(col("x.lsn"), col("x.seq"))))
      .select(col("x.id").as("id"), col("x.sig").as("sig"),
        col("y.lsn").as("hlsn"), col("y.seq").as("hseq"),
        col("y.id").as("hid"), col("y.sig").as("hsig"))
    val fromState = bands.join(seen, "bucket")
      .select(col("id"), col("sig"), col("hlsn"), col("hseq"), col("hid"), col("hsig"))
    val partners = inBatch.unionByName(fromState)
      .filter(qualifies)
      .groupBy(col("id"))
      .agg(min(struct(col("hlsn").as("l"), col("hseq").as("s"), col("hid").as("d"))).as("p"))
    val decisions = docs
      .join(partners, Seq("id"), "left")
      .select(col("id"), col("p").isNotNull.as("is_neardup"),
        col("p").getField("d").as("dup_of"), col("lsn"), col("seq"))
      .persist()
    val withSeg = StateStore.appendSegment(stateDir, decisions, manifest)
    // every batch doc's bands (with signature) enter the state — a flagged
    // near-dup still anchors future candidates, exactly as in the batch
    // pair semantics. The state IS the incrementally-maintained LSH index.
    val newHolders = bands
      .select(col("bucket"), col("id").as("hid"),
        col("lsn").as("hlsn"), col("seq").as("hseq"), col("sig").as("hsig"))
    val mergedState = seen.unionByName(newHolders)
      .withColumn("__bucket", pmod(xxhash64(col("bucket")), lit(nBuckets)))
    val entries = StateStore.promoteBuckets(stateDir, mergedState, touched, withSeg)
    docs.unpersist(); bands.unpersist(); decisions.unpersist()
    StateStore.commit(stateDir, entries ++ hw.advance(probe.getStruct(0)))
  }

  /** Online MEDIA near-dup at CDC ingest — the perceptual-hash analog of
    * [[onlineNearDupSink]]: each arriving payload is aHash'ed at the codec
    * stage, candidates come from the incrementally-maintained pigeonhole
    * block index (4 × 16-bit blocks; Hamming ≤ 3 ⇒ one block collides),
    * and every candidate is verified by EXACT Hamming distance before
    * flagging — so decisions equal mm_phash_pairs oriented by arrival,
    * no estimate involved. State per block key is (holder id, lsn, seq,
    * full 8-byte hash); payloads never enter the state. */
  def onlinePhashSink(envelope: DataFrame, rel: Relation, payloadCol: String,
      stateDir: String, checkpointDir: String, nBuckets: Int = 64,
      maxHamming: Int = 3): StreamingQuery =
    sink(envelope, checkpointDir)(
      mergePhashBatch(_, rel, payloadCol, stateDir, nBuckets, maxHamming))

  private[streaming] def mergePhashBatch(batch0: DataFrame, rel: Relation,
      payloadCol: String, stateDir: String, nBuckets: Int,
      maxHamming: Int = 3): Unit = {
    val spark = batch0.sparkSession
    import spark.implicits._
    val pk = rel.keyColumnNames.head
    val batch = batch0.filter(col("relation_id") === rel.relationId && col("op") === "I")
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val docs = batch
      .filter(hw.fresh)
      .select(element_at(col("after"), pk).cast("long").as("id"),
        element_at(col("after"), payloadCol).cast("binary").as("payload"),
        col("lsn"), col("seq"))
      .persist()
    val probe = docs.agg(max(struct(col("lsn"), col("seq")))).first()
    if (probe.isNullAt(0)) { docs.unpersist(); return } // pure replay / empty
    // codec-stage hash (identical bit math to the batch mm_phash path),
    // then the 4 pigeonhole block keys per doc
    val hashed = graft.operators.Multimodal
      .perceptualHashes(docs.select(col("id").as("doc_id"), col("payload")))
      .withColumnRenamed("doc_id", "id")
      .join(docs.select(col("id"), col("lsn"), col("seq")), "id")
    val blocks = hashed
      .select(col("id"), col("phash"), col("lsn"), col("seq"),
        explode(expr("sequence(0, 3)")).as("p"))
      .withColumn("bucket", concat_ws(":", col("p"),
        expr("(phash >> (16 * p)) & 65535")))
      .withColumn("__bucket", pmod(xxhash64(col("bucket")), lit(nBuckets)))
      .persist()
    val touched = blocks.select(collect_set(col("__bucket"))).first()
      .getSeq[Long](0)
    val existingDirs = StateStore.bucketDirs(stateDir, manifest, touched)
    val seen = // prior holders of the touched block keys, with full hashes
      if (existingDirs.nonEmpty) spark.read.parquet(existingDirs: _*)
      else Seq.empty[(String, Long, Long, Long, Long)]
        .toDF("bucket", "hid", "hlsn", "hseq", "hphash")
    def verified = expr(s"bit_count(phash ^ hphash) <= $maxHamming")
    val inBatch = blocks.as("x").join(blocks.as("y"),
        col("x.bucket") === col("y.bucket") &&
          (struct(col("y.lsn"), col("y.seq")) < struct(col("x.lsn"), col("x.seq"))))
      .select(col("x.id").as("id"), col("x.phash").as("phash"),
        col("y.lsn").as("hlsn"), col("y.seq").as("hseq"),
        col("y.id").as("hid"), col("y.phash").as("hphash"))
    val fromState = blocks.join(seen, "bucket")
      .select(col("id"), col("phash"), col("hlsn"), col("hseq"), col("hid"), col("hphash"))
    val partners = inBatch.unionByName(fromState)
      .filter(verified)
      .groupBy(col("id"))
      .agg(min(struct(col("hlsn").as("l"), col("hseq").as("s"), col("hid").as("d"))).as("p"))
    val decisions = docs
      .join(partners, Seq("id"), "left")
      .select(col("id"), col("p").isNotNull.as("is_neardup"),
        col("p").getField("d").as("dup_of"), col("lsn"), col("seq"))
      .persist()
    val withSeg = StateStore.appendSegment(stateDir, decisions, manifest)
    // flagged docs still anchor future candidates (batch pair semantics);
    // the block-keyed state IS the incrementally-maintained phash index
    val newHolders = blocks
      .select(col("bucket"), col("id").as("hid"),
        col("lsn").as("hlsn"), col("seq").as("hseq"), col("phash").as("hphash"))
    val mergedState = seen.unionByName(newHolders)
      .withColumn("__bucket", pmod(xxhash64(col("bucket")), lit(nBuckets)))
    val entries = StateStore.promoteBuckets(stateDir, mergedState, touched, withSeg)
    docs.unpersist(); blocks.unpersist(); decisions.unpersist()
    StateStore.commit(stateDir, entries ++ hw.advance(probe.getStruct(0)))
  }

  /** Every decision of the dedup, near-dup or phash sink so far (union of
    * the append-only segments), one row per ingested doc: (id, h,
    * is_keeper, keeper_id, lsn, seq) for dedup, (id, is_neardup, dup_of,
    * lsn, seq) for near-dup and phash. */
  def onlineDedupDecisions(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = StateStore.segmentDirs(StateStore.load(stateDir))
    require(dirs.nonEmpty, s"no committed dedup decisions under $stateDir")
    spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
  }

  /** The seen-hash state (h → keeper id), union of the hash buckets. */
  def onlineDedupSeen(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = StateStore.bucketEntries(StateStore.load(stateDir)).values.toSeq.sorted
    require(dirs.nonEmpty, s"no committed dedup state under $stateDir")
    spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*).select(col("h"), col("keeper"))
  }

  /** Incrementally-maintained SUM/COUNT aggregate view over the envelope
    * stream: per micro-batch, each event's delta (+after / −before, see
    * Cdc.aggDeltas) merges into the per-group state — O(batch ∪ touched
    * groups) per batch, never a rescan of table state. Exactly-once under
    * at-least-once replay via a persisted (lsn, seq) high-water mark:
    * replayed events at or below it contribute nothing. A Truncate newer
    * than the high-water resets the state. Requires full old images
    * (REPLICA IDENTITY FULL) on updates — enforced per batch. */
  def incrementalAggSink(envelope: DataFrame, rel: Relation, groupCol: String,
      valueCols: Seq[String], stateDir: String, checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeAggBatch(_, rel, groupCol, valueCols, stateDir))

  private[streaming] def mergeAggBatch(batch0: DataFrame, rel: Relation,
      groupCol: String, valueCols: Seq[String], stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    // Data version + high-water mark live in ONE manifest: merged sums and
    // the replay guard publish in the same atomic flip, so a crash can
    // never pair new data with a stale watermark (which a replay would then
    // double-apply).
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    // One probe pass: batch high-water, newest truncate, missing-old-image
    // guard (an update without `before` makes the retraction uncomputable —
    // fail loudly rather than drift).
    val probe = hw.probe(batch, s"incrementalAggSink(${rel.name})") match {
      case Some(p) => p
      case None => return // no events for this relation
    }
    // Replay guard: only events strictly above the stored high-water count.
    // A truncate NEWER than the high-water wipes prior aggregate state
    // (aggDeltas drops the batch's own pre-truncate events).
    val delta = Cdc.aggDeltas(batch.filter(hw.fresh), groupCol, valueCols)
    val existing =
      if (probe.truncate.isEmpty) manifest.get("data").map(v =>
        spark.read.parquet(s"$stateDir/$v")
          .select(col("g") +:
            valueCols.map(c => col(s"sum_$c").as(s"dv_$c")) :+
            col("c").as("dc"): _*))
      else None
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(col("g"))
      .agg(sum(col(s"dv_${valueCols.head}")).as(s"sum_${valueCols.head}"),
        valueCols.tail.map(c => sum(col(s"dv_$c")).as(s"sum_$c")) :+
          sum(col("dc")).as("c"): _*)
      .filter(col("c") > 0)
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Incrementally-maintained TERM-DF view over a documents envelope
    * stream (cdc_incremental_termdf's streaming form): per micro-batch,
    * +1 per DISTINCT after-term and −1 per DISTINCT before-term merge
    * into the per-term document-frequency state — the search-index corpus
    * side (BM25/TF-IDF df) kept fresh at batch cost, never a corpus
    * rescan. Same one-manifest discipline as [[incrementalAggSink]]: data
    * and the (lsn, seq) replay high-water flip atomically; a newer
    * Truncate resets the index; updates without full old images fail
    * loudly (retraction needs the before text). */
  def termDfSink(envelope: DataFrame, rel: Relation, textCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeTermDfBatch(_, rel, textCol, stateDir))

  private[streaming] def mergeTermDfBatch(batch0: DataFrame, rel: Relation,
      textCol: String, stateDir: String): Unit =
    mergeDerivedViewBatch(batch0, rel, stateDir, "termDfSink",
      Seq("term"), "df", textCol,
      (rows, img) => rows.select(explode(array_distinct(
        split(element_at(col(img), textCol), " "))).as("term")))

  /** The merge engine behind every DERIVED NET-COUNT view (term-df, the
    * RAG chunk index): `derive(imageRows, imgCol)` expands one image into
    * its derived keys; each event then contributes +1 per after-key and
    * −1 per before-key, and the state is the keyed sum of nets (> 0).
    * Everything else — replay high-water, truncate reset (wipes the view
    * AND the batch's own pre-truncate events), loud failure on updates
    * without old images, one-manifest atomic flip — is shared verbatim. */
  private def mergeDerivedViewBatch(batch0: DataFrame, rel: Relation,
      stateDir: String, sinkName: String,
      keyCols: Seq[String], countCol: String, deriveCol: String,
      derive: (DataFrame, String) => DataFrame): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    // The retraction probe must catch BOTH shapes a non-FULL replica
    // identity produces: an update with no old image at all, AND a
    // delete/update whose key-only old image simply LACKS the derive
    // column (map_contains_key, not element_at — a genuine NULL value in
    // a FULL image derives nothing on both sides and is legal).
    val badImg = col("op").isin("U", "D") &&
      (col("before").isNull || !map_contains_key(col("before"), lit(deriveCol)))
    val probe = hw.probe(batch, s"$sinkName(${rel.name})", badImg,
      s"delete/update whose old image lacks '$deriveCol'", "index") match {
      case Some(p) => p
      case None => return
    }
    // a truncate wipes the view AND the batch's own pre-truncate events
    val fresh0 = batch.filter(hw.fresh)
    val fresh = probe.truncate match {
      case Some((tl, ts)) => fresh0.filter(HighWater(tl, ts).fresh)
      case None => fresh0
    }
    def keysOf(img: String, ops: Seq[String], net: Long) =
      derive(fresh.filter(col("op").isin(ops: _*)), img)
        .withColumn("__dv", lit(net))
    val delta = keysOf("after", Seq("I", "U"), 1L)
      .unionByName(keysOf("before", Seq("U", "D"), -1L))
    val existing =
      if (probe.truncate.isEmpty) manifest.get("data").map(v =>
        spark.read.parquet(s"$stateDir/$v")
          .select(keyCols.map(col) :+ col(countCol).as("__dv"): _*))
      else None
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(keyCols.map(col): _*).agg(sum(col("__dv")).as(countCol))
      .filter(col(countCol) > 0)
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Incrementally-maintained RAG CHUNK INDEX over a documents envelope
    * stream (cdc_incremental_chunks' streaming form): per micro-batch,
    * +1 per after-image chunk and −1 per before-image chunk merge into
    * the content-addressed chunk table — the retrieval corpus kept fresh
    * at batch cost, never a re-chunk of the corpus. Derived keys come
    * from the SAME chunking engine text_rag_chunks uses. */
  def chunkIndexSink(envelope: DataFrame, rel: Relation, textCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeChunkIndexBatch(_, rel, textCol, stateDir))

  private[streaming] def mergeChunkIndexBatch(batch0: DataFrame, rel: Relation,
      textCol: String, stateDir: String): Unit =
    mergeDerivedViewBatch(batch0, rel, stateDir, "chunkIndexSink",
      Seq("doc_id", "chunk_id", "start_tok", "n_tokens", "chunk_md5"), "n", textCol,
      (rows, img) => graft.queries.TextQueries.ragChunksOf(
        rows.select(
          element_at(col(img), "doc_id").cast("long").as("doc_id"),
          split(element_at(col(img), textCol), " ").as("ws"))))

  /** Current chunk table of [[chunkIndexSink]]. */
  def chunkIndexState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(StateStore.dataVersion(stateDir, "chunk-index"))

  /** Current term → df table of [[termDfSink]]. */
  def termDfState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(StateStore.dataVersion(stateDir, "term-df"))

  /** Incrementally-maintained mean/variance view over the envelope stream:
    * per-group state is the moment sums (sx, sx2, c) in scaled-integer
    * form (Cdc.incrementalStats) — retraction-capable where Welford's
    * recurrence is not, and mergeable across batches by plain addition, so
    * each micro-batch costs O(batch ∪ touched groups), never a table
    * rescan. Same state discipline as incrementalAggSink: ONE manifest
    * flip carries data + replay high-water (exactly-once under
    * at-least-once redelivery), a newer Truncate resets state, and updates
    * without full old images fail loudly (REPLICA IDENTITY FULL). */
  def incrementalStatsSink(envelope: DataFrame, rel: Relation, groupCol: String,
      valueCol: String, stateDir: String, checkpointDir: String,
      scale: Int = 2): StreamingQuery =
    sink(envelope, checkpointDir)(
      mergeStatsBatch(_, rel, groupCol, valueCol, scale, stateDir))

  private[streaming] def mergeStatsBatch(batch0: DataFrame, rel: Relation,
      groupCol: String, valueCol: String, scale: Int, stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val probe = hw.probe(batch, s"incrementalStatsSink(${rel.name})") match {
      case Some(p) => p
      case None => return
    }
    val delta = Cdc.statsDeltas(batch.filter(hw.fresh), groupCol, valueCol, scale, None)
      .select(col("g"), col("dv").cast(big).as("dv"),
        col("dv2").cast(big).as("dv2"), col("dc"))
    val existing =
      if (probe.truncate.isEmpty) manifest.get("data").map(v =>
        spark.read.parquet(s"$stateDir/$v")
          .select(col("g"), col("sx").as("dv"), col("sx2").as("dv2"),
            col("c").as("dc")))
      else None
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(col("g"))
      .agg(sum(col("dv")).as("sx"), sum(col("dv2")).as("sx2"),
        sum(col("dc")).as("c"))
      .filter(col("c") > 0)
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Incrementally-maintained JOIN-aggregate view, streaming form (the
    * Δ⋈dim maintenance rule): each batch's ±(joinKey, value) contributions
    * are ENRICHED through a small dimension table — broadcast, so the dims
    * never shuffle and the deltas never rescan the fact table — and merged
    * into per-dimension-group SUM/COUNT state. The view over a 100 TB fact
    * table refreshes at the cost of the batch. `dims` must map `joinKeyCol`
    * (a fact image column) to `dimGroupCol`, one row per key (a slowly-
    * changing dim wants the SCD2 sink instead — joining a delta against a
    * dim version VALID AT the delta's LSN). Deltas missing a dim row fail
    * loudly: silently dropping them would corrupt the view. */
  def incrementalJoinAggSink(envelope: DataFrame, rel: Relation,
      joinKeyCol: String, valueCol: String, dims: DataFrame,
      dimKeyCol: String, dimGroupCol: String,
      stateDir: String, checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeJoinAggBatch(_, rel, joinKeyCol, valueCol,
      dims, dimKeyCol, dimGroupCol, stateDir))

  private[graft] def mergeJoinAggBatch(batch0: DataFrame, rel: Relation,
      joinKeyCol: String, valueCol: String, dims: DataFrame,
      dimKeyCol: String, dimGroupCol: String, stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val probe = hw.probe(batch, s"incrementalJoinAggSink(${rel.name})") match {
      case Some(p) => p
      case None => return
    }
    // per-delta enrichment: group key comes from the dim, not the fact
    val raw = Cdc.aggDeltas(batch.filter(hw.fresh), joinKeyCol, Seq(valueCol))
    val enriched = raw
      .join(broadcast(dims.select(col(dimKeyCol).cast("string").as("__dk"),
        col(dimGroupCol).as("__dg"))), col("g") === col("__dk"), "left")
    val delta = enriched
      .withColumn("__miss", col("__dg").isNull)
      .select(col("__dg").as("g"), col(s"dv_$valueCol"), col("dc"), col("__miss"))
    // the sum is null when every event is a replay (no deltas at all)
    val miss = delta.agg(sum(when(col("__miss"), 1L).otherwise(0L))).first()
    val missing = if (miss.isNullAt(0)) 0L else miss.getLong(0)
    require(missing == 0L,
      s"incrementalJoinAggSink(${rel.name}): $missing delta rows have no dim match")
    val existing =
      if (probe.truncate.isEmpty) manifest.get("data").map(v =>
        spark.read.parquet(s"$stateDir/$v")
          .select(col("g"), col(s"sum_$valueCol").as(s"dv_$valueCol"),
            col("c").as("dc"), lit(false).as("__miss")))
      else None
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(col("g"))
      .agg(sum(col(s"dv_$valueCol")).as(s"sum_$valueCol"), sum(col("dc")).as("c"))
      .filter(col("c") > 0)
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Incrementally-maintained two-sided JOIN view: the materialized inner
    * join B ⋈ A of TWO CDC relations streaming through one slot, where the
    * join key is A's primary key (the fact ⋈ changing-dim shape; orders ⋈
    * lineitem in the tests). Unlike [[incrementalJoinAggSink]] (static
    * broadcast dim), BOTH sides change: an A update must refresh every
    * joined row of its key, an A delete must drop them, and a B event must
    * join against A's CURRENT state — the bilinear maintenance rule
    * ΔV = ΔB⋈A ∪ B⋈ΔA, realized here by co-bucketing.
    *
    * State layout (one manifest): three families, ALL bucketed by
    * xxhash64(join key) mod n — `a<b>` A-side compacted rows, `bb<b>`
    * B-side compacted rows, `j<b>` the joined view. Because every family
    * shares the bucketing, a batch touches only the buckets its join keys
    * hash to: those A/B buckets re-compact, and the SAME view buckets
    * rebuild by a bucket-local join (join partners hash to the same
    * bucket by construction — no global shuffle of untouched state). Per
    * batch cost is O(batch + touched buckets), never O(state); a truncate
    * on either side touches every bucket, the one legitimately O(state)
    * event (as in [[mergeBatchBucketed]]). Idempotent under replay by
    * construction (compaction is last-LSN-wins), so no high-water mark is
    * needed; all touched families flip in ONE atomic manifest commit. */
  def incrementalJoinViewSink(envelope: DataFrame, relA: Relation,
      relB: Relation, joinColA: String, joinColB: String, stateDir: String,
      checkpointDir: String, nBuckets: Int = 16): StreamingQuery =
    sink(envelope, checkpointDir)(
      mergeJoinViewBatch(_, relA, relB, joinColA, joinColB, stateDir, nBuckets))

  private[graft] def mergeJoinViewBatch(batch0: DataFrame, relA: Relation,
      relB: Relation, joinColA: String, joinColB: String, stateDir: String,
      nBuckets: Int): Unit = {
    val spark = batch0.sparkSession
    def jb(keyMap: org.apache.spark.sql.Column, jc: String) =
      pmod(xxhash64(element_at(keyMap, jc)), lit(nBuckets))
    val batchA = batch0.filter(col("relation_id") === relA.relationId)
    val batchB = batch0.filter(col("relation_id") === relB.relationId)
    // One probe over the whole batch: per-side touched buckets, truncate
    // flag, per-side event counts (T has no key — touches every bucket).
    val probe = batch0.agg(
      collect_set(when(col("relation_id") === relA.relationId &&
        col("op").isin("I", "U", "D"), jb(col("key"), joinColA))).as("ba"),
      collect_set(when(col("relation_id") === relB.relationId &&
        col("op").isin("I", "U", "D"), jb(col("key"), joinColB))).as("bb"),
      coalesce(max(when(col("op") === "T" &&
        col("relation_id").isin(relA.relationId, relB.relationId), true)
        .otherwise(false)), lit(false)).as("hasT"),
      sum(when(col("relation_id") === relA.relationId, 1L).otherwise(0L)).as("na"),
      sum(when(col("relation_id") === relB.relationId, 1L).otherwise(0L)).as("nb")
    ).first()
    val hasT = probe.getBoolean(2)
    val (nA, nB) = (probe.getLong(3), probe.getLong(4))
    if (nA == 0 && nB == 0) return
    val touched: Array[Long] =
      if (hasT) (0L until nBuckets).toArray
      else (probe.getSeq[Long](0) ++ probe.getSeq[Long](1)).distinct.toArray
    if (touched.isEmpty) return
    val manifest = StateStore.load(stateDir)
    def readFamily(prefix: String): Option[DataFrame] = {
      val dirs = StateStore.bucketDirs(stateDir, manifest, touched, prefix)
      if (dirs.nonEmpty) Some(readState(spark, dirs)) else None
    }
    val existingA = readFamily("a")
    val existingB = readFamily("bb")
    // Re-compact a side only if the batch carries its events; an untouched
    // side still feeds the view rebuild read-only.
    val newA =
      if (nA > 0) mergeCompact(batchA, existingA, relA.keyColumnNames)
      else existingA.getOrElse(
        mergeCompact(batchA, None, relA.keyColumnNames)) // typed empty
    val newB =
      if (nB > 0) mergeCompact(batchB, existingB, relB.keyColumnNames)
      else existingB.getOrElse(
        mergeCompact(batchB, None, relB.keyColumnNames))
    val viewT = newB.as("b").join(newA.as("a"),
        element_at(col("b.__key"), joinColB) ===
          element_at(col("a.__key"), joinColA))
      .select(col("b.__key").as("__key"),
        col("b.__after").as("b_after"), col("a.__after").as("a_after"),
        jb(col("b.__key"), joinColB).as("__bucket"))
    def promote(df: DataFrame, prefix: String, entries: Map[String, String]) =
      StateStore.promoteBuckets(stateDir, df, touched, entries, prefix)
    var entries = manifest
    if (nA > 0 || hasT)
      entries = promote(newA.withColumn("__bucket", jb(col("__key"), joinColA)), "a", entries)
    if (nB > 0 || hasT)
      entries = promote(newB.withColumn("__bucket", jb(col("__key"), joinColB)), "bb", entries)
    StateStore.commit(stateDir, promote(viewT, "j", entries))
  }

  /** Streaming DBLog backfill (Cdc.dblogMerge's incremental form): the
    * table's pk-range snapshot chunks merge into the live upsert state AS
    * the WAL stream's watermark passes each chunk's high-water LSN — the
    * shape the algorithm actually runs in production (Debezium incremental
    * snapshots): backfill and tail make progress together, no stop-the-
    * world snapshot phase.
    *
    * Per micro-batch: (1) WAL events merge into table state (the normal
    * compaction merge); (2) for every chunk not yet applied, the batch's
    * keys with lsn inside that chunk's [lo, hi] window (closed at lo —
    * the live low watermark is the WAL insert position sampled before the
    * chunk's select, so a raced record can start exactly AT lo; see
    * Cdc.dblogMerge) append to its COLLISION set (the watermark rule's evidence — state alone cannot
    * supply it, a delete leaves no row to carry its LSN); (3) chunks whose
    * hi the stream has now passed FINALIZE: their rows minus collision
    * keys enter the same merge as synthetic inserts at hi. Collision sets,
    * applied-chunk list, watermark, and table state flip in ONE manifest
    * commit; replayed batches re-derive the same collisions and the
    * applied guard keeps finalization exactly-once. Per-batch cost is
    * O(batch + state touched + pending-chunk collisions) — pending chunks
    * are few (one or two in flight) by construction of the chunk reader. */
  def dblogBackfillSink(envelope: DataFrame, rel: Relation, chunks: DataFrame,
      stateDir: String, checkpointDir: String): StreamingQuery =
    // per-batch envelope stats ride StreamingQueryProgress.observedMetrics
    // (the sink-side analog of the source's ReportsSourceMetrics lag);
    // chunk/collision progress — manifest state, not batch rows — is read
    // via [[backfillProgress]]/[[recoveryStatus]].
    sink(envelope.observe("graft_dblog",
        count(lit(1)).as("events"), max(col("lsn")).as("max_lsn")),
      checkpointDir)(mergeDblogBatch(_, rel, chunks, stateDir))

  /** Recovery/backfill progress an operator can poll mid-recovery:
    * chunks applied vs pending, collision evidence held, and the stream's
    * replication high-water. */
  final case class RecoveryStatus(appliedChunks: Int, pendingChunks: Int,
      pendingCollisionRows: Long, highWater: Long)

  private def normRoot(root: String): String = StateStore.normalizeRoot(root)

  // Live per-root progress, refreshed by every committed dblog merge —
  // zero-cost to read while a backfill runs (recoveryStatus is the
  // from-disk equivalent for a fresh process).
  private val liveBackfill =
    new scala.collection.concurrent.TrieMap[String, RecoveryStatus]()

  /** Latest committed backfill progress for `stateDir` in THIS driver, if
    * a dblog merge has committed since startup. */
  def backfillProgress(stateDir: String): Option[RecoveryStatus] =
    liveBackfill.get(normRoot(stateDir))

  /** [[RecoveryStatus]] reconstructed from the committed manifest — works
    * from any process, mid-recovery or after a crash. `totalChunks` is the
    * distinct chunk count of the re-snapshot (pending = total − applied). */
  def recoveryStatus(spark: SparkSession, stateDir: String,
      totalChunks: Long): RecoveryStatus = {
    val m = StateStore.load(stateDir)
    val applied = appliedChunks(m).size
    val coll = m.get("coll")
      .map(v => spark.read.parquet(s"$stateDir/$v").count()).getOrElse(0L)
    RecoveryStatus(applied, math.max(0L, totalChunks - applied).toInt, coll,
      m.get("hw").map(_.toLong).getOrElse(Long.MinValue))
  }

  private[graft] def mergeDblogBatch(batch0: DataFrame, rel: Relation,
      chunks: DataFrame, stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val keys = rel.keyColumnNames
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = manifest.get("hw").map(_.toLong).getOrElse(Long.MinValue)
    val applied = appliedChunks(manifest)
    val probe = batch.agg(max(col("lsn"))).first()
    val batchMax = if (probe.isNullAt(0)) Long.MinValue else probe.getLong(0)
    val newHw = math.max(hw, batchMax)
    // chunk bounds are the tiny driver-side model (one row per chunk)
    val bounds = chunks.select(col("chunk_id"), col("lo_lsn"), col("hi_lsn"))
      .distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filterNot { case (id, _, _) => applied.contains(id) }
    if (batchMax == Long.MinValue && bounds.forall(_._3 > newHw)) return
    // (2) collision evidence: this batch's keys inside any pending window
    val boundsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(bounds.toSeq.map(b => org.apache.spark.sql.Row(b._1, b._2, b._3)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("c_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_lo", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c_hi", org.apache.spark.sql.types.LongType))))
    // collision keys persist as EXTRACTED strings (MapType supports
    // neither set ops nor cheap equality joins)
    val newColl = batch.filter(col("op").isin("I", "U", "D"))
      .join(broadcast(boundsDf),
        col("lsn") >= col("c_lo") && col("lsn") <= col("c_hi"))
      .select(col("c_id").as("chunk_id") +:
        keys.map(k => element_at(col("key"), k).as(s"k_$k")): _*)
    val existingColl = manifest.get("coll")
      .map(v => spark.read.parquet(s"$stateDir/$v"))
    val coll = existingColl.map(_.unionByName(newColl)).getOrElse(newColl)
      .distinct()
    // (3) chunks the stream has passed finalize now
    val toApply = bounds.filter(_._3 <= newHw).map(_._1).toSet
    val chunkEvents =
      if (toApply.isEmpty) None
      else {
        val eligible = chunks.filter(col("chunk_id").isin(toApply.toSeq: _*))
          .filter(col("after").isNotNull)
        val keyEq = keys.map(k =>
          element_at(col("key"), k) === col(s"k_$k")).reduce(_ && _)
        val survivors = eligible.join(
          coll.withColumnRenamed("chunk_id", "x_id"),
          col("chunk_id") === col("x_id") && keyEq, "left_anti")
        Some(survivors.select(lit("I").as("op"), col("hi_lsn").as("lsn"),
          lit(0L).as("seq"), col("key"), col("after")))
      }
    // the merge reads only op, lsn, seq, key, after, after_toasted
    val events = chunkEvents
      .map(batch.unionByName(_, allowMissingColumns = true)).getOrElse(batch)
    val existing = manifest.get("data")
      .map(v => readState(spark, Seq(s"$stateDir/$v")))
    val compacted = mergeCompact(events, existing, keys)
    val nextData = StateStore.newVersion("data")
    compacted.write.mode("overwrite").parquet(s"$stateDir/$nextData")
    // prune collision rows of now-applied chunks; keep the rest pending
    val nextColl = StateStore.newVersion("coll")
    coll.filter(!col("chunk_id").isin(toApply.toSeq: _*))
      .write.mode("overwrite").parquet(s"$stateDir/$nextColl")
    // CAS on the manifest this merge derived from: if a retirement (or any
    // other commit) landed while this batch merged, publishing would
    // resurrect retired rows — fail the batch loudly instead. Under normal
    // operation the sink is the root's only committer, so this never trips.
    // collision count BEFORE the commit (parquet footer of the justwritten
    // spill — tiny): the post-commit side must run NO Spark job, because a
    // poller that sees the manifest flip may stop the query immediately and
    // the interrupt would kill a post-commit job before the registry update
    // (caught live: the orchestrator's stop raced exactly that window)
    val collCount = spark.read.parquet(s"$stateDir/$nextColl").count()
    StateStore.commitIf(stateDir, Map(
      "data" -> nextData, "coll" -> nextColl, "hw" -> newHw.toString,
      "applied" -> (applied ++ toApply).toSeq.sorted.mkString(",")), manifest)
    // refresh live observability AFTER the commit (never report state that
    // didn't publish) — a plain map put, interrupt-safe
    liveBackfill(normRoot(stateDir)) = RecoveryStatus(
      (applied ++ toApply).size, bounds.size - toApply.size, collCount, newHw)
  }

  /** The applied-chunk ids a dblog-backfill manifest records (shared by
    * the merge's pending-chunk filter and the retirement guard — one parse,
    * one format). */
  private[graft] def appliedChunks(manifest: Map[String, String]): Set[Long] =
    manifest.get("applied").toSeq
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.toLong).toSet

  /** SLOT-LOSS FAILOVER retirement — the finisher that turns
    * [[dblogBackfillSink]] into a full recovery path over PRE-EXISTING
    * state (the reference README's motivating problem: the slot is gone,
    * the gap WAL with it). Gap inserts and updates reach the state through
    * the chunked re-snapshot, but a gap DELETE is invisible: its key is
    * simply absent from every chunk and from the replacement slot's tail,
    * so the merge would leave the pre-failover row in state forever.
    *
    * The retirement rule exploits the state's own LSN column: during
    * recovery every SURVIVING key is refreshed to a position at or above
    * the replacement slot's consistent point — chunk survivors land at
    * their chunk's high watermark (sampled after the slot existed),
    * tail-touched keys carry tail LSNs, and the re-snapshot covers the
    * whole pk space so no survivor is skipped. A row still holding a
    * pre-failover LSN is therefore exactly a gap-retired key: one
    * filter, no joins (one counting pass + one rewrite pass when rows
    * retire). Refuses to run while any chunk is still pending (a surviving
    * key whose chunk has not finalized yet still holds its old LSN and
    * would be wrongly retired).
    *
    * STOP THE BACKFILL QUERY FIRST: this is a manifest read-modify-write;
    * racing a concurrent merge commit could lose that batch's rows (an
    * optimistic recheck below narrows the window to fail loudly rather
    * than clobber, but only quiescence closes it — resume the tail as a
    * plain [[cdcUpsertSink]] after retirement). On success the recovery
    * bookkeeping (`applied`, `coll`) is CLEARED: the recovery is over, and
    * stale applied ids would make a FUTURE recovery on this state dir
    * silently skip chunks whose ids collide (and then mass-retire the live
    * keys those chunks cover). A crash before the commit leaves the
    * manifest untouched — rerun; after the commit a rerun refuses
    * (`0 of N applied`): there is no recovery in progress. Returns the
    * rows retired. */
  /** Test hook: runs inside [[failoverRetire]]'s load→commit window, so a
    * spec can land a racing commit exactly where a still-running backfill
    * merge would and pin the CAS refusal path. */
  private[streaming] var beforeRetireCommit: () => Unit = () => ()

  def failoverRetire(spark: SparkSession, stateDir: String,
      newSlotLsn: Long, expectedChunks: Long): Long = {
    val manifest = StateStore.load(stateDir)
    val applied = appliedChunks(manifest).size
    require(applied == expectedChunks,
      s"failoverRetire needs every re-snapshot chunk applied ($applied of " +
        s"$expectedChunks) — retiring earlier would drop surviving keys " +
        "still waiting on their chunk")
    val data = manifest.getOrElse("data",
      throw new IllegalStateException(s"no committed state under $stateDir"))
    val st = spark.read.parquet(s"$stateDir/$data")
    // LWW guard: the retirement rule reads __lsn as a position in THIS
    // server's WAL — the invariant the re-snapshot refresh establishes.
    // An LWW state's stored winners carry (ts, origin, lsn) where the lsn
    // may live in a FOREIGN site's WAL space, numerically unrelated to
    // newSlotLsn: filtering on it would silently mass-retire foreign
    // winners. Refuse; recover an LWW site by re-seeding its state from a
    // snapshot (the sites' streams then re-resolve against fresh winners —
    // LWW's convergence does not depend on local WAL continuity).
    require(!st.columns.contains("__ts"),
      s"failoverRetire cannot run on LWW state ($stateDir carries __ts/" +
        "__origin conflict metadata): stored winners' LSNs may live in " +
        "foreign WAL spaces — re-seed the LWW state instead")
    // one pass decides: total row count + how many hold pre-failover LSNs
    val counts = st.agg(count(lit(1)),
      sum(when(col("__lsn") < newSlotLsn, 1L).otherwise(0L))).first()
    val retired = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val next =
      if (retired == 0L) data
      else {
        val v = StateStore.newVersion("data")
        st.filter(col("__lsn") >= newSlotLsn)
          .write.mode("overwrite").parquet(s"$stateDir/$v")
        v
      }
    // CAS commit: the retirement derives from `manifest`, so it publishes
    // only if the manifest is STILL that — a merge commit landing anywhere
    // after our load (including the old recheck-to-commit window, now
    // closed under the root's commit lock) fails the retirement loudly
    // instead of being clobbered. Rerun after stopping the backfill query.
    beforeRetireCommit()
    try StateStore.commitIf(stateDir,
      manifest - "applied" - "coll" + ("data" -> next), manifest)
    catch {
      case e: StateStore.ConcurrentCommitException =>
        throw new IllegalStateException(
          s"state under $stateDir changed during retirement — is the " +
            "backfill query still running? Stop it, then rerun " +
            "failoverRetire", e)
    }
    retired
  }

  /** What [[recoverFromSlotLoss]] did: the replacement slot's consistent
    * point, the re-snapshot's chunk count, the rows retirement removed,
    * and the RESUMED normal upsert query (running; caller owns stopping
    * it). */
  final case class SlotLossRecovery(slotLsn: Long, chunks: Long,
      retired: Long, resumed: StreamingQuery)

  /** ONE-CALL slot-loss recovery — the production entry point for the
    * reference README's motivating failure (the slot is gone and the gap
    * WAL with it), sequencing the proven pieces so the operator no longer
    * hand-orders five steps:
    *
    *   1. create the REPLACEMENT slot (its consistent point bounds the
    *      gap: everything after it ships through the new tail);
    *   2. chunked pk-range re-snapshot ([[graft.sources.PgWireSnapshot
    *      .dblogChunks]] — per-chunk WAL watermarks, no global snapshot),
    *      staged once to `workDir/chunks`;
    *   3. [[dblogBackfillSink]] merges the new tail and the chunks into
    *      the EXISTING state (no state reset — the point);
    *   4. await every chunk's finalization, then QUIESCE the backfill
    *      query (retirement's precondition);
    *   5. [[failoverRetire]] removes gap-deleted keys (rows still holding
    *      pre-failover LSNs);
    *   6. resume normal tailing as a plain [[cdcUpsertSink]] on the same
    *      state, returned running.
    *
    * `sourceOptions` is the pgcdc DSv2 option map (host/port/database/
    * user/password/ssl…) with `slot` naming the REPLACEMENT slot and
    * `publication` covering `table`; connection fields double as the wire
    * endpoints for slot creation and chunk reads. `dropDeadSlot`
    * best-effort-drops the invalidated slot first (frees its WAL pin).
    *
    * Finalization needs the stream's high-water to pass each chunk's hi
    * watermark, which only events FOR THIS RELATION advance — a quiet
    * table would wait forever, so while chunks are pending the
    * orchestrator nudges: a no-op self-UPDATE of one surviving row
    * (bounded, value-preserving; DBLog's own design writes watermark rows
    * the same way — the WAL must move for watermark-based merges to
    * converge). `nudge = false` opts out for tables with live traffic.
    *
    * Crash/rerun contract (inherited from the pieces): before retirement
    * commits, rerunning with a FRESH replacement slot name restarts
    * recovery against the same state; after it, [[failoverRetire]]'s
    * cleared bookkeeping makes a rerun refuse loudly. A concurrent commit
    * landing mid-retirement fails the CAS rather than clobbering. */
  def recoverFromSlotLoss(
      spark: SparkSession,
      rel: Relation,
      stateDir: String,
      workDir: String,
      sourceOptions: Map[String, String],
      table: String,
      pkCol: String,
      nChunks: Int,
      dropDeadSlot: Option[String] = None,
      nudge: Boolean = true,
      timeoutMs: Long = 10L * 60 * 1000,
      pollMs: Long = 250L): SlotLossRecovery = {
    import graft.sources.{PgCatalog, PgWireConnection, PgWireSnapshot}
    val host = sourceOptions.getOrElse("host", "127.0.0.1")
    val port = sourceOptions.get("port").map(_.toInt).getOrElse(5432)
    val db = sourceOptions.getOrElse("database",
      sourceOptions.getOrElse("dbname", "postgres"))
    val user = sourceOptions.getOrElse("user", "postgres")
    val password = sourceOptions.get("password")
    val slot = sourceOptions.getOrElse("slot", throw new IllegalArgumentException(
      "sourceOptions must name the REPLACEMENT slot under 'slot'"))
    // TLS rides the same source options (libpq sslmode parity, exactly as
    // the DSv2 source resolves them) — the orchestrator's own wire
    // connections and the chunk reads must not silently downgrade to
    // plaintext on a server the source itself reaches over TLS
    val sslMode = sourceOptions.getOrElse("sslMode",
      if (sourceOptions.get("ssl").exists(_.toBoolean)) "require" else "disable")
    val ssl = sslMode != "disable"
    val sslRootCert = sourceOptions.get("sslRootCert")
    val sslVerifyFull = sslMode == "verify-full"
    def sqlConn(): PgWireConnection = {
      val c = new PgWireConnection(host, port, db, user, password,
        ssl = ssl, sslRootCert = sslRootCert, sslVerifyFull = sslVerifyFull)
      c.handshake(); c
    }
    // STATE-LAYOUT PREFLIGHT, before touching the server. The recovery
    // path (merge + retirement) is defined over the flat single-WAL
    // upsert layout:
    //  - an LWW state would be DESTROYED by the first backfill merge
    //    (mergeCompact strips __ts/__origin, then retirement reads
    //    foreign-WAL LSNs as local positions) — refuse here, not just in
    //    failoverRetire, which would only see the already-stripped state;
    //  - a bucketed state (b<idx> keys, no 'data') would be silently
    //    SHADOWED by a fresh flat state — the exact reset this entry
    //    point promises never happens.
    val preManifest = StateStore.load(stateDir)
    preManifest.get("data").foreach { v =>
      if (spark.read.parquet(s"$stateDir/$v").columns.contains("__ts"))
        throw new IllegalArgumentException(
          s"recoverFromSlotLoss cannot run on LWW state ($stateDir): " +
            "re-seed the LWW state instead (see lwwUpsertSink)")
    }
    if (preManifest.keys.exists(_.matches("b\\d+")) &&
        !preManifest.contains("data"))
      throw new IllegalArgumentException(
        s"recoverFromSlotLoss supports the flat upsert layout; $stateDir " +
          "is bucketed (b<idx> entries) — compact it to the flat layout " +
          "first or recover per-bucket")
    // stale RECOVERY BOOKKEEPING from a previous crashed/timed-out
    // attempt must clear before chunks are planned: colliding chunk ids
    // would be silently skipped as already-applied and retirement would
    // then mass-retire the live keys those chunks cover. CAS so a
    // still-running backfill fails this loudly instead of being clobbered.
    if (preManifest.contains("applied") || preManifest.contains("coll"))
      StateStore.commitIf(stateDir,
        preManifest - "applied" - "coll", preManifest)
    // 0. drop the dead slot (best-effort: it may already be gone, and a
    //    lost slot holds a WAL pin until dropped)
    dropDeadSlot.foreach { dead =>
      val c = sqlConn()
      try c.simpleQuery(
        s"SELECT pg_drop_replication_slot(${PgCatalog.sqlLiteral(dead)})")
      catch { case _: Exception => () }
      finally c.close()
    }
    // 1. replacement slot FIRST: from its consistent point on, every
    //    change is either in a chunk read below or in the new tail
    val repl = new PgWireConnection(host, port, db, user, password,
      replication = true, ssl = ssl, sslRootCert = sslRootCert,
      sslVerifyFull = sslVerifyFull)
    val slotLsn =
      try { repl.handshake(); PgWireSnapshot.createSlotWithSnapshot(repl, slot)._1 }
      finally repl.close()
    // 2. chunked re-snapshot, staged ONCE (the sink re-reads chunk bounds
    //    every micro-batch — that must hit parquet, not the live server).
    //    keyCols = the FULL pk so collision suppression matches on
    //    composite keys; pkCol only plans the ranges.
    val chunksDir = s"$workDir/chunks"
    PgWireSnapshot.dblogChunks(spark, host, port, db, user, password,
        table, pkCol, nChunks, keyCols = rel.keyColumnNames,
        ssl = ssl, sslRootCert = sslRootCert, sslVerifyFull = sslVerifyFull)
      .write.mode("overwrite").parquet(chunksDir)
    val chunks = spark.read.parquet(chunksDir)
    val totalChunks = chunks.select(col("chunk_id")).distinct().count()
    // 3. backfill the gap: new tail + chunks over the existing state
    def source(): DataFrame = spark.readStream
      .format("graft.sources.PgCdcProvider")
      .options(sourceOptions + ("createSlot" -> "false"))
      .load()
    val backfill = dblogBackfillSink(source(), rel, chunks, stateDir,
      s"$workDir/ckpt-backfill")
    // 4. await finalization of every chunk, nudging a quiet WAL forward
    val nudgeSql = {
      val qt = PgCatalog.quoteQualified(table)
      val qc = PgCatalog.quoteIdent(
        rel.columns.find(!_.partOfKey).map(_.name).getOrElse(pkCol))
      val qpk = PgCatalog.quoteIdent(pkCol)
      s"UPDATE $qt SET $qc = $qc WHERE $qpk = (SELECT min($qpk) FROM $qt)"
    }
    def applied(): Int = appliedChunks(StateStore.load(stateDir)).size
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var lastNudge = 0L
    try {
      while (applied() < totalChunks && System.nanoTime() < deadline) {
        if (nudge && System.nanoTime() - lastNudge > 2000000000L) {
          val c = sqlConn()
          try c.simpleQuery(nudgeSql)
          catch { case _: Exception => () }
          finally c.close()
          lastNudge = System.nanoTime()
        }
        Thread.sleep(pollMs)
      }
      if (applied() < totalChunks)
        throw new IllegalStateException(
          s"slot-loss recovery timed out after ${timeoutMs}ms: " +
            s"${recoveryStatus(spark, stateDir, totalChunks)} — the backfill " +
            "query was stopped; rerun with a fresh replacement slot")
    } finally backfill.stop() // QUIESCE before retirement, success or failure
    // 5. the finisher: gap-deleted keys still hold pre-failover LSNs
    val retired = failoverRetire(spark, stateDir, slotLsn, totalChunks)
    // 6. recovery over — resume the normal upsert tail on the same state
    //    (fresh checkpoint: the stream restarts from the slot's
    //    confirmed-flush position; the merge is idempotent under replay)
    val resumed = cdcUpsertSink(source(), rel, stateDir, s"$workDir/ckpt-resume")
    SlotLossRecovery(slotLsn, totalChunks, retired, resumed)
  }

  // ===== CROSS-SLOT CONSISTENT READ FRONTIER =====
  //
  // Multi-slot scale-out (N publications → N slots → N source instances;
  // PgCdcSource's ordering contract) delivers each slot independently, so
  // a naive union of the per-slot states can show a combination NO single
  // WAL position ever produced (slot A delivered through LSN 100 while B
  // sits at 60). Same-server slots share ONE WAL, which makes a consistent
  // cut well-defined: the FRONTIER F = min over slots of delivered LSN.
  // The sink below maintains served state AT F continuously — events with
  // lsn ≤ F merge, events ahead of the lagging slot are HELD BACK in a
  // pending spill and graduate as F advances (the dataflow-frontier
  // construction; Millwheel/Naiad-style low watermark over WAL positions).

  /** One sink, N slots: union the tagged envelope streams, gate every
    * merge at the cross-slot frontier. Serves each relation's state under
    * `data:<relationId>`; read with [[frontierState]], current frontier
    * with [[frontierLsn]].
    *
    * Granularity: event-LSN prefixes of the shared WAL. For transaction-
    * level cuts feed txn-assembled envelopes (T7) so batches carry whole
    * transactions; a cross-publication transaction then lands on the same
    * side of F in every slot (one commit record, one position).
    *
    * An IDLE slot gates the frontier (its watermark only advances with
    * delivered events — the classic frontier stall): operators unblock it
    * with [[bumpSlotWatermark]] fed from the idle source's checkpointed
    * offset (StreamingQueryProgress `endOffset` — a position the slot has
    * delivered THROUGH, so bumping to it never claims undelivered WAL).
    *
    * Scale shape: per batch one tiny per-slot max collect, one graduating
    * merge per touched relation (the same one-pk-shuffle compaction as
    * [[cdcUpsertSink]]), and a pending spill bounded by the slot-skew
    * window — the price of consistency is storing the lead slot's
    * backlog, never rescanning state. Replay-idempotent: hw keys, pending,
    * and every data version flip in ONE manifest commit. */
  def frontierGatedUnionSink(envelopes: Seq[(String, DataFrame)],
      rels: Seq[Relation], stateDir: String,
      checkpointDir: String): StreamingQuery = {
    require(envelopes.nonEmpty, "at least one (slot, envelope) stream")
    val slots = envelopes.map(_._1)
    require(slots.distinct.size == slots.size, s"duplicate slot names: $slots")
    val union = envelopes
      .map { case (s, e) => e.withColumn("__slot", lit(s)) }
      .reduce(_ unionByName _)
    sink(union, checkpointDir)(mergeFrontierBatch(_, rels, slots, stateDir))
  }

  // operator-supplied per-(root, slot) watermark bumps for idle slots —
  // driver-local, monotone; consumed (and persisted into the manifest's hw
  // keys) by the next committed batch
  private val externalWatermarks =
    new scala.collection.concurrent.TrieMap[(String, String), Long]()

  /** Advance an idle slot's frontier watermark to `lsn` — a position the
    * slot is known to have delivered through, INCLUSIVE (its checkpointed
    * offset / a delivered event's position). Monotone; takes effect on the
    * sink's next batch. NEVER pass a position ahead of what the slot has
    * actually delivered: the frontier would claim WAL it hasn't seen. In
    * particular `pg_current_wal_lsn()` is the server's INSERT position —
    * the next record starts exactly AT it — so a caller deriving the bump
    * from it must pass `lsn - 1`.
    *
    * A bump is CONSUMED by a merge, and merges run on delivered batches:
    * if EVERY slot is idle no micro-batch fires and pending rows stay
    * held despite the bump. Pair the bump with any WAL traffic on any
    * declared slot (production WALs are rarely silent; a quiet system can
    * nudge — see recoverFromSlotLoss's nudge for the same pattern). */
  def bumpSlotWatermark(stateDir: String, slot: String, lsn: Long): Unit = {
    val k = (normRoot(stateDir), slot)
    externalWatermarks.updateWith(k) {
      case Some(prev) => Some(math.max(prev, lsn))
      case None => Some(lsn)
    }
  }

  private[graft] def mergeFrontierBatch(batch0: DataFrame, rels: Seq[Relation],
      slots: Seq[String], stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val manifest = StateStore.load(stateDir)
    def hwKey(s: String) = s"hw:$s"
    // per-slot delivered watermark: committed ∨ this batch's per-slot max
    // (markers included — any delivered frame advances the position) ∨
    // operator bump. One tiny collect: ≤ one row per slot.
    val batchHw = batch0.groupBy(col("__slot")).agg(max(col("lsn"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hw = slots.map { s =>
      s -> Seq(
        manifest.get(hwKey(s)).map(_.toLong).getOrElse(Long.MinValue),
        batchHw.getOrElse(s, Long.MinValue),
        externalWatermarks.getOrElse((normRoot(stateDir), s), Long.MinValue)
      ).max
    }.toMap
    val frontier = hw.values.min
    val relIds = rels.map(_.relationId)
    val events = batch0.filter(col("relation_id").isin(relIds: _*))
    val pending = manifest.get("pending")
      .map(v => spark.read.parquet(s"$stateDir/$v"))
    // persisted for the batch: every downstream action (graduating-rel
    // collect, each relation's merge, the pending rewrite) would otherwise
    // re-read the pending spill and re-derive the batch — multiplying the
    // dominant per-batch I/O by the relation count under a large skew
    // backlog
    val candidates = pending.map(_.unionByName(events)).getOrElse(events).persist()
    try {
      val ready = candidates.filter(col("lsn") <= frontier)
      val still = candidates.filter(col("lsn") > frontier)
      // which relations graduate events this batch (one collect, tiny)
      val graduating = ready.groupBy(col("relation_id")).agg(count(lit(1)))
        .collect().map(_.getInt(0)).toSet
      var entries = manifest
      rels.filter(r => graduating.contains(r.relationId)).foreach { rel =>
        val rb = ready.filter(col("relation_id") === rel.relationId).drop("__slot")
        val existing = entries.get(s"data:${rel.relationId}")
          .map(v => readState(spark, Seq(s"$stateDir/$v")))
        val merged = mergeCompact(rb, existing, rel.keyColumnNames)
        val v = StateStore.newVersion(s"data-${rel.relationId}")
        merged.write.mode("overwrite").parquet(s"$stateDir/$v")
        entries += (s"data:${rel.relationId}" -> v)
      }
      val pv = StateStore.newVersion("pending")
      still.write.mode("overwrite").parquet(s"$stateDir/$pv")
      StateStore.commit(stateDir,
        entries + ("pending" -> pv) ++
          hw.map { case (s, v) => hwKey(s) -> v.toString })
    } finally candidates.unpersist()
  }

  /** The committed cross-slot frontier: the LSN the served state is
    * consistent AT (min over the declared slots' watermarks). */
  def frontierLsn(stateDir: String, slots: Seq[String]): Long = {
    val m = StateStore.load(stateDir)
    slots.map(s => m.get(s"hw:$s").map(_.toLong).getOrElse(Long.MinValue)).min
  }

  /** One relation's state as served at the frontier — typed like
    * [[materializedState]]. Empty (typed) if nothing graduated yet. */
  def frontierState(spark: SparkSession, rel: Relation,
      stateDir: String): DataFrame = {
    val manifest = StateStore.load(stateDir)
    val v = manifest.getOrElse(s"data:${rel.relationId}",
      throw new IllegalStateException(
        s"no served state for relation ${rel.relationId} under $stateDir"))
    graft.decode.TypedView.ofAfter(
      spark.read.parquet(s"$stateDir/$v")
        .withColumnRenamed("__after", "after"), rel)
  }

  /** Current joined view across all buckets. Columns: `__key` (B's pk
    * map), `b_after`, `a_after` — callers project through the relations'
    * typed views. */
  def joinViewState(spark: SparkSession, stateDir: String): DataFrame = {
    val dirs = StateStore.bucketEntries(StateStore.load(stateDir), "j").values.toSeq.sorted
    if (dirs.isEmpty)
      throw new IllegalStateException(s"no committed join view under $stateDir")
    spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
      .select(col("__key"), col("b_after"), col("a_after"))
  }

  /** Incrementally-maintained TOP-K view, streaming form: the state is the
    * full (group, value, net) net-count table — distributed by group and
    * sized by live DISTINCT values, which is exactly what makes retraction
    * free (an evicted leader's net drops to 0 and the runner-up ranks in;
    * no rescan, unlike the bounded-synopsis MIN/MAX sink). Per batch the
    * nonzero delta nets merge with prior state by (g, v); replay
    * high-water, truncate reset, and the atomic manifest protocol are the
    * SUM/COUNT sink's. Read the view with [[topKFromState]]. */
  def incrementalTopKSink(envelope: DataFrame, rel: Relation, groupCol: String,
      valueCol: String, stateDir: String, checkpointDir: String,
      groupType: Option[String] = None): StreamingQuery =
    sink(envelope, checkpointDir)(
      mergeTopKBatch(_, rel, groupCol, valueCol, stateDir, groupType))

  def topKFromState(spark: SparkSession, stateDir: String, k: Int): DataFrame =
    Cdc.rankTopK(netCountState(spark, stateDir), k)

  /** The (g, v, net) net-count table [[incrementalTopKSink]] maintains. */
  private def netCountState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(StateStore.dataVersion(stateDir, "top-k"))

  /** COUNT DISTINCT view over the SAME net-count state the top-k sink
    * maintains — no separate sink, no second state: a group's distinct
    * count is its number of live (g, v) rows, so one maintained table
    * serves top-k, distinct, and unbounded min/max reads (the
    * materialized-view sharing a warehouse wants: maintain once, answer
    * several aggregates). */
  def distinctFromState(spark: SparkSession, stateDir: String): DataFrame =
    netCountState(spark, stateDir)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("net")).as("c"))

  /** Exact MEDIAN view over the SAME net-count state (see
    * [[distinctFromState]] — one maintained table answers top-k, distinct,
    * min/max and now order statistics; Cdc.medianFromNets for semantics). */
  def medianFromState(spark: SparkSession, stateDir: String): DataFrame =
    Cdc.medianFromNets(netCountState(spark, stateDir))

  /** Arbitrary lower p-quantile (p = num/den) over the SAME net-count
    * state — the generalization medianFromState is the num=1, den=2 case
    * of; nothing new is maintained to serve a p95. */
  def quantileFromState(spark: SparkSession, stateDir: String,
      num: Int, den: Int): DataFrame =
    Cdc.quantileFromNets(netCountState(spark, stateDir), num, den)

  /** Equi-width histogram over the SAME net-count state — counts are
    * additive, so this is a pure projection of the maintained table. */
  def histogramFromState(spark: SparkSession, stateDir: String,
      widthCents: Long): DataFrame =
    Cdc.histogramFromNets(netCountState(spark, stateDir), widthCents)

  private[graft] def mergeTopKBatch(batch0: DataFrame, rel: Relation,
      groupCol: String, valueCol: String, stateDir: String,
      groupType: Option[String]): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val probe = hw.probe(batch, s"incrementalTopKSink(${rel.name})") match {
      case Some(p) => p
      case None => return
    }
    val delta = Cdc.netCounts(batch.filter(hw.fresh), groupCol, valueCol, groupType)
    val existing =
      if (probe.truncate.isEmpty) manifest.get("data").map(v => spark.read.parquet(s"$stateDir/$v"))
      else None
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(col("g"), col("v")).agg(sum(col("net")).as("net"))
      .filter(col("net") > 0)
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Incrementally-maintained MIN/MAX/COUNT view with BOUNDED per-group
    * state (graft.cdc.BoundedMinMax: k smallest/largest distinct values
    * with exact counts). Each micro-batch merges net (group, value) deltas
    * into the synopses — O(batch ∪ touched groups) per batch; a group whose
    * synopsis is exhausted by deletes is rebuilt by a TARGETED rescan of
    * the co-located materialized table (only that group's rows), which this
    * sink maintains in the same foreachBatch so the rescan source is always
    * at the batch's own high-water. Replay guard + truncate reset identical
    * to incrementalAggSink; state publishes via the atomic manifest flip. */
  def minMaxAggSink(envelope: DataFrame, rel: Relation, groupCol: String,
      valueCol: String, stateDir: String, tableStateDir: String,
      checkpointDir: String, k: Int = 16,
      groupType: Option[String] = None): StreamingQuery =
    sink(envelope, checkpointDir) { batch =>
      mergeBatch(batch, rel, rel.keyColumnNames, tableStateDir)
      mergeMinMaxBatch(batch, rel, groupCol, valueCol, stateDir, k,
        Some(() => materializedState(batch.sparkSession, rel, tableStateDir)),
        groupType)
    }

  private[graft] def mergeMinMaxBatch(batch0: DataFrame, rel: Relation,
      groupCol: String, valueCol: String, stateDir: String, k: Int,
      rescanSource: Option[() => DataFrame],
      groupType: Option[String] = None): Unit = {
    import graft.cdc.BoundedMinMax
    import graft.cdc.BoundedMinMax.GroupState
    val spark = batch0.sparkSession
    import spark.implicits._
    val batch = batch0.filter(col("relation_id") === rel.relationId)
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val probe = hw.probe(batch, s"minMaxAggSink(${rel.name})") match {
      case Some(p) => p
      case None => return
    }
    val fresh = batch.filter(hw.fresh)
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    val ev = Cdc.survivingEvents(fresh)
    // same wire-text canonicalization as the batch form (Cdc.canonKey):
    // numeric group keys rendered differently must not split groups
    def g(img: String) = Cdc.canonKey(element_at(col(img), groupCol), groupType).as("g")
    val plus = ev.filter(col("op").isin("I", "U"))
      .select(g("after"),
        element_at(col("after"), valueCol).cast(dec).as("v"), lit(1L).as("n"))
    val minus = ev.filter(col("op").isin("U", "D") && col("before").isNotNull)
      .select(g("before"),
        element_at(col("before"), valueCol).cast(dec).as("v"), lit(-1L).as("n"))
    val deltas = plus.unionByName(minus)
      .groupBy(col("g"), col("v")).agg(sum(col("n")).as("net"))
      .filter(col("net") =!= 0)
      .as[(String, java.math.BigDecimal, Long)]
    val prior: Dataset[GroupState] =
      if (probe.truncate.nonEmpty) spark.emptyDataset[GroupState]
      else manifest.get("data")
        .map(v => spark.read.parquet(s"$stateDir/$v").as[GroupState])
        .getOrElse(spark.emptyDataset[GroupState])
    // per-group synopsis merge: state ⨝ net deltas, O(k + deltas) a group
    val merged = prior.groupByKey(_.g).cogroup(deltas.groupByKey(_._1)) {
      (g, states, ds) =>
        val del = ds.map(t => (t._2, t._3)).toSeq
        val st = states.nextOption().getOrElse(BoundedMinMax.empty(g))
        if (del.isEmpty) Iterator.single((false, st))
        else BoundedMinMax.merge(st, del, k) match {
          case BoundedMinMax.Updated(None)    => Iterator.empty
          case BoundedMinMax.Updated(Some(s)) => Iterator.single((false, s))
          case BoundedMinMax.NeedsRescan =>
            Iterator.single((true, BoundedMinMax.empty(g)))
        }
    }.persist()
    val rescanGroups = merged.filter(_._1).map(_._2.g).collect().toSeq
    val kept = merged.filter(!_._1).map(_._2)
    val rebuilt: Dataset[GroupState] =
      if (rescanGroups.isEmpty) spark.emptyDataset[GroupState]
      else {
        val src = rescanSource.getOrElse(sys.error(
          s"minmax synopsis exhausted for groups [${rescanGroups.mkString(", ")}] " +
            "and no rescan source configured"))()
        src.filter(col(groupCol).cast("string").isin(rescanGroups: _*))
          .select(col(groupCol).cast("string").as("g"),
            col(valueCol).cast(dec).as("v"))
          .groupBy(col("g"), col("v")).agg(count(lit(1)).as("n"))
          .as[(String, java.math.BigDecimal, Long)]
          .groupByKey(_._1)
          .mapGroups((g, it) =>
            BoundedMinMax.fromValues(g, it.map(t => (t._2, t._3)).toSeq, k).get)
      }
    val next = StateStore.newVersion("data")
    kept.union(rebuilt).toDF().write.mode("overwrite").parquet(s"$stateDir/$next")
    merged.unpersist()
    StateStore.commit(stateDir, probe.advanced + ("data" -> next))
  }

  /** Current (g, mn, mx, c) rows of the bounded MIN/MAX view. */
  def minMaxAggState(spark: SparkSession, stateDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 6)
    spark.read.parquet(StateStore.dataVersion(stateDir, "min/max"))
      .select(col("g"), col("bottom")(0)("v").cast(dec).as("mn"),
        col("top")(0)("v").cast(dec).as("mx"), col("cnt").as("c"))
  }

  /** Current state of an incrementally-maintained aggregate view. */
  def incrementalAggState(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(StateStore.dataVersion(stateDir, "aggregate"))

  /** Streaming replication-monitoring counters (the live twin of the
    * cdc_wire_stats batch report): per-(relation, op) event counts and LSN
    * coverage bounds, maintained incrementally across micro-batches —
    * O(batch + touched groups) per batch, groups bounded by
    * relations × ops. Replay-safe via the same one-manifest (lsn, seq)
    * high-water discipline as the aggregate sinks: counters and the guard
    * flip atomically, so at-least-once redelivery can never double-count.
    * Distinct-txn counts are deliberately absent in the streaming form —
    * exact distinctness across batches needs per-txid state (unbounded);
    * the batch report covers it where the whole stream is in hand. */
  def wireStatsSink(envelope: DataFrame, stateDir: String,
      checkpointDir: String): StreamingQuery =
    sink(envelope, checkpointDir)(mergeWireStatsBatch(_, stateDir))

  private[streaming] def mergeWireStatsBatch(batch0: DataFrame, stateDir: String): Unit = {
    val spark = batch0.sparkSession
    val batch = batch0.filter(col("op").isin("I", "U", "D", "T", "M"))
    val manifest = StateStore.load(stateDir)
    val hw = HighWater.of(manifest)
    val probe = batch.agg(max(struct(col("lsn"), col("seq"))).as("mx")).first()
    if (probe.isNullAt(0)) return
    val delta = batch
      .filter(hw.fresh)
      .groupBy(col("relation_id"), col("op"))
      .agg(count(lit(1)).as("n_events"),
        min(col("lsn")).as("min_lsn"), max(col("lsn")).as("max_lsn"))
    val existing = manifest.get("data").map(v => spark.read.parquet(s"$stateDir/$v"))
    val merged = existing.map(_.unionByName(delta)).getOrElse(delta)
      .groupBy(col("relation_id"), col("op"))
      .agg(sum(col("n_events")).as("n_events"),
        min(col("min_lsn")).as("min_lsn"), max(col("max_lsn")).as("max_lsn"))
    val next = StateStore.newVersion("data")
    merged.write.mode("overwrite").parquet(s"$stateDir/$next")
    StateStore.commit(stateDir, hw.advance(probe.getStruct(0)) + ("data" -> next))
  }

  /** Current per-(relation, op) monitoring counters. */
  def wireStats(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(StateStore.dataVersion(stateDir, "wire-stats"))

  /** Current typed state of the materialized table (either state layout). */
  def materializedState(spark: SparkSession, rel: Relation, stateDir: String): DataFrame = {
    val manifest = StateStore.load(stateDir)
    val dirs = manifestDataDirs(manifest)
    require(dirs.nonEmpty, s"no committed state under $stateDir")
    graft.decode.TypedView.ofAfter(
      spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
        .withColumnRenamed("__after", "after"), rel)
  }

  /** TIME-TRAVEL read: the materialized table as of retained snapshot
    * `seq` (see `StateStore.commit(retain)`) — the table-format "SELECT …
    * VERSION AS OF" shape. Snapshot manifests are immutable files and the
    * GC spares every directory a retained snapshot references, so the read
    * is just "load that manifest, read its dirs"; retention is the history
    * horizon. */
  def materializedStateAt(spark: SparkSession, rel: Relation, stateDir: String,
      seq: Long): DataFrame = {
    val manifest = StateStore.loadSnapshot(stateDir, seq)
    val dirs = manifestDataDirs(manifest)
    require(dirs.nonEmpty, s"snapshot $seq under $stateDir holds no data")
    graft.decode.TypedView.ofAfter(
      spark.read.parquet(dirs.map(v => s"$stateDir/$v"): _*)
        .withColumnRenamed("__after", "after"), rel)
  }

  /** Version-to-version CHANGE EXTRACTION: the rows that differ between
    * two retained snapshots, as (op, key columns, row image) — I for keys
    * only in `seqB`, D for keys only in `seqA`, U where the image changed.
    * This closes the loop with the ingest side (CDC builds the snapshots;
    * the diff re-derives a change feed FROM them) — the "table_changes"
    * read a downstream consumer uses when it can't tail the original
    * stream. One full-outer pk join between two snapshot reads (same
    * shape as cdc_state_audit), AQE-splittable; emits only divergent
    * keys. */
  def stateDiff(spark: SparkSession, rel: Relation, stateDir: String,
      seqA: Long, seqB: Long): DataFrame = {
    val keys = rel.keyColumnNames
    val a = materializedStateAt(spark, rel, stateDir, seqA)
    val b = materializedStateAt(spark, rel, stateDir, seqB)
    val nonKey = rel.columns.map(_.name).filterNot(keys.contains)
    val aP = a.select(keys.map(col) ++
      Seq(struct(nonKey.map(col): _*).as("__a")): _*)
    val bP = b.select(keys.map(col) ++
      Seq(struct(nonKey.map(col): _*).as("__b")): _*)
    aP.join(bP, keys, "full_outer")
      .withColumn("op",
        when(col("__a").isNull, lit("I"))
          .when(col("__b").isNull, lit("D"))
          // null-safe struct compare: a null FIELD inside an image must
          // count as a difference, not poison the predicate to null
          .when(!(col("__a") <=> col("__b")), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op") +: keys.map(col) :+
        coalesce(col("__b"), col("__a")).as("image"): _*)
  }

  /** Event-time tumbling window aggregate with watermark (late data beyond
    * the watermark is dropped) — the streaming twin of q21. */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes",
      window_ : String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Event-time HOPPING window aggregate (overlapping size/slide windows)
    * with watermark — the streaming twin of q64: each event lands in
    * size/slide overlapping windows, expanded map-side before the keyed
    * state update. */
  def hoppingCounts(events: DataFrame, watermark: String = "30 minutes",
      size: String = "10 minutes", slide: String = "5 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total"))

  /** Event-time OHLC candlestick bars with watermark — the streaming twin
    * of q83_ohlc_bars. The batch form ranks within the bar; ranks don't
    * merge across micro-batches, but argmin/argmax DO: open/close are
    * `min_by`/`max_by` over the total (ts, event_id) order — an aggregate
    * whose state is one (key, value) pair per bar, updated incrementally
    * as late events arrive within the watermark. High/low/count and the
    * decimal-exact volume ride the same keyed state; bars finalize
    * (append-mode emit) when the watermark passes the bar end. */
  def ohlcBars(events: DataFrame, watermark: String = "30 minutes",
      size: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size))
      .agg(count(lit(1)).as("n_trades"),
        min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("volume"))
      .select(col("window.start").as("h"), col("n_trades"), col("open"),
        col("high"), col("low"), col("close"), col("volume"))

  /** Per-user funnel progress (view → click → purchase), streaming form of
    * q47_event_funnel: a keyed state machine via `mapGroupsWithState`. Each
    * trigger advances the user's state with the batch's events in ts order
    * and emits the updated row. Contract: in-order delivery per key across
    * batches (the CDC/event sources here replay in log order); state is
    * three timestamps per user — O(users) total, no event retention.
    * Stage rules match the batch query exactly: first view; first click
    * strictly after it; first purchase strictly after that. */
  final case class FunnelState(
      tView: Option[java.sql.Timestamp],
      tClick: Option[java.sql.Timestamp],
      tPurchase: Option[java.sql.Timestamp])

  def funnelStates(events: DataFrame): Dataset[(Long, FunnelState)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, java.sql.Timestamp, String)],
         gs: GroupState[FunnelState]) =>
          var s = gs.getOption.getOrElse(FunnelState(None, None, None))
          it.toSeq.sortWith((a, b) => a._2.compareTo(b._2) < 0)
            .foreach { case (_, ts, tpe) =>
            tpe match {
              case "view" if s.tView.isEmpty => s = s.copy(tView = Some(ts))
              case "click" if s.tClick.isEmpty &&
                s.tView.exists(v => ts.compareTo(v) > 0) =>
                s = s.copy(tClick = Some(ts))
              case "purchase" if s.tPurchase.isEmpty &&
                s.tClick.exists(c => ts.compareTo(c) > 0) =>
                s = s.copy(tPurchase = Some(ts))
              case _ =>
            }
          }
          gs.update(s)
          (user, s)
      }
  }

  /** Streaming CEP twin of `q66_pattern_match`: per-user state machine
    * for the pattern  signup (not-error)* purchase  within 30 minutes.
    * State is the last signup's µs timestamp plus a clean flag — O(1) per
    * user, no event retention — and each matching purchase EMITS as it
    * arrives (flatMapGroupsWithState, append mode): the streaming form of
    * MATCH_RECOGNIZE with negation. In-order delivery per key across
    * batches is the log-ordered sources' contract (same as funnelStates);
    * within a batch rows apply in (ts, event_id) order, mirroring the
    * batch query's window order exactly. All-integer arithmetic. */
  final case class CepState(signupUs: Option[Long], clean: Boolean)

  def cepMatches(events: DataFrame): Dataset[(Long, Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("event_id").cast("long"))
      .as[(Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String, Long)],
         gs: GroupState[CepState]) =>
          var s = gs.getOption.getOrElse(CepState(None, clean = false))
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          it.toSeq.sortBy(e => (e._2, e._4)).foreach { case (_, us, tpe, _) =>
            tpe match {
              case "signup" => s = CepState(Some(us), clean = true)
              case "error"  => s = s.copy(clean = false)
              case "purchase" =>
                s.signupUs.foreach { su =>
                  if (s.clean && us - su <= 1800000000L)
                    out += ((user, su, us, (us - su) / 1000000L))
                }
              case _ =>
            }
          }
          gs.update(s)
          out.iterator
      }
  }

  /** Attach Debezium-style replication metrics to ANY envelope stream via
    * `Dataset.observe` — the aggregates accumulate INSIDE the existing
    * pass (no second scan, no state store) and surface per micro-batch in
    * `StreamingQueryProgress.observedMetrics(name)` (batch: the
    * Observation API). Tracked: event count, I/U/D/T mix, keyless DML
    * rows (pk-extraction failures — the poison-pill alarm), TOAST-bearing
    * updates, and the batch's LSN high-water mark. This is the zero-cost
    * observability layer; `wireStatsSink` is the durable cross-batch
    * counterpart. */
  def observedEnvelope(events: DataFrame, name: String = "graft_cdc"): DataFrame =
    events.observe(name,
      count(lit(1)).as("n_events"),
      sum(when(col("op") === "I", 1L).otherwise(0L)).as("n_inserts"),
      sum(when(col("op") === "U", 1L).otherwise(0L)).as("n_updates"),
      sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_deletes"),
      sum(when(col("op") === "T", 1L).otherwise(0L)).as("n_truncates"),
      sum(when(col("op").isin("I", "U", "D") && col("key").isNull, 1L)
        .otherwise(0L)).as("n_keyless"),
      sum(when(size(col("after_toasted")) > 0, 1L).otherwise(0L)).as("n_toasted"),
      max(col("lsn")).as("max_lsn"))

  /** Streaming last-touch attribution, twin of `q71_attribution`: per-user
    * state is the latest non-purchase touch channel (click/view/signup) —
    * ONE string per user, no event retention — and each purchase EMITS its
    * credited (channel, cents) as it arrives (append mode), 'direct' when
    * no touch precedes. Rows apply in (ts, event_id) order within a batch,
    * mirroring the batch query's window order; in-order delivery across
    * batches is the log-ordered sources' contract (same as cepMatches).
    * Value rides as integer CENTS so any downstream revenue sum is exact
    * and order-independent. */
  def attributionMatches(events: DataFrame): Dataset[(Long, Long, String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("event_type").isin("click", "view", "signup", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("event_id").cast("long"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String, Long, Long)],
         gs: GroupState[String]) =>
          var touch = gs.getOption.getOrElse("direct")
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String, Long)]
          it.toSeq.sortBy(e => (e._2, e._4)).foreach { case (_, _, tpe, id, cents) =>
            if (tpe == "purchase") out += ((user, id, touch, cents))
            else touch = tpe
          }
          gs.update(touch)
          out.iterator
      }
  }

  /** Streaming MULTI-TOUCH attribution, twin of `q92_multitouch_attribution`:
    * per-user state is the 24-hour lookback window of (view|click) touches —
    * ascending (ts_us, event_id, type) triples, pruned past the window on
    * every batch, so state is bounded by one user's 24h touch volume, never
    * their history. Each purchase EMITS its per-model credit rows as it
    * arrives (append mode): one first_touch row, one last_touch row, and
    * one linear row per distinct in-window touch type carrying
    * `cents·k·10⁶ / n` micro-cents (the batch query's exact integer split),
    * with 'none' rows when the window is empty. Grouping the emitted rows
    * by (model, touch_type) reproduces q92 bit-for-bit — the parity test's
    * gate. Rows apply in (ts, event_id) order within a batch; in-order
    * delivery across batches is the log-ordered sources' contract. */
  def multiTouchCredits(events: DataFrame): Dataset[(Long, String, String, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val winUs = 24L * 3600 * 1000000L
    events.filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"), col("event_id").cast("long"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[(Long, Long, String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Long, it: Iterator[(Long, Long, String, Long, Long)],
         gs: GroupState[List[(Long, Long, String)]]) =>
          var touches = gs.getOption.getOrElse(Nil)
          var maxUs = touches.lastOption.map(_._1).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
          it.toSeq.sortBy(e => (e._2, e._4)).foreach { case (_, us, tpe, id, cents) =>
            maxUs = math.max(maxUs, us)
            if (tpe == "purchase") {
              val win = touches.filter(t => t._1 < us && t._1 >= us - winUs)
              val micro = cents * 1000000L
              if (win.isEmpty) {
                out += ((id, "first_touch", "none", micro))
                out += ((id, "last_touch", "none", micro))
                out += ((id, "linear", "none", micro))
              } else {
                val n = win.size.toLong
                out += ((id, "first_touch", win.head._3, micro))
                out += ((id, "last_touch", win.last._3, micro))
                win.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (t, g) =>
                  out += ((id, "linear", t, cents * g.size * 1000000L / n))
                }
              }
            } else touches = touches :+ ((us, id, tpe))
          }
          // prune: a future purchase has c_ts ≥ maxUs (in-order contract),
          // so touches below maxUs − 24h can never enter another window
          gs.update(touches.filter(_._1 >= maxUs - winUs))
          out.iterator
      }
  }

  /** Streaming twin of q95's per-user conversion state: per user, the
    * first-view timestamp and the first qualifying purchase (ts > first
    * view), each set at most ONCE (−1 = unset). Emits the user's state row
    * whenever it changes (Update mode); because both fields are
    * write-once, the LAST state per user is recoverable downstream as a
    * plain `max` — and the Kaplan-Meier curve over a state snapshot is
    * `RelationalQueries.kmCurve` applied to the derived (status, t) rows
    * (parity in StreamingSpec). State is two longs per user, O(users);
    * rows apply in (ts) order within a batch, in-order delivery across
    * batches is the log-ordered sources' contract (funnelStates'
    * convention — under it the first view is FINAL the moment it is seen,
    * which is what makes two longs sufficient). */
  def survivalStates(events: DataFrame): Dataset[(Long, Long, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id").cast("long"), unix_micros(col("ts")).as("us"),
        col("event_type"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[(Long, Long, String)],
         gs: GroupState[(Long, Long)]) =>
          val before = gs.getOption.getOrElse((-1L, -1L))
          var (tv, tp) = before
          it.toSeq.sortBy(_._2).foreach { case (_, us, tpe) =>
            if (tpe == "view") { if (tv < 0) tv = us }
            else if (tv >= 0 && tp < 0 && us > tv) tp = us
          }
          if ((tv, tp) != before) {
            gs.update((tv, tp)); Iterator.single((user, tv, tp))
          } else Iterator.empty
      }
  }

  /** Spark-4-native stateful processor (transformWithState): per-user
    * running (event count, value cents). State is ONE value per user —
    * the arbitrary-state API's replacement for mapGroupsWithState, with
    * per-state TTL and RocksDB-backed stores. Rows apply in (ts, event_id)
    * order within each batch; in-order delivery across batches is the
    * log-ordered sources' contract (same as funnelStates). Value rides as
    * integer CENTS so the running sum is exact; the emitted double equals
    * the batch query's decimal-sum→double cast bit-for-bit. */
  final class RunningFeatureProcessor
      extends StatefulProcessor[Long, (Long, Long, Long, Long), (Long, Long, Long, Double)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState("rf",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long, Double)] = {
      var (n, cents) = if (st.exists()) st.get() else (0L, 0L)
      val out = rows.toSeq.sortBy(r => (r._3, r._2)).map { case (_, eventId, _, c) =>
        n += 1; cents += c
        (user, eventId, n, cents / 100.0)
      }
      st.update((n, cents))
      out.iterator
    }
  }

  /** Streaming twin of q53_running_features over the raw event stream.
    * Requires the RocksDB state-store provider
    * (spark.sql.streaming.stateStore.providerClass) — transformWithState's
    * backing store. */
  def runningFeatures(events: DataFrame): Dataset[(Long, Long, Long, Double)] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        unix_micros(col("ts")).as("ts_us"),
        expr("cast(round(value * 100) as long)").as("cents"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RunningFeatureProcessor, TimeMode.None(), OutputMode.Update())
  }

  /** Session windows per user (gap-based). */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"), col("n"))

  /** Stateful exact-once dedup by message id within the watermark. */
  def dedupedEvents(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: each error joined to the same user's
    * clicks within the preceding 30 minutes. Both sides watermarked, so
    * join state is bounded by interval + watermark — the canonical
    * stream-stream shape. */
  def errorsWithRecentClicks(events: DataFrame,
      watermark: String = "1 hour", window_ : String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value").as("c_value"))
      .withWatermark("c_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"), col("event_id").as("e_id"))
      .withWatermark("e_ts", watermark)
    errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr(s"INTERVAL $window_") &&
        col("c_ts") <= col("e_ts"))
  }

  /** Stream-stream LEFT OUTER interval join: every error enriched with the
    * user's clicks from the preceding window, and errors with NO such
    * click still emitted (null click columns) — but only once the
    * watermark passes their window, because "no match" is unknowable until
    * no matching click can arrive. That delayed null emission is the
    * semantics a batch left join doesn't have; state for both sides is
    * bounded by watermark + window, exactly as in the inner form. */
  def errorsWithRecentClicksOuter(events: DataFrame,
      watermark: String = "1 hour", window_ : String = "30 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("value").as("c_value"))
      .withWatermark("c_ts", watermark)
    val errors = events.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"), col("event_id").as("e_id"))
      .withWatermark("e_ts", watermark)
    errors.join(clicks,
      col("e_user") === col("c_user") &&
        col("c_ts") >= col("e_ts") - expr(s"INTERVAL $window_") &&
        col("c_ts") <= col("e_ts"),
      "left_outer")
  }

  /** Stream-static join: enrich a streaming source with a static dimension
    * (broadcast — the dim never shuffles, the stream never blocks). The
    * third join shape beside stream-stream (errorsWithRecentClicks) and
    * batch: no watermark needed, the static side is re-scanned per
    * micro-batch so slowly-changing dims pick up updates. */
  def enrichedEvents(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")

  /** The reference's default sink logs each event as JSON
    * (stores.py:104-118, K1); here: envelope rows → one JSON document per
    * event, ready for console/Kafka-style value sinks. */
  /** WRITE-BACK sink: apply a CDC envelope batch to a LIVE Postgres table
    * over the in-repo wire client — the replication loop closed driverless
    * (source PG → decode → transform → sink PG), the reference's actual
    * use case (reader.py's DataStore consumer) materialized into a real
    * database instead of a log line. Apply semantics: I/U upsert via
    * `INSERT … ON CONFLICT (pk) DO UPDATE`, D deletes by key; an UPDATE
    * that CHANGES key columns additionally deletes the old-key row first
    * (driver-side barrier — see the cross-key comment below); all are
    * idempotent, so Spark's at-least-once micro-batch replay is safe
    * (exactly-once state without two-phase commit — the standard CDC-sink
    * contract). Ordering: rows are repartitioned by PRIMARY KEY and
    * lsn-ordered within partitions, so each key's operations apply in WAL
    * order while distinct keys fan out over `parallelism` writers — the
    * scale shape of every bucketed sink here. Statements batch ~100 per
    * simple-query message; the wire's multi-statement simple query runs
    * each batch as ONE implicit transaction (atomic batch-lets, cheap
    * round-trips). Values are escaped as literals ('' doubling —
    * standard_conforming_strings is the server default); identifiers are
    * double-quoted. */
  def pgWriteBack(batch: DataFrame, host: String, port: Int, db: String,
      user: String, password: Option[String], table: String,
      cols: Seq[String], keyCols: Seq[String], parallelism: Int = 4): Unit = {
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      "key columns must be a non-empty subset of cols")
    val (h, p, d, u, pw) = (host, port, db, user, password)
    val (tbl, cs, ks) = (table, cols, keyCols)
    def newConn() = {
      val c = new graft.sources.PgWireConnection(h, p, d, u, pw)
      c.handshake()
      // literal escaping below relies on '' doubling alone: pin the
      // server's default quoting semantics per session so a legacy
      // standard_conforming_strings=off override can never turn a
      // backslash-bearing value into statement-corrupting SQL (the
      // conduit's bytea_output pin, applied to the write side)
      c.simpleQuery("SET standard_conforming_strings = on")
      c
    }
    // synthetic envelopes (e.g. snapshot backfill rows) may not carry the
    // toast-marker column at all
    def toastedOf(df: DataFrame) =
      if (df.columns.contains("after_toasted"))
        coalesce(col("after_toasted"), array())
      else array().cast("array<string>")
    def applyDml(dml: DataFrame): Unit = {
      val keyVal = (k: String) =>
        coalesce(element_at(col("key"), k), element_at(col("after"), k))
      val rows = dml.select(col("op"), col("lsn"), col("seq"),
          array(cs.map(c => element_at(col("after"), c)): _*).as("vals"),
          array(ks.map(keyVal): _*).as("keys"),
          toastedOf(dml).as("toasted"),
          concat_ws("\u0000", ks.map(keyVal): _*).as("k"))
        .repartition(parallelism, col("k"))
        // tertiary delete-before-upsert tiebreak: a SPLIT pk-change (below)
        // mints a 'D' and an 'I' at the SAME (lsn, seq); when the old and
        // new key hash to the same partition the delete must sort first
        .sortWithinPartitions(col("lsn"), col("seq"),
          when(col("op") === "D", 0).otherwise(1))
      rows.foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
        if (it.hasNext) { // idle micro-batches never pay a handshake
          val conn = newConn()
          try {
            val buf = new StringBuilder
            var n = 0
            def flush(): Unit = if (n > 0) {
              conn.simpleQuery(buf.toString); buf.clear(); n = 0
            }
            it.foreach { r =>
              if (buf.nonEmpty) buf.append("; ")
              buf.append(pgApplyStatement(r.getString(0), tbl, cs, ks,
                r.getSeq[String](3), r.getSeq[String](4),
                r.getSeq[String](5).toSet))
              n += 1
              if (n >= 100) flush()
            }
            flush()
          } finally conn.close()
        }
      }
    }
    // PK-CHANGING UPDATES (the envelope's old `key` image differs from the
    // after-image's key columns — only FOREIGN single-'U' envelopes: the
    // in-repo decoder already splits pk-changes into D+I at decode,
    // ChangeEvent.scala). The upsert-by-new-key alone would leave the
    // old-key row behind (the r5-advice finding). Two apply paths:
    //  - PLAIN moves (no unchanged-TOAST column) SPLIT into a 'D' row on
    //    the old key and an 'I' row on the new key, flowing through the
    //    partitioned path like every other event — each key's partition
    //    sees its half in (lsn, seq) order, so per-key WAL order holds,
    //    and a bulk key-shifting UPDATE costs nothing extra (no driver
    //    work, no extra jobs). The move is not atomic across the two
    //    partitions, but replay converges (same property as the decoder's
    //    own D+I split).
    //  - TOAST-CARRYING moves go through a driver-side (lsn, seq) BARRIER
    //    (upsert new key, copy the unresent TOAST value from the old row,
    //    delete it — one implicit transaction): the copy needs the old row
    //    present and the new row just written, an ordering only a barrier
    //    guarantees. These are rare² (a pk change AND an untouched TOAST
    //    column in one statement), so the barrier collect stays a handful,
    //    mirroring the pre-existing truncate collect.
    val isPkChange = col("op") === "U" && ks.map(k =>
      element_at(col("key"), k).isNotNull &&
        !(element_at(col("key"), k) <=> element_at(col("after"), k)))
      .reduce(_ || _)
    val isToastMove = isPkChange && size(toastedOf(batch)) > 0
    // ONE scan of the micro-batch mints the apply rows: ordinary I/U/D rows
    // pass through 1:1; a plain pk-move mints its 'D'(old key) + 'I'(new
    // key — the old-key image dropped so the insert half keys/partitions by
    // the after image) pair inline, so the common no-move batch is never
    // re-scanned for moves that are not there (a 3-way union of filters
    // would re-read — and for the wire path re-DECODE — the batch thrice).
    val nullKey = lit(null).cast("map<string,string>")
    val emitted = when(isPkChange && size(toastedOf(batch)) === 0, array(
        struct(lit("D").as("op_"), col("key").as("key_")),
        struct(lit("I").as("op_"), nullKey.as("key_"))))
      .when(col("op").isin("I", "U", "D") && !isPkChange, array(
        struct(col("op").as("op_"), col("key").as("key_"))))
      .otherwise(array().cast("array<struct<op_:string,key_:map<string,string>>>"))
    val dmlAll = batch
      .select(col("*"), explode(emitted).as("e_"))
      .withColumn("op", col("e_.op_"))
      .withColumn("key", col("e_.key_"))
      .drop("e_")
    // barrier = (lsn, seq, statement): TRUNCATE, or the toast-carrying move
    val truncStmt = s"TRUNCATE ${graft.sources.PgCatalog.quoteQualified(tbl)}"
    val barriers: Array[(Long, Long, String)] =
      (batch.filter(col("op") === "T")
        .select(col("lsn"), col("seq")).collect()
        .map(r => (r.getLong(0), r.getLong(1), truncStmt)) ++
      batch.filter(isToastMove)
        .select(col("lsn"), col("seq"),
          array(cs.map(c => element_at(col("after"), c)): _*).as("vals"),
          array(ks.map(k => element_at(col("key"), k)): _*).as("oldKeys"),
          toastedOf(batch).as("toasted"))
        .collect()
        .map { r =>
          (r.getLong(0), r.getLong(1),
            pgPkChangeStatement(tbl, cs, ks, r.getSeq[String](2),
              r.getSeq[String](3), r.getSeq[String](4).toSet))
        }).sortBy(b => (b._1, b._2))
    if (barriers.isEmpty) applyDml(dmlAll)
    else {
      def before(l: Long, s: Long) =
        col("lsn") < l || (col("lsn") === l && col("seq") < s)
      def after(l: Long, s: Long) =
        col("lsn") > l || (col("lsn") === l && col("seq") > s)
      // the span walk re-reads dmlAll once per barrier: cache it, and run
      // the barrier statements over one SHARED driver connection — opened
      // lazily (not before the first span's Spark jobs) and re-opened with
      // ONE retry if it died while a long span applied under it
      // (idle_session_timeout, NAT idle drops); every barrier statement is
      // idempotent (TRUNCATE / the pk-move triple), so the retry is safe.
      dmlAll.persist()
      var bc: graft.sources.PgWireConnection = null
      def barrierExec(stmt: String): Unit = {
        if (bc == null) bc = newConn()
        try bc.simpleQuery(stmt)
        catch {
          // re-dial ONLY on connection-class failures (the idle-timeout /
          // NAT-drop case the retry exists for) — a deterministic SQL error
          // (permission, constraint, syntax) would fail identically on the
          // fresh connection, so it propagates immediately and the stack
          // trace names the attempt that actually produced it
          case e if Streams.barrierRetryable(e) =>
            try bc.close() catch { case _: Throwable => () }
            bc = newConn()
            bc.simpleQuery(stmt)
        }
      }
      try {
        var prev: Option[(Long, Long)] = None
        barriers.foreach { case (l, s, stmt) =>
          val span = prev match {
            case None => dmlAll.filter(before(l, s))
            case Some((pl, ps)) => dmlAll.filter(after(pl, ps) && before(l, s))
          }
          applyDml(span)
          barrierExec(stmt)
          prev = Some((l, s))
        }
        val (pl, ps) = prev.get
        applyDml(dmlAll.filter(after(pl, ps)))
      } finally {
        if (bc != null) { try bc.close() catch { case _: Throwable => () } }
        dmlAll.unpersist()
      }
    }
  }

  /** One apply statement for a CDC row (pure — spec-testable): the upsert
    * (`I`/`U`) or key delete (`D`) [[pgWriteBack]] sends. Identifiers are
    * double-quoted with `""` doubling; values are escaped as literals with
    * `''` doubling (the sink session pins standard_conforming_strings=on,
    * so backslashes carry no escape meaning); NULL values render as NULL.
    * Columns in `toasted` (unchanged-TOAST markers — the value was NOT
    * resent, T5's 'u' ≠ NULL distinction) are excluded from BOTH the
    * insert column list and the DO UPDATE SET, so the sink row keeps its
    * current value instead of being overwritten with NULL. */
  // Shared SQL-rendering helpers for the write-back statement builders —
  // ONE definition each so an escaping fix can never apply to one builder
  // and miss another (identifiers: `""` doubling via PgCatalog;
  // literals: `''` doubling under the pinned standard_conforming_strings).
  private def pgQ(id: String) = graft.sources.PgCatalog.quoteIdent(id)
  private def pgQt(t: String) = graft.sources.PgCatalog.quoteQualified(t)
  private def pgLit(v: String) =
    if (v == null) "NULL" else "'" + v.replace("'", "''") + "'"

  private[streaming] def pgApplyStatement(op: String, table: String,
      cols: Seq[String], keyCols: Seq[String],
      vals: Seq[String], keys: Seq[String],
      toasted: Set[String] = Set.empty): String = {
    if (op == "D")
      s"DELETE FROM ${pgQt(table)} WHERE " +
        keyCols.zip(keys).map { case (c, v) => s"${pgQ(c)} = ${pgLit(v)}" }
          .mkString(" AND ")
    else {
      val present = cols.zip(vals).filterNot { case (c, _) => toasted(c) }
      val updCols = present.map(_._1).filterNot(keyCols.contains)
      val updates =
        if (updCols.isEmpty) "DO NOTHING"
        else "DO UPDATE SET " +
          updCols.map(c => s"${pgQ(c)} = EXCLUDED.${pgQ(c)}").mkString(", ")
      s"INSERT INTO ${pgQt(table)} (${present.map(p => pgQ(p._1)).mkString(", ")}) " +
        s"VALUES (${present.map(p => pgLit(p._2)).mkString(", ")}) " +
        s"ON CONFLICT (${keyCols.map(pgQ).mkString(", ")}) $updates"
    }
  }

  /** Whether a barrier-statement failure warrants ONE re-dial+retry:
    * transport death (IOException) or a server error whose SQLSTATE is a
    * connection-class state — 08xxx connection exceptions, 57xxx operator
    * intervention (admin shutdown / idle_session_timeout's 57P05) — i.e.
    * exactly the failures a fresh connection can fix. Deterministic SQL
    * errors (42xxx syntax/permission, 23xxx constraint, …) and stateless
    * SQLExceptions are NOT retried: they would fail identically on the
    * retry, and re-running them once before surfacing masks which attempt
    * produced the error. Every barrier statement is idempotent (TRUNCATE /
    * the pk-move triple), so the one retry is safe when it does fire. */
  private[streaming] def barrierRetryable(e: Throwable): Boolean = e match {
    case _: java.io.IOException => true
    case s: java.sql.SQLException =>
      val st = s.getSQLState
      st != null && (st.startsWith("08") || st.startsWith("57"))
    case _ => false
  }

  /** The statement sequence a PK-CHANGING UPDATE applies (pure —
    * spec-testable), sent as ONE simple-query message so the wire runs it
    * in one implicit transaction (no observer sees neither-row or
    * both-rows):
    *  1. upsert the NEW key's row (VALUES straight from the after image;
    *     unchanged-TOAST columns excluded, as everywhere);
    *  2. if any column was TOAST-unchanged ('u' — value NOT resent), copy
    *     it from the OLD key's row into the new one (the value exists only
    *     there; a bare delete+insert would silently NULL it);
    *  3. DELETE the old key's row.
    * Replay-idempotent: on a second apply the old row is gone, so the copy
    * and delete no-op while the upsert converges (its DO UPDATE SET also
    * excludes toasted columns, so the copied value survives). Upsert-first
    * (never UPDATE-the-key-in-place) keeps a drifted sink from aborting the
    * transaction on a unique violation — the move self-heals instead. */
  private[streaming] def pgPkChangeStatement(table: String, cols: Seq[String],
      keyCols: Seq[String], vals: Seq[String], oldKeys: Seq[String],
      toasted: Set[String]): String = {
    val upsert = pgApplyStatement("U", table, cols, keyCols, vals, oldKeys, toasted)
    val del = pgApplyStatement("D", table, cols, keyCols, vals, oldKeys)
    val toastCols = cols.filter(toasted)
    val copy =
      if (toastCols.isEmpty) ""
      else {
        val newKeys = keyCols.map(k => vals(cols.indexOf(k)))
        s"UPDATE ${pgQt(table)} AS t SET " +
          toastCols.map(c => s"${pgQ(c)} = src.${pgQ(c)}").mkString(", ") +
          s" FROM ${pgQt(table)} src WHERE " +
          keyCols.zip(newKeys).map { case (c, v) => s"t.${pgQ(c)} = ${pgLit(v)}" }
            .mkString(" AND ") + " AND " +
          keyCols.zip(oldKeys).map { case (c, v) => s"src.${pgQ(c)} = ${pgLit(v)}" }
            .mkString(" AND ") + "; "
      }
    upsert + "; " + copy + del
  }

  def jsonEnvelope(envelope: DataFrame): DataFrame =
    envelope.select(to_json(struct(envelope.columns.map(col): _*)).as("value"))

  /** At-least-once → exactly-once on the CDC envelope: replayed frames mint
    * identical deterministic message ids ("lsn-seq"), so duplicates from a
    * crash/replay window collapse here. (The compaction sink is idempotent
    * anyway; this protects non-idempotent consumers.) */
  def exactlyOnceEnvelope(envelope: DataFrame): DataFrame =
    envelope.dropDuplicates("message_id")

  /** One assembled transaction: every I/U/D event between B and C. */
  final case class TxnEnvelope(txId: Int, nEvents: Long, ops: Seq[String], commitLsn: Long)

  // private[graft], not private: object-private nested classes compile to
  // non-public bytecode and the janino-generated state serializer falls
  // back to interpreted mode (same fix as RelationalQueries.HwFit).
  private[graft] final case class TxnBuf(events: List[(String, Long)])

  /** Txn-atomic delivery (SURVEY.md §7.3): buffer events per tx_id, emit
    * the whole transaction when its Commit marker arrives (requires the
    * source's txn.markers option). ProcessingTimeTimeout evicts orphaned
    * transactions (a crash between B and C on the producer side). */
  def assembleTransactions(envelope: DataFrame): Dataset[TxnEnvelope] = {
    import envelope.sparkSession.implicits._
    envelope
      .select(col("tx_id"), col("op"), col("lsn"))
      .as[(Int, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TxnBuf, TxnEnvelope](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (txId, rows, state: GroupState[TxnBuf]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var buf = state.getOption.getOrElse(TxnBuf(Nil))
            var commit: Option[Long] = None
            rows.foreach { case (_, op, lsn) =>
              op match {
                case "C" => commit = Some(lsn)
                case "B" => ()
                case _ => buf = TxnBuf((op, lsn) :: buf.events)
              }
            }
            commit match {
              case Some(clsn) =>
                state.remove()
                val evs = buf.events.reverse
                Iterator.single(TxnEnvelope(txId, evs.size, evs.map(_._1), clsn))
              case None =>
                state.update(buf)
                state.setTimeoutDuration("5 minutes")
                Iterator.empty
            }
          }
      }
  }
}
