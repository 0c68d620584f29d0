package graft.cdc

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapBuilder, ArrayData, MapData}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The fold of [[Cdc.compactFillingToast]] as a logical node. Its child is
  * one sorted partition per key hash: every 'T' row first, then each key's
  * events in (lsn, seq) order. It reads `input` = (op, lsn, seq, k, after,
  * toasted) of that child and writes `output` = (lsn, seq, after), one row
  * per key whose row survives. [[FoldRunsStrategy]] plans it into
  * [[FoldRunsExec]]. */
final case class FoldRuns(input: Seq[Attribute], output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): FoldRuns =
    copy(child = newChild)
}

object FoldRuns {
  private val columns = Seq("op", "lsn", "seq", "k", "after", "toasted")

  /** `sorted` folded by [[FoldRunsExec]]; the session learns to plan the
    * node if it was built without `graft.GraftExtensions`. */
  def over(sorted: DataFrame): DataFrame = {
    val spark = sorted.sparkSession
    PlanBridge.ensureStrategy(spark, FoldRunsStrategy)
    val child = sorted.queryExecution.analyzed
    val input = columns.map(c => child.output.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(s"FoldRuns needs column $c")))
    val output = Seq(AttributeReference("lsn", LongType, nullable = false)(),
      AttributeReference("seq", LongType, nullable = false)(),
      AttributeReference("after", input(4).dataType)())
    PlanBridge.ofRows(spark, FoldRuns(input, output, child))
  }
}

/** Plans [[FoldRuns]] (`GraftExtensions` registers it). */
object FoldRunsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FoldRuns(input, output, child) => FoldRunsExec(input, output, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Folds the sorted `InternalRow`s of each partition in one pass, with no
  * object round trip. Events at or before the latest 'T' are dropped: the
  * truncated rows no longer exist, so their images must not survive — nor
  * fill TOAST columns of later events (a post-truncate INSERT is a fresh
  * row; Postgres can't send 'u' referring to it). Per event:
  *   D:             the row is cleared (a later re-insert starts fresh);
  *   TOAST update:  the row's entries for the toasted columns, then `after`
  *                  (`map_concat(map_filter(row, …), after)` order);
  *   anything else: `after`.
  * A key whose row is set when its run ends yields (last lsn, seq, row).
  * Memory is one key's row, whatever the partition size. */
final case class FoldRunsExec(input: Seq[Attribute], output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numTruncated" -> SQLMetrics.createMetric(sparkContext, "events at or below the truncate mark"),
    "numToastFills" -> SQLMetrics.createMetric(sparkContext, "TOAST fills"))

  override def producedAttributes: AttributeSet = AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val ords = input.map(a => child.output.indexWhere(_.exprId == a.exprId)).toArray
    val types = output.map(_.dataType).toArray
    val (rows, truncated, fills) =
      (longMetric("numOutputRows"), longMetric("numTruncated"), longMetric("numToastFills"))
    child.execute().mapPartitions { in =>
      new FoldRunsExec.Fold(in, ords, UnsafeProjection.create(types), rows, truncated, fills)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FoldRunsExec =
    copy(child = newChild)
}

object FoldRunsExec {
  private val T = UTF8String.fromString("T")
  private val D = UTF8String.fromString("D")

  /** The fold over one partition. Each input row is fully read before the
    * next is pulled (the sorter reuses its row object); the run's key and
    * row are copies. */
  private final class Fold(in: Iterator[InternalRow], ords: Array[Int], proj: UnsafeProjection,
      rows: SQLMetric, truncated: SQLMetric, fills: SQLMetric) extends Iterator[InternalRow] {
    private val Array(opO, lsnO, seqO, kO, afterO, toastedO) = ords
    private var markLsn, markSeq = Long.MinValue
    private var runKey: ArrayData = null
    private var rowLsn, rowSeq = 0L
    private var row: MapData = null
    private var pending: InternalRow = null
    private var ended = false
    private val out = new GenericInternalRow(3)

    override def hasNext: Boolean = {
      if (pending == null && !ended) advance()
      pending != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }

    private def advance(): Unit = {
      while (pending == null && in.hasNext) {
        val e = in.next()
        val op = e.getUTF8String(opO)
        val l = e.getLong(lsnO)
        val s = e.getLong(seqO)
        if (op == T) {
          if (l > markLsn || l == markLsn && s > markSeq) { markLsn = l; markSeq = s }
        } else {
          val k = e.getArray(kO)
          if (runKey == null || !sameKey(runKey, k)) { pending = emit(); runKey = k.copy() }
          if (l < markLsn || l == markLsn && s <= markSeq) truncated += 1
          else if (op == D || e.isNullAt(afterO)) row = null
          else {
            val img = e.getMap(afterO)
            row =
              if (row != null && !e.isNullAt(toastedO) && e.getArray(toastedO).numElements() > 0) {
                fills += 1
                filled(row, img, e.getArray(toastedO))
              } else img.copy()
            rowLsn = l; rowSeq = s
          }
        }
      }
      if (pending == null) { ended = true; pending = emit() }
    }

    /** The finished run's output row, or null when its row is unset. */
    private def emit(): InternalRow =
      if (row == null) null
      else {
        out.setLong(0, rowLsn); out.setLong(1, rowSeq); out.update(2, row)
        row = null
        rows += 1
        proj(out)
      }

    private def sameKey(a: ArrayData, b: ArrayData): Boolean = {
      val n = a.numElements()
      var i = 0
      var same = n == b.numElements()
      while (same && i < n) {
        val nul = a.isNullAt(i)
        same = nul == b.isNullAt(i) && (nul || a.getUTF8String(i) == b.getUTF8String(i))
        i += 1
      }
      same
    }

    /** The row's entries for the toasted columns, in the row's order, then
      * the image's; a key in both fails as `map_from_arrays` would. */
    private def filled(row: MapData, img: MapData, toasted: ArrayData): MapData = {
      val b = new ArrayBasedMapBuilder(StringType, StringType)
      val (rk, rv) = (row.keyArray(), row.valueArray())
      for (i <- 0 until row.numElements()) {
        val key = rk.getUTF8String(i)
        if ((0 until toasted.numElements()).exists(j =>
            !toasted.isNullAt(j) && toasted.getUTF8String(j) == key))
          b.put(key, if (rv.isNullAt(i)) null else rv.getUTF8String(i))
      }
      // the image points into the input row: its strings are copied
      val (ik, iv) = (img.keyArray(), img.valueArray())
      for (i <- 0 until img.numElements())
        b.put(ik.getUTF8String(i).clone(), if (iv.isNullAt(i)) null else iv.getUTF8String(i).clone())
      b.build()
    }
  }
}
