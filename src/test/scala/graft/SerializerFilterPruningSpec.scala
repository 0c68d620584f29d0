package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.SerializeFromObject
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._

/** A wide object crossing the serializer boundary (top-level: encoders
  * need a stable class). */
case class WideObj(a: Long, b: String, c: Map[String, String], d: Seq[String])

/** Pins [[SerializerFilterPruning]]: a Filter parked between the consuming
  * Project and SerializeFromObject (the shape predicate pushdown produces
  * on every decoded-envelope pipeline) must not force serialization of
  * fields nothing reads. */
class SerializerFilterPruningSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // getOrCreate may return another suite's session (one JVM, shared
    // SparkContext) where the extensions config never applied — inject the
    // rule on whatever session we got (idempotent beside the extension:
    // a second pass finds nothing left to prune).
    if (!s.experimental.extraOptimizations.contains(SerializerFilterPruning))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ SerializerFilterPruning
    s
  }

  private def wideDs = {
    import spark.implicits._
    spark.createDataset(Seq(
      WideObj(1L, "x", Map("k" -> "v"), Seq("t")),
      WideObj(-1L, "y", Map("k" -> "w"), Seq("u"))))
      .mapPartitions(identity) // object boundary: forces SerializeFromObject
  }

  test("filter-blocked serializer prunes to the referenced fields") {
    val df = wideDs.toDF().filter(col("a") > 0).select(col("b"))
    val ser = df.queryExecution.optimizedPlan.collect {
      case s: SerializeFromObject => s
    }
    assert(ser.nonEmpty, "expected an object serializer in the plan")
    // only a (filter) and b (project) survive; the map and array fields
    // (the expensive per-event work) are gone
    assert(ser.head.serializer.map(_.name).toSet === Set("a", "b"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("x"))
  }

  test("pruning preserves results against the unfiltered baseline") {
    val df = wideDs.toDF().filter(col("a") > 0)
      .select(col("b"), element_at(col("c"), "k").as("v"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("x", "v")))
  }

  test("two branches over one decode subtree prune to the same union") {
    // the real pattern: a query references the same decoded Dataset from
    // two branches (compaction + truncate high-water). Per-site pruning
    // would make the copies differ and break runtime subtree reuse; the
    // rule must prune both to the union of their needs.
    val ds = wideDs
    val b1 = ds.toDF().filter(col("a") > 0).select(col("b"))
    val b2 = ds.toDF().filter(col("a") > 0)
      .select(element_at(col("c"), "k").as("b"))
    val sers = b1.union(b2).queryExecution.optimizedPlan.collect {
      case s: SerializeFromObject => s.serializer.map(_.name).toSet
    }
    assert(sers.size === 2)
    assert(sers.toSet === Set(Set("a", "b", "c")),
      "both branches must keep the union {a,b,c} so the subtrees stay identical")
  }

  test("a serializer whose fields are all referenced is left untouched") {
    val df = wideDs.toDF().filter(col("a") > 0)
      .select(col("a"), col("b"), col("c"), col("d"))
    val ser = df.queryExecution.optimizedPlan.collect {
      case s: SerializeFromObject => s
    }
    assert(ser.head.serializer.size === 4)
    assert(df.count() === 1L)
  }

  test("the real decode path prunes its serializer to the filtered and read fields") {
    import spark.implicits._
    val row = TupleData(Vector(ColumnData('t', Some("1"))))
    val frames = Seq(0L -> Relation(5, "public", "t", 'd', Vector(
        RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1))),
      10L -> Begin(13, 0, 1), 11L -> Insert(5, row), 12L -> Update(5, None, None, row),
      13L -> Commit(0, 13, 13, 0))
      .map { case (lsn, m) => (lsn, PgOutputEncoder.encode(m)) }.toDS().coalesce(1)
    val df = graft.cdc.CdcPipeline.decodeFrames(frames)
      .filter(col("op") === "U").select(col("lsn"), col("after"))
    val ser = df.queryExecution.optimizedPlan.collect {
      case s: SerializeFromObject => s.serializer.map(_.name).toSet
    }
    assert(ser === Seq(Set("op", "lsn", "after")))
    assert(df.collect().map(_.getLong(0)).toSeq === Seq(12L))
  }
}
