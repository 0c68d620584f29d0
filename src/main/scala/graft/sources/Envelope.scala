package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.decode.ChangeEvent

/** The one envelope row shape (SURVEY.md §1.1), for batch and stream
  * alike: the `pgcdc` source emits it, and batch decode
  * (`CdcPipeline.decodeFrames`) renames its [[ChangeEvent]] Dataset into
  * it with [[frame]]. Dynamic table shapes ride in string→string image
  * maps; typed views are derived downstream from the schema registry. */
object Envelope {

  val schema: StructType = StructType(Seq(
    StructField("op", StringType, nullable = false),
    StructField("message_id", StringType, nullable = false),
    StructField("lsn", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("tx_id", IntegerType, nullable = false),
    StructField("begin_lsn", LongType, nullable = false),
    StructField("commit_ts_us", LongType, nullable = false),
    StructField("namespace", StringType, nullable = true),
    StructField("table", StringType, nullable = true),
    StructField("relation_id", IntegerType, nullable = false),
    StructField("key", MapType(StringType, StringType, valueContainsNull = true), nullable = true),
    StructField("before", MapType(StringType, StringType, valueContainsNull = true), nullable = true),
    StructField("after", MapType(StringType, StringType, valueContainsNull = true), nullable = true),
    StructField("before_toasted", ArrayType(StringType), nullable = true),
    StructField("after_toasted", ArrayType(StringType), nullable = true),
    StructField("origin", StringType, nullable = true)))

  /** `ChangeEvent` objects as envelope rows: [[ChangeEvent]]'s fields
    * follow [[schema]]'s order, so one positional rename. */
  def frame(ds: Dataset[ChangeEvent]): DataFrame = ds.toDF(schema.fieldNames: _*)

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def mapData(m: Map[String, String]): ArrayBasedMapData =
    if (m == null) null
    else {
      val (ks, vs) = m.toSeq.unzip
      new ArrayBasedMapData(
        new GenericArrayData(ks.map(utf8).toArray[Any]),
        new GenericArrayData(vs.map(utf8).toArray[Any]))
    }

  private def arrData(a: Seq[String]): GenericArrayData =
    if (a == null) null else new GenericArrayData(a.map(utf8).toArray[Any])

  def toInternalRow(ev: ChangeEvent): InternalRow =
    new GenericInternalRow(Array[Any](
      utf8(ev.op), utf8(ev.messageId), ev.lsn, ev.seq, ev.txId, ev.beginLsn, ev.commitTsUs,
      utf8(ev.namespace), utf8(ev.table), ev.relationId,
      mapData(ev.key), mapData(ev.before), mapData(ev.after),
      arrData(ev.beforeToasted), arrData(ev.afterToasted), utf8(ev.origin)))
}
