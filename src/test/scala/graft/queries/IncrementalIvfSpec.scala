package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FrameLog
import graft.streaming.Streams

/** Streaming IVF index maintenance: the embedding CDC stream, enriched with
  * a computed `cell` column (narrow literal-centroid argmin — the same
  * model-state splice pattern as the incremental JOIN-aggregate), drives
  * the UNCHANGED incremental aggregate sink; the resulting per-cell
  * occupancy must equal the batch wire-path histogram. No new sink
  * machinery: index maintenance composes from assignment + aggDeltas. */
class IncrementalIvfSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sfDir = "/root/testdata/sf0.001"

  test("streaming IVF occupancy via the spliced-cell agg sink equals the batch histogram") {
    val dir = Files.createTempDirectory("ivfstream")
    val p = dir.resolve("log.bin").toString
    val frames = graft.cdc.CdcPipeline.embeddingsToFrames(spark, sfDir)
      .collect().sortBy(_._1).iterator.map { case (l, b) => FrameLog.Entry(l, b) }
    FrameLog.write(p, frames)
    val cents = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq))
      .toSeq.sortBy(_._1)
    def parsed(img: String) = expr(
      s"""transform(split(substring(element_at($img, 'embedding'), 2,
            length(element_at($img, 'embedding')) - 2), ','),
          x -> cast(x as double))""")
    def addCell(df: DataFrame, img: String, cellName: String) = df
      .withColumn("embedding", parsed(img))
      .withColumn(cellName, when(col(img).isNotNull,
        SimilarityQueries.nearest(cents).getField("cid").cast("string")))
      .drop("embedding")
    def spliced(img: String, cellName: String) = when(col(img).isNotNull,
      map_concat(col(img),
        map(lit("cell"), col(cellName), lit("one"), lit("1")))).otherwise(col(img))
    val env0 = Streams.envelopeStream(spark, p, maxFramesPerTrigger = Some(100))
    val env = addCell(addCell(env0, "after", "cellA"), "before", "cellB")
      .withColumn("after", spliced("after", "cellA"))
      .withColumn("before", spliced("before", "cellB"))
      .drop("cellA", "cellB")
    val q = Streams.incrementalAggSink(env, graft.cdc.CdcPipeline.embeddingsRelation,
      "cell", Seq("one"), dir.resolve("state").toString, dir.resolve("ckpt").toString)
    q.processAllAvailable(); q.stop()
    val got = Streams.incrementalAggState(spark, dir.resolve("state").toString)
      .select(col("g").cast("long"), col("c")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val expected = graft.SparkEntry.queries("cdc_incremental_ivf")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(got.nonEmpty)
    assert(got === expected)
  }
}
