package graft.streaming

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.sources.FrameLog

/** Property test: online-dedup decisions equal a sequential first-wins
  * interpretation of the arrival order — under random duplicate mixes,
  * random micro-batch cut points, and random at-least-once batch replays.
  * The partitioning of the stream into batches must never change a
  * decision (the cross-batch state join and the in-batch window must agree
  * wherever the batch boundary falls). */
class OnlineDedupPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("decisions are invariant to micro-batch partitioning and replay") {
    val rel = Relation(9, "public", "docs", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Int8, -1),
      RelationColumn(partOfKey = false, "body", TypedView.Oid.Text, -1)))
    def t(v: String) = ColumnData('t', Some(v))
    val rnd = new Random(42)
    for (trial <- 1 to 4) {
      val dir = Files.createTempDirectory(s"dedupprop$trial")
      val stateDir = dir.resolve("state").toString
      val n = 30 + rnd.nextInt(20)
      val pool = Vector.tabulate(8)(i => s"text body $i")
      val docs = (1 to n).map(i => (i.toLong, pool(rnd.nextInt(pool.size))))
      // sequential reference: first id to carry a text keeps it
      val firstSeen = scala.collection.mutable.Map.empty[String, Long]
      val expected = docs.map { case (id, text) =>
        val k = firstSeen.getOrElseUpdate(text, id)
        (id, k == id, k)
      }.sortBy(_._1)
      val frames = docs.map { case (id, text) =>
        FrameLog.Entry(10 + id, PgOutputEncoder.encode(
          Insert(9, TupleData(Vector(t(id.toString), t(text))))))
      }
      var rest = frames
      var bi = 0
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(rest.size)
        val (batchFrames, r2) = rest.splitAt(take); rest = r2
        val p = dir.resolve(s"log$bi.bin").toString
        FrameLog.write(p,
          Iterator(FrameLog.Entry(0, PgOutputEncoder.encode(rel))) ++ batchFrames.iterator)
        val b = spark.read.format("pgcdc")
          .option("path", p).load()
        Streams.mergeDedupBatch(b, rel, "body", stateDir, 4)
        if (rnd.nextInt(3) == 0) // at-least-once: occasional full batch replay
          Streams.mergeDedupBatch(b, rel, "body", stateDir, 4)
        bi += 1
      }
      val got = Streams.onlineDedupDecisions(spark, stateDir)
        .collect().map(r => (r.getString(0).toLong, r.getBoolean(2), r.getString(3).toLong))
        .sortBy(_._1).toSeq
      assert(got === expected, s"trial $trial (n=$n, batches=$bi)")
    }
  }
}
