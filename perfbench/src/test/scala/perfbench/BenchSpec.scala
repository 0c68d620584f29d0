package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def smallLog(seed: Long) = {
    val m = new Corpus.Model(new java.util.SplittableRandom(seed))
    val txns = Corpus.bulkInserts(m, 2, 50) ++
      Corpus.transactions(m, 400, 4, Mix(insert = 0.3, update = 0.5, toastShare = 0.4))
    (txns, Corpus.encode(txns))
  }

  /** Decodes the frames and applies them one by one, without the
    * generator's model. */
  private def foldFrames(log: FrameLog): Map[Long, Vector[String]] = {
    val st = mutable.HashMap.empty[Long, Vector[String]]
    def values(t: TupleData, old: Option[Vector[String]]) =
      t.columns.zipWithIndex.map { case (c, i) =>
        if (c.isUnchangedToast) old.get(i) else c.data.orNull
      }
    log.frames.foreach { case (_, p) =>
      PgOutputDecoder.decode(p) match {
        case i: Insert => st(values(i.newTuple, None)(0).toLong) = values(i.newTuple, None)
        case u: Update =>
          val id = u.newTuple.columns(0).data.get.toLong
          st(id) = values(u.newTuple, st.get(id))
        case d: Delete => st.remove(d.oldTuple.columns(0).data.get.toLong)
        case _ => ()
      }
    }
    st.toMap
  }

  test("the generator's expected state equals a fold over the decoded frames") {
    val (txns, log) = smallLog(7)
    val expected = Corpus.fold(txns.iterator).map { case (k, v) => k -> v.toVector }
    assert(txns.exists(_.changes.exists(_.noteUnchanged)))
    assert(txns.exists(_.changes.exists(_.op == 'D')))
    assert(expected.nonEmpty)
    assert(foldFrames(log) == expected)
  }

  test("one seed gives byte-identical logs, another seed a different one") {
    assert(smallLog(7)._2.sha256 == smallLog(7)._2.sha256)
    assert(smallLog(7)._2.sha256 != smallLog(8)._2.sha256)
  }

  test("the conduit never releases a frame before its due time") {
    val (_, log) = smallLog(7)
    var now = 0L
    val due = Array.tabulate(log.frames.length)(i => if (i == 0) -1L else i * 10L)
    val c = new ScheduledConduit(log, due, () => now)
    c.start(0L)
    assert(c.read().map(_._1).contains(log.frames(0)._1)) // due at once
    assert(c.read().isEmpty) // no epoch yet
    c.epoch = 1000L
    var released = 1
    for (t <- 1000L to 1000L + 10L * log.frames.length by 7) {
      now = t
      var f = c.read()
      while (f.nonEmpty) {
        assert(c.epoch + due(released) <= now, s"frame $released released early")
        released += 1
        f = c.read()
      }
      assert(released == log.frames.length || c.epoch + due(released) > now)
    }
    assert(released == log.frames.length)
  }

  test("the conduit holds back frames due after the cutoff") {
    val (_, log) = smallLog(7)
    val c = new ScheduledConduit(log, Array.tabulate(log.frames.length)(_.toLong), () => 1000L)
    c.start(0L)
    c.epoch = 0L
    c.cutoff = 99L
    assert(Iterator.continually(c.read()).takeWhile(_.nonEmpty).size == 100)
  }

  test("a tail percentile needs at least ten samples beyond it") {
    assert(Stats.tail((1 to 91).map(_.toDouble), 0.9).isEmpty) // p90 = 82: 9 beyond
    assert(Stats.tail((1 to 101).map(_.toDouble), 0.9).contains(91.0)) // 10 beyond
    assert(Stats.tail(Seq.fill(200)(1.0), 0.5).isEmpty) // nothing strictly beyond
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the digest does not depend on row order or partitioning") {
    import spark.implicits._
    val rows = (1 to 500).map(i => (i.toLong, s"v$i", i * 0.1, Map("k" -> i)))
    val a = rows.toDF("id", "s", "d", "m").repartition(1)
    val b = rows.reverse.toDF("id", "s", "d", "m").repartition(5)
    assert(Digest.of(a) == Digest.of(b))
    val c = rows.updated(3, (4L, "changed", 0.4, Map("k" -> 4))).toDF("id", "s", "d", "m")
    assert(Digest.of(a) != Digest.of(c))
    assert(Digest.of(a.union(a)).rows == 1000)
  }
}
