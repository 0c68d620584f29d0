package graft.cdc

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.decode._
import graft.sources.Envelope

/** Property test: the distributed compaction equals a sequential in-memory
  * interpretation of the same event sequence — under random DML mixes,
  * random partition placement, and same-LSN seq tie-breaks. */
class CdcPropertySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder().master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Sequential reference semantics: apply events in (lsn, seq) order; a
    * Truncate clears every row. */
  private def interpret[K](events: Seq[ChangeEvent],
      keyOf: ChangeEvent => K): Map[K, Map[String, String]] = {
    val state = scala.collection.mutable.Map.empty[K, Map[String, String]]
    events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
      e.op match {
        case "I" | "U" =>
          val key = keyOf(e)
          val prev = state.get(key)
          val base = e.after
          val repaired =
            if (e.afterToasted.nonEmpty && prev.isDefined)
              base ++ prev.get.view.filterKeys(e.afterToasted.contains).toMap
            else base
          state(key) = repaired
        case "D" => state.remove(keyOf(e))
        case "T" => state.clear()
      }
    }
    state.toMap
  }

  private def interpret(events: Seq[ChangeEvent]): Map[String, Map[String, String]] =
    interpret(events, _.key("id"))

  private def randomEvents(rnd: Random, n: Int, keySpace: Int): Seq[ChangeEvent] = {
    var seq = 0L
    (1 to n).map { i =>
      seq += 1
      val key = (rnd.nextInt(keySpace) + 1).toString
      val lsn = i.toLong * (1 + rnd.nextInt(2)) // occasional same-lsn collisions
      val op = rnd.nextInt(10) match {
        case 0 | 1 => "D"
        case 2 | 3 | 4 => "U"
        case _ => "I"
      }
      val toasted = op == "U" && rnd.nextBoolean()
      val after =
        if (op == "D") null
        else if (toasted) Map("id" -> key)
        else Map("id" -> key, "v" -> s"v$i", "w" -> rnd.nextInt(100).toString)
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
        Map("id" -> key), null, after, Nil, if (toasted) Seq("v", "w") else Nil)
    }
  }

  /** Mixes over a two-column key (a, b) whose values may be null, with
    * Truncates: single ones, and pairs at one lsn whose later seq is the
    * mark (the insert between them is truncated too), one pair at least. */
  private def randomCompositeEvents(rnd: Random, n: Int): Seq[ChangeEvent] = {
    var seq = 0L
    def ev(op: String, lsn: Long, key: Map[String, String], after: Map[String, String],
        toasted: Seq[String] = Nil): ChangeEvent = {
      seq += 1
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
        key, null, after, Nil, toasted)
    }
    val as = Vector("1", "2", "3", null)
    val bs = Vector("x", "y", null)
    (1 to n).flatMap { i =>
      val lsn = i.toLong * (1 + rnd.nextInt(2))
      val key = Map("a" -> as(rnd.nextInt(as.size)), "b" -> bs(rnd.nextInt(bs.size)))
      val r = rnd.nextInt(150)
      if (r == 0) Seq(ev("T", lsn, Map.empty, null))
      else if (r == 1 || i == n / 2) Seq(ev("T", lsn, Map.empty, null),
        ev("I", lsn, key, key + ("v" -> s"v$i")), ev("T", lsn, Map.empty, null))
      else {
        val op = r % 10 match {
          case 0 | 1 => "D"
          case 2 | 3 | 4 => "U"
          case _ => "I"
        }
        val toasted = op == "U" && rnd.nextBoolean()
        val after =
          if (op == "D") null
          else if (toasted) key
          else key ++ Map("v" -> s"v$i", "w" -> rnd.nextInt(100).toString)
        Seq(ev(op, lsn, key, after, if (toasted) Seq("v", "w") else Nil))
      }
    }
  }

  test("compactFillingToast equals sequential interpretation over 5 random mixes") {
    import spark.implicits._
    // the interpreter's repaired map may carry nulls for toasted columns
    // with no prior value; compaction omits what it cannot repair
    def norm[K](m: Map[K, Map[String, String]]) =
      m.map { case (k, row) => k -> row.filter(_._2 != null) }
    def check[K](events: Seq[ChangeEvent], keys: Seq[String],
        keyOf: Map[String, String] => K, rnd: Random, clue: String): Unit = {
      val expected = interpret(events, (e: ChangeEvent) => keyOf(e.key))
      val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(7))
      val rows = Cdc.compactFillingToast(df, keys).collect().toSeq.map { r =>
        val m = r.getMap[String, String](r.fieldIndex("after")).toMap
        keyOf(m) -> m
      }
      assert(rows.length === rows.map(_._1).distinct.length, s"$clue: one row per key")
      assert(norm(rows.toMap) === norm(expected), clue)
    }
    try Seq(1, 3, 8).foreach { partitions =>
      spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
      (1 to 5).foreach { trial =>
        val rnd = new Random(42 + trial)
        check(randomEvents(rnd, n = 400, keySpace = 40), Seq("id"),
          (m: Map[String, String]) => m("id"), rnd, s"trial $trial, $partitions partitions")
        check(randomCompositeEvents(rnd, n = 400), Seq("a", "b"),
          (m: Map[String, String]) => (m.getOrElse("a", null), m.getOrElse("b", null)),
          rnd, s"composite trial $trial, $partitions partitions")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  /** Stateful generator with REAL images: I only for absent keys, U/D only
    * for present keys with `before` = the actual prior row image (what
    * REPLICA IDENTITY FULL puts on the wire); occasional T clears state. */
  private def randomFullImageEvents(
      rnd: Random, n: Int, keySpace: Int): Seq[ChangeEvent] = {
    val state = scala.collection.mutable.Map.empty[String, Map[String, String]]
    var seq = 0L
    (1 to n).flatMap { i =>
      seq += 1
      val lsn = i.toLong
      if (rnd.nextInt(80) == 0) {
        state.clear()
        Some(ChangeEvent("T", s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
          Map.empty, null, null, Nil, Nil))
      } else {
        val key = (rnd.nextInt(keySpace) + 1).toString
        val g = s"g${rnd.nextInt(4)}"
        val v = rnd.nextInt(1000).toString
        val after = Map("id" -> key, "g" -> g, "v" -> v)
        state.get(key) match {
          case None =>
            state(key) = after
            Some(ChangeEvent("I", s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
              Map("id" -> key), null, after, Nil, Nil))
          case Some(prev) if rnd.nextInt(4) == 0 =>
            state.remove(key)
            Some(ChangeEvent("D", s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
              Map("id" -> key), prev, null, Nil, Nil))
          case Some(prev) =>
            state(key) = after
            Some(ChangeEvent("U", s"$lsn-$seq", lsn, seq, 1, lsn, 0L, "public", "t", 1,
              Map("id" -> key), prev, after, Nil, Nil))
        }
      }
    }
  }

  test("incremental aggregate equals aggregating the compacted state over random DML+truncate mixes") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new Random(100 + trial)
      val events = randomFullImageEvents(rnd, n = 500, keySpace = 30)
      // sequential reference: fold row states, then aggregate
      val finalState = scala.collection.mutable.Map.empty[String, Map[String, String]]
      events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
        e.op match {
          case "I" | "U" => finalState(e.key("id")) = e.after
          case "D" => finalState.remove(e.key("id"))
          case "T" => finalState.clear()
        }
      }
      val expected = finalState.values.groupBy(_("g")).map { case (g, rows) =>
        (g, BigDecimal(rows.map(r => BigInt(r("v"))).sum).setScale(6).toString, rows.size.toLong)
      }.toSeq.sortBy(_._1)
      val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(7))
      val incr = Cdc.incrementalAggregate(df, "g", "v")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSeq
      assert(incr === expected, s"trial $trial: incremental vs sequential reference")
      // and the from-scratch path: aggregate over the compacted table state
      val scratch = Cdc.compactFillingToast(df, Seq("id"))
        .select(org.apache.spark.sql.functions.element_at(
            org.apache.spark.sql.functions.col("after"), "g").as("g"),
          org.apache.spark.sql.functions.element_at(
            org.apache.spark.sql.functions.col("after"), "v")
            .cast(org.apache.spark.sql.types.DecimalType(28, 6)).as("v"))
        .groupBy("g")
        .agg(org.apache.spark.sql.functions.sum("v").as("v"),
          org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("c"))
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString, r.getLong(2))).toSeq
      assert(incr === scratch, s"trial $trial: incremental vs from-scratch aggregate")
    }
  }

  test("incremental stats equals moment sums of the compacted state over random DML+truncate mixes") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new Random(300 + trial)
      val events = randomFullImageEvents(rnd, n = 500, keySpace = 30)
      val finalState = scala.collection.mutable.Map.empty[String, Map[String, String]]
      events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
        e.op match {
          case "I" | "U" => finalState(e.key("id")) = e.after
          case "D" => finalState.remove(e.key("id"))
          case "T" => finalState.clear()
        }
      }
      // reference: exact integer moment sums in the scaled (cents) domain
      val expected = finalState.values.groupBy(_("g")).map { case (g, rows) =>
        val xs = rows.map(r => BigInt(r("v")) * 100)
        (g, xs.sum.toString, xs.map(x => x * x).sum.toString, rows.size.toLong)
      }.toSeq.sortBy(_._1)
      val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(7))
      val got = Cdc.incrementalStats(df, "g", "v")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
      assert(got === expected, s"trial $trial: incremental stats vs sequential reference")
    }
  }

  test("multi-column incremental aggregate: several SUMs ride one shuffle and match per-column math") {
    import spark.implicits._
    val rnd = new Random(55)
    // reuse the full-image generator, with a second value column derived
    // deterministically from v so the reference fold can recompute it
    val base = randomFullImageEvents(rnd, n = 400, keySpace = 25)
    def widen(m: Map[String, String]): Map[String, String] =
      if (m == null) null else m + ("w" -> (m("v").toLong * 2 + 1).toString)
    val events = base.map(e => e.copy(
      before = widen(e.before), after = widen(e.after)))
    val finalState = scala.collection.mutable.Map.empty[String, Map[String, String]]
    events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
      e.op match {
        case "I" | "U" => finalState(e.key("id")) = e.after
        case "D" => finalState.remove(e.key("id"))
        case "T" => finalState.clear()
      }
    }
    val expected = finalState.values.groupBy(_("g")).map { case (g, rows) =>
      (g,
        BigDecimal(rows.map(r => BigInt(r("v"))).sum).setScale(6).toString,
        BigDecimal(rows.map(r => BigInt(r("w"))).sum).setScale(6).toString,
        rows.size.toLong)
    }.toSeq.sortBy(_._1)
    val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(6))
    val got = Cdc.incrementalAggregate(df, "g", Seq("v", "w"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
        r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("incremental MIN/MAX equals extremes of the compacted state over random DML+truncate mixes") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new Random(200 + trial)
      val events = randomFullImageEvents(rnd, n = 500, keySpace = 30)
      val finalState = scala.collection.mutable.Map.empty[String, Map[String, String]]
      events.sortBy(e => (e.lsn, e.seq)).foreach { e =>
        e.op match {
          case "I" | "U" => finalState(e.key("id")) = e.after
          case "D" => finalState.remove(e.key("id"))
          case "T" => finalState.clear()
        }
      }
      val expected = finalState.values.groupBy(_("g")).map { case (g, rows) =>
        val vs = rows.map(r => BigDecimal(r("v")).setScale(6))
        (g, vs.min.toString, vs.max.toString, rows.size.toLong)
      }.toSeq.sortBy(_._1)
      val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(7))
      val got = Cdc.incrementalMinMax(df, "g", "v")
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
      assert(got === expected, s"trial $trial")
    }
  }

  test("bounded MIN/MAX state across random micro-batch splits matches the reference (k=2 forces rescans)") {
    import spark.implicits._
    (1 to 3).foreach { trial =>
      val rnd = new Random(300 + trial)
      val events = randomFullImageEvents(rnd, n = 400, keySpace = 25)
        .sortBy(e => (e.lsn, e.seq))
      // random batch boundaries (ordered delivery, like micro-batches)
      val batches = {
        val cuts = (Seq(0, events.size) ++
          Seq.fill(4)(rnd.nextInt(events.size))).distinct.sorted
        cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
          .filter(_.nonEmpty)
      }
      val stateDir = java.nio.file.Files.createTempDirectory(s"mmprop$trial")
        .resolve("state").toString
      // reference fold; at each batch boundary it provides the exact table
      // rows the rescan path would read from the co-located materialization
      val ref = scala.collection.mutable.Map.empty[String, Map[String, String]]
      batches.foreach { b =>
        b.foreach { e =>
          e.op match {
            case "I" | "U" => ref(e.key("id")) = e.after
            case "D" => ref.remove(e.key("id"))
            case "T" => ref.clear()
          }
        }
        val tableNow = ref.values.map(r => (r("g"), r("v"))).toSeq
        val env = Envelope.frame(spark.createDataset(b))
        graft.streaming.Streams.mergeMinMaxBatch(env,
          Relation(1, "public", "t", 'f', Vector(
            RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1))),
          "g", "v", stateDir, k = 2,
          rescanSource = Some(() => tableNow.toDF("g", "v")))
      }
      val got = graft.streaming.Streams.minMaxAggState(spark, stateDir)
        .orderBy("g").collect()
        .map(r => (r.getString(0), r.getDecimal(1).toPlainString,
          r.getDecimal(2).toPlainString, r.getLong(3))).toSeq
      val expected = ref.values.groupBy(_("g")).map { case (g, rows) =>
        val vs = rows.map(r => BigDecimal(r("v")).setScale(6))
        (g, vs.min.toString, vs.max.toString, rows.size.toLong)
      }.toSeq.sortBy(_._1)
      assert(got === expected, s"trial $trial")
    }
  }

  test("top-k net-count state across random micro-batch splits + replays matches the reference") {
    import spark.implicits._
    (1 to 3).foreach { trial =>
      val rnd = new Random(400 + trial)
      val events = randomFullImageEvents(rnd, n = 400, keySpace = 25)
        .sortBy(e => (e.lsn, e.seq))
      val batches = {
        val cuts = (Seq(0, events.size) ++
          Seq.fill(4)(rnd.nextInt(events.size))).distinct.sorted
        cuts.zip(cuts.tail).map { case (a, b) => events.slice(a, b) }
          .filter(_.nonEmpty)
      }
      val stateDir = java.nio.file.Files.createTempDirectory(s"topkprop$trial")
        .resolve("state").toString
      val rel = Relation(1, "public", "t", 'f', Vector(
        RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1)))
      batches.foreach { b =>
        val env = Envelope.frame(spark.createDataset(b))
        graft.streaming.Streams.mergeTopKBatch(env, rel, "g", "v", stateDir, None)
        // at-least-once: random batches re-deliver; the high-water makes
        // the replay a no-op
        if (rnd.nextBoolean())
          graft.streaming.Streams.mergeTopKBatch(env, rel, "g", "v", stateDir, None)
      }
      val ref = scala.collection.mutable.Map.empty[String, Map[String, String]]
      events.foreach { e =>
        e.op match {
          case "I" | "U" => ref(e.key("id")) = e.after
          case "D" => ref.remove(e.key("id"))
          case "T" => ref.clear()
        }
      }
      val expected = ref.values.groupBy(_("g")).toSeq.flatMap { case (g, rows) =>
        rows.groupBy(r => BigDecimal(r("v")).setScale(6))
          .view.mapValues(_.size.toLong).toSeq
          .sortBy(-_._1).take(3).zipWithIndex
          .map { case ((v, n), i) => (g, v.underlying.toPlainString, n, i + 1) }
      }.sortBy(x => (x._1, x._4))
      val got = graft.streaming.Streams
        .topKFromState(spark, stateDir, 3)
        .orderBy("g", "rk").collect()
        .map(r => (r.getString(r.fieldIndex("g")),
          r.getDecimal(r.fieldIndex("v")).toPlainString,
          r.getLong(r.fieldIndex("net")), r.getInt(r.fieldIndex("rk")))).toSeq
      assert(got === expected, s"trial $trial")
    }
  }

  /** Random multi-origin mix: three sites (local + two remotes), heavy
    * commit-ts collisions so every tiebreak level gets exercised. */
  private def randomLwwEvents(rnd: Random, n: Int, keySpace: Int): Seq[ChangeEvent] = {
    var seq = 0L
    (1 to n).map { i =>
      seq += 1
      val key = (rnd.nextInt(keySpace) + 1).toString
      val origin = rnd.nextInt(3) match {
        case 0 => null
        case 1 => "site_b"
        case 2 => "site_c"
      }
      val lsn = i.toLong
      val ts = rnd.nextInt(50).toLong // dense → many exact-ts conflicts
      val op =
        if (rnd.nextInt(5) == 0) "D" else if (rnd.nextBoolean()) "U" else "I"
      val after = if (op == "D") null else Map("id" -> key, "v" -> s"v$i")
      ChangeEvent(op, s"$lsn-$seq", lsn, seq, 1, lsn, ts, "public", "t", 1,
        Map("id" -> key), null, after, Nil, Nil, origin)
    }
  }

  /** Sequential LWW reference: apply in (commit_ts, local-first, lsn, seq)
    * order; the last applied event per key is the winner. */
  private def lwwInterpret(events: Seq[ChangeEvent]): Map[String, String] = {
    val state = scala.collection.mutable.Map.empty[String, String]
    events.sortBy(e =>
        (e.commitTsUs, if (e.origin == null) 1 else 0, e.lsn, e.seq))
      .foreach { e =>
        e.op match {
          case "D" => state.remove(e.key("id"))
          case _ => state(e.key("id")) = e.after("v")
        }
      }
    state.toMap
  }

  test("lwwCompact equals sequential commit-ts interpretation over random multi-origin mixes") {
    import spark.implicits._
    (1 to 5).foreach { trial =>
      val rnd = new Random(500 + trial)
      val events = randomLwwEvents(rnd, n = 400, keySpace = 30)
      val expected = lwwInterpret(events)
      val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(7))
      val got = Cdc.lwwCompact(df, Seq("id")).collect().map { r =>
        val m = r.getMap[String, String](r.fieldIndex("after"))
        m("id") -> m("v")
      }.toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("LWW state merge across random micro-batch splits equals the one-shot compaction") {
    import spark.implicits._
    val rel = Relation(1, "public", "t", 'd', Vector(
      RelationColumn(partOfKey = true, "id", TypedView.Oid.Text, -1),
      RelationColumn(partOfKey = false, "v", TypedView.Oid.Text, -1)))
    (1 to 3).foreach { trial =>
      val rnd = new Random(600 + trial)
      val events = randomLwwEvents(rnd, n = 300, keySpace = 20)
      val expected = lwwInterpret(events)
      // arbitrary batch boundaries over arbitrary arrival order: LWW is a
      // per-key max (a semilattice), so any split must converge to the
      // same winners the one-shot compaction picks
      val shuffled = rnd.shuffle(events)
      val cuts = (Seq(0, shuffled.size) ++
        Seq.fill(3)(rnd.nextInt(shuffled.size))).distinct.sorted
      val batches = cuts.zip(cuts.tail)
        .map { case (a, b) => shuffled.slice(a, b) }.filter(_.nonEmpty)
      val stateDir = java.nio.file.Files.createTempDirectory(s"lwwprop$trial")
        .resolve("state").toString
      batches.foreach { b =>
        val env = Envelope.frame(spark.createDataset(b))
        graft.streaming.Streams.mergeLwwBatch(env, rel, Seq("id"), stateDir)
      }
      val got = graft.streaming.Streams.lwwState(spark, rel, stateDir)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("plain compact agrees on which keys survive (ignoring TOAST repair)") {
    import spark.implicits._
    val rnd = new Random(7)
    val events = randomEvents(rnd, n = 300, keySpace = 25)
    val expectedKeys = interpret(events).keySet
    val df = Envelope.frame(spark.createDataset(rnd.shuffle(events)).repartition(5))
    val gotKeys = Cdc.compact(df, Seq("id")).collect()
      .map(r => r.getMap[String, String](r.fieldIndex("key"))("id")).toSet
    assert(gotKeys === expectedKeys)
  }
}
