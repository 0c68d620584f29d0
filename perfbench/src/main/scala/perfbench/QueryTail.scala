package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Deterministic synthetic tables with the schemas and value domains of the
  * repository's test tables, at about a tenth of the sf0.1 row counts.
  * Every value is a hash of (table seed, row id, column), so the tables do
  * not depend on partitioning or on the workload seed. */
object QueryTables {
  val Seed = 42L
  val Rows: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
    "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L, "lineitem" -> 60000L,
    "events" -> 10000L, "documents" -> 500L, "embeddings" -> 500L)

  private def h(salt: String, id: Column = col("id")): Column =
    abs(xxhash64(lit(Seed), id, lit(salt)))
  private def pick(salt: String, n: Int, id: Column = col("id")): Column = pmod(h(salt, id), lit(n))
  private def oneOf(salt: String, xs: Seq[String], id: Column = col("id")): Column =
    element_at(array(xs.map(lit): _*), (pick(salt, xs.size, id) + 1).cast(IntegerType))
  private def money(salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + pick(salt, ((hi - lo) * 100).toInt) / 100.0, 2)
  private def day(base: String, days: Column): Column =
    to_timestamp(date_add(lit(base).cast(DateType), days.cast(IntegerType)))

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")

  private def orderDate(orderKey: Column): Column = day("1995-01-01", pick("odate", 2404, orderKey))

  def tables(spark: SparkSession): Map[String, DataFrame] = {
    def r(name: String) = spark.range(0, Rows(name), 1, 1)
    Map(
      "region" -> r("region").select(col("id").cast(IntegerType).as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast(IntegerType)).as("r_name")),
      "nation" -> r("nation").select(col("id").cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        pmod(col("id"), lit(5)).cast(IntegerType).as("n_regionkey")),
      "customer" -> r("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick("cnat", 25).cast(IntegerType).as("c_nationkey"),
        money("cbal", -999.99, 9999.99).as("c_acctbal"),
        oneOf("cseg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
          .as("c_mktsegment")),
      "supplier" -> r("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick("snat", 25).cast(IntegerType).as("s_nationkey"),
        money("sbal", -999.99, 9999.99).as("s_acctbal")),
      "part" -> r("part").select(col("id").as("p_partkey"),
        concat_ws(" ",
          oneOf("padj", Seq("blue", "cold", "hot", "large", "red", "shiny", "small", "tiny")),
          oneOf("pnoun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")))
          .as("p_name"),
        concat(lit("Brand#"), pick("pbrand", 25) + 1).as("p_brand"),
        oneOf("ptype", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
        (pick("psize", 50) + 1).cast(IntegerType).as("p_size"),
        round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 2).as("p_retailprice")),
      "orders" -> r("orders").select(col("id").as("o_orderkey"),
        pick("ocust", 1500).as("o_custkey"),
        oneOf("ostat", Seq("F", "O", "P")).as("o_orderstatus"),
        money("oprice", 1000.0, 499999.0).as("o_totalprice"),
        orderDate(col("id")).as("o_orderdate"),
        oneOf("oprio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
          .as("o_orderpriority")),
      "lineitem" -> {
        val qty = (pick("lqty", 50) + 1).cast(DoubleType)
        r("lineitem").select((col("id") / 4).cast(LongType).as("l_orderkey"),
          pick("lpart", 2000).as("l_partkey"), pick("lsupp", 100).as("l_suppkey"),
          (pmod(col("id"), lit(4)) + 1).cast(IntegerType).as("l_linenumber"),
          qty.as("l_quantity"),
          round(qty * (lit(900.0) + pick("lprice", 1200) + pick("lcent", 100) / 100.0), 2)
            .as("l_extendedprice"),
          (pick("ldisc", 11) / 100.0).as("l_discount"),
          (pick("ltax", 9) / 100.0).as("l_tax"),
          oneOf("lflag", Seq("A", "N", "R")).as("l_returnflag"),
          oneOf("lstat", Seq("F", "O")).as("l_linestatus"),
          day("1995-01-01", pick("odate", 2404, (col("id") / 4).cast(LongType)) + 1 +
            pick("lship", 120)).as("l_shipdate"))
      },
      "events" -> r("events").select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + col("id") * 259200000L +
          pick("ets", 259200000)).as("ts"),
        pick("euser", 150).as("user_id"),
        oneOf("etype", Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
        money("evalue", 0.01, 490.02).as("value"),
        format_string("{\"k\": %d}", pick("eprops", 100)).as("props")),
      "documents" -> {
        val words = transform(sequence(lit(1), (pick("dlen", 82) + 8).cast(IntegerType)),
          i => element_at(array(Vocab.map(lit): _*),
            (pmod(xxhash64(lit(Seed), col("id"), i), lit(Vocab.size)) + 1).cast(IntegerType)))
        r("documents").select(col("id").as("doc_id"), array_join(words, " ").as("text"),
          oneOf("dlang", Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
          concat(lit("src"), pick("dsrc", 20)).as("source"))
          .withColumn("n_chars", length(col("text")).cast(LongType))
      },
      "embeddings" -> {
        val label = pick("elabel", 10)
        val vec = transform(sequence(lit(1), lit(64)), i =>
          ((pmod(xxhash64(lit(Seed), label, i), lit(2001)) - 1000) / 8000.0 +
            (pmod(xxhash64(lit(Seed), col("id"), i), lit(2001)) - 1000) / 12000.0)
            .cast(FloatType))
        r("embeddings").select(col("id").as("vec_id"), vec.as("embedding"),
          label.cast(IntegerType).as("label"))
      })
  }

  /** Writes the named tables (default: all) as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, only: Set[String] = Rows.keySet): Unit =
    tables(spark).filter(t => only(t._1)).foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}

/** `query_tail`: a fixed named set of non-CDC queries from
  * `SparkEntry.queries` over the synthetic tables. Each result is digested
  * and compared with the digest stored in `query_digests.txt`. The seed
  * orders the queries within each pass. */
final class QueryTail(ctx: Ctx, names: Seq[String] = QueryTail.Names) extends Workload {
  private lazy val tableDir = ctx.dir("tables")
  private var order: Seq[String] = _
  private val passS = mutable.ArrayBuffer.empty[Double]
  private val queryMs = mutable.ArrayBuffer.empty[Double]
  /** Seconds per query family, one entry per timed pass. */
  private val familyS = mutable.ArrayBuffer.empty[Map[String, Double]]

  def generate(): String = {
    order = new scala.util.Random(ctx.seed).shuffle(names)
    order.mkString(",")
  }

  override def prepare(): Unit = QueryTables.write(ctx.spark, tableDir, QueryTail.Tables)

  private def family(n: String): String = n.takeWhile(_ != '_') match {
    case q if q.startsWith("q") => "rel"
    case f => f
  }

  /** One pass over the query set; returns seconds per query. */
  private def pass(): Seq[(String, Double)] = order.map { n =>
    val t = System.nanoTime()
    val d = ctx.tracer.span("query", "queries") {
      try Digest.of(SparkEntry.queries(n)(ctx.spark, tableDir)).toString
      catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    }
    val s = (System.nanoTime() - t) / 1e9
    ctx.attempted += 1
    QueryTail.Expected.get(n) match {
      case Some(want) if want == d => ()
      case want => ctx.fail(1, s"query $n digest $d, expected ${want.getOrElse("none stored")}")
    }
    n -> s
  }

  /** The first pass compiles every plan; pass times then keep falling by
    * about a quarter until the sixth pass or so while the JIT compiles the
    * planner. */
  val WarmupPasses = 6

  def warmup(): Unit = (1 to WarmupPasses).foreach(_ => pass())

  def measure(deadline: Long): Unit =
    do {
      val t = System.nanoTime()
      val qs = pass()
      passS += (System.nanoTime() - t) / 1e9
      queryMs ++= qs.map(_._2 * 1e3)
      familyS += qs.groupMapReduce(q => family(q._1))(_._2)(_ + _)
    } while (System.nanoTime() < deadline)

  def throughput: Double = names.size / Stats.median(passS.toSeq)
  def latencyP50Ms: Double = Stats.median(queryMs.toSeq)

  override def summary: Seq[(String, Any)] = Seq(
    "queries" -> names.size, "pass_s" -> passS.map(x => f"$x%.3f").mkString("/"),
    "tail_pass_s" -> f"${Stats.median(passS.toSeq)}%.3f",
    "tail_query_samples" -> queryMs.size,
    "tail_query_p90_ms" -> Stats.tail(queryMs.toSeq, 0.9)
      .fold("n/a (fewer than 10 samples beyond)")(v => f"$v%.1f"))

  override def layerMetrics(t: TraceReport): Map[String, Double] =
    Seq("rel", "text", "dedup", "sim", "mm").map { f =>
      s"tail.${f}_s" -> Stats.median(familyS.toSeq.map(_.getOrElse(f, 0.0)))
    }.toMap
}

object QueryTail {
  /** Query name → digest of its result on the synthetic tables, one
    * `name digest` pair per line; `#` starts a comment. The set of names
    * is the set of queries the workload runs. */
  lazy val Expected: Map[String, String] = {
    val in = getClass.getResourceAsStream("/perfbench/query_digests.txt")
    require(in != null, "query_digests.txt is missing from the classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, d) = l.split("\\s+", 2); n -> d }.toMap
    finally in.close()
  }
  lazy val Names: Seq[String] = Expected.keys.toSeq.sorted
  /** The tables the named queries read. */
  val Tables = Set("events", "orders", "documents", "embeddings")

  /** Prints `name digest` for each named query, twice in fresh passes; a
    * query whose two digests differ or that fails is reported as unstable.
    * Used to (re)build query_digests.txt. */
  def main(args: Array[String]): Unit = {
    val base = args(0)
    val names = args.drop(1).toSeq
    val spark = Main.session(math.min(4, Runtime.getRuntime.availableProcessors()), base)
    val ctx = new Ctx(spark, 1L, 0, base, Tracer.Off)
    val dir = ctx.dir("tables")
    QueryTables.write(spark, dir)
    def run(n: String) =
      try Digest.of(SparkEntry.queries(n)(spark, dir)).toString
      catch { case e: Exception => s"error: ${e.getClass.getSimpleName}: ${e.getMessage}" }
    def timedRun(n: String) = {
      val t = System.nanoTime()
      val d = run(n)
      println(f"$n%-28s ${(System.nanoTime() - t) / 1e6}%8.1f ms")
      n -> d
    }
    val first = names.map(timedRun).toMap
    val second = names.map(timedRun).toMap
    val lines = names.map { n =>
      if (first(n).startsWith("error")) s"# $n left out: ${first(n).take(200)}"
      else if (first(n) != second(n)) s"# $n left out: digest differs between runs (${first(n)} vs ${second(n)})"
      else s"$n ${first(n)}"
    }
    Files.writeString(Paths.get(base, "query_digests.txt"), lines.mkString("\n") + "\n")
    lines.foreach(println)
    spark.stop()
  }
}
