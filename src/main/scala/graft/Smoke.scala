package graft

/** Tiny smoke main mirroring the driver's t1 check: run the flagship
  * `SparkEntry.entry` and assert it returns rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"SMOKE rows=$n cols=${df.columns.mkString(",")}")
    assert(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
