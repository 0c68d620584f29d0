package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession setup of the command-line mains: `local[cpus]`,
  * one shuffle partition per core, UTC, the graft optimizer extensions and
  * no UI. Adaptive query execution is on by Spark's default. */
object Harness {
  def session(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
