package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg (dev loop only; the driver passes 2): comma-separated
    // query names — dump just those instead of the full surface.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Refuse DecimalType in dumped output: the driver's gate hashes
        // the Spark parquet through pandas (python Decimal objects) but
        // the DuckDB oracle side through float64, so a decimal column
        // hash-mismatches even when every value is identical (bit us on
        // cdc_numeric_typed in r3). Queries must cast decimals to
        // double/string in their final projection — failing loudly here
        // keeps the dev loop from re-tripping the driver-only path.
        def hasDecimal(dt: org.apache.spark.sql.types.DataType): Boolean = {
          import org.apache.spark.sql.types._
          dt match {
            case _: DecimalType => true
            case s: StructType => s.fields.exists(f => hasDecimal(f.dataType))
            case a: ArrayType => hasDecimal(a.elementType)
            case m: MapType => hasDecimal(m.keyType) || hasDecimal(m.valueType)
            case _ => false
          }
        }
        val decCols = df.schema.fields.collect {
          case f if hasDecimal(f.dataType) => f.name
        }
        require(decCols.isEmpty,
          s"query output has DecimalType column(s) ${decCols.mkString(",")} — " +
          "cast to double/string in the final projection (gate hashes decimals as " +
          "python objects on the Spark side but float64 on the oracle side)")
        // Write TIMESTAMP columns as NTZ: under the UTC session this is the
        // same wall-clock instant, and DuckDB then reads them as naive
        // timestamps — directly comparable with the oracle's naive values
        // (LTZ parquet would surface as TIMESTAMPTZ on the DuckDB side).
        val ntz = df.schema.fields.foldLeft(df) { (acc, f) =>
          if (f.dataType == org.apache.spark.sql.types.TimestampType)
            acc.withColumn(f.name,
              acc(f.name).cast(org.apache.spark.sql.types.TimestampNTZType))
          else acc
        }
        ntz.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
