package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Contract-surface type lint: the driver's checker loads each result
  * into pandas, sorts rows across ALL columns, then hashes — so every
  * contract column must be a scalar type pandas can lexsort and DuckDB
  * reproduces bit-for-bit. Two rounds were lost to this exact class
  * (DECIMAL in r9-10, array<int> in r11): the VALUES were right, the
  * REPRESENTATION crashed or drifted the gate. This lint fails locally
  * (ContractLintSpec) and at Verify time, before the driver ever sees a
  * non-sortable column.
  */
object ContractLint {
  import org.apache.spark.sql.types._

  /** Column-level violations: anything not in the driver-stable scalar
    * set. DECIMAL is banned even though pandas sorts it (the r9 lesson:
    * DuckDB's decimal width/scale inference drifts the hash); arrays,
    * maps and structs crash the checker's lexsort outright; binary is
    * banned because parquet->pandas yields bytes objects whose repr (and
    * so the driver's string hash) is not cross-engine stable.
    */
  def violations(schema: StructType): Seq[String] =
    schema.fields.toSeq.collect {
      case f if !isDriverStable(f.dataType) =>
        s"${f.name}: ${f.dataType.catalogString}"
    }

  private def isDriverStable(dt: DataType): Boolean = dt match {
    // TimestampNTZ is in the stable set by evidence: q07 has carried it
    // driver-green since round 1 (parquet TIMESTAMP without tz)
    case StringType | BooleanType | ByteType | ShortType | IntegerType |
         LongType | FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }
}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dev-only fast path
    // to re-verify a handful of queries (driver passes 2 args), matched by
    // SparkEntry.queryFilter
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean =
      if (args.length > 2) SparkEntry.queryFilter(args(2)) else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "2000"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (only(name))
        try {
          // Drop any stale dump for this query up front: if the compute or
          // the lint below throws, the driver must see a MISSING result
          // (red row), never a surviving parquet from an earlier run.
          org.apache.commons.io.FileUtils.deleteQuietly(
            new java.io.File(s"$outDir/$name"))
          val df = fn(spark, sfDir)
          val bad = ContractLint.violations(df.schema)
          if (bad.nonEmpty)
            // refuse to dump: a loud local/driver err beats the checker
            // crashing three queries deep in a pandas lexsort
            throw new IllegalStateException(
              s"contract-type lint: non-driver-stable columns [${bad.mkString("; ")}]")
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
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
    SparkEntry.cleanupScratch(spark, sfDir)
    spark.stop()
  }
}
