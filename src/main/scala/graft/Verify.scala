package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.engine(Sessions.cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (and the oracle manifest)
    // to named queries — local iteration on one operator without paying for
    // the whole surface. The driver never sets it, so its gate stays full.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // -0.0 → +0.0 on every float/double output: value-identical (IEEE
      // -0.0 + 0.0 = +0.0) but hash-identical to DuckDB's round(), which
      // never emits the negative sign bit. See functions.NumOps.
      try graft.functions.NumOps.normalizeSignedZeros(fn(spark, sfDir))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleManifest(only))
    spark.stop()
  }

  /** The oracle map as a JSON object — the exact artifact the driver's
    * DuckDB gate (and tools/negzero_audit.py) consumes. JSON string
    * escape covers backslash, quote, and ALL control chars (<0x20) — a
    * tab or CR in builder-authored SQL would otherwise make the driver's
    * json.load fail and silently zero the round's correctness.
    */
  def oracleManifest(only: Option[Set[String]] = None): String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
