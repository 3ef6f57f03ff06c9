package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB oracle compare and
  * failed_keys.txt naming every key that threw (empty when all pass). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.build()
    new java.io.File(outDir).mkdirs()
    // dev aid: SPARK_GRAFT_VERIFY_ONLY=q_a,q_b dumps a subset (the
    // driver never sets it — full dump by default)
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").toSet)
    val failed = SparkEntry.queries.keys.toSeq
      .filter(name => only.forall(_.contains(name)))
      .filter { name =>
        try {
          SparkEntry.queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          false
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          true
        }
      }
    Files.writeString(Paths.get(s"$outDir/failed_keys.txt"), failed.sorted.map(_ + "\n").mkString)
    writeOracleSql(s"$outDir/oracle_sql.json")
    spark.stop()
  }

  /** Writes `SparkEntry.oracleSql` as one JSON object. Escapes
    * backslash, quote, and ALL control chars (<0x20) — a tab or CR in
    * hand-written SQL would otherwise make a JSON reader's load fail
    * and silently zero the correctness check. */
  def writeOracleSql(path: String): Unit = {
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
    Files.writeString(Paths.get(path), json)
  }
}
