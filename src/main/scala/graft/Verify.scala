package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .withExtensions(new graft.sqlext.LakeSqlExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter: SPARK_GRAFT_VERIFY_ONLY=q1,q2 runs a subset
    // (the driver never sets it, so the gate always runs everything)
    val gates = selectGates(sys.env.get("SPARK_GRAFT_VERIFY_ONLY"))
    val queries = SparkEntry.queries
    gates.foreach { name =>
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok (${(System.nanoTime() - t0) / 1e9}%.1fs)")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(gates))
    spark.stop()
  }

  /** The gates one run covers, sorted by name: every registry gate, or
    * only the names in the comma-separated `only` list. The run loop and
    * oracle_sql.json both read this one selection, so a filtered run's
    * oracle file names exactly the gates it ran. */
  private[graft] def selectGates(only: Option[String]): Seq[String] = {
    val keep = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries.keys.toSeq.sorted.filter(n => keep.forall(_.contains(n)))
  }

  /** `{"gate": "oracle sql", ...}` for the selected gates that have an
    * oracle. */
  private[graft] def oracleJson(gates: Seq[String]): String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in an oracle's SQL would otherwise make json.load
    // of the whole file fail, and with it every gate's compare.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracle = SparkEntry.oracleSql
    gates.flatMap(g => oracle.get(g).map(sql => s"${q(g)}: ${q(sql)}"))
      .mkString("{", ",", "}")
  }
}
