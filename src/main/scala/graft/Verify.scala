package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.start()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (the driver never sets this): comma-separated
    // query names to dump; oracle_sql.json is filtered to match so
    // verify_local.py compares exactly the subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def keep(name: String) = only.forall(_.contains(name))
    // a query that throws is recorded, not skipped: failures.json names
    // it with its message and the run exits 1
    val failures = SparkEntry.queries.filter(kv => keep(kv._1)).flatMap {
      case (name, fn) =>
        try {
          // repartition(1), not coalesce(1): coalesce collapses the WHOLE
          // query to one task; repartition keeps the query parallel and
          // serializes only the final dump through the single writer
          fn(spark, sfDir).repartition(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          System.err.println(s"[verify] $name dumped")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name -> String.valueOf(e.getMessage))
        }
    }
    def jsonObj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
        .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      jsonObj(SparkEntry.oracleSql.filter(kv => keep(kv._1))))
    Files.writeString(Paths.get(s"$outDir/failures.json"), jsonObj(failures))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed: " +
        failures.map(_._1).toSeq.sorted.mkString(", "))
      sys.exit(1)
    }
  }

  /** JSON string literal: backslash, quote, and ALL control chars (<0x20)
    * escaped — a tab or CR in an oracle SQL text or an error message would
    * otherwise make the reader's json.load fail. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
