package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // a narrowed run leaves a marker file so its partial artifacts can
    // never be mistaken for a full-suite dump (round-4 ADVICE)
    sys.env.get("SPARK_GRAFT_ONLY").foreach { f =>
      System.err.println(
        s"[verify] WARNING: SPARK_GRAFT_ONLY='$f' is narrowing this run " +
        s"to ${SparkEntry.selectedRegistry.size} of ${SparkEntry.registry.size} queries")
      Files.writeString(Paths.get(s"$outDir/_filtered.txt"), f)
    }
    // the dump files keep INT96 timestamps, which DuckDB reads as naive
    // TIMESTAMP like the oracle's; the session's TIMESTAMP_MICROS
    // (UTC-adjusted) would read back as TIMESTAMPTZ and render with an
    // offset. Only the dump write switches (on the result's own
    // session — streaming keys hand back a cloned one): every engine
    // write inside a query keeps the session's writer config.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    SparkEntry.selectedRegistry.foreach { case (name, q) =>
      val fn = q.impl
      try {
        val df = fn(spark, sfDir)
        val conf = df.sparkSession.conf
        val engineTs = conf.get(tsKey)
        conf.set(tsKey, "INT96")
        try df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally conf.set(tsKey, engineTs)
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
