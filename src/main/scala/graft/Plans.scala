package graft

import java.nio.file.{Files, Paths}

/** Optimization-round measurement aid: dumps `explain("formatted")` for
  * every (selected) registry query to <outDir>/<name>_<suffix>.txt so
  * plan-shape claims (Exchange count, join strategy, PushedFilters)
  * are auditable without running Spark. Usage:
  *   runMain graft.Plans <sfDir> <outDir> <suffix>
  * Respects SPARK_GRAFT_ONLY / SPARK_GRAFT_CPUS like Verify/Bench. */
object Plans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.selectedRegistry.foreach { case (name, q) =>
      try {
        val df = q.impl(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        System.err.println(s"[plans] $name ok")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
