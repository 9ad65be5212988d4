package graft.acid

import java.nio.file.Files

/** Incremental-materialized-view refresh cost curve — the quantitative
  * artifact behind the O(delta) claim (the way WriterBench numbers the
  * commit protocol and the recall row numbers the ANN keys): refresh
  * wall-time must track the CHURN between refreshes, not the table.
  *
  * For each table size in `sizes`: load N rows in bulk, create a
  * COUNT/SUM view by a 16-ary group key, refresh (the initial fold —
  * reported separately, it IS O(table)), then apply a FIXED-size churn
  * (`churn` row-level updates through one MERGE) and time the second
  * refresh. If refresh were O(table), the timed number would scale
  * ~10x across a 10x size step; O(delta) keeps it flat.
  *
  * `runMain graft.acid.MvBench` prints one JSON line with the median
  * of SPARK_GRAFT_WRITER_RUNS (default 3) rounds per size. */
object MvBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val n = sys.env.getOrElse("SPARK_GRAFT_WRITER_RUNS", "3").toInt
    val spark = graft.Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._

    val sizes = Seq(20000L, 200000L)
    val churn = 1000L

    def round(rows: Long): (Double, Double) = {
      val dir = Files.createTempDirectory("graft_mvbench_").toUri.toString
      val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
      val t = inst.begin()
      // CONSTANT file size across table sizes (like any deployment
      // with a target file size): the churn then touches the same
      // file volume at every scale — the delta the O(churn) claim is
      // about. Scaling the file size WITH the table would instead
      // measure the CoW copy-back growing, a layout artifact.
      t.insert(spark.range(rows).select(col("id").as("obj_id"),
        (col("id") % 1000L).as("value"))
        .repartitionByRange((rows / 2500L).toInt, col("obj_id")))
      inst.commit(t)
      val viewDir = Files.createTempDirectory("graft_mvview_").toUri.toString
      val mv = MaterializedAggView.create(spark, viewDir, inst,
        groupCols = Seq("value"), sumCols = Seq("value"))
      val t0 = System.nanoTime()
      mv.refresh() // initial fold: O(table) by design
      val initial = (System.nanoTime() - t0) / 1e9
      // fixed churn regardless of table size: one MERGE over `churn`
      // existing keys (CoW rewrite of the covering files)
      inst.withRetry() { tx =>
        tx.merge(spark.range(churn).select(col("id").as("obj_id"),
          lit(7L).as("value")),
          matchedUpdate = Map("value" ->
            org.apache.spark.sql.functions.col("s.value")),
          insertUnmatched = false)
      }
      val t1 = System.nanoTime()
      mv.refresh() // the measured number: must be O(churn)
      val incr = (System.nanoTime() - t1) / 1e9
      (initial, incr)
    }

    // third artifact row (round 10): initial fold on a CHURNED
    // history — `commits` CoW merge commits of `churn` rows each on
    // top of the bulk load, THEN create + first refresh. The
    // telescoped initial fold reads the head snapshot only, so this
    // must track the one-commit initial number; the pre-telescoping
    // fold (weightedDelta(0, head)) re-read every commit's pre-images
    // and scaled ~commits x.
    def churnedInitial(rows: Long, commits: Int): Double = {
      val dir = Files.createTempDirectory("graft_mvbench_c_").toUri.toString
      val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
      val t = inst.begin()
      t.insert(spark.range(rows).select(col("id").as("obj_id"),
        (col("id") % 1000L).as("value"))
        .repartitionByRange((rows / 2500L).toInt, col("obj_id")))
      inst.commit(t)
      (1 to commits).foreach { i =>
        inst.withRetry() { tx =>
          tx.merge(spark.range(churn).select(col("id").as("obj_id"),
            lit(i.toLong % 1000L).as("value")),
            matchedUpdate = Map("value" ->
              org.apache.spark.sql.functions.col("s.value")),
            insertUnmatched = false)
        }
      }
      val viewDir = Files.createTempDirectory("graft_mvview_c_").toUri.toString
      val mv = MaterializedAggView.create(spark, viewDir, inst,
        groupCols = Seq("value"), sumCols = Seq("value"))
      val t0 = System.nanoTime()
      mv.refresh() // measured: must match the one-commit initial fold
      (System.nanoTime() - t0) / 1e9
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    round(sizes.head) // warmup
    val out = sizes.map { rows =>
      val rs = (1 to n).map(_ => round(rows))
      rows -> (median(rs.map(_._1)), median(rs.map(_._2)))
    }
    val churnedCommits = 50
    val churnedInit = median(
      (1 to n).map(_ => churnedInitial(sizes.head, churnedCommits)))
    val body = out.map { case (rows, (init, incr)) =>
      f""""rows_$rows":{"initial_s":$init%.2f,"incremental_s":$incr%.2f}"""
    }.mkString(",")
    val ratio = out.last._2._2 / math.max(1e-9, out.head._2._2)
    // ratio of the churned-history initial to the clean one-commit
    // initial at the same table size: ~1 = telescoped, ~commits x = O(churn)
    val churnedRatio = churnedInit / math.max(1e-9, out.head._2._1)
    println(f"""{"churn_rows":$churn,"runs":$n,$body,""" +
      f""""initial_churned${churnedCommits}_s":$churnedInit%.2f,""" +
      f""""initial_churned_ratio":$churnedRatio%.2f,""" +
      f""""incremental_ratio_10x":$ratio%.2f}""")
    spark.stop()
  }
}
