package graft.acid

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** `Txn.merge` of a small source over small candidate files runs on the
  * driver: after its probe, one read of the source and no hit-file,
  * rewrite or insert job. Every scenario here runs on both paths — the
  * job path forced by a 1-byte `spark.sql.files.openCostInBytes`, as in
  * PointOpsSpec — and must give the same table. */
class MergeSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_merge_").toUri.toString

  /** One commit per batch: one data file per batch. */
  private def mk(batches: Seq[Seq[(Long, Long)]]): Instance = {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    batches.foreach { b =>
      val t = inst.begin(); t.insert(b.toDF("obj_id", "value")); inst.commit(t)
    }
    inst
  }

  private def batches: Seq[Seq[(Long, Long)]] =
    (0 until 4).map(i => (1L to 5L).map(j => (i * 100L + j, i * 100L + j)))

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(col("obj_id").asc_nulls_first).collect().map(_.toString).toSeq

  /** Descriptions of the Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        descs.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(l)
    try {
      val r = body
      GraftTestBus.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, descs.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  private val JobTail =
    Set("graft:merge-hit-files", "graft:merge-rewrite", "graft:merge-insert")

  /** Runs `body` with the point-read gate at 1 byte: every merge takes
    * its job path. */
  private def jobPath[T](body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `scenario` on the driver path and on the job path: equal results. */
  private def bothPaths[T](scenario: () => T): T = {
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    driver
  }

  /** The exception chain's messages. */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(x => Option(x.getMessage)).toSeq

  private def src(rows: (java.lang.Long, java.lang.Long, java.lang.Boolean)*): DataFrame =
    rows.toDF("obj_id", "value", "flag")

  test("a small merge runs only its source-pass jobs plus at most one") {
    def run(): Seq[String] = {
      val inst = mk(batches)
      val t = inst.begin()
      val ((), descs) = jobsDuring(t.merge(src((1L, 5L, true), (102L, -1L, true),
          (900L, 9L, null)),
        matchedDelete = Some(col("s.value") < 0),
        matchedUpdate = Map("value" -> (col("t.value") + col("s.value")))))
      inst.commit(t)
      // deleteMatching is a merge: its jobs carry the merge labels, and
      // on the driver path its key-only source is not read again
      val d = inst.begin()
      val ((), delDescs) = jobsDuring(d.deleteMatching(Seq(3L, 3L, 103L, 999L)
        .toDF("obj_id")))
      inst.commit(d)
      descs ++ delDescs
    }
    val driver = run()
    assert(driver.nonEmpty && driver.forall(Set(
      "graft:merge-probe+source-fold", "graft:merge-local")))
    assert(driver.count(_ == "graft:merge-local") <= 1)
    // the job path runs its hit-file, rewrite and insert jobs
    val job = jobPath(run())
    assert(JobTail.forall(job.contains) && !job.contains("graft:merge-local"))
  }

  test("matched delete, conditional and unconditional update, NULL conditions") {
    val out = bothPaths { () =>
      val inst = mk(batches)
      val t1 = inst.begin()
      t1.merge(src((1L, 10L, true), (2L, 20L, false), (3L, 30L, null),
          (4L, -1L, true), (900L, 9L, true)),
        matchedDelete = Some(col("s.value") < 0),
        matchedUpdate = Map("value" -> (col("t.value") + col("s.value"))),
        matchedUpdateCond = Some(col("s.flag")))
      inst.commit(t1)
      // a NULL delete condition deletes nothing; unconditional update
      val t2 = inst.begin()
      t2.merge(src((101L, 1L, null), (102L, 2L, true)),
        matchedDelete = Some(col("s.flag") && col("s.value") > 1),
        matchedUpdate = Map("value" -> col("s.value") * 1000))
      inst.commit(t2)
      rows(inst.read())
    }
    assert(out.contains("[1,11]") && out.contains("[2,2]") && out.contains("[3,3]"))
    assert(!out.exists(_.startsWith("[4,")) && out.contains("[900,9]"))
    assert(out.contains("[101,1000]") && !out.exists(_.startsWith("[102,")))
    assert(out.size == 19)
  }

  test("insertUnmatched on and off; a merge that changes nothing publishes nothing") {
    val out = bothPaths { () =>
      val inst = mk(batches)
      val t1 = inst.begin()
      t1.merge(src((1L, 7L, null), (800L, 8L, null)),
        matchedUpdate = Map("value" -> col("s.value")), insertUnmatched = false)
      inst.commit(t1)
      val t2 = inst.begin()
      t2.merge(src((2L, 7L, null), (801L, 8L, null)))
      inst.commit(t2)
      // every key matches and no clause applies: no file, no version
      val v = inst.latestVersion
      val t3 = inst.begin()
      t3.merge(src((1L, 0L, null), (2L, 0L, null)))
      assert(inst.commit(t3) == v && inst.latestVersion == v)
      // the update leaves every value as it was: a rewrite, same rows
      val t4 = inst.begin()
      t4.merge(src((3L, 0L, null)), matchedUpdate = Map("value" -> col("t.value")))
      inst.commit(t4)
      (rows(inst.read()), inst.latestVersion - v)
    }
    val (all, bumped) = out
    assert(all.contains("[1,7]") && !all.exists(_.startsWith("[800,")))
    assert(all.contains("[2,2]") && all.contains("[801,8]") && all.contains("[3,3]"))
    assert(all.size == 21 && bumped == 1L)
  }

  test("duplicate source keys are rejected alike; a null source id takes the job path") {
    val dupMsg = bothPaths { () =>
      val inst = mk(batches)
      val t = inst.begin()
      val e = intercept[IllegalArgumentException](
        t.merge(src((1L, 1L, null), (1L, 2L, null))))
      inst.rollback(t)
      e.getMessage
    }
    assert(dupMsg.contains("merge source has duplicate obj_id 1"))
    val nullRun = bothPaths { () =>
      val inst = mk(batches)
      val t = inst.begin()
      val ((), descs) = jobsDuring(t.merge(src((null, 5L, null), (1L, 6L, null)),
        matchedUpdate = Map("value" -> col("s.value"))))
      inst.commit(t)
      (rows(inst.read()), JobTail.subsetOf(descs.toSet))
    }
    assert(nullRun._2, "a source holding a null id takes the job path")
    assert(nullRun._1.head == "[null,5]" && nullRun._1.contains("[1,6]"))
  }

  test("masked rows, renamed and evolved columns, CHECK constraints") {
    val out = bothPaths { () =>
      val inst = mk(batches)
      val d = inst.begin(); d.deleteMoR(Seq(1L, 2L)); inst.commit(d)
      val r = inst.begin(); r.renameColumn("value", "amount"); inst.commit(r)
      val e = inst.begin(); e.evolveSchema()
      e.insert(Seq((500L, 5L, 7L)).toDF("obj_id", "amount", "extra"))
      inst.commit(e)
      val c = inst.begin(); c.addConstraint("a_pos", "amount > 0"); inst.commit(c)
      // a masked id is not matched: its source row is inserted; 3 is
      // updated in a masked file; 500's evolved column is kept
      val t = inst.begin()
      t.merge(Seq[(Long, Long, Option[Long])]((1L, 100L, None), (3L, 300L, Some(1L)),
          (500L, 50L, None), (600L, 60L, Some(6L))).toDF("obj_id", "amount", "extra"),
        matchedUpdate = Map("amount" -> (col("t.amount") + col("s.amount")),
          "extra" -> coalesce(col("s.extra"), col("t.extra"))))
      inst.commit(t)
      def refused(src: DataFrame, upd: Map[String, Column]): Boolean = {
        val b = inst.begin()
        try { b.merge(src, matchedUpdate = upd); false }
        catch { case x: Exception => messages(x).exists(_.contains("a_pos")) }
        finally inst.rollback(b)
      }
      val byUpdate = refused(Seq((4L, 0L, 0L)).toDF("obj_id", "amount", "extra"),
        Map("amount" -> -col("t.amount")))
      val byInsert = refused(Seq((700L, -7L, 0L)).toDF("obj_id", "amount", "extra"),
        Map("amount" -> col("s.amount")))
      // deleteMatching over the renamed column: a masked id (2) and an
      // absent one (999) delete nothing, a duplicate key (5) deletes once
      val dm = inst.begin()
      dm.deleteMatching(Seq(2L, 5L, 5L, 103L, 999L).toDF("obj_id"))
      inst.commit(dm)
      (rows(inst.read().select("obj_id", "amount", "extra")), byUpdate, byInsert)
    }
    val (all, byUpdate, byInsert) = out
    assert(all.size == 19 && !all.exists(r => r.startsWith("[5,") ||
      r.startsWith("[103,") || r.startsWith("[999,")))
    assert(byUpdate && byInsert)
    assert(all.contains("[1,100,null]") && !all.exists(_.startsWith("[2,")))
    assert(all.contains("[3,303,1]") && all.contains("[4,4,null]"))
    assert(all.contains("[500,55,7]") && all.contains("[600,60,6]"))
  }

  test("deleteMatching's change feed: the rows and columns of a summary diff") {
    val out = bothPaths { () =>
      val inst = mk(batches)
      val t = inst.begin()
      t.deleteMatching(Seq(2L, 3L, 3L, 102L, 999L).toDF("obj_id"))
      inst.commit(t)
      val feed = inst.changes(inst.latestVersion - 1, inst.latestVersion)
      (feed.columns.toSeq, rows(feed), rows(inst.read()))
    }
    val (cols, feed, all) = out
    assert(cols == Seq("obj_id", "value", "_version", "_change"))
    assert(feed == Seq("[2,2,5,delete]", "[3,3,5,delete]", "[102,102,5,delete]"))
    assert(all.size == 17)
  }

  private val mvSchema = StructType(Seq(
    StructField("obj_id", LongType, nullable = false),
    StructField("grp", StringType),
    StructField("v", LongType)))

  /** Source churn, then `refresh()` after each step, for a view over
    * `mvSchema`: view rows equal `recompute` every time. Returns the
    * descriptions of every job the refreshes ran. */
  private def churn(src: Instance, mv: MaterializedAggView,
      viewRows: () => Seq[String], recompute: () => Seq[String]): Seq[String] = {
    val descs = mutable.Buffer.empty[String]
    def check(): Unit = {
      descs ++= jobsDuring(mv.refresh())._2
      assert(viewRows() == recompute())
    }
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "a", 40L),
      (3L, "b", 20L), (4L, "b", 50L), (5L, "c", 5L)).toDF("obj_id", "grp", "v")) }
    check()
    src.withRetry() { t => t.insert(Seq((6L, "a", 25L), (7L, "d", 1L))
      .toDF("obj_id", "grp", "v")) }
    check()
    // extremum death in a: its stored min 10 dies; b moves a value
    src.withRetry() { t =>
      t.delete(Seq(1L))
      t.update(Seq(4L), _.withColumn("v", lit(30L)))
    }
    check()
    // group death (c), a group move and a MoR delete
    src.withRetry() { t =>
      t.delete(Seq(5L))
      t.update(Seq(6L), _.withColumn("grp", lit("b")))
      t.deleteMoR(Seq(7L))
    }
    check()
    descs.toSeq
  }

  private def views(make: Instance => MaterializedAggView,
      cols: Seq[String], recompute: DataFrame => DataFrame): Unit = {
    def run(): Seq[String] = {
      val src = VersionedTable.create(spark, freshDir(), mvSchema)
      val mv = make(src)
      churn(src, mv, () => rows(mv.read().select(cols.map(col): _*)
          .withColumnRenamed("grp", "obj_id")),
        () => rows(recompute(src.read()).withColumnRenamed("grp", "obj_id")))
    }
    val driver = run()
    assert(!driver.exists(JobTail), s"driver-path refresh ran $driver")
    assert(jobPath(run()).exists(JobTail))
  }

  test("sum view: refresh equals recompute on both paths") {
    views(src => MaterializedAggView.create(spark, freshDir(), src,
        groupCols = Seq("grp"), sumCols = Seq("v")),
      Seq("grp", "cnt", "sum_v"),
      _.groupBy("grp").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v")))
  }

  test("min/max view: refresh equals recompute on both paths, extremum deaths included") {
    views(src => MaterializedAggView.create(spark, freshDir(), src,
        groupCols = Seq("grp"), sumCols = Nil, minCols = Seq("v"), maxCols = Seq("v")),
      Seq("grp", "cnt", "min_v", "max_v"),
      _.groupBy("grp").agg(count(lit(1)).as("cnt"), min("v").as("min_v"),
        max("v").as("max_v")))
  }

  test("star view: refresh equals recompute on both paths") {
    def run(): Seq[String] = {
      val fact = VersionedTable.create(spark, freshDir(), StructType(Seq(
        StructField("obj_id", LongType, nullable = false),
        StructField("cust", LongType),
        StructField("v", LongType))))
      val dim = VersionedTable.create(spark, freshDir(), StructType(Seq(
        StructField("obj_id", LongType, nullable = false),
        StructField("region", StringType))))
      val mv = MaterializedAggView.create(spark, freshDir(), fact,
        groupCols = Seq("region"), sumCols = Seq("v"),
        dimJoins = Seq(MaterializedAggView.DimJoin(dim, "cust", "obj_id")))
      def recompute(): Seq[String] = rows(fact.read().alias("F")
        .join(dim.read().alias("D"), col("F.cust") === col("D.obj_id"))
        .groupBy("region").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
        .withColumnRenamed("region", "obj_id"))
      val descs = mutable.Buffer.empty[String]
      def check(): Unit = {
        descs ++= jobsDuring(mv.refresh())._2
        assert(rows(mv.read().select("region", "cnt", "sum_v")
          .withColumnRenamed("region", "obj_id")) == recompute())
      }
      dim.withRetry() { t => t.insert(Seq((10L, "east"), (20L, "west"),
        (30L, "north")).toDF("obj_id", "region")) }
      fact.withRetry() { t => t.insert(Seq((1L, 10L, 5L), (2L, 20L, 7L),
        (3L, 20L, 11L), (4L, 30L, 2L)).toDF("obj_id", "cust", "v")) }
      check()
      fact.withRetry() { t =>
        t.delete(Seq(4L))
        t.insert(Seq((5L, 10L, 1L)).toDF("obj_id", "cust", "v"))
      }
      check()
      dim.withRetry() { t => t.update(Seq(20L), _.withColumn("region", lit("east"))) }
      fact.withRetry() { t => t.update(Seq(1L), _.withColumn("cust", lit(30L))) }
      check()
      fact.withRetry() { t => t.deleteMoR(Seq(2L, 3L)) }
      check()
      descs.toSeq
    }
    val driver = run()
    assert(!driver.exists(JobTail), s"driver-path refresh ran $driver")
    assert(jobPath(run()).exists(JobTail))
  }
}
