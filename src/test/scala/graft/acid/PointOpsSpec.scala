package graft.acid

import java.nio.file.Files

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Object-addressed point operations: the manifest is the address
  * book. Programmatic reads list nothing and scan only the files whose
  * manifest stats cover the filter; point writes and lookups over small
  * files read them on the driver and run no Spark job; the job path
  * above the `spark.sql.files.openCostInBytes` gate gives the same
  * results. */
class PointOpsSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_point_").toUri.toString

  /** One commit per batch: one data file per batch, with its own
    * obj_id range in the manifest. */
  private def mk(batches: Seq[Seq[(Long, Long)]]): Instance = {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    batches.foreach { b =>
      val t = inst.begin(); t.insert(b.toDF("obj_id", "value")); inst.commit(t)
    }
    inst
  }

  private def batches: Seq[Seq[(Long, Long)]] =
    (0 until 4).map(i => (1L to 5L).map(j => (i * 100L + j, i * 100L + j)))

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) =
    GraftTestBus.jobsDuring(spark.sparkContext)(body)

  /** Data files the executed scans of `df` read (after a collect). */
  private def filesScanned(df: DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    GraftScan.planned(plan).map(_.prunedFiles.size.toLong).sum
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("obj_id", "value").as[(Long, Long)].collect().toSeq.sorted

  /** Runs `body` with the point-read gate at 1 byte: every point
    * operation takes its job path. */
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

  test("point operations over small files run no Spark job") {
    val inst = mk(batches)
    val t = inst.begin()
    val ((), delMoR) = jobsDuring(t.deleteMoR(Seq(101L, 202L)))
    val ((), del) = jobsDuring(t.delete(Seq(303L)))
    val ((), ups) = jobsDuring(
      t.upsert(Seq((1L, 1000L)).toDF("obj_id", "value")))
    inst.commit(t)
    val (got, look) = jobsDuring(rows(inst.readWhere("obj_id", Seq(1L, 2L, 202L))))
    assert((delMoR, del, ups, look) == (0, 0, 0, 0))
    assert(got == Seq((1L, 1000L), (2L, 2L)))
    val all = rows(inst.read())
    assert(all.size == 17 && !all.exists(r => Set(101L, 202L, 303L)(r._1)))
    assert(all.contains((1L, 1000L)))
  }

  test("filtered reads scan only the files whose manifest range covers the id") {
    val inst = mk(batches)
    // a masked file is read as its own branch; it is pruned the same way
    val d = inst.begin(); d.deleteMoR(Seq(102L)); inst.commit(d)
    val v = inst.latestVersion
    assert(filesScanned(inst.snapshot(v).filter(col("obj_id") === 3L)) == 1)
    assert(filesScanned(inst.snapshot(v).filter(col("obj_id").isin(3L, 103L))) == 2)
    assert(rows(inst.snapshot(v).filter(col("obj_id").isin(102L, 103L))) ==
      Seq((103L, 103L)))
    assert(filesScanned(inst.snapshot(v).filter(col("obj_id") === 9999L)) == 0)
    assert(filesScanned(inst.snapshot(v)) == 4)
    // txn-local reads prune the transaction's staged files too
    val t = inst.begin()
    t.insert(Seq((500L, 5L), (501L, 6L)).toDF("obj_id", "value"))
    assert(filesScanned(t.read().filter(col("obj_id") === 500L)) == 1)
    assert(rows(t.read().filter(col("obj_id") === 500L)) == Seq((500L, 5L)))
    assert(filesScanned(t.read().filter(col("obj_id") === 103L)) == 1)
    inst.rollback(t)
  }

  test("driver path and job path agree: masks, re-deletes, all-deleted files") {
    def scenario(): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
      val inst = mk(batches)
      val t1 = inst.begin(); t1.deleteMoR(Seq(1L, 2L)); inst.commit(t1)
      // a re-delete of a masked id is a no-op: no new vector
      val t2 = inst.begin(); t2.deleteMoR(Seq(2L))
      assert(t2.dvDelta.isEmpty)
      inst.rollback(t2)
      // CoW through the mask, then an update
      val t3 = inst.begin()
      t3.delete(Seq(3L))
      t3.update(Seq(4L), _.withColumn("value", col("value") * 10))
      inst.commit(t3)
      // every row of one file deleted: it is retired, nothing staged
      val before = inst.tableStateAt(inst.latestVersion).inlineFiles
      val t4 = inst.begin(); t4.delete((201L to 205L)); inst.commit(t4)
      val after = inst.tableStateAt(inst.latestVersion).inlineFiles
      assert(after.size == before.size - 1 && after.toSet.subsetOf(before.toSet))
      (rows(inst.read()), rows(inst.readWhere("obj_id", Seq(1L, 5L, 4L))))
    }
    val driver = scenario()
    val job = jobPath(scenario())
    assert(driver == job)
    assert(driver._1.map(_._1) == Seq(4L, 5L) ++ (101L to 105L) ++ (301L to 305L))
    assert(driver._1.head == (4L, 40L) && driver._2 == Seq((4L, 40L), (5L, 5L)))
  }

  test("driver path and job path agree on renamed columns") {
    def scenario(): Seq[(Long, Long)] = {
      val inst = mk(batches)
      val r = inst.begin(); r.renameColumn("value", "amount"); inst.commit(r)
      val t = inst.begin()
      t.update(Seq(101L), _.withColumn("amount", col("amount") + 1))
      t.delete(Seq(102L))
      t.deleteMoR(Seq(103L))
      inst.commit(t)
      val all = inst.read().select(col("obj_id"), col("amount").as("value"))
      assert(rows(inst.readWhere("obj_id", Seq(101L, 104L))
        .withColumnRenamed("amount", "value")) == Seq((101L, 102L), (104L, 104L)))
      rows(all)
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    assert(driver.contains((101L, 102L)) &&
      !driver.exists(r => r._1 == 102L || r._1 == 103L))
  }

  test("driver path and job path enforce CHECK constraints alike") {
    def scenario(): (Seq[(Long, Long)], Boolean) = {
      val inst = mk(batches)
      val c = inst.begin(); c.addConstraint("v_pos", "value > 0"); inst.commit(c)
      val ok = inst.begin()
      ok.update(Seq(1L), _.withColumn("value", col("value") + 5))
      inst.commit(ok)
      val bad = inst.begin()
      val refused =
        try { bad.update(Seq(2L), _.withColumn("value", lit(-1L))); false }
        catch {
          case e: Exception =>
            Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
              .exists(x => Option(x.getMessage).exists(_.contains("v_pos")))
        }
      inst.rollback(bad)
      (rows(inst.read()), refused)
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    assert(driver._2 && driver._1.contains((1L, 6L)) && driver._1.contains((2L, 2L)))
  }

  test("the driver path takes a bounded number of files and bytes") {
    val many = mk((0 until Instance.PointReadMaxFiles + 1)
      .map(i => Seq((i * 10L, 0L))))
    def jobs(inst: Instance, ids: Seq[Long]): Int = {
      val t = inst.begin()
      try jobsDuring(t.deleteMoR(ids))._2 finally inst.rollback(t)
    }
    val ids = (0 to Instance.PointReadMaxFiles).map(_ * 10L)
    assert(jobs(many, ids.init) == 0)
    assert(jobs(many, ids) > 0)
    val big = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t = big.begin()
    t.insert(spark.range(300000).select(col("id").as("obj_id"),
      (col("id") * 7).as("value")).coalesce(1))
    big.commit(t)
    val f = big.tableStateAt(big.latestVersion).inlineFiles
    assert(f.size == 1 && big.fs.getFileStatus(
      new org.apache.hadoop.fs.Path(big.dataDir, f.head)).getLen >
      Instance.PointReadMaxBytes)
    assert(jobs(big, Seq(5L)) > 0)
  }

  test("a column added by schema evolution reads null in older files, on both paths") {
    def show(df: DataFrame): Seq[String] =
      df.select("obj_id", "extra").orderBy("obj_id").collect().map(_.toString).toSeq
    def scenario(): Seq[Seq[String]] = {
      val inst = mk(batches.take(2))
      val e = inst.begin(); e.evolveSchema()
      e.insert(Seq((900L, 9L, 7L)).toDF("obj_id", "value", "extra"))
      inst.commit(e)
      // the DataFrame declares the added primitive column NOT NULL;
      // the two older files do not hold it, so the DDL records it
      // nullable
      val v = inst.latestVersion
      assert(StructType.fromDDL(inst.tableStateAt(v).ddl)("extra").nullable)
      val t = inst.begin()
      t.update(Seq(1L), _.withColumn("value", lit(-1L)))
      t.delete(Seq(2L))
      t.deleteMoR(Seq(101L))
      val txnRead = show(t.read().filter(col("obj_id").isin(1L, 3L, 900L)))
      inst.commit(t)
      Seq(show(inst.read()), show(inst.snapshot(v)), txnRead,
        show(inst.readWhere("obj_id", Seq(1L, 3L, 900L))),
        show(inst.read().where(col("extra").isNull)),
        show(inst.snapshot(v).filter(col("obj_id").isin(3L, 900L))))
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    val old = Seq(1L, 3L, 4L, 5L, 102L, 103L, 104L, 105L).map(i => s"[$i,null]")
    assert(driver(0) == old :+ "[900,7]")
    assert(driver(1) == ((1L to 5L) ++ (101L to 105L)).map(i => s"[$i,null]") :+ "[900,7]")
    assert(driver(2) == Seq("[1,null]", "[3,null]", "[900,7]"))
    assert(driver(3) == driver(2) && driver(4) == old)
    assert(driver(5) == Seq("[3,null]", "[900,7]"))
    // the DSv2 read of the same evolution sees the null too
    val inst = mk(Seq(Seq((1L, 10L))))
    val e = inst.begin(); e.evolveSchema()
    e.insert(Seq((2L, 20L, 7L)).toDF("obj_id", "value", "extra"))
    inst.commit(e)
    val dsv2 = spark.read.format("graft").load(inst.root)
    assert(dsv2.where($"extra".isNull).count() == 1)
    assert(dsv2.orderBy("obj_id").collect().map(_.toString).toSeq ==
      Seq("[1,10,null]", "[2,20,7]"))
  }

  test("a small insert holding a null obj_id commits and records its other ids") {
    val inst = mk(Nil)
    val t = inst.begin()
    t.insert(Seq((None, 7L), (Some(1L), 1L), (Some(2L), 2L), (Some(3L), 3L))
      .toDF("obj_id", "value"))
    inst.commit(t)
    val m = inst.readManifest(inst.latestVersion)
    assert(m.objects.sorted == Seq(1L, 2L, 3L))
    assert(inst.read().count() == 4)
  }

  test("a null obj_id is never hit by a point operation, on either path") {
    def scenario(): Seq[String] = {
      val inst = mk(Nil)
      // more rows than the driver-side insert takes: a job writes the
      // file, and records the null id in the transaction's summary
      val t = inst.begin()
      t.insert(((None, 7777L) +: (-40L to 40L).map(i => (Some(i), i)))
        .toDF("obj_id", "value"))
      inst.commit(t)
      val d = inst.begin(); d.deleteMoR(Seq(0L)); inst.commit(d)
      val u = inst.begin()
      u.update(Seq(0L, 1L), _.withColumn("value", col("value") * 10))
      u.delete(Seq(0L))
      inst.commit(u)
      inst.read().orderBy(col("obj_id").asc_nulls_first).collect()
        .map(_.toString).toSeq
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    assert(driver.size == 81 && driver.take(2) == Seq("[null,7777]", "[-40,-40]"))
    assert(!driver.contains("[0,0]") && driver.contains("[1,10]"))
  }

  test("an upsert batch holding a null obj_id inserts it, on both paths") {
    def scenario(): Seq[String] = {
      val inst = mk(batches.take(1))
      val t = inst.begin()
      t.upsert(Seq((None, 7L), (Some(1L), 10L)).toDF("obj_id", "value"))
      inst.commit(t)
      inst.read().orderBy(col("obj_id").asc_nulls_first).collect()
        .map(_.toString).toSeq
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    assert(driver == Seq("[null,7]", "[1,10]", "[2,2]", "[3,3]", "[4,4]", "[5,5]"))
  }

  test("partitioned candidates fall back to the job path with equal results") {
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("value", LongType, nullable = false)))
    def scenario(): Seq[String] = {
      val inst = VersionedTable.create(spark, freshDir(), schema)
      val t = inst.begin()
      t.insertPartitioned(Seq((1L, "en", 10L), (2L, "de", 20L),
        (3L, "en", 30L)).toDF("obj_id", "lang", "value"), Seq("lang"))
      inst.commit(t)
      val u = inst.begin()
      // partitioned files never take the driver path
      assert(jobsDuring(u.deleteMoR(Seq(1L)))._2 > 0)
      u.update(Seq(2L), _.withColumn("value", lit(21L)))
      inst.commit(u)
      val look = inst.readWhere("obj_id", Seq(2L, 3L)).orderBy("obj_id")
        .collect().map(_.toString).toSeq
      look ++ inst.read().orderBy("obj_id").collect().map(_.toString)
    }
    val driver = scenario()
    assert(driver == jobPath(scenario()))
    assert(driver.take(2) == Seq("[2,de,21]", "[3,en,30]"))
  }
}
