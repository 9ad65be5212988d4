package graft.acid

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan, SubqueryBroadcastExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** A query that is exactly one small graft scan — time travel, a
  * transaction's read, `readWhere`, a SQL point query — is read on the
  * driver by [[GraftDriverScanExec]] and runs no Spark job. It returns
  * what the job path (forced by a 1-byte
  * `spark.sql.files.openCostInBytes`) returns; every refusal and every
  * scan below the root of a plan keeps its `BatchScanExec`. */
class DriverScanSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_dscan_").toUri.toString

  /** One commit per batch: one data file per batch. */
  private def mk(batches: Seq[Seq[(Long, Long)]],
      conf: EngineConf = EngineConf()): Instance = {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
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

  /** Runs `body` with the driver-read gate at 1 byte: every scan takes
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

  /** Every node of `p`, into adaptive plans, query stages, commands and
    * subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case _ => p.children ++ p.subqueries
  }).flatMap(nodes)

  private def onDriver(df: DataFrame): Boolean =
    nodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[GraftDriverScanExec])

  private def batchScans(p: SparkPlan): Int = nodes(p).count {
    case b: BatchScanExec => b.scan.isInstanceOf[GraftScan]
    case _ => false
  }

  /** The rows of `df`, asserting it plans on the driver. */
  private def driverRows(df: => DataFrame): Seq[Row] = {
    val d = df
    assert(onDriver(d), s"not a driver scan:\n${d.queryExecution.executedPlan}")
    d.collect().toSeq
  }

  /** The rows of `df` on the job path, asserting it plans a BatchScanExec. */
  private def jobRows(df: => DataFrame): Seq[Row] = jobPath {
    val d = df
    assert(!onDriver(d) && batchScans(d.queryExecution.executedPlan) > 0,
      s"not a job scan:\n${d.queryExecution.executedPlan}")
    d.collect().toSeq
  }

  /** `df` on both paths: equal rows, in the same order. */
  private def bothPaths(df: => DataFrame): Seq[Row] = {
    val driver = driverRows(df)
    assert(driver == jobRows(df))
    driver
  }

  test("time travel, Txn.read, readWhere and SQL point queries run no Spark job") {
    val inst = mk(batches)
    val v = inst.latestVersion
    val d = inst.begin(); d.deleteMoR(Seq(2L)); inst.commit(d)
    val travel = inst.snapshot(v).filter(col("obj_id").isin(1L, 2L, 102L))
    val (got1, jobs1) = jobsDuring(travel.collect().map(_.getLong(0)).sorted.toSeq)
    val t = inst.begin()
    val txnRead = t.read().filter(col("obj_id") === 3L).select("value")
    val (got2, jobs2) = jobsDuring(txnRead.as[Long].collect().toSeq)
    inst.rollback(t)
    val head = inst.read().filter(col("obj_id").isin(1L, 2L, 301L))
    val (got3, jobs3) = jobsDuring(head.collect().map(_.getLong(0)).sorted.toSeq)
    val (got4, jobs4) = jobsDuring(
      inst.readWhere("obj_id", Seq(2L, 203L)).collect().map(_.getLong(0)).toSeq)
    spark.read.format("graft").option("path", inst.root).load()
      .createOrReplaceTempView("dscan_pt")
    val (got5, jobs5) = jobsDuring(spark.sql(
      "SELECT obj_id, value FROM dscan_pt WHERE obj_id IN (4, 104, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert((jobs1, jobs2, jobs3, jobs4, jobs5) == (0, 0, 0, 0, 0))
    assert(got1 == Seq(1L, 2L, 102L) && got2 == Seq(3L) && got3 == Seq(1L, 301L))
    assert(got4 == Seq(203L) && got5 == Seq((4L, 4L), (104L, 104L)))
    assert(Seq(travel, txnRead, head,
      spark.sql("SELECT value FROM dscan_pt WHERE obj_id = 4")).forall(onDriver))
  }

  test("driver-path reads and MoR deletes share one prepared parquet reader per schema") {
    val inst = mk((0 until 4).map(i => (1L to 8L).map(j => (i * 100L + j, j))))
    val v = inst.latestVersion
    val sc = spark.sparkContext
    // broadcast ids are handed out in sequence, so the gap between two
    // probes counts the broadcasts made between them; preparing a
    // parquet reader broadcasts the Hadoop conf
    def probe(): Long = { val b = sc.broadcast(0); try b.id finally b.destroy() }
    def round(i: Int): Unit = {
      val travel = inst.snapshot(v).filter(col("obj_id") === 1L + i)
      assert(onDriver(travel) && travel.collect().length == 1)
      assert(inst.readWhere("obj_id", Seq(101L + i)).collect().length == 1)
      val t = inst.begin()
      assert(t.read().filter(col("obj_id") === 201L + i).collect().length == 1)
      t.deleteMoR(Seq(301L + i))
      inst.commit(t)
    }
    round(0) // the first operation of each shape prepares its reader
    val before = probe()
    (1 to 5).foreach(round)
    val made = probe() - before - 1
    assert(made == 0, s"$made broadcasts in 20 driver-path operations")
    assert(inst.read().filter(col("obj_id") > 300L).collect().map(_.getLong(0))
      .sorted.toSeq == Seq(307L, 308L))
    // a changed session setting keys a reader of its own
    val key = "spark.sql.parquet.enableVectorizedReader"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, (!spark.sessionState.conf.parquetVectorizedReaderEnabled).toString)
    try {
      val at = probe()
      assert(inst.snapshot(v).filter(col("obj_id") === 1L).collect().length == 1)
      assert(probe() - at == 2, "no new reader under a changed setting")
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("driver and job paths agree: masks, a renamed and an evolved column, null ids") {
    val inst = mk(batches)
    val v1 = inst.latestVersion
    val d = inst.begin(); d.deleteMoR(Seq(1L, 102L)); inst.commit(d)
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    val e = inst.begin()
    e.evolveSchema()
    e.insert(Seq[(java.lang.Long, java.lang.Long, String)](
        (500L, 5L, "x"), (null, 6L, "n"))
      .toDF("obj_id", "amount", "tag"))
    inst.commit(e)
    // every row of one file masked
    val m = inst.begin(); m.deleteMoR((301L to 305L)); inst.commit(m)
    assert(bothPaths(inst.read()).size == 15)
    assert(bothPaths(inst.snapshot(v1).filter(col("obj_id").isin(1L, 102L, 103L)))
      .map(_.getLong(0)) == Seq(1L, 102L, 103L))
    assert(bothPaths(inst.read().filter(col("obj_id").isin(1L, 102L, 103L)))
      .map(_.getLong(0)) == Seq(103L))
    assert(bothPaths(inst.read().filter(col("amount") > 200L)
      .select("obj_id", "tag")).map(_.getLong(0)).toSet == Set(201L, 202L, 203L, 204L, 205L))
    assert(bothPaths(inst.read().filter(col("tag").isNull && col("amount") < 5L))
      .map(_.getLong(0)).sorted == Seq(2L, 3L, 4L))
    assert(bothPaths(inst.read().filter(col("obj_id").isNull))
      .map(r => (r.isNullAt(0), r.getLong(1), r.getString(2))) == Seq((true, 6L, "n")))
    assert(bothPaths(inst.readWhere("amount", Seq(5L, 6L, 104L)))
      .map(_.getLong(1)).sorted == Seq(5L, 5L, 6L, 104L))
    assert(bothPaths(inst.read().filter(col("obj_id").isin(301L, 302L))).isEmpty)
    // every file pruned: nothing to read, on the driver under any gate
    assert(driverRows(inst.read().filter(col("obj_id") === 9999L)).isEmpty)
    assert(jobPath(driverRows(inst.read().filter(col("obj_id") === 9999L))).isEmpty)
  }

  test("driver and job paths agree over a transaction's staged and removed files") {
    val inst = mk(batches)
    val t = inst.begin()
    t.insert(Seq((600L, 6L), (601L, 7L)).toDF("obj_id", "value"))
    t.delete(Seq(203L))   // copy-on-write: retires a file, stages its rewrite
    t.deleteMoR(Seq(601L, 4L))
    t.upsert(Seq((5L, 50L)).toDF("obj_id", "value"))
    assert(bothPaths(t.read()).size == 19)
    assert(bothPaths(t.read().filter(col("obj_id").isin(600L, 601L, 203L, 204L, 4L, 5L)))
      .map(r => (r.getLong(0), r.getLong(1))).sorted ==
      Seq((5L, 50L), (204L, 204L), (600L, 6L)))
    inst.rollback(t)
  }

  test("driver and job paths agree on an empty table and a segmented checkpoint") {
    val empty = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    assert(empty.read().filter(col("obj_id") === 1L).collect().isEmpty)
    assert(jobPath(empty.read().filter(col("obj_id") === 1L).collect()).isEmpty)
    val seg = mk(batches ++ Seq(Seq((700L, 7L))),
      EngineConf(checkpointInterval = 2, checkpointInlineFiles = 0))
    assert(seg.tableStateAt(seg.latestVersion).sidecar.isDefined)
    val d = seg.begin(); d.deleteMoR(Seq(3L)); seg.commit(d)
    assert(bothPaths(seg.read().filter(col("obj_id").isin(2L, 3L, 700L)))
      .map(_.getLong(0)).sorted == Seq(2L, 700L))
    assert(bothPaths(seg.read()).size == 20)
  }

  test("non-deterministic, partitioned, limited and large scans keep the job path") {
    val inst = mk(batches)
    def job(df: DataFrame): Unit =
      assert(!onDriver(df) && batchScans(df.queryExecution.executedPlan) == 1,
        df.queryExecution.executedPlan.toString)
    job(inst.read().filter(rand(7) < 0.5))
    job(inst.read().select(col("obj_id"), input_file_name().as("f")))
    job(inst.read().filter(col("obj_id") === 1L).select(input_file_name()))
    job(inst.read().limit(3))
    val part = VersionedTable.create(spark, freshDir(),
      org.apache.spark.sql.types.StructType.fromDDL("obj_id BIGINT, k STRING"))
    val pt = part.begin()
    pt.insertPartitioned(Seq((1L, "a"), (2L, "b")).toDF("obj_id", "k"), Seq("k"))
    part.commit(pt)
    job(part.read().filter(col("obj_id") === 1L))
    assert(part.read().filter(col("obj_id") === 1L).collect().map(_.getString(1))
      .toSeq == Seq("a"))
    // one file past the 512 KB gate
    val big = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val bt = big.begin()
    bt.insert(spark.range(0, 200000).select(col("id").as("obj_id"),
      (rand(3) * 1e15).cast("long").as("value")).coalesce(1))
    big.commit(bt)
    job(big.read().filter(col("obj_id") === 5L))
    // 33 small files
    val many = mk((0 until 33).map(i => Seq((i.toLong, i.toLong))))
    job(many.read().filter(col("value") >= 0L))
    assert(onDriver(many.read().filter(col("obj_id") === 7L)))
  }

  test("scans inside changes, joins, aggregates, compact and a job-path MERGE keep BatchScanExec") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def planned(body: => Unit): Seq[SparkPlan] = {
      GraftTestBus.drain(spark.sparkContext)
      plans.clear()
      spark.listenerManager.register(l)
      try { body; GraftTestBus.drain(spark.sparkContext) }
      finally spark.listenerManager.unregister(l)
      plans.asScala.toSeq
    }
    def jobScansOnly(ps: Seq[SparkPlan]): Unit = {
      assert(ps.nonEmpty)
      assert(!ps.flatMap(nodes).exists(_.isInstanceOf[GraftDriverScanExec]),
        ps.mkString("\n"))
      assert(ps.map(batchScans).sum > 0, ps.mkString("\n"))
    }
    val inst = mk(batches)
    val v0 = inst.latestVersion
    val d = inst.begin(); d.deleteMoR(Seq(1L)); inst.commit(d)
    val u = inst.begin(); u.upsert(Seq((2L, 20L)).toDF("obj_id", "value")); inst.commit(u)
    jobScansOnly(planned(inst.changes(v0 - 1, inst.latestVersion).collect()))
    val other = mk(Seq(Seq((1L, 9L), (2L, 8L))))
    jobScansOnly(planned(inst.read().join(other.read(), "obj_id").collect()))
    // a selective small build side: its dynamic-pruning subquery re-plans
    // it at a root of its own, where it must keep the job path too, or
    // the subquery no longer reuses the join's broadcast
    val fact = VersionedTable.create(spark, freshDir(),
      org.apache.spark.sql.types.StructType.fromDDL("obj_id BIGINT, cust BIGINT, v BIGINT"))
    fact.withRetry() { t => t.insert(Seq((1L, 1L, 150L), (2L, 2L, 5L), (3L, 1L, 200L))
      .toDF("obj_id", "cust", "v")) }
    val dim = VersionedTable.create(spark, freshDir(),
      org.apache.spark.sql.types.StructType.fromDDL("obj_id BIGINT, region STRING"))
    // larger than the fact file, so the filtered fact side is the one broadcast
    dim.withRetry() { t => t.insert((Seq((1L, "eu"), (2L, "us")) ++
      (3L to 300L).map(i => (i, s"r$i"))).toDF("obj_id", "region")) }
    val dpp = planned(assert(dim.read().alias("d")
      .join(fact.read().filter(col("v") >= 100L).alias("f"), col("f.cust") === col("d.obj_id"))
      .select("f.obj_id", "d.region").collect().map(_.getString(1)).toSeq == Seq("eu", "eu")))
    jobScansOnly(dpp)
    assert(dpp.flatMap(nodes).exists(_.isInstanceOf[SubqueryBroadcastExec]),
      "the dynamic-pruning filter reuses the broadcast\n" + dpp.mkString("\n"))
    jobScansOnly(planned(inst.read().groupBy("value").count().collect()))
    jobScansOnly(planned(inst.compact(1)))
    // a 100-row source is past the merge's driver path
    val t = inst.begin()
    jobScansOnly(planned(t.merge((1L to 100L).map(i => (i * 3, i)).toDF("obj_id", "value"),
      matchedUpdate = Map("value" -> col("s.value")))))
    inst.commit(t)
    assert(inst.read().filter(col("obj_id") === 3L).collect().map(_.getLong(1)).toSeq ==
      Seq(1L))
  }
}
