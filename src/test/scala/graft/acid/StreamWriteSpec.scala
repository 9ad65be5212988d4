package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Native streaming sink (`writeStream.format("graft")`): one ACID
  * commit per micro-batch with a (queryId, epochId) watermark in the
  * manifest — exactly-once across replays, restarts, and zombie
  * drivers, with no foreachBatch helper. */
class StreamWriteSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_swrite_").toUri.toString

  test("append mode: each micro-batch is one commit, rows land with footer stats") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData((1L, 10L), (2L, 20L))
    drain()
    mem.addData((3L, 30L))
    drain()
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // two data commits (one per non-empty epoch), each with id stats
    assert(inst.latestVersion == 2L)
    val hist = inst.history().orderBy("version").collect()
    assert(hist.length == 3) // create + 2 epochs
    val txn = inst.begin()
    // footer-derived stats make the point read prune to one file
    assert(txn.candidateFiles(Seq(3L)).size == 1)
    inst.rollback(txn)
  }

  test("replayed epoch lands nothing: watermark in window and in checkpoint fold") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)

    def epochCommit(epoch: Long, rows: Seq[(Long, Long)]): Unit = {
      val txn = inst.begin()
      txn.markEpoch("query-A", epoch)
      txn.insert(rows.toDF("obj_id", "value"))
      inst.commit(txn)
    }
    epochCommit(1, Seq((1L, 10L)))
    epochCommit(2, Seq((2L, 20L)))
    // replay of epoch 2 (crash between sink commit and checkpoint
    // write): must throw the skip signal, not land duplicates
    val replay = inst.begin()
    replay.markEpoch("query-A", 2)
    replay.insert(Seq((2L, 20L)).toDF("obj_id", "value"))
    intercept[EpochAlreadyCommittedException](inst.commit(replay))
    assert(inst.read().count() == 2L)
    // an OLDER epoch is equally refused (watermark is a high-water mark)
    val stale = inst.begin()
    stale.markEpoch("query-A", 1)
    stale.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    intercept[EpochAlreadyCommittedException](inst.commit(stale))
    // a DIFFERENT query's epoch 1 commits fine
    val other = inst.begin()
    other.markEpoch("query-B", 1)
    other.insert(Seq((9L, 90L)).toDF("obj_id", "value"))
    inst.commit(other)
    assert(inst.read().count() == 3L)

    // watermarks survive manifest checkpoints: push the log past one
    // checkpoint interval, then ask for a watermark written before it
    (3L to 12L).foreach(e => epochCommit(e, Seq((100L + e, e))))
    assert(inst.lastCommittedEpoch("query-A").contains(12L))
    assert(inst.lastCommittedEpoch("query-B").contains(1L))
    assert(inst.lastCommittedEpoch("query-C").isEmpty)
    val late = inst.begin()
    late.markEpoch("query-B", 1)
    late.insert(Seq((999L, 9L)).toDF("obj_id", "value"))
    intercept[EpochAlreadyCommittedException](inst.commit(late))
  }

  test("restart from checkpoint re-delivers nothing; complete mode replaces per epoch") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt2_").toString
    mem.addData((1L, 10L), (2L, 20L))
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val v = inst.latestVersion
    drain() // restart, no new data: no new commit, no duplicates
    assert(inst.latestVersion == v)
    assert(inst.read().count() == 2L)

    // complete mode: the aggregate REPLACES the table every epoch
    val aggDir = freshDir()
    VersionedTable.create(spark, aggDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, value BIGINT"))
    val aggCkpt = Files.createTempDirectory("graft_swrite_ckpt3_").toString
    def drainAgg(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .groupBy($"obj_id" % 2 as "obj_id")
        .agg(org.apache.spark.sql.functions.sum("value") as "value")
        .writeStream.format("graft").option("path", aggDir)
        .outputMode("complete")
        .option("checkpointLocation", aggCkpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainAgg()
    val aggInst = VersionedTable.open(spark, aggDir)
    assert(aggInst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 20L), (1L, 10L)))
    mem.addData((3L, 30L))
    drainAgg()
    assert(aggInst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 20L), (1L, 40L)))
    // pre-epoch snapshot stays time-travelable (atomic replace)
    assert(aggInst.snapshot(aggInst.latestVersion - 1)
      .orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 20L), (1L, 10L)))
  }

  test("toTable streams into a catalog table; schema mismatch fails loudly") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gsw$tag"
    val wh = Files.createTempDirectory("graft_wh_sw_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.s.t (obj_id BIGINT, value BIGINT)")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    mem.addData((5L, 50L))
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt4_").toString
    val q = mem.toDF().toDF("obj_id", "value")
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).toTable(s"$cat.s.t")
    q.awaitTermination()
    assert(spark.sql(s"SELECT * FROM $cat.s.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 50L)))

    // wrong schema: loud error at stream start, nothing lands
    val bad = MemoryStream[(Long, String)]
    bad.addData((1L, "x"))
    val e = intercept[Exception] {
      val qq = bad.toDF().toDF("obj_id", "wrong")
        .writeStream
        .option("checkpointLocation",
          Files.createTempDirectory("graft_swrite_ckpt5_").toString)
        .trigger(Trigger.AvailableNow())
        .format("graft")
        .option("path", wh + "/s/t")
        .start()
      qq.awaitTermination()
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).flatMap(t => Option(t.getMessage)).mkString
        .contains("does not match"))
  }

  test("partitioned streaming: hive-layout staging, pruning, exactly-once") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gswp$tag"
    val wh = Files.createTempDirectory("graft_wh_swp_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.p.ev (obj_id BIGINT, lang STRING, " +
      "value BIGINT) PARTITIONED BY (lang)")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt6_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "lang", "value")
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.p.ev")
      q.awaitTermination()
    }
    mem.addData((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
    drain()
    mem.addData((4L, "fr", 40L))
    drain()
    assert(spark.sql(s"SELECT * FROM $cat.p.ev ORDER BY obj_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
        (4L, "fr", 40L)))
    // streamed files staged in hive layout -> partition PRUNING works
    val en = spark.sql(s"SELECT * FROM $cat.p.ev WHERE lang = 'en'")
    val scans = GraftScan.planned(en.queryExecution.executedPlan)
    assert(scans.head.prunedFiles.nonEmpty &&
      scans.head.prunedFiles.forall(_.contains("lang=en")))
    assert(en.count() == 2L)
    // restart with no new data: nothing re-delivered
    val inst = VersionedTable.open(spark, wh + "/p/ev")
    val v = inst.latestVersion
    drain()
    assert(inst.latestVersion == v)
    assert(spark.sql(s"SELECT count(*) FROM $cat.p.ev").head().getLong(0) == 4L)
  }

  test("upsert mode: each epoch merges by obj_id; update output mode accepted") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt7_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .writeStream.format("graft").option("path", dir)
        .option("upsert", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem.addData((1L, 10L), (2L, 20L))
    drain()
    // second epoch re-keys id 2 and adds id 3: MERGE, not append
    mem.addData((2L, 200L), (3L, 30L))
    drain()
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 200L), (3L, 30L)))
    // restart with no new data: exactly-once holds for upserts too
    val v = inst.latestVersion
    drain()
    assert(inst.latestVersion == v)

    // a watermarked aggregation in UPDATE output mode streams its
    // changed keys into the sink as upserts — latest count wins
    val aggDir = freshDir()
    VersionedTable.create(spark, aggDir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, value BIGINT"))
    val mem2 = MemoryStream[(Long, Long)]
    val ckpt2 = Files.createTempDirectory("graft_swrite_ckpt8_").toString
    def drainAgg(): Unit = {
      val q = mem2.toDF().toDF("k", "v")
        .groupBy($"k" as "obj_id")
        .agg(org.apache.spark.sql.functions.count("*") as "value")
        .writeStream.format("graft").option("path", aggDir)
        .option("upsert", "true").outputMode("update")
        .option("checkpointLocation", ckpt2)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    mem2.addData((7L, 1L), (7L, 1L), (8L, 1L))
    drainAgg()
    mem2.addData((7L, 1L))
    drainAgg()
    val aggInst = VersionedTable.open(spark, aggDir)
    assert(aggInst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((7L, 3L), (8L, 1L)))
  }

  test("idempotent batch writes: txnAppId/txnVersion replay lands nothing") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    def write(ver: Long, rows: Seq[(Long, Long)]): Unit =
      rows.toDF("obj_id", "value").write.format("graft")
        .option("path", dir).option("txnAppId", "job-A")
        .option("txnVersion", ver).mode("append").save()
    write(1, Seq((1L, 10L)))
    write(2, Seq((2L, 20L)))
    write(2, Seq((2L, 20L))) // retried batch: must be a no-op
    write(1, Seq((1L, 10L))) // stale replay: also a no-op
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    assert(inst.latestVersion == 2L)
    // a different app's version 1 is independent
    Seq((3L, 30L)).toDF("obj_id", "value").write.format("graft")
      .option("path", dir).option("txnAppId", "job-B")
      .option("txnVersion", 1).mode("append").save()
    assert(inst.read().count() == 3L)
    // half-specified options fail loudly
    intercept[Exception] {
      Seq((4L, 40L)).toDF("obj_id", "value").write.format("graft")
        .option("path", dir).option("txnAppId", "job-C")
        .mode("append").save()
    }
  }

  test("idempotent replay holds for app ids with quotes and backslashes") {
    // the watermark is keyed by the app id as written into the
    // manifest: an id that reads back changed never matches its own
    // replay, and the retried batch lands a second time
    Seq("etl\"daily", "etl\\daily", "etl\\\"daily\\").foreach { app =>
      val dir = freshDir()
      val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
      def write(): Unit = Seq((1L, 10L)).toDF("obj_id", "value")
        .write.format("graft").option("path", dir)
        .option("txnAppId", app).option("txnVersion", 1L)
        .mode("append").save()
      write()
      write() // replay at the same txnVersion: must be a no-op
      assert(spark.read.format("graft").load(dir).count() == 1L, app)
      assert(inst.latestVersion == 1L, app)
      assert(VersionedTable.open(spark, dir).appTxnsAt(1L) == Map(app -> 1L),
        app)
    }
  }

  test("upsert mode composes with partitioned staging") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gswu$tag"
    val wh = Files.createTempDirectory("graft_wh_swu_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.up.ev (obj_id BIGINT, lang STRING, " +
      "value BIGINT) PARTITIONED BY (lang)")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt9_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "lang", "value")
        .writeStream.option("upsert", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).toTable(s"$cat.up.ev")
      q.awaitTermination()
    }
    mem.addData((1L, "en", 10L), (2L, "de", 20L))
    drain()
    // epoch 2 re-keys id 1 (even moving partition!) and adds id 3
    mem.addData((1L, "fr", 100L), (3L, "en", 30L))
    drain()
    assert(spark.sql(s"SELECT * FROM $cat.up.ev ORDER BY obj_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "fr", 100L), (2L, "de", 20L), (3L, "en", 30L)))
  }

  test("manifest appTxns roundtrip") {
    import VersionedTable._
    val m = Manifest(7L, 3L, "obj_id BIGINT", Seq("f1"), Nil, Seq(1L),
      checkpoint = false, allFiles = Nil,
      appTxns = Map("q1" -> 42L, "q0" -> 7L))
    val back = fromJson(toJson(m))
    assert(back.appTxns == Map("q1" -> 42L, "q0" -> 7L))
    val plain = m.copy(appTxns = Map.empty)
    assert(fromJson(toJson(plain)).appTxns.isEmpty)
  }

  test("streaming into a RENAMED table stages physical names; reads merge") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ren_ckpt_").toString
    mem.addData((2L, 20L))
    val q = mem.toDF().toDF("obj_id", "amount") // the CURRENT logical name
      .writeStream.format("graft").option("path", dir)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // pre-rename and streamed files merge under the logical name...
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("amount"))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // ...because the staged file spells the PHYSICAL column name
    val staged = inst.readManifest(inst.latestVersion).added
    assert(staged.size == 1)
    val footer = spark.read.parquet(
      new org.apache.hadoop.fs.Path(inst.dataDir, staged.head).toString)
    assert(footer.columns.toSeq.sorted == Seq("obj_id", "value"),
      s"streamed file must spell physical names, got ${footer.columns.toSeq}")
  }

  test("upsert epoch with duplicate obj_id values fails loudly") {
    // adopting duplicates would break the obj_id-unique-per-snapshot
    // contract point ops and the change feed rely on — the sink must
    // reject the micro-batch, mirroring Txn.merge's duplicate guard
    val dir = freshDir()
    VersionedTable.create(spark, dir, AcidQueries.schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ckpt10_").toString
    mem.addData((5L, 10L), (5L, 11L), (6L, 20L))
    val q = mem.toDF().toDF("obj_id", "value")
      .writeStream.format("graft").option("path", dir)
      .option("upsert", "true")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + msgs(x.getCause)
    assert(msgs(e).contains("duplicate obj_id"))
    // nothing landed: the epoch failed before its commit published
    assert(VersionedTable.open(spark, dir).read().count() == 0L)
  }

  test("appTxn retention expires idle watermarks at checkpoint folds") {
    val dir = freshDir()
    // tiny retention + checkpoint every 2 commits; default (no
    // retention) behavior is covered by the replay tests above
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      EngineConf(checkpointInterval = 2, appTxnRetentionMs = 5L))
    val t1 = inst.begin()
    t1.markEpoch("idle-query", 3L)
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1) // v1 delta carries the watermark
    assert(inst.lastCommittedEpoch("idle-query").contains(3L))
    Thread.sleep(50) // let the watermark go idle past the retention
    val t2 = inst.begin()
    t2.insert(Seq((2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t2) // v2 checkpoint: fold expires the idle entry
    assert(inst.readManifest(2L).checkpoint)
    assert(inst.lastCommittedEpoch("idle-query").isEmpty)
    // an ACTIVE writer's own watermark survives its checkpoint commit
    val t3 = inst.begin()
    t3.markEpoch("live-query", 1L)
    t3.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t3)
    val t4 = inst.begin()
    t4.markEpoch("live-query", 2L)
    t4.insert(Seq((4L, 40L)).toDF("obj_id", "value"))
    inst.commit(t4) // v4 checkpoint, written in the same instant
    assert(inst.lastCommittedEpoch("live-query").contains(2L))
  }

  test("auto-compaction bounds a long-running sink's file count across epochs") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_ac_ckpt_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", ckpt)
        .option("autoCompactFiles", "5")
        .option("autoCompactTarget", "2")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // 12 epochs of small appends: without auto-compaction the table
    // would hold >= 12 files; the post-commit trigger must keep it
    // bounded by the threshold
    (1 to 12).foreach { i =>
      mem.addData((i.toLong, i * 10L))
      drain()
    }
    val files = inst.stateAt(inst.latestVersion)._1
    assert(files.size < 5,
      s"auto-compaction must bound the file count, got ${files.size}")
    // no rows lost or duplicated across the maintenance commits
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (1 to 12).map(i => (i.toLong, i * 10L)))
  }

  test("refresh-on-epoch: dependent views track the sink with zero lag") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("grp", StringType),
      StructField("v", LongType)))
    val inst = VersionedTable.create(spark, dir, schema)
    val viewDir = Files.createTempDirectory("graft_swrite_mv_").toUri.toString
    val mv = MaterializedAggView.create(spark, viewDir, inst,
      groupCols = Seq("grp"), sumCols = Seq("v"))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_mv_ckpt_").toString
    def drain(extraViews: String = ""): Unit = {
      val q = mem.toDF().toDF("obj_id", "grp", "v")
        .writeStream.format("graft").option("path", dir)
        .option("refreshViews", viewDir + extraViews)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def rows() = mv.read().select("grp", "cnt", "sum_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    mem.addData((1L, "a", 10L), (2L, "b", 20L))
    drain()
    // the view advanced WITH the epoch — no manual refresh() anywhere
    assert(mv.refreshedVersion == inst.latestVersion,
      s"view lags the sink: ${mv.refreshedVersion} < ${inst.latestVersion}")
    assert(rows() == Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    mem.addData((3L, "a", 5L))
    drain()
    assert(mv.refreshedVersion == inst.latestVersion)
    assert(rows() == Seq(("a", 2L, 15L), ("b", 1L, 20L)))
    // a broken view entry must NOT fail the epoch — the data commit
    // is durable, the healthy view still advances, the broken one
    // only logs
    mem.addData((4L, "b", 1L))
    drain(extraViews = "," + dir + "/not-a-view")
    assert(inst.read().count() == 4L,
      "a failing view refresh must not fail the epoch")
    assert(mv.refreshedVersion == inst.latestVersion)
    assert(rows() == Seq(("a", 2L, 15L), ("b", 2L, 21L)))
  }

  test("refresh-on-epoch resolves dotted view sources through registered catalogs") {
    // a catalog-created view records its source as a DOTTED name; the
    // streaming sink has no catalog handle, so its resolver must
    // re-instantiate the conf-registered GraftCatalog to open the
    // source — and mv_status must then show zero lag after stop
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gros$tag"
    val wh = Files.createTempDirectory("graft_wh_ros_").toUri.toString
    // a DECOY catalog whose warehouse also knows 's.t' (incompatible
    // schema): the view must bind its source by the PATH recorded at
    // create time, not by whichever registered catalog happens to
    // resolve the dotted name first in conf-map order — this is
    // exactly how the original guess-first resolver silently lagged
    // under a full test run's conf population
    val decoy = s"grosd$tag"
    val dwh = Files.createTempDirectory("graft_wh_rosd_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$decoy", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$decoy.warehouse", dwh)
    spark.sql(s"CREATE TABLE $decoy.s.t (obj_id BIGINT, other STRING)")
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.s.t (obj_id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"CALL $cat.system.create_mv('s.v', source => 's.t', " +
      "group_by => 'grp', sums => 'v')")
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_ros_ckpt_").toString
    mem.addData((1L, "a", 7L), (2L, "b", 9L))
    val q = mem.toDF().toDF("obj_id", "grp", "v")
      .writeStream.format("graft").option("path", s"$wh/s/t")
      .option("refreshViews", s"$wh/s/v")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val st = spark.sql(s"CALL $cat.system.mv_status('s.v')").collect().head
    val cols = spark.sql(s"CALL $cat.system.mv_status('s.v')").columns
    val m = cols.zip(st.toSeq.map(v => if (v == null) null else v.toString))
      .toMap
    assert(m("refreshed_source_version") == m("source_head_version"),
      s"view lags after stop: $m")
    val rows = spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.s.v ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq(("a", 1L, 7L), ("b", 1L, 9L)))
  }
}
