package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Merge-on-read deletion vectors: point deletes as small sidecar
  * masks instead of whole-file rewrites — the write-amplification
  * escape hatch for frequent small deletes at 100 TB. Readers subtract
  * masks per file, compaction materializes them away, CoW rewrites
  * read through them, CDC reports them exactly, restore un-deletes
  * them, vacuum respects sidecar liveness. */
class DeletionVectorSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_dv_").toUri.toString

  private def mk(rows: Seq[(Long, Long)], conf: EngineConf = EngineConf())
      : Instance = {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      conf)
    val t = inst.begin()
    // ONE data file: the same-file dv interactions below (list append,
    // mask-vs-rewrite conflicts, materialization) need the ids
    // co-located — local[32] would otherwise scatter 3 rows over 3 files
    t.insert(rows.toDF("obj_id", "value").coalesce(1))
    inst.commit(t)
    inst
  }

  private def contents(inst: Instance): Seq[(Long, Long)] =
    inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("deleteMoR masks rows without rewriting files; time travel sees them") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val filesBefore = inst.stateAt(1L)._1
    val t = inst.begin()
    t.deleteMoR(Seq(2L))
    inst.commit(t)
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
    // NO file was rewritten: same data files, plus a dv entry
    val st = inst.tableStateAt(2L)
    assert(st.inlineFiles == filesBefore)
    assert(st.dvs.size == 1 && st.dvs.head._2.size == 1)
    // pre-delete version still sees the row (CoW-grade time travel)
    assert(inst.snapshot(1L).count() == 3L)
    // the delete commit published the touched id for conflicts
    assert(inst.readManifest(2L).objects == Seq(2L))
  }

  /** The dv sidecars in the table's data directory. */
  private def sidecarFiles(inst: Instance): Set[String] =
    inst.fs.listStatus(inst.dataDir).map(_.getPath.getName)
      .filter(_.startsWith("dvp-")).toSet

  /** The single sidecar `dvs` lists for its one masked file, as that
    * file's row ordinals. */
  private def onlyMask(inst: Instance, dvs: Map[String, Seq[String]]): Seq[Long] = {
    assert(dvs.size == 1, s"one masked file expected: $dvs")
    val (file, list) = dvs.head
    assert(list.size == 1, s"one sidecar per file expected: $list")
    inst.readDvSidecar(list.head)(file).iterator.toSeq
  }

  test("re-inserted id is NOT masked; second MoR delete keeps one sidecar") {
    val inst = mk(Seq((1L, 10L), (2L, 20L)))
    val t1 = inst.begin(); t1.deleteMoR(Seq(2L)); inst.commit(t1)
    // re-insert id 2 into a NEW file: per-file masks must not touch it
    val t2 = inst.begin()
    t2.insert(Seq((2L, 200L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t2)
    assert(contents(inst) == Seq((1L, 10L), (2L, 200L)))
    // now MoR-delete id 1 (same original file): the file's list is
    // still one sidecar, whose mask is the union of both deletes
    val t3 = inst.begin(); t3.deleteMoR(Seq(1L)); inst.commit(t3)
    assert(contents(inst) == Seq((2L, 200L)))
    val st = inst.tableStateAt(inst.latestVersion)
    assert(onlyMask(inst, st.dvs) == Seq(0L, 1L))
    // deleting an already-masked id is a no-op: no sidecar is written
    val written = sidecarFiles(inst)
    val t4 = inst.begin(); t4.deleteMoR(Seq(1L)); inst.commit(t4)
    assert(sidecarFiles(inst) == written)
    assert(inst.tableStateAt(inst.latestVersion).dvs == st.dvs)
    // every earlier version still reads its own rows
    def at(v: Long) = inst.snapshot(v).orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(at(1L) == Seq((1L, 10L), (2L, 20L)))
    assert(at(2L) == Seq((1L, 10L)))
    assert(at(3L) == Seq((1L, 10L), (2L, 200L)))
    assert(at(4L) == Seq((2L, 200L)))
  }

  test("compact materializes masks and clears every dv entry") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    assert(inst.compact() > 0)
    val st = inst.tableStateAt(inst.latestVersion)
    assert(st.dvs.isEmpty)
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
    // a compact with ONLY dvs outstanding (file count already at
    // target) still runs — materialization is reason enough
    val t2 = inst.begin(); t2.deleteMoR(Seq(3L)); inst.commit(t2)
    assert(inst.compact(targetFiles = 1) > 0)
    assert(inst.tableStateAt(inst.latestVersion).dvs.isEmpty)
    assert(contents(inst) == Seq((1L, 10L)))
  }

  test("CoW delete/update/upsert read through outstanding masks") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    // CoW update of id 1 rewrites the file: id 2 must NOT resurrect
    val t2 = inst.begin()
    t2.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
    inst.commit(t2)
    assert(contents(inst) == Seq((1L, 11L), (3L, 30L)))
    // the rewrite materialized the mask: dv entry is gone
    assert(inst.tableStateAt(inst.latestVersion).dvs.isEmpty)
  }

  test("same-txn composition: deleteMoR then read-your-own-deletes") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin()
    t.deleteMoR(Seq(1L))
    assert(t.read().orderBy("obj_id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 3L))
    t.deleteMoR(Seq(3L))
    assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
    inst.commit(t)
    assert(contents(inst) == Seq((2L, 20L)))
    // the second delete's sidecar holds both masks and replaces the
    // first's, which is never published
    assert(onlyMask(inst, inst.tableStateAt(inst.latestVersion).dvs) == Seq(0L, 2L))
  }

  test("three MoR deletes on one file: each id leaves every change feed once, at its own version") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    // v2, v3, v4: one id each, all in the one data file
    Seq(2L, 4L, 1L).foreach(id => inst.withRetry()(_.deleteMoR(Seq(id))))
    assert(onlyMask(inst, inst.tableStateAt(4L).dvs) == Seq(0L, 1L, 3L))
    val expected = Seq((1L, 4L), (2L, 2L), (4L, 3L))
    val changed = inst.changes(0L, 4L).select("obj_id", "_version", "_change")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(changed.filter(_._3 == "delete").map(c => (c._1, c._2)).sorted ==
      expected, s"got $changed")
    assert(changed.count(_._3 != "insert") == 3, s"got $changed")
    // weightedDelta has no version column: per version, the net is the
    // one id that version deleted; over the interval each nets -1 once
    def net(from: Long, to: Long): Seq[(Long, Long)] =
      inst.weightedDelta(from, to).groupBy("obj_id").agg(sum("_w").as("w"))
        .filter(col("w") =!= 0L).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    expected.foreach { case (id, v) => assert(net(v - 1, v) == Seq((id, -1L))) }
    assert(net(1L, 4L) == expected.map(e => (e._1, -1L)))
    val name = "dv_feed_" + java.util.UUID.randomUUID.toString.replace("-", "")
    inst.readChangesStream(readChangeFeed = true).writeStream.format("memory")
      .queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_dv_feed_ckpt_").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val feed = spark.table(name).collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("_version"),
        r.getAs[String]("_change_type"))).toSeq
    assert(feed.filter(_._3 == "delete").map(c => (c._1, c._2)).sorted ==
      expected, s"got $feed")
    assert(feed.count(_._3 != "insert") == 3, s"got $feed")
  }

  test("conflicts: concurrent mask-vs-mask and mask-vs-rewrite on one file") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // mask vs mask, DISJOINT ids, same file: replacement semantics
    // would lose one side - must conflict and succeed on retry
    val a = inst.begin(); val b = inst.begin()
    a.deleteMoR(Seq(1L)); b.deleteMoR(Seq(3L))
    inst.commit(a)
    intercept[ConflictException](inst.commit(b))
    val b2 = inst.begin(); b2.deleteMoR(Seq(3L)); inst.commit(b2)
    assert(contents(inst) == Seq((2L, 20L)))
    // mask vs CoW rewrite of the same file
    val inst2 = mk(Seq((1L, 10L), (2L, 20L)))
    val c = inst2.begin(); val d = inst2.begin()
    c.deleteMoR(Seq(1L))
    d.delete(Seq(2L)) // CoW: rewrites the file
    inst2.commit(c)
    intercept[ConflictException](inst2.commit(d))
    // and the reverse order on a fresh pair
    val inst3 = mk(Seq((1L, 10L), (2L, 20L)))
    val e = inst3.begin(); val f = inst3.begin()
    e.delete(Seq(2L))
    f.deleteMoR(Seq(1L))
    inst3.commit(e)
    intercept[ConflictException](inst3.commit(f))
  }

  test("DSv2 front door applies masks: SQL reads, pruning intact, obj_id injection") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    val df = spark.read.format("graft").option("path", inst.root).load()
    assert(df.orderBy("obj_id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 3L))
    // column-pruned read that drops obj_id still masks (injection path)
    assert(df.select("value").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10L, 30L))
    assert(df.agg(count("*")).head().getLong(0) == 2L)
    // time travel through the front door sees the pre-delete rows
    val v1 = spark.read.format("graft").option("path", inst.root)
      .option("versionAsOf", 1).load()
    assert(v1.count() == 3L)
  }

  test("CDC: a MoR delete commit reports exact delete rows; CDF stream is strict") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    val ch = inst.changes(1L, 2L).collect()
    assert(ch.length == 1)
    assert(ch.head.getAs[Long]("obj_id") == 2L &&
      ch.head.getAs[Long]("value") == 20L &&
      ch.head.getAs[String]("_change") == "delete")
    // a later CoW rewrite of the masked file must NOT re-report the
    // already-dead row
    val t2 = inst.begin()
    t2.update(Seq(1L), df => df.withColumn("value", col("value") * 2))
    inst.commit(t2)
    val ch2 = inst.changes(2L, 3L).collect()
    assert(ch2.map(_.getAs[String]("_change")).sorted.toSeq ==
      Seq("update_postimage", "update_preimage"))
    assert(ch2.forall(_.getAs[Long]("obj_id") == 1L))
    // the append-only change stream cannot represent a MoR delete
    val err = intercept[Exception] {
      val q = inst.readChangesStream().writeStream.format("memory")
        .queryName("dv_cdf_" + System.nanoTime())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def msgs(e: Throwable): String =
      if (e == null) "" else Option(e.getMessage).getOrElse("") + msgs(e.getCause)
    assert(msgs(err).contains("removes rows"))
  }

  test("restore un-deletes a MoR mask and re-publishes dv state") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    // restore past the delete: same file set, dv-only difference
    inst.restore(1L)
    assert(contents(inst) == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    // and restore FORWARD to the masked version re-applies the mask
    inst.restore(2L)
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
  }

  test("vacuum keeps live sidecars, sweeps materialized ones") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)),
      EngineConf(orphanGraceMs = 0L))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    // retention covers the dv version: sidecar must survive both phases
    inst.vacuum(retainVersions = 10)
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
    // compact materializes; shrink retention so the masked version
    // falls outside the horizon - the sidecar becomes reclaimable
    inst.compact()
    (1 to 12).foreach { i =>
      val tx = inst.begin()
      tx.insert(Seq((100L + i, i.toLong)).toDF("obj_id", "value"))
      inst.commit(tx)
    }
    inst.vacuum(retainVersions = 2)
    val dataFs = inst.fs.listStatus(inst.dataDir)
      .filter(_.isFile).map(_.getPath.getName)
    assert(!dataFs.exists(_.startsWith("dv-")),
      s"materialized sidecar not swept: ${dataFs.mkString(",")}")
    assert(contents(inst).size == 14)
  }

  test("checkpoint fold: dv state survives manifest checkpoints; deltas stay deltas") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    // push the log across at least one checkpoint with plain inserts
    (1 to 12).foreach { i =>
      val tx = inst.begin()
      tx.insert(Seq((100L + i, i.toLong)).toDF("obj_id", "value"))
      inst.commit(tx)
    }
    val head = inst.latestVersion
    val ckptV = (2L to head).find(v => inst.readManifest(v).checkpoint).get
    val ckpt = inst.readManifest(ckptV)
    // checkpoint carries the fold in allDvs, its own delta empty
    assert(ckpt.allDvs.nonEmpty && ckpt.dvs.isEmpty)
    // mask still applies reading across the checkpoint
    assert(!contents(inst).exists(_._1 == 2L))
    // insert-only commits never classify as deletes (delta field empty)
    assert(((ckptV + 1) to head).forall(v =>
      inst.readManifest(v).dvs.isEmpty))
  }

  test("updateMoR: point update masks the old row and inserts the new one") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val files1 = inst.stateAt(1L)._1
    val t = inst.begin()
    t.updateMoR(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t)
    assert(contents(inst) == Seq((1L, 10L), (2L, 200L), (3L, 30L)))
    // the original file was NOT rewritten — masked + one new file
    val st = inst.tableStateAt(inst.latestVersion)
    assert(files1.forall(st.inlineFiles.contains))
    assert(st.dvs.size == 1)
    // CDC classifies the pair as an update (same commit: pre+post)
    val ch = inst.changes(1L, 2L).orderBy("_change").collect()
    assert(ch.map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
      r.getAs[String]("_change"))).toSeq ==
      Seq((2L, 200L, "update_postimage"), (2L, 20L, "update_preimage")))
    // a second updateMoR composes on the txn-local state
    val t2 = inst.begin()
    t2.updateMoR(Seq(2L), df => df.withColumn("value", col("value") + 1))
    inst.commit(t2)
    assert(contents(inst) == Seq((1L, 10L), (2L, 201L), (3L, 30L)))
  }

  test("SQL point DELETE routes through MoR under spark.graft.mor.deletes") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gdv$tag"
    val wh = Files.createTempDirectory("graft_wh_dv_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.d.t (obj_id BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $cat.d.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.conf.set("spark.graft.mor.deletes", "true")
    try {
      spark.sql(s"DELETE FROM $cat.d.t WHERE obj_id = 2")
      assert(spark.sql(s"SELECT obj_id FROM $cat.d.t ORDER BY obj_id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
      val inst = VersionedTable.open(spark, wh + "/d/t")
      assert(inst.tableStateAt(inst.latestVersion).dvs.nonEmpty,
        "expected a deletion vector, not a CoW rewrite")
    } finally spark.conf.set("spark.graft.mor.deletes", "false")
  }

  test("SQL row-level UPDATE through the catalog reads through masks") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gdvu$tag"
    val wh = Files.createTempDirectory("graft_wh_dvu_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.u.t (obj_id BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $cat.u.t SELECT obj_id, value FROM VALUES " +
      "(1, 10), (2, 20), (3, 30) AS v(obj_id, value)")
    val inst = VersionedTable.open(spark, wh + "/u/t")
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    // the CoW rewrite scans whole files THROUGH the mask: id 2 must
    // not resurrect into the replacement file
    spark.sql(s"UPDATE $cat.u.t SET value = value + 1 WHERE value >= 10")
    assert(spark.sql(s"SELECT * FROM $cat.u.t ORDER BY obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (3L, 31L)))
    // masks on files the rewrite actually SCANNED are materialized
    // with the rewrite; a masked file the runtime group filter proved
    // irrelevant (its only live content is masked away) may keep its
    // vector — still invisible to readers, cleared by materializeDvs
    val leftover = inst.tableStateAt(inst.latestVersion).dvs
    assert(leftover.isEmpty || inst.materializeDvs() == leftover.size)
    assert(inst.tableStateAt(inst.latestVersion).dvs.isEmpty)
    assert(spark.sql(s"SELECT * FROM $cat.u.t ORDER BY obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 11L), (3L, 31L)), "no resurrection after materialization")
  }

  test("materializeDvs rewrites ONLY masked files; CALL system.materialize works") {
    val inst = mk(Seq((1L, 10L), (2L, 20L)))
    // a second, unmasked file that materialization must not touch
    val t0 = inst.begin()
    t0.insert(Seq((9L, 90L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t0)
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    val before = inst.tableStateAt(inst.latestVersion)
    val unmaskedFile = before.inlineFiles.filterNot(before.dvs.contains)
    assert(inst.materializeDvs() == 1)
    val after = inst.tableStateAt(inst.latestVersion)
    assert(after.dvs.isEmpty)
    // the unmasked file survived untouched; the masked one is gone
    assert(unmaskedFile.forall(after.inlineFiles.contains))
    assert(before.dvs.keys.forall(f => !after.inlineFiles.contains(f)))
    assert(contents(inst) == Seq((1L, 10L), (9L, 90L)))
    assert(inst.materializeDvs() == 0) // idempotent no-op when clean

    // and through SQL
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gdvm$tag"
    val wh = Files.createTempDirectory("graft_wh_dvm_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.m.t (obj_id BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $cat.m.t VALUES (1, 10), (2, 20)")
    spark.conf.set("spark.graft.mor.deletes", "true")
    try spark.sql(s"DELETE FROM $cat.m.t WHERE obj_id = 1")
    finally spark.conf.set("spark.graft.mor.deletes", "false")
    val n = spark.sql(s"CALL $cat.system.materialize('m.t')").head().getLong(0)
    assert(n >= 1L)
    val minst = VersionedTable.open(spark, wh + "/m/t")
    assert(minst.tableStateAt(minst.latestVersion).dvs.isEmpty)
    assert(spark.sql(s"SELECT obj_id FROM $cat.m.t").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("Z-order compaction on a masked table materializes and clusters") {
    val inst = mk((1L to 40L).map(i => (i, i * 10)))
    val t = inst.begin(); t.deleteMoR(Seq(7L, 23L)); inst.commit(t)
    assert(inst.compact(targetFiles = 4, clusterBy = Seq("obj_id", "value")) > 0)
    val st = inst.tableStateAt(inst.latestVersion)
    assert(st.dvs.isEmpty)
    assert(contents(inst).size == 38)
    assert(!contents(inst).exists(r => r._1 == 7L || r._1 == 23L))
    // cluster colStats landed on the rewritten files (secondary index
    // intact through the materializing rewrite)
    assert(st.colStats.nonEmpty)
  }

  test("concurrent MoR deletes on disjoint files converge under withRetry") {
    val inst = mk(Seq((1L, 10L)))
    // four more single-id files
    (2L to 5L).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i, i * 10)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val threads = (1L to 5L).map { i =>
      new Thread(() => {
        inst.withRetry(5) { txn => txn.deleteMoR(Seq(i)) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(contents(inst).isEmpty)
    // every file carries exactly one sidecar (disjoint targets never
    // clobbered each other)
    val st = inst.tableStateAt(inst.latestVersion)
    assert(st.dvs.size == 5 && st.dvs.values.forall(_.size == 1))
  }

  test("positional sidecars: dvp- names, ordinal precision") {
    // rows with IDENTICAL payloads: only the row ORDINAL can tell them
    // apart, so a mask that dropped the wrong row would corrupt silently
    val inst = mk(Seq((1L, 10L), (2L, 10L), (3L, 10L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    assert(contents(inst) == Seq((1L, 10L), (3L, 10L)))
    val st = inst.tableStateAt(2L)
    val sidecar = st.dvs.head._2.head
    assert(sidecar.startsWith("dvp-"), s"expected positional sidecar: $sidecar")
    // the mask is one ordinal, not an id list
    val mask = inst.resolveDvs(st.dvs, st.inlineFiles)(st.dvs.head._1)
    assert(mask.iterator.toSeq == Seq(1L))
  }

  test("two positional sidecars on one file both apply") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)))
    val file = inst.tableStateAt(1L).inlineFiles.head
    val a = inst.writeDvSidecarPos(Map(file -> GraftBitmap(Seq(1L))))
    val b = inst.writeDvSidecarPos(Map(file -> GraftBitmap(Seq(3L))))
    val both = inst.resolveDvs(Map(file -> Seq(a, b)), Seq(file))
    assert(both(file).iterator.toSeq == Seq(1L, 3L))
    // viewOf drops a row matched by EITHER sidecar: ordinal 1 (id 2)
    // and ordinal 3 (id 4)
    val seen = inst.viewOf(Seq(file), AcidQueries.schema.toDDL,
      Map(file -> Seq(a, b)))
      .orderBy("obj_id").collect().map(_.getLong(0)).toSeq
    assert(seen == Seq(1L, 3L))
  }

  test("masked reads register no session function") {
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
    // masks apply inside the scan's reader: reading a masked file
    // leaves the shared function registry untouched
    assert(!spark.catalog.functionExists("graft_pos_masked"))
  }

  test("sidecar integrity: corrupt dv fails loudly, never resurrects rows") {
    val inst = mk(Seq((1L, 10L), (2L, 20L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    val dvName = inst.tableStateAt(inst.latestVersion).dvs.head._2.head
    val p = java.nio.file.Paths.get(
      new java.net.URI(inst.root).getPath, "data", dvName)
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    // positional sidecar: flip one bitmap byte without touching the crc
    assert(dvName.startsWith("dvp-") && txt.contains("\"dvpBitmaps\""))
    val i = txt.indexOf("\"dvpBitmaps\":[\"") + "\"dvpBitmaps\":[\"".length
    val flipped = (txt.charAt(i + 1) ^ 1).toChar
    java.nio.file.Files.write(p,
      (txt.substring(0, i + 1) + flipped + txt.substring(i + 2))
        .getBytes("UTF-8"))
    // fresh instance (no warm cache) must refuse the torn sidecar
    val cold = VersionedTable.open(spark, inst.root)
    val e = intercept[Exception](cold.read().collect())
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + msgs(x.getCause)
    // the local FS's own checksum sidecar may trip before our payload
    // crc — either way the read fails LOUDLY instead of resurrecting
    assert(msgs(e).contains("integrity") || msgs(e).contains("Checksum"))
  }

  test("row-level rewrite conflicts when a scanned file's dv changed after scan-pin") {
    // the SQL CoW path pins its scan at table resolution but begins its
    // commit txn at the current head: a MoR mask landing in between
    // means the rewrite was planned against pre-mask rows — retiring
    // the file would silently resurrect the concurrently-deleted rows,
    // so replaceScanned must conflict on dv drift, not just liveness
    val inst = mk(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    val file = inst.stateAt(1L)._1.head
    val pinned = inst.tableStateAt(1L).dvs // scan-pin state: no masks
    assert(pinned.isEmpty)
    val d = inst.begin(); d.deleteMoR(Seq(2L)); inst.commit(d)
    val txn = inst.begin() // begins AFTER the mask landed
    val e = intercept[ConflictException] {
      txn.replaceScanned(Seq(file), Nil, pinned)
    }
    assert(e.getMessage.contains("deletion vectors"))
    inst.rollback(txn)
    // control: a scan pinned at the current head carries the dv entry
    // and passes the drift check (same liveness, matching masks)
    val txn2 = inst.begin()
    txn2.replaceScanned(Seq(file), Nil, inst.tableStateAt(2L).dvs)
    inst.rollback(txn2)
    // nothing was lost: the mask still applies
    assert(contents(inst) == Seq((1L, 10L), (3L, 30L)))
  }

  test("DSv2 scan exposes the pinned dv state the CoW commit checks against") {
    val inst = mk(Seq((1L, 10L), (2L, 20L)))
    val t = inst.begin(); t.deleteMoR(Seq(2L)); inst.commit(t)
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL(inst.stateAt(2L)._2)
    val scan = new GraftScan(inst, inst.tableStateAt(2L), Some(2L), schema, schema,
      Array.empty, wholeGroups = true)
    assert(scan.pinnedDvs == inst.tableStateAt(2L).dvs)
    assert(scan.pinnedDvs.nonEmpty)
  }
}
