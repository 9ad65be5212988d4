package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.acid.{AcidQueries, ConflictException, EngineConf, GraftScan, Txn, VersionedTable}

/** ACID-layer scenario tests mirroring the reference's E2E coverage
  * (instance.rs:599-762): visibility, snapshot isolation, rollback,
  * durability across reopen, vacuum, and the 4-thread concurrent
  * counter (instance.rs:724-758) under optimistic retry. */
class AcidSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_acid_").toUri.toString

  /** Files the scan of `t.read()` filtered to `column IN values` plans:
    * the transaction-local read's manifest pruning. */
  private def prunedBy(t: Txn, column: String, values: Seq[Long]): Seq[String] =
    t.read().filter(col(column).isin(values: _*)).queryExecution.optimizedPlan
      .collect { case r: DataSourceV2ScanRelation => r.scan }
      .collect { case g: GraftScan => g.prunedFiles }.flatten

  test("scenario: insert/update/delete/rollback/reopen") {
    val rows = AcidQueries.scenario(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((1L, 10L), (2L, 200L)))
  }

  test("snapshot isolation: pinned txn does not see later commits") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t1)

    val reader = inst.begin() // pins version 1
    val writer = inst.begin()
    writer.insert(Seq((2L, 2L)).toDF("obj_id", "value"))
    inst.commit(writer)

    assert(reader.read().count() == 1) // stable snapshot
    assert(inst.read().count() == 2)   // head sees the commit
    inst.refresh(reader)               // update_read_csn analog
    assert(reader.read().count() == 2)
  }

  test("write-write conflict on the same object aborts the loser") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((7L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)

    val a = inst.begin()
    val b = inst.begin()
    a.update(Seq(7L), df => df.withColumn("value", col("value") + 1))
    b.update(Seq(7L), df => df.withColumn("value", col("value") + 1))
    inst.commit(a)
    intercept[ConflictException] { inst.commit(b) }
    val v = inst.read().filter(col("obj_id") === 7).head().getLong(1)
    assert(v == 1L) // exactly one increment landed
  }

  test("conflict on the same FILE aborts the loser even for disjoint objects") {
    // copy-on-write rewrites whole files: two txns touching different
    // objects that share a file would republish stale copies of each
    // other's rows if only object ids were compared
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t0)

    val a = inst.begin()
    val b = inst.begin()
    a.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
    b.update(Seq(2L), df => df.withColumn("value", col("value") + 1))
    inst.commit(a)
    intercept[ConflictException] { inst.commit(b) }
    val state = inst.read().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 11L, 2L -> 20L)) // no resurrection, no dupes
  }

  test("concurrent counter: 4 threads x 10 increments via withRetry") {
    // the ergonomic path (reference: blocking lock wait with timeout,
    // tran_mgr.rs:85-127) — callers no longer hand-roll the retry loop
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)

    // surface any thread-side failure: a silently dead thread would
    // otherwise read as "lost increments" with zero diagnostics
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { _ =>
      new Thread(() => {
        try {
          (0 until 10).foreach { _ =>
            inst.withRetry(maxAttempts = 1000, backoffMs = 2) { t =>
              t.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
            }
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"worker failed: ${Option(errors.peek()).map { e =>
      e.toString + "\n" + e.getStackTrace.take(8).mkString("\n")
    }}")
    assert(inst.read().head().getLong(1) == 40L)
  }

  test("withRetry gives up after maxAttempts with the conflict surfaced") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)
    intercept[ConflictException] {
      inst.withRetry(maxAttempts = 2, backoffMs = 1) { t =>
        t.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
        // sabotage: another commit on the same object wins every time
        val rival = inst.begin()
        rival.update(Seq(1L), df => df.withColumn("value", col("value") + 10))
        inst.commit(rival)
      }
    }
  }

  test("read-your-own-writes: two deletes in one txn on a shared file") {
    // regression: delete/update used to read the PINNED snapshot, so a
    // second mutation in the same txn rewrote the original file again —
    // manifest removed=[F,F] added=[F1,F2] resurrected deleted rows and
    // duplicated survivors
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("obj_id", "value").coalesce(1)) // one file, three objects
    inst.commit(t0)

    val t = inst.begin()
    t.delete(Seq(1L))
    t.delete(Seq(2L))
    assert(t.read().collect().map(_.getLong(0)).toSet == Set(3L)) // RYOW
    inst.commit(t)
    val rows = inst.read().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq.sorted == Seq((3L, 30L))) // no resurrection, no dupes
  }

  test("read-your-own-writes: update then delete same object in one txn") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t0)

    val t = inst.begin()
    t.update(Seq(1L), df => df.withColumn("value", col("value") + 5))
    t.delete(Seq(1L))
    inst.commit(t)
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(2L -> 20L))
  }

  test("read-your-own-writes: insert visible to same-txn delete") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 1L), (2L, 2L)).toDF("obj_id", "value").coalesce(1))
    assert(t.read().count() == 2)
    t.delete(Seq(1L))
    inst.commit(t)
    assert(inst.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("object id allocation is bounded and non-overlapping") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t = inst.begin()
    val id = t.newObjectId()
    assert(id > 0 && (id & 0xFFFFF) == 1) // seq occupies the low 20 bits
  }

  test("vacuum reclaims unreferenced files, retained versions still read") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (1 to 5).foreach { i =>
      val t = inst.begin()
      if (i == 1) t.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
      else t.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
      inst.commit(t)
    }
    val head = inst.latestVersion
    val removed = inst.vacuum(retainVersions = 2)
    assert(removed > 0)
    assert(inst.snapshot(head).head().getLong(1) == 4L)
    assert(inst.snapshot(head - 1).head().getLong(1) == 3L)
  }

  test("checkpoint compaction: reads replay from the latest checkpoint") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (1 to 12).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    // checkpointInterval = 10 → v10 is a checkpoint manifest with the
    // full file list; reopening replays only v10..v12
    assert(inst.latestVersion == 12L)
    val reopened = VersionedTable.open(spark, dir)
    assert(reopened.read().count() == 12)
    assert(reopened.snapshot(10).count() == 10) // the checkpoint itself
    assert(reopened.snapshot(3).count() == 3)   // pre-checkpoint history
  }

  test("time travel: every retained version is readable") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    assert((0 to 3).map(inst.snapshot(_).count()).toSeq == Seq(0L, 1L, 2L, 3L))
  }

  test("point ops prune to the files whose id range can hold the target") {
    // 3 commits -> 3 files with disjoint id ranges recorded in manifests;
    // a 1-object update must consider exactly 1 candidate file
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    Seq(1L to 10L, 100L to 110L, 200L to 210L).foreach { r =>
      val t = inst.begin()
      t.insert(r.map(i => (i, i)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val probe = inst.begin()
    assert(probe.candidateFiles(Seq(105L)).size == 1,
      "manifest id-range stats must narrow a point op to one file")
    assert(probe.candidateFiles(Seq(105L, 205L)).size == 2)
    assert(probe.candidateFiles(Seq(999L)).isEmpty) // out of every range
    inst.rollback(probe)

    val t = inst.begin()
    t.update(Seq(105L), df => df.withColumn("value", col("value") * 2))
    inst.commit(t)
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state(105L) == 210L && state(1L) == 1L && state(205L) == 205L)
    assert(state.size == 32) // 10 + 11 + 11 rows, none lost or duplicated
  }

  test("bulk delete (10k ids) goes through the broadcast-join path") {
    // conf.idBroadcastThreshold default 1000 << 9000 ids: the predicate
    // must not expand into an isin literal list
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(spark.range(1, 10001).select(col("id").as("obj_id"),
      col("id").as("value")))
    inst.commit(t0)

    val t = inst.begin()
    t.delete((1L to 9000L))
    inst.commit(t)
    assert(inst.read().count() == 1000)
    assert(inst.read().agg(min("obj_id")).head.getLong(0) == 9001L)
  }

  test("EngineConf: checkpointInterval=2 produces checkpoint manifests at v2/v4") {
    val dir = freshDir()
    val conf = graft.acid.EngineConf(checkpointInterval = 2)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    (1 to 5).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    def manifest(v: Long) = VersionedTable.fromJson(java.nio.file.Files
      .readString(java.nio.file.Paths.get(new java.net.URI(dir).getPath,
        "_manifests", f"v$v%020d.json")))
    assert(manifest(2).checkpoint && manifest(4).checkpoint)
    assert(!manifest(3).checkpoint && !manifest(5).checkpoint)
    assert(manifest(4).allFiles.size == manifest(4).stats.size) // rolled forward
    // a reader opened with the same conf replays from v4, full history reads
    val reopened = VersionedTable.open(spark, dir, conf)
    assert((0 to 5).map(reopened.snapshot(_).count()).toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L, 5L))
  }

  test("vacuum with multiple checkpoints: bounded walk, retained reads intact") {
    val dir = freshDir()
    val conf = graft.acid.EngineConf(checkpointInterval = 2, orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    (1 to 7).foreach { i =>
      val t = inst.begin()
      if (i == 1) t.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
      else t.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
      inst.commit(t)
    }
    val head = inst.latestVersion // 7; checkpoints at v2, v4, v6
    // manifest phase alone (sweep off): retain 3 -> horizon v5,
    // governing checkpoint v4; v4's file (retired at v5) is reclaimed
    // without reading manifests v0..v3
    val removed = inst.vacuum(retainVersions = 3, sweepOrphans = false)
    assert(removed >= 1, "the file retired after the horizon checkpoint")
    assert(inst.snapshot(head).head().getLong(1) == 6L)
    assert(inst.snapshot(head - 1).head().getLong(1) == 5L)
    assert(inst.snapshot(head - 2).head().getLong(1) == 4L)
    // files retired BEFORE v4 are invisible to the bounded walk (they
    // were reclaimable by earlier vacuums); the disk-listing orphan
    // sweep is the backstop that gets them regardless of history
    Thread.sleep(20)
    val swept = inst.vacuum(retainVersions = 3, sweepOrphans = true)
    assert(swept >= 3, s"v1..v3's retired files, got $swept")
    assert(inst.snapshot(head).head().getLong(1) == 6L)
  }

  test("vacuum dead-set: restore re-adds, re-removals and segmented horizons all resolve O(churn)") {
    // adversarial churn for the window-derived dead set (vacuum no
    // longer materializes the horizon's full file list): a file
    // removed then RE-ADDED by restore must survive, a re-added file
    // removed AGAIN must die, and everything holds over a SEGMENTED
    // horizon checkpoint where membership is probed, not enumerated
    val dir = freshDir()
    val conf = graft.acid.EngineConf(checkpointInterval = 2,
      checkpointInlineFiles = 0, orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value")); inst.commit(t1) // v1
    val f1 = inst.stateAt(1L)._1.head
    val t2 = inst.begin()
    t2.insert(Seq((2L, 20L)).toDF("obj_id", "value")); inst.commit(t2) // v2 ckpt
    // v3: delete row 1 (f1 removed); v4: restore to v2 (f1 RE-ADDED)
    inst.withRetry() { t => t.delete(Seq(1L)) }                         // v3
    inst.restore(2L)                                                    // v4 ckpt
    // v5: delete row 1 AGAIN — f1 now dead for good
    inst.withRetry() { t => t.delete(Seq(1L)) }                         // v5
    (6 to 9).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    } // v6..v9 (ckpts at v6, v8 — all segmented)
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    def onDisk(rel: String): Boolean = hfs.exists(
      new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(dir, "data"), rel))
    assert(onDisk(f1))
    // retain 4 -> horizon v6 (segmented ckpt governs): the twice-
    // removed f1 is reclaimable, every retained snapshot stays exact
    inst.vacuum(retainVersions = 4)
    assert(!onDisk(f1), "twice-removed file must be reclaimed")
    assert(inst.read().count() == 5L) // rows 2,6,7,8,9
    ((inst.latestVersion - 3) to inst.latestVersion).foreach { v =>
      assert(inst.snapshot(v).count() >= 1L) // retained reads intact
    }
    // a restore WITHIN the window keeps its re-added target: rebuild
    // the scenario but vacuum while v4's re-add is inside retention
    val dir2 = freshDir()
    val i2 = VersionedTable.create(spark, dir2, AcidQueries.schema, conf)
    val s1 = i2.begin()
    s1.insert(Seq((1L, 10L)).toDF("obj_id", "value")); i2.commit(s1) // v1
    val g1 = i2.stateAt(1L)._1.head
    val s2 = i2.begin()
    s2.insert(Seq((2L, 20L)).toDF("obj_id", "value")); i2.commit(s2) // v2
    i2.withRetry() { t => t.delete(Seq(1L)) }                         // v3
    i2.restore(2L)                                                    // v4
    i2.vacuum(retainVersions = 2) // horizon v3: g1 re-added above it
    assert(hfs.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir2, "data"), g1)),
      "a file re-added above the horizon must survive vacuum")
    assert(i2.read().orderBy("obj_id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L, 2L))
  }

  test("a corrupted on-disk manifest is detected on read (R30 integration)") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t)
    val p = java.nio.file.Paths.get(new java.net.URI(dir).getPath,
      "_manifests", f"v${1L}%020d.json")
    val bytes = java.nio.file.Files.readAllBytes(p)
    // flip a byte inside the payload (not the crc suffix)
    bytes(bytes.length / 3) = (bytes(bytes.length / 3) ^ 0x01).toByte
    java.nio.file.Files.write(p, bytes)
    intercept[Exception] { VersionedTable.open(spark, dir).read().count() }
  }

  test("vacuum orphan sweep reclaims crashed-txn staging, spares live data") {
    val dir = freshDir()
    val conf = graft.acid.EngineConf(orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t0)

    // simulate a crash: a txn stages data and is never committed or
    // rolled back — its files are referenced by no manifest
    val crashed = inst.begin()
    crashed.insert(Seq((99L, 99L)).toDF("obj_id", "value"))
    Thread.sleep(20) // pass the (zero) grace with mtime strictly older
    val removed = inst.vacuum(retainVersions = 10, sweepOrphans = true)
    assert(removed > 0, "orphaned staging should be swept")
    assert(inst.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("vacuum orphan sweep reaches nested (partitioned) staging") {
    val dir = freshDir()
    val conf = graft.acid.EngineConf(orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t0)

    // a crashed PARTITIONED stage: orphan parquet nested in k=v dirs
    val crashed = inst.begin()
    crashed.evolveSchema() // the staged schema adds the partition column
    crashed.insertPartitioned(
      Seq((99L, 99L)).toDF("obj_id", "value")
        .withColumn("lang", lit("xx")), Seq("lang"))
    val orphan = new java.io.File(new java.net.URI(dir).getPath, "data")
      .listFiles.filter(_.getName.startsWith(f"t${crashed.tsn}%x-")).head
    assert(orphan.listFiles.exists(f => f.isDirectory &&
      f.getName.startsWith("lang=")), "premise: nested staging exists")
    Thread.sleep(20)
    val removed = inst.vacuum(retainVersions = 10, sweepOrphans = true)
    assert(removed > 0, "nested orphan parquet should be swept")
    assert(!orphan.exists, "the partitioned staging dir should be pruned")
    assert(inst.read().collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("readers never observe torn manifests while writers commit") {
    // regression for the create-then-write visibility window on POSIX:
    // a reader listing the log can open a manifest the writer has
    // created but not yet filled; readManifest must absorb that
    // transient instead of surfacing a parse/crc error
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)

    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var writing = true
    val writer = new Thread(() => {
      try {
        (0 until 12).foreach { i =>
          val t = inst.begin()
          t.insert(Seq((100L + i, i.toLong)).toDF("obj_id", "value"))
          inst.commit(t)
        }
      } catch { case e: Throwable => errors.add(e) }
      finally writing = false
    })
    val readers = (0 until 3).map { _ =>
      new Thread(() => {
        try while (writing) { inst.read().count(); () }
        catch { case e: Throwable => errors.add(e) }
      })
    }
    (readers :+ writer).foreach(_.start())
    (readers :+ writer).foreach(_.join())
    assert(errors.isEmpty, s"torn read surfaced: ${Option(errors.peek())}")
    assert(inst.read().count() == 13)
  }

  test("streaming foreachBatch sink: one commit per micro-batch, batch-equivalent") {
    // split sf0.001 events into 3 files -> maxFilesPerTrigger=1 gives 3
    // micro-batches -> 3 transactional commits (group-commit analog)
    val evDir = Files.createTempDirectory("graft_ev_split_")
    val events = Engine.table(spark, "/root/testdata/sf0.001", "events")
    events.repartition(3).write.mode("overwrite").parquet(evDir.toString)

    val raw = spark.read.parquet(evDir.toString)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(evDir.toString)

    val tableDir = freshDir()
    val inst = VersionedTable.create(spark, tableDir,
      raw.schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false))
    val v0 = inst.latestVersion
    val batches = graft.streaming.AcidSink.runInto(inst, stream, "event_id")
    assert(batches == 3, s"expected 3 micro-batches, got $batches")
    assert(inst.latestVersion == v0 + 3) // one commit per batch
    assert(inst.read().count() == events.count())
    // committed table agrees with the batch aggregate over the source
    val fromTable = inst.read().groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromBatch = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromTable == fromBatch)
  }

  test("streaming sink is an idempotent upsert: a replayed run converges") {
    // foreachBatch is at-least-once — simulate a full replay by running
    // the same bounded source through a SECOND query with no checkpoint
    // (every batch redelivered). delete-then-insert per batch must
    // converge to the same table state instead of double-inserting.
    val evDir = Files.createTempDirectory("graft_ev_replay_")
    val events = Engine.table(spark, "/root/testdata/sf0.001", "events")
    events.repartition(2).write.mode("overwrite").parquet(evDir.toString)
    val raw = spark.read.parquet(evDir.toString)
    def stream() = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(evDir.toString)

    val inst = VersionedTable.create(spark, freshDir(),
      raw.schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false))
    graft.streaming.AcidSink.runInto(inst, stream(), "event_id")
    val afterFirst = inst.read().count()
    graft.streaming.AcidSink.runInto(inst, stream(), "event_id") // replay
    assert(inst.read().count() == afterFirst, "replay must not double-insert")
    assert(afterFirst == events.count())
    val fromTable = inst.read().groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromBatch = events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromTable == fromBatch)
  }

  test("change feed: insert/update/delete recovered per version, compaction silent") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t1)                                  // v1: 3 inserts
    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t2)                                  // v2: update of 2
    val t3 = inst.begin()
    t3.delete(Seq(3L))
    inst.commit(t3)                                  // v3: delete of 3
    inst.compact()                                   // v4: layout only
    val head = inst.latestVersion

    def feed(from: Long, to: Long) =
      inst.changes(from, to).collect()
        .map(r => (r.getAs[Long]("_version"), r.getAs[String]("_change"),
          r.getAs[Long]("obj_id"), r.getAs[Long]("value"))).toSet

    assert(feed(0, head) == Set(
      (1L, "insert", 1L, 10L), (1L, "insert", 2L, 20L), (1L, "insert", 3L, 30L),
      (2L, "update_preimage", 2L, 20L), (2L, "update_postimage", 2L, 200L),
      (3L, "delete", 3L, 30L)))
    // tail from the middle: only later commits appear
    assert(feed(2, head) == Set((3L, "delete", 3L, 30L)))
    // compaction-only interval is empty but keeps the table's schema
    assert(feed(3, head).isEmpty)
    assert(inst.changes(3, head).columns.toSeq ==
      Seq("obj_id", "value", "_version", "_change"))
  }

  test("partitioned insert: values reconstructed, partition filter prunes to one scan") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val inst = VersionedTable.create(spark, freshDir(), schema)
    val t1 = inst.begin()
    t1.insertPartitioned(Seq(
      (1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "fr", 40L))
      .toDF("obj_id", "lang", "v"), Seq("lang"))
    inst.commit(t1)

    // full read reconstructs the partition column
    val all = inst.read().orderBy("obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[String]("lang")))
    assert(all.toSeq == Seq((1L, "en"), (2L, "de"), (3L, "en"), (4L, "fr")))

    // a partition predicate prunes by path: the one scan plans only
    // lang=en files (manifest-level pruning — the pruned partitions'
    // files are never even opened)
    val en = inst.read().filter(col("lang") === "en")
    assert(en.collect().map(_.getAs[Long]("obj_id")).sorted.toSeq == Seq(1L, 3L))
    val planned = graftLeaves(en).flatMap(_.prunedFiles)
    assert(graftLeaves(en).size == 1 && planned.nonEmpty &&
      planned.forall(_.contains("lang=en")), s"expected lang=en files only: $planned")

    // point update still prunes by footer stats and rewrites correctly
    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("v", col("v") + 1))
    inst.commit(t2)
    assert(inst.read().filter(col("obj_id") === 2L).collect()(0)
      .getAs[Long]("v") == 21L)
    assert(inst.read().count() == 4)
    // reopen: partition reconstruction survives recovery
    val again = VersionedTable.open(spark, inst.root).read()
    assert(again.filter(col("lang") === "en").count() == 2)
  }

  test("compaction restores partition layout after a CoW rewrite degraded it") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val inst = VersionedTable.create(spark, freshDir(), schema)
    val t1 = inst.begin()
    t1.insertPartitioned(Seq(
      (1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("obj_id", "lang", "v"), Seq("lang"))
    inst.commit(t1)
    // CoW update physicalizes lang in the rewritten file
    val t2 = inst.begin()
    t2.update(Seq(1L), df => df.withColumn("v", col("v") + 1))
    inst.commit(t2)
    def unpartitioned(): Seq[String] =
      inst.stateAt(inst.latestVersion)._1.filterNot(_.contains("lang="))
    // the rewritten file holds lang in its columns, not its path
    assert(unpartitioned().size == 1)

    inst.compact()
    // compaction re-applied partitionBy(lang): every file is in its
    // partition again, and the filter plans the lang=de file only
    assert(unpartitioned().isEmpty)
    val de = inst.read().filter(col("lang") === "de")
    val planned = graftLeaves(de).flatMap(_.prunedFiles)
    assert(planned.size == 1 && planned.forall(_.contains("lang=de")), planned)
    assert(de.collect().map(_.getAs[Long]("obj_id")).toSeq == Seq(2L))
    assert(inst.read().count() == 3)
    assert(inst.read().filter(col("obj_id") === 1L).collect()(0)
      .getAs[Long]("v") == 11L)
  }

  test("partition values with spaces and hive-escaped chars round-trip") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("source", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val inst = VersionedTable.create(spark, freshDir(), schema)
    val t1 = inst.begin()
    t1.insertPartitioned(Seq(
      (1L, "common crawl", 10L),   // space in the dir name
      (2L, "web:2024", 20L),       // ':' — hive-escaped to %3A on disk
      (3L, null, 30L))             // __HIVE_DEFAULT_PARTITION__
      .toDF("obj_id", "source", "v"), Seq("source"))
    inst.commit(t1)
    val rows = inst.read().orderBy("obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), Option(r.getAs[String]("source"))))
    assert(rows.toSeq == Seq(
      (1L, Some("common crawl")), (2L, Some("web:2024")), (3L, None)))
    // the special-char files survive a vacuum (referenced = on-disk name)
    inst.vacuum(retainVersions = 10)
    assert(inst.read().count() == 3)
    // and a point op on them still works
    val t2 = inst.begin()
    t2.delete(Seq(2L))
    inst.commit(t2)
    assert(inst.read().count() == 2)
  }

  test("concurrent partitioned inserts of disjoint partitions both commit") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val inst = VersionedTable.create(spark, freshDir(), schema)
    val a = inst.begin()
    val b = inst.begin()
    a.insertPartitioned(Seq((1L, "en", 10L)).toDF("obj_id", "lang", "v"),
      Seq("lang"))
    b.insertPartitioned(Seq((2L, "de", 20L)).toDF("obj_id", "lang", "v"),
      Seq("lang"))
    inst.commit(a)
    inst.commit(b) // disjoint objects and files: no conflict
    val rows = inst.read().orderBy("obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[String]("lang")))
    assert(rows.toSeq == Seq((1L, "en"), (2L, "de")))
  }

  test("restore rolls back to an old version as a new commit, history intact") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val good = inst.latestVersion
    val t2 = inst.begin()
    t2.update(Seq(1L), df => df.withColumn("value", lit(-1L)))
    inst.commit(t2)
    val t3 = inst.begin()
    t3.delete(Seq(2L))
    inst.commit(t3)
    assert(inst.read().count() == 1)

    val restored = inst.restore(good)
    assert(restored > inst.snapshot(good).count()) // new head, not a rewrite
    val now = inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(now.toSeq == Seq((1L, 10L), (2L, 20L)))
    // the undone versions remain time-travelable (history not rewritten)
    assert(inst.snapshot(good + 1).filter(col("obj_id") === 1L)
      .collect()(0).getLong(1) == -1L)
    // restoring again is a no-op (already at the target state)
    assert(inst.restore(good) == restored)
    // reopen: the restore survives recovery
    assert(VersionedTable.open(spark, inst.root).read().count() == 2)
  }

  test("restore refuses a vacuumed target loudly") {
    val conf = graft.acid.EngineConf(checkpointInterval = 100)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      conf)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val old = inst.latestVersion
    val t2 = inst.begin()
    t2.update(Seq(1L), df => df.withColumn("value", lit(2L)))
    inst.commit(t2)
    val t3 = inst.begin()
    t3.update(Seq(1L), df => df.withColumn("value", lit(3L)))
    inst.commit(t3)
    inst.vacuum(retainVersions = 1)
    val e = intercept[IllegalStateException] { inst.restore(old) }
    assert(e.getMessage.contains("vacuumed"))
    // the failed restore must not have disturbed the head
    assert(inst.read().collect()(0).getLong(1) == 3L)
  }

  test("clustered compaction makes point-op pruning exact (one file per id)") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    // two interleaved single-file inserts: BOTH files span nearly the
    // full id range, so range pruning can never narrow a point op
    // below 2 files
    val t1 = inst.begin()
    t1.insert((1L to 99L by 2).map(i => (i, i * 10))
      .toDF("obj_id", "value").repartition(1))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.insert((2L to 100L by 2).map(i => (i, i * 10))
      .toDF("obj_id", "value").repartition(1))
    inst.commit(t2)
    val before = inst.begin()
    assert(before.candidateFiles(Seq(50L)).size >= 2)
    inst.rollback(before)

    assert(inst.compact(4, clusterByObjId = true) > 0)
    // disjoint ranges: any single id now resolves to exactly one file
    val after = inst.begin()
    Seq(1L, 50L, 100L).foreach { id =>
      assert(after.candidateFiles(Seq(id)).size == 1,
        s"id $id not pruned to one file")
    }
    inst.rollback(after)
    // content unchanged
    assert(inst.read().count() == 100)
    assert(inst.read().agg(sum("value")).collect()(0).getLong(0) ==
      (1L to 100L).map(_ * 10).sum)
  }

  test("universal footer stats: never-clustered columns prune with no compaction") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, k2 BIGINT, value BIGINT")
    val inst = VersionedTable.create(spark, freshDir(), schema)
    // four commits with disjoint k2 ranges, NEVER compacted or
    // clustered: only the automatic write-time footer stats can prune
    (0 until 4).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 100).map(j => (i * 100L + j, i * 1000L + j, j.toLong))
        .toDF("obj_id", "k2", "value").coalesce(1))
      inst.commit(t)
    }
    val t = inst.begin()
    try {
      val byK2 = prunedBy(t, "k2", Seq(2050L))
      assert(byK2.size == 1, s"k2 prune gave ${byK2.size}/4 files — " +
        "universal stats not consulted")
      val rw = inst.readWhere("k2", Seq(2050L))
      assert(rw.collect().map(_.getLong(0)).toSeq == Seq(250L))
    } finally inst.rollback(t)
    // the stats survive a checkpoint roll-forward (fileStats fold like
    // the primary index: checkpoints carry the full map)
    (1 to 12).foreach { i =>
      val tx = inst.begin()
      tx.insert(Seq((10000L + i, 99999L, 0L)).toDF("obj_id", "k2", "value")
        .coalesce(1))
      inst.commit(tx)
    }
    val reopened = VersionedTable.open(spark, inst.root)
    val t2 = reopened.begin()
    try {
      val byK2 = prunedBy(t2, "k2", Seq(2050L))
      assert(byK2.size == 1,
        s"k2 prune after checkpoint gave ${byK2.size} files")
    } finally reopened.rollback(t2)
  }

  test("Z-order compaction: point-ops prune on the SECONDARY key too") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, k2 BIGINT, value BIGINT")
    val inst = VersionedTable.create(spark, freshDir(), schema)
    // k2 decorrelated from obj_id (Knuth multiplicative hash), so a
    // plain obj_id cluster leaves every file spanning k2's full range
    val n = 4096
    def k2Of(i: Long): Long = (i * 2654435761L) % 4096
    val t0 = inst.begin()
    t0.insert((1L to n).map(i => (i, k2Of(i), i * 10))
      .toDF("obj_id", "k2", "value").repartition(4))
    inst.commit(t0)

    val replaced = inst.compact(targetFiles = 8, clusterBy = Seq("obj_id", "k2"))
    assert(replaced == 4)
    val snap = inst.read()
    assert(snap.count() == n.toLong, "clustering must not change content")
    val files = inst.stateAt(inst.latestVersion)._1
    assert(files.size == 8)

    val t = inst.begin()
    try {
      // PRIMARY pruning intact: an obj_id point op opens few files
      val byId = t.candidateFiles(Seq(1234L))
      assert(byId.size <= 6, s"obj_id prune gave ${byId.size}/8 files")
      // SECONDARY pruning now works: a k2 point op must NOT need every
      // file (Z-order bounds each file's k2 extent; the manifest's
      // colStats carry it)
      val byK2 = prunedBy(t, "k2", Seq(2000L))
      assert(byK2.size < 8, s"k2 prune gave ${byK2.size}/8 files — no pruning")
      assert(byK2.size <= 5, s"k2 prune gave ${byK2.size}/8 files — Z-extent too wide")
      // and the pruned set is SOUND: the k2 rows all live in candidates
      val withFile = inst.read()
        .withColumn("_f", org.apache.spark.sql.functions.input_file_name())
        .filter(col("k2") === 2000L).select("_f").distinct()
        .collect().map(_.getString(0))
      assert(withFile.forall(uri => byK2.exists(uri.contains)),
        "a file holding k2=2000 was wrongly pruned")
      // end-to-end: the pruned read returns exactly the right rows and
      // its plan scans only the candidate files
      val rw = inst.readWhere("k2", Seq(2000L))
      assert(rw.collect().map(_.getLong(0)).sorted.toSeq ==
        (1L to n).filter(k2Of(_) == 2000L).sorted)
      assert(byK2.size < files.size, "premise: pruning happened")
    } finally inst.rollback(t)

    // the stats survive a checkpoint roll-forward (colStats compose
    // like the primary index across later commits)
    (1 to 12).foreach { i =>
      val tx = inst.begin()
      tx.insert(Seq((100000L + i, 9999L, 0L)).toDF("obj_id", "k2", "value")
        .coalesce(1))
      inst.commit(tx)
    }
    val t2 = inst.begin()
    try {
      val byK2 = prunedBy(t2, "k2", Seq(2000L))
      // 8 clustered files still pruned; the 12 new un-clustered files
      // have no k2 stats and stay candidates (sound, not wrong)
      assert(byK2.count(files.contains) <= 5,
        "colStats lost across checkpoint roll-forward")
    } finally inst.rollback(t2)

    // colStats survive a RESTORE (re-added files bring their secondary
    // ranges back, like the primary stats)
    val clusteredV = 1L + 1L // v1 insert, v2 = compact commit
    inst.restore(clusteredV)
    val t3 = inst.begin()
    try {
      assert(prunedBy(t3, "k2", Seq(2000L)).size <= 5,
        "restore dropped the secondary cluster stats")
    } finally inst.rollback(t3)

    // a typo'd cluster column fails loudly, nothing staged
    val e = intercept[IllegalArgumentException] {
      inst.compact(targetFiles = 4, clusterBy = Seq("obj_id", "nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("history lists every commit with its deltas and checkpoint flag") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t2)
    inst.compact()
    val h = inst.history().orderBy("version").collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(h(0).getAs[Boolean]("checkpoint")) // create = initial checkpoint
    assert(h(1).getAs[Long]("n_objects") == 2L) // first insert
    assert(h(2).getAs[Long]("n_objects") == 1L) // second insert
    assert(h(3).getAs[Long]("n_objects") == 0L) // compaction: layout only
    assert(h(3).getAs[Long]("n_removed_files") > 0L)
  }

  test("change feed maintains an incremental aggregate equal to recompute") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("obj_id", "value"))
    inst.commit(t1)
    val viewedAt = inst.latestVersion
    // materialize the view once at viewedAt
    var viewSum = inst.snapshot(viewedAt).agg(sum("value")).collect()(0).getLong(0)

    val t2 = inst.begin()
    t2.update(Seq(2L, 3L), df => df.withColumn("value", col("value") + 5))
    inst.commit(t2)
    val t3 = inst.begin()
    t3.delete(Seq(1L))
    inst.commit(t3)
    val t4 = inst.begin()
    t4.insert(Seq((5L, 500L)).toDF("obj_id", "value"))
    inst.commit(t4)
    inst.compact()

    // refresh incrementally: +postimages/inserts, -preimages/deletes —
    // the CDF consumer pattern (no snapshot rescan)
    val delta = inst.changes(viewedAt, inst.latestVersion)
      .withColumn("signed", when(
        col("_change").isin("insert", "update_postimage"), col("value"))
        .otherwise(-col("value")))
      .agg(sum("signed")).collect()(0).getLong(0)
    viewSum += delta
    val recomputed = inst.read().agg(sum("value")).collect()(0).getLong(0)
    assert(viewSum == recomputed)
  }

  test("change feed spans schema evolution with nulls for missing columns") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t1 = inst.begin()
    t1.evolveSchema()
    t1.insert(Seq((2L, 20L, "tagged")).toDF("obj_id", "value", "tag"))
    inst.commit(t1)
    val rows = inst.changes(0, inst.latestVersion)
      .orderBy("obj_id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("tag")))
    assert(rows(1).getAs[String]("tag") == "tagged")
  }

  test("schema evolution: a widening insert adds a column, history keeps its schema") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val narrowVersion = inst.latestVersion

    // widening insert: manifests record the new DDL; earlier files
    // simply lack the column and read as null (parquet schema merge).
    // Evolution is opt-in (a typo'd rename must never silently swap
    // the schema), so the txn declares it.
    val t1 = inst.begin()
    t1.evolveSchema()
    t1.insert(Seq((2L, 20L, "tagged")).toDF("obj_id", "value", "tag"))
    inst.commit(t1)

    val now = inst.read().orderBy("obj_id").collect()
    assert(now.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(now(0).isNullAt(2) && now(1).getString(2) == "tagged")
    // time travel reads the OLD schema at the old version
    assert(!inst.snapshot(narrowVersion).columns.contains("tag"))
    assert(inst.snapshot(narrowVersion).count() == 1)
  }

  test("upsert merges by key: replaces overlaps, inserts new, idempotent") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t0)

    val t1 = inst.begin()
    t1.upsert(Seq((2L, 99L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 10L, 2L -> 99L, 3L -> 30L))

    // replaying the identical upsert converges to the same state
    val t2 = inst.begin()
    t2.upsert(Seq((2L, 99L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t2)
    val replayed = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == state)
    assert(inst.read().count() == 3)
  }

  test("merge: clause precedence — delete-where, update-where, keep, insert") {
    val out = AcidQueries.mergeScenario(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // 2 matched but failed the update condition (pre-image kept),
    // 3 hit the delete clause, 4 updated 40+100=140, 5 inserted
    assert(out.toSeq == Seq((1L, 10L), (2L, 20L), (4L, 140L), (5L, 50L)))
  }

  test("merge: duplicate source keys are rejected before any write") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t1 = inst.begin()
    val e = intercept[IllegalArgumentException] {
      t1.merge(Seq((1L, 1L), (1L, 2L)).toDF("obj_id", "value"),
        matchedUpdate = Map("value" -> col("s.value")))
    }
    assert(e.getMessage.contains("duplicate obj_id"))
    inst.rollback(t1)
    assert(inst.read().head().getLong(1) == 10L) // nothing landed
  }

  test("merge: concurrent merges of the same key conflict, loser retries clean") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val a = inst.begin(); val b = inst.begin()
    def inc(t: graft.acid.Txn): Unit = t.merge(
      Seq((1L, 1L)).toDF("obj_id", "value"),
      matchedUpdate = Map("value" -> (col("t.value") + col("s.value"))))
    inc(a); inc(b)
    inst.commit(a)
    intercept[ConflictException] { inst.commit(b) }
    assert(inst.read().head().getLong(1) == 1L) // exactly one increment
  }

  test("merge: insert-only form (no matched clauses) rewrites no base file") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t1 = inst.begin()
    // 1 matches (and must survive untouched), 9 inserts
    t1.merge(Seq((1L, 111L), (9L, 90L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 10L, 2L -> 20L, 9L -> 90L))
    // insert-if-absent must be append-only: the merge commit removed nothing
    val h = inst.history().filter(col("version") === 2).head()
    assert(h.getAs[Long]("n_removed_files") == 0L)
  }

  test("merge: a merge that changes no row publishes no version") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val head = inst.latestVersion
    // (a) empty source
    val ta = inst.begin()
    ta.merge(Seq.empty[(Long, Long)].toDF("obj_id", "value"))
    assert(inst.commit(ta) == head)
    assert(inst.latestVersion == head)
    // (b) every key matches, no matched clause, insertUnmatched: there
    // is nothing to update, delete or insert
    val tb = inst.begin()
    tb.merge(Seq((1L, 111L), (2L, 222L)).toDF("obj_id", "value"),
      insertUnmatched = true)
    assert(inst.commit(tb) == head)
    assert(inst.latestVersion == head)
    assert(inst.read().collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap == Map(1L -> 10L, 2L -> 20L))
  }

  test("merge: change feed classifies update/delete/insert per clause") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t1 = inst.begin()
    t1.merge(Seq((2L, 5L), (3L, -1L), (4L, 40L)).toDF("obj_id", "value"),
      matchedDelete = Some(col("s.value") < 0),
      matchedUpdate = Map("value" -> col("s.value")))
    inst.commit(t1)
    val feed = inst.changes(1, 2).collect()
      .map(r => (r.getAs[String]("_change"), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    assert(feed.toSeq == Seq(
      ("delete", 3L, 30L),
      ("insert", 4L, 40L),
      ("update_postimage", 2L, 5L),
      ("update_preimage", 2L, 20L)))
  }

  test("merge: read-your-own-writes — same-txn insert is merge-visible") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    t.merge(Seq((1L, 5L), (2L, 20L)).toDF("obj_id", "value"),
      matchedUpdate = Map("value" -> (col("t.value") + col("s.value"))))
    inst.commit(t)
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 15L, 2L -> 20L)) // update saw the staged row
  }

  test("compact: folds small files into one commit, history intact") {
    val dir = freshDir()
    val conf = graft.acid.EngineConf(orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    (1 to 4).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val preCompact = inst.latestVersion
    assert(inst.stateAt(preCompact)._1.size == 4)
    val replaced = inst.compact()
    assert(replaced == 4)
    val head = inst.latestVersion
    assert(inst.stateAt(head)._1.size == 1, "one compacted file")
    // content identical, pre-compaction snapshot still time-travels
    val now = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(now == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> 40L))
    assert(inst.snapshot(preCompact).count() == 4)
    assert(inst.snapshot(2).count() == 2)
    // compacting a compacted table is a no-op
    assert(inst.compact() == 0)
    assert(inst.latestVersion == head)
    // obj-id range stats carry over: point ops still prune to 1 file
    val probe = inst.begin()
    assert(probe.candidateFiles(Seq(2L)).size == 1)
    inst.rollback(probe)
    // once retention passes the compaction, vacuum reclaims the originals
    Thread.sleep(20)
    val removed = inst.vacuum(retainVersions = 1)
    assert(removed >= 4, s"pre-compaction files reclaimed, got $removed")
    assert(inst.read().count() == 4)
  }

  test("compact conflicts with a concurrent rewrite of the same files") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 1L), (2L, 2L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t0)
    val t1 = inst.begin()
    t1.insert(Seq((3L, 3L)).toDF("obj_id", "value").coalesce(1))
    inst.commit(t1)

    // a rewriting txn pinned BEFORE the compaction commit must lose:
    // its file set was republished by compact
    val rewriter = inst.begin()
    assert(inst.compact() == 2)
    rewriter.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
    intercept[ConflictException] { inst.commit(rewriter) }
    // a concurrent INSERT (disjoint objects, no removed files) is fine
    val t2 = inst.begin()
    t2.insert(Seq((4L, 4L)).toDF("obj_id", "value"))
    inst.commit(t2)
    assert(inst.read().count() == 4)
  }

  test("maintenance loop: stream in, compact, vacuum — data identical throughout") {
    // the lakehouse operating cycle the pieces exist for: micro-batch
    // commits accrete small files, compact folds them, vacuum reclaims
    // the replaced originals once retention passes
    val evDir = Files.createTempDirectory("graft_ev_loop_")
    val events = Engine.table(spark, "/root/testdata/sf0.001", "events")
    events.repartition(3).write.mode("overwrite").parquet(evDir.toString)
    val raw = spark.read.parquet(evDir.toString)
    val stream = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(evDir.toString)

    val conf = graft.acid.EngineConf(orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, freshDir(),
      raw.schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false), conf)
    graft.streaming.AcidSink.runInto(inst, stream, "event_id")
    val total = events.count()
    assert(inst.read().count() == total)
    val filesBefore = inst.stateAt(inst.latestVersion)._1.size
    assert(filesBefore >= 3, s"expected >=3 small files, got $filesBefore")

    assert(inst.compact() == filesBefore)
    assert(inst.stateAt(inst.latestVersion)._1.size == 1)
    assert(inst.read().count() == total)

    Thread.sleep(20)
    val reclaimed = inst.vacuum(retainVersions = 1)
    assert(reclaimed >= filesBefore, s"originals reclaimed, got $reclaimed")
    assert(inst.read().count() == total)
    // and the table still accepts new commits afterwards
    inst.withRetry() { txn =>
      txn.delete(Seq(inst.read().select("obj_id").head().getLong(0)))
    }
    assert(inst.read().count() == total - 1)
  }

  test("streaming sink checkpoint: a restarted query re-delivers nothing") {
    val evDir = Files.createTempDirectory("graft_ev_ckpt_")
    val events = Engine.table(spark, "/root/testdata/sf0.001", "events")
    events.repartition(2).write.mode("overwrite").parquet(evDir.toString)
    val raw = spark.read.parquet(evDir.toString)
    def stream() = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(evDir.toString)
    val ckpt = Files.createTempDirectory("graft_sink_ckpt_").toString

    val inst = VersionedTable.create(spark, freshDir(),
      raw.schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false))
    val first = graft.streaming.AcidSink
      .runInto(inst, stream(), "event_id", Some(ckpt))
    assert(first == 2)
    // same checkpoint, unchanged source: the engine knows every file is
    // committed, so no batch fires and no commit happens
    val vHead = inst.latestVersion
    val second = graft.streaming.AcidSink
      .runInto(inst, stream(), "event_id", Some(ckpt))
    assert(second == 0, s"restart redelivered $second batches")
    assert(inst.latestVersion == vHead)
    assert(inst.read().count() == events.count())
  }

  test("streaming restart: checkpoint resume processes only appended data, exactly-once") {
    // the reference's raison d'être — recovery replay (instance.rs:
    // 221-304): a stopped stream restarted from its checkpoint must
    // pick up exactly where it left off, and the final ACID table must
    // equal the all-at-once batch result with no duplicate obj_ids
    val srcDir = Files.createTempDirectory("graft_resume_src_")
    val ckpt = Files.createTempDirectory("graft_resume_ckpt_").toString
    def writeFile(ids: Range): Unit =
      ids.map(i => (i.toLong, i.toLong)).toDF("event_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    writeFile(1 to 50)
    writeFile(51 to 100)
    val schema = spark.read.parquet(srcDir.toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)

    val inst = VersionedTable.create(spark, freshDir(),
      schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false))
    // run 1: processes the two files present, then stops
    val run1 = graft.streaming.AcidSink
      .runInto(inst, stream(), "event_id", Some(ckpt))
    assert(run1 == 2, s"expected 2 micro-batches, got $run1")
    assert(inst.read().count() == 100)
    val vAfterRun1 = inst.latestVersion

    // append more source files AFTER the stream stopped, then restart
    // from the same checkpoint: only the suffix is (re)delivered
    writeFile(101 to 150)
    val run2 = graft.streaming.AcidSink
      .runInto(inst, stream(), "event_id", Some(ckpt))
    assert(run2 == 1, s"resume should deliver exactly the new file, got $run2")
    assert(inst.latestVersion == vAfterRun1 + 1,
      "exactly one commit for the one resumed batch")

    // final table == the full batch result: every id once, correct sum
    val rows = inst.read()
    assert(rows.count() == 150)
    assert(rows.select("obj_id").distinct().count() == 150, "no duplicate obj_ids")
    val got = rows.agg(sum("value")).collect()(0).getLong(0)
    assert(got == (1 to 150).map(_.toLong).sum)
  }

  test("streaming restart: a crash mid-run replays the unfinished batch and converges") {
    // crash injected AFTER the table commit but BEFORE the engine logs
    // the batch as complete — the at-least-once window foreachBatch
    // leaves open. Restart must replay that batch; the idempotent
    // upsert makes the replay converge instead of double-inserting
    // (reference analog: WAL replay of records past the last
    // checkpoint, log_mgr/io.rs:260-289).
    val srcDir = Files.createTempDirectory("graft_crash_src_")
    val ckpt = Files.createTempDirectory("graft_crash_ckpt_").toString
    (0 until 3).foreach { f =>
      val lo = f * 10 + 1
      (lo until lo + 10).map(i => (i.toLong, i.toLong))
        .toDF("event_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    }
    val schema = spark.read.parquet(srcDir.toString).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
    val inst = VersionedTable.create(spark, freshDir(),
      schema.add("obj_id", org.apache.spark.sql.types.LongType,
        nullable = false))

    // run 1: commit each batch to the table, then die inside batch 1 —
    // after its table commit, before its checkpoint commit
    val q = stream().writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        inst.withRetry() { t =>
          t.upsert(batch.withColumn("obj_id", col("event_id")))
        }
        if (batchId == 1) throw new RuntimeException("injected crash")
        ()
      }
      .start()
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    // batch 1's rows ARE in the table (commit preceded the crash) but
    // the engine never marked the batch done
    assert(inst.read().count() == 20)

    // restart from the checkpoint: batch 1 replays (converging via
    // upsert), batch 2 runs fresh
    val resumed = graft.streaming.AcidSink
      .runInto(inst, stream(), "event_id", Some(ckpt))
    assert(resumed == 2, s"replay of batch 1 + fresh batch 2, got $resumed")
    val rows = inst.read()
    assert(rows.count() == 30)
    assert(rows.select("obj_id").distinct().count() == 30, "no duplicate obj_ids")
    assert(rows.agg(sum("value")).collect()(0).getLong(0)
      == (1 to 30).map(_.toLong).sum)
  }

  test("stateful streaming: RocksDB state store active, checkpoint resume keeps state") {
    // the stream session's stateful operators must run on RocksDB (the
    // scale-correct default — executor-heap state dies first at 100 TB)
    // AND a restarted query must RELOAD that state from the checkpoint:
    // keys deduped before the stop stay suppressed after the resume.
    val ss = graft.streaming.EventStreams.streamSession(spark)
    assert(ss.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val srcDir = Files.createTempDirectory("graft_rocks_src_")
    val ckpt = Files.createTempDirectory("graft_rocks_ckpt_").toString
    def writeFile(ids: Seq[Long]): Unit =
      ids.map(i => (i, i)).toDF("event_id", "value")
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
    writeFile((1L to 50L) ++ (1L to 10L)) // in-run duplicates too
    val schema = spark.read.parquet(srcDir.toString).schema
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val redelivered = new java.util.concurrent.atomic.AtomicLong(0)
    def run(): Unit = {
      val q = ss.readStream.schema(schema).parquet(srcDir.toString)
        .dropDuplicates("event_id")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            if (!seen.add(r.getLong(0))) redelivered.incrementAndGet()
          }
          ()
        }
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(seen.size == 50, s"expected ids 1..50 once, got ${seen.size}")
    // the checkpoint really carries RocksDB artifacts (zip snapshots /
    // changelogs), not the HDFS provider's flat .delta files
    val stateDir = java.nio.file.Paths.get(ckpt, "state")
    val walk = java.nio.file.Files.walk(stateDir)
    val names = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.map(_.getFileName.toString).toSet
    } finally walk.close()
    assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB snapshot artifacts under $stateDir: $names")

    writeFile(30L to 80L) // 30..50 were already delivered before the stop
    run()
    assert(redelivered.get() == 0,
      "resumed RocksDB state failed to suppress keys deduped before the restart")
    assert(seen.size == 80, s"expected ids 1..80 once, got ${seen.size}")
  }

  // shared 110-commit table: head-pointer, history, and change-feed
  // scale tests all read it (built once — each commit is a real insert)
  private lazy val manyCommits: (graft.acid.Instance, Int) = {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val n = 110
    (1 to n).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    (inst, n)
  }

  test("head pointer: resolution probes O(log checkpointInterval), never a full listing") {
    val (inst, n) = manyCommits
    val (head, probes) = inst.resolveHead()
    assert(head == n.toLong)
    assert(probes >= 0, "the _head hint must be used (probes = -1 marks the listing fallback)")
    // galloping probe: ~2*log2(distance)+2, distance <= interval
    val bound = 2 * (64 - java.lang.Long.numberOfLeadingZeros(
      inst.checkpointInterval.toLong)) + 2
    assert(probes <= bound,
      s"head resolution probed $probes manifests (log-probe bound $bound)")
  }

  test("metadata RPC contracts: ranged history, roll-forward changes, galloping probe") {
    // counted by a wrapping FS — on an object store each manifest open
    // is a ~10ms RPC, so these bounds ARE the admin-surface latency
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[graft.acid.CountingManifestFs].getName)
    val dir = "cfs://" + Files.createTempDirectory("graft_cfs_").toString
    val conf = graft.acid.EngineConf(checkpointInterval = 10)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    (1 to 55).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val opens = graft.acid.CountingManifestFs.manifestOpens

    // ranged history: exactly the asked manifests, zero prefix reads.
    // The parsed-manifest cache is dropped first: these bounds pin the
    // COLD read discipline (what a fresh reader pays on an object
    // store), which the cache would otherwise hide.
    inst.dropManifestCacheForTest()
    opens.set(0)
    val h = inst.history(50, 55).collect()
    assert(h.map(_.getLong(0)).sorted.toSeq == (50L to 55L))
    assert(opens.get == 6, s"history(50,55) opened ${opens.get} manifests, expected 6")

    // changes: ONE checkpoint walk seeds the pre-image schema, then one
    // read per version — O(interval + range), not O(range * interval)
    inst.dropManifestCacheForTest()
    opens.set(0)
    val feed = inst.changes(44, 54)
    val expected = conf.checkpointInterval + (54 - 44) + 1
    assert(opens.get <= expected,
      s"changes(44,54) opened ${opens.get} manifests (bound $expected; " +
      "the old per-version stateAt walk cost ~60)")
    assert(feed.filter(col("_change") === "insert").count() == 10)
    assert(feed.select("obj_id").distinct().count() == 10)

    // galloping head probe: force a MAXIMALLY stale (but valid) hint and
    // resolve — O(log distance) exists-probes, where serial cost 56
    val headFile = java.nio.file.Paths.get(
      dir.stripPrefix("cfs://"), "_manifests", "_head")
    val crc = { val c = new java.util.zip.CRC32; c.update("0".getBytes); c.getValue }
    java.nio.file.Files.writeString(headFile, s"0 $crc")
    val (head, probes) = inst.resolveHead()
    assert(head == 55L)
    assert(probes <= 14, s"stale-hint gallop probed $probes times (~2*log2(55)+2)")
  }

  test("head pointer: a missing or corrupt _head falls back to the listing") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (1 to 5).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val headFile = new java.io.File(
      new java.net.URI(dir).getPath, "_manifests/_head")
    assert(headFile.exists, "premise: create wrote the hint")
    assert(headFile.delete())
    assert(inst.resolveHead() == (5L, -1), "missing hint -> listing fallback")
    java.nio.file.Files.writeString(headFile.toPath, "garbage not-a-crc")
    assert(inst.resolveHead() == (5L, -1), "corrupt hint -> listing fallback")
    assert(inst.read().count() == 5)
  }

  test("history on a 100+-commit table is correct (reads issued in parallel)") {
    val (inst, n) = manyCommits
    val h = inst.history().collect()
    assert(h.length == n + 1) // v0 .. vN
    assert(h.map(_.getLong(0)).toSeq == (0L to n.toLong))
    val ckpts = h.filter(_.getBoolean(5)).map(_.getLong(0)).toSet
    assert(ckpts == (0L to n.toLong by inst.checkpointInterval).toSet)
  }

  test("change feed over 100+ commits: bounded plan width, correct rows") {
    val (inst, n) = manyCommits
    val feed = inst.changes(0, n)
    // 4 plan branches per commit would be a ~440-leaf plan; batching
    // folds every ChangesBatchVersions versions into ONE materialized
    // leaf, so the analyzed plan stays narrow at any history length
    val leaves = feed.queryExecution.logical.collectLeaves().size
    val maxLeaves = n / graft.acid.Instance.ChangesBatchVersions + 1
    assert(leaves <= maxLeaves,
      s"change-feed plan has $leaves leaves (cap $maxLeaves)")
    assert(feed.count() == n.toLong) // one inserted row per commit
    assert(feed.filter(col("_change") === "insert").count() == n.toLong)
    assert(feed.select("obj_id").distinct().count() == n.toLong)
  }

  /** The optimized plan's graft scans, one per data-file leaf. */
  private def graftLeaves(df: org.apache.spark.sql.DataFrame)
      : Seq[graft.acid.GraftScan] =
    df.queryExecution.optimizedPlan.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan
    }.collect { case g: graft.acid.GraftScan => g }

  /** No leaf of `df` reads data files except through a GraftScan. */
  private def onlyGraftScans(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().forall {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.isInstanceOf[graft.acid.GraftScan]
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _ => false
    }

  test("wide partition fanout reads as ONE native partitioned scan") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, value BIGINT, lang STRING")
    val inst = VersionedTable.create(spark, freshDir(), schema)
    val t = inst.begin()
    t.insertPartitioned((1 to 200).map(i =>
      (i.toLong, i.toLong, s"l${i % 40}")).toDF("obj_id", "value", "lang"),
      Seq("lang"))
    inst.commit(t)
    val out = inst.read()
    // 40 partition tuples: the snapshot is one scan over the hive
    // layout, not a 40-branch union
    assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1 &&
      graftLeaves(out).size == 1, "expected a single partitioned scan")
    assert(out.count() == 200)
    assert(out.columns.toSeq == Seq("obj_id", "value", "lang"))
    val one = out.filter(col("lang") === "l7")
    val rows = one.orderBy("obj_id").collect()
    assert(rows.length == 5 && rows.forall(_.getString(2) == "l7"))
    assert(rows.map(_.getLong(0)).toSeq ==
      (1 to 200).filter(_ % 40 == 7).map(_.toLong))
    // the predicate prunes by partition path before any file opens:
    // the scan plans only lang=l7 files
    val pruned = graftLeaves(one).flatMap(_.prunedFiles)
    assert(pruned.nonEmpty && pruned.forall(_.contains("lang=l7")),
      s"partition pruning missing: $pruned")
    // a delete (CoW rewrite physicalizes the column for ONE file)
    // reads in the same scan as the partitioned files
    inst.withRetry() { txn => txn.delete(Seq(7L)) }
    val after = inst.read()
    assert(after.queryExecution.optimizedPlan.collectLeaves().size == 1 &&
      graftLeaves(after).size == 1,
      "one scan over the partitioned files and the physicalized rewrite")
    assert(after.count() == 199)
    assert(after.filter(col("lang") === "l7").count() == 4)
  }

  test("mixed partition nesting orders read correctly at any fanout") {
    // two inserts partitioned on the same COLUMNS in different ORDER:
    // lang=/source= and source=/lang= nestings are two file layouts of
    // one scan — never an analyzer error, always the right rows
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, value BIGINT, lang STRING, source STRING")
    val inst = VersionedTable.create(spark, freshDir(), schema)
    def batch(r: Range) = r.map(i =>
      (i.toLong, i.toLong, s"l${i % 10}", s"s${(i / 10) % 5}"))
      .toDF("obj_id", "value", "lang", "source")
    val t1 = inst.begin()
    t1.insertPartitioned(batch(1 to 100), Seq("lang", "source"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.insertPartitioned(batch(101 to 200), Seq("source", "lang"))
    inst.commit(t2)
    val out = inst.read()
    assert(out.queryExecution.optimizedPlan.collectLeaves().size == 1 &&
      graftLeaves(out).size == 1, "one scan over both nesting orders")
    assert(out.count() == 200)
    assert(out.filter(col("lang") === "l3").count() ==
      (1 to 200).count(_ % 10 == 3))
    assert(out.filter(col("lang") === "l3" && col("source") === "s2")
      .collect().forall(r => r.getString(2) == "l3" && r.getString(3) == "s2"))
  }

  test("one GraftScan reads clean, masked, partitioned and physicalized files under a rename") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, value BIGINT, lang STRING")
    val inst = VersionedTable.create(spark, freshDir(), schema)
    def rows(r: Seq[Int]) = r.map(i =>
      (i.toLong, i * 100L, if (i % 2 == 0) "de" else "en"))
      .toDF("obj_id", "value", "lang")
    inst.withRetry() { t => t.insert(rows(1 to 4)) }                      // clean
    inst.withRetry() { t => t.insertPartitioned(rows(10 to 13), Seq("lang")) }
    inst.withRetry() { t => t.deleteMoR(Seq(2L)) }                        // masked
    inst.withRetry() { t => t.delete(Seq(10L)) }                          // physicalized
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    val v = inst.latestVersion
    val expected = Seq("[1,100,en]", "[3,300,en]", "[4,400,de]",
      "[11,1100,en]", "[12,1200,de]", "[13,1300,en]")
    def show(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("obj_id").collect().map(_.toString).toSeq
    val snap = inst.snapshot(v)
    assert(graftLeaves(snap).size == 1 && onlyGraftScans(snap))
    assert(snap.columns.toSeq == Seq("obj_id", "amount", "lang"))
    assert(show(snap) == expected)
    assert(show(snap.filter(col("lang") === "de")) ==
      Seq("[4,400,de]", "[12,1200,de]"))
    assert(graftLeaves(inst.read()).size == 1 && onlyGraftScans(inst.read()))
    val t = inst.begin()
    try {
      t.insert(Seq((20L, 2000L, "de")).toDF("obj_id", "amount", "lang"))
      val local = t.read()
      assert(graftLeaves(local).size == 1 && onlyGraftScans(local))
      assert(show(local) == expected :+ "[20,2000,de]")
    } finally inst.rollback(t)
    val feed = inst.changes(0L, v)
    assert(graftLeaves(feed).nonEmpty && onlyGraftScans(feed))
    def ids(change: String) = feed.filter(col("_change") === change)
      .select("obj_id").as[Long].collect().sorted.toSeq
    assert(ids("insert") == Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L, 13L))
    assert(ids("delete") == Seq(2L, 10L))
  }

  test("schema guard: an unsanctioned shape change throws before staging") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t = inst.begin()
    val widened = Seq((2L, 20L, "oops")).toDF("obj_id", "value", "tag")
    intercept[graft.acid.SchemaEvolutionException] { t.insert(widened) }
    // the guard fired BEFORE staging: no files written by this txn
    val dataDir = new java.io.File(new java.net.URI(dir).getPath, "data")
    assert(!dataDir.listFiles
      .exists(_.getName.startsWith(f"t${t.tsn}%x-")), "nothing staged")
    inst.rollback(t)
    assert(inst.read().count() == 1)
  }

  test("schema guard: type change of an existing column is rejected even when sanctioned") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    val t = inst.begin()
    t.evolveSchema()
    val retyped = Seq((2L, "not-a-long")).toDF("obj_id", "value")
    val e = intercept[graft.acid.SchemaEvolutionException] { t.insert(retyped) }
    assert(e.getMessage.contains("value"))
    inst.rollback(t)
  }

  test("schema guard: column order and nullability differences are not evolution") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)
    // reordered columns, same (name -> type) set: accepted without the
    // flag, and the table keeps its canonical column order
    val t = inst.begin()
    t.insert(Seq((20L, 2L)).toDF("value", "obj_id").select("value", "obj_id"))
    inst.commit(t)
    val out = inst.read()
    assert(out.columns.toSeq == Seq("obj_id", "value"), "canonical order kept")
    assert(out.orderBy("obj_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("object summary: large txns commit min/max+bloom, not an id list") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 4, bloomBits = 1L << 12)
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert((1 to 10).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(t0)
    // history reports the summarized count
    assert(inst.history().filter(col("version") === 1)
      .head().getLong(4) == 10L)
    // the manifest literally carries no id list (bounded metadata)
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(
      new java.net.URI(dir).getPath,
      "_manifests/" + f"v${1L}%020d.json"))
    assert(raw.contains("\"objects\":[]") && raw.contains("\"objCount\":10"))

    // a small txn pinned before an interleaved SUMMARY commit loses
    // when its id falls in the summary (bloom has no false negatives);
    // insert-only on the small side so no FILE overlap can mask the
    // object-summary check
    val small = inst.begin()
    val big = inst.begin()
    big.upsert((6 to 20).map(i => (i.toLong, i * 10L)).toDF("obj_id", "value"))
    inst.commit(big)
    small.insert(Seq((7L, 777L)).toDF("obj_id", "value"))
    intercept[ConflictException] { inst.commit(small) }

    // disjoint ranges commit cleanly past a summary
    val c = inst.begin()
    val d = inst.begin()
    d.upsert((100 to 120).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(d)
    c.update(Seq(1L), df => df.withColumn("value", col("value") + 1))
    inst.commit(c)
    assert(inst.read().filter(col("obj_id") === 1).head().getLong(1) == 2L)
  }

  test("distributed upsert: replaces overlaps, converges on replay, exact CDC") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 4, bloomBits = 1L << 12)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert((1 to 6).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(t0)

    // 9 keys > threshold: the delete side runs fully distributed
    // (deleteMatching), no key ever collected to the driver
    def batch() = (4 to 12).map(i => (i.toLong, i * 100L)).toDF("obj_id", "value")
    inst.withRetry() { t => t.upsert(batch()) }
    val state = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == ((1 to 3).map(i => i.toLong -> i.toLong) ++
      (4 to 12).map(i => i.toLong -> i * 100L)).toMap)

    // the summary commit's change feed is EXACT via row-diff: copied
    // neighbors (1..3 share a file with 4..6) emit nothing
    val feed = inst.changes(1, 2).collect()
    val byChange = feed.groupBy(_.getAs[String]("_change"))
      .map { case (k, v) => k -> v.map(_.getLong(0)).toSet }
    assert(byChange("insert") == (7 to 12).map(_.toLong).toSet)
    assert(byChange("update_preimage") == (4 to 6).map(_.toLong).toSet)
    assert(byChange("update_postimage") == (4 to 6).map(_.toLong).toSet)
    assert(!byChange.contains("delete"))
    assert(feed.forall(_.getLong(0) > 3L), "copied neighbors must not appear")

    // replaying the identical upsert converges AND its change feed is
    // empty — every row it rewrote is byte-identical to the preimage
    inst.withRetry() { t => t.upsert(batch()) }
    val replayed = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(replayed == state)
    assert(inst.changes(2, 3).isEmpty, "no-op replay emits no changes")
  }

  test("mixed staging rounds fold literal ids into the summary at commit") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 4, bloomBits = 1L << 12)
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    // one txn, two rounds: a small insert (literal ids) then a large
    // one (summary) — the manifest must carry ONE representation, or
    // changes() would classify the commit by its list and silently
    // skip the summary rows
    val t = inst.begin()
    t.insert(Seq((1L, 1L), (2L, 2L)).toDF("obj_id", "value"))
    t.insert((10 to 20).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(t)
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(
      new java.net.URI(dir).getPath, "_manifests/" + f"v${1L}%020d.json"))
    assert(raw.contains("\"objects\":[]"), "no literal list beside the summary")
    assert(raw.contains("\"objCount\":13"))
    val feed = inst.changes(0, 1)
    assert(feed.filter(col("_change") === "insert").count() == 13)

    // a pinned writer touching one of the FOLDED literal ids must lose
    val p = inst.begin()
    val q2 = inst.begin()
    q2.insert(Seq((30L, 1L)).toDF("obj_id", "value"))
    q2.insert((40 to 50).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(q2)
    p.insert(Seq((30L, 9L)).toDF("obj_id", "value"))
    intercept[ConflictException] { inst.commit(p) }
  }

  test("literal ids spill to a summary across staging rounds, not just within one") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 4, bloomBits = 1L << 12)
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    // three rounds of 3 ids: each round is under the threshold, but the
    // TRANSACTION total (9) is not — the manifest must carry a summary,
    // not an accumulated 9-id list
    val t = inst.begin()
    Seq(1 to 3, 4 to 6, 7 to 9).foreach { r =>
      t.insert(r.map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    }
    inst.commit(t)
    val raw = java.nio.file.Files.readString(java.nio.file.Paths.get(
      new java.net.URI(dir).getPath, "_manifests/" + f"v${1L}%020d.json"))
    assert(raw.contains("\"objects\":[]"), "literal list must have spilled")
    assert(raw.contains("\"objCount\":9"))
    assert(inst.read().count() == 9)
    assert(inst.changes(0, 1).filter(col("_change") === "insert").count() == 9)
  }

  test("restore republishes undone summary coverage: late writers still conflict") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 10, bloomBits = 1L << 12)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert((1 to 5).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(t0) // v1: literal ids
    inst.withRetry() { t =>
      t.upsert((3 to 20).map(i => (i.toLong, i * 9L)).toDF("obj_id", "value"))
    } // v2: summary commit (18 keys)

    // pinned BEFORE the restore commit: its conflict window sees only
    // the restore manifest, which must still cover the undone v2 ids
    val pinned = inst.begin()
    assert(inst.restore(1) == 3L)
    pinned.insert(Seq((15L, 1L)).toDF("obj_id", "value"))
    intercept[ConflictException] { inst.commit(pinned) }

    // and the restore version's change feed classifies by row-diff:
    // 3..5 revert (updates), 6..20 disappear (deletes), 1..2 are
    // byte-identical copies and emit nothing
    val feed = inst.changes(2, 3).collect()
    val byChange = feed.groupBy(_.getAs[String]("_change"))
      .map { case (k, v) => k -> v.map(_.getLong(0)).toSet }
    assert(byChange("delete") == (6 to 20).map(_.toLong).toSet)
    assert(byChange("update_postimage") == (3 to 5).map(_.toLong).toSet)
    assert(!byChange.contains("insert"))
  }

  test("concurrent summary upserts converge: no duplicate ids, no lost ranges") {
    // 4 threads race overlapping key ranges through the SUMMARY path
    // (threshold 8 < 30 keys per batch): bloom-based conflict detection
    // must serialize the overlaps — blooms have no false negatives, so
    // a lost update is impossible and the only acceptable outcome is
    // every key present exactly once with one of the writers' values
    val conf = graft.acid.EngineConf(
      objectListThreshold = 8, bloomBits = 1L << 12,
      conflictMaxAttempts = 30, conflictBackoffMs = 5L)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val threads = (0 until 4).map { t =>
      new Thread(() => {
        val keys = (1 + t * 15) to (30 + t * 15) // overlaps both neighbors
        inst.withRetry() { txn =>
          txn.upsert(keys.map(i => (i.toLong, (1000 * (t + 1) + i).toLong))
            .toDF("obj_id", "value"))
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val rows = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == 75, s"expected keys 1..75 once, got ${rows.length}")
    assert(rows.map(_._1).toSet == (1L to 75L).toSet)
    assert(rows.map(_._1).distinct.length == 75, "no duplicate obj_ids")
    // every surviving value was written by the thread owning that key
    // in SOME batch (value encodes writer + key)
    assert(rows.forall { case (k, v) =>
      (1 to 4).exists(t => v == 1000 * t + k) })
  }

  test("bloom-AND disjointness: interleaved disjoint bulk txns commit with zero retries") {
    // two >threshold transactions whose id RANGES interleave but whose
    // id SETS are disjoint: the old range-only summary check forced one
    // into a spurious retry storm; the bloom bitwise-AND proves them
    // disjoint (IdBloom.intersects) so BOTH must commit first-try.
    // Default 2^23-bit geometry: 30 ids light ~180 bits, expected
    // cross-collisions ~0.004 (same fixture the IdBloomSpec unit pins).
    val conf = graft.acid.EngineConf(objectListThreshold = 8)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val t1 = inst.begin()
    val t2 = inst.begin() // pinned BEFORE t1 commits: t1 is in t2's window
    // insert-only (fresh ids) so no FILE overlap can mask the check
    t1.insert((0L until 30L).map(i => (2 * i, 1L)).toDF("obj_id", "value"))
    inst.commit(t1) // v1: summary (30 > threshold 8)
    t2.insert((0L until 30L).map(i => (2 * i + 1, 2L)).toDF("obj_id", "value"))
    inst.commit(t2) // must NOT throw: disjoint despite interleaved ranges
    assert(inst.read().count() == 60)
    // both manifests really carried summaries (the path under test)
    assert(inst.history().filter(col("n_objects") === 30).count() == 2)

    // one genuinely shared id still conflicts (bloom has that bit set)
    val t3 = inst.begin()
    val t4 = inst.begin()
    t3.insert(((100L until 130L) :+ 143L).map(i => (i, 3L)).toDF("obj_id", "value"))
    inst.commit(t3)
    t4.insert((131L until 161L).map(i => (i, 4L)).toDF("obj_id", "value"))
    intercept[ConflictException] { inst.commit(t4) } // 143 is in both
  }

  test("8 concurrent bulk writers, interleaved-but-disjoint ids: zero conflicts, exact state") {
    // the instance.rs:724-758 concurrent-upsert analog at production
    // shape: 8 writers, each staging 100 ids through the SUMMARY path
    // (threshold 8 << 100), id sets fully INTERLEAVED by stride —
    // every writer's [min,max] range overlaps every other's, so the
    // old range-only summary check would spuriously serialize all 8.
    // The bloom bitwise-AND must prove them pairwise disjoint: plain
    // commit() with NO retry wrapper — any ConflictException fails
    // the test (a lost publish race re-validates internally and is
    // not a conflict). Hashing is a pure function of (id, geometry),
    // so zero-retry is DETERMINISTIC exactly when the 8 fixed id sets
    // share no bloom bit; the id base (500) is chosen so they don't
    // at the default 2^23/k=6 geometry (bases 0..400 each collide on
    // 1-3 pairs — a bit shared by chance would make the test hostage
    // to commit-window timing).
    val conf = graft.acid.EngineConf(objectListThreshold = 8)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map { t =>
      new Thread(() => {
        try {
          val txn = inst.begin()
          txn.upsert((0 until 100)
            .map(i => (500L + i * 8L + t, (1000 * (t + 1) + i).toLong))
            .toDF("obj_id", "value"))
          inst.commit(txn)
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"unexpected conflicts/errors: ${errors.peek()}")
    val rows = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length == 800, s"expected 800 rows, got ${rows.length}")
    assert(rows.map(_._1).toSet ==
      (for (t <- 0 until 8; i <- 0 until 100) yield 500L + i * 8L + t).toSet)
    // every value is exactly what its owning writer staged
    assert(rows.forall { case (k, v) =>
      val (t, i) = (((k - 500) % 8).toInt, ((k - 500) / 8).toInt)
      v == 1000 * (t + 1) + i
    })
    // all 8 landed as SUMMARY commits (the bloom path under test);
    // count is the informational double-counting kind (delete-side +
    // insert-side summaries, 100 each), so assert the path not the sum
    assert((1L to 8L).forall(v => inst.readManifest(v).objSummary.isDefined))
  }

  test("column mapping: rename keeps physical names, Z-order stats, and point-op pruning") {
    import org.apache.spark.sql.types._
    val inst = VersionedTable.create(spark, freshDir(), StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("value", LongType, nullable = false))))
    val t1 = inst.begin()
    t1.insert((1 to 40).map(i => (i.toLong, i * 10L)).toDF("obj_id", "value")
      .repartition(4))
    inst.commit(t1)
    // cluster on the ORIGINAL name, then rename: the colStats index is
    // keyed by the fixed physical name and must keep pruning afterwards
    inst.compact(targetFiles = 4, clusterBy = Seq("obj_id", "value"))
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    val q58 = inst.read()
    assert(q58.columns.toSeq == Seq("obj_id", "amount"))
    assert(q58.agg(sum("amount")).head().getLong(0) == (1 to 40).map(_ * 10L).sum)
    // the scan filtered on the RENAMED logical name prunes via the
    // physical colStats entries written before the rename
    val txn = inst.begin()
    val cand = prunedBy(txn, "amount", Seq(50L))
    val all = inst.stateAt(inst.latestVersion)._1
    assert(cand.size < all.size,
      s"renamed-column point op must prune (${cand.size} of ${all.size})")
    inst.rollback(txn)
    // readWhere through the renamed name
    val hit = inst.readWhere("amount", Seq(50L)).collect()
    assert(hit.map(_.getLong(0)).toSeq == Seq(5L))
    // CoW update through the map: files stay physically consistent
    inst.withRetry() { t =>
      t.update(Seq(7L), df => df.withColumn("amount", col("amount") + 1))
    }
    assert(inst.read().filter(col("obj_id") === 7).head().getLong(1) == 71L)
    // the manifest format gate: a renamed table declares generation 7
    val head = inst.latestVersion
    val m = inst.readManifest(head)
    assert(m.renames == Map("amount" -> "value"))
  }

  test("column mapping: restore across a rename republishes the old mapping") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t1) // v1
    inst.withRetry() { t => t.renameColumn("value", "amount") } // v2
    val t3 = inst.begin()
    t3.insert(Seq((3L, 30L)).toDF("obj_id", "amount"))
    inst.commit(t3) // v3
    inst.restore(1) // v4: back to (obj_id, value), two rows
    assert(inst.read().columns.toSeq == Seq("obj_id", "value"))
    assert(inst.read().count() == 2)
    assert(inst.tableStateAt(inst.latestVersion).renames.isEmpty)
    // time travel forward again: the renamed version is intact
    assert(inst.snapshot(3).columns.toSeq == Seq("obj_id", "amount"))
    assert(inst.snapshot(3).count() == 3)
    // the change feed across the interval reads each side under its
    // own names (v3's insert surfaces under the post-rename schema)
    val feed = inst.changes(2, 3).collect()
    assert(feed.length == 1 && feed.head.getAs[String]("_change") == "insert")
  }

  test("column mapping: dedup via add-after-rename collision gets a fresh physical name") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    // re-adding a column under the FREED logical name must not collide
    // with the still-live physical column `value` in old files
    inst.withRetry() { t =>
      t.alterSchema(t.localSchema.add(
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.LongType)))
    }
    val ren = inst.tableStateAt(inst.latestVersion).renames
    assert(ren("amount") == "value")
    assert(ren.contains("value") && ren("value") != "value",
      s"re-added column needs a fresh physical name, got $ren")
    // the old data surfaces ONLY under `amount`; the new `value` is null
    val row = inst.read().filter(col("obj_id") === 1).head()
    assert(row.getAs[Long]("amount") == 10L)
    assert(row.isNullAt(row.fieldIndex("value")))
    val t2 = inst.begin()
    t2.insert(Seq((2L, 20L, 99L)).toDF("obj_id", "amount", "value"))
    inst.commit(t2)
    val r2 = inst.read().filter(col("obj_id") === 2).head()
    assert(r2.getAs[Long]("amount") == 20L && r2.getAs[Long]("value") == 99L)
  }

  test("tombstones: drop then re-add reads NULL instead of resurrecting") {
    import org.apache.spark.sql.types._
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    // DROP value: its physical name is retired into the tombstone set
    inst.withRetry() { t =>
      t.alterSchema(StructType(t.localSchema.filterNot(_.name == "value")))
    }
    assert(inst.tableStateAt(inst.latestVersion).tombstones == Seq("value"))
    // re-ADD the same name: fresh physical, pre-drop values stay dead
    inst.withRetry() { t =>
      t.alterSchema(t.localSchema.add(StructField("value", LongType)))
    }
    val ren = inst.tableStateAt(inst.latestVersion).renames
    assert(ren.get("value").exists(_ != "value"),
      s"re-added dropped column needs a fresh physical name, got $ren")
    val row = inst.read().filter(col("obj_id") === 1).head()
    assert(row.isNullAt(row.fieldIndex("value")),
      "pre-drop value resurrected through the physical column")
    val t2 = inst.begin()
    t2.insert(Seq((2L, 77L)).toDF("obj_id", "value"))
    inst.commit(t2)
    val vals = inst.read().orderBy("obj_id").collect()
      .map(r => if (r.isNullAt(1)) None else Some(r.getLong(1))).toSeq
    assert(vals == Seq(None, Some(77L)))
  }

  test("tombstones: rename-then-drop frees the PHYSICAL name too") {
    import org.apache.spark.sql.types._
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    // rename value->amount (physical stays `value`), then DROP amount:
    // the retired physical name is `value`, not `amount`
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    inst.withRetry() { t =>
      t.alterSchema(StructType(t.localSchema.filterNot(_.name == "amount")))
    }
    assert(inst.tableStateAt(inst.latestVersion).tombstones == Seq("value"))
    // re-adding a column named `value` (the retired PHYSICAL name)
    // must dodge old files' on-disk column — fresh physical name
    inst.withRetry() { t =>
      t.alterSchema(t.localSchema.add(StructField("value", LongType)))
    }
    val ren = inst.tableStateAt(inst.latestVersion).renames
    assert(ren.get("value").exists(_ != "value"),
      s"rename-then-drop path must still assign a fresh physical name, got $ren")
    val row = inst.read().filter(col("obj_id") === 1).head()
    assert(row.isNullAt(row.fieldIndex("value")),
      "pre-rename values resurrected through the retired physical column")
  }

  test("column mapping property: random rename/add/drop chains never lose or misroute data") {
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(4242) // deterministic
    val inst = VersionedTable.create(spark, freshDir(), StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("a", LongType), StructField("b", LongType))))
    // expected state: obj_id -> (logical column name -> value)
    var expect = Map.empty[Long, Map[String, Long]]
    var nextId = 1L
    var nameSeq = 0
    // names released by DROP are fair game for re-adds: the drop
    // tombstones the physical name, so a re-added same-name column
    // gets a FRESH physical name and reads NULL for pre-drop rows
    // (names freed by RENAME were already handled the same way)
    (1 to 30).foreach { _ =>
      val schema = inst.read().schema
      val dataCols = schema.fieldNames.filterNot(_ == "obj_id").toSeq
      rnd.nextInt(4) match {
        case 0 => // insert a row under the CURRENT names
          val id = nextId; nextId += 1
          val vals = dataCols.map(_ -> rnd.nextInt(1000).toLong).toMap
          val row = org.apache.spark.sql.Row.fromSeq(
            id +: dataCols.map(vals))
          val df = spark.createDataFrame(
            java.util.Collections.singletonList(row), schema)
          val t = inst.begin(); t.insert(df); inst.commit(t)
          expect += id -> vals
        case 1 if dataCols.nonEmpty => // rename a data column
          val from = dataCols(rnd.nextInt(dataCols.size))
          val to = s"c$nameSeq"; nameSeq += 1
          inst.withRetry() { t => t.renameColumn(from, to) }
          expect = expect.view.mapValues(m =>
            m.map { case (k, v) => (if (k == from) to else k) -> v }).toMap
        case 2 => // add a column (may collide with a RENAME- or
          // DROP-freed name — both must resolve to a fresh physical)
          val name = if (rnd.nextBoolean() || nameSeq == 0) { // fresh
            val n = s"c$nameSeq"; nameSeq += 1; n
          } else s"c${rnd.nextInt(nameSeq)}"
          if (!schema.fieldNames.contains(name))
            inst.withRetry() { t =>
              t.alterSchema(t.localSchema.add(StructField(name, LongType)))
            }
          // existing rows read NULL for it (tracked as absence)
        case _ if dataCols.size > 1 => // drop a data column
          val victim = dataCols(rnd.nextInt(dataCols.size))
          inst.withRetry() { t =>
            t.alterSchema(StructType(t.localSchema.filterNot(_.name == victim)))
          }
          expect = expect.view.mapValues(_ - victim).toMap
        case _ => ()
      }
    }
    val finalCols = inst.read().schema.fieldNames.filterNot(_ == "obj_id")
    val got = inst.read().collect().map { r =>
      r.getLong(r.fieldIndex("obj_id")) -> finalCols.flatMap { c =>
        val i = r.fieldIndex(c)
        if (r.isNullAt(i)) None else Some(c -> r.getLong(i))
      }.toMap
    }.toMap
    val want = expect.view.mapValues(_.filter { case (k, _) =>
      finalCols.contains(k) }).toMap
    assert(got.keySet == want.keySet,
      s"row set diverged: got ${got.keySet}, want ${want.keySet}")
    got.foreach { case (id, m) =>
      assert(m == want(id), s"row $id diverged: got $m want ${want(id)}")
    }
  }

  test("column mapping: widen INT->LONG then rename, MoR delete through the map") {
    import org.apache.spark.sql.types._
    val inst = VersionedTable.create(spark, freshDir(), StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("qty", IntegerType, nullable = false))))
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10), (2L, 20)).toDF("obj_id", "qty").coalesce(1))
    inst.commit(t1)
    inst.withRetry() { t => t.widenColumn("qty", LongType) }
    intercept[graft.acid.SchemaEvolutionException] {
      val t = inst.begin()
      try t.widenColumn("qty", IntegerType) finally inst.rollback(t)
    }
    inst.withRetry() { t => t.renameColumn("qty", "amount") }
    val t2 = inst.begin()
    t2.insert(Seq((3L, 5000000000L)).toDF("obj_id", "amount"))
    inst.commit(t2)
    // MoR delete masks a row inside the pre-widening narrow file
    inst.withRetry() { t => t.deleteMoR(Seq(1L)) }
    val rows = inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.toSeq == Seq((2L, 20L), (3L, 5000000000L)))
    // compaction materializes the mask and keeps the mapping
    inst.compact()
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 20L), (3L, 5000000000L)))
  }

  test("restore across a summary commit is metadata-only and exact") {
    val conf = graft.acid.EngineConf(
      objectListThreshold = 4, bloomBits = 1L << 12)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema, conf)
    val t0 = inst.begin()
    t0.insert((1 to 5).map(i => (i.toLong, i.toLong)).toDF("obj_id", "value"))
    inst.commit(t0)
    inst.withRetry() { t =>
      t.upsert((3 to 14).map(i => (i.toLong, i * 7L)).toDF("obj_id", "value"))
    }
    assert(inst.read().count() == 14)
    val v = inst.restore(1)
    assert(v == 3)
    val rows = inst.read().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == (1 to 5).map(i => i.toLong -> i.toLong).toMap)
    assert(inst.snapshot(2).count() == 14, "time travel across the restore intact")
  }

  test("schema guard: a schema change conflicts with concurrent writers") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t0)

    // leg 1: a plain writer pinned before an interleaved EVOLUTION loses
    val plain = inst.begin()
    val evolver = inst.begin()
    evolver.evolveSchema()
    evolver.insert(Seq((2L, 20L, "t")).toDF("obj_id", "value", "tag"))
    inst.commit(evolver)
    plain.insert(Seq((3L, 30L)).toDF("obj_id", "value")) // old shape — stale
    intercept[ConflictException] { inst.commit(plain) }

    // leg 2: an EVOLVER pinned before an interleaved plain commit loses
    // (its staged files carry a schema the table has moved past)
    val evolver2 = inst.begin()
    val plain2 = inst.begin()
    plain2.evolveSchema() // matches the post-leg-1 widened schema
    plain2.insert(Seq((4L, 40L, "x")).toDF("obj_id", "value", "tag"))
    inst.commit(plain2)
    evolver2.evolveSchema()
    evolver2.insert(Seq((5L, 50L, "y", 1L))
      .toDF("obj_id", "value", "tag", "extra"))
    intercept[ConflictException] { inst.commit(evolver2) }
    assert(inst.read().count() == 3) // t0 + evolver + plain2 only
  }

  test("partition values containing commas survive the manifest roundtrip") {
    // hive path escaping keeps ',' literal in k=v segments; the
    // manifest's array codec must not split file paths on it
    val inst = VersionedTable.create(spark, freshDir(),
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, tag STRING, value BIGINT"))
    val t = inst.begin()
    t.insertPartitioned(Seq((1L, "a,b", 10L), (2L, "c", 20L))
      .toDF("obj_id", "tag", "value"), Seq("tag"))
    inst.commit(t)
    // fresh instance: state comes from PARSED manifests, not the cache
    val cold = VersionedTable.open(spark, inst.root)
    assert(cold.stateAt(1L)._1.exists(_.contains("tag=a,b")))
    assert(cold.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "a,b", 10L), (2L, "c", 20L)))
    // a MoR mask on the comma-path file keeps applying after reparse
    val d = cold.begin(); d.deleteMoR(Seq(1L)); cold.commit(d)
    val cold2 = VersionedTable.open(spark, inst.root)
    assert(cold2.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("tiny local inserts stage through the driver fast path with full stats") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t)
    // Spark task files spell part-...-c000...; the driver-side fast
    // path writes its own single file without the task suffix
    val f1 = inst.stateAt(1L)._1.head
    assert(!f1.contains("c000"),
      s"a 2-row literal insert must take the driver fast path, got $f1")
    // footer stats are recorded exactly like the job path: the obj_id
    // primary range prunes point ops to this one file
    val st = inst.tableStateAt(1L)
    assert(st.stats.values.toSeq == Seq((1L, 2L)),
      s"fast-path file must carry the obj_id range, got ${st.stats}")
    assert(st.fileStats.head._2.contains("value"),
      "universal footer stats must cover the fast-path file")
    // a wide literal batch (> fastPathRows) still takes the job path
    val t2 = inst.begin()
    t2.insert((100L until 300L).map(i => (i, i)).toDF("obj_id", "value"))
    inst.commit(t2)
    val newFiles = inst.stateAt(2L)._1.filterNot(_ == f1)
    assert(newFiles.nonEmpty && newFiles.forall(_.contains("c000")),
      s"a 200-row batch must take the job path, got $newFiles")
    // both generations read back as one table
    assert(inst.read().count() == 202L)
    val d = inst.begin(); d.delete(Seq(1L)); inst.commit(d)
    assert(inst.read().filter(col("obj_id") === 1L).count() == 0L)
  }

  test("commit lock: hot-key writers serialize exactly; lock releases after use") {
    // acquisition timeout: 12 increments serialize through ONE lock,
    // and under full-suite load a single locked read+upsert can take
    // seconds, so the last waiter may queue behind 11 of them; 120 s
    // bounds that with room. The semantics under test (exact
    // serialization, release-after-use) don't involve the timeout; a
    // waiter that needs longer points at a stalled lock claim.
    val conf = graft.acid.EngineConf(commitLock = true,
      commitLockTimeoutMs = 120000L)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      conf)
    val t0 = inst.begin()
    t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
    inst.commit(t0)
    // 4 threads x 3 serialized increments of the SAME key: the lock
    // queues them, the result is exact (no lost update, no leftover
    // retries), and the final value proves every commit applied
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = (0 until 4).map(_ => new Thread(() =>
      try {
        val w = VersionedTable.open(spark, inst.root, conf)
        (0 until 3).foreach { _ =>
          w.withRetry(maxAttempts = 64, backoffMs = 5L) { t =>
            val cur = t.read().filter(col("obj_id") === 1L)
              .select("value").head().getLong(0)
            t.upsert(Seq((1L, cur + 1L)).toDF("obj_id", "value"))
          }
        }
      } catch { case e: Throwable => errs.add(e) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"locked writers failed: ${errs.peek()}")
    assert(inst.read().filter(col("obj_id") === 1L)
      .head().getAs[Long]("value") == 12L)
    // the lock file is released, not leaked
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(inst.root), "_manifests/_commitlock")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inst.root), spark.sparkContext.hadoopConfiguration)
    assert(!hfs.exists(lock), "commit lock must release after use")
  }

  test("commit lock: a held lock times out loudly; a stale one is crash-released") {
    val conf = graft.acid.EngineConf(commitLock = true,
      commitLockTimeoutMs = 800L)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      conf)
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(inst.root), "_manifests/_commitlock")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inst.root), spark.sparkContext.hadoopConfiguration)
    // a LIVE foreign lock: the writer must give up with a
    // ConflictException after commitLockTimeoutMs, not hang. The
    // holder is simulated by an mtime pinned ahead of the clock —
    // local-FS mtimes round down a wall second, so a just-created
    // file could otherwise slide into staleness mid-wait
    val out = hfs.create(lock, false); out.write(1); out.close()
    hfs.setTimes(lock, System.currentTimeMillis() + 60000L, -1L)
    val e = intercept[ConflictException] {
      inst.withRetry() { t =>
        t.insert(Seq((9L, 9L)).toDF("obj_id", "value"))
      }
    }
    assert(e.getMessage.contains("commit lock"))
    // age the same lock past the bound: the next writer presumes the
    // holder crashed, steals the claim, and commits
    hfs.setTimes(lock, System.currentTimeMillis() - 60000L, -1L)
    inst.withRetry() { t =>
      t.insert(Seq((9L, 9L)).toDF("obj_id", "value"))
    }
    assert(inst.read().filter(col("obj_id") === 9L).count() == 1L)
    assert(!hfs.exists(lock), "stolen lock must release after commit")
  }

  test("commit lock release deletes only its OWN claim (steal-safe token)") {
    val conf = graft.acid.EngineConf(commitLock = true)
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      conf)
    val lock = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(inst.root), "_manifests/_commitlock")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(inst.root), spark.sparkContext.hadoopConfiguration)
    // a slow holder whose claim a waiter stole mid-body: simulate the
    // steal by replacing the lock file (the new holder's token) INSIDE
    // the body. The slow holder's release must detect the foreign
    // token and SKIP the delete — an unconditional delete would evict
    // the new holder and cascade steals under load.
    inst.withRetry() { t =>
      t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
      hfs.delete(lock, false)
      val out = hfs.create(lock, false)
      out.write("stolen-by-waiter".getBytes("UTF-8")); out.close()
    }
    assert(hfs.exists(lock),
      "release must not evict the new holder's claim")
    val in = hfs.open(lock)
    val buf = new Array[Byte](64); val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") == "stolen-by-waiter")
    hfs.delete(lock, false)
  }

  test("commit lock: writers released at the same instant hold it one at a time") {
    // a check-then-create claim let racing writers all "acquire" at
    // once and could leave a lock nobody released; the claim must be
    // atomic. The timeout is short so a leaked lock fails fast.
    val conf = graft.acid.EngineConf(commitLock = true,
      commitLockTimeoutMs = 20000L)
    (0 until 5).foreach { _ =>
      val inst = VersionedTable.create(spark, freshDir(),
        AcidQueries.schema, conf)
      val inside = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
      val go = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = (0 until 4).map(_ => new Thread(() =>
        try {
          val w = VersionedTable.open(spark, inst.root, conf)
          go.await()
          w.withRetry() { _ =>
            maxInside.accumulateAndGet(inside.incrementAndGet(), math.max)
            Thread.sleep(20L)
            inside.decrementAndGet()
          }
        } catch { case e: Throwable => errs.add(e) }))
      ts.foreach(_.start()); go.countDown(); ts.foreach(_.join())
      assert(errs.isEmpty, s"locked writers failed: ${errs.peek()}")
      assert(maxInside.get == 1, s"${maxInside.get} writers held the lock")
      val lock = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(inst.root), "_manifests/_commitlock")
      val hfs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(inst.root), spark.sparkContext.hadoopConfiguration)
      assert(!hfs.exists(lock), "commit lock must release after use")
    }
  }

  test("fence tolerates a checkpoint folding the UNCHANGED watermark; movement still conflicts") {
    import spark.implicits._
    // checkpointInterval = 1: EVERY commit is a checkpoint whose
    // manifest carries the FULL folded watermark map — "entry present"
    // must not read as "watermark moved" or every interleaved commit
    // would spuriously fence every concurrent view refresh
    val t = VersionedTable.create(spark,
      java.nio.file.Files.createTempDirectory("graft_fence_")
        .toUri.toString,
      AcidQueries.schema, EngineConf(checkpointInterval = 1))
    t.withRetry() { x => x.markEpoch("w", 5) }
    // fence-only watcher pinned BEFORE an interleaved checkpoint that
    // folds w=5 forward without moving it
    val txn = t.begin()
    txn.fenceEpoch("w")
    txn.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    t.withRetry() { x => x.insert(Seq((2L, 20L))
      .toDF("obj_id", "value")) }
    t.commit(txn) // folded-but-unmoved watermark: no conflict
    assert(t.read().count() == 2)
    // a genuine MOVE of the watched watermark still fences
    val txn2 = t.begin()
    txn2.fenceEpoch("w")
    txn2.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    t.withRetry() { x => x.markEpoch("w", 6) }
    intercept[ConflictException] { t.commit(txn2) }
    assert(t.read().count() == 2)
  }
}
