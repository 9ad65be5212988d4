package graft.acid

import java.nio.file.Files

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Segmented (parquet side-file) checkpoints — the metadata scale
  * path: with `checkpointInlineFiles = 0` every checkpoint segments,
  * so the whole ACID lifecycle must hold with the per-file fold living
  * in columnar side files and the skip loops running distributed.
  * The 50k-file test fabricates a synthetic segmented checkpoint to
  * pin the scale contract itself: planning materializes NAMES only
  * (no stat maps on the driver) and point-op skipping over 50k files
  * returns exact survivors in bounded wall time. */
class SegmentedCkptSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_segckpt_").toUri.toString

  private def segConf(interval: Int = 2) = EngineConf(
    checkpointInterval = interval, checkpointInlineFiles = 0)

  private def readGraft(root: String): DataFrame =
    spark.read.format("graft").option("path", root).load()

  private def graftScan(df: DataFrame): GraftScan = {
    val scans = GraftScan.planned(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.head
  }

  test("lifecycle under always-segmented checkpoints: insert/update/delete/MoR/compact/restore/reopen") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      segConf(interval = 2))
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    } // v1..v3; v2 is a segmented checkpoint
    val st3 = inst.tableStateAt(inst.latestVersion)
    assert(inst.readManifest(2L).ckptRef.isDefined,
      "v2 should be a segmented checkpoint")
    assert(inst.readManifest(2L).allFiles.isEmpty,
      "segmented checkpoint must not inline the file list")
    assert(st3.sidecar.isDefined && st3.numFiles == 3)
    // stats maps hold ONLY the tail (v3's file)
    assert(st3.fileStats.size <= 1,
      s"stat maps must stay tail-only, got ${st3.fileStats.size}")

    // update + delete through the segmented snapshot (candidateFiles
    // goes through the distributed side-file filter)
    inst.withRetry() { t =>
      t.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    } // v4 (segmented checkpoint)
    inst.withRetry() { t => t.delete(Seq(3L)) } // v5
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 200L)))

    // MoR delete: dv entries must survive the segmented fold
    inst.withRetry() { t => t.deleteMoR(Seq(1L)) } // v6 (ckpt)
    assert(inst.read().collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(inst.tableStateAt(inst.latestVersion).dvs.nonEmpty)
    val t7 = inst.begin()
    t7.insert(Seq((7L, 70L)).toDF("obj_id", "value"))
    inst.commit(t7) // v7 — dv state must roll through the NEXT ckpt too
    val t8 = inst.begin()
    t8.insert(Seq((8L, 80L)).toDF("obj_id", "value"))
    inst.commit(t8) // v8 (ckpt): dv folded INTO the side files
    assert(inst.read().orderBy("obj_id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 7L, 8L))

    // compaction materializes the mask and rewrites through the map
    inst.compact() // v9
    assert(inst.tableStateAt(inst.latestVersion).dvs.isEmpty)
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 200L), (7L, 70L), (8L, 80L)))

    // time travel into the pre-compaction (segmented) history
    assert(inst.snapshot(3).orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))

    // restore across segmented checkpoints (re-added files pull their
    // stats back out of the old side files)
    inst.restore(3) // v10 (ckpt)
    assert(inst.read().orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))

    // durability: a fresh open resolves the same state
    val again = VersionedTable.open(spark, dir, segConf())
    assert(again.read().count() == 3)
    // DSv2 front door over the segmented table
    assert(readGraft(dir).count() == 3)
    // admin surfaces read sizes and id ranges from the side files
    val fdf = inst.files().collect()
    assert(fdf.length == 3 &&
      fdf.forall(_.getAs[Long]("size_bytes") > 0L))
    assert(inst.detail().head().getAs[Long]("size_bytes") ==
      fdf.map(_.getAs[Long]("size_bytes")).sum)
  }

  test("point-op and scan pruning run through the side files with exact survivors") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      segConf(interval = 2))
    // four single-file commits with disjoint id ranges
    (0 until 4).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 100).map(j =>
        (i * 100L + j, i * 100L + j)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    } // v4 = segmented checkpoint covering all four files
    assert(inst.readManifest(4L).ckptRef.isDefined)
    val txn = inst.begin()
    try {
      val cand = txn.candidateFiles(Seq(250L))
      assert(cand.size == 1, s"expected 1 candidate, got $cand")
      val multi = txn.candidateFiles(Seq(50L, 350L))
      assert(multi.size == 2, s"expected 2 candidates, got $multi")
    } finally inst.rollback(txn)
    // DSv2 scan pruning: the skip loop is the distributed side-file
    // filter; results and file counts must match the inline behavior
    val point = readGraft(dir).filter(col("obj_id") === 250L)
    val scan = graftScan(point)
    assert(scan.prunedFiles.size == 1, s"got ${scan.prunedFiles}")
    assert(point.collect().map(_.getLong(0)).toSeq == Seq(250L))
    val range = readGraft(dir)
      .filter(col("obj_id") >= 150L && col("obj_id") < 320L)
    assert(graftScan(range).prunedFiles.size == 3)
    assert(range.count() == 170L)
    // universal footer stats prune through the side files too
    val byValue = readGraft(dir).filter(col("value") === 42L)
    assert(graftScan(byValue).prunedFiles.size == 1,
      s"ustat skip through side files: ${graftScan(byValue).prunedFiles}")
    assert(byValue.count() == 1L)
    // side-car rows carry the files' real (size, mtime), captured at
    // checkpoint time — split planning over covered files fabricates
    // statuses from them instead of issuing per-file RPCs (the
    // count() above already read THROUGH those fabricated statuses;
    // a wrong size would truncate or fail the parquet read)
    val rows = inst.readSidecarRows(inst.readManifest(4L).ckptRef.get)
      .collect()
    assert(rows.nonEmpty && rows.forall(_.size > 0L),
      "side-car rows must record real file sizes")
    rows.take(2).foreach { r =>
      val real = inst.fs.getFileStatus(
        new org.apache.hadoop.fs.Path(inst.dataDir, r.file)).getLen
      assert(r.size == real, s"${r.file}: recorded ${r.size} != $real")
    }
  }

  test("partitioned tables prune by path through the side files") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, lang STRING, value BIGINT"),
      segConf(interval = 1))
    val t = inst.begin()
    t.insertPartitioned(Seq(
      (1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L))
      .toDF("obj_id", "lang", "value"), Seq("lang")) // v1 = segmented ckpt
    inst.commit(t)
    assert(inst.readManifest(1L).ckptRef.isDefined)
    val en = readGraft(dir).filter(col("lang") === "en")
    assert(graftScan(en).prunedFiles.size == 1,
      s"partition-path skip through side files: ${graftScan(en).prunedFiles}")
    assert(en.collect().map(_.getAs[Long]("value")).toSeq == Seq(10L))
    // $partitions admin fold runs as a side-file aggregation
    val parts = inst.partitions().collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(parts == Seq(("lang=de", 1L, 1L), ("lang=en", 1L, 1L),
      ("lang=fr", 1L, 1L)), s"got $parts")
    // grouped metadata aggregate over the segmented partitioned table
    val agg = readGraft(dir).groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sorted == Seq(("de", 1L), ("en", 1L), ("fr", 1L)))
  }

  test("50k-file synthetic checkpoint: bounded driver state, exact distributed skipping") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      segConf(interval = 100))
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t) // v1 (real file — keeps reads honest if touched)
    // fabricate v2: a segmented checkpoint whose side files claim 50k
    // synthetic data files with disjoint id ranges and a ustat column.
    // Planning never opens data files, so the names need not exist.
    val n = 50000
    val ref = "ckpt-v00000000000000000002-synthetic.parquet"
    val rows = (0 until n).map { i =>
      CheckpointStore.toRow(f"synth/part-$i%06d.parquet",
        Some((i * 1000L, i * 1000L + 999L)),
        Map.empty, Nil,
        Map("value" -> VersionedTable.UStat('L',
          (i * 10L).toString, (i * 10L + 9L).toString, 0L),
          VersionedTable.RowsKey -> VersionedTable.UStat('L',
            "1000", "1000", 0L)),
        size = 4096L, mtime = 1L)
    }
    spark.createDataset(rows)(CheckpointStore.ckptRowEncoder)
      .repartition(8)
      .write.parquet(inst.sidecarPath(ref).toString)
    val m1 = inst.readManifest(1L)
    assert(inst.publish(VersionedTable.Manifest(2L, 999L, m1.schemaDDL,
      added = Nil, removed = Nil, objects = Seq(0L), checkpoint = true,
      allFiles = Nil, tsMillis = System.currentTimeMillis(),
      ckptRef = Some(ref), ckptFiles = n.toLong)))

    val t0 = System.nanoTime()
    val st = inst.tableStateAt(2L)
    val foldMs = (System.nanoTime() - t0) / 1000000L
    assert(st.numFiles == n, s"expected $n live files, got ${st.numFiles}")
    // THE scale contract: the driver holds neither the stat maps NOR
    // the name list — the exact count is manifest arithmetic and the
    // 50k names stay columnar in the side files
    assert(st.stats.isEmpty && st.fileStats.isEmpty && st.colStats.isEmpty,
      "segmented fold must not materialize stat maps on the driver")
    assert(st.inlineFiles.isEmpty,
      "segmented fold must hold ZERO driver-resident names (empty tail)")
    assert(st.sidecar.isDefined)

    // distributed point-op skipping over all 50k files: exact survivor
    val txn = inst.begin()
    try {
      val t1 = System.nanoTime()
      val cand = txn.candidateFiles(Seq(41_500_500L)) // file 41500 only
      val skipMs = (System.nanoTime() - t1) / 1000000L
      assert(cand == Seq("synth/part-041500.parquet"), s"got $cand")
      // secondary-column skipping via the universal stats
      val byCol = txn.read().filter(col("value") === 123_456L)
        .queryExecution.optimizedPlan
        .collect { case r: DataSourceV2ScanRelation => r.scan }
        .collect { case g: GraftScan => g.prunedFiles }.flatten // file 12345
      assert(byCol == Seq("synth/part-012345.parquet"), s"got $byCol")
      // bounded wall: a distributed columnar filter, not a driver JSON
      // fold — generous CI bound, but it would be minutes if the skip
      // loop degraded to per-file driver work with JSON parsing
      assert(foldMs + skipMs < 60000L,
        s"planning over 50k files took ${foldMs}ms fold + ${skipMs}ms skip")
    } finally inst.rollback(txn)

    // metadata-only aggregate over all 50k (nonexistent!) files: the
    // answer folds checkpoint side files — had the plan touched a
    // single data file it would have failed on the synthetic names
    val agg = readGraft(dir).agg(
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"),
      org.apache.spark.sql.functions.min("value").as("mn"),
      org.apache.spark.sql.functions.max("value").as("mx"))
    val hasLocal = agg.queryExecution.executedPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty
    assert(hasLocal, "50k-file aggregate must be metadata-only:\n" +
      agg.queryExecution.executedPlan)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) ==
      (50000000L, 0L, 499999L))

    // LIMIT pushdown: planning truncates 50k files to ONE (1000 rows
    // cover the limit); execution would fail on the synthetic file, so
    // only the planned partitioning is asserted
    val limited = readGraft(dir).limit(100)
    val scans = GraftScan.planned(limited.queryExecution.executedPlan)
    assert(scans.nonEmpty)
    val plannedFiles = scans.head.planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedFiles == 1,
      s"LIMIT 100 over 50k synthetic files must plan 1, got $plannedFiles")

    // topN pushdown: ORDER BY obj_id LIMIT 1500 — the distributed
    // cutoff job finds 2 covering files among 50k (1000 rows each,
    // disjoint id ranges); everything else is pruned unplanned
    val top = readGraft(dir).orderBy(col("obj_id")).limit(1500)
    val topScan = GraftScan.planned(top.queryExecution.executedPlan).head
    val topPlanned = topScan.planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }
      .map(_.filePath.toString).sorted
    assert(topPlanned.length == 2 &&
      topPlanned(0).endsWith("synth/part-000000.parquet") &&
      topPlanned(1).endsWith("synth/part-000001.parquet"),
      s"top-1500 over 50k synthetic files: ${topPlanned.mkString(", ")}")

    // $partitions over 50k files: ONE side-file aggregation, O(groups)
    // to the driver — one unpartitioned group, metadata-exact 50M rows
    val parts = inst.partitions().collect()
    assert(parts.length == 1 && parts(0).getString(0) == "" &&
      parts(0).getLong(1) == 50000L && !parts(0).isNullAt(2) &&
      parts(0).getLong(2) == 50000000L,
      s"got ${parts.mkString(", ")}")

    // the tail is the ONLY driver-resident name surface: after one
    // real commit on top of the 50k-file checkpoint, TableState holds
    // exactly that commit's file — count stays exact by arithmetic
    val t3 = inst.begin()
    t3.insert(Seq((999999999L, 5L)).toDF("obj_id", "value"))
    inst.commit(t3) // v3
    val stTail = inst.tableStateAt(3L)
    assert(stTail.numFiles == n + 1,
      s"arithmetic live count must track the tail, got ${stTail.numFiles}")
    assert(stTail.inlineFiles.size == 1,
      s"driver-resident names must be O(tail), got ${stTail.inlineFiles.size}")
    // the $files admin surface streams the side files: it enumerates
    // all 50k+1 rows distributedly with the recorded sizes (zero
    // status RPCs would fail loudly here — the synthetic names do not
    // exist on disk)
    val fcount = inst.files().where(col("size_bytes") === 4096L).count()
    assert(fcount == n.toLong, s"$$files must stream side-car rows, got $fcount")
    // $detail: same distributed size fold + exact arithmetic count
    val det = inst.detail().head()
    assert(det.getAs[Long]("num_files") == n + 1L)
    assert(det.getAs[Long]("size_bytes") >= 4096L * n)
  }

  test("a lost-race or crashed side-file write is swept by vacuum; live ones survive") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      segConf(interval = 1).copy(orphanGraceMs = 0L))
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t) // v1 = segmented ckpt
    val liveRef = inst.readManifest(1L).ckptRef.get
    // fabricate a crashed writer's orphan side files (never published)
    val orphan = "ckpt-v00000000000000000009-deadbeef.parquet"
    spark.createDataset(Seq.empty[CheckpointStore.CkptRow])(
        CheckpointStore.ckptRowEncoder)
      .write.parquet(inst.sidecarPath(orphan).toString)
    inst.vacuum(retainVersions = 10)
    assert(!inst.fs.exists(inst.sidecarPath(orphan)),
      "orphaned side files must be reclaimed")
    assert(inst.fs.exists(inst.sidecarPath(liveRef)),
      "referenced side files must survive")
    assert(inst.read().count() == 1)
  }

  test("an empty change interval reads the schema, not the live-file list") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      segConf(interval = 2))
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    } // v2 is a segmented checkpoint
    val h = inst.latestVersion
    assert(inst.tableStateAt(h).sidecar.isDefined) // head state resolved
    val ((feed, delta), jobs) = GraftTestBus.jobsDuring(spark.sparkContext)(
      (inst.changes(h, h), inst.weightedDelta(h, h)))
    assert(jobs == 0, s"an empty interval started $jobs Spark jobs")
    assert(feed.columns.toSeq == Seq("obj_id", "value", "_version", "_change"))
    assert(delta.columns.toSeq == Seq("obj_id", "value", "_w"))
    assert(feed.count() == 0 && delta.count() == 0)
  }
}
