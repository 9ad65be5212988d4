package graft.acid

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Per-file bloom skipping ([[EngineConf.fileBloomCols]]): equality/IN
  * point predicates on declared non-clustered columns prune files the
  * blooms PROVE value-free. Soundness (no false negatives, answers
  * identical with blooms on/off) and effectiveness (>90% of files
  * pruned for a point lookup across many files) are both pinned. */
class FileBloomSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("obj_id", LongType, nullable = false),
    StructField("uname", StringType),
    StructField("score", LongType)))

  // FILES surviving the manifest skip (input partitions would
  // under-count: small files bin-pack many-per-partition)
  private def plannedFiles(df: DataFrame): Int = {
    val scans = GraftScan.planned(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan")
    scans.map(_.prunedFiles.size).sum
  }

  // 24 single-file commits, user ids disjoint per file but with
  // INTERLEAVED hashes (user strings), so min/max ranges on `user`
  // are useless while blooms are surgical
  private def seeded(conf: EngineConf): Instance = {
    val dir = Files.createTempDirectory("graft_fbloom_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema, conf)
    (0 until 24).foreach { c =>
      val rows = (0 until 40).map { i =>
        val id = c * 1000L + i
        (id, s"uname_${id * 2654435761L % 100000}", id % 7)
      }
      inst.withRetry() { t => t.insert(
        rows.toDF("obj_id", "uname", "score").coalesce(1)) }
    }
    inst
  }

  // the DSv2 front door — manifest skipping (and so the bloom veto)
  // lives in GraftScan, not the programmatic snapshot view
  private def dsv2(inst: Instance): DataFrame =
    spark.read.format("graft").option("path", inst.root).load()

  test("local fused bloom build is bit-identical to the distributed pass") {
    val inst = seeded(EngineConf(fileBloomCols = Seq("uname", "score")))
    val files = inst.tableStateAt(inst.latestVersion).inlineFiles.take(8)
    val cols = Seq("uname", "score")
    // same staged files through both builders: the driver-pooled Group
    // read (row count under the gate) and the distributed read-back
    // job (gate withheld) must produce byte-identical #fb: entries —
    // the soundness of every later probe rests on equal hashing
    val local = inst.fileBlooms(files, cols, inst.conf.fileBloomBits,
      totalRows = Some(8L * 40))
    val dist = inst.fileBlooms(files, cols, inst.conf.fileBloomBits,
      totalRows = None)
    assert(local.nonEmpty)
    assert(local == dist)

    // INT32-backed physical types too (int/short parquet columns hash
    // through Group.getInteger on the local path vs the row path's
    // Integer/Short unboxing — must stay bit-identical)
    import org.apache.spark.sql.types.{IntegerType, ShortType}
    val schema32 = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("iv", IntegerType),
      StructField("sv", ShortType)))
    val dir32 = Files.createTempDirectory("graft_fbloom32_").toUri.toString
    val inst32 = VersionedTable.create(spark, dir32, schema32,
      EngineConf(fileBloomCols = Seq("iv", "sv")))
    val rows32 = (0 until 50).map(i =>
      (i.toLong, i * 7919, (i % 97).toShort))
    inst32.withRetry() { t =>
      t.insert(rows32.toDF("obj_id", "iv", "sv").coalesce(2)) }
    val files32 = inst32.tableStateAt(inst32.latestVersion).inlineFiles
    val local32 = inst32.fileBlooms(files32, Seq("iv", "sv"),
      inst32.conf.fileBloomBits, totalRows = Some(50L))
    val dist32 = inst32.fileBlooms(files32, Seq("iv", "sv"),
      inst32.conf.fileBloomBits, totalRows = None)
    assert(local32.nonEmpty)
    assert(local32 == dist32)

    // partition files colliding on basename (one task writes both
    // lang= dirs): each build keys every file by its dataDir-relative
    // path, so the two files keep two different blooms
    val dirP = Files.createTempDirectory("graft_fbloompl_").toUri.toString
    val instP = VersionedTable.create(spark, dirP, StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("uname", StringType))),
      EngineConf(fileBloomCols = Seq("uname")))
    val rowsP = (0 until 80).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"user_${i * 2654435761L}")
    }
    instP.withRetry() { t => t.insertPartitioned(
      rowsP.toDF("obj_id", "lang", "uname").repartition(1), Seq("lang")) }
    val filesP = instP.tableStateAt(instP.latestVersion).inlineFiles
    assert(filesP.size == 2 &&
      filesP.map(f => f.substring(f.lastIndexOf('/') + 1)).distinct.size == 1)
    val localP = instP.fileBlooms(filesP, Seq("uname"),
      instP.conf.fileBloomBits, totalRows = Some(80L))
    val distP = instP.fileBlooms(filesP, Seq("uname"),
      instP.conf.fileBloomBits, totalRows = None)
    assert(localP.keySet == filesP.toSet)
    assert(localP.values.map(_.values.head.min).toSet.size == 2)
    assert(localP == distP)
  }

  test("point predicates on a bloom column prune >90% of files") {
    val inst = seeded(EngineConf(fileBloomCols = Seq("uname"),
      fileBloomBits = 1 << 14))
    assert(inst.tableStateAt(inst.latestVersion).numFiles == 24L)
    // a value that exists in exactly one file
    val probe = s"uname_${5007L * 2654435761L % 100000}"
    val q = dsv2(inst).filter(col("uname") === probe)
    val planned = plannedFiles(q)
    assert(planned <= 2, s"expected <=2 files planned of 24, got $planned")
    assert(q.count() == 1)
    // IN over two files' values: both kept, rest pruned
    val probe2 = s"uname_${11013L * 2654435761L % 100000}"
    val q2 = dsv2(inst).filter(col("uname").isin(probe, probe2))
    assert(plannedFiles(q2) <= 3)
    assert(q2.count() == 2)
    // an ABSENT value prunes everything (zero partitions planned)
    val qa = dsv2(inst).filter(col("uname") === "uname_nope")
    assert(plannedFiles(qa) == 0)
    assert(qa.count() == 0)
    // long bloom column too
    val instL = seeded(EngineConf(fileBloomCols = Seq("obj_id", "uname")))
    val ql = dsv2(instL).filter(col("obj_id") === 17011L)
    // obj_id also has the primary range index; bloom + range agree
    assert(plannedFiles(ql) <= 1 && ql.count() == 1)
  }

  test("bloom skipping is sound: answers equal the bloom-free table") {
    val withB = seeded(EngineConf(fileBloomCols = Seq("uname")))
    val noB = seeded(EngineConf())
    // every present value answers identically (no false negatives)
    val probes = Seq(3L, 21037L, 5007L, 11013L, 23039L).map(id =>
      s"uname_${id * 2654435761L % 100000}") ++ Seq("uname_absent")
    probes.foreach { v =>
      val a = dsv2(withB).filter(col("uname") === v)
        .orderBy("obj_id").collect().map(_.getLong(0)).toSeq
      val b = dsv2(noB).filter(col("uname") === v)
        .orderBy("obj_id").collect().map(_.getLong(0)).toSeq
      assert(a == b, s"bloom table diverged for $v")
    }
    // non-equality predicates ignore blooms (no veto, same answers)
    assert(dsv2(withB).filter(col("uname") > "uname_5").count() ==
      dsv2(noB).filter(col("uname") > "uname_5").count())
    // deletes: a masked row's value still keeps its file (veto-only),
    // and the answer excludes the dead row
    val victim = s"uname_${5007L * 2654435761L % 100000}"
    withB.withRetry() { t => t.delete(Seq(5007L)) }
    assert(dsv2(withB).filter(col("uname") === victim).count() == 0)
    // null handling: IS NULL / null-safe probes never bloom-veto
    withB.withRetry() { t => t.insert(
      Seq((90000L, null.asInstanceOf[String], 1L))
        .toDF("obj_id", "uname", "score")) }
    assert(dsv2(withB).filter(col("uname").isNull).count() == 1)
    assert(dsv2(withB).filter(col("uname") <=> lit(null)).count() == 1)
  }

  test("streaming epochs and row-level rewrites build blooms too") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_fbloom_s_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val ckpt = Files.createTempDirectory("graft_fbloom_ck_").toString
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "uname", "score")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", ckpt)
        .option("bloomFilters", "uname") // sink option declares the col
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    (0 until 6).foreach { c =>
      mem.addData((c * 100L, s"s${c * 100}", 0L)); drain()
    }
    assert(inst.tableStateAt(inst.latestVersion).numFiles == 6L)
    val q1 = dsv2(inst).filter(col("uname") === "s300")
    assert(plannedFiles(q1) <= 1, s"streamed files lack blooms")
    assert(q1.count() == 1)
    // a row-level SQL-style rewrite (CoW update) re-stages its file:
    // the replacement must re-enter the bloom index under the conf
    val inst2 = VersionedTable.open(spark, dir,
      EngineConf(fileBloomCols = Seq("uname")))
    inst2.withRetry() { t => t.update(Seq(300L),
      d => d.withColumn("uname", lit("s300x"))) }
    val q2 = dsv2(inst2).filter(col("uname") === "s300x")
    assert(plannedFiles(q2) <= 1 && q2.count() == 1)
    // the OLD value now lives nowhere: everything pruned
    val q3 = dsv2(inst2).filter(col("uname") === "s300")
    assert(plannedFiles(q3) == 0 && q3.count() == 0)
  }

  test("blooms survive checkpoints, restore, and the SQL catalog face") {
    // tight checkpoint interval: the fold must carry #fb entries
    val inst = seeded(EngineConf(fileBloomCols = Seq("uname"),
      checkpointInterval = 2))
    val probe = s"uname_${5007L * 2654435761L % 100000}"
    assert(plannedFiles(
      dsv2(inst).filter(col("uname") === probe)) <= 2)
    // restore: re-pinned files keep their bloom entries
    val head = inst.latestVersion
    inst.withRetry() { t => t.delete(Seq(5007L)) }
    inst.restore(head)
    val q = dsv2(inst).filter(col("uname") === probe)
    assert(plannedFiles(q) <= 2 && q.count() == 1)

    // SQL lifecycle: TBLPROPERTIES + set_bloom_filters + path writes
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gfb$tag"
    val wh = Files.createTempDirectory("graft_fb_wh_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.b (obj_id BIGINT, uname STRING) " +
      "TBLPROPERTIES ('bloom_filters' = 'uname')")
    (0 until 6).foreach { c =>
      spark.sql(s"INSERT INTO $cat.ns.b VALUES " +
        (0 until 20).map(i => s"(${c * 100 + i}, 'u${c * 100 + i}')")
          .mkString(", "))
    }
    val sq = spark.sql(s"SELECT * FROM $cat.ns.b WHERE uname = 'u307'")
    assert(plannedFiles(sq) <= 1 && sq.count() == 1)
    // path-based writes inherit the catalog bloom spec
    Seq((9000L, "u9000")).toDF("obj_id", "uname")
      .write.format("graft").option("path", s"$wh/ns/b")
      .mode("append").save()
    val sq2 = spark.sql(s"SELECT * FROM $cat.ns.b WHERE uname = 'u9000'")
    assert(plannedFiles(sq2) <= 1 && sq2.count() == 1)
    // CALL system.compact re-stages every live file: the bloom index
    // must survive the rewrite (openInstance threads the spec)
    spark.sql(s"CALL $cat.system.compact('ns.b', target_files => 2)")
    val sq3 = spark.sql(s"SELECT * FROM $cat.ns.b WHERE uname = 'u307'")
    assert(plannedFiles(sq3) <= 1 && sq3.count() == 1)
    val sq4 = spark.sql(s"SELECT * FROM $cat.ns.b WHERE uname = 'nope'")
    assert(plannedFiles(sq4) == 0 && sq4.count() == 0)
  }

  test("bulk commits spill blooms to an fb- sidecar: bounded manifest, " +
      "same pruning, vacuum sweeps orphans") {
    val dir = Files.createTempDirectory("graft_fbspill_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema,
      EngineConf(fileBloomCols = Seq("uname"), fileBloomInlineMax = 4,
        orphanGraceMs = 0L))
    // ONE commit staging 12 files -> 12 bloom entries > the cap of 4:
    // the bitsets must land in a sidecar, not the delta manifest
    val rows = (0 until 480).map { i =>
      (i.toLong, s"uname_${i * 2654435761L % 100000}", i % 7L)
    }
    inst.withRetry() { t => t.insert(
      rows.toDF("obj_id", "uname", "score").repartition(12)) }
    val root = new java.io.File(new java.net.URI(dir)).toPath
    val fbFiles = root.resolve("data").toFile.listFiles()
      .filter(_.getName.startsWith("fb-"))
    assert(fbFiles.length == 1, s"expected 1 fb sidecar, got ${fbFiles.length}")
    // bounded manifest: 12 inline blooms at 2^16 bits would be ~130 KB
    // of base64; with pointers the delta manifest stays small
    val mf = root.resolve("_manifests").toFile.listFiles()
      .filter(_.getName.matches("v\\d+\\.json"))
      .maxBy(f => f.getName.stripPrefix("v").stripSuffix(".json").toLong)
    val manifestText = new String(
      java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(mf.length < 20000,
      s"delta manifest not bounded: ${mf.length} bytes")
    assert(manifestText.contains("@fb-"),
      "spilled manifest carries no bloom pointers")
    // pruning unchanged through the pointer indirection (driver path)
    val probe = rows.head._2
    val q = dsv2(inst).filter(col("uname") === probe)
    assert(plannedFiles(q) <= 2, "bloom veto lost through the spill")
    assert(q.count() == rows.count(_._2 == probe))
    // absent value: every file vetoed
    val q0 = dsv2(inst).filter(col("uname") === "nope")
    assert(plannedFiles(q0) == 0 && q0.count() == 0)
    // an UNREFERENCED sidecar (orphaned by a crashed writer) is swept
    // past the grace; the referenced one survives
    val orphan = new java.io.File(root.resolve("data").toFile,
      "fb-orphan000000.json")
    java.nio.file.Files.writeString(orphan.toPath,
      VersionedTable.fbToJson(Seq(("x", "c", "AAAA"))))
    inst.vacuum(retainVersions = 10)
    assert(!orphan.exists, "orphaned fb sidecar not swept")
    assert(fbFiles.head.exists, "referenced fb sidecar wrongly swept")
    assert(plannedFiles(dsv2(inst).filter(col("uname") === probe)) <= 2)
    // SEGMENTED table: pointers ride the checkpoint side files and
    // resolve on the executors (the distributed skip mirror)
    val dir2 = Files.createTempDirectory("graft_fbspill_seg_").toUri.toString
    val seg = VersionedTable.create(spark, dir2, schema,
      EngineConf(fileBloomCols = Seq("uname"), fileBloomInlineMax = 4,
        checkpointInterval = 2, checkpointInlineFiles = 0))
    seg.withRetry() { t => t.insert(
      rows.toDF("obj_id", "uname", "score").repartition(12)) }
    seg.withRetry() { t => t.insert(
      Seq((9000L, "u9000", 0L)).toDF("obj_id", "uname", "score")) }
    val qs = dsv2(seg).filter(col("uname") === probe)
    assert(plannedFiles(qs) <= 2,
      "bloom veto lost through segmented side files + spill")
    assert(qs.count() == rows.count(_._2 == probe))
  }

  test("partitioned insert: colliding basenames get per-file blooms") {
    // Spark's dynamic-partition writer reuses one part-file NAME
    // across the partition directories a task writes — basename-keyed
    // blooms would union the colliding files (sound but pruning-dead
    // exactly on partitioned tables). The build keys by the
    // dataDir-relative path, so each partition's file keeps its own
    // surgical bloom and a point probe plans ONE file.
    val dir = Files.createTempDirectory("graft_fbloomp_").toUri.toString
    val inst = VersionedTable.create(spark, dir, StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("uname", StringType))),
      EngineConf(fileBloomCols = Seq("uname")))
    val rows = (0 until 80).map { i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"user_${i * 2654435761L}")
    }
    inst.withRetry() { t => t.insertPartitioned(
      rows.toDF("obj_id", "lang", "uname").repartition(1), Seq("lang")) }
    // the premise: one task wrote BOTH partition dirs, so the two
    // staged files collide on basename (else this test proves nothing)
    // partitions nest inside the txn's staging subdir:
    // data/t<tsn>-…/lang=…/part-….parquet
    val dataRoot = new java.io.File(new java.net.URI(dir)).toPath
      .resolve("data")
    val parts = java.nio.file.Files.walk(dataRoot).iterator().asScala
      .map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        f.getParentFile.getName.startsWith("lang="))
      .toArray
    assert(parts.length == 2, s"expected 2 partition files, got ${parts.length}")
    assert(parts.map(_.getName).distinct.length == 1,
      "dynamic-partition writer no longer reuses basenames; " +
      "pick a different collision fixture")
    // a value living only in lang=en must prune to exactly 1 file —
    // under basename-unioned blooms both files pass the veto
    val probe = rows.find(_._2 == "en").get._3
    val q = dsv2(inst).filter(col("uname") === probe)
    assert(plannedFiles(q) == 1,
      s"expected the bloom veto to prune to 1 of 2 files")
    assert(q.collect().map(_.getString(2)).toSeq == Seq(probe))
    // soundness across both partitions
    assert(dsv2(inst).filter(col("uname").isin(
      rows.map(_._3).take(6): _*)).count() == 6)
  }
}
