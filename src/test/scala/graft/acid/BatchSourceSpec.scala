package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Batch DSv2 source (`format("graft")`): snapshot reads with version
  * pinning, time travel, column pruning, and manifest-stats file
  * skipping — the SQL front door over the ACID table. */
class BatchSourceSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_batch_").toUri.toString

  private def readGraft(root: String, version: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft").option("path", root)
    version.foreach(v => r.option("versionAsOf", v))
    r.load()
  }

  private def graftScan(df: DataFrame): GraftScan = {
    val scans = GraftScan.planned(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in plan:\n" +
      df.queryExecution.executedPlan)
    scans.head
  }

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

  private def lifecycleTable(): (Instance, String) = {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t1) // v1
    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t2) // v2
    val t3 = inst.begin()
    t3.delete(Seq(3L))
    inst.commit(t3) // v3
    (inst, dir)
  }

  test("head read equals Instance.read(); versionAsOf time-travels") {
    val (inst, dir) = lifecycleTable()
    def rows(df: DataFrame) = df.orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(readGraft(dir)) == rows(inst.read()))
    assert(rows(readGraft(dir)) == Seq((1L, 10L), (2L, 200L)))
    assert(rows(readGraft(dir, Some(1L))) == Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rows(readGraft(dir, Some(2L))) == Seq((1L, 10L), (2L, 200L), (3L, 30L)))
    // out-of-range version fails loudly
    val e = intercept[Exception](readGraft(dir, Some(99L)).collect())
    assert(e.getMessage.contains("out of range"))
  }

  test("a load pins the version its schema was resolved at, with one instance") {
    val (inst, dir) = lifecycleTable()
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("path", dir))
    val p = new GraftTableProvider
    val schema = p.inferSchema(opts)
    // a commit between schema resolution and table resolution
    val t = inst.begin(); t.insert(Seq((9L, 90L)).toDF("obj_id", "value")); inst.commit(t)
    val first = p.getTable(schema, Array.empty, opts.asCaseSensitiveMap())
      .asInstanceOf[GraftTable]
    assert(first.pinned.contains(3L))
    // getTable without a matching inferSchema resolves on its own
    val second = p.getTable(schema, Array.empty, opts.asCaseSensitiveMap())
      .asInstanceOf[GraftTable]
    assert(second.pinned.contains(4L) && (second.inst ne first.inst))
    val other = p.inferSchema(opts)
    val third = p.getTable(other, Array.empty,
      java.util.Map.of("path", dir, "versionAsOf", "1"))
      .asInstanceOf[GraftTable]
    assert(third.pinned.contains(1L))
  }

  test("SQL front door: CREATE TEMPORARY VIEW USING graft, with time travel") {
    val (_, dir) = lifecycleTable()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_head USING graft " +
      s"OPTIONS (path '$dir')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_v1 USING graft " +
      s"OPTIONS (path '$dir', versionAsOf '1')")
    val head = spark.sql(
      "SELECT sum(value) AS s, count(*) AS n FROM graft_head").head()
    assert((head.getLong(0), head.getLong(1)) == (210L, 2L))
    val v1 = spark.sql(
      "SELECT sum(value) AS s, count(*) AS n FROM graft_v1").head()
    assert((v1.getLong(0), v1.getLong(1)) == (60L, 3L))
  }

  test("column pruning reaches the scan's read schema") {
    val (_, dir) = lifecycleTable()
    val df = readGraft(dir).select("value")
    assert(graftScan(df).readSchema().fieldNames.toSeq == Seq("value"))
    assert(df.orderBy("value").collect().map(_.getLong(0)).toSeq ==
      Seq(10L, 200L))
  }

  test("obj_id point read skips files via manifest stats") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    // four commits with disjoint id ranges -> four files with stats
    (0 until 4).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 100).map(j =>
        (i * 100L + j, i * 100L + j)).toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val all = readGraft(dir)
    assert(graftScan(all).prunedFiles.size == 4)
    val point = readGraft(dir).filter(col("obj_id") === 250L)
    val scan = graftScan(point)
    assert(scan.prunedFiles.size == 1, s"expected 1 file, got ${scan.prunedFiles}")
    assert(point.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((250L, 250L)))
    // range filter prunes to the overlapping files only
    val range = readGraft(dir).filter(col("obj_id") >= 150L && col("obj_id") < 320L)
    assert(graftScan(range).prunedFiles.size == 3) // [100,199] [200,299] [300,399]
    assert(range.count() == 170L)
  }

  test("universal footer stats prune never-clustered columns of every type") {
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, name STRING, ts TIMESTAMP, score DOUBLE, note STRING")
    val inst = VersionedTable.create(spark, dir, schema)
    // four commits, never compacted, never clustered — only the
    // automatic write-time footer stats can skip their files. One file
    // carries an all-null note; the others carry no nulls at all.
    val groups = Seq(
      ("a", 0, true), ("g", 1, false), ("n", 2, false), ("t", 3, false))
    groups.foreach { case (pfx, i, nullNote) =>
      val t = inst.begin()
      t.insert((0 until 50).map { j =>
        (i * 50L + j, s"$pfx-doc-$j",
          java.sql.Timestamp.valueOf(s"2024-0${i + 1}-10 00:00:${j % 60}"),
          i * 10.0 + j / 50.0,
          if (nullNote) null else s"note-$j")
      }.toDF("obj_id", "name", "ts", "score", "note").coalesce(1))
      inst.commit(t)
    }
    assert(graftScan(readGraft(dir)).prunedFiles.size == 4)
    // string equality and prefix both prune to one file
    val byName = readGraft(dir).filter(col("name") === "g-doc-7")
    assert(graftScan(byName).prunedFiles.size == 1,
      s"string stats should prune: ${graftScan(byName).prunedFiles}")
    assert(byName.count() == 1L)
    val byPrefix = readGraft(dir).filter(col("name").startsWith("t-"))
    assert(graftScan(byPrefix).prunedFiles.size == 1)
    assert(byPrefix.count() == 50L)
    // timestamp range prunes to the overlapping commits only
    val byTs = readGraft(dir).filter(
      col("ts") >= lit("2024-02-01").cast("timestamp") &&
      col("ts") < lit("2024-04-01").cast("timestamp"))
    assert(graftScan(byTs).prunedFiles.size == 2,
      s"timestamp stats should prune: ${graftScan(byTs).prunedFiles}")
    assert(byTs.count() == 100L)
    // double range prunes
    val byScore = readGraft(dir).filter(col("score") > 25.0)
    assert(graftScan(byScore).prunedFiles.size == 1)
    assert(byScore.count() == 50L)
    // IS NULL keeps only the file whose null count is non-zero;
    // IS NOT NULL skips the all-null file
    val isNull = readGraft(dir).filter(col("note").isNull)
    assert(graftScan(isNull).prunedFiles.size == 1,
      s"null-count stats should prune: ${graftScan(isNull).prunedFiles}")
    assert(isNull.count() == 50L)
    val notNull = readGraft(dir).filter(col("note").isNotNull)
    assert(graftScan(notNull).prunedFiles.size == 3)
    assert(notNull.count() == 150L)
  }

  test("secondary Z-order colStats prune point reads after compaction") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    // value anti-correlated with obj_id so only a secondary index helps
    t.insert((0 until 400).map(i => (i.toLong, 399L - i)).toDF("obj_id", "value"))
    inst.commit(t)
    assert(inst.compact(targetFiles = 4, clusterBy = Seq("obj_id", "value")) > 0)
    val point = readGraft(dir).filter(col("value") === 7L)
    val scan = graftScan(point)
    assert(scan.prunedFiles.size < 4,
      s"colStats should prune, got ${scan.prunedFiles}")
    assert(point.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((392L, 7L)))
  }

  test("partition-path filters skip files; partition columns rebuilt per row") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, lang STRING, value BIGINT"))
    val t = inst.begin()
    t.insertPartitioned(
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "fr", 40L))
        .toDF("obj_id", "lang", "value"),
      partitionBy = Seq("lang"))
    inst.commit(t)
    val en = readGraft(dir).filter(col("lang") === "en")
    val scan = graftScan(en)
    assert(scan.prunedFiles.nonEmpty &&
      scan.prunedFiles.forall(_.contains("lang=en")),
      s"partition skipping failed: ${scan.prunedFiles}")
    assert(en.orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "en", 10L), (3L, "en", 30L)))
    // IN + IsNotNull shapes prune too; unsupported shapes keep files
    val two = readGraft(dir).filter(col("lang").isin("en", "fr"))
    assert(graftScan(two).prunedFiles.forall(f =>
      f.contains("lang=en") || f.contains("lang=fr")))
    assert(two.count() == 3L)
  }

  test("residual filters re-evaluate exactly (skipping is IO-only)") {
    val (_, dir) = lifecycleTable()
    // value has no stats index -> no file skipped, rows still exact
    val df = readGraft(dir).filter(col("value") > 50L)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 200L)))
  }

  test("version pinned at resolution: concurrent commit invisible to the relation") {
    val (inst, dir) = lifecycleTable()
    val df = readGraft(dir) // resolves + pins v3
    val t = inst.begin()
    t.insert(Seq((9L, 90L)).toDF("obj_id", "value"))
    inst.commit(t) // v4
    assert(df.count() == 2L) // still the v3 snapshot
    assert(readGraft(dir).count() == 3L) // a fresh relation sees v4
  }

  test("reported statistics: a small graft table auto-broadcasts in a join") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert((1 to 50).map(i => (i.toLong, i * 10L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val big = spark.range(0, 100000)
      .selectExpr("id % 50 + 1 AS obj_id", "id AS payload")
    // NO explicit broadcast(): the planner must pick BHJ from the
    // scan's reported size (a few KB << autoBroadcastJoinThreshold);
    // without SupportsReportStatistics a DSv2 relation defaults to
    // unknown-huge and this joins as SMJ
    val joined = big.join(readGraft(dir), Seq("obj_id"))
    // string match: AQE wraps the plan in AdaptiveSparkPlanExec, which
    // collect() does not descend into
    assert(joined.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
      "small graft side must auto-broadcast:\n" +
        joined.queryExecution.executedPlan)
    assert(joined.count() == 100000L)
    // and the size estimate tracks PRUNING: a filtered scan reports
    // fewer bytes than the full one
    val full = graftScan(readGraft(dir)).estimateStatistics().sizeInBytes()
    val (inst2, dir2) = lifecycleTable()
    // a second data file outside id 1's range: the point rewrites above
    // leave the table in one file, and pruning needs a file to skip
    val t4 = inst2.begin()
    t4.insert(Seq((9L, 90L)).toDF("obj_id", "value"))
    inst2.commit(t4)
    val pruned = graftScan(readGraft(dir2).filter(col("obj_id") === 1L))
    val prunedBytes = pruned.estimateStatistics().sizeInBytes()
    val fullBytes2 = graftScan(readGraft(dir2)).estimateStatistics()
      .sizeInBytes()
    assert(full.isPresent && prunedBytes.isPresent && fullBytes2.isPresent)
    assert(prunedBytes.getAsLong < fullBytes2.getAsLong,
      s"pruned scan must report fewer bytes " +
        s"(${prunedBytes.getAsLong} vs ${fullBytes2.getAsLong})")
  }

  test("runtime filters re-prune the file set (DSv2 dynamic pruning hook)") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    // one file per disjoint id range -> obj_id range index can skip
    (0 until 4).foreach { g =>
      val t = inst.begin()
      t.insert((1 to 25).map(i => (g * 100L + i, i.toLong))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val scan = graftScan(readGraft(dir))
    assert(scan.filterAttributes().nonEmpty)
    assert(scan.prunedFiles.size == 4)
    // Spark hands join-derived IN sets through filter(); the scan must
    // narrow to the files whose ranges can hold them
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("obj_id", Array(105L, 110L))))
    assert(scan.prunedFiles.size == 1,
      s"runtime IN must prune to one file, got ${scan.prunedFiles}")
    // row-level-operation scans volunteer runtime filtering too
    // (Spark's runtime GROUP filtering for group-based CoW)
    val rlo = new GraftRowLevelOperation(inst, inst.latestVersion,
      AcidQueries.schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    val cowScan = rlo.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build().asInstanceOf[GraftScan]
    assert(cowScan.filterAttributes().nonEmpty)
  }

  test("timestampAsOf time travel resolves by commit wall-clock") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (1 to 3).foreach { i =>
      Thread.sleep(15) // force distinct commit stamps
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    val ts = inst.history().orderBy("version").collect()
      .map(_.getAs[Long]("ts_millis"))
    assert(ts.length == 4 && ts.sliding(2).forall(p => p(0) < p(1)),
      s"expected strictly increasing stamps, got ${ts.toSeq}")
    def cnt(t: Long) = spark.read.format("graft").option("path", dir)
      .option("timestampAsOf", t).load().count()
    assert(cnt(ts(1)) == 1L) // exactly v1's stamp
    assert(cnt(ts(2)) == 2L)
    assert(cnt(ts(3) + 60000L) == 3L) // after head -> head
    assert(cnt((ts(1) + ts(2)) / 2) == 1L) // between commits -> earlier
    val e = intercept[Exception](cnt(ts(0) - 60000L))
    assert(e.getMessage.contains("before the table's earliest commit"))
    // ISO instant form parses too
    val iso = java.time.Instant.ofEpochMilli(ts(2)).toString
    assert(spark.read.format("graft").option("path", dir)
      .option("timestampAsOf", iso).load().count() == 2L)
    // mutually exclusive with versionAsOf
    val e2 = intercept[Exception](spark.read.format("graft")
      .option("path", dir).option("versionAsOf", 1)
      .option("timestampAsOf", ts(1)).load())
    assert(e2.getMessage.contains("mutually exclusive"))
  }

  test("write path: append and overwrite are single ACID commits") {
    val (inst, dir) = lifecycleTable() // v3 head: (1,10),(2,200)
    Seq((7L, 70L)).toDF("obj_id", "value")
      .write.format("graft").option("path", dir).mode("append").save()
    assert(inst.latestVersion == 4L)
    assert(readGraft(dir).count() == 3L)
    // overwrite = truncate + insert in ONE transaction / ONE version
    Seq((100L, 1L), (101L, 2L)).toDF("obj_id", "value")
      .write.format("graft").option("path", dir).mode("overwrite").save()
    assert(inst.latestVersion == 5L)
    assert(readGraft(dir).orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((100L, 1L), (101L, 2L)))
    // the pre-overwrite state stays time-travelable (CoW keeps bytes)
    assert(readGraft(dir, Some(4L)).count() == 3L)
  }

  test("write path: SQL INSERT INTO the view; time-traveled views reject writes") {
    val (_, dir) = lifecycleTable()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_w USING graft " +
      s"OPTIONS (path '$dir')")
    spark.sql("INSERT INTO graft_w VALUES (8, 80)")
    assert(readGraft(dir).count() == 3L)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_w1 USING graft " +
      s"OPTIONS (path '$dir', versionAsOf '1')")
    val e = intercept[Exception](spark.sql("INSERT INTO graft_w1 VALUES (9, 90)"))
    assert(e.getMessage.contains("time-traveled"))
  }

  test("write path: partitionBy option stages hive layout, reads prune on it") {
    val dir = freshDir()
    VersionedTable.create(spark, dir,
      org.apache.spark.sql.types.StructType.fromDDL(
        "obj_id BIGINT, lang STRING, value BIGINT"))
    Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("obj_id", "lang", "value")
      .write.format("graft").option("path", dir)
      .option("partitionBy", "lang").mode("append").save()
    val en = readGraft(dir).filter(col("lang") === "en")
    assert(graftScan(en).prunedFiles.forall(_.contains("lang=en")))
    assert(en.count() == 2L)
  }

  test("overwrite conflicts with concurrent writers of snapshot ids") {
    val (inst, dir) = lifecycleTable()
    val t = inst.begin()
    t.insert(Seq((2L, 999L)).toDF("obj_id", "value")) // id 2 exists
    // overwrite commits first; the interleaved write of a snapshot id
    // must conflict (saturated bloom over the pre-truncate range)
    Seq((200L, 2L)).toDF("obj_id", "value")
      .write.format("graft").option("path", dir).mode("overwrite").save()
    intercept[ConflictException](inst.commit(t))
  }

  test("truncate commutes with concurrent appends of brand-new ids") {
    val (inst, dir) = lifecycleTable() // snapshot ids are in [1, 2]
    val t = inst.begin()
    t.insert(Seq((500L, 5L)).toDF("obj_id", "value")) // outside the range
    Seq((200L, 2L)).toDF("obj_id", "value")
      .write.format("graft").option("path", dir).mode("overwrite").save()
    // serializes as truncate-then-insert: both rows survive, no retry
    inst.commit(t)
    assert(readGraft(dir).orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((200L, 2L), (500L, 5L)))
  }

  test("columnar path active for atomic schemas; schema evolution time-travels") {
    val (inst, dir) = lifecycleTable()
    val df = readGraft(dir)
    // the job path's reader: a scan this small is otherwise read on the driver
    val scans = jobPath(df.queryExecution.executedPlan).collect {
      case b: BatchScanExec => b }
    assert(scans.head.supportsColumnar,
      "vectorized read path should be active for flat long columns")
    // evolve: add a column at v4; old version still reads old schema
    val t = inst.begin()
    t.evolveSchema()
    t.insert(Seq((5L, 50L, "x")).toDF("obj_id", "value", "tag"))
    inst.commit(t)
    assert(readGraft(dir).columns.toSeq == Seq("obj_id", "value", "tag"))
    assert(readGraft(dir, Some(3L)).columns.toSeq == Seq("obj_id", "value"))
  }

  test("struct-leaf stats collect and prune; statsColumnList narrows the index") {
    val dir = freshDir()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "obj_id BIGINT, props STRUCT<country: STRING, score: BIGINT>")
    val inst = VersionedTable.create(spark, dir, schema)
    // four single-file commits with disjoint props.score ranges and
    // distinct countries
    val countries = Seq("de", "en", "fr", "jp")
    (0 until 4).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 50).map(j => (i * 50L + j, countries(i), i * 100L + j))
        .toDF("obj_id", "c", "s")
        .select(col("obj_id"), struct(col("c").as("country"),
          col("s").as("score")).as("props"))
        .coalesce(1))
      inst.commit(t)
    }
    // write-time stat collection recursed into the struct leaves
    val st = inst.tableStateAt(inst.latestVersion)
    val someFile = st.inlineFiles.head
    assert(st.fileStats(someFile).contains("props.country") &&
      st.fileStats(someFile).contains("props.score"),
      s"struct leaves must be stat-indexed, got ${st.fileStats(someFile).keySet}")
    // a filter on the nested leaf prunes to one file
    val byScore = readGraft(dir).filter(col("props.score") === 215L)
    assert(graftScan(byScore).prunedFiles.size == 1,
      s"nested-leaf skip: ${graftScan(byScore).prunedFiles}")
    assert(byScore.count() == 1L)
    val byCountry = readGraft(dir).filter(col("props.country") === "fr")
    assert(graftScan(byCountry).prunedFiles.size == 1,
      s"nested string-leaf skip: ${graftScan(byCountry).prunedFiles}")
    assert(byCountry.count() == 50L)

    // explicit statsColumnList: only the named leaf is indexed
    val dir2 = freshDir()
    val inst2 = VersionedTable.create(spark, dir2, schema,
      EngineConf(statsColumnList = Seq("props.score")))
    val t2 = inst2.begin()
    t2.insert(Seq((1L, "en", 5L)).toDF("obj_id", "c", "s")
      .select(col("obj_id"), struct(col("c").as("country"),
        col("s").as("score")).as("props")).coalesce(1))
    inst2.commit(t2)
    val st2 = inst2.tableStateAt(inst2.latestVersion)
    val keys2 = st2.fileStats(st2.inlineFiles.head).keySet
    assert(keys2.contains("props.score") && !keys2.contains("props.country"),
      s"explicit list must narrow the index, got $keys2")
  }

  // ---- metadata-only aggregate pushdown --------------------------------

  private def isMetadataOnly(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    val hasLocal = plan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty
    val hasBatch = GraftScan.planned(plan).nonEmpty
    hasLocal && !hasBatch
  }

  test("aggregate pushdown: global count/min/max answered from the manifest") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (0 until 3).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 10).map(j => (i * 10L + j, i * 100L + j))
        .toDF("obj_id", "value").coalesce(2))
      inst.commit(t)
    }
    val agg = readGraft(dir).agg(
      count(lit(1)).as("cnt"), min("value").as("mn"),
      max("value").as("mx"), count(col("value")).as("cv"))
    assert(isMetadataOnly(agg),
      "count/min/max must plan as a LocalTableScan with no data-file scan:\n" +
        agg.queryExecution.executedPlan)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (30L, 0L, 209L, 30L))
    // time travel: the metadata answer respects the pinned version
    val v1 = readGraft(dir, Some(1L)).agg(count(lit(1)).as("cnt"))
    assert(isMetadataOnly(v1) && v1.head().getLong(0) == 10L)
    // a filtered aggregate must NOT push down (filters stay residual)
    val filtered = readGraft(dir).filter(col("value") > 100L)
      .agg(count(lit(1)).as("cnt"))
    assert(!isMetadataOnly(filtered) && filtered.head().getLong(0) == 19L)
    // sum is not answerable from min/max footers — full scan, right answer
    val summed = readGraft(dir).agg(sum("value").as("s"))
    assert(!isMetadataOnly(summed) && summed.head().getLong(0) == 3135L)
  }

  test("aggregate pushdown: typed min/max (string, decimal, date, timestamp)") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("price", DecimalType(9, 2)),
      StructField("d", DateType),
      StructField("ts", TimestampType)))
    val inst = VersionedTable.create(spark, dir, schema)
    val t = inst.begin()
    t.insert(Seq(
      (1L, "apple", BigDecimal("1.50"), java.sql.Date.valueOf("2026-01-03"),
        java.sql.Timestamp.valueOf("2026-01-03 10:00:00")),
      (2L, "zebra", BigDecimal("99.99"), java.sql.Date.valueOf("2026-03-01"),
        java.sql.Timestamp.valueOf("2026-03-01 23:59:59")),
      (3L, null, null, null, null))
      .toDF("obj_id", "name", "price", "d", "ts")
      .select(col("obj_id"), col("name"), col("price").cast(DecimalType(9, 2))
        .as("price"), col("d"), col("ts")).coalesce(1))
    inst.commit(t)
    val agg = readGraft(dir).agg(
      min("name").as("mn_name"), max("name").as("mx_name"),
      min("price").as("mn_p"), max("price").as("mx_p"),
      min("d").as("mn_d"), max("d").as("mx_d"),
      min("ts").as("mn_ts"), max("ts").as("mx_ts"),
      count(col("name")).as("c_name"), count(col("price")).as("c_p"))
    assert(isMetadataOnly(agg), "typed min/max must be metadata-only:\n" +
      agg.queryExecution.executedPlan)
    val r = agg.head()
    assert(r.getString(0) == "apple" && r.getString(1) == "zebra")
    assert(r.getDecimal(2) == new java.math.BigDecimal("1.50") &&
      r.getDecimal(3) == new java.math.BigDecimal("99.99"))
    assert(r.getDate(4) == java.sql.Date.valueOf("2026-01-03") &&
      r.getDate(5) == java.sql.Date.valueOf("2026-03-01"))
    assert(r.getTimestamp(6) == java.sql.Timestamp.valueOf("2026-01-03 10:00:00") &&
      r.getTimestamp(7) == java.sql.Timestamp.valueOf("2026-03-01 23:59:59"))
    assert(r.getLong(8) == 2L && r.getLong(9) == 2L)
    // doubles are refused (NaN-blind footers): falls back, still right
    val dbl = readGraft(dir)
      .agg(min(col("price").cast("double")).as("mn"))
    assert(dbl.head().getDouble(0) == 1.5)
  }

  test("aggregate/limit/topN pushdown survive a column rename (physical stats)") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (0 until 3).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 10).map(j => (i * 10L + j, i * 100L + j))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    // metadata-only rename: files keep spelling `value`; stats are
    // keyed by the physical name and must keep answering
    inst.withRetry() { t => t.renameColumn("value", "amount") }
    val agg = readGraft(dir).agg(count(lit(1)).as("cnt"),
      min("amount").as("mn"), max("amount").as("mx"),
      count(col("amount")).as("ca"))
    assert(isMetadataOnly(agg), "renamed column must still answer from " +
      "stats:\n" + agg.queryExecution.executedPlan)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (30L, 0L, 209L, 30L))
    // topN on the renamed column prunes by the physical footer ranges
    val top = readGraft(dir).orderBy("amount").limit(5)
    val planned = graftScan(top).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(planned == 1, s"top-5 on renamed column: $planned")
    assert(top.collect().map(_.getLong(1)).toSeq == (0L until 5L))
  }

  test("a user column named like the reserved #rows key is never mis-answered") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("#rows", LongType)))
    val inst = VersionedTable.create(spark, dir, schema)
    (0 until 2).foreach { i =>
      val t = inst.begin()
      // values DISJOINT from the files' row counts (5), so a collision
      // with the row-count pseudo-stat would visibly mis-prune/answer
      t.insert((0 until 5).map(j => (i * 5L + j, 1000L + i * 5L + j))
        .toDF("obj_id", "#rows").coalesce(1))
      inst.commit(t)
    }
    val df = readGraft(dir)
    // filter on the colliding column: must not prune by row counts
    assert(df.filter(col("`#rows`") === 1007L).count() == 1L)
    // min/max/count on it must fall back to a real scan, right answer
    val agg = df.agg(min(col("`#rows`")).as("mn"),
      max(col("`#rows`")).as("mx"), count(col("`#rows`")).as("c"))
    assert(!isMetadataOnly(agg), "colliding column must refuse pushdown")
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1000L, 1009L, 10L))
    // count(*) is still metadata-only (the pseudo-stat itself is fine)
    val cnt = df.agg(count(lit(1)).as("cnt"))
    assert(isMetadataOnly(cnt) && cnt.head().getLong(0) == 10L)
    // ORDER BY it must not truncate planning by row-count ranges
    val top = df.orderBy(col("`#rows`").desc).limit(3)
    assert(top.collect().map(_.getLong(1)).toSeq == Seq(1009L, 1008L, 1007L))
  }

  test("aggregate pushdown: refused under deletion vectors, healed by compaction") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    t.insert((0 until 20).map(j => (j.toLong, j * 10L))
      .toDF("obj_id", "value").coalesce(2))
    inst.commit(t)
    val td = inst.begin(); td.deleteMoR(Seq(5L, 6L)); inst.commit(td)
    // masked rows are invisible to footer stats: full scan, exact answer
    val masked = readGraft(dir).agg(count(lit(1)).as("cnt"))
    assert(!isMetadataOnly(masked), "dv-masked table must not push down")
    assert(masked.head().getLong(0) == 18L)
    // compaction materializes the masks; pushdown resumes with new stats
    assert(inst.compact(targetFiles = 1) > 0)
    val healed = readGraft(dir).agg(count(lit(1)).as("cnt"),
      max("value").as("mx"))
    assert(isMetadataOnly(healed), "compacted table must push down again:\n" +
      healed.queryExecution.executedPlan)
    val r = healed.head()
    assert(r.getLong(0) == 18L && r.getLong(1) == 190L)
  }

  test("aggregate pushdown: partition-column min/max/count answer from paths") {
    val dir = freshDir()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("v", LongType)))
    val inst = VersionedTable.create(spark, dir, schema)
    val t = inst.begin()
    t.insertPartitioned(Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L),
      (4L, "en", 40L)).toDF("obj_id", "lang", "v"), Seq("lang"))
    inst.commit(t)
    val agg = readGraft(dir).agg(min("lang").as("mn"), max("lang").as("mx"),
      count(col("lang")).as("c"), count(lit(1)).as("cnt"))
    assert(isMetadataOnly(agg), "partition-col aggregate must be " +
      "metadata-only:\n" + agg.queryExecution.executedPlan)
    val r = agg.head()
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)) ==
      ("de", "fr", 4L, 4L))
  }

  test("aggregate pushdown: GROUP BY partition column folds from metadata") {
    val dir = freshDir()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("v", LongType)))
    val inst = VersionedTable.create(spark, dir, schema)
    (0 until 2).foreach { i =>
      val t = inst.begin()
      t.insertPartitioned(Seq(
        (i * 10L + 1L, "en", i * 100L + 1L), (i * 10L + 2L, "en", i * 100L + 2L),
        (i * 10L + 3L, "de", i * 100L + 3L))
        .toDF("obj_id", "lang", "v"), Seq("lang"))
      inst.commit(t)
    }
    val agg = readGraft(dir).groupBy("lang").agg(
      count(lit(1)).as("cnt"), min("v").as("mn"), max("v").as("mx"),
      max("lang").as("ml"))
    assert(isMetadataOnly(agg), "grouped partition aggregate must be " +
      "metadata-only:\n" + agg.queryExecution.executedPlan)
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getString(4))).toSeq.sortBy(_._1)
    assert(got == Seq(("de", 2L, 3L, 103L, "de"), ("en", 4L, 1L, 102L, "en")))
    // grouping by a NON-partition column falls back to a real scan
    val byData = readGraft(dir).groupBy("v").agg(count(lit(1)).as("c"))
    assert(!isMetadataOnly(byData) && byData.count() == 6L)
    // SELECT DISTINCT on a partition column is the degenerate grouped
    // aggregate (no functions) — also metadata-only
    val distinct = readGraft(dir).select("lang").distinct()
    assert(isMetadataOnly(distinct), "DISTINCT partition values must be " +
      "metadata-only:\n" + distinct.queryExecution.executedPlan)
    assert(distinct.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("de", "en"))
  }

  test("aggregate pushdown: GROUP BY partition column over a segmented table") {
    val dir = freshDir()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("v", LongType)))
    val inst = VersionedTable.create(spark, dir, schema,
      EngineConf(checkpointInlineFiles = 0, checkpointInterval = 2))
    (0 until 4).foreach { i =>
      val t = inst.begin()
      t.insertPartitioned(Seq(
        (i * 10L + 1L, "en", i * 100L + 1L), (i * 10L + 2L, "de", i * 100L + 2L))
        .toDF("obj_id", "lang", "v"), Seq("lang"))
      inst.commit(t)
    }
    assert(inst.tableStateAt(inst.latestVersion).sidecar.isDefined)
    val agg = readGraft(dir).groupBy("lang").agg(count(lit(1)).as("cnt"),
      max("v").as("mx"))
    assert(isMetadataOnly(agg), "segmented grouped aggregate must be " +
      "metadata-only:\n" + agg.queryExecution.executedPlan)
    val got = agg.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq.sortBy(_._1)
    assert(got == Seq(("de", 4L, 302L), ("en", 4L, 301L)))
  }

  test("limit pushdown: planning truncates to a row-covering file prefix") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    (0 until 6).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 10).map(j => (i * 10L + j, i * 100L + j))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val limited = readGraft(dir).limit(12)
    val planned = graftScan(limited).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(planned == 2, s"LIMIT 12 over 10-row files must plan 2 files, " +
      s"planned $planned")
    assert(limited.count() == 12L)
    assert(graftScan(limited).description().contains("PushedLimit: 12"))
    // a filtered limit must NOT truncate (post-scan drops could
    // under-deliver): all files planned, result exact
    val filtered = readGraft(dir).filter(col("value") % 100 >= 5).limit(12)
    val plannedF = graftScan(filtered).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedF == 6 && filtered.count() == 12L)
    // dv-masked files contribute 0 to the prefix: more files planned,
    // never fewer rows than the limit
    val td = inst.begin(); td.deleteMoR((0L until 10L)); inst.commit(td)
    val afterMask = readGraft(dir).limit(12)
    val plannedM = graftScan(afterMask).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedM == 3, s"masked first file counts 0, planned $plannedM")
    assert(afterMask.count() == 12L)
  }

  test("topN pushdown: ORDER BY obj_id LIMIT n plans only covering files") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    // six files with DISJOINT id ranges (insert order != id order, so
    // a naive prefix would be wrong — pruning must go by ranges)
    Seq(3, 0, 5, 1, 4, 2).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 10).map(j => (i * 10L + j, i * 100L + j))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val asc = readGraft(dir).orderBy("obj_id").limit(12)
    val plannedAsc = graftScan(asc).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedAsc == 2, s"top-12 ASC over 10-row ranges: $plannedAsc")
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L until 12L))
    val desc = readGraft(dir).orderBy(col("obj_id").desc).limit(25)
    val plannedDesc = graftScan(desc).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedDesc == 3, s"top-25 DESC: $plannedDesc")
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      (59L to 35L by -1L))
    // a secondary column with footer ranges prunes too
    val byValue = readGraft(dir).orderBy("value").limit(5)
    val plannedV = graftScan(byValue).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedV == 1, s"top-5 by value: $plannedV")
    assert(byValue.collect().map(_.getLong(1)).toSeq == (0L until 5L))
    // dv-masked file: coverage drops to 0, one more file planned,
    // result still exact
    val td = inst.begin(); td.deleteMoR(Seq(0L, 1L)); inst.commit(td)
    val masked = readGraft(dir).orderBy("obj_id").limit(12)
    val plannedM = graftScan(masked).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(plannedM == 3, s"masked head file covers 0: $plannedM")
    assert(masked.collect().map(_.getLong(0)).toSeq == (2L until 14L))
  }

  test("limit pushdown: segmented checkpoints feed row counts to planning") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      EngineConf(checkpointInlineFiles = 0, checkpointInterval = 2))
    (0 until 6).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 10).map(j => (i * 10L + j, i * 100L + j))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    assert(inst.tableStateAt(inst.latestVersion).sidecar.isDefined)
    val limited = readGraft(dir).limit(25)
    val planned = graftScan(limited).planInputPartitions()
      .flatMap { case p: GraftInputPartition => p.files }.length
    assert(planned == 3, s"LIMIT 25 over 10-row files must plan 3, " +
      s"planned $planned")
    assert(limited.count() == 25L)
  }

  test("aggregate pushdown: segmented checkpoint folds stats distributedly") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema,
      EngineConf(checkpointInlineFiles = 0, checkpointInterval = 2))
    (0 until 5).foreach { i =>
      val t = inst.begin()
      t.insert((0 until 8).map(j => (i * 8L + j, i * 80L + j))
        .toDF("obj_id", "value").coalesce(1))
      inst.commit(t)
    }
    val st = inst.tableStateAt(inst.latestVersion)
    assert(st.sidecar.isDefined, "fixture must actually be segmented")
    val agg = readGraft(dir).agg(count(lit(1)).as("cnt"),
      min("value").as("mn"), max("value").as("mx"))
    assert(isMetadataOnly(agg), "segmented table must push down:\n" +
      agg.queryExecution.executedPlan)
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (40L, 0L, 327L))
  }
}
