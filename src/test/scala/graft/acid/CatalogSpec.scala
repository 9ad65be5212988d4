package graft.acid

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** SQL catalog over a warehouse of versioned tables: DDL + DML +
  * time travel, all through `spark.sql` — the full-SQL user surface. */
class CatalogSpec extends AnyFunSuite {
  lazy val spark = {
    val s = Engine.session("4")
    val wh = Files.createTempDirectory("graft_wh_").toUri.toString
    s.conf.set("spark.sql.catalog.gcat", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcat.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("CREATE / INSERT / SELECT / DROP round-trip through pure SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.corpus")
    sql("CREATE TABLE gcat.corpus.t1 (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.corpus.t1 VALUES (1, 10), (2, 20)")
    sql("INSERT INTO gcat.corpus.t1 VALUES (3, 30)")
    assert(sql("SELECT sum(value) FROM gcat.corpus.t1").head().getLong(0) == 60L)
    assert(sql("SHOW TABLES IN gcat.corpus").collect()
      .map(_.getString(1)).toSeq.contains("t1"))
    // duplicate create fails; IF NOT EXISTS doesn't
    intercept[Exception](
      sql("CREATE TABLE gcat.corpus.t1 (obj_id BIGINT, value BIGINT)"))
    sql("CREATE TABLE IF NOT EXISTS gcat.corpus.t1 (obj_id BIGINT, value BIGINT)")
    sql("DROP TABLE gcat.corpus.t1")
    assert(!sql("SHOW TABLES IN gcat.corpus").collect()
      .map(_.getString(1)).toSeq.contains("t1"))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.tt")
    sql("CREATE TABLE gcat.tt.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.tt.t VALUES (1, 10)")
    Thread.sleep(15)
    sql("INSERT INTO gcat.tt.t VALUES (2, 20)")
    assert(sql("SELECT count(*) FROM gcat.tt.t").head().getLong(0) == 2L)
    assert(sql("SELECT count(*) FROM gcat.tt.t VERSION AS OF 1")
      .head().getLong(0) == 1L)
    val warehouse = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val inst = VersionedTable.open(spark, warehouse + "/tt/t")
    val ts1 = inst.history().filter(org.apache.spark.sql.functions
      .col("version") === 1).head().getAs[Long]("ts_millis")
    val lit = new java.sql.Timestamp(ts1).toString
    assert(sql(s"SELECT count(*) FROM gcat.tt.t TIMESTAMP AS OF '$lit'")
      .head().getLong(0) == 1L)
    // time-traveled relations reject writes
    val e = intercept[Exception](
      sql("INSERT INTO gcat.tt.t VERSION AS OF 1 VALUES (9, 90)"))
    assert(e.getMessage.toLowerCase.contains("time") ||
      e.getMessage.contains("VERSION"))
  }

  test("PARTITIONED BY stages hive layout; INSERT OVERWRITE; DELETE; TRUNCATE") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.part")
    sql("CREATE TABLE gcat.part.docs (obj_id BIGINT, lang STRING, " +
      "value BIGINT) PARTITIONED BY (lang)")
    sql("INSERT INTO gcat.part.docs VALUES (1, 'en', 10), (2, 'de', 20), " +
      "(3, 'en', 30)")
    // partition pruning flows through the catalog table's scan
    val en = sql("SELECT * FROM gcat.part.docs WHERE lang = 'en'")
    val scans = GraftScan.planned(en.queryExecution.executedPlan)
    assert(scans.head.prunedFiles.nonEmpty &&
      scans.head.prunedFiles.forall(_.contains("lang=en")))
    assert(en.count() == 2L)
    // SQL point DELETE rides the manifest index
    sql("DELETE FROM gcat.part.docs WHERE obj_id = 1")
    assert(sql("SELECT count(*) FROM gcat.part.docs").head().getLong(0) == 2L)
    // arbitrary-predicate DELETE falls through to group-based CoW —
    // on a PARTITIONED table: the rewrite physicalizes the partition
    // column into the replacement file and the snapshot read handles
    // the mixed layout
    sql("DELETE FROM gcat.part.docs WHERE value > 25")
    assert(sql("SELECT * FROM gcat.part.docs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((2L, "de", 20L)))
    // INSERT OVERWRITE = truncate + insert in one commit
    sql("INSERT OVERWRITE gcat.part.docs VALUES (7, 'fr', 70)")
    assert(sql("SELECT * FROM gcat.part.docs").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((7L, "fr", 70L)))
    sql("TRUNCATE TABLE gcat.part.docs")
    assert(sql("SELECT count(*) FROM gcat.part.docs").head().getLong(0) == 0L)
    // history is intact: pre-truncate version still readable
    assert(sql("SELECT count(*) FROM gcat.part.docs VERSION AS OF 1")
      .head().getLong(0) == 3L)
  }

  test("metadata tables: t$history and t$detail read as SQL relations") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.meta")
    sql("CREATE TABLE gcat.meta.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.meta.t VALUES (1, 10)")
    sql("INSERT INTO gcat.meta.t VALUES (2, 20)")
    val hist = sql("SELECT version, n_added_files, checkpoint " +
      "FROM gcat.meta.`t$history` ORDER BY version").collect()
    assert(hist.length == 3) // create + 2 inserts
    assert(hist.head.getLong(0) == 0L && hist.head.getBoolean(2))
    assert(hist.map(_.getLong(1)).sum >= 2L)
    val det = sql("SELECT * FROM gcat.meta.`t$detail`").collect()
    assert(det.length == 1)
    val d = det.head
    assert(d.getAs[Long]("version") == 2L)
    assert(d.getAs[Long]("num_files") >= 2L)
    assert(d.getAs[Long]("size_bytes") > 0L)
    assert(d.getAs[Long]("num_masked_files") == 0L)
    assert(d.getAs[String]("schema_ddl").contains("obj_id"))
    // $files: one row per live file with size, id range, dv count
    val files = sql("SELECT * FROM gcat.meta.`t$files`").collect()
    assert(files.length == d.getAs[Long]("num_files"))
    files.foreach { f =>
      assert(f.getAs[Long]("size_bytes") > 0L)
      assert(f.getAs[Long]("num_dv_sidecars") == 0L)
      assert(f.getAs[String]("partition_values") == "")
      assert(!f.isNullAt(f.fieldIndex("id_min")), "footer id range recorded")
    }
    // a MoR delete surfaces as a sidecar count on its target file
    spark.conf.set("spark.graft.mor.deletes", "true")
    try sql("DELETE FROM gcat.meta.t WHERE obj_id = 1")
    finally spark.conf.set("spark.graft.mor.deletes", "false")
    assert(sql("SELECT sum(num_dv_sidecars) FROM gcat.meta.`t$files`")
      .head().getLong(0) == 1L)
    // unknown suffix still errors like a missing table
    intercept[Exception](sql("SELECT * FROM gcat.meta.`t$nope`").collect())
  }

  test("CALL system.compact and system.vacuum return their metric rows") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.maint")
    sql("CREATE TABLE gcat.maint.t (obj_id BIGINT, value BIGINT)")
    (1 to 4).foreach(i => sql(s"INSERT INTO gcat.maint.t VALUES ($i, $i)"))
    // 4 single-row commits -> 4 files; compact folds them into 1
    val replaced = sql(
      "CALL gcat.system.compact('maint.t', target_files => 1)")
      .head().getLong(0)
    assert(replaced == 4L, s"expected 4 files replaced, got $replaced")
    assert(sql("SELECT sum(value) FROM gcat.maint.t").head().getLong(0) == 10L)
    // vacuum with a tight horizon drops the pre-compaction files
    val deleted = sql(
      "CALL gcat.system.vacuum('maint.t', retain_versions => 1)")
      .head().getLong(0)
    assert(deleted >= 4L, s"expected >=4 files deleted, got $deleted")
    assert(sql("SELECT sum(value) FROM gcat.maint.t").head().getLong(0) == 10L)
    // cluster_by compaction wires through and keeps results identical
    sql("INSERT INTO gcat.maint.t VALUES (9, 9)")
    val z = sql("CALL gcat.system.compact('maint.t', target_files => 2, " +
      "cluster_by => 'obj_id,value')").head().getLong(0)
    assert(z >= 1L)
    assert(sql("SELECT sum(value) FROM gcat.maint.t").head().getLong(0) == 19L)
    // unknown table fails loudly
    intercept[Exception](sql("CALL gcat.system.vacuum('maint.nope', 1)"))
  }

  test("ALTER TABLE ADD/DROP COLUMNS: metadata-only evolution commits") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.ddl")
    sql("CREATE TABLE gcat.ddl.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.ddl.t VALUES (1, 10)")
    sql("ALTER TABLE gcat.ddl.t ADD COLUMNS (tag STRING)")
    // old rows surface NULL for the added column; new schema accepts inserts
    assert(sql("SELECT tag FROM gcat.ddl.t WHERE obj_id = 1").head().isNullAt(0))
    sql("INSERT INTO gcat.ddl.t VALUES (2, 20, 'x')")
    assert(sql("SELECT count(*) FROM gcat.ddl.t WHERE tag = 'x'")
      .head().getLong(0) == 1L)
    // the pre-ALTER version still reads the old schema
    assert(sql("SELECT * FROM gcat.ddl.t VERSION AS OF 1").columns.toSeq ==
      Seq("obj_id", "value"))
    sql("ALTER TABLE gcat.ddl.t DROP COLUMN tag")
    assert(sql("SELECT * FROM gcat.ddl.t").columns.toSeq ==
      Seq("obj_id", "value"))
    assert(sql("SELECT count(*) FROM gcat.ddl.t").head().getLong(0) == 2L)
    // type changes stay rejected
    intercept[Exception](
      sql("ALTER TABLE gcat.ddl.t ALTER COLUMN value TYPE INT"))
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only via column mapping") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.ren")
    sql("CREATE TABLE gcat.ren.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.ren.t VALUES (1, 10), (2, 20)")
    val warehouse = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val inst = VersionedTable.open(spark, warehouse + "/ren/t")
    val filesBefore = inst.stateAt(inst.latestVersion)._1.toSet
    sql("ALTER TABLE gcat.ren.t RENAME COLUMN value TO amount")
    // zero data IO: the rename commit touched no data files
    assert(inst.stateAt(inst.latestVersion)._1.toSet == filesBefore,
      "rename must be metadata-only")
    // old files read under the new logical name
    assert(sql("SELECT * FROM gcat.ren.t").columns.toSeq ==
      Seq("obj_id", "amount"))
    assert(sql("SELECT sum(amount) FROM gcat.ren.t").head().getLong(0) == 30L)
    assert(sql("SELECT amount FROM gcat.ren.t WHERE obj_id = 2")
      .head().getLong(0) == 20L)
    // new inserts land under the mapping and read back merged
    sql("INSERT INTO gcat.ren.t VALUES (3, 30)")
    assert(sql("SELECT sum(amount) FROM gcat.ren.t").head().getLong(0) == 60L)
    // old name is gone (loudly)
    intercept[Exception](sql("SELECT value FROM gcat.ren.t").collect())
    // rename back clears the indirection entirely
    sql("ALTER TABLE gcat.ren.t RENAME COLUMN amount TO value")
    assert(inst.tableStateAt(inst.latestVersion).renames.isEmpty)
    assert(sql("SELECT sum(value) FROM gcat.ren.t").head().getLong(0) == 60L)
  }

  test("time travel across a rename shows each version's own names") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.ren2")
    sql("CREATE TABLE gcat.ren2.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.ren2.t VALUES (1, 10)") // v1
    sql("ALTER TABLE gcat.ren2.t RENAME COLUMN value TO amount") // v2
    sql("INSERT INTO gcat.ren2.t VALUES (2, 20)") // v3
    assert(sql("SELECT * FROM gcat.ren2.t VERSION AS OF 1").columns.toSeq ==
      Seq("obj_id", "value"))
    assert(sql("SELECT value FROM gcat.ren2.t VERSION AS OF 1")
      .head().getLong(0) == 10L)
    assert(sql("SELECT * FROM gcat.ren2.t VERSION AS OF 3").columns.toSeq ==
      Seq("obj_id", "amount"))
    // pre- and post-rename files merge under the post-rename name
    assert(sql("SELECT sum(amount) FROM gcat.ren2.t VERSION AS OF 3")
      .head().getLong(0) == 30L)
    // UPDATE/DELETE through the renamed column (CoW rewrite + map)
    sql("UPDATE gcat.ren2.t SET amount = amount + 1 WHERE obj_id = 1")
    assert(sql("SELECT amount FROM gcat.ren2.t WHERE obj_id = 1")
      .head().getLong(0) == 11L)
  }

  test("ALTER COLUMN TYPE widens INT->LONG; old narrow files promote at read") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.wide")
    sql("CREATE TABLE gcat.wide.t (obj_id BIGINT, qty INT)")
    sql("INSERT INTO gcat.wide.t VALUES (1, 10), (2, 20)")
    sql("ALTER TABLE gcat.wide.t ALTER COLUMN qty TYPE BIGINT")
    assert(sql("SELECT * FROM gcat.wide.t").schema("qty").dataType ==
      org.apache.spark.sql.types.LongType)
    // a value only the widened type can hold, beside promoted old rows
    sql("INSERT INTO gcat.wide.t VALUES (3, 5000000000)")
    assert(sql("SELECT sum(qty) FROM gcat.wide.t").head().getLong(0) ==
      5000000030L)
    // narrowing stays rejected
    intercept[Exception](
      sql("ALTER TABLE gcat.wide.t ALTER COLUMN qty TYPE INT"))
    // widen + rename compose
    sql("ALTER TABLE gcat.wide.t RENAME COLUMN qty TO n")
    assert(sql("SELECT sum(n) FROM gcat.wide.t").head().getLong(0) ==
      5000000030L)
  }

  test("rename of a partition column is rejected; others work on partitioned tables") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.renp")
    sql("CREATE TABLE gcat.renp.t (obj_id BIGINT, lang STRING, n BIGINT) " +
      "PARTITIONED BY (lang)")
    sql("INSERT INTO gcat.renp.t VALUES (1, 'en', 5), (2, 'de', 7)")
    intercept[Exception](
      sql("ALTER TABLE gcat.renp.t RENAME COLUMN lang TO language"))
    sql("ALTER TABLE gcat.renp.t RENAME COLUMN n TO chars")
    // partition pruning still works beside the renamed data column
    assert(sql("SELECT chars FROM gcat.renp.t WHERE lang = 'de'")
      .head().getLong(0) == 7L)
    sql("INSERT INTO gcat.renp.t VALUES (3, 'en', 11)")
    assert(sql("SELECT sum(chars) FROM gcat.renp.t WHERE lang = 'en'")
      .head().getLong(0) == 16L)
  }

  test("partition-spec evolution: metadata-only; new writes re-lay out; compact migrates") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.pev")
    sql("CREATE TABLE gcat.pev.t (obj_id BIGINT, lang STRING, n BIGINT)")
    sql("INSERT INTO gcat.pev.t VALUES (1, 'en', 5), (2, 'de', 7)")
    // evolve the spec: metadata-only (zero data IO), applies to NEW
    // writes only — the old generation keeps its flat layout
    sql("CALL gcat.system.set_partitioning('pev.t', partition_by => 'lang')")
    sql("INSERT INTO gcat.pev.t VALUES (3, 'en', 11), (4, 'fr', 13)")
    // reads are correct across the generation boundary
    assert(sql("SELECT sum(n) FROM gcat.pev.t").head().getLong(0) == 36L)
    assert(sql("SELECT sum(n) FROM gcat.pev.t WHERE lang = 'en'")
      .head().getLong(0) == 16L)
    // the new generation actually carries the hive layout; the old one
    // stays flat (mixed groups in $partitions)
    val gen1 = sql("SELECT partition_values FROM gcat.pev.`t$partitions`")
      .collect().map(_.getString(0)).toSet
    assert(gen1.contains("") && gen1.contains("lang=en") &&
      gen1.contains("lang=fr"), s"got $gen1")
    // one compaction migrates the old generation under the current spec
    sql("CALL gcat.system.compact('pev.t', target_files => 1)")
    val gen2 = sql("SELECT partition_values FROM gcat.pev.`t$partitions`")
      .collect().map(_.getString(0)).toSet
    assert(gen2 == Set("lang=en", "lang=de", "lang=fr"), s"got $gen2")
    assert(sql("SELECT sum(n) FROM gcat.pev.t WHERE lang = 'de'")
      .head().getLong(0) == 7L)
    // partition pruning now prunes BOTH generations' rows by path
    assert(sql("SELECT count(*) FROM gcat.pev.t WHERE lang = 'en'")
      .head().getLong(0) == 2L)
    // evolve again: unpartition for new writes
    sql("CALL gcat.system.set_partitioning('pev.t', partition_by => '')")
    sql("INSERT INTO gcat.pev.t VALUES (5, 'de', 17)")
    assert(sql("SELECT sum(n) FROM gcat.pev.t WHERE lang = 'de'")
      .head().getLong(0) == 24L)
    // an unknown column is rejected before the spec moves
    intercept[Exception](sql(
      "CALL gcat.system.set_partitioning('pev.t', partition_by => 'nope')"))
  }

  test("obj_id is refused as a partition column at every entry point") {
    val msg = "obj_id cannot be a partition column"
    def refused(body: => Any): Unit = {
      val e = intercept[Exception](body)
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      assert(chain.exists(_.contains(msg)), e.toString)
    }
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.oidp")
    sql("CREATE TABLE gcat.oidp.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.oidp.t VALUES (1, 10), (2, 20)")
    sql("INSERT INTO gcat.oidp.t VALUES (3, 30)")
    val warehouse = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val inst = VersionedTable.open(spark, warehouse + "/oidp/t")
    val head = inst.latestVersion
    // the API compaction path writes through writeStaged
    refused(inst.compact(partitionBy = Some(Seq("obj_id"))))
    assert(inst.latestVersion == head)
    // the partitioning spec never records it, so a later CALL
    // system.compact cannot write obj_id= directories either
    refused(sql(
      "CALL gcat.system.set_partitioning('oidp.t', partition_by => 'obj_id')"))
    assert(inst.latestVersion == head)
    sql("CALL gcat.system.compact('oidp.t', target_files => 1)")
    assert(VersionedTable.open(spark, warehouse + "/oidp/t")
      .tableStateAt(inst.latestVersion).inlineFiles
      .forall(!_.contains("obj_id=")))
    assert(sql("SELECT sum(value) FROM gcat.oidp.t").head().getLong(0) == 60L)
    // nor does CREATE TABLE ... PARTITIONED BY create the table
    refused(sql("CREATE TABLE gcat.oidp.p (obj_id BIGINT, value BIGINT) " +
      "PARTITIONED BY (obj_id)"))
    assert(!sql("SHOW TABLES IN gcat.oidp").collect()
      .map(_.getString(1)).toSeq.contains("p"))
  }

  test("CALL system.restore rolls back as a new commit; history stays time-travelable") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.rst")
    sql("CREATE TABLE gcat.rst.t (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.rst.t VALUES (1, 10), (2, 20)") // v1
    sql("INSERT INTO gcat.rst.t VALUES (3, 30)")          // v2
    sql("DELETE FROM gcat.rst.t WHERE obj_id = 2")        // v3
    assert(sql("SELECT count(*) FROM gcat.rst.t").head().getLong(0) == 2L)
    val head = sql(
      "CALL gcat.system.restore('rst.t', version => 2)").head().getLong(0)
    assert(head == 4L, s"restore must claim a NEW version, got $head")
    assert(sql("SELECT sum(value) FROM gcat.rst.t").head().getLong(0) == 60L)
    // the undone delete stays time-travelable AFTER the restore
    assert(sql("SELECT sum(value) FROM gcat.rst.t VERSION AS OF 3")
      .head().getLong(0) == 40L)
    assert(sql("SELECT sum(value) FROM gcat.rst.t VERSION AS OF 4")
      .head().getLong(0) == 60L)
  }

  test("catalog multiTransact: two tables, one decision record, atomic both ways") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.mt")
    sql("CREATE TABLE gcat.mt.a (obj_id BIGINT, value BIGINT)")
    sql("CREATE TABLE gcat.mt.b (obj_id BIGINT, value BIGINT)")
    val s = spark
    import s.implicits._
    val cat = spark.sessionState.catalogManager.catalog("gcat")
      .asInstanceOf[GraftCatalog]
    val versions = cat.multiTransact(Seq("mt.a", "mt.b")) { txns =>
      txns(0).insert(Seq((1L, 10L)).toDF("obj_id", "value"))
      txns(1).insert(Seq((2L, 20L)).toDF("obj_id", "value"))
    }
    assert(versions.values.toSeq.sorted == Seq(1L, 1L))
    assert(sql("SELECT value FROM gcat.mt.a").head().getLong(0) == 10L)
    assert(sql("SELECT value FROM gcat.mt.b").head().getLong(0) == 20L)
    // exactly one decision record coordinates the pair
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.catalog.gcat.warehouse"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(wh, "_multi"))
      .count(_.getPath.getName.startsWith("m-")) == 1)
    // a failing body leaves NEITHER table advanced
    intercept[IllegalStateException] {
      cat.multiTransact(Seq("mt.a", "mt.b")) { txns =>
        txns(0).insert(Seq((3L, 30L)).toDF("obj_id", "value"))
        throw new IllegalStateException("boom")
      }
    }
    assert(sql("SELECT count(*) FROM gcat.mt.a").head().getLong(0) == 1L)
    assert(sql("SELECT count(*) FROM gcat.mt.b").head().getLong(0) == 1L)
  }

  test("CTAS, rename, and namespace listing") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.misc")
    sql("CREATE TABLE gcat.misc.src (obj_id BIGINT, value BIGINT)")
    sql("INSERT INTO gcat.misc.src VALUES (1, 1), (2, 4), (3, 9)")
    sql("CREATE TABLE gcat.misc.squares AS " +
      "SELECT obj_id, value * value AS value FROM gcat.misc.src")
    assert(sql("SELECT sum(value) FROM gcat.misc.squares")
      .head().getLong(0) == 98L)
    // RENAME TO takes a catalog-less target (the source catalog is kept)
    sql("ALTER TABLE gcat.misc.squares RENAME TO misc.sq2")
    assert(sql("SELECT count(*) FROM gcat.misc.sq2").head().getLong(0) == 3L)
    assert(sql("SHOW NAMESPACES IN gcat").collect()
      .map(_.getString(0)).contains("misc"))
  }

  test("t$partitions lists hive groups with metadata-exact row counts") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.pt")
    sql("CREATE TABLE gcat.pt.t (obj_id BIGINT, lang STRING, v BIGINT) " +
      "PARTITIONED BY (lang)")
    sql("INSERT INTO gcat.pt.t VALUES (1, 'en', 10), (2, 'en', 20), " +
      "(3, 'de', 30)")
    sql("INSERT INTO gcat.pt.t VALUES (4, 'en', 40)")
    val rows = sql("SELECT partition_values, num_files, num_rows, " +
      "num_dv_files FROM gcat.pt.`t$partitions` ORDER BY partition_values")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSeq
    assert(rows.map(t => (t._1, t._3)) ==
      Seq(("lang=de", 1L), ("lang=en", 3L)),
      s"got $rows")
    assert(rows.forall(_._4 == 0L))
    // the catalog read path pushes metadata aggregates too
    val cnt = sql("SELECT count(*) AS c, max(lang) AS m FROM gcat.pt.t")
    assert(cnt.queryExecution.executedPlan.collect {
      case l: org.apache.spark.sql.execution.LocalTableScanExec => l
    }.nonEmpty, "catalog aggregate must be metadata-only:\n" +
      cnt.queryExecution.executedPlan)
    assert((cnt.head().getLong(0), cnt.head().getString(1)) == (4L, "en"))
    // a MoR delete makes the masked group's count non-vouchable (null)
    val warehouse = spark.conf.get("spark.sql.catalog.gcat.warehouse")
    val inst = VersionedTable.open(spark, warehouse + "/pt/t")
    inst.withRetry() { t => t.deleteMoR(Seq(3L)) }
    val after = sql("SELECT partition_values, num_rows, num_dv_files " +
      "FROM gcat.pt.`t$partitions` ORDER BY partition_values")
      .collect().map(r => (r.getString(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSeq
    assert(after == Seq(("lang=de", -1L, 1L), ("lang=en", 3L, 0L)),
      s"got $after")
  }

  test("CALL system.create_mv / refresh_mv maintain an aggregate view in SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.mv")
    sql("CREATE TABLE gcat.mv.src (obj_id BIGINT, grp STRING, v BIGINT)")
    sql("INSERT INTO gcat.mv.src VALUES (1, 'a', 10), (2, 'a', 20), (3, 'b', 30)")
    sql("CALL gcat.system.create_mv('mv.agg', source => 'mv.src', " +
      "group_by => 'grp', sums => 'v')")
    val v1 = sql("CALL gcat.system.refresh_mv('mv.agg')").head().getLong(0)
    assert(v1 == 1L)
    // the view IS a catalog table: plain SELECT sees the groups
    assert(sql("SELECT grp, cnt, sum_v FROM gcat.mv.agg ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("a", 2L, 30L), ("b", 1L, 30L)))
    // mutate the source through SQL, refresh, view follows
    sql("DELETE FROM gcat.mv.src WHERE obj_id = 2")
    sql("UPDATE gcat.mv.src SET v = v + 5 WHERE obj_id = 3")
    val v2 = sql("CALL gcat.system.refresh_mv('mv.agg')").head().getLong(0)
    assert(v2 == 3L)
    assert(sql("SELECT grp, cnt, sum_v FROM gcat.mv.agg ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("a", 1L, 10L), ("b", 1L, 35L)))
    // refresh with no new commits is a no-op at the same head
    assert(sql("CALL gcat.system.refresh_mv('mv.agg')").head().getLong(0) == 3L)
  }

  test("create_mv with where => maintains a filtered view (q65 scenario)") {
    val rows = AcidQueries.filteredMvScenario(spark)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(rows == Seq(("a", 1L, 30L), ("b", 2L, 75L)), s"got $rows")
  }

  test("create_mv with mins/maxs and a dim join; mv_status reports both watermarks") {
    val mm = AcidQueries.minmaxMvScenario(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(mm == Seq(("a", 2L, 8L, 40L), ("b", 2L, 20L, 90L)), s"got $mm")
    val jr = AcidQueries.joinMvScenario(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(jr == Seq(("west", 3L, 200L)), s"got $jr")
    // mv_status on a fresh join view: definition echoed, both
    // watermarks current after refresh
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.mvs")
    sql("CREATE TABLE gcat.mvs.d (obj_id BIGINT, region STRING)")
    sql("INSERT INTO gcat.mvs.d VALUES (1, 'east')")
    sql("CREATE TABLE gcat.mvs.f (obj_id BIGINT, cust BIGINT, v BIGINT)")
    sql("INSERT INTO gcat.mvs.f VALUES (10, 1, 5)")
    sql("CALL gcat.system.create_mv('mvs.agg', source => 'mvs.f', " +
      "group_by => 'region', sums => 'v', dim_source => 'mvs.d', " +
      "fact_key => 'cust', dim_key => 'obj_id')")
    sql("CALL gcat.system.refresh_mv('mvs.agg')")
    val st = sql("CALL gcat.system.mv_status('mvs.agg')").head()
    assert(st.getAs[String]("group_by") == "region")
    assert(st.getAs[String]("dim_join") == "mvs.d ON cust = obj_id")
    assert(st.getAs[String]("refreshed_source_version") ==
      st.getAs[String]("source_head_version"))
    assert(st.getAs[String]("refreshed_dim_version") ==
      st.getAs[String]("dim_head_version"))
    assert(st.getAs[String]("mins") == null &&
      st.getAs[String]("where") == null)
  }

  test("renamed source tables and renamed views stay wired") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.rnv")
    sql("CREATE TABLE gcat.rnv.t (obj_id BIGINT, grp STRING, v BIGINT)")
    sql("INSERT INTO gcat.rnv.t VALUES (1, 'a', 10), (2, 'b', 20)")
    sql("CALL gcat.system.create_mv('rnv.v', source => 'rnv.t', " +
      "group_by => 'grp', sums => 'v')")
    sql("CALL gcat.system.refresh_mv('rnv.v')")
    // renamed SOURCE: the dependent view's binding is rewritten (spec
    // + path) so refresh follows the move
    sql("ALTER TABLE gcat.rnv.t RENAME TO rnv.t2")
    sql("INSERT INTO gcat.rnv.t2 VALUES (3, 'a', 5)")
    sql("CALL gcat.system.refresh_mv('rnv.v')")
    assert(sql("SELECT grp, sum_v FROM gcat.rnv.v ORDER BY grp").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 15L), ("b", 20L)))
    val listed = sql("CALL gcat.system.list_mvs('rnv.t2')").collect()
    assert(listed.length == 1 &&
      listed.head.getAs[String]("lag_versions") == "0", s"got $listed")
    // renamed VIEW: registration moves to the new root and the
    // refresh watermark rides along — the next refresh folds ONLY the
    // new commit (an orphaned watermark would re-fold the snapshot
    // into the populated view and double every count)
    sql("ALTER TABLE gcat.rnv.v RENAME TO rnv.v2")
    sql("INSERT INTO gcat.rnv.t2 VALUES (4, 'b', 7)")
    sql("CALL gcat.system.refresh_mv('rnv.v2')")
    assert(sql("SELECT grp, cnt, sum_v FROM gcat.rnv.v2 ORDER BY grp")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq == Seq(("a", 2L, 15L), ("b", 2L, 27L)))
    val listed2 = sql("CALL gcat.system.list_mvs('rnv.t2')").collect()
    assert(listed2.length == 1 &&
      listed2.head.getAs[String]("view_root").endsWith("v2"), s"got $listed2")
    // lifecycle still closes on the new name
    sql("CALL gcat.system.drop_mv('rnv.v2')")
    assert(sql("CALL gcat.system.list_mvs('rnv.t2')").count() == 0)
  }

  test("drop_mv de-registers from fact and dims and deletes the view") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.dmv")
    sql("CREATE TABLE gcat.dmv.f (obj_id BIGINT, cust BIGINT, v BIGINT)")
    sql("CREATE TABLE gcat.dmv.d (obj_id BIGINT, region STRING)")
    sql("INSERT INTO gcat.dmv.d VALUES (1, 'east')")
    sql("INSERT INTO gcat.dmv.f VALUES (10, 1, 5)")
    sql("CALL gcat.system.create_mv('dmv.v', source => 'dmv.f', " +
      "group_by => 'region', sums => 'v', dim_source => 'dmv.d', " +
      "fact_key => 'cust', dim_key => 'obj_id')")
    sql("CALL gcat.system.create_mv('dmv.v2', source => 'dmv.f', " +
      "group_by => 'cust', sums => 'v')")
    assert(sql("CALL gcat.system.list_mvs('dmv.f')").count() == 2)
    assert(sql("CALL gcat.system.drop_mv('dmv.v')").head().getLong(0) == 1L)
    // only the surviving view stays registered, on every relation
    val left = sql("CALL gcat.system.list_mvs('dmv.f')").collect()
    assert(left.length == 1 &&
      left.head.getAs[String]("view_root").endsWith("v2"), s"got $left")
    assert(sql("CALL gcat.system.list_mvs('dmv.d')").count() == 0)
    // the view table itself is gone; a second drop fails loudly
    intercept[Exception](sql("SELECT * FROM gcat.dmv.v").collect())
    intercept[Exception](sql("CALL gcat.system.drop_mv('dmv.v')"))
  }

  test("vacuum reports dependent views its horizon degrades to a rebuild") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.vmv")
    sql("CREATE TABLE gcat.vmv.t (obj_id BIGINT, g STRING, v BIGINT)")
    sql("INSERT INTO gcat.vmv.t VALUES (1, 'a', 5)")
    sql("CALL gcat.system.create_mv('vmv.v', source => 'vmv.t', " +
      "group_by => 'g', sums => 'v')")
    sql("CALL gcat.system.refresh_mv('vmv.v')")
    // CoW churn past the view's watermark: the tight horizon below
    // reclaims pre-images the next incremental refresh would read
    sql("UPDATE gcat.vmv.t SET v = 6 WHERE obj_id = 1")
    sql("UPDATE gcat.vmv.t SET v = 7 WHERE obj_id = 1")
    val r = sql("CALL gcat.system.vacuum('vmv.t', retain_versions => 1)")
      .head()
    assert(r.getAs[String]("rebuild_views") != null &&
      r.getAs[String]("rebuild_views").contains("vmv"), s"got $r")
    // the degradation is to the REBUILD path, never a wrong answer
    sql("CALL gcat.system.refresh_mv('vmv.v')")
    assert(sql("SELECT g, sum_v FROM gcat.vmv.v").collect()
      .map(x => (x.getString(0), x.getLong(1))).toSeq == Seq(("a", 7L)))
    // freshly refreshed: the same retention no longer degrades anything
    val r2 = sql("CALL gcat.system.vacuum('vmv.t', retain_versions => 1)")
      .head()
    assert(r2.getAs[String]("rebuild_views") == null, s"got $r2")
  }

  test("list_mvs discovers views registered on fact AND dims with their lag") {
    sql("CREATE NAMESPACE IF NOT EXISTS gcat.lmv")
    sql("CREATE TABLE gcat.lmv.f (obj_id BIGINT, cust BIGINT, v BIGINT)")
    sql("CREATE TABLE gcat.lmv.d (obj_id BIGINT, region STRING)")
    sql("INSERT INTO gcat.lmv.d VALUES (1, 'east')")
    sql("INSERT INTO gcat.lmv.f VALUES (10, 1, 5), (11, 1, 7)")
    sql("CALL gcat.system.create_mv('lmv.v', source => 'lmv.f', " +
      "group_by => 'region', sums => 'v', dim_source => 'lmv.d', " +
      "fact_key => 'cust', dim_key => 'obj_id')")
    // never refreshed: the fact row reports full lag
    val before = sql("CALL gcat.system.list_mvs('lmv.f')").collect()
    assert(before.length == 1)
    assert(before.head.getAs[String]("role") == "fact")
    assert(before.head.getAs[String]("lag_versions") == "1")
    sql("CALL gcat.system.refresh_mv('lmv.v')")
    // zero lag on BOTH relations after refresh
    val fRow = sql("CALL gcat.system.list_mvs('lmv.f')").collect().head
    assert(fRow.getAs[String]("role") == "fact" &&
      fRow.getAs[String]("lag_versions") == "0", s"got $fRow")
    val dRow = sql("CALL gcat.system.list_mvs('lmv.d')").collect().head
    assert(dRow.getAs[String]("role") == "dim0" &&
      dRow.getAs[String]("lag_versions") == "0", s"got $dRow")
    // dim-only churn shows lag on the dim listing
    sql("UPDATE gcat.lmv.d SET region = 'west' WHERE obj_id = 1")
    val dLag = sql("CALL gcat.system.list_mvs('lmv.d')").collect().head
    assert(dLag.getAs[String]("lag_versions") == "1", s"got $dLag")
    // an unreadable registry entry reports a note instead of failing
    val viewRoot = fRow.getAs[String]("view_root")
    val hfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(viewRoot), spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(viewRoot, "_mv.json"), false)
    val broken = sql("CALL gcat.system.list_mvs('lmv.f')").collect().head
    assert(broken.getAs[String]("note") != null &&
      broken.getAs[String]("note").startsWith("unreadable"), s"got $broken")
  }
}
