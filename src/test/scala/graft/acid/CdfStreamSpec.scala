package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Streaming change-feed source (graft-cdf): the commit log consumed
  * as a Structured Streaming source — appended rows per data commit,
  * versioned offsets, exact checkpoint replay, layout commits silent.
  * Mirrors the reference's WAL-tailing consumption path
  * (log_mgr/io.rs:354-373) at the manifest level. */
class CdfStreamSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() =
    Files.createTempDirectory("graft_cdf_").toUri.toString

  /** Drain the stream with AvailableNow into an in-memory table. */
  private def drain(df: DataFrame, name: String, checkpoint: String): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("append stream: insert commits delivered with versions, resume is incremental") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t2)

    // file sink + checkpoint (the memory sink cannot recover one):
    // the sink dir accumulates exactly what was ever delivered
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    val sink = Files.createTempDirectory("graft_cdf_sink_").toString
    def drainToSink(): Unit = {
      val q = inst.readChangesStream().writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drainToSink()
    val got = spark.read.parquet(sink).orderBy("obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[Long]("_version")))
    assert(got.toSeq == Seq((1L, 10L, 1L), (2L, 20L, 1L), (3L, 30L, 2L)))

    // new commit, same checkpoint: ONLY the new rows arrive
    val t3 = inst.begin()
    t3.insert(Seq((4L, 40L)).toDF("obj_id", "value"))
    inst.commit(t3)
    drainToSink()
    val after = spark.read.parquet(sink).orderBy("obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("_version")))
    assert(after.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L)),
      "resume must deliver v3 once and re-deliver nothing")
  }

  test("layout-only commits (compaction) stream nothing") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    inst.compact() // v4: bytes move, content does not
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    drain(inst.readChangesStream(), "cdf_compacted", ckpt)
    val got = spark.table("cdf_compacted").orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("_version")))
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    assert(inst.latestVersion == 4L) // compaction committed, yet silent
  }

  test("update/delete commits fail strict, stream post-images with ignoreChanges") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t2)

    val strictCkpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    val e = intercept[StreamingQueryException] {
      drain(inst.readChangesStream(), "cdf_strict", strictCkpt)
    }
    assert(e.getCause.getMessage.contains("removes rows"))

    // ignoreChanges: the update's rewritten file streams ALL its rows
    // (post-image + CoW-copied neighbor) — the documented caveat
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    drain(inst.readChangesStream(ignoreChanges = true), "cdf_ignore", ckpt)
    val got = spark.table("cdf_ignore")
      .filter(col("_version") === 2).orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.contains((2L, 200L))) // the post-image is present
  }

  test("readChangeFeed: MoR delete commits stream their masked rows as delete events") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("obj_id", "value").coalesce(1))
    inst.commit(t1) // v1
    inst.withRetry() { t => t.deleteMoR(Seq(2L)) } // v2: positional dv
    val t3 = inst.begin()
    t3.insert(Seq((4L, 40L)).toDF("obj_id", "value"))
    inst.commit(t3) // v3
    inst.withRetry() { t => t.deleteMoR(Seq(1L, 4L)) } // v4: two files hit

    // strict mode still fails on the dv commit
    val strictName = "cdf_strict_" + java.util.UUID.randomUUID
      .toString.replace("-", "")
    val strict = intercept[StreamingQueryException] {
      val q = inst.readChangesStream().writeStream.format("memory")
        .queryName(strictName).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    assert(strict.getMessage.contains("readChangeFeed") ||
      Option(strict.getCause).exists(_.getMessage.contains("readChangeFeed")))

    // typed mode: inserts AND deletes, in commit order, exact rows
    val name = "cdf_feed_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(readChangeFeed = true), name,
      Files.createTempDirectory("graft_cdf_feed_ckpt_").toString)
    val got = spark.table(name).orderBy("_version", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[Long]("_version"), r.getAs[String]("_change_type")))
    assert(got.toSeq == Seq(
      (1L, 10L, 1L, "insert"), (2L, 20L, 1L, "insert"),
      (3L, 30L, 1L, "insert"),
      (2L, 20L, 2L, "delete"),
      (4L, 40L, 3L, "insert"),
      (1L, 10L, 4L, "delete"), (4L, 40L, 4L, "delete")))

    // a second mask on an ALREADY-masked file streams only the DELTA,
    // and compaction (file removal) still needs ignoreChanges
    inst.withRetry() { t => t.deleteMoR(Seq(3L)) } // v5: same file as v2/v4
    val name2 = "cdf_feed2_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(startingVersion = 5L,
      readChangeFeed = true), name2,
      Files.createTempDirectory("graft_cdf_feed_ckpt2_").toString)
    val got2 = spark.table(name2).collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[String]("_change_type")))
    assert(got2.toSeq == Seq((3L, "delete")))
    // compaction (layout-only: no objects) still streams NOTHING —
    // it materializes masks without changing content
    inst.compact()
    val name3 = "cdf_feed3_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(startingVersion = 6L,
      readChangeFeed = true), name3,
      Files.createTempDirectory("graft_cdf_feed_ckpt3_").toString)
    assert(spark.table(name3).isEmpty)
  }

  test("change feed across a column rename reads every version under current names") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L)).toDF("obj_id", "value")
      .coalesce(1))
    inst.commit(t1) // v1: pre-rename file spells `value`
    inst.withRetry() { t => t.renameColumn("value", "amount") } // v2
    val t3 = inst.begin()
    t3.insert(Seq((3L, 30L)).toDF("obj_id", "amount"))
    inst.commit(t3) // v3
    inst.withRetry() { t => t.deleteMoR(Seq(1L)) } // v4
    val name = "cdf_ren_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(readChangeFeed = true), name,
      Files.createTempDirectory("graft_cdf_ren_ckpt_").toString)
    // output schema = CURRENT logical names; pre-rename files' rows
    // (v1 inserts AND the v4 delete event read from the v1 file)
    // surface under `amount`
    val got = spark.table(name).orderBy("_version", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("amount"),
        r.getAs[Long]("_version"), r.getAs[String]("_change_type")))
    assert(got.toSeq == Seq(
      (1L, 10L, 1L, "insert"), (2L, 20L, 1L, "insert"),
      (3L, 30L, 3L, "insert"),
      (1L, 10L, 4L, "delete")))
  }

  test("startingVersion skips history before it") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    drain(inst.readChangesStream(startingVersion = 3L), "cdf_from3", ckpt)
    val got = spark.table("cdf_from3").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("_version")))
    assert(got.toSeq == Seq((3L, 3L)))
  }

  test("partitioned table: path-encoded columns rebuilt per row") {
    val docs = Engine.table(spark, "/root/testdata/sf0.001", "documents")
      .select(col("doc_id").as("obj_id"), col("lang"), col("n_chars"))
    val inst = VersionedTable.create(spark, freshDir(), docs.schema)
    val t = inst.begin()
    t.insertPartitioned(docs, Seq("lang"))
    inst.commit(t)

    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    drain(inst.readChangesStream(), "cdf_part", ckpt)
    val streamed = spark.table("cdf_part")
    assert(streamed.columns.toSeq ==
      Seq("obj_id", "lang", "n_chars", "_version"))
    val byLang = streamed.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = docs.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang == expected)
    assert(streamed.count() == docs.count())
  }

  test("maxVersionsPerTrigger bounds each micro-batch's commit span") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    val q = inst.readChangesStream(maxVersionsPerTrigger = Some(1L))
      .writeStream.format("memory").queryName("cdf_throttled")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("cdf_throttled").orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getAs[Long]("_version")))
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
    // one commit per micro-batch: three data-carrying batches ran
    assert(q.recentProgress.count(_.numInputRows > 0) == 3)
  }

  test("a mid-stream commit is picked up by the next trigger (live tail)") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    inst.commit(t1)

    val ckpt = Files.createTempDirectory("graft_cdf_ckpt_").toString
    val q = inst.readChangesStream().writeStream.format("memory")
      .queryName("cdf_live").option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdf_live").count() == 1)
      val t2 = inst.begin()
      t2.insert(Seq((2L, 20L)).toDF("obj_id", "value"))
      inst.commit(t2)
      q.processAllAvailable()
      val got = spark.table("cdf_live").orderBy("obj_id").collect()
        .map(r => (r.getLong(0), r.getAs[Long]("_version")))
      assert(got.toSeq == Seq((1L, 1L), (2L, 2L)))
    } finally q.stop()
  }

  test("batch read: bounded version range, same rows as draining the stream") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema)
    (1 to 4).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    inst.compact() // layout-only: silent in the feed (v5)
    def rows(df: DataFrame) = df.orderBy("obj_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("_version"))).toSeq
    // full feed == what an AvailableNow drain delivers
    assert(rows(inst.readAppends()) ==
      Seq((1L, 10L, 1L), (2L, 20L, 2L), (3L, 30L, 3L), (4L, 40L, 4L)))
    // bounded interval [2, 3]
    assert(rows(inst.readAppends(2L, 3L)) ==
      Seq((2L, 20L, 2L), (3L, 30L, 3L)))
    // SQL over a commit interval via the same format
    val root = inst.root
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW cdf_batch USING `graft-cdf` " +
      s"OPTIONS (path '$root', startingVersion '3')")
    assert(spark.sql("SELECT sum(value) AS s FROM cdf_batch")
      .head().getLong(0) == 70L)
    // a removing commit still fails strict / passes with ignoreChanges
    val td = inst.begin(); td.delete(Seq(1L)); inst.commit(td) // v6
    val e = intercept[Exception](inst.readAppends(6L).collect())
    assert(e.getMessage.contains("ignoreChanges") ||
      e.getCause != null && e.getCause.getMessage.contains("ignoreChanges"))
    assert(inst.readAppends(6L, ignoreChanges = true).count() >= 0L)
  }

  test("changeDataFeed: UPDATE/delete commits stream exact pre/post images without ignoreChanges") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      EngineConf(changeDataFeed = true))
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("obj_id", "value").coalesce(1))
    inst.commit(t1) // v1: inserts
    inst.withRetry() { t =>
      t.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    } // v2: CoW rewrite — cdc side files carry the exact images
    inst.withRetry() { t => t.delete(Seq(3L)) } // v3: CoW delete
    assert(inst.readManifest(2L).cdcExact &&
      inst.readManifest(2L).cdc.nonEmpty,
      "rewrite commit must reference its change-data side files")

    // STRICT readChangeFeed (no ignoreChanges): the stream must serve
    // the rewrite commits from their cdc files instead of failing
    val name = "cdc_exact_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(readChangeFeed = true), name,
      Files.createTempDirectory("graft_cdc_ckpt_").toString)
    val got = spark.table(name)
      .orderBy("_version", "_change_type", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[Long]("_version"), r.getAs[String]("_change_type")))
    assert(got.toSeq == Seq(
      (1L, 10L, 1L, "insert"), (2L, 20L, 1L, "insert"),
      (3L, 30L, 1L, "insert"),
      (2L, 200L, 2L, "update_postimage"), (2L, 20L, 2L, "update_preimage"),
      (3L, 30L, 3L, "delete")), s"got ${got.toSeq}")

    // the batch diff agrees with the streamed images (same classifier)
    val batch = inst.changes(0L, 3L)
      .orderBy("_version", "_change", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[Long]("_version"), r.getAs[String]("_change")))
    assert(batch.toSeq == got.toSeq)
  }

  test("changeDataFeed: MERGE and restore commits stream exactly; copy-backs are silent") {
    val inst = VersionedTable.create(spark, freshDir(), AcidQueries.schema,
      EngineConf(changeDataFeed = true))
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("obj_id", "value").coalesce(1))
    inst.commit(t1) // v1
    inst.withRetry() { t =>
      t.merge(Seq((2L, 5L), (4L, 40L)).toDF("obj_id", "value"),
        matchedUpdate = Map("value" -> (col("t.value") + col("s.value"))))
    } // v2: updates 2 -> 25, inserts 4; 1 and 3 are copy-backs
    val name = "cdc_merge_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(startingVersion = 2L,
      readChangeFeed = true), name,
      Files.createTempDirectory("graft_cdc_ckpt_").toString)
    val got = spark.table(name)
      .orderBy("_change_type", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[String]("_change_type")))
    assert(got.toSeq == Seq(
      (4L, 40L, "insert"),
      (2L, 25L, "update_postimage"), (2L, 20L, "update_preimage")),
      s"copy-backs must not stream: ${got.toSeq}")

    // restore undoes the merge: its commit streams the exact inverse
    inst.restore(1L) // v3
    val name2 = "cdc_restore_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(startingVersion = 3L,
      readChangeFeed = true), name2,
      Files.createTempDirectory("graft_cdc_ckpt_").toString)
    val got2 = spark.table(name2)
      .orderBy("_change_type", "obj_id").collect()
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[Long]("value"),
        r.getAs[String]("_change_type")))
    assert(got2.toSeq == Seq(
      (4L, 40L, "delete"),
      (2L, 20L, "update_postimage"), (2L, 25L, "update_preimage")),
      s"restore must stream its inverse images: ${got2.toSeq}")
  }

  test("readChangeFeed batch: hive layouts, a rename, MoR deletes and cdc images") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val root = freshDir()
    val inst = VersionedTable.create(spark, root, StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("lang", StringType),
      StructField("value", LongType))))
    inst.withRetry() { t => t.insertPartitioned(
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L), (4L, "de", 40L))
        .toDF("obj_id", "lang", "value").repartition(1), Seq("lang")) } // v1
    // the partition column is renamed: later k=v segments and every
    // earlier one keep spelling the physical `lang`
    inst.withRetry() { t => t.renameColumn("lang", "locale") } // v2
    inst.withRetry() { t => t.insertPartitioned(
      Seq((5L, "en", 50L)).toDF("obj_id", "locale", "value"),
      Seq("locale")) } // v3: insert
    inst.withRetry() { t => t.deleteMoR(Seq(1L, 4L)) } // v4: a mask per layout
    VersionedTable.open(spark, root, EngineConf(changeDataFeed = true))
      .withRetry() { t =>
        t.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
      } // v5: cdc side files carry the images
    assert(inst.readManifest(4L).dvs.size == 2)
    assert(inst.readManifest(5L).cdcExact && inst.readManifest(5L).cdc.nonEmpty)

    val expected = Seq(
      (1L, "en", 10L, 1L, "insert"), (2L, "de", 20L, 1L, "insert"),
      (3L, "en", 30L, 1L, "insert"), (4L, "de", 40L, 1L, "insert"),
      (5L, "en", 50L, 3L, "insert"),
      (1L, "en", 10L, 4L, "delete"), (4L, "de", 40L, 4L, "delete"),
      (2L, "de", 200L, 5L, "update_postimage"),
      (2L, "de", 20L, 5L, "update_preimage"))
    def rows(df: DataFrame) = df.collect().toSeq
      .map(r => (r.getAs[Long]("obj_id"), r.getAs[String]("locale"),
        r.getAs[Long]("value"), r.getAs[Long]("_version"),
        r.getAs[String]("_change_type")))
      .sortBy(r => (r._4, r._5, r._1))
    val batch = spark.read.format("graft-cdf").option("path", root)
      .option("readChangeFeed", true).option("startingVersion", 1L)
      .option("endingVersion", 5L).load()
    assert(batch.columns.toSeq ==
      Seq("obj_id", "locale", "value", "_version", "_change_type"))
    assert(rows(batch) == expected.sortBy(r => (r._4, r._5, r._1)),
      s"got ${rows(batch)}")
    // the same range drained as one micro-batch
    val name = "cdf_mix_" + java.util.UUID.randomUUID.toString.replace("-", "")
    drain(inst.readChangesStream(readChangeFeed = true), name,
      Files.createTempDirectory("graft_cdf_mix_ckpt_").toString)
    assert(rows(spark.table(name)) == rows(batch))
  }
}
