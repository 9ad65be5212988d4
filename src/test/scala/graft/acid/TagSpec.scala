package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Snapshot tags: named, vacuum-protected versions. `tag` pins, time
  * travel accepts the name everywhere a version number works, vacuum's
  * horizon never passes the oldest tag, and `delete_tag` releases the
  * pin (reclamation resumes at the next vacuum). */
class TagSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  // grace 0: retired-below-horizon files fall to the orphan sweep
  // immediately (default 24h shields live in-flight staging; no
  // in-flight txns here), so reclamation is observable in-test
  private def fresh(): Instance =
    VersionedTable.create(spark,
      Files.createTempDirectory("graft_tag_").toUri.toString,
      AcidQueries.schema,
      EngineConf(checkpointInterval = 2, orphanGraceMs = 0L))

  test("tag + time travel by name across every surface") {
    val t = fresh()
    t.withRetry() { x => x.insert(Seq((1L, 10L), (2L, 20L))
      .toDF("obj_id", "value")) }
    val v = t.tagVersion("baseline")
    assert(v == t.latestVersion)
    t.withRetry() { x => x.update(Seq(1L),
      df => df.withColumn("value", lit(99L))) }
    // programmatic
    assert(t.snapshotByTag("baseline").orderBy("obj_id").collect()
      .map(_.getLong(1)).toSeq == Seq(10L, 20L))
    // DataFrame option
    assert(spark.read.format("graft").option("path", t.root)
      .option("versionAsOf", "baseline").load()
      .orderBy("obj_id").collect().map(_.getLong(1)).toSeq ==
      Seq(10L, 20L))
    // current head unaffected
    assert(t.read().orderBy("obj_id").collect()
      .map(_.getLong(1)).toSeq == Seq(99L, 20L))
    // validation
    intercept[IllegalArgumentException] { t.tagVersion("baseline") }
    intercept[IllegalArgumentException] { t.tagVersion("123") }
    intercept[IllegalArgumentException] { t.tagVersion("bad name") }
    intercept[IllegalArgumentException] {
      t.tagVersion("future", t.latestVersion + 5) }
    intercept[IllegalArgumentException] { t.snapshotByTag("nope") }
    assert(t.tags == Map("baseline" -> v))
  }

  test("vacuum never passes the oldest tag; delete_tag releases the pin") {
    val t = fresh()
    t.withRetry() { x => x.insert(Seq((1L, 10L), (2L, 20L))
      .toDF("obj_id", "value")) }
    val pinned = t.tagVersion("pin")
    // CoW churn: each update retires the previous generation's file
    (0 until 6).foreach { i =>
      t.withRetry() { x => x.update(Seq(1L),
        df => df.withColumn("value", lit(100L + i))) }
    }
    t.vacuum(retainVersions = 1)
    // the tagged snapshot survived aggressive retention
    assert(t.snapshot(pinned).orderBy("obj_id").collect()
      .map(_.getLong(1)).toSeq == Seq(10L, 20L))
    // and so did every version after it (horizon = the tag)
    assert(t.snapshot(pinned + 3).count() == 2)
    // releasing the pin lets the next vacuum reclaim the old
    // generations (grace 0 -> the orphan sweep takes them now)
    assert(t.deleteTag("pin"))
    assert(!t.deleteTag("pin"))
    val reclaimed = t.vacuum(retainVersions = 1)
    assert(reclaimed > 0, "expected the unpinned history to be reclaimed")
    intercept[Exception] { t.snapshot(pinned).collect() }
  }

  test("concurrent taggers: both tags survive and vacuum respects both") {
    // the old single-json read-modify-rename could last-writer-win a
    // rival's just-verified tag — a lost tag silently un-pins its
    // snapshot. Per-tag claim files make the interleaving structurally
    // impossible; this spec races REAL threads to pin it.
    val t = fresh()
    t.withRetry() { x => x.insert(Seq((1L, 10L), (2L, 20L))
      .toDF("obj_id", "value")) }
    val v = t.latestVersion
    (0 until 8).foreach { round =>
      val names = Seq(s"a$round", s"b$round", s"c$round", s"d$round")
      val gate = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = names.map { n =>
        val th = new Thread(() => {
          gate.await()
          try t.tagVersion(n, v)
          catch { case e: Throwable => errs.add(e) }
        })
        th.start(); th
      }
      gate.countDown()
      threads.foreach(_.join())
      assert(errs.isEmpty, s"tagger failed: ${errs.peek()}")
      val now = t.tags
      names.foreach(n => assert(now.get(n).contains(v),
        s"tag $n lost in round $round: $now"))
      // delete half CONCURRENTLY with a new tagger: deletion of one
      // file cannot clobber an unrelated tag
      val delThreads = names.take(2).map { n =>
        val th = new Thread(() => {
          try t.deleteTag(n)
          catch { case e: Throwable => errs.add(e) }
        })
        th.start(); th
      }
      delThreads.foreach(_.join())
      assert(errs.isEmpty)
      names.drop(2).foreach(n => assert(t.tags.contains(n)))
      names.take(2).foreach(n => assert(!t.tags.contains(n)))
    }
    // every surviving tag holds the vacuum horizon
    (0 until 3).foreach { i =>
      t.withRetry() { x => x.update(Seq(1L),
        df => df.withColumn("value", lit(100L + i))) }
    }
    t.vacuum(retainVersions = 1)
    assert(t.snapshot(v).orderBy("obj_id").collect()
      .map(_.getLong(1)).toSeq == Seq(10L, 20L))
  }

  test("SQL surface: tag / list_tags / VERSION AS OF 'name' / delete_tag") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gtag$tag"
    val wh = Files.createTempDirectory("graft_tag_wh_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.t (obj_id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 10), (2, 20)")
    spark.sql(s"CALL $cat.system.tag('ns.t', 'r1')")
    spark.sql(s"UPDATE $cat.ns.t SET v = 99 WHERE obj_id = 1")
    val listed = spark.sql(s"CALL $cat.system.list_tags('ns.t')").collect()
    assert(listed.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("r1", "1")))
    assert(spark.sql(
      s"SELECT v FROM $cat.ns.t VERSION AS OF 'r1' ORDER BY obj_id")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
    assert(spark.sql(
      s"SELECT v FROM $cat.ns.t ORDER BY obj_id")
      .collect().map(_.getLong(0)).toSeq == Seq(99L, 20L))
    // metadata table twin of list_tags
    assert(spark.sql(s"SELECT name, version FROM $cat.ns.`t$$tags`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("r1", 1L)))
    spark.sql(s"CALL $cat.system.delete_tag('ns.t', 'r1')")
    assert(spark.sql(s"CALL $cat.system.list_tags('ns.t')").count() == 0)
    assert(spark.sql(s"SELECT * FROM $cat.ns.`t$$tags`").count() == 0)
  }

  test("a tag literally named '.tmp-…' survives the orphan sweep") {
    // the tag charset permits a leading dot, so '.tmp-pin' is a legal
    // NAME whose claim file '.tmp-pin.tag' shares the crashed-tagger
    // temp prefix — the sweep must spare .tag-suffixed files or a
    // grace-0 vacuum silently unpins the snapshot and reclaims
    // history the user believes tagged
    val t = fresh()
    t.withRetry() { x => x.insert(Seq((1L, 10L), (2L, 20L))
      .toDF("obj_id", "value")) }
    val pinned = t.tagVersion(".tmp-pin")
    (0 until 4).foreach { i =>
      t.withRetry() { x => x.update(Seq(1L),
        df => df.withColumn("value", lit(100L + i))) }
    }
    t.vacuum(retainVersions = 1) // grace 0: the sweep runs NOW
    assert(t.tags == Map(".tmp-pin" -> pinned),
      "the sweep deleted a live tag's claim file")
    assert(t.snapshotByTag(".tmp-pin").orderBy("obj_id").collect()
      .map(_.getLong(1)).toSeq == Seq(10L, 20L))
    assert(t.deleteTag(".tmp-pin"))
  }
}
