package graft.acid

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Atomic manifest publish protocol: the version must only ever be
  * claimed with its COMPLETE content in place (a crashed writer that
  * claimed a version with a torn body would poison every later
  * read/commit — there is no recovery path for a persistently-invalid
  * claimed version, by design: it cannot happen). */
class PublishSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private def freshDir() = Files.createTempDirectory("graft_pub_").toUri.toString

  private def manifestFiles(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(new java.net.URI(dir).getPath, "_manifests")
    val s = java.nio.file.Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString).toSeq
    } finally s.close()
  }

  test("abort spares adopted files but reclaims the txn's own staging") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val committedFile = inst.stateAt(inst.latestVersion)._1.head

    // a restore-shaped transaction: re-references the committed file
    // (adopted) AND stages a file of its own — an abort must reclaim
    // only the latter
    val t2 = inst.begin()
    t2.insert(Seq((2L, 2L)).toDF("obj_id", "value"))
    val ownStaged = t2.added.filterNot(_ == committedFile).head
    t2.added += committedFile
    t2.adopted += committedFile
    inst.rollback(t2)

    val dataRoot = java.nio.file.Paths.get(new java.net.URI(dir).getPath, "data")
    assert(java.nio.file.Files.exists(dataRoot.resolve(committedFile)),
      "abort reclaimed a committed file the txn had merely adopted")
    assert(!java.nio.file.Files.exists(dataRoot.resolve(ownStaged)),
      "abort failed to reclaim the txn's own staging")
    // table still reads
    assert(inst.read().count() == 1)
  }

  test("publish leaves no temp files and the claimed content is complete") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t)
    val files = manifestFiles(dir)
    assert(!files.exists(_.startsWith(".tmp-")), s"leaked temps in $files")
    // every published manifest parses (complete content, valid crc)
    files.filter(f => f.startsWith("v") && f.endsWith(".json")).foreach { f =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(
        new java.net.URI(dir).getPath, "_manifests", f))
      VersionedTable.fromJson(text)
    }
  }

  test("losing a publish race returns false and leaves the winner intact") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t) // v1 published
    val rival = VersionedTable.open(spark, dir)
    val loser = VersionedTable.Manifest(1L, 999L, "obj_id BIGINT", Nil, Nil,
      Nil, checkpoint = false, Nil)
    assert(!rival.publish(loser), "claiming an existing version must fail")
    // the winner's content was not replaced (tsn is not the rival's)
    val head = java.nio.file.Files.readString(java.nio.file.Paths.get(
      new java.net.URI(dir).getPath, "_manifests", f"v${1L}%020d.json"))
    assert(VersionedTable.fromJson(head).tsn != 999L)
    assert(!manifestFiles(dir).exists(_.startsWith(".tmp-")))
  }

  test("a writer crash before the atomic claim leaves the version unclaimed") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    // simulate the crash window: a fully-written temp exists, but the
    // link/rename never ran — no v1 manifest, so v1 is NOT claimed
    val tmp = java.nio.file.Paths.get(new java.net.URI(dir).getPath,
      "_manifests", ".tmp-v1-deadbeef")
    java.nio.file.Files.writeString(tmp, "{\"version\":1, torn")
    assert(inst.latestVersion == 0L)
    // the next commit claims v1 normally — the crash cost nothing
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    assert(inst.commit(t) == 1L)
    assert(inst.read().count() == 1)
  }

  // ---- object-store atomicity: the ManifestClaimer seam --------------

  private def nafsDir(): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nafs.impl", classOf[NonAtomicRenameFs].getName)
    "nafs://" + Files.createTempDirectory("graft_nafs_").toString
  }

  test("a non-atomic rename CAN double-claim — the race the claimer seam closes") {
    // deterministic lost-update interleaving over the s3a-style
    // check-then-copy rename: both writers pass the existence check,
    // then both copy. With the default rename claimer BOTH claim the
    // version — proving this store class genuinely breaks the
    // invariant (and that this harness would catch a regression), not
    // that the shipped default is unsafe where it is documented to run
    // (link/rename filesystems, where rename IS atomic).
    val dir = nafsDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    def manifest(tsn: Long) = VersionedTable.Manifest(1L, tsn,
      "obj_id BIGINT", Nil, Nil, Nil, checkpoint = false, Nil)
    NonAtomicRenameFs.renameBarrier =
      Some(new java.util.concurrent.CyclicBarrier(2))
    try {
      val results = new java.util.concurrent.ConcurrentHashMap[Long, Boolean]()
      val ts = Seq(101L, 102L).map { tsn =>
        new Thread(() => { results.put(tsn, inst.publish(manifest(tsn))) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(results.get(101L) && results.get(102L),
        "both writers should have claimed v1 over the broken rename — " +
        "if this starts failing the race harness has lost its teeth")
    } finally NonAtomicRenameFs.renameBarrier = None
  }

  test("conditional-PUT claimer: racing writers never both claim, commits serialize") {
    // same broken-rename store, claimer swapped for the conditional
    // write: the store's precondition is the atomic point, so exactly
    // one publish wins — and at the commit level the loser retries at
    // the next version, losing no data.
    val dir = nafsDir()
    val conf = EngineConf(claimer = new TestConditionalPutClaimer)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    // fixture manifests must carry the REAL table DDL: a racing winner
    // becomes v1, and a narrower schema there would masquerade as a
    // schema evolution to every later insert
    def manifest(tsn: Long) = VersionedTable.Manifest(1L, tsn,
      AcidQueries.schema.toDDL, Nil, Nil, Nil, checkpoint = false, Nil)
    // raw publish race, repeated: never two winners
    (1 to 5).foreach { round =>
      val m1 = manifest(1000L + round); val m2 = manifest(2000L + round)
      val results = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Boolean]())
      val gate = new java.util.concurrent.CyclicBarrier(2)
      val ts = Seq(m1, m2).map { m =>
        new Thread(() => { gate.await(); results.add(inst.publish(m)) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(results.size == 2 && results.asScala.count(identity) == (if (round == 1) 1 else 0),
        s"round $round: exactly one winner on the first round, none after " +
        "(v1 is claimed for good)")
    }
    // the claimed content is the winner's, complete and parseable
    val v1 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      dir.stripPrefix("nafs://"), "_manifests", f"v${1L}%020d.json"))
    assert(Set(1001L, 2001L).contains(VersionedTable.fromJson(v1).tsn))

    // commit-level, via two INDEPENDENT handles (no shared commit
    // monitor): both writers succeed — the publish loser re-checks and
    // lands at the next version — and both rows survive
    val instB = VersionedTable.open(spark, dir, conf)
    val a = new Thread(() => inst.withRetry() { t =>
      t.insert(Seq((10L, 10L)).toDF("obj_id", "value")) })
    val b = new Thread(() => instB.withRetry() { t =>
      t.insert(Seq((20L, 20L)).toDF("obj_id", "value")) })
    a.start(); b.start(); a.join(); b.join()
    assert(inst.read().count() == 2)
    assert(!manifestFiles(dir).exists(_.startsWith(".tmp-")),
      "conditional-PUT path writes no temps")
  }

  test("format gate: newer manifest generations fail loudly") {
    val m = VersionedTable.Manifest(3L, 7L, "obj_id BIGINT", Seq("a.parquet"),
      Nil, Seq(1L, 2L), checkpoint = false, Nil)
    val json = VersionedTable.toJson(m)
    assert(json.contains(s""""formatVersion":${VersionedTable.FormatVersion}"""))
    assert(VersionedTable.fromJson(json).objects == Seq(1L, 2L))
    // a FUTURE generation is rejected with the dedicated error — and
    // BEFORE the crc check (a future format may hash differently), which
    // the now-stale crc of the edited text would otherwise trip first
    val future = json.replaceAll(
      """"formatVersion":\d+""", """"formatVersion":99""")
    val e = intercept[ManifestFormatException] { VersionedTable.fromJson(future) }
    assert(e.getMessage.contains("99"))
  }

  test("format gate: a table led by a future-format manifest refuses to load") {
    val dir = freshDir()
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema)
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t)
    // simulate a newer writer: rewrite v1 declaring generation 99
    val p = java.nio.file.Paths.get(new java.net.URI(dir).getPath,
      "_manifests", f"v${1L}%020d.json")
    val bumped = java.nio.file.Files.readString(p).replaceAll(
      """"formatVersion":\d+""", """"formatVersion":99""")
    java.nio.file.Files.writeString(p, bumped)
    val reader = VersionedTable.open(spark, dir)
    val e = intercept[ManifestFormatException] { reader.read() }
    assert(e.getMessage.contains("formatVersion 99"))
  }

  test("vacuum sweeps crashed-publish manifest temps past the grace") {
    val dir = freshDir()
    val conf = EngineConf(orphanGraceMs = 0L)
    val inst = VersionedTable.create(spark, dir, AcidQueries.schema, conf)
    val t = inst.begin()
    t.insert(Seq((1L, 1L)).toDF("obj_id", "value"))
    inst.commit(t)
    val tmp = java.nio.file.Paths.get(new java.net.URI(dir).getPath,
      "_manifests", ".tmp-v2-cafef00d")
    java.nio.file.Files.writeString(tmp, "{\"version\":2, torn")
    Thread.sleep(20)
    inst.vacuum(retainVersions = 10, sweepOrphans = true)
    assert(!java.nio.file.Files.exists(tmp), "stale publish temp not swept")
    assert(inst.read().count() == 1)
  }
}
