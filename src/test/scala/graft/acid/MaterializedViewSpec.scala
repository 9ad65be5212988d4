package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Incrementally-maintained aggregate views ([[MaterializedAggView]]):
  * refresh folds ONLY the change-feed delta, yet the view always
  * equals a full recompute — through inserts, group-moving updates,
  * CoW and MoR deletes, and group death. */
class MaterializedViewSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("obj_id", LongType, nullable = false),
    StructField("grp", StringType),
    StructField("v", LongType)))

  private def freshPair(): (Instance, MaterializedAggView) = {
    val srcDir = Files.createTempDirectory("graft_mv_src_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_view_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("v"))
    (src, mv)
  }

  private def recompute(src: Instance): Seq[(String, Long, Long)] =
    src.read().groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  private def viewRows(mv: MaterializedAggView): Seq[(String, Long, Long)] =
    mv.read().select("grp", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)

  test("refresh equals recompute through insert/update/delete, incrementally") {
    val (src, mv) = freshPair()
    // v1: initial load
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
      (4L, "c", 40L)).toDF("obj_id", "grp", "v"))
    src.commit(t1)
    assert(mv.refresh() == 1L)
    assert(viewRows(mv) == recompute(src))
    assert(viewRows(mv) == Seq(("a", 2L, 30L), ("b", 1L, 30L), ("c", 1L, 40L)))

    // v2: group-moving update (a -> b) plus an in-group value change —
    // the delta must subtract the pre-image from 'a' AND add the
    // post-image to 'b'
    val t2 = src.begin()
    t2.update(Seq(2L), df => df.withColumn("grp", lit("b"))
      .withColumn("v", col("v") + 5L))
    src.commit(t2)
    // v3: CoW delete kills group c entirely — its view row must DIE
    val t3 = src.begin(); t3.delete(Seq(4L)); src.commit(t3)
    // v4: MoR delete (deletion vector) of one 'b' member
    val t4 = src.begin(); t4.deleteMoR(Seq(3L)); src.commit(t4)
    val head = mv.refresh()
    assert(head == 4L)
    assert(viewRows(mv) == recompute(src))
    assert(viewRows(mv) == Seq(("a", 1L, 10L), ("b", 1L, 25L)))
    assert(mv.read().filter(col("grp") === "c").isEmpty,
      "a dead group must be deleted from the view, not kept at cnt=0")

    // idempotence: no new source commits -> refresh is a pure no-op
    val vHead = mv.view.latestVersion
    assert(mv.refresh() == 4L && mv.view.latestVersion == vHead)
    // the watermark rode the merge commit
    assert(mv.refreshedVersion == 4L)
  }

  test("avg derives from sum/cnt; null keys and null addends follow SQL") {
    val (src, mv) = freshPair()
    val t1 = src.begin()
    t1.insert(Seq[(Long, Option[String], Option[Long])](
      (1L, Some("a"), Some(10L)), (2L, Some("a"), None), (3L, None, Some(7L)))
      .toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    val rows = mv.read().select("grp", "cnt", "sum_v", "avg_v")
      .collect().map(r => (Option(r.getString(0)),
        r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSeq.sortBy(_._1.getOrElse(""))
    // null addend: counted in cnt, ignored by sum (SQL SUM semantics)
    assert(rows == Seq((None, 1L, Some(7L)), (Some("a"), 2L, Some(10L))))
    val avgA = mv.read().filter(col("grp") === "a").head().getAs[Double]("avg_v")
    assert(avgA == 5.0) // 10 / 2: cnt counts the null-addend row
  }

  test("a cancelling interval leaves the view untouched (no zero-group insert)") {
    val (src, mv) = freshPair()
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L)).toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    // insert then delete the same row inside ONE refresh interval:
    // net delta for 'x' is zero — the group must never appear
    val t2 = src.begin()
    t2.insert(Seq((9L, "x", 99L)).toDF("obj_id", "grp", "v"))
    src.commit(t2)
    val t3 = src.begin(); t3.delete(Seq(9L)); src.commit(t3)
    mv.refresh()
    assert(viewRows(mv) == Seq(("a", 1L, 10L)))
    assert(mv.refreshedVersion == 3L)
  }

  test("streaming -> ACID -> incremental view: refresh tracks the sink per epoch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val (src, mv) = freshPair()
    val mem = MemoryStream[(Long, String, Long)]
    val stream = mem.toDF().toDF("obj_id", "grp", "v")
    val ckpt = Files.createTempDirectory("graft_mv_ckpt_").toUri.toString
    mem.addData((1L, "a", 10L), (2L, "b", 20L))
    graft.streaming.AcidSink.runInto(src, stream, "obj_id", Some(ckpt))
    mv.refresh()
    assert(viewRows(mv) == Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    // second wave re-upserts id 2 into another group and adds id 3:
    // the refresh folds exactly the new epochs' delta
    mem.addData((2L, "a", 25L), (3L, "b", 30L))
    graft.streaming.AcidSink.runInto(src, stream, "obj_id", Some(ckpt))
    mv.refresh()
    assert(viewRows(mv) == recompute(src))
    assert(viewRows(mv) == Seq(("a", 2L, 35L), ("b", 1L, 30L)))
  }

  test("weightedDelta: signed multiplicities net out per value tuple") {
    val srcDir = Files.createTempDirectory("graft_wd_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "b", 30L))
      .toDF("obj_id", "grp", "v"))
    src.commit(t1) // v1
    val t2 = src.begin()
    t2.update(Seq(2L), df => df.withColumn("v", col("v") + 1L))
    src.commit(t2) // v2: CoW — row 3 is copied back, must net to zero
    val t3 = src.begin(); t3.deleteMoR(Seq(1L)); src.commit(t3) // v3: dv
    val net = src.weightedDelta(0L, 3L)
      .groupBy("obj_id", "grp", "v").agg(sum("_w").as("w"))
      .filter(col("w") =!= 0L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq.sortBy(t => (t._1, t._4))
    // surviving rows net +1, the deleted row 0, pre/post of the
    // update ±1 — the copy-back of row 3 inside v2 cancels exactly
    assert(net == Seq((2L, "b", 21L, 1L), (3L, "b", 30L, 1L)),
      s"got $net")
    // tail interval: only the MoR delete nets — one -1 row. RAW rows
    // are layout-dependent (a dv delta re-reads the masked file, so
    // unmasked co-resident rows appear as canceling ± pairs; the
    // driver fast path packs the insert into one file, making that
    // visible) — the contract is the NET multiplicity.
    val tail = src.weightedDelta(2L, 3L)
      .groupBy("obj_id", "grp", "v").agg(sum("_w").as("w"))
      .filter(col("w") =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(tail == Seq((1L, -1L)), s"got $tail")
  }

  test("a row masked in a file its own commit staged leaves the interval once") {
    val src = VersionedTable.create(spark,
      Files.createTempDirectory("graft_wd_own_").toUri.toString, schema)
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("obj_id", "grp", "v")) }
    // the update stages a copy of row 2's file; the MoR delete then
    // masks row 2 in that staged copy
    src.withRetry() { t =>
      t.update(Seq(1L), _.withColumn("v", lit(11L)))
      t.deleteMoR(Seq(2L))
    }
    val net = src.weightedDelta(1L, 2L)
      .groupBy("obj_id", "v").agg(sum("_w").as("w")).filter(col("w") =!= 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(net == Seq((1L, 10L, -1L), (1L, 11L, 1L), (2L, 20L, -1L)), s"got $net")
    val feed = src.changes(1L, 2L).select("obj_id", "_change")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(feed == Seq((1L, "update_postimage"), (1L, "update_preimage"),
      (2L, "delete")), s"got $feed")
  }

  test("a stored sum returns to NULL when its last non-null addend dies") {
    val (src, mv) = freshPair()
    val t1 = src.begin()
    t1.insert(Seq[(Long, Option[String], Option[Long])](
      (1L, Some("a"), Some(5L)), (2L, Some("a"), None))
      .toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    // delete the only non-null addend: SQL's SUM over the remaining
    // rows (one NULL addend) is NULL, not 0 — cnt still counts the row
    val t2 = src.begin(); t2.delete(Seq(1L)); src.commit(t2)
    mv.refresh()
    val r = mv.read().select("grp", "cnt", "sum_v").head()
    assert(r.getString(0) == "a" && r.getLong(1) == 1L && r.isNullAt(2),
      s"expected (a, 1, NULL), got $r")
    // and a NULL -> 0 update must flip it back to a stored 0 (not NULL)
    val t3 = src.begin()
    t3.update(Seq(2L), df => df.withColumn("v", lit(0L)))
    src.commit(t3)
    mv.refresh()
    val r2 = mv.read().select("cnt", "sum_v").head()
    assert(r2.getLong(0) == 1L && !r2.isNullAt(1) && r2.getLong(1) == 0L,
      s"expected (1, 0), got $r2")
  }

  test("a source column rename mid-interval folds into the right group") {
    val (src, mv) = freshPair()
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    // rename BOTH view columns, then mutate under the new names — the
    // refresh interval (v1, v4] spans the renames; pre-rename
    // pre-images must subtract from the SAME groups the post-rename
    // post-images add to (physical identity), not land as NULLs
    val t2 = src.begin(); t2.renameColumn("grp", "category"); src.commit(t2)
    val t3 = src.begin(); t3.renameColumn("v", "amount"); src.commit(t3)
    val t4 = src.begin()
    t4.update(Seq(1L), df => df.withColumn("category", lit("b"))
      .withColumn("amount", col("amount") + 1L))
    src.commit(t4)
    // reopen from the persisted definition (the durable path SQL uses)
    val mv2 = MaterializedAggView.openFromDef(spark, mv.view.root)
    mv2.refresh()
    val rows = mv2.read().select("grp", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(rows == Seq(("b", 2L, 31L)), s"got $rows")
    assert(mv2.read().filter(col("grp") === "a").isEmpty,
      "group 'a' died in the interval and must be deleted")
    // a DROPPED view column refuses loudly instead of corrupting
    val t5 = src.begin()
    t5.alterSchema(StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("category", StringType))))
    src.commit(t5)
    val t6 = src.begin()
    t6.insert(Seq((3L, "c")).toDF("obj_id", "category"))
    src.commit(t6)
    val e = intercept[IllegalStateException](mv2.refresh())
    assert(e.getMessage.contains("no longer exists"))
  }

  test("definition round-trips hostile column names and WHERE text") {
    val srcDir = Files.createTempDirectory("graft_mv_h_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_hv_").toUri.toString
    val hostile = """g "x", ]\ y"""
    val src = VersionedTable.create(spark, srcDir, StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField(hostile, StringType),
      StructField("v", LongType))))
    val where = """v > 1 AND `g "x", ]\ y` != 'a,"b"'"""
    MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq(hostile), sumCols = Seq("v"), where = Some(where))
    val mv = MaterializedAggView.openFromDef(spark, viewDir)
    assert(mv.groupCols == Seq(hostile), s"got ${mv.groupCols}")
    assert(mv.sumCols == Seq("v"))
    assert(mv.where == Some(where), s"got ${mv.where}")
    val t1 = src.begin()
    t1.insert(Seq((1L, "k", 10L), (2L, "k", 1L))
      .toDF("obj_id", hostile, "v"))
    src.commit(t1)
    mv.refresh()
    val r = mv.read().select(col("cnt"), col("sum_v")).head()
    assert((r.getLong(0), r.getLong(1)) == ((1L, 10L)), s"got $r")
  }

  test("filtered view: updates across the predicate boundary net correctly") {
    val srcDir = Files.createTempDirectory("graft_mv_f_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_fv_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("v"), where = Some("v >= 10"))
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L), (2L, "a", 3L), (3L, "b", 50L))
      .toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    assert(viewRows(mv) == Seq(("a", 1L, 10L), ("b", 1L, 50L)))
    // in -> out: row 1 drops below the threshold (its -1 pre-image is
    // inside the filter, the +1 post-image outside -> net decrement,
    // killing group 'a'); out -> in: row 2 climbs above it
    val t2 = src.begin()
    t2.update(Seq(1L), df => df.withColumn("v", lit(5L)))
    src.commit(t2)
    val t3 = src.begin()
    t3.update(Seq(2L), df => df.withColumn("v", lit(30L)))
    src.commit(t3)
    mv.refresh()
    val expect = src.read().filter(col("v") >= 10).groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(viewRows(mv) == expect)
    assert(viewRows(mv) == Seq(("a", 1L, 30L), ("b", 1L, 50L)))
    // create-time validation: a predicate that doesn't resolve fails NOW
    val bad = Files.createTempDirectory("graft_mv_bad_w_").toUri.toString
    intercept[Exception](MaterializedAggView.create(spark, bad, src,
      groupCols = Seq("grp"), sumCols = Nil, where = Some("nope > 1")))
  }

  test("concurrent refreshers never double-fold an overlapping interval") {
    val (src, mv) = freshPair()
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 1L)).toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    // two independent refreshers race while the source advances: any
    // interleaving where one folds (L, h1] and the other lands a
    // stale (L, h2] delta on top would double-count the overlap
    val mvB = MaterializedAggView.openFromDef(spark, mv.view.root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 2 to 6) {
        val t = src.begin()
        t.insert(Seq((i.toLong, "a", i.toLong)).toDF("obj_id", "grp", "v"))
        src.commit(t)
        val fa = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = mv.refresh() })
        val fb = pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = mvB.refresh() })
        fa.get(); fb.get()
      }
    } finally pool.shutdown()
    mv.refresh()
    assert(viewRows(mv) == recompute(src),
      s"view diverged from recompute: ${viewRows(mv)} vs ${recompute(src)}")
    assert(viewRows(mv) == Seq(("a", 6L, 21L)))
  }

  test("a fenced watermark conflicts with interleaved watermark movement") {
    val dir = Files.createTempDirectory("graft_fence_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    // txn A (fenced, epoch 10) begins; rival B lands epoch 5 first —
    // a SMALLER epoch, which the idempotence guard alone would admit
    val a = inst.begin()
    a.insert(Seq((1L, "a", 1L)).toDF("obj_id", "grp", "v"))
    a.markEpoch("q", 10L, fence = true)
    val b = inst.begin()
    b.insert(Seq((2L, "b", 2L)).toDF("obj_id", "grp", "v"))
    b.markEpoch("q", 5L)
    inst.commit(b)
    intercept[ConflictException](inst.commit(a))
    // unfenced control: same shape sails through (streaming semantics)
    val c = inst.begin()
    c.insert(Seq((3L, "c", 3L)).toDF("obj_id", "grp", "v"))
    c.markEpoch("q", 10L)
    val d = inst.begin()
    d.insert(Seq((4L, "d", 4L)).toDF("obj_id", "grp", "v"))
    d.markEpoch("q", 7L)
    inst.commit(d)
    inst.commit(c)
    assert(inst.lastCommittedEpoch("q") == Some(10L))
  }

  test("fence-only watermarks make disjoint-side refreshers collide") {
    val dir = Files.createTempDirectory("graft_fenceonly_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    // seed both watermarks (fact 'f' at 5, dim 'd' at 7)
    val s = inst.begin()
    s.insert(Seq((1L, "a", 1L)).toDF("obj_id", "grp", "v"))
    s.markEpoch("f", 5L); s.markEpoch("d", 7L)
    inst.commit(s)
    // refresher A observed only FACT churn: moves f, fences d
    val a = inst.begin()
    a.insert(Seq((2L, "b", 2L)).toDF("obj_id", "grp", "v"))
    a.markEpoch("f", 6L, fence = true)
    a.fenceEpoch("d")
    // rival B observed only DIM churn: moves d, fences f — lands first
    val b = inst.begin()
    b.insert(Seq((3L, "c", 3L)).toDF("obj_id", "grp", "v"))
    b.markEpoch("d", 8L, fence = true)
    b.fenceEpoch("f")
    inst.commit(b)
    // pre-fix the two marked DISJOINT appIds and both landed (the
    // cross term ΔF ⨝ ΔD silently dropped); now A's fence on d
    // collides with B's interleaved movement of d
    intercept[ConflictException](inst.commit(a))
    // fence-only marks never move an epoch
    assert(inst.lastCommittedEpoch("f") == Some(5L))
    assert(inst.lastCommittedEpoch("d") == Some(8L))
    // with no interleaved movement, fencing the unchanged epoch is
    // free — NOT swallowed by the already-committed idempotence skip
    val c = inst.begin()
    c.insert(Seq((4L, "e", 4L)).toDF("obj_id", "grp", "v"))
    c.markEpoch("f", 6L, fence = true)
    c.fenceEpoch("d")
    inst.commit(c)
    assert(inst.lastCommittedEpoch("f") == Some(6L))
    assert(inst.lastCommittedEpoch("d") == Some(8L))
  }

  test("decimal sums: refresh equals recompute; NULL gating; exact merge") {
    // DECIMAL(p, s) sums are exact and associative, so they maintain
    // like longs — stored at full precision DECIMAL(38, s). Double
    // sums stay refused (order-dependent).
    val decSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("grp", StringType),
      StructField("d", org.apache.spark.sql.types.DecimalType(12, 2))))
    val srcDir = Files.createTempDirectory("graft_mv_dec_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_decv_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, decSchema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("d"))
    // the stored partial is DECIMAL(38, 2)
    assert(StructType.fromDDL(mv.view.stateAt(mv.view.latestVersion)._2)
      .apply("sum_d").dataType ==
      org.apache.spark.sql.types.DecimalType(38, 2))
    def dec(s: String): java.math.BigDecimal =
      new java.math.BigDecimal(s).setScale(2)
    def df(rows: Seq[(Long, String, String)]) =
      rows.map { case (i, g, v) =>
        (i, g, if (v == null) null else dec(v)) }
        .toDF("obj_id", "grp", "d")
        .withColumn("d", col("d").cast("decimal(12,2)"))
    def check(): Unit = {
      mv.refresh()
      val got = mv.read().select("grp", "cnt", "sum_d")
        .collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.getDecimal(2)).map(_.toPlainString).orNull))
        .toSeq.sortBy(_._1)
      val want = src.read().groupBy("grp")
        .agg(count(lit(1)).as("cnt"),
          sum("d").cast("decimal(38,2)").as("sum_d"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          Option(r.getDecimal(2)).map(_.toPlainString).orNull))
        .toSeq.sortBy(_._1)
      assert(got == want, s"view $got != recompute $want")
    }
    src.withRetry() { t => t.insert(df(Seq(
      (1L, "a", "10.25"), (2L, "a", "0.75"), (3L, "b", "99999999.99"),
      (4L, "c", null)))) }
    check() // initial fold: a=11.00, b big, c NULL (all-null addends)
    src.withRetry() { t => t.update(Seq(2L),
      d => d.withColumn("d",
        lit(dec("100.00")).cast("decimal(12,2)"))) } // in-group update
    src.withRetry() { t => t.insert(df(Seq((5L, "b", "-99999999.99"))))}
    check() // b cancels to exactly 0.00 (nn=2 -> 0.00, not NULL)
    src.withRetry() { t => t.delete(Seq(3L, 5L)) }
    check() // b's addends all gone -> group dies
    src.withRetry() { t => t.update(Seq(1L),
      d => d.withColumn("d", lit(null).cast("decimal(12,2)"))) }
    src.withRetry() { t => t.update(Seq(2L),
      d => d.withColumn("d", lit(null).cast("decimal(12,2)"))) }
    check() // a's last non-null addend dies -> sum_d back to SQL NULL
  }

  test("sum columns must be integral; group columns must exist") {
    val srcDir = Files.createTempDirectory("graft_mv_bad_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("g", StringType),
      StructField("d", org.apache.spark.sql.types.DoubleType))))
    val vd = Files.createTempDirectory("graft_mv_badv_").toUri.toString
    val e = intercept[IllegalArgumentException](MaterializedAggView.create(
      spark, vd, src, groupCols = Seq("g"), sumCols = Seq("d")))
    assert(e.getMessage.contains("integral"))
    val e2 = intercept[IllegalArgumentException](MaterializedAggView.create(
      spark, vd, src, groupCols = Seq("nope"), sumCols = Nil))
    assert(e2.getMessage.contains("nope"))
    val e3 = intercept[IllegalArgumentException](MaterializedAggView.create(
      spark, vd, src, groupCols = Nil, sumCols = Nil))
    assert(e3.getMessage.contains("group column"))
    // reserved spellings collide with the view's own columns
    val e4 = intercept[IllegalArgumentException](MaterializedAggView.create(
      spark, vd, src, groupCols = Seq("obj_id"), sumCols = Nil))
    assert(e4.getMessage.contains("reserved"))
  }

  private def freshMinMax(): (Instance, MaterializedAggView) = {
    val srcDir = Files.createTempDirectory("graft_mv_mm_src_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_mm_view_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Nil,
      minCols = Seq("v"), maxCols = Seq("v"))
    (src, mv)
  }

  private def mmRecompute(src: Instance): Seq[(String, Long, Any, Any)] =
    src.read().groupBy("grp")
      .agg(count(lit(1)).as("cnt"), min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      .toSeq.sortBy(_._1)

  private def mmView(mv: MaterializedAggView): Seq[(String, Long, Any, Any)] =
    mv.read().select("grp", "cnt", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      .toSeq.sortBy(_._1)

  test("min/max view: inserts fold free, a deleted extremum recomputes its group") {
    val (src, mv) = freshMinMax()
    val t1 = src.begin()
    t1.insert(Seq((1L, "a", 10L), (2L, "a", 40L), (3L, "b", 20L),
      (4L, "b", 50L)).toDF("obj_id", "grp", "v"))
    src.commit(t1)
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 2L, 10L, 40L), ("b", 2L, 20L, 50L)))

    // non-extremum delete: min/max unchanged, no recompute needed
    src.withRetry() { t => t.insert(Seq((5L, "a", 25L))
      .toDF("obj_id", "grp", "v")) }
    src.withRetry() { t => t.delete(Seq(5L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))

    // EXTREMUM death: group a's stored min 10 dies — refresh must
    // recompute exactly that group from the head snapshot
    src.withRetry() { t => t.delete(Seq(1L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 1L, 40L, 40L), ("b", 2L, 20L, 50L)))

    // death + cover in ONE interval: b's max 50 is rewritten to 90 —
    // the CoW pre-image deletes 50, the post-image inserts 90 >= 50,
    // so greatest() covers it with no rescan; the result is exact
    src.withRetry() { t =>
      t.update(Seq(4L), df => df.withColumn("v", lit(90L)))
    }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 1L, 40L, 40L), ("b", 2L, 20L, 90L)))

    // min extends via least() on a plain insert
    src.withRetry() { t => t.insert(Seq((6L, "a", 8L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh()
    assert(mmView(mv) == Seq(("a", 2L, 8L, 40L), ("b", 2L, 20L, 90L)))

    // null handling: an all-null group holds null extrema; deleting
    // the last non-null value returns the group's min/max to null
    src.withRetry() { t => t.insert(Seq[(Long, String, Option[Long])](
      (7L, "c", None), (8L, "c", Some(70L))).toDF("obj_id", "grp", "v")) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    src.withRetry() { t => t.delete(Seq(8L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv).collect { case ("c", n, mn, mx) => (n, mn, mx) } ==
      Seq((1L, null, null)))

    // group death removes the row entirely
    src.withRetry() { t => t.delete(Seq(7L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(!mmView(mv).exists(_._1 == "c"))
  }

  test("min/max: a transient insert+delete across commits neither corrupts nor covers") {
    val (src, mv) = freshMinMax()
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "a", 40L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh() // stored min 10, max 40
    // commit A inserts v=1, commit B deletes that row: net zero for
    // the interval. Raw-row candidates would see ins_min=1 (fold
    // least(10,1)=1 — a value no longer in the table) and del_min=1
    // "covered" by the transient insert; netted candidates cancel
    src.withRetry() { t => t.insert(Seq((9L, "a", 1L))
      .toDF("obj_id", "grp", "v")) }
    src.withRetry() { t => t.delete(Seq(9L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 2L, 10L, 40L)))
    // transient pair PLUS a genuine extremum death in ONE interval:
    // the transient 1 must not cover the real min 10's death via
    // ins <= del — the group must recompute (min becomes 40)
    src.withRetry() { t => t.insert(Seq((8L, "a", 1L))
      .toDF("obj_id", "grp", "v")) }
    src.withRetry() { t => t.delete(Seq(8L)) }
    src.withRetry() { t => t.delete(Seq(1L)) } // the stored min dies
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 1L, 40L, 40L)))
    // symmetric for MAX: transient 99 above the stored max 40
    src.withRetry() { t => t.insert(Seq((7L, "a", 99L))
      .toDF("obj_id", "grp", "v")) }
    src.withRetry() { t => t.delete(Seq(7L)) }
    mv.refresh()
    assert(mmView(mv) == mmRecompute(src))
    assert(mmView(mv) == Seq(("a", 1L, 40L, 40L)))
  }

  test("property: random churn never diverges count/sum/min/max from recompute") {
    // deterministic adversarial sequences over every maintained
    // aggregate at once: inserts (incl. nulls), value updates, group
    // moves, deletes (which sooner or later kill extrema AND net
    // values out of the ndv sketches), refreshed at irregular
    // intervals so each delta folds MULTIPLE commits. Values stay
    // < 100 so every sketch sits in its exact coupon regime and the
    // ndv estimate must EQUAL count(distinct v) at every checkpoint
    val rnd = new scala.util.Random(20260814L)
    val srcDir = Files.createTempDirectory("graft_mv_prop_src_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_prop_view_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"), ndvCols = Seq("v"))
    val groups = Seq("a", "b", "c")
    var nextId = 1L
    val live = scala.collection.mutable.ArrayBuffer.empty[Long]
    def oracle(): Seq[(String, Long, Any, Any, Any, Long)] =
      src.read().groupBy("grp")
        .agg(count(lit(1)).as("cnt"), sum("v").as("s"),
          min("v").as("mn"), max("v").as("mx"),
          countDistinct(col("v")).as("nd"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getLong(4),
          r.getLong(5)))
        .toSeq.sortBy(_._1)
    def viewNow(): Seq[(String, Long, Any, Any, Any, Long)] =
      mv.read().select("grp", "cnt", "sum_v", "min_v", "max_v",
          "approx_ndv_v")
        .collect().map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) null else r.getLong(2),
          if (r.isNullAt(3)) null else r.getLong(3),
          if (r.isNullAt(4)) null else r.getLong(4),
          r.getLong(5)))
        .toSeq.sortBy(_._1)
    (1 to 30).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 => // insert 1-3 rows, ~1/5 null values
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val id = nextId; nextId += 1; live += id
            (id, groups(rnd.nextInt(groups.size)),
              if (rnd.nextInt(5) == 0) None
              else Some(rnd.nextInt(100).toLong))
          }
          src.withRetry() { t => t.insert(
            rows.toDF("obj_id", "grp", "v")) }
        case 2 if live.nonEmpty => // delete a random row (extrema die)
          val id = live.remove(rnd.nextInt(live.size))
          src.withRetry() { t => t.delete(Seq(id)) }
        case 3 if live.nonEmpty => // update: new value or group move
          val id = live(rnd.nextInt(live.size))
          val g = groups(rnd.nextInt(groups.size))
          val nv = rnd.nextInt(100).toLong
          src.withRetry() { t => t.update(Seq(id), df =>
            df.withColumn("v", lit(nv)).withColumn("grp", lit(g))) }
        case _ => ()
      }
      if (step % 6 == 0 || step == 30) {
        mv.refresh()
        assert(viewNow() == oracle(),
          s"diverged at step $step:\nview   ${viewNow()}\noracle ${oracle()}")
      }
    }
  }

  test("property: churn interleaved with tight vacuums never diverges") {
    // the vacuum↔view contract end-to-end: random churn plus
    // vacuum(1-2) BETWEEN refreshes (and periodic compactions for
    // rewrite amplification), so the view is routinely staler than
    // retention when it refreshes. Whichever path refresh takes —
    // incremental when the interval's pre-images survive, the
    // snapshot rebuild when the horizon ate them — the view must
    // match a full recompute every time.
    val rnd = new scala.util.Random(20260815L)
    val srcDir = Files.createTempDirectory("graft_mv_vprop_src_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_vprop_view_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"), ndvCols = Seq("v"))
    val groups = Seq("a", "b")
    var nextId = 1L
    val live = scala.collection.mutable.ArrayBuffer.empty[Long]
    // ndv rides along (coupon-exact at < 100 values): the snapshot
    // REBUILD path must reconstruct sketches, not just fold them
    def snap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getLong(4),
        r.getLong(5)))
      .toSeq.sortBy(_._1)
    def oracle() = snap(src.read().groupBy("grp")
      .agg(count(lit(1)).as("cnt"), sum("v").as("s"),
        min("v").as("mn"), max("v").as("mx"),
        countDistinct(col("v")).as("nd")))
    def viewNow() = snap(mv.read()
      .select("grp", "cnt", "sum_v", "min_v", "max_v", "approx_ndv_v"))
    (1 to 24).foreach { step =>
      rnd.nextInt(4) match {
        case 0 | 1 =>
          val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
            val id = nextId; nextId += 1; live += id
            (id, groups(rnd.nextInt(groups.size)),
              rnd.nextInt(100).toLong)
          }
          src.withRetry() { t => t.insert(rows.toDF("obj_id", "grp", "v")) }
        case 2 if live.nonEmpty =>
          val id = live.remove(rnd.nextInt(live.size))
          src.withRetry() { t => t.delete(Seq(id)) }
        case 3 if live.nonEmpty =>
          val id = live(rnd.nextInt(live.size))
          src.withRetry() { t => t.update(Seq(id), df =>
            df.withColumn("v", lit(rnd.nextInt(100).toLong))) }
        case _ => ()
      }
      if (step % 11 == 0) src.compact(1)
      if (step % 5 == 0) src.vacuum(1 + rnd.nextInt(2))
      if (step % 7 == 0 || step == 24) {
        mv.refresh()
        assert(viewNow() == oracle(),
          s"diverged at step $step:\nview   ${viewNow()}\noracle ${oracle()}")
      }
    }
    // and the degraded-refresh report composes: a final tight vacuum
    // right after heavy churn leaves the vacuumHorizon AT head
    assert(src.vacuumHorizon > 0L)
  }

  test("join view: fact churn, dim group moves and dim deletes all net exactly") {
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val factDir = Files.createTempDirectory("graft_mv_jf_").toUri.toString
    val dimDir = Files.createTempDirectory("graft_mv_jd_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_jv_").toUri.toString
    val fact = VersionedTable.create(spark, factDir, factSchema)
    val dim = VersionedTable.create(spark, dimDir, dimSchema)
    val mv = MaterializedAggView.create(spark, viewDir, fact,
      groupCols = Seq("region"), sumCols = Seq("v"),
      dimJoin = Some(MaterializedAggView.DimJoin(dim, "cust", "obj_id")))
    def oracle(): Seq[(String, Long, Long)] =
      fact.read().alias("F").join(dim.read().alias("D"),
          col("F.cust") === col("D.obj_id"))
        .groupBy("region")
        .agg(count(lit(1)).as("cnt"), sum("v").as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    def viewNow(): Seq[(String, Long, Long)] =
      mv.read().select("region", "cnt", "sum_v")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)

    dim.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    fact.withRetry() { t => t.insert(Seq((10L, 1L, 100L), (11L, 1L, 50L),
      (12L, 2L, 70L)).toDF("obj_id", "cust", "v")) }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("east", 2L, 150L), ("west", 1L, 70L)))

    // fact-only churn: pure fact-delta path (no dim scan)
    fact.withRetry() { t => t.delete(Seq(11L)) }
    mv.refresh()
    assert(viewNow() == oracle())

    // dim-side group move: every matching fact row re-groups
    dim.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("west")))
    }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("west", 2L, 170L)))

    // combined interval: fact insert + fact delete + dim move back,
    // folded by ONE refresh (the three-term algebra nets them all)
    fact.withRetry() { t => t.insert(Seq((13L, 2L, 30L))
      .toDF("obj_id", "cust", "v")) }
    dim.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("east")))
    }
    fact.withRetry() { t => t.delete(Seq(12L)) }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("east", 1L, 100L), ("west", 1L, 30L)))

    // dim DELETE orphans its fact rows out of the inner join
    dim.withRetry() { t => t.delete(Seq(1L)) }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("west", 1L, 30L)))

    // a refresh with nothing new is a no-op; dim-only advance refreshes
    val before = mv.view.latestVersion
    mv.refresh()
    assert(mv.view.latestVersion == before)
    dim.withRetry() { t => t.insert(Seq((3L, "north"))
      .toDF("obj_id", "region")) } // no matching facts: no group appears
    mv.refresh()
    assert(viewNow() == oracle())

    // reopen from the persisted definition keeps the join wiring
    val again = MaterializedAggView.openFromDef(spark, mv.view.root)
    fact.withRetry() { t => t.insert(Seq((14L, 3L, 5L))
      .toDF("obj_id", "cust", "v")) }
    again.refresh()
    assert(viewNow() == Seq(("north", 1L, 5L), ("west", 1L, 30L)))
  }

  test("star view: two dimensions maintained by the inclusion-exclusion delta") {
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("prod", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val dimSchemaP = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("category", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_sf_").toUri.toString, factSchema)
    val dimC = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_sc_").toUri.toString, dimSchema)
    val dimP = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_sp_").toUri.toString, dimSchemaP)
    val mv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_sv_").toUri.toString, fact,
      groupCols = Seq("region", "category"), sumCols = Seq("v"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(dimC, "cust", "obj_id"),
        MaterializedAggView.DimJoin(dimP, "prod", "obj_id")))
    def oracle(): Seq[(String, String, Long, Long)] =
      fact.read().alias("F")
        .join(dimC.read().alias("C"), col("F.cust") === col("C.obj_id"))
        .join(dimP.read().alias("P"), col("F.prod") === col("P.obj_id"))
        .groupBy("region", "category")
        .agg(count(lit(1)).as("cnt"), sum("v").as("s"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq.sortBy(t => (t._1, t._2))
    def viewNow(): Seq[(String, String, Long, Long)] =
      mv.read().select("region", "category", "cnt", "sum_v")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3))).toSeq.sortBy(t => (t._1, t._2))

    dimC.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    dimP.withRetry() { t => t.insert(Seq((10L, "toys"), (11L, "tools"))
      .toDF("obj_id", "category")) }
    fact.withRetry() { t => t.insert(Seq((100L, 1L, 10L, 5L),
      (101L, 1L, 11L, 7L), (102L, 2L, 10L, 11L))
      .toDF("obj_id", "cust", "prod", "v")) }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("east", "tools", 1L, 7L),
      ("east", "toys", 1L, 5L), ("west", "toys", 1L, 11L)))

    // fact churn alone: ONE term (dims read key-restricted)
    fact.withRetry() { t => t.delete(Seq(101L)) }
    mv.refresh()
    assert(viewNow() == oracle())

    // each dim alone
    dimC.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("west"))) }
    mv.refresh()
    assert(viewNow() == oracle())
    dimP.withRetry() { t =>
      t.update(Seq(10L), df => df.withColumn("category", lit("games"))) }
    mv.refresh()
    assert(viewNow() == oracle())

    // fact + BOTH dims in one interval: the full 7-term delta
    dimC.withRetry() { t =>
      t.update(Seq(2L), df => df.withColumn("region", lit("east"))) }
    dimP.withRetry() { t =>
      t.update(Seq(11L), df => df.withColumn("category", lit("kits"))) }
    fact.withRetry() { t => t.insert(Seq((103L, 2L, 11L, 3L))
      .toDF("obj_id", "cust", "prod", "v")) }
    mv.refresh()
    assert(viewNow() == oracle())
    assert(viewNow() == Seq(("east", "games", 1L, 11L),
      ("east", "kits", 1L, 3L), ("west", "games", 1L, 5L)))

    // a dim DELETE orphans matching facts; reopen keeps the wiring
    dimP.withRetry() { t => t.delete(Seq(11L)) }
    val again = MaterializedAggView.openFromDef(spark, mv.view.root)
    again.refresh()
    assert(viewNow() == oracle())
    assert(again.dimJoins.size == 2)
    // watermarks advanced independently per dimension
    assert(again.refreshedDimVersion(0) == dimC.latestVersion)
    assert(again.refreshedDimVersion(1) == dimP.latestVersion)
  }

  test("star view: past mvMaxChangedSides the refresh rebuilds, not folds") {
    // the inclusion–exclusion plan is 2^k - 1 terms for k churning
    // sides; with the cap at 1, a fact+dim interval must take the
    // bounded snapshot rebuild and still land the exact answer
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_cap_f_").toUri.toString,
      factSchema, conf = EngineConf(mvMaxChangedSides = 1))
    val dimC = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_cap_d_").toUri.toString, dimSchema)
    val mv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_cap_v_").toUri.toString, fact,
      groupCols = Seq("region"), sumCols = Seq("v"),
      dimJoins = Seq(MaterializedAggView.DimJoin(dimC, "cust", "obj_id")))
    dimC.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    fact.withRetry() { t => t.insert(Seq((100L, 1L, 5L), (101L, 2L, 7L))
      .toDF("obj_id", "cust", "v")) }
    mv.refresh()
    assert(mv.lastRefreshMode == "initial")

    // fact-only churn: 1 changed side <= cap, stays incremental
    fact.withRetry() { t => t.insert(Seq((102L, 1L, 3L))
      .toDF("obj_id", "cust", "v")) }
    mv.refresh()
    assert(mv.lastRefreshMode == "incremental")

    // fact + dim in one interval: 2 changed sides > cap -> rebuild
    fact.withRetry() { t => t.delete(Seq(101L)) }
    dimC.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("north"))) }
    mv.refresh()
    assert(mv.lastRefreshMode == "rebuild")
    val got = mv.read().select("region", "cnt", "sum_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == Seq(("north", 2L, 8L)))
  }

  test("property: random star churn never diverges from the join recompute") {
    // adversarial sequences over fact + 2 dims at once — fact
    // inserts/updates/deletes/key-retargets, dim group moves, dim
    // inserts and deletes (orphaning facts out of the inner join) —
    // refreshed at irregular intervals so each delta folds MULTIPLE
    // commits and regularly exercises several inclusion–exclusion
    // terms. The view sums a FACT column and a DIM column (weights
    // multiply through the join on both sides). Deterministic seed.
    val rnd = new scala.util.Random(20260814L)
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("prod", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val dimSchemaP = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("category", StringType),
      StructField("w", LongType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_prop_sf_").toUri.toString,
      factSchema)
    val dimC = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_prop_sc_").toUri.toString,
      dimSchema)
    val dimP = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_prop_sp_").toUri.toString,
      dimSchemaP)
    val mv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_prop_sv_").toUri.toString, fact,
      groupCols = Seq("region", "category"), sumCols = Seq("v", "w"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(dimC, "cust", "obj_id"),
        MaterializedAggView.DimJoin(dimP, "prod", "obj_id")))
    val regions = Seq("east", "west", "north")
    val cats = Seq("toys", "tools", "games")
    dimC.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    dimP.withRetry() { t => t.insert(
      Seq((10L, "toys", 2L), (11L, "tools", 5L))
        .toDF("obj_id", "category", "w")) }
    var nextFact = 100L
    val liveFacts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val liveCusts = scala.collection.mutable.ArrayBuffer(1L, 2L)
    val liveProds = scala.collection.mutable.ArrayBuffer(10L, 11L)
    var nextCust = 3L; var nextProd = 12L
    def oracle(): Seq[(String, String, Long, Long, Long)] =
      fact.read().alias("F")
        .join(dimC.read().alias("C"), col("F.cust") === col("C.obj_id"))
        .join(dimP.read().alias("P"), col("F.prod") === col("P.obj_id"))
        .groupBy("region", "category")
        .agg(count(lit(1)).as("cnt"), sum("v").as("sv"), sum("w").as("sw"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(t => (t._1, t._2))
    def viewNow(): Seq[(String, String, Long, Long, Long)] =
      mv.read().select("region", "category", "cnt", "sum_v", "sum_w")
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(t => (t._1, t._2))
    (1 to 24).foreach { step =>
      rnd.nextInt(8) match {
        case 0 | 1 => // fact insert
          val id = nextFact; nextFact += 1; liveFacts += id
          fact.withRetry() { t => t.insert(Seq(
            (id, liveCusts(rnd.nextInt(liveCusts.size)),
              liveProds(rnd.nextInt(liveProds.size)),
              rnd.nextInt(50).toLong)).toDF("obj_id", "cust", "prod", "v")) }
        case 2 if liveFacts.nonEmpty => // fact value update or retarget
          val id = liveFacts(rnd.nextInt(liveFacts.size))
          val nc = liveCusts(rnd.nextInt(liveCusts.size))
          val nv = rnd.nextInt(50).toLong
          fact.withRetry() { t => t.update(Seq(id), df =>
            df.withColumn("cust", lit(nc)).withColumn("v", lit(nv))) }
        case 3 if liveFacts.nonEmpty => // fact delete
          val id = liveFacts.remove(rnd.nextInt(liveFacts.size))
          fact.withRetry() { t => t.delete(Seq(id)) }
        case 4 => // dim-C group move
          val id = liveCusts(rnd.nextInt(liveCusts.size))
          val r = regions(rnd.nextInt(regions.size))
          dimC.withRetry() { t => t.update(Seq(id), df =>
            df.withColumn("region", lit(r))) }
        case 5 => // dim-P move and/or weight change (dim-side SUM)
          val id = liveProds(rnd.nextInt(liveProds.size))
          val c = cats(rnd.nextInt(cats.size))
          val w = rnd.nextInt(9).toLong
          dimP.withRetry() { t => t.update(Seq(id), df =>
            df.withColumn("category", lit(c)).withColumn("w", lit(w))) }
        case 6 => // dim insert (new cust or prod)
          if (rnd.nextBoolean()) {
            val id = nextCust; nextCust += 1; liveCusts += id
            dimC.withRetry() { t => t.insert(
              Seq((id, regions(rnd.nextInt(regions.size))))
                .toDF("obj_id", "region")) }
          } else {
            val id = nextProd; nextProd += 1; liveProds += id
            dimP.withRetry() { t => t.insert(
              Seq((id, cats(rnd.nextInt(cats.size)), rnd.nextInt(9).toLong))
                .toDF("obj_id", "category", "w")) }
          }
        case 7 if liveCusts.size > 1 => // dim delete orphans its facts
          val id = liveCusts.remove(rnd.nextInt(liveCusts.size))
          dimC.withRetry() { t => t.delete(Seq(id)) }
        case _ => ()
      }
      if (step % 5 == 0 || step == 24) {
        mv.refresh()
        assert(viewNow() == oracle(),
          s"star view diverged at step $step:\n view  ${viewNow()}\n" +
          s" oracle ${oracle()}")
      }
    }
  }

  test("dim-side renames mid-interval keep the join view green; drops fail loudly") {
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_drf_").toUri.toString, factSchema)
    val dim = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_drd_").toUri.toString, dimSchema)
    val mv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_drv_").toUri.toString, fact,
      groupCols = Seq("region"), sumCols = Seq("v"),
      dimJoin = Some(MaterializedAggView.DimJoin(dim, "cust", "obj_id")))
    dim.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    fact.withRetry() { t => t.insert(Seq((10L, 1L, 100L), (11L, 2L, 50L))
      .toDF("obj_id", "cust", "v")) }
    mv.refresh()
    // rename the dim GROUP column mid-interval, then churn both sides
    // under the new name: the view binds by the dim's physical
    // identity, so pre-rename pre-images subtract from the same
    // groups post-rename post-images add to
    dim.withRetry() { t => t.renameColumn("region", "zone") }
    dim.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("zone", lit("west"))) }
    fact.withRetry() { t => t.insert(Seq((12L, 1L, 7L))
      .toDF("obj_id", "cust", "v")) }
    val again = MaterializedAggView.openFromDef(spark, mv.view.root)
    again.refresh()
    // the view keeps its create-time column name
    val rows = again.read().select("region", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(rows == Seq(("west", 3L, 157L)), s"got $rows")
    // a DROPPED dim view-column still fails loudly
    dim.withRetry() { t => t.alterSchema(StructType(Seq(
      StructField("obj_id", LongType, nullable = false)))) }
    dim.withRetry() { t => t.insert(Seq(Tuple1(3L)).toDF("obj_id")) }
    val again3 = MaterializedAggView.openFromDef(spark, mv.view.root)
    val e = intercept[IllegalStateException](again3.refresh())
    assert(e.getMessage.contains("no longer exists"))
  }

  test("feature interactions: WHERE composes with min/max recompute and with joins") {
    // 1) filtered min/max: the predicate bounds BOTH the delta fold
    // and the death-recompute scan — deleting the in-filter minimum
    // recomputes to the next in-filter value, not the global one
    val srcDir = Files.createTempDirectory("graft_mv_fx_src_").toUri.toString
    val viewDir = Files.createTempDirectory("graft_mv_fx_view_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Nil,
      where = Some("v >= 10"), minCols = Seq("v"), maxCols = Seq("v"))
    src.withRetry() { t => t.insert(Seq(
      (1L, "a", 5L),   // below the filter: never visible
      (2L, "a", 10L),  // the in-filter minimum
      (3L, "a", 30L)).toDF("obj_id", "grp", "v")) }
    mv.refresh()
    def rows() = mv.read().select("grp", "cnt", "min_v", "max_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(rows() == Seq(("a", 2L, 10L, 30L)))
    // kill the in-filter minimum: recompute must respect the filter
    // (min becomes 30, NOT the out-of-filter 5)
    src.withRetry() { t => t.delete(Seq(2L)) }
    mv.refresh()
    assert(rows() == Seq(("a", 1L, 30L, 30L)))

    // 2) filtered join view: the fact-side predicate composes with
    // the dim delta terms (a dim group move re-aggregates only the
    // IN-FILTER fact rows)
    val fSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("v", LongType)))
    val dSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_fx_f_").toUri.toString, fSchema)
    val dim = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_fx_d_").toUri.toString, dSchema)
    val jmv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_fx_jv_").toUri.toString, fact,
      groupCols = Seq("region"), sumCols = Seq("v"),
      where = Some("v >= 100"),
      dimJoin = Some(MaterializedAggView.DimJoin(dim, "cust", "obj_id")))
    dim.withRetry() { t => t.insert(Seq((1L, "east"))
      .toDF("obj_id", "region")) }
    fact.withRetry() { t => t.insert(Seq((10L, 1L, 100L), (11L, 1L, 7L))
      .toDF("obj_id", "cust", "v")) }
    jmv.refresh()
    def jrows() = jmv.read().select("region", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(jrows() == Seq(("east", 1L, 100L)))
    // dim move: only the in-filter order follows the customer
    dim.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("west")))
    }
    jmv.refresh()
    assert(jrows() == Seq(("west", 1L, 100L)))
  }

  test("initial fold telescopes: a view created AFTER vacuum builds green") {
    // CoW-heavy history: every commit rewrites the rows' files, piling
    // up pre-images; vacuum(1) reclaims everything not live at head.
    // The initial fold must read the head snapshot (one scan), never
    // weightedDelta(0, head)'s per-commit pre-images — which are gone.
    val srcDir = Files.createTempDirectory("graft_mv_vac_src_").toUri.toString
    val src = VersionedTable.create(spark, srcDir, schema)
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("obj_id", "grp", "v")) }
    (1 to 6).foreach { _ =>
      src.withRetry() { t =>
        t.update(Seq(1L), df => df.withColumn("v", col("v") + 1L)) }
    }
    assert(src.vacuum(1) > 0, "vacuum must reclaim the CoW pre-images")
    assert(src.vacuumHorizon == src.latestVersion)
    val viewDir = Files.createTempDirectory("graft_mv_vac_view_").toUri.toString
    val mv = MaterializedAggView.create(spark, viewDir, src,
      groupCols = Seq("grp"), sumCols = Seq("v"))
    mv.refresh()
    assert(mv.lastRefreshMode == "initial")
    assert(viewRows(mv) == recompute(src))
    assert(viewRows(mv) == Seq(("a", 1L, 16L), ("b", 1L, 20L)))
    // and the fold is idempotent noops afterwards
    mv.refresh()
    assert(mv.lastRefreshMode == "noop")
  }

  test("a view staler than vacuum retention rebuilds instead of failing") {
    val (src, mv) = freshPair()
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh() // watermark at v1
    assert(mv.lastRefreshMode == "initial")
    (1 to 6).foreach { _ =>
      src.withRetry() { t =>
        t.update(Seq(1L), df => df.withColumn("v", col("v") + 3L)) }
    }
    src.vacuum(1) // the view's interval (1, head] pre-images are gone
    mv.refresh()
    assert(mv.lastRefreshMode == "rebuild")
    assert(viewRows(mv) == recompute(src))
    assert(viewRows(mv) == Seq(("a", 1L, 28L), ("b", 1L, 20L)))
    // incremental service resumes after the rebuild re-based the view
    src.withRetry() { t =>
      t.update(Seq(2L), df => df.withColumn("v", lit(50L))) }
    mv.refresh()
    assert(mv.lastRefreshMode == "incremental")
    assert(viewRows(mv) == Seq(("a", 1L, 28L), ("b", 1L, 50L)))
  }

  test("a reclaimed interval with NO horizon marker falls back via FileNotFound") {
    val (src, mv) = freshPair()
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh()
    (1 to 6).foreach { _ =>
      src.withRetry() { t =>
        t.update(Seq(1L), df => df.withColumn("v", col("v") + 3L)) }
    }
    src.vacuum(1)
    // simulate a legacy/lost marker: the proactive check reads 0, the
    // incremental fold hits the reclaimed pre-image mid-job, and the
    // reactive fallback must still land the rebuild
    src.fs.delete(new org.apache.hadoop.fs.Path(src.root, "_vacuum.json"),
      false)
    assert(src.vacuumHorizon == 0L)
    mv.refresh()
    assert(mv.lastRefreshMode == "rebuild")
    assert(viewRows(mv) == recompute(src))
  }

  test("min/max and join views rebuild green after vacuum") {
    // min/max: the rebuild recomputes extrema from the snapshot
    val (src, mv) = freshMinMax()
    src.withRetry() { t => t.insert(Seq((1L, "a", 10L), (2L, "a", 40L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh()
    (1 to 6).foreach { i =>
      src.withRetry() { t =>
        t.update(Seq(1L), df => df.withColumn("v", lit(10L + i))) }
    }
    src.vacuum(1)
    mv.refresh()
    assert(mv.lastRefreshMode == "rebuild")
    assert(mmView(mv) == mmRecompute(src))

    // join view: fact vacuumed beyond the view's watermark
    val fSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("v", LongType)))
    val dSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_vacj_f_").toUri.toString, fSchema)
    val dim = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_vacj_d_").toUri.toString, dSchema)
    val jmv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_vacj_v_").toUri.toString, fact,
      groupCols = Seq("region"), sumCols = Seq("v"),
      dimJoin = Some(MaterializedAggView.DimJoin(dim, "cust", "obj_id")))
    dim.withRetry() { t => t.insert(Seq((1L, "east"), (2L, "west"))
      .toDF("obj_id", "region")) }
    fact.withRetry() { t => t.insert(Seq((10L, 1L, 100L), (11L, 2L, 50L))
      .toDF("obj_id", "cust", "v")) }
    jmv.refresh()
    assert(jmv.lastRefreshMode == "initial")
    (1 to 6).foreach { _ =>
      fact.withRetry() { t =>
        t.update(Seq(10L), df => df.withColumn("v", col("v") + 1L)) }
    }
    fact.vacuum(1)
    jmv.refresh()
    assert(jmv.lastRefreshMode == "rebuild")
    val rows = jmv.read().select("region", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    assert(rows == Seq(("east", 1L, 106L), ("west", 1L, 50L)))
  }

  test("WHERE composes with the star-view delta (fact predicate, two dims)") {
    val factSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("cust", LongType),
      StructField("prod", LongType),
      StructField("v", LongType)))
    val dimSchema = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("region", StringType)))
    val dimSchemaP = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("category", StringType)))
    val fact = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_swf_").toUri.toString, factSchema)
    val dimC = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_swc_").toUri.toString, dimSchema)
    val dimP = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mv_swp_").toUri.toString, dimSchemaP)
    val mv = MaterializedAggView.create(spark,
      Files.createTempDirectory("graft_mv_swv_").toUri.toString, fact,
      groupCols = Seq("region", "category"), sumCols = Seq("v"),
      where = Some("v >= 10"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(dimC, "cust", "obj_id"),
        MaterializedAggView.DimJoin(dimP, "prod", "obj_id")))
    dimC.withRetry() { t => t.insert(Seq((1L, "east"))
      .toDF("obj_id", "region")) }
    dimP.withRetry() { t => t.insert(Seq((10L, "toys"))
      .toDF("obj_id", "category")) }
    fact.withRetry() { t => t.insert(Seq((100L, 1L, 10L, 15L),
      (101L, 1L, 10L, 3L)).toDF("obj_id", "cust", "prod", "v")) }
    mv.refresh()
    def rows() = mv.read().select("region", "category", "cnt", "sum_v")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSeq.sortBy(t => (t._1, t._2))
    assert(rows() == Seq(("east", "toys", 1L, 15L)))
    // one interval: an out->in boundary crossing on the fact PLUS a
    // move on each dim — the filtered fact delta rides every term
    fact.withRetry() { t =>
      t.update(Seq(101L), df => df.withColumn("v", lit(30L))) }
    dimC.withRetry() { t =>
      t.update(Seq(1L), df => df.withColumn("region", lit("west"))) }
    dimP.withRetry() { t =>
      t.update(Seq(10L), df => df.withColumn("category", lit("games"))) }
    mv.refresh()
    assert(rows() == Seq(("west", "games", 2L, 45L)))
    // and in->out kills the group member
    fact.withRetry() { t =>
      t.update(Seq(100L), df => df.withColumn("v", lit(1L))) }
    mv.refresh()
    assert(rows() == Seq(("west", "games", 1L, 30L)))
  }

  test("min/max view survives a reopen from its persisted definition") {
    val (src, mv) = freshMinMax()
    src.withRetry() { t => t.insert(Seq((1L, "a", 3L), (2L, "a", 9L))
      .toDF("obj_id", "grp", "v")) }
    mv.refresh()
    val again = MaterializedAggView.openFromDef(spark, mv.view.root)
    assert(again.minCols == Seq("v") && again.maxCols == Seq("v"))
    src.withRetry() { t => t.delete(Seq(1L)) } // min dies
    again.refresh()
    assert(mmView(again) == Seq(("a", 1L, 9L, 9L)))
  }
}
