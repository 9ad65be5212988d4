package graft.acid

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Engine

/** Transparent MV rewrite: aggregates over a graft table silently read
  * an exactly-fresh registered view; every guard fails toward the
  * original plan, never toward a wrong answer. */
class MvRewriteSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")

  private def canon(root: String): String = new Path(root).toString

  // after the early scan-pushdown batch the relation is a
  // DataSourceV2ScanRelation; match both shapes by the table identity
  // each prints (the canonical view root)
  private def scansView(df: DataFrame, viewRoot: String): Boolean =
    df.queryExecution.optimizedPlan.treeString.contains(canon(viewRoot))

  private def withRewrite[A](on: Boolean)(f: => A): A = {
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, on.toString)
    try f
    finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Source table {obj_id, g, g2, v, m} with null keys and null
    * addends, plus a registered refreshed view grouped by (g, g2). */
  private def fixture(): (Instance, String, String) = {
    val srcRoot = Files.createTempDirectory("graft_mvrw_src_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_view_").toUri.toString
    val df = spark.createDataFrame(Seq(
      (1L, "a", "x", java.lang.Long.valueOf(10L), java.lang.Long.valueOf(5L)),
      (2L, "a", "y", java.lang.Long.valueOf(20L), null.asInstanceOf[java.lang.Long]),
      (3L, "b", "x", null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(7L)),
      (4L, "b", "x", java.lang.Long.valueOf(40L), java.lang.Long.valueOf(1L)),
      (5L, null.asInstanceOf[String], "y", java.lang.Long.valueOf(50L),
        java.lang.Long.valueOf(9L))))
      .toDF("obj_id", "g", "g2", "v", "m")
    val src = VersionedTable.create(spark, srcRoot, df.schema)
    val t = src.begin(); t.insert(df); src.commit(t)
    val mv = MaterializedAggView.create(spark, viewRoot, src,
      groupCols = Seq("g", "g2"), sumCols = Seq("v"),
      minCols = Seq("m"), maxCols = Seq("m"))
    mv.refresh()
    MvRewriteRule.invalidateCache()
    (src, srcRoot, viewRoot)
  }

  private def srcDf(root: String): DataFrame =
    spark.read.format("graft").option("path", root).load()

  test("fresh view answers count/sum/min/max/avg with identical results") {
    val (_, srcRoot, viewRoot) = fixture()
    def q(): DataFrame = srcDf(srcRoot).groupBy("g")
      .agg(count(lit(1)).as("cnt"), count(col("v")).as("nnv"),
        sum("v").as("sv"), avg("v").as("av"),
        min("m").as("mn"), max("m").as("mx"),
        min("g2").as("gmin"))
      .orderBy(col("g").asc_nulls_first)
    val expected = withRewrite(on = false) {
      assert(!scansView(q(), viewRoot))
      q().collect().toSeq
    }
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot), "rewrite did not fire")
      assert(q().collect().toSeq == expected)
    }
  }

  test("decimal sums rewrite fresh AND stale (nn-gated, type-exact)") {
    val srcRoot = Files.createTempDirectory("graft_mvrw_dsrc_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_dview_").toUri.toString
    def dec(s: String) = new java.math.BigDecimal(s).setScale(2)
    import spark.implicits._
    def df(rows: Seq[(Long, String, String)]) =
      rows.map { case (i, g, v) =>
        (i, g, if (v == null) null else dec(v)) }.toDF("obj_id", "g", "d")
        .withColumn("d", col("d").cast("decimal(12,2)"))
    val src = VersionedTable.create(spark, srcRoot,
      df(Nil).schema)
    src.withRetry() { t => t.insert(df(Seq(
      (1L, "a", "10.25"), (2L, "a", "0.75"), (3L, "b", "5.00"),
      (4L, "c", null)))) }
    val mv = MaterializedAggView.create(spark, viewRoot, src,
      groupCols = Seq("g"), sumCols = Seq("d"))
    mv.refresh()
    MvRewriteRule.invalidateCache()
    def q(): DataFrame = srcDf(srcRoot).groupBy("g")
      .agg(count(lit(1)).as("cnt"), sum("d").as("sd"))
      .orderBy(col("g").asc_nulls_first)
    val expected = withRewrite(on = false)(q().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot), "fresh decimal rewrite did not fire")
      val got = q().collect().toSeq
      assert(got == expected, s"$got != $expected")
      // the rewritten Sum's TYPE matches the direct plan's exactly
      assert(q().schema("sd").dataType ==
        org.apache.spark.sql.types.DecimalType(22, 2))
    }
    // stale: two missed commits — an insert and a kill of c's only
    // row (nn gating: a's sum nets, c's group dies)
    src.withRetry() { t => t.insert(df(Seq((5L, "a", "-11.00")))) }
    src.withRetry() { t => t.delete(Seq(4L)) }
    MvRewriteRule.invalidateCache()
    val expected2 = withRewrite(on = false)(q().collect().toSeq)
    withRewrite(on = true) {
      val plan = q().queryExecution.optimizedPlan.treeString
      assert(plan.contains(canon(viewRoot)) && plan.contains("Union"),
        s"stale decimal rewrite did not fire:\n$plan")
      assert(q().collect().toSeq == expected2)
    }
    // an all-null-addend group under the STALE path reads sum NULL:
    // kill a's remaining non-null addends across the missed interval
    src.withRetry() { t => t.update(Seq(1L),
      d => d.withColumn("d", lit(null).cast("decimal(12,2)"))) }
    src.withRetry() { t => t.delete(Seq(2L, 5L)) }
    MvRewriteRule.invalidateCache()
    val expected3 = withRewrite(on = false)(q().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot))
      val got = q().collect().toSeq
      assert(got == expected3, s"$got != $expected3")
      assert(got.find(_.getString(0) == "a").exists(_.isNullAt(2)),
        "cancelled decimal sum must read back as SQL NULL")
    }
  }

  test("rollup compensation: grouping by a subset re-aggregates the view") {
    val (_, srcRoot, viewRoot) = fixture()
    def q(): DataFrame = srcDf(srcRoot).groupBy("g2")
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      .orderBy("g2")
    val expected = withRewrite(on = false)(q().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot))
      assert(q().collect().toSeq == expected)
    }
  }

  test("global aggregate rewrites; empty table still counts zero") {
    val (_, srcRoot, viewRoot) = fixture()
    def q(): DataFrame = srcDf(srcRoot)
      .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
    val expected = withRewrite(on = false)(q().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot))
      assert(q().collect().toSeq == expected)
    }

    // empty source + refreshed (empty) view: count must be 0, not null
    val eRoot = Files.createTempDirectory("graft_mvrw_e_").toUri.toString
    val evRoot = Files.createTempDirectory("graft_mvrw_ev_").toUri.toString
    val schema = srcDf(srcRoot).schema
    val e = VersionedTable.create(spark, eRoot, schema)
    val t = e.begin()
    t.insert(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    e.commit(t)
    MaterializedAggView.create(spark, evRoot, e,
      groupCols = Seq("g"), sumCols = Seq("v")).refresh()
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      val eq = srcDf(eRoot).agg(count(lit(1)).as("cnt"))
      assert(scansView(eq, evRoot))
      assert(eq.collect().head.getLong(0) == 0L)
    }
  }

  test("stale view compensates read-side: sum-shaped aggregates rewrite " +
      "to view ⊕ delta, result-identical") {
    val (src, srcRoot, viewRoot) = fixture()
    // commit 1 AFTER the refresh: a brand-new group c
    val t = src.begin()
    t.insert(spark.createDataFrame(Seq(
      (6L, "c", "z", java.lang.Long.valueOf(60L), java.lang.Long.valueOf(2L))))
      .toDF("obj_id", "g", "g2", "v", "m"))
    src.commit(t)
    // commit 2: kill group b entirely (liveness filter must drop it)
    val t2 = src.begin()
    t2.deleteMatching(src.read().filter(col("g") === "b").select("obj_id"))
    src.commit(t2)
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      def q(): DataFrame = srcDf(srcRoot).groupBy("g")
        .agg(count(lit(1)).as("cnt"), count(col("v")).as("nnv"),
          sum("v").as("sv"), avg("v").as("av"), count(col("g2")).as("ng2"))
        .orderBy(col("g").asc_nulls_first)
      val expected = withRewrite(on = false)(q().collect().toSeq)
      assert(scansView(q(), viewRoot), "stale compensation did not fire")
      assert(q().collect().toSeq == expected)
      // dead group b must NOT surface
      assert(!q().collect().exists(r => r.getString(0) == "b"))
      // new group c must surface from the delta side
      assert(q().collect().exists(r => r.getString(0) == "c"))
      // global aggregates skip the liveness filter but stay exact
      def g(): DataFrame = srcDf(srcRoot)
        .agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      val expectedG = withRewrite(on = false)(g().collect().toSeq)
      assert(scansView(g(), viewRoot))
      assert(g().collect().toSeq == expectedG)
      // rollup to a subset of the view's group columns
      def r2(): DataFrame = srcDf(srcRoot).groupBy("g2")
        .agg(sum("v").as("sv")).orderBy("g2")
      val expectedR = withRewrite(on = false)(r2().collect().toSeq)
      assert(scansView(r2(), viewRoot))
      assert(r2().collect().toSeq == expectedR)
      // MIN/MAX are not compensable (a dead extremum cannot be
      // retracted by a signed fold): stale view must NOT answer
      assert(!scansView(srcDf(srcRoot).groupBy("g")
        .agg(min("m").as("mn")), viewRoot))
      // neither are DISTINCT translations (sub-group death)
      assert(!scansView(srcDf(srcRoot).groupBy("g")
        .agg(countDistinct("g2").as("d")), viewRoot))
      // staleness bound: below the lag, fall back to the source scan
      spark.conf.set(MvRewriteRule.MaxStalenessKey, "1")
      try assert(!scansView(q(), viewRoot),
        "staleBy=2 must not fire under maxStaleness=1")
      finally spark.conf.unset(MvRewriteRule.MaxStalenessKey)
      // 0 disables stale compensation outright
      spark.conf.set(MvRewriteRule.MaxStalenessKey, "0")
      try assert(!scansView(q(), viewRoot))
      finally spark.conf.unset(MvRewriteRule.MaxStalenessKey)
      // refresh re-arms the EXACT rewrite at the new head (min/max
      // answer again)
      MaterializedAggView.openFromDef(spark, viewRoot).refresh()
      MvRewriteRule.invalidateCache()
      assert(scansView(
        srcDf(srcRoot).groupBy("g").agg(min("m").as("mn")), viewRoot))
    }
  }

  test("stale compensation: emptied table reads count 0 / sum NULL; " +
      "filtered views compensate through their WHERE") {
    // empty-out case: every row deleted after the refresh
    val srcRoot = Files.createTempDirectory("graft_mvrw_st0_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_st0v_").toUri.toString
    val df = spark.createDataFrame(Seq((1L, "a", 10L), (2L, "b", 20L)))
      .toDF("obj_id", "g", "v")
    val src = VersionedTable.create(spark, srcRoot, df.schema)
    val t = src.begin(); t.insert(df); src.commit(t)
    MaterializedAggView.create(spark, viewRoot, src,
      groupCols = Seq("g"), sumCols = Seq("v")).refresh()
    val t2 = src.begin()
    t2.deleteMatching(src.read().select("obj_id"))
    src.commit(t2)
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      val g = srcDf(srcRoot).agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
      assert(scansView(g, viewRoot))
      val row = g.collect().head
      assert(row.getLong(0) == 0L, "emptied table must count 0")
      assert(row.isNullAt(1), "emptied table must sum NULL")
      // grouped: every group dead -> zero rows
      val q = srcDf(srcRoot).groupBy("g").agg(count(lit(1)).as("cnt"))
      assert(scansView(q, viewRoot))
      assert(q.collect().isEmpty)
    }

    // filtered view: the delta must flow through the view's WHERE
    val fRoot = Files.createTempDirectory("graft_mvrw_stf_").toUri.toString
    val fvRoot = Files.createTempDirectory("graft_mvrw_stfv_").toUri.toString
    val fdf = spark.createDataFrame(Seq(
      (1L, "a", 5L), (2L, "a", 15L), (3L, "b", 25L)))
      .toDF("obj_id", "g", "v")
    val fsrc = VersionedTable.create(spark, fRoot, fdf.schema)
    val ft = fsrc.begin(); ft.insert(fdf); fsrc.commit(ft)
    MaterializedAggView.create(spark, fvRoot, fsrc,
      groupCols = Seq("g"), sumCols = Seq("v"),
      where = Some("v >= 10")).refresh()
    // post-refresh churn on BOTH sides of the predicate: only the
    // v >= 10 row may reach the compensated answer
    val ft2 = fsrc.begin()
    ft2.insert(spark.createDataFrame(Seq((4L, "c", 7L), (5L, "c", 12L)))
      .toDF("obj_id", "g", "v"))
    fsrc.commit(ft2)
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      def q(): DataFrame = srcDf(fRoot).filter(col("v") >= 10)
        .groupBy("g").agg(count(lit(1)).as("cnt"), sum("v").as("sv"))
        .orderBy("g")
      val expected = withRewrite(on = false)(q().collect().toSeq)
      assert(scansView(q(), fvRoot), "filtered stale compensation must fire")
      assert(q().collect().toSeq == expected)
      assert(q().collect().map(r => (r.getString(0), r.getLong(2))).toSeq ==
        Seq(("a", 15L), ("b", 25L), ("c", 12L)))
    }
  }

  test("filtered views match their WHERE; residual group filters survive") {
    val srcRoot = Files.createTempDirectory("graft_mvrw_fsrc_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_fview_").toUri.toString
    val df = spark.createDataFrame(Seq(
      (1L, "a", 5L), (2L, "a", 15L), (3L, "b", 25L), (4L, "b", 8L)))
      .toDF("obj_id", "g", "v")
    val src = VersionedTable.create(spark, srcRoot, df.schema)
    val t = src.begin(); t.insert(df); src.commit(t)
    MaterializedAggView.create(spark, viewRoot, src,
      groupCols = Seq("g"), sumCols = Seq("v"),
      where = Some("v >= 10")).refresh()
    MvRewriteRule.invalidateCache()
    def q(): DataFrame = srcDf(srcRoot).filter(col("v") >= 10)
      .groupBy("g").agg(sum("v").as("sv")).orderBy("g")
    def qResidual(): DataFrame = srcDf(srcRoot)
      .filter(col("v") >= 10 && col("g") === "a")
      .groupBy("g").agg(count(lit(1)).as("cnt"))
    val expected = withRewrite(on = false)(q().collect().toSeq)
    val expectedR = withRewrite(on = false)(qResidual().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot))
      assert(q().collect().toSeq == expected)
      assert(scansView(qResidual(), viewRoot))
      assert(qResidual().collect().toSeq == expectedR)
      // missing the view's WHERE must NOT rewrite (the view lacks rows)
      val bare = srcDf(srcRoot).groupBy("g").agg(sum("v").as("sv"))
      assert(!scansView(bare, viewRoot))
      assert(bare.orderBy("g").collect().map(_.getLong(1)).toSeq ==
        Seq(20L, 33L))
      // a filter on a NON-group, non-WHERE column must not rewrite
      val off = srcDf(srcRoot).filter(col("v") >= 11)
        .groupBy("g").agg(sum("v").as("sv"))
      assert(!scansView(off, viewRoot))
    }
  }

  test("untranslatable aggregates and distinct fall back to the source") {
    val (_, srcRoot, viewRoot) = fixture()
    withRewrite(on = true) {
      // sum over a column the view does not maintain
      assert(!scansView(
        srcDf(srcRoot).groupBy("g").agg(sum("m").as("sm")), viewRoot))
      // distinct aggregates over NON-group columns are not derivable
      // (the view collapsed their multiplicity AND their values)
      assert(!scansView(
        srcDf(srcRoot).groupBy("g").agg(countDistinct("v")), viewRoot))
      // max over a sum-only column
      assert(!scansView(
        srcDf(srcRoot).groupBy("g").agg(max("v")), viewRoot))
    }
  }

  test("count(DISTINCT g) over group columns re-aggregates the view") {
    val (_, srcRoot, viewRoot) = fixture()
    def q(): DataFrame = srcDf(srcRoot).groupBy("g")
      .agg(countDistinct("g2").as("dg2"), count(lit(1)).as("cnt"))
      .orderBy(col("g").asc_nulls_first)
    def qGlobal(): DataFrame = srcDf(srcRoot)
      .agg(countDistinct("g", "g2").as("dgg2"))
    val expected = withRewrite(on = false)(q().collect().toSeq)
    val expectedG = withRewrite(on = false)(qGlobal().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot), "count-distinct rewrite did not fire")
      assert(q().collect().toSeq == expected)
      assert(scansView(qGlobal(), viewRoot))
      assert(qGlobal().collect().toSeq == expectedG)
    }
  }

  test("star view answers aggregates over the matching join graph") {
    val factRoot = Files.createTempDirectory("graft_mvrw_f_").toUri.toString
    val custRoot = Files.createTempDirectory("graft_mvrw_d1_").toUri.toString
    val prodRoot = Files.createTempDirectory("graft_mvrw_d2_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_sv_").toUri.toString
    val factDf = spark.createDataFrame(Seq(
      (100L, 1L, 10L, 5L), (101L, 1L, 11L, 7L), (102L, 2L, 10L, 11L),
      (103L, 2L, 11L, 3L)))
      .toDF("obj_id", "cust", "prod", "amount")
    val custDf = spark.createDataFrame(Seq((1L, "east"), (2L, "west")))
      .toDF("obj_id", "region")
    val prodDf = spark.createDataFrame(Seq((10L, "toys"), (11L, "tools")))
      .toDF("obj_id", "category")
    def mk(root: String, df: org.apache.spark.sql.DataFrame): Instance = {
      val i = VersionedTable.create(spark, root, df.schema)
      val t = i.begin(); t.insert(df); i.commit(t); i
    }
    val fact = mk(factRoot, factDf)
    val cust = mk(custRoot, custDf)
    val prod = mk(prodRoot, prodDf)
    val mv = MaterializedAggView.create(spark, viewRoot, fact,
      groupCols = Seq("region", "category"), sumCols = Seq("amount"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(cust, "cust", "obj_id"),
        MaterializedAggView.DimJoin(prod, "prod", "obj_id")))
    mv.refresh()
    MvRewriteRule.invalidateCache()
    def f() = srcDf(factRoot)
    def c() = srcDf(custRoot)
    def p() = srcDf(prodRoot)
    def q(): DataFrame = {
      val fd = f(); val cd = c(); val pd = p()
      fd.join(cd, fd("cust") === cd("obj_id"))
        .join(pd, fd("prod") === pd("obj_id"))
        .groupBy("region", "category")
        .agg(count(lit(1)).as("cnt"), sum("amount").as("sa"),
          avg("amount").as("aa"))
        .orderBy("region", "category")
    }
    def qRollup(): DataFrame = {
      val fd = f(); val cd = c(); val pd = p()
      fd.join(cd, fd("cust") === cd("obj_id"))
        .join(pd, fd("prod") === pd("obj_id"))
        .groupBy("region").agg(sum("amount").as("sa")).orderBy("region")
    }
    val expected = withRewrite(on = false)(q().collect().toSeq)
    val expectedR = withRewrite(on = false)(qRollup().collect().toSeq)
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot), "star rewrite did not fire")
      assert(q().collect().toSeq == expected)
      assert(scansView(qRollup(), viewRoot))
      assert(qRollup().collect().toSeq == expectedR)
      // a PARTIAL join graph (missing one dim) must not rewrite: the
      // view's rows are restricted by the missing dim's inner join
      val fd = f(); val cd = c()
      val partial = fd.join(cd, fd("cust") === cd("obj_id"))
        .groupBy("region").agg(sum("amount").as("sa"))
      assert(!scansView(partial, viewRoot))
      // a non-key filter on an unmaintained column must not rewrite
      val fd2 = f(); val cd2 = c(); val pd2 = p()
      val filtered = fd2.join(cd2, fd2("cust") === cd2("obj_id"))
        .join(pd2, fd2("prod") === pd2("obj_id"))
        .filter(col("amount") > 4)
        .groupBy("region").agg(sum("amount").as("sa"))
      assert(!scansView(filtered, viewRoot))
    }
    // DIM churn staleness: moving a customer makes the view stale on
    // that dimension alone — the rewrite still fires, compensated
    // read-side with the inclusion–exclusion delta (ΔD ⨝ F_pinned),
    // and stays answer-identical through the group move
    val t = cust.begin()
    t.merge(spark.createDataFrame(Seq((1L, "west"))).toDF("obj_id", "nr"),
      matchedUpdate = Map("region" -> col("s.nr")), insertUnmatched = false)
    cust.commit(t)
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      val expectedStale = withRewrite(on = false)(q().collect().toSeq)
      assert(scansView(q(), viewRoot),
        "stale dim must compensate, not disable")
      assert(q().queryExecution.optimizedPlan.treeString.contains("Union"),
        "dim-stale rewrite fired without the compensation union")
      assert(q().collect().toSeq == expectedStale)
      // with staleness disabled the pre-r13 behavior returns
      spark.conf.set(MvRewriteRule.MaxStalenessKey, "0")
      try assert(!scansView(q(), viewRoot))
      finally spark.conf.unset(MvRewriteRule.MaxStalenessKey)
      mv.refresh()
      MvRewriteRule.invalidateCache()
      assert(scansView(q(), viewRoot))
      assert(q().queryExecution.optimizedPlan.treeString
        .indexOf("Union") < 0, "refreshed view must rewrite exactly")
      assert(q().collect().toSeq ==
        withRewrite(on = false)(q().collect().toSeq))
    }
  }

  test("stale star view: read-side inclusion–exclusion over changed " +
      "relations; width cap and fresher-dim refusals") {
    val factRoot = Files.createTempDirectory("graft_mvst_f_").toUri.toString
    val custRoot = Files.createTempDirectory("graft_mvst_d1_").toUri.toString
    val prodRoot = Files.createTempDirectory("graft_mvst_d2_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvst_sv_").toUri.toString
    def mk(root: String, df: DataFrame): Instance = {
      val i = VersionedTable.create(spark, root, df.schema)
      val t = i.begin(); t.insert(df); i.commit(t); i
    }
    val fact = mk(factRoot, spark.createDataFrame(Seq(
      (100L, 1L, 10L, 5L), (101L, 1L, 11L, 7L), (102L, 2L, 10L, 11L)))
      .toDF("obj_id", "cust", "prod", "amount"))
    val cust = mk(custRoot, spark.createDataFrame(Seq((1L, "east"), (2L, "west")))
      .toDF("obj_id", "region"))
    val prod = mk(prodRoot, spark.createDataFrame(Seq((10L, "toys"), (11L, "tools")))
      .toDF("obj_id", "category"))
    val mv = MaterializedAggView.create(spark, viewRoot, fact,
      groupCols = Seq("region", "category"), sumCols = Seq("amount"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(cust, "cust", "obj_id"),
        MaterializedAggView.DimJoin(prod, "prod", "obj_id")))
    mv.refresh()
    def q(): DataFrame = {
      val fd = srcDf(factRoot); val cd = srcDf(custRoot)
      val pd = srcDf(prodRoot)
      fd.join(cd, fd("cust") === cd("obj_id"))
        .join(pd, fd("prod") === pd("obj_id"))
        .groupBy("region", "category")
        .agg(count(lit(1)).as("cnt"), sum("amount").as("sa"),
          avg("amount").as("aa"))
        .orderBy("region", "category")
    }
    def assertCompensated(): Unit = {
      MvRewriteRule.invalidateCache()
      withRewrite(on = true) {
        val expected = withRewrite(on = false)(q().collect().toSeq)
        assert(scansView(q(), viewRoot), "stale star rewrite did not fire")
        assert(q().queryExecution.optimizedPlan.treeString.contains("Union"),
          "stale star rewrite fired without the compensation union")
        assert(q().collect().toSeq == expected)
      }
    }
    // FACT stale alone: delete one row + insert another (one commit)
    fact.withRetry() { t =>
      t.delete(Seq(101L))
      t.insert(spark.createDataFrame(Seq((103L, 2L, 11L, 3L)))
        .toDF("obj_id", "cust", "prod", "amount"))
    }
    assertCompensated()
    // FACT + ONE dim stale (2 changed sides, 3 union terms): a dim
    // group move re-aggregates every matching fact row read-side
    cust.withRetry() { t =>
      t.merge(spark.createDataFrame(Seq((1L, "west"))).toDF("obj_id", "nr"),
        matchedUpdate = Map("region" -> col("s.nr")), insertUnmatched = false)
    }
    assertCompensated()
    // FACT + BOTH dims stale (3 changed sides): past the read-side
    // width cap — fall back to the source join, still correct
    prod.withRetry() { t =>
      t.merge(spark.createDataFrame(Seq((10L, "games"))).toDF("obj_id", "nc"),
        matchedUpdate = Map("category" -> col("s.nc")), insertUnmatched = false)
    }
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      assert(!scansView(q(), viewRoot),
        "3 changed relations must not rewrite read-side")
    }
    // refresh absorbs everything; dim pinned BEFORE the view's dim
    // watermark (time travel) is fresher-than-query: unanswerable
    mv.refresh()
    MvRewriteRule.invalidateCache()
    withRewrite(on = true) {
      assert(scansView(q(), viewRoot))
      assert(q().collect().toSeq ==
        withRewrite(on = false)(q().collect().toSeq))
      val fd = srcDf(factRoot)
      val cdOld = spark.read.format("graft").option("path", custRoot)
        .option("versionAsOf", 1).load()
      val pd = srcDf(prodRoot)
      val tt = fd.join(cdOld, fd("cust") === cdOld("obj_id"))
        .join(pd, fd("prod") === pd("obj_id"))
        .groupBy("region", "category").agg(sum("amount").as("sa"))
      assert(!scansView(tt, viewRoot),
        "a dim pinned before the view's watermark must not rewrite")
    }
  }

  test("sketch estimates answer from the view under the second opt-in; " +
      "group-column approx stays exact without it") {
    val srcRoot = Files.createTempDirectory("graft_mvrw_nsrc_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvrw_nview_").toUri.toString
    // 2 groups × 8 subgroups, ~6000 distinct values per group — far
    // beyond the sketch's exact coupon regime, so the equalities below
    // pin STATE-identity (union of the view's per-subgroup sketches ==
    // one direct sketch over the raw rows), not small-count exactness.
    // Columns are kept NULLABLE (otherwise-less CASE WHEN): the view
    // stores nullable group columns, and the rewrite's output contract
    // refuses to widen a non-nullable source output
    val nullably = (c: org.apache.spark.sql.Column) => when(lit(true), c)
    val df = spark.range(16000).select(
      col("id").as("obj_id"),
      when(col("id") % 2 === 0, "a").when(col("id") % 2 === 1, "b").as("g"),
      nullably(col("id") % 8).as("g2"),
      nullably(col("id") * 2654435761L % 6000).as("v"))
    val src = VersionedTable.create(spark, srcRoot, df.schema)
    val t = src.begin(); t.insert(df); src.commit(t)
    MaterializedAggView.create(spark, viewRoot, src,
      groupCols = Seq("g", "g2"), sumCols = Nil,
      ndvCols = Seq("v")).refresh()
    MvRewriteRule.invalidateCache()
    def q(): DataFrame = srcDf(srcRoot).groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"))).as("ndv"))
      .orderBy("g")
    def qGlobal(): DataFrame = srcDf(srcRoot)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 12)).as("ndv"))
    // sketches of a GROUP column re-sketch the view at any lgK
    def qGroupCol(): DataFrame = srcDf(srcRoot).groupBy("g")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("g2"), 10)).as("ndv"))
      .orderBy("g")
    val exact = srcDf(srcRoot).groupBy("g")
      .agg(countDistinct("v").as("x")).orderBy("g")
      .collect().map(_.getLong(1))
    val exactAll = srcDf(srcRoot).agg(countDistinct("v")).head.getLong(0)
    // 5 sigma at the stored lgK 12 (rsd 1.6%)
    def inBand(est: Long, ex: Long): Unit =
      assert(math.abs(est - ex).toDouble / ex < 0.09,
        s"substituted estimate $est too far from exact $ex")
    withRewrite(on = true) {
      // sketch estimates are in-band but NOT bit-identical (merge
      // structure moves DataSketches estimates — HIP vs composite),
      // so the base flag alone must leave them untouched
      assert(!scansView(q(), viewRoot),
        "sketch estimate must not rewrite without ndvSubstitute")
      spark.conf.set(MvRewriteRule.NdvSubstituteKey, "true")
      try {
        assert(scansView(q(), viewRoot), "ndv estimate rewrite did not fire")
        q().collect().map(_.getLong(1)).zip(exact).foreach {
          case (est, ex) => inBand(est, ex) }
        assert(scansView(qGlobal(), viewRoot))
        inBand(qGlobal().head.getLong(0), exactAll)
        assert(scansView(qGroupCol(), viewRoot))
        // 4 distinct subgroup ids per parity group (even ids hit
        // {0,2,4,6}, odd {1,3,5,7}): far inside lgK 10's exact regime
        assert(qGroupCol().collect().map(_.getLong(1)).toSeq == Seq(4L, 4L))
        // an ndv sketch at a DIFFERENT lgK changes the rsd: no rewrite
        assert(!scansView(srcDf(srcRoot).groupBy("g")
          .agg(hll_sketch_estimate(hll_sketch_agg(col("v"), 10)).as("n")),
          viewRoot))
        // the raw sketch BINARY is never substituted
        assert(!scansView(srcDf(srcRoot).groupBy("g")
          .agg(hll_sketch_agg(col("v")).as("sk")), viewRoot))

        // approx_count_distinct over an ndv column: same flag
        def acd(): DataFrame = srcDf(srcRoot).groupBy("g")
          .agg(approx_count_distinct("v").as("ndv")).orderBy("g")
        assert(scansView(acd(), viewRoot))
        acd().collect().map(_.getLong(1)).zip(exact).foreach {
          case (est, ex) => inBand(est, ex) }
        // a REQUESTED rsd tighter than the stored sketches': no rewrite
        assert(!scansView(srcDf(srcRoot).groupBy("g")
          .agg(approx_count_distinct(col("v"), 0.01).as("n")), viewRoot))
      } finally spark.conf.unset(MvRewriteRule.NdvSubstituteKey)

      // approx_count_distinct over a GROUP column is a pure register
      // max of the preserved distinct set: exactly the direct plan's
      // value, so it rewrites WITHOUT the second opt-in
      def acdG(): DataFrame = srcDf(srcRoot).groupBy("g")
        .agg(approx_count_distinct("g2").as("n")).orderBy("g")
      val expectedA = withRewrite(on = false)(acdG().collect().toSeq)
      assert(scansView(acdG(), viewRoot))
      assert(acdG().collect().toSeq == expectedA)
      // ... and over an NDV column without the flag: no rewrite
      assert(!scansView(srcDf(srcRoot).groupBy("g")
        .agg(approx_count_distinct("v").as("n")), viewRoot))
    }
  }

  test("SQL catalog front door: GROUP BY over gcat reads the view") {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"grw$tag"
    val wh = Files.createTempDirectory("graft_wh_mvrw_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    spark.sql(s"CREATE TABLE $cat.ns.t (obj_id BIGINT, g STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1,'a',10),(2,'a',20),(3,'b',5)")
    spark.sql(s"CALL $cat.system.create_mv('ns.tv', source => 'ns.t', " +
      "group_by => 'g', sums => 'v')")
    spark.sql(s"CALL $cat.system.refresh_mv('ns.tv')")
    MvRewriteRule.invalidateCache()
    val viewRoot = s"$wh/ns/tv"
    withRewrite(on = true) {
      val q = spark.sql(
        s"SELECT g, sum(v) AS sv FROM $cat.ns.t GROUP BY g ORDER BY g")
      assert(scansView(q, viewRoot))
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("a", 30L), ("b", 5L)))
    }
  }

  test("planning a stale-compensated star query starts no Spark job") {
    val factRoot = Files.createTempDirectory("graft_mvjf_f_").toUri.toString
    val custRoot = Files.createTempDirectory("graft_mvjf_d_").toUri.toString
    val viewRoot = Files.createTempDirectory("graft_mvjf_v_").toUri.toString
    def mk(root: String, df: DataFrame): Instance = {
      val i = VersionedTable.create(spark, root, df.schema)
      i.withRetry() { t => t.insert(df) }; i
    }
    val fact = mk(factRoot, spark.createDataFrame(Seq(
      (100L, 1L, 5L), (101L, 1L, 7L), (102L, 2L, 11L)))
      .toDF("obj_id", "cust", "amount"))
    val cust = mk(custRoot, spark.createDataFrame(Seq((1L, "east"),
      (2L, "west"))).toDF("obj_id", "region"))
    val mv = MaterializedAggView.create(spark, viewRoot, fact,
      groupCols = Seq("region"), sumCols = Seq("amount"),
      dimJoins = Seq(MaterializedAggView.DimJoin(cust, "cust", "obj_id")))
    mv.refresh()
    // the fact AND the dim move past the view's watermarks
    fact.withRetry() { t =>
      t.delete(Seq(101L))
      t.insert(spark.createDataFrame(Seq((103L, 2L, 3L)))
        .toDF("obj_id", "cust", "amount"))
    }
    cust.withRetry() { t =>
      t.merge(spark.createDataFrame(Seq((1L, "west"))).toDF("obj_id", "nr"),
        matchedUpdate = Map("region" -> col("s.nr")), insertUnmatched = false)
    }
    def q(): DataFrame = {
      val fd = srcDf(factRoot); val cd = srcDf(custRoot)
      fd.join(cd, fd("cust") === cd("obj_id")).groupBy("region")
        .agg(count(lit(1)).as("cnt"), sum("amount").as("sa"))
        .orderBy("region")
    }
    val expected = withRewrite(on = false)(q().collect().toSeq)
    MvRewriteRule.invalidateCache()
    // a bound past the delta's batching threshold (32): the clamp, not
    // the knob, keeps the compensation a lazy plan
    spark.conf.set(MvRewriteRule.MaxStalenessKey, "64")
    try withRewrite(on = true) {
      val df = q()
      val (plan, jobs) = GraftTestBus.jobsDuring(spark.sparkContext)(
        df.queryExecution.optimizedPlan.treeString)
      assert(plan.contains(canon(viewRoot)) && plan.contains("Union"),
        s"stale star rewrite did not fire with its compensation:\n$plan")
      assert(jobs == 0, s"planning started $jobs Spark jobs")
      assert(df.collect().toSeq == expected)
    } finally spark.conf.unset(MvRewriteRule.MaxStalenessKey)
  }
}
