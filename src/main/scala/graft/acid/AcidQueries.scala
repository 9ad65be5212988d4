package graft.acid

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Q

/** Q30: transactional scenario exercising the capability-parity layer
  * end-to-end (mirrors the reference's lifecycle test,
  * instance.rs:599-762): create → insert+commit → update+commit →
  * delete+commit → rollback invisibility → reopen durability.
  * Deterministic output; no SQL oracle (driver rows-only check) —
  * exact assertions live in AcidSpec. */
object AcidQueries {

  val schema: StructType = StructType(Seq(
    StructField("obj_id", LongType, nullable = false),
    StructField("value", LongType, nullable = false)))

  /** Runs the scenario in a fresh temp dir; returns the final table. */
  def scenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acid_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)

    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t1)

    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t2)

    val t3 = inst.begin()
    t3.delete(Seq(3L))
    inst.commit(t3)

    // rolled-back insert must stay invisible
    val t4 = inst.begin()
    t4.insert(Seq((99L, 999L)).toDF("obj_id", "value"))
    inst.rollback(t4)

    // reopen = recovery path: replay manifests from checkpoint
    VersionedTable.open(spark, dir).read().orderBy("obj_id")
  }

  /** Change-data-feed scenario: the same insert→update→delete history,
    * read back as a row-level change feed (WAL-tailing analog,
    * log_mgr/io.rs:354-373). Deterministic; exact assertions in
    * AcidSpec ("change feed: ..."). */
  def changeFeedScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acid_cdf_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("obj_id", "value"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    inst.commit(t2)
    val t3 = inst.begin()
    t3.delete(Seq(3L))
    inst.commit(t3)
    inst.compact() // layout-only commit: must contribute nothing
    inst.changes(0, inst.latestVersion)
      .orderBy("_version", "_change", "obj_id")
  }

  /** Cross-table atomic transaction scenario (reference: one txn spans
    * every object in the datastore, instance.rs:88-111): seed two
    * tables, commit one multi-table insert pair atomically, then drive
    * a SECOND multi-commit into a mid-sequence conflict — whichever
    * table's pointer published first must resolve ABORTED, leaving
    * both tables exactly as the first multi left them. Deterministic
    * final state either way the roots sort. */
  def multiTableScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val a = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mt_a_").toUri.toString, schema)
    val b = VersionedTable.create(spark,
      Files.createTempDirectory("graft_mt_b_").toUri.toString, schema)
    val logDir = Files.createTempDirectory("graft_mt_log_").toUri.toString
    val s1 = a.begin(); s1.insert(Seq((1L, 10L)).toDF("obj_id", "value"))
    a.commit(s1)
    val s2 = b.begin(); s2.insert(Seq((100L, 1000L)).toDF("obj_id", "value"))
    b.commit(s2)
    // the atomic pair
    val ta = a.begin(); ta.insert(Seq((2L, 20L)).toDF("obj_id", "value"))
    val tb = b.begin(); tb.insert(Seq((200L, 2000L)).toDF("obj_id", "value"))
    MultiCommit.commitAll(logDir, Seq((a, ta), (b, tb)))
    // the failing pair: a value-preserving rewrite of B's id 200 steals
    // the object between begin and commit, so the multi conflicts —
    // and its A-side insert of (3,30) must vanish with it
    val ua = a.begin(); ua.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    val ub = b.begin(); ub.delete(Seq(200L))
    val steal = b.begin()
    steal.update(Seq(200L), df => df.withColumn("value", col("value") + 0))
    b.commit(steal)
    try {
      MultiCommit.commitAll(logDir, Seq((a, ua), (b, ub)))
      throw new IllegalStateException("second multi-commit must conflict")
    } catch { case _: ConflictException => () }
    // cold reopen of BOTH tables: recovery resolves the dead pointer
    val colds = Seq("a" -> a.root, "b" -> b.root).map { case (tag, root) =>
      VersionedTable.open(spark, root).read().withColumn("tbl", lit(tag))
    }
    colds.reduce(_.unionByName(_))
      .select("tbl", "obj_id", "value").orderBy("tbl", "obj_id")
  }

  val defs: Seq[(String, Q)] = Seq(
    // the scenario's final state is a hand-computable constant, so the
    // oracle is a literal VALUES table — the full lifecycle (insert,
    // update, delete, rollback, reopen) is hash-gated, not rows-only
    "q30_acid_scenario" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES (1, 10), (2, 200)) AS t(obj_id, value) " +
      "ORDER BY obj_id")((s, _) => scenario(s)),

    // same for the change feed: 3 inserts, one update pre+post pair,
    // one delete, and the compaction commit contributes NOTHING
    "q43_acid_changes" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value, " +
      "CAST(_version AS BIGINT) AS _version, _change " +
      "FROM (VALUES " +
      "(1, 10, 1, 'insert'), (2, 20, 1, 'insert'), (3, 30, 1, 'insert'), " +
      "(2, 20, 2, 'update_preimage'), (2, 200, 2, 'update_postimage'), " +
      "(3, 30, 3, 'delete')) AS t(obj_id, value, _version, _change) " +
      "ORDER BY _version, _change, obj_id")((s, _) => changeFeedScenario(s)),

    // hive-partitioned ACID roundtrip: documents land in a versioned
    // table partitioned by lang; the partition-filtered read must
    // reproduce the source aggregate exactly (and the lang!='en'
    // groups' files are pruned from the plan — AcidSpec asserts the
    // single surviving scan)
    "q46_acid_partitioned" -> Q(
      "SELECT lang, COUNT(*) AS c, CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang IN ('en', 'de') " +
      "GROUP BY lang ORDER BY lang") {
      (s, dir) =>
        import org.apache.spark.sql.functions._
        val docs = graft.Engine.table(s, dir, "documents")
          .select(col("doc_id").as("obj_id"), col("lang"), col("n_chars"))
        val tmp = Files.createTempDirectory("graft_acid_part_").toUri.toString
        val inst = VersionedTable.create(s, tmp, docs.schema)
        val t = inst.begin()
        t.insertPartitioned(docs, Seq("lang"))
        inst.commit(t)
        inst.read().filter(col("lang").isin("en", "de"))
          .groupBy("lang")
          .agg(count(lit(1)).as("c"), sum("n_chars").as("chars"))
          .orderBy("lang")
    },

    // WIDE partition fanout through the driver oracle: (lang, source)
    // is ~100 distinct tuples, all read by one scan that prunes files
    // by their partition paths — and the partition-filtered aggregate
    // must still match DuckDB exactly
    "q46_acid_fanout" -> Q(
      "SELECT source, COUNT(*) AS c, CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang = 'en' " +
      "GROUP BY source ORDER BY source") {
      (s, dir) =>
        import org.apache.spark.sql.functions._
        val docs = graft.Engine.table(s, dir, "documents")
          .select(col("doc_id").as("obj_id"), col("lang"), col("source"),
            col("n_chars"))
        val tmp = Files.createTempDirectory("graft_acid_fanout_").toUri.toString
        val inst = VersionedTable.create(s, tmp, docs.schema)
        val t = inst.begin()
        // cluster rows by partition tuple BEFORE the partitioned write:
        // without it every task fans across all ~100 tuples and the
        // stage emits tasks x tuples tiny files (the standard
        // repartition-before-partitionBy discipline)
        t.insertPartitioned(docs.repartition(col("lang"), col("source")),
          Seq("lang", "source"))
        inst.commit(t)
        inst.read().filter(col("lang") === "en")
          .groupBy("source")
          .agg(count(lit(1)).as("c"), sum("n_chars").as("chars"))
          .orderBy("source")
    },

    // conditional three-clause MERGE: one statement exercises delete-
    // where, update-where (with a row that matches but fails the
    // condition and must keep its pre-image), and insert-unmatched —
    // the final state is a hand-computable constant, so the whole
    // clause-precedence contract is hash-gated
    "q48_acid_merge" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES (1, 10), (2, 20), (4, 140), (5, 50)) " +
      "AS t(obj_id, value) ORDER BY obj_id")((s, _) => mergeScenario(s)),

    // the batch DSv2 front door (format("graft")): fixture documents
    // committed in two versions (en then de), read back through the
    // data-source path at head AND via versionAsOf time travel — the
    // aggregate over each snapshot is recomputable by DuckDB from the
    // fixture alone, so version pinning, the vectorized reader, and
    // the time-travel file set are all hash-gated
    "q51_dsv2_read" -> Q(
      "SELECT 'head' AS snap, COUNT(*) AS c, " +
      "CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang IN ('en', 'de') " +
      "UNION ALL " +
      "SELECT 'v1' AS snap, COUNT(*) AS c, " +
      "CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang = 'en' " +
      "ORDER BY snap")((s, dir) => dsv2Scenario(s, dir)),

    // universal data skipping (automatic per-file footer stats): the
    // fixture re-aggregated through format("graft") under filters on
    // never-clustered string/long columns; the scenario itself
    // REQUIRES the scan pruned files, so both the skipping and its
    // soundness (identical answers to DuckDB over the raw fixture)
    // are hash-gated
    "q56_stats_skipping" -> Q(
      "SELECT 'eq' AS leg, COUNT(*) AS c, " +
      "CAST(SUM(user_id) AS BIGINT) AS su " +
      "FROM events WHERE event_type = 'purchase' " +
      "UNION ALL " +
      "SELECT 'in' AS leg, COUNT(*) AS c, " +
      "CAST(SUM(user_id) AS BIGINT) AS su " +
      "FROM events WHERE event_type IN ('click', 'view') AND user_id < 50 " +
      "ORDER BY leg")((s, dir) => statsSkipScenario(s, dir)),

    // cross-table atomicity: one committed multi-table pair plus one
    // mid-sequence-conflicted pair whose published pointer must
    // resolve aborted — the union of both tables' final contents is a
    // hand-computable constant, so pointer publication, the decision
    // claim, abort neutering, and cold-reopen recovery are hash-gated
    "q57_multi_table_txn" -> Q(
      "SELECT tbl, CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES ('a', 1, 10), ('a', 2, 20), " +
      "('b', 100, 1000), ('b', 200, 2000)) AS t(tbl, obj_id, value) " +
      "ORDER BY tbl, obj_id")((s, _) => multiTableScenario(s)),

    // the SQL catalog front door: CTAS from the fixture, INSERT,
    // point DELETE, and VERSION AS OF — every statement pure SQL
    // through a GraftCatalog, every aggregate recomputable by DuckDB
    // from the fixture alone
    "q52_sql_catalog" -> Q(
      "SELECT 'head' AS snap, COUNT(*) AS c, " +
      "CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang IN ('en', 'de') " +
      "AND doc_id <> (SELECT MIN(doc_id) FROM documents WHERE lang = 'en') " +
      "UNION ALL " +
      "SELECT 'v1' AS snap, COUNT(*) AS c, " +
      "CAST(SUM(n_chars) AS BIGINT) AS chars " +
      "FROM documents WHERE lang = 'en' " +
      "ORDER BY snap")((s, dir) => sqlCatalogScenario(s, dir)),

    // the streaming change feed (DSv2 source over the commit log):
    // three insert commits + one silent compaction drained with
    // Trigger.AvailableNow — delivered rows and their versions are a
    // hand-computable constant, so offset planning, the executor-side
    // parquet read, and layout-commit suppression are all hash-gated
    "q50_cdf_stream" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value, " +
      "CAST(_version AS BIGINT) AS _version " +
      "FROM (VALUES (1, 10, 1), (2, 20, 2), (3, 30, 3)) " +
      "AS t(obj_id, value, _version) ORDER BY obj_id")(
      (s, _) => cdfStreamScenario(s)),

    // SQL row-level operations through the catalog (group-based CoW,
    // SupportsRowLevelOperations): UPDATE, three-clause MERGE INTO,
    // and an arbitrary-predicate DELETE — the final state is a
    // hand-computable constant, so the whole rewrite pipeline (scan
    // pruning, whole-file groups, executor-side parquet staging,
    // single-txn retire+land commit) is hash-gated
    "q53_sql_rowlevel" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES (1, 10), (2, 21), (5, 50)) AS t(obj_id, value) " +
      "ORDER BY obj_id")((s, _) => sqlRowLevelScenario(s)),

    // native streaming sink (writeStream.format("graft")): two drained
    // epochs = two exactly-once ACID commits, then a REPLAY of the
    // last epoch that must land nothing — final state is a constant,
    // so epoch staging, watermark publication, and replay suppression
    // are all hash-gated
    "q54_stream_write" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES (1, 10), (2, 20), (3, 30)) AS t(obj_id, value) " +
      "ORDER BY obj_id")((s, _) => streamWriteScenario(s)),

    // merge-on-read deletion vectors: a point delete masks rows via a
    // small sidecar (no file rewrite), a re-inserted id is NOT masked
    // (per-file vectors), and compaction materializes the masks away —
    // the whole lifecycle lands on a hand-computable constant
    "q55_mor_delete" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES (1, 10), (2, 200), (4, 40)) AS t(obj_id, value) " +
      "ORDER BY obj_id")((s, _) => morDeleteScenario(s)),

    // column mapping: metadata-only RENAME COLUMN (physical file names
    // fixed) + INT->LONG widening (old narrow files promote at scan
    // time), post-rename point delete pruning through the translated
    // stats index, head read through the DSv2 front door with a filter
    // on the renamed+widened column, and time travel to the pre-rename
    // version under its original name — all on a hand-computable
    // constant
    "q58_column_mapping" -> Q(
      "SELECT snap, CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(amount AS BIGINT) AS amount " +
      "FROM (VALUES ('head', 1, 10), ('head', 3, 30), " +
      "('head', 4, 5000000000), ('v1', 1, 10), ('v1', 2, 20), " +
      "('v1', 3, 30)) AS t(snap, obj_id, amount) " +
      "ORDER BY snap, obj_id")((s, _) => columnMappingScenario(s)),

    // typed change feed (readChangeFeed): insert commits stream as
    // `insert` events and a merge-on-read delete commit streams its
    // newly-masked rows as `delete` events — one AvailableNow drain,
    // hand-computable constant, so mask-delta planning, the keep-
    // filtered executor read, and event tagging are all hash-gated
    "q59_cdf_delete_feed" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value, " +
      "CAST(_version AS BIGINT) AS _version, _change_type " +
      "FROM (VALUES (1, 10, 1, 'insert'), (2, 20, 2, 'insert'), " +
      "(3, 30, 3, 'insert'), (2, 20, 4, 'delete')) " +
      "AS t(obj_id, value, _version, _change_type) " +
      "ORDER BY _version, obj_id")((s, _) => cdfDeleteFeedScenario(s)),

    // row tracking (EngineConf.changeDataFeed): a copy-on-write UPDATE
    // and a CoW DELETE commit stage exact pre/post images as CDC side
    // files, and the STRICT change-feed stream (no ignoreChanges)
    // serves them as update_preimage/update_postimage/delete events —
    // the capability CoW rewrites previously lost (row identity is not
    // recoverable from file deltas without the side files)
    "q60_cdc_update_feed" -> Q(
      "SELECT CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value, " +
      "CAST(_version AS BIGINT) AS _version, _change_type " +
      "FROM (VALUES (1, 10, 1, 'insert'), (2, 20, 1, 'insert'), " +
      "(3, 30, 1, 'insert'), (2, 200, 2, 'update_postimage'), " +
      "(2, 20, 2, 'update_preimage'), (3, 30, 3, 'delete')) " +
      "AS t(obj_id, value, _version, _change_type) " +
      "ORDER BY _version, _change_type, obj_id")(
      (s, _) => cdcUpdateFeedScenario(s)),

    // full-SQL restore: inserts and a DELETE through the catalog, then
    // `CALL system.restore` rolls the table back as a NEW commit, and
    // time travel still reads the undone state — head and the
    // post-delete version are both hand-computable constants
    "q61_sql_restore" -> Q(
      "SELECT snap, CAST(obj_id AS BIGINT) AS obj_id, " +
      "CAST(value AS BIGINT) AS value " +
      "FROM (VALUES ('head', 1, 10), ('head', 2, 20), ('head', 3, 30), " +
      "('v3', 1, 10), ('v3', 3, 30)) AS t(snap, obj_id, value) " +
      "ORDER BY snap, obj_id")((s, _) => sqlRestoreScenario(s)),

    // metadata-only aggregate pushdown: a global COUNT/MIN/MAX over
    // the whole lineitem-backed ACID table answers from the manifest's
    // per-file footer stats (one LocalTableScan, ZERO data files
    // opened — the scenario THROWS if the plan still scans). The
    // oracle recomputes the same aggregates from the source parquet,
    // so the metadata answer is hash-gated against the data answer.
    "q62_agg_pushdown" -> Q(
      "SELECT COUNT(*) AS cnt, COUNT(l_returnflag) AS cnt_rf, " +
      "MIN(l_returnflag) AS min_rf, MAX(l_returnflag) AS max_rf, " +
      "MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok, " +
      "MIN(l_shipdate) AS min_sd, MAX(l_shipdate) AS max_sd " +
      "FROM lineitem")((s, dir) => aggPushdownScenario(s, dir)),

    // incrementally-maintained materialized view: load lineitem, build
    // a (returnflag -> count, sum) aggregate view, then DELETE ~1/7 of
    // the rows and UPDATE ~1/11 — the second refresh folds ONLY those
    // two commits' change feed (O(delta), no rescan) and must land on
    // exactly the aggregate DuckDB computes over the mutated table
    "q63_incremental_mv" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "CAST(SUM(CASE WHEN o_orderkey % 11 = 0 AND o_orderkey < 30000 " +
      "THEN o_custkey + 1000 " +
      "ELSE o_custkey END) AS BIGINT) AS sum_o_custkey " +
      "FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey < 30000) " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => incrementalMvScenario(s, dir)),

    // full-SQL materialized view: CREATE TABLE / INSERT / CALL
    // create_mv / DELETE / UPDATE / CALL refresh_mv / SELECT — the
    // final view contents are a hand-computable constant
    "q64_sql_mv" -> Q(
      "SELECT grp, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(sum_v AS BIGINT) AS sum_v " +
      "FROM (VALUES ('a', 1, 10), ('b', 2, 65)) AS t(grp, cnt, sum_v) " +
      "ORDER BY grp")((s, _) => sqlMvScenario(s)),

    // FILTERED materialized view: `where => 'v >= 10'` restricts the
    // maintained aggregate; UPDATEs then cross the predicate boundary
    // both ways (in→out must decrement, out→in must increment) plus an
    // in→in value change — the final view is a hand-computable constant
    "q65_filtered_mv" -> Q(
      "SELECT grp, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(sum_v AS BIGINT) AS sum_v " +
      "FROM (VALUES ('a', 1, 30), ('b', 2, 75)) AS t(grp, cnt, sum_v) " +
      "ORDER BY grp")((s, _) => filteredMvScenario(s)),

    // MIN/MAX materialized view: the DELETE kills group a's stored
    // minimum (targeted recompute path), the UPDATE raises group b's
    // maximum (pure least/greatest fold), and a plain insert extends a
    // min — final view is a hand-computable constant
    "q66_minmax_mv" -> Q(
      "SELECT grp, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(min_v AS BIGINT) AS min_v, CAST(max_v AS BIGINT) AS max_v " +
      "FROM (VALUES ('a', 2, 8, 40), ('b', 2, 20, 90)) " +
      "AS t(grp, cnt, min_v, max_v) ORDER BY grp")(
      (s, _) => minmaxMvScenario(s)),

    // JOIN materialized view (fact ⨝ dim, grouped by a DIM column):
    // the interval deletes a fact row, MOVES a customer's region (a
    // dim-side group move that re-aggregates every matching fact row),
    // and inserts a new order — one refresh nets all three through the
    // signed join delta; the emptied region's group row is deleted
    "q67_join_mv" -> Q(
      "SELECT region, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(sum_amount AS BIGINT) AS sum_amount " +
      "FROM (VALUES ('west', 3, 200)) AS t(region, cnt, sum_amount) " +
      "ORDER BY region")((s, _) => joinMvScenario(s)),

    // MULTI-dimension (star) JOIN materialized view: fact orders ⨝
    // customers ⨝ products grouped by one column from EACH dim. The
    // refreshes cover fact churn alone, each dim churning alone, and
    // fact + both dims churning in ONE interval (the 7-term
    // inclusion–exclusion delta) — final view is a hand-computable
    // constant
    "q68_star_mv" -> Q(
      "SELECT region, category, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(sum_amount AS BIGINT) AS sum_amount " +
      "FROM (VALUES ('east', 'games', 1, 11), ('east', 'tools', 1, 3), " +
      "('west', 'games', 1, 5)) AS t(region, category, cnt, sum_amount) " +
      "ORDER BY region, category")((s, _) => starMvScenario(s)),

    // TRANSPARENT MV rewrite: the query aggregates the SOURCE table;
    // the optimizer silently reads the exactly-fresh registered view
    // (the scenario throws if the plan still scans the source). The
    // oracle aggregates the raw parquet — the rewrite must be
    // answer-identical, including the avg lowered to sum/nn. Both
    // sides spell avg as the same IEEE division of exact integer sums
    // so the doubles hash bit-equal.
    "q69_mv_rewrite" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "CAST(SUM(o_custkey) AS BIGINT) AS sum_ck, " +
      "CAST(SUM(o_custkey) AS DOUBLE) / CAST(COUNT(o_custkey) AS DOUBLE) " +
      "AS avg_ck, " +
      "MIN(o_orderkey) AS min_ok, MAX(o_orderkey) AS max_ok " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => mvRewriteScenario(s, dir)),

    // STAR-JOIN transparent rewrite: the query joins the fact against
    // BOTH dims on the view's exact keys and aggregates; the optimizer
    // reads the star view instead of shuffling the three-way join
    // (throws if the plan still joins). The oracle runs the raw join
    // on the parquet fixtures.
    "q70_star_rewrite" -> Q(
      "SELECT p_brand, CAST(s_nationkey AS BIGINT) AS s_nationkey, " +
      "COUNT(*) AS cnt, CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln " +
      "FROM lineitem JOIN part ON l_partkey = p_partkey " +
      "JOIN supplier ON l_suppkey = s_suppkey " +
      "GROUP BY p_brand, s_nationkey ORDER BY p_brand, s_nationkey")(
      (s, dir) => starRewriteScenario(s, dir)),

    // NDV materialized view: per-group HLL sketches maintained
    // incrementally (inserts union in; the delete interval marks
    // touched groups for targeted recompute). The bucketed column
    // keeps per-group cardinality ≤ 64, inside the sketch's EXACT
    // (coupon) regime, so the estimate is hash-comparable against
    // DuckDB's exact COUNT(DISTINCT)
    "q71_ndv_mv" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "COUNT(DISTINCT o_custkey % 64) AS ndv_ck " +
      "FROM orders WHERE NOT (o_orderkey % 7 = 0 AND o_orderkey < 30000) " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => ndvMvScenario(s, dir)),

    // TRANSPARENT approximate-distinct rewrite: the query asks the
    // SOURCE for count(*), count(DISTINCT group-col) and a sketch
    // estimate; with both rewrite flags on the plan reads the NDV view
    // instead (throws if it still scans the source). The 64-bucket
    // column keeps every sketch in its EXACT coupon regime — merges
    // of coupon sketches stay exact — so even the substituted
    // estimate hash-matches DuckDB's COUNT(DISTINCT)
    "q72_ndv_rewrite" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "COUNT(DISTINCT o_orderpriority) AS ndv_prio, " +
      "COUNT(DISTINCT o_custkey % 64) AS ndv_ck " +
      "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => ndvRewriteScenario(s, dir)),

    // CHECK constraints: declared via CALL add_constraint (validated
    // against existing rows), enforced INSIDE every write job — a
    // violating INSERT and a violating row-level UPDATE both fail
    // loudly and land NOTHING, an unsatisfiable add is rejected, and
    // the surviving table aggregates to a hand-computable constant
    "q73_constraints" -> Q(
      "SELECT grp, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(sum_v AS BIGINT) AS sum_v " +
      "FROM (VALUES ('a', 2, 30), ('b', 1, 5)) AS t(grp, cnt, sum_v) " +
      "ORDER BY grp")((s, _) => constraintScenario(s)),

    // SNAPSHOT TAGS: pin a version under a name, churn + vacuum at
    // retention 1 — the tag holds the vacuum horizon, so
    // `VERSION AS OF 'r1'` still reads the pinned snapshot exactly
    "q74_tags" -> Q(
      "SELECT obj_id, v FROM (VALUES (1, 10), (2, 20), (3, 30)) " +
      "AS t(obj_id, v) ORDER BY obj_id")((s, _) => tagScenario(s)),

    // STALE-TOLERANT transparent rewrite: the source takes TWO commits
    // AFTER the view's last refresh (an insert, then a delete that
    // kills the whole 'P' group), yet the optimizer still answers from
    // the view, compensated read-side with the refresh's own signed
    // delta fold — view ⊕ Δ(wm, pinned]. The scenario throws unless
    // the plan reads the view AND carries the compensation Union.
    // The oracle replays the churn in SQL over the raw parquet: the
    // rewrite must be answer-identical, including sum-NULL gating and
    // the dropped dead group, with avg spelled as the same IEEE
    // division of exact integer sums so the doubles hash bit-equal.
    "q77_stale_mv_rewrite" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "CAST(SUM(o_custkey) AS BIGINT) AS sum_ck, " +
      "CAST(SUM(o_custkey) AS DOUBLE) / CAST(COUNT(o_custkey) AS DOUBLE) " +
      "AS avg_ck " +
      "FROM (SELECT o_orderstatus, o_custkey FROM orders UNION ALL " +
      "SELECT o_orderstatus, o_custkey FROM orders WHERE o_orderkey < 3000) " +
      "WHERE o_orderstatus <> 'P' " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => staleMvRewriteScenario(s, dir)),

    // ANN index plane, FULL-SQL lifecycle: seed a catalog table from
    // embeddings (two INSERTs), CALL create_ann_index on the partial
    // corpus, CALL refresh_ann_index after the second insert folds the
    // churn, then CALL ann_search at FULL probe — exact brute force,
    // hash-gated against DuckDB's brute-force top-3 over the whole
    // corpus. The $indexes metadata table is asserted in
    // IvfIndexSpec's SQL-front-door test.
    "q79_ann_sql" -> Q(
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
      "FROM embeddings), " +
      "q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20), " +
      "p AS (SELECT qid, e.vec_id AS nid, ROUND(" +
      "list_dot_product(qv, v)/(sqrt(list_dot_product(qv, qv))*" +
      "sqrt(list_dot_product(v, v))), 4) AS cs " +
      "FROM q, e WHERE e.vec_id <> qid) " +
      "SELECT qid AS vec_id, nid AS neighbor_id, cs, rank FROM (" +
      "SELECT qid, nid, cs, ROW_NUMBER() OVER (" +
      "PARTITION BY qid ORDER BY cs DESC, nid) AS rank FROM p) t " +
      "WHERE rank <= 3 ORDER BY vec_id, rank")(
      (s, dir) => annSqlScenario(s, dir)),

    // PER-FILE BLOOM skipping: customers land as 8 files split by
    // c_custkey % 8, so every file's c_name min/max straddles the
    // whole name range (ranges prune nothing) while the declared
    // bloom is surgical — the point lookup must plan <= 2 of 8 files
    // (loud failure otherwise) and still hash-match DuckDB's answer
    // over the raw parquet.
    "q80_bloom_skip" -> Q(
      "SELECT c_custkey, c_nationkey FROM customer " +
      "WHERE c_name = (SELECT min(c_name) FROM customer) " +
      "ORDER BY c_custkey")((s, dir) => bloomSkipScenario(s, dir)),

    // DECIMAL-summed materialized view + transparent rewrite: the view
    // stores DECIMAL(38,2) partials (exact, associative — unlike
    // float/double sums, which stay refused), is maintained through a
    // post-refresh churn commit + second refresh, and the aggregate
    // against the SOURCE silently reads it (plan-checked). The decimal
    // source column derives from an integer key, so the sum is an
    // integer well under 2^53 — the final projection casts it to
    // DOUBLE (exact here) because DECIMAL(38,2) output columns hash
    // differently across engines' parquet writers (round-12 red: the
    // values were cell-identical but fixed_len_byte_array(16) vs
    // DuckDB's decimal canonicalized differently in the driver's
    // hash). The DECIMAL storage + rewrite machinery is unchanged
    // and spec-covered; only the KEY's output type is driver-stable.
    "q81_decimal_mv" -> Q(
      "SELECT o_orderstatus, COUNT(*) AS cnt, " +
      "CAST(SUM(CAST(o_custkey AS DECIMAL(18,2))) AS DOUBLE) " +
      "AS sum_dec " +
      "FROM orders WHERE NOT (o_orderkey % 5 = 0) " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")(
      (s, dir) => decimalMvScenario(s, dir)),

    // STALE-TOLERANT rewrite over a JOIN view: after the refresh, BOTH
    // the fact (a delete) and the dim (a brand move) commit — the
    // aggregate over the join graph still reads the view, compensated
    // read-side with the refresh's own inclusion–exclusion union
    // (ΔF⨝D + F⨝ΔD − ΔF⨝ΔD, snapshots semi-join-restricted). The
    // scenario throws unless the plan carries BOTH the view scan and
    // the compensation Union. The oracle replays the churn in SQL
    // over the raw parquet; avg is the same IEEE division of exact
    // integer sums on both sides.
    "q82_stale_star_mv" -> Q(
      "SELECT p_brand, COUNT(*) AS cnt, " +
      "CAST(SUM(l_linenumber) AS BIGINT) AS sum_ln, " +
      "CAST(SUM(l_linenumber) AS DOUBLE) / " +
      "CAST(COUNT(l_linenumber) AS DOUBLE) AS avg_ln " +
      "FROM lineitem JOIN (SELECT p_partkey, " +
      "CASE WHEN p_partkey % 10 = 0 THEN 'Brand#MOVED' ELSE p_brand END " +
      "AS p_brand FROM part) p ON l_partkey = p_partkey " +
      "WHERE NOT (l_linenumber >= 5) " +
      "GROUP BY p_brand ORDER BY p_brand")(
      (s, dir) => staleStarMvScenario(s, dir)))

  /** Decimal-sum MV lifecycle (q81): orders with
    * `dec_ck = CAST(o_custkey AS DECIMAL(18,2))`, per-status
    * (count, sum(dec_ck)) view, refresh — then a churn commit
    * (delete every o_orderkey % 5 = 0 row) and a second refresh fold
    * it exactly. The final aggregate runs AGAINST THE SOURCE with the
    * rewrite on: the plan must read the view's DECIMAL(38,2)
    * partials, cast back to the query's own Sum type. */
  def decimalMvScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderkey"),
        col("o_orderstatus"),
        col("o_custkey").cast("decimal(18,2)").as("dec_ck"))
    val srcTmp = Files.createTempDirectory("graft_q81_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_q81_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1)
    val mv = MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus"), sumCols = Seq("dec_ck"))
    mv.refresh()
    val t2 = src.begin()
    t2.deleteMatching(src.read()
      .filter(col("o_orderkey") % 5 === 0).select("obj_id"))
    src.commit(t2)
    mv.refresh() // the signed decimal fold nets the deletes exactly
    MvRewriteRule.invalidateCache()
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    try {
      val q = spark.read.format("graft").option("path", srcTmp).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("dec_ck").cast("double").as("sum_dec"))
        .orderBy("o_orderstatus")
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewTmp).toString))
        throw new IllegalStateException(
          s"decimal MV rewrite did not fire; plan:\n$plan")
      q
    } finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Stale JOIN-view rewrite E2E (q82): lineitem ⨝ part view grouped
    * by p_brand, refreshed once — then the fact deletes every
    * l_linenumber >= 5 row AND the dim moves every p_partkey % 10 == 0
    * part to a new brand (a dim-side group move that re-aggregates all
    * matching fact rows), with NO further refresh. The aggregate over
    * the join graph must still read the view, compensated read-side
    * with the inclusion–exclusion union over the two changed relations
    * — plan-checked for the view root AND the Union, loud failure
    * otherwise. */
  def staleStarMvScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.Engine.table(spark, dir, "lineitem")
      .select(monotonically_increasing_id().as("obj_id"),
        col("l_partkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
    val pt = graft.Engine.table(spark, dir, "part")
      .select(col("p_partkey").as("obj_id"), col("p_partkey"),
        col("p_brand"))
    def mk(tag: String, df: DataFrame): Instance = {
      val root = Files.createTempDirectory(s"graft_q82_$tag").toUri.toString
      val i = VersionedTable.create(spark, root, df.schema)
      val t = i.begin(); t.insert(df); i.commit(t); i
    }
    val fact = mk("fact", li); val part = mk("part", pt)
    val viewRoot = Files.createTempDirectory("graft_q82_view_").toUri.toString
    MaterializedAggView.create(spark, viewRoot, fact,
      groupCols = Seq("p_brand"), sumCols = Seq("l_linenumber"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(part, "l_partkey", "p_partkey")))
      .refresh() // watermarks pin here — and never advance
    // missed commit on the FACT: delete every l_linenumber >= 5 row
    val t2 = fact.begin()
    t2.deleteMatching(fact.read()
      .filter(col("l_linenumber") >= 5).select("obj_id"))
    fact.commit(t2)
    // missed commit on the DIM: a group move (brand re-assignment)
    val t3 = part.begin()
    t3.merge(part.read().filter(col("p_partkey") % 10 === 0)
      .select(col("obj_id"), lit("Brand#MOVED").as("nb")),
      matchedUpdate = Map("p_brand" -> col("s.nb")),
      insertUnmatched = false)
    part.commit(t3)
    MvRewriteRule.invalidateCache()
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    try {
      val f = spark.read.format("graft").option("path", fact.root).load()
      val p = spark.read.format("graft").option("path", part.root).load()
      val q = f.join(p, f("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          sum("l_linenumber").as("sum_ln"),
          avg("l_linenumber").as("avg_ln"))
        .orderBy("p_brand")
      // forcing optimizedPlan pins the (rewritten) plan; the conf
      // restore below cannot un-rewrite it
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewRoot).toString))
        throw new IllegalStateException(
          s"stale star MV rewrite did not fire (no view scan); plan:\n$plan")
      if (!plan.contains("Union"))
        throw new IllegalStateException(
          "stale star MV rewrite fired without the compensation union — " +
          s"exact-match path on a stale view?; plan:\n$plan")
      q
    } finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Bloom-skipping E2E (q80): seed a versioned table with
    * `fileBloomCols = c_name` as 8 custkey-interleaved files, point-
    * probe the minimum name through the DSv2 scan, and assert the
    * bloom veto pruned the plan to <= 2 files before returning the
    * (hash-gated) rows. */
  def bloomSkipScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val cust = graft.Engine.table(spark, dir, "customer")
      .select(col("c_custkey").as("obj_id"), col("c_custkey"),
        col("c_name"), col("c_nationkey"))
    val root = Files.createTempDirectory("graft_q80_").toUri.toString
    val inst = VersionedTable.create(spark, root, cust.schema,
      EngineConf(fileBloomCols = Seq("c_name")))
    (0 until 8).foreach { b =>
      inst.withRetry() { t => t.insert(
        cust.filter(col("c_custkey") % 8 === b).coalesce(1)) }
    }
    val probe = cust.agg(min("c_name")).head.getString(0)
    val df = spark.read.format("graft").option("path", root).load()
      .filter(col("c_name") === probe)
      .select(col("c_custkey"), col("c_nationkey"))
      .orderBy("c_custkey")
    val planned = GraftScan.planned(df.queryExecution.executedPlan)
      .map(_.prunedFiles.size).sum
    if (planned > 2) throw new IllegalStateException(
      s"bloom skipping did not prune: $planned of 8 files planned")
    df
  }

  /** Full-SQL ANN index lifecycle (q79): catalog table `ann.vecs`
    * seeded with the `vec_id % 5 != 0` embeddings, index built over
    * that PARTIAL corpus (`CALL create_ann_index`), the remaining
    * rows inserted as post-build churn, `CALL refresh_ann_index`
    * folds them in (O(churn)), and `CALL ann_search(n_probe =
    * n_cells)` answers exactly — the same brute-force anchor
    * discipline as q75/q76, driven end-to-end through spark.sql. */
  def annSqlScenario(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq79$tag"
    val wh = Files.createTempDirectory("graft_wh_q79_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val srcView = s"gq79_emb_$tag"
    graft.Engine.table(spark, dir, "embeddings")
      .createOrReplaceTempView(srcView)
    spark.sql(s"CREATE TABLE $cat.ann.vecs (obj_id BIGINT, v ARRAY<DOUBLE>)")
    spark.sql(s"INSERT INTO $cat.ann.vecs " +
      s"SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) FROM $srcView " +
      "WHERE vec_id % 5 != 0")
    spark.sql(s"CALL $cat.system.create_ann_index('ann.idx', 'ann.vecs', " +
      "dim => 64, n_cells => 8, calibrate => false)")
    // post-build churn: the index must NOT answer from its build-time
    // corpus after refresh folds these in
    spark.sql(s"INSERT INTO $cat.ann.vecs " +
      s"SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) FROM $srcView " +
      "WHERE vec_id % 5 = 0")
    spark.sql(s"CALL $cat.system.refresh_ann_index('ann.idx')")
    spark.sql(s"CREATE TABLE $cat.ann.q (obj_id BIGINT, v ARRAY<DOUBLE>)")
    spark.sql(s"INSERT INTO $cat.ann.q " +
      s"SELECT obj_id, v FROM $cat.ann.vecs WHERE obj_id < 20")
    spark.sql(s"CALL $cat.system.ann_search('ann.idx', 'ann.q', " +
      "k => 3, n_probe => 8)")
  }

  /** Load orders (with a 64-bucket custkey column), materialize
    * per-(status, priority) count + NDV sketch, refresh, then run a
    * per-status aggregate AGAINST THE SOURCE with the rewrite AND the
    * sketch-substitution opt-in enabled: count(*) folds the view's
    * cnt, count(DISTINCT o_orderpriority) re-counts the preserved
    * group tuples, and the sketch estimate unions the stored
    * per-priority sketches (rollup compensation on all three). The
    * plan must read the view — loud failure otherwise. */
  def ndvRewriteScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderstatus"),
        col("o_orderpriority"), (col("o_custkey") % 64).as("ck64"))
    val srcTmp = Files.createTempDirectory("graft_ndvrw_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_ndvrw_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1)
    MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus", "o_orderpriority"), sumCols = Nil,
      ndvCols = Seq("ck64")).refresh()
    MvRewriteRule.invalidateCache()
    val beforeOn = spark.conf.getOption(MvRewriteRule.EnabledKey)
    val beforeSub = spark.conf.getOption(MvRewriteRule.NdvSubstituteKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    spark.conf.set(MvRewriteRule.NdvSubstituteKey, "true")
    try {
      val q = spark.read.format("graft").option("path", srcTmp).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          countDistinct("o_orderpriority").as("ndv_prio"),
          hll_sketch_estimate(hll_sketch_agg(col("ck64"))).as("ndv_ck"))
        .orderBy("o_orderstatus")
      // forcing optimizedPlan here pins the (rewritten) plan; the conf
      // restore below cannot un-rewrite it
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewTmp).toString))
        throw new IllegalStateException(
          s"ndv rewrite did not fire; plan:\n$plan")
      q
    } finally {
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(s) => spark.conf.set(k, s)
        case None => spark.conf.unset(k)
      }
      restore(MvRewriteRule.EnabledKey, beforeOn)
      restore(MvRewriteRule.NdvSubstituteKey, beforeSub)
    }
  }

  /** Load orders (with a 64-bucket custkey column), materialize
    * per-status count + NDV sketch, refresh, CoW-delete ~1/7 of the
    * rows (marking every group for the targeted sketch recompute),
    * refresh again, and read the estimates — exact at this
    * cardinality, so DuckDB's COUNT(DISTINCT) is the oracle. */
  def ndvMvScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderkey"),
        col("o_orderstatus"), (col("o_custkey") % 64).as("ck64"))
    val srcTmp = Files.createTempDirectory("graft_ndv_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_ndv_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1)
    val mv = MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus"), sumCols = Nil,
      ndvCols = Seq("ck64"))
    mv.refresh()
    val t2 = src.begin()
    t2.deleteMatching(src.read()
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") < 30000)
      .select("obj_id"))
    src.commit(t2)
    mv.refresh() // the delete marks groups dirty -> sketch recompute
    mv.read().select(col("o_orderstatus"), col("cnt"),
        col("approx_ndv_ck64").as("ndv_ck"))
      .orderBy("o_orderstatus")
  }

  /** Load lineitem/part/supplier into versioned tables, materialize
    * `(p_brand, s_nationkey) -> count, sum(l_linenumber)` as a star
    * view, refresh, then run the three-way join aggregate with
    * `spark.graft.mv.rewrite` on — the plan must read the view. */
  def starRewriteScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.Engine.table(spark, dir, "lineitem")
      .select(monotonically_increasing_id().as("obj_id"),
        col("l_partkey"), col("l_suppkey"),
        col("l_linenumber").cast("long").as("l_linenumber"))
    val pt = graft.Engine.table(spark, dir, "part")
      .select(col("p_partkey").as("obj_id"), col("p_partkey"),
        col("p_brand"))
    val sp = graft.Engine.table(spark, dir, "supplier")
      .select(col("s_suppkey").as("obj_id"), col("s_suppkey"),
        col("s_nationkey").cast("long").as("s_nationkey"))
    def mk(tag: String, df: DataFrame): Instance = {
      val root = Files.createTempDirectory(s"graft_q70_$tag").toUri.toString
      val i = VersionedTable.create(spark, root, df.schema)
      val t = i.begin(); t.insert(df); i.commit(t); i
    }
    val fact = mk("fact", li); val part = mk("part", pt)
    val supp = mk("supp", sp)
    val viewRoot = Files.createTempDirectory("graft_q70_view_").toUri.toString
    MaterializedAggView.create(spark, viewRoot, fact,
      groupCols = Seq("p_brand", "s_nationkey"),
      sumCols = Seq("l_linenumber"),
      dimJoins = Seq(
        MaterializedAggView.DimJoin(part, "l_partkey", "p_partkey"),
        MaterializedAggView.DimJoin(supp, "l_suppkey", "s_suppkey")))
      .refresh()
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    try {
      val f = spark.read.format("graft").option("path", fact.root).load()
      val p = spark.read.format("graft").option("path", part.root).load()
      val s2 = spark.read.format("graft").option("path", supp.root).load()
      val q = f.join(p, f("l_partkey") === p("p_partkey"))
        .join(s2, f("l_suppkey") === s2("s_suppkey"))
        .groupBy("p_brand", "s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum("l_linenumber").as("sum_ln"))
        .orderBy("p_brand", "s_nationkey")
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewRoot).toString))
        throw new IllegalStateException(
          s"star MV rewrite did not fire; plan:\n$plan")
      q
    } finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Load orders into a versioned table, materialize the per-status
    * aggregate, refresh, then run the aggregate AGAINST THE SOURCE
    * with `spark.graft.mv.rewrite` on — the plan must read the view
    * (checked; loud failure otherwise), and the answer must match the
    * oracle computed from the raw parquet. */
  def mvRewriteScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderkey"),
        col("o_orderstatus"), col("o_custkey"))
    val srcTmp = Files.createTempDirectory("graft_mvrw_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_mvrw_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1)
    MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus"), sumCols = Seq("o_custkey"),
      minCols = Seq("o_orderkey"), maxCols = Seq("o_orderkey")).refresh()
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    try {
      val q = spark.read.format("graft").option("path", srcTmp).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_custkey").as("sum_ck"),
          avg("o_custkey").as("avg_ck"),
          min("o_orderkey").as("min_ok"),
          max("o_orderkey").as("max_ok"))
        .orderBy("o_orderstatus")
      // forcing optimizedPlan here pins the (rewritten) plan; the conf
      // restore below cannot un-rewrite it
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewTmp).toString))
        throw new IllegalStateException(
          s"transparent MV rewrite did not fire; plan:\n$plan")
      q
    } finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Stale-tolerant rewrite E2E (q77): load orders, materialize the
    * per-status (count, sum(custkey)) view, refresh — then commit TWO
    * more source versions WITHOUT refreshing: re-insert the
    * o_orderkey < 3000 rows under shifted obj_ids, and delete every
    * 'P'-status row (killing that group outright, inserted copies
    * included). The aggregate against the source must still read the
    * view, compensated with `view ⊕ weightedDelta(wm, pinned]` — the
    * plan is checked for BOTH the view root and the compensation
    * Union, loud failure otherwise. The read-side analog of
    * checkpoint + WAL-tail recovery (reference: instance.rs:239-304 —
    * the view is the checkpoint, the missed interval the log tail). */
  def staleMvRewriteScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderkey"),
        col("o_orderstatus"), col("o_custkey"))
    val srcTmp = Files.createTempDirectory("graft_q77_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_q77_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1)
    MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus"), sumCols = Seq("o_custkey"))
      .refresh() // view watermark pins here (v1) — and never advances
    // missed commit #1: insert (shifted ids, same status/custkey)
    val t2 = src.begin()
    t2.insert(ord.filter(col("o_orderkey") < 3000)
      .withColumn("obj_id", col("obj_id") + 10000000L))
    src.commit(t2)
    // missed commit #2: group-killing delete (all of 'P', copies too)
    val t3 = src.begin()
    t3.deleteMatching(src.read()
      .filter(col("o_orderstatus") === "P").select("obj_id"))
    src.commit(t3)
    MvRewriteRule.invalidateCache()
    val before = spark.conf.getOption(MvRewriteRule.EnabledKey)
    spark.conf.set(MvRewriteRule.EnabledKey, "true")
    try {
      val q = spark.read.format("graft").option("path", srcTmp).load()
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"),
          sum("o_custkey").as("sum_ck"),
          avg("o_custkey").as("avg_ck"))
        .orderBy("o_orderstatus")
      // forcing optimizedPlan pins the (rewritten) plan; the conf
      // restore below cannot un-rewrite it
      val plan = q.queryExecution.optimizedPlan.treeString
      if (!plan.contains(new org.apache.hadoop.fs.Path(viewTmp).toString))
        throw new IllegalStateException(
          s"stale MV rewrite did not fire (no view scan); plan:\n$plan")
      if (!plan.contains("Union"))
        throw new IllegalStateException(
          "stale MV rewrite fired without the compensation union — " +
          s"exact-match path on a stale view?; plan:\n$plan")
      q
    } finally before match {
      case Some(v) => spark.conf.set(MvRewriteRule.EnabledKey, v)
      case None => spark.conf.unset(MvRewriteRule.EnabledKey)
    }
  }

  /** Full-SQL star-join-view lifecycle (see q68 above): dims customers
    * {1:east, 2:west} and products {10:toys, 11:tools}; fact orders
    * {100:c1/p10/5, 101:c1/p11/7, 102:c2/p10/11}; materialize
    * SUM(amount) by (region, category). Refresh 1 is the initial
    * star fold. Then: DELETE order 101 (fact alone), refresh; move
    * customer 1 east→west (dim-1 alone), refresh; and in ONE interval
    * rename product 10 toys→games, move customer 2 west→east, and
    * INSERT order 103:c2/p11/3 — the 7-term delta nets all three.
    * Final rows: order 100 (c1 west, p10 games, 5), order 102 (c2
    * east, p10 games, 11), order 103 (c2 east, p11 tools, 3). */
  def starMvScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq68$tag"
    val wh = Files.createTempDirectory("graft_wh_q68_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.mv.cust (obj_id BIGINT, region STRING)")
    spark.sql(s"INSERT INTO $cat.mv.cust VALUES (1, 'east'), (2, 'west')")
    spark.sql(s"CREATE TABLE $cat.mv.prod (obj_id BIGINT, category STRING)")
    spark.sql(s"INSERT INTO $cat.mv.prod VALUES (10, 'toys'), (11, 'tools')")
    spark.sql(s"CREATE TABLE $cat.mv.orders " +
      "(obj_id BIGINT, cust BIGINT, prod BIGINT, amount BIGINT)")
    spark.sql(s"INSERT INTO $cat.mv.orders VALUES " +
      "(100, 1, 10, 5), (101, 1, 11, 7), (102, 2, 10, 11)")
    spark.sql(s"CALL $cat.system.create_mv('mv.agg', " +
      "source => 'mv.orders', group_by => 'region,category', " +
      "sums => 'amount', dim_source => 'mv.cust,mv.prod', " +
      "fact_key => 'cust,prod', dim_key => 'obj_id,obj_id')")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // fact churn alone
    spark.sql(s"DELETE FROM $cat.mv.orders WHERE obj_id = 101")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // dim 1 churn alone
    spark.sql(s"UPDATE $cat.mv.cust SET region = 'west' WHERE obj_id = 1")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // fact + BOTH dims in one interval
    spark.sql(s"UPDATE $cat.mv.prod SET category = 'games' WHERE obj_id = 10")
    spark.sql(s"UPDATE $cat.mv.cust SET region = 'east' WHERE obj_id = 2")
    spark.sql(s"INSERT INTO $cat.mv.orders VALUES (103, 2, 11, 3)")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"SELECT region, category, cnt, sum_amount FROM $cat.mv.agg " +
      "ORDER BY region, category")
  }

  /** Full-SQL join-view lifecycle (see q67 above): dim customers
    * {1:east, 2:west}, fact orders {10:c1/100, 11:c1/50, 12:c2/70};
    * materialize SUM(amount) by region over orders ⨝ customers; then
    * DELETE order 11, move customer 1 east→west (every one of their
    * orders re-groups), INSERT order 13:c2/30 — final view is only
    * west = {100, 70, 30} → (3, 200); east empties and its row dies. */
  def joinMvScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq67$tag"
    val wh = Files.createTempDirectory("graft_wh_q67_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.mv.cust (obj_id BIGINT, region STRING)")
    spark.sql(s"INSERT INTO $cat.mv.cust VALUES (1, 'east'), (2, 'west')")
    spark.sql(s"CREATE TABLE $cat.mv.orders " +
      "(obj_id BIGINT, cust BIGINT, amount BIGINT)")
    spark.sql(s"INSERT INTO $cat.mv.orders VALUES " +
      "(10, 1, 100), (11, 1, 50), (12, 2, 70)")
    spark.sql(s"CALL $cat.system.create_mv('mv.agg', " +
      "source => 'mv.orders', group_by => 'region', sums => 'amount', " +
      "dim_source => 'mv.cust', fact_key => 'cust', dim_key => 'obj_id')")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"DELETE FROM $cat.mv.orders WHERE obj_id = 11")
    spark.sql(s"UPDATE $cat.mv.cust SET region = 'west' WHERE obj_id = 1")
    spark.sql(s"INSERT INTO $cat.mv.orders VALUES (13, 2, 30)")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"SELECT region, cnt, sum_amount FROM $cat.mv.agg " +
      "ORDER BY region")
  }

  /** Full-SQL min/max-view lifecycle (see q66 above): insert
    * {1:a/10, 2:a/40, 3:b/20, 4:b/50}, materialize count+min+max by
    * grp, then DELETE row 1 (group a's stored min 10 dies — the
    * refresh must RECOMPUTE group a: min becomes 40), UPDATE row 4 to
    * v=90 (group b's max rises — pure greatest fold; its old max 50
    * also dies, exercising death+cover in one interval), and INSERT
    * row 5 a/8 (min extends via least). Final: a:(2,8,40),
    * b:(2,20,90). */
  def minmaxMvScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq66$tag"
    val wh = Files.createTempDirectory("graft_wh_q66_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.mv.src (obj_id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.mv.src VALUES " +
      "(1, 'a', 10), (2, 'a', 40), (3, 'b', 20), (4, 'b', 50)") // v1
    spark.sql(s"CALL $cat.system.create_mv('mv.agg', source => 'mv.src', " +
      "group_by => 'grp', mins => 'v', maxs => 'v')")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"DELETE FROM $cat.mv.src WHERE obj_id = 1")       // v2: min dies
    spark.sql(s"UPDATE $cat.mv.src SET v = 90 WHERE obj_id = 4") // v3: max up
    spark.sql(s"INSERT INTO $cat.mv.src VALUES (5, 'a', 8)")     // v4: min ext
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // final rows: a = {40, 8} -> (2, 8, 40); b = {20, 90} -> (2, 20, 90)
    spark.sql(s"SELECT grp, cnt, min_v, max_v FROM $cat.mv.agg ORDER BY grp")
  }

  /** Full-SQL filtered-view lifecycle (see q65 above): insert
    * {1:a/10, 2:a/3, 3:b/50, 4:b/20}, materialize counts+sums by grp
    * over rows with v >= 10, then UPDATE row 1 to v=5 (in→out: group
    * 'a' decrements), row 2 to v=30 (out→in), row 4 to v=25 (in→in) —
    * final in-filter rows (2,a,30) (3,b,50) (4,b,25) give the
    * oracle's constants a:(1,30) b:(2,75). */
  def filteredMvScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq65$tag"
    val wh = Files.createTempDirectory("graft_wh_q65_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.mv.src (obj_id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.mv.src VALUES " +
      "(1, 'a', 10), (2, 'a', 3), (3, 'b', 50), (4, 'b', 20)") // v1
    spark.sql(s"CALL $cat.system.create_mv('mv.agg', source => 'mv.src', " +
      "group_by => 'grp', sums => 'v', where => 'v >= 10')")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"UPDATE $cat.mv.src SET v = 5 WHERE obj_id = 1")   // v2 in→out
    spark.sql(s"UPDATE $cat.mv.src SET v = 30 WHERE obj_id = 2")  // v3 out→in
    spark.sql(s"UPDATE $cat.mv.src SET v = 25 WHERE obj_id = 4")  // v4 in→in
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // final in-filter rows: (2,a,30), (3,b,50), (4,b,25)
    spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.mv.agg ORDER BY grp")
  }

  /** Full-SQL incremental-view lifecycle (see q64 above): insert
    * {1:a/10, 2:a/20, 3:b/30, 4:a/40}, materialize counts+sums by
    * grp, then DELETE row 2 and UPDATE row 4 into group 'b' at v-5,
    * refresh — final source rows (1,a,10) (3,b,30) (4,b,35) give the
    * oracle's constants a:(1,10) b:(2,65). */
  def sqlMvScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq64$tag"
    val wh = Files.createTempDirectory("graft_wh_q64_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.mv.src (obj_id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.mv.src VALUES " +
      "(1, 'a', 10), (2, 'a', 20), (3, 'b', 30), (4, 'a', 40)") // v1
    spark.sql(s"CALL $cat.system.create_mv('mv.agg', source => 'mv.src', " +
      "group_by => 'grp', sums => 'v')")
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    spark.sql(s"DELETE FROM $cat.mv.src WHERE obj_id = 2")       // v2
    spark.sql(s"UPDATE $cat.mv.src SET grp = 'b', v = v - 5 " +
      "WHERE obj_id = 4")                                        // v3
    spark.sql(s"CALL $cat.system.refresh_mv('mv.agg')")
    // final source rows: (1,a,10), (3,b,30), (4,b,35)
    spark.sql(s"SELECT grp, cnt, sum_v FROM $cat.mv.agg ORDER BY grp")
  }

  /** Full-SQL CHECK-constraint lifecycle (q73): seed a table, declare
    * `v > 0` via CALL add_constraint (validated against existing
    * rows), prove a violating INSERT and a violating row-level UPDATE
    * both fail loudly naming the constraint and land NOTHING, prove an
    * add the existing data violates is rejected, then aggregate the
    * surviving rows — the oracle's constants a:(2,30) b:(1,5). */
  def constraintScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq73$tag"
    val wh = Files.createTempDirectory("graft_wh_q73_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.t (obj_id BIGINT, grp STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES " +
      "(1, 'a', 10), (2, 'a', 20), (3, 'b', 5)")
    spark.sql(s"CALL $cat.system.add_constraint('ns.t', 'v_pos', 'v > 0')")
    def mustFail(sql: String, frag: String): Unit = {
      val failed =
        try { spark.sql(sql).collect(); false }
        catch {
          case e: Throwable =>
            var t: Throwable = e; var hit = false; var d = 0
            while (t != null && d < 20) {
              if (Option(t.getMessage).exists(_.contains(frag))) hit = true
              t = t.getCause; d += 1
            }
            if (!hit) throw new IllegalStateException(
              s"expected failure mentioning '$frag' from [$sql], got: " +
              e.getMessage)
            true
        }
      if (!failed)
        throw new IllegalStateException(s"expected failure: $sql")
    }
    mustFail(s"INSERT INTO $cat.ns.t VALUES (4, 'c', -1)",
      "CHECK constraint v_pos")
    mustFail(s"UPDATE $cat.ns.t SET v = -5 WHERE obj_id = 1",
      "CHECK constraint v_pos")
    // an add the EXISTING rows violate must be rejected whole
    mustFail(s"CALL $cat.system.add_constraint('ns.t', 'v_small', 'v < 15')",
      "v_small")
    val shown =
      spark.sql(s"CALL $cat.system.show_constraints('ns.t')").collect()
    if (shown.length != 1 || shown.head.getString(0) != "v_pos")
      throw new IllegalStateException(
        s"expected exactly constraint v_pos, got ${shown.mkString(",")}")
    spark.sql(s"SELECT grp, CAST(count(*) AS BIGINT) AS cnt, " +
      s"CAST(sum(v) AS BIGINT) AS sum_v FROM $cat.ns.t " +
      "GROUP BY grp ORDER BY grp")
  }

  /** Snapshot-tag lifecycle (q74): seed, `CALL tag('ns.t','r1')`,
    * churn with UPDATE + DELETE + INSERT, vacuum at retention 1 (the
    * tag pins the horizon), then read `VERSION AS OF 'r1'` — exactly
    * the pinned rows, files intact through the aggressive vacuum. */
  def tagScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq74$tag"
    val wh = Files.createTempDirectory("graft_wh_q74_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.ns.t (obj_id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql(s"CALL $cat.system.tag('ns.t', 'r1')")
    // CoW churn that would retire the pinned generation's files
    spark.sql(s"UPDATE $cat.ns.t SET v = 99 WHERE obj_id = 1")
    spark.sql(s"DELETE FROM $cat.ns.t WHERE obj_id = 2")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (4, 40)")
    spark.sql(s"CALL $cat.system.vacuum('ns.t', retain_versions => 1)")
    spark.sql(
      s"SELECT obj_id, v FROM $cat.ns.t VERSION AS OF 'r1' ORDER BY obj_id")
  }

  /** Orders-backed incremental-view lifecycle (see q63 above):
    * `obj_id = o_orderkey` (unique in the fixture), counts + custkey
    * sums by order status. Mutations bound to the low orderkeys so
    * the delete's candidate pruning — and the refresh's signed delta —
    * touch O(hit files), not the whole table: the write pattern an
    * incremental view exists for. The oracle applies the same bounds. */
  def incrementalMvScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ord = graft.Engine.table(spark, dir, "orders")
      .select(col("o_orderkey").as("obj_id"), col("o_orderkey"),
        col("o_orderstatus"), col("o_custkey"))
    val srcTmp = Files.createTempDirectory("graft_mv_src_").toUri.toString
    val viewTmp = Files.createTempDirectory("graft_mv_view_").toUri.toString
    val src = VersionedTable.create(spark, srcTmp, ord.schema)
    val t1 = src.begin(); t1.insert(ord); src.commit(t1) // v1: full load
    val mv = MaterializedAggView.create(spark, viewTmp, src,
      groupCols = Seq("o_orderstatus"), sumCols = Seq("o_custkey"))
    mv.refresh() // initial build = fold of the insert-only prefix
    // v2: CoW delete of every 7th low order
    val t2 = src.begin()
    t2.deleteMatching(src.read()
      .filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") < 30000)
      .select("obj_id"))
    src.commit(t2)
    // v3: keyed MERGE bumps every 11th low order's custkey by 1000
    val t3 = src.begin()
    t3.merge(src.read()
      .filter(col("o_orderkey") % 11 === 0 && col("o_orderkey") < 30000)
      .select(col("obj_id"), (col("o_custkey") + 1000).as("new_ck")),
      matchedUpdate = Map("o_custkey" ->
        org.apache.spark.sql.functions.col("s.new_ck")),
      insertUnmatched = false)
    src.commit(t3)
    mv.refresh() // folds exactly (v1, head] = the delete + the merge
    mv.read().select("o_orderstatus", "cnt", "sum_o_custkey")
      .orderBy("o_orderstatus")
  }

  /** Load lineitem into a versioned table, then answer a global
    * aggregate from manifest metadata alone — and fail loudly if the
    * plan read any data file (the 100 TB "count a table" query must
    * never scan). */
  def aggPushdownScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = graft.Engine.table(spark, dir, "lineitem")
      .select(monotonically_increasing_id().as("obj_id"),
        col("l_orderkey"), col("l_returnflag"), col("l_shipdate"))
    val tmp = Files.createTempDirectory("graft_aggpush_").toUri.toString
    val inst = VersionedTable.create(spark, tmp, li.schema)
    val t = inst.begin()
    t.insert(li)
    inst.commit(t)
    val agg = spark.read.format("graft").option("path", tmp).load()
      .agg(count(lit(1)).as("cnt"),
        count(col("l_returnflag")).as("cnt_rf"),
        min("l_returnflag").as("min_rf"), max("l_returnflag").as("max_rf"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
        min("l_shipdate").as("min_sd"), max("l_shipdate").as("max_sd"))
    val scansData = agg.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.nonEmpty
    if (scansData) throw new IllegalStateException(
      "q62: aggregate was not answered from metadata — plan still scans:\n" +
        agg.queryExecution.executedPlan)
    agg
  }

  /** Full-SQL restore lifecycle: two inserts, a DELETE, `CALL
    * system.restore` back to v2, then head + VERSION AS OF 3 reads —
    * all through `spark.sql`. */
  def sqlRestoreScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq61$tag"
    val wh = Files.createTempDirectory("graft_wh_q61_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.rst.t (obj_id BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $cat.rst.t VALUES (1, 10), (2, 20)") // v1
    spark.sql(s"INSERT INTO $cat.rst.t VALUES (3, 30)")          // v2
    spark.sql(s"DELETE FROM $cat.rst.t WHERE obj_id = 2")        // v3
    spark.sql(s"CALL $cat.system.restore('rst.t', version => 2)") // v4
    spark.sql(
      s"""SELECT 'head' AS snap, obj_id, value FROM $cat.rst.t
         |UNION ALL
         |SELECT 'v3' AS snap, obj_id, value
         |FROM $cat.rst.t VERSION AS OF 3
         |ORDER BY snap, obj_id""".stripMargin)
  }

  /** Column-mapping lifecycle: insert under `qty INT`, rename qty ->
    * amount (metadata-only; the files keep spelling `qty`), widen
    * amount INT -> LONG (old files promote at read), insert a
    * >2^31 value, point-delete through the renamed column's stats, and
    * read head via `format("graft")` filtered on the renamed column
    * beside a pre-rename time-travel snapshot. */
  def columnMappingScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_colmap_q58_").toUri.toString
    val narrow = StructType(Seq(
      StructField("obj_id", LongType, nullable = false),
      StructField("qty", IntegerType, nullable = false)))
    val inst = VersionedTable.create(spark, dir, narrow)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10), (2L, 20), (3L, 30)).toDF("obj_id", "qty"))
    inst.commit(t1) // v1: three rows under the original name/type
    inst.withRetry() { t => t.renameColumn("qty", "amount") } // v2
    inst.withRetry() { t => t.widenColumn("amount", LongType) } // v3
    val t4 = inst.begin()
    t4.insert(Seq((4L, 5000000000L)).toDF("obj_id", "amount"))
    inst.commit(t4) // v4: a value only the widened type can hold
    inst.withRetry() { t => t.delete(Seq(2L)) } // v5: CoW through the map
    val head = spark.read.format("graft").option("path", dir).load()
      .filter(col("amount") < 6000000000L)
      .select(lit("head").as("snap"), col("obj_id"),
        col("amount").cast("long").as("amount"))
    val v1 = inst.snapshot(1) // pre-rename: still (obj_id, qty INT)
      .select(lit("v1").as("snap"), col("obj_id"),
        col("qty").cast("long").as("amount"))
    head.unionByName(v1).orderBy("snap", "obj_id")
  }

  /** MoR lifecycle: mask 2, re-insert 2 (new file, unmasked), mask 3,
    * compact (materializes), read. */
  def morDeleteScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_mor_q55_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("obj_id", "value").coalesce(1))
    inst.commit(t1)
    val t2 = inst.begin(); t2.deleteMoR(Seq(2L)); inst.commit(t2)
    val t3 = inst.begin()
    t3.insert(Seq((2L, 200L)).toDF("obj_id", "value"))
    inst.commit(t3)
    val t4 = inst.begin(); t4.deleteMoR(Seq(3L)); inst.commit(t4)
    require(inst.tableStateAt(inst.latestVersion).dvs.nonEmpty,
      "expected outstanding deletion vectors before compaction")
    inst.compact()
    require(inst.tableStateAt(inst.latestVersion).dvs.isEmpty,
      "compaction must materialize every deletion vector")
    inst.read().orderBy("obj_id")
  }

  /** Streaming-sink lifecycle through the REAL DSv2 path: two drained
    * micro-batches via `writeStream.format("graft")`, then a forged
    * replay of the last epoch under the query's own id
    * (crash-between-sink-commit-and-checkpoint-write), which the
    * manifest watermark must suppress. */
  def streamWriteScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_swrite_q54_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val ckpt = Files.createTempDirectory("graft_swrite_q54_ckpt_").toString
    var queryId: String = null
    def drain(): Unit = {
      val q = mem.toDF().toDF("obj_id", "value")
        .writeStream.format("graft").option("path", dir)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      queryId = q.id.toString
    }
    mem.addData((1L, 10L), (2L, 20L))
    drain() // epoch 0
    mem.addData((3L, 30L))
    drain() // epoch 1 (same checkpoint -> same query id, next batch)
    val replay = inst.begin()
    replay.markEpoch(queryId, 1L)
    replay.insert(Seq((3L, 30L)).toDF("obj_id", "value"))
    try {
      inst.commit(replay)
      throw new IllegalStateException("replayed epoch was NOT suppressed")
    } catch { case _: EpochAlreadyCommittedException => () }
    inst.read().orderBy("obj_id")
  }

  /** SQL row-level lifecycle: base {1→10,2→20,3→30,4→40};
    * UPDATE bumps 2 to 21; MERGE deletes 3, updates 4 to 140,
    * inserts 5; DELETE WHERE value > 100 removes the 140. */
  def sqlRowLevelScenario(spark: SparkSession): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq53$tag"
    val wh = Files.createTempDirectory("graft_wh_q53_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE TABLE $cat.rl.t (obj_id BIGINT, value BIGINT)")
    spark.sql(s"INSERT INTO $cat.rl.t VALUES (1, 10), (2, 20), (3, 30), (4, 40)")
    spark.sql(s"UPDATE $cat.rl.t SET value = value + 1 WHERE obj_id = 2")
    val src = s"rl_src_$tag"
    spark.sql("SELECT * FROM VALUES (3, -1), (4, 100), (5, 50) " +
      "AS t(obj_id, value)").createOrReplaceTempView(src)
    spark.sql(
      s"""MERGE INTO $cat.rl.t t USING $src s ON t.obj_id = s.obj_id
         |WHEN MATCHED AND s.value < 0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = t.value + s.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql(s"DELETE FROM $cat.rl.t WHERE value > 100")
    spark.sql(s"SELECT obj_id, value FROM $cat.rl.t ORDER BY obj_id")
  }

  /** Typed change-feed scenario: three insert commits, one MoR delete
    * commit whose newly-masked row must surface as a `delete` event,
    * one AvailableNow drain under readChangeFeed. */
  def cdfDeleteFeedScenario(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_cdf_feed_q59_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    inst.withRetry() { t => t.deleteMoR(Seq(2L)) } // v4: dv delta only
    val name = "graft_q59_cdf_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = inst.readChangesStream(readChangeFeed = true).writeStream
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("_version", "obj_id")
  }

  /** Row-tracking change-feed scenario: inserts, a CoW UPDATE, a CoW
    * DELETE — all streamed STRICTLY (readChangeFeed, no
    * ignoreChanges) from the rewrites' own CDC side files. */
  def cdcUpdateFeedScenario(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_cdc_feed_q60_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema,
      EngineConf(changeDataFeed = true))
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L))
      .toDF("obj_id", "value").coalesce(1))
    inst.commit(t1) // v1: inserts
    inst.withRetry() { t =>
      t.update(Seq(2L), df => df.withColumn("value", col("value") * 10))
    } // v2: CoW rewrite with CDC images
    inst.withRetry() { t => t.delete(Seq(3L)) } // v3: CoW delete
    val name = "graft_q60_cdc_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    val q = inst.readChangesStream(readChangeFeed = true).writeStream
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("_version", "_change_type", "obj_id")
  }

  /** Streaming change-feed scenario: per-commit inserts, a compaction
    * that must stream nothing, one AvailableNow drain. */
  def cdfStreamScenario(spark: SparkSession): DataFrame = {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_acid_cdf_src_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    (1 to 3).foreach { i =>
      val t = inst.begin()
      t.insert(Seq((i.toLong, i * 10L)).toDF("obj_id", "value"))
      inst.commit(t)
    }
    inst.compact() // layout-only: contributes nothing to the stream
    val name = "graft_q50_cdf_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = inst.readChangesStream().writeStream
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).orderBy("obj_id")
  }

  /** MERGE scenario: base {1→10, 2→20, 3→30, 4→40}; source rows
    * (2,5) matches but fails the update condition (keeps 20),
    * (3,-1) hits the delete clause, (4,100) updates to 40+100=140,
    * (5,50) matches nothing and inserts. */
  def mergeScenario(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_acid_merge_").toUri.toString
    val inst = VersionedTable.create(spark, dir, schema)
    val t1 = inst.begin()
    t1.insert(Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("obj_id", "value"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.merge(
      Seq((2L, 5L), (3L, -1L), (4L, 100L), (5L, 50L)).toDF("obj_id", "value"),
      matchedDelete = Some(col("s.value") < 0),
      matchedUpdate = Map("value" -> (col("t.value") + col("s.value"))),
      matchedUpdateCond = Some(col("s.value") >= 10))
    inst.commit(t2)
    inst.read().orderBy("obj_id")
  }

  /** SQL-catalog scenario: a uniquely-named [[GraftCatalog]] per run
    * (catalog instances cache by name for the session's lifetime, and
    * the bench invokes this several times), then CTAS -> INSERT ->
    * point DELETE -> head + VERSION AS OF aggregates, all spark.sql. */
  def sqlCatalogScenario(spark: SparkSession, dir: String): DataFrame = {
    val tag = java.lang.Long.toHexString(
      java.util.concurrent.ThreadLocalRandom.current().nextLong()).take(8)
    val cat = s"gq52$tag"
    val wh = Files.createTempDirectory("graft_wh_q52_").toUri.toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val src = s"docs_src_$tag"
    graft.Engine.table(spark, dir, "documents").createOrReplaceTempView(src)
    spark.sql(s"CREATE TABLE $cat.corpus.docs AS " +
      s"SELECT doc_id AS obj_id, lang, n_chars FROM $src WHERE lang = 'en'")
    spark.sql(s"INSERT INTO $cat.corpus.docs " +
      s"SELECT doc_id, lang, n_chars FROM $src WHERE lang = 'de'")
    val minEn = spark.sql(
      s"SELECT MIN(doc_id) FROM $src WHERE lang = 'en'").head().getLong(0)
    spark.sql(s"DELETE FROM $cat.corpus.docs WHERE obj_id = $minEn")
    spark.sql(
      s"SELECT 'head' AS snap, COUNT(*) AS c, SUM(n_chars) AS chars " +
      s"FROM $cat.corpus.docs " +
      "UNION ALL " +
      s"SELECT 'v1' AS snap, COUNT(*) AS c, SUM(n_chars) AS chars " +
      s"FROM $cat.corpus.docs VERSION AS OF 1 " +
      "ORDER BY snap")
  }

  /** Universal data-skipping scenario: fixture events land in one
    * commit PER event_type — never compacted, never clustered — so the
    * only index that can skip files is the automatic write-time footer
    * stats ([[VersionedTable.UStat]]). Both legs re-aggregate the
    * fixture through `format("graft")` with filters on the
    * never-clustered string/long columns; the scenario REQUIRES that
    * the scan actually pruned (a regression to scan-everything fails
    * the key, not just a benchmark). */
  def statsSkipScenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val events = graft.Engine.table(spark, dir, "events")
      .select(col("event_id").as("obj_id"), col("user_id"),
        col("event_type"), col("value"))
    val tmp = Files.createTempDirectory("graft_acid_uskip_").toUri.toString
    val inst = VersionedTable.create(spark, tmp, events.schema)
    val types = events.select("event_type").distinct()
      .collect().map(_.getString(0)).sorted
    types.foreach { et =>
      val t = inst.begin()
      t.insert(events.filter(col("event_type") === et).coalesce(1))
      inst.commit(t)
    }
    val totalFiles = inst.stateAt(inst.latestVersion)._1.size
    def scanFiles(df: DataFrame): Int =
      GraftScan.planned(df.queryExecution.executedPlan).map(_.prunedFiles.size).sum
    def relation = spark.read.format("graft").option("path", tmp).load()
    val eq = relation.filter(col("event_type") === "purchase")
    val in = relation.filter(col("event_type").isin("click", "view") &&
      col("user_id") < 50)
    require(scanFiles(eq) < totalFiles,
      s"string-equality filter read all $totalFiles files — data skipping broken")
    require(scanFiles(in) < totalFiles,
      s"IN filter read all $totalFiles files — data skipping broken")
    def agg(df: DataFrame, leg: String) = df
      .agg(count(lit(1)).as("c"),
        sum("user_id").cast("long").as("su"))
      .select(lit(leg).as("leg"), col("c"), col("su"))
    agg(eq, "eq").unionByName(agg(in, "in")).orderBy("leg")
  }

  /** Batch DSv2 scenario: fixture documents land in two commits (en at
    * v1, de at v2); the head relation and a `versionAsOf 1` relation
    * are aggregated side by side through `format("graft")`. */
  def dsv2Scenario(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = graft.Engine.table(spark, dir, "documents")
      .select(col("doc_id").as("obj_id"), col("lang"), col("n_chars"))
    val tmp = Files.createTempDirectory("graft_acid_dsv2_").toUri.toString
    val inst = VersionedTable.create(spark, tmp, docs.schema)
    val t1 = inst.begin()
    t1.insert(docs.filter(col("lang") === "en"))
    inst.commit(t1)
    val t2 = inst.begin()
    t2.insert(docs.filter(col("lang") === "de"))
    inst.commit(t2)
    def agg(df: DataFrame, snap: String) = df
      .agg(count(lit(1)).as("c"), sum("n_chars").as("chars"))
      .select(lit(snap).as("snap"), col("c"), col("chars"))
    val head = spark.read.format("graft").option("path", tmp).load()
    val v1 = spark.read.format("graft").option("path", tmp)
      .option("versionAsOf", 1).load()
    agg(head, "head").unionByName(agg(v1, "v1")).orderBy("snap")
  }
}
