package graft.acid

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, ByteType, DataType, DecimalType, IntegerType, LongType, ShortType, StringType, StructField, StructType}

/** Incrementally-maintained aggregate view over a versioned table —
  * the warehouse "materialized view with incremental refresh", built
  * from parts the engine already has: the exact change feed
  * ([[Instance.changes]]), keyed MERGE ([[Txn.merge]]), and the
  * `appTxns` idempotence watermark ([[Txn.markEpoch]]).
  *
  * The view is itself a versioned table holding one row per group:
  * `obj_id` (a 64-bit hash of the group key — the engine's row
  * address), the group columns, `cnt`, and per summed column a
  * `sum_<c>` plus `nn_<c>`, the count of NON-NULL addends — the
  * witness that lets a stored sum return to SQL's NULL when every
  * non-null contributor is deleted (SUM over rows whose addends are
  * all NULL is NULL, not 0; without the witness a maintained 0 and a
  * true NULL are indistinguishable). `avg` is `sum/cnt` at read.
  * COUNT and SUM are *self-maintainable* aggregates: a change delta
  * alone updates them exactly.
  *
  * MIN/MAX (`min_<c>` / `max_<c>`, any atomic orderable type) are NOT
  * self-maintainable — a deleted extremum invalidates the stored value
  * — so refresh maintains them with the standard IVM split: inserts
  * fold as `least/greatest(stored, inserted-extremum)` (exact, free),
  * and a group is RECOMPUTED from the source snapshot only when the
  * interval deleted a value at the stored extremum WITHOUT inserting
  * one at least as extreme (if `ins_min <= del_min` the inserted value
  * already covers any death: every remaining row is >= the old min, so
  * the new min is exactly `least(stored, ins)`). Both candidate sides
  * are computed from the delta NETTED per (group, value) — `Σ_w` per
  * value tuple first, insert candidates from net > 0, death detectors
  * from net < 0 — so a transient value inserted and deleted within the
  * interval (across commits) and CoW copy-back pairs cancel exactly
  * instead of corrupting the fold or falsely covering a real death,
  * which makes the `ins <= del` cover inequality sound.
  * The recompute is a ONE-JOB scan of the source
  * restricted to the dirty groups (semi join by group hash), O(dirty
  * groups' rows) — proportional to extremum churn, not the table; a
  * view whose extrema never die never rescans, and a COUNT/SUM-only
  * view never rescans at all.
  *
  * An optional `WHERE` predicate (over source columns, head logical
  * names) restricts the view to matching rows. COUNT/SUM stay
  * self-maintainable under a filter because the SIGNED delta commutes
  * with it: a row updated across the predicate boundary contributes
  * its −1 pre-image inside the filter (decrement) and its +1 post-
  * image outside it (dropped), exactly the net the filtered aggregate
  * needs.
  *
  * `refresh()` is O(delta), never a rescan:
  *  1. reads the source commits in `(lastRefreshed, head]` as a
  *     SIGNED row delta ([[Instance.weightedDelta]]): rows visible
  *     after each commit weigh +1, rows visible before it −1,
  *     restricted to touched files — no per-row identity joins; a
  *     CoW copy-back contributes ±1 to its group and cancels. The
  *     delta is aligned to the head's LOGICAL column names by fixed
  *     physical identity, so a mid-interval column rename folds
  *     pre-rename rows into the right group instead of NULLs;
  *  2. folds the weights into per-group deltas: `Σw` is the count
  *     delta and `Σ(c·w)` the sum delta — one map-side-combinable
  *     aggregation over the delta rows only;
  *  3. MERGEs the deltas into the view by group hash — groups whose
  *     count reaches zero are deleted, unseen groups insert — and
  *     marks the source head in the SAME commit via the appTxns
  *     watermark, so refresh is atomic, crash-safe, and idempotent: a
  *     replayed refresh of the same head lands nothing.
  *
  * Concurrent refreshers that observed DIFFERENT heads are serialized
  * by a FENCED watermark ([[Txn.markEpoch]] `fence = true`): the
  * slower refresher's commit conflicts with any interleaved watermark
  * movement, and on conflict (or on a snapshot that already carries a
  * newer watermark) refresh RESTARTS from the advanced watermark with
  * a freshly computed delta — it never re-merges a delta whose base
  * interval another refresher partially folded (which would apply the
  * overlap twice).
  *
  * At 100 TB the refresh cost is proportional to the day's churn, not
  * the table: the delta aggregation shuffles one partial row per
  * (group × partition), and the MERGE prunes view files by the group
  * hashes' range exactly like any keyed write. Group-key hash
  * collisions (two groups on one 64-bit `obj_id`) would fold two
  * groups together; at the birthday bound that needs ~2³² distinct
  * groups — beyond it, widen the key with a second hash column.
  *
  * Reference analog: db-core keeps derived per-object summaries
  * current under the same WAL the data writes ride
  * (src/storage/free_info.rs); here the change feed plays the WAL and
  * the view table the summary.
  *
  * NULL semantics match SQL GROUP BY: null group keys form their own
  * group; `sum_<c>` ignores null addends (`cnt` still counts the
  * row) and is NULL while `nn_<c> = 0`. Columns added to the source
  * after creation refresh as nulls for pre-existing versions (the
  * delta aligns schemas by physical identity). */
final class MaterializedAggView private (
    val source: Instance, val view: Instance,
    val dimJoins: Seq[MaterializedAggView.DimJoin],
    // the persisted definition: besides the create-time column names
    // it pins each group/sum/min/max/ndv column's and join key's fixed
    // PHYSICAL name IN ITS OWNING RELATION (refresh re-resolves them to
    // that relation's head logical names, so renaming a view column in
    // the fact OR a dimension neither breaks the refresh nor, worse,
    // folds pre-rename rows into the NULL group) and the owning
    // relation of every group/sum column
    private[acid] val d: MaterializedAggView.MvDef) {

  def groupCols: Seq[String] = d.groupCols
  def sumCols: Seq[String] = d.sumCols
  def minCols: Seq[String] = d.minCols
  def maxCols: Seq[String] = d.maxCols
  def where: Option[String] = d.where
  // approximate-distinct columns: `ndv_<c>` stores a DataSketches HLL
  // sketch per group (binary). Inserts UNION in (mergeable); a
  // net-removed value marks the group for a targeted recompute —
  // sketches cannot subtract. Plain (fact-only) views only.
  def ndvCols: Seq[String] = d.ndvCols

  /** First dimension, if any — compatibility accessor for the
    * single-dim surface (mv_status, older callers). */
  def dimJoin: Option[MaterializedAggView.DimJoin] = dimJoins.headOption

  // CANONICAL root spelling (Hadoop Path normalization collapses
  // duplicate slashes and folds file:/// to file:/): the watermark's
  // appId must not depend on how the caller spelled the view path, or
  // a refresher opened via one spelling (the streaming sink's
  // refreshViews option) records a watermark a reader opened via
  // another (the SQL catalog's mv_status) can never see
  private def appId: String =
    "mv:" + new org.apache.hadoop.fs.Path(view.root).toString

  private def rels: Seq[Instance] = source +: dimJoins.map(_.dim)

  private lazy val sumStore: String => DataType =
    MaterializedAggView.sumStore(
      StructType.fromDDL(view.tableStateAt(view.latestVersion).ddl))

  /** Version of the source the view currently reflects (-1 = never
    * refreshed; the first refresh folds the HEAD SNAPSHOT at +1 — the
    * telescoped equivalent of folding the whole history, one scan,
    * immune to vacuumed pre-images — see [[fullFold]]). */
  def refreshedVersion: Long = view.lastCommittedEpoch(appId).getOrElse(-1L)

  /** The view's stored groups with derived `avg_<c>` columns and, for
    * ndv columns, `approx_ndv_<c>` estimates (0 for a group whose
    * values are all null — matching `count(distinct c)` semantics). */
  def read(): DataFrame = {
    val base = view.read()
    val withAvg = sumCols.foldLeft(base)((df, c) =>
      df.withColumn(s"avg_$c",
        col(s"sum_$c").cast("double") / col("cnt").cast("double")))
    ndvCols.foldLeft(withAvg)((df, c) =>
      df.withColumn(s"approx_ndv_$c",
        when(col(s"ndv_$c").isNull, lit(0L))
          .otherwise(hll_sketch_estimate(col(s"ndv_$c")))))
  }

  // restart signal: the watermark we derived the delta from moved —
  // control flow only, never escapes refresh()
  private final class StaleWatermark extends RuntimeException

  // one fenced watermark per dimension; index 0 keeps the legacy
  // "#dim" spelling so single-dim views created before multi-dim
  // support carry their watermark forward unchanged
  private def appIdDim(i: Int): String =
    if (i == 0) appId + "#dim" else appId + s"#dim$i"

  /** Version of dimension `i` the view currently reflects. */
  def refreshedDimVersion(i: Int): Long =
    view.lastCommittedEpoch(appIdDim(i)).getOrElse(-1L)

  /** First dimension's reflected version (single-dim compatibility). */
  def refreshedDimVersion: Long = refreshedDimVersion(0)

  /** How the LAST [[refresh]] call applied its interval — "noop" (no
    * new commits), "incremental" (signed-delta fold + MERGE),
    * "initial" (first build: one telescoped snapshot fold), or
    * "rebuild" (full rebuild fallback: the interval referenced
    * vacuum-reclaimed pre-images, or was longer than
    * [[EngineConf.mvRebuildMaxInterval]]). Diagnostic only. */
  @volatile var lastRefreshMode: String = "none"

  /** The COMPLETE view contents at `(head, headD)` — one snapshot
    * scan (plus the dim snapshot join for join views), no history
    * read. This is the telescoped identity behind the initial build:
    * `weightedDelta(0, head)` sums (post − pre) over every commit,
    * which telescopes to `snapshot(head)` at weight +1 — so the first
    * fold costs one table scan instead of O(total historical churn)
    * pre-image reads, and never touches a file vacuum may have
    * reclaimed. The same fold is the rebuild fallback for a refresh
    * whose incremental interval is no longer readable. Reference
    * analog: recovery reads the checkpoint, not the whole WAL
    * (io.rs:260-289). */
  private def fullFold(b: MaterializedAggView.Binding, head: Long,
      headDs: Seq[Long]): DataFrame = {
    val f0 = source.snapshot(head)
    val f = where.fold(f0)(p => f0.filter(expr(p)))
    val rows =
      if (dimJoins.isEmpty) f.select(b.columns(0): _*)
      else b.starJoin(b.normalized(f, 0, Some(1L)),
        dimJoins.indices.map(i => b.normalized(
          dimJoins(i).dim.snapshot(headDs(i)), i + 1, Some(1L))), 1L)
        .drop("_w")
    val aggs: Seq[Column] =
      count(lit(1)).as("cnt") +:
      (sumCols.flatMap(c => Seq(
        sum(col(c).cast(sumStore(c))).cast(sumStore(c)).as(s"sum_$c"),
        count(col(c)).as(s"nn_$c"))) ++
       minCols.map(c => min(col(c)).as(s"min_$c")) ++
       maxCols.map(c => max(col(c)).as(s"max_$c")) ++
       ndvCols.map(c => hll_sketch_agg(col(c),
         MaterializedAggView.NdvLgK).as(s"ndv_$c")))
    rows.groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("obj_id", xxhash64(groupCols.map(col): _*))
      .select(("obj_id" +: groupCols ++: "cnt" +:
        (sumCols.flatMap(c => Seq(s"sum_$c", s"nn_$c")) ++
         minCols.map(c => s"min_$c") ++ maxCols.map(c => s"max_$c") ++
         ndvCols.map(c => s"ndv_$c")))
        .map(col): _*)
  }

  def refresh(): Long = {
    var forceRebuild = false
    while (true) {
      val head = source.latestVersion
      // ONE watermark walk per loop iteration serves the fact and
      // every dimension (each lastCommittedEpoch call would otherwise
      // re-walk manifests back to the last checkpoint — 1+k metadata
      // round-trip sets per attempt on an object store)
      val wmHead = view.appTxnsAt(view.latestVersion)
      val initial = !wmHead.contains(appId) || wmHead(appId) < 0
      val last = math.max(0L, wmHead.getOrElse(appId, -1L))
      val headDs: Seq[Long] = dimJoins.map(_.dim.latestVersion)
      val lastDs: Seq[Long] = dimJoins.indices.map(i =>
        math.max(0L, wmHead.getOrElse(appIdDim(i), -1L)))
      if (head <= last &&
          dimJoins.indices.forall(i => headDs(i) <= lastDs(i))) {
        lastRefreshMode = "noop"; return head
      }
      // a fold (snapshot or incremental) is valid ONLY against the
      // watermarks it was derived from: if a rival refresher advanced
      // one (visible in this snapshot, or surfaced as a fence conflict
      // that re-ran the commit body), the overlap of the two intervals
      // must not fold twice — restart from the new watermarks (one walk
      // for all sides). Each watermark MOVES only when its side
      // advanced (a re-mark at the SAME epoch would read as
      // already-committed and silently skip the fold), but a join view
      // FENCES every side regardless: the delta was derived from ALL
      // the watermarks, so two refreshers that each observed only one
      // side's churn must still collide — otherwise both merges land on
      // disjoint appIds and the cross terms are never applied
      // (fenceEpoch watches without moving)
      def fence(t: Txn): Unit = {
        val wmNow = view.appTxnsAt(t.readVersion)
        if (wmNow.get(appId).exists(w => math.max(0L, w) != last) ||
            dimJoins.indices.exists(i => wmNow.get(appIdDim(i))
              .exists(w => math.max(0L, w) != lastDs(i))))
          throw new StaleWatermark
        if (head > last) t.markEpoch(appId, head, fence = true)
        else if (dimJoins.nonEmpty) t.fenceEpoch(appId)
        dimJoins.indices.foreach { i =>
          if (headDs(i) > lastDs(i))
            t.markEpoch(appIdDim(i), headDs(i), fence = true)
          else t.fenceEpoch(appIdDim(i))
        }
      }
      // the view columns' fixed physical names resolved to each
      // relation's HEAD logical names: the deltas are head-aligned, so
      // a rename mid-interval is transparent — unless the column was
      // dropped, which has no incremental answer
      lazy val atHead =
        new MaterializedAggView.Binding(d, rels, head +: headDs)
      // rebuild triggers: the interval's pre-images may be reclaimed
      // (vacuum horizon, or a FileNotFound already surfaced below), or
      // the catch-up interval is long enough that a bounded-plan
      // snapshot rebuild beats an O(interval) incremental fold
      val vacuumStale = !initial &&
        ((head > last && last < source.vacuumHorizon) ||
         dimJoins.indices.exists(i =>
           headDs(i) > lastDs(i) &&
           lastDs(i) < dimJoins(i).dim.vacuumHorizon))
      val longInterval =
        (head - last) > source.conf.mvRebuildMaxInterval ||
        dimJoins.indices.exists(i =>
          (headDs(i) - lastDs(i)) >
            dimJoins(i).dim.conf.mvRebuildMaxInterval)
      // inclusion–exclusion width guard: k churning sides plan
      // 2^k - 1 union terms; past the cap the bounded snapshot
      // rebuild (one join, O(table)) beats an exponentially wide
      // incremental plan. Routine cadences (fact-only, fact + one
      // dim) never come near it.
      val changedSides = (if (head > last) 1 else 0) +
        dimJoins.indices.count(i => headDs(i) > lastDs(i))
      val tooManySides = changedSides > source.conf.mvMaxChangedSides
      if (initial || forceRebuild || vacuumStale || longInterval ||
          tooManySides) {
        val full = fullFold(atHead, head, headDs)
        try {
          JobLabel(view.spark, "mv:snapshot-fold") {
          view.withRetry() { t =>
            fence(t)
            // truncate + insert in ONE commit: stale groups (dead in
            // the lost interval) must not linger, and the saturated
            // truncate summary conflicts with any rival merge.
            // No isEmpty pre-probe: that ran the whole fold a second
            // time — writeStaged drops zero-row part files (an
            // all-empty fold keeps one empty part, so the commit still
            // publishes and the watermark still advances)
            t.truncate()
            t.insert(full)
          }
          }
          lastRefreshMode = if (initial) "initial" else "rebuild"
          return head
        } catch {
          case _: EpochAlreadyCommittedException =>
            lastRefreshMode = if (initial) "initial" else "rebuild"
            return head
          case _: StaleWatermark => ()
        }
      } else try {
      // the signed row delta — NOT the classified change feed: an
      // aggregate needs net multiplicities only, and weightedDelta skips
      // the feed's per-row identity diff (copy-backs cancel in the Σ)
      val weighted = MaterializedAggView.signedDelta(d, rels,
        last +: lastDs, head +: headDs)
      // min/max and ndv columns all consume the NETTED per-(group,
      // value) multiplicities below
      val mmCols = (minCols ++ maxCols ++ ndvCols).distinct
      // the delta is consumed once for the base aggregates plus once
      // per min/max/ndv column (the netting pass below): materialize
      // it so the file-restricted scans don't re-run per consumer, and
      // the lineage stays bounded
      // single-extremum/ndv no-sum views fold base + candidates from
      // ONE materialized netting pass (sharedPerValue below) — the raw
      // delta then has a single consumer and needs no checkpoint
      val singleNet = sumCols.isEmpty && mmCols.size == 1
      val weightedShared =
        if (mmCols.isEmpty || singleNet) weighted
        else JobLabel(view.spark, "mv:delta-ckpt")(weighted.localCheckpoint())
      // single-extremum/ndv views with no sum columns (the COUNT +
      // MIN/MAX or COUNT + NDV shape): the per-(group, value) netting
      // pass below already carries every delta row's weight, so the
      // base count FOLDS FROM IT — Σ over a group's value-nets is the
      // group's Σ_w (values netting to 0 contribute 0 either way, and
      // a group whose every value cancels is equivalently absent: its
      // base row would be cnt=0 with no candidate activity, which the
      // delta filter drops). One materialized netting pass replaces
      // two full scans of the delta. Views with sums keep the raw
      // base scan (the weighted sum needs the un-netted rows).
      val sharedPerValue: Option[DataFrame] =
        if (singleNet)
          Some(JobLabel(view.spark, "mv:delta-net")(weightedShared
            .groupBy((groupCols :+ mmCols.head).distinct.map(col): _*)
            .agg(sum(col("_w")).as("_net"))
            .filter(col("_net") =!= 0L)
            .localCheckpoint()))
        else None
      val baseAggs: Seq[Column] =
        MaterializedAggView.signedPartials(sumCols, sumStore).map {
          // Sum re-caps decimal precision: the group's sum_<c> goes
          // back to the stored type, landing EXACTLY as the view
          // stores it
          case (n, e) if n.startsWith("sum_") =>
            sum(e).cast(sumStore(n.stripPrefix("sum_"))).as(n)
          case (n, e) => sum(e).as(n)
        }
      val base = (sharedPerValue match {
        case Some(pv) => pv.groupBy(groupCols.map(col): _*)
          .agg(sum(col("_net")).as("cnt"))
        case None => weightedShared
          .groupBy(groupCols.map(col): _*)
          .agg(baseAggs.head, baseAggs.tail: _*)
      }).withColumn("obj_id", xxhash64(groupCols.map(col): _*))
      // inserted/deleted extremum candidates of the interval, from the
      // NETTED per-(group, value) multiplicities — NOT the raw signed
      // rows: a value inserted and deleted in SEPARATE commits of one
      // interval (or a CoW copy-back pair split across commits) sums
      // to net 0 and contributes to NEITHER side. Raw-row candidates
      // would surface such a transient value on BOTH sides — as an
      // insert candidate it corrupts the least/greatest fold with a
      // value no longer in the table, and as a delete candidate it
      // falsely "covers" a genuine extremum death through the
      // ins <= del test, skipping the recompute. Net > 0 values are
      // the true insert candidates (merge's least/greatest input and
      // the unmatched-INSERT value); net < 0 the true death detectors.
      val withCand = mmCols.foldLeft(base) { (acc, c) =>
        val perValue = sharedPerValue.getOrElse(weightedShared
          .groupBy((groupCols :+ c).distinct.map(col): _*)
          .agg(sum(col("_w")).as("_net"))
          .filter(col("_net") =!= 0L))
        val candAggs: Seq[Column] =
          (if (minCols.contains(c)) Seq(
            min(when(col("_net") > 0, col(c))).as(s"min_$c"),
            min(when(col("_net") < 0, col(c))).as(s"del_min_$c")) else Nil) ++
          (if (maxCols.contains(c)) Seq(
            max(when(col("_net") > 0, col(c))).as(s"max_$c"),
            max(when(col("_net") < 0, col(c))).as(s"del_max_$c")) else Nil) ++
          // ndv: net-inserted values union into the sketch; ANY
          // net-removed non-null value marks the group (a sketch
          // cannot subtract — conservative: the value may survive in
          // other rows, costing one bounded recompute, never a wrong
          // estimate)
          (if (ndvCols.contains(c)) Seq(
            // NULL (not an empty sketch) when the interval inserted no
            // values: a cancelling interval must not read as activity
            when(max(when(col("_net") > 0 && col(c).isNotNull, lit(true))),
              hll_sketch_agg(when(col("_net") > 0, col(c)),
                MaterializedAggView.NdvLgK))
              .as(s"ndv_$c"),
            max(when(col("_net") < 0 && col(c).isNotNull, lit(true)))
              .as(s"del_ndv_$c")) else Nil)
        val candNames =
          (if (minCols.contains(c)) Seq(s"min_$c", s"del_min_$c") else Nil) ++
          (if (maxCols.contains(c)) Seq(s"max_$c", s"del_max_$c") else Nil) ++
          (if (ndvCols.contains(c)) Seq(s"ndv_$c", s"del_ndv_$c") else Nil)
        // joined back by group hash (null group keys hash like values)
        val cand = perValue.groupBy(groupCols.map(col): _*)
          .agg(candAggs.head, candAggs.tail: _*)
          .withColumn("_mmid", xxhash64(groupCols.map(col): _*))
          .select(("_mmid" +: candNames).map(col): _*)
        acc.join(cand, col("obj_id") === col("_mmid"), "left").drop("_mmid")
      }
      val delta = withCand
        // an interval whose effects cancel exactly (e.g. an update that
        // kept the group and the summed values) must neither rewrite
        // the group's file nor insert a zero group; nn participates —
        // a NULL→0 update moves nn without moving cnt or the sum —
        // and any min/max activity keeps the group in play (the merge
        // decides whether it actually changes anything)
        .filter(col("cnt") =!= 0L || (sumCols.map(c =>
          coalesce(col(s"sum_$c"), lit(0L)) =!= 0L ||
            col(s"nn_$c") =!= 0L) ++
          minCols.map(c => col(s"min_$c").isNotNull ||
            col(s"del_min_$c").isNotNull) ++
          maxCols.map(c => col(s"max_$c").isNotNull ||
            col(s"del_max_$c").isNotNull) ++
          ndvCols.map(c => col(s"ndv_$c").isNotNull ||
            coalesce(col(s"del_ndv_$c"), lit(false))))
          .foldLeft(lit(false))(_ || _))
        .select(("obj_id" +: groupCols ++: "cnt" +:
          (sumCols.flatMap(c => Seq(s"sum_$c", s"nn_$c")) ++
           minCols.flatMap(c => Seq(s"min_$c", s"del_min_$c")) ++
           maxCols.flatMap(c => Seq(s"max_$c", s"del_max_$c")) ++
           ndvCols.flatMap(c => Seq(s"ndv_$c", s"del_ndv_$c"))))
          .map(col): _*)
        view.withRetry() { t =>
          fence(t)
          // min/max death repair: groups whose stored extremum the
          // interval deleted without covering (see class doc) get
          // ABSOLUTE recomputed values from the head snapshot, scanned
          // once and restricted to exactly those groups by group hash
          val deltaFinal =
            if (minCols.isEmpty && maxCols.isEmpty && ndvCols.isEmpty) delta
            else {
              val stored = t.read().select((col("obj_id").as("_vid") +:
                minCols.map(c => col(s"min_$c").as(s"_t_min_$c")) ++:
                maxCols.map(c => col(s"max_$c").as(s"_t_max_$c"))): _*)
              val joined = delta.join(stored,
                col("obj_id") === col("_vid"), "left")
              val dirtyCond =
                ((minCols.map(c =>
                  col(s"del_min_$c").isNotNull && col("_vid").isNotNull &&
                  (col(s"_t_min_$c").isNull ||
                    col(s"del_min_$c") <= col(s"_t_min_$c")) &&
                  (col(s"min_$c").isNull ||
                    col(s"min_$c") > col(s"del_min_$c"))) ++
                 maxCols.map(c =>
                  col(s"del_max_$c").isNotNull && col("_vid").isNotNull &&
                  (col(s"_t_max_$c").isNull ||
                    col(s"del_max_$c") >= col(s"_t_max_$c")) &&
                  (col(s"max_$c").isNull ||
                    col(s"max_$c") < col(s"del_max_$c")))) match {
                  case Nil => lit(false)
                  case cs => cs.reduce(_ || _)
                })
              val flagged = joined.withColumn("_dirty",
                coalesce(dirtyCond, lit(false)))
              // ndv has no cover inequality: any net-removed value in
              // a SURVIVING group forces its recompute (sketches
              // cannot subtract); a fully-dying group is deleted by
              // the merge instead
              val anyNdvDel = ndvCols
                .map(c => coalesce(col(s"del_ndv_$c"), lit(false)) &&
                  col("_vid").isNotNull)
                .foldLeft(lit(false))(_ || _)
              val dirtyKeys = flagged
                .filter(col("_dirty") || anyNdvDel)
                .select(col("obj_id").as("_did"))
              // ONE bounded scan: head snapshot, the view's predicate,
              // restricted to dirty groups by hash (null group keys
              // hash like any value, so no null-join pitfalls)
              val srcRows = where.fold(source.snapshot(head))(p =>
                source.snapshot(head).filter(expr(p)))
                .select((groupCols.map(atHead.col) ++
                  (minCols ++ maxCols ++ ndvCols).distinct.map(atHead.col)): _*)
                .withColumn("_sid", xxhash64(groupCols.map(col): _*))
                .join(dirtyKeys, col("_sid") === col("_did"), "left_semi")
              val absAggs =
                minCols.map(c => min(col(c)).as(s"_abs_min_$c")) ++
                maxCols.map(c => max(col(c)).as(s"_abs_max_$c")) ++
                // absolute sketch; NULL when the surviving group has
                // no non-null values left (estimate then reads 0)
                ndvCols.map(c =>
                  when(max(col(c).isNotNull), hll_sketch_agg(col(c),
                    MaterializedAggView.NdvLgK))
                    .as(s"_abs_ndv_$c"))
              val recomputed = srcRows.groupBy(col("_sid"))
                .agg(absAggs.head, absAggs.tail: _*)
              flagged.join(recomputed,
                  col("obj_id") === col("_sid"), "left")
                .drop(("_vid" +: "_sid" +:
                  (minCols.map(c => s"_t_min_$c") ++
                   maxCols.map(c => s"_t_max_$c"))): _*)
            }
          t.merge(deltaFinal,
            matchedDelete = Some(col("t.cnt") + col("s.cnt") === 0L),
            matchedUpdate =
              Map("cnt" -> (col("t.cnt") + col("s.cnt"))) ++
              sumCols.flatMap { c =>
                val nn = col(s"t.nn_$c") + col(s"s.nn_$c")
                val zero = lit(0L).cast(sumStore(c))
                Seq(
                  s"sum_$c" -> when(nn === 0L, lit(null).cast(sumStore(c)))
                    .otherwise((coalesce(col(s"t.sum_$c"), zero) +
                      coalesce(col(s"s.sum_$c"), zero)).cast(sumStore(c))),
                  s"nn_$c" -> nn)
              }.toMap ++
              minCols.map(c => s"min_$c" ->
                when(col("s._dirty"), col(s"s._abs_min_$c"))
                  .otherwise(least(col(s"t.min_$c"), col(s"s.min_$c")))) ++
              maxCols.map(c => s"max_$c" ->
                when(col("s._dirty"), col(s"s._abs_max_$c"))
                  .otherwise(greatest(col(s"t.max_$c"), col(s"s.max_$c")))) ++
              ndvCols.map(c => s"ndv_$c" ->
                // a net-removed value invalidates the stored sketch
                // (recomputed absolute); otherwise UNION the interval's
                // insert sketch in (null-tolerant on either side)
                when(coalesce(col(s"s.del_ndv_$c"), lit(false)),
                    col(s"s._abs_ndv_$c"))
                  .otherwise(
                    when(col(s"t.ndv_$c").isNull, col(s"s.ndv_$c"))
                      .when(col(s"s.ndv_$c").isNull, col(s"t.ndv_$c"))
                      .otherwise(hll_union(
                        col(s"t.ndv_$c"), col(s"s.ndv_$c"))))),
            insertUnmatched = true)
        }
        lastRefreshMode = "incremental"
        return head
      } catch {
        // another refresher already folded this exact head — its
        // commit is the one we wanted
        case _: EpochAlreadyCommittedException =>
          lastRefreshMode = "incremental"; return head
        // watermark moved underneath us: loop and recompute from it
        case _: StaleWatermark => ()
        // a reclaimed data file surfaced mid-fold: vacuum outran this
        // view (no horizon marker warned us — lost marker, or a rival
        // vacuumed between our check and the fold). Fall back to the
        // snapshot rebuild — the same fold the initial build uses —
        // instead of dying with no recovery path.
        case e: Throwable if !forceRebuild &&
            MaterializedAggView.isMissingInput(e) =>
          forceRebuild = true
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

object MaterializedAggView {

  /** lgConfigK of every `ndv_<c>` sketch the view maintains — pinned
    * so the optimizer rewrite can prove a query's `hll_sketch_agg(c)`
    * (same default lgK) is answerable by unioning stored sketches:
    * HLL merge is register-max, so the union of per-group sketches is
    * state-identical to a sketch of the union at equal lgK. 12 is
    * Spark's own function default (rsd ~1.6%). */
  val NdvLgK = 12

  /** The relative standard deviation the stored sketches deliver —
    * 1.04/sqrt(2^lgK). An `approx_count_distinct(c, rsd)` may be
    * answered from the sketches only when rsd >= this (the substitute
    * estimate is at least as accurate as requested). */
  val NdvRsd: Double = 1.04 / math.sqrt((1L << NdvLgK).toDouble)

  /** Stored partial-sum type of summed column `c`, from the VIEW's own
    * schema (fixed at create): LongType for integral sources,
    * DECIMAL(38, s) for decimal ones — every fold, merge and
    * compensation casts to exactly what the table stores. */
  private[acid] def sumStore(viewSchema: StructType)(c: String): DataType =
    viewSchema.find(_.name == s"sum_$c").fold(LongType: DataType)(_.dataType)

  /** The partials one signed row of [[signedDelta]] adds to its group,
    * by view column name: `cnt` (its weight `_w`) and, per summed
    * column, `sum_<c>` and `nn_<c>`. `sum_<c>` is a cast sandwich — the
    * addend cast to the stored type (exact for long and DECIMAL(38, s)),
    * the ±1-weighted product cast back to it (Spark widens decimal ×
    * long precision) — and `nn_<c>` the weight of a non-null addend.
    * The refresh sums them per group; the stale rewrite unions them
    * with the view's rows as they are. */
  private[acid] def signedPartials(sumCols: Seq[String],
      store: String => DataType): Seq[(String, Column)] =
    ("cnt" -> col("_w")) +: sumCols.flatMap(c => Seq(
      s"sum_$c" -> (col(c).cast(store(c)) * col("_w")).cast(store(c)),
      s"nn_$c" -> when(col(c).isNotNull, col("_w")).otherwise(lit(0L))))

  /** A view's columns and join keys resolved from their create-time
    * PHYSICAL identity to each relation's logical names at the versions
    * `at` (`at(0)` the fact, `at(i)` dimension `i - 1`) — a rename on
    * any side is transparent and a dropped column fails loudly — plus
    * the normalized per-relation inputs the signed delta and the
    * snapshot fold share. */
  private[acid] final class Binding(d: MvDef, rels: Seq[Instance],
      at: Seq[Long]) {
    private val byPhys: Seq[Map[String, String]] = rels.zip(at).map {
      case (r, v) =>
        val st = r.tableStateAt(v)
        StructType.fromDDL(st.ddl).fields
          .map(f => st.renames.getOrElse(f.name, f.name) -> f.name).toMap
    }
    // owning relation per view column; min/max/ndv columns exist on
    // plain (fact-only) views only
    private val relOf: Map[String, Int] =
      (d.groupCols.zip(d.groupRels) ++ d.sumCols.zip(d.sumRels)).toMap
        .withDefaultValue(0)
    private val owned: Seq[String] =
      (d.groupCols ++ d.sumCols ++ d.minCols ++ d.maxCols ++ d.ndvCols)
        .distinct
    private def keys(r: Int): Seq[String] =
      if (r == 0) d.factKeys else Seq(d.dimKeys(r - 1))
    // (relation, create-time name) -> logical name at `at`, for every
    // view column and join key
    private val now: Map[(Int, String), String] = {
      val phys =
        (d.groupCols.zip(d.groupPhys) ++ d.sumCols.zip(d.sumPhys) ++
          d.minCols.zip(d.minPhys) ++ d.maxCols.zip(d.maxPhys) ++
          d.ndvCols.zip(d.ndvPhys)).map { case (c, p) => (relOf(c), c, p) } ++
        d.factKeys.zip(d.factKeyPhys).map { case (c, p) => (0, c, p) } ++
        d.dimKeys.indices.map(i => (i + 1, d.dimKeys(i), d.dimKeyPhys(i)))
      phys.map { case (r, c, p) =>
        (r, c) -> byPhys(r).getOrElse(p, throw new IllegalStateException(
          s"view column '$c' (physical '$p') no longer exists in " +
          s"${if (r == 0) "the fact table" else s"dimension ${r - 1}"} " +
          s"at v${at(r)}; drop and rebuild the view"))
      }.toMap
    }
    private def colIn(r: Int, c: String): Column =
      functions.col(now((r, c))).as(c)
    /** View column `c` read from its owning relation, spelled with its
      * create-time name. */
    def col(c: String): Column = colIn(relOf(c), c)
    /** Relation `r`'s owned view columns and join keys. */
    def columns(r: Int): Seq[Column] =
      (owned.filter(relOf(_) == r) ++ keys(r)).distinct.map(colIn(r, _))
    /** Relation `r`'s rows as [[columns]] plus weight `_w<r>` (from
      * `_w`, or the given literal). */
    def normalized(df: DataFrame, r: Int, w: Option[Long]): DataFrame =
      df.select((columns(r) :+
        w.fold(functions.col("_w"))(lit(_)).as(s"_w$r")): _*)
    /** Inner star join of normalized relation inputs: the view columns
      * plus the signed weight product `_w`. */
    def starJoin(fact: DataFrame, dims: Seq[DataFrame],
        sign: Long): DataFrame = {
      var j = fact.alias("R0")
      d.factKeys.indices.foreach { i =>
        j = j.join(dims(i).alias(s"R${i + 1}"),
          functions.col(s"R0.${d.factKeys(i)}") ===
            functions.col(s"R${i + 1}.${d.dimKeys(i)}"))
      }
      val outs = (d.groupCols ++ d.sumCols).distinct.map(c =>
        functions.col(s"R${relOf(c)}.$c").as(c))
      val w = rels.indices.map(r => functions.col(s"R$r._w$r"))
        .reduce(_ * _) * lit(sign)
      j.select((outs :+ w.as("_w")): _*)
    }
  }

  /** The SIGNED rows a view's aggregate folds over the per-relation
    * intervals `(from(r), to(r)]` (`r = 0` the fact, `r >= 1` dimension
    * `r - 1`): the view's group/sum (and, for plain views, min/max/ndv)
    * columns under their create-time names, plus the weight `_w` —
    * rows visible after each commit +1, rows visible before it −1 —
    * with the definition's WHERE applied to the fact. This is the one
    * delta both [[MaterializedAggView.refresh]] (the view's log-tail
    * replay) and the stale-view rewrite ([[MvRewriteRule]], the same
    * replay applied read-side) fold.
    *
    * A plain view's rows are the fact's [[Instance.weightedDelta]]. A
    * join/star view's are the SIGNED delta of F ⨝ D1 ⨝ … ⨝ Dk by
    * inclusion–exclusion over the CHANGED relations: expanding
    * Π r_new − Π (r_new − Δr) gives
    *   Δ(Π r) = Σ_{∅≠S⊆changed} (−1)^{|S|+1} · Π_{r∈S} Δr ⨝ Π_{r∉S} r_new
    * Weights multiply through the join, so dim group moves, key
    * retargets, deletes and duplicate keys all fall out of the algebra;
    * QUIET relations never appear as deltas, so a fact-only interval
    * costs exactly one term, and a single-dim view gets the classic
    * ΔF⨝D_new + F_new⨝ΔD − ΔF⨝ΔD. Every snapshot in a term is SEMI-JOIN
    * restricted to the keys the term's deltas can match — lossless for
    * an inner join — so reads stay O(churn), unless the manifest's row
    * counts bound the snapshot under [[Instance.MvSemiRestrictMinRows]].
    * Every relation binds by create-time PHYSICAL identity at `to`
    * ([[Binding]]), so renames on any side are transparent.
    *
    * With three or more changed relations each changed delta (it
    * appears in 2^(k-1) terms) is materialized once with
    * `localCheckpoint` — a Spark job. The stale rewrite runs inside the
    * optimizer, where no job may start, so it never passes more than
    * two changed relations. */
  private[acid] def signedDelta(d: MvDef, rels: Seq[Instance],
      from: Seq[Long], to: Seq[Long]): DataFrame = {
    val b = new Binding(d, rels, to)
    def whereF(df: DataFrame): DataFrame =
      d.where.fold(df)(p => df.filter(expr(p)))
    def delta(r: Int): DataFrame = {
      val w = rels(r).weightedDelta(from(r), to(r), alignToHead = true)
      if (r == 0) whereF(w) else w
    }
    if (rels.size == 1) return delta(0).select((b.columns(0) :+ col("_w")): _*)
    val changed = rels.indices.filter(r => to(r) > from(r))
    val deltas: Map[Int, DataFrame] = changed.map { r =>
      val n = b.normalized(delta(r), r, None)
      r -> (if (changed.size >= 3)
        JobLabel(rels(r).spark, "mv:delta-ckpt")(n.localCheckpoint())
      else n)
    }.toMap
    // memoized: a snapshot appears in up to 2^(k-1) terms — one shared
    // DataFrame keeps the relations canonically identical, so the file
    // listing happens once and exchange reuse can kick in across terms
    val snapMemo = scala.collection.mutable.Map.empty[Int, DataFrame]
    def snap(r: Int): DataFrame = snapMemo.getOrElseUpdate(r, {
      val s = rels(r).snapshot(to(r))
      b.normalized(if (r == 0) whereF(s) else s, r, Some(1L))
    })
    val tiny: Seq[Boolean] = rels.indices.map(r =>
      rels(r).approxRowBound(to(r))
        .exists(_ <= Instance.MvSemiRestrictMinRows))
    val terms = (1 until (1 << changed.size)).map { m =>
      val s = changed.indices.collect {
        case j if (m & (1 << j)) != 0 => changed(j) }.toSet
      val sign = if (s.size % 2 == 1) 1L else -1L
      // fact component: its own delta, or the snapshot restricted to
      // keys each in-term dim delta can match
      val fact0 =
        if (s(0)) deltas(0)
        else if (tiny(0)) snap(0)
        else s.toSeq.sorted.foldLeft(snap(0)) { (f, r) =>
          val i = r - 1
          val probe = deltas(r)
            .select(col(d.dimKeys(i)).as(s"_k$i")).distinct()
          f.join(probe, col(d.factKeys(i)) === col(s"_k$i"), "left_semi")
        }
      // dim components: delta if in-term, else the snapshot restricted
      // to the fact component's join keys
      val dims = d.dimKeys.indices.map { i =>
        if (s(i + 1)) deltas(i + 1)
        else if (tiny(i + 1)) snap(i + 1)
        else {
          val probe = fact0
            .select(col(d.factKeys(i)).as(s"_k$i")).distinct()
          snap(i + 1).join(probe,
            col(d.dimKeys(i)) === col(s"_k$i"), "left_semi")
        }
      }
      b.starJoin(fact0, dims, sign)
    }
    terms.reduce(_.unionByName(_))
  }

  /** Does this failure chain bottom out in a missing input file — the
    * signature of a refresh interval whose pre-images vacuum already
    * reclaimed? Spark wraps the task's FileNotFoundException in
    * several layers (SparkException, AnalysisException for a missing
    * path at plan time), so both the cause chain and the message text
    * are probed. Used only to choose the rebuild fallback — a false
    * positive costs one snapshot rebuild, never a wrong answer. */
  private[graft] def isMissingInput(e: Throwable): Boolean = {
    var t: Throwable = e
    var depth = 0
    while (t != null && depth < 20) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = t.getMessage
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("PATH_NOT_FOUND") ||
          m.contains("FILE_NOT_EXIST") ||
          m.contains("does not exist")))
        return true
      t = t.getCause; depth += 1
    }
    false
  }

  /** One dimension side of a JOIN view: `view = fact JOIN dim ON
    * fact.factKey = dim.dimKey`, stackable — a star view joins the
    * fact against SEVERAL dims (`create(..., dimJoins = Seq(...))`),
    * grouped/summed over columns from ANY side (COUNT/SUM only).
    * Maintained by the inclusion–exclusion signed-delta algebra over
    * all relations (see [[MaterializedAggView.refresh]]); view
    * columns and join keys bind by create-time PHYSICAL identity on
    * every side, so renames anywhere are transparent and a dropped
    * column breaks the view loudly. `dimSpec` is the persisted source
    * spec of the dimension. */
  final case class DimJoin(dim: Instance, factKey: String, dimKey: String,
      dimSpec: String = "")

  /** Best-effort dependent-view registry under a SOURCE table's root
    * (`_mv_registry.json`): [[create]] registers the new view's root
    * with its fact AND every dimension, so an operator can DISCOVER
    * the views a table feeds (`CALL system.list_mvs('ns.t')`) before
    * vacuuming aggressively or dropping the table. Discovery metadata
    * only — the authoritative definition lives under the view root; a
    * registration lost to a racing create (read-modify-rename) or a
    * stale entry pointing at a dropped view degrades the LISTING,
    * never correctness (refresh carries its own vacuum fallback). */
  private val RegistryFile = "_mv_registry.json"

  /** View roots registered against `table` (fact or dim side). */
  private[acid] def registeredViews(table: Instance): Seq[String] =
    registeredViews(table.fs, table.root)

  private[acid] def registeredViews(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Seq[String] =
    try MetaJson.read(fs, new org.apache.hadoop.fs.Path(root, RegistryFile))
      .fold(Seq.empty[String])(s =>
        MetaJson.strings(MetaJson.parse(s).path("views")))
    catch { case _: java.io.IOException => Nil }

  private def registerView(table: Instance, viewRoot: String): Unit = try {
    val canon = new org.apache.hadoop.fs.Path(viewRoot).toString
    // read-modify-rename is lost-update racy (two concurrent creates
    // both read, last rename wins): each writer VERIFIES its own entry
    // landed and retries, so concurrent registrations converge — each
    // retry folds in whatever the other writer published
    var attempts = 0
    while (attempts < 4 && !registeredViews(table).contains(canon)) {
      val cur = registeredViews(table)
      if (!cur.contains(canon)) writeRegistry(table, cur :+ canon)
      attempts += 1
    }
  } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  /** Remove `viewRoot` from `table`'s registry — [[dropView]]'s half
    * of the lifecycle. Best-effort like registration (same
    * verify-and-retry): a survivor entry only makes `list_mvs` report
    * a stale row, never breaks a refresh. An emptied registry file is
    * deleted outright. */
  private[acid] def deregisterView(table: Instance,
      viewRoot: String): Unit = try {
    val canon = new org.apache.hadoop.fs.Path(viewRoot).toString
    var attempts = 0
    while (attempts < 4 && registeredViews(table).contains(canon)) {
      val next = registeredViews(table).filterNot(_ == canon)
      if (next.isEmpty)
        table.fs.delete(
          new org.apache.hadoop.fs.Path(table.root, RegistryFile), false)
      else writeRegistry(table, next)
      attempts += 1
    }
  } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  private def writeRegistry(table: Instance, views: Seq[String]): Unit =
    MetaJson.replace(table.fs,
      new org.apache.hadoop.fs.Path(table.root, RegistryFile),
      MetaJson.obj(MetaJson.strings(_, "views", views)))

  /** Whether `root` holds a materialized view's persisted definition
    * (the catalog's rename hook asks before treating a moved table as
    * a view). */
  private[acid] def isViewRoot(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Boolean =
    try fs.exists(new org.apache.hadoop.fs.Path(root, DefFile))
    catch { case _: java.io.IOException => false }

  /** Re-point a source table's registry entry after a VIEW rename. */
  private[acid] def moveRegistration(table: Instance,
      oldViewRoot: String, newViewRoot: String): Unit = {
    deregisterView(table, oldViewRoot)
    registerView(table, newViewRoot)
  }

  /** Carry a renamed view's refresh watermarks to its new identity.
    * The watermark appIds embed the CANONICAL view root ("mv:<root>",
    * see appId) — after a rename the old marks are unreachable and a
    * refresh would re-fold the snapshot into the already-populated
    * view (double counting). Re-marking every `mv:<oldRoot>`-prefixed
    * epoch under the new prefix is one ordinary commit on the view
    * table; the orphaned old marks age out via appTxn retention. */
  private[acid] def migrateWatermarks(spark: SparkSession,
      oldRoot: String, newRoot: String): Unit = {
    val view = VersionedTable.open(spark, newRoot)
    val oldApp = "mv:" + new org.apache.hadoop.fs.Path(oldRoot).toString
    val newApp = "mv:" + new org.apache.hadoop.fs.Path(newRoot).toString
    if (oldApp == newApp) return
    val cur = view.appTxnsAt(view.latestVersion)
    // only ever ADVANCE the new identity's marks (a rename bounced
    // back and forth leaves stale marks under both prefixes; marking
    // an equal epoch throws, and marking a LOWER one would regress
    // the watermark and double-fold the interval on next refresh)
    val moves = cur.collect {
      case (k, v) if k == oldApp || k.startsWith(oldApp + "#") =>
        (newApp + k.stripPrefix(oldApp)) -> v
    }.filter { case (k, v) => v > cur.getOrElse(k, -1L) }
    if (moves.nonEmpty) view.withRetry() { t =>
      moves.foreach { case (k, v) => t.markEpoch(k, v) }
    }
  }

  /** Drop a view: de-register it from its fact and every dimension,
    * then delete the view table's directory. The delete is the
    * authoritative step; de-registration is best-effort (a view whose
    * definition no longer opens is still dropped — its registry
    * entries then surface as notes in `list_mvs` until re-written).
    * Returns false if the view root didn't exist. */
  def dropView(spark: SparkSession, viewRoot: String): Boolean = {
    try {
      val mv = openFromDef(spark, viewRoot)
      (mv.source +: mv.dimJoins.map(_.dim))
        .foreach(t => deregisterView(t, viewRoot))
    } catch { case scala.util.control.NonFatal(_) => () }
    val p = new org.apache.hadoop.fs.Path(viewRoot)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val dropped = fs.exists(p) && fs.delete(p, true)
    // the rewrite rule memoizes candidates for up to its TTL: without
    // this, a query planned in the window after the drop would be
    // rewritten to scan the DELETED view root and fail where the
    // un-rewritten plan would have succeeded against the source
    if (dropped) MvRewriteRule.invalidateCache()
    dropped
  }

  /** Definition side file under the view root — written ONCE at create
    * (the definition is immutable), so [[openFromDef]] and the SQL
    * `CALL system.refresh_mv` need no re-specification. `source` is
    * the creating surface's spec: an absolute table root (API create)
    * or a dotted catalog name (SQL create_mv), kept for display and
    * catalog operations; opening binds by the recorded paths. */
  private val DefFile = "_mv.json"

  private def writeDef(view: Instance, d: MvDef): Unit = {
    val json = MetaJson.obj { g =>
      def arr(k: String, xs: Seq[String]) = MetaJson.strings(g, k, xs)
      g.writeStringField("source", d.source)
      // the AUTHORITATIVE binding: `source`/`dimSources` may be dotted
      // catalog names (display + catalog ops), but two registered
      // catalogs can both resolve the same dotted name — opening binds
      // by the physical root recorded at create time, never by a
      // which-catalog-answers-first guess
      g.writeStringField("sourcePath", d.sourcePath)
      arr("groupCols", d.groupCols); arr("sumCols", d.sumCols)
      arr("minCols", d.minCols); arr("maxCols", d.maxCols)
      arr("groupPhys", d.groupPhys); arr("sumPhys", d.sumPhys)
      arr("minPhys", d.minPhys); arr("maxPhys", d.maxPhys)
      arr("ndvCols", d.ndvCols); arr("ndvPhys", d.ndvPhys)
      d.where.foreach(g.writeStringField("where", _))
      arr("dimSources", d.dimSources); arr("dimPaths", d.dimPaths)
      arr("factKeys", d.factKeys); arr("dimKeys", d.dimKeys)
      arr("groupRels", d.groupRels.map(_.toString))
      arr("sumRels", d.sumRels.map(_.toString))
      arr("factKeyPhys", d.factKeyPhys); arr("dimKeyPhys", d.dimKeyPhys)
    }
    val out = view.fs.create(
      new org.apache.hadoop.fs.Path(view.root, DefFile), false)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Parsed [[DefFile]] contents. The per-dimension arrays are empty on
    * fact-only views; `groupRels`/`sumRels` name each group/sum
    * column's owning relation (0 = fact, i >= 1 = dimension i-1). */
  private[acid] final case class MvDef(source: String, sourcePath: String,
      groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String],
      where: Option[String],
      groupPhys: Seq[String], sumPhys: Seq[String],
      minPhys: Seq[String], maxPhys: Seq[String],
      ndvCols: Seq[String], ndvPhys: Seq[String],
      dimSources: Seq[String], dimPaths: Seq[String],
      factKeys: Seq[String], dimKeys: Seq[String],
      groupRels: Seq[Int], sumRels: Seq[Int],
      factKeyPhys: Seq[String], dimKeyPhys: Seq[String])

  /** The persisted definition. */
  private[acid] def readDef(view: Instance): MvDef = {
    val n = readDefRaw(view)
    def field(k: String) = Option(n.get(k)).getOrElse(
      throw new IllegalStateException(s"bad $DefFile: no $k"))
    def str(k: String): String = field(k).textValue
    def arr(k: String): Seq[String] = MetaJson.strings(field(k))
    MvDef(str("source"), str("sourcePath"),
      arr("groupCols"), arr("sumCols"), arr("minCols"), arr("maxCols"),
      Option(n.get("where")).map(_.textValue),
      arr("groupPhys"), arr("sumPhys"), arr("minPhys"), arr("maxPhys"),
      arr("ndvCols"), arr("ndvPhys"),
      arr("dimSources"), arr("dimPaths"), arr("factKeys"), arr("dimKeys"),
      arr("groupRels").map(_.toInt), arr("sumRels").map(_.toInt),
      arr("factKeyPhys"), arr("dimKeyPhys"))
  }

  /** The def file as a JSON object, every key kept in document order,
    * so a rewrite re-serializing it is lossless for fields it doesn't
    * touch (see [[rebindDef]]). */
  private def readDefRaw(view: Instance)
      : com.fasterxml.jackson.databind.node.ObjectNode =
    MetaJson.read(view.fs, new org.apache.hadoop.fs.Path(view.root, DefFile))
      .map(MetaJson.parse(_) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => throw new IllegalStateException(s"bad $DefFile")
      })
      .getOrElse(throw new IllegalArgumentException(
        s"${view.root} is not a materialized view (no $DefFile)"))

  /** Rewrite the BINDING fields of a persisted definition through
    * `remap` (old spec/path → new), leaving every other field
    * byte-equivalent — the catalog calls this when a SOURCE table is
    * renamed so dependent views follow the move instead of dangling.
    * The write is temp+rename like every other marker file. */
  private[acid] def rebindDef(view: Instance,
      remap: String => String): Unit = {
    val n = readDefRaw(view)
    Seq("source", "sourcePath").foreach(k =>
      n.put(k, remap(n.get(k).textValue)))
    Seq("dimSources", "dimPaths").foreach { k =>
      val vs = MetaJson.strings(n.get(k))
      val a = n.putArray(k) // replaced in place: key order is kept
      vs.foreach(v => a.add(remap(v)))
    }
    MetaJson.replace(view.fs,
      new org.apache.hadoop.fs.Path(view.root, DefFile), n.toString)
  }

  /** Open a view from its persisted definition, binding the fact and
    * every dimension by the physical roots recorded at create time. */
  def openFromDef(spark: SparkSession,
      viewRoot: String): MaterializedAggView = {
    val view = VersionedTable.open(spark, viewRoot)
    val d = readDef(view)
    val dims = d.dimSources.indices.map(i =>
      DimJoin(VersionedTable.open(spark, d.dimPaths(i)),
        d.factKeys(i), d.dimKeys(i), d.dimSources(i)))
    new MaterializedAggView(VersionedTable.open(spark, d.sourcePath), view,
      dims, d)
  }

  private def viewSchema(srcSchema: StructType, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String],
      maxCols: Seq[String], ndvCols: Seq[String] = Nil): StructType = {
    require(groupCols.nonEmpty, "at least one group column is required " +
      "(for a global aggregate, use metadata-only aggregate pushdown)")
    // reserved spellings: the view's own columns and the delta's
    // working columns must not collide with source columns in play
    val reserved = Set("obj_id", "cnt", "_w", "_dirty", "_vid", "_sid",
        "_did", "_mmid", "_net") ++
      sumCols.flatMap(c => Seq(s"sum_$c", s"nn_$c")) ++
      minCols.flatMap(c => Seq(s"min_$c", s"del_min_$c",
        s"_t_min_$c", s"_abs_min_$c")) ++
      maxCols.flatMap(c => Seq(s"max_$c", s"del_max_$c",
        s"_t_max_$c", s"_abs_max_$c")) ++
      ndvCols.flatMap(c => Seq(s"ndv_$c", s"del_ndv_$c", s"_abs_ndv_$c"))
    (groupCols ++ sumCols ++ minCols ++ maxCols ++ ndvCols).foreach(c =>
      require(!reserved(c),
        s"column $c collides with a reserved view/delta column name"))
    val byName = srcSchema.fields.map(f => f.name -> f).toMap
    groupCols.foreach(c => require(byName.contains(c),
      s"group column $c not in source schema"))
    sumCols.foreach { c =>
      val f = byName.getOrElse(c,
        throw new IllegalArgumentException(s"sum column $c not in source schema"))
      val ok = f.dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _: DecimalType => true // exact + associative: stored at
                                    // full precision DECIMAL(38, s)
        case _ => false
      }
      require(ok,
        s"sum column $c must be integral or decimal " +
          s"(got ${f.dataType.simpleString}); float/double sums are " +
          "order-dependent and cannot be maintained exactly — " +
          "pre-scale them to integers or decimals upstream")
    }
    (minCols ++ maxCols).foreach { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"min/max column $c not in source schema"))
      // atomic orderable types only (no arrays/maps/structs): the
      // stored extremum must compare with least/greatest
      import org.apache.spark.sql.types._
      val orderable = f.dataType match {
        case _: ArrayType | _: MapType | _: StructType | _: BinaryType =>
          false
        case _ => true
      }
      require(orderable,
        s"min/max column $c must be an atomic orderable type " +
          s"(got ${f.dataType.simpleString})")
    }
    ndvCols.foreach { c =>
      val f = byName.getOrElse(c, throw new IllegalArgumentException(
        s"ndv column $c not in source schema"))
      // the types Spark's DataSketches hll_sketch_agg accepts
      require(Seq(LongType, IntegerType, StringType, BinaryType)
        .contains(f.dataType),
        s"ndv column $c must be int/bigint/string/binary " +
          s"(got ${f.dataType.simpleString})")
    }
    StructType(
      StructField("obj_id", LongType, nullable = false) +:
      groupCols.map(byName(_).copy(nullable = true)) ++:
      StructField("cnt", LongType, nullable = false) +:
      (sumCols.flatMap(c => Seq(
        StructField(s"sum_$c", byName(c).dataType match {
          // full precision: sums of decimal(p, s) values stay exact
          // (and overflow to SQL NULL past 38 digits, like the
          // direct aggregate)
          case d: DecimalType => DecimalType(38, d.scale)
          case _ => LongType
        }, nullable = true),
        StructField(s"nn_$c", LongType, nullable = false))) ++
       minCols.map(c =>
        StructField(s"min_$c", byName(c).dataType, nullable = true)) ++
       maxCols.map(c =>
        StructField(s"max_$c", byName(c).dataType, nullable = true)) ++
       // DataSketches HLL sketch bytes; NULL while the group has no
       // non-null values
       ndvCols.map(c =>
        StructField(s"ndv_$c", BinaryType, nullable = true))))
  }

  /** Create the (empty) view table beside its persisted definition.
    * `sourceSpec` overrides what the definition records as the source
    * (the SQL catalog stores the dotted table name so views survive a
    * warehouse move; the default records the source's root path).
    * `where` restricts the view to source rows matching the predicate
    * (head logical names; validated against the source schema here). */
  def create(spark: SparkSession, viewRoot: String, source: Instance,
      groupCols: Seq[String], sumCols: Seq[String],
      sourceSpec: Option[String] = None,
      where: Option[String] = None,
      minCols: Seq[String] = Nil,
      maxCols: Seq[String] = Nil,
      dimJoin: Option[DimJoin] = None,
      dimJoins: Seq[DimJoin] = Nil,
      ndvCols: Seq[String] = Nil): MaterializedAggView = {
    val dims0 = dimJoin.toSeq ++ dimJoins
    val head = source.latestVersion
    val factSchema = StructType.fromDDL(source.tableStateAt(head).ddl)
    val dimSchemas = dims0.map(dj =>
      StructType.fromDDL(dj.dim.tableStateAt(dj.dim.latestVersion).ddl))
    // join views resolve each group/sum column against exactly ONE
    // relation (fact or one dim); ambiguous or missing names fail at
    // create — the owning relation is PERSISTED so refresh never has
    // to re-guess sides against evolved schemas
    val nameSets: Seq[Set[String]] =
      factSchema.fieldNames.toSet +: dimSchemas.map(_.fieldNames.toSet)
    val srcSchema =
      if (dims0.isEmpty) factSchema
      else {
        require(minCols.isEmpty && maxCols.isEmpty && ndvCols.isEmpty,
          "MIN/MAX/NDV are not supported on join views (a dim change " +
          "would force recompute storms); use a plain view on the fact " +
          "table")
        dims0.zip(dimSchemas).foreach { case (dj, ds) =>
          require(factSchema.fieldNames.contains(dj.factKey),
            s"factKey ${dj.factKey} not in fact schema")
          require(ds.fieldNames.contains(dj.dimKey),
            s"dimKey ${dj.dimKey} not in dim schema")
        }
        (groupCols ++ sumCols).foreach { c =>
          val n = nameSets.count(_(c))
          require(n > 0, s"column $c in neither fact nor any dim schema")
          require(n == 1,
            s"column $c is ambiguous: present in $n of the joined relations")
        }
        // the join algebra's working columns must stay free
        val work = (0 to dims0.size).map(r => s"_w$r").toSet ++
          dims0.indices.map(i => s"_k$i")
        (groupCols ++ sumCols).foreach(c => require(!work(c),
          s"column $c collides with a reserved join working column"))
        StructType(dimSchemas.zipWithIndex.foldLeft(factSchema.fields.toSeq) {
          case (acc, (ds, _)) =>
            val taken = acc.map(_.name).toSet
            acc ++ ds.fields.filterNot(f => taken(f.name))
        })
      }
    val schema = viewSchema(srcSchema, groupCols, sumCols, minCols, maxCols,
      ndvCols)
    // fail at create, not first refresh: the predicate must resolve
    // against the source schema alone (no view/delta columns)
    where.foreach { w =>
      // join views: the predicate is applied to the FACT side before
      // the join, so it must resolve against the fact schema alone
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), factSchema)
      probe.filter(expr(w)).queryExecution.analyzed
    }
    // pin each view column's PHYSICAL name in its OWNING relation now
    // — the stable identity refresh resolves against future renames
    // on any side
    val relOfC: Map[String, Int] =
      (groupCols ++ sumCols).map(c => c -> math.max(0,
        nameSets.indexWhere(_(c)))).toMap
    val renSeq: Seq[Map[String, String]] =
      source.tableStateAt(head).renames +:
      dims0.map(dj => dj.dim.tableStateAt(dj.dim.latestVersion).renames)
    def physOf(c: String, r: Int) = renSeq(r).getOrElse(c, c)
    val groupPhys = groupCols.map(c => physOf(c, relOfC(c)))
    val sumPhys = sumCols.map(c => physOf(c, relOfC(c)))
    val minPhys = minCols.map(c => physOf(c, 0))
    val maxPhys = maxCols.map(c => physOf(c, 0))
    val ndvPhys = ndvCols.map(c => physOf(c, 0))
    val groupRels = groupCols.map(relOfC)
    val sumRels = sumCols.map(relOfC)
    val factKeyPhys = dims0.map(dj => physOf(dj.factKey, 0))
    val dimKeyPhys = dims0.zipWithIndex.map { case (dj, i) =>
      physOf(dj.dimKey, i + 1) }
    // normalize the caller's DimJoins: an empty dimSpec records the
    // dim's root
    val dims2 = dims0.map(dj => dj.copy(
      dimSpec = if (dj.dimSpec.nonEmpty) dj.dimSpec else dj.dim.root))
    val view = VersionedTable.create(spark, viewRoot, schema)
    val d = MvDef(sourceSpec.getOrElse(source.root), source.root,
      groupCols, sumCols, minCols, maxCols, where,
      groupPhys, sumPhys, minPhys, maxPhys, ndvCols, ndvPhys,
      dims2.map(_.dimSpec), dims2.map(_.dim.root),
      dims2.map(_.factKey), dims2.map(_.dimKey),
      groupRels, sumRels, factKeyPhys, dimKeyPhys)
    writeDef(view, d)
    // discovery registry: every relation that feeds this view learns
    // about it (best-effort — see RegistryFile)
    (source +: dims2.map(_.dim)).foreach(t => registerView(t, viewRoot))
    new MaterializedAggView(source, view, dims2, d)
  }
}
