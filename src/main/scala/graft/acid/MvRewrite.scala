package graft.acid

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.{ControlThrowable, NonFatal}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types._

/** Session extension that installs [[MvRewriteRule]] — transparent
  * materialized-view query acceleration — and [[DriverScanStrategy]],
  * which reads a query that is one small graft scan on the driver.
  *
  * Registered by `Engine.session` (and usable standalone via
  * `spark.sql.extensions=graft.acid.GraftExtensions`). The rule is a
  * no-op until `spark.graft.mv.rewrite` is set to `true`, so plans are
  * byte-identical with the flag off. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(s => MvRewriteRule(s))
    e.injectPlannerStrategy(_ => DriverScanStrategy)
  }
}

/** Rewrites an aggregate over a graft table — or over the fact ⨝ dims
  * join graph of a STAR view — to scan a REGISTERED, EXACTLY-FRESH
  * materialized view instead: the optimizer-side payoff of the
  * dependent-view registry. Users keep writing
  * `SELECT g, sum(v) FROM fact JOIN dim ON ... GROUP BY g` and the
  * plan silently reads the (tiny) view when one answers the query.
  *
  * A rewrite fires only when ALL of the following hold — every guard
  * fails toward "no rewrite", never toward a wrong answer:
  *
  *  - the aggregate's input is a graft DSv2 relation, or an INNER
  *    equi-join tree of graft relations (under attribute-only Projects
  *    and Filters), each pinned at a version;
  *  - a registered view exists whose fact watermark equals the fact
  *    relation's pinned version EXACTLY, and — for join views — whose
  *    per-dimension watermarks equal each dim relation's pinned
  *    version (the view then reflects precisely the snapshots the
  *    query would scan; fresher disqualifies). A view staler by up to
  *    [[MvRewriteRule.MaxStalenessKey]] commits per relation is still
  *    used, compensated read-side with the refresh's own signed delta
  *    ([[MaterializedAggView.signedDelta]]; join/star views over up to
  *    TWO changed relations) — see [[tryMatch]]; sum-shaped aggregates
  *    only;
  *  - for join views, the query's join graph matches the view's: the
  *    same set of relations (fact + every dim, each once) and a
  *    factKey = dimKey equi-conjunct per dimension — no extra
  *    relations, no missing key, no non-key cross-relation predicate;
  *  - the recorded group/sum/key columns still carry their
  *    definition-time logical names in their OWNING relation at the
  *    pinned versions (physical-identity guard: a rename + re-add must
  *    not silently bind the view to the wrong data);
  *  - the query groups by a SUBSET of the view's group columns (plain
  *    column references from the owning relation; rollup compensation
  *    re-aggregates), and every aggregate translates: `count(*)` →
  *    `sum(cnt)`, `count(c)` → `sum(nn_c)`, `sum(c)` → `sum(sum_c)`,
  *    `avg(c)` → `sum(sum_c)/sum(nn_c)`, `min/max(c)` →
  *    `min/max(min_c/max_c)`, min/max/count over group columns
  *    directly, and — exactly, because the view holds each live group
  *    tuple once and both are pure functions of the distinct set —
  *    `count(DISTINCT g...)` and `approx_count_distinct(g)` over
  *    group columns (Spark's HLL++ is a register max: multiplicity-,
  *    order- and partition-insensitive) — no other DISTINCT, no
  *    FILTER clauses. Under the SECOND opt-in
  *    [[MvRewriteRule.NdvSubstituteKey]] the rule additionally
  *    answers `approx_count_distinct(c)` over an NDV column and
  *    `hll_sketch_estimate(hll_sketch_agg(...))` over an NDV or group
  *    column from the maintained DataSketches sketches: those answers
  *    honor the requested rsd but are not bit-identical (DataSketches
  *    estimates depend on merge structure — HIP vs composite — so
  *    even the direct plan's value shifts with partitioning), which
  *    is a substitution [[EnabledKey]] alone must never make;
  *  - the rewritten output must not widen nullability: the view
  *    stores group columns as nullable, so an aggregate whose output
  *    binds a NON-nullable source group column is refused (downstream
  *    operators may have compiled away null checks);
  *  - the query's WHERE conjuncts partition into (a) conjuncts
  *    semantically equal to the view's own WHERE conjuncts (all of
  *    which must be covered; plain views only — filtered join views
  *    are not rewritten) and (b) residual conjuncts over group
  *    columns only, which are kept over the view scan.
  *
  * The rewritten child pins the view at ITS head version (a snapshot is
  * immutable), so a concurrent refresh between optimization and
  * execution cannot skew results — the same pinning makes the
  * candidate cache safe: an entry's watermarks were read AT the pinned
  * view version and stay true for it forever. Global aggregates
  * coalesce counts to 0 so an empty table still answers
  * `count(*) = 0`.
  *
  * Scale design: the driver-side candidate lookup is a few metadata
  * reads memoized per (table, version) for [[MvRewriteRule.TtlNanos]] —
  * at 100 TB the rewrite turns a fact scan (or a fact ⨝ dims shuffle
  * join) into a view scan, and the lookup cost is the same handful of
  * object-store RPCs the catalog already pays to resolve the table.
  *
  * Reference analog: db-core answers summary probes from its derived
  * per-object summaries rather than the heap (free_info.rs:34-88); here
  * the summary is the view table and the probe is any matching
  * aggregate. */
case class MvRewriteRule(spark: SparkSession) extends Rule[LogicalPlan]
    with PredicateHelper {

  import MvRewriteRule._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString(EnabledKey, "false").toBoolean) return plan
    plan.transformUp {
      case agg: Aggregate =>
        try rewrite(agg).getOrElse(agg)
        catch {
          case Bail => agg
          case NonFatal(e) =>
            logWarning(s"mv rewrite skipped (${e.getClass.getSimpleName}: " +
              s"${e.getMessage})")
            agg
        }
    }
  }

  /** Peel attribute-only Projects, collect Filter conjuncts and INNER
    * join conditions, and flatten to graft leaves; None = a node shape
    * the rewrite does not understand. */
  private def peel(p: LogicalPlan)
      : Option[(Seq[(DataSourceV2Relation, GraftTable)], Seq[Expression])] =
    p match {
      case f: Filter => peel(f.child).map { case (ls, cs) =>
        (ls, cs ++ splitConjunctivePredicates(f.condition)) }
      case pr: Project
          if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
        peel(pr.child)
      case j: Join if j.joinType == Inner =>
        for {
          (ll, lc) <- peel(j.left)
          (rl, rc) <- peel(j.right)
        } yield (ll ++ rl, lc ++ rc ++
          j.condition.toSeq.flatMap(splitConjunctivePredicates))
      // an explicit read set (a refresh's own delta read, a
      // transaction's view) is never a rewrite candidate
      case r: DataSourceV2Relation => r.table match {
        case t: GraftTable if t.pinned.isDefined => Some((Seq((r, t)), Nil))
        case _ => None
      }
      case _ => None
    }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    peel(agg.child).flatMap { case (leaves, conds) =>
      // self-joins have no single-view answer
      if (leaves.map(l => canon(l._2.tableRoot)).distinct.size != leaves.size)
        None
      else {
        val cands = leaves
          .flatMap(l => candidates(l._2.tableRoot, l._2.tableVersion))
          .distinctBy(_.root)
          .filter(_.dims.size + 1 == leaves.size)
        // exactly-fresh before stale (no compensation delta), then
        // smallest view first: fewer group columns = coarser = cheaper
        cands.sortBy(c => (c.staleBy, c.d.groupCols.size)).iterator
          .map(c => try Some(tryMatch(agg, leaves, conds, c))
            catch { case Bail => None })
          .collectFirst { case Some(p) => p }
      }
    }
  }

  /** Attempt the rewrite against one candidate; throws [[Bail]] on any
    * disqualifier. One matcher serves both answers; it aligns leaves,
    * checks keys and WHERE and maps groups once, and forks only on the
    * relation it reads and the translations it allows.
    *
    * An EXACTLY-FRESH view (every watermark equals its relation's
    * pinned version) is read as it is. A STALE one — some watermark
    * lags its pinned version by 0 < lag <=
    * [[MvRewriteRule.MaxStalenessKey]] commits — is compensated
    * READ-SIDE with the refresh's own signed delta
    * ([[MaterializedAggView.signedDelta]]):
    * `view(wm) ∪ partials(Δ(wm, pinned])`, so the rewrite stays
    * RESULT-IDENTICAL: rows visible after each missed commit weigh +1,
    * rows visible before it −1, and every sum-shaped aggregate nets out
    * to the pinned snapshot's exact value. This is the read-side analog
    * of checkpoint + WAL-tail recovery (reference: instance.rs:239-304,
    * io.rs:260-289) — the view is the checkpoint, the weighted delta
    * the log tail. A relation pinned BEFORE its watermark is
    * unanswerable (the view is FRESHER than the query's snapshot — no
    * signed fold can retract changes it already absorbed).
    *
    * Over the union only SUM-SHAPED translations are sound (signed
    * weights cancel inside a Σ): `count(*)` → Σcnt, `count(c)` →
    * Σnn_c, `count(g)` → Σ(g null ? 0 : cnt), `sum(c)` → Σsum_c and
    * `avg(c)` → Σsum/Σnn, the last two gated on the Σnn_c witness (a
    * cancelled-to-0 sum must read back as SQL NULL). MIN/MAX, sketch
    * and DISTINCT translations are refused: a view group that died
    * inside the missed interval still contributes its stored extremum /
    * distinct tuple to the union, and no signed fold can retract it.
    * Grouped queries get a `Σcnt > 0` liveness filter (net row count
    * per group is always >= 0) so dead groups drop exactly like the
    * refresh's merge-delete; global aggregates skip the filter — an
    * emptied table still answers `count(*) = 0` / `sum = NULL`.
    *
    * Join/star views compensate over at most TWO changed relations
    * (≤ 3 inclusion–exclusion terms): the shared delta materializes
    * wider shapes with localCheckpoint, and the optimizer must never
    * launch a job, so past the cap the rewrite falls back to the
    * source join. Filtered join views are refused in both modes.
    *
    * Scale: the compensated plan costs the view scan + O(missed churn)
    * delta files per changed relation — with the staleness bound it is
    * strictly cheaper than the fact scan (or the fact ⨝ dims shuffle)
    * it replaces whenever the view is, which is the same economics as
    * the refresh itself. A vacuum that reclaims an interval's
    * pre-images between candidate lookup and execution fails the read
    * loudly (FileNotFound), never silently. */
  private def tryMatch(agg: Aggregate,
      leaves: Seq[(DataSourceV2Relation, GraftTable)],
      conds: Seq[Expression], cand: Candidate): LogicalPlan = {
    def fail(): Nothing = throw Bail
    val resolver = conf.resolver
    val d = cand.d

    // ---- leaf alignment: fact + each dim, exactly once ---------------
    val factLeaf = leaves.find(l => canon(l._2.tableRoot) == cand.srcRoot)
      .getOrElse(fail())
    val dimLeaves = cand.dims.map(db =>
      leaves.find(l => canon(l._2.tableRoot) == db.root).getOrElse(fail()))
    if ((factLeaf +: dimLeaves).distinct.size != leaves.size) fail()
    def relLeaf(rel: Int): DataSourceV2Relation =
      if (rel == 0) factLeaf._1 else dimLeaves(rel - 1)._1

    // ---- per-relation staleness (0 = fact) ---------------------------
    val pins: Seq[Long] = cand.srcVersion +: dimLeaves.map(_._2.tableVersion)
    val wms: Seq[Long] = cand.wmLast +: cand.dims.map(_.wm)
    if (pins.indices.exists(r => pins(r) < wms(r))) fail()
    val changed: Seq[Int] = pins.indices.filter(r => pins(r) > wms(r))
    val stale = changed.nonEmpty
    if (stale) {
      // the effective bound is CLAMPED to the delta's internal
      // localCheckpoint batching threshold: weightedDelta folds up to
      // ChangesBatchVersions manifests into ONE lazy union, so within
      // the clamp candidate planning never launches a Spark job — a
      // user raising the knob past it gets the largest job-free bound,
      // not a job inside the optimizer
      val maxStale = math.min(
        try conf.getConfString(MaxStalenessKey, DefaultMaxStaleness.toString)
          .toLong
        catch { case NonFatal(_) => 0L },
        Instance.ChangesBatchVersions.toLong)
      // staler than the bound falls back to the source scan (refresh
      // the view instead)
      if (changed.exists(r => pins(r) - wms(r) > maxStale)) fail()
      // read-side width cap: 2 changed relations = ≤ 3 union terms
      if (changed.size > 2) fail()
      // pre-screen BEFORE any manifest read or nested analyzer pass:
      // untranslatable shapes (min/max/distinct/filter) over a stale
      // candidate would otherwise pay the O(staleBy) delta-plan build
      // on every optimizer fixed-point iteration just to bail later
      def sumShaped(e: Expression): Boolean = e match {
        case ae: AggregateExpression =>
          !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
            case _: Count | _: Sum | _: Average => true
            case _ => false
          })
        case other => other.children.forall(sumShaped)
      }
      if (!agg.aggregateExpressions.forall(sumShaped)) fail()
    }

    // ---- join-key conditions ------------------------------------------
    def attrIn(rel: DataSourceV2Relation, name: String): AttributeReference =
      rel.output.collectFirst {
        case a: AttributeReference if resolver(a.name, name) => a
      }.getOrElse(fail())
    val keyPairs = cand.dims.zip(dimLeaves).map { case (db, dl) =>
      (attrIn(factLeaf._1, db.factKey), attrIn(dl._1, db.dimKey)) }
    def isKeyCond(e: Expression): Boolean = e match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        keyPairs.exists { case (fk, dk) =>
          (a.exprId == fk.exprId && b.exprId == dk.exprId) ||
          (a.exprId == dk.exprId && b.exprId == fk.exprId) }
      case _ => false
    }
    keyPairs.foreach { case (fk, dk) =>
      if (!conds.exists {
        case EqualTo(a: AttributeReference, b: AttributeReference) =>
          (a.exprId == fk.exprId && b.exprId == dk.exprId) ||
          (a.exprId == dk.exprId && b.exprId == fk.exprId)
        case _ => false
      }) fail()
    }
    val nonKey = conds.filterNot(isKeyCond)

    // ---- WHERE compatibility ------------------------------------------
    if (cand.dims.nonEmpty && d.where.isDefined) fail()
    val whereConjs: Seq[Expression] = d.where match {
      case None => Nil
      case Some(sql) =>
        val parsed = spark.sessionState.sqlParser.parseExpression(sql)
        val analyzed =
          try spark.sessionState.analyzer.execute(Filter(parsed, factLeaf._1))
          catch { case NonFatal(_) => fail() }
        org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed) match {
          case Filter(c, _) => splitConjunctivePredicates(c)
          case _ => fail()
        }
    }
    // every view-WHERE conjunct must appear in the query's conjuncts
    // (else the view is missing rows the query wants)
    if (!whereConjs.forall(wc => nonKey.exists(_.semanticEquals(wc)))) fail()
    // residual conjuncts must be deterministic and over group columns
    val residual = nonKey.filterNot(c => whereConjs.exists(_.semanticEquals(c)))
    if (!residual.forall(_.deterministic)) fail()

    // ---- the answer relation: the pinned view, or view ∪ Δ ------------
    val vInst = VersionedTable.open(spark, cand.root)
    val vTable = new GraftTable(vInst, vInst.tableStateAt(cand.version),
      Some(cand.version), cand.schema, timeTraveled = true)
    val answer: LogicalPlan =
      if (!stale) DataSourceV2Relation.create(vTable, None, None)
      else {
        val insts: Seq[Instance] = (cand.srcRoot +: cand.dims.map(_.root))
          .map(VersionedTable.open(spark, _))
        // re-check the vacuum horizon at MATCH time (candidates are
        // cached up to 10s): a vacuum that reclaimed a changed
        // relation's (wm, pinned] pre-images after candidate compute
        // must fall back to the source scan, not build a delta over
        // missing files. The residual window (vacuum between here and
        // execution) fails loudly with FileNotFound — and NOTE:
        // spark.sql.files.ignoreMissingFiles=true would turn that loud
        // failure into silently dropped compensation rows; compensated
        // reads require it off (the default).
        changed.foreach(r => if (wms(r) < insts(r).vacuumHorizon) fail())
        import org.apache.spark.sql.functions.col
        val partials = MaterializedAggView.signedPartials(d.sumCols,
          MaterializedAggView.sumStore(cand.schema))
        // the view snapshot is pinned at the candidate's view version
        // and the delta at the watermarks THAT version recorded — a
        // concurrent refresh between lookup and execution cannot skew
        // the pair
        val viewDf = PlanBridge.tableFrame(spark, vTable)
          .select((d.groupCols.map(col) ++ partials.map(p => col(p._1))): _*)
        val deltaDf = MaterializedAggView.signedDelta(d, insts, wms, pins)
          .select((d.groupCols.map(col) ++
            partials.map { case (n, e) => e.as(n) }): _*)
        // the fragment splices into an ALREADY-OPTIMIZING plan, so the
        // analysis-only nodes the DataFrame build leaves behind must go
        // here: SubqueryAlias (the star join's R0/R1/… disambiguators)
        // and Deduplicate (the semi-join key probes' distinct()) have no
        // physical strategy — the optimizer batches that normally remove
        // them ran before this rule fired
        org.apache.spark.sql.catalyst.optimizer.ReplaceDeduplicateWithAggregate(
          org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases(
            viewDf.unionByName(deltaDf).queryExecution.analyzed))
      }
    def viewAttr(name: String): AttributeReference =
      answer.output.collectFirst {
        case a: AttributeReference if resolver(a.name, name) => a
      }.getOrElse(fail())

    // def-column index of a query attribute, honoring the OWNING
    // relation (two relations may both have a column of the name)
    def colIdx(cols: Seq[String], rels: Seq[Int],
        a: AttributeReference): Option[Int] =
      cols.indices.find(j => resolver(cols(j), a.name) &&
        relLeaf(rels(j)).outputSet.contains(a))
    def groupIdx(a: AttributeReference) = colIdx(d.groupCols, d.groupRels, a)
    def sumIdx(a: AttributeReference) = colIdx(d.sumCols, d.sumRels, a)
    // min/max/ndv views are plain (fact-only) by construction
    def factIdx(cols: Seq[String], a: AttributeReference) =
      colIdx(cols, cols.map(_ => 0), a)
    def minIdx(a: AttributeReference) = factIdx(d.minCols, a)
    def maxIdx(a: AttributeReference) = factIdx(d.maxCols, a)
    def ndvIdx(a: AttributeReference) = factIdx(d.ndvCols, a)

    def remapGroupOnly(e: Expression): Expression = e.transformUp {
      case a: AttributeReference => groupIdx(a) match {
        case Some(j) => viewAttr(d.groupCols(j))
        case None => fail()
      }
    }
    val remappedResidual = residual.map(remapGroupOnly)

    // ---- grouping -----------------------------------------------------
    val groupMap: Map[ExprId, AttributeReference] =
      agg.groupingExpressions.map {
        case a: AttributeReference => groupIdx(a) match {
          case Some(j) => a.exprId -> viewAttr(d.groupCols(j))
          case None => fail()
        }
        case _ => fail()
      }.toMap

    // ---- aggregate translation ----------------------------------------
    def aggE(f: AggregateFunction): AggregateExpression =
      AggregateExpression(f, Complete, isDistinct = false)
    def cntShape(e: Expression): Expression =
      // grouped: a view group always has >= 1 row, so the sum is never
      // null at runtime; Coalesce restores the static non-nullable type
      // AND fixes the empty-table global count (sum over 0 rows = null,
      // count(*) = 0)
      Coalesce(Seq(e, Literal(0L)))
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // over the compensated union, cancellation can net a dead-value sum
    // to 0 where SQL wants NULL: gate on the non-null witness, exactly
    // the stored view's nn contract
    def nnGate(n: String, dt: DataType, e: Expression): Expression =
      if (!stale) e
      else If(EqualTo(cntShape(aggE(new Sum(viewAttr("nn_" + n)))),
          Literal(0L)),
        Literal(null, dt), e)
    // estimate(union of stored per-group sketches) answers within the
    // sketches' rsd but is NOT bit-identical to the direct plan's
    // estimate: a DataSketches sketch built by streaming carries the
    // HIP estimator while a merged one falls back to the composite
    // estimator, so the value depends on merge structure — Spark's own
    // hll_sketch_agg already shifts with partitioning for the same
    // reason. Hence every sketch-estimate answer sits behind
    // [[NdvSubstituteKey]]. All-null groups store NULL sketches; a
    // NULL union estimates as 0, matching the empty direct sketch.
    def ndvEstimate(c: String): Expression =
      Coalesce(Seq(HllSketchEstimate(aggE(new HllUnionAgg(
        viewAttr("ndv_" + c), false))), Literal(0L)))
    lazy val ndvSubstitute =
      conf.getConfString(NdvSubstituteKey, "false").toBoolean
    def translate(ae: AggregateExpression): Expression = {
      if (ae.filter.isDefined) fail()
      if (ae.isDistinct) ae.aggregateFunction match {
        // count(DISTINCT g...) over group columns only: the view holds
        // each live group tuple exactly once, so the distinct set of
        // any subset of group columns is preserved verbatim
        case c: Count =>
          val remapped = c.children.map {
            case a: AttributeReference if groupIdx(a).isDefined =>
              viewAttr(d.groupCols(groupIdx(a).get))
            case _ => fail()
          }
          return AggregateExpression(Count(remapped), Complete,
            isDistinct = true)
        case _ => fail()
      }
      ae.aggregateFunction match {
        case c: Count
            if c.children.forall(ch => ch.foldable && ch.eval(null) != null) =>
          cntShape(aggE(new Sum(viewAttr("cnt"))))
        case c: Count => c.children match {
          case Seq(a: AttributeReference) if sumIdx(a).isDefined =>
            cntShape(aggE(new Sum(
              viewAttr("nn_" + d.sumCols(sumIdx(a).get)))))
          case Seq(a: AttributeReference) if groupIdx(a).isDefined =>
            val g = viewAttr(d.groupCols(groupIdx(a).get))
            cntShape(aggE(new Sum(
              If(IsNull(g), Literal(0L), viewAttr("cnt")))))
          case _ => fail()
        }
        case s: Sum => s.child match {
          // the view stores sum_<c> as the exact long sum; only integral
          // sources produce LongType sums, which is exactly when the
          // stored partial is lossless
          case a: AttributeReference if sumIdx(a).isDefined &&
              s.dataType == LongType =>
            val n = d.sumCols(sumIdx(a).get)
            nnGate(n, LongType, aggE(new Sum(viewAttr("sum_" + n))))
          // decimal: the stored partial is the full-precision
          // DECIMAL(38, s) sum; re-summing and casting to the query's
          // Sum type (p+10 capped at 38) matches the direct plan,
          // including overflow-to-NULL past the narrower precision
          case a: AttributeReference if sumIdx(a).isDefined &&
              s.dataType.isInstanceOf[DecimalType] &&
              a.dataType.isInstanceOf[DecimalType] =>
            val n = d.sumCols(sumIdx(a).get)
            nnGate(n, s.dataType,
              Cast(aggE(new Sum(viewAttr("sum_" + n))), s.dataType))
          case _ => fail()
        }
        case av: Average => av.child match {
          case a: AttributeReference if sumIdx(a).isDefined &&
              av.dataType == DoubleType && integral(a.dataType) =>
            val n = d.sumCols(sumIdx(a).get)
            // avg(c) = sum(c) / count(NON-NULL c); null-safe division:
            // an all-null group sums to null -> null, never /0
            nnGate(n, DoubleType, new Divide(
              Cast(aggE(new Sum(viewAttr("sum_" + n))), DoubleType),
              Cast(aggE(new Sum(viewAttr("nn_" + n))), DoubleType)))
          case _ => fail()
        }
        case m: Min => m.child match {
          case a: AttributeReference if minIdx(a).isDefined =>
            aggE(Min(viewAttr("min_" + d.minCols(minIdx(a).get))))
          case a: AttributeReference if groupIdx(a).isDefined =>
            aggE(Min(viewAttr(d.groupCols(groupIdx(a).get))))
          case _ => fail()
        }
        case m: Max => m.child match {
          case a: AttributeReference if maxIdx(a).isDefined =>
            aggE(Max(viewAttr("max_" + d.maxCols(maxIdx(a).get))))
          case a: AttributeReference if groupIdx(a).isDefined =>
            aggE(Max(viewAttr(d.groupCols(groupIdx(a).get))))
          case _ => fail()
        }
        case h: HyperLogLogPlusPlus => h.child match {
          // over a GROUP column the same function over the view rows
          // is register-identical (HLL++ state is multiplicity- and
          // order-insensitive; the distinct set is preserved verbatim)
          case a: AttributeReference if groupIdx(a).isDefined =>
            aggE(new HyperLogLogPlusPlus(
              viewAttr(d.groupCols(groupIdx(a).get)), h.relativeSD, 0, 0))
          // over an NDV column: substitute the stored DataSketches
          // estimate for the HLL++ one — a DIFFERENT estimator whose
          // rsd is <= the one the query requested, so the value may
          // shift within the declared error band. That is a semantics
          // change an approximate function's contract permits but the
          // default must not make: opt-in via [[NdvSubstituteKey]]
          case a: AttributeReference if ndvIdx(a).isDefined &&
              ndvSubstitute &&
              h.relativeSD >= MaterializedAggView.NdvRsd - 1e-12 =>
            ndvEstimate(d.ndvCols(ndvIdx(a).get))
          case _ => fail()
        }
        case _ => fail()
      }
    }
    // manual recursion: translate() consumes the ORIGINAL agg children,
    // so a transform must not rewrite attributes underneath an
    // AggregateExpression before the aggregate itself is seen
    def tx(e: Expression): Expression = e match {
      // hll_sketch_estimate(hll_sketch_agg(c[, lgK])) — matched as a
      // PAIR so only the (long) estimate is ever substituted, never a
      // raw sketch binary (whose serialized form the rewrite does not
      // promise to reproduce). Substituted estimates stay within the
      // sketch's rsd but are not bit-identical (see [[ndvEstimate]]),
      // so the whole family needs the second opt-in
      case HllSketchEstimate(ae: AggregateExpression)
          if ndvSubstitute && !ae.isDistinct && ae.filter.isEmpty &&
            ae.aggregateFunction.isInstanceOf[HllSketchAgg] =>
        val h = ae.aggregateFunction.asInstanceOf[HllSketchAgg]
        if (!h.right.foldable) fail()
        h.left match {
          // a sketch of a GROUP column re-sketches the view's rows —
          // the distinct set is preserved verbatim, so any lgK keeps
          // the requested accuracy
          case a: AttributeReference if groupIdx(a).isDefined =>
            HllSketchEstimate(aggE(new HllSketchAgg(
              viewAttr(d.groupCols(groupIdx(a).get)), h.right, 0, 0)))
          // a sketch of an NDV column merges the STORED sketches —
          // same rsd only at the lgK they were built with
          case a: AttributeReference if ndvIdx(a).isDefined &&
              h.lgConfigK == MaterializedAggView.NdvLgK =>
            ndvEstimate(d.ndvCols(ndvIdx(a).get))
          case _ => fail()
        }
      case ae: AggregateExpression => translate(ae)
      case a: AttributeReference => groupMap.getOrElse(a.exprId, fail())
      case other => other.mapChildren(tx)
    }
    val newAes: Seq[NamedExpression] = agg.aggregateExpressions.map {
      case al: Alias =>
        Alias(tx(al.child), al.name)(exprId = al.exprId,
          qualifier = al.qualifier, explicitMetadata = al.explicitMetadata)
      case a: AttributeReference =>
        Alias(tx(a), a.name)(exprId = a.exprId, qualifier = a.qualifier)
      case _ => fail()
    }
    // output contract: same names and types, nullability may not narrow
    agg.aggregateExpressions.zip(newAes).foreach { case (o, n) =>
      if (o.name != n.name || o.dataType != n.dataType ||
          (!o.nullable && n.nullable)) fail()
    }
    val child: LogicalPlan =
      if (remappedResidual.isEmpty) answer
      else Filter(remappedResidual.reduce(And), answer)
    val newGes = agg.groupingExpressions.map {
      case a: AttributeReference => groupMap(a.exprId)
      case _ => fail()
    }
    logInfo(s"mv rewrite: aggregate over ${cand.srcRoot}@v" +
      s"${cand.srcVersion}" +
      (if (cand.dims.isEmpty) ""
       else s" ⨝ ${cand.dims.map(_.root).mkString(", ")}") +
      s" now reads view ${cand.root}@v${cand.version}" +
      (if (stale) s" ⊕ Δ(${wms.mkString(",")}; ${pins.mkString(",")}]"
       else ""))
    if (!stale || newGes.isEmpty) Aggregate(newGes, newAes, child)
    else {
      // liveness: a group whose rows all died inside the missed
      // interval nets Σcnt = 0 and must not surface (the refresh's
      // merge would have deleted it); Σcnt is never negative
      val live = Alias(cntShape(aggE(new Sum(viewAttr("cnt")))), "_live")()
      Project(newAes.map(_.toAttribute),
        Filter(GreaterThan(live.toAttribute, Literal(0L)),
          Aggregate(newGes, newAes :+ live, child)))
    }
  }

  /** Views of (root, pinned version) whose fact watermark is the
    * version or, after at least one refresh, lags it inside the vacuum
    * horizon (join views additionally carry the per-dim watermarks
    * [[tryMatch]] checks the query's dim pins against) and that are
    * rename-stable — memoized for [[TtlNanos]]. */
  private def candidates(root: String, version: Long): Seq[Candidate] = {
    val key = (canon(root), version)
    val now = System.nanoTime()
    val hit = cache.get(key)
    if (hit != null && now - hit.at < TtlNanos) return hit.cands
    val cands = try computeCandidates(key._1, version)
      catch { case NonFatal(_) => Nil }
    if (cache.size > MaxCacheEntries) {
      // evict the stalest entry, not the whole cache: a hot
      // multi-table session keeps its warm candidates
      var oldestKey: (String, Long) = null
      var oldestAt = Long.MaxValue
      cache.forEach { (k, v) =>
        if (v.at < oldestAt) { oldestAt = v.at; oldestKey = k }
      }
      if (oldestKey != null) cache.remove(oldestKey)
    }
    cache.put(key, Entry(now, cands))
    cands
  }

  private[acid] def debugCandidates(root: String, version: Long)
      : Seq[Candidate] = computeCandidates(canon(root), version)

  private def computeCandidates(root: String, version: Long)
      : Seq[Candidate] = {
    val inst = VersionedTable.open(spark, root)
    val viewRoots = MaterializedAggView.registeredViews(inst)
    if (viewRoots.isEmpty) return Nil
    // logical -> physical mapping at the PINNED version, for the
    // rename-stability guard
    lazy val factRenames = inst.tableStateAt(version).renames
    viewRoots.flatMap { vr =>
      try {
        val vInst = VersionedTable.open(spark, vr)
        val d = MaterializedAggView.readDef(vInst)
        // this lookup treats `root` as the view's FACT; a view whose
        // fact is elsewhere (we are one of its dims) is surfaced by
        // the lookup keyed on ITS fact leaf instead
        if (canon(d.sourcePath) != canon(root)) None
        else {
          val vv = vInst.latestVersion
          val marks = vInst.appTxnsAt(vv)
          val app = "mv:" + canon(vr)
          val wm = marks.getOrElse(app, -1L)
          // views may lag the pinned version: tryMatch compensates
          // read-side with the refresh's own signed delta —
          // but only when the view has completed at least one refresh
          // (wm >= 0; a never-refreshed view would "compensate" an
          // empty scan with a full-history fold — result-correct but
          // strictly worse than the plan it replaces) and when the
          // fact interval's pre-images are still inside the vacuum
          // horizon (a reclaimed interval has no incremental answer;
          // per-DIM staleness, the width cap, and the dims' horizons
          // are only checkable at match time — the query's dim pins
          // live in its leaves — as is bound enforcement against the
          // session's maxStaleness, so cached candidates survive conf
          // changes)
          val staleOk = wm >= 0 && wm < version &&
            wm >= inst.vacuumHorizon
          if (wm != version && !staleOk) None
          else {
            val dims = d.dimPaths.indices.map { i =>
              val wmKey = app + (if (i == 0) "#dim" else s"#dim$i")
              DimBind(canon(d.dimPaths(i)), d.factKeys(i), d.dimKeys(i),
                marks.getOrElse(wmKey, -1L))
            }
            if (dims.exists(_.wm < 0)) None
            else if (!renameStable(d, version, factRenames, dims)) None
            else {
              val schema = StructType.fromDDL(vInst.tableStateAt(vv).ddl)
              Some(Candidate(canon(vr), vv, schema, d,
                canon(root), version, dims,
                staleBy = version - math.max(0L, wm),
                wmLast = math.max(0L, wm)))
            }
          }
        }
      } catch { case NonFatal(_) => None }
    }
  }

  /** Every recorded column (group/sum/min/max + join keys) must still
    * carry its definition-time logical name in its OWNING relation at
    * the version the rewrite would read. */
  private def renameStable(d: MaterializedAggView.MvDef, factVersion: Long,
      factRenames: Map[String, String], dims: Seq[DimBind]): Boolean = {
    // dim renames at the dim WATERMARK version — exactly the snapshot
    // the query's dim relation must be pinned at for the rewrite
    lazy val dimRenames: Seq[Map[String, String]] = dims.map(db =>
      VersionedTable.open(spark, db.root).tableStateAt(db.wm).renames)
    def renamesOf(rel: Int): Map[String, String] =
      if (rel == 0) factRenames else dimRenames(rel - 1)
    def stable(cols: Seq[String], phys: Seq[String],
        rels: Seq[Int]): Boolean =
      phys.lazyZip(cols).lazyZip(rels).forall { (p, c, r) =>
        renamesOf(r).getOrElse(c, c) == p }
    val zeros = (n: Int) => Seq.fill(n)(0)
    stable(d.groupCols, d.groupPhys, d.groupRels) &&
    stable(d.sumCols, d.sumPhys, d.sumRels) &&
    stable(d.minCols, d.minPhys, zeros(d.minCols.size)) &&
    stable(d.maxCols, d.maxPhys, zeros(d.maxCols.size)) &&
    stable(d.ndvCols, d.ndvPhys, zeros(d.ndvCols.size)) &&
    stable(d.factKeys, d.factKeyPhys, zeros(dims.size)) &&
    stable(d.dimKeys, d.dimKeyPhys, 1 to dims.size)
  }

  private def canon(root: String): String = new Path(root).toString
}

object MvRewriteRule {
  /** Session conf flag; default off — plans are untouched unless the
    * user opts in. */
  val EnabledKey = "spark.graft.mv.rewrite"

  /** Second opt-in: allow approximate-distinct answers from the view's
    * maintained DataSketches sketches — `approx_count_distinct(c)`
    * over an NDV column, and `hll_sketch_estimate(hll_sketch_agg(..))`
    * over an NDV column (at the stored lgK) or a group column. The
    * substitute honors the requested rsd (the stored sketches' rsd is
    * tighter or equal) but the VALUE may shift within the error band:
    * DataSketches estimates depend on merge structure (a streamed
    * sketch keeps the HIP estimator, a merged one falls back to the
    * composite estimator), so they are not a pure function of the
    * distinct set. Unlike every other rewrite, which is
    * result-identical, this one needs the separate flag;
    * [[EnabledKey]] alone never changes a result. */
  val NdvSubstituteKey = "spark.graft.mv.rewrite.ndvSubstitute"

  /** Bounded-staleness knob for the read-side-compensated rewrite
    * ([[MvRewriteRule.tryMatch]]): a view whose watermark lags
    * the query's pinned version by up to this many commits — PER
    * RELATION for join/star views, at most two relations changed — is
    * still used, compensated with `view ⊕ Δ(wm, pinned]` (the plain
    * weighted delta, or the star inclusion–exclusion union) —
    * RESULT-IDENTICAL (the compensation is the refresh's
    * own signed fold applied read-side), so it shares [[EnabledKey]]
    * rather than needing a second correctness opt-in. 0 disables
    * stale compensation (exact freshness required, the pre-r11
    * behavior). The EFFECTIVE bound is clamped to
    * [[Instance.ChangesBatchVersions]] so the compensation delta always
    * folds into one lazy union — candidate planning can never launch a
    * localCheckpoint job, no matter how high the knob is set. Past the
    * bound the rewrite falls back to the source scan — at that point
    * the view should be refreshed, not compensated around. */
  val MaxStalenessKey = "spark.graft.mv.rewrite.maxStaleness"
  val DefaultMaxStaleness = 16L

  private case object Bail extends ControlThrowable

  private[acid] final case class DimBind(root: String, factKey: String,
      dimKey: String, wm: Long)

  private[acid] final case class Candidate(root: String, version: Long,
      schema: StructType, d: MaterializedAggView.MvDef,
      srcRoot: String, srcVersion: Long,
      dims: Seq[DimBind] = Nil,
      // commits the view lags the pinned fact version by (0 = exactly
      // fresh) and the watermark the compensation delta starts from
      staleBy: Long = 0L, wmLast: Long = 0L)

  private final case class Entry(at: Long, cands: Seq[Candidate])

  // keyed by (canonical source root, PINNED source version): immutable
  // once computed except for views refreshing TO that version, which
  // the TTL picks up
  private val cache = new ConcurrentHashMap[(String, Long), Entry]
  private val TtlNanos = 10L * 1000 * 1000 * 1000
  private val MaxCacheEntries = 256

  /** Test/ops hook: drop memoized candidates (e.g. right after a
    * refresh, to observe the rewrite without waiting out the TTL). */
  def invalidateCache(): Unit = cache.clear()
}
