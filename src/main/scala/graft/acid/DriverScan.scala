package graft.acid

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BindReferences, BoundReference, DynamicPruning, Expression, InterpretedUnsafeProjection, NamedExpression, PlanExpression, Predicate}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation

/** Plans a query that is exactly one small graft scan — the scan, its
  * filters and a projection at the root of the plan — as a
  * [[GraftDriverScanExec]], which reads the files on the calling thread
  * and runs no Spark job: a time-travel point lookup, a transaction's
  * read-modify-write read, a SQL point query. Dispatching a job costs
  * more than reading a few small files.
  *
  * Only the root is planned this way: a scan inside a join, an
  * aggregate, a union or a write keeps its `BatchScanExec`, so the
  * parallelism and the file layout of the engine's own rewrites are
  * unchanged. Every refusal takes the job path unchanged: a
  * non-deterministic filter or projection (`rand()`,
  * `input_file_name()`), a subquery or dynamic-pruning filter, a
  * row-level operation's scan, a pushed limit or top-n, a scan also
  * planned below a root, partitioned files, or files past the
  * [[Instance.pointRows]] gate (so `spark.sql.files.openCostInBytes = 1`
  * forces the job path). */
private[acid] object DriverScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(PhysicalOperation(project, filters,
        DataSourceV2ScanRelation(_, scan: GraftScan, output, _, _)))
        if !scan.plannedBelowRoot && (project ++ filters).forall(plain) &&
          scan.driverReadable =>
      GraftDriverScanExec(project.map(_.toAttribute), project, filters,
        output, scan) :: Nil
    case PhysicalOperation(_, _, DataSourceV2ScanRelation(_, scan: GraftScan, _, _, _)) =>
      // a dynamic-pruning subquery plans a copy of this subtree (the
      // same scan) at its own root; it keeps the job path, so that its
      // plan matches the join's broadcast and the exchange is reused
      scan.plannedBelowRoot = true
      Nil
    case _ => Nil
  }

  private def plain(e: Expression): Boolean = e.deterministic &&
    !e.exists(x => x.isInstanceOf[PlanExpression[_]] || x.isInstanceOf[DynamicPruning])
}

/** A root-level graft scan answered on the driver: the pruned files are
  * read with [[GraftScan.driverRows]] when the query runs (planning
  * fetches only the pruned list and its statuses), `filters` drop rows
  * before any row is copied, and `project` shapes the rest. Collecting
  * runs no Spark job; [[doExecute]] hands the same rows to callers that
  * need an RDD (`.rdd`, caching) as one partition, the split count the
  * job path plans for files this small. */
private[acid] final case class GraftDriverScanExec(output: Seq[Attribute],
    project: Seq[NamedExpression], filters: Seq[Expression],
    scanOutput: Seq[Attribute], @transient scan: GraftScan) extends LeafExecNode {

  override def simpleString(maxFields: Int): String = {
    val f = if (filters.isEmpty) "" else
      " Filter: " + truncatedString(filters, "[", ", ", "]", maxFields)
    s"GraftDriverScan ${truncatedString(output, "[", ", ", "]", maxFields)} " +
      s"${scan.description()} Files: ${scan.prunedFiles.size}$f"
  }

  override def executeCollect(): Array[InternalRow] = {
    // interpreted, as ConvertToLocalRelation evaluates a local relation:
    // literal IN lists would make every lookup compile its own class.
    // Read nullable, as the job path's reader does.
    def bind(e: Expression) = BindReferences.bindReference(e, scanOutput)
      .transform { case b: BoundReference => b.copy(nullable = true) }
    val keep = filters.reduceOption(And(_, _)).map(c => Predicate.createInterpreted(bind(c)))
    val proj = InterpretedUnsafeProjection.createProjection(project.map(bind))
    scan.driverRows(r => keep.forall(_.eval(r))).map(r => proj(r).copy()).toArray
  }

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)
}
