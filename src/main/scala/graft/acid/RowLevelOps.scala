package graft.acid

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Group-based copy-on-write SQL row-level operations — DELETE with
  * arbitrary predicates, UPDATE, and MERGE INTO against catalog tables
  * (`SupportsRowLevelOperations`, the framework Spark's
  * Rewrite{Delete,Update,MergeInto}Table analyzer rules target):
  *
  *  - Spark plans the operation's SCAN through [[GraftScanBuilder]],
  *    so the command's condition prunes to candidate FILES via the
  *    manifest index first (a `WHERE obj_id = 5` UPDATE rewrites one
  *    file, not the table) — the "group" here is the data file, and
  *    the scan returns whole files, never row-filtered subsets;
  *  - Spark computes the replacement rows (survivors + updates +
  *    MERGE inserts) and hands them to this write: each task streams
  *    its rows through Spark's own parquet [[OutputWriterFactory]]
  *    into the table's staging area — rows never touch the driver;
  *  - commit is ONE ACID transaction: the scanned files retire, the
  *    staged files land with footer-derived id stats, and conflict
  *    metadata is a saturated-bloom summary over the union of retired
  *    and staged id ranges (any concurrent writer of those ids
  *    conflicts; the commit also fails if an interleaved commit
  *    already removed a scanned file — standard optimistic CoW).
  *
  * The metadata-fast DELETE shapes (obj_id = k / IN, truncate) never
  * reach this path — [[GraftTable.canDeleteWhere]] claims them first. */
final class GraftRowLevelOperation(private[acid] val inst: Instance,
    private[acid] val version: Long,
    tableSchema: StructType, cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  private def root = inst.root

  // captured when Spark builds the operation's scan (driver-side);
  // commit retires exactly these files
  @transient @volatile private[acid] var scan: GraftScan = _

  override def command(): RowLevelOperation.Command = cmd
  override def description(): String = s"graft cow $cmd `$root` @v$version"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(inst, inst.tableStateAt(version), Some(version),
      tableSchema, s => scan = s, wholeGroups = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new GraftCowWrite(info.schema(),
        GraftRowLevelOperation.this)
    }
}

private[acid] final case class CowFileMessage(file: String)
    extends WriterCommitMessage

private[acid] final class GraftCowWrite(dataSchema: StructType,
    op: GraftRowLevelOperation) extends Write with BatchWrite {

  private def inst = op.inst

  // one staging sub-dir per operation, uuid-unique like writeStaged's;
  // files inside it only become visible via the manifest commit below
  private val stagingSub = s"cow-${UUID.randomUUID().toString.take(12)}"

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val spark = SparkSession.active
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    // column mapping: staged files spell PHYSICAL names (rows are
    // written positionally, so renaming the write schema suffices).
    // Resolved at the OPERATION's pinned version — the version the
    // scan and schema were planned against — never at latestVersion:
    // a rename committed between scan-pin and here would stage files
    // under the new logical name as a physical name, and the column
    // would later read NULL (commit's pinnedMapping check then
    // conflicts on the drift instead of landing it)
    val ren = inst.tableStateAt(op.version).renames
    val physSchema = StructType(dataSchema.map(f =>
      f.copy(name = ren.getOrElse(f.name, f.name))))
    val owf = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty, physSchema)
    CowWriterFactory(owf,
      new Path(inst.dataDir, stagingSub).toString, physSchema,
      new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case CowFileMessage(f) if f != null => s"$stagingSub/$f"
    }.toSeq
    val scanned =
      if (op.scan == null) Nil // scan never built => nothing matched
      else op.scan.prunedFiles
    if (scanned.isEmpty && staged.isEmpty) return
    val txn = inst.begin()
    try {
      // pass the scan's pinned dv state: a MoR mask that landed on a
      // scanned file between scan-pin and this commit must conflict
      // (the rewrite was planned against the pre-mask rows). Likewise
      // the pinned (DDL, renames): staged files spell the mapping
      // resolved at op.version, so mapping drift must conflict too.
      val pinnedSt = inst.tableStateAt(op.version)
      // CHECK constraints: this path stages its replacement rows on
      // the executors (bypassing writeStaged's in-job validator), so
      // the staged files are probed here — one bounded read of the
      // operation's own churn, failing the whole op before anything
      // lands. Constraints are read at the TXN snapshot (the current
      // invariants); the files spell the op-pinned mapping.
      val consNow = inst.tableStateAt(txn.readVersion).constraints
      if (consNow.nonEmpty && staged.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit}
        val rows = inst.viewOf(staged, pinnedSt.ddl,
          renames = pinnedSt.renames)
        consNow.toSeq.sortBy(_._1).foreach { case (n, check) =>
          val bad = rows.filter(coalesce(expr(check), lit(true)) === false)
            .limit(1).collect()
          if (bad.nonEmpty)
            throw new ConstraintViolationException(
              s"CHECK constraint $n ($check) violated by row ${bad.head}")
        }
      }
      txn.replaceScanned(scanned, staged,
        if (op.scan == null) Map.empty else op.scan.pinnedDvs,
        Some((pinnedSt.ddl, pinnedSt.renames)))
      inst.commit(txn)
    } catch {
      case e: Throwable =>
        // staged files are not txn-tracked; reclaim them ourselves
        try inst.fs.delete(new Path(inst.dataDir, stagingSub), true)
        catch { case _: Throwable => () }
        try inst.rollback(txn) catch { case _: Throwable => () }
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    try inst.fs.delete(new Path(inst.dataDir, stagingSub), true)
    catch { case _: Throwable => () }
  }
}

/** Executor-side parquet writer: one file per non-empty task, named
  * uniquely per (partition, task attempt) so speculative retries never
  * collide; empty tasks produce no file. */
private[acid] final case class CowWriterFactory(owf: OutputWriterFactory,
    stagingDir: String, schema: StructType, conf: SerializableConfiguration)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    createNamed(partitionId, taskId, f"part-$partitionId%05d-$taskId.snappy.parquet")

  /** Writer for an explicit staged-file name (the streaming adapter
    * prefixes the epoch so replayed micro-batches can never collide
    * with an earlier attempt's files). */
  private[acid] def createNamed(partitionId: Int, taskId: Long,
      file: String): DataWriter[InternalRow] = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graftcow", 0), TaskType.MAP, partitionId),
      (taskId & Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    val path = s"$stagingDir/$file"

    new DataWriter[InternalRow] {
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var rows = 0L
      // ReplaceData prepends RowDeltaUtils.OPERATION_COLUMN (an int
      // marker; 1 = DELETE) and Spark's plain writing task forwards it
      // verbatim — strip it with a codegen'd shifted projection, and
      // skip DELETE-marked rows (group-based CoW: a deleted row simply
      // does not survive into the replacement file)
      private lazy val strip = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(schema.indices.map(i =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(i + 1,
            schema(i).dataType, true)
          : org.apache.spark.sql.catalyst.expressions.Expression))
      override def write(r: InternalRow): Unit = {
        val out =
          if (r.numFields == schema.length) r
          else {
            if (r.getInt(0) == 1) return // DELETE_OPERATION
            strip(r)
          }
        if (writer == null) writer = owf.newInstance(path, schema, ctx)
        writer.write(out)
        rows += 1
      }
      override def commit(): WriterCommitMessage = {
        if (writer != null) writer.close()
        CowFileMessage(if (rows > 0) file else null)
      }
      override def abort(): Unit = {
        if (writer != null) {
          try writer.close() catch { case _: Throwable => () }
          val p = new Path(path)
          try p.getFileSystem(conf.value).delete(p, false)
          catch { case _: Throwable => () }
        }
      }
      override def close(): Unit = ()
    }
  }
}
