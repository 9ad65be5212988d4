package graft.acid

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Native Structured Streaming sink over a [[VersionedTable]]:
  *
  * {{{
  *   df.writeStream.format("graft").option("path", root)
  *     .option("checkpointLocation", ckpt).start()        // append
  *   agg.writeStream.format("graft").outputMode("complete")
  *     .option("path", root).start()     // truncate+insert per epoch
  *   df.writeStream.toTable("cat.ns.t")  // through the SQL catalog
  * }}}
  *
  * Exactly-once without a foreachBatch helper: every micro-batch is ONE
  * ACID commit whose manifest carries the `(queryId -> epochId)`
  * watermark ([[Txn.markEpoch]]). A recovering stream replays its last
  * epoch (Spark's contract is at-least-once between sink commit and
  * checkpoint write); the replay's commit finds the watermark — in the
  * checkpoint-folded map or in the conflict window, so a zombie driver
  * racing its replacement is covered too — and lands NOTHING. The
  * reference's WAL-replay recovery (log_mgr/io.rs) solves the same
  * re-application problem with LSN watermarks; here the manifest log is
  * the WAL and the epoch id is the LSN.
  *
  * Scale: rows stream through Spark's own parquet writer into the
  * table's staging area ON THE EXECUTORS — the driver's commit handles
  * only file names and footer id-range stats (bounded metadata, never
  * rows). Append mode adopts the staged files; complete mode retires
  * the snapshot and adopts in the SAME transaction (atomic replace,
  * the pre-epoch version stays time-travelable). */
private[acid] final class GraftStreamingWrite(root: String,
    tableSchema: StructType, writeSchema: StructType, queryId: String,
    complete: Boolean, partitionBy: Seq[String] = Nil,
    upsert: Boolean = false,
    conf: EngineConf = EngineConf(),
    // refresh-on-epoch (opt-in, `.option("refreshViews", "root1,root2")`):
    // materialized-view roots to advance after each epoch commit — the
    // push half of the otherwise pull-only MV plane (the reference's
    // checkpointer daemon closes the same loop for its own derived
    // state, checkpointer.rs:86-176)
    refreshViews: Seq[String] = Nil,
    // same loop for persisted ANN indexes over this table
    // (`.option("refreshIndexes", "idxRoot1,idxRoot2")`): each epoch
    // commit advances the named [[graft.operators.IvfIndex]]es —
    // best-effort exactly like refreshViews (a lagging index heals on
    // its next refresh; its watermark makes the catch-up exact)
    refreshIndexes: Seq[String] = Nil) extends StreamingWrite {

  {
    // nested nullability (array containsNull, inner struct fields) is
    // as irrelevant to parquet compatibility as top-level nullability:
    // a Dataset built from Seq[Double] carries containsNull=false and
    // must write into an ARRAY<DOUBLE> (containsNull=true) column —
    // same comparison adoptSchemaType uses for evolving batch inserts
    def sameType(a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
      case (x: org.apache.spark.sql.types.ArrayType,
            y: org.apache.spark.sql.types.ArrayType) =>
        sameType(x.elementType, y.elementType)
      case (x: org.apache.spark.sql.types.MapType,
            y: org.apache.spark.sql.types.MapType) =>
        sameType(x.keyType, y.keyType) && sameType(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall {
          case (f, g) => f.name == g.name && sameType(f.dataType, g.dataType)
        }
      case _ => a == b
    }
    val t = tableSchema.fields.map(f => f.name -> f.dataType).toMap
    val bad = writeSchema.fields.filterNot(f =>
      t.get(f.name).exists(sameType(_, f.dataType)))
    val missing = tableSchema.fieldNames.filterNot(writeSchema.fieldNames.contains)
    if (bad.nonEmpty || missing.nonEmpty)
      throw new IllegalArgumentException(
        s"streaming write schema ${writeSchema.simpleString} does not match " +
        s"table schema ${tableSchema.simpleString} at $root" +
        (if (missing.nonEmpty) s"; missing columns: ${missing.mkString(", ")}"
         else s"; mismatched: ${bad.map(_.name).mkString(", ")}"))
    val badPart = partitionBy.filterNot(writeSchema.fieldNames.contains)
    require(badPart.isEmpty,
      s"partition column(s) ${badPart.mkString(", ")} not in stream schema")
    // epochs stage on the executors, never through writeStaged
    VersionedTable.requireInFileObjId(partitionBy)
  }

  // one staging namespace per query RUN (a restart constructs a fresh
  // write), so replayed epochs of a previous incarnation can never
  // collide on file names
  private val stagingSub = s"stream-${UUID.randomUUID().toString.take(12)}"

  // (schemaDDL, renames) pinned ONCE for the query run at first use:
  // every epoch stages files under this mapping, and every epoch's
  // commit passes it to replaceScanned, which conflicts (failing the
  // stream — a restart re-pins) if an interleaved rename/DDL change
  // made it stale. Resolving per-epoch at latestVersion instead would
  // let an epoch stage files under a drifted mapping and land them.
  @transient private lazy val pinnedMapping: (String, Map[String, String]) = {
    val st = VersionedTable.open(SparkSession.active, root)
    val s = st.tableStateAt(st.latestVersion)
    (s.ddl, s.renames)
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val inst = VersionedTable.open(spark, root)
    // column mapping: staged files (column names AND k=v dirs) always
    // spell the PHYSICAL names; the query's schema/partitionBy are
    // logical. Rows are written positionally, so renaming the write
    // schema is the whole translation.
    val ren = pinnedMapping._2
    def physS(s: StructType) = StructType(s.map(f =>
      f.copy(name = ren.getOrElse(f.name, f.name))))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    if (partitionBy.isEmpty) {
      val owf = new ParquetFileFormat().prepareWrite(spark, job,
        Map.empty, physS(writeSchema))
      StreamWriterFactory(CowWriterFactory(owf,
        new Path(inst.dataDir, stagingSub).toString, physS(writeSchema),
        new SerializableConfiguration(job.getConfiguration)))
    } else {
      // hive-layout staging (k=v dirs inside the staging namespace):
      // streamed appends keep partition pruning, exactly like batch
      // Txn.insertPartitioned — partition columns live in the PATH,
      // not the file
      val dataSchema = physS(StructType(
        writeSchema.filterNot(f => partitionBy.contains(f.name))))
      val owf = new ParquetFileFormat().prepareWrite(spark, job,
        Map.empty, dataSchema)
      PartitionedStreamWriterFactory(owf,
        new Path(inst.dataDir, stagingSub).toString, writeSchema,
        partitionBy, partitionBy.map(c => ren.getOrElse(c, c)),
        spark.sessionState.conf.sessionLocalTimeZone,
        new SerializableConfiguration(job.getConfiguration))
    }
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val inst = VersionedTable.open(SparkSession.active, root, conf)
    val staged = messages.flatMap {
      case CowFileMessage(f) if f != null => Seq(f)
      case CowFilesMessage(fs) => fs
      case _ => Nil
    }.map(f => s"$stagingSub/$f").toSeq
    // an empty append epoch is replay-safe without a watermark; don't
    // churn the commit log for it (complete mode still commits: the
    // new snapshot may be "empty now")
    if (staged.isEmpty && !complete) return
    val txn = inst.begin()
    try {
      txn.markEpoch(queryId, epochId)
      if (complete) txn.truncate()
      if (upsert && staged.nonEmpty) {
        // upsert mode: retire any existing rows whose obj_id appears in
        // this epoch BEFORE adopting the staged files — one MERGE-by-key
        // commit per micro-batch. Keys are read from the staged files'
        // obj_id column only (distributed, never collected); the delete
        // side prunes to candidate files via manifest id-range stats
        val keys = inst.viewOf(staged, Instance.IdSchema.toDDL)
        // a micro-batch carrying duplicate obj_id values would land
        // every copy, breaking the obj_id-unique-per-snapshot contract
        // point ops and the change feed rely on (Txn.merge rejects the
        // same shape) — fail the epoch loudly instead. Distributed
        // probe, stops at the first duplicate key.
        import org.apache.spark.sql.functions.{col, count, lit}
        val dup = keys.groupBy("obj_id").agg(count(lit(1)).as("_c"))
          .filter(col("_c") > 1).limit(1).count()
        if (dup > 0)
          throw new IllegalStateException(
            s"streaming upsert epoch $epochId contains duplicate obj_id " +
            s"values; upsert requires key-unique micro-batches (dedup " +
            s"upstream, e.g. dropDuplicates(\"obj_id\"))")
        txn.deleteMatching(keys)
      }
      // CHECK constraints: the streaming path stages its files on the
      // executors (bypassing writeStaged's in-job validator), so each
      // epoch validates its staged rows here — one bounded probe over
      // THIS epoch's files only, failing the epoch before anything
      // lands (the batch paths validate inside the write job itself)
      val consNow = inst.tableStateAt(txn.readVersion).constraints
      if (consNow.nonEmpty && staged.nonEmpty) {
        import org.apache.spark.sql.functions.{coalesce, expr, lit}
        val rows = inst.viewOf(staged, pinnedMapping._1,
          renames = pinnedMapping._2)
        consNow.toSeq.sortBy(_._1).foreach { case (n, check) =>
          val bad = rows.filter(coalesce(expr(check), lit(true)) === false)
            .limit(1).collect()
          if (bad.nonEmpty)
            throw new ConstraintViolationException(
              s"streaming epoch $epochId: CHECK constraint $n ($check) " +
              s"violated by row ${bad.head}")
        }
      }
      // opt-in append-time id uniqueness: append epochs probe like
      // batch inserts (upsert epochs replace by key — unique by
      // construction, and already dup-checked above). A REPLAYED
      // epoch must skip the probe: its own first attempt's rows are
      // durable, so the probe would see them as duplicates and fail
      // the stream where the watermark check would no-op it — the
      // watermark is consulted first (a zombie racing past this check
      // still dies at commit's window scan, caught below).
      if (!upsert &&
          inst.lastCommittedEpoch(queryId).forall(_ < epochId))
        txn.assertUniqueIds(staged)
      if (staged.nonEmpty)
        txn.replaceScanned(Nil, staged, Map.empty, Some(pinnedMapping))
      inst.commit(txn)
    } catch {
      case _: EpochAlreadyCommittedException =>
        // the replayed epoch's work is already durable; commit()'s
        // abort reclaimed this attempt's duplicate staged files
        ()
      case e: Throwable =>
        try inst.rollback(txn) catch { case _: Throwable => () }
        throw e
    }
    // refresh-on-epoch AFTER the epoch is durable (also on the
    // replayed-epoch path: the original attempt may have died between
    // its commit and its refresh)
    refreshDependents()
  }

  /** Advance the opted-in dependent views. Failures must NEVER fail
    * the epoch — the data commit is already durable and the views are
    * pull-based anyway; a lagging view is visible through `mv_status`
    * and heals on its next refresh (its fenced watermark makes the
    * catch-up exact regardless of how many epochs it missed). */
  private def refreshDependents(): Unit = {
    refreshViews.foreach { vr =>
      try {
        val spark = SparkSession.active
        MaterializedAggView.openFromDef(spark, vr).refresh()
      } catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft refresh-on-epoch: view $vr lags (will heal on its " +
            s"next refresh): $e")
      }
    }
    refreshIndexes.foreach { ir =>
      try graft.operators.IvfIndex.open(SparkSession.active, ir).refresh()
      catch {
        case scala.util.control.NonFatal(e) =>
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft refresh-on-epoch: ANN index $ir lags (will heal on " +
            s"its next refresh): $e")
      }
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val inst = VersionedTable.open(SparkSession.active, root)
    messages.flatMap {
      case CowFileMessage(f) if f != null => Seq(f)
      case CowFilesMessage(fs) => fs
      case _ => Nil
    }.foreach { f =>
      try inst.fs.delete(new Path(inst.dataDir, s"$stagingSub/$f"), false)
      catch { case _: Throwable => () }
    }
  }
}

private[acid] final case class CowFilesMessage(files: Seq[String])
    extends WriterCommitMessage

/** Dynamic hive-partition writer for the streaming sink: each task
  * routes rows to one open parquet writer per partition tuple it sees
  * (bounded by the task's distinct tuples — the standard dynamic-
  * partitioning memory shape), staging `k=v/.../part-e<epoch>-...`
  * files whose PATH carries the partition values; the data file itself
  * holds only the non-partition columns, exactly like batch
  * `Txn.insertPartitioned`, so snapshot reads reconstruct the columns
  * as fold-away literals and partition predicates prune at plan time. */
private[acid] final case class PartitionedStreamWriterFactory(
    owf: OutputWriterFactory, stagingDir: String, rowSchema: StructType,
    partitionBy: Seq[String], partitionDirNames: Seq[String],
    timeZone: String,
    conf: SerializableConfiguration) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graftcow", 0), TaskType.MAP, partitionId),
      (taskId & Int.MaxValue).toInt)
    val ctx = new TaskAttemptContextImpl(conf.value, attempt)
    val partIdx = partitionBy.map(rowSchema.fieldIndex)
    val dataIdx = rowSchema.indices.filterNot(partIdx.contains)
    val dataSchema = org.apache.spark.sql.types.StructType(
      dataIdx.map(rowSchema(_)))
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(dataIdx.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(i,
          rowSchema(i).dataType, true)
        : org.apache.spark.sql.catalyst.expressions.Expression))
    // partition values spelled exactly like Spark's own hive layout:
    // cast-to-string, hive path escaping, null -> default partition
    val casts = partIdx.map(i =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.BoundReference(i,
          rowSchema(i).dataType, true),
        org.apache.spark.sql.types.StringType, Option(timeZone)))

    new DataWriter[InternalRow] {
      private val writers =
        scala.collection.mutable.LinkedHashMap
          .empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
      private val files = scala.collection.mutable.ArrayBuffer.empty[String]

      override def write(r: InternalRow): Unit = {
        // dirs spell the PHYSICAL column names (partitionDirNames)
        val dir = partitionDirNames.zip(casts).map { case (c, cast) =>
          val v = cast.eval(r)
          val s =
            if (v == null) "__HIVE_DEFAULT_PARTITION__"
            else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .escapePathName(v.toString)
          s"$c=$s"
        }.mkString("/")
        val w = writers.getOrElseUpdate(dir, {
          val file =
            f"$dir/part-e$epochId-$partitionId%05d-$taskId.snappy.parquet"
          files += file
          owf.newInstance(s"$stagingDir/$file", dataSchema, ctx)
        })
        w.write(proj(r))
      }
      override def commit(): WriterCommitMessage = {
        writers.values.foreach(_.close())
        CowFilesMessage(files.toSeq)
      }
      override def abort(): Unit = {
        writers.values.foreach(w =>
          try w.close() catch { case _: Throwable => () })
        files.foreach { f =>
          val p = new Path(s"$stagingDir/$f")
          try p.getFileSystem(conf.value).delete(p, false)
          catch { case _: Throwable => () }
        }
      }
      override def close(): Unit = ()
    }
  }
}

/** Streaming adapter over [[CowWriterFactory]]: same executor-side
  * parquet writer, file names prefixed with the epoch so a replayed
  * micro-batch (whose task ids restart with it) writes fresh files. */
private[acid] final case class StreamWriterFactory(cow: CowWriterFactory)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    cow.createNamed(partitionId, taskId,
      f"part-e$epochId-$partitionId%05d-$taskId.snappy.parquet")
}
