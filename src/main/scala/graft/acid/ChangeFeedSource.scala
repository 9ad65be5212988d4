package graft.acid

import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming source over a [[VersionedTable]]'s commit log —
  * the Spark-native analog of tailing the reference's WAL for new data
  * (log records are consumed downstream by LSN order,
  * log_mgr/io.rs:354-373; here the manifest log IS the log, and stream
  * offsets ARE table versions).
  *
  * `spark.readStream.format("graft-cdf").option("path", root).load()`
  * delivers the rows each data commit APPENDED, tagged `_version`, in
  * commit order — Delta-`readStream` semantics:
  *  - pure-insert commits stream their inserted rows exactly;
  *  - layout-only commits (compaction, checkpointing) stream NOTHING —
  *    they change bytes, not content;
  *  - commits that remove files (update/delete/restore) FAIL the
  *    stream by default (an append stream cannot represent them);
  *    `.option("ignoreChanges", true)` streams their added files'
  *    rows instead (post-images plus CoW-copied neighbors — the same
  *    documented caveat as Delta's `ignoreChanges`), and exact
  *    row-level CDC remains available as the batch
  *    [[Instance.changes]];
  *  - `.option("startingVersion", v)` begins at commit v (default 1).
  *
  * `.option("readChangeFeed", true)` upgrades the feed to typed change
  * events (Delta's CDF-read analog): every row gains `_change_type` —
  * added-file rows stream as `insert`, and a MERGE-ON-READ delete
  * commit (deletion-vector delta, no file delta) streams its
  * newly-masked rows as `delete` events, read from the still-live
  * masked file restricted to the mask DELTA vs the previous version —
  * so a downstream sync consumes MoR deletes incrementally instead of
  * needing a batch [[Instance.changes]] reconciliation pass. Replay
  * stays byte-identical (masks are immutable sidecars resolved from
  * pinned manifests). Commits that REMOVE files still need
  * `ignoreChanges` (a CoW rewrite's row identity is not recoverable
  * from file deltas); dv CLEARS (restore un-deletes) carry file
  * deltas and fall under the same rule. Vacuum retention must cover
  * the stream's lag — the masked file must still exist when the
  * delete batch is planned, the same contract as added files.
  *
  * Exactly-once: offsets are table versions checkpointed by the
  * engine's offset log, and a replayed `(start, end]` batch re-plans
  * from immutable manifests, so re-delivery is byte-identical.
  * [[Instance.vacuum]] retention must cover the stream's maximum lag —
  * the same contract every lakehouse streaming source carries.
  *
  * Scale: the driver reads ONE manifest per commit per batch (plus a
  * file-status per added file); rows never touch the driver. Each
  * file is one [[GraftInputPartition]] read on the executors by
  * [[GraftScan]]'s own reader factory ([[GraftScan.readerFactory]]:
  * Spark's prepared parquet reader, one per layout). Hive-partition
  * values (k=v staging segments), `_version` and `_change_type` are
  * constant columns of the partition's layout, never scanned; a cdc
  * side file reads `_change_type` from the file. A batch with no
  * delete events may read columnar; one with them reads row-wise,
  * its delete partitions keeping only their newly-masked ordinals. */
final class ChangeFeedProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-cdf"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-cdf requires .option(\"path\", tableRoot)")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeFeedSource.outputSchema(
      VersionedTable.open(SparkSession.active, rootOf(options)),
      options.getBoolean("readChangeFeed", false))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ChangeFeedTable(schema,
      rootOf(new CaseInsensitiveStringMap(properties)))
}

private[acid] object ChangeFeedSource {
  def outputSchema(inst: Instance, changeFeed: Boolean = false): StructType = {
    val base = StructType.fromDDL(inst.tableStateAt(inst.latestVersion).ddl)
      .add(StructField("_version", LongType, nullable = false))
    if (changeFeed)
      base.add(StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false))
    else base
  }

  /** One [[GraftInputPartition]] per file appended by each data commit
    * in `(lo, hi]` — shared by the micro-batch stream and the bounded
    * batch read; manifests are immutable, so planning the same range
    * twice is byte-identical (the replay guarantee). */
  def planRange(inst: Instance, schema: StructType, lo: Long, hi: Long,
      ignoreChanges: Boolean, changeFeed: Boolean = false,
      ren: Map[String, String] = Map.empty)
      : Array[GraftInputPartition] = {
    // `schema` and `ren` are the logical schema and column mapping the
    // CALLER captured together (stream start / batch plan); files of
    // every version spell the fixed PHYSICAL names, so one mapping
    // translates for the whole range — passing them as a pair keeps
    // the layouts below consistent with the reader factory's
    // resolution even if a rename commits mid-plan
    // (file, version, change type, keep-mask) specs first; statuses
    // are then fetched on the bounded driver pool — each is a ~10ms
    // RPC on an object store, and a bursty commit range adds files ×
    // versions of them (the serial walk was the planner bottleneck)
    val specs = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, Option[GraftBitmap])]
    // dv state rolls FORWARD beside the walk (seeded by one
    // O(checkpointInterval) replay at `lo`), so a range dense with MoR
    // commits costs O(range) manifest reads, not O(range × interval) —
    // the same roll-forward discipline as Instance.changes()
    var prevDvs: Map[String, Seq[String]] =
      if (changeFeed) inst.tableStateAt(lo).dvs else Map.empty
    ((lo + 1) to hi).foreach { v =>
      val m = inst.readManifest(v)
      val priorDvs = prevDvs
      if (changeFeed) prevDvs = VersionedTable.foldDvs(prevDvs, m.removed, m.dvs)
      val isData = m.objects.nonEmpty || m.objSummary.isDefined
      if (isData) {
        // a merge-on-read delete commit (dv delta, no file delta) is a
        // row-removal too — representable ONLY as typed change events
        // (readChangeFeed streams the newly-masked rows as deletes);
        // without that mode it fails like a CoW delete, and under
        // ignoreChanges it simply adds no files. File REMOVALS stay
        // unrepresentable even as events (a rewrite's row identity is
        // not recoverable from file deltas).
        // a commit whose rewrite staged exact change images (cdcExact,
        // EngineConf.changeDataFeed) is FULLY representable in
        // readChangeFeed mode: its cdc side files stream verbatim
        // (insert/delete/update_preimage/update_postimage in-file) and
        // its added data files must NOT also stream — the images
        // already include the inserts
        val cdcServed = changeFeed && m.cdcExact
        val unrepresentable =
          (m.removed.nonEmpty && !cdcServed) ||
          (m.dvs.nonEmpty && !changeFeed)
        if (unrepresentable && !ignoreChanges)
          throw new IllegalStateException(
            s"graft-cdf: version $v of ${inst.root} removes rows (update/" +
            "delete/restore) — an append stream cannot represent it. Set " +
            ".option(\"readChangeFeed\", true) for typed change events " +
            "(exact when the table writes change data, " +
            "EngineConf.changeDataFeed; merge-on-read deletes always), " +
            ".option(\"ignoreChanges\", true) to stream post-image rows, " +
            "or consume Instance.changes() for exact row-level CDC.")
        if (cdcServed)
          m.cdc.foreach { rel => specs += ((rel, v, CdcFile, None)) }
        else
          m.added.foreach { rel => specs += ((rel, v, "insert", None)) }
        if (changeFeed && m.dvs.nonEmpty) {
          // DELETE events: for each masked file, the mask DELTA vs the
          // previous version (prior-masked rows already streamed as
          // deletes by their own commit; a clear contributes nothing)
          val prior = priorDvs
          m.dvs.toSeq.sortBy(_._1).foreach { case (f, list) =>
            if (!m.removed.contains(f) && list.nonEmpty) {
              val cur = inst.resolveDvs(Map(f -> list), Seq(f))(f)
              val pre = prior.get(f).filter(_.nonEmpty)
                .map(l => inst.resolveDvs(Map(f -> l), Seq(f))(f))
                .getOrElse(GraftBitmap.empty)
              val newPos = GraftBitmap(cur.iterator
                .filterNot(pre.contains).toSeq)
              if (newPos.nonEmpty)
                specs += ((f, v, "delete", Some(newPos)))
            }
          }
        }
      }
    }
    val statuses = inst.pooledMap(specs.map(_._1).distinct.toSeq)(rel =>
      rel -> inst.fs.getFileStatus(new Path(inst.dataDir, rel))).toMap
    def phys(n: String) = ren.getOrElse(n, n)
    specs.map { case (rel, v, changeType, keep) =>
      // the layout's constants: the path's hive values (keyed by
      // PHYSICAL name; a cdc side file holds every column in-file),
      // `_version` and, except in a cdc side file, `_change_type`
      val isCdc = changeType == CdcFile
      val hive =
        if (isCdc) Map.empty[String, String]
        else GraftTableSource.partPairs(rel).toMap
      val consts = schema.filter(f => f.name match {
        case "_version" => true
        case "_change_type" => !isCdc
        case n => hive.contains(phys(n))
      })
      val partRow = new GenericInternalRow(consts.map(f => f.name match {
        case "_version" => v
        case "_change_type" => UTF8String.fromString(changeType)
        case n => GraftTableSource.partValueInternal(hive(phys(n)), f.dataType)
      }).toArray[Any])
      val status = statuses(rel)
      GraftInputPartition(
        Seq(PartitionedFile(partRow, SparkPath.fromPath(status.getPath),
          0L, status.getLen, Array.empty, status.getModificationTime,
          status.getLen)),
        consts.map(f => phys(f.name)),
        keep.toSeq, keep = keep.isDefined)
    }.toArray
  }

  /** Change type of a cdc side file's spec: its rows carry their own. */
  private val CdcFile = "__cdc__"

  /** Synthetic output columns appended by the source (never read from
    * data files). */
  private[acid] val MetaCols = Set("_version", "_change_type")
}

private[acid] final class ChangeFeedTable(schema: StructType, root: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-cdf `$root`"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new ChangeFeedScan(schema, root,
        startingVersion = Option(options.get("startingVersion"))
          .map(_.toLong).getOrElse(1L),
        ignoreChanges = options.getBoolean("ignoreChanges", false),
        maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger"))
          .map(_.toLong),
        endingVersion = Option(options.get("endingVersion")).map(_.toLong),
        changeFeed = options.getBoolean("readChangeFeed", false))
    }
}

private[acid] final class ChangeFeedScan(schema: StructType, root: String,
    startingVersion: Long, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long],
    endingVersion: Option[Long] = None,
    changeFeed: Boolean = false) extends Scan {
  override def readSchema(): StructType = schema
  /** Bounded batch read of the same append feed
    * (`spark.read.format("graft-cdf")` with `startingVersion` /
    * `endingVersion`): one-shot commit-log catch-up without a
    * checkpoint — e.g. backfilling a downstream table from commit N,
    * or SQL over a commit interval via a temp view. The range is
    * pinned at planning; identical semantics to draining the stream
    * over `(startingVersion-1, endingVersion]`. */
  override def toBatch: Batch = new Batch {
    private lazy val spark = SparkSession.active
    private lazy val inst = VersionedTable.open(spark, root)
    // ONE capture shared by planning and the reader factory, so a
    // rename committing between the two can't misalign them
    private lazy val ren = inst.tableStateAt(inst.latestVersion).renames
    private lazy val planned = ChangeFeedSource.planRange(inst, schema,
      startingVersion - 1,
      endingVersion.getOrElse(inst.latestVersion), ignoreChanges,
      changeFeed, ren)
    override def planInputPartitions(): Array[InputPartition] =
      planned.toArray[InputPartition]
    override def createReaderFactory(): PartitionReaderFactory =
      GraftScan.readerFactory(spark, schema, planned.map(_.layout).distinct.toSeq,
        n => ren.getOrElse(n, n), masked = planned.exists(_.keep), pushed = Nil)
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangeFeedStream(schema, root, startingVersion, ignoreChanges,
      maxVersionsPerTrigger, changeFeed)
}

private[acid] final case class VersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

private[acid] final class ChangeFeedStream(schema: StructType, root: String,
    startingVersion: Long, ignoreChanges: Boolean,
    maxVersionsPerTrigger: Option[Long],
    changeFeed: Boolean = false)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  @transient private lazy val spark = SparkSession.active
  @transient private lazy val inst = VersionedTable.open(spark, root)
  // column mapping captured ONCE at stream start, beside the (already
  // captured) schema — physical names never change, so one mapping
  // resolves every version's files for the whole run. Re-resolving at
  // latestVersion per batch would silently mis-read after a mid-stream
  // re-rename (the map is keyed by the NEW logical name, so phys()
  // would miss and the column would read NULL); instead, drift against
  // the captured logical names FAILS the stream loudly (Delta's
  // schema-change semantics — restart to adopt the new mapping).
  @transient private lazy val ren0: Map[String, String] =
    inst.tableStateAt(inst.latestVersion).renames
  // planInputPartitions -> createReaderFactory run in sequence on the
  // driver for the same batch; the factory needs the batch's distinct
  // partition layouts to prepare one reader per layout
  @transient @volatile private var planned: Array[GraftInputPartition] =
    Array.empty
  // Trigger.AvailableNow pins the head at trigger start so the run
  // terminates even while writers keep committing
  @transient @volatile private var availableNowCap: Long = -1L

  override def initialOffset(): Offset = VersionOffset(startingVersion - 1)
  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.trim.toLong)
  override def latestOffset(): Offset = VersionOffset(inst.latestVersion)
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = inst.latestVersion
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val head = inst.latestVersion
    val capped = if (availableNowCap >= 0) math.min(head, availableNowCap)
      else head
    // maxVersionsPerTrigger bounds each micro-batch's commit span so a
    // long catch-up (or a bursty writer) drains as steady bounded
    // batches instead of one giant replay — the planner's IO is
    // O(versions per batch), so this is the knob that caps it
    VersionOffset(maxVersionsPerTrigger.fold(capped)(n =>
      math.min(capped, start.asInstanceOf[VersionOffset].v + math.max(1L, n))))
  }
  override def reportLatestOffset(): Offset = VersionOffset(inst.latestVersion)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // mapping-drift gate: if any column this stream captured at start
    // has since been renamed again, dropped, or re-typed, planning
    // with the captured (schema, ren0) would silently emit NULLs —
    // fail the run instead; a restart re-captures and replays exactly
    val cur = inst.tableStateAt(inst.latestVersion)
    val curSchema = StructType.fromDDL(cur.ddl)
    val drifted = schema.filterNot(f =>
        ChangeFeedSource.MetaCols(f.name)).flatMap { f =>
      curSchema.find(_.name == f.name) match {
        case None => Some(s"${f.name} (dropped or renamed)")
        case Some(g) if cur.renames.getOrElse(f.name, f.name) !=
            ren0.getOrElse(f.name, f.name) =>
          Some(s"${f.name} (column mapping changed)")
        case Some(g) if g.dataType != f.dataType =>
          Some(s"${f.name} (type ${f.dataType.simpleString} -> " +
            s"${g.dataType.simpleString})")
        case _ => None
      }
    }
    if (drifted.nonEmpty)
      throw new IllegalStateException(
        s"graft-cdf: table schema/column mapping changed mid-stream for " +
        s"column(s) ${drifted.mkString(", ")} at ${inst.root}; restart " +
        "the stream to adopt the new schema (offsets replay exactly)")
    val ps = ChangeFeedSource.planRange(inst, schema,
      start.asInstanceOf[VersionOffset].v,
      end.asInstanceOf[VersionOffset].v, ignoreChanges, changeFeed, ren0)
    planned = ps
    ps.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftScan.readerFactory(spark, schema, planned.map(_.layout).distinct.toSeq,
      n => ren0.getOrElse(n, n), masked = planned.exists(_.keep), pushed = Nil)
}
