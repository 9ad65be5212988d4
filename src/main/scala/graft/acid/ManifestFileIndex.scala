package graft.acid

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.StructType

/** Spark file index over an explicit manifest file list — the
  * programmatic read path's address book. The manifest already names
  * every file of a snapshot, so nothing is listed: `listFiles` first
  * drops the files whose manifest stats veto the scan's pushed data
  * filters ([[GraftTableSource.fileMayMatch]]) and fetches a status
  * only for the survivors. A point read therefore stats the one or two
  * files whose obj_id range covers the id, where `spark.read.parquet`
  * over the same list lists and stats every file at plan time. Statuses
  * are memoized per index (data files are immutable), and the total
  * size is computed only when a plan asks for it.
  *
  * `schema` is the PHYSICAL read schema, so filters arrive in the
  * namespace `skip` is keyed by. Equality is by table and file set, so
  * `CacheManager` matches two reads of the same files. Unpartitioned
  * relation: hive `k=v` values come back as literal columns above the
  * scan (see [[Instance.viewOf]]). */
private[acid] final class ManifestFileIndex(inst: Instance,
    val files: Seq[String], schema: StructType,
    skip: Option[VersionedTable.SkipStats]) extends FileIndex {

  private val statuses =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private def statusesOf(rels: Seq[String]): Seq[FileStatus] = {
    val missing = rels.filterNot(statuses.containsKey)
    inst.pooledMap(missing)(rel =>
      rel -> inst.fs.getFileStatus(new Path(inst.dataDir, rel)))
      .foreach { case (rel, st) => statuses.put(rel, st) }
    rels.map(statuses.get)
  }

  override def rootPaths: Seq[Path] = Seq(inst.fs.makeQualified(inst.dataDir))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = skip match {
      case Some(st) =>
        val pushed = dataFilters.flatMap(PlanBridge.translateFilter)
          .filter(_.references.length == 1)
        if (pushed.isEmpty) files
        else files.filter(GraftTableSource.fileMayMatch(pushed, schema,
          identity, st, inst.resolveBloomPointer))
      case None => files
    }
    Seq(PartitionDirectory(InternalRow.empty, statusesOf(kept).toArray))
  }

  override def inputFiles: Array[String] =
    files.map(f => inst.fs.makeQualified(new Path(inst.dataDir, f)).toString)
      .toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statusesOf(files).map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(o: Any): Boolean = o match {
    case m: ManifestFileIndex => m.root == root && m.files == files
    case _ => false
  }

  override def hashCode: Int = (root, files).hashCode

  private def root: String = inst.dataDir.toString
}
