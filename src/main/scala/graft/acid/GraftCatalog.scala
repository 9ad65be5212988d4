package graft.acid

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, ProcedureCatalog, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Spark SQL catalog over a warehouse directory of [[VersionedTable]]s
  * — the full-SQL front door (the DSv2 relation is [[GraftTable]], so
  * every catalog table reads pruned/vectorized and writes as one ACID
  * commit):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/graft")
  *
  *   sql("CREATE TABLE graft.corpus.docs (obj_id BIGINT, lang STRING, " +
  *       "text STRING) PARTITIONED BY (lang)")
  *   sql("INSERT INTO graft.corpus.docs SELECT ...")
  *   sql("SELECT * FROM graft.corpus.docs WHERE lang = 'en'")
  *   sql("SELECT * FROM graft.corpus.docs VERSION AS OF 3")
  *   sql("SELECT * FROM graft.corpus.docs TIMESTAMP AS OF '2026-08-13'")
  *   sql("DELETE FROM graft.corpus.docs WHERE obj_id = 42")
  *   sql("TRUNCATE TABLE graft.corpus.docs")
  * }}}
  *
  * Layout: `warehouse/ns1[/ns2...]/tableName` is one table root
  * (recognized by its `_manifests` dir); any other directory is a
  * namespace. `PARTITIONED BY` columns (identity transforms only) are
  * recorded in `_catalog.json` at create time so every later INSERT
  * stages the hive `k=v` layout and reads prune on the partition
  * columns. All DDL here is driver-side metadata — O(1) RPCs plus one
  * [[VersionedTable.create]]/delete — never a data scan. */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog {

  private var catalogName: String = _
  private var warehouse: Path = _
  @transient private lazy val fs: FileSystem =
    warehouse.getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)

  override def name(): String = catalogName

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get("warehouse")
    require(w != null && w.nonEmpty,
      s"catalog $name needs spark.sql.catalog.$name.warehouse")
    warehouse = new Path(w)
  }

  private def tablePath(ident: Identifier): Path =
    new Path((warehouse.toString +: ident.namespace().toSeq :+ ident.name())
      .mkString("/"))

  private def nsPath(ns: Seq[String]): Path =
    if (ns.isEmpty) warehouse
    else new Path((warehouse.toString +: ns).mkString("/"))

  private def isTableDir(p: Path): Boolean =
    fs.exists(new Path(p, "_manifests"))

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(s => s.isDirectory && isTableDir(s.getPath))
      .map(s => Identifier.of(namespace, s.getPath.getName)).sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    isTableDir(tablePath(ident))

  private def graftTable(ident: Identifier, version: Long,
      timeTraveled: Boolean): GraftTable = {
    val root = tablePath(ident).toString
    val inst = VersionedTable.open(SparkSession.active, root)
    val st = inst.tableStateAt(version)
    val spec = catalogSpec(ident)
    new GraftTable(inst, st, Some(version), StructType.fromDDL(st.ddl),
      timeTraveled,
      partitionByOpt = spec.get("partitionBy"),
      clusterByOpt = spec.get("clusterBy"),
      uniqueIdsOpt = spec.get("uniqueIds").contains("true"),
      bloomColsOpt = spec.get("bloomFilters"))
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables, Delta/Iceberg style: SELECT * FROM ns.`t$history`
    // / ns.`t$detail` / ns.`t$files` — driver-side manifest reads
    // rendered as a local relation, never a data scan
    val dollar = ident.name().lastIndexOf('$')
    if (dollar > 0) {
      val base = Identifier.of(ident.namespace(), ident.name().take(dollar))
      val kind = ident.name().drop(dollar + 1)
      if (tableExists(base) &&
          (kind == "history" || kind == "detail" || kind == "files" ||
            kind == "partitions" || kind == "tags" ||
            kind == "constraints" || kind == "indexes")) {
        val inst = VersionedTable.open(SparkSession.active,
          tablePath(base).toString)
        val spark = SparkSession.active
        import spark.implicits._
        val df = kind match {
          case "history" => inst.history()
          case "detail" => inst.detail()
          case "partitions" => inst.partitions()
          case "tags" => inst.tags.toSeq.sortBy(_._1)
            .toDF("name", "version")
          case "constraints" => inst.constraints.toSeq.sortBy(_._1)
            .toDF("name", "check")
          case "indexes" =>
            // ANN indexes registered against this table (discovery
            // twin of $tags / list_mvs): all driver metadata reads
            val head = inst.latestVersion
            graft.operators.IvfIndex
              .registeredIndexes(spark, inst.root).map { r =>
                try {
                  val ix = graft.operators.IvfIndex.open(spark, r)
                  val iv = ix.indexedVersion
                  (r, ix.dim, ix.nCells, iv,
                    head - math.max(0L, iv),
                    ix.calibrationCurve.nonEmpty, None: Option[String])
                } catch { case scala.util.control.NonFatal(e) =>
                  (r, -1, -1, -1L, -1L, false,
                    Some(s"unopenable: ${e.getMessage}"))
                }
              }.toDF("root", "dim", "n_cells", "indexed_version",
                "lag", "calibrated", "note")
          case _ => inst.files()
        }
        return new GraftMetadataTable(s"${ident.name()}", df)
      }
    }
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val inst = VersionedTable.open(SparkSession.active,
      tablePath(ident).toString)
    graftTable(ident, inst.latestVersion, timeTraveled = false)
  }

  /** SQL `VERSION AS OF v` — or `VERSION AS OF 'tag'` (snapshot tags,
    * [[Instance.tagVersion]]; tag names can't be all-digits, so the
    * two namespaces never collide). */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val inst = VersionedTable.open(SparkSession.active,
      tablePath(ident).toString)
    graftTable(ident, inst.resolveVersionSpec(version), timeTraveled = true)
  }

  /** SQL `TIMESTAMP AS OF ts` — Spark hands MICROseconds. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val inst = VersionedTable.open(SparkSession.active,
      tablePath(ident).toString)
    graftTable(ident, inst.versionAtTimestamp(timestampMicros / 1000L),
      timeTraveled = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references()(0).fieldNames.mkString(".")
      else throw new UnsupportedOperationException(
        s"graft tables support only identity partitioning, got $t")
    }
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not in schema"))
    VersionedTable.requireInFileObjId(partCols)
    // CREATE TABLE ... TBLPROPERTIES ('cluster_by' = 'c1,c2'): ingest
    // clustering from the first insert (see [[setClustering]])
    val clusterCols = Option(properties.get("cluster_by")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    clusterCols.foreach(c => require(schema.fieldNames.contains(c),
      s"cluster column $c not in schema"))
    // CREATE TABLE ... TBLPROPERTIES ('unique_ids' = 'true'): every
    // SQL INSERT probes for duplicate obj_ids (EngineConf.uniqueIds)
    val uniq = Option(properties.get("unique_ids")).exists(_ == "true")
    // CREATE TABLE ... TBLPROPERTIES ('bloom_filters' = 'c1,c2'):
    // per-file skipping blooms from the first insert
    val bloomCols = Option(properties.get("bloom_filters")).toSeq
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
    bloomCols.foreach(c => require(schema.fieldNames.contains(c),
      s"bloom column $c not in schema"))
    val root = tablePath(ident)
    fs.mkdirs(root.getParent)
    VersionedTable.create(SparkSession.active, root.toString, schema)
    if (partCols.nonEmpty || clusterCols.nonEmpty || uniq ||
        bloomCols.nonEmpty)
      writeCatalogSpec(ident, partCols, clusterCols, uniq, bloomCols)
    graftTable(ident, 0L, timeTraveled = false)
  }

  private def catalogSpec(ident: Identifier): Map[String, String] =
    GraftTableSource.readCatalogJson(fs, tablePath(ident))

  /** The column list `spec` records under `key` (Nil when unset). */
  private def specCols(spec: Map[String, String], key: String): Seq[String] =
    spec.get(key).toSeq.flatMap(_.split(','))

  /** The column names of `ident`'s head schema — read without
    * [[openInstance]]'s `_catalog.json` read, which a spec rewrite
    * makes itself. */
  private def headColumns(ident: Identifier): Set[String] = {
    val inst = VersionedTable.open(SparkSession.active, tablePath(ident).toString)
    StructType.fromDDL(inst.tableStateAt(inst.latestVersion).ddl).fieldNames.toSet
  }

  /** Rewrite `ident`'s spec with the given entries replaced and the
    * others as recorded — one `_catalog.json` read per procedure call. */
  private def updateCatalogSpec(ident: Identifier,
      partitionBy: Option[Seq[String]] = None,
      clusterBy: Option[Seq[String]] = None,
      uniqueIds: Option[Boolean] = None,
      bloomFilters: Option[Seq[String]] = None): Unit = {
    val spec = catalogSpec(ident)
    writeCatalogSpec(ident,
      partitionBy.getOrElse(specCols(spec, "partitionBy")),
      clusterBy.getOrElse(specCols(spec, "clusterBy")),
      uniqueIds.getOrElse(spec.get("uniqueIds").contains("true")),
      bloomFilters.getOrElse(specCols(spec, "bloomFilters")))
  }

  /** Rewrite `_catalog.json` with the given specs (absent when all
    * are empty/off) — write-then-rename, never delete-then-create: a
    * crash between a delete and a create would silently leave the
    * table spec-less for every subsequent write, and a concurrent
    * reader in the window would see no spec at all. */
  private def writeCatalogSpec(ident: Identifier,
      partitionBy: Seq[String], clusterBy: Seq[String],
      uniqueIds: Boolean = false,
      bloomFilters: Seq[String] = Nil): Unit = {
    // the spec serializes as comma-joined values inside a json string:
    // a column name carrying a comma would split wrongly on read. Names
    // with a quote, backslash or control character are refused too:
    // they also live in paths and SQL, so a safe charset is the honest
    // surface rather than escaping.
    (partitionBy ++ clusterBy ++ bloomFilters).foreach { c =>
      require(!c.exists(ch => ch == '"' || ch == '\\' || ch == ',' ||
          ch < ' '),
        s"column name '$c' cannot be recorded in _catalog.json: " +
        "quotes, backslashes, commas and control characters are not " +
        "supported in partition/cluster/bloom spec columns")
    }
    val p = new Path(tablePath(ident), "_catalog.json")
    if (partitionBy.isEmpty && clusterBy.isEmpty && !uniqueIds &&
        bloomFilters.isEmpty) {
      if (fs.exists(p)) fs.delete(p, false)
      return
    }
    MetaJson.replace(fs, p, MetaJson.obj { g =>
      Seq("partitionBy" -> partitionBy, "clusterBy" -> clusterBy,
        "uniqueIds" -> (if (uniqueIds) Seq("true") else Nil),
        "bloomFilters" -> bloomFilters).foreach { case (k, cols) =>
        if (cols.nonEmpty) g.writeStringField(k, cols.mkString(","))
      }
    })
  }

  /** SQL `ALTER TABLE` as ONE metadata-only schema-evolution commit:
    * ADD/DROP COLUMNS (the same add/drop-only guard an evolving insert
    * passes), RENAME COLUMN (column mapping — the physical name in
    * every existing file never changes, see [[Txn.renameColumn]]), and
    * ALTER COLUMN ... TYPE for lossless WIDENING promotions only
    * (int -> long etc., [[Txn.widenColumn]]; old files promote at scan
    * time). Everything else stays loudly unsupported. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val inst = VersionedTable.open(SparkSession.active,
      tablePath(ident).toString)
    val spec = catalogSpec(ident)
    val partCols = specCols(spec, "partitionBy").map(_.trim).toSet
    val clusterCols = specCols(spec, "clusterBy").map(_.trim).toSet
    def one(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"nested $what not supported: ${names.mkString(".")}")
      names(0)
    }
    inst.withRetry() { txn =>
      changes.foreach {
        case add: TableChange.AddColumn =>
          val name = one(add.fieldNames(), "ADD COLUMN")
          require(add.isNullable,
            s"added column $name must be nullable " +
            "(existing rows have no value for it)")
          txn.alterSchema(txn.localSchema.add(
            org.apache.spark.sql.types.StructField(
              name, add.dataType(), nullable = true)))
        case drop: TableChange.DeleteColumn =>
          val name = one(drop.fieldNames(), "DROP COLUMN")
          require(txn.localSchema.fieldNames.contains(name),
            s"no such column $name")
          require(!partCols.contains(name),
            s"cannot drop partition column $name")
          require(!clusterCols.contains(name),
            s"cannot drop cluster column $name " +
            "(clear it with CALL system.set_clustering first)")
          txn.alterSchema(StructType(
            txn.localSchema.filterNot(_.name == name)))
        case ren: TableChange.RenameColumn =>
          val from = one(ren.fieldNames(), "RENAME COLUMN")
          // the partition/cluster lists in _catalog.json name logical
          // columns; keeping renames off them keeps that file
          // authoritative
          require(!partCols.contains(from),
            s"cannot rename partition column $from")
          require(!clusterCols.contains(from),
            s"cannot rename cluster column $from " +
            "(clear it with CALL system.set_clustering first)")
          txn.renameColumn(from, ren.newName())
        case upd: TableChange.UpdateColumnType =>
          txn.widenColumn(one(upd.fieldNames(), "ALTER COLUMN TYPE"),
            upd.newDataType())
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change $other (supported: ADD/DROP " +
          "COLUMNS, RENAME COLUMN, widening ALTER COLUMN TYPE)")
      }
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      // the registry can't veto a standard DROP TABLE, but it can make
      // it non-silent: views fed by this table break at next refresh
      try {
        val views = MaterializedAggView.registeredViews(fs,
          tablePath(ident).toString)
        if (views.nonEmpty)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"dropping $ident which feeds ${views.size} materialized " +
            s"view(s): ${views.mkString(", ")} — they will fail at " +
            "their next refresh (CALL system.list_mvs to inspect; " +
            "CALL system.drop_mv to retire them)")
      } catch { case scala.util.control.NonFatal(_) => () }
      fs.delete(tablePath(ident), true)
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(tablePath(newIdent).getParent)
    if (!fs.rename(tablePath(oldIdent), tablePath(newIdent)))
      throw new IllegalStateException(
        s"rename ${oldIdent} -> ${newIdent} failed")
    // post-rename rewiring of the view plane (best-effort — a miss
    // degrades to the loud dangling-binding failure, never silence):
    try {
      val spark = SparkSession.active
      val oldPath = new Path(tablePath(oldIdent).toString).toString
      val newPath = new Path(tablePath(newIdent).toString).toString
      def dotted(id: Identifier) = (id.namespace :+ id.name).mkString(".")
      val remap: String => String = s =>
        if (s == dotted(oldIdent)) dotted(newIdent)
        else if (new Path(s).toString == oldPath) newPath
        else s
      // renamed SOURCE: rewrite each dependent view's recorded
      // binding (dotted spec AND physical path) so refresh follows
      // the move instead of dangling
      MaterializedAggView.registeredViews(fs, newPath).foreach { vr =>
        try MaterializedAggView.rebindDef(
          VersionedTable.open(spark, vr), remap)
        catch {
          case scala.util.control.NonFatal(e) =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"rename $oldIdent -> $newIdent: could not rebind " +
              s"dependent view $vr (it will fail loudly at next " +
              s"refresh): $e")
        }
      }
      // renamed VIEW: re-register the new root with every source and
      // carry the refresh watermarks to the new identity (their appId
      // embeds the view root; without the migration the next refresh
      // would re-fold the snapshot into the populated view)
      if (MaterializedAggView.isViewRoot(fs, newPath)) {
        MaterializedAggView.migrateWatermarks(spark, oldPath, newPath)
        val mv = MaterializedAggView.openFromDef(spark, newPath)
        (mv.source +: mv.dimJoins.map(_.dim)).foreach(t =>
          MaterializedAggView.moveRegistration(t, oldPath, newPath))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"rename $oldIdent -> $newIdent: view-plane rewiring " +
          s"incomplete (CALL system.list_mvs to inspect): $e")
    }
  }

  // ---- procedures ------------------------------------------------------

  /** Maintenance surface as SQL `CALL`s — the admin operations a
    * lakehouse needs without leaving SQL:
    * `CALL cat.system.vacuum('ns.table', retain_versions => 10)` and
    * `CALL cat.system.compact('ns.table', target_files => 8,
    * cluster_by => 'obj_id,value')`. Each returns its metric row. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      Array("vacuum", "compact", "materialize", "restore",
        "create_mv", "refresh_mv", "mv_status", "list_mvs", "drop_mv",
        "set_partitioning", "set_clustering", "set_unique_ids",
        "set_bloom_filters", "add_constraint", "drop_constraint",
        "show_constraints", "tag", "delete_tag", "list_tags",
        "create_ann_index", "refresh_ann_index", "drop_ann_index",
        "ann_search")
        .map(n => Identifier.of(Array("system"), n))
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    if (ident.namespace().toSeq != Seq("system"))
      throw new NoSuchElementException(s"no procedure $ident")
    ident.name() match {
      case "vacuum" => new VacuumProcedure(this)
      case "compact" => new CompactProcedure(this)
      case "materialize" => new MaterializeProcedure(this)
      case "restore" => new RestoreProcedure(this)
      case "create_mv" => new CreateMvProcedure(this)
      case "refresh_mv" => new RefreshMvProcedure(this)
      case "set_partitioning" => new SetPartitioningProcedure(this)
      case "set_clustering" => new SetClusteringProcedure(this)
      case "set_unique_ids" => new SetUniqueIdsProcedure(this)
      case "mv_status" => new MvStatusProcedure(this)
      case "list_mvs" => new ListMvsProcedure(this)
      case "drop_mv" => new DropMvProcedure(this)
      case "add_constraint" => new AddConstraintProcedure(this)
      case "drop_constraint" => new DropConstraintProcedure(this)
      case "show_constraints" => new ShowConstraintsProcedure(this)
      case "tag" => new TagProcedure(this)
      case "delete_tag" => new DeleteTagProcedure(this)
      case "list_tags" => new ListTagsProcedure(this)
      case "set_bloom_filters" => new SetBloomFiltersProcedure(this)
      case "create_ann_index" => new CreateAnnIndexProcedure(this)
      case "refresh_ann_index" => new RefreshAnnIndexProcedure(this)
      case "drop_ann_index" => new DropAnnIndexProcedure(this)
      case "ann_search" => new AnnSearchProcedure(this)
      case other => throw new NoSuchElementException(
        s"no procedure system.$other (have: vacuum, compact, " +
        "materialize, restore, create_mv, refresh_mv, " +
        "set_partitioning, set_clustering, mv_status, list_mvs, " +
        "drop_mv, add_constraint, drop_constraint, show_constraints, " +
        "tag, delete_tag, list_tags, set_bloom_filters, " +
        "create_ann_index, refresh_ann_index, drop_ann_index, " +
        "ann_search)")
    }
  }

  /** PARTITION-SPEC EVOLUTION: replace the identity-partition column
    * list for NEW writes — metadata-only (one `_catalog.json`
    * rewrite, zero data IO). Old files keep their layout: readers
    * already union mixed layouts per file, partition-filter pruning
    * stays conservative for files without the segment (they fall back
    * to their footer stats), and a later `CALL system.compact`
    * re-lays the old generation out under the current spec when
    * pruning on the new key matters for it. At 100 TB yesterday's
    * partition key is tomorrow's skew — the spec must be able to move
    * without rewriting the table. */
  /** The current identity-partition columns of `dotted`, if any. */
  private[acid] def partitionColsFor(dotted: String): Option[Seq[String]] = {
    val parts = dotted.split('.')
    catalogSpec(Identifier.of(parts.dropRight(1), parts.last))
      .get("partitionBy").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
  }

  private[acid] def setPartitioning(dotted: String,
      cols: Seq[String]): Unit = {
    val parts = dotted.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val schemaCols = headColumns(ident)
    cols.foreach(c => require(schemaCols.contains(c),
      s"partition column $c not in table schema"))
    VersionedTable.requireInFileObjId(cols)
    updateCatalogSpec(ident, partitionBy = Some(cols))
  }

  /** CLUSTER-SPEC EVOLUTION (the ingest-side half of `compact`'s
    * clusterBy): record the columns every catalog INSERT should
    * range-cluster + locally sort its files on, so the universal
    * footer-stat index prunes point/range predicates on them to
    * O(files-per-range) from the moment rows land — instead of
    * degrading until the next OPTIMIZE pass. Metadata-only; Nil
    * clears. The leading column gets disjoint per-file ranges; a
    * periodic `compact(clusterBy = ...)` still gives the multi-column
    * Z-order layout across the whole table. */
  private[acid] def setClustering(dotted: String,
      cols: Seq[String]): Unit = {
    val parts = dotted.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val schemaCols = headColumns(ident)
    cols.foreach(c => require(schemaCols.contains(c),
      s"cluster column $c not in table schema"))
    updateCatalogSpec(ident, clusterBy = Some(cols))
  }

  /** Toggle append-time id-uniqueness enforcement for SQL writes to
    * this table ([[EngineConf.uniqueIds]]'s catalog face; also the
    * CREATE TABLE `unique_ids` property). */
  private[acid] def setUniqueIds(dotted: String, on: Boolean): Unit = {
    val parts = dotted.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    updateCatalogSpec(ident, uniqueIds = Some(on))
  }

  /** BLOOM-FILTER spec evolution: declare (or clear) the columns every
    * later INSERT builds per-file skipping blooms for — metadata-only;
    * existing files simply have no bloom entries (kept at prune,
    * veto-only) until a compact/rewrite re-stages them. */
  private[acid] def setBloomFilters(dotted: String,
      cols: Seq[String]): Unit = {
    val parts = dotted.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val schemaCols = headColumns(ident)
    cols.foreach(c => require(schemaCols.contains(c),
      s"bloom column $c not in table schema"))
    updateCatalogSpec(ident, bloomFilters = Some(cols))
  }

  private[acid] def pathFor(dotted: String): Path = {
    val parts = dotted.split('.')
    tablePath(Identifier.of(parts.dropRight(1), parts.last))
  }

  private[acid] def openInstance(dotted: String): Instance = {
    val parts = dotted.split('.')
    val ident = Identifier.of(parts.dropRight(1), parts.last)
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    // thread the persisted bloom spec into the conf so catalog-driven
    // rewrites (CALL system.compact above all — it re-stages every
    // live file) KEEP the bloom index instead of silently dropping it
    VersionedTable.open(SparkSession.active, tablePath(ident).toString,
      EngineConf(fileBloomCols = specCols(catalogSpec(ident), "bloomFilters")
        .map(_.trim).filter(_.nonEmpty)))
  }

  /** Catalog-level CROSS-TABLE transaction front door: one [[Txn]] per
    * dotted table name, `body` stages whatever it wants on each, and
    * every table's changes land atomically through ONE decision record
    * (under the warehouse's `_multi` dir) — the SQL-catalog face of
    * [[MultiCommit.commitAll]]. Either all tables advance or none do;
    * failure anywhere rolls every participant back. Returns the
    * claimed version per table name. */
  def multiTransact(tables: Seq[String])(
      body: Seq[Txn] => Unit): Map[String, Long] = {
    require(tables.nonEmpty, "multiTransact needs at least one table")
    val insts = tables.map(openInstance)
    val txns = insts.map(_.begin())
    val committed =
      try {
        body(txns)
        MultiCommit.commitAll(new Path(warehouse, "_multi").toString,
          insts.zip(txns))
      } catch {
        case e: Throwable =>
          txns.zip(insts).foreach { case (t, i) =>
            try i.rollback(t)
            catch { case scala.util.control.NonFatal(_) => () }
          }
          throw e
      }
    // map roots back to the caller's dotted names
    tables.zip(insts).map { case (n, i) => n -> committed(i.root) }.toMap
  }

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    if (!fs.exists(warehouse)) return Array.empty
    fs.listStatus(warehouse)
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => Array(s.getPath.getName)).sortBy(_.mkString)
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsPath(namespace.toSeq)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir)
      .filter(s => s.isDirectory && !isTableDir(s.getPath))
      .map(s => namespace :+ s.getPath.getName).sortBy(_.mkString("."))
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (fs.exists(nsPath(namespace.toSeq)) && !isTableDir(nsPath(namespace.toSeq)))

  override def loadNamespaceMetadata(namespace: Array[String])
      : java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.emptyMap()
  }

  override def createNamespace(namespace: Array[String],
      metadata: java.util.Map[String, String]): Unit = {
    fs.mkdirs(nsPath(namespace.toSeq))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    if (!namespaceExists(namespace)) false
    else {
      val dir = nsPath(namespace.toSeq)
      if (!cascade && fs.listStatus(dir).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      fs.delete(dir, true)
    }
  }
}

/** Metadata relation (`t$history` / `t$detail`): the already-computed
  * driver-side DataFrame rendered as a local scan — rows come from
  * `executeCollect` (bounded: one per commit for history, one total
  * for detail), so no executor work and no data files are touched. */
private[acid] final class GraftMetadataTable(tableName: String,
    df: org.apache.spark.sql.DataFrame)
    extends Table with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    () => new LocalScan {
      override def readSchema(): StructType = df.schema
      override def rows(): Array[InternalRow] =
        df.queryExecution.executedPlan.executeCollect().map(_.copy())
    }
}

/** One-row local result for a maintenance CALL. */
private[acid] final class MetricScan(field: String, value: Long)
    extends LocalScan {
  override def readSchema(): StructType =
    StructType(Seq(StructField(field, LongType, nullable = false)))
  override def rows(): Array[InternalRow] =
    Array(new GenericInternalRow(Array[Any](value)))
}

/** One-row string-typed result for admin procedures that report more
  * than a single metric (mv_status). */
private[acid] final class InfoScan(fields: Seq[(String, String)])
    extends LocalScan {
  override def readSchema(): StructType =
    StructType(fields.map { case (n, _) =>
      StructField(n, StringType, nullable = true) })
  override def rows(): Array[InternalRow] =
    Array(new GenericInternalRow(fields.map { case (_, v) =>
      if (v == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(v)
    }.toArray[Any]))
}

/** vacuum's result row: the reclaim metric first (callers read
  * `getLong(0)`) plus the dependent views the new horizon degrades to
  * a full rebuild on their next refresh (null = none). */
private[acid] final class VacuumScan(deleted: Long, rebuild: String)
    extends LocalScan {
  override def readSchema(): StructType = StructType(Seq(
    StructField("deleted_files", LongType, nullable = false),
    StructField("rebuild_views", StringType, nullable = true)))
  override def rows(): Array[InternalRow] =
    Array(new GenericInternalRow(Array[Any](deleted,
      if (rebuild == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(rebuild))))
}

private[acid] final class VacuumProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "vacuum"
  override def description(): String =
    "Bounded GC: drop data files only referenced by versions older than " +
    "the retention horizon, plus orphaned staging files"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("retain_versions", IntegerType).build(),
    ProcedureParameter.in("sweep_orphans", BooleanType)
      .defaultValue("true").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val retain = input.getInt(1)
    // the GUARD half of the vacuum↔view contract (list_mvs is the
    // discovery half): a registered view whose watermark on THIS
    // table sits below the new pre-image horizon loses its next
    // incremental interval's pre-images and will take the
    // full-rebuild path at its next refresh (refresh checks
    // _vacuum.json proactively). Surface those views in the result so
    // tightening retention is never a silent rebuild storm. Computed
    // BEFORE deletion with the horizon this call establishes;
    // best-effort — an unreadable view is the refresh path's problem,
    // not vacuum's.
    // the SAME horizon vacuum() itself will establish — including the
    // oldest-tag clamp; without it a tagged table over-reports views
    // as rebuild-degraded whose pre-images the clamp actually keeps
    val horizon = math.max(0L,
      math.min(inst.latestVersion - retain + 1,
        inst.tags.values.minOption.getOrElse(Long.MaxValue)))
    val canon = new Path(inst.root).toString
    val spark = SparkSession.active
    val degraded = inst.pooledMap(
        MaterializedAggView.registeredViews(inst)) { vr =>
      try {
        val mv = MaterializedAggView.openFromDef(spark, vr)
        // a table can feed the same view as fact AND dimension
        // (self-join star): any matching role below the horizon counts
        val wms = (if (new Path(mv.source.root).toString == canon)
            Seq(mv.refreshedVersion) else Nil) ++
          mv.dimJoins.zipWithIndex.collect {
            case (dj, i) if new Path(dj.dim.root).toString == canon =>
              mv.refreshedDimVersion(i)
          }
        // -1 = never refreshed: the initial fold is a snapshot scan,
        // vacuum-safe by construction
        if (wms.exists(wm => wm >= 0 && wm < horizon)) Some(vr) else None
      } catch { case scala.util.control.NonFatal(_) => None }
    }.flatten
    val deleted = inst.vacuum(retain, input.getBoolean(2))
    java.util.Collections.singletonList[Scan](new VacuumScan(deleted.toLong,
      if (degraded.isEmpty) null else degraded.mkString(","))).iterator()
  }
}

private[acid] final class MaterializeProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "materialize"
  override def description(): String =
    "Rewrite only the files carrying merge-on-read deletion vectors, " +
    "materializing their masks — O(masked files), vs compact's O(table)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val n = inst.materializeDvs()
    java.util.Collections.singletonList[Scan](
      new MetricScan("materialized_files", n.toLong)).iterator()
  }
}

private[acid] final class RestoreProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "restore"
  override def description(): String =
    "Roll the table back to the contents of an earlier version as one " +
    "NEW metadata-only commit (history stays time-travelable)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("version", LongType)
      .comment("committed version whose contents to restore").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val head = inst.restore(input.getLong(1))
    java.util.Collections.singletonList[Scan](
      new MetricScan("restored_head_version", head)).iterator()
  }
}

private[acid] final class CreateMvProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "create_mv"
  override def description(): String =
    "Create an incrementally-maintained aggregate view (count + sums " +
    "by group columns) over a source table; refresh with refresh_mv"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("view", StringType)
      .comment("dotted name for the NEW view table").build(),
    ProcedureParameter.in("source", StringType)
      .comment("dotted name of the source table").build(),
    ProcedureParameter.in("group_by", StringType)
      .comment("comma-separated group columns").build(),
    ProcedureParameter.in("sums", StringType)
      .comment("comma-separated integral columns to sum; empty = counts only")
      .defaultValue("''").build(),
    ProcedureParameter.in("where", StringType)
      .comment("optional SQL predicate over source columns restricting " +
        "the view's rows; empty = whole table")
      .defaultValue("''").build(),
    ProcedureParameter.in("mins", StringType)
      .comment("comma-separated columns to keep MIN of (orderable; a " +
        "deleted extremum triggers a targeted group recompute)")
      .defaultValue("''").build(),
    ProcedureParameter.in("maxs", StringType)
      .comment("comma-separated columns to keep MAX of")
      .defaultValue("''").build(),
    ProcedureParameter.in("dim_source", StringType)
      .comment("comma-separated dotted names of dimension tables to " +
        "JOIN the source against (a star view joins several; group/sum " +
        "columns may then come from any side)")
      .defaultValue("''").build(),
    ProcedureParameter.in("fact_key", StringType)
      .comment("join key column(s) on the source side, one per " +
        "dim_source entry")
      .defaultValue("''").build(),
    ProcedureParameter.in("dim_key", StringType)
      .comment("join key column(s) on the dimension side, one per " +
        "dim_source entry")
      .defaultValue("''").build(),
    ProcedureParameter.in("ndv", StringType)
      .comment("comma-separated columns to keep an approximate " +
        "distinct-count HLL sketch of (int/bigint/string/binary; a " +
        "net-removed value triggers a targeted group recompute)")
      .defaultValue("''").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    def list(i: Int): Seq[String] = input.getUTF8String(i).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val viewName = input.getUTF8String(0).toString
    val src = cat.openInstance(input.getUTF8String(1).toString)
    val where = Option(input.getUTF8String(4).toString.trim)
      .filter(_.nonEmpty)
    val dimNames = list(7); val factKeys = list(8); val dimKeys = list(9)
    require(dimNames.size == factKeys.size &&
      dimNames.size == dimKeys.size,
      s"dim_source (${dimNames.size}), fact_key (${factKeys.size}) and " +
      s"dim_key (${dimKeys.size}) must list one entry per dimension")
    val djs = dimNames.indices.map(i =>
      MaterializedAggView.DimJoin(cat.openInstance(dimNames(i)),
        factKeys(i), dimKeys(i), dimSpec = dimNames(i)))
    val viewPath = cat.pathFor(viewName)
    MaterializedAggView.create(SparkSession.active, viewPath.toString, src,
      list(2), list(3), sourceSpec = Some(input.getUTF8String(1).toString),
      where = where, minCols = list(5), maxCols = list(6),
      dimJoins = djs, ndvCols = list(10))
    java.util.Collections.singletonList[Scan](
      new MetricScan("created_version", 0L)).iterator()
  }
}

private[acid] final class RefreshMvProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "refresh_mv"
  override def description(): String =
    "Fold the source commits since the last refresh into the view — " +
    "O(delta) via the signed row delta, one atomic idempotent MERGE " +
    "commit (join views also fold the dimension's delta)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("view", StringType)
      .comment("dotted name of a view created by create_mv").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val mv = MaterializedAggView.openFromDef(SparkSession.active,
      cat.pathFor(input.getUTF8String(0).toString).toString)
    val v = mv.refresh()
    java.util.Collections.singletonList[Scan](
      new MetricScan("refreshed_to_version", v)).iterator()
  }
}

private[acid] final class CompactProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "compact"
  override def description(): String =
    "Fold small files into target_files, optionally range/Z-order " +
    "clustered by cluster_by columns, as one layout-only commit"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType).build(),
    ProcedureParameter.in("target_files", IntegerType)
      .defaultValue("1").build(),
    ProcedureParameter.in("cluster_by", StringType)
      .comment("comma-separated cluster columns; empty = none")
      .defaultValue("''").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val dotted = input.getUTF8String(0).toString
    val inst = cat.openInstance(dotted)
    val cluster = input.getUTF8String(2).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    // the catalog's CURRENT spec drives the rewrite layout, so a
    // compaction after set_partitioning migrates the old generation;
    // tables without a spec keep the inferred-from-paths behavior
    val replaced = inst.compact(input.getInt(1), clusterBy = cluster,
      partitionBy = cat.partitionColsFor(dotted))
    java.util.Collections.singletonList[Scan](
      new MetricScan("replaced_files", replaced.toLong)).iterator()
  }
}

/** `CALL system.mv_status(view)` — the admin surface for a
  * materialized view: its persisted definition and the source (and,
  * for join views, dimension) versions the stored rows reflect —
  * "how stale am I" in one row, without touching any data file. */
private[acid] final class MvStatusProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "mv_status"
  override def description(): String =
    "Report a materialized view's definition and refresh watermarks"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("view", StringType)
      .comment("dotted name of a view created by create_mv").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val mv = MaterializedAggView.openFromDef(SparkSession.active,
      cat.pathFor(input.getUTF8String(0).toString).toString)
    def csv(xs: Seq[String]) = if (xs.isEmpty) null else xs.mkString(",")
    java.util.Collections.singletonList[Scan](new InfoScan(Seq(
      "group_by" -> csv(mv.groupCols),
      "sums" -> csv(mv.sumCols),
      "mins" -> csv(mv.minCols),
      "maxs" -> csv(mv.maxCols),
      "ndv" -> csv(mv.ndvCols),
      "where" -> mv.where.orNull,
      "dim_join" -> (if (mv.dimJoins.isEmpty) null
        else mv.dimJoins.map(dj =>
          s"${dj.dimSpec} ON ${dj.factKey} = ${dj.dimKey}")
          .mkString("; ")),
      "refreshed_source_version" -> mv.refreshedVersion.toString,
      "source_head_version" -> mv.source.latestVersion.toString,
      "refreshed_dim_version" -> (if (mv.dimJoins.isEmpty) null
        else mv.dimJoins.indices.map(i =>
          mv.refreshedDimVersion(i).toString).mkString(",")),
      "dim_head_version" -> (if (mv.dimJoins.isEmpty) null
        else mv.dimJoins.map(_.dim.latestVersion.toString)
          .mkString(","))))).iterator()
  }
}

/** Multi-row local result for procedures that report a LIST (one row
  * per item), sibling of the single-row [[InfoScan]]. */
private[acid] final class ListScan(names: Seq[String],
    rowsIn: Seq[Seq[String]]) extends LocalScan {
  override def readSchema(): StructType =
    StructType(names.map(n => StructField(n, StringType, nullable = true)))
  override def rows(): Array[InternalRow] =
    rowsIn.map(r => new GenericInternalRow(r.map { v =>
      if (v == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(v)
    }.toArray[Any]): InternalRow).toArray
}

/** `CALL system.list_mvs(table)` — the DISCOVERY half of the
  * vacuum↔view contract: one row per materialized view registered
  * against `table` (as fact OR dimension), with the view's lag
  * RELATIVE TO THIS TABLE — the thing an operator checks before
  * tightening vacuum retention or dropping the table. Registry is
  * best-effort create-time metadata; entries whose view no longer
  * opens are reported with a note instead of failing the call. All
  * driver metadata reads, never a data scan. */
private[acid] final class ListMvsProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "list_mvs"
  override def description(): String =
    "List materialized views registered against a table (fact or dim) " +
    "with their refresh lag relative to it"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val canon = new Path(inst.root).toString
    // pooled: each view open is a handful of ~10ms metadata reads; a
    // table feeding hundreds of views should list interactively
    val spark = SparkSession.active
    val rows = inst.pooledMap(
        MaterializedAggView.registeredViews(inst)) { vr =>
      try {
        val mv = MaterializedAggView.openFromDef(spark, vr)
        // one row per ROLE: a self-join star feeds the same view as
        // fact and dimension, and each role carries its own watermark
        val roles: Seq[(String, Long, Long)] =
          (if (new Path(mv.source.root).toString == canon)
            Seq(("fact", mv.refreshedVersion, mv.source.latestVersion))
          else Nil) ++
          mv.dimJoins.zipWithIndex.collect {
            case (dj, i) if new Path(dj.dim.root).toString == canon =>
              (s"dim$i", mv.refreshedDimVersion(i), dj.dim.latestVersion)
          }
        (if (roles.isEmpty) Seq(("unknown", -1L, -1L)) else roles)
          .map { case (role, refreshed, head) =>
            Seq(vr, role, refreshed.toString, head.toString,
              (head - math.max(0L, refreshed)).toString, null) }
      } catch {
        case scala.util.control.NonFatal(e) =>
          Seq(Seq(vr, null, null, null, null,
            s"unreadable: ${e.getMessage}"))
      }
    }.flatten
    java.util.Collections.singletonList[Scan](new ListScan(
      Seq("view_root", "role", "refreshed_version", "head_version",
        "lag_versions", "note"), rows)).iterator()
  }
}

/** `CALL system.add_constraint(table, name, check)` — declare a CHECK
  * invariant: validates existing rows (first violation fails the
  * call), then every later write validates its staged rows inside the
  * write job itself ([[Instance.enforceConstraints]]). NOT NULL is
  * the special case `c IS NOT NULL`. */
private[acid] final class AddConstraintProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "add_constraint"
  override def description(): String =
    "Add a CHECK constraint: validate existing rows, then enforce on " +
    "every write (rows failing the boolean expression are rejected)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("name", StringType)
      .comment("constraint name (letters, digits, _)").build(),
    ProcedureParameter.in("check", StringType)
      .comment("boolean SQL expression over the table's columns; " +
        "NULL passes, FALSE violates").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    inst.addConstraint(input.getUTF8String(1).toString,
      input.getUTF8String(2).toString)
    java.util.Collections.singletonList[Scan](
      new MetricScan("version", inst.latestVersion)).iterator()
  }
}

/** `CALL system.drop_constraint(table, name)`. */
private[acid] final class DropConstraintProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "drop_constraint"
  override def description(): String =
    "Drop a CHECK constraint added by add_constraint"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("name", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val hit = inst.dropConstraint(input.getUTF8String(1).toString)
    if (!hit) throw new IllegalArgumentException(
      s"no constraint named ${input.getUTF8String(1)} on " +
      s"${input.getUTF8String(0)}")
    java.util.Collections.singletonList[Scan](
      new MetricScan("version", inst.latestVersion)).iterator()
  }
}

/** `CALL system.show_constraints(table)` — one row per constraint. */
private[acid] final class ShowConstraintsProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "show_constraints"
  override def description(): String =
    "List the CHECK constraints in force on a table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val rows = inst.constraints.toSeq.sortBy(_._1)
      .map { case (n, c) => Seq(n, c) }
    java.util.Collections.singletonList[Scan](new ListScan(
      Seq("name", "check"), rows)).iterator()
  }
}

/** `CALL system.set_unique_ids(table, enabled)` — toggle append-time
  * id-uniqueness probing for SQL writes ([[EngineConf.uniqueIds]]). */
private[acid] final class SetUniqueIdsProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "set_unique_ids"
  override def description(): String =
    "Toggle duplicate-obj_id probing on INSERTs to this table " +
    "(merge/upsert are unique by construction)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("enabled", BooleanType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    cat.setUniqueIds(input.getUTF8String(0).toString, input.getBoolean(1))
    java.util.Collections.singletonList[Scan](
      new MetricScan("unique_ids",
        if (input.getBoolean(1)) 1L else 0L)).iterator()
  }
}

/** `CALL system.tag(table, name[, version])` — pin a committed version
  * under a name: `VERSION AS OF 'name'` reads it, and vacuum's horizon
  * never passes the oldest tag, so the pinned snapshot stays readable
  * until `delete_tag`. Version defaults to the current head. */
private[acid] final class TagProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "tag"
  override def description(): String =
    "Pin a committed version under a name: readable via VERSION AS OF " +
    "'name', protected from vacuum until delete_tag"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("name", StringType)
      .comment("tag name (letters, digits, _ - .; not all digits)")
      .build(),
    ProcedureParameter.in("version", LongType)
      .comment("committed version to pin; default = current head")
      .defaultValue("-1").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val v = inst.tagVersion(input.getUTF8String(1).toString,
      input.getLong(2))
    java.util.Collections.singletonList[Scan](
      new MetricScan("tagged_version", v)).iterator()
  }
}

/** `CALL system.delete_tag(table, name)` — unpin; reclamation of the
  * previously pinned history resumes at the next vacuum. */
private[acid] final class DeleteTagProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "delete_tag"
  override def description(): String =
    "Drop a snapshot tag created by tag(); vacuum may then reclaim the " +
    "previously pinned history"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("name", StringType).build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val hit = inst.deleteTag(input.getUTF8String(1).toString)
    if (!hit) throw new IllegalArgumentException(
      s"no tag named ${input.getUTF8String(1)} on " +
      s"${input.getUTF8String(0)}")
    java.util.Collections.singletonList[Scan](
      new MetricScan("deleted", 1L)).iterator()
  }
}

/** `CALL system.list_tags(table)` — one row per tag. */
private[acid] final class ListTagsProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "list_tags"
  override def description(): String = "List a table's snapshot tags"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val inst = cat.openInstance(input.getUTF8String(0).toString)
    val rows = inst.tags.toSeq.sortBy(_._1)
      .map { case (n, v) => Seq(n, v.toString) }
    java.util.Collections.singletonList[Scan](new ListScan(
      Seq("name", "version"), rows)).iterator()
  }
}

/** `CALL system.drop_mv(view)` — the lifecycle close of `create_mv`:
  * de-registers the view from its fact and every dimension (so
  * `list_mvs` and vacuum's rebuild report stop naming it) and deletes
  * the view table. */
private[acid] final class DropMvProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "drop_mv"
  override def description(): String =
    "Drop a materialized view created by create_mv: de-register it " +
    "from its source tables and delete the view table"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("view", StringType)
      .comment("dotted name of a view created by create_mv").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val name = input.getUTF8String(0).toString
    val dropped = MaterializedAggView.dropView(SparkSession.active,
      cat.pathFor(name).toString)
    if (!dropped) throw new NoSuchElementException(s"no view $name")
    java.util.Collections.singletonList[Scan](
      new MetricScan("dropped", 1L)).iterator()
  }
}

/** `CALL system.set_partitioning(table, partition_by)` — partition-
  * spec evolution: metadata-only change of the identity-partition
  * columns for NEW writes (see [[GraftCatalog.setPartitioning]]). */
private[acid] final class SetPartitioningProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "set_partitioning"
  override def description(): String =
    "Replace the table's identity-partition columns for new writes " +
    "(metadata-only; existing files keep their layout; compact migrates)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("partition_by", StringType)
      .comment("comma-separated identity partition columns; empty = " +
        "unpartition").defaultValue("''").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val cols = input.getUTF8String(1).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    cat.setPartitioning(input.getUTF8String(0).toString, cols)
    java.util.Collections.singletonList[Scan](
      new MetricScan("partition_columns", cols.size.toLong)).iterator()
  }
}

/** `CALL system.set_clustering(table, cluster_by)` — ingest-side
  * clustering: every later catalog INSERT range-clusters + locally
  * sorts its staged files on these columns, so footer-stat pruning on
  * them stays tight from the moment rows land (compact's Z-order
  * remains the whole-table layout pass). Metadata-only; empty clears. */
private[acid] final class SetClusteringProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "set_clustering"
  override def description(): String =
    "Set the columns new catalog INSERTs range-cluster + sort their " +
    "files on (metadata-only; empty = clear; compact re-lays old files)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("cluster_by", StringType)
      .comment("comma-separated cluster columns; empty = clear")
      .defaultValue("''").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val cols = input.getUTF8String(1).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    cat.setClustering(input.getUTF8String(0).toString, cols)
    java.util.Collections.singletonList[Scan](
      new MetricScan("cluster_columns", cols.size.toLong)).iterator()
  }
}

/** Local scan over an already-computed driver-side DataFrame — the
  * row-returning sibling of [[MetricScan]] for procedures whose result
  * IS a (bounded) relation. */
private[acid] final class DfScan(df: org.apache.spark.sql.DataFrame)
    extends LocalScan {
  override def readSchema(): StructType = df.schema
  override def rows(): Array[InternalRow] =
    df.queryExecution.executedPlan.executeCollect().map(_.copy())
}

/** `CALL system.create_ann_index(index, source, dim, n_cells, ...)` —
  * the SQL front door of [[graft.operators.IvfIndex.buildFromTable]]:
  * train the coarse quantizer over the source's head snapshot, land
  * the cell-partitioned assignment table under the catalog path
  * `index`, register the index with its source (visible in
  * `` source$indexes ``), and (by default) persist the probe→recall
  * calibration curve so `ann_search` can honor target_recall with
  * zero per-call measurement. */
private[acid] final class CreateAnnIndexProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "create_ann_index"
  override def description(): String =
    "Build a persisted IVF ANN index over a table's vector column: " +
    "centroids trained once, assignments cell-partitioned, searchable " +
    "via ann_search; refresh_ann_index folds source churn"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("index", StringType)
      .comment("dotted name for the NEW index inside this catalog").build(),
    ProcedureParameter.in("source", StringType)
      .comment("dotted name of the source table").build(),
    ProcedureParameter.in("dim", IntegerType)
      .comment("embedding dimensionality").build(),
    ProcedureParameter.in("n_cells", IntegerType)
      .comment("coarse-quantizer cell count").build(),
    ProcedureParameter.in("id_col", StringType)
      .comment("id column on the source").defaultValue("'obj_id'").build(),
    ProcedureParameter.in("vec_col", StringType)
      .comment("vector (array) column on the source")
      .defaultValue("'v'").build(),
    ProcedureParameter.in("distributed_train", BooleanType)
      .comment("Lloyd over distributed partial sums instead of a " +
        "driver sample (for large n_cells)")
      .defaultValue("false").build(),
    ProcedureParameter.in("calibrate", BooleanType)
      .comment("measure + persist the probe-recall curve (enables " +
        "target_recall in ann_search)")
      .defaultValue("true").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val src = cat.openInstance(input.getUTF8String(1).toString)
    val idx = graft.operators.IvfIndex.buildFromTable(src,
      cat.pathFor(input.getUTF8String(0).toString).toString,
      dim = input.getInt(2), nCells = input.getInt(3),
      distributedTrain = input.getBoolean(6),
      idCol = input.getUTF8String(4).toString,
      vecCol = input.getUTF8String(5).toString)
    if (input.getBoolean(7)) idx.calibrate()
    java.util.Collections.singletonList[Scan](
      new MetricScan("indexed_version", idx.indexedVersion)).iterator()
  }
}

/** `CALL system.refresh_ann_index(index)` — catch the assignment table
  * up to the source head: O(churn) incremental, full rebuild when the
  * interval was vacuumed. Optional re-calibration re-measures the
  * persisted recall curve against the refreshed assignments. */
private[acid] final class RefreshAnnIndexProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "refresh_ann_index"
  override def description(): String =
    "Fold source churn since the indexed version into the ANN index " +
    "(O(churn); rebuilds when the interval was vacuumed)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("index", StringType)
      .comment("dotted name of an index created by create_ann_index")
      .build(),
    ProcedureParameter.in("recalibrate", BooleanType)
      .comment("re-measure + persist the probe-recall curve after the " +
        "refresh").defaultValue("false").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val idx = graft.operators.IvfIndex.open(SparkSession.active,
      cat.pathFor(input.getUTF8String(0).toString).toString)
    val v = idx.refresh()
    if (input.getBoolean(1)) idx.calibrate()
    java.util.Collections.singletonList[Scan](
      new MetricScan("indexed_version", v)).iterator()
  }
}

/** `CALL system.drop_ann_index(index)` — lifecycle close: deregister
  * from the source and delete the index directory. */
private[acid] final class DropAnnIndexProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "drop_ann_index"
  override def description(): String =
    "Drop an ANN index created by create_ann_index: deregister it " +
    "from its source table and delete the index directory"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("index", StringType)
      .comment("dotted name of an index created by create_ann_index")
      .build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val name = input.getUTF8String(0).toString
    if (!graft.operators.IvfIndex.drop(SparkSession.active,
        cat.pathFor(name).toString))
      throw new NoSuchElementException(s"no ANN index $name")
    java.util.Collections.singletonList[Scan](
      new MetricScan("dropped", 1L)).iterator()
  }
}

/** `CALL system.ann_search(index, queries, k, n_probe|target_recall)`
  * — top-k cosine neighbors of every row in `queries` against the
  * persisted index, `(vec_id, neighbor_id, cs, rank)` per row.
  * `n_probe > 0` probes exactly that many cells (n_probe = n_cells is
  * EXACT brute force, the verifiable anchor); otherwise
  * `target_recall > 0` picks the cheapest calibrated probe rung;
  * neither set = full probe. The result materializes on the driver
  * (the CALL contract — bounded by |queries| × k, never the corpus);
  * corpus-scale batch search goes through the Scala `IvfIndex` API. */
private[acid] final class AnnSearchProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "ann_search"
  override def description(): String =
    "Top-k ANN search over a persisted index: one row per (query, " +
    "rank); exact at n_probe = n_cells, recall-targeted via the " +
    "persisted calibration curve otherwise"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("index", StringType)
      .comment("dotted name of an index created by create_ann_index")
      .build(),
    ProcedureParameter.in("queries", StringType)
      .comment("dotted table of query rows (must carry the index's " +
        "id_col and vec_col columns)").build(),
    ProcedureParameter.in("k", IntegerType)
      .comment("neighbors per query").defaultValue("1").build(),
    ProcedureParameter.in("n_probe", IntegerType)
      .comment("cells to probe; 0 = derive from target_recall / full")
      .defaultValue("0").build(),
    ProcedureParameter.in("target_recall", org.apache.spark.sql.types.DoubleType)
      .comment("pick the cheapest calibrated probe rung supporting " +
        "this recall (needs create_ann_index calibrate => true)")
      .defaultValue("0.0").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val idx = graft.operators.IvfIndex.open(SparkSession.active,
      cat.pathFor(input.getUTF8String(0).toString).toString)
    val queries = cat.openInstance(input.getUTF8String(1).toString).read()
    val k = input.getInt(2)
    val nProbe = input.getInt(3)
    val target = input.getDouble(4)
    val probe =
      if (nProbe > 0) nProbe
      else if (target > 0.0) idx.probeFor(target)
      else idx.nCells
    java.util.Collections.singletonList[Scan](
      new DfScan(idx.searchTopK(queries, k, probe))).iterator()
  }
}

/** `CALL system.set_bloom_filters(table, columns)` — declare the
  * columns every later INSERT builds per-file skipping blooms for
  * (equality/IN pushdown consults them; see
  * [[EngineConf.fileBloomCols]]). Metadata-only; empty clears;
  * existing files gain blooms on their next compact/rewrite. */
private[acid] final class SetBloomFiltersProcedure(cat: GraftCatalog)
    extends UnboundProcedure with BoundProcedure {
  override def name(): String = "set_bloom_filters"
  override def description(): String =
    "Set the columns new INSERTs build per-file skipping bloom " +
    "filters for (metadata-only; empty = clear; equality/IN " +
    "predicates then prune files the blooms prove value-free)"
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("table", StringType)
      .comment("dotted table name inside this catalog").build(),
    ProcedureParameter.in("columns", StringType)
      .comment("comma-separated bloom columns (integral/string/" +
        "binary); empty = clear").defaultValue("''").build())
  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val cols = input.getUTF8String(1).toString
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    cat.setBloomFilters(input.getUTF8String(0).toString, cols)
    java.util.Collections.singletonList[Scan](
      new MetricScan("bloom_columns", cols.size.toLong)).iterator()
  }
}
