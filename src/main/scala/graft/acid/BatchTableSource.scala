package graft.acid

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Batch DSv2 front door over a [[VersionedTable]] — the SQL-user
  * counterpart of [[Instance.read]]/[[Instance.snapshot]] (reference:
  * open_read at the transaction's snapshot CSN, instance.rs:126-134):
  *
  * {{{
  *   spark.read.format("graft").option("path", root).load()
  *   spark.read.format("graft").option("path", root)
  *     .option("versionAsOf", 7).load()               // time travel
  *   spark.read.format("graft").option("path", root)
  *     .option("timestampAsOf", "2026-08-13T05:00:00Z").load()
  *   sql("CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...')")
  * }}}
  *
  * The version is pinned ONCE, at table resolution — every scan of the
  * relation (re-used across a multi-stage plan, AQE re-optimization,
  * retries) plans the same immutable manifest state, so a concurrent
  * writer can never tear a query half-old/half-new: snapshot isolation
  * at the plan level, the same guarantee `begin()` gives programmatic
  * readers.
  *
  * Scale — the three prunings a 100 TB table needs all happen BEFORE
  * any data file is opened, from manifest metadata alone:
  *  - COLUMN pruning: Catalyst pushes the required schema down
  *    ([[SupportsPushDownRequiredColumns]]); only those columns reach
  *    the parquet reader.
  *  - FILE skipping: pushed filters on `obj_id` consult the manifest's
  *    per-file id-range stats (the id IS the address), filters on
  *    Z-order cluster columns consult `colStats`, and filters on
  *    hive-partition path columns compare against the `k=v` path
  *    values — a point read on a clustered table opens O(1) of the
  *    snapshot's files. Files with no stats entry are never skipped.
  *  - ROW-GROUP skipping: the surviving filters are handed to Spark's
  *    parquet reader, which prunes row groups by footer min/max.
  *  All pushed filters are ALSO left in the plan for re-evaluation
  *  (`pushFilters` returns them as residual), so skipping can only
  *  drop provably-dead IO, never change results.
  *
  * Files are bin-packed into input partitions up to
  * `spark.sql.files.maxPartitionBytes` (oversized files are split by
  * range — parquet is splittable at row-group boundaries), and read by
  * Spark's own vectorized parquet machinery: when every required type
  * supports batches the reader streams [[ColumnarBatch]]es end to end
  * (whole-stage codegen consumes them exactly as it does a native
  * file scan), falling back to rows otherwise. */
final class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def rootOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft requires .option(\"path\", tableRoot)")
    p
  }

  // Spark asks one provider object for the schema and then for the
  // table of one load: the instance and version inferSchema resolved,
  // with the options they were resolved from, are handed to getTable,
  // so a load opens the table and reads its manifests once
  private var resolved: Option[(java.util.Map[String, String], Instance, Long)] = None

  private def resolve(options: CaseInsensitiveStringMap): (Instance, Long) = {
    val inst = VersionedTable.open(SparkSession.active, rootOf(options))
    (inst, GraftTableSource.resolveVersion(inst, options))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (inst, v) = resolve(options)
    resolved = Some((options.asCaseSensitiveMap(), inst, v))
    StructType.fromDDL(inst.tableStateAt(v).ddl)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val root = rootOf(options)
    // pin here: schema and every later scan agree on one version even
    // if writers commit between resolution and execution — the version
    // inferSchema resolved, when it ran for these options
    val (inst, v) = resolved match {
      case Some((opts, i, v0)) if opts == properties => (i, v0)
      case _ => resolve(options)
    }
    resolved = None
    // table-level specs recorded by the CATALOG (set_unique_ids /
    // set_partitioning / set_clustering write _catalog.json at the
    // table root) apply to PATH-based access too — a table protected
    // via CALL set_unique_ids must not accept duplicate obj_ids just
    // because the writer came through .option("path", ...). Explicit
    // options still win (the caller asked for that behavior by name).
    // The file is read ONCE per resolution, not per key: four separate
    // reads per getTable would be four object-store RPCs on every
    // table open at scale.
    val catalogSpec =
      GraftTableSource.readCatalogJson(inst.fs, new Path(inst.root))
    val st = inst.tableStateAt(v)
    new GraftTable(inst, st, Some(v), StructType.fromDDL(st.ddl),
      timeTraveled = options.containsKey("versionAsOf") ||
        options.containsKey("timestampAsOf"),
      partitionByOpt = Option(options.get("partitionBy"))
        .orElse(catalogSpec.get("partitionBy")),
      clusterByOpt = Option(options.get("clusterBy"))
        .orElse(catalogSpec.get("clusterBy")),
      uniqueIdsOpt =
        if (options.containsKey("uniqueIds"))
          options.getBoolean("uniqueIds", false)
        else catalogSpec.get("uniqueIds").contains("true"),
      bloomColsOpt = Option(options.get("bloomFilters"))
        .orElse(catalogSpec.get("bloomFilters")))
  }
}

private[acid] object GraftTableSource {

  /** The non-empty string fields of the table root's `_catalog.json`
    * (the spec file [[GraftCatalog]] maintains), read with one `open`;
    * empty when the file is absent. The catalog and the path-based
    * provider both read it here, so both front doors honor the same
    * recorded table specs. */
  def readCatalogJson(fs: FileSystem, root: Path): Map[String, String] =
    MetaJson.read(fs, new Path(root, "_catalog.json")).fold(
      Map.empty[String, String]) { s =>
      val n = MetaJson.parse(s)
      n.fieldNames.asScala.map(k => k -> n.get(k))
        .collect { case (k, v) if v.isTextual && v.textValue.nonEmpty =>
          k -> v.textValue }.toMap
    }

  def resolveVersion(inst: Instance, options: CaseInsensitiveStringMap): Long =
    (Option(options.get("versionAsOf")), Option(options.get("timestampAsOf"))) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(s), None) =>
        // numeric = version; anything else = a snapshot TAG
        val v = inst.resolveVersionSpec(s)
        val head = inst.latestVersion
        require(v >= 0 && v <= head,
          s"versionAsOf $v out of range [0, $head] for ${inst.root}")
        v
      case (None, Some(s)) => inst.versionAtTimestamp(parseTimestamp(s.trim))
      case (None, None) => inst.latestVersion
    }

  /** `timestampAsOf` accepts epoch millis, an ISO-8601 instant
    * (`2026-08-13T05:00:00Z`), or the SQL form
    * (`2026-08-13 05:00:00[.fff]`, session-zone-free: interpreted as
    * the JVM default zone, same as `java.sql.Timestamp.valueOf`). */
  def parseTimestamp(s: String): Long =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLong
    else try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.valueOf(s).getTime
    }

  /** A relation's name in plans: its pinned version, or the size of
    * its explicit read set. */
  def describe(root: String, pinned: Option[Long],
      st: VersionedTable.TableState): String =
    pinned.fold(s"graft `$root` [${st.inlineFiles.size} files]")(v =>
      s"graft `$root` @v$v")

  /** What a relation reads, for equality: a pinned version stands for
    * its whole state; a read set is its files, masks, mapping and
    * schema (stats only prune, so they do not change the rows). */
  def readIdentity(pinned: Option[Long], st: VersionedTable.TableState): Any =
    pinned.getOrElse((st.inlineFiles, st.sidecar, st.dvs, st.renames, st.ddl))

  /** Hive `k=v` path segments of a staged file (raw, still escaped). */
  def partPairs(rel: String): Seq[(String, String)] =
    rel.split('/').drop(1).dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
    }

  /** Decoded partition value in EXTERNAL Scala form (null for the hive
    * default-partition marker), for comparing against filter literals.
    * The time zone is explicit: `SQLConf.get` on a task thread may fall
    * back to defaults, so distributed skip predicates capture the
    * driver's zone. */
  def partValue(raw: String, dt: DataType, tz: String): Any =
    CatalystTypeConverters.convertToScala(partValueInternal(raw, dt, tz), dt)

  /** May data file `rel` hold a row that passes every filter? The
    * manifest-stats skip test of [[GraftScan]] over `st`'s stats;
    * `filters` are single-column. Each index gets a veto: hive `k=v`
    * path values, the obj_id primary range, Z-order
    * colStats, the always-on universal footer stats and the per-file
    * bloom (equality/IN on declared columns; spilled pointers resolve
    * through `resolveBloom`). `phys` maps a filter's column to the
    * physical name the paths and stat indexes spell; `schema` types the
    * partition values by the filter's own column name. A file with no
    * entry for a column is kept — skipping only drops provably-dead IO. */
  def fileMayMatch(filters: Seq[sources.Filter], schema: StructType,
      phys: String => String, st: VersionedTable.TableState,
      resolveBloom: String => Option[String])(rel: String): Boolean = {
    val parts = partPairs(rel).toMap
    filters.forall { f =>
      val c = f.references.head
      val pc = phys(c)
      if (parts.contains(pc)) {
        val dt = schema.find(_.name == c).map(_.dataType).getOrElse(StringType)
        partMayMatch(f, partValue(parts(pc), dt,
          SQLConf.get.sessionLocalTimeZone))
      } else {
        val range =
          if (c == "obj_id") st.stats.get(rel)
          else st.colStats.get(rel).flatMap(_.get(pc))
        val ustats = st.fileStats.get(rel)
        range.forall(rangeMayMatch(f, _)) &&
          // reserved-name guard: a user column spelled "#rows" is
          // simply not skippable (its key holds the row-count stat)
          (pc == VersionedTable.RowsKey ||
            ustats.flatMap(_.get(pc)).forall(ustatMayMatch(f, _))) &&
          ustats.flatMap(_.get(VersionedTable.BloomKeyPrefix + pc))
            .forall(bloomMayMatch(f, _, resolveBloom))
      }
    }
  }

  /** Executor-safe mirror of GraftScan's per-file skip loop for
    * segmented-checkpoint side-car rows: same veto order (partition
    * path, then primary/Z-order range, then universal footer stats),
    * same conservatism. Built here (object member) so the returned
    * closure captures only serializable values — filters, the column
    * mapping, the schema, and the driver's session timezone — never a
    * scan or instance. */
  def sidecarPred(filters: Array[sources.Filter],
      renames: Map[String, String], tableSchema: StructType,
      dataDir: String,
      hconf: org.apache.spark.util.SerializableConfiguration)
      : CheckpointStore.CkptRow => Boolean = {
    val tz = SQLConf.get.sessionLocalTimeZone // captured on the driver
    // spilled-bloom pointers resolve on the EXECUTOR: the closure
    // carries only the dataDir string + a serializable conf, and the
    // sidecar loads once per JVM (VersionedTable.fbCache)
    val resolve: String => Option[String] =
      ptr => VersionedTable.loadBloomSidecar(dataDir, ptr, () => hconf.value)
    r => {
      val parts = partPairs(r.file).toMap
      filters.forall { f =>
        val c = f.references.head
        val pc = {
          val i = c.indexOf('.')
          if (i < 0) renames.getOrElse(c, c)
          else renames.getOrElse(c.take(i), c.take(i)) + c.substring(i)
        }
        if (parts.contains(pc)) {
          val dt = tableSchema.find(_.name == c).map(_.dataType)
            .getOrElse(StringType)
          partMayMatch(f, partValue(parts(pc), dt, tz))
        } else {
          val range =
            if (c == "obj_id") CheckpointStore.statsOf(r)
            else {
              val ci = r.colNames.indexOf(pc)
              if (ci >= 0) Some((r.colMins(ci), r.colMaxs(ci))) else None
            }
          range.forall(rangeMayMatch(f, _)) && {
            // a USER column spelled like the reserved row-count key
            // must never be pruned by the pseudo-stat it collides with
            val ui = if (pc == VersionedTable.RowsKey) -1
              else r.uCols.indexOf(pc)
            ui < 0 || ustatMayMatch(f, VersionedTable.UStat(
              r.uKinds(ui).head, r.uMins(ui), r.uMaxs(ui), r.uNulls(ui)))
          } && {
            // per-file bloom veto (same logic as the driver path):
            // side-file rows carry the #fb: entries like any ustat
            val bi = r.uCols.indexOf(VersionedTable.BloomKeyPrefix + pc)
            bi < 0 || bloomMayMatch(f, VersionedTable.UStat(
              r.uKinds(bi).head, r.uMins(bi), r.uMaxs(bi), r.uNulls(bi)),
              resolve)
          }
        }
      }
    }
  }

  /** Decoded partition value in CATALYST internal form (for the
    * constant partition columns the readers append to every row). */
  def partValueInternal(raw: String, dt: DataType,
      tz: String = SQLConf.get.sessionLocalTimeZone): Any = {
    val s = ExternalCatalogUtils.unescapePathName(raw)
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else Cast(Literal(UTF8String.fromString(s), StringType), dt,
      Option(tz)).eval(null)
  }

  /** Does `range` (a file's min/max for some column) possibly satisfy
    * the filter? Conservative: unknown shapes keep the file. */
  def rangeMayMatch(f: sources.Filter, range: (Long, Long)): Boolean = {
    val (lo, hi) = range
    def asL(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    f match {
      case sources.EqualTo(_, v) => asL(v).forall(x => x >= lo && x <= hi)
      case sources.In(_, vs) => vs.flatMap(asL(_)).exists(x => x >= lo && x <= hi)
      case sources.GreaterThan(_, v) => asL(v).forall(hi > _)
      case sources.GreaterThanOrEqual(_, v) => asL(v).forall(hi >= _)
      case sources.LessThan(_, v) => asL(v).forall(lo < _)
      case sources.LessThanOrEqual(_, v) => asL(v).forall(lo <= _)
      case _ => true
    }
  }

  /** Bloom veto for equality/IN pushdown on declared
    * [[EngineConf.fileBloomCols]] columns: false ONLY when the file's
    * `#fb:` bloom PROVES every probed value absent — blooms have no
    * false negatives, so a veto can only drop dead IO. Anything
    * unexpected (wrong kind, corrupt base64, unhashable literal type,
    * null member, unresolvable spill pointer) keeps the file.
    * `resolve` maps a spilled `@fb-…#idx` pointer to its base64 bits
    * (None = no veto) — large commits move their bitsets to an `fb-`
    * sidecar and leave pointers in the ustats
    * ([[EngineConf.fileBloomInlineMax]]). */
  def bloomMayMatch(flt: sources.Filter, u: VersionedTable.UStat,
      resolve: String => Option[String]): Boolean = {
    if (u.kind != 'F') return true // a colliding user column, not a bloom
    lazy val bloom: Option[IdBloom] = {
      val b64 =
        if (VersionedTable.isBloomPointer(u.min)) resolve(u.min)
        else Some(u.min)
      b64.flatMap { s =>
        try Some(IdBloom.fromBase64(s, u.max.toInt))
        catch { case scala.util.control.NonFatal(_) => None }
      }
    }
    def mayContain(v: Any): Boolean = IdBloom.hashValue(v) match {
      case Some(h) => bloom.forall(_.contains(h))
      case None => true
    }
    flt match {
      case sources.EqualTo(_, v) if v != null => mayContain(v)
      case sources.EqualNullSafe(_, v) if v != null => mayContain(v)
      case sources.In(_, vs) if vs != null && vs.nonEmpty =>
        vs.exists(v => v == null || mayContain(v))
      case _ => true
    }
  }

  /** Does a file's universal footer stat ([[VersionedTable.UStat]])
    * possibly satisfy the filter? Typed comparison per stat kind;
    * every unknown shape or literal-type mismatch keeps the file
    * (conservative). The workhorse of always-on data skipping: filters
    * on NEVER-clustered columns prune through this. */
  def ustatMayMatch(flt: sources.Filter, u: VersionedTable.UStat): Boolean = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    // compare literal v against a serialized bound; None = incomparable
    def cmp(v: Any, bound: String): Option[Int] = u.kind match {
      case 'L' => (v match {
        case l: Long => Some(l)
        case i: Int => Some(i.toLong)
        case s: Short => Some(s.toLong)
        case b: Byte => Some(b.toLong)
        case _ => None
      }).map(x => java.lang.Long.compare(x, bound.toLong))
      case 'T' => (v match {
        case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
        case t: java.time.Instant => Some(DateTimeUtils.instantToMicros(t))
        case _ => None
      }).map(x => java.lang.Long.compare(x, bound.toLong))
      case 'A' => (v match {
        case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d).toLong)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => None
      }).map(x => java.lang.Long.compare(x, bound.toLong))
      case 'B' => (v match {
        case b: Boolean => Some(if (b) 1L else 0L)
        case _ => None
      }).map(x => java.lang.Long.compare(x, bound.toLong))
      case 'D' => (v match {
        case d: Double => Some(d)
        case f: Float => Some(f.toDouble)
        case _ => None
      }).flatMap { x =>
        if (x.isNaN) None // stats exclude NaN: never prune a NaN probe
        else {
          // primitive compare so -0.0 == 0.0 (SQL equality semantics)
          val b = bound.toDouble
          Some(if (x < b) -1 else if (x > b) 1 else 0)
        }
      }
      case 'S' => v match {
        case s: String => Some(VersionedTable.utf8Cmp(s, bound))
        case _ => None
      }
      case 'M' => (v match {
        case d: java.math.BigDecimal => Some(d)
        case d: BigDecimal => Some(d.bigDecimal)
        case _ => None
      }).map(_.compareTo(new java.math.BigDecimal(bound)))
      case _ => None
    }
    def inRange(v: Any): Boolean =
      (for (a <- cmp(v, u.min); b <- cmp(v, u.max))
        yield a >= 0 && b <= 0).getOrElse(true)
    if (u.kind == 'N') flt match {
      // no non-null values in the file: only null probes can match
      case sources.IsNull(_) => true
      case sources.EqualNullSafe(_, null) => true
      case sources.EqualTo(_, _) | sources.EqualNullSafe(_, _) |
          sources.In(_, _) | sources.GreaterThan(_, _) |
          sources.GreaterThanOrEqual(_, _) | sources.LessThan(_, _) |
          sources.LessThanOrEqual(_, _) | sources.IsNotNull(_) |
          sources.StringStartsWith(_, _) => false
      case _ => true
    } else flt match {
      case sources.IsNull(_) => u.nulls != 0 // -1 = unknown: keep
      case sources.IsNotNull(_) => true
      case sources.EqualTo(_, v) => v != null && inRange(v)
      case sources.EqualNullSafe(_, null) => u.nulls != 0
      case sources.EqualNullSafe(_, v) => inRange(v)
      case sources.In(_, vs) => vs == null || vs.exists(v => v != null && inRange(v))
      case sources.GreaterThan(_, v) => cmp(v, u.max).forall(_ < 0)
      case sources.GreaterThanOrEqual(_, v) => cmp(v, u.max).forall(_ <= 0)
      case sources.LessThan(_, v) => cmp(v, u.min).forall(_ > 0)
      case sources.LessThanOrEqual(_, v) => cmp(v, u.min).forall(_ >= 0)
      case sources.StringStartsWith(_, p) if u.kind == 'S' && p != null =>
        // some s in [min,max] starts with p  <=>  p <= max (any s with
        // prefix p is >= p, so p itself must not exceed max) AND min's
        // |p|-byte prefix <= p (else even min is past every p-prefixed
        // string). Both in unsigned byte order; truncation mid-UTF8
        // sequence is fine — the order is bytewise.
        val pb = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val mb = u.min.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        def byteCmp(x: Array[Byte], y: Array[Byte]): Int = {
          var i = 0
          val n = math.min(x.length, y.length)
          while (i < n) {
            val d = (x(i) & 0xff) - (y(i) & 0xff)
            if (d != 0) return d
            i += 1
          }
          x.length - y.length
        }
        VersionedTable.utf8Cmp(p, u.max) <= 0 &&
          byteCmp(mb.take(pb.length), pb) <= 0
      case _ => true
    }
  }

  /** What a SQL DELETE's filter set pins exactly, or None when the
    * shape is unsupported (arbitrary predicates belong to
    * [[Txn.deleteMatching]]/MERGE, never a silent full rewrite):
    * Some(None) = unconditional full delete (truncate);
    * Some(Some(ids)) = the intersection of conjunctive EqualTo/In
    * constraints on `obj_id`. */
  def deletePlan(filters: Array[sources.Filter]): Option[Option[Seq[Long]]] = {
    def asL(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int => Some(i.toLong)
      case s: Short => Some(s.toLong)
      case b: Byte => Some(b.toLong)
      case _ => None
    }
    var sets = List.empty[Set[Long]]
    filters.foreach {
      case sources.EqualTo("obj_id", v) => asL(v) match {
        case Some(x) => sets ::= Set(x)
        case None => return None
      }
      case sources.EqualNullSafe("obj_id", v) => asL(v) match {
        case Some(x) => sets ::= Set(x)
        case None => return None
      }
      case sources.In("obj_id", vs) =>
        val ls = vs.toSeq.map(asL)
        if (ls.exists(_.isEmpty)) return None
        sets ::= ls.flatten.toSet
      case sources.IsNotNull("obj_id") => ()
      case _: sources.AlwaysTrue => ()
      case _ => return None
    }
    if (sets.isEmpty) Some(None) // no constraint: delete everything
    else Some(Some(sets.reduce(_ intersect _).toSeq.sorted))
  }

  /** The filter rebuilt with its single column reference renamed —
    * how a filter on a RENAMED logical column is pushed to the parquet
    * reader under the file's physical name. None for shapes without a
    * simple attribute rewrite (those still skip at file level via the
    * translated manifest stats; everything stays in the plan as a
    * residual either way). */
  def renameFilter(f: sources.Filter, to: String): Option[sources.Filter] =
    f match {
      case sources.EqualTo(_, v) => Some(sources.EqualTo(to, v))
      case sources.EqualNullSafe(_, v) => Some(sources.EqualNullSafe(to, v))
      case sources.GreaterThan(_, v) => Some(sources.GreaterThan(to, v))
      case sources.GreaterThanOrEqual(_, v) =>
        Some(sources.GreaterThanOrEqual(to, v))
      case sources.LessThan(_, v) => Some(sources.LessThan(to, v))
      case sources.LessThanOrEqual(_, v) =>
        Some(sources.LessThanOrEqual(to, v))
      case sources.In(_, vs) => Some(sources.In(to, vs))
      case sources.IsNull(_) => Some(sources.IsNull(to))
      case sources.IsNotNull(_) => Some(sources.IsNotNull(to))
      case sources.StringStartsWith(_, v) =>
        Some(sources.StringStartsWith(to, v))
      case sources.StringEndsWith(_, v) => Some(sources.StringEndsWith(to, v))
      case sources.StringContains(_, v) => Some(sources.StringContains(to, v))
      case _ => None
    }

  /** Does a partition-path value satisfy the filter? `value` is the
    * decoded external value (null = hive default partition). */
  def partMayMatch(f: sources.Filter, value: Any): Boolean = f match {
    case sources.EqualTo(_, v) => value != null && value == v
    case sources.In(_, vs) => value != null && vs.contains(value)
    case sources.IsNull(_) => value == null
    case sources.IsNotNull(_) => value != null
    case _ => true
  }

  /** Can this global aggregation be answered EXACTLY from manifest
    * metadata? See the eligibility contract on [[GraftScanBuilder]].
    * Returns (scan schema, the single complete result row in Catalyst
    * internal form, description) — or None to fall back to a normal
    * scan. Conservative by construction: every refusal path returns
    * None; an answer is produced only when every live file contributed
    * an exact stat. */
  private[acid] def analyzeAggregation(inst: Instance,
      st: VersionedTable.TableState, tableSchema: StructType,
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow], String)] = try {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Count, CountStar, Max, Min}
    // GROUP BY is answerable only over hive-partition columns (their
    // values are manifest metadata); anything else falls back
    val groupRefs: Seq[String] = agg.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        nr.fieldNames.head
      case _ => return None
    }
    val funcs = agg.aggregateExpressions.toSeq
    if (funcs.isEmpty && groupRefs.isEmpty) return None

    // shape screen (no metadata IO yet): every function must be one of
    // the four answerable forms over a plain column reference
    sealed trait Need { def path: Seq[String] }
    final case class NeedCountStar() extends Need { def path = Nil }
    final case class NeedCount(path: Seq[String]) extends Need
    final case class NeedMin(path: Seq[String]) extends Need
    final case class NeedMax(path: Seq[String]) extends Need
    def refOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Seq[String]] = e match {
      case nr: NamedReference => Some(nr.fieldNames.toSeq)
      case _ => None
    }
    val needs: Seq[Need] = funcs.map {
      case _: CountStar => NeedCountStar()
      case c: Count if !c.isDistinct =>
        refOf(c.column) match {
          case Some(p) => NeedCount(p)
          case None => return None
        }
      case m: Min => refOf(m.column) match {
        case Some(p) => NeedMin(p)
        case None => return None
      }
      case m: Max => refOf(m.column) match {
        case Some(p) => NeedMax(p)
        case None => return None
      }
      case _ => return None
    }

    def typeAt(path: Seq[String]): Option[DataType] =
      path.foldLeft(Option(tableSchema: DataType)) {
        case (Some(st: StructType), seg) =>
          st.fields.find(_.name == seg).map(_.dataType)
        case _ => None
      }

    // masked rows are invisible to footer stats; compaction heals
    if (st.dvs.nonEmpty) return None
    def phys(path: Seq[String]): String =
      (st.phys(path.head) +: path.tail).mkString(".")

    import org.apache.spark.sql.types.{BooleanType, ByteType, DateType, Decimal, DecimalType, IntegerType, ShortType, TimestampNTZType, TimestampType}
    def internalValue(kind: Char, s: String, dt: DataType): Option[Any] =
      (kind, dt) match {
        case ('L', LongType) => Some(s.toLong)
        case ('L', IntegerType) => Some(s.toLong.toInt)
        case ('L', ShortType) => Some(s.toLong.toShort)
        case ('L', ByteType) => Some(s.toLong.toByte)
        case ('A', DateType) => Some(s.toLong.toInt)
        case ('T', TimestampType) | ('T', TimestampNTZType) => Some(s.toLong)
        case ('B', BooleanType) => Some(s == "1")
        case ('S', StringType) => Some(UTF8String.fromString(s))
        case ('M', d: DecimalType) =>
          val dec = Decimal(new java.math.BigDecimal(s))
          if (dec.changePrecision(d.precision, d.scale)) Some(dec) else None
        case _ => None // incl. 'D': footers ignore NaN, Spark's MAX must not
      }

    // reserved-name guard: a user column spelled like the row-count
    // key cannot be answered (or grouped) from stats — its entries
    // hold file row counts, not values
    if (needs.exists(n => n.path.nonEmpty &&
        phys(n.path) == VersionedTable.RowsKey) ||
        groupRefs.exists(c => st.phys(c) == VersionedTable.RowsKey))
      return None
    // ---- GROUP BY hive-partition columns: one result row per group,
    // folded from metadata. Groups come from path segments (grouped
    // side-file job on segmented tables); per-group COUNT(*) is the
    // group's Σ#rows, data-column COUNT/MIN/MAX use the group's merged
    // ustats, and a function ON a grouping column evaluates to the
    // group's own value. Zero-row groups are dropped (SQL emits no
    // group for no rows). Everything else refuses.
    if (groupRefs.nonEmpty) {
      val groupTypes = groupRefs.map(c =>
        tableSchema.find(_.name == c).map(_.dataType).getOrElse(return None))
      val okGroupType = groupTypes.forall {
        case LongType | IntegerType | ShortType | ByteType | DateType |
             BooleanType | StringType => true
        case _: DecimalType => true
        case _ => false // float/timestamp path decoding: refuse
      }
      if (!okGroupType) return None
      val groupPcols = groupRefs.map(st.phys)
      val dataCols: Set[String] = needs.collect {
        case n if n.path.nonEmpty && !groupRefs.contains(n.path.head) =>
          phys(n.path)
      }.toSet + VersionedTable.RowsKey
      val grouped = inst.groupedUStats(st, groupPcols, dataCols)
        .getOrElse(return None)
      def exactG(m: Map[String, CheckpointStore.MergedU], files: Long,
          c: String): Option[CheckpointStore.MergedU] =
        m.get(c).filter(mm => mm.entries == files && mm.kind != 'X')
      val fields = Seq.newBuilder[StructField]
      groupRefs.zip(groupTypes).foreach { case (c, dt) =>
        fields += StructField(c, dt, nullable = true)
      }
      needs.zip(funcs).foreach { case (need, func) =>
        val name = func.toString
        need match {
          case NeedCountStar() | NeedCount(_) =>
            fields += StructField(name, LongType, nullable = false)
          case NeedMin(p) =>
            fields += StructField(name, typeAt(p).getOrElse(return None))
          case NeedMax(p) =>
            fields += StructField(name, typeAt(p).getOrElse(return None))
        }
      }
      val rows = grouped.toSeq.sortBy(_._1.mkString("\u0000"))
        .flatMap { case (g, (files, m)) =>
        val groupVals: Seq[Any] = g.zip(groupTypes).map { case (seg, dt) =>
          partValueInternal(seg, dt)
        }
        val rowsTotalG: Long = exactG(m, files, VersionedTable.RowsKey)
          .filter(_.kind == 'L').map(_.sum).getOrElse(return None)
        if (rowsTotalG == 0L) None // SQL emits no group for zero rows
        else {
          val aggVals: Seq[Any] = needs.map {
            case NeedCountStar() => rowsTotalG
            case NeedCount(p) =>
              val gi = groupRefs.indexOf(p.head)
              if (p.size == 1 && gi >= 0) {
                // count of a grouping column: rows if the group's
                // value is non-null, else 0 (the null group)
                if (groupVals(gi) == null) 0L else rowsTotalG
              } else exactG(m, files, phys(p)) match {
                case Some(mm) if mm.nulls >= 0L => rowsTotalG - mm.nulls
                case _ => return None
              }
            case NeedMin(p) =>
              val dt = typeAt(p).get
              val gi = groupRefs.indexOf(p.head)
              if (p.size == 1 && gi >= 0) groupVals(gi)
              else exactG(m, files, phys(p)) match {
                case Some(mm) if !mm.valueSeen => null
                case Some(mm) =>
                  internalValue(mm.kind, mm.min, dt).getOrElse(return None)
                case None => return None
              }
            case NeedMax(p) =>
              val dt = typeAt(p).get
              val gi = groupRefs.indexOf(p.head)
              if (p.size == 1 && gi >= 0) groupVals(gi)
              else exactG(m, files, phys(p)) match {
                case Some(mm) if !mm.valueSeen => null
                case Some(mm) =>
                  internalValue(mm.kind, mm.max, dt).getOrElse(return None)
                case None => return None
              }
          }
          Some(new GenericInternalRow(
            (groupVals ++ aggVals).toArray): InternalRow)
        }
      }
      val desc = (groupRefs.map(c => s"group:$c") ++
        funcs.map(_.toString)).mkString(", ")
      return Some((StructType(fields.result()), rows.toArray, desc))
    }

    val neededCols: Set[String] =
      needs.collect { case n if n.path.nonEmpty => phys(n.path) }.toSet +
        VersionedTable.RowsKey
    val (nFiles, merged) = inst.mergedUStats(st, neededCols)
    def exact(c: String): Option[CheckpointStore.MergedU] =
      merged.get(c).filter(m => m.entries == nFiles && m.kind != 'X')
    val rowsTotal: Option[Long] =
      if (nFiles == 0L) Some(0L)
      else exact(VersionedTable.RowsKey).filter(_.kind == 'L').map(_.sum)

    // ---- partition-column fallback: hive-layout columns live in file
    // PATHS, not footers — their values are manifest metadata too, so
    // MIN/MAX fold the decoded `k=v` segments (segmented snapshots
    // fold the DISTINCT segments distributedly over the side files —
    // names never materialize on the driver) and COUNT sums the
    // non-null-partition files' row counts. Refused when any live file
    // lacks the segment (mixed layouts) or the type has no clean path
    // ordering.
    def asOrderedLong(v: Any): Option[Long] = v match {
      case l: java.lang.Long => Some(l)
      case i: java.lang.Integer => Some(i.toLong)
      case s: java.lang.Short => Some(s.toLong)
      case b: java.lang.Byte => Some(b.toLong)
      case b: java.lang.Boolean => Some(if (b) 1L else 0L)
      case _ => None
    }
    // DISTINCT partition-segment values of `p` across every live file
    // (None = some file lacks the segment / not single-column)
    def partitionSegs(p: Seq[String]): Option[Seq[String]] = {
      if (p.size != 1) return None
      val pc = st.phys(p.head)
      st.sidecar match {
        case Some(_) => inst.sidecarPartSegs(st, pc)
        case None =>
          val raw = st.inlineFiles.map(f => partPairs(f).toMap.get(pc))
          if (raw.isEmpty || raw.exists(_.isEmpty)) None
          else Some(raw.map(_.get).distinct)
      }
    }
    def partitionBound(p: Seq[String], dt: DataType, isMin: Boolean)
        : Option[Any] =
      partitionSegs(p).flatMap { segs =>
        val vals = segs.distinct.flatMap(s =>
          Option(partValueInternal(s, dt)))
        if (vals.isEmpty) Some(null) // all files in the null partition
        else {
          val cmp: Option[(Any, Any) => Int] = dt match {
            case LongType | IntegerType | ShortType | ByteType | DateType |
                 BooleanType =>
              // decoded internal values match dt (Cast output); a
              // surprise shape throws and the outer guard refuses
              Some((a, b) => java.lang.Long.compare(
                asOrderedLong(a).get, asOrderedLong(b).get))
            case StringType => Some((a, b) =>
              a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String]))
            case _: DecimalType => Some((a, b) =>
              a.asInstanceOf[Decimal].compareTo(b.asInstanceOf[Decimal]))
            case _ => None // float/timestamp paths: no clean ordering
          }
          cmp.map(c => vals.reduce((a, b) =>
            if ((c(a, b) <= 0) == isMin) a else b))
        }
      }
    def partitionCount(p: Seq[String], dt: DataType): Option[Long] = {
      // per-file row counts must be driver-resident (inline tables);
      // on segmented tables the covered files' counts live in the side
      // files — refuse rather than fetch them here
      if (st.sidecar.isDefined || p.size != 1) return None
      val pc = st.phys(p.head)
      var total = 0L
      var ok = true
      st.inlineFiles.foreach { f =>
        partPairs(f).toMap.get(pc) match {
          case None => ok = false
          case Some(seg) =>
            if (ok && partValueInternal(seg, dt) != null) {
              st.fileStats.get(f)
                .flatMap(_.get(VersionedTable.RowsKey))
                .map(_.min.toLong) match {
                case Some(r) => total += r
                case None => ok = false
              }
            }
        }
      }
      if (ok) Some(total) else None
    }


    val fields = Seq.newBuilder[StructField]
    val values = Seq.newBuilder[Any]
    needs.zip(funcs).foreach { case (need, func) =>
      val name = func.toString
      need match {
        case NeedCountStar() => rowsTotal match {
          case Some(n) =>
            fields += StructField(name, LongType, nullable = false)
            values += n
          case None => return None
        }
        case NeedCount(p) =>
          val dt = typeAt(p).getOrElse(return None)
          val m = if (nFiles == 0L) Some(CheckpointStore.MergedU())
            else exact(phys(p))
          (rowsTotal, m) match {
            case (Some(n), Some(mm)) if mm.nulls >= 0L =>
              fields += StructField(name, LongType, nullable = false)
              values += (n - mm.nulls)
            case _ => partitionCount(p, dt) match {
              case Some(n) =>
                fields += StructField(name, LongType, nullable = false)
                values += n
              case None => return None
            }
          }
        case NeedMin(p) =>
          val dt = typeAt(p).getOrElse(return None)
          if (nFiles == 0L) { fields += StructField(name, dt); values += null }
          else exact(phys(p)) match {
            case Some(mm) if !mm.valueSeen => // all nulls everywhere
              fields += StructField(name, dt); values += null
            case Some(mm) => internalValue(mm.kind, mm.min, dt) match {
              case Some(v) => fields += StructField(name, dt); values += v
              case None => return None
            }
            case None => partitionBound(p, dt, isMin = true) match {
              case Some(v) => fields += StructField(name, dt); values += v
              case None => return None
            }
          }
        case NeedMax(p) =>
          val dt = typeAt(p).getOrElse(return None)
          if (nFiles == 0L) { fields += StructField(name, dt); values += null }
          else exact(phys(p)) match {
            case Some(mm) if !mm.valueSeen =>
              fields += StructField(name, dt); values += null
            case Some(mm) => internalValue(mm.kind, mm.max, dt) match {
              case Some(v) => fields += StructField(name, dt); values += v
              case None => return None
            }
            case None => partitionBound(p, dt, isMin = false) match {
              case Some(v) => fields += StructField(name, dt); values += v
              case None => return None
            }
          }
      }
    }
    val schema = StructType(fields.result())
    val row = new GenericInternalRow(values.result().toArray)
    Some((schema, Array(row: InternalRow),
      funcs.map(_.toString).mkString(", ")))
  } catch {
    // refusal is always sound (the normal scan computes the answer);
    // an unexpected shape must degrade, never fail the query plan
    case scala.util.control.NonFatal(_) => None
  }
}

/** The relation every read of a graft table plans through: `state`
  * is what its scans read — a committed version's fold (`pinned` =
  * that version; the provider, the catalog and [[Instance.snapshot]])
  * or an explicit read set with no version (a transaction's live
  * files, change-feed images, compaction input; see
  * [[Instance.viewOf]]). Only a pinned relation is an MV-rewrite or
  * metadata-aggregate candidate, and only a pinned one is written
  * through. Equal to another relation over the same rows, so
  * `CacheManager` matches two reads of one snapshot. */
private[acid] final class GraftTable(private[acid] val inst: Instance,
    private[acid] val state: VersionedTable.TableState,
    private[acid] val pinned: Option[Long],
    tableSchema: StructType, timeTraveled: Boolean = false,
    partitionByOpt: Option[String] = None,
    clusterByOpt: Option[String] = None,
    private[acid] val uniqueIdsOpt: Boolean = false,
    private[acid] val bloomColsOpt: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.sources.InsertableRelation {
  private def root: String = inst.root
  override def name(): String = GraftTableSource.describe(root, pinned, state)
  override def schema(): StructType = tableSchema
  // identity for the MV rewrite rule: which table, pinned at which
  // version, this relation will scan
  private[acid] def tableRoot: String = root
  private[acid] def tableVersion: Long = pinned.getOrElse(throw
    new IllegalStateException(s"${name()} is a read set, not a version"))
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(inst, state, pinned, tableSchema)

  private val identity =
    (root, GraftTableSource.readIdentity(pinned, state), tableSchema)
  override def equals(o: Any): Boolean = o match {
    case t: GraftTable => t.identity == identity
    case _ => false
  }
  private lazy val hash = identity.hashCode
  override def hashCode: Int = hash

  /** SQL `TRUNCATE TABLE`: one metadata-only ACID commit; the
    * pre-truncate version stays time-travelable. */
  override def truncateTable(): Boolean = {
    if (timeTraveled) throw new IllegalArgumentException(
      s"cannot write to time-traveled snapshot ${name()}")
    val txn = inst.begin()
    try {
      txn.truncate()
      inst.commit(txn)
    } catch {
      case e: Throwable =>
        try inst.rollback(txn) catch { case _: Throwable => () }
        throw e
    }
    true
  }

  // InsertableRelation makes this table its OWN V1 write fallback, so
  // the same code path serves DataFrame writes and catalog INSERTs
  override def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean): Unit = insert(data, overwrite, None)

  /** Batch write as one ACID commit; with `appTxn` the commit is
    * IDEMPOTENT — `.option("txnAppId", id).option("txnVersion", n)`
    * (Delta-style) rides the same manifest watermark the streaming
    * sink uses, so a foreachBatch or retried job that re-runs the same
    * (appId, version) write lands nothing the second time. */
  private[acid] def insert(data: org.apache.spark.sql.DataFrame,
      overwrite: Boolean, appTxn: Option[(String, Long)]): Unit = {
    val inst = VersionedTable.open(data.sparkSession, root,
      EngineConf(uniqueIds = uniqueIdsOpt,
        fileBloomCols = bloomColsOpt
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil)))
    // replayed idempotent write (txnAppId/txnVersion): its first
    // attempt's rows are durable — return before staging, both to
    // save the work and so the uniqueIds probe can't mistake the
    // earlier attempt's rows for duplicates (a racing zombie that
    // slips past still lands nothing: commit's watermark checks throw
    // EpochAlreadyCommitted, caught below)
    appTxn.foreach { case (id, v) =>
      if (inst.lastCommittedEpoch(id).exists(_ >= v)) return
    }
    // ingest clustering (set_clustering / cluster_by table property):
    // range-partition + locally sort the batch on the cluster columns
    // BEFORE staging, so each landed file covers a disjoint range of
    // the leading column and footer-stat pruning is tight from the
    // first insert — not only after the next compact. One shuffle per
    // insert (AQE coalesces the range partitions to data size). Tiny
    // local batches skip the shape: clustering a fastPathRows-sized
    // file buys nothing and would forfeit the driver fast path.
    val clusterCols = clusterByOpt
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val tinyLocal = clusterCols.nonEmpty &&
      (data.queryExecution.optimizedPlan match {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          l.data.length <= Instance.FastPathRows
        case _ => false
      })
    val shaped =
      if (clusterCols.isEmpty || tinyLocal) data
      else data
        .repartitionByRange(clusterCols.map(org.apache.spark.sql
          .functions.col): _*)
        .sortWithinPartitions(clusterCols.map(org.apache.spark.sql
          .functions.col): _*)
    val txn = inst.begin()
    try {
      appTxn.foreach { case (id, v) => txn.markEpoch(id, v) }
      if (overwrite) txn.truncate()
      partitionByOpt.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .filter(_.nonEmpty) match {
        case Some(cols) => txn.insertPartitioned(shaped, cols)
        case None => txn.insert(shaped)
      }
      inst.commit(txn)
    } catch {
      case _: EpochAlreadyCommittedException => () // replay: already durable
      case e: Throwable =>
        // reclaim staged files NOW (schema mismatch, conflict, IO
        // error) instead of leaking them until vacuum's orphan sweep
        try inst.rollback(txn) catch { case _: Throwable => () }
        throw e
    }
  }

  /** Writes ride the V1 fallback ([[V1Write]]): the resolved input
    * DataFrame maps onto the existing transactional machinery — one
    * ACID commit per write, `mode("append")` = [[Txn.insert]] (or
    * [[Txn.insertPartitioned]] under `.option("partitionBy", "a,b")`),
    * `mode("overwrite")` / SQL `INSERT OVERWRITE` = [[Txn.truncate]] +
    * insert in the SAME transaction (atomic replace; the pre-overwrite
    * version stays time-travelable because copy-on-write never deletes
    * bytes). Conflicts with concurrent writers surface as
    * [[ConflictException]] exactly like programmatic commits. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (timeTraveled) throw new IllegalArgumentException(
      s"cannot write to time-traveled snapshot $name — drop versionAsOf")
    new GraftWriteBuilder(this, info)
  }

  private[acid] def rootPath: String = root
  private[acid] def schemaOf: StructType = tableSchema
  private[acid] def partitionCols: Seq[String] =
    partitionByOpt.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** SQL UPDATE / MERGE INTO / arbitrary-predicate DELETE via
    * group-based copy-on-write (see [[GraftRowLevelOperation]]). */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    if (timeTraveled) throw new IllegalArgumentException(
      s"cannot write to time-traveled snapshot ${name()}")
    () => new GraftRowLevelOperation(inst, tableVersion, tableSchema,
      info.command())
  }

  /** SQL `DELETE FROM t WHERE ...` for the shapes the manifest index
    * serves exactly: equality / IN on `obj_id` (optionally AND-ed), or
    * no predicate at all (= truncate). Arbitrary predicates are
    * declined — they belong to [[Txn.deleteMatching]] or a MERGE, not
    * a silent full rewrite. */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    GraftTableSource.deletePlan(filters).isDefined
  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    if (timeTraveled) throw new IllegalArgumentException(
      s"cannot write to time-traveled snapshot ${name()}")
    val plan = GraftTableSource.deletePlan(filters).getOrElse(
      throw new IllegalArgumentException(
        s"unsupported DELETE predicate ${filters.mkString(", ")}: only " +
        "obj_id = k / obj_id IN (...) deletes are supported in SQL"))
    val spark = SparkSession.active
    val txn = inst.begin()
    try {
      plan match {
        // SET spark.graft.mor.deletes=true routes SQL point deletes
        // through merge-on-read (sidecar mask, no file rewrite) — the
        // frequent-small-delete mode; default stays copy-on-write
        case Some(ids) if spark.conf
            .get("spark.graft.mor.deletes", "false").toBoolean =>
          txn.deleteMoR(ids)
        case Some(ids) => txn.delete(ids)
        case None => txn.truncate()
      }
      inst.commit(txn)
    } catch {
      case e: Throwable =>
        try inst.rollback(txn) catch { case _: Throwable => () }
        throw e
    }
  }
}

private[acid] final class GraftWriteBuilder(table: GraftTable,
    info: LogicalWriteInfo) extends WriteBuilder with SupportsTruncate
    // Update output mode (watermarked aggregations emitting changed
    // keys) is accepted: with .option("upsert", true) each epoch
    // MERGEs by obj_id, so the sink materializes the latest row per
    // key — without it, update-mode rows append like Delta's
    // ignoreChanges caveat
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): V1Write = new V1Write {
    override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
      (data: org.apache.spark.sql.DataFrame, _: Boolean) => {
        // Delta-style idempotent batch writes: both options or neither
        val appId = Option(info.options().get("txnAppId"))
        val ver = Option(info.options().get("txnVersion")).map(_.toLong)
        require(appId.isDefined == ver.isDefined,
          "txnAppId and txnVersion must be set together")
        table.insert(data, overwrite, appId.zip(ver).headOption)
      }
    // writeStream.format("graft") / .toTable: one exactly-once ACID
    // commit per micro-batch; Complete output mode arrives here as
    // truncate() = atomic replace per epoch
    override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftStreamingWrite(table.rootPath, table.schemaOf,
        info.schema(), info.queryId(), overwrite, table.partitionCols,
        upsert = info.options().getBoolean("upsert", false),
        // sink-side auto-maintenance knobs (EngineConf is caller
        // config, so the stream carries its own): bound the small
        // files a long-running sink accumulates
        conf = EngineConf(
          autoCompactFiles = info.options().getInt("autoCompactFiles", 0),
          autoCompactTarget = info.options().getInt("autoCompactTarget", 4),
          // append epochs probe staged ids like batch inserts do
          // (sink option, or the table's unique_ids catalog property)
          uniqueIds = info.options().getBoolean("uniqueIds", false) ||
            table.uniqueIdsOpt,
          // per-file skipping blooms for declared columns (sink
          // option, or the table's bloom_filters catalog spec)
          fileBloomCols = Option(info.options().get("bloomFilters"))
            .orElse(table.bloomColsOpt)
            .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)),
        // refresh-on-epoch: dependent materialized-view (and ANN
        // index) roots advanced after each epoch commit (best-effort;
        // see GraftStreamingWrite)
        refreshIndexes = Option(info.options().get("refreshIndexes"))
          .toSeq.flatMap(_.split(',').map(_.trim).filter(_.nonEmpty)),
        refreshViews = Option(info.options().get("refreshViews"))
          .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil))
  }
}

private[acid] final class GraftScanBuilder(inst: Instance,
    state: VersionedTable.TableState, pinned: Option[Long],
    tableSchema: StructType, onBuild: GraftScan => Unit = _ => (),
    wholeGroups: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var required: StructType = tableSchema
  private var skipFilters: Array[sources.Filter] = Array.empty
  private var anyFilters = false
  private var limit: Option[Int] = None
  private var topN: Option[TopNSpec] = None

  /** LIMIT reaches the scan only when no filter sits between them
    * (Catalyst's pushdown rule guarantees it; `anyFilters` re-checks),
    * so planning may truncate the file list to a row-covering prefix.
    * Reported as PARTIALLY pushed: Spark keeps its Limit above, the
    * scan only bounds how much is planned — truncation can only
    * over-deliver, never under. */
  override def pushLimit(n: Int): Boolean = {
    if (anyFilters) false
    else { limit = Some(n); true }
  }
  override def isPartiallyPushed(): Boolean = true

  /** `ORDER BY k LIMIT n` bounds planning too: a single-column sort
    * whose column has an integral-comparable per-file range index
    * lets the scan prune files wholly past the covering cutoff (see
    * [[GraftScan]] topN contract). PARTIAL push — Spark keeps its
    * TakeOrderedAndProject, the scan only plans fewer files. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (anyFilters || orders.length != 1 || n < 0) return false
    orders(0).expression() match {
      case nr: NamedReference =>
        topN = Some(TopNSpec(nr.fieldNames.toSeq,
          asc = orders(0).direction() == SortDirection.ASCENDING,
          nullsFirst = orders(0).nullOrdering() == NullOrdering.NULLS_FIRST,
          n = n))
        true
      case _ => false
    }
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve table column order (partition-constant columns must
    // follow physical ones per layout; order is restored per reader)
    required = StructType(tableSchema.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // every filter is kept in the plan (returned = residual); the
    // single-column ones drive manifest-stats / partition-path file
    // skipping and parquet row-group pruning — monotone prunings that
    // can only remove provably-dead IO
    anyFilters ||= filters.nonEmpty
    skipFilters = filters.filter(_.references.length == 1)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = skipFilters

  // ---- metadata-only aggregate pushdown -------------------------------
  //
  // A global COUNT(*) / COUNT(col) / MIN(col) / MAX(col) over the whole
  // snapshot is answerable from the manifest's per-file footer stats
  // alone — the classic "SELECT count(*) FROM a 100 TB table" metadata
  // query every lakehouse format serves without touching data files.
  // The answer folds the [[VersionedTable.RowsKey]] row counts and
  // per-column ustats across live files: O(tail) on the driver plus one
  // tiny distributed job over checkpoint side files on segmented
  // tables — never O(data). Catalyst only offers the pushdown when no
  // residual filter sits above the scan (this builder keeps every
  // filter residual), so eligibility here reduces to: can EVERY live
  // file answer exactly? Refused (conservatively, falling back to the
  // normal scan) when:
  //  - the relation is an explicit read set, not a pinned version;
  //  - any grouping expression is present, or a function other than
  //    the four above (or a DISTINCT count) appears;
  //  - any live file carries a deletion vector (masked rows are
  //    invisible to footer stats; compaction heals this);
  //  - any live file lacks the stat (pre-rowcount files, stat-less
  //    columns, schema-evolution stragglers, partition columns — their
  //    values live in paths, not footers);
  //  - MIN/MAX on float/double (parquet footers ignore NaN, Spark's
  //    MAX must return it) or on a column whose exact null count is
  //    unknown for COUNT(col).
  private var aggResult: Option[(StructType, Array[InternalRow], String)] = None
  // memo keyed by the aggregation's print form: Catalyst probes the
  // complete form first and may retry with a rewritten partial form
  private var aggAnalyzed
      : Map[String, Option[(StructType, Array[InternalRow], String)]] = Map.empty

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = analyzeAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    aggResult = analyzeAgg(agg)
    aggResult.isDefined
  }

  private def analyzeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow], String)] = {
    val key = agg.aggregateExpressions.mkString(",") + "|" +
      agg.groupByExpressions.mkString(",")
    aggAnalyzed.getOrElse(key, {
      val r = if (pinned.isEmpty) None
        else GraftTableSource.analyzeAggregation(inst, state, tableSchema, agg)
      aggAnalyzed = aggAnalyzed.updated(key, r)
      r
    })
  }

  override def build(): Scan = aggResult match {
    case Some((schema, rows, pushed)) =>
      new GraftAggScan(GraftTableSource.describe(inst.root, pinned, state),
        schema, rows, pushed)
    case None =>
      val s = new GraftScan(inst, state, pinned, tableSchema, required,
        skipFilters, wholeGroups, limit, topN)
      onBuild(s)
      s
  }
}

/** Completely-pushed-down aggregate result: the answer was computed
  * from manifest/checkpoint metadata at plan time, so the "scan" is a
  * [[org.apache.spark.sql.connector.read.LocalScan]] — Spark executes
  * it as a driver-local table scan with ZERO jobs against data files. */
private[acid] final class GraftAggScan(table: String,
    aggSchema: StructType, resultRows: Array[InternalRow], pushed: String)
    extends Scan with org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = resultRows
  override def description(): String =
    s"$table PushedAggregation: [$pushed] (metadata-only)"
}

/** One bin-packed input split: files (or file ranges) sharing one
  * layout of constant columns, plus the pre-decoded constant row and a
  * per-file row-ordinal mask (empty = no masked rows). A mask drops
  * its rows, or with `keep` (a change feed's delete events) keeps only
  * them. */
private[acid] final case class GraftInputPartition(
    files: Seq[PartitionedFile], layout: Seq[String],
    masks: Seq[GraftBitmap] = Nil, keep: Boolean = false) extends InputPartition

/** Single-column top-n pushed into planning: prune files wholly past
  * the cutoff value that already covers `n` rows in sort order. */
private[acid] final case class TopNSpec(path: Seq[String], asc: Boolean,
    nullsFirst: Boolean, n: Int)

/** The one planner and reader of a graft relation's data files: file
  * skipping over `state`'s manifest stats (or, on a segmented
  * checkpoint, over its side files), hive `k=v` partition values,
  * column mapping and deletion-vector masks, resolved only for the
  * files left after pruning. Equal to another scan of the same rows
  * (table root, version or read set, required schema, pushed
  * filters), as Spark's own `FileScan` is, so exchange reuse sees a
  * repeated read as one scan. */
private[graft] final class GraftScan(inst: Instance,
    state: VersionedTable.TableState, pinned: Option[Long],
    tableSchema: StructType, required: StructType,
    filters: Array[sources.Filter],
    wholeGroups: Boolean = false,
    pushedLimit: Option[Int] = None,
    pushedTopN: Option[TopNSpec] = None) extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private def spark = inst.spark

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    // abbreviated as Spark's file scans abbreviate theirs: AQE renders
    // the plan on every update, and an IN list can hold thousands of ids
    val fs = if (filters.isEmpty) "" else " PushedFilters: " +
      org.apache.commons.lang3.StringUtils.abbreviate(
        filters.mkString("[", ", ", "]"), SQLConf.get.maxMetadataStringLength)
    val lm = pushedLimit.fold("")(n => s" PushedLimit: $n")
    val tn = pushedTopN.fold("")(t => s" PushedTopN: ${t.path.mkString(".")}" +
      s" ${if (t.asc) "ASC" else "DESC"} LIMIT ${t.n}")
    s"${GraftTableSource.describe(inst.root, pinned, state)}$fs$lm$tn"
  }

  private val identity = (inst.root, GraftTableSource.readIdentity(pinned, state),
    required, filters.toSeq, wholeGroups, pushedLimit, pushedTopN)
  override def equals(o: Any): Boolean = o match {
    case s: GraftScan => s.identity == identity
    case _ => false
  }
  private lazy val hash = identity.hashCode
  override def hashCode: Int = hash

  /** Size/row statistics AFTER static file skipping, so the optimizer
    * auto-broadcasts a small (or well-pruned) graft side of a join —
    * without this a DSv2 relation defaults to "unknown = huge" and a
    * dimension table never takes the broadcast path. Bytes are the
    * pruned files' lengths (statuses already fetched for split
    * planning); rows come from the footer-derived null-count-free
    * proxy only when obj_id stats exist, else unset. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val bytes = prunedStatuses.values.map(_.getLen).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** Runtime (join-driven) re-pruning: Spark hands IN-set filters on
    * these columns at execution start (dynamic partition pruning's
    * DSv2 form); `filter()` re-runs the same manifest skipping with
    * them, so a selective dim-side join prunes fact files before any
    * open. Sound for every column the static skip serves: partition
    * path values, the obj_id primary index, Z-order colStats, and the
    * universal footer stats all veto conservatively.
    *
    * Row-level-operation scans (`wholeGroups`) participate too — this
    * is Spark's runtime GROUP filtering for group-based MERGE/UPDATE/
    * DELETE: the rule plans "which groups hold matching rows" as a
    * dynamic subquery over a SEPARATE scan of the plain table (built
    * from GraftTable.newScanBuilder, so the operation's captured scan
    * is never clobbered) and narrows THIS scan to those files before
    * execution. Consistency holds end to end because the rewrite and
    * the commit share the instance: ReplaceData's replacement rows are
    * computed from the narrowed file set and `GraftCowWrite.commit`
    * retires `scan.prunedFiles` — the same narrowed set. A file
    * dropped by the runtime filter provably holds no matching row, so
    * its exclusion from the rewrite-and-retire cycle is exactly right;
    * without this a MERGE whose ON keys land in one file still
    * rewrote every candidate file.
    *
    * The group-filter rule builds ONE dynamic predicate over ALL
    * declared attributes (a struct-IN past one column, which cannot
    * convert to the V1 filter the skip logic consumes), so the
    * row-level scan declares only `obj_id` — the group key whose
    * manifest range index prunes exactly. Regular scans declare every
    * pruned-output column: the partition-pruning rule intersects them
    * with the join keys one at a time. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (wholeGroups) {
      if (required.fieldNames.contains("obj_id"))
        Array(org.apache.spark.sql.connector.expressions.Expressions
          .column("obj_id"))
      else Array.empty
    } else required.fieldNames.map( // resolved against the PRUNED output
      org.apache.spark.sql.connector.expressions.Expressions.column)

  @transient @volatile private var runtimeFilters: Array[sources.Filter] =
    Array.empty

  override def filter(newFilters: Array[sources.Filter]): Unit = {
    runtimeFilters = newFilters.filter(_.references.length == 1)
    // drop memoized planning state so the next planInputPartitions
    // sees the narrowed file set
    prunedFilesMemo = null
    prunedStatusesMemo = null
    factoryMemo = null
    sidecarStatusMemo = Map.empty
    sidecarRowsMemo = Map.empty
  }

  /** Physical (on-disk) name of a logical column under the pinned
    * version's column mapping — what file columns, `k=v` path
    * segments, and footer-derived stat indexes all spell. Dotted
    * (struct-leaf) references translate their TOP-LEVEL segment only:
    * column mapping applies to roots, nested names are fixed. */
  private def phys(n: String): String = {
    val i = n.indexOf('.')
    if (i < 0) state.phys(n) else state.phys(n.take(i)) + n.substring(i)
  }

  /** Resolved deletion-vector masks for the surviving files (empty on
    * a table with no outstanding MoR deletes — the common case, which
    * keeps the columnar fast path). */
  @transient private lazy val dvMasks: Map[String, GraftBitmap] =
    inst.resolveDvs(state.dvs, prunedFiles)
      .filter(_._2.nonEmpty)

  /** Deletion-vector entries (file -> sidecar list) of the PINNED
    * version for the pruned files: the row-level CoW commit compares
    * this against the dv state at its txn's read version, so a MoR
    * mask that landed between scan-pin and commit conflicts instead of
    * being silently dropped by the rewrite (see Txn.replaceScanned). */
  @transient private[acid] lazy val pinnedDvs: Map[String, Seq[String]] = {
    val pruned = prunedFiles.toSet
    state.dvs.filter { case (f, _) => pruned(f) }
  }

  @transient @volatile private var prunedFilesMemo: Seq[String] = null
  @transient @volatile private var prunedStatusesMemo
      : Map[String, org.apache.hadoop.fs.FileStatus] = null
  // (size, mtime) the segmented checkpoint recorded for surviving
  // covered files — set by computePrunedFiles, spares the RPCs below
  @transient @volatile private var sidecarStatusMemo
      : Map[String, (Long, Long)] = Map.empty
  // checkpoint-recorded row counts for surviving covered files (limit
  // pushdown's truncation input on segmented tables)
  @transient @volatile private var sidecarRowsMemo
      : Map[String, Long] = Map.empty

  /** Pruned files' statuses — checkpoint-covered files use the (size,
    * mtime) their segmented checkpoint recorded at write time (data
    * files are immutable, so it never goes stale: ZERO status RPCs for
    * the covered bulk); the O(tail) rest fetch once on the bounded
    * driver pool (each a ~10ms RPC on an object store). Shared by
    * statistics estimation and split planning. */
  @transient private def prunedStatuses
      : Map[String, org.apache.hadoop.fs.FileStatus] = {
    var memo = prunedStatusesMemo
    if (memo == null) {
      // force the pruning pass FIRST: it is what fills
      // sidecarStatusMemo — capturing the memo before it would fetch
      // every covered file's status by RPC on a fresh scan
      val pruned = prunedFiles
      val recorded = sidecarStatusMemo
      val fromCkpt = pruned.flatMap { rel =>
        recorded.get(rel).collect { case (size, mtime) if size > 0L =>
          rel -> new org.apache.hadoop.fs.FileStatus(size, false, 1, size,
            mtime, inst.fs.makeQualified(new Path(inst.dataDir, rel)))
        }
      }.toMap
      val rest = pruned.filterNot(fromCkpt.contains)
      memo = fromCkpt ++ inst.pooledMap(rest)(rel =>
        rel -> inst.fs.getFileStatus(new Path(inst.dataDir, rel))).toMap
      prunedStatusesMemo = memo
    }
    memo
  }

  /** Snapshot file list after manifest-stats + partition-path skipping,
    * static AND runtime filters (exposed for plan assertions; memoized,
    * recomputed only when a runtime filter narrows it). */
  @transient def prunedFiles: Seq[String] = {
    var memo = prunedFilesMemo
    if (memo == null) { memo = computePrunedFiles(); prunedFilesMemo = memo }
    memo
  }

  private def computePrunedFiles(): Seq[String] = {
    val files = state.inlineFiles
    val allFilters = filters ++ runtimeFilters
    // filters reference LOGICAL names; paths and stat indexes are keyed
    // by the fixed physical names
    val driverPred = GraftTableSource.fileMayMatch(allFilters.toSeq,
      tableSchema, phys, state, inst.resolveBloomPointer) _
    state.sidecar match {
      case Some(sc) =>
        // segmented snapshot: the O(files) skip loop runs as a
        // DISTRIBUTED filter over the checkpoint side files (same
        // veto logic — GraftTableSource.sidecarPred is the executor
        // mirror of driverPred); only the O(tail) inline files screen
        // on the driver. Survivor NAMES are all that comes back.
        val driverPart = files.filter(driverPred)
        val distPart = inst.sidecarSurvivorsStatus(sc)(
          GraftTableSource.sidecarPred(allFilters, state.renames,
            tableSchema, inst.dataDir.toString,
            new org.apache.spark.util.SerializableConfiguration(
              spark.sessionState.newHadoopConf())))
        sidecarStatusMemo = distPart.map { case (f, sz, mt, _) =>
          f -> (sz, mt) }.toMap
        sidecarRowsMemo = distPart.collect { case (f, _, _, n) if n >= 0L =>
          f -> n }.toMap
        (driverPart ++ distPart.map(_._1)).sorted
      case None => files.filter(driverPred)
    }
  }

  /** LIMIT-pushdown truncation: the (sorted, deterministic) pruned
    * file list shrinks to the shortest prefix whose KNOWN unmasked
    * row counts already cover the limit — `SELECT * ... LIMIT n` on a
    * 10^7-file table plans O(1) files instead of O(files). Conservative
    * contributions only: a dv-masked file or one without a recorded
    * row count counts 0 (it is still planned, just never relied on),
    * so the prefix can only over-deliver — Spark's Limit above
    * re-applies `n` exactly. Disabled the moment any static or runtime
    * filter exists: post-scan row drops would make a counted prefix
    * under-deliver. */
  private def limitPrefix(files: Seq[String]): Seq[String] =
    pushedLimit match {
      case Some(n) if filters.isEmpty && runtimeFilters.isEmpty =>
        val masked = dvMasks
        var acc = 0L
        val out = Seq.newBuilder[String]
        val it = files.iterator
        while (it.hasNext && acc < n) {
          val f = it.next()
          out += f
          if (!masked.contains(f)) {
            val rows = state.fileStats.get(f)
              .flatMap(_.get(VersionedTable.RowsKey))
              .map(_.min.toLong)
              .orElse(sidecarRowsMemo.get(f))
            acc += math.max(0L, rows.getOrElse(0L))
          }
        }
        if (acc >= n) out.result() else files
      case _ => files
    }

  /** Top-n pushdown truncation (`ORDER BY k LIMIT n`): prune every
    * file provably outside the top-n. Correctness argument — for ASC:
    * sort files by their MAX value; once the running coverage (exact
    * unmasked row counts) over that order reaches `n`, at least n rows
    * exist at or below cutoff `m` (under NULLS FIRST, a counted file's
    * null rows also precede any value > m), so a file whose MIN
    * exceeds `m` holds no top-n row. Files with no usable range, dv
    * masks, or unknown counts are kept and cover 0; under NULLS FIRST
    * files that may hold nulls are always kept; under NULLS LAST
    * coverage counts non-null rows only, and a found cutoff implies
    * no null row is in the top-n at all. DESC mirrors with MIN/MAX
    * swapped. Spark keeps its TakeOrdered above (partial push), so
    * truncation can only over-deliver. */
  private def topNPrefix(files: Seq[String]): Seq[String] =
    pushedTopN match {
      case Some(t) if filters.isEmpty && runtimeFilters.isEmpty =>
        val pcol = phys(t.path.mkString("."))
        // reserved-name guard: a user column spelled like the
        // row-count key has no usable sort range (its entries hold
        // file row counts) — never truncate on it
        if (pcol == VersionedTable.RowsKey) return files
        val keepNulls = t.nullsFirst
        // (sortKey, coverage) per file — driver-side for inline/tail,
        // columnar for checkpoint-covered
        def inlineTuple(f: String): Option[(Long, Long)] = {
          val range =
            (if (pcol == "obj_id") state.stats.get(f)
             else state.colStats.get(f).flatMap(_.get(pcol))
               .orElse(state.fileStats.get(f).flatMap(_.get(pcol))
                 .flatMap(_.longRange)))
            .filter { case (lo, hi) => lo <= hi }
          range.map { case (lo, hi) =>
            val rows = state.fileStats.get(f)
              .flatMap(_.get(VersionedTable.RowsKey)).map(_.min.toLong)
              .getOrElse(-1L)
            val nulls =
              if (pcol == "obj_id") 0L
              else state.fileStats.get(f).flatMap(_.get(pcol))
                .map(_.nulls).getOrElse(-1L)
            val cover =
              if (state.dvs.contains(f) || rows < 0L) 0L
              else if (t.nullsFirst) rows
              else if (nulls >= 0L) rows - nulls
              else 0L
            (if (t.asc) hi else lo, cover)
          }
        }
        def inlineKeep(f: String, m: Long): Boolean = {
          val range =
            (if (pcol == "obj_id") state.stats.get(f)
             else state.colStats.get(f).flatMap(_.get(pcol))
               .orElse(state.fileStats.get(f).flatMap(_.get(pcol))
                 .flatMap(_.longRange)))
            .filter { case (lo, hi) => lo <= hi }
          range match {
            case None => true
            case Some((lo, hi)) =>
              (if (t.asc) lo <= m else hi >= m) || (keepNulls && {
                if (pcol == "obj_id") false
                else state.fileStats.get(f).flatMap(_.get(pcol))
                  .map(_.nulls).forall(_ != 0L)
              })
          }
        }
        state.sidecar match {
          case None =>
            val tuples = files.flatMap(inlineTuple).sortBy(k =>
              if (t.asc) k._1 else -k._1)
            var acc = 0L
            var cutoff: Option[Long] = None
            val it = tuples.iterator
            while (it.hasNext && cutoff.isEmpty) {
              val (k, c) = it.next()
              acc += c
              if (acc >= t.n) cutoff = Some(k)
            }
            cutoff.fold(files)(m => files.filter(inlineKeep(_, m)))
          case Some(sc) =>
            // cutoff over covered (columnar job) + tail (driver) files
            // together: a single windowed cumsum over metadata rows
            val s = spark
            import s.implicits._
            // dvs that landed AFTER the checkpoint aren't in the side
            // rows' dvList — the live dv map (sparse, driver-resident)
            // zeroes those files' coverage too
            val dvFiles = state.dvs.keySet
            val excluded = sc.excluded
            val covered = inst.readSidecarRows(sc.ref)
              .filter(r => !excluded(r.file))
              .flatMap(r =>
                CheckpointStore.topNTuple(r, pcol, t.asc, t.nullsFirst)
                  .map { case (k, c) =>
                    (k, if (dvFiles.contains(r.file)) 0L else c) })
            val tail = files.filter(sc.tailLive).flatMap(inlineTuple)
            import org.apache.spark.sql.functions.{col => fcol, sum => fsum}
            val all = covered.union(s.createDataset(tail))
            val w = org.apache.spark.sql.expressions.Window
              .orderBy(if (t.asc) fcol("_1").asc else fcol("_1").desc)
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, 0L)
            val cut = all.toDF("_1", "_2")
              .withColumn("_cum", fsum(fcol("_2")).over(w))
              .filter(fcol("_cum") >= t.n.toLong)
              .select("_1").as[Long].take(1).headOption
            cut.fold(files) { m =>
              val tailKeep = files.filter(f => sc.tailLive(f) &&
                inlineKeep(f, m))
              val coveredKeep = inst.sidecarSurvivors(sc)(
                CheckpointStore.topNKeep(pcol, m, t.asc, keepNulls))
              (tailKeep ++ coveredKeep).sorted
            }
        }
      case _ => files
    }

  /** Set when a planner placed this scan below a plan's root; see
    * [[DriverScanStrategy]]. */
  @transient @volatile private[acid] var plannedBelowRoot = false

  /** Whether [[driverRows]] may answer this scan: a plain read (no
    * row-level operation, pushed limit or top-n) whose pruned files
    * pass the [[Instance.pointRows]] gate. Fetches no more than the
    * job path's split planning does: the pruned list and its statuses. */
  private[acid] def driverReadable: Boolean =
    !wholeGroups && pushedLimit.isEmpty && pushedTopN.isEmpty &&
      inst.pointStatuses(prunedFiles, prunedStatuses(_)).isDefined

  /** The rows of the pruned files, masks applied, that pass `keep`, read
    * on the calling thread in [[readSchema]] order. `keep` sees each row
    * before it is copied. Files come in the order the job path packs
    * them into its one split (longest first), so both paths return the
    * rows in the same order. */
  private[acid] def driverRows(keep: InternalRow => Boolean): Seq[InternalRow] = {
    val statuses = prunedStatuses
    val files = prunedFiles.sorted.sortBy(f => -statuses(f).getLen)
    val schema = StructType(required.map(f => f.copy(name = phys(f.name))))
    inst.readPoint(files.map(f => f -> statuses(f)), schema, dvMasks, keep)
      .flatMap(_._2.map(_._2))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val statuses = prunedStatuses
    val byLayout = topNPrefix(limitPrefix(prunedFiles)).groupBy(r =>
      GraftTableSource.partPairs(r).map(_._1))
    byLayout.toSeq.sortBy(_._1.mkString(",")).flatMap { case (layout, rels) =>
      // required partition columns of this layout, in required order
      // (the layout's `k` names are physical — match through phys())
      val partFields = required.filter(f => layout.contains(phys(f.name)))
      val chunks = rels.sorted.flatMap { rel =>
        val pairs = GraftTableSource.partPairs(rel).toMap
        val partRow = new GenericInternalRow(partFields.map(f =>
          GraftTableSource.partValueInternal(pairs(phys(f.name)), f.dataType))
          .toArray[Any])
        val st = statuses(rel)
        val mask = dvMasks.getOrElse(rel, GraftBitmap.empty)
        (0L until st.getLen by math.max(1L, maxSplit)).map { off =>
          (PartitionedFile(partRow, SparkPath.fromPath(st.getPath), off,
            math.min(maxSplit, st.getLen - off), Array.empty,
            st.getModificationTime, st.getLen), mask)
        }
      }
      // first-fit bin-pack (descending) up to maxSplit per partition —
      // the same shape FileSourceScan's FilePartition packing produces
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[(scala.collection.mutable.ArrayBuffer[(PartitionedFile, GraftBitmap)], Long)]
      chunks.sortBy(-_._1.length).foreach { pf =>
        bins.indexWhere(_._2 + pf._1.length <= maxSplit) match {
          case -1 => bins += ((scala.collection.mutable.ArrayBuffer(pf), pf._1.length))
          case i => bins(i) = ((bins(i)._1 += pf, bins(i)._2 + pf._1.length))
        }
      }
      bins.map(b => GraftInputPartition(b._1.map(_._1).toSeq, layout,
        b._1.map(_._2).toSeq))
    }.toArray
  }

  // Spark asks each copy of the scan's exec node for a reader factory
  // (every plan rewrite makes one), and every build broadcasts a Hadoop
  // conf per layout: build one per file set
  @transient @volatile private var factoryMemo: PartitionReaderFactory = null

  override def createReaderFactory(): PartitionReaderFactory = {
    var f = factoryMemo
    if (f == null) { f = buildReaderFactory(); factoryMemo = f }
    f
  }

  private def buildReaderFactory(): PartitionReaderFactory =
    GraftScan.readerFactory(spark, required,
      prunedFiles.map(r => GraftTableSource.partPairs(r).map(_._1)).distinct,
      phys, masked = dvMasks.nonEmpty,
      // a row-level-operation (CoW) scan must return WHOLE files — the
      // unmatched rows are the copy-back side of the rewrite — so there
      // skipping stops at file granularity and nothing reaches the
      // reader (a skipped row group would silently DROP rows from the
      // rewritten table)
      pushed = if (wholeGroups) Nil else filters.toSeq)
}

private[graft] object GraftScan {
  /** The graft scans `plan` holds, job-path and driver-side alike. */
  def planned(plan: org.apache.spark.sql.execution.SparkPlan): Seq[GraftScan] =
    plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      case d: GraftDriverScanExec => d.scan
    }.collect { case g: GraftScan => g }

  /** Spark's prepared parquet reader of `fileSchema`, with the constant
    * `partFields` appended to each row: the one place a data-file
    * reader is built. A FRESH hadoop conf per reader: the builder
    * writes its requested schema into the conf, so sharing one lets
    * the last-built reader's schema clobber every earlier one's
    * (misaligned rows at read time). */
  private[acid] def prepare(spark: SparkSession, fileSchema: StructType,
      partFields: StructType, filters: Seq[sources.Filter], columnar: Boolean)
      : PartitionedFile => Iterator[InternalRow] =
    new ParquetFileFormat().buildReaderWithPartitionValues(spark, fileSchema,
      partFields, fileSchema, filters,
      Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
      spark.sessionState.newHadoopConf())

  /** One prepared reader per layout for a read of `required` (logical
    * names; `phys` maps them to the names files and layouts spell). A
    * layout names the columns its partitions carry as constants —
    * the hive `k=v` values of a file's path, and a change feed's
    * `_version` and `_change_type` — and every other required column
    * is read from the file. With `masked`, every layout also reads the
    * parquet row index (filled by both the vectorized and row-based
    * readers, file-absolute even across splits) and reads row-wise;
    * `pushed` filters reach the file read for row-group skipping. */
  private[acid] def readerFactory(spark: SparkSession, required: StructType,
      layouts: Seq[Seq[String]], phys: String => String, masked: Boolean,
      pushed: Seq[sources.Filter]): GraftReaderFactory = {
    // read nullable, as Spark's file sources do: a column schema
    // evolution added is absent from older files and reads as null
    val req = PlanBridge.nullable(required)
    def physF(f: StructField) = f.copy(name = phys(f.name))
    new GraftReaderFactory(layouts.map { layout =>
      val partFields = StructType(
        req.filter(f => layout.contains(phys(f.name))).map(physF))
      var fileSchema = StructType(
        req.filterNot(f => layout.contains(phys(f.name))).map(physF))
      if (masked)
        fileSchema = StructType(fileSchema :+ StructField(
          ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType))
      val physical = StructType(fileSchema ++ partFields)
      // row-wise mask filtering needs the row path
      val columnar = new ParquetFileFormat().supportBatch(spark, physical) &&
        !masked
      // filters on file columns reach the reader, those on RENAMED
      // columns rewritten to the physical name (renameFilter); filters
      // on constant columns were applied file-level
      val fileFilters = pushed.flatMap { f =>
        val c = f.references.head
        val pc = phys(c)
        if (!fileSchema.fieldNames.contains(pc)) None
        else if (pc == c) Some(f)
        else GraftTableSource.renameFilter(f, pc)
      }
      val order = required.map(f => physical.fieldIndex(phys(f.name))).toArray
      val riIdx = if (masked) physical.fieldIndex(
        ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME) else -1
      layout -> GraftLayoutReader(
        prepare(spark, fileSchema, partFields, fileFilters, columnar),
        physical, order, columnar, riIdx)
    }.toMap)
  }
}

private[acid] final case class GraftLayoutReader(
    reader: PartitionedFile => Iterator[InternalRow],
    physical: StructType, order: Array[Int], columnar: Boolean,
    riIdx: Int = -1)

private[acid] final class GraftReaderFactory(
    layouts: Map[Seq[String], GraftLayoutReader])
    extends PartitionReaderFactory {

  // BatchScanExec requires a uniform answer across partitions
  override def supportColumnarReads(p: InputPartition): Boolean =
    layouts.values.forall(_.columnar)

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    val lr = layouts(gp.layout)
    // physical (file ++ partition) columns -> required order, with a
    // codegen'd projection built on the executor
    val proj = UnsafeProjection.create(lr.order.map(i =>
      BoundReference(i, lr.physical(i).dataType, nullable = true)
        .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Expression]))
    // the prepared reader yields ColumnarBatch disguised as InternalRow
    // when vectorized (the FileScanRDD contract) — erase the element
    // type BEFORE any lambda binds it, or scalac's parameter cast
    // fires ahead of the match
    val masks =
      if (gp.masks.nonEmpty) gp.masks
      else gp.files.map(_ => GraftBitmap.empty)
    val rows: Iterator[InternalRow] =
      gp.files.iterator.zip(masks.iterator).flatMap { case (f, mask) =>
        PlanBridge.setInputFile(f)
        val fileRows = lr.reader(f).asInstanceOf[Iterator[Any]].flatMap {
          case b: ColumnarBatch => b.rowIterator().asScala
          case row: InternalRow => Iterator.single(row)
        }
        // row-ordinal mask (bitmap word test — O(bitmap) shipped per
        // task, never O(ids)): merge-on-read deletes drop their rows, a
        // keep mask keeps only its own
        if (mask.isEmpty && !gp.keep) fileRows
        else fileRows.filter(r => mask.contains(r.getLong(lr.riIdx)) == gp.keep)
      }.map(proj)
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = PlanBridge.unsetInputFile()
    }
  }

  override def createColumnarReader(p: InputPartition): PartitionReader[ColumnarBatch] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    val lr = layouts(gp.layout)
    // zero-copy column reorder: wrap the reader's (file ++ partition)
    // batch with its vectors permuted to the required order
    val batches: Iterator[ColumnarBatch] =
      gp.files.iterator.flatMap { f =>
        PlanBridge.setInputFile(f)
        lr.reader(f).asInstanceOf[Iterator[Any]]
      }.map { r =>
        val b = r.asInstanceOf[ColumnarBatch]
        new ColumnarBatch(
          lr.order.map(i => b.column(i)).toArray[ColumnVector], b.numRows())
      }
    new PartitionReader[ColumnarBatch] {
      private var cur: ColumnarBatch = _
      override def next(): Boolean =
        if (batches.hasNext) { cur = batches.next(); true } else false
      override def get(): ColumnarBatch = cur
      override def close(): Unit = PlanBridge.unsetInputFile()
    }
  }
}
