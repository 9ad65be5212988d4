package graft.acid

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BinaryType, ByteType, DataType, IntegerType, LongType, MapType, ShortType, StringType, StructType}
import org.apache.spark.sql.graft.PlanBridge.{collectRows, localFrame, nullable, qualifiedLocalFrame, tableFrame}

/** Versioned ACID table layer — capability parity with db-core's
  * transactional storage engine (SURVEY.md §2.1), re-expressed Spark-first
  * as a copy-on-write commit protocol over immutable parquet files plus a
  * JSON manifest log (the idiomatic cloud/lakehouse analog of the
  * reference's WAL + MVCC machinery):
  *
  *  - begin/commit/rollback with snapshot isolation
  *    (reference: instance.rs:88-122 — TSN allocation, read CSN pinning)
  *  - snapshot reads: a transaction reads the file set of its pinned
  *    version; concurrent commits are invisible (reference MVCC resolve:
  *    block_driver.rs:461-486 walks prev_version_ptr chains — here
  *    immutability makes old versions trivially readable)
  *  - optimistic write-conflict detection replaces the reference's
  *    blocking object locks (tran_mgr.rs:85-127): commit fails if any
  *    version published after the snapshot touched the same objects
  *  - durability: manifest publish is an atomic fails-if-exists
  *    link/rename of a fully-written temp file — the version is
  *    claimed only with complete content in place (the reference's
  *    group-commit WAL flush, log_mgr/io.rs:99-103, collapses to one
  *    atomic file publish per commit)
  *  - rollback discards unpublished staging (reference restores
  *    pre-images from the version store, block_driver.rs:591-601 —
  *    copy-on-write makes undo free)
  *  - recovery: opening a table replays manifests from the latest
  *    checkpoint (reference: restore checkpoint + WAL replay,
  *    instance.rs:221-304); an unpublished manifest simply never exists
  *  - checkpoints every [[Instance.checkpointInterval]] commits compact
  *    the log (reference fuzzy checkpointer: checkpointer.rs:86-176)
  *  - [[Instance.vacuum]] reclaims files unreachable from retained
  *    versions (reference version-store space reuse:
  *    version_store.rs:252-309; README "Roadmap: implement vacuuming")
  *
  * Manifests are deltas `{version, tsn, added, removed, objects}` plus
  * per-added-file obj-id min/max ranges (read from parquet footers —
  * the structured-id analog of the reference's "the ObjectId IS the
  * address", instance.rs:126-134: point reads/updates prune to the
  * files whose id range can contain the target, instead of scanning
  * the snapshot) and a CRC32 integrity hash (reference checks every
  * block and WAL record on load: datastore.rs:194-203, crc32.rs:73-106
  * — a torn or bit-rotted manifest fails loudly, not by luck of the
  * parser). Snapshot state = latest checkpoint ≤ v + replay of
  * (ckpt, v]. All metadata is O(files-touched), data IO is
  * O(rows-touched). An atomic fails-if-exists publish is the ONLY
  * primitive required of the store, and it is PLUGGABLE
  * ([[ManifestClaimer]], [[EngineConf.claimer]]): link(2) locally and
  * rename on HDFS-class filesystems by default, a conditional-PUT
  * claimer (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`) on
  * object stores whose rename is a non-atomic check-then-copy — so the
  * commit invariant (two racing writers never both claim a version)
  * holds on every store class; PublishSpec races writers over a
  * deliberately non-atomic-rename filesystem to pin it. Every
  * lakehouse format has the same seam (Delta's LogStore, Iceberg's
  * commit lock).
  */
object VersionedTable {

  /** Width of the per-transaction sequence in an object id; the packed
    * id mirrors the reference's structured ObjectId (defs.rs:12-18). */
  val SeqBits = 20

  /** `stats` maps a data file to its (min, max) obj_id range: delta
    * manifests carry stats for `added`; checkpoints carry stats for
    * `allFiles` (rolled forward), so any snapshot's pruning index is
    * reconstructible from O(checkpointInterval) manifests. */
  /** `objects` is the commit's literal touched-id list; past
    * [[EngineConf.objectListThreshold]] ids it is replaced by
    * `objSummary` (exact count/min/max + bloom — see [[ObjSummary]]),
    * so manifest size is BOUNDED at any batch size: a 10^7-key
    * streaming micro-batch commits ~1 MiB of summary instead of
    * ~150 MB of id list. */
  /** `colStats` maps file -> (column -> (min, max)) for SECONDARY
    * cluster columns recorded by a multi-column [[Instance.compact]]
    * (obj_id ranges stay in `stats`). Additive-optional: a reader that
    * ignores it only loses secondary-key pruning, never correctness. */
  final case class Manifest(
      version: Long,
      tsn: Long,
      schemaDDL: String,
      added: Seq[String],
      removed: Seq[String],
      objects: Seq[Long],
      checkpoint: Boolean,
      allFiles: Seq[String],
      stats: Map[String, (Long, Long)] = Map.empty,
      objSummary: Option[ObjSummary] = None,
      colStats: Map[String, Map[String, (Long, Long)]] = Map.empty,
      tsMillis: Long = 0L,
      appTxns: Map[String, Long] = Map.empty,
      // wall-clock stamp of each appTxns entry's LAST update, carried
      // so checkpoints can expire idle watermarks under
      // [[EngineConf.appTxnRetentionMs]] (Delta's
      // setTransactionRetentionDuration analog). A missing stamp folds
      // as 0 = "age unknown", which retention treats as keep-forever —
      // expiry can only ever apply to entries that carry a real stamp.
      appTxnTs: Map[String, Long] = Map.empty,
      // merge-on-read deletion vectors, as a DELTA: data file -> the
      // sidecar files whose id sets mask its rows. REPLACEMENT
      // semantics under the state fold (an entry overwrites the file's
      // prior list; an empty list clears it — how restore() un-deletes),
      // with commit-time conflicts on overlapping targets standing in
      // for lost-update safety (see Instance.commit)
      dvs: Map[String, Seq[String]] = Map.empty,
      // full folded dv state, carried by CHECKPOINT manifests only —
      // the dv analog of allFiles (keeping the delta field a true
      // delta: CDC and the change-feed source classify commits by it)
      allDvs: Map[String, Seq[String]] = Map.empty,
      // UNIVERSAL per-file column statistics: file -> (column ->
      // typed min/max + null count), recorded automatically for every
      // leaf column at write time (the reference's always-on free/stats
      // metadata discipline, free_info.rs:84-194, applied to reads).
      // Additive-optional like colStats: a reader that ignores it only
      // loses data skipping, never correctness.
      // Deltas carry entries for `added`; checkpoints the full fold.
      fileStats: Map[String, Map[String, UStat]] = Map.empty,
      // cross-table atomic commit pointer: URI of the decision record
      // whose atomic claim is the COMMIT POINT for every participating
      // table. The manifest's deltas apply only if the decision
      // resolved "committed"; an aborted/undecided ref neuters them
      // (see [[Instance.readManifest]]).
      multiRef: Option[String] = None,
      // COLUMN MAPPING (logical -> physical name), the Delta
      // column-mapping analog: a column's PHYSICAL name — what parquet
      // files and `k=v` partition paths spell — is fixed at its first
      // appearance and never changes; `ALTER TABLE ... RENAME COLUMN`
      // only rewrites the logical name in `schemaDDL` and records the
      // indirection here, so a rename is metadata-only (zero data IO)
      // and every pre-rename file stays readable. Carried as the FULL
      // current map on every manifest (like schemaDDL); entries exist
      // only where logical != physical.
      renames: Map[String, String] = Map.empty,
      // RETIRED physical column names: every physical name ever freed
      // by a DROP COLUMN (directly, or of a renamed column). Old files
      // still spell these names, so a later ADD of a colliding logical
      // name must allocate a FRESH physical name or it would resurrect
      // the dropped column's values. Carried as the FULL cumulative
      // set on every manifest (monotone — a retired name never
      // un-retires; like renames/schemaDDL, the fold takes the last).
      tombstones: Seq[String] = Nil,
      // SEGMENTED checkpoint pointer (checkpoint manifests only): the
      // relative name, under `_manifests/`, of the parquet side-file
      // set carrying the full per-file fold (live files, id ranges,
      // colStats, universal stats, dv lists) — written instead of the
      // inline allFiles/stats/colStats/fileStats/allDvs once the fold
      // outgrows [[EngineConf.checkpointInlineFiles]]. Keeps every
      // checkpoint manifest O(1) regardless of table size; readers
      // fold the tail deltas on top and consult the side files
      // columnar/distributed (see [[Instance.tableStateAt]] and the
      // skipping paths). `ckptFiles` = live-file count at
      // the checkpoint (so planners can size decisions without
      // opening the side files).
      ckptRef: Option[String] = None,
      ckptFiles: Long = 0L,
      // CHANGE-DATA side files for THIS commit (dataDir-relative):
      // exact pre/post-image rows of a file-removing rewrite, written
      // when [[EngineConf.changeDataFeed]] is on. `cdcExact = true`
      // asserts the commit's row-level changes are exactly these rows
      // (possibly none) — the streaming feed then serves them instead
      // of failing on the removal.
      cdc: Seq[String] = Nil,
      cdcExact: Boolean = false,
      // CHECK constraints (name -> boolean SQL expression over logical
      // column names): every writer validates staged rows against the
      // current map — a row for which any expression is FALSE (NULL
      // passes, like SQL CHECK) fails the write loudly. Carried as the
      // FULL current map on every manifest (like renames/schemaDDL);
      // add/drop is a metadata-only commit that conflicts table-wide
      // (the interleaved writer's rows were never validated against
      // the new invariant).
      constraints: Map[String, String] = Map.empty)

  /** Universal statistic for ONE leaf column of one data file, read
    * from the parquet footer at write time. `kind` tags the value
    * domain so min/max round-trip through the manifest as strings:
    * 'L' integral (decimal long), 'T' timestamp (epoch micros),
    * 'A' date (epoch days), 'D' float/double (Double.toString),
    * 'S' string (raw, compared as unsigned UTF-8 bytes — parquet's
    * binary sort order), 'B' boolean ("0"/"1"), 'M' decimal (plain
    * string), 'N' all-null (no non-null values; min/max empty).
    * `nulls` = exact null count, or -1 when the footer didn't say
    * (then IS NULL can never skip the file). */
  final case class UStat(kind: Char, min: String, max: String, nulls: Long) {
    /** Bounds as a Long range when the domain is integral-comparable
      * (what range pruning compares values against); an all-null
      * column yields the EMPTY range so value probes prune it. */
    def longRange: Option[(Long, Long)] = kind match {
      case 'L' | 'T' | 'A' => Some((min.toLong, max.toLong))
      case 'N' => Some((Long.MaxValue, Long.MinValue))
      case _ => None
    }
  }

  /** Handle onto a SEGMENTED checkpoint's parquet side files for one
    * snapshot ([[CheckpointStore]]): `ref` is the side-file directory
    * name under `_manifests/`; the state's heavy per-file stat maps
    * AND the live-file name list live THERE, not on the driver.
    * `excluded` = side-car rows that no longer speak for the snapshot
    * — EXACTLY the checkpoint-covered names the tail removed, or
    * re-added with fresh inline stats (a restore) — O(tail) names and
    * nothing else, so `|side-car rows| - |excluded| + |tailLive|` is
    * the snapshot's exact live-file count. `tailLive` = live files
    * added SINCE the checkpoint, whose stats are in the state's inline
    * maps — also O(tail). Invariant: the snapshot's files = (side-car
    * rows minus excluded) disjoint-union tailLive. */
  final case class SidecarState(ref: String, excluded: Set[String],
      tailLive: Set[String])

  /** Materialized snapshot state at one version (the [[Manifest]] fold):
    * live files, schema, all three stats indexes, and the
    * deletion-vector map (data file -> sidecars masking its rows).
    *
    * With `sidecar` set (segmented checkpoint), the DRIVER-RESIDENT
    * part of the state is O(tail), not O(files): `inlineFiles` holds
    * ONLY the tail-live names, and the stat maps only those files'
    * entries — checkpoint-covered files' names and stats stay columnar
    * in the side files. Every skipping path consults them through
    * [[Instance.sidecarSurvivors]] (a file missing from the inline
    * maps is NOT statless, it is sidecar-covered), and consumers that
    * genuinely need every live name stream or join the side files
    * ([[Instance.liveNamesDf]]) instead of materializing a driver set
    * — at 10^7 files a name list is ~1 GB of driver heap per pinned
    * snapshot, the last metadata structure that would grow with the
    * table (the reference bounds resident state the same way,
    * buf_mgr.rs:110-393). Without `sidecar`, `inlineFiles` is the
    * complete live list. `dvs`, `renames`, `tombstones` are always
    * fully materialized (sparse masks and mappings — the cheap
    * part). */
  final case class TableState(inlineFiles: Seq[String], ddl: String,
      stats: Map[String, (Long, Long)],
      colStats: Map[String, Map[String, (Long, Long)]],
      dvs: Map[String, Seq[String]],
      fileStats: Map[String, Map[String, UStat]] = Map.empty,
      renames: Map[String, String] = Map.empty,
      tombstones: Seq[String] = Nil,
      sidecar: Option[SidecarState] = None,
      // exact live-file count; -1 = derive from inlineFiles (inline
      // states). Segmented folds compute it arithmetically from the
      // checkpoint's recorded count — never by materializing names.
      liveCount: Long = -1L,
      // CHECK constraints (name -> boolean SQL over logical names)
      // in force at this version
      constraints: Map[String, String] = Map.empty) {
    /** Physical (on-disk) name of logical column `n` under this
      * state's column mapping — identity for never-renamed columns. */
    def phys(n: String): String = renames.getOrElse(n, n)
    /** Exact number of live data files in this snapshot. */
    def numFiles: Long =
      if (liveCount >= 0L) liveCount else inlineFiles.size.toLong
  }

  /** The obj_ids of driver-resident rows; None when `schema` has no
    * LONG obj_id or a row's id is null. */
  private[acid] def objIdsOf(rows: Seq[InternalRow],
      schema: StructType): Option[Seq[Long]] = {
    val i = schema.fieldNames.indexOf("obj_id")
    if (i >= 0 && schema(i).dataType == LongType && rows.forall(!_.isNullAt(i)))
      Some(rows.map(_.getLong(i)))
    else None
  }

  /** The rows and schema of `df` when its optimized plan is a local
    * relation, or a union of them (a point rewrite's survivors plus its
    * updated rows), of 1 to `maxRows` rows: data already on the
    * driver. */
  private[acid] def localRowsOf(df: DataFrame, maxRows: Int)
      : Option[(Seq[InternalRow], StructType)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Union}
    (df.queryExecution.optimizedPlan match {
      case l: LocalRelation => Some((l.data, l.schema))
      case u: Union if u.children.forall(_.isInstanceOf[LocalRelation]) =>
        Some((u.children.flatMap(_.asInstanceOf[LocalRelation].data), u.schema))
      case _ => None
    }).filter { case (rows, _) => rows.nonEmpty && rows.length <= maxRows }
  }

  /** Whether `df` optimizes to a local relation of no rows. */
  private[acid] def isEmptyLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l.data.isEmpty
      case _ => false
    }

  /** `logical` with each column under its PHYSICAL (on-disk) name,
    * field order kept. */
  private[acid] def physSchema(logical: StructType,
      renames: Map[String, String]): StructType =
    StructType(logical.map(f => f.copy(name = renames.getOrElse(f.name, f.name))))

  /** Dotted PHYSICAL leaf paths to stat-index for file skipping:
    * either the explicit [[EngineConf.statsColumnList]] (logical
    * names; naming a struct indexes all its primitive leaves) or the
    * first [[Instance.StatsColumns]] top-level fields — in both
    * cases RECURSING into struct leaves, so `props.country`-style
    * fields are skippable. Array/map internals are excluded (their
    * element stats cannot veto row-level predicates). `obj_id` (the
    * primary index) is always included; unknown names in the explicit
    * list are ignored (the schema may still evolve toward them). */
  private[acid] def statLeafCols(logical: StructType, conf: EngineConf,
      ren: Map[String, String]): Set[String] = {
    def leaves(prefix: String, dt: DataType): Seq[String] = dt match {
      case st: StructType =>
        st.fields.toSeq.flatMap(f => leaves(s"$prefix.${f.name}", f.dataType))
      case _: ArrayType | _: MapType => Nil
      case _ => Seq(prefix)
    }
    def typeAt(path: String): Option[DataType] =
      path.split('.').foldLeft(Option(logical: DataType)) {
        case (Some(st: StructType), seg) =>
          st.fields.find(_.name == seg).map(_.dataType)
        case _ => None
      }
    val logicalPaths: Seq[String] =
      if (conf.statsColumnList.nonEmpty)
        conf.statsColumnList.flatMap(e => typeAt(e) match {
          case Some(st: StructType) => leaves(e, st)
          case Some(_) => Seq(e)
          case None => Nil
        })
      else logical.fields.take(Instance.StatsColumns).toSeq
        .flatMap(f => leaves(f.name, f.dataType))
    // column mapping applies to the TOP-LEVEL segment only (nested
    // fields keep their names; only roots get physical indirection).
    // [[RowsKey]] is reserved for the per-file row-count pseudo-stat —
    // a user column spelled exactly like it is simply not stat-indexed.
    (logicalPaths.toSet + "obj_id" - RowsKey)
      .filterNot(_.startsWith(BloomKeyPrefix)).map { p =>
        val i = p.indexOf('.')
        if (i < 0) ren.getOrElse(p, p)
        else ren.getOrElse(p.take(i), p.take(i)) + p.substring(i)
      }
  }

  /** Reserved [[Manifest.fileStats]] key carrying each data file's
    * exact total row count as a degenerate `UStat('L', n, n, 0)` —
    * collected from parquet BLOCK metadata (always present) by
    * [[Instance.footerAllStats]], so it rides every existing stat
    * surface (manifest JSON, checkpoint side files, restore re-fetch)
    * with no format change. Never a real column: [[statLeafCols]]
    * excludes it from the allowed footer paths. */
  private[acid] val RowsKey = "#rows"

  /** Reserved [[Manifest.fileStats]] key PREFIX for the per-file
    * skipping blooms ([[EngineConf.fileBloomCols]]): `#fb:<physCol>`
    * holds a degenerate `UStat('F', base64(bits), k, 0)`. Like
    * [[RowsKey]], never a real column ([[statLeafCols]] excludes the
    * prefix), and consumers probe it only under the 'F' kind so a
    * colliding user column can never be misread as a bloom. */
  private[acid] val BloomKeyPrefix = "#fb:"

  /** obj_id must stay a physical column of every data file: its footer
    * min/max is the primary pruning index, and merge-on-read deletes
    * resolve row ordinals against it. Every surface that records or
    * writes a partitioning checks this. */
  private[acid] def requireInFileObjId(partitionBy: Seq[String]): Unit =
    require(!partitionBy.contains("obj_id"),
      "obj_id cannot be a partition column (footer stats need it in-file)")

  /** Unsigned lexicographic UTF-8 byte order — parquet's sort order
    * for string (BINARY/UTF8) statistics. Java's String.compareTo
    * (UTF-16 code-unit order) disagrees for supplementary characters,
    * so both stat merging and pruning compare through this. */
  private[acid] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    x.length - y.length
  }

  /** The one manifest format generation this engine reads and writes.
    * Every manifest declares it, and [[fromJson]] refuses any other
    * declared generation (older, newer or absent) and any manifest
    * without its trailing crc: parsing an unknown shape with defaults
    * could silently drop a field whose loss corrupts answers (conflict
    * summaries, epoch watermarks, deletion vectors, column mapping,
    * constraints). Tables written by an older generation are refused,
    * not migrated. */
  val FormatVersion = 10

  private[graft] def toJson(m: Manifest): String = MetaJson.seal(MetaJson.obj { g =>
    import MetaJson.{longs, strings}
    // every map is written as parallel arrays sorted by key, so the
    // bytes (and the crc) are a function of the value alone
    def sortedKeys[V](kv: Map[String, V]) = kv.keys.toSeq.sorted
    g.writeNumberField("formatVersion", FormatVersion)
    m.multiRef.foreach(g.writeStringField("multiRef", _))
    g.writeNumberField("version", m.version)
    g.writeNumberField("tsn", m.tsn)
    g.writeNumberField("tsMillis", m.tsMillis)
    g.writeStringField("schemaDDL", m.schemaDDL)
    strings(g, "added", m.added)
    strings(g, "removed", m.removed)
    longs(g, "objects", m.objects)
    g.writeBooleanField("checkpoint", m.checkpoint)
    m.objSummary.foreach { s =>
      g.writeNumberField("objCount", s.count)
      g.writeNumberField("objMin", s.min)
      g.writeNumberField("objMax", s.max)
      g.writeNumberField("objBloomK", s.bloom.k)
      g.writeStringField("objBloom", s.bloom.toBase64)
    }
    // colStats as four parallel arrays (file, col, min, max)
    val cstats = m.colStats.toSeq.sortBy(_._1).flatMap { case (f, cs) =>
      cs.toSeq.sortBy(_._1).map { case (c, r) => (f, c, r) }
    }
    if (cstats.nonEmpty) {
      strings(g, "cstatsFiles", cstats.map(_._1))
      strings(g, "cstatsCols", cstats.map(_._2))
      longs(g, "cstatsMin", cstats.map(_._3._1))
      longs(g, "cstatsMax", cstats.map(_._3._2))
    }
    // streaming-epoch watermarks; a stamp-less entry writes 0
    val apps = sortedKeys(m.appTxns)
    if (apps.nonEmpty) {
      strings(g, "appIds", apps)
      longs(g, "appEpochs", apps.map(m.appTxns))
      longs(g, "appTs", apps.map(m.appTxnTs.getOrElse(_, 0L)))
    }
    // deletion vectors: file, then its sidecar list joined with ';'
    // (sidecar names are uuids); "" = clear this entry
    Seq("dv" -> m.dvs, "allDv" -> m.allDvs).foreach { case (prefix, dvs) =>
      val keys = sortedKeys(dvs)
      if (keys.nonEmpty) {
        strings(g, prefix + "Files", keys)
        strings(g, prefix + "Lists", keys.map(dvs(_).mkString(";")))
      }
    }
    // universal file stats as six parallel arrays
    val ustats = m.fileStats.toSeq.sortBy(_._1).flatMap { case (f, cs) =>
      cs.toSeq.sortBy(_._1).map { case (c, u) => (f, c, u) }
    }
    if (ustats.nonEmpty) {
      strings(g, "ustatFiles", ustats.map(_._1))
      strings(g, "ustatCols", ustats.map(_._2))
      strings(g, "ustatKinds", ustats.map(_._3.kind.toString))
      strings(g, "ustatMins", ustats.map(_._3.min))
      strings(g, "ustatMaxs", ustats.map(_._3.max))
      longs(g, "ustatNulls", ustats.map(_._3.nulls))
    }
    val rens = sortedKeys(m.renames)
    if (rens.nonEmpty) {
      strings(g, "renFrom", rens)
      strings(g, "renTo", rens.map(m.renames))
    }
    if (m.tombstones.nonEmpty) strings(g, "tombstones", m.tombstones.sorted)
    val cons = sortedKeys(m.constraints)
    if (cons.nonEmpty) {
      strings(g, "consNames", cons)
      strings(g, "consExprs", cons.map(m.constraints))
    }
    m.ckptRef.foreach { r =>
      g.writeStringField("ckptRef", r)
      g.writeNumberField("ckptFiles", m.ckptFiles)
    }
    if (m.cdcExact || m.cdc.nonEmpty) {
      strings(g, "cdcFiles", m.cdc)
      g.writeBooleanField("cdcExact", m.cdcExact)
    }
    strings(g, "allFiles", m.allFiles)
    val statKeys = sortedKeys(m.stats)
    strings(g, "statsFiles", statKeys)
    longs(g, "statsMin", statKeys.map(m.stats(_)._1))
    longs(g, "statsMax", statKeys.map(m.stats(_)._2))
  })

  private[acid] def crc32(s: String): Long = MetaJson.crc32(s)

  /** Positional deletion-vector sidecar payload: data file -> base64
    * of its serialized [[GraftBitmap]] of masked row ordinals. Same
    * flat-arrays-plus-crc shape as the manifest; the bitmap's
    * own magic plus the crc make torn or mistyped payloads fail loudly
    * (a sidecar silently read as empty would RESURRECT deleted rows). */
  private[acid] def dvPosToJson(masks: Map[String, GraftBitmap]): String = {
    val keys = masks.keys.toSeq.sorted
    val enc = java.util.Base64.getEncoder
    MetaJson.seal(MetaJson.obj { g =>
      MetaJson.strings(g, "dvpFiles", keys)
      MetaJson.strings(g, "dvpBitmaps",
        keys.map(f => enc.encodeToString(masks(f).serialize())))
    })
  }

  /** Spilled-bloom sidecar payload (`fb-` names): the (file, column,
    * base64-bits) triples a large commit's blooms moved out of its
    * delta manifest ([[EngineConf.fileBloomInlineMax]]). Same
    * flat-arrays-plus-crc shape as the dv sidecars — but unlike dvs,
    * blooms are VETO-ONLY, so every read failure (torn file, bad crc,
    * missing sidecar) degrades to None = "no veto": pruning lost,
    * answers never. Pointer ustats (`@<name>#<idx>`, ~30 bytes)
    * replace the base64 in the manifest and ride every stat surface —
    * checkpoints, segmented side files, restore — unchanged. */
  private[acid] def fbToJson(rows: Seq[(String, String, String)]): String =
    MetaJson.seal(MetaJson.obj { g =>
      MetaJson.strings(g, "files", rows.map(_._1))
      MetaJson.strings(g, "cols", rows.map(_._2))
      MetaJson.strings(g, "blooms", rows.map(_._3))
    })

  /** The blooms array of an fb sidecar; None on ANY damage (see
    * [[fbToJson]] — veto-only, so None means "keep the file"). */
  private[acid] def fbFromJson(text: String): Option[Array[String]] =
    try Some(MetaJson.strings(MetaJson.parse(
      MetaJson.unseal(text, "bloom sidecar")).get("blooms")).toArray)
    catch { case scala.util.control.NonFatal(_) => None }

  private[acid] def isBloomPointer(min: String): Boolean =
    min.startsWith("@fb-")

  /** Sidecar NAME a pointer references ("" when not a pointer). */
  private[acid] def bloomPointerName(min: String): String = {
    val h = min.indexOf('#')
    if (!isBloomPointer(min) || h < 0) "" else min.substring(1, h)
  }

  // JVM-wide cache of loaded fb sidecars (absolute path -> blooms),
  // shared by the driver skip loop and the segmented executors' mirror.
  // Crude bound: veto-only data, so a full clear costs pruning on the
  // next probe, never answers.
  private val fbCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()

  /** Resolve a `@<name>#<idx>` pointer to its base64 bits; None on any
    * failure (missing/torn sidecar, bad index) = "no veto". */
  private[acid] def loadBloomSidecar(dataDir: String, pointer: String,
      conf: () => org.apache.hadoop.conf.Configuration): Option[String] = {
    val h = pointer.indexOf('#')
    if (!isBloomPointer(pointer) || h < 0) return None
    val idx =
      try pointer.substring(h + 1).toInt
      catch { case _: NumberFormatException => return None }
    val p = new Path(dataDir, pointer.substring(1, h))
    val key = p.toString
    var arr = fbCache.get(key)
    if (arr == null) {
      arr = try {
        MetaJson.read(p.getFileSystem(conf()), p).flatMap(fbFromJson).orNull
      } catch { case scala.util.control.NonFatal(_) => null }
      if (arr != null) {
        if (fbCache.size > 64) fbCache.clear()
        fbCache.put(key, arr)
      }
    }
    if (arr == null || idx < 0 || idx >= arr.length) None else Some(arr(idx))
  }

  /** Cross-table commit decision record: the ONE object whose atomic
    * claim decides every participating table's pointer manifest at
    * once (the multi-table analog of the reference's single WAL commit
    * record spanning all objects, instance.rs:102-111). Immutable once
    * claimed: "committed" is claimed only by the coordinating writer
    * AFTER every pointer published; "aborted" by the writer on any
    * mid-sequence failure, or by a READER arbitrating a decision still
    * missing past [[EngineConf.multiGraceMs]] (the Percolator-style
    * resolution of a coordinator that died between phases). */
  private[acid] def decisionToJson(committed: Boolean): String =
    MetaJson.seal(MetaJson.obj(
      _.writeStringField("state", if (committed) "committed" else "aborted")))

  /** Some(committed?) — throws on a corrupt record (a torn decision
    * silently read as aborted would void a committed transaction). */
  private[acid] def decisionFromJson(s: String): Boolean =
    MetaJson.parse(MetaJson.unseal(s, "multi-commit decision record"))
      .path("state").asText == "committed"

  /** Atomically claim `target` with a decision body via the same
    * [[ManifestClaimer]] primitive manifests use. True iff THIS call
    * bound the decision. */
  private[acid] def claimDecision(fs: FileSystem, target: Path,
      claimer: ManifestClaimer, committed: Boolean): Boolean =
    claimFile(fs, claimer, target, decisionToJson(committed).getBytes("UTF-8"))(
      AnyIoError)

  /** Any store failure of a claim reads as a lost race. */
  private[acid] val AnyIoError: PartialFunction[Throwable, Boolean] = {
    case _: java.io.IOException => false
  }

  /** Bind `target` to `body` atomically through `claimer`: true iff THIS
    * call bound it, false when the claim throws what `lostRace` maps to
    * false (anything else propagates). A claimer that publishes by file
    * ([[ManifestClaimer.needsTemp]]) gets the body as a hidden temp
    * beside the target — invisible to readers, removed on every
    * non-crash path and swept by [[Instance.vacuum]] after a crash;
    * conditional-PUT claimers carry the body in the request. */
  private[acid] def claimFile(fs: FileSystem, claimer: ManifestClaimer,
      target: Path, body: Array[Byte])(
      lostRace: PartialFunction[Throwable, Boolean]): Boolean =
    if (!claimer.needsTemp) {
      try claimer.claim(fs, null, target, body)
      catch lostRace
    } else {
      val tmp = new Path(target.getParent,
        s".tmp-${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(body) finally out.close()
      try claimer.claim(fs, tmp, target, body)
      catch lostRace
      finally {
        try fs.delete(tmp, false) catch { case _: java.io.IOException => () }
      }
    }

  /** One commit's effect on a deletion-vector map: entries of `removed`
    * files drop, then each `delta` entry REPLACES its file's sidecar
    * list, and an empty list clears it. */
  private[acid] def foldDvs(dvs: Map[String, Seq[String]],
      removed: Iterable[String],
      delta: Iterable[(String, Seq[String])]): Map[String, Seq[String]] =
    delta.foldLeft(dvs -- removed) { case (acc, (f, list)) =>
      if (list.isEmpty) acc - f else acc.updated(f, list)
    }

  private[acid] def dvPosFromJson(s: String): Map[String, GraftBitmap] = {
    val n = MetaJson.parse(
      MetaJson.unseal(s, "positional deletion-vector sidecar"))
    val dec = java.util.Base64.getDecoder
    MetaJson.strings(n.get("dvpFiles")).zip(MetaJson.strings(n.get("dvpBitmaps"))
      .map(b => GraftBitmap.deserialize(dec.decode(b)))).toMap
  }

  private[graft] def fromJson(s: String): Manifest = {
    // format gate FIRST (another generation may hash differently):
    // exactly one generation parses, any other declaration fails
    // loudly — never parse-with-defaults. Only a TERMINATED field
    // counts, so a torn read's prefix (`"formatVersion":1` of 10) is
    // never mistaken for a declaration and stays retryable below
    val fvAt = s.indexOf("\"formatVersion\":")
    val fvEnd = if (fvAt < 0) -1 else s.indexOf(',', fvAt)
    val declared =
      if (fvEnd < 0) None else Some(s.substring(fvAt + 16, fvEnd).trim)
    declared.filter(_ != FormatVersion.toString).foreach { d =>
      val newer = d.nonEmpty && d.forall(_.isDigit) && BigInt(d) > FormatVersion
      throw new ManifestFormatException(
        if (newer) s"manifest formatVersion $d is newer than this reader " +
          s"supports ($FormatVersion); upgrade before reading this table"
        else s"manifest formatVersion $d is older than $FormatVersion, " +
          "the only generation this reader supports; tables written by " +
          "older generations are refused, not migrated")
    }
    // integrity: a manifest without its trailing crc is a torn read
    // (retried by [[Instance.readManifest]]) or a pre-crc writer's —
    // refused either way
    val n = MetaJson.parse(MetaJson.unseal(s, "manifest"))
    if (declared.isEmpty)
      throw new ManifestFormatException(
        s"manifest declares no formatVersion; this reader supports only " +
        s"generation $FormatVersion, and tables written by older " +
        "generations are refused, not migrated")
    def field(k: String) = Option(n.get(k)).getOrElse(
      throw new java.io.IOException(s"manifest has no $k field"))
    def strs(k: String) = MetaJson.strings(field(k))
    def longs(k: String) = MetaJson.longs(field(k))
    def opt[T](k: String)(f: String => T): Option[T] =
      if (n.has(k)) Some(f(k)) else None
    val summary = opt("objCount")(_ => ObjSummary(field("objCount").longValue,
      field("objMin").longValue, field("objMax").longValue,
      IdBloom.fromBase64(field("objBloom").textValue,
        field("objBloomK").intValue)))
    val colStats = opt("cstatsFiles") { _ =>
      strs("cstatsFiles").zip(strs("cstatsCols"))
        .zip(longs("cstatsMin").zip(longs("cstatsMax")))
        .groupBy(_._1._1)
        .map { case (f, rows) =>
          f -> rows.map { case ((_, c), r) => c -> r }.toMap }
    }.getOrElse(Map.empty)
    val apps = opt("appIds")(strs).getOrElse(Nil)
    // 0 = "no stamp" canonicalizes to absence, so stamp-less entries
    // round-trip exactly
    val (appTxns, appTxnTs) =
      if (apps.isEmpty) (Map.empty[String, Long], Map.empty[String, Long])
      else (apps.zip(longs("appEpochs")).toMap,
        apps.zip(longs("appTs")).filter(_._2 != 0L).toMap)
    def dvBlock(prefix: String): Map[String, Seq[String]] =
      opt(prefix + "Files")(strs).fold(Map.empty[String, Seq[String]])(
        _.zip(strs(prefix + "Lists").map(l =>
          if (l.isEmpty) Seq.empty[String] else l.split(';').toSeq)).toMap)
    val fileStats = opt("ustatFiles") { _ =>
      val fls = strs("ustatFiles"); val cols = strs("ustatCols")
      val kinds = strs("ustatKinds")
      val mins = strs("ustatMins"); val maxs = strs("ustatMaxs")
      val nulls = longs("ustatNulls")
      fls.indices.map(i => (fls(i), cols(i),
          UStat(kinds(i).head, mins(i), maxs(i), nulls(i))))
        .groupBy(_._1)
        .map { case (f, rows) => f -> rows.map(r => r._2 -> r._3).toMap }
    }.getOrElse(Map.empty)
    Manifest(field("version").longValue, field("tsn").longValue,
      field("schemaDDL").textValue, strs("added"), strs("removed"),
      longs("objects"), field("checkpoint").booleanValue, strs("allFiles"),
      strs("statsFiles").zip(longs("statsMin").zip(longs("statsMax"))).toMap,
      summary, colStats,
      tsMillis = field("tsMillis").longValue,
      appTxns = appTxns, appTxnTs = appTxnTs,
      dvs = dvBlock("dv"), allDvs = dvBlock("allDv"), fileStats = fileStats,
      multiRef = opt("multiRef")(field(_).textValue),
      renames = opt("renFrom")(k => strs(k).zip(strs("renTo")).toMap)
        .getOrElse(Map.empty),
      tombstones = opt("tombstones")(strs).getOrElse(Nil),
      constraints = opt("consNames")(k => strs(k).zip(strs("consExprs")).toMap)
        .getOrElse(Map.empty),
      ckptRef = opt("ckptRef")(field(_).textValue),
      ckptFiles = opt("ckptFiles")(field(_).longValue).getOrElse(0L),
      cdc = opt("cdcFiles")(strs).getOrElse(Nil),
      cdcExact = opt("cdcExact")(field(_).booleanValue).getOrElse(false))
  }

  /** One-time datastore initialization (reference:
    * initialize_datastore, datastore.rs:132-178). */
  def create(spark: SparkSession, path: String, schema: StructType,
      conf: EngineConf = EngineConf()): Instance = {
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(path, "data"))
    fs.mkdirs(new Path(path, "_manifests"))
    val inst = new Instance(spark, path, conf)
    if (!inst.publish(Manifest(0L, 0L, schema.toDDL, Nil, Nil, Nil,
        checkpoint = true, allFiles = Nil,
        tsMillis = System.currentTimeMillis())))
      throw new IllegalStateException(
        s"datastore already initialized at $path (v0 manifest exists)")
    inst.writeHead(0L)
    inst
  }

  /** Open an existing datastore, resolving the committed head
    * (reference: Instance::new + restore_state, instance.rs:42-75). */
  def open(spark: SparkSession, path: String,
      conf: EngineConf = EngineConf()): Instance =
    new Instance(spark, path, conf)
}

/** Spark job labels for the engine's internal actions ("label your
  * jobs": the UI — and the graft.Profile by-description table — can
  * then attribute lifecycle cost to the specific engine phase instead
  * of an anonymous stage name). Thread-local, nesting-aware: an outer
  * caller's label (e.g. merge-rewrite) wins over the generic inner one
  * (stage-write), so the most specific attribution survives. */
private[acid] object JobLabel {
  def apply[T](spark: SparkSession, desc: String,
      keepOuter: Boolean = false)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    if (!(keepOuter && prev != null)) sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}

/** Typed engine configuration (reference: 15 typed parameters in
  * src/system/config.rs:149-164 — the subset that survives the
  * Spark-first narrowing; buffer/WAL sizing maps to Spark memory and
  * has no analog here).
  *
  * @param checkpointInterval   commits between log-compacting checkpoints
  *                             (reference checkpointer cadence)
  * @param conflictMaxAttempts  [[Instance.withRetry]] attempt budget —
  *                             the optimistic analog of the reference's
  *                             lock-wait timeout (tran_mgr.rs:85-127)
  * @param conflictBackoffMs    base backoff between retry attempts
  *                             (linear: attempt * backoff)
  * @param orphanGraceMs        vacuum's orphan sweep (on by default)
  *                             only deletes unreferenced staging files
  *                             older than this. HARD CONSTRAINT: no
  *                             transaction may stay open longer than
  *                             the grace while vacuums run, or its
  *                             uncommitted staging is reclaimable —
  *                             the same retention-vs-writer contract
  *                             every copy-on-write table format has;
  *                             size it above the longest write job
  * @param objectListThreshold  touched-id count past which a txn stops
  *                             materializing its id list on the driver
  *                             and carries an [[ObjSummary]]
  *                             (min/max + bloom) instead — manifests
  *                             and driver memory stay bounded at any
  *                             batch size; conflict checks against a
  *                             summary may be pessimistic (spurious
  *                             retry), never lossy
  * @param bloomBits            FIXED bloom geometry for every summary
  *                             (summaries must union bit-for-bit);
  *                             default 2^23 bits = 1 MiB ≈ 2% fp at
  *                             10^6 distinct ids per commit
  * @param claimer              the store's atomic publish primitive
  *                             ([[ManifestClaimer]]): link/rename by
  *                             default (local/HDFS); plug a
  *                             [[ConditionalPutClaimer]] on S3-class
  *                             object stores, whose rename is not
  *                             atomic
  * @param appTxnRetentionMs    age past which an IDLE idempotence
  *                             watermark (`txnAppId` / streaming-query
  *                             appTxns entry) is dropped from
  *                             checkpoint folds — without it a table
  *                             written by many distinct stream runs or
  *                             batch writers grows every checkpoint
  *                             manifest forever (Delta bounds this with
  *                             setTransactionRetentionDuration).
  *                             Default keep-forever; when set, a writer
  *                             idle longer than the retention loses
  *                             replay protection — size it above the
  *                             longest restart gap. Entries with no
  *                             stamp (legacy manifests) are never
  *                             expired. */
final case class EngineConf(
    checkpointInterval: Int = 10,
    // live-file count past which checkpoints switch from the inline
    // JSON fold to SEGMENTED parquet side files written and consumed
    // distributively ([[CheckpointStore]]): the manifest stays O(1),
    // the driver stops materializing per-file stat maps, and file
    // skipping runs as a Spark job over the side files. Below the
    // threshold the inline path keeps metadata ops free of Spark-job
    // latency (the right trade for small tables); once a table has
    // segmented it stays segmented (no flapping at the boundary).
    // 0 = always segmented (test/diagnostic mode).
    checkpointInlineFiles: Int = 4096,
    // OPT-IN row tracking for copy-on-write rewrites (Delta's
    // enableChangeDataFeed analog): every committing rewrite that
    // REMOVES files also stages exact pre/post-image rows as CDC
    // side files referenced by the manifest, so the streaming change
    // feed serves update_preimage/update_postimage/delete events
    // through UPDATE/MERGE/row-level-SQL/restore commits instead of
    // failing (or lossily re-streaming post-images under
    // ignoreChanges). Costs one distributed diff of the commit's
    // removed-vs-added files per rewrite — the standard CDC write
    // amplification; pure inserts and MoR deletes never pay it
    // (their events are already exact without side files).
    changeDataFeed: Boolean = false,
    // EXPLICIT stat-column list (logical dotted names), overriding the
    // first-statsColumns default: exactly these columns (a struct name
    // expands to all its primitive leaves) get universal footer stats
    // in the manifest — Delta's dataSkippingStatsColumns analog. Lets
    // a wide table index only its filter columns, and nested leaves
    // like `props.country` become skippable.
    statsColumnList: Seq[String] = Nil,
    // OPT-IN per-file BLOOM FILTERS for point-predicate file skipping
    // on declared (logical) columns — min/max ranges can't skip a
    // high-cardinality point lookup on a NON-clustered column (every
    // file's range straddles most values), a bloom can. Each commit's
    // staged files get one fileBloomBits-bit filter per declared
    // column (one bounded pass over the JUST-WRITTEN data), stored as
    // a reserved `#fb:<col>` entry in the manifest's universal file
    // stats — so blooms ride checkpoints, segmented side files, and
    // restore with zero format change, and equality/IN pushdown
    // consults them on both the driver and the distributed skip
    // paths. Sizing: ~n·1.44·log2(1/p) bits for n distinct values at
    // false-positive rate p — the 2^16 default holds ~6.5k
    // NDV/file at 1% (saturation only costs pruning, never answers).
    // Files written without blooms (pre-declaration history, CoW
    // rewrites, compaction output) are simply kept — veto-only.
    // Reference analog: free-info bitmaps as a maintained skipping
    // structure over block state (free_info.rs:84-194).
    fileBloomCols: Seq[String] = Nil,
    fileBloomBits: Int = 1 << 16,
    // bloom entries above which a COMMIT's blooms spill from the
    // inline delta manifest to ONE crc'd `fb-` sidecar in dataDir
    // (pointer ustats replace the base64 payloads). Inline, a bulk
    // load writes (files x declared columns) x fileBloomBits/8 bytes
    // of base64 into a single JSON manifest on the driver — a
    // 10k-file insert with one bloom column is ~110 MB of manifest;
    // spilled, the manifest carries ~30-byte pointers and the bitsets
    // land once, off the metadata plane. Small commits stay inline
    // (no extra file, no extra read). Blooms are VETO-ONLY, so a
    // missing/unreadable sidecar degrades to "no veto" — pruning
    // lost, answers never.
    fileBloomInlineMax: Int = 32,
    // OPT-IN post-commit auto-maintenance (Delta's autoCompact
    // analog): once a successful commit leaves the snapshot with >=
    // autoCompactFiles live files, the committer immediately folds
    // them to autoCompactTarget via the existing compact() as one
    // extra layout-only commit. BEST-EFFORT: a conflict or failure in
    // the maintenance commit never surfaces (the triggering commit is
    // already durable), and a concurrent writer simply wins the race.
    // 0 = off (default). Bounds the small-file growth of streaming
    // sinks without an external maintenance job.
    autoCompactFiles: Int = 0,
    autoCompactTarget: Int = 4,
    conflictMaxAttempts: Int = 5,
    conflictBackoffMs: Long = 20L,
    // OPT-IN blocking commit lock for hot-key writers (the reference's
    // object-lock wait queue, tran_mgr.rs:85-127, as an ADVISORY
    // store-level claim): when set, [[Instance.withRetry]] serializes
    // whole attempts behind an exclusive-create lock file under
    // `_manifests/`, so contended writers queue instead of redoing the
    // staging work an optimistic retry throws away. Purely advisory —
    // the optimistic conflict checks still run, so a stolen or
    // bypassed lock degrades to retry behavior, never to a lost
    // update. A lock older than commitLockTimeoutMs is presumed
    // crashed and stolen; a waiter gives up (ConflictException) after
    // the same bound. Off by default: optimistic wins whenever writers
    // rarely collide.
    commitLock: Boolean = false,
    commitLockTimeoutMs: Long = 30000L,
    orphanGraceMs: Long = 24L * 3600 * 1000,
    objectListThreshold: Int = 100000,
    bloomBits: Long = 1L << 23,
    claimer: ManifestClaimer = LinkRenameClaimer,
    appTxnRetentionMs: Long = Long.MaxValue,
    // longest commit interval a materialized-view refresh folds
    // INCREMENTALLY: a view catching up over more versions than this
    // (e.g. after weeks offline) rebuilds from the head snapshot
    // instead — O(table), but with a bounded plan, instead of an
    // incremental fold whose cost and plan size grow linearly with an
    // arbitrarily long history (and which may reference files vacuum
    // already reclaimed). Sized so routine refresh cadences never hit
    // it; the rebuild is the same fold the initial build uses.
    mvRebuildMaxInterval: Int = 512,
    // most relations (fact + dims) that may carry churn in ONE
    // incremental star-view refresh interval: the signed join delta is
    // an inclusion–exclusion over the CHANGED sides, so k churning
    // relations plan 2^k - 1 union terms — fine for the routine cases
    // (fact-only = 1 term, fact + a dim = 3), but a wide star whose
    // every side moved in a long-offline interval would otherwise
    // build an exponentially wide plan. Past the cap the refresh
    // falls back to the bounded snapshot rebuild (same fallback as
    // mvRebuildMaxInterval). Default 5 = at most 31 terms.
    mvMaxChangedSides: Int = 5,
    // OPT-IN append-time id-uniqueness: plain INSERTs (batch and
    // streaming-append epochs) probe their staged ids against the
    // snapshot (candidate-file pruned) and within the batch, failing
    // loudly instead of landing a duplicate that would corrupt point
    // ops. merge/upsert paths are unaffected (unique by construction).
    // Costs one extra batch read + a pruned id semi join per append.
    uniqueIds: Boolean = false,
    // how long a reader waits for an in-flight cross-table commit's
    // decision record before arbitrating it ABORTED (the commit window
    // is pointer publishes + one claim, normally milliseconds; a
    // missing decision past this grace means the writer died mid-
    // commit). Paid at most once per multi-commit per instance — the
    // resolved decision is immutable and cached.
    multiGraceMs: Long = 500L) {
  // fail at construction, not mid-commit (a checkpointInterval of 0
  // would otherwise surface as ArithmeticException after staging data)
  require(checkpointInterval >= 1, s"checkpointInterval must be >= 1")
  require(checkpointInlineFiles >= 0, s"checkpointInlineFiles must be >= 0")
  require(conflictMaxAttempts >= 1, s"conflictMaxAttempts must be >= 1")
  require(conflictBackoffMs >= 0, s"conflictBackoffMs must be >= 0")
  require(orphanGraceMs >= 0, s"orphanGraceMs must be >= 0")
  require(objectListThreshold >= 1, s"objectListThreshold must be >= 1")
  require(bloomBits >= 64 && bloomBits % 64 == 0,
    s"bloomBits must be a positive multiple of 64")
  require(fileBloomBits >= 64 && fileBloomBits % 64 == 0,
    s"fileBloomBits must be a positive multiple of 64")
  require(appTxnRetentionMs >= 0, s"appTxnRetentionMs must be >= 0")
  require(autoCompactFiles >= 0, s"autoCompactFiles must be >= 0")
  require(autoCompactTarget >= 1, s"autoCompactTarget must be >= 1")
  require(multiGraceMs >= 0, s"multiGraceMs must be >= 0")
  require(commitLockTimeoutMs >= 1, s"commitLockTimeoutMs must be >= 1")
  require(mvRebuildMaxInterval >= 1, s"mvRebuildMaxInterval must be >= 1")
  require(mvMaxChangedSides >= 1, s"mvMaxChangedSides must be >= 1")
}

/** Conflict = another transaction committed the same objects after this
  * transaction's snapshot (optimistic analog of tran_mgr lock waits). */
final class ConflictException(msg: String) extends RuntimeException(msg)

/** A write staged a row for which a CHECK constraint evaluates FALSE,
  * or an addConstraint found an existing violating row. Carries the
  * constraint name, its expression, and the first offending row. */
final class ConstraintViolationException(msg: String)
  extends RuntimeException(msg)

/** The manifest declares a format generation other than this reader's
  * [[VersionedTable.FormatVersion]], or none: a newer table needs an
  * upgraded reader, an older one is refused — never parsed with
  * defaults. Deterministic (not a torn read), so [[Instance]] never
  * retries it. */
final class ManifestFormatException(msg: String) extends java.io.IOException(msg)

/** A transaction carrying a streaming-epoch watermark ([[Txn.markEpoch]])
  * found that epoch (or a later one) already committed for the same
  * query — the replay of an epoch whose commit already landed. NOT a
  * [[ConflictException]]: the correct reaction is "skip, the work is
  * done", never retry. */
final class EpochAlreadyCommittedException(msg: String)
    extends RuntimeException(msg)

/** An insert tried to change the table schema without
  * [[Txn.evolveSchema]], or the change is structurally incompatible
  * (existing column's type changed). */
final class SchemaEvolutionException(msg: String) extends RuntimeException(msg)

object Instance {
  /** [[Instance.changes]] folds its per-version union every this many
    * versions (4 plan branches per version → ≤128 branches per analyzed
    * subplan, well inside analyzer comfort). */
  val ChangesBatchVersions = 32

  /** Bounds of a driver-side point read ([[Instance.pointRows]]): at
    * most this many candidate files, of at most this total length (and
    * never more than `spark.sql.files.openCostInBytes`). Measured on 4
    * cores against the same operation as a Spark job: reading on one
    * thread wins below them, and loses past ~32 files (a `readWhere` of
    * 10 KB files) or ~0.5 MB (a copy-on-write `delete` rewriting its
    * survivors, the heaviest point operation per byte). */
  val PointReadMaxFiles = 32
  val PointReadMaxBytes = 512L * 1024

  /** Tiny staged writes (a LOCAL relation of at most this many rows,
    * unpartitioned) skip the Spark job: the rows are written to ONE
    * parquet file on the driver through Spark's own ParquetWriteSupport
    * (identical schema, footer stats and compression to the job path).
    * The same bound gates a small upsert and `Txn.merge`'s driver path. */
  val FastPathRows = 64

  /** Point-op id-set size above which delete/update/`changes` switch
    * from an `isin` literal predicate to a broadcast semi/anti join
    * (literal lists expand into the plan; millions of ids would blow up
    * compilation). */
  val IdBroadcastThreshold = 1000

  /** Leading schema columns for which every staged file records
    * universal footer min/max/null-count stats in the manifest
    * ([[VersionedTable.UStat]]) unless [[EngineConf.statsColumnList]]
    * names them — Delta's dataSkippingNumIndexedCols analog (obj_id's
    * primary range index is always on). */
  val StatsColumns = 32

  /** Row floor for the star-delta's quiet-side restriction: a quiet
    * relation's snapshot in an inclusion–exclusion term is SEMI-JOIN
    * restricted to the keys the term's deltas can match — O(churn)
    * reads at scale — but the probe (distinct + exchange + broadcast)
    * costs 2-3 Spark stages per term, pure overhead when the manifest's
    * footer row counts bound the whole snapshot under this (lossless
    * either way for an inner join). */
  val MvSemiRestrictMinRows = 65536L

  /** A bloom-enabled staged batch whose exact footer row count is at
    * most this builds its per-file blooms on the bounded driver pool
    * (zero Spark jobs); bigger batches read their files in one Spark
    * job. Same per-file function, so the same output either way. */
  val FileBloomLocalRows = 65536L

  /** Parsed-manifest cache admission bound: manifests carrying more
    * file entries than this (large-table checkpoints) stay uncached so
    * the 128-entry LRU can never pin hundreds of MB of parsed state on
    * the driver; delta manifests always fit. */
  val ManifestCacheMaxFiles = 4096

  private[acid] val IdSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("obj_id", LongType)))

  /** The whole of one data file as a reader input. */
  private[acid] def wholeFile(st: org.apache.hadoop.fs.FileStatus): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath), 0L,
      st.getLen, Array.empty, st.getModificationTime, st.getLen)

  /** `use` over `read`'s rows of `f`, closing the file after. */
  private[acid] def readFile[T](read: PartitionedFile => Iterator[InternalRow],
      f: PartitionedFile)(use: Iterator[InternalRow] => T): T = {
    val it = read(f)
    try use(it)
    finally it match { case c: java.io.Closeable => c.close(); case _ => }
  }
}

final class Instance(val spark: SparkSession, val root: String,
    val conf: EngineConf = EngineConf()) {
  import VersionedTable._

  def checkpointInterval: Int = conf.checkpointInterval

  private[acid] val fs: FileSystem =
    FileSystem.get(new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
  private val manifestDir = new Path(root, "_manifests")
  private[acid] val dataDir = new Path(root, "data")
  // unique within a process via the atomic; cross-process collisions made
  // improbable by mixing wall clock and nanotime (a production deployment
  // would allocate TSNs from the log itself)
  private val tsnSeq = new AtomicLong(
    (System.currentTimeMillis() << 20) ^ (System.nanoTime() & 0xFFFFF))

  private def manifestPath(v: Long) = new Path(manifestDir, f"v$v%020d.json")
  private val headPath = new Path(manifestDir, "_head")

  /** Parsed-manifest cache. Safe because a version's PARSED view never
    * changes: manifests are content-atomic (link/rename publish),
    * never rewritten, never deleted (see [[resolveHead]]), and a
    * multiRef decision is terminal once resolved
    * ([[resolveMultiDecision]] memoizes it, and the neutered copy is
    * what lands here). Entries are shared read-only — the one consumer
    * that widens a manifest's ObjSummary folds into a COPY (see
    * [[commit]]). Bounded LRU: lifecycle paths re-read the same
    * manifests many times (state folds, conflict windows, watermark
    * walks) — the JSON re-parse was a measured driver hotspot at
    * fixture scale (thread dumps: fromJson under computeStateAt), and
    * on an object store every avoided re-read is one fewer RPC. */
  private val manifestCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[java.lang.Long, Manifest](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[java.lang.Long, Manifest]): Boolean =
          size > 128
      })

  /** Test hook: the RPC-contract specs count COLD manifest opens
    * through a wrapping FS — they drop the cache so their bounds keep
    * pinning the uncached read discipline. */
  private[graft] def dropManifestCacheForTest(): Unit = manifestCache.clear()

  /** Read + parse a manifest. [[publish]] is content-atomic (link /
    * rename of a fully-written temp file), so a racing writer can
    * never expose partial content — but manifests written by pre-link
    * versions of the layer, NFS-style caching, or misbehaving mounts
    * still justify a brief retry before declaring corruption. Only a
    * PERSISTENT failure is surfaced — that is real bit-rot (R30), not
    * a racing writer. */
  private[graft] def readManifest(v: Long): Manifest = {
    val hit = manifestCache.get(java.lang.Long.valueOf(v))
    if (hit != null) return hit
    val m = readManifestUncached(v)
    // SIZE-weighted admission: the LRU bound is entry COUNT, but a
    // large-table checkpoint manifest carries the full inline file
    // list + per-file stats — 128 of those could pin hundreds of MB of
    // parsed state on the driver. Wide manifests stay uncached (the
    // state fold memoizes the FOLDED TableState separately, so the
    // hot lifecycle paths lose nothing); delta manifests — the ones
    // re-read many times per commit window — always fit.
    if (m.allFiles.size + m.added.size <= Instance.ManifestCacheMaxFiles)
      manifestCache.put(java.lang.Long.valueOf(v), m)
    m
  }

  private def readManifestUncached(v: Long): Manifest = {
    var attempt = 0
    while (true) {
      // absent is never torn: not retried
      val text = MetaJson.read(fs, manifestPath(v)).getOrElse(
        throw new java.io.FileNotFoundException(manifestPath(v).toString))
      try {
        val m = fromJson(text)
        return m.multiRef match {
          case Some(uri) if !resolveMultiDecision(uri) =>
            // aborted (or arbitrated-dead) cross-table commit: the
            // version slot stays claimed but its deltas contribute
            // NOTHING to any fold — every consumer (state, CDC,
            // vacuum, conflict windows) sees a no-op commit. The
            // schemaDDL is safe to keep: pointer commits reject
            // schema evolution, so it equals the previous version's.
            m.copy(added = Nil, removed = Nil, objects = Nil,
              objSummary = None, stats = Map.empty, colStats = Map.empty,
              fileStats = Map.empty, dvs = Map.empty,
              appTxns = Map.empty, appTxnTs = Map.empty,
              cdc = Nil, cdcExact = false)
          case _ => m
        }
      }
      catch {
        case e: ManifestFormatException => throw e // deterministic: no retry
        case e: Exception =>
          attempt += 1
          if (attempt >= 50) throw e // ~500ms grace exhausted: corrupt
          Thread.sleep(10)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Latest committed version (head of the log). */
  def latestVersion: Long = resolveHead()._1

  /** Head resolution without a full directory listing: read the `_head`
    * hint (rewritten on every checkpoint commit), then GALLOP forward —
    * manifests are dense and never deleted, so `exists(hint + d)` is
    * monotone in d: probe distances 1, 2, 4, … to bracket the first
    * missing version, then bisect. Probe count is O(log
    * commits-since-checkpoint) instead of the previous serial
    * O(commits-since-checkpoint) — on a high-latency object store each
    * probe is an RPC, and a streaming sink's hint goes
    * checkpointInterval commits stale between checkpoints (the
    * lakehouse `_last_checkpoint` pattern, with the probe halved).
    *
    * The hint is advisory only: a missing, torn, or stale `_head`
    * (crashed writer, clock-skewed copy) falls back to the full
    * listing, and a stale-but-valid hint merely probes further.
    * Returns (head, probes) — probes = -1 marks the listing fallback
    * (observable by tests asserting the O(log interval) contract). */
  private[graft] def resolveHead(): (Long, Int) = {
    readHeadHint() match {
      case Some(hint) =>
        var probes = 0
        def existsAt(d: Long): Boolean = {
          probes += 1; fs.exists(manifestPath(hint + d))
        }
        if (!existsAt(1L)) (hint, probes)
        else {
          var lo = 1L // exists
          var hi = 2L
          while (existsAt(hi)) { lo = hi; hi *= 2 } // now !exists(hi)
          while (hi - lo > 1) {
            val mid = lo + (hi - lo) / 2
            if (existsAt(mid)) lo = mid else hi = mid
          }
          (hint + lo, probes)
        }
      case None =>
        val vs = fs.listStatus(manifestDir).map(_.getPath.getName)
          .filter(n => n.startsWith("v") && n.endsWith(".json"))
          .map(_.stripPrefix("v").stripSuffix(".json").toLong)
        (if (vs.isEmpty) -1L else vs.max, -1)
    }
  }

  /** Best-effort head hint write (see [[resolveHead]]): plain overwrite
    * — a torn read is caught by the embedded crc and falls back to the
    * listing, so the write needs no atomicity of its own. */
  private[acid] def writeHead(v: Long): Unit =
    try {
      val body = v.toString
      val out = headFs.create(headPath, true)
      try out.write(s"$body ${crc32(body)}".getBytes("UTF-8"))
      finally out.close()
    } catch {
      // hint only — readers fall back to the listing; log at debug so
      // a store that persistently rejects the write is diagnosable
      case e: java.io.IOException =>
        org.slf4j.LoggerFactory.getLogger(classOf[Instance])
          .debug(s"head hint write failed at $root (falling back to " +
            s"listing-based head resolution): ${e.getMessage}")
    }

  // the hint's own crc guards it, so it bypasses a checksummed store's
  // `.crc` twin: read while a committer rewrites both, the twin made
  // Hadoop log a checksum EOFException and read the hint unverified
  private lazy val headFs: FileSystem = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  private def readHeadHint(): Option[Long] =
    try MetaJson.read(headFs, headPath).flatMap { text =>
      val parts = text.trim.split(' ')
      if (parts.length == 2 && parts(0).nonEmpty &&
          parts(0).forall(_.isDigit) && crc32(parts(0)).toString == parts(1)) {
        val v = parts(0).toLong
        // the hinted manifest must exist (guards a hint copied into an
        // empty/foreign table dir); probing forward handles staleness
        if (fs.exists(manifestPath(v))) Some(v) else None
      } else None
    } catch { case _: Exception => None }

  /** File set + schema at a version: replay from the nearest checkpoint
    * (reference recovery replay: instance.rs:239-304). Scans backward to
    * the latest checkpoint <= v, so cost is O(checkpointInterval)
    * manifest reads, not O(v). */
  def stateAt(v: Long): (Seq[String], String) = {
    val s = tableStateAt(v)
    // the COMPLETE live set (an admin/test surface); on segmented
    // snapshots that is a transient materialization — planner paths
    // never come through here, they consult the sidecar distributedly,
    // and a caller that needs only the schema reads tableStateAt(v).ddl
    (liveNames(s), s.ddl)
  }

  // last-resolved snapshot state: committed state at a fixed version
  // is immutable, so memoizing the most recent fold is always safe —
  // and collapses the repeated tableStateAt calls a single query's
  // planning makes (scan pin, dv resolve, column mapping) to one
  // fold. Holds names + sparse maps only, never the sidecar stats.
  @volatile private var stateMemo: (Long, TableState) = null

  /** Full snapshot-state fold at `v`, deletion vectors included:
    * checkpoints carry complete maps, deltas are applied in commit
    * order — files/stats add-and-remove, dv entries REPLACE the
    * file's sidecar list (empty list = clear; removal of the data
    * file drops its entry with it).
    *
    * A SEGMENTED checkpoint (`ckptRef`) materializes only the file
    * NAME list and the sparse dv map from its parquet side files (one
    * columnar scan of two columns, distributed); the heavy stat maps
    * stay on disk and the returned state carries a [[SidecarState]]
    * handle instead — skipping paths consult it through
    * [[sidecarSurvivors]]. */
  private[graft] def tableStateAt(v: Long): TableState = {
    val memo = stateMemo
    if (memo != null && memo._1 == v) return memo._2
    val st = computeStateAt(v)
    stateMemo = (v, st)
    st
  }

  /** Upper bound on `snapshot(v)`'s row count from MANIFEST metadata
    * alone — the per-file footer row counts every staged file records
    * ([[VersionedTable.RowsKey]]); deletion vectors only shrink the
    * true count, so the sum stays an upper bound. None when the state
    * is segmented (a table that outgrew the inline manifest is big by
    * construction) or any live file predates the row-count stat.
    * Driver-side metadata only — never a Spark job. Feeds stats-driven
    * planner choices (e.g. the star-delta's quiet-side restriction):
    * a false None costs a harmless extra restriction, never rows. */
  private[graft] def approxRowBound(v: Long): Option[Long] = {
    val st = tableStateAt(v)
    if (st.sidecar.isDefined) None
    else {
      var sum = 0L
      val it = st.inlineFiles.iterator
      while (it.hasNext) {
        val f = it.next()
        st.fileStats.get(f).flatMap(_.get(VersionedTable.RowsKey)) match {
          case Some(u) => sum += u.min.toLong
          case None => return None
        }
      }
      Some(sum)
    }
  }

  private def computeStateAt(v: Long): TableState = {
    var tail = List.empty[Manifest]
    var cv = v
    var ckpt: Manifest = null
    while (ckpt == null) {
      val m = readManifest(cv)
      if (m.checkpoint) ckpt = m else { tail = m :: tail; cv -= 1 }
    }
    val segmented = ckpt.ckptRef
    // segmented: the name list STAYS in the side files — the driver
    // folds only the O(tail) delta (tailLive/excluded below) and the
    // exact count rides the checkpoint manifest
    var files: Set[String] = segmented match {
      case Some(_) => Set.empty
      case None => ckpt.allFiles.toSet
    }
    var ddl = ckpt.schemaDDL
    // a segmented checkpoint's manifest carries only its own txn's
    // delta stats — already folded INTO the side files, so the inline
    // maps start empty (they hold the TAIL's entries only)
    var stats = if (segmented.isDefined) Map.empty[String, (Long, Long)]
      else ckpt.stats
    var colStats =
      if (segmented.isDefined) Map.empty[String, Map[String, (Long, Long)]]
      else ckpt.colStats
    var fileStats =
      if (segmented.isDefined) Map.empty[String, Map[String, UStat]]
      else ckpt.fileStats
    // every manifest carries the FULL column-mapping (like schemaDDL),
    // so the fold just takes the last one
    var ren = ckpt.renames
    var tomb = ckpt.tombstones
    var cons = ckpt.constraints
    // a checkpoint's full dv state lives in allDvs (segmented: in the
    // side files' dv column); its own delta is already folded in
    var dvs = segmented match {
      case Some(ref) => sidecarDvs(ref)
      case None => ckpt.allDvs
    }
    // segmented bookkeeping: which side-car rows the tail invalidated
    // (EXACTLY — the precision is what makes the live count pure
    // arithmetic), and which live files the tail added (their stats
    // are inline). A removed file not currently tail-live must be a
    // live side-car row (removal requires liveness; the checkpoint's
    // rows are exactly the files live at checkpoint time); a re-add
    // (restore) of an excluded name revives it as a TAIL file — its
    // old row stays excluded, its fresh stats are inline.
    var excluded = Set.empty[String]
    var tailLive = Set.empty[String]
    tail.foreach { m =>
      if (segmented.isEmpty) files = files -- m.removed ++ m.added
      stats = stats -- m.removed ++ m.stats
      colStats = colStats -- m.removed ++ m.colStats
      fileStats = fileStats -- m.removed ++ m.fileStats
      dvs = foldDvs(dvs, m.removed, m.dvs)
      ddl = m.schemaDDL
      ren = m.renames
      tomb = m.tombstones
      cons = m.constraints
      m.removed.foreach { f =>
        if (tailLive(f)) tailLive -= f else excluded += f
      }
      tailLive ++= m.added
    }
    segmented match {
      case Some(ref) =>
        TableState(tailLive.toSeq.sorted, ddl, stats, colStats, dvs,
          fileStats, ren, tomb,
          Some(SidecarState(ref, excluded, tailLive)),
          liveCount = ckpt.ckptFiles - excluded.size + tailLive.size,
          constraints = cons)
      case None =>
        TableState(files.toSeq.sorted, ddl, stats, colStats, dvs,
          fileStats, ren, tomb, None, constraints = cons)
    }
  }

  /** Streaming-epoch watermarks visible at version `v`: latest
    * committed epoch per query id. Same walk shape as [[tableStateAt]]
    * — checkpoints carry the full fold, deltas override their entry —
    * so the lookup is O(commits-since-checkpoint) manifest reads, and
    * a watermark written 10k commits ago survives via the folds. */
  private[graft] def appTxnsAt(v: Long): Map[String, Long] =
    appTxnsWithTsAt(v).view.mapValues(_._1).toMap

  /** [[appTxnsAt]] plus each entry's last-update wall-clock stamp
    * (0 = unknown/legacy), the retention input for checkpoint folds. */
  private[acid] def appTxnsWithTsAt(v: Long): Map[String, (Long, Long)] = {
    var tail = List.empty[Manifest]
    var cv = v
    var ckpt: Manifest = null
    while (ckpt == null) {
      val m = readManifest(cv)
      if (m.checkpoint) ckpt = m else { tail = m :: tail; cv -= 1 }
    }
    def withTs(m: Manifest): Map[String, (Long, Long)] =
      m.appTxns.map { case (id, e) => id -> (e, m.appTxnTs.getOrElse(id, 0L)) }
    tail.foldLeft(withTs(ckpt))((acc, m) => acc ++ withTs(m))
  }

  /** Latest committed streaming epoch for `appId`, or None if that
    * query never committed here. */
  def lastCommittedEpoch(appId: String): Option[Long] =
    appTxnsAt(latestVersion).get(appId)

  /** Version-pinned snapshot read (reference: open_read at the txn's
    * snapshot CSN, instance.rs:126-134). The version's state is the
    * scan's input as is: on a segmented checkpoint its files are pruned
    * over the side files, never listed on the driver. */
  def snapshot(v: Long): DataFrame = readState(tableStateAt(v), Some(v))

  /** DataFrame over an explicit read set (transaction-local views,
    * change-feed images, compaction input): the same [[GraftTable]]
    * relation a snapshot reads, over `files` with their deletion-vector
    * sidecar lists `dvs` and column mapping `renames`. It carries no
    * manifest stats, so its scans skip files by partition values only:
    * files staged by a partitioned insert carry them as `k=v` path
    * segments, which the scan appends per file layout. */
  private[acid] def viewOf(files: Seq[String], ddl: String,
      dvs: Map[String, Seq[String]] = Map.empty,
      renames: Map[String, String] = Map.empty): DataFrame = {
    val set = files.toSet
    readState(TableState(files, ddl, Map.empty, Map.empty,
      dvs.filter { case (f, _) => set(f) }, renames = renames), None)
  }

  /** `st` read through GraftScan: pinned at version `pinned`, or an
    * explicit read set. Programmatic reads use the table schema made
    * nullable, as Spark's file sources read (see [[nullable]]). */
  private[acid] def readState(st: TableState, pinned: Option[Long]): DataFrame = {
    val schema = nullable(StructType.fromDDL(st.ddl))
    if (st.inlineFiles.isEmpty && st.sidecar.isEmpty) localFrame(spark, schema, Nil)
    else tableFrame(spark, new GraftTable(this, st, pinned, schema))
  }

  /** Driver-side read of a few small files on the calling thread, with
    * [[rowIndexReader]]: per file, in file order, each unmasked row of
    * `schema` (PHYSICAL names, read nullable) that passes `keep` (which
    * sees the row before it is copied), with its row ordinal. Point
    * operations and small root-level scans ([[GraftDriverScanExec]])
    * use it to skip a Spark job's dispatch, which costs more than
    * reading a small file. None — the caller takes its job path — when
    * [[pointStatuses]] refuses the files. */
  private[acid] def pointRows(files: Seq[String], schema: StructType,
      masks: Map[String, GraftBitmap], keep: InternalRow => Boolean = _ => true)
      : Option[Seq[(String, IndexedSeq[(Long, InternalRow)])]] =
    pointStatuses(files, f => fs.getFileStatus(new Path(dataDir, f)))
      .map(sts => readPoint(files.zip(sts), schema, masks, keep))

  /** The statuses of `files` (from `status`, in order) when they may be
    * read on the driver. None when a file is partitioned, or the files
    * pass [[Instance.PointReadMaxFiles]], or their total length passes
    * [[Instance.PointReadMaxBytes]] or `spark.sql.files.openCostInBytes`,
    * Spark's own estimate of what opening one file costs. */
  private[acid] def pointStatuses(files: Seq[String],
      status: String => org.apache.hadoop.fs.FileStatus)
      : Option[Seq[org.apache.hadoop.fs.FileStatus]] = {
    if (files.size > Instance.PointReadMaxFiles ||
        files.exists(f => GraftTableSource.partPairs(f).nonEmpty)) return None
    // statuses one at a time, stopping as soon as the gate is passed: a
    // point op has few candidates, and a refused one pays little
    val gate = math.min(spark.sessionState.conf.filesOpenCostInBytes,
      Instance.PointReadMaxBytes)
    var total = 0L
    val statuses = files.iterator.map { f =>
      val st = status(f); total += st.getLen; st
    }.takeWhile(_ => total <= gate).toVector
    if (statuses.size < files.size) None else Some(statuses)
  }

  /** The read half of [[pointRows]], over files [[pointStatuses]]
    * admitted. */
  private[acid] def readPoint(
      files: Seq[(String, org.apache.hadoop.fs.FileStatus)], schema: StructType,
      masks: Map[String, GraftBitmap], keep: InternalRow => Boolean)
      : Seq[(String, IndexedSeq[(Long, InternalRow)])] = {
    val riIdx = schema.length
    val read = rowIndexReader(schema)
    val proj = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, nullable = true) })
    files.map { case (f, st) =>
      val mask = masks.getOrElse(f, GraftBitmap.empty)
      f -> Instance.readFile(read, Instance.wholeFile(st)) { it =>
        it.flatMap { r =>
          val ri = r.getLong(riIdx)
          if (mask.contains(ri) || !keep(r)) None else Some(ri -> proj(r).copy())
        }.toIndexedSeq
      }
    }
  }

  /** Spark's parquet reader of `schema` (PHYSICAL names, read nullable)
    * with the row-index column appended at position `schema.length` —
    * the reader GraftScan's factory builds for masked files. The
    * function is serializable, so a job can run it on executors.
    * Memoized per schema and session SQL settings ([[readers]]). */
  private def rowIndexReader(schema: StructType)
      : PartitionedFile => Iterator[InternalRow] = {
    val withRi = nullable(schema).add(
      ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME, LongType)
    val key = (withRi, spark.sessionState.conf.getAllConfs)
    readers.synchronized {
      var read = readers.get(key)
      if (read == null) {
        read = GraftScan.prepare(spark, withRi, new StructType(), Nil,
          columnar = false)
        readers.put(key, read)
      }
      read
    }
  }

  // prepared readers by (requested schema, session SQL settings):
  // preparing one serializes and broadcasts the whole Hadoop conf,
  // which cost a point read more than reading its file. Spark runs one
  // prepared reader over every file and task of a scan, so callers
  // share it the same way; a changed setting keys a new reader, and
  // the least recently used falls out past a handful
  private val readers = new java.util.LinkedHashMap[
      (StructType, Map[String, String]),
      PartitionedFile => Iterator[InternalRow]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (StructType, Map[String, String]),
        PartitionedFile => Iterator[InternalRow]]): Boolean = size > 8
  }

  /** Row ordinals, per file, of the unmasked rows of `files` whose
    * obj_id is in `ids`: the job-path twin of a [[pointRows]] pass,
    * for candidates above its gate. One Spark job; each task opens its
    * files with [[rowIndexReader]] and returns only the hits, so a
    * re-delete of a masked row stays a no-op. */
  private[acid] def hitOrdinalsJob(files: Seq[String], ids: Seq[Long],
      masks: Map[String, GraftBitmap]): Map[String, Seq[Long]] = {
    val read = rowIndexReader(Instance.IdSchema)
    val want = ids.toSet
    val splits = pooledMap(files)(f => (f,
      Instance.wholeFile(fs.getFileStatus(new Path(dataDir, f))),
      masks.getOrElse(f, GraftBitmap.empty)))
    spark.sparkContext.parallelize(splits,
      math.max(1, math.min(splits.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (f, pf, mask) =>
        Instance.readFile(read, pf)(_.filter(r => !r.isNullAt(0) &&
          want(r.getLong(0)) && !mask.contains(r.getLong(1)))
          .map(r => f -> r.getLong(1)).toVector)
      }.collect().toSeq.groupMap(_._1)(_._2)
  }

  /** Current committed table contents. */
  def read(): DataFrame = snapshot(latestVersion)

  /** Point/IN read on any INDEXED column: [[read]] filtered to rows
    * whose `column` is one of `values`. Its scan prunes files by the
    * manifest before any opens (obj_id via the primary stats index,
    * secondary columns via the Z-order [[compact]]'s colStats, the
    * footer stats and the per-file blooms), and a result over a few
    * small files is read on the driver with no Spark job
    * ([[GraftDriverScanExec]]). On a clustered table this is the
    * id-is-the-address access path for the SECONDARY key too —
    * O(sqrt(files)) opens, not a snapshot scan. `values` is a small
    * literal set (a point read); large key sets belong in a join
    * against [[read]]. */
  def readWhere(column: String, values: Seq[Long]): DataFrame =
    read().filter(col(column).isin(values: _*))

  /** Roll the table back to the contents of version `v` as a NEW
    * commit (never rewriting history): the manifest delta re-adds the
    * files of `v` that the current head dropped and removes the files
    * added since — pure metadata, zero data IO, because copy-on-write
    * kept `v`'s files on disk (the recovery half of the reference's
    * undo machinery, block_driver.rs:591-601, where pre-images restore
    * an aborted object; here whole snapshots are the pre-images).
    * Time travel across the restore still sees the undone versions.
    *
    * The commit declares every object touched in `(v, head]` so it
    * conflicts with any concurrent writer of those objects, and the
    * restored files must not have been vacuumed (guarded by the same
    * retention discipline as any time-travel read).
    *
    * Returns the new head version (== head when already at `v`'s
    * state, no empty commit). */
  def restore(v: Long): Long = {
    val txn = begin()
    require(v >= 0 && v <= txn.readVersion,
      s"cannot restore to v$v from v${txn.readVersion}")
    val oldState = tableStateAt(v)
    val curState = tableStateAt(txn.readVersion)
    val (oldDdl, oldStats, oldColStats) =
      (oldState.ddl, oldState.stats, oldState.colStats)
    val curDdl = curState.ddl
    // the restore delta (files to re-add / drop). With a segmented
    // snapshot on either side the set difference runs DISTRIBUTED over
    // the side files (two scans + except), so the driver materializes
    // only the CHURN between the versions — which the restore manifest
    // records inline anyway — never a full 10^7-name list
    val (reAdd, drop): (Set[String], Set[String]) =
      if (oldState.sidecar.isEmpty && curState.sidecar.isEmpty) {
        val o = oldState.inlineFiles.toSet
        val c = curState.inlineFiles.toSet
        (o -- c, c -- o)
      } else {
        val s = spark
        import s.implicits._
        val oldDf = liveNamesDf(oldState)
        val curDf = liveNamesDf(curState)
        (oldDf.except(curDf).as[String].collect().toSet,
          curDf.except(oldDf).as[String].collect().toSet)
      }
    // deletion vectors must restore too: un-deleting a MoR-masked row
    // (or re-masking one an interleaved compaction materialized away)
    // is exactly a dv-state difference with an identical file set
    val dvBase = curState.dvs -- drop
    val dvFix = (dvBase.keySet ++ oldState.dvs.keySet).filter(f =>
      dvBase.get(f) != oldState.dvs.get(f))
    // METADATA-only differences restore too: a rename, schema change,
    // or constraint add/drop after v leaves the file set identical but
    // must still revert (the early no-op here used to swallow them)
    val metaFix = oldState.ddl != curState.ddl ||
      oldState.renames != curState.renames ||
      oldState.constraints != curState.constraints
    if (reAdd.isEmpty && drop.isEmpty && dvFix.isEmpty && !metaFix) {
      rollback(txn); return txn.readVersion
    }
    dvFix.foreach(f => txn.dvDelta(f) = oldState.dvs.getOrElse(f, Nil))
    // a vacuumed target must fail loudly before publishing a manifest
    // that references ghost files — dv sidecars included (a missing
    // sidecar would resurrect its masked rows)
    val goneDvs = dvFix.flatMap(f => oldState.dvs.getOrElse(f, Nil))
      .filterNot(n => fs.exists(new Path(dataDir, n)))
    if (goneDvs.nonEmpty) {
      rollback(txn)
      throw new IllegalStateException(
        s"cannot restore to v$v: ${goneDvs.size} deletion-vector " +
        s"sidecar(s) were vacuumed (first: ${goneDvs.head})")
    }
    val gone = reAdd.filterNot(f => fs.exists(new Path(dataDir, f)))
    if (gone.nonEmpty) {
      rollback(txn)
      throw new IllegalStateException(
        s"cannot restore to v$v: ${gone.size} of its files were vacuumed " +
        s"(first: ${gone.head}); raise vacuum retention to keep restore targets")
    }
    txn.added ++= reAdd.toSeq.sorted
    txn.adopted ++= reAdd // committed files re-referenced, not staged
    txn.removed ++= drop.toSeq.sorted
    reAdd.foreach(f => oldStats.get(f).foreach(r => txn.addedStats(f) = r))
    reAdd.foreach(f => oldColStats.get(f).foreach(r => txn.addedColStats(f) = r))
    reAdd.foreach(f =>
      oldState.fileStats.get(f).foreach(r => txn.addedFileStats(f) = r))
    // segmented old snapshot: the re-added files' stats live in the
    // checkpoint side files, not the inline maps — bulk-fetch exactly
    // the re-added set so the restore commit republishes their pruning
    // indexes (without this they'd degrade to never-pruned)
    oldState.sidecar.foreach { sc =>
      val covered = reAdd -- sc.tailLive -- sc.excluded
      if (covered.nonEmpty)
        sidecarRowsFor(sc.ref, covered).foreach { r =>
          CheckpointStore.statsOf(r).foreach(txn.addedStats(r.file) = _)
          val cs = CheckpointStore.colStatsOf(r)
          if (cs.nonEmpty) txn.addedColStats(r.file) = cs
          val us = CheckpointStore.ustatsOf(r)
          if (us.nonEmpty) txn.addedFileStats(r.file) = us
        }
    }
    val undone = ((v + 1) to txn.readVersion).map(readManifest)
    txn.objects ++= undone.flatMap(_.objects)
    txn.spillObjectsIfNeeded()
    // undoing summary commits: their id coverage must SURVIVE into the
    // restore's own manifest (a txn pinned before the restore commit
    // checks conflicts against that manifest, and the change feed
    // classifies the restore by it) — so the summaries are merged into
    // the restore txn. A summary written under a different bloom
    // geometry cannot be unioned and its ids cannot be re-enumerated;
    // it degrades to a SATURATED bloom over its range (conservative:
    // may over-report conflicts, never under-reports).
    undone.flatMap(_.objSummary).foreach { s =>
      // geometry = (mBits, k): a matching bit count under a different
      // probe count is just as un-unionable as a different size
      val compat =
        if (s.bloom.mBits == conf.bloomBits && s.bloom.k == IdBloom.DefaultK) s
        else ObjSummary(s.count, s.min, s.max,
          IdBloom.saturated(conf.bloomBits))
      txn.mergeSummary(compat)
    }
    txn.schemaDDL = Some(oldDdl)
    txn.renames = Some(oldState.renames)
    // restore reverts the whole metadata plane: constraints added (or
    // dropped) after v revert with the data they were validated
    // against — the restored rows all passed the restored map
    txn.consOverride = Some(oldState.constraints)
    // restoring across a schema evolution (rename included) republishes
    // the old schema and column mapping — a table-wide change that must
    // conflict with any interleaved commit
    txn.schemaEvolved =
      oldDdl != curDdl || oldState.renames != curState.renames ||
      oldState.constraints != curState.constraints
    commit(txn)
  }

  /** Streaming tail of this table's commit log — appended rows per
    * data commit, tagged `_version` (see [[ChangeFeedProvider]] for
    * the full semantics: layout commits silent, update/delete commits
    * fail unless `ignoreChanges`, offsets are versions, replay is
    * exact). Pair with `.trigger(Trigger.AvailableNow)` for catch-up
    * reads or leave continuous for live tailing. */
  def readChangesStream(startingVersion: Long = 1L,
      ignoreChanges: Boolean = false,
      maxVersionsPerTrigger: Option[Long] = None,
      readChangeFeed: Boolean = false): DataFrame = {
    val r = spark.readStream.format("graft-cdf")
      .option("path", root)
      .option("startingVersion", startingVersion)
      .option("ignoreChanges", ignoreChanges)
      .option("readChangeFeed", readChangeFeed)
    maxVersionsPerTrigger.foreach(n => r.option("maxVersionsPerTrigger", n))
    r.load()
  }

  /** Bounded BATCH read of the append feed — the rows each data commit
    * in `[fromV, toV]` appended, tagged `_version` (same planning as
    * [[readChangesStream]], no checkpoint needed): the one-shot
    * commit-log catch-up for backfills. `toV = 0` means the current
    * head, pinned at planning. */
  def readAppends(fromV: Long = 1L, toV: Long = 0L,
      ignoreChanges: Boolean = false): DataFrame = {
    val r = spark.read.format("graft-cdf")
      .option("path", root)
      .option("startingVersion", fromV)
      .option("ignoreChanges", ignoreChanges)
    (if (toV > 0L) r.option("endingVersion", toV) else r).load()
  }

  /** The commit log as a queryable table — one row per version with
    * its transaction id, file/object deltas, and checkpoint flag (the
    * reference's log inspection surface; SURVEY §2.1 R21–R24). Driver
    * metadata only: O(versions) manifest reads, and vacuum never
    * deletes manifests, so the full history stays readable.
    *
    * Manifests are immutable once published, so the reads are issued
    * CONCURRENTLY on a bounded driver pool ([[pooledMap]]) — on an
    * object store each read is a ~10ms RPC and the serial walk was the
    * latency bottleneck (100 commits = 1s, 10⁴ = 100s); 16-way overlap
    * makes history an admin-interactive surface again, with
    * deterministic version-ascending output. */
  def history(): DataFrame = history(0L, latestVersion)

  /** [[history]] over the version interval [fromV, toV] only — the
    * admin tail-read (`history(head - 20, head)`) reads exactly
    * toV − fromV + 1 manifests plus the O(log interval) head probe,
    * never the whole log (a 10⁵-commit table's full history is a
    * deliberate, not accidental, cost). */
  def history(fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 0 && fromV <= toV,
      s"invalid history interval [$fromV, $toV]")
    val s = spark
    import s.implicits._
    val rows = pooledMap((fromV to toV).toSeq) { v =>
      val m = readManifest(v)
      (m.version, m.tsn, m.added.size.toLong, m.removed.size.toLong,
        m.objSummary.map(_.count).getOrElse(m.objects.size.toLong),
        m.checkpoint, m.tsMillis)
    }
    rows.toDF("version", "tsn", "n_added_files", "n_removed_files",
        "n_objects", "checkpoint", "ts_millis")
      .withColumn("timestamp",
        org.apache.spark.sql.functions.timestamp_millis(col("ts_millis")))
  }

  /** One-row table summary (the `DESCRIBE DETAIL` analog): current
    * version, live file count and bytes, outstanding deletion-vector
    * count, and schema. Metadata only — segmented tables sum the
    * checkpoint-recorded sizes in ONE distributed aggregation (file
    * names never reach the driver); inline/tail files stat on the
    * bounded pool. No data is read. */
  def detail(): DataFrame = {
    val v = latestVersion
    val st = tableStateAt(v)
    val s = spark
    import s.implicits._
    // legacy side-car rows without a recorded size (size=0) surface
    // their NAMES only — a bounded driver fetch for pre-size formats
    val (coveredBytes, unsized) = st.sidecar match {
      case Some(sc) =>
        val exclB = spark.sparkContext.broadcast(sc.excluded)
        try {
          val rows = readSidecarRows(sc.ref).filter(r => !exclB.value(r.file))
          (rows.map(_.size).rdd.fold(0L)(_ + _),
            rows.filter(_.size <= 0L).map(_.file).collect().toSeq)
        } finally exclB.destroy()
      case None => (0L, Nil)
    }
    val bytes = coveredBytes + pooledMap(st.inlineFiles ++ unsized)(f =>
      fs.getFileStatus(new Path(dataDir, f)).getLen).sum
    Seq((v, st.numFiles, bytes,
      st.dvs.size.toLong, st.dvs.valuesIterator.flatten.size.toLong,
      st.ddl))
      .toDF("version", "num_files", "size_bytes",
        "num_masked_files", "num_dv_sidecars", "schema_ddl")
  }

  /** One row per LIVE data file of the current snapshot (the
    * `$files` metadata table): relative path, size, the manifest's
    * obj-id range when recorded, outstanding deletion-vector sidecar
    * count, and the hive partition segment of the path (empty for
    * unpartitioned files). Metadata only, and on segmented snapshots
    * fully DISTRIBUTED: the side files stream straight into the
    * returned DataFrame (names never materialize on the driver; a
    * legacy row without a recorded size stats itself on the executor);
    * only the O(tail) inline files build driver-side, statuses on the
    * bounded pool. The admin surface for "which files would a
    * compaction fold / which carry masks / how skewed are the
    * sizes". */
  def files(): DataFrame = {
    val st = tableStateAt(latestVersion)
    // path segments spell PHYSICAL column names; every other user
    // surface (schema, $detail, filters) speaks logical names, so
    // translate through the inverse column mapping before formatting
    val logical = st.renames.map(_.swap)
    val s = spark
    import s.implicits._
    def partsOf(f: String): String =
      f.split('/').drop(1).dropRight(1)
        .filter(_.contains('=')).map { seg =>
          val i = seg.indexOf('=')
          val k = seg.substring(0, i)
          s"${logical.getOrElse(k, k)}${seg.substring(i)}"
        }.mkString("/")
    val tailSizes = pooledMap(st.inlineFiles)(f =>
      f -> fs.getFileStatus(new Path(dataDir, f)).getLen).toMap
    val inlineRows = st.inlineFiles.map { f =>
      val range = st.stats.get(f)
      (f, tailSizes(f), range.map(_._1), range.map(_._2),
        st.dvs.getOrElse(f, Nil).size.toLong, partsOf(f))
    }
    val inlineDf = inlineRows.toDF("file", "size_bytes", "id_min",
      "id_max", "num_dv_sidecars", "partition_values")
    st.sidecar match {
      case Some(sc) =>
        // the folded dv map is authoritative (tail commits override
        // side-car dvLists); it is sparse, so it broadcasts
        val dvCounts = st.dvs.view.mapValues(_.size.toLong).toMap
        val dvB = spark.sparkContext.broadcast(dvCounts)
        val exclAndTail = sc.excluded ++ sc.tailLive
        val exclB = spark.sparkContext.broadcast(exclAndTail)
        val renB = spark.sparkContext.broadcast(logical)
        val dataDirStr = dataDir.toString
        val hconf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        val covered = readSidecarRows(sc.ref)
          .filter(r => !exclB.value(r.file))
          .mapPartitions { it =>
            lazy val xfs = new Path(dataDirStr)
              .getFileSystem(hconf.value)
            it.map { r =>
              val size =
                if (r.size > 0L) r.size
                else xfs.getFileStatus(
                  new Path(dataDirStr, r.file)).getLen
              val parts = r.file.split('/').drop(1).dropRight(1)
                .filter(_.contains('=')).map { seg =>
                  val i = seg.indexOf('=')
                  val k = seg.substring(0, i)
                  s"${renB.value.getOrElse(k, k)}${seg.substring(i)}"
                }.mkString("/")
              (r.file, size, r.idMin, r.idMax,
                dvB.value.getOrElse(r.file, 0L), parts)
            }
          }
          .toDF("file", "size_bytes", "id_min", "id_max",
            "num_dv_sidecars", "partition_values")
        covered.union(inlineDf)
      case None => inlineDf
    }
  }

  /** One row per hive-partition tuple (the `$partitions` metadata
    * table / SHOW PARTITIONS analog): logical `k=v` spelling, file
    * count, exact row count where the metadata can vouch for it
    * (every file carries the [[VersionedTable.RowsKey]] count and no
    * deletion vector masks the group — else null), and the group's
    * outstanding dv'd-file count. Unpartitioned files group under the
    * empty spelling. O(groups) to the driver: segmented snapshots
    * fold the side files in ONE distributed aggregation; only the
    * tail folds here. */
  def partitions(): DataFrame = {
    val st = tableStateAt(latestVersion)
    val logical = st.renames.map(_.swap)
    def partString(f: String): String =
      f.split('/').drop(1).dropRight(1).filter(_.contains('='))
        .map { seg =>
          val i = seg.indexOf('=')
          val k = seg.substring(0, i)
          s"${logical.getOrElse(k, k)}${seg.substring(i)}"
        }.mkString("/")
    val dvFiles = st.dvs.keySet
    // (partition, files, rows, rowsUnknown, dvFiles) partials
    final case class P(files: Long, rows: Long, unknown: Long, dvs: Long)
    def merge(a: P, b: P) = P(a.files + b.files, a.rows + b.rows,
      a.unknown + b.unknown, a.dvs + b.dvs)
    // segmented states carry EXACTLY the tail-live names inline
    val inlineFiles = st.inlineFiles
    var acc = Map.empty[String, P]
    inlineFiles.foreach { f =>
      val rows = st.fileStats.get(f).flatMap(_.get(RowsKey))
        .map(_.min.toLong)
      val p = P(1L, rows.getOrElse(0L), if (rows.isEmpty) 1L else 0L,
        if (dvFiles(f)) 1L else 0L)
      val k = partString(f)
      acc = acc.updated(k, acc.get(k).map(merge(_, p)).getOrElse(p))
    }
    st.sidecar.foreach { sc =>
      val s = spark
      import s.implicits._
      val excluded = sc.excluded
      val ren = logical
      val dvB = dvFiles
      val partials = readSidecarRows(sc.ref)
        .filter(r => !excluded(r.file))
        .map { r =>
          val ps = r.file.split('/').drop(1).dropRight(1)
            .filter(_.contains('=')).map { seg =>
              val i = seg.indexOf('=')
              val k = seg.substring(0, i)
              s"${ren.getOrElse(k, k)}${seg.substring(i)}"
            }.mkString("/")
          val ri = r.uCols.indexOf(RowsKey)
          val rows = if (ri >= 0) r.uMins(ri).toLong else -1L
          (ps, 1L, math.max(0L, rows), if (rows < 0L) 1L else 0L,
            if (r.dvList.nonEmpty || dvB.contains(r.file)) 1L else 0L)
        }
        .toDF("p", "f", "r", "u", "d")
        .groupBy("p")
        .agg(sum("f").as("f"), sum("r").as("r"), sum("u").as("u"),
          sum("d").as("d"))
        .collect()
      partials.foreach { row =>
        val k = row.getString(0)
        val p = P(row.getLong(1), row.getLong(2), row.getLong(3),
          row.getLong(4))
        acc = acc.updated(k, acc.get(k).map(merge(_, p)).getOrElse(p))
      }
    }
    val s = spark
    import s.implicits._
    acc.toSeq.sortBy(_._1).map { case (k, p) =>
      (k, p.files,
        if (p.unknown == 0L && p.dvs == 0L) Some(p.rows) else None,
        p.dvs)
    }.toDF("partition_values", "num_files", "num_rows", "num_dv_files")
  }

  /** Latest version whose commit wall-clock stamp is <= `tsMillis` —
    * the resolution behind `timestampAsOf` time travel. Walks the log
    * BACKWARD from `latestVersion` in pooled chunks, so a recent
    * target reads O(commits-since-target) manifests, not the whole
    * log. Commit stamps come from writer clocks: with skewed
    * concurrent writers the result is the latest such commit in
    * COMMIT order (the same contract Delta documents). Legacy
    * manifests without a stamp read as 0 ("infinitely old"), so
    * timestamp travel over a pre-stamp prefix resolves to its newest
    * version rather than failing. */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val head = latestVersion
    var hi = head
    while (hi >= 0) {
      val lo = math.max(0L, hi - 63)
      val chunk = pooledMap((lo to hi).toSeq)(v =>
        v -> readManifest(v).tsMillis)
      chunk.sortBy(-_._1).collectFirst {
        case (v, ts) if ts <= tsMillis => v
      } match {
        case Some(v) => return v
        case None => hi = lo - 1
      }
    }
    throw new IllegalArgumentException(
      s"timestampAsOf $tsMillis is before the table's earliest commit " +
      s"(${readManifest(0L).tsMillis}) at $root")
  }

  /** Rows of `df` whose obj_id is in `ids`: an `isin` literal predicate
    * for small sets, a broadcast semi-join past
    * [[Instance.IdBroadcastThreshold]] (a literal list of millions of
    * ids would be expanded into the compiled plan). */
  private[acid] def idMatch(df: DataFrame, ids: Seq[Long]): DataFrame =
    if (ids.size <= Instance.IdBroadcastThreshold)
      df.filter(col("obj_id").isin(ids: _*))
    else df.join(broadcast(idsDf(ids)), Seq("obj_id"), "left_semi")

  /** Complement of [[idMatch]] (anti-join past the threshold). */
  private[acid] def idReject(df: DataFrame, ids: Seq[Long]): DataFrame =
    if (ids.size <= Instance.IdBroadcastThreshold)
      df.filter(!col("obj_id").isin(ids: _*))
    else df.join(broadcast(idsDf(ids)), Seq("obj_id"), "left_anti")

  private def idsDf(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("obj_id")
  }

  /** The row diff of `pre` against `post`, keyed by obj_id: ids only
    * in `post` are inserts, only in `pre` deletes, and rows on both
    * sides that differ are an update pre/post image pair; identical
    * rows are CoW copies and emit nothing. One column layout serves both
    * sides (a column one side lacks reads as typed nulls, as schema
    * evolution within a commit does). `tag` adds the change columns to
    * each event set, given its change name. */
  private[acid] def rowDiff(pre: DataFrame, post: DataFrame)(
      tag: (DataFrame, String) => DataFrame): DataFrame = {
    val allCols: Seq[(String, DataType)] =
      (post.schema ++ pre.schema.filterNot(f => post.columns.contains(f.name)))
        .filterNot(_.name == "obj_id").map(f => f.name -> f.dataType).toSeq
    // maps are not orderable, so <=> rejects structs containing them:
    // the COMPARISON struct carries map columns as key-sorted entry
    // arrays while the output struct keeps the original types. (Maps
    // nested inside other types remain unsupported — same limitation as
    // every sort-based operator.)
    def comparable(c: Column, dt: DataType): Column = dt match {
      case _: MapType => array_sort(map_entries(c))
      case _ => c
    }
    def keyed(df: DataFrame, as: String): DataFrame = {
      def field(n: String, dt: DataType) =
        if (df.columns.contains(n)) col(n) else lit(null).cast(dt)
      df.select(col("obj_id"),
        struct(allCols.map { case (n, dt) => field(n, dt).as(n) }: _*).as(as),
        struct(allCols.map { case (n, dt) =>
          comparable(field(n, dt), dt).as(n) }: _*).as(as + "C"))
    }
    val joined = keyed(pre, "_pre")
      .join(keyed(post, "_post"), Seq("obj_id"), "full_outer")
    def unpack(side: String, rows: DataFrame, change: String): DataFrame =
      tag(rows.select(col("obj_id") +: allCols.map { case (n, _) =>
        col(s"$side.$n").as(n) }: _*), change)
    val updated = joined.filter(col("_pre").isNotNull &&
      col("_post").isNotNull && !(col("_preC") <=> col("_postC")))
    Seq(
      unpack("_post", joined.filter(col("_pre").isNull), "insert"),
      unpack("_pre", joined.filter(col("_post").isNull), "delete"),
      unpack("_pre", updated, "update_preimage"),
      unpack("_post", updated, "update_postimage"))
      .reduce(_.unionByName(_))
  }

  /** Row-level change data feed for the commit interval `(fromV, toV]`
    * — the lakehouse analog of tailing the reference's WAL/commit log
    * (log records are read back by LSN for replay and downstream
    * consumption, log_mgr/io.rs:354-373; here the manifest log IS the
    * change log). Output: the table's columns plus `_version` and
    * `_change` ∈ {insert, delete, update_preimage, update_postimage}.
    *
    * Per commit, changed rows are recovered from ONLY that commit's
    * added/removed files filtered to its declared object set — CoW
    * rewrites copy untouched neighbor rows into new files, and the
    * manifest's object list is exactly the filter that separates the
    * two. An object on both sides of a commit is an update (pre +
    * post image); only-after = insert; only-before = delete. Layout
    * commits (compaction/checkpoint with no objects) emit nothing:
    * they change bytes, not content.
    *
    * Scale: IO is O(files touched per commit) — never a snapshot scan;
    * classification is a per-commit obj_id equi join (AQE broadcasts
    * the small side). Schema evolution across the interval is unioned
    * by name with nulls for columns a version didn't have.
    *
    * Plan width is BOUNDED: each commit contributes 4 plan branches, so
    * a naive union over 10k commits is a ~40k-branch plan that stalls
    * the analyzer long before any data is read. Intervals wider than
    * [[ChangesBatchVersions]] versions are folded incrementally — every
    * batch's union is materialized via `localCheckpoint` (eagerly, at
    * call time) into a single leaf, mirroring how the reference's WAL
    * reader consumes the log in bounded buffers rather than one
    * unbounded scan (log_mgr/io.rs:221-441). Narrow intervals (the
    * common CDC tail-read) stay fully lazy. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    require(fromV >= 0 && fromV <= toV && toV <= latestVersion,
      s"invalid change interval ($fromV, $toV]")
    val perVersion = intervalSteps(fromV, toV).flatMap { step =>
      val m = step.m
      val v = step.v
      if (m.objects.nonEmpty) {
        val pre = idMatch(step.preView, m.objects)
        val post = idMatch(step.postView, m.objects)
        val preIds = pre.select("obj_id").distinct()
        val postIds = post.select("obj_id").distinct()
        def tag(df: DataFrame, other: DataFrame, join: String,
            change: String): DataFrame =
          df.join(other, Seq("obj_id"), join)
            .withColumn("_version", lit(v))
            .withColumn("_change", lit(change))
        Some(Seq(
          tag(post, preIds, "left_anti", "insert"),
          tag(pre, postIds, "left_anti", "delete"),
          tag(pre, postIds, "left_semi", "update_preimage"),
          tag(post, preIds, "left_semi", "update_postimage"))
          .reduce(_.unionByName(_, allowMissingColumns = true)))
      } else if (m.objSummary.isDefined) {
        // summary commit: the id list was too large for the manifest,
        // so changed rows are recovered by DIFFING pre vs post content
        // (a bloom filter would misclassify copied neighbors on its
        // false positives — the diff is exact). CoW copies untouched
        // rows byte-identically: one-side-only ids are inserts/deletes,
        // both-sides rows that differ are updates, identical rows are
        // copies and emit nothing. Consequence: a no-op update (same
        // values rewritten) is indistinguishable from a copy and is not
        // emitted; the feed assumes the layer's id contract (obj_id
        // unique per snapshot — guaranteed by the upsert/point-op API).
        Some(rowDiff(step.preView, step.postView)((df, change) =>
          df.withColumn("_version", lit(v)).withColumn("_change", lit(change))))
      } else None
    }
    unionBatched(perVersion, "graft:changes")(
      viewOf(Nil, tableStateAt(toV).ddl)
        .withColumn("_version", lit(null).cast("long"))
        .withColumn("_change", lit(null).cast("string"))
        .limit(0))
  }

  /** One commit of a `(fromV, toV]` roll-forward: the files whose rows
    * it retired, read under the state just before it (`preView`), and
    * the files whose rows it made visible, read under its own state
    * (`postView`). A MoR delete's targets sit on both sides, under the
    * pre- and post-commit masks. */
  private final class IntervalStep(val v: Long, val m: Manifest,
      preFiles: Seq[String], preDdl: String,
      val preRen: Map[String, String], preDvs: Map[String, Seq[String]],
      postFiles: Seq[String], postDvs: Map[String, Seq[String]]) {
    def isEmpty: Boolean = preFiles.isEmpty && postFiles.isEmpty
    def preView: DataFrame = viewOf(preFiles, preDdl, preDvs, preRen)
    def postView: DataFrame = viewOf(postFiles, m.schemaDDL, postDvs, m.renames)
  }

  /** The commits of `(fromV, toV]`, with the schema, the column mapping
    * and the dv map ROLLED FORWARD beside them: one
    * O(checkpointInterval) replay seeds them at fromV, then each
    * manifest (read once for its deltas) advances them — O(interval +
    * range) manifest reads, where a per-version `tableStateAt(v-1)`
    * would cost O(interval) each. Each version's rows read under ITS
    * logical names, and a commit's pre-images subtract the masks
    * ALREADY live before it (otherwise a rewrite of a masked file
    * re-reports its dead rows). */
  private def intervalSteps(fromV: Long, toV: Long): Seq[IntervalStep] = {
    val st0 = tableStateAt(fromV)
    var ddl = st0.ddl
    var ren = st0.renames
    var dvs = st0.dvs
    ((fromV + 1) to toV).map { v =>
      val m = readManifest(v)
      val (preDdl, preRen, preDvs) = (ddl, ren, dvs)
      ddl = m.schemaDDL
      ren = m.renames
      dvs = foldDvs(dvs, m.removed, m.dvs)
      // a file the commit both staged and masked is post-only: it is
      // read once, under its mask, with the commit's other added files
      val dvTargets = m.dvs.keys.toSeq.filterNot((m.removed ++ m.added).toSet).sorted
      new IntervalStep(v, m, m.removed ++ dvTargets, preDdl, preRen, preDvs,
        m.added ++ dvTargets, dvs)
    }
  }

  /** The per-version parts of an interval read as one frame. Plan width
    * is BOUNDED: past [[Instance.ChangesBatchVersions]] versions every
    * batch's union is materialized via `localCheckpoint` (eagerly, under
    * `label`) into a single leaf; narrower intervals stay fully lazy.
    * `empty` answers an interval with no part. */
  private def unionBatched(parts: Seq[DataFrame], label: String)(
      empty: => DataFrame): DataFrame =
    if (parts.isEmpty) empty
    else {
      val batches = parts.grouped(Instance.ChangesBatchVersions)
        .map(_.reduce(_.unionByName(_, allowMissingColumns = true))).toSeq
      if (batches.size == 1) batches.head
      else JobLabel(spark, label)(batches.map(_.localCheckpoint()))
        .reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** Signed row delta of the interval `(fromV, toV]`: every row
    * visible AFTER a data commit weighted `_w` = +1, every row visible
    * BEFORE it −1, restricted to the commit's touched files — the
    * algebra self-maintainable aggregates need ([[MaterializedAggView]]):
    * a CoW copy-back contributes +1 and −1 to its group and cancels in
    * any Σ(expr·_w), so unlike [[changes]] there is NO per-row
    * identity join, distinct, or diff — just file-restricted scans,
    * ±1 weights and a union. Cost is O(touched files), a fraction of
    * the change feed's full-outer diff on rewrite-heavy commits.
    *
    * The same dv/schema/mapping roll-forward as [[changes]] applies:
    * pre-images subtract the masks already live at v−1, dv commits
    * surface as pre-vs-post mask differences on their target files,
    * and each version's rows read under ITS logical names (aligned by
    * name across the interval, missing columns null). Not a CDC
    * surface — there is no row identity here, only net multiplicity
    * per value tuple.
    *
    * `alignToHead` re-expresses every version's rows under `toV`'s
    * LOGICAL names, matched by fixed physical identity: a column
    * renamed mid-interval contributes its pre-rename rows under the
    * post-rename name instead of as nulls under a stale column
    * ([[MaterializedAggView]] depends on this — a name-aligned union
    * would silently fold renamed-away values into the NULL group).
    * Columns not visible at `toV` (dropped mid-interval) are omitted;
    * columns added mid-interval read as nulls for older versions. */
  def weightedDelta(fromV: Long, toV: Long,
      alignToHead: Boolean = false): DataFrame = {
    require(fromV >= 0 && fromV <= toV && toV <= latestVersion,
      s"invalid delta interval ($fromV, $toV]")
    val steps = intervalSteps(fromV, toV)
    // physical name -> toV logical name, the rename-proof join axis
    val physToHead: Map[String, String] =
      if (!alignToHead) Map.empty
      else {
        val stH = tableStateAt(toV)
        org.apache.spark.sql.types.StructType.fromDDL(stH.ddl).fields
          .map(f => stH.renames.getOrElse(f.name, f.name) -> f.name).toMap
      }
    def aligned(df: DataFrame, ren: Map[String, String]): DataFrame =
      if (!alignToHead) df
      else df.select(df.columns.toSeq.flatMap { c =>
        if (c == "_w") Some(col("_w"))
        else physToHead.get(ren.getOrElse(c, c)).map(h => col(c).as(h))
      }: _*)
    val perVersion = steps.filterNot(_.isEmpty).map { step =>
      val pre = aligned(step.preView.withColumn("_w", lit(-1L)), step.preRen)
      val post = aligned(step.postView.withColumn("_w", lit(1L)),
        step.m.renames)
      post.unionByName(pre, allowMissingColumns = true)
    }
    unionBatched(perVersion, "graft:weighted-delta")(
      viewOf(Nil, tableStateAt(toV).ddl).withColumn("_w", lit(1L)).limit(0))
  }

  /** Atomically publish a manifest: the version is claimed ONLY with its
    * complete content in place, so a writer crash can never leave a torn
    * manifest at a claimed version (which would otherwise poison every
    * subsequent read/commit with no recovery path).
    *
    * The atomic step itself is the PLUGGABLE [[EngineConf.claimer]]
    * (link/rename default, conditional-PUT for object stores — see
    * [[ManifestClaimer]]), through [[VersionedTable.claimFile]]: a
    * temp it writes in _manifests is invisible to [[latestVersion]]'s
    * `v*` filter. */
  private[acid] def publish(m: Manifest): Boolean =
    claimFile(fs, conf.claimer, manifestPath(m.version),
      toJson(m).getBytes("UTF-8"))(AnyIoError)

  /** Begin a transaction: allocate a TSN, pin the snapshot
    * (reference: begin_transaction, instance.rs:88-99 + tran_mgr.rs:66-73). */
  def begin(): Txn = new Txn(this, tsnSeq.incrementAndGet(), latestVersion)

  /** Refresh a transaction's snapshot to the latest commit
    * (reference: update_read_csn, instance.rs:384-386). */
  def refresh(txn: Txn): Unit = txn.readVersion = latestVersion

  /** Top-level logical column names a constraint expression references
    * (nested paths count their root) — the input to the rename/drop
    * guards and the violation message's row context. */
  private[acid] def constraintRefs(check: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(check).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet

  /** Wrap a staged DataFrame so the WRITE JOB ITSELF validates every
    * row against the CHECK constraints — a lazily-throwing conjunct
    * per constraint (`coalesce(check, true) OR raise_error(...)`):
    * rows that pass short-circuit before the error branch, a FALSE row
    * throws with the constraint name and the referenced columns'
    * values as JSON. Zero extra IO — the predicate rides the write's
    * own scan under whole-stage codegen; at 100 TB this is the only
    * enforcement shape that doesn't double-read the staged data. The
    * message expression always references at least one column
    * (addConstraint guarantees refs.nonEmpty), so no branch is
    * foldable and the optimizer can neither pre-evaluate nor drop
    * it. */
  private[acid] def enforceConstraints(df: DataFrame,
      cons: Map[String, String]): DataFrame =
    if (cons.isEmpty) df
    else {
      val colsLower = df.columns.map(c => c.toLowerCase -> c).toMap
      val pred = cons.toSeq.sortBy(_._1).map { case (n, check) =>
        val refs = constraintRefs(check)
          .flatMap(r => colsLower.get(r.toLowerCase)).toSeq.sorted
        val ctx =
          if (refs.isEmpty) lit("(row context unavailable)")
          else to_json(struct(refs.map(col): _*))
        coalesce(expr(check), lit(true)) ||
          raise_error(concat(
            lit(s"CHECK constraint $n ($check) violated by row "), ctx))
            .cast("boolean")
      }.reduce(_ && _)
      df.filter(pred)
    }

  private[acid] def writeStaged(df0: DataFrame, txn: Txn,
      partitionBy0: Seq[String] = Nil,
      // observe the staged obj_ids ON the write job itself (insert
      // paths): the id list the txn must record rides the write as an
      // observed metric instead of costing a separate read-back pass
      // over the just-written files — see [[CappedIdSet]]
      observeIds: Boolean = false,
      // INSERT paths keep one empty part when the whole batch is empty
      // (an empty INSERT must still publish a commit — version
      // numbering and refresh watermarks depend on it); rewrite paths
      // (merge, delete survivors, compaction, dv materialization)
      // stage NOTHING when empty, so each all-empty rewrite stops
      // accreting an empty part file the table carries to every later
      // scan until compaction
      keepEmptyPart: Boolean = false,
      // the caller's rows are already on the driver (a point rewrite
      // read below the Instance.pointRows gate): a local relation of
      // any size takes the driver-side write
      driverRows: Boolean = false): Seq[String] = {
    VersionedTable.requireInFileObjId(partitionBy0)
    txn.pendingObservedIds = None // never serve a stale batch's ids
    // CHECK constraints ride the write job itself: every staged row —
    // inserts, CoW rewrite survivors with their updated values, merge
    // outputs — passes the throwing validator before any file lands
    val dfC = enforceConstraints(df0, txn.localCons)
    // column mapping: callers hand LOGICAL column names; files always
    // spell the PHYSICAL names (fixed at each column's first
    // appearance), so renamed tables stage uniformly-named files
    val ren = txn.localRen
    val (df, partitionBy) =
      if (ren.isEmpty) (dfC, partitionBy0)
      else (dfC.select(dfC.columns.toSeq.map(c =>
          col(c).as(ren.getOrElse(c, c))): _*),
        partitionBy0.map(c => ren.getOrElse(c, c)))
    // UUID suffix: staging dirs can never collide even if two processes
    // draw the same tsn
    val sub = f"t${txn.tsn}%x-${txn.stagedBatch.incrementAndGet()}-" +
      java.util.UUID.randomUUID().toString.take(8)
    val out = new Path(dataDir, sub).toString
    // METADATA-LATENCY fast path: a tiny LOCAL relation (literal rows,
    // folded constant projections — the shape of single-row upserts,
    // MV watermark rides, and small streaming epochs) costs a full
    // Spark job (~150 ms floor) only for its task dispatch. Write it
    // as ONE parquet file on the driver through Spark's own
    // ParquetWriteSupport instead — byte-compatible schema, footer
    // stats, and codec, so every downstream surface (skipping,
    // checkpoint folds, DuckDB parity) sees exactly what the job path
    // writes.
    val localRows =
      if (partitionBy.nonEmpty) None
      else localRowsOf(df, if (driverRows) Int.MaxValue else Instance.FastPathRows)
    val staged0 = localRows match {
      case Some((rows, schema)) =>
        val name = s"part-00000-${java.util.UUID.randomUUID()}.parquet"
        writeLocalParquet(new Path(out, name), rows, schema)
        // the rows are already on the driver: record an insert's
        // obj_ids so recordStagedObjects skips its read-back job
        // (physical name is always "obj_id" — the primary key is exempt
        // from column mapping, same assumption stagedIdsDf makes). A
        // null id falls back to the job path rather than guessing. A
        // point rewrite records its ids itself and reads none of these.
        if (!driverRows)
          objIdsOf(rows, schema).foreach(txn.stagedLocalIds(s"$sub/$name") = _)
        Seq(s"$sub/$name") // the one file just written: nothing to list
      case None =>
        val obs =
          if (observeIds && df.columns.contains("obj_id"))
            Some(new org.apache.spark.sql.Observation(
              s"graft-ids-$sub"))
          else None
        val dfW = obs.fold(df)(o => df.observe(o,
          cappedIdUdaf(col("obj_id")).as("ids")))
        JobLabel(spark, "graft:stage-write", keepOuter = true) {
          if (partitionBy.isEmpty) dfW.write.parquet(out)
          else dfW.write.partitionBy(partitionBy: _*).parquet(out)
        }
        // Some(ids) = exact distinct list (<= threshold);
        // Some(null) = overflowed (caller builds the bloom summary);
        // sorted in the aggregator, so recording is deterministic
        txn.pendingObservedIds = obs.map(o =>
          o.get.get("ids").orNull match {
            case null => null
            case xs: scala.collection.Seq[_] =>
              xs.asInstanceOf[scala.collection.Seq[Long]].toArray
            case xs: Array[Long] => xs
          })
        // recursive listing: a partitioned write nests k=v dirs, and
        // the relative path (with its k=v segments) IS how the manifest
        // carries each file's partition values — no format change
        // needed. Segments come from raw on-disk NAMES (never URIs,
        // whose percent-encoding would diverge from the disk spelling
        // for values hive escapes or that contain spaces).
        def leaves(p: Path, prefix: String): Seq[String] = {
          fs.listStatus(p).toSeq.flatMap { e =>
            val rel = s"$prefix/${e.getPath.getName}"
            if (e.isDirectory) leaves(e.getPath, rel)
            else if (e.getPath.getName.endsWith(".parquet")) Seq(rel)
            else Nil
          }
        }
        leaves(new Path(out), sub)
    }
    // per-file stats from the parquet FOOTER — a driver-side metadata
    // read (no Spark job), the same way lakehouse formats derive file
    // skipping stats at write time: obj_id's primary range index PLUS
    // universal min/max/null-count for the first
    // [[EngineConf.statsColumns]] leaf columns, so an ad-hoc filter on
    // a never-clustered column prunes files instead of reading every
    // one. A partitioned insert stages up to (tasks x partition
    // tuples) files, so the footers are read on a bounded pool, not
    // serially.
    val statCols: Set[String] =
      VersionedTable.statLeafCols(df0.schema, conf, ren) -- partitionBy
    val allStats =
      pooledMap(staged0)(f => f -> footerAllStats(new Path(dataDir, f), statCols))
    // ZERO-ROW part files (an empty fold, a rewrite that kept nothing,
    // an empty post-AQE partition) are reclaimed HERE, not staged: they
    // contribute nothing to any read, but each would ride the manifest,
    // the stats index, the bloom build and every downstream scan's file
    // list forever. This also makes "write an empty result" a natural
    // no-op, so callers never pay an isEmpty pre-probe that runs the
    // whole plan a second time (the fold/join executes ONCE, in the
    // write job). Row counts come from the footers just read — the
    // RowsKey pseudo-stat is exact block metadata, present for every
    // parquet file.
    val (live0, dead0) = allStats.partition { case (_, us) =>
      us.get(VersionedTable.RowsKey).flatMap(_.longRange)
        .forall(_._2 > 0L)
    }
    // an ALL-empty INSERT keeps one empty part (see keepEmptyPart);
    // all-empty rewrites reclaim every part
    val (live, dead) =
      if (keepEmptyPart && live0.isEmpty && dead0.nonEmpty)
        (dead0.take(1), dead0.drop(1))
      else (live0, dead0)
    // deletes ride the same bounded pool as the footer reads: a wide
    // partitioned write can stage (tasks x partitions) empty parts,
    // and each delete is a metadata RPC on an object store
    pooledMap(dead) { case (f, _) =>
      try fs.delete(new Path(dataDir, f), false)
      catch { case _: java.io.IOException => () } // orphan sweep backstop
    }
    val staged = live.map(_._1)
    live.foreach { case (f, us) =>
      us.get("obj_id").flatMap(_.longRange)
        .filter { case (lo, hi) => lo <= hi }
        .foreach(txn.addedStats(f) = _)
      val rest = us - "obj_id" // primary index already carries it
      if (rest.nonEmpty) txn.addedFileStats(f) = rest
    }
    // per-file bloom filters for the declared columns: ONE bounded
    // pass over the just-written files (O(new data), never the
    // table), landed as reserved `#fb:<physCol>` ustat entries so
    // they ride every stat surface unchanged (see
    // [[EngineConf.fileBloomCols]])
    fileBlooms(live, conf.fileBloomCols.map(c => ren.getOrElse(c, c)).distinct)
      .foreach { case (f, entries) =>
        txn.addedFileStats(f) =
          txn.addedFileStats.getOrElse(f, Map.empty) ++ entries
      }
    staged
  }

  /** [[fileBlooms]] of files just staged, with their footer stats:
    * the stats' row counts bound the batch for the local build. */
  private[acid] def fileBlooms(staged: Seq[(String, Map[String, UStat])],
      cols: Seq[String]): Map[String, Map[String, UStat]] = {
    val rows = staged.map(_._2.get(VersionedTable.RowsKey)
      .flatMap(_.longRange).map(_._1))
    fileBlooms(staged.map(_._1), cols, conf.fileBloomBits,
      if (rows.forall(_.isDefined)) Some(rows.flatten.sum) else None)
  }

  /** Per-(staged file, declared column) bloom filters over the columns
    * of `cols` (PHYSICAL names) the files hold with a hashable type,
    * as `#fb:` ustat entries ready to merge into the txn's file stats
    * (footers can't provide them). Each file is read by one call of a
    * per-file function, with [[rowIndexReader]], hashing each non-null
    * value through [[IdBloom.hashValue]]: on the driver pool when
    * `totalRows` bounds the batch at [[Instance.FileBloomLocalRows]]
    * (a Spark job's dispatch costs more than reading a small batch),
    * else in one Spark job over the files. */
  private[acid] def fileBlooms(staged: Seq[String], cols: Seq[String],
      mBits: Int, totalRows: Option[Long]): Map[String, Map[String, UStat]] = {
    if (staged.isEmpty || cols.isEmpty) return Map.empty
    // files staged by one write share its schema: one footer gives it.
    // Partition-path columns, and columns added after a file was
    // written, are not in the file: absence is always just "no veto"
    val fileSchema = {
      val fr = openParquet(new Path(dataDir, staged.head))
      try new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(fr.getFooter.getFileMetaData.getSchema)
      finally fr.close()
    }
    val schema = StructType(cols.flatMap(c =>
      fileSchema.find(_.name == c).filter(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             StringType | BinaryType => true
        case _ => false
      })))
    if (schema.isEmpty) return Map.empty
    val read = rowIndexReader(schema)
    val types = schema.fields.map(_.dataType)
    val k = IdBloom.DefaultK
    val build = (f: PartitionedFile) => Instance.readFile(read, f) { rows =>
      val blooms = new Array[IdBloom](types.length)
      rows.foreach { r =>
        var i = 0
        while (i < types.length) {
          if (!r.isNullAt(i))
            IdBloom.hashValue(r.get(i, types(i))).foreach { h =>
              if (blooms(i) == null) blooms(i) = IdBloom.empty(mBits.toLong, k)
              blooms(i).add(h)
            }
          i += 1
        }
      }
      blooms.indices.filter(blooms(_) != null).map(i => i -> blooms(i)).toMap
    }
    val files = pooledMap(staged)(f =>
      Instance.wholeFile(fs.getFileStatus(new Path(dataDir, f))))
    val built =
      if (totalRows.exists(_ <= Instance.FileBloomLocalRows)) pooledMap(files)(build)
      else spark.sparkContext.parallelize(files, math.max(1,
        math.min(files.size, spark.sparkContext.defaultParallelism)))
        .map(build).collect().toSeq
    fileBloomEntries(staged, schema.fieldNames.toSeq, staged.zip(built).toMap,
      mBits)
  }

  /** Tail of [[fileBlooms]]: per-(file, column) `#fb:` ustat entries,
    * with the inline-cap sidecar spill. */
  private def fileBloomEntries(staged: Seq[String], pcols: Seq[String],
      byFile: Map[String, Map[Int, IdBloom]], mBits: Int)
      : Map[String, Map[String, UStat]] = {
    val k = IdBloom.DefaultK
    // files absent from the built map hold NO non-null value for that
    // column (empty rewrite part files, all-null columns, pre-evolution
    // files read as null) — an EMPTY bloom is the SOUND entry for them:
    // equality/IN never matches NULL, so vetoing every probe is exact.
    // Without it a zero-row rewrite file would be kept by every point
    // predicate forever (no entry = no veto).
    val sharedEmpty = IdBloom.empty(mBits.toLong, k).toBase64
    val inline: Map[String, Map[String, UStat]] = staged.map { rel =>
      val found = byFile.getOrElse(rel, Map.empty)
      rel -> pcols.indices.map { i =>
        (BloomKeyPrefix + pcols(i)) -> UStat('F',
          found.get(i).map(_.toBase64).getOrElse(sharedEmpty),
          k.toString, 0L)
      }.toMap
    }.toMap
    // SPILL past the inline cap: a bulk load's (files x columns)
    // base64 bitsets would otherwise ride the delta manifest's JSON on
    // the driver — (entries x fileBloomBits/8) bytes in ONE metadata
    // object. Past [[EngineConf.fileBloomInlineMax]] entries the
    // payloads land once in a crc'd `fb-` sidecar (dv-sidecar shape)
    // and ~30-byte `@<name>#<idx>` pointers take their place in the
    // ustats, riding every stat surface (checkpoints, side files,
    // restore) unchanged. Veto-only: a reader that cannot resolve a
    // pointer keeps the file.
    val totalEntries = inline.valuesIterator.map(_.size).sum
    if (totalEntries <= conf.fileBloomInlineMax) inline
    else {
      val rows: Seq[(String, String, UStat)] = inline.toSeq.sortBy(_._1)
        .flatMap { case (f, m) =>
          m.toSeq.sortBy(_._1).map { case (c, u) => (f, c, u) } }
      val name = writeBloomSidecar(rows.map { case (f, c, u) =>
        (f, c, u.min) })
      rows.zipWithIndex.groupBy(_._1._1).map { case (f, es) =>
        f -> es.map { case ((_, c, u), i) =>
          c -> u.copy(min = s"@$name#$i")
        }.toMap
      }
    }
  }

  /** Land one commit's spilled blooms as a crc'd sidecar in dataDir
    * (same flat lifecycle as dv sidecars; swept by vacuum once no
    * retained manifest points into it). */
  private[acid] def writeBloomSidecar(
      rows: Seq[(String, String, String)]): String = {
    val name = s"fb-${java.util.UUID.randomUUID().toString.take(12)}.json"
    val out = fs.create(new Path(dataDir, name), false)
    try out.write(VersionedTable.fbToJson(rows).getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** Driver-side pointer resolution through this table's own fs. */
  private[acid] def resolveBloomPointer(pointer: String): Option[String] =
    VersionedTable.loadBloomSidecar(dataDir.toString, pointer,
      () => fs.getConf)

  /** Driver-side single-file parquet write through Spark's OWN
    * [[org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport]]
    * — the job path's write support, invoked in-process: identical
    * physical types, logical annotations, footer statistics, and
    * session codec, with zero task dispatch. Bounded by
    * [[Instance.FastPathRows]] rows, or for a point rewrite's
    * driver-resident rows by the [[pointRows]] byte gate. */
  private def writeLocalParquet(file: Path,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      schema: StructType): Unit = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    import org.apache.spark.sql.internal.SQLConf
    val hconf = spark.sessionState.newHadoopConf()
    ParquetWriteSupport.setSchema(schema, hconf)
    // ParquetWriteSupport.init asserts these session keys are present
    // (the job path sets them in prepareWrite) — mirror the session
    val sq = spark.sessionState.conf
    hconf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sq.writeLegacyParquetFormat.toString)
    hconf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sq.parquetOutputTimestampType.toString)
    hconf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sq.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    hconf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sq.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    hconf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sq.parquetFieldIdWriteEnabled.toString)
    hconf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sq.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    final class B(p: org.apache.parquet.hadoop.util.HadoopOutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        org.apache.spark.sql.catalyst.InternalRow, B](p) {
      override def self(): B = this
      override def getWriteSupport(c: org.apache.hadoop.conf.Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[
          org.apache.spark.sql.catalyst.InternalRow] = new ParquetWriteSupport
    }
    val codec = org.apache.parquet.hadoop.metadata.CompressionCodecName
      .fromConf(sq.parquetCompressionCodec.toUpperCase(java.util.Locale.ROOT))
    val w = new B(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, hconf))
      .withConf(hconf)
      .withCompressionCodec(codec)
      .build()
    try rows.foreach(w.write) finally w.close()
  }

  // parsed deletion-vector sidecars, cached by name — sidecars are
  // immutable once written (referenced only via manifests), so the
  // cache can never go stale; bounded by the live dv count, which
  // compaction keeps small
  private val dvCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, GraftBitmap]]()

  // decided multi-commit outcomes (immutable once claimed) — each
  // cross-table commit costs each reading instance at most ONE
  // decision-record read over its lifetime
  private val multiDecisions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  /** Resolve a pointer manifest's decision record: true = committed.
    * A record still missing after [[EngineConf.multiGraceMs]] is
    * ARBITRATED aborted by claiming the decision slot — the claim
    * either wins (the coordinator died mid-commit; every future
    * reader resolves identically) or loses to the real decision,
    * which is then read back. Readers writing an abort record is the
    * standard commit-point arbitration (Percolator-style) that makes
    * a crashed coordinator's half-published transaction resolve
    * deterministically instead of hanging forever. */
  private[acid] def resolveMultiDecision(uri: String): Boolean = {
    val cached = multiDecisions.get(uri)
    if (cached != null) return cached.booleanValue()
    val p = new Path(uri)
    val dfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readState(): Option[Boolean] =
      MetaJson.read(dfs, p).map(VersionedTable.decisionFromJson)
    val deadline = System.currentTimeMillis() + conf.multiGraceMs
    var state = readState()
    while (state.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(math.min(25L, math.max(1L, conf.multiGraceMs / 4)))
      state = readState()
    }
    val decided = state.getOrElse {
      if (VersionedTable.claimDecision(dfs, p, conf.claimer,
          committed = false)) false
      else readState().getOrElse(throw new java.io.IOException(
        s"multi-commit decision at $uri neither readable nor claimable"))
    }
    multiDecisions.put(uri, java.lang.Boolean.valueOf(decided))
    decided
  }

  /** Write one POSITIONAL deletion-vector sidecar (`dvp-` name): data
    * file -> row-ordinal bitmap ([[GraftBitmap]]). Driver-side write
    * (point-delete-sized by contract; bulk deletes belong to the
    * copy-on-write paths). */
  private[acid] def writeDvSidecarPos(masks: Map[String, GraftBitmap])
      : String = {
    val name = s"dvp-${java.util.UUID.randomUUID().toString.take(12)}.json"
    val out = fs.create(new Path(dataDir, name), false)
    try out.write(VersionedTable.dvPosToJson(masks).getBytes("UTF-8"))
    finally out.close()
    name
  }

  private[acid] def readDvSidecar(name: String): Map[String, GraftBitmap] =
    dvCache.computeIfAbsent(name, { n =>
      val p = new Path(dataDir, n)
      VersionedTable.dvPosFromJson(MetaJson.read(fs, p).getOrElse(
        throw new java.io.FileNotFoundException(p.toString)))
    })

  /** Resolve a state's dv map (file -> sidecar names) to the concrete
    * per-file row-ordinal masks the readers apply, restricted to
    * `files`: each file's sidecar bitmaps union-folded (one sidecar
    * per file as [[Txn.deleteMoR]] writes them; a restore can publish
    * a longer list). */
  private[acid] def resolveDvs(dvs: Map[String, Seq[String]],
      files: Seq[String]): Map[String, GraftBitmap] = {
    if (dvs.isEmpty) return Map.empty
    val wanted = files.filter(dvs.contains)
    if (wanted.isEmpty) return Map.empty
    // warm the cache with what it lacks, on the driver pool when that
    // is more than a few: each sidecar is one small RPC on an object
    // store
    pooledMap(wanted.flatMap(dvs).distinct.filterNot(dvCache.containsKey))(
      readDvSidecar)
    wanted.map { f =>
      f -> dvs(f).map(n => readDvSidecar(n).getOrElse(f, GraftBitmap.empty))
        .foldLeft(GraftBitmap.empty)(_ union _)
    }.toMap
  }

  /** The capped distinct-id collector as a reusable column function —
    * built ONCE per instance: `udaf(...)` derives its input/buffer/
    * output encoders through runtime reflection (ScalaReflection
    * mirror walks), which showed up as real driver time when every
    * staged write and merge probe re-derived them. */
  private[acid] lazy val cappedIdUdaf =
    udaf(new CappedIdSet(conf.objectListThreshold),
      org.apache.spark.sql.Encoders.LONG)

  /** Map driver-side metadata reads over a bounded thread pool,
    * preserving input order (manifest reads, parquet footers — each a
    * ~10ms RPC on an object store, where 16-way overlap is the
    * difference between an interactive surface and a serial crawl).
    * Small inputs stay serial: pool setup costs more than the reads. */
  private[acid] def pooledMap[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size <= 4) items.map(f)
    else {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, Runtime.getRuntime.availableProcessors())))
      try {
        val tasks: Seq[java.util.concurrent.Callable[B]] =
          items.map(a => () => f(a))
        // unwrap ExecutionException so a corrupt-manifest crc error (or
        // any worker failure) surfaces with the same exception type the
        // serial path throws — callers and tests match on the cause
        pool.invokeAll(tasks.asJava).asScala.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        }.toSeq
      } finally pool.shutdown()
    }

  // ---- segmented-checkpoint side files (CheckpointStore) ----------

  private[acid] def sidecarPath(ref: String): Path =
    new Path(manifestDir, ref)

  /** The side files' rows as a typed Dataset — schema pinned, never
    * inferred. */
  private[acid] def readSidecarRows(ref: String)
      : org.apache.spark.sql.Dataset[CheckpointStore.CkptRow] =
    CheckpointStore.readRows(spark, sidecarPath(ref).toString)

  /** Which of `names` (a BOUNDED candidate set) have a row in the
    * side files — vacuum's orphan-sweep membership probe. The scan is
    * distributed; only the matches come back. */
  private def sidecarMember(ref: String, names: Set[String]): Set[String] = {
    val s = spark
    import s.implicits._
    val wantB = spark.sparkContext.broadcast(names)
    try readSidecarRows(ref).filter(r => wantB.value(r.file))
      .map(_.file).collect().toSet
    finally wantB.destroy()
  }

  /** Every live file name of `st` as a ONE-COLUMN DataFrame (`file`):
    * inline states from the driver list, segmented states as a
    * distributed scan of the side-file name column union the O(tail)
    * inline names. The set-algebra surfaces (restore's diff, vacuum's
    * probes) join against this instead of materializing 10^7 names on
    * the driver. */
  private[acid] def liveNamesDf(st: TableState): DataFrame = {
    val s = spark
    import s.implicits._
    st.sidecar match {
      case Some(sc) =>
        val exclB = spark.sparkContext.broadcast(sc.excluded)
        readSidecarRows(sc.ref).filter(r => !exclB.value(r.file))
          .map(_.file).toDF("file")
          .union(st.inlineFiles.toDF("file"))
      case None => st.inlineFiles.toDF("file")
    }
  }

  /** Every live file name of `st`, materialized on the driver —
    * ONLY for operations whose Spark plan genuinely enumerates the
    * full set anyway (an unpruned snapshot scan, a full-table
    * compaction): the list is transient input to plan construction,
    * never retained in [[VersionedTable.TableState]]. Sorted for
    * deterministic plan output. */
  private[acid] def liveNames(st: TableState): Seq[String] =
    st.sidecar match {
      case Some(sc) =>
        val s = spark
        import s.implicits._
        val exclB = spark.sparkContext.broadcast(sc.excluded)
        val covered =
          try readSidecarRows(sc.ref).filter(r => !exclB.value(r.file))
            .map(_.file).collect()
          finally exclB.destroy()
        (covered ++ st.inlineFiles).distinct.sorted.toSeq
      case None => st.inlineFiles
    }

  /** Membership probe against `st`'s live set for a BOUNDED candidate
    * list: which of `names` are live. O(names) driver memory; the
    * side-file scan runs distributed. */
  private[acid] def liveNamesAmong(st: TableState,
      names: Set[String]): Set[String] =
    st.sidecar match {
      case Some(sc) =>
        val inTail = names.filter(sc.tailLive)
        val wanted = names -- inTail
        val wantB = spark.sparkContext.broadcast(wanted)
        val excl = sc.excluded
        val s = spark
        import s.implicits._
        val covered =
          try readSidecarRows(sc.ref)
            .filter(r => wantB.value(r.file) && !excl(r.file))
            .map(_.file).collect().toSet
          finally wantB.destroy()
        inTail ++ covered
      case None => names.filter(st.inlineFiles.toSet)
    }

  /** Non-empty dv entries of a segmented checkpoint (sparse — only
    * masked files pay). */
  private def sidecarDvs(ref: String): Map[String, Seq[String]] = {
    val s = spark
    import s.implicits._
    readSidecarRows(ref)
      .filter(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("dvList")) > 0)
      .select("file", "dvList").as[(String, Seq[String])]
      .collect().toMap
  }

  /** DISTRIBUTED file skipping over a segmented checkpoint's side
    * files: evaluates `pred` against every checkpoint-covered row
    * (rows in `sc.excluded` are tail-invalidated and skipped) and
    * returns only the SURVIVOR names to the driver. `pred` must be
    * conservative exactly like the driver-side skip loop — true when
    * the file may match. The per-row work is the same veto logic the
    * inline path runs; only the loop is moved off the driver. */
  private[acid] def sidecarSurvivors(sc: SidecarState)(
      pred: CheckpointStore.CkptRow => Boolean): Seq[String] =
    sidecarSurvivorsStatus(sc)(pred).map(_._1)

  /** [[sidecarSurvivors]] plus each survivor's checkpoint-recorded
    * (size, mtime, row count) — split planning over covered files then
    * needs no per-file status RPC, and limit pushdown can bound the
    * planned file prefix (0 = unknown size/mtime, -1 = unknown rows;
    * caller falls back to a fetch / no truncation). */
  private[acid] def sidecarSurvivorsStatus(sc: SidecarState)(
      pred: CheckpointStore.CkptRow => Boolean)
      : Seq[(String, Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    val exclB = spark.sparkContext.broadcast(sc.excluded)
    try readSidecarRows(sc.ref)
      .filter(r => !exclB.value(r.file) && pred(r))
      .map(r => (r.file, r.size, r.mtime, {
        val i = r.uCols.indexOf(VersionedTable.RowsKey)
        if (i >= 0) r.uMins(i).toLong else -1L
      }))
      .collect().toSeq
    finally exclB.destroy()
  }

  /** Cross-file merge of the named PHYSICAL stat columns' ustats over
    * every live file of `st` — the metadata fold behind aggregate
    * pushdown ([[GraftScanBuilder]]): inline/tail files fold on the
    * driver (O(tail)), checkpoint-covered files fold as ONE distributed
    * job over the parquet side files returning O(cols × partitions)
    * partial rows. Returns (live file count, per-column merge); a
    * column whose `entries` < the file count was missing from some
    * file and must not answer an aggregate. */
  private[acid] def mergedUStats(st: TableState, pcols: Set[String])
      : (Long, Map[String, CheckpointStore.MergedU]) = {
    import CheckpointStore.MergedU
    // segmented states carry EXACTLY the tail-live names inline
    val inlineFiles = st.inlineFiles
    var acc = Map.empty[String, MergedU]
    inlineFiles.foreach { f =>
      st.fileStats.getOrElse(f, Map.empty).foreach { case (c, u) =>
        if (pcols(c)) acc = acc.updated(c, acc.getOrElse(c, MergedU()).add(u))
      }
    }
    st.sidecar.foreach { sc =>
      import CheckpointStore.mergedRowEncoder
      val partials = readSidecarRows(sc.ref)
        .mapPartitions(CheckpointStore.partialMerge(pcols, sc.excluded))
        .collect()
      partials.foreach { r =>
        val m = CheckpointStore.fromMergedRow(r)
        acc = acc.updated(r.col, acc.getOrElse(r.col, MergedU()).merge(m))
      }
    }
    (st.numFiles, acc)
  }

  /** [[mergedUStats]] keyed by a hive-partition group: for every
    * distinct tuple of `groupPcols` raw path values, the group's file
    * count and the named columns' cross-file merge. Returns None when
    * any live file lacks a grouping segment (mixed layouts — grouped
    * metadata answers must refuse). Inline/tail files fold on the
    * driver; checkpoint-covered files fold distributedly, returning
    * O(groups × cols) rows. */
  private[acid] def groupedUStats(st: TableState, groupPcols: Seq[String],
      pcols: Set[String])
      : Option[Map[Seq[String], (Long, Map[String, CheckpointStore.MergedU])]] = {
    import CheckpointStore.MergedU
    // segmented states carry EXACTLY the tail-live names inline
    val inlineFiles = st.inlineFiles
    var files = Map.empty[Seq[String], Long]
    var acc = Map.empty[(Seq[String], String), MergedU]
    inlineFiles.foreach { f =>
      CheckpointStore.groupOf(f, groupPcols) match {
        case None => return None
        case Some(g) =>
          files = files.updated(g, files.getOrElse(g, 0L) + 1L)
          st.fileStats.getOrElse(f, Map.empty).foreach { case (c, u) =>
            if (pcols(c))
              acc = acc.updated((g, c), acc.getOrElse((g, c), MergedU()).add(u))
          }
      }
    }
    st.sidecar.foreach { sc =>
      import CheckpointStore.groupedRowEncoder
      val partials = readSidecarRows(sc.ref)
        .mapPartitions(CheckpointStore.groupedPartialMerge(groupPcols, pcols,
          sc.excluded))
        .collect()
      partials.foreach { r =>
        if (r.col == CheckpointStore.BadGroupCol) return None
        else if (r.col == CheckpointStore.FilesCol)
          files = files.updated(r.group,
            files.getOrElse(r.group, 0L) + r.entries)
        else {
          val m = MergedU(if (r.kind.isEmpty) 0 else r.kind.head, r.min,
            r.max, r.nulls, r.sum, r.entries, r.valueSeen)
          val k = (r.group, r.col)
          acc = acc.updated(k, acc.getOrElse(k, MergedU()).merge(m))
        }
      }
    }
    val byGroup = acc.groupBy(_._1._1).map { case (g, m) =>
      g -> m.map { case ((_, c), v) => c -> v }
    }
    Some(files.map { case (g, n) =>
      g -> (n, byGroup.getOrElse(g, Map.empty))
    })
  }

  /** DISTINCT hive-partition segment values of physical column `pc`
    * across every live file of a SEGMENTED snapshot — the metadata
    * behind partition-column aggregate pushdown at side-file scale.
    * One distributed distinct over the side-file names plus the
    * O(tail) inline part; None when any live file lacks the segment
    * (mixed layouts must refuse). O(partitions) to the driver. */
  private[acid] def sidecarPartSegs(st: TableState, pc: String)
      : Option[Seq[String]] = {
    val sc = st.sidecar.get
    val s = spark
    import s.implicits._
    val exclB = spark.sparkContext.broadcast(sc.excluded)
    val covered =
      try readSidecarRows(sc.ref).filter(r => !exclB.value(r.file))
        .map(r => GraftTableSource.partPairs(r.file).toMap.get(pc)
          .getOrElse(""))
        .distinct().collect()
      finally exclB.destroy()
    val tailRaw = st.inlineFiles
      .map(f => GraftTableSource.partPairs(f).toMap.get(pc).getOrElse(""))
      .distinct
    // "" is not a legal `k=v` segment, so it can carry the
    // missing-segment signal through the string encoder
    val all = (covered ++ tailRaw).distinct.toSeq
    if (all.contains("")) None else Some(all)
  }

  /** Bulk stat fetch for an explicit (bounded) file set — restore's
    * re-add path and admin surfaces. O(wanted) rows to the driver. */
  private[acid] def sidecarRowsFor(ref: String, wanted: Set[String])
      : Seq[CheckpointStore.CkptRow] = {
    val wantB = spark.sparkContext.broadcast(wanted)
    try readSidecarRows(ref).filter(r => wantB.value(r.file)).collect().toSeq
    finally wantB.destroy()
  }

  /** Write the next segmented checkpoint's side files as ONE
    * distributed job: previous side files (minus invalidated rows)
    * union the tail/txn's inline rows, dv column overridden from the
    * freshly folded dv map. The driver handles only O(tail + commit)
    * inline rows and the sparse dv map — never the full stat fold
    * (the whole point: checkpointing a 10^7-file table costs a
    * columnar shuffle on the cluster, not a JSON fold on the driver).
    * `liveCount` sizes the output partitioning (~512k rows/part). */
  private[acid] def writeSegmentedCheckpoint(ref: String, base: TableState,
      added: Seq[CheckpointStore.CkptRow], removed: Set[String],
      foldedDvs: Map[String, Seq[String]], liveCount: Long): Unit = {
    val s = spark
    import s.implicits._
    import CheckpointStore._
    val bcasts = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.broadcast.Broadcast[_]]
    // driver-built rows (tail + this commit — bounded) capture the
    // file's status ONCE here; previous side-car rows carry theirs
    // forward untouched (data files are immutable). Split planning
    // over checkpoint-covered files then needs no status RPCs at all.
    def withStatus(rows: Seq[CkptRow]): Seq[CkptRow] =
      rows.zip(pooledMap(rows.map(_.file))(f =>
        try Some(fs.getFileStatus(new Path(dataDir, f)))
        catch { case _: java.io.IOException => None }))
        .map { case (r, st) => st.fold(r)(s =>
          r.copy(size = s.getLen, mtime = s.getModificationTime)) }
    try {
      val baseRows: org.apache.spark.sql.Dataset[CkptRow] =
        base.sidecar match {
          case Some(sc) =>
            // tail files' stats are inline; their rows rebuild here
            // (dv filled by the override below)
            val tailRows = (sc.tailLive -- removed).toSeq.sorted.map(f =>
              toRow(f, base.stats.get(f),
                base.colStats.getOrElse(f, Map.empty), Nil,
                base.fileStats.getOrElse(f, Map.empty)))
            val exclB = spark.sparkContext
              .broadcast(sc.excluded ++ removed)
            bcasts += exclB
            readSidecarRows(sc.ref).filter(r => !exclB.value(r.file))
              .union(withStatus(tailRows).toDS())
          case None =>
            // first segmentation: the inline base is by construction
            // at most checkpointInlineFiles + one interval of commits
            // — a bounded driver materialization, once
            withStatus(base.inlineFiles.filterNot(removed).map(f =>
              toRow(f, base.stats.get(f),
                base.colStats.getOrElse(f, Map.empty), Nil,
                base.fileStats.getOrElse(f, Map.empty)))).toDS()
        }
      val dvB = spark.sparkContext.broadcast(foldedDvs)
      bcasts += dvB
      val parts = math.max(1L, math.min(200L, liveCount / 512000L)).toInt
      baseRows.union(withStatus(added).toDS())
        .map(r => r.copy(dvList = dvB.value.getOrElse(r.file, Nil)))
        .repartition(parts)
        .write.mode("overwrite").parquet(sidecarPath(ref).toString)
    } finally bcasts.foreach(b => try b.destroy() catch {
      case scala.util.control.NonFatal(_) => ()
    })
  }

  /** A parquet file reader over `p` (footer parsed), opened with the
    * table's Hadoop conf: `ParquetFileReader.open(in)` alone builds its
    * options from a fresh `Configuration`, which re-parses the Hadoop
    * XML defaults on every staged file. */
  private def openParquet(p: Path): org.apache.parquet.hadoop.ParquetFileReader = {
    val hconf = spark.sparkContext.hadoopConfiguration
    org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf),
      org.apache.parquet.HadoopReadOptions.builder(hconf).build())
  }

  /** (min, max) of any INT64 `column` from a parquet footer — obj_id
    * for the primary pruning index, secondary cluster columns for
    * [[compact]]'s multi-column stats.
    *
    * EVERY non-empty row group must contribute stats, or the range is
    * discarded: a partial range recorded from some blocks would let
    * [[Txn.candidateFiles]] prune a file whose stats-less block holds
    * the target id — a silent missed delete/update. */
  private[acid] def footerLongRange(p: Path, column: String)
      : Option[(Long, Long)] = {
    try {
      val reader = openParquet(p)
      try {
        val blocks = reader.getFooter.getBlocks
        var lo = Long.MaxValue; var hi = Long.MinValue
        var seen = false; var complete = true
        blocks.forEach { b =>
          if (b.getRowCount > 0) {
            var blockHasStats = false
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == column) {
                val st = c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  (st.genericGetMin, st.genericGetMax) match {
                    case (mn: java.lang.Long, mx: java.lang.Long) =>
                      lo = math.min(lo, mn); hi = math.max(hi, mx)
                      seen = true; blockHasStats = true
                    case _ => ()
                  }
                }
              }
            }
            if (!blockHasStats) complete = false
          }
        }
        if (seen && complete) Some((lo, hi)) else None
      } finally reader.close()
    } catch { case _: Exception => None }
  }

  /** Universal footer statistics for every leaf column of a staged
    * parquet file whose dotted path is in `allowed` (top-level fields
    * AND struct leaves like `props.country`) — one footer open
    * collects typed min/max + null count per column
    * ([[VersionedTable.UStat]]), the always-on metadata discipline the
    * reference applies to every write (free_info.rs:84-194) lifted to
    * file granularity.
    *
    * Same completeness rule as [[footerLongRange]], per column: EVERY
    * non-empty row group must contribute stats or that column's entry
    * is dropped — a partial range would prune a file whose stats-less
    * block holds matching rows. Failure of any kind yields an empty
    * map (the file is then never skipped — conservative). */
  private[acid] def footerAllStats(p: Path, allowed: Set[String])
      : Map[String, UStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    // per-column running fold across row groups
    final class Acc {
      var kind: Char = 0
      var loL = 0L; var hiL = 0L                    // L/T/A/B domains
      var loD = 0.0; var hiD = 0.0                  // D
      var loS: String = null; var hiS: String = null // S
      var loM: java.math.BigDecimal = null; var hiM: java.math.BigDecimal = null
      var nulls = 0L; var nullsKnown = true
      var seenValue = false; var dropped = false
    }
    // unsigned UTF-8 byte order — parquet's binary sort order, used
    // both here (merging bounds) and at prune time (ustatMayMatch)
    def decode(pt: org.apache.parquet.schema.PrimitiveType,
        st: org.apache.parquet.column.statistics.Statistics[_],
        acc: Acc): Boolean = {
      val ann = pt.getLogicalTypeAnnotation
      def mergeL(k: Char, mn: Long, mx: Long): Boolean = {
        if (acc.kind == 0) { acc.kind = k; acc.loL = mn; acc.hiL = mx }
        else if (acc.kind != k) return false
        else { acc.loL = math.min(acc.loL, mn); acc.hiL = math.max(acc.hiL, mx) }
        acc.seenValue = true; true
      }
      def mergeM(scale: Int, mn: java.math.BigInteger,
          mx: java.math.BigInteger): Boolean = {
        val a = new java.math.BigDecimal(mn, scale)
        val b = new java.math.BigDecimal(mx, scale)
        if (acc.kind == 0) { acc.kind = 'M'; acc.loM = a; acc.hiM = b }
        else if (acc.kind != 'M') return false
        else {
          if (a.compareTo(acc.loM) < 0) acc.loM = a
          if (b.compareTo(acc.hiM) > 0) acc.hiM = b
        }
        acc.seenValue = true; true
      }
      pt.getPrimitiveTypeName match {
        case INT64 => (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Long, mx: java.lang.Long) => ann match {
            case t: TimestampLogicalTypeAnnotation =>
              val scale = t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
                case LogicalTypeAnnotation.TimeUnit.MICROS => 1L
                case _ => return false // NANOS: lossy division, skip
              }
              mergeL('T', mn * scale, mx * scale)
            case d: DecimalLogicalTypeAnnotation =>
              mergeM(d.getScale, java.math.BigInteger.valueOf(mn),
                java.math.BigInteger.valueOf(mx))
            case i: IntLogicalTypeAnnotation if !i.isSigned => false
            case _ => mergeL('L', mn, mx)
          }
          case _ => false
        }
        case INT32 => (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Integer, mx: java.lang.Integer) => ann match {
            case _: DateLogicalTypeAnnotation =>
              mergeL('A', mn.toLong, mx.toLong)
            case d: DecimalLogicalTypeAnnotation =>
              mergeM(d.getScale, java.math.BigInteger.valueOf(mn.toLong),
                java.math.BigInteger.valueOf(mx.toLong))
            case i: IntLogicalTypeAnnotation if !i.isSigned => false
            case _ => mergeL('L', mn.toLong, mx.toLong)
          }
          case _ => false
        }
        case BOOLEAN => (st.genericGetMin, st.genericGetMax) match {
          case (mn: java.lang.Boolean, mx: java.lang.Boolean) =>
            mergeL('B', if (mn) 1L else 0L, if (mx) 1L else 0L)
          case _ => false
        }
        case DOUBLE | FLOAT =>
          val (mn, mx) = (st.genericGetMin, st.genericGetMax) match {
            case (a: java.lang.Double, b: java.lang.Double) =>
              (a.doubleValue, b.doubleValue)
            case (a: java.lang.Float, b: java.lang.Float) =>
              (a.doubleValue, b.doubleValue)
            case _ => return false
          }
          // NaN bounds are meaningless for range pruning
          if (mn.isNaN || mx.isNaN) return false
          if (acc.kind == 0) { acc.kind = 'D'; acc.loD = mn; acc.hiD = mx }
          else if (acc.kind != 'D') return false
          else {
            acc.loD = math.min(acc.loD, mn); acc.hiD = math.max(acc.hiD, mx)
          }
          acc.seenValue = true; true
        case BINARY => ann match {
          case _: StringLogicalTypeAnnotation =>
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) =>
                val (a, b) = (mn.toStringUsingUTF8, mx.toStringUsingUTF8)
                if (acc.kind == 0) { acc.kind = 'S'; acc.loS = a; acc.hiS = b }
                else if (acc.kind != 'S') return false
                else {
                  if (utf8Cmp(a, acc.loS) < 0) acc.loS = a
                  if (utf8Cmp(b, acc.hiS) > 0) acc.hiS = b
                }
                acc.seenValue = true; true
              case _ => false
            }
          case d: DecimalLogicalTypeAnnotation =>
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) =>
                mergeM(d.getScale, new java.math.BigInteger(mn.getBytes),
                  new java.math.BigInteger(mx.getBytes))
              case _ => false
            }
          case _ => false
        }
        case FIXED_LEN_BYTE_ARRAY => ann match {
          case d: DecimalLogicalTypeAnnotation =>
            (st.genericGetMin, st.genericGetMax) match {
              case (mn: org.apache.parquet.io.api.Binary,
                  mx: org.apache.parquet.io.api.Binary) =>
                mergeM(d.getScale, new java.math.BigInteger(mn.getBytes),
                  new java.math.BigInteger(mx.getBytes))
              case _ => false
            }
          case _ => false
        }
        case _ => false // INT96 and friends: no usable sort order
      }
    }
    try {
      val reader = openParquet(p)
      try {
        val accs = scala.collection.mutable.LinkedHashMap[String, Acc]()
        reader.getFooter.getBlocks.forEach { b =>
          if (b.getRowCount > 0) {
            b.getColumns.forEach { c =>
              // any depth: struct leaves carry their dotted path
              // ("props.country"); array/map internals never match an
              // allowed name (their paths contain list/key_value)
              {
                val name = c.getPath.toDotString
                if (allowed(name)) {
                  val acc = accs.getOrElseUpdate(name, new Acc)
                  if (!acc.dropped) {
                    val st = c.getStatistics
                    if (st == null || (!st.hasNonNullValue && !st.isNumNullsSet))
                      acc.dropped = true // no stats written for this block
                    else {
                      if (st.isNumNullsSet) acc.nulls += st.getNumNulls
                      else acc.nullsKnown = false
                      if (st.hasNonNullValue && !decode(c.getPrimitiveType, st, acc))
                        acc.dropped = true
                      // all-null block: contributes nulls only — valid
                    }
                  }
                }
              }
            }
          }
        }
        // exact total row count from block metadata (not column
        // statistics — present for every parquet file): rides the
        // ustat plumbing as the reserved [[VersionedTable.RowsKey]]
        // pseudo-column so manifests, checkpoint side files, restore
        // and vacuum all carry it unchanged. Feeds metadata-only
        // aggregate pushdown (COUNT(*) without touching data files).
        var totalRows = 0L
        reader.getFooter.getBlocks.forEach(b => totalRows += b.getRowCount)
        val rowsEntry =
          RowsKey -> UStat('L', totalRows.toString, totalRows.toString, 0L)
        (accs.iterator.flatMap { case (name, a) =>
          if (a.dropped) None
          else if (!a.seenValue) {
            // all-null column: value probes prune it, IS NULL keeps it
            if (a.nullsKnown && a.nulls > 0) Some(name -> UStat('N', "", "", a.nulls))
            else None
          } else {
            val nulls = if (a.nullsKnown) a.nulls else -1L
            a.kind match {
              case 'L' | 'T' | 'A' | 'B' =>
                Some(name -> UStat(a.kind, a.loL.toString, a.hiL.toString, nulls))
              case 'D' =>
                Some(name -> UStat('D', a.loD.toString, a.hiD.toString, nulls))
              case 'M' =>
                Some(name -> UStat('M', a.loM.toPlainString,
                  a.hiM.toPlainString, nulls))
              case 'S' =>
                // oversized bounds are dropped whole rather than
                // truncated: truncating max needs a successor string,
                // and a wrong one resurrects false pruning
                if (a.loS.length <= 64 && a.hiS.length <= 64)
                  Some(name -> UStat('S', a.loS, a.hiS, nulls))
                else None
              case _ => None
            }
          }
        } ++ Iterator.single(rowsEntry)).toMap
      } finally reader.close()
    } catch { case _: Exception => Map.empty }
  }

  /** Commit: optimistic conflict check against versions published after
    * the snapshot, then atomic manifest create; on a losing race the
    * check reruns at the new head (reference: commit + lock release,
    * instance.rs:102-111, 212-219).
    *
    * Conflict = an interleaved commit touched the same objects OR
    * rewrote any of the same files. The file check is essential: the
    * copy-on-write unit is a file, so two transactions modifying
    * disjoint objects that live in one file would otherwise both
    * republish stale copies of each other's rows. */
  def commit(txn: Txn): Long = commit(txn, None)

  /** Commit, optionally as a cross-table POINTER: with `multiRef` set
    * the published manifest is valid only once the referenced decision
    * record claims "committed" (see [[MultiCommit.commitAll]]). Pointer
    * commits reject schema evolution and streaming watermarks (their
    * abort-neutering keeps the published schemaDDL and must not void a
    * watermark another epoch relied on) and never publish as
    * checkpoints (a neutered checkpoint would wipe the fold). */
  private[acid] def commit(txn: Txn, multiRef: Option[String]): Long =
      this.synchronized {
    if (multiRef.isDefined) {
      if (txn.schemaEvolved) {
        txn.abort()
        throw new UnsupportedOperationException(
          "schema evolution inside a cross-table transaction is not supported")
      }
      if (txn.appTxn.nonEmpty) {
        txn.abort()
        throw new UnsupportedOperationException(
          "streaming-epoch watermarks inside a cross-table transaction " +
          "are not supported")
      }
    }
    // a schema-only evolution (Txn.alterSchema) has no file delta but
    // MUST publish — likewise a watermark-only commit (markEpoch with
    // an empty delta, e.g. a materialized-view refresh over an
    // interval whose effects cancel): dropping it would re-fold the
    // same interval on every later refresh. The early no-op return is
    // only for txns that changed nothing at all.
    if (txn.added.isEmpty && txn.removed.isEmpty && !txn.schemaEvolved &&
        txn.dvDelta.isEmpty && txn.appTxn.isEmpty) {
      deleteRetired(txn) // e.g. insert-then-delete-all within one txn
      return txn.readVersion
    }
    // a txn that mixed small (literal ids) and large (summary) staging
    // rounds folds the literals INTO the summary: a manifest carries
    // one or the other, so changes() never half-classifies a commit by
    // its list while the summary ids go unseen. Computed ONCE, outside
    // the publish-race retry loop (the fold mutates the bloom and
    // accumulates the count).
    val (objList, objSum) = txn.objSummary match {
      case Some(s0) if txn.objects.nonEmpty =>
        // fold into a COPY: s0 may alias a parsed manifest's summary
        // (restore path), and widening it in place would corrupt any
        // other holder's view of that manifest
        val folded = s0.bloom.copy()
        txn.objects.foreach(folded.add)
        (Nil, Some(ObjSummary(s0.count + txn.objects.size,
          math.min(s0.min, txn.objects.min),
          math.max(s0.max, txn.objects.max), folded)))
      case other => (txn.objects.toSeq, other)
    }
    // change-data images: a file-removing data commit under
    // changeDataFeed stages its exact pre/post-image rows ONCE (the
    // delta is fixed for the txn, so retry attempts reuse the files).
    // Schema-evolving rewrites skip it (pre/post schemas differ) and
    // the stream falls back to its fail/ignoreChanges contract.
    val cdcWritten: Option[Seq[String]] =
      if (conf.changeDataFeed && multiRef.isEmpty &&
          txn.removed.nonEmpty && !txn.schemaEvolved &&
          (objList.nonEmpty || objSum.isDefined))
        Some(txn.writeCdcDiff())
      else None
    // every manifest carries the full folded DDL — no state fold needed
    lazy val snapshotDdl = readManifest(txn.readVersion).schemaDDL
    // streaming-epoch idempotence, part 1: everything at or before the
    // snapshot is covered by the checkpoint-folded watermark map; the
    // conflict window below covers commits that landed after it
    txn.appTxn.foreach { case (appId, epoch) =>
      if (appTxnsAt(txn.readVersion).get(appId).exists(_ >= epoch)) {
        txn.abort()
        throw new EpochAlreadyCommittedException(
          s"epoch $epoch for query $appId already committed at $root")
      }
    }
    var attempt = latestVersion + 1
    while (true) {
      // conflict window = versions committed after our snapshot
      val window = (txn.readVersion + 1) until attempt
      // schema changes are table-wide: a txn that evolves the schema
      // conflicts with EVERY interleaved commit, and an interleaved
      // schema change conflicts with this txn (whose reads and staged
      // rewrites were planned against the old schema). The snapshot
      // DDL is fixed for the txn's lifetime — computed once, not per
      // publish-race retry (each retry would re-pay an
      // O(checkpointInterval) manifest walk on an object store).
      var prevDdl = if (window.nonEmpty) snapshotDdl else ""
      val prevCons =
        if (window.nonEmpty) readManifest(txn.readVersion).constraints
        else Map.empty[String, String]
      val txnIds = txn.objects.toSet
      // fence baseline: the fenced/fence-only watermarks' values AT
      // THIS TXN'S SNAPSHOT. A CHECKPOINT manifest in the window
      // carries the FULL folded watermark map (not just its own
      // commit's delta), so "entry present" does NOT mean "moved" —
      // an interleaved compact landing as a checkpoint would
      // spuriously fence every concurrent view refresh. A watermark
      // has MOVED only if a window manifest carries it at a DIFFERENT
      // epoch than the snapshot's. One walk, only when fences exist.
      lazy val fenceBase: Map[String, Option[Long]] = {
        val at = appTxnsAt(txn.readVersion)
        (txn.appTxnFenceOnly ++
          (if (txn.appTxnFence) txn.appTxn.map(_._1) else Nil))
          .map(id => id -> at.get(id)).toMap
      }
      def fenceMoved(m: Manifest, appId: String): Boolean =
        m.appTxns.get(appId).exists(e => !fenceBase(appId).contains(e))
      // object overlap across the list/summary combinations: exact when
      // either side carries a literal id list (bloom membership has no
      // false negatives), range-conservative when both are summaries —
      // a false positive costs one retry, a false negative would lose
      // an update, so every approximation errs toward conflict
      def objConflict(m: Manifest): Boolean =
        m.objects.exists(txnIds) ||
        txn.objSummary.exists(t => m.objects.exists(t.mayContain)) ||
        m.objSummary.exists(s => txn.objects.exists(s.mayContain)) ||
        (for (a <- m.objSummary; b <- txn.objSummary) yield a.mayOverlap(b))
          .getOrElse(false)
      window.foreach { v =>
        val m = readManifest(v)
        // streaming-epoch idempotence, part 2: a zombie driver racing
        // its replacement (or a replayed epoch racing a faster retry)
        // sees the other's watermark in the window and skips — never
        // lands the same micro-batch twice
        txn.appTxn.foreach { case (appId, epoch) =>
          if (m.appTxns.get(appId).exists(_ >= epoch)) {
            txn.abort()
            throw new EpochAlreadyCommittedException(
              s"epoch $epoch for query $appId already committed at $root " +
              s"by interleaved commit v$v")
          }
          // a fenced watermark conflicts with ANY interleaved MOVEMENT
          // of the same watermark (a rival refresh landed a smaller
          // head): the caller's payload was computed from the OLD
          // watermark and must be rebuilt, not merged on top. "Moved"
          // = a window manifest carries it at a different epoch than
          // the snapshot's — a checkpoint folding the UNCHANGED value
          // forward is not movement (see fenceBase)
          if (txn.appTxnFence && fenceMoved(m, appId)) {
            txn.abort()
            throw new ConflictException(
              s"watermark for $appId moved by interleaved commit v$v")
          }
        }
        // fence-only watermarks (Txn.fenceEpoch): conflict with ANY
        // interleaved MOVEMENT of the watched watermark — no epoch is
        // published for these and no idempotence skip applies
        txn.appTxnFenceOnly.foreach { appId =>
          if (fenceMoved(m, appId)) {
            txn.abort()
            throw new ConflictException(
              s"fence-only watermark for $appId moved by interleaved " +
              s"commit v$v")
          }
        }
        val fileOverlap = m.removed.toSet.intersect(txn.removed.toSet)
        // deletion-vector structure conflicts: a dv entry REPLACES the
        // file's sidecar list, so concurrent dv writers on one file
        // would lose each other's masks; and a dv on a file the other
        // side rewrote (or a rewrite of a file the other side masked)
        // was planned from a stale row set — all three retry
        val dvOverlap =
          m.dvs.keySet.intersect(txn.dvDelta.keySet.toSet) ++
          m.dvs.keySet.intersect(txn.removed.toSet) ++
          m.removed.toSet.intersect(txn.dvDelta.keySet.toSet)
        if (objConflict(m) || fileOverlap.nonEmpty || dvOverlap.nonEmpty) {
          txn.abort()
          throw new ConflictException(
            if (fileOverlap.nonEmpty)
              s"files ${fileOverlap.take(3).mkString(",")} rewritten by tsn ${m.tsn}"
            else if (dvOverlap.nonEmpty)
              s"deletion vectors on ${dvOverlap.take(3).mkString(",")} " +
              s"race a rewrite/mask by tsn ${m.tsn}"
            else
              s"objects touched by interleaved commit tsn ${m.tsn} overlap this transaction")
        }
        if (txn.schemaEvolved || m.schemaDDL != prevDdl) {
          txn.abort()
          throw new ConflictException(
            if (txn.schemaEvolved)
              s"schema evolution conflicts with interleaved commit by tsn ${m.tsn}"
            else
              s"schema changed by interleaved commit tsn ${m.tsn}")
        }
        prevDdl = m.schemaDDL
        // an interleaved CONSTRAINT change leaves the DDL untouched but
        // invalidates this txn's staged rows all the same (they were
        // validated — or not — against the OLD map): conflict and let
        // the retry re-stage under the new invariants
        if (m.constraints != prevCons) {
          txn.abort()
          throw new ConflictException(
            s"CHECK constraints changed by interleaved commit tsn ${m.tsn}")
        }
      }
      val isCkpt = multiRef.isEmpty && attempt % checkpointInterval == 0
      val addedStats =
        txn.added.flatMap(f => txn.addedStats.get(f).map(f -> _)).toMap
      val addedColStats =
        txn.added.flatMap(f => txn.addedColStats.get(f).map(f -> _)).toMap
      val addedFileStats =
        txn.added.flatMap(f => txn.addedFileStats.get(f).map(f -> _)).toMap
      // a checkpoint SEGMENTS (parquet side files instead of the
      // inline JSON fold) once the live-file count outgrows
      // checkpointInlineFiles — and stays segmented thereafter (the
      // base fold's stat maps are no longer driver-resident, so an
      // inline re-fold would have to collect them back)
      val ckptBase = if (isCkpt) tableStateAt(attempt - 1) else null
      // the post-commit live set materializes ONLY over an inline base
      // (bounded by checkpointInlineFiles + one interval of churn); a
      // segmented base never rebuilds names on the driver — its count
      // is pure arithmetic over the recorded checkpoint count (commit
      // conflict checks guarantee removed ⊆ live and added ∩ live = ∅)
      val liveAfter: Set[String] =
        if (isCkpt && ckptBase.sidecar.isEmpty)
          ckptBase.inlineFiles.toSet -- txn.removed ++ txn.added
        else Set.empty
      val liveAfterCount: Long =
        if (!isCkpt) 0L
        else if (ckptBase.sidecar.isEmpty) liveAfter.size.toLong
        else ckptBase.numFiles - txn.removed.toSet.size +
          txn.added.toSet.size
      val segmented = isCkpt && (ckptBase.sidecar.isDefined ||
        liveAfter.size > conf.checkpointInlineFiles)
      var segRef: Option[String] = None
      val (ckptFiles, ckptStats, ckptColStats, ckptAllDvs, ckptFileStats) =
        if (isCkpt && !segmented) {
        val base = ckptBase
        // checkpoint allDvs is the FULL folded state (clear markers
        // resolve away: an empty list is simply absent); the manifest's
        // dvs field stays this txn's true delta in either case
        (liveAfter.toSeq.sorted,
          base.stats -- txn.removed ++ addedStats,
          base.colStats -- txn.removed ++ addedColStats,
          foldDvs(base.dvs, txn.removed, txn.dvDelta),
          base.fileStats -- txn.removed ++ addedFileStats)
      } else if (segmented) {
        val dvs = foldDvs(ckptBase.dvs, txn.removed, txn.dvDelta)
        // unique per (attempt, tsn): a racing writer that loses the
        // publish deletes its own side files and retries fresh
        val ref = f"ckpt-v$attempt%020d-${txn.tsn}.parquet"
        val addedRows = txn.added.toSeq.map(f =>
          CheckpointStore.toRow(f, txn.addedStats.get(f),
            txn.addedColStats.getOrElse(f, Map.empty), Nil,
            txn.addedFileStats.getOrElse(f, Map.empty)))
        writeSegmentedCheckpoint(ref, ckptBase, addedRows,
          txn.removed.toSet, dvs, liveAfterCount)
        segRef = Some(ref)
        // the manifest keeps only this txn's true deltas — the full
        // fold lives in the side files
        (Nil, addedStats, addedColStats,
          Map.empty[String, Seq[String]], addedFileStats)
      } else (Nil, addedStats, addedColStats,
        Map.empty[String, Seq[String]], addedFileStats)
      // checkpoints fold EVERY query's watermark forward (so a lookup
      // never walks past one), expiring entries idle past
      // appTxnRetentionMs (unstamped legacy entries never expire);
      // deltas carry only this txn's entry
      val nowMs = System.currentTimeMillis()
      val (appTxns, appTs) =
        if (isCkpt) {
          val kept = appTxnsWithTsAt(attempt - 1).filter { case (_, (_, ts)) =>
            ts == 0L || nowMs - ts <= conf.appTxnRetentionMs
          }
          (kept.view.mapValues(_._1).toMap ++ txn.appTxn.toMap,
            kept.view.mapValues(_._2).toMap ++
              txn.appTxn.map { case (id, _) => id -> nowMs }.toMap)
        } else (txn.appTxn.toMap,
          txn.appTxn.map { case (id, _) => id -> nowMs }.toMap)
      val m = Manifest(attempt, txn.tsn, txn.schemaDDL.getOrElse(currentDDL),
        txn.added.toSeq, txn.removed.toSeq, objList,
        checkpoint = isCkpt, allFiles = ckptFiles, stats = ckptStats,
        objSummary = objSum, colStats = ckptColStats,
        tsMillis = nowMs,
        appTxns = appTxns, appTxnTs = appTs,
        dvs = txn.dvDelta.toMap, allDvs = ckptAllDvs,
        fileStats = ckptFileStats, multiRef = multiRef,
        // full current column mapping + tombstones, like schemaDDL:
        // the snapshot's are current because any interleaved schema
        // change altered the DDL and already conflicted above
        renames = txn.localRen, tombstones = txn.localTomb,
        constraints = txn.localCons,
        ckptRef = segRef,
        ckptFiles = if (segRef.isDefined) liveAfterCount else 0L,
        cdc = cdcWritten.getOrElse(Nil), cdcExact = cdcWritten.isDefined)
      if (publish(m)) {
        // the commit IS durable from this point: hint writes, staging
        // cleanup, and auto-maintenance are best-effort and must never
        // surface as a commit failure (the caller would roll back and
        // delete data files the published manifest references)
        try {
          // checkpoint commits refresh the head hint, so resolveHead's
          // forward probe stays bounded by the checkpoint interval
          if (isCkpt) writeHead(attempt)
          deleteRetired(txn)
          maybeAutoMaintain(attempt)
        } catch { case scala.util.control.NonFatal(_) => () }
        return attempt
      }
      // lost the publish race (or real IO failure): this attempt's
      // side files belong to a version another writer now owns —
      // reclaim them before retrying under a new attempt number
      segRef.foreach { ref =>
        try fs.delete(sidecarPath(ref), true)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      val head = latestVersion
      if (head + 1 == attempt) {
        // no other writer advanced the log: the create failed for a real
        // IO reason, not a lost race — surface it instead of spinning
        txn.abort()
        throw new java.io.IOException(
          s"cannot publish manifest v$attempt at $root")
      }
      attempt = head + 1 // lost the race: re-check the new window
    }
    -1L
  }

  private def currentDDL: String = readManifest(latestVersion).schemaDDL

  // re-entrancy guard for post-commit auto-maintenance: the
  // maintenance commit runs through commit() itself (same thread,
  // reentrant monitor) and must not re-trigger
  @volatile private var autoMaintainActive = false

  /** Post-commit auto-maintenance ([[EngineConf.autoCompactFiles]]):
    * best-effort, conflict-safe — a losing race just means another
    * writer (or the next trigger) does the folding. */
  private def maybeAutoMaintain(version: Long): Unit = {
    if (conf.autoCompactFiles <= 0 || autoMaintainActive) return
    autoMaintainActive = true
    try {
      if (tableStateAt(version).numFiles >= conf.autoCompactFiles)
        try compact(targetFiles = conf.autoCompactTarget)
        catch { case scala.util.control.NonFatal(_) => () }
    } finally autoMaintainActive = false
  }

  /** Rollback: discard staged files — nothing was published, so undo is
    * free (reference restores pre-images: block_driver.rs:591-601). */
  def rollback(txn: Txn): Unit = txn.abort()

  /** Delete data files unreachable from the last `retainVersions`
    * versions (reference version-store extent reuse + Roadmap vacuum).
    *
    * The manifest walk is BOUNDED: candidates are the horizon
    * checkpoint's allFiles plus every `added` after it — O(retention +
    * checkpointInterval) manifest reads, not O(head). A file retired
    * before the horizon's checkpoint is invisible to this walk, and was
    * reclaimable by any earlier vacuum (and is still caught by the
    * orphan sweep below once unreferenced). Only files referenced by
    * some committed manifest are deletion candidates — staged files of
    * in-flight transactions appear in no manifest and must never be
    * reclaimed by the manifest phase.
    *
    * Phase 2 (orphan sweep, on by default): data files present on
    * disk but referenced by NO manifest in the bounded walk — staging
    * left by a transaction that crashed between publish and
    * [[deleteRetired]], a process that died mid-rollback, or files
    * retired before the horizon checkpoint that no earlier vacuum
    * reclaimed — are removed once older than `conf.orphanGraceMs`
    * (the grace shields live in-flight staging, which is also
    * unreferenced; transactions open longer than the grace must not
    * overlap a sweep). Empty staging dirs (incl. _SUCCESS-only) are
    * pruned. The disk listing, not the log, is the ground truth for
    * reclamation — so phase 2 keeps "everything unreferenced is
    * eventually reclaimed" even though phase 1's manifest walk is
    * bounded. */
  def vacuum(retainVersions: Int, sweepOrphans: Boolean = true): Int =
    JobLabel(spark, "graft:vacuum") {
      val head = latestVersion
      // tag protection: the horizon never passes the OLDEST tag, so a
      // tagged snapshot (and everything after it) stays fully readable —
      // the walk below then covers a longer window (manifest READS only,
      // pooled; the file retention itself is what the tag asks for).
      // Deleting the tag re-allows reclamation at the next vacuum.
      val minTag = tags.values.minOption.getOrElse(Long.MaxValue)
      val horizon = math.max(0L,
        math.min(head - retainVersions + 1, minTag))
      // EVERY manifest is read exactly ONCE: one backward walk from the
      // horizon to its governing checkpoint, one pooled forward read of
      // (horizon, head]. The live set is the horizon snapshot plus every
      // file added inside the window (a file added then removed within
      // the window was live at some retained version — union keeps it),
      // so the per-version stateAt replays the old code did — O(retention
      // x interval) manifest reads — collapse to O(interval + retention).
      var cv = horizon
      var tail = List.empty[Manifest] // (cv, horizon], oldest first
      var ckpt: Manifest = null
      while (ckpt == null) {
        val m = readManifest(cv)
        if (m.checkpoint) ckpt = m else { tail = m :: tail; cv -= 1 }
      }
      val above = pooledMap(((horizon + 1) to head).toSeq)(readManifest)
      // side-car aware: a segmented horizon checkpoint keeps its full
      // file list in the parquet side files — the fold below touches
      // only the O(window-churn) delta names plus the SPARSE dv map,
      // never the 10^7-name list (an inline checkpoint's list is bounded
      // by checkpointInlineFiles by construction)
      val ckptInlineFiles: Set[String] =
        if (ckpt.ckptRef.isDefined) Set.empty else ckpt.allFiles.toSet
      val ckptAllDvs0 = ckpt.ckptRef match {
        case Some(ref) => sidecarDvs(ref)
        case None => ckpt.allDvs
      }
      var horizonDvs = ckptAllDvs0
      // per-name last action inside (cv, horizon]: true = live after it.
      // A file REFERENCED by the window but dead at every retained
      // version is exactly one whose last window op is a removal — it
      // was live before that removal (so it is in the checkpoint fold or
      // a window add: referenced), and nothing re-added it
      var lastOp = Map.empty[String, Boolean]
      tail.foreach { m =>
        m.removed.foreach(f => lastOp = lastOp.updated(f, false))
        m.added.foreach(f => lastOp = lastOp.updated(f, true))
        horizonDvs = foldDvs(horizonDvs, m.removed, m.dvs)
      }
      // change-data side files referenced inside the bounded walk stay
      // readable (the stream's lag must fit the retention window — the
      // same contract as data files); older ones fall to the orphan
      // sweep once past the grace
      val cdcKeep = (tail.flatMap(_.cdc) ++ above.flatMap(_.cdc)).toSet
      val aboveAdded = above.flatMap(_.added).toSet
      // names to reclaim: window-removed, not re-added by the window's
      // end, not re-referenced above the horizon — O(churn), no full set
      val deadFiles = lastOp.collect { case (f, false) => f }.toSet --
        aboveAdded -- cdcKeep
      // the orphan sweep's driver-known keep set: every name the bounded
      // window speaks for (horizon-live checkpoint membership is probed
      // against the side files in batches — see keepBatch below)
      val windowKeep = lastOp.collect { case (f, true) => f }.toSet ++
        ckptInlineFiles ++ aboveAdded ++ cdcKeep
      // deletion-vector sidecars have the same two-phase lifecycle: live
      // = referenced by the horizon fold or any window manifest (a
      // sidecar attached then replaced INSIDE the window was live at a
      // retained version — the union keeps it, exactly like files);
      // referenced-but-dead = replaced or materialized before the horizon
      val liveDvs = horizonDvs.values.flatten.toSet ++
        above.flatMap(m => m.dvs.values.flatten ++ m.allDvs.values.flatten)
      val referencedDvs = ckptAllDvs0.values.flatten.toSet ++
        tail.flatMap(_.dvs.values.flatten) ++
        above.flatMap(m => m.dvs.values.flatten ++ m.allDvs.values.flatten)
      // deletes issued on the bounded pool too — each is an RPC on an
      // object store, and a big retirement batch is exactly when vacuum
      // latency matters
      var removed = pooledMap(
          deadFiles.toSeq ++ (referencedDvs -- liveDvs).toSeq) { rel =>
        val p = new Path(dataDir, rel)
        if (fs.exists(p)) { fs.delete(p, false); true } else false
      }.count(identity)
      if (sweepOrphans) {
        // "now" comes from the STORE's clock, not the driver's: the grace
        // is compared against filesystem mtimes, and driver/store clock
        // skew would silently erode it (a driver running fast could
        // reclaim live in-flight staging). A just-written probe file's
        // mtime is the store's own notion of now; falls back to the
        // driver clock only if the probe can't be written.
        val cutoff = storeNow() - conf.orphanGraceMs
        // publish() temps from crashed writers (never claimed a version,
        // invisible to readers) are ordinary orphans once past the grace
        fs.listStatus(manifestDir)
          .filter(e => e.isFile && (e.getPath.getName.startsWith(".tmp-") ||
            // ChecksumFileSystem sidecars of crashed publish temps
            e.getPath.getName.startsWith("..tmp-")))
          .foreach { e =>
            if (e.getModificationTime < cutoff) {
              fs.delete(e.getPath, false); removed += 1
            }
          }
        // segmented-checkpoint side files whose writer crashed between
        // the side-file write and the manifest publish (a LOST race
        // cleans up after itself; a crash can't): a `ckpt-v{N}-*` dir is
        // live iff manifest N exists and points at exactly this name
        fs.listStatus(manifestDir)
          .filter(e => e.isDirectory && e.getPath.getName.startsWith("ckpt-v"))
          .foreach { e =>
            val name = e.getPath.getName
            val ver = name.stripPrefix("ckpt-v").takeWhile(_.isDigit)
            val referencedByManifest = ver.nonEmpty && {
              try readManifest(ver.toLong).ckptRef.contains(name)
              catch { case _: java.io.FileNotFoundException => false }
            }
            if (!referencedByManifest && e.getModificationTime < cutoff) {
              fs.delete(e.getPath, true); removed += 1
            }
          }
        // claim temps from crashed TAGGERS (same lifecycle as publish
        // temps: never claimed, invisible to tags() — the .tag suffix
        // filter skips them — reclaimable past the grace). A tag may
        // legally be NAMED '.tmp-foo' (the tag charset allows leading
        // dots), so its claim file '.tmp-foo.tag' shares the temp
        // prefix — the sweep must spare anything carrying the .tag
        // suffix (claim temps never do: they end in a uuid fragment)
        // and its ChecksumFileSystem sidecar '..tmp-foo.tag.crc'.
        if (fs.exists(tagsDir))
          fs.listStatus(tagsDir)
            .filter { e =>
              val n = e.getPath.getName
              e.isFile && (n.startsWith(".tmp-") || n.startsWith("..tmp-")) &&
              !n.endsWith(".tag") && !n.endsWith(".tag.crc")
            }
            .foreach { e =>
              if (e.getModificationTime < cutoff) {
                fs.delete(e.getPath, false); removed += 1
              }
            }
        // dv sidecars live FLAT in dataDir (never inside staging dirs):
        // sweep unreferenced ones past the grace — an in-flight txn's
        // just-written sidecar is shielded exactly like staged data
        fs.listStatus(dataDir)
          .filter(e => e.isFile && e.getPath.getName.startsWith("dvp-"))
          .foreach { e =>
            if (!liveDvs.contains(e.getPath.getName) &&
                !referencedDvs.contains(e.getPath.getName) &&
                e.getModificationTime < cutoff) {
              fs.delete(e.getPath, false); removed += 1
            }
          }
        // spilled-bloom sidecars (`fb-` names, also flat in dataDir):
        // referenced iff some retained manifest's fileStats carries a
        // pointer into them. The reference set is computable on the
        // driver only while EVERY retained checkpoint is INLINE — a
        // segmented one keeps its fileStats in parquet side files, so
        // that round SKIPS the fb sweep entirely (blooms are veto-only:
        // keeping an orphan costs bytes, deleting a live one would cost
        // pruning — and this sweep must prove, not guess).
        if ((ckpt :: tail ::: above.toList).forall(_.ckptRef.isEmpty)) {
          val fbRefs: Set[String] =
            (ckpt :: tail ::: above.toList)
              .iterator
              .flatMap(_.fileStats.valuesIterator.flatMap(_.valuesIterator))
              .collect {
                case u if u.kind == 'F' &&
                    VersionedTable.isBloomPointer(u.min) =>
                  VersionedTable.bloomPointerName(u.min)
              }.toSet
          fs.listStatus(dataDir)
            .filter(e => e.isFile && e.getPath.getName.startsWith("fb-"))
            .foreach { e =>
              if (!fbRefs.contains(e.getPath.getName) &&
                  e.getModificationTime < cutoff) {
                fs.delete(e.getPath, false); removed += 1
              }
            }
        }
        // membership of a listed file in the horizon checkpoint's fold:
        // inline checkpoints fold into windowKeep directly; a SEGMENTED
        // checkpoint is probed in bounded batches against the side files
        // (driver memory stays O(batch), not O(files-on-disk))
        val pendingOrphans =
          scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
        def flushOrphans(): Unit = {
          if (pendingOrphans.isEmpty) return
          val keep = ckpt.ckptRef match {
            case Some(ref) =>
              sidecarMember(ref, pendingOrphans.map(_._1).toSet)
            case None => Set.empty[String]
          }
          pendingOrphans.foreach { case (rel, p) =>
            if (!keep(rel)) { fs.delete(p, false); removed += 1 }
          }
          pendingOrphans.clear()
        }
        fs.listStatus(dataDir).filter(_.isDirectory).foreach { d =>
          // recursive: partitioned staging nests k=v dirs, and their
          // orphans must be reclaimable too. Relative paths accumulate
          // raw on-disk NAMES — matching the manifest spelling exactly;
          // a URI-derived path would percent-encode and silently treat
          // every special-char partition file as unreferenced.
          def sweep(p: Path, prefix: String): Unit =
            fs.listStatus(p).foreach { e =>
              val rel = s"$prefix/${e.getPath.getName}"
              if (e.isDirectory) sweep(e.getPath, rel)
              else if (!e.getPath.getName.startsWith("_") &&
                  !windowKeep.contains(rel) &&
                  e.getModificationTime < cutoff) {
                if (ckpt.ckptRef.isEmpty) {
                  fs.delete(e.getPath, false); removed += 1
                } else {
                  pendingOrphans += ((rel, e.getPath))
                  if (pendingOrphans.size >= 65536) flushOrphans()
                }
              }
            }
          sweep(d.getPath, d.getPath.getName)
          // probe + delete before the empties check below can run
          flushOrphans()
          // prune the dir once nothing but markers remains anywhere below
          def onlyMarkers(p: Path): Boolean = fs.listStatus(p).forall(e =>
            if (e.isDirectory) onlyMarkers(e.getPath)
            else e.getPath.getName.startsWith("_"))
          if (onlyMarkers(d.getPath) && d.getModificationTime < cutoff)
            fs.delete(d.getPath, true)
        }
      }
      // record the pre-image horizon: data files dead at every retained
      // version may now be gone, so an incremental reader (a
      // materialized view's weightedDelta) whose interval starts below
      // the horizon must fall back to a snapshot rebuild instead of
      // failing mid-job on a reclaimed file. Monotone max across
      // vacuums; best-effort (a lost marker only degrades the reader to
      // its FileNotFound fallback, never to a wrong answer).
      recordVacuumHorizon(horizon)
      removed
    }

  /** SNAPSHOT TAGS: name a committed version — ONE FILE PER TAG under
    * `_tags/`, bound via the same fails-if-exists [[ManifestClaimer]]
    * primitive manifests use. A tagged version is PROTECTED from
    * [[vacuum]] — the effective horizon never passes the oldest tag,
    * so the tag's whole snapshot (and every later one) stays readable
    * and restorable until the tag is deleted. Time travel accepts
    * tags wherever it accepts versions: SQL `VERSION AS OF 'name'`,
    * `.option("versionAsOf", "name")`, [[snapshotByTag]]. The
    * operational shape: pin the exact snapshot a training run
    * consumed, vacuum freely, reproduce later.
    *
    * Why per-tag files: a single shared tag map would be
    * read-modify-rename — two concurrent taggers of DIFFERENT names
    * could last-writer-win each other, and a LOST tag lets vacuum
    * reclaim a snapshot its holder believes pinned. With one file per
    * tag, creation is an atomic claim (no rival to clobber), deletion
    * touches only its own file, and no interleaving can un-publish a
    * verified tag.
    *
    * Reference analog: a checkpoint CSN pins recoverable state
    * (checkpointer.rs) — here the pin is named and user-held. */
  def tagVersion(name: String, version: Long = -1L): Long = {
    require(name != null && name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-' ||
        c == '.'),
      s"invalid tag name '$name' (letters, digits, _ - . only)")
    require(name.exists(!_.isDigit),
      s"tag name '$name' must not be all digits (ambiguous with a " +
      "version number in VERSION AS OF)")
    require(name != "." && name != "..",
      s"invalid tag name '$name'")
    val v = if (version < 0L) latestVersion else version
    require(v >= 0L && v <= latestVersion,
      s"cannot tag uncommitted version $v (head ${latestVersion})")
    fs.mkdirs(tagsDir)
    if (!claimSmallFile(tagFile(name), v.toString.getBytes("UTF-8")))
      throw new IllegalArgumentException(
        s"tag '$name' already exists (at v${tags.getOrElse(name, -1L)}); " +
        "delete it first")
    v
  }

  /** Drop a tag; false = no such tag. Reclamation of the previously
    * pinned history resumes at the next [[vacuum]]. Deleting one
    * file cannot disturb concurrent taggers of OTHER names. */
  def deleteTag(name: String): Boolean =
    fs.delete(tagFile(name), false)

  private def tagsDir = new Path(root, "_tags")
  private def tagFile(name: String) = new Path(tagsDir, name + ".tag")

  /** Atomically bind `target` to `body` via [[EngineConf.claimer]];
    * false = already claimed. ONLY already-exists maps to false — a
    * transient store failure must propagate, not masquerade as a lost
    * race (tagVersion would report "tag already exists" for a tag
    * that was silently never recorded). */
  private def claimSmallFile(target: Path, body: Array[Byte]): Boolean =
    claimFile(fs, conf.claimer, target, body) {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.nio.file.FileAlreadyExistsException => false
    }

  /** Current tags (name -> version): the `_tags/` claim files. A
    * missing dir is the empty map; a READ FAILURE throws — every consumer of this map makes a protection
    * decision (vacuum's horizon clamp above all), and degrading a
    * transient store error to "no tags" would let a vacuum permanently
    * reclaim a snapshot the user believes pinned. */
  def tags: Map[String, Long] =
    if (!fs.exists(tagsDir)) Map.empty
    else fs.listStatus(tagsDir).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".tag"))
      .map { st =>
        val p = st.getPath
        val s = MetaJson.read(fs, p).getOrElse(
          throw new java.io.FileNotFoundException(p.toString)).trim
        require(s.nonEmpty && s.forall(_.isDigit),
          s"corrupt tag file $p (content '$s')")
        p.getName.dropRight(4) -> s.toLong
      }.toMap

  /** Version a tag names, or the parsed number if `spec` is numeric —
    * the shared resolver behind `VERSION AS OF` / `versionAsOf`. */
  private[acid] def resolveVersionSpec(spec: String): Long = {
    val t = spec.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else tags.getOrElse(t, throw new IllegalArgumentException(
      s"no tag '$t' on $root (have: " +
      s"${tags.keys.toSeq.sorted.mkString(", ")})"))
  }

  /** The pinned snapshot a tag names. */
  def snapshotByTag(name: String): DataFrame =
    snapshot(resolveVersionSpec(name))

  /** Add a CHECK constraint and validate existing rows — see
    * [[Txn.addConstraint]]. One retried commit; a conflict re-runs the
    * validation against the fresh snapshot. */
  def addConstraint(name: String, check: String): Unit =
    withRetry() { t => t.addConstraint(name, check) }

  /** Drop a CHECK constraint; false = no such constraint (no commit
    * is published for the no-op). */
  def dropConstraint(name: String): Boolean = {
    var hit = false
    withRetry() { t => hit = t.dropConstraint(name) }
    hit
  }

  /** CHECK constraints in force at the current head. */
  def constraints: Map[String, String] =
    tableStateAt(latestVersion).constraints

  /** First version whose [[weightedDelta]] pre-images are guaranteed
    * intact after every past [[vacuum]]: intervals `(from, to]` with
    * `from >= vacuumHorizon` read only files that were live at a
    * retained version. 0 = never vacuumed (or marker unreadable — the
    * caller's FileNotFound fallback covers that window). */
  def vacuumHorizon: Long =
    try MetaJson.read(fs, vacuumFile)
      .fold(0L)(MetaJson.parse(_).path("horizon").asLong(0L))
    catch { case _: java.io.IOException => 0L }

  private def vacuumFile = new Path(root, "_vacuum.json")

  // a transient absence while the store replaces the file only reads
  // as horizon 0, which the FileNotFound fallback covers
  private def recordVacuumHorizon(h: Long): Unit =
    if (h > vacuumHorizon)
      try MetaJson.replace(fs, vacuumFile,
        MetaJson.obj(_.writeNumberField("horizon", h)))
      catch { case _: java.io.IOException => () }

  /** Materialize outstanding deletion vectors WITHOUT a full
    * compaction: rewrite only the MASKED files (each minus its masked
    * rows), dropping their dv entries — O(masked files), where
    * [[compact]] is O(table). The targeted maintenance between
    * compactions for a table taking steady MoR deletes: read overhead
    * returns to zero while the unmasked majority of the snapshot is
    * untouched. One ordinary commit; conflicts with concurrent
    * writers of the same files exactly like any CoW rewrite.
    * Returns the number of files materialized (0 = no masks). */
  def materializeDvs(): Int = {
    val txn = begin()
    val st = tableStateAt(txn.readVersion)
    val masked = st.dvs.keys.toSeq.sorted
    if (masked.isEmpty) { rollback(txn); return 0 }
    val survivors = viewOf(masked, st.ddl, st.dvs, st.renames)
    val rewritten =
      // no isEmpty pre-probe (it ran the whole plan twice):
      // writeStaged drops zero-row part files, so an empty result
      // stages nothing
      writeStaged(survivors, txn)
    // removal of the masked files drops their dv entries in the fold;
    // no clear markers needed (and none published, so the change feed
    // classifies this as the file rewrite it is)
    txn.removed ++= masked
    txn.added ++= rewritten
    commit(txn)
    masked.size
  }

  /** Compact the current snapshot's data files into at most
    * `targetFiles` files, as ONE ordinary commit (reference analog:
    * extent merge / space reuse, version_store.rs:252-309 — here the
    * copy-on-write unit is a whole file, so compaction is just a
    * rewrite-commit). The natural companion of the streaming sink,
    * whose one-commit-per-micro-batch discipline accretes small files
    * (the classic lakehouse small-file problem): compact periodically
    * and [[vacuum]] reclaims the replaced originals once they fall off
    * the retention horizon — older snapshots keep reading the
    * pre-compaction files until then (time travel is unaffected).
    *
    * Concurrency: the commit declares NO objects (content is
    * untouched), so a concurrent insert of new objects wins cleanly;
    * a concurrent delete/update that rewrote one of the files being
    * compacted collides on the file-overlap check and one side
    * retries — exactly the protection that prevents either side from
    * resurrecting the other's removed rows.
    *
    * `clusterByObjId = true` additionally RANGE-partitions the rewrite
    * on obj_id (the lakehouse OPTIMIZE/cluster-by analog): output files
    * get DISJOINT id ranges, so the manifest pruning index resolves a
    * point op to exactly one file — restoring the reference's
    * id-is-the-address access cost (instance.rs:126-134) even after
    * interleaved writers scattered each id range across every file.
    * Costs one shuffle (plain compaction stays a narrow coalesce);
    * clustering always rewrites, even when the file count is already
    * at target.
    *
    * `clusterBy` with MULTIPLE integral columns Z-ORDERS the rewrite
    * (bit-interleaved range partition, the Delta OPTIMIZE ZORDER BY
    * analog): each output file covers a bounded extent in EVERY
    * cluster dimension, so point/range ops on the SECONDARY column
    * also prune to O(sqrt(files)) files via the manifest's per-column
    * stats ([[VersionedTable.Manifest.colStats]], consulted by
    * [[GraftScan]]'s file skipping) — instead of scanning every file
    * because only obj_id ranges were indexed. A single-column
    * `clusterBy` is a plain range cluster on that column.
    *
    * `partitionBy` overrides the rewrite's hive layout (logical
    * names): None infers it from the current file paths (the restore-
    * after-CoW behavior); Some(cols) re-lays every file out under THAT
    * spec — the migration arm of partition-spec evolution (a spec
    * change is metadata-only and applies to new writes; one compaction
    * migrates the old generation when pruning on the new key matters
    * for it). Some(Nil) un-partitions.
    *
    * Returns the number of files replaced (0 = nothing to do). */
  def compact(targetFiles: Int = 1, clusterByObjId: Boolean = false,
      clusterBy: Seq[String] = Nil,
      partitionBy: Option[Seq[String]] = None): Int = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    val cluster =
      if (clusterBy.nonEmpty) clusterBy
      else if (clusterByObjId) Seq("obj_id")
      else Nil
    val txn = begin()
    val st = tableStateAt(txn.readVersion)
    val ddl = st.ddl
    if (st.numFiles == 0L ||
        (st.numFiles <= targetFiles && cluster.isEmpty && st.dvs.isEmpty)) {
      rollback(txn); return 0
    }
    // a full-table compaction rewrites every live file: the name list
    // is transient input to the rewrite plan (a segmented snapshot
    // streams it off the side files), never retained in TableState
    val files = liveNames(st)
    // a typo'd cluster column must fail HERE, not silently produce a
    // degenerate all-null Z key and an unclustered rewrite
    if (cluster.nonEmpty) {
      val cols = StructType.fromDDL(ddl).map(_.name).toSet
      val missing = cluster.filterNot(cols)
      if (missing.nonEmpty) {
        rollback(txn)
        throw new IllegalArgumentException(
          s"clusterBy column(s) ${missing.mkString(", ")} not in table schema")
      }
    }
    // coalesce, not repartition: compaction is a bin-pack of existing
    // files into fewer write tasks — a narrow dependency, no shuffle.
    // Partition columns seen in any current file path are re-applied to
    // the rewrite, so compaction RESTORES the partition layout that CoW
    // rewrites physicalized (pruning degrades between compactions, then
    // heals).
    // path segments spell PHYSICAL names; writeStaged takes logical
    // (and maps back), so invert the column mapping here
    val logicalOf = st.renames.map(_.swap)
    val partCols: Seq[String] = partitionBy.getOrElse(
      files.flatMap(_.split('/').drop(1).dropRight(1))
        .flatMap { seg =>
          val i = seg.indexOf('=')
          if (i > 0) Some(seg.substring(0, i)) else None
        }.distinct.map(p => logicalOf.getOrElse(p, p)).sorted)
    val missingPart = partCols.filterNot(
      StructType.fromDDL(ddl).map(_.name).toSet)
    if (missingPart.nonEmpty) {
      rollback(txn)
      throw new IllegalArgumentException(
        s"partitionBy column(s) ${missingPart.mkString(", ")} " +
        "not in table schema")
    }
    // compaction MATERIALIZES outstanding deletion vectors: the rewrite
    // reads through the masks and the retired files' dv entries drop
    // with them, healing read overhead back to zero
    val view = viewOf(files, ddl, st.dvs, st.renames)
    val staged = JobLabel(spark, "graft:compact") {
      val clustered = cluster match {
        case Nil => view.coalesce(targetFiles)
        case Seq(c) => view.repartitionByRange(targetFiles, col(c))
        case cols =>
          // Z-order: scale each column to a fixed-width bucket over its
          // global [min, max] (one tiny agg job), bit-interleave the
          // buckets into one key, range-partition + locally sort on it.
          // The interleave keeps every output file's extent bounded in
          // ALL dimensions — a lexicographic sort would leave the
          // trailing columns spanning their full range in every file.
          val bits = math.min(16, 63 / cols.size)
          val aggs = cols.flatMap(c =>
            Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
          val bounds = view.agg(aggs.head, aggs.tail: _*).collect()(0)
          val z = cols.zipWithIndex.flatMap { case (c, j) =>
            val (mn, mx) =
              if (bounds.isNullAt(2 * j)) (0L, 1L)
              else (bounds.getLong(2 * j), bounds.getLong(2 * j + 1))
            val range = math.max(1L, mx - mn)
            // double scaling: 53-bit mantissa is exact for bucketing and
            // immune to (value * 2^bits) long overflow on wide ranges
            val scaled = ((col(c).cast("long") - mn).cast("double")
              / range * ((1L << bits) - 1)).cast("long")
            (0 until bits).map(i =>
              shiftleft(shiftright(scaled, i).bitwiseAND(lit(1L)),
                i * cols.size + j))
          }.reduce(_ + _)
          view.withColumn("_z", z)
            .repartitionByRange(targetFiles, col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
      }
      writeStaged(clustered, txn, partCols)
    }
    // secondary cluster columns get per-file footer ranges into the
    // manifest (obj_id already rides the primary stats index)
    val secondary = cluster.filterNot(_ == "obj_id")
      .filterNot(partCols.contains) // partition cols aren't in-file
    if (secondary.nonEmpty)
      // footers (and therefore the colStats index) use PHYSICAL names
      pooledMap(staged) { f =>
        f -> secondary.flatMap { c =>
          val pc = st.phys(c)
          footerLongRange(new Path(dataDir, f), pc).map(pc -> _)
        }.toMap
      }.foreach { case (f, cs) => if (cs.nonEmpty) txn.addedColStats(f) = cs }
    txn.added ++= staged
    txn.removed ++= files
    commit(txn)
    files.size
  }

  /** The store's clock, read as the mtime of a freshly-written probe
    * file (deleted immediately). See [[vacuum]]'s orphan sweep. */
  private def storeNow(): Long = {
    val probe = new Path(root,
      s"._clockprobe-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      val out = fs.create(probe, true)
      try out.write('t') finally out.close()
      fs.getFileStatus(probe).getModificationTime
    } catch {
      case _: java.io.IOException => System.currentTimeMillis()
    } finally {
      try fs.delete(probe, false) catch { case _: java.io.IOException => () }
    }
  }

  /** Run `body` in a fresh transaction, commit, and retry on conflict
    * with bounded linear backoff — the ergonomic replacement for the
    * reference's blocking lock wait (tran_mgr.rs:85-127: writers queue
    * on an object lock with a timeout; here writers re-run optimistic
    * commits). `body` must be idempotent: it re-executes per attempt
    * against a fresh snapshot. */
  def withRetry[A](maxAttempts: Int = conf.conflictMaxAttempts,
      backoffMs: Long = conf.conflictBackoffMs)(body: Txn => A): A =
    withCommitLock { withRetryUnlocked(maxAttempts, backoffMs)(body) }

  /** ADVISORY blocking commit lock ([[EngineConf.commitLock]]): one
    * atomically claimed file under `_manifests/` serializes whole
    * [[withRetry]] attempts, so hot-key writers queue (the reference's
    * tran_mgr.rs:85-127 wait semantics) instead of each redoing the
    * staging work an optimistic retry discards. Crash-released: a
    * claim older than [[EngineConf.commitLockTimeoutMs]] is presumed
    * dead and stolen (delete + re-create — two stealers can in theory
    * both proceed, which only degrades to the optimistic behavior the
    * lock is layered ON TOP of; conflict checks still guarantee
    * correctness). A waiter that cannot acquire within the same bound
    * throws ConflictException. */
  private def withCommitLock[A](body: => A): A = {
    if (!conf.commitLock) return body
    val lockPath = new Path(manifestDir, "_commitlock")
    // unique claim token: release deletes the lock ONLY if the file
    // still carries this writer's token. An unconditional delete
    // would evict the NEW holder whenever a waiter legitimately stole
    // a slow holder's claim (the slow holder's finally-delete removes
    // the stealer's fresh lock, letting a third writer in and
    // cascading steals under load — exactly the contended case the
    // lock exists for). A token mismatch means "already stolen":
    // skip the delete; correctness never depended on the lock anyway.
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + conf.commitLockTimeoutMs
    // the claim goes through the store's atomic publish primitive, as
    // manifests and tags do: `fs.create(path, overwrite = false)` is a
    // check-then-create on the local FS, so racing writers could all
    // "acquire" at once, and their interleaved data/.crc writes left a
    // claim no holder could read back, so nobody released it and every
    // later writer stalled for the full timeout
    while (!claimSmallFile(lockPath,
        token.getBytes(java.nio.charset.StandardCharsets.UTF_8))) {
      val stale =
        try fs.getFileStatus(lockPath).getModificationTime <
          System.currentTimeMillis() - conf.commitLockTimeoutMs
        catch { case _: java.io.FileNotFoundException => false }
      if (stale) {
        // crash release: holder exceeded the bound, steal the claim
        try fs.delete(lockPath, false)
        catch { case scala.util.control.NonFatal(_) => () }
      } else if (System.currentTimeMillis() >= deadline) {
        throw new ConflictException(
          s"commit lock at $lockPath not acquired within " +
          s"${conf.commitLockTimeoutMs} ms")
      } else Thread.sleep(5L)
    }
    try body
    finally {
      // read-check-delete is not atomic (a steal in the window still
      // deletes the stealer's claim), but the window shrinks from the
      // whole body to one read — the residue degrades to the
      // pre-token behavior, never worse
      try {
        val in = fs.open(lockPath)
        val cur = try {
          val buf = new Array[Byte](64)
          val n = in.read(buf)
          if (n <= 0) "" else new String(buf, 0, n,
            java.nio.charset.StandardCharsets.UTF_8)
        } finally in.close()
        if (cur == token) fs.delete(lockPath, false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def withRetryUnlocked[A](maxAttempts: Int,
      backoffMs: Long)(body: Txn => A): A = {
    var attempt = 0
    while (true) {
      attempt += 1
      val t = begin()
      try {
        val r = body(t)
        commit(t) // aborts the txn itself on conflict
        return r
      } catch {
        case e: ConflictException =>
          // rollback is idempotent: commit(t) already aborted t when
          // the conflict came from OUR commit, but a conflict thrown
          // by the body itself (e.g. it committed a rival txn) would
          // otherwise leak this txn's staging
          rollback(t)
          if (attempt >= maxAttempts) throw e
          Thread.sleep(backoffMs * attempt)
        case e: Throwable =>
          // a failing body (not a commit conflict) must not leak its
          // staged files — vacuum's manifest phase can never see them
          rollback(t)
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Distinct obj_ids of a staged file set, as a DataFrame (never
    * materialized on the driver here — the caller decides whether the
    * cardinality permits a literal list or requires a summary). */
  private[acid] def stagedIdsDf(staged: Seq[String]): DataFrame =
    viewOf(staged, Instance.IdSchema.toDDL).distinct()

  /** Build an [[ObjSummary]] from an id column DISTRIBUTED: each
    * partition folds its ids into a local bloom bitset + count/range,
    * partials merge by bitwise OR — one pass, no id ever collected.
    * Geometry is pinned by [[EngineConf.bloomBits]] so summaries from
    * any transaction union bit-for-bit. */
  private[acid] def buildSummary(ids: DataFrame): ObjSummary = {
    val mBits = conf.bloomBits
    val parts = ids.select(col("obj_id").cast("long"))
      .queryExecution.toRdd.mapPartitions { it =>
        val bloom = IdBloom.empty(mBits)
        var cnt = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
        it.foreach { row =>
          val id = row.getLong(0)
          bloom.add(id); cnt += 1
          if (id < mn) mn = id
          if (id > mx) mx = id
        }
        if (cnt == 0) Iterator.empty
        else Iterator.single(ObjSummary(cnt, mn, mx, bloom))
      }
    parts.reduce(_ merge _)
  }

  /** Reclaim dirs staged BY this transaction. Files the transaction
    * merely re-references ([[Txn.adopted]] — e.g. a [[restore]]
    * re-adding an old snapshot's files) belong to committed history
    * and must survive an abort. */
  private[acid] def deleteStagingDirs(txn: Txn): Unit =
    (txn.added.filterNot(txn.adopted.contains) ++ txn.retired ++
      txn.cdcStaged)
      .map(_.split('/').head).distinct
      .foreach(d => fs.delete(new Path(dataDir, d), true))

  /** Physically reclaim staged files the transaction itself superseded
    * (they appear in no manifest, so the manifest walk of vacuum can
    * never see them). Staging dirs left holding only markers
    * (_SUCCESS) are pruned too — without this every retire leaked a
    * directory forever (vacuum's orphan sweep is the backstop for the
    * crash-between-publish-and-here window). */
  private[acid] def deleteRetired(txn: Txn): Unit = {
    txn.retired.foreach(f => fs.delete(new Path(dataDir, f), false))
    txn.retired.map(_.split('/').head).distinct.foreach { d =>
      val p = new Path(dataDir, d)
      if (fs.exists(p) &&
          fs.listStatus(p).forall(e =>
            e.isFile && e.getPath.getName.startsWith("_")))
        fs.delete(p, true)
    }
  }
}

/** A transaction handle (reference: Transaction, instance.rs:369-397). */
final class Txn private[acid] (inst: Instance, val tsn: Long,
    @volatile private[graft] var readVersion: Long) {
  import VersionedTable._

  private[acid] val added = mutable.ArrayBuffer[String]()
  private[acid] val removed = mutable.ArrayBuffer[String]()
  private[acid] val objects = mutable.LinkedHashSet[Long]()
  // bounded replacement for `objects` once the touched-id count passes
  // EngineConf.objectListThreshold — see ObjSummary
  private[acid] var objSummary: Option[ObjSummary] = None
  // added entries that are pre-existing committed files (re-referenced,
  // not written, by this txn — see restore): NEVER reclaimed on abort
  private[acid] val adopted = mutable.Set[String]()
  // staged files superseded by a LATER mutation of the same transaction —
  // never published, physically reclaimed at commit/abort
  private[acid] val retired = mutable.ArrayBuffer[String]()
  // obj-id (min, max) per staged file, read from parquet footers at
  // write time; published to the manifest at commit for point-op pruning
  private[acid] val addedStats = mutable.Map[String, (Long, Long)]()
  // obj_ids of files staged through the LOCAL fast path (driver-side
  // parquet write of a <= fastPathRows LocalRelation): already on the
  // driver, so recordStagedObjects can skip its read-back job — one
  // fewer Spark job per small commit (MV watermark rides, single-row
  // upserts, small streaming epochs)
  private[acid] val stagedLocalIds = mutable.Map[String, Seq[Long]]()
  // hand-off from the LAST writeStaged(observeIds = true) to
  // recordStagedObjects: Some(ids) = exact distinct ids observed ON
  // the write job; Some(null) = batch overflowed objectListThreshold
  // (build the bloom summary); None = no observation (job failed
  // before the metric, or a non-observing writeStaged ran since)
  private[acid] var pendingObservedIds: Option[Array[Long]] = None
  // secondary cluster-column ranges per staged file (multi-column
  // compact) — the manifest's colStats delta
  private[acid] val addedColStats =
    mutable.Map[String, Map[String, (Long, Long)]]()
  // universal per-column footer stats per staged file (every leaf
  // column, collected automatically at write time) — the manifest's
  // fileStats delta
  private[acid] val addedFileStats =
    mutable.Map[String, Map[String, UStat]]()
  private[acid] var schemaDDL: Option[String] = None
  // txn-local column mapping override (logical -> physical), set by
  // renameColumn (and by adds that must dodge a freed physical name);
  // None = the snapshot's map applies
  private[acid] var renames: Option[Map[String, String]] = None
  // txn-local retired-physical-name override, grown by drops in
  // adoptSchemaType; None = the snapshot's set applies
  private[acid] var tombstones: Option[Seq[String]] = None
  // txn-local CHECK-constraint override (name -> boolean SQL over
  // logical names), set by addConstraint/dropConstraint; None = the
  // snapshot's map applies
  private[acid] var consOverride: Option[Map[String, String]] = None
  // set when this txn will publish a DIFFERENT schema than its snapshot:
  // schema changes are table-wide, so commit treats one like a conflict
  // with EVERY interleaved commit (see Instance.commit)
  private[acid] var schemaEvolved = false
  private var allowEvolve = false
  // streaming-epoch watermarks this commit will publish (exactly-once
  // sink support; a join view marks TWO — fact and dim): commit
  // refuses to land if any marked query already committed its epoch
  // or a later one — see Instance.commit
  private[acid] var appTxn: List[(String, Long)] = Nil
  // fenced watermark (markEpoch(..., fence = true)): commit ALSO
  // conflicts (retryable) with any interleaved commit that moved the
  // same query's watermark at all — even to a SMALLER epoch — so a
  // caller whose work derives from the watermark's old position
  // (an incremental view refresh) re-reads it instead of folding a
  // stale delta over the rival's commit. See Instance.commit.
  private[acid] var appTxnFence = false
  // fence-ONLY watermarks (Txn.fenceEpoch): appIds whose epoch this
  // commit does NOT move but whose interleaved movement must conflict
  // — the "watch the side that did not advance" half of a join-view
  // refresh. Never published; exempt from the epoch-already-committed
  // idempotence skip (an unchanged epoch is not a replay).
  private[acid] var appTxnFenceOnly: Set[String] = Set.empty
  // merge-on-read dv delta this commit publishes: data file -> its FULL
  // replacement sidecar list (empty = clear). Maintained by deleteMoR
  // and restore; entries for files this txn later rewrites are dropped
  // in retire() (the rewrite materialized the mask)
  private[acid] val dvDelta = mutable.Map[String, Seq[String]]()
  // change-data side files staged by writeCdcDiff (dataDir-relative);
  // reclaimed on abort like ordinary staging
  private[acid] val cdcStaged = mutable.ArrayBuffer[String]()
  private[acid] val stagedBatch = new AtomicLong(0)
  private val objSeq = new AtomicLong(0)

  // base snapshot state cached per pinned version: every mutation in a
  // txn replans against the same readVersion, so the repeated
  // O(checkpointInterval) manifest walks collapse to ONE read per
  // version (refresh() invalidates by bumping readVersion). Committed
  // state at a fixed version is immutable, so the cache can never go
  // stale.
  @volatile private var baseCache: (Long, TableState) = null

  private def cachedBaseState(): TableState = {
    var cached = baseCache
    if (cached == null || cached._1 != readVersion) {
      cached = (readVersion, inst.tableStateAt(readVersion))
      baseCache = cached
    }
    cached._2
  }

  /** Txn-local (read-your-own-writes) file set, schema, and id-range
    * index: snapshot state minus removed plus staged. */
  // Txn-local INLINE state: the pinned snapshot's driver-resident
  // names (segmented: the O(tail) part ONLY — checkpoint-covered
  // files flow through the distributed side-file paths) minus this
  // txn's removals plus its staged files, with the matching ddl/stats.
  private def localState(): (Seq[String], String, Map[String, (Long, Long)]) = {
    val base = cachedBaseState()
    val files = (base.inlineFiles.toSet -- removed ++ added).toSeq.sorted
    (files, schemaDDL.getOrElse(base.ddl), base.stats -- removed ++ addedStats)
  }

  /** Txn-local column mapping (read-your-own-renames): this txn's
    * override when set, else the pinned snapshot's map. */
  private[acid] def localRen: Map[String, String] =
    renames.getOrElse(cachedBaseState().renames)

  /** Txn-local retired-physical-name set (read-your-own-drops). */
  private[acid] def localTomb: Seq[String] =
    tombstones.getOrElse(cachedBaseState().tombstones)

  /** Txn-local CHECK constraints (read-your-own-adds). */
  private[acid] def localCons: Map[String, String] =
    consOverride.getOrElse(cachedBaseState().constraints)

  /** Txn-local logical table schema (snapshot's, plus any evolution
    * this transaction already recorded). */
  private[graft] def localSchema: StructType =
    StructType.fromDDL(localState()._2)

  /** Txn-local deletion-vector map: base state overridden by this
    * transaction's own dv writes (read-your-own-deletes), entries of
    * retired files dropped. */
  private def localDvs(): Map[String, Seq[String]] =
    VersionedTable.foldDvs(cachedBaseState().dvs, removed, dvDelta)

  /** Resolved per-file masks for `files` under [[localDvs]]. */
  private def localMasks(files: Seq[String]): Map[String, GraftBitmap] =
    inst.resolveDvs(localDvs(), files)

  /** Read-your-own-writes view (reference MVCC resolve accepts entries
    * with `tsn == my_tsn`, block_driver.rs:461-486): the pinned
    * snapshot's file set minus files this transaction removed plus its
    * staged files. A second mutation in the same transaction therefore
    * sees — and rewrites — the FIRST mutation's output, not the stale
    * base files (without this, manifests could remove one base file
    * twice while publishing both rewrites, resurrecting deleted rows). */
  def read(): DataFrame = {
    val b = cachedBaseState()
    val (files, ddl, stats) = localState()
    // a segmented base keeps its checkpoint-covered files in the side
    // files, pruned there by the scan; this transaction's removals are
    // excluded from them like a later commit's would be
    inst.readState(b.copy(inlineFiles = files, ddl = ddl, stats = stats,
      colStats = b.colStats -- removed ++ addedColStats,
      fileStats = b.fileStats -- removed ++ addedFileStats,
      dvs = localDvs(), renames = localRen,
      sidecar = b.sidecar.map(sc => sc.copy(excluded = sc.excluded ++ removed,
        tailLive = files.toSet))), None)
  }

  /** Files whose manifest obj-id range can contain one of `ids` — the
    * point-op pruning step (reference: open_read resolves the id
    * directly to its block, instance.rs:126-134; here the manifest
    * stats bound the files a delete/update must even open). */
  private[graft] def candidateFiles(ids: Seq[Long]): Seq[String] =
    candidates(CheckpointStore.holdsAnyOf(ids.distinct.sorted.toArray))

  /** Files whose manifest obj-id range `[lo, hi]` passes `mayHold`;
    * files with no recorded range are always candidates. A segmented
    * snapshot screens its checkpoint-covered files with a DISTRIBUTED
    * filter over the side files (the skip loop never runs on the
    * driver); only the O(tail) inline files screen locally. `mayHold`
    * runs on executors, so it must capture no Txn or Instance. */
  private def candidates(mayHold: (Long, Long) => Boolean): Seq[String] = {
    val (files, _, stats) = localState()
    def pass(f: String) = stats.get(f).forall(mayHold.tupled)
    cachedBaseState().sidecar match {
      case Some(sc) =>
        val localOnly = (sc.tailLive ++ added) -- removed
        val scX = sc.copy(excluded = sc.excluded ++ removed ++ added)
        (files.filter(f => localOnly(f) && pass(f)) ++ inst.sidecarSurvivors(scX)(
          r => CheckpointStore.statsOf(r).forall(mayHold.tupled))).sorted
      case None => files.filter(pass)
    }
  }

  /** Allocate a globally-unique object id: (tsn << SeqBits) | seq — the
    * structured-id analog of the reference's physical ObjectId
    * (defs.rs:12-18). The tsn is masked to the 43 bits that fit beside
    * the sequence (uniqueness rests on the low 43 bits of the seeded
    * tsn: ~23 bits of wall-clock millis xor 20 bits of nanotime — a
    * production deployment would allocate tsns from the commit log);
    * the sequence is bounds-checked so it can never bleed into the tsn
    * field and collide with a neighboring transaction's ids. */
  def newObjectId(): Long = {
    val seq = objSeq.incrementAndGet()
    if (seq >= (1L << SeqBits))
      throw new IllegalStateException(
        s"transaction $tsn exceeded ${1L << SeqBits} object allocations; " +
        "split the load across transactions")
    ((tsn & ((1L << (63 - SeqBits)) - 1)) << SeqBits) | seq
  }

  /** Insert rows that already carry an `obj_id` column
    * (reference: open_create + write_next, instance.rs:173-187).
    * Object ids for conflict tracking are read back from the STAGED
    * files, so a nondeterministic input can't desynchronize the data
    * from the guarded id set (and the input runs exactly once). The id
    * list itself is driver-side metadata — bounded by transaction size;
    * at extreme scale a min/max+bloom summary would replace it. */
  def insert(df: DataFrame): Unit = insert(df, keepEmptyPart = true)

  /** `keepEmptyPart = false` is for callers whose COMMIT does not
    * depend on this batch staging anything (merge's unmatched-insert
    * leg: the rewrite/marks publish the txn regardless) — an all-empty
    * batch then stages nothing instead of accreting an empty part. */
  private[acid] def insert(df: DataFrame, keepEmptyPart: Boolean): Unit = {
    adoptSchema(df) // validate BEFORE staging any data
    val staged = inst.writeStaged(df, this, observeIds = true,
      keepEmptyPart = keepEmptyPart)
    assertUniqueIds(staged)
    added ++= staged
    recordStagedObjects(staged)
  }

  /** OPT-IN append-time id-uniqueness ([[EngineConf.uniqueIds]]): the
    * engine's point ops, MoR masks, and change feed all assume obj_id
    * is unique per snapshot — merge/upsert enforce it by construction,
    * but a plain INSERT of an already-present id silently lands a
    * duplicate that corrupts later point ops. With the flag on, every
    * append batch is probed BEFORE it joins the transaction: one
    * within-batch duplicate check over the staged ids, and one
    * existing-id semi join restricted to the files whose recorded
    * id range overlaps the batch's (the same manifest prune a point
    * delete uses — O(overlapping files), not O(table); an id-clustered
    * table probes a handful of files). Runs BETWEEN staging and
    * adoption, so prior same-txn batches count as existing
    * (read-your-own-writes) and this batch never self-collides.
    * MoR-masked (deleted) ids do not count as existing. Off by
    * default: the probe costs one extra read of the batch plus the
    * candidate files' id columns per insert. */
  private[acid] def assertUniqueIds(staged: Seq[String]): Unit = {
    if (!inst.conf.uniqueIds || staged.isEmpty) return
    // raw ids, NOT stagedIdsDf (whose distinct() would hide
    // within-batch duplicates from the check below)
    val batchIds = inst.viewOf(staged, Instance.IdSchema.toDDL)
    val dup = batchIds.groupBy("obj_id").count()
      .filter(col("count") > 1).limit(1).collect()
    if (dup.nonEmpty)
      throw new ConstraintViolationException(
        s"uniqueIds: batch contains duplicate obj_id ${dup.head.getLong(0)}")
    // batch id bounds from the already-read footer stats (fall back to
    // one agg when a staged file carried no range)
    val ranges = staged.flatMap(addedStats.get)
    val (lo, hi) =
      if (ranges.size == staged.size)
        (ranges.map(_._1).min, ranges.map(_._2).max)
      else {
        val b = batchIds.agg(
          org.apache.spark.sql.functions.min(col("obj_id")),
          org.apache.spark.sql.functions.max(col("obj_id"))).collect()(0)
        if (b.isNullAt(0)) return // empty batch
        (b.getLong(0), b.getLong(1))
      }
    val cand = candidates((mn, mx) => mn <= hi && lo <= mx)
    if (cand.nonEmpty) {
      val (_, ddl, _) = localState()
      val existing = inst.viewOf(cand, ddl, localDvs(), localRen)
        .select("obj_id")
      val clash = existing.join(batchIds, Seq("obj_id"), "left_semi")
        .limit(1).collect()
      if (clash.nonEmpty)
        throw new ConstraintViolationException(
          s"uniqueIds: obj_id ${clash.head.getLong(0)} already exists " +
          "in the table (use upsert/merge to replace rows)")
    }
  }

  /** Track the ids a staging round touched: a literal list while it
    * fits [[EngineConf.objectListThreshold]] (exact conflicts, exact
    * CDC), a distributed-built [[ObjSummary]] past it — so neither the
    * driver nor the manifest ever holds O(batch) ids. The limit-probe
    * costs the same single job the old collect did. */
  private def recordStagedObjects(staged: Seq[String]): Unit = {
    val observed = pendingObservedIds
    pendingObservedIds = None
    // LOCAL-fast-path batches carry their ids driver-side already
    // (bounded by fastPathRows per file): no read-back job needed —
    // the spill guard still bounds the accumulated literal set
    if (staged.forall(stagedLocalIds.contains)) {
      objects ++= staged.flatMap(stagedLocalIds)
      spillObjectsIfNeeded()
      return
    }
    observed match {
      // ids observed ON the write job itself ([[CappedIdSet]]): the
      // exact distinct list while it fits the threshold — zero extra
      // jobs, zero re-reads of the staged files
      case Some(ids) if ids != null =>
        objects ++= ids; spillObjectsIfNeeded()
      // overflowed: only batches past the threshold pay the bounded
      // distributed summary pass (as they always did)
      case Some(_) =>
        mergeSummary(inst.buildSummary(inst.stagedIdsDf(staged)))
      // no observation (job path not taken / metric unavailable):
      // the original read-back probe
      case None =>
        // a null id is no id (the job path's observation skips it too)
        val idsDf = inst.stagedIdsDf(staged).where(col("obj_id").isNotNull)
        val th = inst.conf.objectListThreshold
        val probe = idsDf.limit(th + 1).collect().map(_.getLong(0))
        if (probe.length <= th) { objects ++= probe; spillObjectsIfNeeded() }
        else mergeSummary(inst.buildSummary(idsDf))
    }
  }

  private[acid] def mergeSummary(s: ObjSummary): Unit =
    objSummary = Some(objSummary.fold(s)(_.merge(s)))

  /** The threshold bounds the literal set PER TRANSACTION, not per
    * staging round: many small rounds (or a wide [[graft.acid
    * .Instance.restore]]) must not accumulate an unbounded driver-side
    * list that then serializes into the manifest. Once the set passes
    * the threshold it spills into the bloom summary and is cleared —
    * commit folds any later literals in the same way. */
  private[acid] def spillObjectsIfNeeded(): Unit =
    if (objects.size > inst.conf.objectListThreshold) {
      val b = IdBloom.empty(inst.conf.bloomBits)
      objects.foreach(b.add)
      mergeSummary(ObjSummary(objects.size, objects.min, objects.max, b))
      objects.clear()
    }

  /** Opt this transaction into schema evolution: without it, an insert
    * whose schema adds or drops columns throws — a typo'd column rename
    * must never become a silent full-schema swap (the guard every
    * lakehouse table format ships; the reference is schema-less so the
    * burden lands here). Even with the flag, changing an EXISTING
    * column's type is rejected: old files are read with the table
    * schema, and a type flip would mis-read every pre-evolution file —
    * rewrite the table instead. */
  def evolveSchema(): Unit = allowEvolve = true

  /** Tag this transaction with a streaming-epoch watermark: commit
    * publishes `(appId -> epoch)` in the manifest and REFUSES (with
    * [[EpochAlreadyCommittedException]]) if the same query already
    * committed this epoch or a later one — the at-least-once replay a
    * recovering stream performs after a crash between its sink commit
    * and its checkpoint write lands exactly once. Epochs must be
    * monotonic per query (Spark's micro-batch ids are).
    *
    * `fence = true` additionally makes the commit CONFLICT (retryable,
    * not idempotent-skip) with any interleaved commit that advanced
    * the same query's watermark, even to a smaller epoch: required
    * when the txn's payload was derived FROM the watermark's previous
    * position (incremental view refresh), where two refreshers that
    * observed different heads would otherwise both land and double-
    * fold the overlapping interval. */
  def markEpoch(appId: String, epoch: Long, fence: Boolean = false): Unit = {
    require(appId.nonEmpty, "appId must be non-empty")
    appTxn = (appId -> epoch) :: appTxn.filterNot(_._1 == appId)
    appTxnFence = appTxnFence || fence
  }

  /** Fence-ONLY participation in a watermark: this commit does NOT
    * move `appId`'s epoch (and publishes nothing for it), but it
    * CONFLICTS — retryable, like [[markEpoch]]'s `fence` — with any
    * interleaved commit that moved that watermark, and is EXEMPT from
    * the epoch-already-committed idempotence skip (fencing at the
    * unchanged epoch is not a replay; a re-mark at the current epoch
    * would be swallowed as one and silently skip the whole commit).
    *
    * Why it exists: a join-view refresh derives its payload from BOTH
    * watermarks but historically marked only the sides that advanced.
    * Two concurrent refreshers that each observed only one side's
    * churn then mark DISJOINT appIds — neither fences the other, both
    * merges can land, and the cross term ΔF ⨝ ΔD is never applied.
    * Fencing the unchanged side closes that hole: any interleaved
    * movement of either watermark forces a restart. */
  def fenceEpoch(appId: String): Unit = {
    require(appId.nonEmpty, "appId must be non-empty")
    appTxnFenceOnly += appId
  }

  /** Validate `df`'s schema against the txn-local table schema and
    * record the evolution when sanctioned. Same shape (ignoring column
    * order and nullability — parquet reads are name-based) keeps the
    * table's canonical DDL, so a reordered insert can't churn the
    * manifest schema. Added columns read as nulls from old files;
    * dropped columns are simply no longer selected (their physical
    * names are tombstoned — see [[adoptSchemaType]]). */
  private def adoptSchema(df: DataFrame): Unit = adoptSchemaType(df.schema)

  /** Metadata-only schema evolution (SQL `ALTER TABLE ADD/DROP
    * COLUMNS`): adopt `next` as the table schema in this transaction
    * under the same add/drop-only guard an evolving insert passes —
    * type changes always rejected (see [[widenColumn]] for the
    * lossless promotions), no data files touched. Old files read
    * under the new schema with added columns NULL; dropped columns
    * are pruned at scan. The commit conflicts with interleaved
    * commits exactly like any schema-evolving commit.
    *
    * Re-adding a previously freed column name is always safe: a DROP
    * retires the column's physical name into the manifest's tombstone
    * set, so a later ADD of the same name — or of a name matching a
    * renamed-then-dropped column's physical name — allocates a FRESH
    * physical name and reads NULL from pre-drop files instead of
    * resurrecting their values. */
  def alterSchema(next: StructType): Unit = {
    allowEvolve = true
    adoptSchemaType(next)
  }

  /** Metadata-only column rename (SQL `ALTER TABLE ... RENAME
    * COLUMN`) via column mapping: the column's PHYSICAL name — what
    * every existing parquet file and `k=v` path spells — never
    * changes; only the logical name in the table schema does, with
    * the indirection recorded in the manifest's `renames` map
    * ([[VersionedTable.Manifest]]). Zero data IO; every pre-rename
    * file stays readable, and time travel to a pre-rename version
    * shows that version's names. Table-wide like any schema change
    * (conflicts with every interleaved commit). */
  def renameColumn(from: String, to: String): Unit = {
    require(from != "obj_id",
      "obj_id is the engine's primary key and cannot be renamed")
    require(to != null && to.nonEmpty && !to.contains(".") &&
      to != "obj_id", s"invalid target column name '$to'")
    // a constraint is SQL text over logical names: renaming a column
    // it references would silently unbind it (or bind it to a later
    // re-added column). Loud and manual: drop the constraint first.
    localCons.foreach { case (n, check) =>
      if (inst.constraintRefs(check).exists(_.equalsIgnoreCase(from)))
        throw new IllegalArgumentException(
          s"column $from is referenced by CHECK constraint $n ($check); " +
          "drop the constraint before renaming")
    }
    val cur = localSchema
    require(cur.fieldNames.contains(from), s"no such column $from")
    require(!cur.fieldNames.contains(to), s"column $to already exists")
    val ren0 = localRen
    val physName = ren0.getOrElse(from, from)
    // identity entries normalize away (renaming back to the physical
    // name clears the indirection entirely)
    val ren1 = ((ren0 - from) + (to -> physName))
      .filter { case (l, p) => l != p }
    schemaDDL = Some(StructType(cur.map(f =>
      if (f.name == from) f.copy(name = to) else f)).toDDL)
    schemaEvolved = true
    renames = Some(ren1)
  }

  /** Add a CHECK constraint (SQL `ALTER TABLE ... ADD CONSTRAINT name
    * CHECK (expr)`): `check` is a boolean SQL expression over the
    * table's LOGICAL column names; SQL semantics — a row passes when
    * the expression is TRUE or NULL, violates only on FALSE. Existing
    * rows are validated HERE (one probe scan, first violation
    * surfaces), and from this commit on every writer validates its
    * staged rows inside the write job itself (zero extra IO — see
    * [[Instance.enforceConstraints]]); a violating write fails loudly
    * with the constraint name and the offending row. Constraint
    * changes are table-wide like schema changes: the commit conflicts
    * with every interleaved commit, whose rows were never validated
    * against the new invariant. NOT NULL is the special case
    * `c IS NOT NULL`. Reference analog: db-core validates every
    * write's target block invariants before it lands
    * (block.rs checked adds via free-info accounting); here the
    * invariant is user-declared and rides the manifest. */
  def addConstraint(name: String, check: String): Unit = {
    require(name != null && name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '_'),
      s"invalid constraint name '$name' (letters, digits, _ only)")
    val cur = localCons
    require(!cur.contains(name), s"constraint $name already exists")
    // must analyze as a BOOLEAN over the current schema and reference
    // at least one column (a column-free constraint is a constant —
    // meaningless, and its enforcement expression would be foldable)
    val probe =
      try {
        val sel = read().select(expr(check).as("_c"))
        val dt = sel.schema.head.dataType
        if (dt != org.apache.spark.sql.types.BooleanType)
          throw new IllegalArgumentException(
            s"constraint $name must be a boolean expression, got $dt")
        if (!sel.queryExecution.analyzed.expressions.forall(_.deterministic))
          throw new IllegalArgumentException(
            s"constraint $name must be deterministic")
        read().filter(coalesce(expr(check), lit(true)) === false).limit(1)
      } catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"constraint $name does not analyze against the table " +
            s"schema: ${e.getMessage}")
      }
    if (inst.constraintRefs(check).isEmpty)
      throw new IllegalArgumentException(
        s"constraint $name references no table column")
    val bad = probe.collect()
    if (bad.nonEmpty)
      throw new ConstraintViolationException(
        s"cannot add constraint $name: existing row violates ($check): " +
        bad.head.toString)
    consOverride = Some(cur + (name -> check))
    schemaEvolved = true // table-wide conflict semantics, like schema
  }

  /** Drop a CHECK constraint; returns false if no such constraint. */
  def dropConstraint(name: String): Boolean = {
    val cur = localCons
    if (!cur.contains(name)) false
    else {
      consOverride = Some(cur - name)
      schemaEvolved = true
      true
    }
  }

  /** Metadata-only type WIDENING (SQL `ALTER TABLE ... ALTER COLUMN
    * ... TYPE`): the table schema adopts the wider type and existing
    * files keep their narrower physical type — parquet readers promote
    * INT32 -> INT64 / FLOAT -> DOUBLE at scan time, so no data is
    * rewritten. Only lossless promotions are accepted (byte -> short
    * -> int -> long, float -> double); anything else keeps the loud
    * rejection every narrowing deserves. Footer stats survive: int and
    * long share stat kind 'L', float and double 'D'. */
  def widenColumn(name: String, to: DataType): Unit = {
    val cur = localSchema
    require(cur.fieldNames.contains(name), s"no such column $name")
    val fromT = cur(name).dataType
    if (fromT == to) { if (schemaDDL.isEmpty) schemaDDL = Some(cur.toDDL); return }
    if (!Txn.widens(fromT, to))
      throw new SchemaEvolutionException(
        s"unsupported type change for $name: $fromT -> $to; only widening " +
        "promotions (byte->short->int->long, float->double) are " +
        "metadata-only — rewrite the table for anything else")
    schemaDDL = Some(StructType(cur.map(f =>
      if (f.name == name) f.copy(dataType = to) else f)).toDDL)
    schemaEvolved = true
  }

  private def adoptSchemaType(nextSchema: StructType): Unit = {
    val (_, cur, _) = localState()
    val next = nextSchema.toDDL
    if (next == cur) { if (schemaDDL.isEmpty) schemaDDL = Some(cur); return }
    val curMap = StructType.fromDDL(cur).map(f => f.name -> f.dataType).toMap
    val nextMap = nextSchema.map(f => f.name -> f.dataType).toMap
    // nested nullability (array containsNull, inner struct fields) is
    // as irrelevant to parquet compatibility as top-level nullability —
    // an exact DataType == would misreport ARRAY<BIGINT> built from
    // Seq[Long] (containsNull=false) against the DDL's default (true)
    // as a type change
    def sameType(a: DataType, b: DataType): Boolean = (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameType(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameType(x.keyType, y.keyType) && sameType(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameType(f.dataType, g.dataType) }
      case _ => a == b
    }
    val retyped = curMap.keySet.intersect(nextMap.keySet)
      .filter(k => !sameType(curMap(k), nextMap(k)))
    if (retyped.nonEmpty)
      throw new SchemaEvolutionException(
        s"incompatible type change for column(s) ${retyped.mkString(", ")} " +
        s"(${retyped.map(k => s"$k: ${curMap(k)} -> ${nextMap(k)}").mkString("; ")}); " +
        "existing files would be mis-read — rewrite the table instead")
    if (curMap.keySet == nextMap.keySet) {
      // order/nullability-only difference: keep the canonical DDL
      if (schemaDDL.isEmpty) schemaDDL = Some(cur)
      return
    }
    val addedCols = nextMap.keySet -- curMap.keySet
    val dropped = curMap.keySet -- nextMap.keySet
    // dropping a constrained column would leave a constraint over a
    // vanished name (every later write would fail analysis) — reject
    // here, where the drop is stated, not at the next insert
    if (dropped.nonEmpty) localCons.foreach { case (n, check) =>
      val hit = inst.constraintRefs(check)
        .find(r => dropped.exists(_.equalsIgnoreCase(r)))
      hit.foreach(c => throw new SchemaEvolutionException(
        s"column $c is referenced by CHECK constraint $n ($check); " +
        "drop the constraint before dropping the column"))
    }
    if (!allowEvolve) {
      throw new SchemaEvolutionException(
        s"insert schema differs from table schema (adds: " +
        s"${addedCols.toSeq.sorted.mkString(",")}; drops: " +
        s"${dropped.toSeq.sorted.mkString(",")}); call txn.evolveSchema() " +
        "to sanction the change")
    }
    // column-mapping maintenance: a dropped column releases its
    // renames entry but RETIRES its physical name into the tombstone
    // set (old files keep the physical column on disk forever); an
    // ADDED column whose name collides with a surviving column's
    // physical name (freed logically by an earlier rename) OR with a
    // retired name (freed by a drop — directly or after a rename)
    // gets a fresh physical name — otherwise two logical generations
    // would map onto one parquet column and the dropped generation's
    // values would resurrect
    val ren0 = localRen
    val tomb0 = localTomb
    val physInUse = (curMap.keySet -- dropped).map(c => ren0.getOrElse(c, c))
    val avoid = physInUse ++ tomb0
    val ren1 = (ren0 -- dropped) ++ addedCols.filter(avoid).map(c =>
      c -> s"${c}_p${java.util.UUID.randomUUID().toString.take(8)}")
    if (ren1 != ren0) renames = Some(ren1)
    val tomb1 = (tomb0.toSet ++ dropped.map(c => ren0.getOrElse(c, c)))
      .toSeq.sorted
    if (tomb1 != tomb0) tombstones = Some(tomb1)
    // an added column is absent from every older file, whose rows read
    // it as null: record it nullable whatever the DataFrame declared
    schemaDDL = Some(StructType(nextSchema.map(f =>
      if (addedCols(f.name)) nullable(StructType(Seq(f))).head else f)).toDDL)
    schemaEvolved = true
  }

  /** [[insert]] with hive-style partitioning on low-cardinality domain
    * columns (lang, source, date): rows land in `k=v` subdirs of the
    * staging dir, and those path segments — carried verbatim in the
    * manifest's file list — become the partition index. Reads append
    * the columns per file layout, and partition predicates prune whole
    * files at plan time with zero file opens (see [[GraftScan]]).
    * Callers should partition every insert
    * of a table the same way; mixing is safe (unpartitioned files just
    * never prune). */
  def insertPartitioned(df: DataFrame, partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "partitionBy must be non-empty")
    adoptSchema(df) // validate BEFORE staging any data
    val staged = inst.writeStaged(df, this, partitionBy,
      observeIds = true, keepEmptyPart = true)
    assertUniqueIds(staged)
    added ++= staged
    recordStagedObjects(staged)
  }

  /** Idempotent upsert (MERGE by key): replace any existing rows whose
    * obj_id appears in `df`, then insert `df` — re-running the same
    * upsert converges instead of duplicating (the property the
    * streaming sink's exactly-once contract rests on). Batches up to
    * [[EngineConf.objectListThreshold]] keys take the exact path (id
    * list on the driver, per-id file pruning); larger batches go fully
    * distributed ([[deleteMatching]] + an [[ObjSummary]] in the
    * manifest), so NOTHING here is O(batch) on the driver or in
    * metadata. Either way the delete side prunes to candidate files
    * via manifest id-range stats — an upsert never scans the table. A
    * literal batch of at most [[Instance.FastPathRows]] rows takes its
    * ids straight from the plan, so with small candidate files the
    * whole upsert runs no Spark job (see [[Instance.pointRows]]). */
  def upsert(df: DataFrame): Unit = localIds(df) match {
    // a small literal batch carries its ids in the plan: no probe job,
    // and no persist — which would turn the plan into an
    // InMemoryRelation and push the insert off the driver-side write
    case Some(ids) =>
      delete(ids.distinct)
      insert(df)
    case None => upsertPersisted(df)
  }

  /** The obj_ids of `df` when it is a local relation (or a union of
    * them) of at most [[Instance.FastPathRows]] rows with non-null ids:
    * the batches writeStaged writes on the driver. */
  private def localIds(df: DataFrame): Option[Seq[Long]] =
    localRowsOf(df, Instance.FastPathRows).flatMap { case (rows, schema) =>
      objIdsOf(rows, schema) }

  private def upsertPersisted(df: DataFrame): Unit = {
    // consumed multiple times (key probe + delete + insert): persist so
    // a nondeterministic input can't desynchronize the deleted keys
    // from the inserted rows
    df.persist()
    try {
      // a null id matches nothing: its row is only inserted
      val keys = df.select("obj_id").where(col("obj_id").isNotNull).distinct()
      val th = inst.conf.objectListThreshold
      val probe = keys.limit(th + 1).collect().map(_.getLong(0))
      if (probe.length <= th) delete(probe.toSeq)
      else deleteMatching(keys)
      insert(df)
    } finally df.unpersist()
  }

  /** Conditional MERGE by key (the full three-clause form of
    * [[upsert]], mirroring SQL `MERGE INTO`): for every source row
    * whose `obj_id` matches a target row, apply — in clause order —
    * `matchedDelete` (drop the target row where the condition holds),
    * then `matchedUpdate` (recompute the listed columns where
    * `matchedUpdateCond` holds — or unconditionally when it is None);
    * matched rows hit by neither clause keep their pre-image. Source
    * rows matching nothing are inserted when `insertUnmatched`.
    * Conditions and update expressions resolve against the aliases
    * `t` (target pre-image) and `s` (source): e.g.
    * `matchedUpdate = Map("value" -> (col("t.value") + col("s.value")))`,
    * `matchedDelete = Some(col("s.value") < 0)`.
    *
    * Candidate files by the source keys' [min, max] against manifest
    * ranges, hit files via a semi join, one rewrite per hit file set
    * ([[rewriteJob]]) — a merge never scans files outside the key span,
    * and no id lands on the driver past
    * [[EngineConf.objectListThreshold]]. A NULL condition
    * value counts as not-matched-by-the-clause (SQL semantics).
    * Duplicate source keys are rejected: two source rows matching one
    * target row would make the rewrite nondeterministic (the same
    * rule SQL MERGE enforces at runtime).
    *
    * A source of at most [[Instance.FastPathRows]] rows, none with a
    * null id, whose candidate files pass the [[Instance.pointRows]]
    * gate merges on the driver (the shape of every view refresh): after
    * the probe, one read of the source and no hit-file, rewrite or
    * insert job (see [[mergeLocal]]). The results are the same either
    * way.
    *
    * A merge that changes no row publishes no version: an empty
    * source, or a source whose keys all match with no matched clause
    * (nothing to update, delete or insert), stages no file, and
    * [[Instance.commit]] returns the read version without publishing
    * — `latestVersion` does not move. */
  def merge(source: DataFrame,
      matchedDelete: Option[Column] = None,
      matchedUpdate: Map[String, Column] = Map.empty,
      matchedUpdateCond: Option[Column] = None,
      insertUnmatched: Boolean = true): Unit = {
    require(source.columns.contains("obj_id"), "merge source needs obj_id")
    require(matchedUpdateCond.isEmpty || matchedUpdate.nonEmpty,
      "matchedUpdateCond without matchedUpdate assignments")
    // consumed several times (dup check, key probe, join, insert):
    // persist so a nondeterministic source can't update one row set
    // while the conflict summary records another
    val src = source.persist()
    try {
      // ONE probe job serves three guards: the per-key counts (dup
      // rejection) re-aggregate into the global key bounds in the same
      // pass — previously two full passes over the source (a dup-check
      // shuffle, then a bounds aggregate) — and the same pass collects
      // the conflict-tracking id list (capped at objectListThreshold,
      // null on overflow), which used to cost its own limit-probe job
      // at the end of the merge, and the source row count that gates
      // the driver-side merge. The duplicate id itself is only
      // recomputed on the failure path, which may pay a second
      // (doomed) pass for its error message.
      val th = inst.conf.objectListThreshold
      val probe = JobLabel(inst.spark, "graft:merge-probe+source-fold") {
        src.groupBy("obj_id")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("_c"))
          .agg(org.apache.spark.sql.functions.min(col("obj_id")),
            org.apache.spark.sql.functions.max(col("obj_id")),
            org.apache.spark.sql.functions.max(col("_c")),
            org.apache.spark.sql.functions.sum(
              when(col("obj_id").isNull, col("_c")).otherwise(lit(0L))),
            inst.cappedIdUdaf(col("obj_id")),
            org.apache.spark.sql.functions.sum(col("_c"))).collect()(0)
      }
      if (probe.isNullAt(0)) return // empty source: no-op
      // exact distinct id list from the probe pass (the groupBy already
      // deduplicated); null = overflowed past the threshold. A source
      // with null obj_ids (no internal caller produces one) keeps the
      // limit-probe recording below, which skips the nulls: a null id
      // is no id, as for inserts.
      val srcIds: Array[Long] =
        if (probe.getLong(3) > 0L) null
        else probe.get(4) match {
          case null => null
          case xs: scala.collection.Seq[_] =>
            xs.asInstanceOf[scala.collection.Seq[Long]].toArray
          case xs: Array[Long] => xs
        }
      if (probe.getLong(2) > 1L) {
        val dup = src.groupBy("obj_id").count()
          .filter(col("count") > 1).limit(1).collect()
        throw new IllegalArgumentException(
          s"requirement failed: merge source has duplicate obj_id " +
            s"${dup.head.getLong(0)}: " +
            "a target row may match at most one source row")
      }
      val lo = probe.getLong(0); val hi = probe.getLong(1)
      val keys = src.select("obj_id")
      val (_, ddl, _) = localState()
      val schema = nullable(StructType.fromDDL(ddl))
      val tCols = schema.fieldNames.toSeq
      val cand = candidates((mn, mx) => mn <= hi && lo <= mx)
      val mutates = matchedDelete.isDefined || matchedUpdate.nonEmpty
      // the matched rows after the clauses, over `joined`: each matched
      // target row (alias t) beside its source row (alias s)
      def applyClauses(joined: DataFrame): DataFrame = {
        val afterDelete = matchedDelete.fold(joined)(c =>
          joined.filter(!coalesce(c, lit(false))))
        val updCond = matchedUpdateCond.map(c => coalesce(c, lit(false)))
        afterDelete.select(tCols.map { n =>
          val pre = col(s"t.$n")
          matchedUpdate.get(n) match {
            case Some(expr) =>
              updCond.fold(expr)(c => when(c, expr).otherwise(pre)).as(n)
            case None => pre.as(n)
          }
        }: _*)
      }
      // a source of at most fastPathRows rows, none with a null id, over
      // candidates below the pointRows gate merges on the driver
      val local =
        if (probe.getLong(3) > 0L || probe.getLong(5) > Instance.FastPathRows) None
        else inst.pointRows(cand, physSchema(schema, localRen), localMasks(cand))
      local match {
        case Some(files) =>
          mergeLocal(src, srcIds, schema, files, mutates, insertUnmatched,
            applyClauses)
        case None =>
          // base∩src rows live only in candidate files (a pruned file's id
          // range misses the whole source span), so this snapshot is the
          // exact match side for both the rewrite and the insert anti join
          val snap = if (cand.isEmpty) null
            else inst.viewOf(cand, ddl, localDvs(), localRen)
              .withColumn("_file", input_file_name())
          if (snap != null && mutates) {
            val hit = JobLabel(inst.spark, "graft:merge-hit-files") {
              snap.join(keys, Seq("obj_id"), "left_semi")
                .select("_file").distinct().collect().map(_.getString(0))
            }
            if (hit.nonEmpty) JobLabel(inst.spark, "graft:merge-rewrite")(
              rewriteJob(hit.toSeq.map(relativize),
                _.join(keys, Seq("obj_id"), "left_anti"),
                Some(touched => applyClauses(touched.alias("t")
                  .join(src.alias("s"), col("t.obj_id") === col("s.obj_id"))))))
          }
          if (insertUnmatched) {
            val unmatched = if (snap == null) src
              else src.join(snap.select("obj_id"), Seq("obj_id"), "left_anti")
            val inserts = unmatched.select(tCols.map(col): _*)
            // empty anti-join stages nothing (no pre-probe, no empty part:
            // a merge's commit publishes via its rewrite/marks regardless)
            JobLabel(inst.spark, "graft:merge-insert")(
              insert(inserts, keepEmptyPart = false))
          }
      }
      // conflict tracking over the full source key set (a superset of
      // the rows actually modified — conservative, never unsound);
      // insert() already recorded the inserted ids, but ids only ever
      // widen the conflict set, so double-recording is harmless. The
      // id list rode the probe job above — no extra pass unless it
      // overflowed the threshold (then the bounded bloom summary pays
      // one, as it always did) or carried nulls (limit-probe).
      if (mutates) {
        if (srcIds != null) { objects ++= srcIds; spillObjectsIfNeeded() }
        else if (probe.getLong(3) > 0L) {
          val legacy = keys.where(col("obj_id").isNotNull).limit(th + 1)
            .collect().map(_.getLong(0))
          if (legacy.length <= th) {
            objects ++= legacy; spillObjectsIfNeeded()
          } else mergeSummary(inst.buildSummary(keys))
        } else mergeSummary(inst.buildSummary(keys))
      }
    } finally src.unpersist()
  }

  /** The body of [[merge]] below the [[Instance.pointRows]] gate:
    * `files` are the candidates read on the driver (logical `schema`),
    * and the source has at most [[Instance.FastPathRows]] rows, none
    * with a null id, whose ids the probe listed in `srcIds` (null past
    * the threshold). The persisted source is read once — not at all when
    * it holds only obj_id ([[deleteMatching]]'s keys): its rows are then
    * `srcIds`. The join by obj_id runs here, `clauses` evaluate over a
    * local relation (folded at optimization, no job), and the rewritten
    * and inserted rows take writeStaged's driver-side write. Hit files,
    * kept rows and unmatched inserts are those of the job path. */
  private def mergeLocal(src: DataFrame, srcIds: Array[Long], schema: StructType,
      files: Seq[(String, IndexedSeq[(Long, InternalRow)])],
      mutates: Boolean, insertUnmatched: Boolean,
      clauses: DataFrame => DataFrame): Unit = {
    val srcSchema = src.schema
    val srcRows =
      if (srcIds != null && src.columns.sameElements(Array("obj_id")))
        srcIds.toSeq.map(id => InternalRow(id))
      else JobLabel(inst.spark, "graft:merge-local")(collectRows(src))
    val sIdx = srcSchema.fieldIndex("obj_id")
    val bySrcId = srcRows.map(r => r.getLong(sIdx) -> r).toMap
    val tIdx = schema.fieldIndex("obj_id")
    // a null target id matches no source row, as in the job path's join
    def matchOf(r: InternalRow): Option[InternalRow] =
      if (r.isNullAt(tIdx)) None else bySrcId.get(r.getLong(tIdx))
    if (mutates)
      rewriteLocal(schema, files, matchOf(_).isDefined, Some(matched =>
        clauses(qualifiedLocalFrame(inst.spark,
          Seq("t" -> schema, "s" -> srcSchema), matched.map(t =>
            InternalRow.fromSeq(t.toSeq(schema) ++ matchOf(t).get.toSeq(srcSchema)))))))
    if (insertUnmatched) {
      val present = files.iterator.flatMap(_._2).map(_._2)
        .filterNot(_.isNullAt(tIdx)).map(_.getLong(tIdx)).toSet
      val unmatched = srcRows.filterNot(r => present(r.getLong(sIdx)))
      val inserts = localFrame(inst.spark, srcSchema, unmatched)
        .select(schema.fieldNames.toSeq.map(col): _*)
      // nothing to stage; the schema check still applies, as on the
      // job path's empty insert
      if (unmatched.isEmpty) adoptSchema(inserts)
      else insert(inserts, keepEmptyPart = false)
    }
  }

  /** Distributed DELETE by key DataFrame — the unbounded-batch twin of
    * [[delete]]: a [[merge]] of the distinct non-null keys whose matched
    * rows are deleted and whose unmatched keys insert nothing. Candidate
    * files are pruned by the keys' [min, max]. Up to
    * [[EngineConf.objectListThreshold]] keys are recorded exactly; past
    * it, as a bloom summary, with no id list on the driver. */
  def deleteMatching(keys: DataFrame): Unit =
    merge(keys.select("obj_id").where(col("obj_id").isNotNull).distinct(),
      matchedDelete = Some(lit(true)), insertUnmatched = false)

  /** Delete objects by id: copy-on-write rewrite of only the files that
    * contain them (reference: delete chain tombstoning,
    * block_driver.rs:210-249). Manifest id-range stats prune the scan
    * to candidate files BEFORE any data is read — a point delete on a
    * million-file table opens the few files whose range covers the ids,
    * not the whole snapshot. Reads the txn-local view, so repeated
    * mutations in one transaction compose (read-your-own-writes). */
  def delete(ids: Seq[Long]): Unit = rewriteHits(ids, None)

  /** Copy-on-write core of [[delete]] and [[update]]: rewrite the
    * candidate files of `ids` that hold an unmasked row of them — their
    * other rows, plus `transform` of the matched rows for an update —
    * and retire them. Below the [[Instance.pointRows]] gate the
    * candidates are read on the driver ([[rewriteLocal]]), so the whole
    * operation runs no Spark job; above it one scan finds the hit files
    * and the rewrite is a write job ([[rewriteJob]]). */
  private def rewriteHits(ids: Seq[Long],
      transform: Option[DataFrame => DataFrame]): Unit = {
    val cand = candidateFiles(ids)
    if (cand.nonEmpty) {
      val (_, ddl, _) = localState()
      val schema = nullable(StructType.fromDDL(ddl))
      val masks = localMasks(cand)
      inst.pointRows(cand, physSchema(schema, localRen), masks) match {
        case Some(files) =>
          val want = ids.toSet
          val idIdx = schema.fieldIndex("obj_id")
          // a null id is no id: the job path's isin never matches it
          rewriteLocal(schema, files,
            r => !r.isNullAt(idIdx) && want(r.getLong(idIdx)),
            transform.map(t => matched => t(localFrame(inst.spark, schema, matched))))
        case None =>
          val hit = inst.hitOrdinalsJob(cand, ids, masks).keys.toSeq.sorted
          if (hit.nonEmpty) rewriteJob(hit, inst.idReject(_, ids),
            transform.map(t => touched => t(inst.idMatch(touched, ids))))
      }
    }
    objects ++= ids
    spillObjectsIfNeeded()
  }

  /** The driver half of a keyed copy-on-write rewrite, over candidates
    * read on the driver (logical `schema`): every file holding a row
    * `isHit` matches is retired, and its other rows plus `changed` of
    * its matched rows (none when `changed` is None) are staged with
    * writeStaged's driver-side write. A hit file left with no row
    * stages nothing. */
  private def rewriteLocal(schema: StructType,
      files: Seq[(String, IndexedSeq[(Long, InternalRow)])],
      isHit: InternalRow => Boolean,
      changed: Option[Seq[InternalRow] => DataFrame]): Unit = {
    val hit = files.filter(_._2.exists(r => isHit(r._2)))
    if (hit.nonEmpty) {
      val (matched, kept) = hit.flatMap(_._2.map(_._2)).partition(isHit)
      val keptFrame = localFrame(inst.spark, schema, kept)
      val rewrite = changed.fold(keptFrame)(c => keptFrame.unionByName(c(matched)))
      // the changed rows evaluate once, here: the write takes their rows
      val rewritten = localRowsOf(rewrite, Int.MaxValue) match {
        case Some((rows, sch)) =>
          inst.writeStaged(localFrame(inst.spark, sch, rows), this, driverRows = true)
        case None if isEmptyLocal(rewrite) => Nil
        case None => inst.writeStaged(rewrite, this, driverRows = true)
      }
      retire(hit.map(_._1))
      added ++= rewritten
    }
  }

  /** The job half of a keyed copy-on-write rewrite: retire the `hit`
    * files and stage, in one write job, their rows `kept` keeps plus
    * `changed` of them (none when `changed` is None). Both see the hit
    * files' txn-local view. No isEmpty pre-probe: the rewrite executes
    * once, in the write job, and writeStaged drops zero-row parts. */
  private def rewriteJob(hit: Seq[String], kept: DataFrame => DataFrame,
      changed: Option[DataFrame => DataFrame]): Unit = {
    val (_, ddl, _) = localState()
    val touched = inst.viewOf(hit, ddl, localDvs(), localRen)
    val rows = changed.fold(kept(touched))(c => kept(touched).unionByName(c(touched)))
    val rewritten = inst.writeStaged(rows, this)
    retire(hit)
    added ++= rewritten
  }

  /** Row ordinals, per file, of the unmasked rows of `cand` whose obj_id
    * is in `ids` — the one pass a point operation makes over its
    * candidate files, read on the driver below the
    * [[Instance.pointRows]] gate and as one job above it. */
  private def hitOrdinals(cand: Seq[String], ids: Seq[Long],
      masks: Map[String, GraftBitmap]): Map[String, Seq[Long]] =
    inst.pointRows(cand, Instance.IdSchema, masks, {
      val want = ids.toSet
      r => !r.isNullAt(0) && want(r.getLong(0))
    }) match {
      case Some(files) =>
        files.collect { case (f, rows) if rows.nonEmpty => f -> rows.map(_._1) }
          .toMap
      case None => inst.hitOrdinalsJob(cand, ids, masks)
    }

  /** Merge-on-read point delete: instead of rewriting every file that
    * holds one of `ids` (copy-on-write amplification: one masked row
    * costs a whole-file rewrite), write ONE small deletion-vector
    * sidecar of (file, row-ordinal) masks — each touched file's whole
    * mask, its earlier deletes included — and make it the touched
    * files' one sidecar in the manifest. Readers subtract the mask per
    * file — a re-inserted id lands in a NEW file and is never masked — and
    * [[Instance.compact]] materializes and clears outstanding vectors,
    * so the masked set stays bounded. Point-delete sized by contract:
    * the (file, id) hit list is collected on the driver; bulk deletes
    * belong to [[delete]]/[[deleteMatching]], whose cost the rewrite
    * already dominates. Same conflict surface as a CoW delete (the ids
    * are published; dv targets additionally conflict with concurrent
    * rewrites or masks of the same file — see Instance.commit).
    * (Reference: delete marks the object dead in the WAL and defers
    * the physical reclaim, instance.rs:141-168 + vacuum.) */
  def deleteMoR(ids: Seq[Long]): Unit = {
    val cand = candidateFiles(ids)
    if (cand.nonEmpty) {
      // record row ORDINALS, not ids: the positional bitmap is the
      // bounded mask representation at scale (a task's mask cost is
      // O(bitmap words), never O(deleted ids)). obj_id is always
      // in-file (never a partition column — see writeStaged), so
      // every hit file resolves its ordinals. Masked rows are
      // excluded: re-deleting an already-masked id is a no-op, not a
      // second mask.
      val masks = localMasks(cand)
      val hits = hitOrdinals(cand, ids, masks)
      if (hits.nonEmpty) {
        // one sidecar per file (Delta's deletion-vector rule): the
        // file's prior mask unioned with the new hits REPLACES its
        // list, so a reader resolves one bitmap however many deletes
        // the file took. A sidecar an earlier deleteMoR of this
        // transaction wrote is superseded unpublished; vacuum's orphan
        // sweep reclaims it
        val sidecar = inst.writeDvSidecarPos(hits.map { case (f, ords) =>
          f -> masks.getOrElse(f, GraftBitmap.empty).union(GraftBitmap(ords))
        })
        hits.keys.foreach(f => dvDelta(f) = Seq(sidecar))
      }
    }
    objects ++= ids
    spillObjectsIfNeeded()
  }

  /** Merge-on-read point UPDATE: the MoR twin of [[update]] — masks the
    * ids' current rows via a deletion vector (no file rewrite) and
    * inserts the transformed rows as a new file. The re-inserted ids
    * live unmasked in the new file (per-file vectors), so the pair
    * composes exactly like delete-then-insert; conflict metadata is
    * identical to [[update]]'s (the ids are published, the masked
    * file's dv entry conflicts with concurrent rewrites/masks). Point
    * sized by the same contract as [[deleteMoR]]. */
  def updateMoR(ids: Seq[Long], transform: DataFrame => DataFrame): Unit = {
    val (_, ddl, _) = localState()
    val cand = candidateFiles(ids)
    if (cand.nonEmpty) {
      // masks are resolved into the plan as literal arrays at
      // construction, so this view keeps reading PRE-mask rows even
      // after deleteMoR below registers the new vector
      val current = inst.idMatch(inst.viewOf(cand, ddl, localDvs(), localRen), ids)
      val updated = transform(current)
        .select(StructType.fromDDL(ddl).fieldNames.map(col).toIndexedSeq: _*)
      deleteMoR(ids)
      insert(updated) // empty update stages nothing (no pre-probe)
    }
    objects ++= ids
    spillObjectsIfNeeded()
  }

  /** Update objects by id with a column transformation — copy-on-write
    * (reference: open_write under object lock, instance.rs:141-168;
    * blocking lock replaced by commit-time conflict detection). Same
    * stats-pruned candidate scan as [[delete]]. */
  def update(ids: Seq[Long], transform: DataFrame => DataFrame): Unit =
    rewriteHits(ids, Some(transform))

  /** Row-level SQL rewrite (DELETE/UPDATE/MERGE through ReplaceData):
    * adopt externally staged replacement files for the `scanned` base
    * files. The scanned files must all still be live at this txn's
    * read version — an interleaved commit that removed one means the
    * replacement was computed from stale groups and must conflict, not
    * silently resurrect or double-delete rows. `pinnedDvs` is the
    * deletion-vector state the SCAN was planned against (pinned at
    * table resolution, which predates this txn's begin): a scanned
    * file whose dv entry differs at the txn's read version was masked
    * (or un-masked) between scan-pin and commit — the rewrite, planned
    * with the stale masks, would retire the file and silently resurrect
    * the concurrently-deleted rows, so it must conflict instead. (The
    * commit-window dvOverlap check only covers versions AFTER
    * txn.readVersion; this closes the scan-pin..begin gap.)
    * `pinnedMapping` is the (schemaDDL, renames) state the WRITE was
    * planned against: staged files spell the physical names resolved
    * then, so a rename/DDL change committed between plan and this txn's
    * begin means the staged files spell stale names (their columns
    * would silently read as NULL) — it must conflict too, closing the
    * same gap for column mapping. Conflict metadata is a
    * saturated-bloom summary over the union of retired and staged id
    * ranges (bounded, never O(rows)). */
  private[acid] def replaceScanned(scanned: Seq[String],
      staged: Seq[String],
      pinnedDvs: Map[String, Seq[String]] = Map.empty,
      pinnedMapping: Option[(String, Map[String, String])] = None): Unit = {
    val (live, ddl, stats) = localState()
    pinnedMapping.foreach { case (ddl0, ren0) =>
      if (ddl0 != ddl || ren0 != localRen)
        throw new ConflictException(
          "row-level rewrite was planned against a schema/column-mapping " +
          "state a concurrent commit has since changed (staged files " +
          "would spell stale physical names); retry")
    }
    val gone = scanned.filterNot(live.toSet)
    if (gone.nonEmpty)
      throw new ConflictException(
        s"row-level rewrite scanned ${gone.size} file(s) a concurrent " +
        s"commit already removed (${gone.take(3).mkString(", ")}...); retry")
    val nowDvs = localDvs()
    val dvDrift = scanned.filter(f =>
      nowDvs.getOrElse(f, Nil) != pinnedDvs.getOrElse(f, Nil))
    if (dvDrift.nonEmpty)
      throw new ConflictException(
        s"row-level rewrite scanned ${dvDrift.size} file(s) whose deletion " +
        s"vectors changed since the scan was planned " +
        s"(${dvDrift.take(3).mkString(", ")}...); retry")
    // full universal footer stats for the replacement files, exactly
    // like writeStaged — without this a SQL UPDATE/MERGE rewrite would
    // silently DROP the rewritten files out of the data-skipping index
    // until the next compaction (footers are keyed by PHYSICAL names)
    val ren = localRen
    val statCols: Set[String] = VersionedTable.statLeafCols(
      StructType.fromDDL(ddl), inst.conf, ren)
    val stagedStats = inst.pooledMap(staged)(f =>
      f -> inst.footerAllStats(new Path(inst.dataDir, f), statCols))
    stagedStats.foreach { case (f, us) =>
      us.get("obj_id").flatMap(_.longRange)
        .filter { case (lo, hi) => lo <= hi }
        .foreach(addedStats(f) = _)
      val rest = us - "obj_id"
      if (rest.nonEmpty) addedFileStats(f) = rest
    }
    // declared per-file blooms for the replacement files too — the
    // streaming sink and SQL row-level rewrites adopt staged files
    // through here, and a rewritten file silently dropping out of the
    // bloom index would erode point-predicate skipping commit by
    // commit (same reasoning as the footer stats above)
    inst.fileBlooms(stagedStats,
        inst.conf.fileBloomCols.map(c => ren.getOrElse(c, c)).distinct)
      .foreach { case (f, entries) =>
        addedFileStats(f) = addedFileStats.getOrElse(f, Map.empty) ++ entries
      }
    retire(scanned)
    added ++= staged
    // segmented snapshot: scanned checkpoint-covered files' id ranges
    // live in the side files — bulk-fetch them so the conflict summary
    // stays tight (the inline-map miss would otherwise saturate to the
    // full id range and over-conflict every concurrent commit)
    val scStats: Map[String, (Long, Long)] = cachedBaseState().sidecar match {
      case Some(sc) =>
        val covered = scanned.toSet -- sc.tailLive -- sc.excluded
        if (covered.isEmpty) Map.empty
        else inst.sidecarRowsFor(sc.ref, covered)
          .flatMap(r => CheckpointStore.statsOf(r).map(r.file -> _)).toMap
      case None => Map.empty
    }
    val ranges = scanned.map(f => stats.getOrElse(f,
        scStats.getOrElse(f, (Long.MinValue, Long.MaxValue)))) ++
      stagedStats.flatMap(_._2.get("obj_id").flatMap(_.longRange)
        .filter { case (lo, hi) => lo <= hi })
    if (ranges.nonEmpty)
      mergeSummary(ObjSummary(0L, ranges.map(_._1).min, ranges.map(_._2).max,
        IdBloom.saturated(inst.conf.bloomBits)))
  }

  /** Stage this transaction's EXACT row-level change images as CDC
    * side files (the [[EngineConf.changeDataFeed]] write path): diff
    * the removed files' rows (under the base snapshot's deletion
    * masks) against the added files' rows, keyed by obj_id — ids only
    * after are inserts, only before are deletes, both-sides rows that
    * differ are update pre/post image pairs, and byte-identical rows
    * are CoW copy-backs that emit nothing (same classification as the
    * batch [[Instance.changes]] diff, which the reference anchors via
    * exact overwrite pre-images, src/storage/version_store.rs:100-119).
    * Written as parquet under a `cdc-` prefixed subdir of the data
    * dir, columns in PHYSICAL names plus `_change_type`; one
    * distributed job, rows never on the driver. Returns the staged
    * relative paths. */
  private[acid] def writeCdcDiff(): Seq[String] = {
    val base = cachedBaseState()
    val removedFiles = removed.toSeq.sorted
    val addedFiles = added.toSeq.sorted
    val ddl = schemaDDL.getOrElse(base.ddl)
    val ren = localRen
    val pre = inst.viewOf(removedFiles, base.ddl, base.dvs, base.renames)
    val post = inst.viewOf(addedFiles, ddl, localDvs(), ren)
    val events = inst.rowDiff(pre, post)((df, change) =>
      df.withColumn("_change_type", lit(change)))
    // side files spell the fixed PHYSICAL names, like every data file
    val physNamed = events.select(events.columns.toSeq.map(n =>
      col(n).as(ren.getOrElse(n, n))): _*)
    val sub = s"cdc-${java.util.UUID.randomUUID().toString.take(12)}"
    physNamed.write.parquet(new Path(inst.dataDir, sub).toString)
    val names = inst.fs.listStatus(new Path(inst.dataDir, sub))
      .filter(e => e.isFile && !e.getPath.getName.startsWith("_"))
      .map(e => s"$sub/${e.getPath.getName}").toSeq.sorted
    cdcStaged ++= names
    names
  }

  /** Remove every row of the txn-local snapshot (SQL TRUNCATE): retires
    * all current files as one metadata-only delta — copy-on-write keeps
    * the bytes, so the pre-truncate version stays time-travelable.
    * Conflict metadata is a saturated summary over the PRE-truncate id
    * range: truncation logically touches every object that could exist
    * in its snapshot, so any concurrent writer of an id in that range
    * conflicts (the saturated bloom contains every id, the range gates
    * it). A writer of brand-new ids OUTSIDE the range commutes with
    * truncate — the history serializes as truncate-then-insert — and
    * is deliberately allowed through. */
  def truncate(): Unit = {
    val (files, _, stats) = localState()
    if (files.nonEmpty) {
      retire(files)
      // segmented snapshot: the inline stats cover only the tail, so
      // the true id coverage is unknown on the driver — saturate the
      // whole range (conservative: may over-conflict, never loses)
      val partial = cachedBaseState().sidecar.isDefined
      val lo = if (stats.isEmpty || partial) Long.MinValue
        else stats.values.map(_._1).min
      val hi = if (stats.isEmpty || partial) Long.MaxValue
        else stats.values.map(_._2).max
      mergeSummary(ObjSummary(0L, lo, hi,
        IdBloom.saturated(inst.conf.bloomBits)))
    }
  }

  /** A rewritten file that this transaction itself staged is dropped
    * from `added` (it was never published, so the manifest must not
    * list it as removed); only base-version files go to `removed`. */
  private def retire(files: Seq[String]): Unit = files.foreach { f =>
    val i = added.indexOf(f)
    if (i >= 0) { added.remove(i); retired += f }
    else removed += f
    // a rewrite of a file this txn had masked materializes the mask
    // (the rewrite read through localMasks) — publishing the entry too
    // would attach a dv to a dead file
    dvDelta -= f
  }

  private def relativize(fileUri: String): String = {
    // strip the qualified data-dir prefix so the relative path keeps
    // EVERY segment below it — partitioned files sit at depth 2+
    // (staging/k=v/file) and a fixed take-last-2 would drop the
    // staging dir
    // compare scheme-independent PATHS (file:/ vs file:/// spellings
    // differ between makeQualified and input_file_name); URI.getPath
    // also undoes percent-encoding
    val base = inst.fs.makeQualified(inst.dataDir).toUri.getPath + "/"
    val filePath =
      try new java.net.URI(fileUri).getPath
      catch { case _: java.net.URISyntaxException => fileUri }
    if (filePath != null && filePath.startsWith(base))
      filePath.substring(base.length)
    else fileUri.split('/').takeRight(2).mkString("/")
  }

  private[acid] def abort(): Unit = {
    inst.deleteStagingDirs(this)
    added.clear(); removed.clear(); objects.clear(); retired.clear()
    addedStats.clear(); addedColStats.clear(); addedFileStats.clear()
    adopted.clear(); cdcStaged.clear()
    schemaDDL = None; schemaEvolved = false; renames = None
    tombstones = None; consOverride = None
    objSummary = None
  }
}

object Txn {
  /** Lossless type promotions a [[Txn.widenColumn]] accepts: existing
    * files keep the narrow physical type and parquet readers promote
    * at scan time (the same set Spark's vectorized reader supports). */
  private[acid] def widens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }
}
