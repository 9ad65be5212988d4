package graft.acid

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.acid.VersionedTable.UStat

/** Columnar (parquet) checkpoint side files — the scale path for the
  * manifest log's per-file state.
  *
  * An INLINE checkpoint carries the full fold (live files, id ranges,
  * column stats, dv lists) inside one JSON manifest; folding it is an
  * O(files) driver-side parse, and every query's file skipping walks
  * the resulting maps on the driver. That is the classic metadata
  * scale wall (the reference bounds recovery cost with checkpoints for
  * the same reason, src/system/checkpointer.rs:86-176; Delta hit it
  * and moved to parquet checkpoints). Past
  * [[EngineConf.checkpointInlineFiles]] live files, a checkpoint
  * manifest instead publishes `ckptRef` -> a parquet directory under
  * `_manifests/` holding ONE ROW PER LIVE FILE with every index the
  * planner needs:
  *
  *  - the JSON manifest stays O(1) regardless of table size;
  *  - the side files are written by a distributed Spark job that folds
  *    the PREVIOUS side files plus the O(checkpointInterval) tail of
  *    delta manifests — the driver never materializes the stat maps;
  *  - file skipping over checkpoint-covered files runs as a Spark
  *    filter over the side files ([[Instance.sidecarSurvivors]]),
  *    returning only survivor names to the driver — the skip loop is
  *    distributed, O(files / cores) per executor;
  *  - the driver-materialized part of [[VersionedTable.TableState]]
  *    shrinks to the live file NAME list and the (sparse) dv map —
  *    the stat maps stay columnar on disk.
  *
  * Stat columns are flattened to parallel arrays (same discipline as
  * the JSON codec) so the row encoder stays primitive-only and the
  * parquet schema is stable. `uKinds` carries [[UStat.kind]] as
  * single-char strings. */
private[acid] object CheckpointStore {

  /** One live data file's full planner state. `size`/`mtime` are the
    * file's on-store status, captured ONCE at checkpoint time (data
    * files are immutable, so they never go stale) — split planning
    * over checkpoint-covered files then needs ZERO per-file status
    * RPCs; 0 = unknown (synthetic/legacy rows), falls back to a
    * status fetch. */
  final case class CkptRow(
      file: String,
      idMin: Option[Long], idMax: Option[Long],
      colNames: Seq[String], colMins: Seq[Long], colMaxs: Seq[Long],
      dvList: Seq[String],
      uCols: Seq[String], uKinds: Seq[String],
      uMins: Seq[String], uMaxs: Seq[String], uNulls: Seq[Long],
      size: Long = 0L, mtime: Long = 0L)

  implicit val ckptRowEncoder: Encoder[CkptRow] = Encoders.product[CkptRow]

  def toRow(file: String, stats: Option[(Long, Long)],
      colStats: Map[String, (Long, Long)],
      dvs: Seq[String],
      fileStats: Map[String, UStat],
      size: Long = 0L, mtime: Long = 0L): CkptRow = {
    val cs = colStats.toSeq.sortBy(_._1)
    val us = fileStats.toSeq.sortBy(_._1)
    CkptRow(file, stats.map(_._1), stats.map(_._2),
      cs.map(_._1), cs.map(_._2._1), cs.map(_._2._2),
      dvs,
      us.map(_._1), us.map(_._2.kind.toString),
      us.map(_._2.min), us.map(_._2.max), us.map(_._2.nulls),
      size, mtime)
  }

  def statsOf(r: CkptRow): Option[(Long, Long)] =
    for (lo <- r.idMin; hi <- r.idMax) yield (lo, hi)

  def colStatsOf(r: CkptRow): Map[String, (Long, Long)] =
    r.colNames.indices.map(i =>
      r.colNames(i) -> (r.colMins(i), r.colMaxs(i))).toMap

  def ustatsOf(r: CkptRow): Map[String, UStat] =
    r.uCols.indices.map(i =>
      r.uCols(i) -> UStat(r.uKinds(i).head, r.uMins(i), r.uMaxs(i),
        r.uNulls(i))).toMap

  /** Sidecar parquet schema, pinned explicitly on every read so an
    * EMPTY sidecar (truncated table) still reads with the right
    * shape and a foreign file in the directory fails loudly. */
  def readRows(spark: SparkSession, path: String): Dataset[CkptRow] =
    spark.read.schema(ckptRowEncoder.schema).parquet(path).as[CkptRow]

  /** Executor-safe test for a candidate screen: may an obj-id range
    * [lo, hi] contain one of the (sorted) probe ids? Built HERE (object
    * member) so the returned closure captures only the array — never a
    * Txn/Instance. */
  def holdsAnyOf(sortedIds: Array[Long]): (Long, Long) => Boolean = (lo, hi) => {
    var i = java.util.Arrays.binarySearch(sortedIds, lo)
    if (i < 0) i = -i - 1
    i < sortedIds.length && sortedIds(i) <= hi
  }

  /** Running cross-file merge of one column's [[UStat]]s — the shape
    * metadata-only aggregate pushdown folds over every live file.
    * `kind` 'X' = irreconcilable kinds were seen (the column cannot be
    * answered from stats); 'N' contributes nulls but no value bounds.
    * `nulls` is the exact total, or -1 once any file's count is
    * unknown. `sum` accumulates Σ(min) for 'L' entries — the row-count
    * total when the column is the [[VersionedTable.RowsKey]]
    * pseudo-stat (min == max == rows per file). `entries` counts files
    * that carried the stat at all: a merge only answers an aggregate
    * when entries equals the snapshot's file count (a stat-less file
    * could hold anything). */
  final case class MergedU(kind: Char = 0, min: String = "", max: String = "",
      nulls: Long = 0L, sum: Long = 0L, entries: Long = 0L,
      valueSeen: Boolean = false) {
    def add(u: UStat): MergedU = {
      val ns = if (nulls < 0 || u.nulls < 0) -1L else nulls + u.nulls
      val nsum = if (u.kind == 'L') sum + u.min.toLong else sum
      if (u.kind == 'N' || kind == 'X')
        copy(nulls = ns, sum = nsum, entries = entries + 1)
      else if (!valueSeen)
        MergedU(u.kind, u.min, u.max, ns, nsum, entries + 1, valueSeen = true)
      else if (u.kind != kind)
        copy(kind = 'X', nulls = ns, sum = nsum, entries = entries + 1)
      else {
        val (lo, hi) = kind match {
          case 'L' | 'T' | 'A' | 'B' =>
            (if (u.min.toLong < min.toLong) u.min else min,
             if (u.max.toLong > max.toLong) u.max else max)
          case 'D' =>
            (if (u.min.toDouble < min.toDouble) u.min else min,
             if (u.max.toDouble > max.toDouble) u.max else max)
          case 'S' =>
            (if (VersionedTable.utf8Cmp(u.min, min) < 0) u.min else min,
             if (VersionedTable.utf8Cmp(u.max, max) > 0) u.max else max)
          case 'M' =>
            val (a, b) = (new java.math.BigDecimal(u.min),
              new java.math.BigDecimal(u.max))
            (if (a.compareTo(new java.math.BigDecimal(min)) < 0) u.min else min,
             if (b.compareTo(new java.math.BigDecimal(max)) > 0) u.max else max)
          case _ => return copy(kind = 'X', nulls = ns, sum = nsum,
            entries = entries + 1)
        }
        MergedU(kind, lo, hi, ns, nsum, entries + 1, valueSeen = true)
      }
    }
    def merge(o: MergedU): MergedU = {
      val ns = if (nulls < 0 || o.nulls < 0) -1L else nulls + o.nulls
      val nsum = sum + o.sum
      val nent = entries + o.entries
      if (kind == 'X' || o.kind == 'X')
        MergedU('X', "", "", ns, nsum, nent, valueSeen || o.valueSeen)
      else if (!o.valueSeen) copy(nulls = ns, sum = nsum, entries = nent)
      else if (!valueSeen) o.copy(nulls = ns, sum = nsum, entries = nent)
      else if (o.kind != kind) MergedU('X', "", "", ns, nsum, nent, true)
      else {
        val (lo, hi) = kind match {
          case 'L' | 'T' | 'A' | 'B' =>
            (if (o.min.toLong < min.toLong) o.min else min,
             if (o.max.toLong > max.toLong) o.max else max)
          case 'D' =>
            (if (o.min.toDouble < min.toDouble) o.min else min,
             if (o.max.toDouble > max.toDouble) o.max else max)
          case 'S' =>
            (if (VersionedTable.utf8Cmp(o.min, min) < 0) o.min else min,
             if (VersionedTable.utf8Cmp(o.max, max) > 0) o.max else max)
          case 'M' =>
            (if (new java.math.BigDecimal(o.min)
               .compareTo(new java.math.BigDecimal(min)) < 0) o.min else min,
             if (new java.math.BigDecimal(o.max)
               .compareTo(new java.math.BigDecimal(max)) > 0) o.max else max)
          case _ => return MergedU('X', "", "", ns, nsum, nent, true)
        }
        MergedU(kind, lo, hi, ns, nsum, nent, valueSeen = true)
      }
    }
  }

  /** Flat row shape the distributed partial-merge returns (one row per
    * needed column per partition — O(cols × partitions) to the
    * driver, never O(files)). */
  final case class MergedRow(col: String, kind: String, min: String,
      max: String, nulls: Long, sum: Long, entries: Long, valueSeen: Boolean)

  implicit val mergedRowEncoder: Encoder[MergedRow] = Encoders.product[MergedRow]

  def toMergedRow(col: String, m: MergedU): MergedRow =
    MergedRow(col, m.kind.toString, m.min, m.max, m.nulls, m.sum,
      m.entries, m.valueSeen)

  def fromMergedRow(r: MergedRow): MergedU =
    MergedU(if (r.kind.isEmpty) 0 else r.kind.head, r.min, r.max,
      r.nulls, r.sum, r.entries, r.valueSeen)

  /** Executor-side partial merge of the needed columns' ustats over
    * one partition of checkpoint rows (excluded rows skipped). Object
    * member so the closure captures only the two small sets. */
  def partialMerge(cols: Set[String], excluded: Set[String])
      : Iterator[CkptRow] => Iterator[MergedRow] = { it =>
    val accs = scala.collection.mutable.HashMap[String, MergedU]()
    it.foreach { r =>
      if (!excluded(r.file)) {
        var i = 0
        while (i < r.uCols.length) {
          val c = r.uCols(i)
          if (cols(c)) {
            val u = UStat(r.uKinds(i).head, r.uMins(i), r.uMaxs(i),
              r.uNulls(i))
            accs.update(c, accs.getOrElse(c, MergedU()).add(u))
          }
          i += 1
        }
      }
    }
    accs.iterator.map { case (c, m) => toMergedRow(c, m) }
  }

  /** [[MergedRow]] keyed by a hive-partition group: `group` carries
    * the RAW `k=v` path segment values for the grouping columns (the
    * driver decodes them once per group), and the reserved col
    * [[FilesCol]] counts the group's files (`entries`) regardless of
    * any stat's presence. A file MISSING one of the grouping segments
    * poisons the whole fold (col = [[BadGroupCol]]) — grouped
    * metadata answers then refuse. */
  final case class GroupedRow(group: Seq[String], col: String, kind: String,
      min: String, max: String, nulls: Long, sum: Long, entries: Long,
      valueSeen: Boolean)

  implicit val groupedRowEncoder: Encoder[GroupedRow] =
    Encoders.product[GroupedRow]

  val FilesCol = "#files"
  val BadGroupCol = "#badgroup"

  /** Raw partition values of `pcols` from a file's relative path, in
    * order — None when any segment is absent (mixed layout). */
  def groupOf(file: String, pcols: Seq[String]): Option[Seq[String]] = {
    val pairs = scala.collection.mutable.HashMap[String, String]()
    file.split('/').dropRight(1).foreach { seg =>
      val i = seg.indexOf('=')
      if (i > 0) pairs.update(seg.substring(0, i), seg.substring(i + 1))
    }
    val vals = pcols.map(pairs.get)
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** Executor-side GROUPED partial merge: like [[partialMerge]] but
    * keyed by the file's partition group, plus a [[FilesCol]] row per
    * group counting its files. */
  def groupedPartialMerge(groupPcols: Seq[String], cols: Set[String],
      excluded: Set[String]): Iterator[CkptRow] => Iterator[GroupedRow] = {
    it =>
    val accs =
      scala.collection.mutable.HashMap[(Seq[String], String), MergedU]()
    var bad = false
    it.foreach { r =>
      if (!bad && !excluded(r.file)) {
        groupOf(r.file, groupPcols) match {
          case None => bad = true
          case Some(g) =>
            val fkey = (g, FilesCol)
            val cur = accs.getOrElse(fkey, MergedU())
            accs.update(fkey, cur.copy(entries = cur.entries + 1))
            var i = 0
            while (i < r.uCols.length) {
              val c = r.uCols(i)
              if (cols(c)) {
                val u = UStat(r.uKinds(i).head, r.uMins(i), r.uMaxs(i),
                  r.uNulls(i))
                accs.update((g, c), accs.getOrElse((g, c), MergedU()).add(u))
              }
              i += 1
            }
        }
      }
    }
    if (bad) Iterator.single(GroupedRow(Nil, BadGroupCol, "", "", "",
      0L, 0L, 0L, valueSeen = false))
    else accs.iterator.map { case ((g, c), m) =>
      GroupedRow(g, c, m.kind.toString, m.min, m.max, m.nulls, m.sum,
        m.entries, m.valueSeen)
    }
  }

  /** Integral-comparable sort range of `pcol` for one checkpoint row:
    * the primary id index for obj_id, else Z-order colStats, else the
    * ustat's longRange; degenerate (all-null) ranges excluded. */
  def sortRangeOf(r: CkptRow, pcol: String): Option[(Long, Long)] = {
    val range =
      if (pcol == "obj_id") statsOf(r)
      else colStatsOf(r).get(pcol)
        .orElse(ustatsOf(r).get(pcol).flatMap(_.longRange))
    range.filter { case (lo, hi) => lo <= hi }
  }

  /** (sort key, coverage rows) for topN cutoff computation — see
    * [[GraftScan]]'s topN pruning contract. The key is the file's
    * worst value in sort direction (max for ASC, min for DESC): once
    * the running coverage over keys in sort order reaches n, every
    * file wholly past the cutoff is out of the top-n. Coverage is the
    * file's row count, minus nulls under NULLS LAST (null rows don't
    * precede values then); dv-masked, count-less, or unknown-null
    * files cover 0 (kept, never relied on). None = no usable range
    * (the file is always kept and covers nothing). */
  def topNTuple(r: CkptRow, pcol: String, asc: Boolean,
      nullsFirst: Boolean): Option[(Long, Long)] =
    sortRangeOf(r, pcol).map { case (lo, hi) =>
      val ri = r.uCols.indexOf(VersionedTable.RowsKey)
      val rows = if (ri >= 0) r.uMins(ri).toLong else -1L
      val nulls =
        if (pcol == "obj_id") 0L // the engine's row id is never null
        else ustatsOf(r).get(pcol).map(_.nulls).getOrElse(-1L)
      val cover =
        if (r.dvList.nonEmpty || rows < 0L) 0L
        else if (nullsFirst) rows
        else if (nulls >= 0L) rows - nulls
        else 0L
      (if (asc) hi else lo, cover)
    }

  /** Survivor predicate for a computed topN cutoff `m`: keep when the
    * file's best value in sort direction is not past the cutoff, when
    * it has no usable range, or (NULLS FIRST) when it may hold null
    * rows — all conservative keeps. */
  def topNKeep(pcol: String, m: Long, asc: Boolean,
      keepNulls: Boolean): CkptRow => Boolean = r =>
    sortRangeOf(r, pcol) match {
      case None => true
      case Some((lo, hi)) =>
        (if (asc) lo <= m else hi >= m) || (keepNulls && {
          if (pcol == "obj_id") false
          else ustatsOf(r).get(pcol).map(_.nulls).forall(_ != 0L)
        })
    }
}
