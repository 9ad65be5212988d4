package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}

import graft.acid.{EngineConf, EpochAlreadyCommittedException, Instance, MaterializedAggView, MetaJson, VersionedTable}

/** PERSISTED IVF ANN index — the "index once, search forever" shape
  * [[Similarity.annTop1Ivf]] (which trains + assigns per call) needs
  * at 100 TB, where re-running distributed k-means and a full corpus
  * assignment per query batch is the dominant cost:
  *
  *  - `build` trains the coarse quantizer ONCE (the same deterministic
  *    Lloyd — driver-sample or distributed partial-sums regime) and
  *    persists centroids (`_ivf.json` under the index root) plus the
  *    corpus assignments as a GRAFT TABLE hive-partitioned by `cell` —
  *    so the index itself is versioned, ACID, vacuumable, and its
  *    bucket layout is the partition index;
  *  - `search` probes each query's `nProbe` nearest cells and reads
  *    ONLY those cell partitions (the probed cell set is bounded by
  *    the index geometry, never the data, so the filter is a plan-time
  *    partition prune), then exact-scores candidates with the codegen
  *    cosine. `nProbe = nCells` degrades to exact brute force —
  *    the verifiable anchor;
  *  - for a graft SOURCE table, `refresh` keeps the index current
  *    incrementally: the commit interval's changed ids (one
  *    [[Instance.weightedDelta]] scan, O(churn)) are deleted from the
  *    assignment table and their head rows re-assigned to their
  *    nearest (FIXED) centroid, landed as one atomic commit under the
  *    same fenced watermark discipline as materialized views — crash-
  *    safe, idempotent, concurrent-refresher-proof. Centroids are
  *    deliberately not retrained (the standard IVF contract); rebuild
  *    when drift degrades recall. A refresh whose interval was
  *    vacuumed (or a never-refreshed index) rebuilds from the head
  *    snapshot — O(table), bounded plan, never a dead FileNotFound.
  *
  * Reference analog: db-core's free-info hierarchy is a persistent,
  * write-maintained index over block state (free_info.rs:84-194); here
  * the maintained index is over vector space. */
final class IvfIndex private[operators] (
    spark: SparkSession, val root: String,
    val dim: Int, val nCells: Int,
    val centroids: Array[Array[Double]],
    val assign: Instance,
    val sourceRoot: Option[String],
    val idCol: String, val vecCol: String,
    calibration0: Seq[(Int, Long, Long)] = Nil) {

  private def appId = "ivf:" + new Path(root).toString

  /** Persisted recall curve: per probe rung, (nProbe, top-1 hits, n)
    * measured against the full-probe (= exact) answers on a
    * deterministic sample — written into `_ivf.json` by [[calibrate]]
    * and read back by [[IvfIndex.open]], so recall-targeted search
    * pays ZERO measurement or training jobs per call. */
  @volatile private var curve: Seq[(Int, Long, Long)] = calibration0
  def calibrationCurve: Seq[(Int, Long, Long)] = curve

  /** Source version the assignments reflect (-1 = plain-DataFrame
    * build or never refreshed). */
  def indexedVersion: Long =
    assign.lastCommittedEpoch(appId).getOrElse(-1L)

  /** Nearest-centroid cell id for a vector column — the same
    * first-wins argmax (cs desc, cell asc) the trainer uses. Codegen'd
    * straight-line literals while the centroid matrix is small.
    *
    * NaN CONTRACT (shared with the broadcast regime): a zero-norm
    * vector or centroid scores cosine NaN. Spark SQL sorts NaN
    * GREATEST while the broadcast scorer's `cs > bestCs` NEVER
    * accepts NaN — left raw, the two regimes would assign such a row
    * to DIFFERENT cells and a partial probe could silently miss it.
    * `nanvl(cs, -Inf)` pins NaN to "worst score" in the SQL regime,
    * matching [[IvfIndex.cosSim]]'s -Inf mapping: both regimes rank a
    * degenerate pair last and tie-break to the lowest cell id. */
  private def nearestCell(v: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val scored = centroids.zipWithIndex.map { case (w, c) =>
      struct(nanvl(Similarity.cosine(spark, v,
        array(w.toSeq.map(lit): _*)), lit(Double.NegativeInfinity))
        .as("cs"), lit(-c).as("nc"))
    }
    val best =
      if (scored.length == 1) scored.head
      else greatest(scored.toIndexedSeq: _*)
    (-best("nc")).cast("int")
  }

  /** Two regimes, same answer: up to [[IvfIndex.PlanCells]] centroids
    * the scorer is compiled into the plan (literal arrays, widest
    * whole-stage codegen); past it the matrix rides a BROADCAST
    * variable through one mapPartitions pass — O(nCells·dim) heap per
    * executor, plan size O(1), the shape a 100k-cell quantizer needs
    * (janino would choke on — or spend seconds compiling — a plan
    * carrying the matrix as literals). */
  private[operators] def assignRows(rows: DataFrame): DataFrame = {
    val norm = rows.select(col(idCol).cast("long").as("obj_id"),
      col(vecCol).cast("array<double>").as("v"))
    if (nCells <= IvfIndex.PlanCells)
      norm.withColumn("cell", nearestCell(col("v")))
    else {
      val bc = spark.sparkContext.broadcast(centroids)
      val out = StructType(norm.schema.fields :+
        StructField("cell", IntegerType, nullable = false))
      spark.createDataFrame(
        norm.rdd.mapPartitions { it =>
          val cs = bc.value
          it.map { r =>
            val v = r.getSeq[Double](1).toArray
            org.apache.spark.sql.Row(r.get(0), r.get(1),
              IvfIndex.nearestIdx(v, cs))
          }
        }, out)
    }
  }

  /** Per-query exact top-1 over the probed cells: `(vec_id,
    * neighbor_id, cs)`, ordered — same shape (and at `nProbe =
    * nCells`, same ANSWER) as the brute-force [[Similarity.annTop1]].
    * Candidate reading is a partition-pruned scan of exactly the
    * probed cells' files. */
  def search(queries: DataFrame, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, $nCells]")
    // materialized once: the probe assignment (per-query O(nCells·dim)
    // scoring) is consumed by the cell collection/broadcast AND the
    // candidate join — without this it would re-execute per consumer
    val probes = queryProbes(queries, nProbe).localCheckpoint()
    val corpus = probedCorpus(probes)
    Similarity.top1(corpus.join(probes, Seq("cell"))
      .filter(col("obj_id") =!= col("qid"))
      .select(col("qid"), col("obj_id").as("nid"),
        round(Similarity.cosine(spark, col("qv"), col("v")), 4).as("cs")))
  }

  /** Exact top-k over the probed cells: `(vec_id, neighbor_id, cs,
    * rank)` — [[Similarity.annTopK]]'s shape. */
  def searchTopK(queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells,
      s"nProbe must be in [1, $nCells]")
    val probes = queryProbes(queries, nProbe).localCheckpoint()
    val corpus = probedCorpus(probes)
    corpus.join(probes, Seq("cell"))
      .filter(col("obj_id") =!= col("qid"))
      .select(col("qid"), col("obj_id").as("nid"),
        round(Similarity.cosine(spark, col("qv"), col("v")), 4).as("cs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("cs").desc, col("nid"))))
      .filter(col("rank") <= k)
      .select(col("qid").as("vec_id"), col("nid").as("neighbor_id"),
        col("cs"), col("rank"))
      .orderBy("vec_id", "rank")
  }

  /** Measure and PERSIST the probe→recall curve: for each rung of a
    * doubling nProbe ladder, top-1 agreement with the full-probe
    * (= exact) answers on a deterministic calibration sample — the
    * TAIL of the hash-rank permutation, never the k-means seeds (the
    * seeds' cells are biased toward them; a head sample measured
    * 1.000 vs 0.55 population in the per-call path's history). The
    * curve lands in `_ivf.json` next to the centroids, so
    * [[searchTargeted]] on a REOPENED index picks its probe count
    * with zero measurement/training jobs. Raw (hits, n) counts are
    * stored, not a boolean per target: any future targetRecall
    * evaluates against the same curve via the Wilson LCB.
    *
    * Call after [[refresh]] when churn accumulates — the curve
    * measures a snapshot of the assignments; the IVF contract
    * (centroids fixed, rebuild on drift) makes it drift-slowly, not
    * wrong, under incremental refresh. Not run per-refresh by
    * default: a streaming sink advancing the index every epoch must
    * not pay a ladder of measurement jobs per micro-batch. */
  def calibrate(sampleQueries: Int = 16): Seq[(Int, Long, Long)] = {
    val ladder =
      Iterator.iterate(1)(_ * 2).takeWhile(_ < nCells).toSeq
    val measured: Seq[(Int, Long, Long)] =
      if (nCells <= IvfIndex.PlanCells) {
        // ONE scored pass over the STORED assignments calibrates the
        // whole curve (previously: the exact full-probe anchor plus
        // one partition-pruned search per rung — ~2x the corpus read
        // and a ladder of count jobs). Each (sample query, corpus row)
        // pair is tagged with the 1-based rank of the row's stored
        // cell in the query's cell ranking (the same nanvl'd
        // (cs desc, cell asc) order queryProbes uses), so rung nProbe
        // reaches the pair iff rank <= nProbe — every rung's top-1 and
        // the exact one fall out of one grouped max. Literal-plan
        // regime only; the broadcast regime (huge nCells) keeps the
        // per-rung ladder below.
        val corpus = assign.read().select(col("obj_id"),
          col("v").cast("array<double>").as("v"), col("cell"))
        val sample = corpus
          .orderBy(Sampling.splitBucket(col("obj_id"), Int.MaxValue).desc,
            col("obj_id").desc)
          .limit(sampleQueries)
        val ranked = transform(array_sort(array(
          centroids.zipWithIndex.map { case (w, c) =>
            struct((-nanvl(Similarity.cosine(spark, col("qv"),
              array(w.toSeq.map(lit): _*)),
              lit(Double.NegativeInfinity))).as("nc"),
              lit(c).as("cell"))
          }.toIndexedSeq: _*)), x => x.getField("cell"))
        val qside = sample.select(col("obj_id").as("qid"), col("v").as("qv"))
          .withColumn("_cells", ranked)
        val pairs = corpus.join(broadcast(qside), col("obj_id") =!= col("qid"))
          .select(col("qid"),
            struct(round(Similarity.cosine(spark, col("qv"), col("v")), 4)
              .as("cs"), (-col("obj_id")).as("nn")).as("_st"),
            array_position(col("_cells"), col("cell")).as("_r"))
        val aggCols = max(col("_st")).as("_exact") +:
          ladder.zipWithIndex.map { case (p, i) =>
            max(when(col("_r") <= p, col("_st"))).as(s"_r$i") }
        val rows = pairs.groupBy("qid").agg(aggCols.head, aggCols.tail: _*)
          .collect()
        val n = rows.length.toLong
        ladder.zipWithIndex.map { case (p, i) =>
          val hits = rows.count { r => !r.isNullAt(2 + i) &&
            r.getStruct(2 + i).getLong(1) == r.getStruct(1).getLong(1) }
          (p, hits.toLong, n)
        }
      } else {
        val corpus = assign.read()
          .select(col("obj_id").as(idCol), col("v").as(vecCol))
        val sample = corpus
          .orderBy(Sampling.splitBucket(col(idCol), Int.MaxValue).desc,
            col(idCol).desc)
          .limit(sampleQueries).localCheckpoint()
        val exact = search(sample, nCells)
          .select(col("vec_id"), col("neighbor_id").as("_en"))
          .localCheckpoint()
        val n = exact.count()
        ladder.map { p =>
          val got = search(sample, p)
            .select(col("vec_id"), col("neighbor_id").as("_an"))
          val hits = exact.join(got, Seq("vec_id"))
            .filter(col("_en") === col("_an")).count()
          (p, hits, n)
        }
      }
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    IvfIndex.writeMeta(fs, rootP, dim, nCells, centroids, sourceRoot,
      idCol, vecCol, measured)
    curve = measured
    measured
  }

  /** Cheapest persisted rung whose Wilson lower bound supports
    * `targetRecall`; full probe (exact) when no rung does — the same
    * acceptance rule as the per-call targeted paths, read from the
    * stored curve instead of measured per call. */
  def probeFor(targetRecall: Double): Int = {
    require(curve.nonEmpty,
      s"index at $root has no calibration curve; run calibrate() once")
    curve.collectFirst {
      case (p, h, cn) if Similarity.wilsonLcb(h, cn) >= targetRecall => p
    }.getOrElse(nCells)
  }

  /** Recall-targeted top-1 over the persisted index: the probe count
    * comes from the stored calibration curve ([[probeFor]]) — no
    * retraining, no per-call measurement. */
  def searchTargeted(queries: DataFrame,
      targetRecall: Double = 0.9): DataFrame =
    search(queries, probeFor(targetRecall))

  /** Recall-targeted top-k (same probe selection as [[searchTargeted]];
    * the curve is measured at top-1, the standard proxy). */
  def searchTopKTargeted(queries: DataFrame, k: Int,
      targetRecall: Double = 0.9): DataFrame =
    searchTopK(queries, k, probeFor(targetRecall))

  /** The assignment rows of exactly the probed cells. Small probed
    * sets (the common case) collect to an `isin` literal filter —
    * bounded by the index geometry, never the data — which the
    * partition-column reconstruction constant-folds into a PLAN-TIME
    * prune of the other cell directories. A large probed set (big
    * nCells × many queries) would bloat the plan as literals, so past
    * the cap it degrades to a semi join on the partition column —
    * still O(probed cells) files read via runtime filtering, just not
    * plan-time-pruned. */
  private def probedCorpus(probes: DataFrame): DataFrame = {
    val cells: Seq[Int] = probes.select("cell").distinct()
      .limit(MaxInlineCells + 1).collect().map(_.getInt(0)).toSeq
    if (cells.size <= MaxInlineCells)
      assign.read().filter(col("cell").isin(cells: _*))
    else
      assign.read().join(
        broadcast(probes.select("cell").distinct()), Seq("cell"),
        "left_semi")
  }

  private val MaxInlineCells = 128

  /** `(qid, qv, cell)` — one row per (query, probed cell). Same two
    * regimes as [[assignRows]]; the broadcast path also skips the
    * row_number shuffle (the per-query top-nProbe is computed in the
    * map, not a window). */
  private def queryProbes(queries: DataFrame, nProbe: Int): DataFrame = {
    // qid keeps the caller's type: the result's vec_id column must
    // match the query relation's schema exactly
    val q = queries.select(col(idCol).as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    if (nCells <= IvfIndex.PlanCells)
      q.select(col("qid"), col("qv"),
          explode(array(centroids.zipWithIndex.map { case (w, c) =>
            // nanvl: same NaN-ranks-last contract as nearestCell —
            // Spark's NaN-sorts-greatest would otherwise probe
            // degenerate cells FIRST here and last in topCells
            struct(nanvl(Similarity.cosine(spark, col("qv"),
              array(w.toSeq.map(lit): _*)),
              lit(Double.NegativeInfinity)).as("cs"), lit(c).as("cell"))
          }.toIndexedSeq: _*)).as("sc"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("qid")
            .orderBy(col("sc.cs").desc, col("sc.cell"))))
        .filter(col("rnk") <= nProbe)
        .select(col("qid"), col("qv"), col("sc.cell").as("cell"))
    else {
      val bc = spark.sparkContext.broadcast(centroids)
      val out = StructType(q.schema.fields :+
        StructField("cell", IntegerType, nullable = false))
      spark.createDataFrame(
        q.rdd.mapPartitions { it =>
          val cs = bc.value
          it.flatMap { r =>
            val v = r.getSeq[Double](1).toArray
            IvfIndex.topCells(v, cs, nProbe).map(c =>
              org.apache.spark.sql.Row(r.get(0), r.get(1), c))
          }
        }, out)
    }
  }

  // restart signal: the watermark moved under this refresher
  private final class Stale extends RuntimeException

  /** Catch the assignment table up to the source head — incremental
    * (O(interval churn)) when the interval's pre-images are intact,
    * full rebuild otherwise. No-op when current. Returns the indexed
    * source version. */
  def refresh(): Long = {
    val srcRoot = sourceRoot.getOrElse(throw new IllegalStateException(
      "this index was built from a plain DataFrame; rebuild to update"))
    val src = VersionedTable.open(spark, srcRoot)
    var forceRebuild = false
    while (true) {
      val head = src.latestVersion
      val last = math.max(0L, indexedVersion)
      if (indexedVersion >= 0 && head <= last) return head
      val rebuild = forceRebuild || indexedVersion < 0 ||
        last < src.vacuumHorizon
      try {
        if (rebuild) {
          val rows = assignRows(src.snapshot(head))
          assign.withRetry() { t =>
            if (assign.appTxnsAt(t.readVersion).get(appId)
                .exists(w => math.max(0L, w) != last)) throw new Stale
            t.markEpoch(appId, head, fence = true)
            t.truncate()
            t.insertPartitioned(rows, Seq("cell"))
          }
        } else {
          // changed ids, not signed rows: an UPDATE nets to zero in
          // the weighted delta but its vector (and so possibly its
          // cell) changed — delete every touched id, re-insert its
          // head row freshly assigned. One delta scan + one
          // key-restricted snapshot read, both O(churn).
          val changed = src
            .weightedDelta(last, head, alignToHead = true)
            .select(col("obj_id")).distinct()
          val fresh = src.snapshot(head)
            .join(changed, Seq("obj_id"), "left_semi")
          val rows = assignRows(fresh).localCheckpoint()
          assign.withRetry() { t =>
            if (assign.appTxnsAt(t.readVersion).get(appId)
                .exists(w => math.max(0L, w) != last)) throw new Stale
            t.markEpoch(appId, head, fence = true)
            t.deleteMatching(changed)
            t.insertPartitioned(rows, Seq("cell"))
          }
        }
        return head
      } catch {
        case _: EpochAlreadyCommittedException => return head
        case _: Stale => ()
        case e: Throwable if !forceRebuild &&
            MaterializedAggView.isMissingInput(e) =>
          forceRebuild = true // vacuum outran the marker: rebuild
      }
    }
    -1L
  }
}

object IvfIndex {

  private val MetaFile = "_ivf.json"

  /** DISCOVERY registry: a source table records which ANN indexes
    * index it, one CLAIM FILE per index under `_ann_registry/` on the
    * source root (file name = hash of the canonical index root, body =
    * the root). Per-file claims need no read-modify-write, so
    * concurrent builders/droppers of different indexes can never lose
    * each other's entry — the same shape the tag plane uses. Registry
    * is metadata for `$indexes` / ops tooling only; a missing entry
    * hides a listing row, never breaks refresh or search. */
  private val RegistryDir = "_ann_registry"

  private def registryFile(sourceRoot: Path, indexRoot: String): Path = {
    val h = java.security.MessageDigest.getInstance("SHA-1")
      .digest(indexRoot.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    new Path(new Path(sourceRoot, RegistryDir), h + ".idx")
  }

  private[operators] def registerIndex(source: Instance,
      indexRoot: String): Unit = try {
    val canon = new Path(indexRoot).toString
    val srcRoot = new Path(source.root)
    val fs = srcRoot.getFileSystem(
      source.spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(srcRoot, RegistryDir))
    val f = registryFile(srcRoot, canon)
    if (!fs.exists(f)) {
      val out = fs.create(f, false)
      try out.write(canon.getBytes("UTF-8")) finally out.close()
    }
  } catch { case scala.util.control.NonFatal(_) => () } // best-effort

  private[operators] def deregisterIndex(source: Instance,
      indexRoot: String): Unit = try {
    val srcRoot = new Path(source.root)
    val fs = srcRoot.getFileSystem(
      source.spark.sessionState.newHadoopConf())
    fs.delete(registryFile(srcRoot, new Path(indexRoot).toString), false)
  } catch { case scala.util.control.NonFatal(_) => () }

  /** Index roots registered against a source table root. */
  def registeredIndexes(spark: SparkSession, sourceRoot: String)
      : Seq[String] = {
    val dir = new Path(new Path(sourceRoot), RegistryDir)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".idx"))
      .flatMap(st => MetaJson.read(fs, st.getPath)).sorted
  }

  /** Drop a persisted index: deregister from its source (when it has
    * one) and delete the index directory. False = nothing at `root`. */
  def drop(spark: SparkSession, root: String): Boolean = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(rootP, MetaFile))) return false
    try {
      val idx = open(spark, root)
      idx.sourceRoot.foreach { sr =>
        deregisterIndex(VersionedTable.open(spark, sr), root)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    fs.delete(rootP, true)
  }

  /** Largest centroid count compiled into the plan as literals; past
    * it scoring rides a broadcast variable (see [[IvfIndex.assignRows]]). */
  private[operators] val PlanCells = 64

  /** The assignment table's config: a long-lived refreshed index lands
    * one churn-sized commit per refresh, so small files accrete —
    * post-commit auto-compaction bounds them without an external
    * maintenance job (EngineConf is caller-side, so open() re-applies
    * it rather than relying on build-time state). */
  private[operators] def assignConf: EngineConf =
    EngineConf(autoCompactFiles = 64, autoCompactTarget = 8)

  private[operators] def cosSim(a: Array[Double],
      b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    val cs = dot / (math.sqrt(na) * math.sqrt(nb))
    // zero-norm pair → NaN → pin to "worst": keeps this regime's
    // ranking identical to the SQL scorers' nanvl(cs, -Inf) (see
    // IvfIndex.nearestCell) — without it `cs > bestCs` never accepts
    // NaN while Spark SQL sorts NaN greatest, and the two regimes
    // would place the same row in different cells
    if (cs.isNaN) Double.NegativeInfinity else cs
  }

  /** First-wins argmax over a fixed scan order (ties deterministic). */
  private[operators] def nearestIdx(v: Array[Double],
      cents: Array[Array[Double]]): Int = {
    var best = 0; var bestCs = Double.NegativeInfinity; var c = 0
    while (c < cents.length) {
      val cs = cosSim(v, cents(c))
      if (cs > bestCs) { bestCs = cs; best = c }
      c += 1
    }
    best
  }

  /** Top-`n` cells by (cs desc, cell asc) — a full score pass plus a
    * bounded sort of nCells scores per query. */
  private[operators] def topCells(v: Array[Double],
      cents: Array[Array[Double]], n: Int): Seq[Int] =
    cents.indices
      .map(c => (cosSim(v, cents(c)), c))
      .sortBy { case (cs, c) => (-cs, c) }
      .take(n).map(_._2)

  /** Train + persist an index over `corpus` (columns `idCol`,
    * `vecCol`). With `source` set, the corpus is the source's head
    * snapshot and [[IvfIndex.refresh]] keeps the index current. */
  def build(corpus: DataFrame, root: String, dim: Int, nCells: Int,
      iters: Int = 3, trainSample: Int = 4096,
      distributedTrain: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "v"): IvfIndex =
    buildInternal(corpus.sparkSession, Some(corpus), None, root, dim,
      nCells, iters, trainSample, distributedTrain, idCol, vecCol)

  /** Build over a GRAFT table's head snapshot — the refreshable form. */
  def buildFromTable(source: Instance, root: String, dim: Int,
      nCells: Int, iters: Int = 3, trainSample: Int = 4096,
      distributedTrain: Boolean = false,
      idCol: String = "obj_id", vecCol: String = "v"): IvfIndex =
    buildInternal(source.spark, None, Some(source), root, dim, nCells,
      iters, trainSample, distributedTrain, idCol, vecCol)

  private def buildInternal(spark: SparkSession,
      corpus0: Option[DataFrame], source: Option[Instance], root: String,
      dim: Int, nCells: Int, iters: Int, trainSample: Int,
      distributedTrain: Boolean, idCol: String, vecCol: String)
      : IvfIndex = {
    require(nCells >= 1 && nCells <= (1 << 20),
      s"nCells must be in [1, 2^20] (got $nCells)")
    val head = source.map(_.latestVersion)
    val corpus = corpus0.getOrElse(source.get.snapshot(head.get))
    // the trainer's fixed shape: (vec_id, v)
    val norm = corpus.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val cents = Similarity.trainIvfCentroids(norm, dim, nCells, iters,
      trainSample, distributedTrain)
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(rootP)
    writeMeta(fs, rootP, dim, nCells, cents,
      source.map(s => new Path(s.root).toString), idCol, vecCol)
    val assign = VersionedTable.create(spark,
      new Path(rootP, "assign").toString,
      StructType(Seq(
        StructField("obj_id", LongType, nullable = false),
        StructField("v", ArrayType(DoubleType)),
        StructField("cell", IntegerType))), assignConf)
    val idx = new IvfIndex(spark, root, dim, nCells, cents, assign,
      source.map(s => new Path(s.root).toString), idCol, vecCol)
    source match {
      case Some(src) =>
        idx.refresh()
        registerIndex(src, root) // discovery metadata ($indexes)
      case None =>
        // one-shot assignment of the given corpus (no watermark)
        assign.withRetry() { t =>
          t.insertPartitioned(idx.assignRows(corpus), Seq("cell"))
        }
    }
    idx
  }

  /** Reopen a persisted index. */
  def open(spark: SparkSession, root: String): IvfIndex = {
    val rootP = new Path(root)
    val fs = rootP.getFileSystem(spark.sessionState.newHadoopConf())
    val meta = new Path(rootP, MetaFile)
    val n = MetaJson.parse(MetaJson.read(fs, meta).getOrElse(
      throw new java.io.FileNotFoundException(meta.toString)))
    def strField(k: String): Option[String] =
      Option(n.get(k)).map(_.textValue)
    def rows(k: String) = (0 until n.path(k).size).map(n.path(k).get)
    val dim = n.get("dim").intValue; val nCells = n.get("nCells").intValue
    val cents: Array[Array[Double]] = rows("centroids")
      .map(r => Array.tabulate(r.size)(r.get(_).doubleValue)).toArray
    require(cents.length == nCells && cents.forall(_.length == dim),
      s"corrupt $MetaFile at $root")
    // optional persisted recall curve: "calibration":[[p,hits,n],...]
    val calibration: Seq[(Int, Long, Long)] = rows("calibration").map(r =>
      (r.get(0).intValue, r.get(1).longValue, r.get(2).longValue))
    val assign = VersionedTable.open(spark,
      new Path(rootP, "assign").toString, assignConf)
    new IvfIndex(spark, root, dim, nCells, cents, assign,
      strField("sourceRoot"),
      strField("idCol").getOrElse("vec_id"),
      strField("vecCol").getOrElse("v"), calibration)
  }

  private[operators] def writeMeta(fs: org.apache.hadoop.fs.FileSystem,
      rootP: Path, dim: Int, nCells: Int, cents: Array[Array[Double]],
      sourceRoot: Option[String], idCol: String, vecCol: String,
      calibration: Seq[(Int, Long, Long)] = Nil): Unit = {
    MetaJson.replace(fs, new Path(rootP, MetaFile), MetaJson.obj { g =>
      g.writeNumberField("dim", dim)
      g.writeNumberField("nCells", nCells)
      sourceRoot.foreach(g.writeStringField("sourceRoot", _))
      g.writeStringField("idCol", idCol)
      g.writeStringField("vecCol", vecCol)
      if (calibration.nonEmpty) {
        g.writeArrayFieldStart("calibration")
        calibration.foreach { case (p, h, n) =>
          g.writeStartArray(); g.writeNumber(p); g.writeNumber(h)
          g.writeNumber(n); g.writeEndArray()
        }
        g.writeEndArray()
      }
      g.writeArrayFieldStart("centroids")
      cents.foreach { c =>
        g.writeStartArray(); c.foreach(x => g.writeNumber(x)); g.writeEndArray()
      }
      g.writeEndArray()
    })
  }
}
