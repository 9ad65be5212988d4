package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.acid.{ConflictException, EngineConf, Instance, MaterializedAggView, VersionedTable}
import graft.operators.{Dedup, IvfIndex}

/** `churn_views`: the versioned-analytics lifecycle on one lineitem-shaped
  * fact table.
  *
  * Set-up loads the fact (footer stats on every column, a bloom filter
  * declared on `l_partkey`); loads orders, documents and embeddings with
  * a persisted IVF index; and creates three incremental views on the
  * fact — COUNT/SUM by
  * (returnflag, linestatus), MIN/MAX by linenumber, and a star view
  * joined to orders — with their initial refresh.
  *
  * Each round then: MERGEs a seeded batch (updates of existing rows plus
  * inserts), refreshes the three views, reads `changes(prev, head)`; runs
  * SQL over the `graft` data source (range filters on the clustered key,
  * point lookups on the bloom column, a full-scan grouped aggregate and
  * a lineitem-orders join at the version before the merge); runs an exact
  * `Dedup.jaccardPairs` and an `IvfIndex.searchTopK`; and ends with
  * `compact` and `vacuum`. Every round has the same make-up. */
object ChurnViews {
  final case class Views(sum: MaterializedAggView, minmax: MaterializedAggView,
      star: MaterializedAggView) {
    def all: Seq[(String, MaterializedAggView)] =
      Seq("sum" -> sum, "minmax" -> minmax, "star" -> star)
  }
  final case class Tables(fact: Instance, orders: Instance, docs: Instance,
      emb: Instance, ivfRoot: String, views: Views)

  val Agg = "COUNT(*) AS n, SUM(l_quantity) AS q, SUM(l_extendedprice) AS p"

  def setup(ctx: Ctx): Tables = {
    val spark = ctx.spark
    def load(name: String, df: DataFrame, conf: EngineConf = EngineConf()): Instance = {
      val inst = VersionedTable.create(spark, ctx.freshDir(name), df.schema, conf)
      val t = inst.begin()
      t.insert(df)
      inst.commit(t)
      inst
    }
    val fact = load("fact", ctx.input("fact")
      .repartitionByRange(ctx.planInt("files"), col("obj_id")).sortWithinPartitions("obj_id"),
      EngineConf(fileBloomCols = Seq("l_partkey"), fileBloomBits = 1 << 19))
    val orders = load("orders", ctx.input("orders").repartition(4))
    val docs = load("documents", ctx.input("documents").repartition(2))
    val emb = load("embeddings", ctx.input("embeddings").repartition(2))
    val ivfRoot = ctx.freshDir("ivf")
    IvfIndex.buildFromTable(emb, ivfRoot, dim = ctx.planInt("emb_dim"),
      nCells = ctx.planInt("ivf_cells"))
    val views = Views(
      MaterializedAggView.create(spark, ctx.freshDir("mv_sum"), fact,
        groupCols = Seq("l_returnflag", "l_linestatus"),
        sumCols = Seq("l_quantity", "l_extendedprice")),
      MaterializedAggView.create(spark, ctx.freshDir("mv_minmax"), fact,
        groupCols = Seq("l_linenumber"), sumCols = Nil,
        minCols = Seq("l_extendedprice"), maxCols = Seq("l_quantity")),
      MaterializedAggView.create(spark, ctx.freshDir("mv_star"), fact,
        groupCols = Seq("o_orderpriority"), sumCols = Seq("l_quantity"),
        dimJoin = Some(MaterializedAggView.DimJoin(orders, "l_orderkey", "o_orderkey"))))
    views.all.foreach(_._2.refresh())
    Tables(fact, orders, docs, emb, ivfRoot, views)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val setups = (1 to ctx.planInt("setups")).map { _ =>
      val t0 = System.nanoTime(); val r = setup(ctx)
      ctx.log("set-up done")
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val tb = setups.last._2
    val fact = tb.fact
    val ivf = IvfIndex.open(spark, tb.ivfRoot)
    val batches = ctx.input("batches").cache()
    val dataCols = fact.read().columns.filterNot(_ == "obj_id")
    val retain = ctx.planInt("retain_versions")
    val maxCycles = ctx.planInt("max_cycles")
    val files = ctx.planInt("files")
    val lookups = ctx.planInt("lookups_per_round")
    val probeKeys = ctx.planLongs("probe_partkeys")
    val rows = ctx.planLong("fact_rows")
    val tau = ctx.plan("jaccard_tau").asInstanceOf[Number].doubleValue
    val rng = new SplittableRandom(ctx.seed * 7919L)
    val log = mutable.ArrayBuffer[Map[String, Any]]()
    val storedPerLive = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var retries = 0L
    var cycle = 0
    var prev = fact.latestVersion
    val prevStart = prev

    /** One timed call: counted as an operation, timed from outside under
      * `sample`, and traced as a span of its own operation. */
    def op[T](sample: String, span: String)(body: Trace.Span => T): T = {
      attempted += 1
      ctx.time(sample)(Trace.span(span, Trace.newOp())(body))
    }

    def viewRows(mv: MaterializedAggView): Map[String, Any] = {
      val keep = mv.read().columns.filter(c => !c.startsWith("avg_") &&
        !c.startsWith("nn_") && c != "obj_id").toSeq
      Map("cols" -> keep, "rows" -> mv.read().select(keep.map(col): _*)
        .collect().map(_.toSeq).toSeq)
    }

    def merge(): Long = {
      require(cycle < maxCycles, s"more than $maxCycles churn cycles")
      val batch = batches.filter(col("cycle") === cycle).drop("cycle")
      var v = -1L
      op("merge_ms", "op.write") { s =>
        if (s != null) s.attrs("user_bytes") = ctx.planLongs("batch_bytes")(cycle)
        while (v < 0) {
          val t = fact.begin()
          try {
            Trace.span("acid.txn.merge")(_ => t.merge(batch,
              matchedUpdate = dataCols.map(c => c -> col(s"s.$c")).toMap))
            v = Trace.span("acid.commit") { cs =>
              val r = fact.commit(t)
              if (cs != null) {
                cs.attrs("ok") = true; cs.attrs("version") = r
                cs.attrs("ckpt") = r % fact.checkpointInterval == 0
              }
              r
            }
          } catch {
            case _: ConflictException => fact.rollback(t); retries += 1
          }
        }
      }
      v
    }

    def view(name: String, inst: Instance, version: Option[Long] = None): Unit = {
      val r = spark.read.format("graft")
      version.foreach(v => r.option("versionAsOf", v))
      r.load(inst.root).createOrReplaceTempView(name)
    }

    /** SQL over temp views of the `graft` source: `li` is the fact at
      * `version` (head when None), `ord` the orders table. */
    def query(name: String, pruned: Boolean, sql: String,
        version: Option[Long] = None, join: Boolean = false): Map[String, Any] = {
      val got = op(if (pruned) "lookup_ms" else s"query_ms.$name", "op.query") { s =>
        if (s != null) { s.attrs("kind") = name; s.attrs("pruned") = pruned }
        val df = Trace.span("acid.read.resolve") { _ =>
          view("li", fact, version)
          if (join) view("ord", tb.orders)
          spark.sql(sql)
        }
        df.collect().map(_.toSeq).toSeq
      }
      Map("name" -> name, "sql" -> sql, "version" -> version, "rows" -> got)
    }

    def round(): Unit = {
      val t0 = System.nanoTime()
      Trace.span("op.round", Trace.newOp()) { _ =>
        val before = prev
        val v = merge()
        val refreshed = tb.views.all.map { case (name, mv) =>
          op(s"refresh_ms.$name", s"acid.mv.refresh.$name")(_ => mv.refresh())
          name -> mv.refreshedVersion
        }.toMap
        val head = fact.latestVersion
        val cdf = op("cdf_ms", "acid.cdf.changes") { _ =>
          fact.changes(before, head).select(("obj_id" +: dataCols :+ "_change")
            .map(col).toIndexedSeq: _*).collect().map(_.toSeq).toSeq
        }
        val views = tb.views.all.map { case (n, mv) => n -> viewRows(mv) }.toMap
        val passStart = System.nanoTime()
        val queries = Trace.span("op.pass", Trace.newOp()) { _ =>
          (1 to lookups).map { _ =>
            val lo = rng.nextLong(rows - 3000)
            query("range", true, s"SELECT $Agg FROM li WHERE obj_id BETWEEN $lo AND ${lo + 2999}")
          } ++ (1 to lookups).map { _ =>
            val keys = Seq.fill(3)(probeKeys(rng.nextInt(probeKeys.size))).distinct
            query("point", true, "SELECT obj_id, l_partkey, l_quantity FROM li " +
              s"WHERE l_partkey IN (${keys.mkString(",")})")
          } ++ Seq(
            query("full", false,
              s"SELECT l_returnflag, l_linestatus, $Agg FROM li GROUP BY 1, 2"),
            query("join_pinned", false, s"SELECT o_orderpriority, $Agg FROM li JOIN ord " +
              "ON l_orderkey = o_orderkey GROUP BY 1", Some(before), join = true))
        }
        val pairs = op("jaccard_ms", "operators.jaccard") { _ =>
          Dedup.jaccardPairs(tb.docs.read(), "doc_id", "text", k = 3, tau = tau)
            .collect().map(_.toSeq).toSeq
        }
        val ann = op("ann_ms", "operators.ann_topk") { _ =>
          ivf.searchTopK(tb.emb.read().filter(col("obj_id") < ctx.planLong("ann_queries")),
              k = ctx.planInt("topk"), nProbe = ctx.planInt("ivf_probe"))
            .select("vec_id", "neighbor_id", "cs", "rank").collect().map(_.toSeq).toSeq
        }
        ctx.record("analytics_ms", (System.nanoTime() - passStart) / 1e6)
        log += Map("cycle" -> cycle, "merge_v" -> v, "cdf_from" -> before,
          "cdf_to" -> head, "cdf" -> cdf, "refreshed" -> refreshed, "views" -> views,
          "queries" -> queries, "jaccard" -> pairs, "ann" -> ann)
        prev = head
        cycle += 1
        val compacted = op("compact_ms", "acid.maint.compact")(_ =>
          fact.compact(targetFiles = files))
        val removed = op("vacuum_ms", "acid.maint.vacuum") { s =>
          val n = fact.vacuum(retainVersions = retain)
          if (s != null) s.attrs("removed") = n
          n
        }
        log += Map("maintenance" -> cycle, "compacted" -> compacted,
          "removed" -> removed, "head" -> fact.latestVersion)
      }
      storedPerLive += Stats.storedPerLive(fact)
      ctx.record("round_ms", (System.nanoTime() - t0) / 1e6)
      ctx.log(s"churn round $cycle done")
    }

    // no untimed warm-up round: the repeated set-ups already run the load,
    // commit and refresh paths, and a round costs as much as a set-up
    val gc0 = Stats.gcMs()
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    do round() while (System.nanoTime() < deadline)
    val measured = (System.nanoTime() - t0) / 1e9
    val gcWindow = Stats.gcMs() - gc0

    // every retained version must still be readable after the vacuum
    val head = fact.latestVersion
    val retained = (math.max(0L, head - retain + 1) to head).map { v =>
      Map("v" -> v, "agg" -> fact.snapshot(v).selectExpr("COUNT(*)", "SUM(l_quantity)",
        "SUM(l_extendedprice)").collect().head.toSeq)
    }
    ctx.dump("churn_log", log)
    ctx.dump("churn_retained", retained)
    ctx.dump("churn_meta", Seq(Map("jaccard_oracle" -> Dedup.jaccardOracle(tau),
      "loaded_version" -> prevStart)))

    val rounds = ctx.samplesOf("round_ms")
    val refresh = (0 until rounds.size).map(i =>
      Seq("sum", "minmax", "star").map(n => ctx.samplesOf(s"refresh_ms.$n")(i)).sum)
    def p50(name: String) = Stats.median(ctx.samplesOf(name))
    Outcome(attempted, 0L, retries,
      Map(
        "setup_s" -> Stats.median(setups.map(_._1)),
        "ops_per_s" -> attempted / measured,
        "lookup_ms.p50" -> p50("lookup_ms"),
        "stored_bytes_per_live_byte" -> Stats.median(storedPerLive.toSeq)),
      Map(
        "measured_s" -> measured, "gc_ms" -> gcWindow.toDouble,
        "rounds" -> rounds.size, "round_s" -> Stats.median(rounds) / 1000.0,
        "merge_commit_ms" -> Stats.summary(ctx.samplesOf("merge_ms")),
        "mv_refresh_ms" -> Stats.summary(refresh),
        "mv_refresh_ms_by_view" -> Seq("sum", "minmax", "star")
          .map(n => n -> p50(s"refresh_ms.$n")).toMap,
        "cdf_read_ms" -> Stats.summary(ctx.samplesOf("cdf_ms")),
        "churn_cycles_per_min" -> rounds.size / measured * 60.0,
        "pruned_query_ms" -> Stats.summary(ctx.samplesOf("lookup_ms")),
        "full_agg_ms" -> p50("query_ms.full"),
        "pinned_join_ms" -> p50("query_ms.join_pinned"),
        "analytics_pass_s" -> p50("analytics_ms") / 1000.0,
        "similarity_pass_s" -> (p50("jaccard_ms") + p50("ann_ms")) / 1000.0,
        "compact_ms" -> Stats.summary(ctx.samplesOf("compact_ms")),
        "vacuum_ms" -> Stats.summary(ctx.samplesOf("vacuum_ms")),
        "setup_runs_s" -> setups.map(_._1)))
  }
}
