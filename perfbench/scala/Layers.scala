package perfbench

/** Per-layer metrics of a traced run, computed from its spans, the jobs
  * the listener attributed to them and the file-system counters.
  *
  * Every metric is reported on every workload; a layer a workload does
  * not exercise reads 0. Span names used here:
  *  - `op.write` (one writer transaction or MERGE, retries included),
  *    `op.point_read`, `op.query` (attr `pruned`), `op.pass`;
  *  - `acid.txn.{insert,upsert,deleteMoR,merge}`, `acid.commit` (attrs
  *    `ok`, `ckpt`), `acid.read.resolve`, `acid.mv.refresh.{sum,minmax,
  *    star}`, `acid.cdf.changes`, `acid.maint.{compact,vacuum}` (attr
  *    `removed`), `operators.{jaccard,ann_topk}`. */
object Layers {
  import Trace.Span

  def metrics(spans: Seq[Span], gcMs: Double, measuredS: Double): Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    def named(n: String*): Seq[Span] = n.flatMap(byName.getOrElse(_, Nil))
    def p50(ss: Seq[Span]): Double = Stats.median(ss.map(_.ms))
    def attr(s: Span, k: String): Option[Any] = s.attrs.get(k)

    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Long] =
      s.id +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val jobs = Trace.JobListener.jobsBySpan
    val input = Trace.JobListener.inputBytesBySpan
    def jobsIn(s: Span): Seq[(Long, Long)] = subtree(s).flatMap(jobs.getOrElse(_, Nil))
    def gapMs(s: Span): Double = (s.end - s.start - Trace.union(jobsIn(s).map {
      case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })) / 1e6
    def fs(s: Span, call: String, kinds: String*): Double =
      subtree(s).map(id =>
        if (kinds.isEmpty) Trace.Fs.get(id, call)
        else kinds.map(k => Trace.Fs.get(id, call, Some(k))).sum).sum.toDouble
    def perOp(ss: Seq[Span])(f: Span => Double): Double = Stats.mean(ss.map(f))

    val commits = named("acid.commit")
    val okCommits = commits.filter(attr(_, "ok").contains(true))
    val writes = named("op.write")
    val queries = named("op.query")
    val passes = named("op.pass")
    val refreshes = named("acid.mv.refresh.sum", "acid.mv.refresh.minmax",
      "acid.mv.refresh.star")
    val changes = named("acid.cdf.changes")
    val vacuums = named("acid.maint.vacuum")
    val userBytes = writes.map(attr(_, "user_bytes").map(_.asInstanceOf[Long])
      .getOrElse(0L)).sum

    Map(
      "acid.txn.stage_ms.p50" ->
        p50(named("acid.txn.insert", "acid.txn.upsert", "acid.txn.deleteMoR")),
      "acid.txn.merge_ms.p50" -> p50(named("acid.txn.merge")),
      "acid.commit.call_ms.p50" -> p50(commits),
      "acid.commit.ckpt_call_ms.p50" ->
        p50(okCommits.filter(attr(_, "ckpt").contains(true))),
      "acid.commit.attempts_per_commit" ->
        (if (okCommits.isEmpty) 0.0 else commits.size.toDouble / okCommits.size),
      "acid.commit.conflicts" -> (commits.size - okCommits.size).toDouble,
      "acid.read.resolve_ms.p50" -> p50(named("acid.read.resolve")),
      "acid.mv.sum_refresh_ms.p50" -> p50(named("acid.mv.refresh.sum")),
      "acid.mv.minmax_refresh_ms.p50" -> p50(named("acid.mv.refresh.minmax")),
      "acid.mv.star_refresh_ms.p50" -> p50(named("acid.mv.refresh.star")),
      "acid.cdf.changes_ms.p50" -> p50(changes),
      "acid.maint.compact_ms.p50" -> p50(named("acid.maint.compact")),
      "acid.maint.vacuum_ms.p50" -> p50(vacuums),
      "acid.maint.files_removed" -> Stats.median(vacuums.map(s =>
        attr(s, "removed").map(_.asInstanceOf[Int].toDouble).getOrElse(0.0))),
      "operators.jaccard_ms.p50" -> p50(named("operators.jaccard")),
      "operators.ann_topk_ms.p50" -> p50(named("operators.ann_topk")),
      "spark.jobs_per_commit" -> perOp(writes)(jobsIn(_).size),
      "spark.gap_ms_per_commit" -> Stats.median(writes.map(gapMs)),
      "spark.jobs_per_query" -> perOp(queries)(jobsIn(_).size),
      "spark.gap_s_per_pass" -> Stats.median(passes.map(gapMs)) / 1000.0,
      "spark.input_mb_per_pass" -> Stats.median(passes.map(s =>
        subtree(s).map(input.getOrElse(_, 0L)).sum / 1e6)),
      "spark.jobs_per_refresh" -> perOp(refreshes)(jobsIn(_).size),
      "spark.gap_ms_per_refresh" -> Stats.median(refreshes.map(gapMs)),
      "spark.jobs_per_changes" -> perOp(changes)(jobsIn(_).size),
      "fs.opens_per_commit" -> perOp(writes)(fs(_, "open")),
      "fs.creates_per_commit" -> perOp(writes)(fs(_, "create")),
      "fs.renames_per_commit" -> perOp(writes)(fs(_, "rename")),
      "fs.lists_per_commit" -> perOp(writes)(fs(_, "list")),
      "fs.status_calls_per_commit" -> perOp(writes)(fs(_, "status")),
      "fs.manifest_opens_per_point_read" ->
        perOp(named("op.point_read"))(fs(_, "open", "manifest", "checkpoint")),
      "fs.data_files_opened_per_query" ->
        perOp(queries.filter(attr(_, "pruned").contains(true)))(fs(_, "open", "data")),
      "fs.data_files_opened_per_refresh" -> perOp(refreshes)(fs(_, "open", "data")),
      "fs.bytes_written_per_user_byte" ->
        (if (userBytes == 0L) 0.0
         else writes.map(fs(_, "bytes_written")).sum / userBytes),
      "jvm.gc_ms_per_s" -> gcMs / math.max(1e-9, measuredS))
  }
}
