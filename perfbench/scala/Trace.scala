package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._

/** In-memory tracing for the traced run (`--trace 1`).
  *
  * A span wraps one public call into the program: name, start, end,
  * parent span and the operation it belongs to (spans of one benchmark
  * operation share `op`). The span id rides the Spark local property
  * [[SpanProp]], so jobs a call submits (seen by [[JobListener]]) and
  * file-system calls made from task threads (seen by
  * [[CountingLocalFileSystem]]) are attributed to the span that caused
  * them. Spans are kept in memory and written once, at the end.
  *
  * With tracing off [[span]] is the bare body: the untraced run that
  * gives the end-to-end numbers pays one volatile read per call. */
object Trace {
  val SpanProp = "perfbench.span"

  final class Span(val id: Long, val name: String, val op: Long,
      val parent: Long, val thread: String, val start: Long) {
    @volatile var end: Long = 0L
    val attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
    def ms: Double = (end - start) / 1e6
  }

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(1L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[java.util.ArrayDeque[Span]](
    () => new java.util.ArrayDeque[Span]())

  def start(context: SparkContext): Unit = {
    sc = context
    enabled = true
    context.addSparkListener(JobListener)
  }

  /** A fresh operation id: pass it to every top-level span of one
    * benchmark operation. */
  def newOp(): Long = ids.getAndIncrement()

  /** The innermost open span on this thread, else the span that
    * submitted the running Spark task, else 0. */
  def currentSpan: Long = {
    val top = stack.get.peek()
    if (top != null) top.id
    else {
      val tc = TaskContext.get()
      if (tc == null) 0L
      else Option(tc.getLocalProperty(SpanProp)).map(_.toLong).getOrElse(0L)
    }
  }

  def span[T](name: String, op: Long = 0L)(body: Span => T): T = {
    if (!enabled) return body(null)
    val st = stack.get
    val parent = st.peek()
    val id = ids.getAndIncrement()
    val s = new Span(id, name,
      if (op != 0L) op else if (parent != null) parent.op else id,
      if (parent != null) parent.id else 0L,
      Thread.currentThread().getName, System.nanoTime())
    st.push(s)
    sc.setLocalProperty(SpanProp, id.toString)
    try body(s)
    finally {
      s.end = System.nanoTime()
      st.pop()
      sc.setLocalProperty(SpanProp,
        if (parent != null) parent.id.toString else null)
      done.add(s)
    }
  }

  /** Spans closed so far, in closing order. */
  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time: a span's duration minus the union of its children's
    * intervals. */
  def selfMs(all: Seq[Span]): Map[Long, Double] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.end - s.start - covered) / 1e6
    }.toMap
  }

  /** Total length (ns) of a union of intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Write every span as one JSON line, with its self time and the jobs
    * and file-system calls attributed to it directly (not to children). */
  def write(path: java.nio.file.Path): Unit = {
    val all = spans
    val self = selfMs(all)
    val jobs = JobListener.jobsBySpan
    all.foreach { s =>
      s.attrs("jobs") = jobs.getOrElse(s.id, Nil).size
      for (c <- Fs.Calls; k <- Fs.Kinds; n = Fs.get(s.id, c, Some(k)) if n > 0)
        s.attrs(s"fs.$c.$k") = n
    }
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.value(v)}""" }
      w.write(s"""{"id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""parent":${s.parent},"thread":${Json.str(s.thread)},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},""" +
        f""""self_ms":${self(s.id)}%.4f,"attrs":{${attrs.mkString(",")}}}""")
      w.newLine()
    } finally w.close()
  }

  /** Spark jobs per span: count, run intervals and task input bytes. */
  object JobListener extends SparkListener {
    final case class Job(span: Long, start: Long, var end: Long = 0L)
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    private val inputBytes = new ConcurrentHashMap[Long, AtomicLong]()

    private def spanOf(p: java.util.Properties): Long =
      Option(p).flatMap(x => Option(x.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOf(e.properties)
      jobs.put(e.jobId, Job(s, System.nanoTime()))
      e.stageIds.foreach(stageSpan.put(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = System.nanoTime())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) {
        val s = stageSpan.getOrDefault(e.stageId, 0L)
        inputBytes.computeIfAbsent(s, _ => new AtomicLong())
          .addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      }

    /** Jobs (with run intervals) submitted under each span id. */
    def jobsBySpan: Map[Long, Seq[(Long, Long)]] =
      jobs.values.asScala.toSeq.groupBy(_.span)
        .map { case (s, js) => s -> js.map(j => (j.start, j.end)) }
    def inputBytesBySpan: Map[Long, Long] =
      inputBytes.asScala.map { case (s, b) => s -> b.get }.toMap
  }

  /** File-system call counters, by span, path class and call kind. */
  object Fs {
    val Kinds = Seq("manifest", "checkpoint", "data", "other")
    val Calls = Seq("open", "create", "rename", "list", "status", "delete",
      "bytes_written")
    private val counts = new ConcurrentHashMap[Long, AtomicLongArray]()

    def kindOf(path: String): Int =
      if (path.contains("/_manifests/")) {
        val name = path.substring(path.lastIndexOf('/') + 1)
        val v = if (name.matches("v\\d+\\.json")) name.drop(1).dropRight(5).toLong
          else -1L
        if (path.contains("ckpt") || v > 0 && v % 10 == 0) 1 else 0
      }
      else if (path.contains("/data/")) 2
      else 3

    def add(path: String, call: String, n: Long = 1L): Unit =
      if (enabled) {
        val arr = counts.computeIfAbsent(currentSpan,
          _ => new AtomicLongArray(Kinds.size * Calls.size))
        arr.addAndGet(kindOf(path) * Calls.size + Calls.indexOf(call), n)
      }

    /** Count of `call` on paths of class `kind` (any when None). */
    def get(span: Long, call: String, kind: Option[String] = None): Long =
      Option(counts.get(span)).map { arr =>
        val c = Calls.indexOf(call)
        Kinds.indices.filter(k => kind.forall(Kinds(k) == _))
          .map(k => arr.get(k * Calls.size + c)).sum
      }.getOrElse(0L)
  }
}
