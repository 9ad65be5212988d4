package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one workload run hands back: operation counts, the end-to-end
  * metrics (role names shared by every workload, see README) and the
  * workload's own named figures for people reading the log. */
final case class Outcome(attempted: Long, failed: Long, retries: Long,
    metrics: Map[String, Double], report: Map[String, Any])

/** Shared run context: the session, the seeded inputs the Python side
  * generated, scratch directories and the timing samples. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val traced: Boolean, val inputDir: Path, val workDir: Path,
    val outDir: Path, val cores: Int) {
  val plan: Map[String, Any] = Json.read(inputDir.resolve("plan.json"))
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

  def planLong(k: String): Long = plan(k).asInstanceOf[Number].longValue
  def planInt(k: String): Int = planLong(k).toInt
  def planLongs(k: String): Seq[Long] =
    plan(k).asInstanceOf[Seq[Any]].map(_.asInstanceOf[Number].longValue)

  def input(name: String): DataFrame =
    spark.read.parquet(inputDir.resolve(s"$name.parquet").toString)

  /** Wall time of `body` in ms, measured from outside the program and
    * kept under `name`. */
  def time[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    record(name, (System.nanoTime() - t0) / 1e6)
    r
  }

  def record(name: String, ms: Double): Unit = samples.synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
  }

  /** Forget every sample so far (after an untimed warm-up). */
  def resetSamples(): Unit = samples.synchronized(samples.clear())

  def samplesOf(name: String): Seq[Double] =
    samples.synchronized(samples.get(name).map(_.toSeq).getOrElse(Nil))

  private var dirs = 0
  /** A fresh, empty directory URI under the run's scratch directory. */
  def freshDir(name: String): String = synchronized {
    dirs += 1
    val d = workDir.resolve(s"$name-$dirs")
    Files.createDirectories(d.getParent)
    d.toUri.toString
  }

  private val born = System.nanoTime()
  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def dump(name: String, rows: Iterable[Any]): Unit = {
    Files.createDirectories(outDir)
    Json.writeLines(outDir.resolve(s"$name.jsonl"), rows)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** A timing summary as the report prints it: median, plus p90 only
    * when at least ten samples lie beyond it. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.size, "p50" -> median(xs))
    if (xs.size >= 100) base + ("p90" -> quantile(xs, 0.9)) else base
  }

  /** Bytes of every regular file under a table root (the on-disk size). */
  def diskBytes(uri: String): Long = {
    val root = Paths.get(new java.net.URI(uri))
    val st = Files.walk(root)
    try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally st.close()
  }

  /** On-disk table bytes over the bytes of the files the head snapshot
    * reads (data files only; manifests and sidecars count as overhead). */
  def storedPerLive(inst: graft.acid.Instance): Double = {
    val root = Paths.get(new java.net.URI(inst.root))
    val live = inst.stateAt(inst.latestVersion)._1
      .map(f => Files.size(root.resolve("data").resolve(f))).sum
    diskBytes(inst.root).toDouble / math.max(1L, live)
  }

  /** Peak resident set of this JVM, from the kernel's own accounting. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** `java perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --inputs DIR --work DIR --out DIR` — runs one workload against the
  * inputs the Python side generated and writes `result.json` (plus the
  * check dumps and, traced, `spans.jsonl`) into the out directory. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.Engine.session(cores.toString)
    try {
      val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toInt,
        traced, Paths.get(opt("inputs")), Paths.get(opt("work")),
        Paths.get(opt("out")), cores)
      if (traced) Trace.start(spark.sparkContext)
      val out = workload match {
        case "txn_objects" => TxnObjects.run(ctx)
        case "churn_views" => ChurnViews.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val metrics =
        if (!traced) out.metrics + ("peak_rss_mb" -> Stats.peakRssMb())
        else {
          // every job event must be seen before the metrics are computed
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          Trace.write(ctx.outDir.resolve("spans.jsonl"))
          Layers.metrics(Trace.spans, out.report("gc_ms").asInstanceOf[Double],
            out.report("measured_s").asInstanceOf[Double])
        }
      val conf = spark.conf.getAll.toSeq.sortBy(_._1).toMap
      Json.write(ctx.outDir.resolve("result.json"), Map(
        "workload" -> workload, "attempted" -> out.attempted,
        "failed" -> out.failed, "retries" -> out.retries,
        "cores" -> cores, "metrics" -> metrics, "report" -> out.report,
        "spark_conf" -> conf))
    } finally spark.stop()
  }
}
