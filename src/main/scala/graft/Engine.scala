package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Session factory + table catalog + determinism helpers.
  *
  * Design notes (100 TB scale): every helper here keeps plans declarative so
  * Catalyst can push filters/prune columns to the parquet scan; aggregate
  * helpers do exact decimal arithmetic so results are independent of
  * partition/summation order (a correctness requirement once data is spread
  * over thousands of tasks — double summation order is nondeterministic).
  */
object Engine {

  /** Local session tuned for the test harness; on a real cluster the same
    * settings minus master() apply. AQE handles skew/coalescing at scale. */
  def session(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      // optimizer extensions (MV rewrite; inert until its conf flag
      // is enabled) — applied only when this call CREATES the session
      .withExtensions(new graft.acid.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // engine-wide: parquet TIMESTAMP(NANOS) reads as raw long
      // (normalized to microseconds by normalizeEventTs) instead of
      // failing — set at session scope so behavior never depends on
      // which table was read first
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standard INT64 micros instead of legacy INT96: INT96 footers
      // carry no usable min/max, which would blind the ACID layer's
      // automatic per-file timestamp stats (and INT96 is deprecated
      // in the parquet spec)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // AQE builds the SQLAdaptiveExecutionUpdate event's explain
      // string EAGERLY at every plan update; with the UI off the
      // 'formatted' default (O(plan) per stage materialization, driver
      // thread dumps showed ~20% of multi-commit lifecycle wall) has
      // no consumer — 'simple' keeps the event at a fraction of the
      // cost. Overridable like any conf for UI-on deployments.
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.hadoop.fs.file.impl", localFsImpl)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", localAbsFsImpl)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** file:// implementations for the session factory: without the
    * libhadoop native library (absent here, and in most containers)
    * Hadoop's local FS FORKS a `chmod` per create/mkdirs (measured
    * 9 ms / 4 ms per call) and an `ls` per first permission read —
    * 30-50% of streaming-key wall and a steady slice of every ACID
    * commit in driver profiles. [[graft.acid.BareLocalFileSystem]] is
    * the stock checksummed local FS with the permission forks removed
    * (meaningless bits on a single-user scratch volume; identical
    * rename/durability semantics). Object-store schemes never touch
    * this; override via SPARK_GRAFT_LOCAL_FS_IMPL / _ABS for plain
    * Hadoop behavior. */
  def localFsImpl: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_FS_IMPL",
    classOf[graft.acid.BareLocalFileSystem].getName)
  def localAbsFsImpl: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_FS_ABS",
    classOf[graft.acid.BareLocalFs].getName)

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan — the single entry point for reads, so pushdown/pruning
    * behavior is uniform.
    *
    * `events.ts` is parquet TIMESTAMP(NANOS), which Spark's reader rejects;
    * we read it as raw nanos (legacy flag) and truncate to microseconds —
    * exactly what DuckDB's ns→µs coercion does for positive epochs, so the
    * oracle agrees. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // nanosAsLong is set at session build time (Engine.session, the
    // one session factory) — every session reaching here already
    // carries it, and a per-read session-global conf mutation would be
    // a surprising side effect of a read API
    if (name == "events") normalizeEventTs(spark.read.parquet(path))
    else spark.read.parquet(path)
  }

  /** Register fixture tables as temp views so `spark.sql(...)` works
    * directly against the catalog — the SQL front door next to the
    * DataFrame API (same plans: a view is just a named logical plan,
    * so pushdown/pruning/AQE behave identically). Pass only the
    * tables a query needs; each registration is a driver-side schema
    * read. */
  def registerAll(spark: SparkSession, dir: String,
      names: Seq[String] = tableNames): Unit =
    names.foreach { n =>
      table(spark, dir, n).createOrReplaceTempView(n)
    }

  /** ns-epoch long `ts` → microsecond timestamp (truncation — what
    * DuckDB's ns→µs coercion does for positive epochs). Shared by batch
    * and streaming reads of the events table. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    if (!df.schema.fieldNames.contains("ts")) df
    else df.schema("ts").dataType match {
      // TIMESTAMP(NANOS) fixture read under nanosAsLong: ns -> µs
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false) fixture: Spark infers
      // TIMESTAMP_NTZ, which event-time watermarks reject — cast to
      // TIMESTAMP under the UTC session zone (same instants as the
      // nanos path, so oracles are unaffected)
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  // ---------------------------------------------------------------------
  // Deterministic float aggregation.
  //
  // Doubles summed in task order give nondeterministic low bits; rounding a
  // large sum to 2dp can then flip. Fix: cast every addend to DECIMAL(38,6)
  // (exact, since the generator emits <=2 decimal digits and the per-row
  // double arithmetic is IEEE-deterministic), sum exactly, round, and cast
  // back to double. DuckDB oracle mirrors this with
  //   ROUND(SUM(CAST(x AS DECIMAL(38,6))), s)::DOUBLE
  // ---------------------------------------------------------------------
  private val D38 = DecimalType(38, 6)

  /** Exact sum of a double expression, rounded to `scale`, as double. */
  def dsum(c: Column, scale: Int = 2): Column =
    round(sum(c.cast(D38)), scale).cast(DoubleType)

  /** Order-insensitive average: exact decimal sum / count, rounded. */
  def davg(c: Column, scale: Int = 4): Column =
    round(sum(c.cast(D38)).cast(DoubleType) / count(lit(1)), scale)

  /** Oracle-side SQL fragment equivalents (kept adjacent for review). */
  def sqlDsum(expr: String, scale: Int = 2): String =
    s"ROUND(SUM(CAST($expr AS DECIMAL(38,6))), $scale)::DOUBLE"
  def sqlDavg(expr: String, scale: Int = 4): String =
    s"ROUND(CAST(SUM(CAST($expr AS DECIMAL(38,6))) AS DOUBLE)/COUNT(*), $scale)"
}
