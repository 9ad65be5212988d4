package graft

/** Benchmark main (driver contract): times every registry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 3, round-robin
  * so JIT warmth is spread fairly) and reports the per-query MEDIAN;
  * "value" is the sum of medians. A single run is too noisy to compare
  * across rounds — a loaded host or one GC pause can triple a streaming
  * query's wall time.
  *
  * Queries execute through a noop sink so the full plan runs (a count()
  * would let Catalyst drop sorts/projections and under-measure). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    require(runs >= 1, s"SPARK_GRAFT_BENCH_RUNS must be >= 1, got $runs")
    val spark = Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warmup on the smallest query so per-query numbers
    // reflect steady state, not first-run JIT + classloading
    try SparkEntry.queries("q01_scan")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    def once(name: String, q: Q): Double = {
      val t0 = System.nanoTime()
      try {
        q.impl(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      } finally if (name.contains("stream")) {
        // every bench streaming execution replays into a FRESH temp
        // checkpoint, so its state-store providers are one-shot — but
        // Spark's provider cache retains them (RocksDB native handles
        // + periodic maintenance) for the whole JVM. Across a full
        // bench (~40 streaming executions x 8 partitions x up to 4
        // stores) the accumulation degraded later streaming runs
        // 2-3x; unloading after each run restores isolated-run
        // behavior (untimed: outside the nanoTime window, and the
        // next run re-creates its own providers inside its own time,
        // exactly like a fresh JVM would)
        // private[sql] at the Scala level, public in bytecode
        try {
          val cls = Class.forName(
            "org.apache.spark.sql.execution.streaming.state.StateStore$")
          cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
        } catch { case _: Throwable => () }
      }
    }

    val selected = SparkEntry.selectedRegistry

    // Per-STREAMING-key untimed warmup: streaming queries pay a
    // first-run state-store + sink init cost that batch keys don't,
    // and it drifts with the host (r9→r11 showed 2×+ cumulative drift
    // on stream keys with zero code changes while batch canaries got
    // faster). One discarded execution per streaming key moves that
    // init cost out of the timed medians; the warmup wall time is
    // still recorded (stderr + JSON) so init-cost drift stays
    // observable instead of invisible.
    val streamWarmup: Seq[(String, Double)] =
      selected.collect { case (n, q) if n.contains("stream") =>
        val t = once(n, q)
        System.err.println(f"[bench] stream warmup $n: $t%.3f s")
        n -> t
      }

    // per-sample trace on stderr (the JSON line carries medians only):
    // a key whose samples degrade monotonically across rounds exposes
    // in-bench state accumulation — the instrument that caught the r12
    // streaming provider-cache saga, kept on permanently
    val samples: Seq[Seq[(String, Double)]] =
      (1 to runs).map { r =>
        selected.map { case (n, q) =>
          val t = once(n, q)
          System.err.println(f"[bench] run $r $n: $t%.3f s")
          n -> t
        }
      }

    // a query that failed in ANY run reports the -1 sentinel (not a
    // median over partial data), so the JSON is machine-distinguishable
    // from an all-pass run
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val results = selected.map { case (name, _) =>
      val xs = samples.map(_.toMap.apply(name))
      name -> (if (xs.exists(_ < 0)) -1.0 else median(xs))
    }
    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // a SPARK_GRAFT_ONLY-narrowed run must be machine-distinguishable
    // from a full-suite run — a leaked filter would otherwise produce a
    // partial artifact indistinguishable from an all-pass bench
    // sanitized to the key-prefix alphabet: a stray backslash or quote
    // in the env value must not corrupt the JSON line
    val filtered = sys.env.get("SPARK_GRAFT_ONLY")
      .map(f => s""","filtered":"${f.replaceAll("[^A-Za-z0-9_,-]", "")}"""")
      .getOrElse("")
    // quantitative quality bound for the approximate ANN keys, measured
    // at THIS bench's scale factor each round: recall@1 of the
    // LSH/IVF answers against the exact top-1 (the no_oracle keys'
    // accuracy is otherwise invisible to the driver artifacts).
    // Computed AFTER the timing loop so it never skews the medians;
    // skipped silently if the narrowed run excluded the ANN keys.
    // host-drift NORMALIZATION CANARY: n=5 isolated medians of three
    // keys no round has touched since round 1 (pure relational paths
    // with disjoint operators). Uniform host slowdowns (JIT, cgroup,
    // thermal — the round-2/4/6/8 re-litigations) move these keys by
    // the same factor as everything else; a real regression moves its
    // key ABOVE the canary ratio. Measured after the timing loop, each
    // key back-to-back (isolated), so the round-robin loop's medians
    // stay untouched and the artifact carries both views.
    def isolatedMedians(keys: Seq[String]): Seq[(String, Double)] =
      keys.flatMap { k =>
        SparkEntry.queries.get(k).map { q =>
          val xs = (1 to 5).map(_ => once(k, Q.noOracle(q))).filter(_ >= 0)
          k -> (if (xs.isEmpty) -1.0 else median(xs))
        }
      }
    val canaryJson =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) ""
      else {
        val entries = isolatedMedians(
          Seq("q17_arithmetic", "q13_percentile", "q02_filter"))
        if (entries.isEmpty) ""
        else entries.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString(""","canary":{""", ",", "}")
      }
    // FS-PLANE canary: the CPU canaries above are pure relational
    // paths and cannot arbitrate a filesystem/metadata-plane host
    // shift (the r12 ACID/MV drift moved 1.1-1.6x while CPU canaries
    // were bit-identical). q30_acid_scenario is a multi-commit ACID
    // lifecycle untouched since round 6 and FLAT across r11→r12 —
    // if it moves with the ACID tail, the shift is the host's
    // FS/metadata plane; if the tail moves and this stays flat, the
    // regression is real code cost. Isolated n=5 after the timing
    // loop, exactly like the CPU canaries.
    val fsCanaryJson =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) ""
      else {
        val entries = isolatedMedians(Seq("q30_acid_scenario"))
        if (entries.isEmpty) ""
        else entries.map { case (k, v) => f""""$k":$v%.3f""" }
          .mkString(""","canary_fs":{""", ",", "}")
      }
    val recallJson =
      if (sys.env.contains("SPARK_GRAFT_ONLY")) ""
      else try {
        import org.apache.spark.sql.functions.col
        val e = Engine.table(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val q = e.filter(col("vec_id") < 20)
        val exact = graft.operators.Similarity.annTop1(e, q)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
          val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          exact.count { case (k, v) => got.get(k).contains(v) }
            .toDouble / exact.size
        }
        // the SHIPPED keys are recall-targeted (calibrated to >= 0.9
        // on a seeded sample) — measure exactly what they ship, and
        // emit the chosen geometry/probes so the cost point is visible
        val ivf = recallOf(graft.operators.Similarity
          .annTop1IvfTargeted(e, q, dim = 64, targetRecall = 0.9))
        val ivfProbe = graft.operators.Similarity.lastIvfCalibration._1
        val lsh = recallOf(graft.operators.Similarity
          .annTop1LshTargeted(e, q, dim = 64, targetRecall = 0.9))
        val (lshFp, lshMf, _) =
          graft.operators.Similarity.lastLshCalibration
        // fixed-geometry comparison rows (the pre-calibration
        // defaults), so the artifact still carries the cheap points
        val ivf12 = recallOf(graft.operators.Similarity
          .annTop1Ivf(e, q, dim = 64, nCells = 16, nProbe = 12))
        val lshFixed = recallOf(graft.operators.Similarity
          .annTop1Lsh(e, q, dim = 64))
        // the PERSISTED index's recall-targeted path (q78): curve
        // calibrated at build, read back through open() — the probe
        // choice pays no per-call jobs; its recall is measured here
        val idxRoot = java.nio.file.Files
          .createTempDirectory("graft_bench_ivfidx_").toUri.toString
        graft.operators.IvfIndex
          .build(e, idxRoot, dim = 64, nCells = 8).calibrate()
        val idx = graft.operators.IvfIndex.open(spark, idxRoot)
        val idxRecall = recallOf(idx.searchTargeted(q, targetRecall = 0.9))
        val idxProbe = idx.probeFor(0.9)
        f""","recall":{"q26_ann_ivf":$ivf%.3f,"q26_ann_lsh":$lsh%.3f,""" +
          f""""q26_ann_ivf_nprobe":$ivfProbe,""" +
          f""""q26_ann_lsh_geometry":"flip<=$lshMf of $lshFp",""" +
          f""""q26_ann_ivf_probe12":$ivf12%.3f,""" +
          f""""q26_ann_lsh_fixed26":$lshFixed%.3f,""" +
          f""""q78_ann_index_targeted":$idxRecall%.3f,""" +
          f""""q78_ann_index_nprobe":$idxProbe}"""
      } catch { case _: Throwable => "" }
    val warmupJson =
      if (streamWarmup.isEmpty) ""
      else streamWarmup.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString(""","stream_warmup":{""", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"runs":$runs,"sf":"$sfDir"$filtered%s$canaryJson%s$fsCanaryJson%s$recallJson%s$warmupJson%s}"""
    println(fullLine)
    // telemetry contract repair (additive): the full line above is
    // ~5 KB and the round driver captures only the LAST 2000 chars of
    // the run's output, so since round 1 it has never parsed a single
    // bench artifact (BENCH_r*.json "parsed": null, PERF per_query
    // empty). Two additive channels fix that without touching the
    // primary line or the timing methodology:
    //  1. the COMPLETE line is also written to a JSON file artifact
    //     (per-query medians machine-readable regardless of tail size);
    //  2. a COMPACT summary line (no 120-key dict — total, failures,
    //     canaries, recall) is printed LAST so it always fits whole
    //     inside the tail window.
    // keyed by core count, so a run at one count keeps another's
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"BENCH_QUERIES_c$cpus.json")
    try {
      val p = java.nio.file.Paths.get(outFile).toAbsolutePath
      java.nio.file.Files.write(p,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] per-query JSON written to $p")
    } catch { case scala.util.control.NonFatal(e) =>
      // never let the artifact write kill the run before the compact
      // line prints (an InvalidPathException is not an IOException)
      System.err.println(s"[bench] could not write $outFile: $e")
    }
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"queries_file":"$outFile","failed":$failed,"runs":$runs,"sf":"$sfDir"$filtered%s$canaryJson%s$fsCanaryJson%s$recallJson%s}""")
    spark.stop()
  }
}
