package graft.acid

import java.nio.file.Files

/** Concurrent-writer throughput measurement (commits/s) for the
  * optimistic commit protocol — the quantitative artifact behind the
  * zero-conflict multi-writer claim (AcidSpec proves correctness; this
  * gives it a number, the way the RocksDB state-store trade got one).
  *
  * Three modes, `n` timed rounds each (fresh table per round; median
  * reported):
  *  - serial:    1 writer, 24 sequential single-row commits
  *  - disjoint:  8 writers (threads, one Instance each over the same
  *               root) x 3 commits of disjoint ids — conflict checks
  *               run but never fire
  *  - contended: 8 writers x 3 withRetry upserts of the SAME key —
  *               every commit races the others on one object; retries
  *               are the cost being measured
  *
  * `runMain graft.acid.WriterBench` prints one JSON line. */
object WriterBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val n = sys.env.getOrElse("SPARK_GRAFT_WRITER_RUNS", "5").toInt
    val spark = graft.Engine.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val writers = 8
    val perWriter = 3
    val serialCommits = writers * perWriter

    def freshInst(): (String, Instance) = {
      val dir = Files.createTempDirectory("graft_wbench_").toUri.toString
      (dir, VersionedTable.create(spark, dir, AcidQueries.schema))
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    def inThreads(k: Int)(body: Int => Unit): Unit = {
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val ts = (0 until k).map(i => new Thread(() =>
        try body(i) catch { case t: Throwable => errs.add(t) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      if (!errs.isEmpty) throw errs.peek()
    }

    def serialRound(): Double = {
      val (_, inst) = freshInst()
      timed {
        (0 until serialCommits).foreach { i =>
          val t = inst.begin()
          t.insert(Seq((i.toLong, i.toLong)).toDF("obj_id", "value"))
          inst.commit(t)
        }
      }
    }

    def disjointRound(): Double = {
      val (dir, _) = freshInst()
      timed {
        inThreads(writers) { w =>
          val inst = VersionedTable.open(spark, dir)
          (0 until perWriter).foreach { i =>
            inst.withRetry() { t =>
              t.insert(Seq((w * 1000L + i, i.toLong)).toDF("obj_id", "value"))
            }
          }
        }
      }
    }

    def contendedRound(locked: Boolean): Double = {
      val (dir, inst0) = freshInst()
      val t0 = inst0.begin()
      t0.insert(Seq((1L, 0L)).toDF("obj_id", "value"))
      inst0.commit(t0)
      timed {
        inThreads(writers) { _ =>
          val inst = VersionedTable.open(spark, dir,
            EngineConf(commitLock = locked))
          (0 until perWriter).foreach { _ =>
            inst.withRetry(maxAttempts = 64, backoffMs = 5L) { t =>
              t.upsert(Seq((1L, 1L)).toDF("obj_id", "value"))
            }
          }
        }
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    // warm up the write path once so JIT/classloading stays out of
    // round 1's number
    serialRound()
    val serial = (1 to n).map(_ => serialRound())
    val disjoint = (1 to n).map(_ => disjointRound())
    val contended = (1 to n).map(_ => contendedRound(locked = false))
    // opt-in blocking lock (EngineConf.commitLock): hot-key writers
    // queue instead of thrashing optimistic retries
    val locked = (1 to n).map(_ => contendedRound(locked = true))
    def rate(w: Double) = serialCommits / w
    println(f"""{"writers":$writers,"commits_per_round":$serialCommits,"runs":$n,""" +
      f""""serial_commits_per_s":${rate(median(serial))}%.2f,""" +
      f""""disjoint8_commits_per_s":${rate(median(disjoint))}%.2f,""" +
      f""""contended8_commits_per_s":${rate(median(contended))}%.2f,""" +
      f""""contended8_locked_commits_per_s":${rate(median(locked))}%.2f}""")
    spark.stop()
  }
}
