package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Optimization-round measurement aid: runs ONE registry key and prints
  * every Spark job it launched (job id, duration, first stage name /
  * description) so lifecycle scenarios' cost can be attributed to the
  * specific actions inside them. Usage:
  *   runMain graft.Profile <key> [sfDir]
  * Respects SPARK_GRAFT_CPUS. Runs the key twice (warmup + measured). */
object Profile {
  def main(args: Array[String]): Unit = {
    val key = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Engine.session(cpus)
    // measurement aid: A/B a conf change without editing the session
    // builders — SPARK_GRAFT_CONF="k=v;k=v" applied on top
    sys.env.get("SPARK_GRAFT_CONF").foreach(
      _.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.queries(key)

    // warmup run (JIT/classloading), unlistened
    val tw0 = System.nanoTime()
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    System.err.println(f"[profile] warmup: ${(System.nanoTime()-tw0)/1e9}%.3f s")

    val starts = new ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.headOption.map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          rows.add((je.jobId, (System.nanoTime() - t0) / 1e9, desc))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // in-process stack sampler (SPARK_GRAFT_SAMPLER=1): every 25 ms,
    // record the most-interesting frame of every non-idle thread —
    // attributes driver-gap time (AQE planning, codegen, manifest IO)
    // that an external jstack cannot reliably catch on a forked JVM
    val samplerOn = sys.env.get("SPARK_GRAFT_SAMPLER").contains("1")
    val sampleCtr = new ConcurrentHashMap[String, Integer]()
    @volatile var sampling = samplerOn
    val sampler = new Thread(() => {
      try {
        while (sampling) {
          val all = Thread.getAllStackTraces
          all.forEach { (t, frames) =>
            if (t.getState == Thread.State.RUNNABLE && frames.nonEmpty) {
              val fs = frames.map(f => s"${f.getClassName}.${f.getMethodName}")
              val idle = Seq("epoll", "EPoll", "socketAccept", "accept0",
                ".park", "readBytes", "waitForProcess", "Watch",
                "available0", "waitForReference", "getAllStackTraces",
                "dumpThreads")
              if (!idle.exists(fs.head.contains)) {
                val intr0 = fs.find(f => f.contains("graft") ||
                  f.contains("catalyst") || f.contains("spark.sql") ||
                  f.contains("janino") || f.contains("codehaus") ||
                  f.contains("parquet") || f.contains("hadoop"))
                  .getOrElse(fs.head)
                // fork/exec frames: name the non-Shell caller too
                val intr =
                  if (!intr0.contains("hadoop.util.Shell")) intr0
                  else intr0 + " <- " + fs.find(f =>
                    !f.contains("hadoop.util.Shell") &&
                    !f.contains("java.lang.Process")).getOrElse("?")
                sampleCtr.merge(intr, 1, (a, b) => a + b)
              }
            }
          }
          Thread.sleep(25)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[profile] sampler died: $e")
      } finally System.err.println(
        s"[profile] sampler exit, entries=${sampleCtr.size}")
    })
    sampler.setDaemon(true)
    if (samplerOn) sampler.start()
    val t0 = System.nanoTime()
    q(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(500) // let listener events drain
    import scala.jdk.CollectionConverters._
    val all = rows.asScala.toSeq.sortBy(_._1)
    val jobSum = all.map(_._2).sum
    println(f"[profile] $key wall=$wall%.3f s, jobs=${all.size}, jobTimeSum=$jobSum%.3f s, driverGap=${wall - jobSum}%.3f s")
    all.foreach { case (id, d, desc) =>
      println(f"  job $id%4d  $d%7.3f s  ${desc.take(140)}")
    }
    if (samplerOn) {
      println("[profile] busy-frame samples (25 ms):")
      import scala.jdk.CollectionConverters._
      sampleCtr.asScala.toSeq.sortBy(-_._2.intValue).take(30)
        .foreach { case (f, n) => println(f"  $n%5d  $f") }
    }
    // aggregate by description for a compact view
    println("[profile] by description:")
    all.groupBy(_._3).map { case (d, xs) => (xs.map(_._2).sum, xs.size, d) }
      .toSeq.sortBy(-_._1).foreach { case (s, n, d) =>
        println(f"  $s%7.3f s  x$n%-3d  ${d.take(120)}")
      }
    spark.stop()
  }
}
