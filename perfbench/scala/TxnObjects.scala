package perfbench

import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentLinkedQueue, CyclicBarrier}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.acid.{ConflictException, Instance, VersionedTable}

/** `txn_objects`: the reference's own traffic — small object
  * transactions on one `(obj_id, value)` table.
  *
  * A closed loop of `writers` writer clients and one reader client, each
  * with its own `Instance` on the same root. Writers run a seeded mix
  * through `begin`/`commit` with their own bounded retry loop: small
  * inserts (at most `fastPathRows` rows), read-modify-write increments
  * of shared counter objects (`Txn.read` then `upsert`) and `deleteMoR`
  * of ids only that writer deletes. The reader alternates `readWhere`
  * point lookups at the head with point lookups in `snapshot(v)` at
  * random committed versions. Every client runs whole rounds, so every
  * run attempts whole rounds of the same operations. */
object TxnObjects {
  val MaxAttempts = 64

  def shuffled[A](rng: SplittableRandom, xs: Seq[A]): Seq[A] =
    xs.map(x => (rng.nextDouble(), x)).sortBy(_._1).map(_._2)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val writers = math.max(1, math.min(ctx.planInt("writers"), ctx.cores - 1))
    val writerMix = ctx.plan("writer_round").asInstanceOf[Seq[String]]
    val readerOps = ctx.planInt("reader_ops_per_round")
    val counters = ctx.planLongs("counters")
    val preload = ctx.input("preload")
    val counterRows = ctx.input("counter_rows")

    // set-up: create, preload, counters, then a history of watermark-only
    // commits (a streaming sink's epoch marks) so the log is longer than
    // the per-Instance manifest cache before the clients start; repeated,
    // and the last root is used
    def setup(): (String, Long) = {
      val root = ctx.freshDir("txn")
      val inst = VersionedTable.create(spark, root,
        graft.acid.AcidQueries.schema)
      val loaded = Seq(preload, counterRows).map { df =>
        val t = inst.begin(); t.insert(df); inst.commit(t)
      }.last
      (1 to ctx.planInt("history_commits")).foreach { e =>
        val t = inst.begin(); t.markEpoch("history", e); inst.commit(t)
      }
      (root, loaded)
    }
    val setups = (1 to ctx.planInt("setups")).map { _ =>
      val t0 = System.nanoTime(); val r = setup()
      ((System.nanoTime() - t0) / 1e9, r)
    }
    val (root, base) = setups.last._2
    val history = VersionedTable.open(spark, root).latestVersion

    val commits = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    // versions the reader travels to: every one since the data was loaded
    val committed = new ConcurrentLinkedQueue[java.lang.Long](
      (base to history).map(java.lang.Long.valueOf).asJava)
    val retries = new AtomicLong()
    val failed = new AtomicLong()
    val attempted = new AtomicLong()
    val rounds = new AtomicLong()
    // The first round is an untimed warm-up that every client finishes
    // before the window opens; after it each client runs whole rounds
    // until the deadline without waiting for the others.
    @volatile var windowStart, deadline = 0L
    var opsAtStart, gcAtStart = 0L
    var storedAfterWarmup = 0.0
    val warmedUp = new CyclicBarrier(writers + 1, () => {
      // every run has made the same commits at this point
      storedAfterWarmup = Stats.storedPerLive(VersionedTable.open(spark, root))
      ctx.resetSamples()
      opsAtStart = attempted.get
      gcAtStart = Stats.gcMs()
      windowStart = System.nanoTime()
      deadline = windowStart + ctx.seconds * 1000000000L
    })
    val errors = new ConcurrentLinkedQueue[Throwable]()

    def writer(c: Int): Unit = {
      val inst = VersionedTable.open(spark, root)
      val rng = new SplittableRandom(ctx.seed * 1000003L + c)
      val deletable = mutable.Queue.from(
        ctx.planLongs(s"deletable_$c"))
      var nextId = ctx.planLong("insert_id_base") * (c + 1)
      def once(kind: String): Unit = {
        val op = Trace.newOp()
        // the op's inputs are drawn once; only the counter value read
        // inside an attempt changes between retries
        val (ins, del, ctr) = kind match {
          case "insert" =>
            val rows = (0 until 1 + rng.nextInt(16)).map { _ =>
              nextId += 1
              (nextId, rng.nextLong(1000000L))
            }
            (rows, Seq.empty[Long], -1L)
          case "increment" => (Nil, Nil, counters(rng.nextInt(counters.size)))
          case _ => (Nil, Seq(deletable.dequeue(), deletable.dequeue()), -1L)
        }
        attempted.incrementAndGet()
        val t0 = System.nanoTime()
        var done = false
        var attempts = 0
        Trace.span("op.write", op) { s =>
          while (!done) {
            attempts += 1
            val t = inst.begin()
            try {
              var seen = -1L
              kind match {
                case "insert" =>
                  Trace.span("acid.txn.insert")(_ => t.insert(ins.toDF("obj_id", "value")))
                case "increment" =>
                  seen = Trace.span("acid.txn.read") { _ =>
                    t.read().filter(col("obj_id") === ctr).select("value")
                      .as[Long].collect().head
                  }
                  Trace.span("acid.txn.upsert")(_ =>
                    t.upsert(Seq((ctr, seen + 1)).toDF("obj_id", "value")))
                case "delete" =>
                  Trace.span("acid.txn.deleteMoR")(_ => t.deleteMoR(del))
              }
              val v = Trace.span("acid.commit") { cs =>
                try {
                  val v = inst.commit(t)
                  if (cs != null) {
                    cs.attrs("ok") = true; cs.attrs("version") = v
                    cs.attrs("ckpt") = v % inst.checkpointInterval == 0
                  }
                  v
                } catch {
                  case e: ConflictException =>
                    if (cs != null) cs.attrs("ok") = false
                    throw e
                }
              }
              committed.add(v)
              commits.add(Map("v" -> v, "client" -> c, "kind" -> kind,
                "ins" -> ins.map(r => Seq(r._1, r._2)), "del" -> del,
                "ctr" -> ctr, "seen" -> seen))
              done = true
            } catch {
              case _: ConflictException if attempts < MaxAttempts =>
                inst.rollback(t)
                retries.incrementAndGet()
                Thread.sleep(1L + rng.nextInt(4 * attempts))
            }
          }
          if (s != null) {
            s.attrs("kind") = kind; s.attrs("attempts") = attempts
            s.attrs("user_bytes") = 16L * (ins.size + (if (ctr >= 0) 1 else 0))
          }
        }
        ctx.record("write_ms", (System.nanoTime() - t0) / 1e6)
      }
      // every round runs the same operations, in a seeded order
      loop(() => shuffled(rng, writerMix).foreach(once))
    }

    def reader(): Unit = {
      val inst = VersionedTable.open(spark, root)
      val rng = new SplittableRandom(ctx.seed * 1000003L + 999)
      val ids = ctx.planLongs("read_ids")
      def pick(): Seq[Long] = Seq.fill(3)(ids(rng.nextInt(ids.size))).distinct
      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
        df.select("obj_id", "value").as[(Long, Long)].collect()
          .map(r => Seq(r._1, r._2)).toSeq.sortBy(_.head)
      // every point lookup counts in lookup_ms; each kind also on its own
      def lookup[T](kind: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        val ms = (System.nanoTime() - t0) / 1e6
        ctx.record(kind, ms); ctx.record("lookup_ms", ms)
        r
      }
      def headRead(): Unit = {
        val q = pick()
        attempted.incrementAndGet()
        val lo = inst.latestVersion
        val got = lookup("head_ms") {
          Trace.span("op.point_read", Trace.newOp()) { _ =>
            val df = Trace.span("acid.read.resolve")(_ => inst.readWhere("obj_id", q))
            rows(df)
          }
        }
        reads.add(Map("lo" -> lo, "hi" -> inst.latestVersion, "ids" -> q,
          "rows" -> got))
      }
      def pastRead(): Unit = {
        val q = pick()
        val vs = committed.asScala.toIndexedSeq
        val v: Long = vs(rng.nextInt(vs.size))
        attempted.incrementAndGet()
        val got = lookup("travel_ms") {
          Trace.span("op.point_read", Trace.newOp()) { _ =>
            val df = Trace.span("acid.read.resolve")(_ =>
              inst.snapshot(v).filter(col("obj_id").isin(q: _*)))
            rows(df)
          }
        }
        reads.add(Map("lo" -> v, "hi" -> v, "ids" -> q, "rows" -> got))
      }
      loop(() => (1 to readerOps).foreach(i =>
        if (i % 2 == 1) headRead() else pastRead()))
    }

    def loop(round: () => Unit): Unit = {
      def guarded(): Unit =
        try round() catch { case e: Exception => failed.incrementAndGet(); errors.add(e) }
      try {
        guarded()
        warmedUp.await()
        while (System.nanoTime() < deadline) { guarded(); rounds.incrementAndGet() }
      } catch { case e: Throwable => errors.add(e); warmedUp.reset() }
    }

    val threads = (0 until writers).map(c => new Thread(() => writer(c))) :+
      new Thread(() => reader())
    threads.foreach(_.start()); threads.foreach(_.join())
    val measured = (System.nanoTime() - windowStart) / 1e9
    val gcWindow = Stats.gcMs() - gcAtStart
    if (!errors.isEmpty) errors.peek().printStackTrace()

    // checks need the head rows, then the same rows from a fresh Instance
    val head = VersionedTable.open(spark, root)
    def all(i: Instance) = i.read().select("obj_id", "value").as[(Long, Long)]
      .collect().map(r => Seq(r._1, r._2)).toSeq.sortBy(_.head)
    ctx.dump("txn_commits", commits.asScala)
    ctx.dump("txn_reads", reads.asScala)
    ctx.dump("txn_head", Seq(Map("v" -> head.latestVersion, "base" -> base,
      "rows" -> all(head))))
    ctx.dump("txn_reopen", Seq(Map("v" -> head.latestVersion,
      "rows" -> all(VersionedTable.open(spark, root)))))

    val nCommits = ctx.samplesOf("write_ms").size
    val lookups = ctx.samplesOf("lookup_ms")
    Outcome(attempted.get, failed.get, retries.get,
      Map(
        "setup_s" -> Stats.median(setups.map(_._1)),
        "ops_per_s" -> (attempted.get - opsAtStart) / measured,
        "lookup_ms.p50" -> Stats.median(lookups),
        "stored_bytes_per_live_byte" -> storedAfterWarmup),
      Map(
        "measured_s" -> measured, "gc_ms" -> gcWindow.toDouble,
        "client_rounds" -> rounds.get, "writers" -> writers, "history_version" -> history,
        "stored_bytes_per_live_byte_at_end" -> Stats.storedPerLive(head),
        "base_version" -> base, "head_version" -> head.latestVersion,
        "commit_ms" -> Stats.summary(ctx.samplesOf("write_ms")),
        "commits_per_s" -> nCommits / measured,
        "point_read_ms" -> Stats.summary(ctx.samplesOf("head_ms")),
        "travel_read_ms" -> Stats.summary(ctx.samplesOf("travel_ms")),
        "setup_runs_s" -> setups.map(_._1)))
  }
}
