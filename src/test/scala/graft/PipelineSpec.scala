package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.functions.TextAnalytics

/** Behavior tests for the LLM-pipeline operators (dedup, similarity,
  * text analytics, multimodal) beyond the cross-engine oracle checks. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = Engine.session("4")
  import spark.implicits._
  val dir = "/root/testdata/sf0.001"

  test("shingles: short docs yield empty set, no failure") {
    val df = Seq((1L, "a b"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = df.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L).isEmpty)
    assert(out(2L) == Seq("a b c", "b c d"))
  }

  test("shingle hashing matches split semantics on trailing spaces") {
    // string_split("x y z w ") has an empty trailing token, giving the
    // extra shingle "z w " — the hashed tokenizer must agree with the
    // SQL oracle here or Jaccard values diverge
    val df = Seq((1L, "x y z w"), (2L, "x y z w ")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.1).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getDouble(2) == 0.6667) // |{xyz,yzw}| / |{xyz,yzw,"z w "}|
  }

  test("exact dedup removes duplicate keys") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "t")
    assert(Dedup.exact(df, Seq("t")).count() == 2)
  }

  test("minhash-LSH pairs equal exact Jaccard pairs (full recall)") {
    val docs = Engine.table(spark, dir, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.5).collect()
    assert(exact.nonEmpty)
    assert(lsh.map(_.toSeq).toSet == exact.map(_.toSeq).toSet)
  }

  test("jaccard prefix filter is exact under either global order") {
    // the prefix-filter theorem holds for ANY global total order on
    // shingles; hash-asc (slice, default) and df-asc (windowed) must
    // produce identical pairs — and tie out with the tau=0.5 oracle set
    val docs = Engine.table(spark, dir, "documents")
    val byHash = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .collect().map(_.toSeq)
    val byDf = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.5,
      orderByDf = true).collect().map(_.toSeq)
    assert(byHash.nonEmpty)
    assert(byHash.toSeq == byDf.toSeq)
  }

  test("simhash pairs equal exact Jaccard pairs at tau=0.9") {
    val docs = Engine.table(spark, dir, "documents")
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.9).collect()
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 3, 0.9).collect()
    assert(sim.map(_.toSeq).toSet == exact.map(_.toSeq).toSet)
  }

  test("connected components: transitive chains merge, islands stay apart") {
    // A~B, B~C (no direct A~C) must land in ONE component — the case
    // greedy drop-doc_hi dedup under-merges
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // a longer chain exercises multi-round propagation
    val chain = (1L to 8L).sliding(2).map(p => (p(0), p(1))).toSeq
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(chain).collect()
      .map(r => r.getLong(1)).distinct
    assert(labels.toSeq == Seq(1L))
    // driver union-find fast path and distributed loop agree exactly
    // (driverEdgeLimit = 0 forces the distributed path)
    val messy = Seq((5L, 9L), (2L, 7L), (9L, 2L), (30L, 31L), (1L, 5L))
      .toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponents(messy).collect().map(_.toSeq)
    val viaLoop = Dedup.connectedComponents(messy, driverEdgeLimit = 0L)
      .collect().map(_.toSeq)
    assert(viaDriver.toSeq == viaLoop.toSeq)
    assert(viaDriver.map(r => r.head -> r(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 7L -> 1L, 9L -> 1L,
          30L -> 30L, 31L -> 30L))
  }

  test("cosine: identical vectors score 1.0, orthogonal 0.0") {
    val df = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.0, 2.0)))
      .toDF("vec_id", "v")
    val out = Similarity.cosineNearDup(df, -2.0).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) == 0.0)
  }

  test("vector and sketch expressions register no session function") {
    import graft.expressions.{ShingleHashes, SketchExpressions, VectorExpressions}
    val df = Seq((1L, "a b c d", Seq(1.0, 0.0)), (2L, "b c d e", Seq(0.5, 0.5)))
      .toDF("id", "text", "v")
    val sh = ShingleHashes.shingleHashes(spark, col("text"), 2)
    val out = df.select(
      VectorExpressions.cosineSim(spark, col("v"), col("v")).as("cos"),
      VectorExpressions.rollingHash(spark, col("text")).as("rh"),
      VectorExpressions.hyperplaneBands(spark, col("v"), 2, 3).as("hp"),
      SketchExpressions.minhashBands(spark, sh, 4, 2).as("mh"),
      SketchExpressions.simhashFp(spark, sh).as("sim"),
      SketchExpressions.sortedIntersectSize(spark, array_sort(sh),
        array_sort(sh)).as("n")).collect()
    assert(out.length == 2 && out.forall(_.getDouble(0) > 0.99))
    assert(Dedup.jaccardPairs(df, "id", "text", 2, 0.1).count() == 1L)
    // the Columns wrap the expressions directly: the shared function
    // registry holds no engine function afterwards
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(registered.isEmpty, registered.mkString(", "))
  }

  test("ANN top-1 picks the true nearest neighbor") {
    val df = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(-1.0, 0.2)))
      .toDF("vec_id", "v")
    val out = Similarity.annTop1(df, df.filter(col("vec_id") === 0))
      .collect().head
    assert(out.getLong(1) == 1L)
  }

  test("langId classifies handwritten multilingual snippets") {
    val df = Seq(
      "the quick brown fox is one of the foxes",
      "el perro y la casa que en madrid",
      "der hund und die katze ist nicht hier",
      "le chat et les chiens est dans la maison")
      .toDF("text")
    val got = df.select(TextAnalytics.langId(col("text"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "es", "de", "fr"))
  }

  test("fingerprint is content-sensitive and stable") {
    val df = Seq((1L, "hello world"), (2L, "hello worle"), (3L, "hello world"))
      .toDF("id", "text")
    val fp = df.select(TextAnalytics.fingerprint(spark, col("text"))).collect().map(_.getLong(0))
    assert(fp(0) == fp(2))
    assert(fp(0) != fp(1))
  }

  test("decontamination flags exactly the train docs leaking an 8-gram") {
    val gram = "one two three four five six seven eight"
    val train = Seq(
      (1L, s"prefix $gram suffix"),        // leaks the heldout 8-gram
      (2L, "totally unrelated training text with many distinct words"),
      (3L, s"$gram and then $gram again")) // leaks it too (counted once)
      .toDF("doc_id", "text")
    val held = Seq((100L, s"held out doc containing $gram here"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminated(train, held, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(1L, 3L))
    assert(hits(1L) == 1L && hits(3L) == 1L)
  }

  test("upsample: integer + fractional weights, deterministic across runs") {
    import graft.operators.Sampling
    val df = spark.range(0, 1000).toDF("id")
    def mixed() = Sampling.upsample(df, col("id"),
      when(col("id") < 500, lit(2.5)).otherwise(lit(0.25)))
    val rows = mixed().collect().map(r => (r.getLong(0), r.getLong(1)))
    val perId = rows.groupBy(_._1).view.mapValues(_.length).toMap
    // weight 2.5: every id has 2 or 3 copies; ~half get the 3rd
    val hi = (0L until 500L).map(id => perId.getOrElse(id, 0))
    assert(hi.forall(c => c == 2 || c == 3))
    assert(hi.count(_ == 3) > 150 && hi.count(_ == 3) < 350)
    // weight 0.25: kept once or dropped; ~quarter survive
    val lo = (500L until 1000L).map(id => perId.getOrElse(id, 0))
    assert(lo.forall(c => c == 0 || c == 1))
    assert(lo.count(_ == 1) > 75 && lo.count(_ == 1) < 175)
    // frozen: a second run reproduces the exact multiset
    assert(mixed().collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq == rows.sorted.toSeq)
    // rounding-carry regression: weight 0.999 must keep ~every row
    // once (fracPct rounds to 100), never drop the dataset
    val nearOne = Sampling.upsample(df, col("id"), lit(0.999)).count()
    assert(nearOne == 1000L, s"weight 0.999 kept $nearOne of 1000")
    // and weight 1.995 gives 2 copies for ~all ids (never 1 for all)
    val nearTwo = Sampling.upsample(df, col("id"), lit(1.995)).count()
    assert(nearTwo > 1980 && nearTwo <= 2000, s"weight 1.995 -> $nearTwo")
  }

  test("chunking covers every token; window and tail sizes are exact") {
    val text = (1 to 50).map(i => s"t$i").mkString(" ")
    val out = TextAnalytics.chunk(Seq((7L, text)).toDF("doc_id", "text"),
        col("doc_id"), col("text"), 32, 24)
      .orderBy("chunk_idx").collect()
    assert(out.length == 3) // ceil(50/24)
    assert(out.map(_.getLong(3)).toSeq == Seq(32L, 26L, 2L))
    assert(out(0).getString(2).startsWith("t1 ") &&
      out(0).getString(2).endsWith(" t32"))
    assert(out(2).getString(2) == "t49 t50")
    // every token appears in at least one chunk
    val covered = out.flatMap(_.getString(2).split(" ")).toSet
    assert(covered == (1 to 50).map(i => s"t$i").toSet)
    // short doc: exactly one chunk, whole text
    val one = TextAnalytics.chunk(Seq((8L, "a b c")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), 32, 24).collect()
    assert(one.length == 1 && one(0).getString(2) == "a b c")
  }

  test("packing: contiguous offsets per shard, bins advance every ctxTokens") {
    // 1 shard, ctx=100; chunks of 40/40/40 tokens from consecutive docs:
    // starts 0,40,80 → bins 0,0,0 at offsets 0,40,80 (the 3rd STARTS
    // inside bin 0 even though it crosses into bin 1 — concat-then-split)
    val chunks = Seq(
      (1L, 0L, 40L), (2L, 0L, 40L), (3L, 0L, 40L), (4L, 0L, 40L))
      .toDF("doc_id", "chunk_idx", "chunk_tokens")
    val out = TextAnalytics.packChunks(chunks, 100, 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("offset")))
    assert(out.toSeq == Seq((0L, 0L), (0L, 40L), (0L, 80L), (1L, 20L)))
    // shards partition independently: same stream over 2 shards
    val sharded = TextAnalytics.packChunks(chunks, 100, 2).collect()
    assert(sharded.map(_.getAs[Long]("shard")).toSet == Set(0L, 1L))
    // within each shard offsets restart at 0
    val perShard = sharded.groupBy(_.getAs[Long]("shard"))
    perShard.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("offset")).min == 0L)
    }
  }

  test("multimodal: PGM/WAV containers round-trip through the real decoders") {
    val docs = Engine.table(spark, dir, "documents").limit(20)
    // blob pack round-trips bytes exactly
    val packed = Multimodal.packAsMedia(docs, "text")
    val back = packed.select(col("text"),
      decode(col("payload"), "UTF-8").as("rt")).collect()
    assert(back.forall(r => r.getString(0) == r.getString(1)))
    // PGM: the decoder's parsed geometry must MATCH the packer's meta
    // (header actually read, not assumed), and features are normalized
    val img = Multimodal.packAsImage(docs, "text")
    val feats = Multimodal
      .extractFeatures(img, "doc_id", "payload", Multimodal.decodePgm)
      .join(img.select(col("doc_id").as("id"), col("meta.height").as("mh")), "id")
      .collect()
    assert(feats.length == 20)
    feats.foreach { r =>
      val f = r.getSeq[Double](1)
      assert(f.length == 4 && f(0) == 16.0, "parsed width")
      assert(f(1) == r.getAs[Int]("mh").toDouble, "parsed height == meta height")
      assert(f(2) > 0 && f(2) <= 1.0 && f(3) >= 0 && f(3) <= 1.0)
    }
    // WAV: parsed sample count equals the packed byte count
    val wav = Multimodal.packAsWav(docs, "text")
    val af = Multimodal
      .extractFeatures(wav, "doc_id", "payload", Multimodal.decodeWav)
      .join(docs.select(col("doc_id").as("id"),
        octet_length(encode(col("text"), "UTF-8")).cast("double").as("nb")), "id")
      .collect()
    assert(af.length == 20)
    af.foreach { r =>
      val f = r.getSeq[Double](1)
      assert(f.length == 3 && f(0) == r.getAs[Double]("nb"), "parsed n_samples")
      assert(f(1) == f(0) / 8000.0 && f(2) > 0 && f(2) <= 1.0)
    }
  }

  test("multimodal decoders parse real container structure, reject malformed") {
    import Multimodal.{decodePgm, decodeWav}
    // PGM with a header comment (netpbm spec) — 2x2, known samples
    val pgm = ("P5\n# a comment\n2 2\n255\n".getBytes("US-ASCII")
      ++ Array[Byte](0x10, 0x60, 0x7F, 0x20.toByte))
    val f = decodePgm(pgm)
    assert(f(0) == 2.0 && f(1) == 2.0)
    assert(f(2) == (0x10 + 0x60 + 0x7F + 0x20).toDouble / (4 * 255))
    assert(f(3) == 0.5) // 0x60 and 0x7F are in-band
    intercept[IllegalArgumentException] {
      decodePgm("P6\n2 2\n255\n....".getBytes("US-ASCII")) // wrong magic
    }
    intercept[IllegalArgumentException] {
      decodePgm("P5\n4 4\n255\nxx".getBytes("US-ASCII")) // truncated raster
    }
    // WAV: canonical header + an UNKNOWN chunk before data — the chunk
    // walk must skip it by its LE size, not assume a fixed layout
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    val samples = Array[Byte](10, 20, 30, 40)
    val wav = "RIFF".getBytes ++ le(4 + 24 + 12 + 12, 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(1, 2) ++
      le(8000, 4) ++ le(8000, 4) ++ le(1, 2) ++ le(8, 2) ++
      "LIST".getBytes ++ le(4, 4) ++ "INFO".getBytes ++ // decoy chunk
      "data".getBytes ++ le(samples.length, 4) ++ samples
    val w = decodeWav(wav)
    assert(w(0) == 4.0 && w(1) == 4.0 / 8000 && w(2) == 100.0 / (4 * 255))
    intercept[IllegalArgumentException] {
      decodeWav("RIFX1234WAVE".getBytes) // wrong magic
    }
  }
}
