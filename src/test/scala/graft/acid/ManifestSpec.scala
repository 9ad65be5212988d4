package graft.acid

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip property for the hand-rolled manifest JSON codec —
  * including the hostile strings (quotes, backslash runs, newlines,
  * control characters) that a schema DDL could in principle carry. */
class ManifestSpec extends AnyFunSuite {
  import VersionedTable.{Manifest, fromJson, toJson}

  private val hostileString: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('"', '\\', '\n', '\t', '\u0020', '\u0001', 'é')
  )).map(_.mkString)

  // file paths now carry hive partition segments (staging/k=v/file) —
  // the codec must round-trip '=', '/', and '-' in path strings
  private val pathGen: Gen[String] = for {
    stage <- Gen.identifier
    mid <- Gen.oneOf(Gen.const(""), Gen.identifier.map(k => s"/$k=v"),
      Gen.identifier.map(k => s"/$k=a,b"), // hive keeps ',' unescaped
      Gen.identifier.map(k => s"/$k=__HIVE_DEFAULT_PARTITION__"))
    leaf <- Gen.identifier
  } yield s"$stage$mid/part-$leaf.parquet"

  private val manifestGen: Gen[Manifest] = for {
    v <- Gen.choose(0L, 1000000L)
    tsn <- Gen.choose(0L, Long.MaxValue)
    ddl <- hostileString
    added <- Gen.listOf(pathGen)
    removed <- Gen.listOf(pathGen)
    objs <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
    ckpt <- Gen.oneOf(true, false)
    all <- Gen.listOf(Gen.identifier)
    stats <- Gen.mapOf(Gen.zip(Gen.identifier,
      Gen.zip(Gen.choose(0L, 1000L), Gen.choose(1000L, 2000L))))
    ts <- Gen.choose(0L, Long.MaxValue)
    // universal stats carry ARBITRARY user data in min/max (string
    // column values) — brackets and commas included, which stress the
    // quote-aware rawField/splitItems parsers
    ustat <- Gen.mapOf(Gen.zip(pathGen, Gen.nonEmptyMap(Gen.zip(
      Gen.identifier,
      for {
        k <- Gen.oneOf('L', 'T', 'A', 'D', 'S', 'B', 'M', 'N')
        mn <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
          Gen.oneOf('[', ']', ',', '"', '\\', '\n', '}', ':'))).map(_.mkString)
        mx <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar,
          Gen.oneOf('[', ']', ',', '"', '\\', '\n', '}', ':'))).map(_.mkString)
        n <- Gen.choose(-1L, 1000L)
      } yield VersionedTable.UStat(k, mn, mx, n)))))
    multi <- Gen.option(hostileString.map(x => s"file:/m/$x.json"))
    rens <- Gen.mapOf(Gen.zip(Gen.identifier, Gen.identifier))
    // the codec canonicalizes tombstones sorted-unique
    tombs <- Gen.listOf(Gen.identifier).map(_.distinct.sorted)
    cref <- Gen.option(pathGen)
    cn <- Gen.choose(0L, 1000000L)
    cdcf <- Gen.listOf(pathGen)
    cdcx <- Gen.oneOf(true, false)
  } yield Manifest(v, tsn, ddl, added, removed, objs, ckpt, all, stats,
    tsMillis = ts, fileStats = ustat, multiRef = multi, renames = rens,
    tombstones = tombs, ckptRef = cref,
    ckptFiles = if (cref.isDefined) cn else 0L,
    cdc = cdcf, cdcExact = cdcx)

  test("manifest JSON round-trips arbitrary content exactly") {
    (0 until 200).foreach { i =>
      val m = manifestGen.pureApply(Gen.Parameters.default, Seed(7L + i))
      assert(fromJson(toJson(m)) == m, s"seed ${7 + i}: ${toJson(m)}")
    }
  }

  test("every manifest declares the one format generation") {
    val plain = Manifest(1, 2, "a BIGINT", Nil, Nil, Nil,
      checkpoint = false, Nil)
    val featured = Seq(plain,
      plain.copy(appTxns = Map("q" -> 1L)),
      plain.copy(dvs = Map("f" -> Seq("dvp-1.json"))),
      plain.copy(multiRef = Some("file:/m/d.json")),
      plain.copy(renames = Map("b" -> "a")),
      plain.copy(tombstones = Seq("old_col")),
      plain.copy(checkpoint = true, ckptRef = Some("ckpt-10-abc.parquet"),
        ckptFiles = 50000L),
      plain.copy(constraints = Map("v_pos" -> "v > 0")))
    featured.foreach { m =>
      val json = toJson(m)
      assert(json.startsWith(
        s"""{"formatVersion":${VersionedTable.FormatVersion},"""), json)
      assert(fromJson(json) == m)
    }
    assert(VersionedTable.FormatVersion == 10)
  }

  test("CHECK constraints round-trip exactly") {
    val cons = Map("v_pos" -> "v > 0",
      "weird" -> """s LIKE '%"x\\%' AND v != 0""")
    val m = Manifest(1, 2, "a BIGINT", Nil, Nil, Nil,
      checkpoint = false, Nil, constraints = cons)
    assert(fromJson(toJson(m)).constraints == cons)
  }

  test("tombstones and segmented-checkpoint refs round-trip") {
    val tombed = Manifest(1, 2, "a BIGINT", Nil, Nil, Nil,
      checkpoint = false, Nil, tombstones = Seq("old_col"))
    assert(fromJson(toJson(tombed)).tombstones == Seq("old_col"))
    val seg = Manifest(10, 2, "a BIGINT", Nil, Nil, Nil,
      checkpoint = true, Nil, ckptRef = Some("ckpt-10-abc.parquet"),
      ckptFiles = 50000L)
    val back = fromJson(toJson(seg))
    assert(back.ckptRef.contains("ckpt-10-abc.parquet") &&
      back.ckptFiles == 50000L)
  }

  test("any other format generation, or no trailing crc, is refused") {
    val m = Manifest(3, 42, "obj_id BIGINT", Seq("a/f1.parquet"), Nil,
      Seq(1L), checkpoint = false, Nil, renames = Map("b" -> "a"))
    val json = toJson(m)
    val fv = s""""formatVersion":${VersionedTable.FormatVersion},"""
    // re-seal a payload with a valid trailing crc, so a refusal is
    // attributable to the generation alone
    def sealCrc(payload: String): String =
      payload.dropRight(1) +
        s""","crc":${VersionedTable.crc32(payload)}}"""
    val payload = json.substring(0, json.lastIndexOf(",\"crc\":")) + "}"
    val cases: Seq[(String, String, String)] =
      ("absent", sealCrc(payload.replace(fv, "")),
        "declares no formatVersion") +:
      ((2 to 9).map(g => (s"gen $g",
        json.replace(fv, s""""formatVersion":$g,"""),
        s"formatVersion $g is older")) :+
      (("gen 11", json.replace(fv, """"formatVersion":11,"""),
        "formatVersion 11 is newer")) :+
      (("no trailing crc", payload, "no trailing crc")))
    cases.foreach { case (label, text, cause) =>
      val e = intercept[java.io.IOException](fromJson(text))
      assert(e.getMessage.contains(cause), s"$label: ${e.getMessage}")
      // a generation mismatch is deterministic (never retried as a
      // torn read); a missing crc is what a torn read looks like
      assert(e.isInstanceOf[ManifestFormatException] ==
        (label != "no trailing crc"), label)
    }
    // the re-sealing itself is sound: the intact payload parses
    assert(fromJson(sealCrc(payload)) == m)
  }

  test("edge strings: trailing backslash, escaped quote runs, unicode") {
    Seq("\\", "a\\", "\\\\\"", "\"\"\"", "\n\n", "\u0000\u001f", "中文 schema")
      .foreach { ddl =>
        val m = Manifest(1, 2, ddl, Nil, Nil, Nil, checkpoint = false, Nil)
        assert(fromJson(toJson(m)) == m, s"ddl=<$ddl>")
      }
  }

  test("universal file stats: hostile string bounds round-trip exactly") {
    import VersionedTable.UStat
    val stats = Map(
      "a/f1.parquet" -> Map(
        "name" -> UStat('S', "alpha, [beta]", "z}z:\"quoted\"\nend", 0L),
        "ts" -> UStat('T', "1700000000000000", "1700009999000000", -1L),
        "score" -> UStat('D', "-1.5E-3", "42.0", 3L),
        "flag" -> UStat('N', "", "", 7L)),
      "b/k=a,b/f2.parquet" -> Map(
        "dec" -> UStat('M', "-12.345", "99.990", 0L)))
    val m = Manifest(9, 1, "obj_id BIGINT", Seq("a/f1.parquet"), Nil,
      Seq(1L), checkpoint = false, Nil, fileStats = stats)
    assert(fromJson(toJson(m)) == m, toJson(m))
  }

  test("a corrupted manifest fails the crc check loudly (R30)") {
    val m = Manifest(3, 42, "obj_id BIGINT", Seq("a/f1.parquet"), Nil,
      Seq(1L, 2L), checkpoint = false, Nil, Map("a/f1.parquet" -> (1L, 2L)))
    val json = toJson(m)
    assert(fromJson(json) == m) // intact passes
    // flip one payload byte (a digit of tsn) — the parser would still
    // accept the shape, only the crc catches the corruption
    val corrupted = json.replaceFirst("\"tsn\":42", "\"tsn\":43")
    val e = intercept[java.io.IOException] { fromJson(corrupted) }
    assert(e.getMessage.contains("integrity"))
  }

  test("a schemaDDL containing the literal crc-suffix text round-trips") {
    // the integrity check must anchor to the TRAILING `,"crc":N}` field,
    // not a lookalike substring inside content
    val m = Manifest(1, 2, """x STRUCT<`,"crc":123}` : INT>""", Nil, Nil,
      Nil, checkpoint = false, Nil)
    assert(fromJson(toJson(m)) == m)
  }

  test("paths with commas (hive does not escape ',') round-trip exactly") {
    // a partition value like `k=a,b` keeps its comma in the on-disk
    // name; a naive split-on-',' array parser corrupted added/removed
    // and (worse) silently emptied dv masks via the file/list zip
    val m = Manifest(1, 2, "obj_id BIGINT",
      added = Seq("s/k=a,b/part-1.parquet", "s/k=c/part-2.parquet"),
      removed = Seq("t/k=x,y,z/f.parquet"), objects = Seq(1L),
      checkpoint = true, allFiles = Seq("s/k=a,b/part-1.parquet"),
      stats = Map("s/k=a,b/part-1.parquet" -> (1L, 2L)),
      dvs = Map("s/k=a,b/part-1.parquet" -> Seq("dvp-1.json")),
      allDvs = Map("s/k=a,b/part-1.parquet" -> Seq("dvp-1.json")))
    assert(fromJson(toJson(m)) == m)
  }

  test("dv sidecar payloads keyed by comma paths round-trip") {
    val masks = Map("s/k=a,b/f1.parquet" -> GraftBitmap(Seq(3L, 1L)),
      "p/f2.parquet" -> GraftBitmap(Seq(2L)))
    val parsed = VersionedTable.dvPosFromJson(VersionedTable.dvPosToJson(masks))
    assert(parsed.view.mapValues(_.iterator.toSeq).toMap ==
      Map("s/k=a,b/f1.parquet" -> Seq(1L, 3L), "p/f2.parquet" -> Seq(2L)))
  }

  test("appTxns last-update stamps round-trip; stamp-less entries parse as absent") {
    val m = Manifest(4, 5, "obj_id BIGINT", Nil, Nil, Nil, checkpoint = true,
      Nil, appTxns = Map("q1" -> 7L, "q2" -> 9L),
      appTxnTs = Map("q1" -> 123L, "q2" -> 456L))
    assert(fromJson(toJson(m)) == m)
    // a stamp-less entry serializes as age-unknown (0) and parses back
    // as absent — never retention-expired
    val unstamped = m.copy(appTxnTs = Map("q1" -> 123L))
    assert(toJson(unstamped).contains(""""appTs":[123,0]"""))
    assert(fromJson(toJson(unstamped)) == unstamped)
  }
}
