package graft.acid

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The manifest and sidecar JSON formats: a round-trip property over
  * every [[VersionedTable.Manifest]] field with hostile strings
  * (quotes, backslash runs, separators, control characters,
  * non-ASCII) in every string position, golden bodies that pin the
  * on-disk bytes of format generation 10, and the crc and format
  * gates. */
class ManifestSpec extends AnyFunSuite {
  import VersionedTable.{Manifest, UStat, fromJson, toJson}

  // every string-typed position of the widened generator draws from
  // this: JSON's specials, the separators a parallel-array or list
  // encoding could split on, control characters and non-ASCII (a BMP
  // letter, a CJK character and a surrogate pair)
  private val anyString: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar.map(_.toString),
    Gen.oneOf("\"", "\\", "\n", "\t", "\r", "\u0000", "\u0001", "\u001f",
      ",", ";", "[", "]", "{", "}", ":", " ", "/", "=", "é", "中",
      "\ud83d\ude00", "\u007f"))).map(_.mkString)
  // a deletion-vector sidecar name: non-empty and ';'-free (the list
  // is stored ';'-joined, and an empty list means "clear this entry")
  private val dvName: Gen[String] =
    anyString.map(_.replace(";", "")).map(s => s"dvp-$s.json")
  private val range: Gen[(Long, Long)] =
    Gen.zip(Gen.choose(Long.MinValue, Long.MaxValue),
      Gen.choose(Long.MinValue, Long.MaxValue))
  private val ustatGen: Gen[VersionedTable.UStat] = for {
    k <- Gen.oneOf('L', 'T', 'A', 'D', 'S', 'B', 'M', 'N', 'F')
    mn <- anyString
    mx <- anyString
    n <- Gen.choose(-1L, Long.MaxValue)
  } yield VersionedTable.UStat(k, mn, mx, n)
  private val summaryGen: Gen[ObjSummary] = for {
    ids <- Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))
    k <- Gen.choose(1, 8)
    words <- Gen.choose(1, 4)
  } yield {
    val b = IdBloom.empty(words * 64L, k)
    ids.foreach(b.add)
    ObjSummary(ids.size.toLong, ids.min, ids.max, b)
  }

  /** Every [[Manifest]] field, with hostile content in each string. */
  private val fullManifestGen: Gen[Manifest] = for {
    v <- Gen.choose(0L, Long.MaxValue)
    tsn <- Gen.choose(Long.MinValue, Long.MaxValue)
    ddl <- anyString
    added <- Gen.listOf(anyString)
    removed <- Gen.listOf(anyString)
    objs <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
    ckpt <- Gen.oneOf(true, false)
    all <- Gen.listOf(anyString)
    stats <- Gen.mapOf(Gen.zip(anyString, range))
    summary <- Gen.option(summaryGen)
    cstats <- Gen.mapOf(Gen.zip(anyString,
      Gen.nonEmptyMap(Gen.zip(anyString, range))))
    ts <- Gen.choose(0L, Long.MaxValue)
    apps <- Gen.mapOf(Gen.zip(anyString, Gen.choose(-1L, Long.MaxValue)))
    // a stamp only for an existing app id, and never 0 ("no stamp")
    stamps <- Gen.sequence[Seq[Option[(String, Long)]], Option[(String, Long)]](
      apps.keys.toSeq.map(a =>
        Gen.option(Gen.choose(1L, Long.MaxValue).map(a -> _))))
    dvs <- Gen.mapOf(Gen.zip(anyString, Gen.listOf(dvName)))
    allDvs <- Gen.mapOf(Gen.zip(anyString, Gen.listOf(dvName)))
    ustat <- Gen.mapOf(Gen.zip(anyString,
      Gen.nonEmptyMap(Gen.zip(anyString, ustatGen))))
    multi <- Gen.option(anyString)
    rens <- Gen.mapOf(Gen.zip(anyString, anyString))
    tombs <- Gen.listOf(anyString).map(_.distinct.sorted)
    cref <- Gen.option(anyString)
    cn <- Gen.choose(0L, Long.MaxValue)
    cdcf <- Gen.listOf(anyString)
    cdcx <- Gen.oneOf(true, false)
    cons <- Gen.mapOf(Gen.zip(anyString, anyString))
  } yield Manifest(v, tsn, ddl, added, removed, objs, ckpt, all, stats,
    objSummary = summary, colStats = cstats, tsMillis = ts,
    appTxns = apps, appTxnTs = stamps.flatten.toMap,
    dvs = dvs, allDvs = allDvs, fileStats = ustat, multiRef = multi,
    renames = rens, tombstones = tombs, ckptRef = cref,
    ckptFiles = if (cref.isDefined) cn else 0L,
    cdc = cdcf, cdcExact = cdcx, constraints = cons)

  // IdBloom has reference equality: compare a summary by its content
  private def comparable(m: Manifest) =
    (m.copy(objSummary = None), m.objSummary.map(s =>
      (s.count, s.min, s.max, s.bloom.k, s.bloom.toBase64)))

  test("manifest JSON round-trips arbitrary content exactly") {
    val failing = (0 until 300).map(7L + _).filterNot { seed =>
      val m = fullManifestGen.pureApply(Gen.Parameters.default.withSize(16), Seed(seed))
      scala.util.Try(comparable(fromJson(toJson(m))) == comparable(m))
        .getOrElse(false)
    }
    assert(failing.isEmpty, s"seeds failing the round trip: $failing")
  }

  // Golden bodies: written by the format-10 writer before the codec
  // moved onto Jackson. Re-serializing the parsed value must give the
  // same bytes, or the crcs and stored sizes of existing tables move.
  private val goldenManifest: Manifest = {
    val b = IdBloom.empty(128L, 3); Seq(5L, 9L, 1L << 40).foreach(b.add)
    Manifest(12L, 34L, "obj_id BIGINT,`q\"c\\\\é` STRING",
      Seq("s/k=a,b/part-1.parquet", "p-2.parquet"), Seq("old.parquet"),
      Seq(-3L, 7L), checkpoint = true,
      Seq("s/k=a,b/part-1.parquet", "p-2.parquet"),
      stats = Map("p-2.parquet" -> (1L, 9L),
        "s/k=a,b/part-1.parquet" -> (-5L, 5L)),
      objSummary = Some(ObjSummary(3L, 5L, 1L << 40, b)),
      colStats = Map("p-2.parquet" -> Map("ts" -> (10L, 20L), "b" -> (0L, 1L))),
      tsMillis = 1700000000123L,
      appTxns = Map("etl\"daily" -> 4L, "mv:file:/w/v#1" -> 9L, "q\\r" -> 0L),
      appTxnTs = Map("etl\"daily" -> 1700000000000L, "q\\r" -> 5L),
      dvs = Map("p-2.parquet" -> Seq("dvp-a.json", "dvp-b.json"),
        "gone.parquet" -> Nil),
      allDvs = Map("p-2.parquet" -> Seq("dvp-a.json", "dvp-b.json")),
      fileStats = Map(
        "p-2.parquet" -> Map(
          "name" -> UStat('S', "al\"pha, [b]", "z\\z}é", 0L),
          "#rows" -> UStat('L', "3", "3", 0L),
          "#fb:name" -> UStat('F', "@fb-abc.json#0", "3", 0L),
          "d" -> UStat('D', "-1.5E-3", "42.0", -1L)),
        "s/k=a,b/part-1.parquet" -> Map("flag" -> UStat('N', "", "", 7L))),
      multiRef = Some("file:/m/_multi/d-1.json"),
      renames = Map("new\"name" -> "old", "b" -> "a"),
      tombstones = Seq("dropped", "z\\col"),
      ckptRef = Some("ckpt-12-abc"), ckptFiles = 2L,
      cdc = Seq("_cdc/c-1.parquet"), cdcExact = true,
      constraints = Map("v_pos" -> "v > 0", "q\"x" -> "s LIKE '%\"x\\\\%'"))
  }
  private val goldenManifestJson =
    """{"formatVersion":10,"multiRef":"file:/m/_multi/d-1.json",""" +
    """"version":12,"tsn":34,"tsMillis":1700000000123,""" +
    """"schemaDDL":"obj_id BIGINT,`q\"c\\\\é` STRING",""" +
    """"added":["s/k=a,b/part-1.parquet","p-2.parquet"],""" +
    """"removed":["old.parquet"],"objects":[-3,7],"checkpoint":true,""" +
    """"objCount":3,"objMin":5,"objMax":1099511627776,"objBloomK":3,""" +
    """"objBloom":"AABAAAAAggQACAAQBAgAEA==",""" +
    """"cstatsFiles":["p-2.parquet","p-2.parquet"],"cstatsCols":["b",""" +
    """"ts"],"cstatsMin":[0,10],"cstatsMax":[1,20],""" +
    """"appIds":["etl\"daily","mv:file:/w/v#1","q\\r"],""" +
    """"appEpochs":[4,9,0],"appTs":[1700000000000,0,5],""" +
    """"dvFiles":["gone.parquet","p-2.parquet"],"dvLists":["",""" +
    """"dvp-a.json;dvp-b.json"],"allDvFiles":["p-2.parquet"],""" +
    """"allDvLists":["dvp-a.json;dvp-b.json"],""" +
    """"ustatFiles":["p-2.parquet","p-2.parquet","p-2.parquet",""" +
    """"p-2.parquet","s/k=a,b/part-1.parquet"],"ustatCols":["#fb:name",""" +
    """"#rows","d","name","flag"],"ustatKinds":["F","L","D","S","N"],""" +
    """"ustatMins":["@fb-abc.json#0","3","-1.5E-3","al\"pha, [b]",""],""" +
    """"ustatMaxs":["3","3","42.0","z\\z}é",""],""" +
    """"ustatNulls":[0,0,-1,0,7],"renFrom":["b","new\"name"],""" +
    """"renTo":["a","old"],"tombstones":["dropped","z\\col"],""" +
    """"consNames":["q\"x","v_pos"],"consExprs":["s LIKE '%\"x\\\\%'",""" +
    """"v > 0"],"ckptRef":"ckpt-12-abc","ckptFiles":2,""" +
    """"cdcFiles":["_cdc/c-1.parquet"],"cdcExact":true,""" +
    """"allFiles":["s/k=a,b/part-1.parquet","p-2.parquet"],""" +
    """"statsFiles":["p-2.parquet","s/k=a,b/part-1.parquet"],""" +
    """"statsMin":[1,-5],"statsMax":[9,5],"crc":4249818054}"""
  private val goldenMasks = Map(
    "s/k=a,b/f1.parquet" -> Seq(1L, 3L, 70000L), "p\"2.parquet" -> Seq(2L))
  private val goldenDvp =
    """{"dvpFiles":["p\"2.parquet","s/k=a,b/f1.parquet"],""" +
    """"dvpBitmaps":["R0JNMQAAAAEAAAAAAAAAAAAAAAABAAI=",""" +
    """"R0JNMQAAAAIAAAAAAAAAAAAAAAACAAEAAwAAAAAAAAABAAAAAAERcA=="],""" +
    """"crc":1403823842}"""
  private val goldenFbRows = Seq(("p-2.parquet", "name", "AAECAwQFBgc="),
    ("s/k=a,b/part-1.parquet", "c\"x", "CAgICAgICAg="))
  private val goldenFb =
    """{"files":["p-2.parquet","s/k=a,b/part-1.parquet"],"cols":["name",""" +
    """"c\"x"],"blooms":["AAECAwQFBgc=","CAgICAgICAg="],"crc":3348759809}"""
  private val goldenCommitted = """{"state":"committed","crc":3526610930}"""
  private val goldenAborted = """{"state":"aborted","crc":651677473}"""

  test("golden format-10 bodies parse and re-serialize byte-identically") {
    import VersionedTable._
    assert(toJson(goldenManifest) == goldenManifestJson)
    assert(dvPosToJson(goldenMasks.view.mapValues(GraftBitmap(_)).toMap) ==
      goldenDvp)
    assert(fbToJson(goldenFbRows) == goldenFb)
    assert(decisionToJson(committed = true) == goldenCommitted)
    assert(decisionToJson(committed = false) == goldenAborted)
    assert(comparable(fromJson(goldenManifestJson)) == comparable(goldenManifest))
    assert(toJson(fromJson(goldenManifestJson)) == goldenManifestJson)
    val masks = dvPosFromJson(goldenDvp)
    assert(masks.view.mapValues(_.iterator.toSeq).toMap == goldenMasks)
    assert(dvPosToJson(masks) == goldenDvp)
    assert(fbFromJson(goldenFb).map(_.toSeq) == Some(goldenFbRows.map(_._3)))
    assert(decisionFromJson(goldenCommitted) && !decisionFromJson(goldenAborted))
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
