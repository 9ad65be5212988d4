package graft.acid

import java.io.{FileNotFoundException, IOException, StringWriter}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileSystem, Path}

/** The one JSON codec of the engine's metadata files: manifests and
  * their sidecars, decision records, `_vacuum.json`, `_mv.json`,
  * `_mv_registry.json`, `_ivf.json` and `_catalog.json`.
  *
  * Writers build compact objects field by field, so each format keeps
  * its key order and carries no whitespace; strings escape `"`, `\`
  * and control characters, and everything else is written raw as
  * UTF-8. Files that must fail loudly when torn or bit-rotted carry a
  * trailing crc32 of their payload ([[seal]] / [[unseal]]; the
  * reference checks every block and WAL record on load the same way,
  * crc32.rs:73-106). */
private[graft] object MetaJson {

  // unescaped control characters are accepted on read: the `_mv.json`
  // and registry writers of format 10 wrote them raw
  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** One compact JSON object whose fields `fields` writes in order. */
  def obj(fields: JsonGenerator => Unit): String = {
    val w = new StringWriter
    val g = mapper.getFactory.createGenerator(w)
    g.writeStartObject(); fields(g); g.writeEndObject(); g.close()
    w.toString
  }

  def strings(g: JsonGenerator, k: String, xs: Iterable[String]): Unit = {
    g.writeArrayFieldStart(k); xs.foreach(g.writeString); g.writeEndArray()
  }

  def longs(g: JsonGenerator, k: String, xs: Iterable[Long]): Unit = {
    g.writeArrayFieldStart(k); xs.foreach(x => g.writeNumber(x)); g.writeEndArray()
  }

  def parse(text: String): JsonNode = mapper.readTree(text)

  /** A JSON array of strings. */
  def strings(a: JsonNode): IndexedSeq[String] =
    IndexedSeq.tabulate(a.size)(a.get(_).textValue)

  def longs(a: JsonNode): IndexedSeq[Long] =
    IndexedSeq.tabulate(a.size)(a.get(_).longValue)

  def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  /** `payload` (a JSON object) with a trailing `"crc"` field over it. */
  def seal(payload: String): String =
    payload.dropRight(1) + ",\"crc\":" + crc32(payload) + "}"

  /** The payload of a [[seal]]ed body. Throws an IOException naming
    * `what` when the trailing crc field is missing (a torn read) or
    * does not match. Anchored on the LAST `,"crc":` and the closing
    * brace, so content carrying the literal text cannot spoof it. */
  def unseal(text: String, what: String): String = {
    val at = text.lastIndexOf(",\"crc\":")
    val tail = if (at < 0) "" else text.substring(at + 7).trim
    val digits = if (tail.endsWith("}")) tail.dropRight(1) else ""
    if (digits.isEmpty || digits.length > 10 || !digits.forall(_.isDigit))
      throw new IOException(
        s"$what has no trailing crc field (torn read or pre-crc writer)")
    val payload = text.substring(0, at) + "}"
    if (crc32(payload) != digits.toLong)
      throw new IOException(s"$what integrity check failed: stored crc " +
        s"$digits != computed ${crc32(payload)}")
    payload
  }

  /** The file's UTF-8 text, read with one `open`; None when it does
    * not exist. */
  def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Replace `p` by `body`: write a hidden temp beside it, then rename
    * it over `p`. Where the store's rename refuses to overwrite, `p` is
    * deleted first; a reader in that window sees the file absent. */
  def replace(fs: FileSystem, p: Path, body: String): Unit = {
    val tmp = new Path(p.getParent,
      s".${p.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    try {
      if (!fs.rename(tmp, p)) { fs.delete(p, false); fs.rename(tmp, p) }
    } finally {
      try { if (fs.exists(tmp)) fs.delete(tmp, false) }
      catch { case _: IOException => () }
    }
  }
}
