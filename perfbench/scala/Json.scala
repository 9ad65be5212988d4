package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** Minimal JSON for the files the benchmark hands between its JVM and
  * its Python side (Jackson from the Spark distribution for reading). */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case b: BigDecimal => b.bigDecimal.toPlainString
    case b: java.math.BigDecimal => b.toPlainString
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean) => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => value(r.toSeq)
    case other => str(other.toString)
  }

  def write(path: Path, v: Any): Unit =
    Files.write(path, value(v).getBytes(StandardCharsets.UTF_8))

  /** Append-free JSON-lines writer: one value per line. */
  def writeLines(path: Path, vs: Iterable[Any]): Unit = {
    val w = Files.newBufferedWriter(path)
    try vs.foreach { v => w.write(value(v)); w.newLine() } finally w.close()
  }

  /** Parse a JSON object file into Scala maps, sequences and numbers. */
  def read(path: Path): Map[String, Any] =
    toScala(mapper.readValue(path.toFile, classOf[java.util.Map[String, Any]]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case x => x
  }
}
