package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out over the Jackson that ships with Spark. */
object Json {
  private val mapper = new ObjectMapper()

  def read(p: Path): JsonNode = mapper.readTree(p.toFile)

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Write Scala maps, sequences and scalars as JSON. */
  def write(p: Path, v: Any): Unit =
    Files.writeString(p, mapper.writeValueAsString(toJava(v)))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case d: Double if d.isNaN || d.isInfinite => null
    case x => x
  }
}
