package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the results file. */
object Json {
  final case class Raw(items: Seq[(String, Any)])
  def obj(kv: (String, Any)*): Raw = Raw(kv)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Raw(items) => items.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }
}

/** Read access to the generator's `manifest.json`. */
object Manifest {
  final class Obj(val n: JsonNode) {
    def str(k: String): String = n.get(k).asText()
    def num(k: String): Long = n.get(k).asLong()
    def list(k: String): IndexedSeq[Obj] = n.get(k).elements().asScala.map(new Obj(_)).toIndexedSeq
    def strList(k: String): IndexedSeq[String] = n.get(k).elements().asScala.map(_.asText()).toIndexedSeq
    def numList(k: String): IndexedSeq[Double] = n.get(k).elements().asScala.map(_.asDouble()).toIndexedSeq
  }
  def load(path: String): Obj = new Obj(new ObjectMapper().readTree(new java.io.File(path)))
}
