package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Minimal JSON in and out: Jackson (shipped with Spark) parses the run
  * spec; results are rendered by hand from plain Scala values. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def render(v: Any): String = {
    val sb = new java.lang.StringBuilder
    write(v, sb)
    sb.toString
  }

  private def write(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null | None => sb.append("null")
    case Some(x) => write(x, sb)
    case s: String => sb.append(mapper.writeValueAsString(s))
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case f: Float => write(f.toDouble, sb)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(',')
        first = false
        write(k.toString, sb); sb.append(':'); write(x, sb)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; write(x, sb) }
      sb.append(']')
    case a: Array[_] => write(a.toSeq, sb)
    case other => write(other.toString, sb)
  }
}
