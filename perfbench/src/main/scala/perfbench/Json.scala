package perfbench

/** Minimal JSON writer for the harness's result and trace files. Accepts
  * maps with string keys, sequences, strings, numbers, booleans, options and
  * null. Non-finite numbers are written as null. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case '\n' => sb ++= "\\n"
        case '\r' => sb ++= "\\r"
        case '\t' => sb ++= "\\t"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(v: Any): Unit = v match {
      case null | None => sb ++= "null"
      case Some(x) => go(x)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Int => sb ++= n.toString
      case n: Long => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, x), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(x)
        }
        sb += '}'
      case xs: Iterable[_] =>
        sb += '['
        xs.iterator.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; go(x) }
        sb += ']'
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
