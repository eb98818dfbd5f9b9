package perfbench

/** Minimal JSON writer for the harness's report (maps, sequences,
  * strings, numbers, booleans, null).
  */
object Json {
  def write(v: Any): String = { val sb = new StringBuilder; emit(v, sb); sb.toString }

  private def emit(v: Any, sb: StringBuilder): Unit = v match {
    case null | None => sb ++= "null"
    case Some(x) => emit(x, sb)
    case s: String => str(s, sb)
    case b: Boolean => sb ++= b.toString
    case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
    case f: Float => emit(f.toDouble, sb)
    case n: Number => sb ++= n.toString
    case m: scala.collection.Map[_, _] =>
      sb += '{'
      m.toSeq.zipWithIndex.foreach { case ((k, x), i) =>
        if (i > 0) sb += ','
        str(k.toString, sb); sb += ':'; emit(x, sb)
      }
      sb += '}'
    case s: Iterable[_] =>
      sb += '['
      s.zipWithIndex.foreach { case (x, i) => if (i > 0) sb += ','; emit(x, sb) }
      sb += ']'
    case other => str(other.toString, sb)
  }

  private def str(s: String, sb: StringBuilder): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
}
