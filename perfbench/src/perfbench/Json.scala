package perfbench

import java.util.Locale

/** JSON rendering for the benchmark's result files.
  *
  * Every number goes through `Locale.ROOT`: the JVM's default locale may
  * use a comma as the decimal separator (de_DE, fr_FR, ...), and a
  * locale-sensitive `f"$v%.3f"` would then print `0,123` and break the
  * line a reader parses. Non-finite doubles have no JSON form and render
  * as `null`, which the reader counts as a failed measurement.
  */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(Locale.ROOT, "%.15g", Double.box(v))

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= String.format(Locale.ROOT, "\\u%04x", Int.box(c.toInt))
      case c => b += c
    }
    (b += '"').toString
  }

  /** Render a value built from maps, sequences, strings, numbers and
    * booleans. Maps keep their iteration order. */
  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case i: Int => Integer.toString(i)
    case l: Long => java.lang.Long.toString(l)
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: collection.Map[_, _] =>
      m.iterator.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case o: Option[_] => o.map(render).getOrElse("null")
    case s: Iterable[_] => s.iterator.map(render).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }

  def write(path: String, v: Any): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (render(v) + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
