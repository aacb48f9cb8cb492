package perfbench

import scala.collection.mutable.ArrayBuffer

/** Just enough JSON output for the harness's result and span files. */
object Json {
  final class Obj {
    private val fields = ArrayBuffer[(String, String)]()
    def put(k: String, v: Any): Obj = { fields += k -> render(v); this }
    def toJson: String = fields.map { case (k, v) => quote(k) + ":" + v }.mkString("{", ",", "}")
  }
  final class Raw(val text: String)

  def arr(xs: Seq[Any]): Raw = new Raw(xs.map(render).mkString("[", ",", "]"))
  def obj(m: Map[String, Double]): Obj =
    m.toSeq.sortBy(_._1).foldLeft(new Obj) { case (o, (k, v)) => o.put(k, v) }

  def render(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.toJson
    case r: Raw => r.text
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x @ (_: Boolean | _: Int | _: Long) => x.toString
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
