package graft.bench

import scala.collection.immutable.ListMap

/** The bench artifact's JSON writer. Objects are [[ListMap]]s, so keys
  * keep their order; a non-finite number prints as `null`. */
object Json {
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)

  /** `x` rounded to `digits` decimals, for rates and ratios. */
  def round(x: Double, digits: Int): Double =
    if (x.isNaN || x.isInfinite) x else BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP).toDouble

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case _: Double | _: Boolean | _: Int | _: Long => v.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case s => quote(s.toString)
  }

  private def quote(s: String): String =
    "\"" + s.flatMap(c => if (c == '"' || c == '\\') s"\\$c" else if (c < ' ') f"\\u${c.toInt}%04x" else c.toString) + "\""
}
