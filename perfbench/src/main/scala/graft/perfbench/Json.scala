package graft.perfbench

/** Minimal JSON writing for the benchmark's output lines. Numbers keep
  * every digit the double carries; non-finite values become null. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** An object from already-rendered values, in the given key order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** `{"name": {"value": v, "unit": u}, ...}` — the result's metric map. */
  def metrics(ms: Seq[Metric]): String =
    obj(ms.map(m => m.name -> obj(Seq("value" -> num(m.value), "unit" -> str(m.unit)))))
}

/** One reported metric. */
final case class Metric(name: String, value: Double, unit: String)
