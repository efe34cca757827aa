package graftbench

/** Minimal JSON rendering for the run record (maps keep insertion order
  * when built from a Seq of pairs). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => Gen.jsonStr(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Gen.jsonStr(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case kv: Obj => kv.fields.map { case (k, x) => Gen.jsonStr(k) + ":" + render(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(render).mkString("[", ",", "]")
    case other => Gen.jsonStr(other.toString)
  }

  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)
}
