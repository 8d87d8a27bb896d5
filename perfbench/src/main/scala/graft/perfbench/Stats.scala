package graft.perfbench

/** Summary statistics and the JSON rendering of the benchmark's records. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** (q1, q3) by linear interpolation between order statistics. */
  def quartiles(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    def q(p: Double): Double = {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
    (q(0.25), q(0.75))
  }

  /** A JSON value: numbers print with full precision, NaN/inf as null. */
  sealed trait J
  final case class JNum(v: Double) extends J
  final case class JStr(v: String) extends J
  final case class JBool(v: Boolean) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J
  final case class JArr(items: Seq[J]) extends J

  def obj(fields: (String, J)*): JObj = JObj(fields)
  implicit def num(v: Double): J = JNum(v)
  implicit def str(v: String): J = JStr(v)

  def render(j: J): String = j match {
    case JNum(v) if v.isNaN || v.isInfinite => "null"
    case JNum(v) if v == math.rint(v) && math.abs(v) < 1e15 => v.toLong.toString
    case JNum(v) => v.toString
    case JStr(v) => "\"" + v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case JBool(v) => v.toString
    case JObj(fs) => fs.map { case (k, v) => render(JStr(k)) + ":" + render(v) }
      .mkString("{", ",", "}")
    case JArr(xs) => xs.map(render).mkString("[", ",", "]")
  }
}
