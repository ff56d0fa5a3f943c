package graft.perfbench

/** One timed interval of a traced run. `request` names what the span
  * serves end to end (a landed file, a query execution); `parent` links the
  * chain land → batch → job → stage or query → phase → job → stage.
  */
final case class Span(
    id: String,
    name: String,
    layer: String,
    startMs: Double,
    endMs: Double,
    parent: Option[String],
    request: String) {
  def durMs: Double = math.max(0.0, endMs - startMs)
}

object Spans {

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def coveredMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part covered by its
    * children. Overlapping children (a broadcast job running beside a
    * write job) are counted once, and a child that outlives its parent is
    * clipped to it.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.filter(_.parent.isDefined).groupBy(_.parent.get)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.durMs - coveredMs(kids, s.startMs, s.endMs))
    }.toMap
  }

  def toJson(s: Span): String = {
    val parent = s.parent.map(p => Json.str(p)).getOrElse("null")
    s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"parent":$parent,"request":${Json.str(s.request)}}"""
  }
}
