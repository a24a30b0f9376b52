package graft.perfbench

import scala.collection.mutable

/** What one run found: metrics by name with units, the operations it
  * attempted, and the ones that failed or returned a wrong result. */
final class Report {
  private val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def endToEnd(name: String, value: Double, unit: String): Unit =
    synchronized(e2e(name) = (value, unit))
  def perLayer(name: String, value: Double, unit: String): Unit =
    synchronized(layer(name) = (value, unit))

  /** A correctness gate: a false `ok` counts one failed operation. */
  def check(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }

  def fail(what: String): Unit = synchronized { failed += 1; problems += what }

  def issues: Seq[String] = synchronized(problems.toList)
  def endToEndMetrics: Seq[(String, (Double, String))] = synchronized(e2e.toList)
  def perLayerMetrics: Seq[(String, (Double, String))] = synchronized(layer.toList)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def obj(m: mutable.LinkedHashMap[String, (Double, String)]): String =
    m.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  /** Both metric sets, for the results directory. */
  def fullJson: String = synchronized {
    s"""{"end_to_end":${obj(e2e)},"per_layer":${obj(layer)},"attempted":$attempted,"failed":$failed}"""
  }

  /** The result line: `correct`, `attempted`, `failed` and the chosen
    * metric set, each metric as {value, unit}. */
  def json(traced: Boolean): String = synchronized {
    s"""{"correct":${problems.isEmpty && failed == 0},"attempted":${math.max(1L, attempted)},""" +
      s""""failed":$failed,"metrics":${obj(if (traced) layer else e2e)}}"""
  }
}
