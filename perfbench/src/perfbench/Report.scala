package perfbench

import scala.collection.mutable

/** What one run measured: op accounting, end-to-end metrics and per-layer
  * metrics, serialised for the runner script.
  */
final class Report {
  var attempted = 0L
  var failed = 0L
  val failKinds = mutable.LinkedHashMap.empty[String, Long]
  val failNotes = mutable.ArrayBuffer.empty[String]
  /** metrics every workload reports (BENCHMARK.json `end_to_end`) */
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  /** this workload's own user-facing metrics, by name with their unit */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Count one op; `problem` is None when it succeeded with a right result. */
  def op(kind: String, problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      failKinds(kind) = failKinds.getOrElse(kind, 0L) + 1
      if (failNotes.size < 20) failNotes += s"$kind: ${p.take(300)}"
    }
  }

  /** Run `body` as one op of `kind`; a throw counts as a failure. */
  def guard[T](kind: String)(body: => T): Option[T] =
    try Some(body)
    catch { case e: Throwable =>
      op(kind, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      None
    }

  def toJson: String = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(kv: Iterable[(String, String)]): String =
      kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    obj(Seq(
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "fail_kinds" -> obj(failKinds.map { case (k, v) => k -> v.toString }),
      "fail_notes" -> failNotes.map(q).mkString("[", ",", "]"),
      "e2e" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "named" -> obj(named.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> q(u))) }),
      "layers" -> obj(layers.map { case (k, v) => k -> num(v) }),
      "info" -> obj(info.map { case (k, v) => k -> q(v) })))
  }
}
