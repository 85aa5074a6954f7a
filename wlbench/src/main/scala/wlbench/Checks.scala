package wlbench

import scala.collection.mutable

/** Output checks. A failed check is recorded with what was expected
  * and what came back; the run then reports `correct: false` and exits
  * non-zero. Thread-safe: read_api checks responses on its workers. */
final class Checks {
  private val failures = mutable.ArrayBuffer.empty[String]
  private var passed = 0L

  def ok(label: String, cond: Boolean, detail: => String = ""): Boolean =
    synchronized {
      if (cond) passed += 1
      else failures += (if (detail.isEmpty) label else s"$label: $detail")
      cond
    }

  def eq[A](label: String, expected: A, got: A): Boolean =
    ok(label, expected == got, (expected, got) match {
      case (e: Set[Any @unchecked], g: Set[Any @unchecked]) =>
        s"missing ${brief(e -- g)}, unexpected ${brief(g -- e)}"
      case _ => s"expected ${brief(expected)}, got ${brief(got)}"
    })

  private def brief(x: Any): String = {
    val s = x.toString
    if (s.length <= 300) s else s.take(300) + "..."
  }

  def failed: Int = synchronized(failures.size)
  def passedCount: Long = synchronized(passed)
  def messages: Seq[String] = synchronized(failures.toList)
}
