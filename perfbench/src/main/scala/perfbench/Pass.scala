package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** An output that ran but disagrees with what the benchmark expects. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** One pass of a workload: its operations, run one after another by a
  * single client. Each operation is timed at the call boundary; when the
  * pass is traced it also becomes a span whose jobs carry its name.
  *
  * With `stopOnFailure`, an operation that fails marks every later
  * operation of the pass as failed without running it (the linkage
  * phases feed each other).
  */
final class Pass(val index: Int, tracer: Option[Tracer], stopOnFailure: Boolean) {
  val latencies = mutable.ArrayBuffer[(String, Double)]()
  val errors = mutable.ArrayBuffer[String]()
  private var broken = false

  def attempted: Int = latencies.size
  def failed: Int = errors.size

  def op(name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    if (broken) errors += s"$name: skipped after an earlier failure"
    else
      try tracer.fold(body)(_.span(index, name, Some(name))(body))
      catch {
        case NonFatal(e) =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          broken = stopOnFailure
      }
    latencies += name -> (System.nanoTime() - t0) / 1e9
  }

  /** A child span of the current operation (`construct` or `action`). */
  def part[T](name: String)(f: => T): T = tracer.fold(f)(_.span(index, name)(f))

  def check(ok: Boolean, what: => String): Unit = if (!ok) throw new WrongOutput(what)
}
