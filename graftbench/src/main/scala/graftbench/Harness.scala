package graftbench

import scala.collection.mutable

/** One client call: its kind, latency, whether its output check passed,
  * and the phase it ran in.
  */
final case class Call(kind: String, ms: Double, ok: Boolean, phase: String)

/** What one run records: every client call, named per-layer samples, and
  * the reasons for any failure.
  */
final class Recorder {
  val calls = mutable.ArrayBuffer[Call]()
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val failures = mutable.ArrayBuffer[String]()
  var phase = "warm"

  def call(kind: String, ms: Double, ok: Boolean): Unit =
    if (phase != "warm") calls += Call(kind, ms, ok, phase)

  def sample(name: String, v: Double): Unit =
    if (phase == "traced") samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[graftbench] FAILED: $what")
  }

  def okCalls: Int = calls.count(c => c.ok && c.phase == phase)
}

/** One workload: a closed loop of one client thread calling into graft. */
trait Workload {
  /** One repetition of the set-up: writes fresh inputs under `dir`. */
  def prepare(dir: java.io.File): Unit
  /** Runs every operation kind until its latency has settled. */
  def warm(rec: Recorder, tr: Tracer): Unit
  /** One closed-loop step: a whole epoch or a single statement/read. */
  def step(rec: Recorder, tr: Tracer): Unit
  /** True between blocks of the fixed operation mix: a measured window
    * ends only here, so every window holds whole blocks.
    */
  def atBlockEnd: Boolean = true
  /** Traced run only: per-layer samples taken outside the loop and
    * derived from the spans once the listener has drained.
    */
  def probe(rec: Recorder, tr: Tracer): Unit
  /** Output checks that need the whole run (final table content). */
  def finish(rec: Recorder): Unit
}

object Time {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Minimal JSON rendering; numbers use Java's locale-independent
  * `toString`, so output never depends on the default locale.
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".formatLocal(java.util.Locale.ROOT, c.toInt)
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
