package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** Minimal JSON rendering for the run's result file (maps, sequences,
  * strings, numbers, booleans, null). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => str(other.toString)
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's listener event times. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One operation of the closed loop: the client issues the next one only
  * after this one returned. `primary` ops are the workload's latency
  * samples; the others (reloads, final reads) only add to the timed wall.
  * `gcS` and `jitS` are the JVM's GC and JIT time while the op ran. */
final case class Op(idx: Int, kind: String, name: String, primary: Boolean,
                    t0: Double, t1: Double, gcS: Double, jitS: Double,
                    var ok: Boolean, var err: String) {
  def seconds: Double = (t1 - t0) / 1000.0
}

/** Times operations, tags everything they cause with a span id, and keeps
  * the output-check verdicts. */
final class Recorder(tracer: Tracer) {
  val ops = mutable.ArrayBuffer.empty[Op]

  def op[T](kind: String, name: String, primary: Boolean = true)(body: => T): Option[T] = {
    val jvm0 = Tracer.jvm()
    val span = tracer.enter(s"$kind:$name", kind)
    val t0 = Clock.ms
    val r = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.ms
    tracer.exit(span, t0, t1)
    val jvm1 = Tracer.jvm()
    val o = Op(ops.size, kind, name, primary, t0, t1, jvm1("gc_s") - jvm0("gc_s"),
      jvm1("jit_s") - jvm0("jit_s"), r.isRight,
      r.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull)
    ops += o
    if (!o.ok) System.err.println(s"[perfbench] ${o.kind}:${o.name} failed: ${o.err}")
    r.toOption
  }

  /** Record a failed call that is not a timed operation. */
  def failed(kind: String, name: String, e: Throwable): Unit = {
    val t = Clock.ms
    ops += Op(ops.size, kind, name, primary = false, t, t, 0.0, 0.0, ok = false, s"$e")
    System.err.println(s"[perfbench] $kind:$name failed: $e")
  }

  /** Record an output-check verdict against the most recent op of `kind`
    * and `name`. */
  def check(kind: String, name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) ops.reverseIterator.find(o => o.kind == kind && o.name == name).foreach { o =>
      o.ok = false
      o.err = Option(o.err).getOrElse("output check: " + detail)
      System.err.println(s"[perfbench] $kind:$name output check failed: $detail")
    }

  def json: Seq[Map[String, Any]] = ops.toSeq.map(o => Map(
    "idx" -> o.idx, "kind" -> o.kind, "name" -> o.name, "primary" -> o.primary,
    "t0" -> o.t0, "t1" -> o.t1, "gc_s" -> o.gcS, "jit_s" -> o.jitS, "ok" -> o.ok,
    "err" -> Option(o.err)))
}
