package perfbench

import scala.collection.mutable.ArrayBuffer

/** One closed span: wall-clock bounds in epoch nanoseconds, the id of the
  * span that was open when it started (0 at top level) and the run it
  * belongs to. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, runId: String) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for the benchmark's main thread. With `on = false` a span
  * only runs its body, so the untraced run pays nothing but a branch.
  * Spans stay in memory until [[writeJsonl]] at the end of the run. */
final class Tracer(val on: Boolean, val runId: String) {
  private val closed = ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 1
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def nowNs: Long = System.nanoTime() + epochOffsetNs

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      open = id :: open
      val t0 = nowNs
      try body
      finally {
        open = open.tail
        closed += Span(id, parent, name, t0, nowNs, runId)
      }
    }

  def spans: Seq[Span] = closed.toSeq

  def named(name: String): Seq[Span] = closed.filter(_.name == name).toSeq

  /** A span's duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val children = closed.filter(_.parent == s.id)
    s.seconds - children.map(_.seconds).sum
  }

  /** Total self time per span name. */
  def selfByName: Map[String, Double] =
    closed.groupBy(_.name).map { case (n, ss) => n -> ss.map(selfSeconds).sum }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = closed.sortBy(_.startNs).map { s =>
      s"""{"run_id":${Json.str(s.runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_s":${Json.num(selfSeconds(s))}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** The few JSON encoders the benchmark's output needs. */
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
    (b += '"').toString
  }

  /** Full-precision number; non-finite values have no JSON form. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
