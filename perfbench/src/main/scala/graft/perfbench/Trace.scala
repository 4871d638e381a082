package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** In-memory span recorder for the traced run.
  *
  * A span has a name, start and end (nanoTime), the id of the span that
  * caused it, and the run id. Driver code opens spans with [[span]],
  * which nests under the innermost open driver span; task code (local
  * mode: same JVM) records with [[record]] under a parent id captured
  * when the job was defined. Nothing is recorded unless [[begin]] ran.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long, runId: String) {
    def durNs: Long = endNs - startNs
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  @volatile private var runId: String = ""
  @volatile var enabled: Boolean = false
  private var stack: List[Int] = Nil

  def begin(id: String): Unit = { spans.clear(); stack = Nil; runId = id; enabled = true }
  def end(): Unit = enabled = false

  /** Id of the innermost open driver span (0 = none). */
  def current: Int = stack.headOption.getOrElse(0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
        stack = stack.tail
      }
    }

  /** Time `body` as a child of `parent`; usable on task threads. */
  def record[T](name: String, parent: Int)(body: => T): T = recordWith(name, parent)(_ => body)

  /** As [[record]], handing the new span's id to `body` for its children. */
  def recordWith[T](name: String, parent: Int)(body: Int => T): T =
    if (!enabled) body(0)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally spans.add(Span(id, parent, name, t0, System.nanoTime(), runId))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the part of its interval that
    * its children cover (children clipped to the parent, overlaps merged).
    */
  def selfTimes(ss: Seq[Span]): Map[Int, Long] = {
    val byParent = ss.groupBy(_.parent)
    ss.map { s =>
      val kids = byParent.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Self seconds summed by span name. */
  def selfSecondsByName(ss: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(ss)
    ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => self(s.id)).sum / 1e9 }
  }

  def writeJson(path: Path, ss: Seq[Span]): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val body = ss.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"run_id":"${esc(s.runId)}"}"""
    }.mkString("[\n", ",\n", "\n]\n")
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes(UTF_8))
  }
}
