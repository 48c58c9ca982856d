package graft.enginebench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the benchmark's own calls into the engine.
  *
  * A span is (name, start, end, parent). Spans are opened and closed on the
  * single driver thread that runs the closed loop, so a plain stack gives
  * the parent. Spans are always recorded (a nanoTime pair and one small
  * object per call, a few hundred per run): the end-to-end timings are read
  * from them too. What `--trace 1` adds is the Spark listener, the counting
  * file system and the per-batch metadata probes, and the dump of the spans
  * to a file when the run ends.
  */
final class Trace {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime(), 0L)
    spans += s
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  private val wallMs0 = System.currentTimeMillis()
  private val nanos0 = System.nanoTime()

  /** Wall-clock milliseconds of a span instant, for matching listener events. */
  def wallMs(ns: Long): Long = wallMs0 + (ns - nanos0) / 1000000L

  /** Name of the innermost span open at wall-clock `ms` ("" if none). */
  def spanAt(ms: Long): String = {
    val hits = spans.filter(s => wallMs(s.startNs) <= ms && (s.endNs == 0L || wallMs(s.endNs) >= ms))
    if (hits.isEmpty) "" else hits.maxBy(_.startNs).name
  }

  def seconds(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.seconds).toSeq

  /** Self time per span: its duration minus the union of its children's
    * intervals (children of one parent never overlap here: one thread).
    */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.endNs - c.startNs).sum }
    spans.map(s => s.id -> (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  /** One JSON object per line: id, name, parent, start/end (ns since the
    * first span), and self seconds.
    */
  def write(file: java.io.File): Unit = {
    val self = selfSeconds
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0},"self_s":${self(s.id)}}"""
    }
    java.nio.file.Files.writeString(file.toPath, lines.mkString("", "\n", "\n"))
  }
}
