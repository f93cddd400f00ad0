package loadbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** In-memory spans (name, start, end, parent, op id) of the op thread,
  * written out as JSON lines when the benchmark ends.
  */
final class Spans {
  import Spans.Span

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  var opId: Long = 0L

  def start(name: String): Span = {
    val parent = if (open.isEmpty) -1 else open.top.id
    val s = Span(done.size + open.size, name, System.nanoTime, 0L, parent, opId)
    open.push(s)
    s
  }

  def end(s: Span): Unit = {
    s.end = System.nanoTime
    while (open.nonEmpty && (open.pop() ne s)) ()
    done += s
  }

  def apply[A](name: String)(body: => A): A = {
    val s = start(name)
    try body finally end(s)
  }

  def all: Seq[Span] = done.toSeq

  def write(file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

object Spans {
  final case class Span(id: Int, name: String, start: Long, var end: Long,
      parent: Int, op: Long)
}
