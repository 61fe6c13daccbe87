package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One recorded span: a timed call into one layer. `rid` is shared by
  * every span of one request; `parent` is the enclosing span's id
  * (0 = root).
  */
final case class Span(id: Long, parent: Long, rid: Long, name: String,
    startNs: Long, endNs: Long) {
  def ns: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans nest per thread;
  * while a span is open its id is the calling thread's Spark local
  * property [[Tracer.JobTag]], so every Spark job the call submits is
  * attributed to it by [[SparkProbe]]. With `enabled = false` every
  * method is a pass-through, so the untraced run pays one branch.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private final class Open(val id: Long, val rid: Long)
  private val stack = ThreadLocal.withInitial[List[Open]](() => Nil)

  /** Run `body` as the root span of a new request. */
  def request[T](name: String)(body: => T): T =
    if (!enabled) body else run(name, ids.incrementAndGet(), root = true)(body)

  /** Run `body` as a child of the calling thread's open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else run(name, stack.get.headOption.fold(0L)(_.rid), root = false)(body)

  private def run[T](name: String, rid0: Long, root: Boolean)(body: => T): T = {
    val id = ids.incrementAndGet()
    val outer = stack.get
    val parent = if (root) 0L else outer.headOption.fold(0L)(_.id)
    val rid = if (root) id else rid0
    stack.set(new Open(id, rid) :: outer)
    sc.setLocalProperty(Tracer.JobTag, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, rid, name, t0, System.nanoTime()))
      stack.set(outer)
      sc.setLocalProperty(Tracer.JobTag,
        outer.headOption.map(_.id.toString).orNull)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Durations in ms of every span with this name. */
  def ms(name: String): Seq[Double] =
    spans.asScala.iterator.filter(_.name == name).map(_.ns / 1e6).toSeq

  /** Per span name: total self time in ms, i.e. each span's duration
    * minus the part of it that its child spans cover.
    */
  def selfMs: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.ns - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Write every span as one JSON object per line. */
  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"rid":${s.rid},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  /** Spark local property naming the span that submitted a job. */
  val JobTag = "perfbench.span"
}
