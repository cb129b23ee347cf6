package iambench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.sql.iambench.SparkTap

/** One timed interval: a layer call, an operation, or a phase. Spans of
  * one operation share `op`; `parent` is the span that was open when this
  * one started (0 for none). */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"span":$id,"name":"$name","parent":$parent,"op":$op,""" +
      s""""start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans, kept in memory and read when the run ends. Every timing the
  * benchmark reports comes from a span, traced or not. With tracing on,
  * each span also becomes the Spark job group of the work submitted inside
  * it, so [[SparkTap]] can attribute jobs, stages and tasks to it. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextSpan = 1
  private var nextOp = 1
  private var currentOp = 0
  private var sc: Option[SparkContext] = None
  private var tap: Option[SparkTap] = None

  /** Start attributing Spark work to spans. */
  def attach(context: SparkContext): Unit = if (enabled) {
    sc = Some(context)
    tap = Some(SparkTap.register(context))
  }

  private def group(id: Option[Int]): Unit = sc.foreach { c =>
    id match {
      case Some(i) => c.setJobGroup(s"span-$i", s"span-$i", interruptOnCancel = false)
      case None => c.clearJobGroup()
    }
  }

  def span[A](name: String)(body: => A): A = {
    val id = nextSpan
    nextSpan += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    group(Some(id))
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, parent, currentOp, t0, System.nanoTime())
      open = open.tail
      group(open.headOption)
    }
  }

  /** A span that starts a new operation: it and the spans inside it share
    * one operation id. */
  def op[A](name: String)(body: => A): A = {
    val outer = currentOp
    currentOp = nextOp
    nextOp += 1
    try span(name)(body) finally currentOp = outer
  }

  def all: Seq[Span] = spans.toSeq
  def last: Span = spans.last

  /** Spark counts of these spans, once every event has been delivered. */
  def counts(of: Iterable[Span]): SparkTap.Counts = {
    val total = new SparkTap.Counts
    for (c <- sc; t <- tap) {
      SparkTap.drain(c)
      of.foreach(s => total += t.counts(s"span-${s.id}"))
    }
    total
  }
}
