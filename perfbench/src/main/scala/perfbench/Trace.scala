package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext

/** One traced interval. `op` is the id shared by every span of one
  * benchmark operation; `parent` is 0 for a root. Times are epoch ms. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Spans recorded by the benchmark around its calls into each layer.
  *
  * Disabled (untraced runs), [[call]] just runs the body. Enabled, each
  * call becomes a span and runs under its own Spark job group, so the
  * jobs it starts can be attributed to it afterwards; [[finish]] turns
  * those jobs and the streaming micro-batches into child spans. Spans
  * stay in memory until [[finish]]. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  /** Streaming query id -> the span that covers the query's lifetime. */
  private val queries = new java.util.concurrent.ConcurrentHashMap[String, Span]()

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock ms with sub-ms resolution. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def group(id: Long): String = s"span-$id"

  /** Run `f` as a call into `layer`; returns its value. */
  def call[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f else callSpan(layer, name)(_ => f)._1

  /** Like [[call]], and also returns the span (None when disabled). */
  def callSpan[A](layer: String, name: String)(f: Long => A): (A, Option[Span]) = {
    if (!enabled) return (f(0L), None)
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val (parent, op) = outer.headOption.getOrElse((0L, id))
    stack.set((id, op) :: outer)
    sc.setJobGroup(group(id), name)
    val t0 = nowMs
    try {
      val r = f(id)
      val s = Span(id, parent, op, layer, name, t0, nowMs)
      spans.add(s)
      (r, Some(s))
    } finally {
      stack.set(outer)
      outer.headOption match {
        case Some((pid, _)) => sc.setJobGroup(group(pid), name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Open a span covering a streaming query's lifetime; close it with
    * the returned function once the query has stopped. */
  def streamQuery(name: String, queryId: String): () => Unit = {
    if (!enabled) return () => ()
    val id = ids.incrementAndGet()
    val t0 = nowMs
    val open = Span(id, 0L, id, "streaming", name, t0, t0)
    queries.put(queryId, open)
    () => {
      val closed = open.copy(end = nowMs)
      queries.put(queryId, closed)
      spans.add(closed)
    }
  }

  def all: Seq[Span] = spans.asScala.toVector

  /** Add micro-batch and Spark-job child spans, then return every span. */
  def finish(meter: Meter): Seq[Span] = {
    if (!enabled) return Nil
    val byId = all.map(s => s.id -> s).toMap
    val batchSpans = meter.progresses.flatMap { p =>
      Option(queries.get(p.id.toString)).map { q =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
        (p.id.toString, p.batchId.toString) ->
          Span(ids.incrementAndGet(), q.id, q.op, "streaming", s"batch ${p.batchId}",
            start, start + dur)
      }
    }.toMap
    val jobSpans = meter.allJobs.flatMap { j =>
      val parent: Option[Span] =
        if (j.queryId != null)
          batchSpans.get((j.queryId, j.batchId)).orElse(Option(queries.get(j.queryId)))
        else Option(j.group).filter(_.startsWith("span-"))
          .flatMap(g => byId.get(g.stripPrefix("span-").toLong))
      parent.map(p => Span(ids.incrementAndGet(), p.id, p.op, "spark", s"job ${j.id}",
        j.start.toDouble, j.end.toDouble))
    }
    all ++ batchSpans.values ++ jobSpans
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Meter.unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a })
        math.max(0.0, s.ms - covered)
      }.sum
    }
  }

  def write(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.start).map(s => Json.mapper.writeValueAsString(
      scala.collection.immutable.ListMap("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
