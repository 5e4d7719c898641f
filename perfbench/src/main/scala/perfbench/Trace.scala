package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `layer` is the name's prefix up
  * to the first dot (`sink.writeBatch` belongs to `sink`); `trace` groups
  * the spans of one request (a notification, a batch, a query). */
final case class Span(id: Long, parent: Long, trace: String, name: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder, used only by a traced run (`--trace 1`). Spans
  * are recorded by the benchmark around its calls into each layer, kept in
  * memory, and written out once the run ends. With tracing off every call
  * is a no-op apart from running the body. */
object Trace {
  @volatile var on = false
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  /** nanoTime of the epoch, for spans whose times Spark reports as wall
    * clock milliseconds (job events, planning phases, progress reports). */
  val epochNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def newId(): Long = if (on) ids.incrementAndGet() else 0L

  def record(id: Long, parent: Long, trace: String, name: String,
             startNs: Long, endNs: Long): Unit =
    if (on) { spans.add(Span(id, parent, trace, name, startNs, endNs)); () }

  /** Times `body` as span `name`; the body receives the span's id so the
    * calls it makes can name it as their parent. */
  def span[T](name: String, parent: Long = 0L, trace: String = "")(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = newId()
      val t0 = System.nanoTime()
      try body(id) finally record(id, parent, trace, name, t0, System.nanoTime())
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer in ms: each span's duration minus the part of its
    * interval that its children cover, summed over the layer's spans. */
  def selfMs(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.filter(_.parent != 0L).groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        (s.endNs - s.startNs - covered).toDouble / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((tot, end), (a, b)) =>
      if (b <= end) (tot, end)
      else (tot + b - math.max(a, end), b)
    }._1

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("[")
      all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
        if (i > 0) w.write(",\n")
        w.write(s"""{"id":${s.id},"parent":${s.parent},"trace":${Json.str(s.trace)},""" +
          s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
      w.write("]\n")
    } finally w.close()
  }
}
