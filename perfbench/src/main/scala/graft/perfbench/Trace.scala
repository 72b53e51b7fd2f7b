package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans and counters of the traced run.
  *
  * Spans are recorded by the benchmark around its calls into each layer
  * (and by the listeners for work Spark reports asynchronously); they
  * stay in memory and are written out when the run ends. With tracing
  * off every entry point is a plain call: `on` is read once per call.
  */
object Trace {
  @volatile var on: Boolean = false

  final case class Span(id: Long, parent: Long, op: Long, layer: String,
      name: String, t0: Long, t1: Long) {
    def dur: Long = t1 - t0
  }

  /** One op as the client saw it: the root span of everything it caused. */
  final case class Op(id: Long, cls: String, t0: Long, t1: Long,
      wall0Ms: Long, wall1Ms: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ops = new ConcurrentLinkedQueue[Op]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val threadOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)
  private val opCls = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, LongAdder]()

  /** The op of the single client, for spans raised on threads the
    * client did not start (Spark task and pool threads). */
  @volatile private var currentOp: Long = 0L

  def opOfThread: Long = {
    val t = threadOp.get()
    if (t != 0L) t else currentOp
  }

  def count(name: String, n: Long = 1L): Unit =
    if (on) counters.computeIfAbsent(name, _ => new LongAdder).add(n)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)

  /** Time `f` as a span of `layer`, nested under the innermost open
    * span of this thread (or the current op). */
  def span[A](layer: String, name: String)(f: => A): A =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val op = opOfThread
      val parent = stack.get().headOption.getOrElse(op)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.add(Span(id, parent, op, layer, name, t0, t1))
      }
    }

  /** A span reported after the fact (Spark jobs, Catalyst phases). */
  def record(layer: String, name: String, op: Long, t0: Long, t1: Long): Unit =
    if (on && t1 >= t0)
      spans.add(Span(ids.incrementAndGet(), op, op, layer, name, t0, t1))

  /** Run one client op: its latency is returned whether or not tracing
    * is on; with tracing on it is also the root span (`op` layer). */
  def op[A](cls: String)(f: Long => A): (A, Double) = {
    val id = ids.incrementAndGet()
    if (on) opCls.put(id, cls)
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    if (on) {
      threadOp.set(id); currentOp = id
      stack.set(Nil)
    }
    try {
      val a = f(id)
      (a, (System.nanoTime() - t0) / 1e6)
    } finally {
      val t1 = System.nanoTime()
      if (on) {
        ops.add(Op(id, cls, t0, t1, w0, System.currentTimeMillis()))
        threadOp.set(0L)
      }
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allOps: Seq[Op] = ops.asScala.toSeq

  /** The op whose wall-clock interval holds `wallMs` (for events that
    * carry only a wall-clock time). 0 when none does. */
  def opAtWall(wallMs: Long): Long = {
    var best = 0L
    ops.asScala.foreach { o => if (o.wall0Ms <= wallMs && wallMs <= o.wall1Ms) best = o.id }
    if (best == 0L && currentOp != 0L) currentOp else best
  }

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var open = false; var curA = 0L; var curB = 0L
    clipped.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        open = true; curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (open) total += curB - curA
    total
  }

  /** Self time per layer in ms: each span's duration minus the part of
    * it its children cover; ops are the `op` layer. */
  def selfMsByLayer(): Map[String, Double] = {
    val all = allSpans
    val children = all.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    all.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.t0, k.t1))
      out(s.layer) += (s.dur - covered(kids, s.t0, s.t1)) / 1e6
    }
    allOps.foreach { o =>
      val kids = children.getOrElse(o.id, Nil).map(k => (k.t0, k.t1))
      out("op") += ((o.t1 - o.t0) - covered(kids, o.t0, o.t1)) / 1e6
    }
    out.toMap
  }

  /** Per op: time not covered by Catalyst, Spark jobs, metadata IO or
    * HTTP spans anywhere under it — the remaining driver time. */
  def driverOtherMs(): Double = {
    val layers = Set("catalyst", "spark", "versioned.io", "rest")
    val byOp = allSpans.filter(s => layers(s.layer)).groupBy(_.op)
    allOps.map { o =>
      val ivs = byOp.getOrElse(o.id, Nil).map(s => (s.t0, s.t1))
      ((o.t1 - o.t0) - covered(ivs, o.t0, o.t1)) / 1e6
    }.sum
  }

  /** Time each op had at least one span of `layer` open: the layer's
    * busy time, with concurrent spans (parallel jobs) counted once. */
  def busyMs(layer: String): Double = {
    val byOp = allSpans.filter(_.layer == layer).groupBy(_.op)
    byOp.values.map(ss => covered(ss.map(s => (s.t0, s.t1)), Long.MinValue, Long.MaxValue)).sum / 1e6
  }

  def layerMs(layer: String, name: String = null): Double =
    allSpans.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(_.dur).sum / 1e6

  def classOf(op: Long): Option[String] = Option(opCls.get(op))

  def reset(): Unit = {
    spans.clear(); ops.clear(); counters.clear(); opCls.clear(); currentOp = 0L
  }

  /** Spans as JSON lines (one object per span). */
  def dump(out: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(out)
    try {
      allOps.foreach { o =>
        w.write(s"""{"id":${o.id},"parent":0,"op":${o.id},"layer":"op","name":"${o.cls}","t0":${o.t0},"t1":${o.t1}}""")
        w.newLine()
      }
      allSpans.foreach { s =>
        w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}","name":"${s.name}","t0":${s.t0},"t1":${s.t1}}""")
        w.newLine()
      }
    } finally w.close()
  }
}
