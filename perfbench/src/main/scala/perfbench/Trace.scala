package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

/** One timed call into an engine layer. `trace` groups the spans of one
  * benchmark operation; `parent` is the enclosing span (0 = none).
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startNs: Long, endNs: Long) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent, "trace" -> trace,
    "name" -> name, "start_ns" -> startNs, "end_ns" -> endNs)
}

/** In-memory span recorder. Spans are kept in memory and written out
  * once, when the workload ends. While `on` is false every call is a
  * plain passthrough, so untraced passes pay one volatile read per call.
  */
final class Tracer {
  @volatile var on: Boolean = false
  @volatile var trace: Long = 0L
  private val ids = new AtomicLong(0L)
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, parents.headOption.getOrElse(0L), trace, name, t0, t1)
        }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Machine-state probes, sampled around each workload so that a run on a
  * loaded machine is flagged instead of scored.
  */
object Machine {
  @volatile private var sink = 0L

  private def spin(seed: Long): Unit = {
    var x = 88172645463325252L + seed
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    sink = x
  }

  /** Wall ms of `threads` concurrent copies of a fixed 50M-step spin.
    * Idle, the n-thread figure reads close to the 1-thread one; a
    * co-tenant on some cores inflates it.
    */
  def spinMs(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ws = (1 to threads).map(t => new Thread(() => spin(t)))
    ws.foreach(_.start()); ws.foreach(_.join())
    (System.nanoTime() - t0) / 1e6
  }

  /** (steal, total) jiffies summed over all CPUs. */
  def steal(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().find(_.startsWith("cpu ")).getOrElse("") finally src.close()
      val f = line.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def sample(threads: Int): Map[String, Any] = {
    spin(0) // JIT the loop before timing it
    Map("at_ms" -> System.currentTimeMillis(), "spin_1t_ms" -> spinMs(1),
      "spin_nt_ms" -> spinMs(threads), "threads" -> threads)
  }

  /** Heap still used after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }
}
