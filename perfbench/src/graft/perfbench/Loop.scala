package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One completed client operation. `ms` is its wall time; `ok` is false
  * when it threw. Answer checks run later, outside every timed region,
  * and flip `wrong` instead.
  */
final class OpSample(val kind: String, val label: String, val ms: Double,
                     val ok: Boolean, val rows: Long) {
  @volatile var wrong: Boolean = false
  def failed: Boolean = !ok || wrong
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of unsorted values. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Closed-loop clients: each runs its next operation only after the
  * previous one returned, until the deadline. An operation in flight at
  * the deadline finishes and counts.
  */
object Loop {
  final case class Window(startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
    /** Two measured windows as one of their summed length. */
    def +(o: Window): Window = Window(0L, endNs - startNs + o.endNs - o.startNs)
  }

  /** Runs `clients` (name → one operation, returning false to stop
    * early) for `seconds`.
    */
  def run(seconds: Double, clients: Seq[(String, () => Boolean)]): Window = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val errors = new ConcurrentLinkedQueue[Throwable]()
    val threads = clients.map { case (name, step) =>
      val t = new Thread(() => {
        // each client schedules its Spark jobs in a fair-share pool of
        // its own (the session runs the FAIR scheduler)
        SparkContext.getOrCreate().setLocalProperty("spark.scheduler.pool", name)
        try { while (System.nanoTime() < deadline && step()) () }
        catch { case e: Throwable => errors.add(e) }
      }, s"perfbench-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    errors.asScala.headOption.foreach(e => throw e)
    Window(start, math.max(System.nanoTime(), deadline))
  }

  /** Time one operation; exceptions become failed samples. */
  def timed(kind: String, label: String)(
      body: => Long): (OpSample, Option[Throwable]) = {
    val s = System.nanoTime()
    try {
      val rows = body
      (new OpSample(kind, label, (System.nanoTime() - s) / 1e6, ok = true, rows), None)
    } catch {
      case scala.util.control.NonFatal(e) =>
        (new OpSample(kind, label, (System.nanoTime() - s) / 1e6, ok = false, 0L), Some(e))
    }
  }
}
