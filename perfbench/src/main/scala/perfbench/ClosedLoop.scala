package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** What a closed loop measured: the wall seconds and row count of every op
  * that succeeded and passed its check, plus the ops attempted and failed.
  */
final class LoopStats {
  /** (op index, wall seconds, rows) of each op that succeeded. */
  val ok = mutable.ArrayBuffer.empty[(Int, Double, Long)]
  /** (op index, error) of each op that failed. */
  val errors = mutable.ArrayBuffer.empty[(Int, String)]
  var attempted = 0
  var failed = 0
  /** Highest heap in use right after the full collection that follows
    * each op: the live heap.
    */
  var peakHeapBytes = 0L
  def seconds: Seq[Double] = ok.map(_._2).toSeq
  def rows: Long = ok.map(_._3).sum

  /** The part of these statistics that ops `keep` account for. */
  def filter(keep: Int => Boolean): LoopStats = {
    val st = new LoopStats
    st.ok ++= ok.filter(o => keep(o._1))
    st.errors ++= errors.filter(e => keep(e._1))
    st.attempted = st.ok.size + st.errors.size
    st.failed = st.errors.size
    st
  }
}

/** One caller; each op starts when the previous one (and its check) ends.
  *
  * Only `w.op(i)` is timed. `w.check(i)` runs after it, outside the timed
  * window, and throws on a wrong result; `w.after(i)` then runs whatever
  * happened. An op that throws, or whose check throws, counts as failed
  * and its time is dropped, so a failure never reads as a fast op.
  *
  * Ops run from index `first`: at least `minOps` and at most `w.maxOps`
  * of them, in whole batches of `w.batch`, and no further batch once, at
  * the mean rate so far, it would end after `seconds`. A full collection
  * after every op keeps one op's garbage out of the next op's time, and
  * the heap in use after it is the live heap.
  */
object ClosedLoop {
  def run(w: Workload, tracer: Tracer, first: Int, seconds: Double, minOps: Int,
          traced: Int => Boolean = _ => false): LoopStats = {
    val st = new LoopStats
    val start = System.nanoTime()
    var i = first
    def elapsed = (System.nanoTime() - start) / 1e9
    def more = st.attempted < w.maxOps &&
      (st.attempted < minOps || st.attempted % w.batch != 0 ||
        elapsed * (st.attempted + w.batch) / st.attempted <= seconds)
    while (more) {
      st.attempted += 1
      tracer.recording(traced(i))
      try {
        val t0 = System.nanoTime()
        val n = w.op(i, tracer)
        val dt = (System.nanoTime() - t0) / 1e9
        Main.phase(s"check $i")(w.check(i))
        st.ok += ((i, dt, n))
      } catch {
        case e: Throwable =>
          st.failed += 1
          st.errors += i -> s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
      } finally {
        w.after(i)
        System.gc()
        st.peakHeapBytes = math.max(st.peakHeapBytes,
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
      }
      i += 1
    }
    tracer.recording(false)
    st
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest order statistic with at least ten samples above it, with
    * the percentile it stands for; None below eleven samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((s(k), 100.0 * (k + 1) / s.size))
    }
}
