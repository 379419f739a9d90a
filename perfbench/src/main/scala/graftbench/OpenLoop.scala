package graftbench

/** Open-loop scheduling: operations are due on a fixed schedule that does
  * not slow down when the system under test does. Every operation's
  * latency counts from its DUE time, so a stall also charges the wait it
  * imposes on the operations queued behind it. */
object OpenLoop {

  /** One operation: due, actually started (fired) and completed, in the
    * clock's nanoseconds. */
  final case class Op(index: Int, dueNs: Long, firedNs: Long, doneNs: Long) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double = (firedNs - dueNs) / 1e6
  }

  trait Clock {
    def nanoTime(): Long
    def sleepUntil(ns: Long): Unit
  }
  object SystemClock extends Clock {
    def nanoTime(): Long = System.nanoTime()
    def sleepUntil(ns: Long): Unit = {
      var left = ns - System.nanoTime()
      while (left > 0) {
        java.util.concurrent.locks.LockSupport.parkNanos(left)
        left = ns - System.nanoTime()
      }
    }
  }

  /** Due times of `n` operations at `ratePerSec`, starting at `t0Ns`. */
  def dueTimes(t0Ns: Long, n: Int, ratePerSec: Double): IndexedSeq[Long] =
    (0 until n).map(i => t0Ns + math.round(i * 1e9 / ratePerSec))

  /** Runs each operation at its due time on the calling thread and stamps
    * when it started and ended. An operation that overruns delays the
    * ones behind it, and their latency shows it. */
  def run(dues: IndexedSeq[Long], clock: Clock)(op: Int => Unit): IndexedSeq[Op] =
    dues.indices.map { i =>
      clock.sleepUntil(dues(i))
      val fired = clock.nanoTime()
      op(i)
      Op(i, dues(i), fired, clock.nanoTime())
    }
}
