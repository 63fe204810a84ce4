package graft.streaming

/** The wait between two ticks of a daemon loop: `await` returns at the
  * schedule deadline, once `stop` flips (checked every 50 ms), or on a
  * `wake`, whichever comes first. Wakes coalesce: at most one is pending,
  * and `await` consumes it. */
final class Pacer {
  private var woken = false

  def wake(): Unit = synchronized { woken = true; notifyAll() }

  def await(scheduleMillis: Long, stop: () => Boolean): Unit = synchronized {
    val deadline = System.nanoTime() + scheduleMillis * 1000000L
    def left = deadline - System.nanoTime()
    while (!woken && !stop() && left > 0) wait(math.min(50L, left / 1000000L + 1))
    woken = false
  }
}
