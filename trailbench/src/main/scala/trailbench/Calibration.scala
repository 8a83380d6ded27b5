package trailbench

import java.util.concurrent.{Executors, TimeUnit}

/** A fixed, program-independent probe of how fast the machine is right
  * now: `threads` threads each fill, sort and hash-aggregate a million
  * longs. Run next to every measured operation, it lets a run report its
  * operation time in units of the machine's momentary speed.
  */
final class Calibration(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
    val t = new Thread(r, "trailbench-calibration")
    t.setDaemon(true)
    t
  })

  private def work(seed: Long): Long = {
    val n = 1 << 20
    val a = new Array[Long](n)
    var x = seed + 1
    var i = 0
    while (i < n) { x = x * 6364136223846793005L + 1442695040888963407L; a(i) = x >>> 20; i += 1 }
    java.util.Arrays.sort(a)
    val t = new Array[Long](1 << 16)
    i = 0
    while (i < n) { t((a(i) & 0xFFFF).toInt) += a(i); i += 1 }
    t.sum
  }

  /** Seconds one probe takes. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    (0 until threads).map(c => pool.submit(() => work(c))).foreach(_.get())
    (System.nanoTime() - t0) / 1e9
  }

  def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
}
