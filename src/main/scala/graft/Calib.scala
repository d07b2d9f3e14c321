package graft

/** Platform-speed calibration probe behind Bench's `calib_sec`: a
  * fixed, deterministic, pure-ALU work unit (N threads × 2^27 SplitMix64
  * steps) whose wall time measures the host's effective CPU speed at the
  * probed width — including host-level contention a VM guest cannot see.
  * Two runs of the same binary were measured ×1.17–×1.31 apart with guest
  * load ≈ 0 (SCALE.md Round 8); the calib ratio separates "the code got
  * slower" from "the box was slower". A shuffle+scan Spark probe tracked
  * the suite worse than this one (SCALE.md, r16 calib study). */
object Calib {

  /** One probe at the given thread width; returns seconds. */
  def probe(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val th = new Thread(() => {
        var x = 0x9e3779b97f4a7c15L + i
        var acc = 0L
        var n = 0
        while (n < (1 << 27)) {
          x += 0x9e3779b97f4a7c15L
          var z = x
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          acc ^= z ^ (z >>> 31)
          n += 1
        }
        if (acc == 42L) println("") // keep the loop live
      })
      th.start(); th
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
