package perfbench

/** Host stamp taken before and after a run: a short single-thread ALU probe
  * and a memory-bandwidth probe. Recorded beside the results only; it never
  * filters or gates a run.
  */
object HostStamp {
  /** Millions of dependent integer multiply-adds per second, one thread. */
  def alu(seconds: Double = 0.2): Double = {
    var x = 1L
    var n = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < seconds) {
      var i = 0
      while (i < 1000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
      n += 1000000
      el = (System.nanoTime() - t0) / 1e9
    }
    if (x == 42) println("")
    n / el / 1e6
  }

  /** GB/s of a 64 MiB array copy (read + write counted), one thread. */
  def membw(seconds: Double = 0.2): Double = {
    val a = new Array[Long](8 << 20)
    val b = new Array[Long](8 << 20)
    java.util.Arrays.fill(a, 7L)
    var bytes = 0L
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < seconds) {
      System.arraycopy(a, 0, b, 0, a.length)
      bytes += 2L * 8 * a.length
      el = (System.nanoTime() - t0) / 1e9
    }
    if (b(3) != 7L) println("")
    bytes / el / 1e9
  }

  def apply(): String = f"alu_mops=${alu()}%.1f membw_gbps=${membw()}%.2f"
}
