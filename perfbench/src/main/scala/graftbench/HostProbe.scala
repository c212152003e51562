package graftbench

/** How fast this host runs a fixed single-threaded kernel right now.
  *
  * On a shared machine the speed of a core drifts: on the 4-vCPU machine
  * the benchmark was sized on, a fixed single-threaded loop ran at rates
  * from 440 to 767 per second (one-second windows) within five minutes,
  * and that drift made about half of the run-to-run spread of the raw op
  * latencies. The runner times this kernel just before and just
  * after every op, off the op's clock, and the end-to-end times are the
  * op latencies scaled by [[ReferenceS]] ÷ the kernel's mean time around
  * the op: what the op would have taken on a host that runs the kernel at
  * its reference speed. The kernel shares no code or state with the
  * engine, so a change to the engine moves the scaled times as much as
  * the raw ones; the raw ones are in the report.
  *
  * Two parts, about 20 ms and 17 ms on the sizing machine: integer
  * hashing in registers and a chain of dependent loads from an 8 MB
  * table, the two ways the engine's single-threaded work meets the core
  * and its caches. */
object HostProbe {
  /** The kernel's median time on the sizing machine. */
  val ReferenceS = 0.037

  private val N = 1 << 20
  private val table: Array[Long] = {
    val r = new java.util.SplittableRandom(7L)
    Array.fill(N)(r.nextLong())
  }
  @volatile private var sink = 0L

  /** Seconds one pass of the kernel takes now. */
  def seconds(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 8000000) {
      h = (h ^ i) * 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
      i += 1
    }
    i = 0
    while (i < 100000) {
      h = table((h >>> 40).toInt & (N - 1)) ^ (h * 0x94D049BB133111EBL)
      i += 1
    }
    sink = h
    (System.nanoTime() - t0) / 1e9
  }
}
