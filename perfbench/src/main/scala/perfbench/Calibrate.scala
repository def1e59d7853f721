package perfbench

/** A fixed single-threaded slice of driver-style work (hashing and
  * hash-table probes and updates) whose time tracks the current speed of
  * a core. On a shared host that speed drifts by tens of percent within
  * minutes, so the harness runs [[SlicesPerOp]] slices after every op and
  * scales the run's times by the median slice: the reported times are at
  * a fixed reference speed and compare across runs.
  *
  * The slice allocates nothing: its open-addressed table of primitive
  * longs is allocated once and cleared before each slice, so the slice
  * cannot trigger a garbage collection, and the engine's leftover garbage
  * does not make it wait for one it would otherwise cause.
  */
object Calibrate {
  /** Slice time at the reference core speed. */
  val ReferenceMs = 9.0

  /** Slices run after every op: a run's speed is the median of many
    * short samples, because any one slice may or may not be hit by the
    * host taking the core away.
    */
  val SlicesPerOp = 4

  private val Slots = 1 << 17
  private val keys = new Array[Long](Slots)
  private val values = new Array[Long](Slots)

  private def once(): Long = {
    java.util.Arrays.fill(keys, 0L)
    java.util.Arrays.fill(values, 0L)
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 1000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      // 2^16 distinct keys in 2^17 slots; 0 marks an empty slot
      val k = (x & 0xffff) + 1
      var s = ((k * 0x9e3779b97f4a7c15L) >>> 47).toInt
      while (keys(s) != 0 && keys(s) != k) s = (s + 1) & (Slots - 1)
      acc += values(s)
      keys(s) = k
      values(s) = x
      i += 1
    }
    acc
  }

  /** Runs enough untimed slices to get the loop JIT-compiled. */
  def warm(): Unit = for (_ <- 0 until 20) once()

  /** One timed slice, in ms. */
  def slice(): Double = {
    val t0 = System.nanoTime()
    once()
    (System.nanoTime() - t0) / 1e6
  }
}
