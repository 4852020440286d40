package perfbench

/** A fixed amount of single-threaded work, independent of the program:
  * fill and sort an array larger than a core's cache, then count its
  * keys in an open-addressing table. It allocates nothing once loaded,
  * so no garbage collection lands in a round. Its wall time tells how
  * fast this host runs right now. A shared host's speed drifts with the
  * load of its neighbours, by up to 1.8× within half an hour, and the
  * program's timings drift with it; dividing them by `factor` takes that
  * out. */
object Calib {

  /** Elements sorted and counted, and how often, per round. */
  val N = 1 << 20
  val Reps = 3

  /** Seconds of one round on the reference host, a 4-core AMD EPYC
    * virtual machine, at its usual speed. Fixed: it only scales. */
  val RefS = 0.18

  private val a = new Array[Long](N)
  private val keys = new Array[Long](1 << 17)
  private val counts = new Array[Int](1 << 17)
  @volatile private var sink = 0L

  private def work(seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < N) {
      h = h * 6364136223846793005L + 1442695040888963407L
      a(i) = h >>> 20
      i += 1
    }
    java.util.Arrays.sort(a)
    java.util.Arrays.fill(keys, -1L)
    java.util.Arrays.fill(counts, 0)
    val mask = keys.length - 1
    i = 0
    while (i < N) {
      val k = (a(i) * 0x9e3779b97f4a7c15L) >>> 48
      var s = java.lang.Long.hashCode(k * 0xc2b2ae3d27d4eb4fL) & mask
      while (keys(s) != -1L && keys(s) != k) s = (s + 1) & mask
      keys(s) = k
      counts(s) += 1
      i += 1
    }
    a(N / 2) + counts(7)
  }

  /** Seconds of one round on the calling thread. */
  def round(): Double = synchronized {
    val t0 = System.nanoTime()
    var r = 1
    while (r <= Reps) { sink += work(r); r += 1 }
    (System.nanoTime() - t0) / 1e9
  }

  /** How much slower than the reference the host ran over some rounds:
    * their median over `RefS`. */
  def factor(rounds: Seq[Double]): Double = Driver.median(rounds) / RefS
}
