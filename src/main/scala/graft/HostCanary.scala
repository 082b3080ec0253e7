package graft

/** Same-moment host-interference probe for scaling measurements.
  *
  * A host's vCPUs can share a physical machine with invisible
  * co-tenants: guest load and steal time both read ~0 while aggregate
  * wide-multiply throughput silently caps well below the core count
  * (observed on a 32-vCPU host: 8→32-thread efficiency 0.34–0.92 on an
  * idle guest, varying over minutes). Dependency-chained low-IPC loops
  * scale ~0.95 regardless — the contended resource is multiply/memory
  * throughput, exactly what the MinHash permutation kernel saturates.
  *
  * This probe runs a register-only Mersenne-modmul loop (the signature
  * kernel's instruction mix, no memory traffic) at two thread counts
  * and reports throughput efficiency. Both counts must fit the cores:
  * above the core count the threads time-share and the reading falls
  * however quiet the host is. A soak or scaling measurement
  * taken while the canary reads < ~0.85 is host-degraded, not a build
  * property; BASELINE.md rows cite the same-minute canary value.
  * That threshold was set from 8→32 readings on a 32-vCPU host; the
  * default 1→cores reading also carries single-core turbo and a noisier
  * single-thread leg, so it is not comparable with those values
  * (BASELINE.md, host-interference canary).
  */
object HostCanary {

  private final val M = (1L << 61) - 1

  /** One thread's work: `iters` rounds of the perm-loop instruction
    * mix. Four INDEPENDENT chains are interleaved so the loop issues
    * multiplies at the same port pressure as the real permutation loop
    * (whose muls are independent across shingles); a single dependency
    * chain would leave the mul ports idle and scale even on a
    * contended host, hiding exactly what the probe exists to see.
    */
  private def kernel(seed: Long, iters: Long): Long = {
    var h0 = seed | 1L; var h1 = h0 * 31 + 7; var h2 = h1 * 31 + 7; var h3 = h2 * 31 + 7
    var i = 0L
    while (i < iters) {
      val a0 = Math.multiplyHigh(h0, 0x9e3779b97f4a7c15L); val b0 = h0 * 0x9e3779b97f4a7c15L
      val a1 = Math.multiplyHigh(h1, 0x9e3779b97f4a7c15L); val b1 = h1 * 0x9e3779b97f4a7c15L
      val a2 = Math.multiplyHigh(h2, 0x9e3779b97f4a7c15L); val b2 = h2 * 0x9e3779b97f4a7c15L
      val a3 = Math.multiplyHigh(h3, 0x9e3779b97f4a7c15L); val b3 = h3 * 0x9e3779b97f4a7c15L
      h0 = (b0 & M) + ((a0 << 3) | (b0 >>> 61)) + 1
      h1 = (b1 & M) + ((a1 << 3) | (b1 >>> 61)) + 1
      h2 = (b2 & M) + ((a2 << 3) | (b2 >>> 61)) + 1
      h3 = (b3 & M) + ((a3 << 3) | (b3 >>> 61)) + 1
      i += 1
    }
    h0 ^ h1 ^ h2 ^ h3
  }

  /** Aggregate kernel throughput (iters/s) at `threads` concurrency. */
  def throughput(threads: Int, itersPerThread: Long = 60_000_000L): Double = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val t0 = System.nanoTime()
    val futs = (0 until threads).map { tid =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = kernel(0x2545F4914F6CDD1DL * (tid + 1), itersPerThread)
      })
    }
    var sink = 0L
    futs.foreach(f => sink ^= f.get())
    pool.shutdown()
    val sec = (System.nanoTime() - t0) / 1e9
    if (sink == 42L) println("") // keep the work observable
    threads * itersPerThread / sec
  }

  /** lo→hi-thread scaling efficiency of the probe kernel right now,
    * by default one thread against one per core.
    * ~1.0 = quiet host; well below ~0.85 = external interference. */
  def efficiency(lo: Int = 1, hi: Int = Runtime.getRuntime.availableProcessors): Double = {
    throughput(2, 30_000_000L) // JIT warmup, untimed in effect
    val tLo = throughput(lo, 300_000_000L)
    val tHi = throughput(hi, 300_000_000L)
    tHi / (tLo * (hi.toDouble / lo))
  }

  def main(args: Array[String]): Unit = {
    val hi = Runtime.getRuntime.availableProcessors
    val e = efficiency(1, hi)
    println(f"[canary] host multiply-throughput scaling eff(1->$hi)=$e%.3f")
  }
}
